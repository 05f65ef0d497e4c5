"""The lake sweeps: the maintenance, dedup and ANN methods of
:class:`~pydala_spark.catalog.Datalake`, mixed in from
:class:`LakeSweepsMixin`.

Each sweep runs one night through
:class:`~pydala_spark.sweeps.SweepNight`, which lists the lake, loads
and validates the prior summary, pools and guards the per-dataset
calls, decides fresh / partial / full for the lake-global sweeps, lands
their verdict tables and seals the summary. What a method here keeps is
its own work:

- its per-dataset function ``(name, base) -> (entry, payload)``;
- for the three lake-global sweeps (:meth:`LakeSweepsMixin.neardup_dedup`,
  :meth:`LakeSweepsMixin.span_dedup_report` and cross-dataset
  :meth:`LakeSweepsMixin.semantic_dedup`), its verdict function: the
  partial night when the prior makes one legal, else the full night;
- steps only it needs, such as the span sweep's ``_df`` / ``_contrib``
  token commit or the near-dup sweep's edge-balloon check, in its
  ``finish`` callable.

The per-dataset sweeps (:meth:`LakeSweepsMixin.decontaminate`,
per-dataset :meth:`LakeSweepsMixin.semantic_dedup` and
:meth:`LakeSweepsMixin.prep_sweep`) reuse a dataset's prior entry when
its verified content marker is unchanged;
:meth:`LakeSweepsMixin.signatures_report` only reports and writes no
summary. :meth:`LakeSweepsMixin.ann_maintain` maintains one index and
does not sweep. The algorithmic cores live in ``operators/``.
"""

from __future__ import annotations

import posixpath

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pydala_spark.dataset.reader import Dataset
from pydala_spark.dataset.timefly import dataset_dir
from pydala_spark.sweeps import (
    LAKE_SEP,
    SkipSweep,
    SweepNight,
    content_marker,
    edge_balloon_warning,
    frame_marker,
    neardup_pairs_night,
    neardup_partial_ctx,
    read_token,
    reuse_if_fresh,
    semantic_cross_partial,
    sidecar_entry,
    sig_path,
    span_partial_night,
    union_all,
    write_token,
)
from pydala_spark.utils.errors import ConfigError
from pydala_spark.utils.pathops import strip_scheme


class LakeSweepsMixin:
    """Sweep methods mixed into :class:`~pydala_spark.catalog.Datalake`
    (which provides ``self.spark``, ``self._po``, ``self.root``,
    ``self.discover``, ``self._dataset_format``)."""

    def _swept_frame(self, name: str, base: str, cols) -> tuple:
        """Resolve + load one dataset for a sweep: its live directory
        (a TimeFly base's ``current/``, where its signature sidecars
        live), requiring data files and every column in ``cols``, and
        return ``(df, data_path)``. Raises
        :class:`~pydala_spark.sweeps.SkipSweep` with the summary reason
        otherwise; any other failure becomes the dataset's error
        entry."""
        data_path = dataset_dir(self._po, base)
        ds = Dataset(
            self.spark, data_path, name=name,
            format=self._dataset_format(base),
        )
        if not ds._dataset_has_files():
            raise SkipSweep("no data files")
        df = ds.load()
        if any(c not in df.columns for c in cols):
            raise SkipSweep(f"no ({', '.join(cols)}) columns")
        return df, data_path


    def _sidecar_frame(
        self, df, data_path: str, kind: str, expect: dict,
        verify: bool, materialize: bool, signatures_path: str | None,
        mat_kwargs: dict,
    ) -> tuple:
        """The sidecar read-or-materialize dance every sidecar-served
        sweep shares: read ``kind`` pinned
        to ``expect`` (marker-verified against the live ``df`` when
        ``verify``); on ANY read failure — absent, param-mismatched,
        stale — pay the hashing once via ``materialize_signatures(...,
        **mat_kwargs)`` and re-read, or re-raise when ``materialize``
        is off. Returns ``(frame, params, materialized)`` where
        ``materialized`` is ``False`` on a clean reuse or the original
        failure's exception-type name (the summary's honesty note)."""
        from pydala_spark.dataset.maintain import (
            materialize_signatures,
            read_signatures,
        )

        def _read():
            return read_signatures(
                self.spark, data_path, kind, expect=expect,
                verify_against=df if verify else None,
                signatures_path=signatures_path,
            )

        try:
            frame, params = _read()
            return frame, params, False
        except Exception as exc:
            if not materialize:
                raise
            materialize_signatures(
                self.spark, df, data_path, kinds=(kind,),
                signatures_path=signatures_path, **mat_kwargs,
            )
            frame, params = _read()
            return frame, params, f"{type(exc).__name__}"

    def decontaminate(
        self,
        benchmarks: dict[str, DataFrame],
        id_col: str = "doc_id",
        text_col: str = "text",
        k: int = 8,
        window: int = 4,
        min_hits: int = 2,
        materialize: bool = True,
        verify: bool = True,
        report_dir: str | None = None,
        mode: str = "winnowing",
        vec_col: str = "embedding",
        threshold: float = 0.9,
        block_bits: int | None = None,
        dim: int | None = None,
        n_probes: int = 1,
        shingle_size: int = 3,
        shingle_mode: str = "word",
        signatures_root: str | None = None,
        incremental: bool = False,
        max_concurrency: int = 4,
    ) -> dict[str, dict]:
        """Lake-wide benchmark-decontamination sweep (round 8) — the
        production cron entry composing rounds 5–7: for every dataset
        exposing ``(id_col, text_col)``, serve the winnowing-fingerprint
        sweep from the dataset's SIGNATURE SIDECAR (materializing it on
        first contact when ``materialize=True``, re-materializing when
        the content marker says the corpus mutated), never re-hashing a
        corpus whose fingerprints are already on disk — across a
        hundred datasets that is the difference between a sweep that
        reads signature tables and one that replays per-character
        hashing over the whole lake. ``verify=True`` (default) checks
        each sidecar's content marker against the live dataset first,
        so a stale sidecar re-materializes (or, with
        ``materialize=False``, reports an error) instead of silently
        finding zero overlaps.

        ``benchmarks`` maps benchmark name → ``(id_col, text_col)``
        frame; each benchmark's fingerprints compute once and broadcast
        against every dataset. Per-dataset hit tables land under
        ``report_dir`` (default ``<root>/_decontamination``) as
        ``<dataset>/`` parquet of ``(benchmark, id, n_hits)`` plus a
        lake-level ``_summary.json``; datasets without the text columns
        (or with no files) are skipped with a reason, and one broken
        dataset records an error instead of killing the sweep (the
        ``maintain`` rule). Returns the summary dict.

        ``mode="embedding"`` (round 8, late) runs the SEMANTIC modality
        instead: benchmarks are EMBEDDING frames (``vec_col``), datasets
        qualify on ``(id_col, vec_col)``, and each dataset is swept with
        :func:`~pydala_spark.operators.similarity.semantic_contamination`
        (cosine ``threshold``; ``block_bits``/``dim``/``n_probes`` for
        the LSH-blocked hash join on large benchmarks) — catches
        paraphrased leakage that shares no shingles. No sidecar serves
        this mode, honestly: the sweep is ONE broadcast left-semi scan
        of the vectors per dataset (never shuffled, no hashing pass to
        amortize), so the report records no sidecar status and hit rows
        carry no ``n_hits``.

        ``signatures_root`` (round 8, late): host each dataset's
        signature sidecars at ``<signatures_root>/<dataset>`` instead
        of next to the data — the READ-ONLY-lake layout (crawl dumps
        you cannot write into); marker verification still ties every
        sidecar to the exact corpus it hashed. Applies to every
        sidecar-served sweep (:meth:`semantic_dedup`,
        :meth:`neardup_dedup` take the same knob).

        ``incremental=True`` (round 8, late; winnowing mode only) is
        the nightly-cron economy: a dataset whose VERIFIED content
        marker equals the marker recorded in the previous sweep's
        ``_summary.json`` — under the same benchmark content markers
        and the same sweep config — skips the overlap join and report
        write entirely and reuses the prior report + counts (entry
        carries ``"fresh"`` saying so). On a 500-dataset lake where 5
        datasets changed overnight, the cron does ~1% of the work; the
        per-dataset marker aggregate (one narrow (id, length) scan)
        still runs, so a corpus mutated out-of-band can NEVER be
        skipped on a stale verdict. Benchmarks changed → full sweep;
        no prior summary → full sweep; ``verify=False`` extends the
        same trust to skipping that it already grants to sweeping.
        :meth:`neardup_dedup` deliberately has no incremental mode —
        its clusters are lake-global, so one changed dataset can
        re-shape every verdict.

        ``max_concurrency`` (round 8, late): sweep N datasets'
        independent Spark jobs from a thread pool. Serially sweeping
        hundreds of SMALL datasets leaves a big cluster mostly idle
        between jobs; concurrent submission keeps it fed (Spark's
        scheduler interleaves jobs; per-dataset faults stay contained
        exactly as in the serial path). Default 4 (round 9 — the
        pooling + fault containment were proven in round 8, and the
        measured 3.3× on 6 datasets is free money on every cron;
        pass 1 for strictly serial sweeps).

        ``mode="ngram"`` completes the pipeline's three-modality story
        lake-wide: exact ``shingle_size``-gram overlap
        (:func:`~pydala_spark.operators.dedup.contamination_hits`,
        ``shingle_mode="char"`` for CJK benchmarks). Also sidecar-less —
        the shingle universe is corpus-sized, so materializing it would
        store more than the corpus; the winnowing modality IS the
        amortizable middle ground and stays the default."""
        from pydala_spark.operators.dedup import (
            contamination_hits,
            winnowing_contamination,
        )
        from pydala_spark.operators.similarity import semantic_contamination
        from pydala_spark.operators.textstats import winnowing_fingerprints

        if mode not in ("winnowing", "embedding", "ngram"):
            raise ConfigError(
                f"decontaminate: unknown mode {mode!r} "
                "(expected 'winnowing', 'embedding' or 'ngram')"
            )
        if incremental and mode != "winnowing":
            raise ConfigError(
                "decontaminate: incremental=True is winnowing-mode only "
                "— the embedding/ngram modes are sidecar-less, so there "
                "is no recorded marker to prove a dataset unchanged"
            )
        pin = {"k": k, "window": window,
               "id_col": id_col, "text_col": text_col}
        expect: dict = {}
        bench_fps = {}
        if mode == "winnowing":
            # benchmarks or sweep config moved -> nothing is provably
            # fresh; both also seed the next night's decision
            expect = {
                "_config": {"mode": mode, "min_hits": min_hits, "k": k,
                            "window": window, "id_col": id_col,
                            "text_col": text_col},
                "_benchmarks": {
                    bname: frame_marker(bdf, id_col,
                                        F.octet_length(text_col))
                    for bname, bdf in benchmarks.items()
                },
            }
            bench_fps = {
                bname: winnowing_fingerprints(
                    bdf, id_col, text_col, k=k, window=window
                )
                for bname, bdf in benchmarks.items()
            }
        night = SweepNight(self, report_dir, "_decontamination")

        def _sweep_one(name: str, base: str) -> tuple:
            need_col = vec_col if mode == "embedding" else text_col
            df, data_path = self._swept_frame(
                name, base, (id_col, need_col))
            entry: dict = {}
            if mode == "embedding":
                # one broadcast left-semi vector scan per benchmark
                # — no hashing pass to amortize, hence no sidecar
                hits = {bname: semantic_contamination(
                    df, bdf, id_col=id_col, vec_col=vec_col,
                    threshold=threshold, block_bits=block_bits,
                    dim=dim, n_probes=n_probes,
                ).select("id") for bname, bdf in benchmarks.items()}
            elif mode == "ngram":
                # exact shingle overlap — sidecar-less by design
                # (the shingle universe outweighs the corpus)
                hits = {bname: contamination_hits(
                    df, bdf, id_col, text_col=text_col,
                    shingle_size=shingle_size, min_hits=min_hits,
                    shingle_mode=shingle_mode,
                ).select("id", "n_hits") for bname, bdf in benchmarks.items()}
            else:
                # absent/param-mismatched/stale sidecar pays the
                # hashing ONCE inside the shared dance; every later
                # sweep reads it
                fps, params, materialized = self._sidecar_frame(
                    df, data_path, "winnowing", pin, verify,
                    materialize, sig_path(signatures_root, name),
                    dict(id_col=id_col, text_col=text_col,
                         winnowing_k=k, winnowing_window=window),
                )
                entry = sidecar_entry(materialized, params)
                if incremental and not materialized:
                    # VERIFIED marker identical to the one recorded at
                    # the last sweep, same benchmarks, same config —
                    # the prior verdict is provably current
                    reused = reuse_if_fresh(
                        night.prior, name, entry.get("marker"),
                        "contaminated")
                    if reused is not None:
                        return reused, None
                hits = {bname: winnowing_contamination(
                    fps, bfp, id_col, min_hits=min_hits,
                    precomputed_fps=True,
                ).select("id", "n_hits") for bname, bfp in bench_fps.items()}
            report_rows = union_all(
                frame.select(F.lit(bname).alias("benchmark"), "*")
                for bname, frame in hits.items())
            target = posixpath.join(night.rep_base, name)
            report_rows.write.mode("overwrite").parquet(target)
            counts = {
                r["benchmark"]: int(r["n"])
                for r in self.spark.read.parquet(target)
                .groupBy("benchmark").agg(F.count("*").alias("n"))
                .collect()
            }
            entry.update({
                "report": target,
                "contaminated": {
                    bname: counts.get(bname, 0) for bname in hits
                },
            })
            return entry, None

        return night.run(_sweep_one, expect=expect,
                         incremental=incremental,
                         max_concurrency=max_concurrency)

    def semantic_dedup(
        self,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        threshold: float = 0.9,
        n_centroids: int = 16,
        codebook_path: str | None = None,
        score_col: str | None = None,
        materialize: bool = True,
        verify: bool = True,
        report_dir: str | None = None,
        seed: int = 42,
        signatures_root: str | None = None,
        incremental: bool = False,
        max_concurrency: int = 4,
        cross_dataset: bool = False,
        partial_max_cell_fraction: float = 1.0,
    ) -> dict[str, dict]:
        """Lake-wide SemDeDup sweep (round 8) — the embedding-modality
        sibling of :meth:`decontaminate`, served by the
        ``embedding_cells`` signature sidecar: for every dataset
        exposing ``(id_col, vec_col)``, assign k-means cells ONCE at
        first contact (the sweep's dominant cost at production codebook
        sizes — an n_centroids × dim matmul per vector) and let every
        later sweep run pure-JVM cell-blocked pair joins over the
        sidecar, re-materializing only when the content marker says the
        vectors mutated.

        The codebook is LAKE-PINNED: loaded from ``codebook_path``
        (default ``<root>/_codebooks/semantic_dedup.json``), trained on
        the first eligible dataset when absent and persisted before any
        assignment — retraining per sweep would shift cell boundaries
        and invalidate every dataset's sidecar (the ``codebook_sha``
        guard would force a lake-wide re-assignment), so one codebook
        serves all sweeps until deliberately rotated. ``score_col``
        (when a dataset carries it) keeps the best-scored member of
        each similar group instead of the smallest id.

        Per-dataset verdict tables land under ``report_dir`` (default
        ``<root>/_semantic_dedup``) as ``(id, cell, kept)`` parquet plus
        a lake-level ``_summary.json``; datasets without the columns are
        skipped with a reason and one broken dataset records an error
        instead of killing the sweep (the ``maintain`` rule). Returns
        the summary dict.

        ``incremental=True`` (round 8, late): datasets whose VERIFIED
        content marker equals the marker the previous ``_summary.json``
        recorded — under the same codebook sha and sweep config — skip
        the pair join and report write and reuse the prior verdict
        (entry carries ``"fresh"``); the semantics and caveats are
        :meth:`decontaminate`'s (verdicts here are per-dataset, so the
        skip is sound — unlike :meth:`neardup_dedup`, whose clusters
        are lake-global). For ``score_col`` datasets a dedicated SCORE
        marker is recorded too (round 9): the content marker covers
        ``(id, vec)`` only, so score values rewritten in place — a
        re-run quality classifier — would otherwise reuse a verdict
        whose keeper choice they just changed. ``max_concurrency`` pools the per-dataset
        jobs (the :meth:`decontaminate` knob) once the lake codebook is
        pinned; until then datasets sweep serially so the SAME dataset
        trains it that the serial path would pick.

        ``cross_dataset=True`` (round 8, late) is the embedding-modality
        sibling of :meth:`neardup_dedup`: the same content embedded in
        two datasets is invisible to per-dataset SemDeDup, so this mode
        unions every dataset's narrow ``(lake_id, vec, score)``
        projection and its ``embedding_cells`` sidecar — sound ONLY
        because every sidecar is assigned under the one lake-pinned
        codebook, so cell ids mean the same thing across datasets —
        and runs ONE cell-blocked
        :func:`~pydala_spark.operators.similarity.semantic_dedup` over
        the union: a doc duplicated across datasets keeps exactly one
        copy lake-wide (best-scored, NULL-scored losing to scored,
        smallest lake-qualified id on ties). Verdicts land as one
        parquet table partitioned by dataset at
        ``<report_dir>/_verdicts``.

        ``cross_dataset=True, incremental=True`` (round 10): verdicts
        are lake-global, but — unlike :meth:`neardup_dedup`'s
        transitive clusters — a SemDeDup verdict is a pure function of
        its CELL's full membership (pairs never cross cells, no caps),
        so the partial unit is the cell. An ALL-FRESH lake reuses the
        prior verdict wholesale; a K-of-N-changed night recomputes
        ONLY touched cells (cells any changed doc lives in now or
        lived in before, from the prior verdict table's pruned
        partitions) and carries prior verdicts of untouched cells in
        unchanged datasets over verbatim — the unchanged corpus never
        shuffles (touched cells are codebook-bounded broadcasts; the
        touched-cell membership broadcasts behind a 2M-id guard).
        ``partial_max_cell_fraction`` (default 1.0 = off) is the
        economy guard: past the fraction of touched cells the sweep
        just runs full. Round 10 defaulted it to 0.5 because the
        cell-partial re-paired WHOLE touched cells (a spanning ingest
        ≈ full work at ~1.5× wall); round 11's doc-level decomposition
        (VERDICT r10 #2) keeps the pair join delta-sized even with
        every cell touched — re-measured 0.61× shuffle bytes / 0.45×
        wall on the identical cliff shape (SCALE.md) — so the guard
        is now opt-in for operators whose codebooks are tiny enough
        that fixed per-job overheads dominate.
        Summaries carry ``"_sweep_mode"``; a config or codebook-sha
        change discards the prior and runs full."""
        from pydala_spark.operators.ann import (
            codebook_sha,
            kmeans_centroids,
            load_codebook,
            save_codebook,
        )
        from pydala_spark.operators.similarity import semantic_dedup

        cb_path = (
            strip_scheme(codebook_path) if codebook_path
            else posixpath.join(self.root, "_codebooks", "semantic_dedup.json")
        )
        cb = None
        if self._po.exists(cb_path):
            cb = load_codebook(self.spark, cb_path)

        def _codebook() -> dict:
            # a lake with zero vectors never trains a codebook: sha None
            return {"path": cb_path,
                    "sha": codebook_sha(cb) if cb is not None else None}

        config = {"threshold": threshold, "score_col": score_col,
                  "id_col": id_col, "vec_col": vec_col}
        if cross_dataset:
            # cross summaries are NOT a valid incremental seed for the
            # per-dataset mode (different verdict semantics)
            config["cross_dataset"] = True
        # a config or codebook move discards the prior — full sweep
        expect = {"_config": config, "_codebook": _codebook()}
        night = SweepNight(self, report_dir, "_semantic_dedup")

        def _cells(name: str, base: str) -> tuple:
            nonlocal cb
            df, data_path = self._swept_frame(
                name, base, (id_col, vec_col))
            if cb is None:
                # the FIRST eligible dataset trains the lake codebook,
                # persisted BEFORE any assignment so a crash between
                # training and sidecar writes can't strand cells under
                # an unrecorded codebook
                cb = kmeans_centroids(
                    df, vec_col=vec_col, n_centroids=n_centroids,
                    seed=seed)
                save_codebook(self.spark, cb, cb_path)
            cells, params, materialized = self._sidecar_frame(
                df, data_path, "embedding_cells",
                {"codebook_sha": codebook_sha(cb),
                 "id_col": id_col, "vec_col": vec_col},
                verify, materialize, sig_path(signatures_root, name),
                dict(id_col=id_col, vec_col=vec_col, centroids=cb),
            )
            scored = bool(score_col) and score_col in df.columns
            # the (id, vec) marker is blind to the score column, and
            # scores pick the keeper (a re-run quality classifier
            # rewrites them in place): ONE narrow (id, score) aggregate,
            # paid only when incremental is on
            entry = sidecar_entry(
                materialized, params, scored=scored,
                score_marker=frame_marker(
                    df, id_col, F.col(score_col).cast("double"))
                if incremental and scored else None)
            return df, cells, params, entry

        if cross_dataset:
            target = posixpath.join(night.rep_base, "_verdicts")

            def _prep_cross(name: str, base: str) -> tuple:
                df, cells, _params, entry = _cells(name, base)
                doc = F.col(id_col).cast("string")
                vecs = df.select(
                    F.lit(name).alias("__ds"),
                    doc.alias("__doc"),
                    F.concat_ws(LAKE_SEP, F.lit(name), doc).alias("__lid"),
                    F.col(vec_col).alias("__vec"),
                    (F.col(score_col).cast("double") if entry["scored"]
                     else F.lit(None).cast("double")).alias("__score"),
                )
                cl = cells.select(
                    F.concat_ws(
                        LAKE_SEP, F.lit(name), F.col("id").cast("string")
                    ).alias("id"),
                    "cell", "norm",
                )
                return entry, (vecs, cl)

            def _verdicts() -> tuple:
                # cross-mode incremental is sound BECAUSE a SemDeDup
                # verdict is a pure function of its CELL's full
                # membership (pairs never cross cells, no caps, no
                # transitive clustering): the partial unit is the cell
                union_v, union_c = night.union
                meta = union_v.select(
                    F.col("__lid").alias("id"), "__ds", "__doc")
                gate = night.gate
                if gate is not None:
                    # an UNCHANGED dataset with a short partition
                    # demotes to changed (its docs recompute through
                    # the full leg); a short CHANGED/REMOVED dataset
                    # kills the partial night entirely — its prior rows
                    # seed touched_before, and a lost row could hide a
                    # vacated cell whose dropped survivors must revive
                    unchanged = gate.unchanged
                    if not (gate.prior_counted - unchanged <= gate.intact):
                        unchanged = set()
                    else:
                        unchanged &= gate.intact
                    if unchanged and self._po.is_dir(target):
                        merged = semantic_cross_partial(
                            self.spark,
                            union_v=union_v, union_c=union_c, meta=meta,
                            target=target,
                            tagged_names=night.tagged,
                            partial_unchanged=sorted(unchanged),
                            prior_counted=gate.prior_counted,
                            partial_max_cell_fraction=(
                                partial_max_cell_fraction),
                            codebook_rows=int(cb.shape[0]),
                            threshold=threshold,
                        )
                        if merged is not None:
                            return merged, "partial"
                return semantic_dedup(
                    union_v, id_col="__lid", vec_col="__vec",
                    threshold=threshold, score_col="__score",
                    cells=union_c,
                ).join(meta, "id").select(
                    F.col("__ds").alias("dataset"),
                    F.col("__doc").alias("id"),
                    "cell", "kept",
                ), "full"

            # the codebook pins serially first (the determinism rule)
            return night.run_global(
                _prep_cross, _verdicts,
                counts={"n_vectors": F.count("*"),
                        "n_dropped": F.count_if(~F.col("kept"))},
                target=target,
                fresh_msg="lake unchanged since last sweep — verdict reused",
                expect=expect, incremental=incremental,
                max_concurrency=max_concurrency,
                serial_while=lambda: cb is None,
                finish=lambda: {"_codebook": _codebook()},
            )

        def _sweep_one(name: str, base: str) -> tuple:
            df, cells, params, entry = _cells(name, base)
            scored = entry["scored"]
            if incremental and entry["sidecar"] == "reused":
                # verified marker unchanged since the recorded sweep
                # under the same codebook + config — verdict current.
                # A score column ADDED/removed since the last sweep
                # changes the verdict without moving the marker, so
                # scoring applicability must match — and so must the
                # score values themselves.
                reused = reuse_if_fresh(
                    night.prior, name, entry.get("marker"), "n_dropped",
                    (("scored", scored),)
                    + ((("score_marker", entry.get("score_marker")),)
                       if scored else ()),
                )
                if reused is not None:
                    return reused, None
            # record whether scoring actually applied — a dataset
            # missing the score column silently falling back to
            # smallest-id would otherwise be indistinguishable from
            # a scored sweep in the report
            verdict = semantic_dedup(
                df, id_col=id_col, vec_col=vec_col,
                threshold=threshold,
                score_col=score_col if scored else None,
                cells=cells, params=params,
            )
            target = posixpath.join(night.rep_base, name)
            verdict.write.mode("overwrite").parquet(target)
            counts = self.spark.read.parquet(target).agg(
                F.count("*").alias("n"),
                F.count_if(~F.col("kept")).alias("n_dropped"),
            ).collect()[0]
            entry.update(report=target, n_vectors=int(counts["n"]),
                         n_dropped=int(counts["n_dropped"]))
            return entry, None

        # the lake codebook must be PINNED before pooling — and by the
        # same dataset the serial path would pick (determinism) — so
        # sweep serially until it exists, then pool the rest
        return night.run(_sweep_one, expect=expect,
                         incremental=incremental,
                         max_concurrency=max_concurrency,
                         serial_while=lambda: cb is None,
                         finish=lambda: {"_codebook": _codebook()})

    def span_dedup_report(
        self,
        id_col: str = "doc_id",
        text_col: str = "text",
        span_k: int = 20,
        span_window: int = 8,
        min_span: int = 50,
        min_df: int = 2,
        materialize: bool = True,
        verify: bool = True,
        report_dir: str | None = None,
        signatures_root: str | None = None,
        incremental: bool = False,
        max_concurrency: int = 4,
    ) -> dict[str, dict]:
        """Lake-wide CROSS-DATASET duplicated-span detection (round 8,
        late) — the sub-document member of the cross-dataset family
        (:meth:`neardup_dedup` text-doc, :meth:`semantic_dedup
        (cross_dataset=True)` embedding): boilerplate that appears ONCE
        per dump — shared headers, footers, license blocks, injected
        banners across 50 crawl snapshots — has per-dataset document
        frequency 1 and is invisible to any per-dataset ``min_df``
        count; lake-wide it has df = 50 and lights up immediately.

        Served from each dataset's ``spans`` signature sidecar
        (positions, not spans — which is exactly what makes the
        document-frequency threshold re-decidable per sweep): the
        sidecars union under lake-qualified ids and ONE
        :func:`~pydala_spark.operators.dedup.duplicate_spans` pass
        counts fingerprint df across the whole lake (one fp-keyed
        shuffle, one id-keyed run grouping — the same shape as the
        per-dataset path, just a bigger union; the honest cost is the
        sidecar's one-row-per-char-window size, identical either way).
        ``k``/``window`` derive from the sidecars' recorded params;
        ``min_span``/``min_df`` stay free per sweep.

        DETECTION ONLY — spans land as one parquet table partitioned by
        dataset at ``<report_dir>/_spans`` (``id, span_start,
        span_end``, 1-based inclusive), plus a ``_summary.json`` with
        per-dataset ``n_spans`` / ``n_docs`` / ``chars_flagged``. The
        surgery stays per dataset and explicit: feed a partition to
        :func:`~pydala_spark.operators.dedup.remove_duplicate_spans`
        ``(spans=...)`` (which then invalidates that dataset's sidecars
        — rewriting inside this sweep would mutate the very corpora the
        other datasets' verdicts were counted against). Runs as a
        ``[span_dedup_report]`` cron section. Datasets without the
        columns are skipped with a reason; one broken dataset sits out
        the union; ``max_concurrency`` pools the sidecar phase.

        ``incremental=True`` (round 9): span df counts are lake-global
        (one dataset's change can re-decide every span's df), so like
        :meth:`neardup_dedup` the only sound economy is the ALL-FRESH
        fast path — same config, same dataset set, every verified
        marker matching the prior ``_summary.json`` ⇒ the union/df/run
        jobs skip and the prior report is reused wholesale; ANY change
        falls back to the full sweep.

        **Partial night** (round 10 — completing the trilogy with
        :meth:`neardup_dedup` and cross-dataset :meth:`semantic_dedup`):
        span df is ADDITIVE per fingerprint over the dataset-disjoint
        lake-qualified ids, so each incremental sweep persists the
        per-dataset contribution tables (``_contrib/dataset=*``: fp →
        distinct-doc count) and the lake df table (``_df``). A
        K-of-N-changed night computes Δ = (changed datasets' new
        contributions) − (their and removed datasets' recorded ones),
        broadcast-adjusts the STREAMED prior df (no lake-wide fp
        shuffle — the adjusted table rewrites sequentially), and only
        fps in Δ can flip the ``min_df`` flag; re-grouped docs = all
        changed-dataset docs ∪ unchanged-dataset docs containing a
        FLIPPED fp (broadcast semi over the map-side sidecar scans —
        the case where a changed dump's new copy moves an unchanged
        doc's verdict), with prior spans carried verbatim for every
        other doc. Both broadcasts sit behind 2M guards; the three
        artifacts commit under one token (``_artifacts`` in the
        summary ⟺ ``_token.json`` beside ``_df``/``_contrib``), so any
        crash window reads as a mismatch and degrades to a full
        rebuild, never a double-adjusted df. Equivalence to a
        from-scratch full sweep — including flip propagation in both
        directions and dataset removal — is test-pinned on exact span
        rows. The trade vs the full sweep: a sequential lake-sized
        ``_df`` rewrite replaces the fp-keyed shuffle of every
        position row, and run-grouping pays only for re-evaluated
        docs."""
        import uuid as _uuid

        from pydala_spark.operators.dedup import duplicate_spans, span_runs

        pin = {"k": span_k, "window": span_window,
               "id_col": id_col, "text_col": text_col}
        config = {"span_k": span_k, "span_window": span_window,
                  "min_span": min_span, "min_df": min_df,
                  "id_col": id_col, "text_col": text_col}
        night = SweepNight(self, report_dir, "_span_dedup")
        df_path = posixpath.join(night.rep_base, "_df")
        contrib_path = posixpath.join(night.rep_base, "_contrib")
        target = posixpath.join(night.rep_base, "_spans")
        #: the token tonight's _df/_contrib commit under, and the staged
        #: _df rewrite of a partial night (set by _verdicts)
        token = swap_stage = None

        def _prep_one(name: str, base: str) -> tuple:
            df, data_path = self._swept_frame(
                name, base, (id_col, text_col))
            # the engine's most expensive hashing pass is paid once
            # inside the shared dance; every later sweep reads
            # positions (the pin makes their k/window this sweep's)
            fps, params, materialized = self._sidecar_frame(
                df, data_path, "spans", pin, verify, materialize,
                sig_path(signatures_root, name),
                dict(id_col=id_col, text_col=text_col,
                     span_k=span_k, span_window=span_window),
            )
            tagged = fps.select(
                F.concat_ws(
                    LAKE_SEP, F.lit(name), F.col("id").cast("string")
                ).alias("id"),
                "fp", "pos", "len",
            )
            return sidecar_entry(materialized, params), (tagged,)

        def _ds_of(c):
            # names cannot contain the separator, so the FIRST field
            # is always the dataset
            return F.split_part(c, F.lit(LAKE_SEP), F.lit(1))

        def _verdicts() -> tuple:
            nonlocal token, swap_stage
            (union,) = night.union
            pos = union.select(
                "id", F.col("len").alias("__len"), "fp", "pos")
            gate, prior = night.gate, night.prior
            spans, mode = None, "full"
            if gate is not None:
                # PARTIAL-night preconditions: some datasets provably
                # unchanged, and the df/contrib artifacts present AND
                # token-matched with the summary — a crash between
                # artifact writes must degrade to a full rebuild, never
                # to a double-adjusted df
                prior_had_spans = (prior.get("_lake") or {}).get(
                    "n_spans", 0) > 0
                unchanged = gate.unchanged
                if prior_had_spans:
                    # unchanged datasets' SPANS carry verbatim for
                    # non-re-evaluated docs — demote any dataset whose
                    # partition lost rows; changed datasets' prior
                    # spans are never consumed (the df adjusts from
                    # _contrib)
                    unchanged &= gate.intact

                def _bytes_ok() -> bool:
                    # the token proves the commit completed, not that
                    # every part-file survived since — a lost file
                    # would yield a silently wrong Δ. The _state byte
                    # totals give a zero-job listing check; called LAST
                    # so the common no-partial night never lists
                    st = prior.get("_state") or {}
                    return all(
                        key not in st
                        or int(st[key]) == sum(
                            sz for _, sz in self._po.list_files(path))
                        for key, path in (("df_bytes", df_path),
                                          ("contrib_bytes", contrib_path)))

                tok = prior.get("_artifacts")
                if (unchanged
                        and tok is not None
                        and read_token(self._po, df_path) == tok
                        and read_token(self._po, contrib_path) == tok
                        and (not prior_had_spans
                             or self._po.is_dir(target))
                        and _bytes_ok()):
                    # spans=None means a guard refused: full sweep below
                    spans, mode, token, swap_stage = span_partial_night(
                        self.spark, self._po,
                        pos=pos,
                        tagged_names=night.tagged,
                        partial_unchanged=sorted(unchanged),
                        prior_counted=gate.prior_counted,
                        prior_token=tok,
                        df_path=df_path, contrib_path=contrib_path,
                        target=target, min_df=min_df,
                        kk=span_k, ww=span_window, min_span=min_span,
                    )
            if spans is None and incremental:
                # persist the artifacts the next partial night adjusts:
                # per-dataset contributions + the lake df table (df = Σ
                # contributions — exact, because lake-qualified ids are
                # dataset-disjoint). Derived from written parquet, so
                # nothing computes twice.
                token = _uuid.uuid4().hex
                (pos.select(_ds_of(F.col("id")).alias("dataset"),
                            "fp", "id")
                 .groupBy("dataset", "fp")
                 .agg(F.count_distinct("id").alias("n"))
                 .write.mode("overwrite").partitionBy("dataset")
                 .parquet(contrib_path))
                (self.spark.read.parquet(contrib_path)
                 .groupBy("fp").agg(F.sum("n").alias("df"))
                 .write.mode("overwrite").parquet(df_path))
                dup = (self.spark.read.parquet(df_path)
                       .where(F.col("df") >= min_df).select("fp"))
                spans = span_runs(
                    pos.join(dup, "fp"), span_k, span_window, min_span,
                ).localCheckpoint(eager=True)
            elif spans is None:
                # spans output is tiny (flagged ranges only) — the
                # eager cut means the heavy df-count pipeline runs
                # ONCE for the emptiness probe, write and stats
                spans = duplicate_spans(
                    union, "id", k=span_k, window=span_window,
                    min_span=min_span, min_df=min_df,
                    fingerprints=union,
                ).localCheckpoint(eager=True)
            if spans.isEmpty():
                return None, mode  # the night removes the prior table
            # the doc id is everything after the dataset (substring,
            # not split_part — a doc id may contain any char)
            ds_col = _ds_of(F.col("id"))
            doc = F.col("id").substr(
                F.length(ds_col) + F.lit(2), F.length(F.col("id")))
            return spans.select(
                ds_col.alias("dataset"), doc.alias("id"),
                "span_start", "span_end",
            ), mode

        def _finish() -> dict:
            if night.mode == "fresh":
                extra = {"_artifacts": night.prior.get("_artifacts")}
                if night.prior.get("_state") is not None:
                    extra["_state"] = night.prior["_state"]
                return extra
            # datasets that swept but flagged no spans (the clean-lake
            # case too) still get the zero counts a cron expects
            for name in night.tagged:
                if "n_spans" not in night.results[name]:
                    night.results[name].update(
                        n_spans=0, n_docs=0, chars_flagged=0)
            if token is None:
                return {}
            # commit the df/contrib artifacts AFTER the spans table:
            # the summary (sealed last) carries the token that blesses
            # them; any crash in between reads as a mismatch and the
            # next night rebuilds full
            if swap_stage is not None:
                self._po.commit_stage(df_path, swap_stage)
            write_token(self._po, df_path, token)
            write_token(self._po, contrib_path, token)
            # the persisted partial-state footprint, so a cron reader
            # sees growth without listing the report dir. These are
            # pure caches — delete them (or the token) and the next
            # night regenerates from a full sweep.
            return {"_artifacts": token, "_state": {
                "df_bytes": sum(
                    sz for _, sz in self._po.list_files(df_path)),
                "contrib_bytes": sum(
                    sz for _, sz in self._po.list_files(contrib_path)),
            }}

        return night.run_global(
            _prep_one, _verdicts,
            counts={"n_spans": F.count("*"),
                    "n_docs": F.count_distinct("id"),
                    "chars_flagged": F.sum(
                        F.col("span_end") - F.col("span_start")
                        + F.lit(1))},
            target=target,
            fresh_msg="lake unchanged since last sweep — report reused",
            expect={"_config": config}, incremental=incremental,
            max_concurrency=max_concurrency, finish=_finish,
        )

    def signatures_report(
        self,
        verify: bool = False,
        signatures_root: str | None = None,
    ) -> dict[str, dict]:
        """Sidecar-freshness dashboard — the observability face of the
        sweep economy: per dataset, which signature kinds exist, the
        params + content marker each recorded, and (``verify=True``)
        whether the marker still matches the live data — i.e. which
        datasets the next sweep will serve from sidecars and which
        will pay re-hashing. ``verify=False`` (default) is pure
        metadata (one tiny JSON read per sidecar, no Spark jobs);
        ``verify=True`` adds one narrow marker aggregate per dataset
        that has any sidecar. ``signatures_root`` reads the
        out-of-place layout. Sweeps stay the enforcement point — this
        only reports."""
        import json as _json

        from pydala_spark.dataset.maintain import (
            SIGNATURES_DIR,
            read_signatures,
        )

        kinds = ("winnowing", "minhash", "spans", "embedding_cells")

        def _report_one(name: str, base: str) -> tuple:
            data_path = dataset_dir(self._po, base)
            sp = sig_path(signatures_root, name)
            sig_base = posixpath.join(sp or data_path, SIGNATURES_DIR)
            entry: dict = {"sidecars": {}}
            df = None
            for kind in kinds:
                pj = posixpath.join(sig_base, kind, "_params.json")
                if not self._po.exists(pj):
                    continue
                params = _json.loads(self._po.read_text(pj))
                info: dict = {
                    "params": {k: v for k, v in params.items()
                               if not k.startswith("content_")},
                    # None: predates markers, re-materialize
                    "marker": content_marker(params),
                }
                if verify:
                    if df is None:
                        df = Dataset(
                            self.spark, data_path, name=name,
                            format=self._dataset_format(base)).load()
                    try:
                        read_signatures(
                            self.spark, data_path, kind,
                            verify_against=df, signatures_path=sp,
                        )
                        info["fresh"] = True
                    except Exception as exc:
                        info["fresh"] = False
                        info["stale_reason"] = str(exc)[:300]
                entry["sidecars"][kind] = info
            return entry, None

        return SweepNight(self).run(_report_one)

    def prep_sweep(
        self,
        dest_root: str,
        id_col: str = "doc_id",
        text_col: str = "text",
        benchmark: DataFrame | None = None,
        dest_format: str = "parquet",
        mode: str = "overwrite",
        report_dir: str | None = None,
        incremental: bool = False,
        signatures: tuple = (),
        materialize: bool = True,
        verify: bool = True,
        signatures_root: str | None = None,
        stage_counts: bool = False,
        sign_outputs: tuple = (),
        codebook_path: str | None = None,
        max_concurrency: int = 4,
        overrides: dict[str, dict] | None = None,
        **prep_kwargs,
    ) -> dict[str, dict]:
        """Lake-wide corpus-prep sweep (round 9) — run ONE cleaning
        config (:func:`~pydala_spark.operators.pipeline.prep_documents`:
        blocklist → lang filter → span/exact/near/semantic dedup →
        decontamination → quality/classifier gates → packing) over
        every text dataset in the lake and write each cleaned corpus to
        ``<dest_root>/<dataset>``. The last production workflow that
        wasn't lake-orchestrated: maintain compacts, the sweeps audit,
        this one actually produces the training-ready copies, nightly,
        from one ``[prep_sweep]`` cron section.

        ``prep_kwargs`` are prep_documents knobs, validated against its
        signature UP FRONT (a typo'd knob fails the sweep before any
        dataset pays a job, not as 500 identical per-dataset errors);
        the raw sidecar-FRAME parameters are excluded — instead,
        ``signatures=("minhash",)`` / ``("winnowing",)`` / ``("spans",)``
        names the sidecar KINDS to serve per dataset (each dataset's own
        ``_signatures`` table feeds the matching stage via
        ``precomputed_minhash`` / ``precomputed_fps`` /
        ``precomputed_spans`` — the spans tuple carries its recorded
        params so the sidecar's k/window drive the span math), so the
        near-dup shingle hashing / decontamination fingerprinting /
        per-char span fingerprints that the nightly clean would
        otherwise replay over every corpus are paid once at ingest and
        SHARED with :meth:`neardup_dedup` / :meth:`decontaminate` /
        :meth:`span_dedup_report`, which read the same sidecars. The
        recorded hashing params are pinned against this sweep's prep
        knobs (``expect=``), markers verify by default (``verify``),
        stale/absent sidecars re-materialize when ``materialize=True``
        (the sweep contract), and ``signatures_root`` hosts them
        out-of-place for read-only lakes. prep_documents' own loud-fail
        rules still apply — e.g. a config that also rewrites text
        (``strip_markup``) refuses the sidecars rather than consuming
        hashes of text it was about to change. ``benchmark``
        decontaminates every dataset against the same eval set. Datasets without
        ``(id_col, text_col)`` are skipped with a reason, one broken
        dataset records an error instead of killing the sweep, and
        ``max_concurrency`` pools the independent per-dataset jobs (the
        :meth:`decontaminate` knob). Per-dataset entries record
        ``n_in`` / ``n_out`` / ``dest``; a ``_summary.json`` (with the
        echoed config) lands under ``report_dir`` (default
        ``<root>/_prep``). Outputs land OUTSIDE the lake root by
        convention — pointing ``dest_root`` inside it would register
        cleaned copies as new sweep inputs on the next discovery.

        ``codebook_path`` makes lake-wide SemDeDup cleaning practical:
        real-dimensional centroids don't belong in a TOML literal, so
        the semantic stage's codebook loads from the path the
        :meth:`semantic_dedup` sweep pins (default location
        ``<root>/_codebooks/semantic_dedup.json``, or any
        ``save_codebook`` output) and rides into every dataset's
        ``semantic_centroids``; add ``"embedding_cells"`` to
        ``signatures=`` (valid only WITH ``codebook_path``) and each
        dataset's cells sidecar — sha-pinned to that codebook — feeds
        the stage with zero assignment matmul, materialized on first
        contact under the same codebook.

        ``sign_outputs=("minhash", ...)`` materializes signature
        sidecars ON the cleaned copies right after each write — the
        cleaned corpus is a NEW lake, and signing it at creation is its
        ingest moment: every later sweep/pipeline over the training
        copies starts sidecar-served instead of paying first-contact
        hashing. Kinds and hashing params are the same family as
        ``signatures=`` (minhash/winnowing/spans, pinned to this
        sweep's prep knobs), hashed over the POST-clean text — exactly
        what a consumer of the cleaned data must match.

        ``stage_counts=True`` adds per-stage survivor counts to each
        entry (``{"stages": {"input": n, "exact_dedup": n, ...}}``) —
        the lake-wide "where did my corpus go" diagnostic when a config
        change suddenly halves a dataset's output. Same economy as the
        CLI's ``--report``: each stage frame persists just before its
        count and releases once the next stage has built on it, so
        every stage computes exactly once and the final write reuses
        the last cached subtree. Costs one count action per enabled
        stage per dataset — a tuning-run knob, not the nightly default.

        ``overrides={dataset: {knob: value}}`` (round 10, VERDICT r9
        #2) keeps heterogeneous lakes inside the one-cron/one-summary
        economy: ONE base cleaning config, with per-dataset knob
        deltas merged over it — a code corpus wants char shingles and
        no language filter while the web corpora keep the defaults,
        without N separate sweep invocations and N report dirs. Cron
        form: ``[prep_sweep.overrides.<dataset>]`` tables. Override
        knobs validate against the same prep_documents signature up
        front; a name that matches no lake dataset fails loud (it's a
        typo'd cron entry, not a harmless extra). Everything derived
        from the cleaning knobs — the sidecar ``expect=`` pins, the
        embedding-qualification skip, the hashing params behind
        ``sign_outputs`` — derives from each dataset's EFFECTIVE
        config. Each overridden dataset's entry echoes its canonical
        override delta (``"config"``), and the incremental freshness
        compare includes it, so a changed override invalidates exactly
        that dataset while the base-config compare still invalidates
        the whole sweep.

        ``incremental=True``: re-cleaning an unchanged corpus is the
        dominant nightly waste (the full pipeline re-runs per dataset),
        so each entry records the corpus content marker (rows + xor of
        ``xxhash64(id, octet_length(text))`` — ONE narrow aggregate)
        and a dataset whose marker matches the previous summary — under
        the same config and the same benchmark marker — keeps its
        previously-written cleaned copy and skips the pipeline (entry
        carries ``"fresh"``). Per-dataset skip is sound here for the
        :meth:`decontaminate` reason: every verdict is local to its
        dataset. Caveat shared with the sidecar markers: the marker
        sees (id, text length), so same-length in-place edits — and
        changes to NON-text columns a custom config might read — are
        invisible; run a periodic full sweep if those apply."""
        import json as _json

        from pydala_spark.dataset.maintain import materialize_signatures
        from pydala_spark.operators.ann import codebook_sha, load_codebook
        from pydala_spark.operators.pipeline import (
            PREP_KNOBS,
            SIDECAR_PARAMS,
            count_stages,
            effective_knobs,
            prep_documents,
            sidecar_kwargs,
        )

        # id_col / text_col are this sweep's own parameters
        allowed = PREP_KNOBS - {"id_col", "text_col"}
        bad = sorted(set(prep_kwargs) - allowed)
        if bad:
            raise ConfigError(
                f"prep_sweep: unknown prep_documents knob(s) {bad} — "
                f"valid: {sorted(allowed)}"
            )
        night = SweepNight(self, report_dir, "_prep")
        overrides = {k: dict(v) for k, v in (overrides or {}).items()}
        if overrides:
            # override hygiene fails the whole sweep up front, same as
            # a typo'd base knob: a dataset name that matches nothing
            # is a typo'd cron table, and an unknown knob inside an
            # override would otherwise surface as a per-dataset error
            # every night
            known = {name for name, _ in night.items}
            bad_ds = sorted(set(overrides) - known)
            if bad_ds:
                raise ConfigError(
                    f"prep_sweep: overrides for unknown dataset(s) "
                    f"{bad_ds} — lake has: {sorted(known)}"
                )
            for ds_name, ov in overrides.items():
                bad_k = sorted(set(ov) - allowed)
                if bad_k:
                    raise ConfigError(
                        f"prep_sweep: unknown override knob(s) {bad_k} "
                        f"for dataset {ds_name!r} — valid: "
                        f"{sorted(allowed)}"
                    )
        cb = None
        if codebook_path is not None:
            cb = load_codebook(self.spark, strip_scheme(codebook_path))
            prep_kwargs.setdefault("semantic_centroids", cb)
        text_kinds = {"minhash", "winnowing", "spans"}
        read_kinds = text_kinds | (
            {"embedding_cells"} if cb is not None else set())
        bad_read = sorted(set(signatures) - read_kinds)
        if bad_read:
            raise ConfigError(
                f"prep_sweep: unknown signatures kind(s) {bad_read} — "
                f"valid: {sorted(read_kinds)}"
                + ("" if cb is not None else
                   " (embedding_cells requires codebook_path= — cells "
                   "must be sha-pinned to a codebook)")
            )
        bad_sign = sorted(set(sign_outputs) - text_kinds)
        if bad_sign:
            raise ConfigError(
                f"prep_sweep: unknown sign_outputs kind(s) {bad_sign} "
                f"— valid: {sorted(text_kinds)} (cells for the cleaned "
                "lake belong to a semantic_dedup sweep over it)"
            )
        if "embedding_cells" in signatures and not (
                prep_kwargs.get("vec_col")
                or any(ov.get("vec_col") for ov in overrides.values())):
            raise ConfigError(
                "prep_sweep: signatures=('embedding_cells',) requires "
                "the vec_col prep knob (base config or a per-dataset "
                "override) — the cells block the embedding column the "
                "semantic stage reads"
            )

        def _derived(pkw: dict) -> tuple:
            # the sidecars' recorded params must be the EFFECTIVE values
            # of each dataset's prep knobs; per pkw because overrides
            # can move the hashing knobs per dataset
            eff = effective_knobs(pkw)
            sig_expect = {
                kind: {"id_col": id_col,
                       **({} if kind == "embedding_cells"
                          else {"text_col": text_col}),
                       **{rec: eff[knob] for rec, knob in pins.items()}}
                for kind, pins in SIDECAR_PARAMS.items()
            }
            # the cells pin follows the EFFECTIVE codebook: an override
            # that swaps semantic_centroids for one dataset must expect
            # (and materialize) cells under THAT codebook's sha, or the
            # sha refusal would error that dataset every night
            eff_cb = pkw.get("semantic_centroids")
            if eff_cb is None:
                eff_cb = cb
            sig_expect["embedding_cells"]["codebook_sha"] = (
                codebook_sha(eff_cb) if eff_cb is not None else None)
            # an embedding-reading config (semantic stage, embedding
            # decontamination) makes vec_col part of the dataset
            # QUALIFICATION: a text-only dataset must SKIP with a
            # reason, not error every night and defeat the cron's exit
            # code + incremental economy
            vec_needed = eff["vec_col"] if (
                eff["semantic_dedup"]
                or eff["decontaminate_mode"] == "embedding"
            ) else None
            # the one hashing-kwargs bundle every materialize call in
            # this sweep passes (the minhash pins are materialize's
            # own kwarg names)
            hash_kw = dict(
                sig_expect["minhash"],
                **{k: eff[k] for k in ("winnowing_k", "winnowing_window",
                                       "span_k", "span_window")},
            )
            return sig_expect, vec_needed, hash_kw

        def _canon(d: dict) -> dict:
            # canonical, JSON-stable echo of a config: numpy codebooks
            # stringify SUMMARIZED ("...") at real sizes, so two
            # different codebooks could echo identically and wrongly
            # satisfy the incremental config match — record the sha,
            # the identity that matters (a codebook_path load and a
            # directly-passed array alike)
            out = dict(sorted(d.items()))
            if out.get("semantic_centroids") is not None:
                out["semantic_centroids"] = (
                    f"codebook:{codebook_sha(out['semantic_centroids'])}")
            return _json.loads(_json.dumps(out, default=str))

        dest_base = strip_scheme(dest_root).rstrip("/")
        # cleaning config or benchmark moved — yesterday's copies
        # answered a different question
        expect = {
            "_config": _canon({
                "dest_root": dest_base, "id_col": id_col,
                "text_col": text_col, "dest_format": dest_format,
                "mode": mode, "benchmark": benchmark is not None,
                **prep_kwargs,
            }),
            "_benchmark": (
                frame_marker(benchmark, id_col, F.octet_length(text_col))
                if (incremental and benchmark is not None) else None),
        }

        def _prep_one(name: str, base: str) -> tuple:
            ov = overrides.get(name) or {}
            pkw = {**prep_kwargs, **ov}
            canon_over = _canon(ov)
            sig_expect, vec_needed, hash_kw = _derived(pkw)
            df, data_path = self._swept_frame(
                name, base, (id_col, text_col))
            if vec_needed and vec_needed not in df.columns:
                raise SkipSweep(
                    f"no ({vec_needed}) column — config reads embeddings")
            marker = None
            if incremental:
                marker = frame_marker(
                    df, id_col, F.octet_length(text_col))
                pe = (night.prior or {}).get(name)
                if (isinstance(pe, dict)
                        and pe.get("marker") == marker
                        and "n_out" in pe
                        # a changed per-dataset override must
                        # invalidate exactly this dataset (the base
                        # config compares sweep-wide)
                        and (pe.get("config") or {}) == canon_over
                        # the cleaned copy must still EXIST: an
                        # out-of-band deletion of the training copies
                        # would otherwise be reported "fresh" with a
                        # dest pointing at nothing
                        and self._po.is_dir(pe.get("dest", ""))):
                    # corpus unchanged since the recorded sweep, same
                    # config + benchmark — yesterday's cleaned copy IS
                    # today's answer. If this run asks for output
                    # signatures the prior didn't record, sign the KEPT
                    # copy (no re-clean needed).
                    entry = {**pe, "fresh": "unchanged since last "
                             "sweep — cleaned copy kept"}
                    want = sorted(sign_outputs)
                    if want and pe.get("signed") != want:
                        materialize_signatures(
                            self.spark,
                            self.spark.read.format(dest_format)
                            .load(pe["dest"]),
                            pe["dest"],
                            kinds=tuple(sign_outputs), **hash_kw,
                        )
                        entry["signed"] = want
                    return entry, None
            sidecar_status: dict = {}
            extra: dict = {}
            for kind in signatures:
                # cells-skip gate: skip only when the EFFECTIVE config
                # actually removed the embedding column (a text-only
                # override), not merely because no stage tonight
                # consumes it — base configs with vec_col set but
                # semantic_dedup off legitimately materialize cells for
                # a later semantic_dedup sweep over the sources.
                if kind == "embedding_cells" and not pkw.get("vec_col"):
                    sidecar_status[kind] = (
                        "skipped (no vec_col in effective config)")
                    continue
                if (kind == "embedding_cells"
                        and vec_needed is None
                        and pkw["vec_col"] not in df.columns):
                    # with a semantic stage on, a missing column
                    # already skipped the whole dataset above; with it
                    # off, only the cells sidecar is impossible —
                    # record why instead of erroring nightly
                    sidecar_status[kind] = (
                        f"skipped (no ({pkw['vec_col']}) column)")
                    continue
                mat_kw = dict(hash_kw)
                if kind == "embedding_cells":
                    import numpy as _np

                    eff_cb = pkw.get("semantic_centroids")
                    mat_kw.update(
                        # the EFFECTIVE codebook — an override may have
                        # swapped it for this dataset, and the cells
                        # must pin to the one the semantic stage will
                        # actually assign
                        centroids=(
                            _np.asarray(eff_cb)
                            if eff_cb is not None else cb),
                        vec_col=pkw["vec_col"],
                    )
                frame, params, materialized = self._sidecar_frame(
                    df, data_path, kind, sig_expect[kind], verify,
                    materialize, sig_path(signatures_root, name),
                    mat_kw,
                )
                sidecar_status[kind] = (
                    "materialized" if materialized else "reused")
                # cells feed the pipeline only when a stage reads
                # embeddings — prep_documents refuses precomputed_cells
                # without semantic_dedup, and the vec_col-without-
                # semantic shape materializes cells purely as a sidecar
                # for a later sweep
                if kind != "embedding_cells" or vec_needed is not None:
                    extra.update(sidecar_kwargs(kind, frame, params))
            stages: dict = {} if stage_counts else None
            out = prep_documents(
                df, id_col=id_col, text_col=text_col,
                benchmark=benchmark, stage_frames=stages,
                **extra, **pkw,
            )
            dest = posixpath.join(dest_base, name)
            # under mode="append" the post-write count below is
            # cumulative across runs — snapshot the pre-write count so
            # n_out reports THIS run's output (parquet counts are
            # cheap: footer row-counts only)
            n_pre = 0
            if mode == "append" and self._po.is_dir(dest):
                try:
                    n_pre = (self.spark.read.format(dest_format)
                             .load(dest).count())
                except Exception:
                    n_pre = 0
            counts = dict(count_stages(
                stages or {},
                lambda: out.write.format(dest_format).mode(mode).save(dest)))
            # count the WRITTEN output — re-counting the lazy plan
            # would re-run the whole pipeline a second time
            cleaned = self.spark.read.format(dest_format).load(dest)
            n_total = cleaned.count()
            n_in = (
                counts["input"] if stage_counts and "input" in counts
                # the incremental marker aggregate already counted
                # the corpus — don't pay a second full scan for it
                else marker["rows"] if marker is not None
                else df.count()
            )
            entry = {"dest": dest, "n_in": int(n_in),
                     "n_out": int(n_total - n_pre)}
            if mode == "append":
                entry["n_total"] = int(n_total)
            if ov:
                # echo the EFFECTIVE per-dataset delta into the
                # summary — both for the operator reading it and for
                # the incremental compare above
                entry["config"] = canon_over
            if sign_outputs:
                # the cleaned copy's ingest moment: hash the POST-clean
                # text once so every later sweep over the training
                # copies starts sidecar-served
                materialize_signatures(
                    self.spark, cleaned, dest,
                    kinds=tuple(sign_outputs), **hash_kw,
                )
                entry["signed"] = sorted(sign_outputs)
            if stage_counts:
                entry["stages"] = counts
            if sidecar_status:
                entry["sidecars"] = sidecar_status
            if marker is not None:
                entry["marker"] = marker
            return entry, None

        return night.run(_prep_one, expect=expect,
                         incremental=incremental,
                         max_concurrency=max_concurrency)

    def neardup_dedup(
        self,
        id_col: str = "doc_id",
        text_col: str = "text",
        n_hashes: int = 8,
        n_bands: int = 4,
        shingle_size: int = 3,
        shingle_mode: str = "word",
        seed: int = 0,
        max_bucket_size: int | None = 256,
        score_col: str | None = None,
        materialize: bool = True,
        verify: bool = True,
        report_dir: str | None = None,
        signatures_root: str | None = None,
        incremental: bool = False,
        max_concurrency: int = 4,
        edge_warn_multiple: float = 4.0,
    ) -> dict[str, dict]:
        """Lake-wide CROSS-DATASET text near-dup sweep (round 8) — the
        text-modality sibling of :meth:`semantic_dedup`, and the one
        sweep no per-dataset pass can replace: the same crawl document
        landing in two datasets (dump A and dump B) is invisible to
        per-dataset dedup, so the lake level is where it must run.

        Served from each dataset's ``minhash`` signature sidecar
        (materialized on first contact, marker-verified, re-hashed only
        when the content marker says the corpus mutated): the
        cross-dataset phase unions the (tiny) signature tables under
        lake-qualified ids — at 8×8-hex hashes that is ~100 bytes/doc,
        so a 100 TB corpus contributes a ~100 GB signature union — then
        runs ONE (band, band_hash)-keyed shuffle
        (:func:`~pydala_spark.operators.dedup.lsh_candidate_pairs`,
        viral buckets capped at ``max_bucket_size``), connected
        components over the LSH-reduced edge set
        (:func:`~pydala_spark.operators.dedup.dedup_clusters`), and one
        window rank to pick each cluster's keeper. Corpus text is never
        read except the per-dataset marker aggregate when ``verify``.

        ``score_col``: when a dataset carries it, a narrow ``(id,
        score)`` projection (column-pruned at the parquet scan) joins
        in so the BEST-scored cluster member is kept, smallest
        lake-qualified id breaking ties and covering unscored members
        (``desc_nulls_last``); each dataset's report records whether
        scoring applied (the :meth:`semantic_dedup` honesty rule).

        Output: ONE partitioned verdict table under ``report_dir``
        (default ``<root>/_neardup``) at ``_verdicts/dataset=<name>/``
        with columns ``(id, cluster, kept, rep_dataset, rep_id)`` —
        ``rep_*`` name the cluster's keeper so a dropped row says WHERE
        its surviving copy lives (ids stringified: lake-qualified keys
        must union across datasets whose id types differ). Plus a
        ``_summary.json`` recording, per dataset, ``n_docs`` /
        ``n_dropped`` / ``n_cross_dropped`` (dropped rows whose keeper
        lives in a DIFFERENT dataset — the number only this sweep can
        produce) and, lake-level, ``n_clusters`` /
        ``n_cross_dataset_clusters``. Datasets without the columns are
        skipped with a reason and one broken dataset records an error
        and sits out the union instead of killing the sweep (the
        ``maintain`` rule); the global phase itself is all-or-nothing.
        ``max_concurrency`` pools the per-dataset SIDECAR phase only
        (verification / first-contact materialization — the
        :meth:`decontaminate` knob); the clustering that follows is one
        lake-global job and needs no pooling.

        ``incremental=True`` (round 9) adds the one economy this sweep
        can soundly offer: the ALL-FRESH fast path. Because clusters
        are lake-global, one changed dataset can re-shape every
        verdict, so there is no per-dataset skip (the
        :meth:`decontaminate` pattern is unsound here) — but the common
        nightly case is that NOTHING changed, and that case is provable:
        when the previous ``_summary.json`` recorded the same sweep
        config, the same dataset set, and every dataset's VERIFIED
        content marker (plus, for ``score_col`` datasets, a marker over
        the score column itself — scores drive keeper selection and can
        change without the text marker moving) matches the prior run,
        the union/LSH/connected-components jobs are skipped wholesale
        and the prior verdict table + counts are reused (entries carry
        ``"fresh"`` saying so).

        **Partial-incremental** (round 10, VERDICT r9 #5): when K of N
        datasets changed, the sweep persists its candidate EDGE SET
        (``<report_dir>/_pairs``) and over-cap bucket keys
        (``_overcap`` in the summary) each incremental run, and the
        next run reuses prior edges between two provably-unchanged
        datasets verbatim — an unchanged doc's band hashes cannot
        move, so those pairs are exactly the full sweep's. Only
        buckets TOUCHED by changed docs re-pair
        (:func:`~pydala_spark.operators.dedup.lsh_candidate_pairs_delta`
        — the touched keys broadcast against the map-side banded scan,
        so the unchanged 99% of signatures never shuffles), then CC +
        keeper ranking run over prior-unchanged ∪ new edges; summaries
        carry ``"_sweep_mode": "partial"``. Invalidation rule: a
        config or hashing-param change discards the prior summary up
        top (full re-band), and any viral-bucket cap-status transition
        (a prior over-cap bucket shrinking under the cap, or a touched
        bucket newly crossing it) makes prior edges non-reusable, so
        the delta call falls back to the full sweep. Dataset
        add/remove/skip/error all stay exact: their prior edges drop
        with the unchanged-only filter and their buckets re-pair.
        ``verify=False`` extends the same trust to skipping that it
        already grants to sweeping (markers then come from the sidecar
        record, not a live re-scan).
        """
        from pyspark.sql import Window

        from pydala_spark.operators.dedup import dedup_clusters

        if n_hashes % n_bands != 0:
            # band_frame would raise too, but only AFTER every dataset
            # paid sidecar materialization — fail before touching any
            raise ConfigError(
                f"neardup_dedup: n_bands={n_bands} must divide "
                f"n_hashes={n_hashes}"
            )
        pin = {
            "id_col": id_col, "text_col": text_col, "n_hashes": n_hashes,
            "shingle_size": shingle_size, "seed": seed,
            "shingle_mode": shingle_mode,
        }
        config = {
            "n_hashes": n_hashes, "n_bands": n_bands,
            "shingle_size": shingle_size, "shingle_mode": shingle_mode,
            "seed": seed, "max_bucket_size": max_bucket_size,
            "score_col": score_col, "id_col": id_col,
            "text_col": text_col,
        }
        night = SweepNight(self, report_dir, "_neardup")
        rep_base = night.rep_base
        #: the pairs night's outputs the next night's partial path needs
        overcap_keys: list = []
        n_edges = pairs_token = None

        def _prep_one(name: str, base: str) -> tuple:
            """-> (entry, (tagged signatures, scores | None)) — the
            per-dataset sidecar phase, independent across datasets (the
            GLOBAL clustering is not, which is why only this phase
            rides the max_concurrency pool)."""
            df, data_path = self._swept_frame(
                name, base, (id_col, text_col))
            # absent, param-mismatched or stale sidecar pays the
            # shingle hashing ONCE inside the shared dance; every
            # later sweep reads
            sigs, params, materialized = self._sidecar_frame(
                df, data_path, "minhash", pin, verify,
                materialize, sig_path(signatures_root, name),
                dict(id_col=id_col, text_col=text_col,
                     n_hashes=n_hashes, shingle_size=shingle_size,
                     seed=seed, shingle_mode=shingle_mode),
            )
            mh_cols = sorted(
                (c for c in sigs.columns if c.startswith("mh_")),
                key=lambda c: int(c.split("_")[1]),
            )
            doc = F.col(id_col).cast("string")
            tagged = sigs.select(
                F.lit(name).alias("__ds"),
                doc.alias("__doc"),
                F.concat_ws(LAKE_SEP, F.lit(name), doc).alias("__lid"),
                *mh_cols,
            )
            scored = bool(score_col) and score_col in df.columns
            # scores: narrow projection — parquet reads two
            # columns, never the text
            sc = df.select(
                F.lit(name).alias("__ds"),
                F.col(id_col).cast("string").alias("__doc"),
                F.col(score_col).cast("double").alias("__score"),
            ) if scored else None
            # the text marker is blind to the score column — scores
            # drive keeper selection, so a re-scored corpus with
            # unchanged text must still break the all-fresh fast path.
            # ONE extra narrow (id, score) aggregate, paid only when
            # incremental is on.
            entry = sidecar_entry(
                materialized, params, scored=scored,
                score_marker=frame_marker(
                    df, id_col, F.col(score_col).cast("double"))
                if incremental and scored else None)
            return entry, (tagged, sc)

        def _verdicts() -> tuple:
            nonlocal overcap_keys, n_edges, pairs_token
            union, scores = night.union
            # PARTIAL: prior edges between two UNCHANGED datasets are
            # still exactly the full sweep's (an unchanged doc's band
            # hashes cannot move), so only buckets touched by changed
            # docs re-pair; any cap-status transition falls back to
            # the full sweep inside the delta call. The partial path
            # rewrites the verdict table from the union + edge set,
            # never carrying prior verdict rows.
            partial_ctx = None
            if night.gate is not None:
                partial_ctx = neardup_partial_ctx(
                    self._po, rep_base=rep_base, prior=night.prior,
                    unchanged=night.gate.unchanged,
                    tagged_names=night.tagged, results=night.results,
                    n_bands=n_bands,
                )
            (pairs, mode, overcap_keys, n_edges,
             pairs_token) = neardup_pairs_night(
                self.spark, self._po,
                union=union, rep_base=rep_base,
                prior_edges=(night.prior or {}).get("_edges"),
                partial_ctx=partial_ctx, tagged_names=night.tagged,
                n_bands=n_bands, max_bucket_size=max_bucket_size,
                incremental=incremental,
            )
            clusters = dedup_clusters(pairs).select(
                F.col("id").alias("__cid"),
                F.col("cluster_id").alias("cluster"),
            )
            members = union.select("__ds", "__doc", "__lid").join(
                clusters, F.col("__lid") == F.col("__cid"), "left"
            ).drop("__cid")
            if scores is not None:
                members = members.join(scores, ["__ds", "__doc"], "left")
            order = (
                [F.desc_nulls_last("__score"), F.asc("__lid")]
                if scores is not None else [F.asc("__lid")]
            )
            # singleton-safe window key: cluster ids are drawn from the
            # lake-id domain, so a bare coalesce could merge an
            # unrelated singleton into a cluster's window (the
            # keep_cluster_representatives struct-key rule)
            w = Window.partitionBy(
                F.struct(
                    F.col("cluster").isNull().alias("s"),
                    F.coalesce(F.col("cluster"), F.col("__lid")).alias("k"),
                )
            ).orderBy(*order)
            ranked = members.withColumn(
                "__rk", F.row_number().over(w)
            # ranked feeds the verdict select AND the keeper self-join —
            # without the cut the minhash union + LSH + CC re-executes
            # per consumer
            ).localCheckpoint(eager=True)
            reps = ranked.where(
                (F.col("__rk") == 1) & F.col("cluster").isNotNull()
            ).select(
                F.col("cluster").alias("__rcl"),
                F.col("__ds").alias("rep_dataset"),
                F.col("__doc").alias("rep_id"),
            )
            return ranked.join(
                reps, ranked["cluster"] == F.col("__rcl"), "left"
            ).select(
                F.col("__ds").alias("dataset"),
                F.col("__doc").alias("id"),
                "cluster",
                (F.col("__rk") == 1).alias("kept"),
                "rep_dataset", "rep_id",
            ), mode

        def _clusters(written) -> dict:
            # lake-level cluster stats are not per-dataset sums
            if written is None:
                return {"n_clusters": 0, "n_cross_dataset_clusters": 0}
            cl = written.where(F.col("cluster").isNotNull()).groupBy(
                "cluster").agg(
                F.count_distinct("dataset").alias("nds")).agg(
                F.count("*").alias("n"),
                F.count_if(F.col("nds") > 1).alias("nx"),
            ).collect()[0]
            return {"n_clusters": int(cl["n"] or 0),
                    "n_cross_dataset_clusters": int(cl["nx"] or 0)}

        def _finish() -> dict:
            # the next night's PARTIAL inputs: edge count (proves the
            # edge set landed), over-cap bucket keys (the cap-transition
            # tripwire) and the _pairs commit token. A fresh night
            # carries the prior's.
            if not incremental:
                return {}
            prior = night.prior
            if night.mode == "fresh":
                extra = {k: prior.get(k)
                         for k in ("_overcap", "_edges", "_artifacts")}
                state = (dict(prior["_state"])
                         if prior.get("_state") is not None else None)
                entries = [{**prior[n], **e}
                           for n, e in night.results.items()]
            else:
                extra = {"_edges": n_edges,
                         "_overcap": [list(x) for x in overcap_keys],
                         "_artifacts": pairs_token}
                state = None if n_edges is None else {
                    "pairs_rows": n_edges,
                    "pairs_bytes": sum(
                        sz for _, sz in self._po.list_files(
                            posixpath.join(rep_base, "_pairs"))),
                }
                entries = night.results.values()
            if state is not None:
                # lifecycle reporting: the persisted edge-set footprint
                # plus a viral-night balloon tripwire, judged against
                # TONIGHT's knob (raising it must clear the warning).
                # _pairs is a pure cache — delete it (or its token) and
                # the next night regenerates it from a full sweep.
                state.pop("balloon_warning", None)
                warn = edge_balloon_warning(
                    int(state.get("pairs_rows", 0)),
                    sum(e.get("n_docs", 0) for e in entries),
                    edge_warn_multiple)
                if warn:
                    state["balloon_warning"] = warn
                extra["_state"] = state
            return extra

        return night.run_global(
            _prep_one, _verdicts,
            counts={"n_docs": F.count("*"),
                    "n_dropped": F.count_if(~F.col("kept")),
                    "n_cross_dropped": F.count_if(
                        ~F.col("kept")
                        & (F.col("rep_dataset") != F.col("dataset")))},
            target=posixpath.join(rep_base, "_verdicts"),
            fresh_msg="lake unchanged since last sweep — verdict reused",
            expect={"_config": config}, incremental=incremental,
            max_concurrency=max_concurrency, finish=_finish,
            lake_stats=_clusters,
        )

    def ann_maintain(
        self,
        index_path: str,
        source: str,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        append: bool = True,
        if_exists: str = "skip",
        check_ids: bool = True,
        fail_imbalance: float | None = None,
        evaluate: bool = False,
        k: int = 10,
        n_probe_centroids: int = 2,
        n_probes: int = 50,
        rerank_top: int | None = None,
        fail_recall: float | None = None,
        remove_source: str | None = None,
    ) -> dict[str, dict]:
        """Nightly ANN-index maintenance as ONE lake method (round 10,
        VERDICT r9 #4) — the index is a maintained artifact with
        alerting (:func:`~pydala_spark.operators.ann.append_ivfpq_index`
        / ``index_stats`` / ``index_recall``), but until now the
        alerting only fired if someone scheduled a separate ``ann``
        CLI job beside the lake cron. This wraps the nightly sequence —
        grow, health-check, optionally measure — so an
        ``[ann_maintain]`` section joins the one-TOML cron like every
        other sweep:

        1. **append** (default on): new vectors from ``source`` encode
           under the index's pinned codebooks; ``if_exists="skip"``
           (the default HERE, unlike the one-shot function) is the
           idempotent cron form — point it at the full, growing
           embeddings dataset and exactly the unseen rows index.
        2. **stats** (always): cell histogram + ``imbalance``;
           ``fail_imbalance=X`` records a trip when max/avg drifts
           past X — the "rebuild the codebook" alert.
        3. **eval** (``evaluate=True``): measured recall@k on the
           deterministic hash-sampled probe panel — the number
           imbalance only proxies; ``fail_recall=R`` records a trip
           below R. Costs n_probes brute-force scans, so the knob is
           opt-in for lakes where the nightly window is tight.

        ``remove_source`` (a tombstone dataset — lake name or path —
        whose FIRST column holds the ids to delete) runs the GDPR
        removal FIRST, before the append: the production shape is a
        deletions feed the nightly drains into
        :func:`~pydala_spark.operators.ann.remove_from_ivfpq_index`
        (only the affected cell partitions rewrite; already-absent ids
        are a no-op, so the feed is safely re-playable every night).

        ``source`` is a lake dataset NAME (the usual form — the
        embeddings live in the lake) or, as a fallback, a direct path.
        Returns ``{"index": entry}`` in the sweep-result shape:
        ``entry["tripped"]`` lists which alerts fired (the cron maps a
        non-empty list to exit code 3, same contract as ``fail_on_*``),
        and an exception lands as ``{"error": ...}`` instead of killing
        the other cron sections.
        """
        from pydala_spark.operators.ann import (
            append_ivfpq_index,
            index_recall,
            index_stats,
            remove_from_ivfpq_index,
        )

        if fail_recall is not None and not evaluate:
            # config hygiene, up front and loud: a cron section with a
            # recall gate but no evaluation would exit 0 forever while
            # the caller believes the gate is guarding the index — the
            # exact silently-unguarded shape round 10 closed for
            # streaming_decontaminate(verify=)
            raise ConfigError(
                "ann_maintain: fail_recall needs evaluate=True — no "
                "recall is measured otherwise, so the gate would never "
                "fire"
            )
        entry: dict = {"path": index_path, "source": source}
        try:
            bases = self.discover()

            def _resolve(ref: str) -> DataFrame:
                if ref in bases:
                    return Dataset(
                        self.spark, bases[ref], name=ref,
                        format=self._dataset_format(bases[ref]),
                    ).load()
                return self.spark.read.parquet(strip_scheme(ref))

            df = _resolve(source)
            if remove_source is not None:
                # already-absent ids are a no-op inside the removal, so
                # a cumulative deletions feed replays safely each night
                tomb = _resolve(remove_source)
                entry["removed"] = int(remove_from_ivfpq_index(
                    self.spark, index_path,
                    tomb.select(tomb.columns[0]), id_col=id_col,
                ))
                # never resurrect (or grade against) a tombstoned
                # vector: the source dataset may not have been
                # scrubbed yet — the append would re-add what the
                # removal just deleted, and the recall eval's exact
                # side (and probe panel) would count deleted ids the
                # index correctly cannot return, tripping fail_recall
                # spuriously every night. Deletion feeds are small —
                # broadcast anti-join, the source side streams.
                df = df.join(
                    F.broadcast(tomb.select(
                        F.col(tomb.columns[0]).cast("string")
                        .alias("__tomb"))),
                    df[id_col].cast("string") == F.col("__tomb"),
                    "left_anti",
                )
            if append:
                entry["appended"] = int(append_ivfpq_index(
                    self.spark, index_path, df,
                    id_col=id_col, vec_col=vec_col,
                    check_ids=check_ids, if_exists=if_exists,
                ))
            stats = index_stats(self.spark, index_path)
            entry["stats"] = {
                kk: stats[kk] for kk in
                ("n_vectors", "n_cells", "imbalance") if kk in stats
            }
            tripped: list[str] = []
            if fail_imbalance is not None \
                    and stats["imbalance"] > fail_imbalance:
                tripped.append("imbalance")
            if evaluate:
                rep = index_recall(
                    self.spark, index_path, df,
                    id_col=id_col, vec_col=vec_col, k=k,
                    n_probe_centroids=n_probe_centroids,
                    n_probes=n_probes, rerank_top=rerank_top,
                )
                entry["recall"] = rep
                if fail_recall is not None and (
                        rep["recall_at_k"] is None
                        or rep["recall_at_k"] < fail_recall):
                    tripped.append("recall")
            entry["tripped"] = tripped
        except Exception as exc:  # contained like every sweep entry
            entry["error"] = f"{type(exc).__name__}: {exc}"[:500]
        return {"index": entry}
