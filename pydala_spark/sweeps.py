"""One sweep night for every lake sweep, and the rules it runs on.

Every ``LakeSweepsMixin`` sweep (``pydala_spark/catalog_sweeps.py``)
runs one night through :class:`SweepNight`, which owns every step
the sweeps share:

- list the lake once (``discover()``, discovery order is report order);
- on an incremental night, load the prior ``_summary.json`` and keep it
  only when every pinned key (``expect``: sweep config, benchmark
  markers, the lake codebook) still matches (:func:`load_prior_summary`);
- run the family's per-dataset function over every dataset, pooled when
  ``max_concurrency`` allows (:func:`pooled`) and guarded: a
  :class:`SkipSweep` becomes a ``{"skipped": reason}`` entry, any other
  exception an ``{"error": ...}`` entry, and the sweep lives;
- seal the summary: the per-dataset entries, the pinned keys and the
  family's own ``_``-keys (:func:`seal_summary`).

A lake-global sweep (cross-dataset semantic dedup, span report, near-dup
clusters) also hands :class:`SweepNight` the night between those steps
(:meth:`SweepNight.run_global`): it unions the per-dataset payloads,
builds the :class:`NightGate` freshness facts, reuses the prior verdict
wholesale when the lake is provably unchanged (:func:`fresh_summary`),
else lands the family's verdict table (:func:`commit_verdicts`, staged
on a partial night), writes each dataset's counts back
(:func:`update_report_entries`) and sums them into ``_lake``.

A family supplies only its own work:

- a per-dataset function ``(name, base) -> (entry, payload)``: the
  summary entry, plus for a lake-global sweep a tuple of frames the
  night unions position by position (``None`` when the dataset sits
  the global phase out);
- for a lake-global sweep, a verdict function returning ``(frame,
  mode)``: its partial night when the gate makes one legal, else its
  full night; the partial-night engines it calls live here too
  (:func:`semantic_cross_partial`, :func:`span_partial_night`,
  :func:`neardup_partial_ctx` + :func:`neardup_pairs_night`);
- a ``finish`` callable returning its sweep-level ``_``-keys, run after
  the verdicts land and before the summary is sealed.

Every helper here is session-free or takes the session as an argument,
so ``tests/test_sweeps.py`` pins the rules without Spark.
"""

from __future__ import annotations

import json
import posixpath


#: joins a dataset name and a doc id into a lake-qualified id; the unit
#: separator cannot appear in a manifest dataset name, so the FIRST
#: field is always the dataset
LAKE_SEP = "\x1f"


class SkipSweep(Exception):
    """A dataset sitting a sweep out with a recorded reason (missing
    columns, no data files, ...): the night records it as a
    ``{"skipped": reason}`` entry instead of an error."""


class SweepNight:
    """One sweep night over a lake (see the module docstring).
    ``lake`` provides ``spark``, ``_po``, ``root`` and ``discover()``.
    The summary lands at ``<report_dir>`` or
    ``<lake root>/<default_name>``; without ``default_name`` the night
    writes no summary (a pure report such as ``signatures_report``).

    The attributes are the night's state, read by the family's
    closures: ``items`` (``(name, base)`` in discovery order),
    ``prior`` (the validated prior summary or ``None``), ``results``
    (the per-dataset entries), ``tagged`` (datasets that returned a
    payload), ``union`` (the payloads unioned position by position),
    ``gate`` (the :class:`NightGate` of an incremental lake-global
    night), ``mode`` (``full`` / ``fresh`` / ``partial``) and
    ``written`` (the landed verdict table)."""

    def __init__(self, lake, report_dir: str | None = None,
                 default_name: str | None = None):
        self.spark, self.po = lake.spark, lake._po
        self.rep_base = (rep_base_for(lake.root, report_dir, default_name)
                         if default_name else None)
        self.items = list(lake.discover().items())
        self.prior: dict | None = None
        self.results: dict[str, dict] = {}
        self.tagged: set[str] = set()
        self.union: tuple | None = None
        self.gate: NightGate | None = None
        self.mode = "full"
        self.written = None

    def run(self, per_dataset, *, expect: dict | None = None,
            incremental: bool = False, max_concurrency: int = 1,
            serial_while=None, finish=dict) -> dict:
        """A night of independent per-dataset sweeps: guard and pool
        ``per_dataset`` over the lake, then seal the summary with the
        ``expect`` pins and ``finish()``'s keys. Returns the summary."""
        expect = expect or {}
        self._sweep(per_dataset, expect, incremental, max_concurrency,
                    serial_while)
        if self.rep_base is None:
            return self.results
        return seal_summary(self.po, self.rep_base, self.results,
                            **{**expect, **finish()})

    def run_global(self, per_dataset, verdicts, *, counts: dict,
                   target: str, fresh_msg: str, expect: dict,
                   incremental: bool, max_concurrency: int,
                   serial_while=None, finish=dict,
                   lake_stats=None) -> dict:
        """A lake-global night. ``counts`` maps each per-dataset count
        to its aggregate over the ``dataset=``-partitioned verdict
        table at ``target``; the first one is the completion key (an
        entry carrying it proves the prior night finished that
        dataset). ``_lake`` is the sum of the per-dataset counts unless
        ``lake_stats(written)`` computes it (``written`` is ``None``
        when nothing landed). ``verdicts()`` runs only when some
        dataset contributed; a ``None`` frame lands nothing, and a
        night that lands nothing removes the table at ``target``.
        ``expect["_config"]`` is the config a fresh night echoes."""
        self._sweep(per_dataset, expect, incremental, max_concurrency,
                    serial_while)
        key = next(iter(counts))
        if self.prior is not None:
            self.gate = NightGate(self.spark, self.po, self.results,
                                  self.prior, key, target, self.tagged)
            # a prior that landed no rows (every dataset skipped, or
            # nothing flagged) has no table to verify, and must not be
            # barred from the fresh path forever
            wrote = any(int(self.prior[n][key]) > 0
                        for n in self.gate.prior_counted)
            if self.gate.all_fresh(require_counts=wrote):
                self.mode = "fresh"
                return fresh_summary(
                    self.po, self.rep_base, self.results, self.prior,
                    fresh_msg, self._lake(counts, lake_stats),
                    expect["_config"], {**expect, **finish()})
        frame = None
        if self.union is not None:
            frame, self.mode = verdicts()
        if frame is not None:
            # a partial night's frame reads the table it replaces
            self.written = commit_verdicts(
                self.spark, self.po, frame, target,
                staged=self.mode == "partial")
            update_report_entries(self.results, self.written, target,
                                  counts)
        elif self.po.is_dir(target):
            # the previous night's table must GO: readers would
            # disagree with tonight's zero counts, and a later partial
            # night would carry its rows over
            self.po.delete(target)
        return seal_summary(
            self.po, self.rep_base, self.results,
            _lake=self._lake(counts, lake_stats), _sweep_mode=self.mode,
            **{**expect, **finish()})

    def _sweep(self, per_dataset, expect, incremental, max_concurrency,
               serial_while) -> None:
        if incremental:
            self.prior = load_prior_summary(self.po, self.rep_base,
                                            expect)

        def guarded(name: str, base: str) -> tuple:
            try:
                return per_dataset(name, base)
            except SkipSweep as sk:
                return {"skipped": str(sk)}, None
            except Exception as exc:  # one bad dataset must not kill it
                return {"error": f"{type(exc).__name__}: {exc}"[:500]}, None

        payloads = []
        outs = pooled(self.items, guarded, max_concurrency, serial_while)
        for (name, _), (entry, payload) in zip(self.items, outs):
            self.results[name] = entry
            if payload is not None:
                self.tagged.add(name)
                payloads.append(payload)
        if payloads:
            self.union = tuple(union_all(p[i] for p in payloads)
                               for i in range(len(payloads[0])))

    def _lake(self, counts: dict, lake_stats) -> dict:
        if lake_stats is not None:
            return lake_stats(self.written)
        return {k: sum(int(e.get(k, 0)) for e in self.results.values())
                for k in counts}


def sidecar_entry(materialized, params: dict,
                  score_marker: dict | None = None, **extra) -> dict:
    """The summary entry of a sidecar-served dataset: whether tonight
    ``materialized`` or ``reused`` the sidecar, its content marker
    (:func:`content_marker`), the score marker of a scored dataset and
    any ``extra`` fields."""
    entry = {"sidecar": "materialized" if materialized else "reused",
             **extra}
    marker = content_marker(params)
    if marker is not None:
        entry["marker"] = marker
    if score_marker is not None:
        entry["score_marker"] = score_marker
    return entry


def rep_base_for(root: str, report_dir: str | None, default_name: str) -> str:
    """The sweep report root: an explicit ``report_dir`` (scheme
    stripped — PathOps re-resolves) or ``<lake root>/<default_name>``."""
    from pydala_spark.utils.pathops import strip_scheme

    if report_dir:
        return strip_scheme(report_dir).rstrip("/")
    return posixpath.join(root, default_name)


def union_all(frames):
    """``unionByName`` fold over the non-None frames; ``None`` when
    nothing contributed (the every-dataset-skipped night)."""
    out = None
    for df in frames:
        if df is None:
            continue
        out = df if out is None else out.unionByName(df)
    return out


def reuse_if_fresh(
    prior: dict | None,
    name: str,
    marker: dict | None,
    need_key: str,
    extra: tuple = (),
) -> dict | None:
    """The per-dataset verdict-reuse rule shared by the independent
    (non-lake-global) sweeps: when tonight's VERIFIED content marker
    equals the prior summary's, the prior entry carries ``need_key``
    (proof the prior run completed for this dataset), and every extra
    ``(key, value)`` matches too (scored flags, score markers), the
    prior verdict is provably current — return it annotated; else
    ``None`` (caller sweeps)."""
    pe = (prior or {}).get(name)
    if (marker is not None
            and isinstance(pe, dict)
            and pe.get("marker") == marker
            and need_key in pe
            and all(pe.get(k) == v for k, v in extra)):
        return {
            **pe, "sidecar": "reused",
            "fresh": "unchanged since last sweep — report reused",
        }
    return None


def seal_summary(po, rep_base: str, results: dict, **extras) -> dict:
    """The sweep epilogue: layer the sweep-level ``_``-keys on, persist
    the summary, return the results dict."""
    results.update(extras)
    write_summary(po, rep_base, results)
    return results


def content_marker(params: dict) -> dict | None:
    """The sidecar's recorded content marker as the summary-entry dict
    every sweep stores and compares (``None`` when the sidecar predates
    markers)."""
    if "content_rows" in params:
        return {"rows": int(params["content_rows"]),
                "xor": int(params["content_xor"])}
    return None


def read_token(po, path: str) -> str | None:
    """Read ``<path>/_token.json`` — the commit token artifact tables
    carry (underscore prefix ⇒ Spark's parquet reader ignores it).
    ``None`` on missing/unreadable, which every caller treats as a
    mismatch (→ full rebuild)."""
    try:
        return json.loads(po.read_text(posixpath.join(path, "_token.json")))
    except Exception:
        return None


def write_token(po, path: str, token: str) -> None:
    """Commit ``<path>/_token.json`` — written AFTER the table's
    parquet so a crash in between reads as token-mismatch, never as a
    blessed-but-stale artifact."""
    po.write_text(posixpath.join(path, "_token.json"), json.dumps(token))


def write_summary(po, rep_base: str, results: dict) -> None:
    """Persist ``<rep_base>/_summary.json`` — the canonical summary
    serialization every sweep uses (stable key order so diffs and the
    property tests read clean)."""
    po.write_text(
        posixpath.join(rep_base, "_summary.json"),
        json.dumps(results, indent=2, sort_keys=True, default=str),
    )


def fresh_summary(
    po,
    rep_base: str,
    results: dict,
    prior: dict,
    msg: str,
    lake_default: dict,
    config: dict,
    extra: dict | None = None,
) -> dict:
    """Assemble, persist and return the ALL-FRESH night's summary: every
    dataset's prior entry carried over (tonight's sidecar/marker facts
    layered on top) plus a ``fresh`` note, the prior lake stats, and
    ``_sweep_mode: "fresh"``. ``extra`` carries the sweep-specific
    artifact echoes (``_artifacts`` / ``_codebook`` / ``_state`` /
    ``_overcap`` ...) the caller computed."""
    out = {n: {**prior[n], **results[n], "fresh": msg} for n in results}
    out["_lake"] = prior.get("_lake", lake_default)
    out["_config"] = config
    out["_sweep_mode"] = "fresh"
    if extra:
        out.update(extra)
    write_summary(po, rep_base, out)
    return out


class NightGate:
    """The shared incremental-night facts a lake-global sweep dispatches
    its (full | fresh | partial) mode on, computed once per night:

    - ``fresh_map`` — per-dataset provable freshness
      (:func:`sweep_fresh_map`).
    - ``prior_counted`` — datasets whose prior entry carries the
      completion key (the only ones whose report rows exist to verify).
    - ``intact`` — of those, the ones whose report partition still
      holds exactly the recorded row count
      (:func:`dataset_report_counts` + :func:`counts_intact`),
      computed LAZILY so nights that never consult it (e.g. a
      no-prior full sweep) pay no listing.
    - ``all_fresh(require_counts)`` — the fast-path gate:
      :func:`lake_unchanged` plus, when the prior actually produced
      report rows, the row-count integrity check (``require_counts=
      False`` is the zero-output carve-out: a prior that legitimately
      wrote no table must not be barred from the fresh path forever).
    - ``unchanged`` — the provably-fresh datasets that contributed to
      tonight's union (the partial night's carry-over base).
    """

    def __init__(
        self, spark, po, results: dict, prior: dict,
        completion_key: str, target: str, tagged_names: set,
    ):
        self._spark, self._po = spark, po
        # finish a crashed staged swap of the report table before any
        # fast path reads it (one probe)
        po.recover(target)
        self.results, self.prior = results, prior
        self.key, self.target = completion_key, target
        self.tagged_names = tagged_names
        self.fresh_map = sweep_fresh_map(results, prior, completion_key)
        self.prior_counted = {
            k for k in prior if not k.startswith("_")
            and isinstance(prior[k], dict) and completion_key in prior[k]}
        self._intact: set | None = None

    @property
    def intact(self) -> set:
        if self._intact is None:
            counts = (
                dataset_report_counts(self._spark, self.target)
                if self.prior_counted and self._po.is_dir(self.target)
                else None)
            self._intact = counts_intact(
                counts, self.prior, self.prior_counted, self.key)
        return self._intact

    def all_fresh(self, require_counts: bool = True) -> bool:
        return lake_unchanged(
            self.results, self.prior, self.fresh_map
        ) and (not require_counts or self.intact == self.prior_counted)

    @property
    def unchanged(self) -> set:
        return {n for n, ok in self.fresh_map.items()
                if ok and n in self.tagged_names}


def load_prior_summary(po, rep_base: str, expect: dict) -> dict | None:
    """Load ``<rep_base>/_summary.json`` as the prior-night seed.

    Returns ``None`` (→ full sweep) when the summary is missing,
    unreadable, or any ``expect[key] != prior.get(key)`` — the
    config/benchmark invalidation rule every incremental sweep applies
    before trusting a prior. Nested checks (e.g. the semantic sweep's
    codebook sha) stay with the caller.
    """
    try:
        prior = json.loads(po.read_text(
            posixpath.join(rep_base, "_summary.json")))
    except Exception:
        return None
    for key, want in expect.items():
        if prior.get(key) != want:
            return None
    return prior


def sweep_fresh_map(
    results: dict, prior: dict, completion_key: str
) -> dict[str, bool]:
    """Per-dataset provable freshness vs a validated prior summary.

    A dataset is FRESH tonight iff (the rule shared verbatim by the
    neardup / span / semantic sweeps):

    - it was skipped both nights for the SAME reason (it contributes
      nothing to either sweep's union, so identical skips keep the
      global verdict identical), or
    - no error either night, AND its sidecar was ``reused`` this night
      (``materialized`` means first contact or a content change), AND
      its content marker is non-None and equal to the prior's, AND —
      when the sweep is scored — the scored flag and score marker match
      too (scores pick keepers, and the content marker is blind to the
      score column), AND the prior entry carries ``completion_key``
      (``n_docs``/``n_spans``/``n_vectors``) proving the prior run
      completed the global phase for it — an entry without counts
      proves nothing about a verdict table.
    """
    def _fresh(name: str, entry: dict) -> bool:
        pe = prior.get(name)
        if not isinstance(pe, dict):
            return False
        if "skipped" in entry or "skipped" in pe:
            return entry.get("skipped") == pe.get("skipped")
        if "error" in entry or "error" in pe:
            return False
        if entry.get("sidecar") != "reused":
            return False
        if entry.get("marker") is None \
                or entry.get("marker") != pe.get("marker"):
            return False
        if entry.get("scored") != pe.get("scored"):
            return False
        if entry.get("scored") and (
                entry.get("score_marker") != pe.get("score_marker")):
            return False
        return completion_key in pe

    return {n: _fresh(n, e) for n, e in results.items()}


def lake_unchanged(results: dict, prior: dict, fresh: dict) -> bool:
    """The all-fresh gate: every current dataset provably fresh AND the
    prior covered exactly the same dataset set (an added or removed
    dataset changes the lake-global verdict even when every survivor
    is individually unchanged)."""
    prior_names = {k for k in prior if not k.startswith("_")}
    return prior_names == set(results) and all(fresh.values())


def dataset_report_counts(spark, path: str) -> dict[str, int] | None:
    """Count-by-dataset over a ``dataset=``-partitioned report table —
    the carry-over integrity primitive: a commit
    token proves a write COMPLETED, not that every file survived since,
    so partial/fresh nights verify the rows they are about to trust
    against the prior summary's recorded counts. Metadata-priced: the
    aggregate touches only the partition column (row-group footers +
    directory names, no data pages). Returns ``None`` when the table is
    unreadable (every partition gone) — callers treat that as
    nothing-trustable."""
    from pyspark.sql import functions as F

    try:
        return {
            r["dataset"]: int(r["n"])
            for r in spark.read.parquet(path)
            .groupBy("dataset").agg(F.count("*").alias("n")).collect()
        }
    except Exception:
        return None


def counts_intact(
    counts: dict[str, int] | None, prior: dict, names, key: str
) -> set[str]:
    """The subset of ``names`` whose report-table count equals the
    prior summary's recorded ``key`` (``n_vectors``/``n_spans``/
    ``n_docs``; a dataset absent from the table counts 0, matching a
    legitimately-zero recorded count). ``counts=None`` (unreadable
    table) trusts nothing."""
    if counts is None:
        return set()
    return {
        n for n in names
        if counts.get(n, 0) == int((prior.get(n) or {}).get(key, -1))
    }


def semantic_cross_partial(
    spark,
    *,
    union_v,
    union_c,
    meta,
    target: str,
    tagged_names: set,
    partial_unchanged: list,
    prior_counted: set,
    partial_max_cell_fraction: float,
    codebook_rows: int,
    threshold: float,
):
    """The cross-dataset SemDeDup sweep's PARTIAL night. Recomputes
    verdicts for TOUCHED cells only and returns the merged verdict
    table for the caller to stage + swap into ``target`` (it READS the
    table it replaces), or ``None`` when a guard (touched-cell fraction,
    2M-id broadcast) refused — correctness never depends on taking the
    partial path. See ``Datalake.semantic_dedup`` for the artifact
    layout and the soundness contract (a SemDeDup verdict is a pure
    function of its cell's full membership)."""
    from pyspark.sql import functions as F

    merged = None
    # PARTIAL: recompute verdicts only for
    # TOUCHED cells — cells any changed doc lives in
    # now, plus cells changed/removed docs lived in
    # before (from the prior verdict table's pruned
    # partitions). Everything is map-side: touched
    # cells are bounded by the codebook and broadcast;
    # the sub-membership (every doc sharing a touched
    # cell) broadcasts behind a size guard, so the
    # unchanged corpus never shuffles. Prior verdicts
    # of untouched cells in unchanged datasets carry
    # over verbatim — a verdict is a pure function of
    # its cell's membership.
    changed_names = sorted(
        tagged_names - set(partial_unchanged))
    prior_not_unchanged = sorted(
        prior_counted - set(partial_unchanged))
    pv = spark.read.parquet(target)
    touched_now = (
        union_c.where(
            F.substring_index(F.col("id"), LAKE_SEP, 1)
            .isin(changed_names)).select("cell")
        if changed_names else None)
    touched_before = (
        pv.where(F.col("dataset")
                 .isin(prior_not_unchanged))
        .select("cell")
        if prior_not_unchanged else None)
    touched = union_all((touched_now, touched_before))
    if touched is not None:
        touched = touched.distinct().localCheckpoint(
            eager=True)
        # touched-fraction guard (measured):
        # the cell-partial's economy is
        # touched/codebook — a changed dataset whose
        # docs span most cells makes the partial path
        # pure overhead (~1.5× a full night at equal
        # shuffle), so past half the codebook just run
        # full. Correctness never depends on taking
        # the partial path.
        frac_ok = (touched.count()
                   <= partial_max_cell_fraction
                   * max(int(codebook_rows), 1))
        sub_ids = union_c.join(
            F.broadcast(touched), "cell", "left_semi")
        # broadcast-size guard (the neardup rule):
        # docs sharing touched cells must broadcast;
        # a huge delta gains nothing from partial
        if frac_ok and sub_ids.count() <= 2_000_000:
            cells_sub = sub_ids.localCheckpoint(
                eager=True)
            # de-cliffed pair join: tonight's touched-cell verdicts
            # decompose at DOC level so a spanning
            # ingest stays delta-sized — the
            # decomposition + its soundness contract
            # live in similarity.semantic_partial_
            # verdicts; this block only assembles its
            # two inputs from the lake's artifacts.
            from pydala_spark.operators.similarity import (  # noqa: E501
                semantic_partial_verdicts,
            )

            # ONE broadcast-pruned scan of the lake's
            # embedding column, materialized: the
            # delta decomposition has five consumers,
            # and without the cut each would re-scan
            # every dataset's vectors (bounded: <= the
            # 2M-member guard)
            sub_base = union_v.join(
                F.broadcast(cells_sub.select(
                    F.col("id").alias("__lid"),
                    "cell",
                    F.col("norm").alias("__n"))),
                "__lid",
            ).select(
                F.col("__lid").alias("id"), "cell",
                F.col("__vec").alias("vec"), "__n",
                F.col("__score").alias("__s"),
            ).localCheckpoint(eager=True)
            o_prior = (
                pv.where(F.col("dataset")
                         .isin(partial_unchanged))
                .join(F.broadcast(touched),
                      "cell", "left_semi")
                .select(
                    F.concat_ws(
                        LAKE_SEP, "dataset",
                        "id").alias("id"),
                    "kept")
                .localCheckpoint(eager=True))
            vnew = semantic_partial_verdicts(
                sub_base, o_prior,
                is_changed=F.substring_index(
                    F.col("id"), LAKE_SEP, 1)
                .isin(changed_names),
                threshold=threshold, scored=True)
            new_rows = vnew.join(meta, "id").select(
                F.col("__ds").alias("dataset"),
                F.col("__doc").alias("id"),
                "cell", "kept",
            )
            prior_keep = (
                pv.where(F.col("dataset")
                         .isin(partial_unchanged))
                .join(F.broadcast(touched),
                      "cell", "left_anti")
                .select("dataset", "id", "cell",
                        "kept"))
            merged = prior_keep.unionByName(new_rows)
    else:
        # nothing contributed a delta (e.g. a dataset
        # vanished along with its prior verdicts):
        # prior verdicts of unchanged datasets ARE the
        # answer
        merged = pv.where(
            F.col("dataset").isin(partial_unchanged)
        ).select("dataset", "id", "cell", "kept")
    return merged


def span_partial_night(
    spark,
    po,
    *,
    pos,
    tagged_names: set,
    partial_unchanged: list,
    prior_counted: set,
    prior_token: str,
    df_path: str,
    contrib_path: str,
    target: str,
    min_df: int,
    kk: int,
    ww: int,
    min_span: int,
):
    """The span sweep's PARTIAL night: span df is
    additive per fingerprint over the dataset-disjoint lake-qualified
    ids, so the prior contribution/df tables adjust with a broadcast
    delta and only docs whose flag set could have moved re-group. See
    ``Datalake.span_dedup_report`` for the artifact layout and the
    token protocol.

    Returns ``(spans, sweep_mode, new_token, swap_stage)`` —
    ``spans=None`` means a guard refused (delta or flip-hit set past
    the 2M broadcast caps) and the caller runs the FULL sweep;
    ``swap_stage`` names the staged ``_df`` rewrite the caller commits
    after the spans table lands."""
    import uuid as _uuid

    from pyspark.sql import functions as F

    from pydala_spark.operators.dedup import span_runs
    from pydala_spark.utils.pathops import escape_partition_value

    def _ds_of(c):
        return F.split_part(c, F.lit(LAKE_SEP), F.lit(1))

    tok = prior_token
    spans = None
    sweep_mode = "full"
    new_token = None
    swap_stage = None
    # PARTIAL: span df is ADDITIVE over the
    # dataset-disjoint lake-qualified ids, so the prior
    # per-dataset contribution tables + the prior df table
    # adjust with a delta instead of re-aggregating the
    # whole lake; only docs whose flag set could have
    # moved re-group. Everything unchanged streams
    # map-side (broadcast deltas behind 2M guards).
    changed_names = sorted(
        tagged_names - set(partial_unchanged))
    prior_swept = sorted(
        prior_counted - set(partial_unchanged))
    # Δ per fp = new contribution of changed datasets −
    # their (and removed/errored datasets') recorded one
    nc = None
    if changed_names:
        nc = (pos.where(_ds_of(F.col("id"))
                        .isin(changed_names))
              .select(_ds_of(F.col("id")).alias("dataset"),
                      "fp", "id")
              .groupBy("dataset", "fp")
              .agg(F.count_distinct("id").alias("n"))
              .localCheckpoint(eager=True))
    new_sum = (nc.groupBy("fp").agg(
        F.sum("n").alias("__nn")) if nc is not None
        else None)
    old_sum = None
    if prior_swept:
        old_sum = (spark.read.parquet(contrib_path)
                   .where(F.col("dataset")
                          .isin(prior_swept))
                   .groupBy("fp")
                   .agg(F.sum("n").alias("__no")))
    if new_sum is not None and old_sum is not None:
        dl = new_sum.join(old_sum, "fp", "full")
    elif new_sum is not None:
        dl = new_sum.withColumn(
            "__no", F.lit(None).cast("long"))
    elif old_sum is not None:
        dl = old_sum.withColumn(
            "__nn", F.lit(None).cast("long"))
    else:
        dl = None
    if dl is not None:
        dl = (dl.select(
            "fp",
            (F.coalesce(F.col("__nn"), F.lit(0))
             - F.coalesce(F.col("__no"), F.lit(0)))
            .alias("__dn"))
            .where(F.col("__dn") != 0)
            .localCheckpoint(eager=True))
        if dl.count() > 2_000_000:
            dl = False  # delta too big to broadcast
    ok = dl is not False
    if ok and dl is None:
        # no contributing delta at all (e.g. a dataset
        # that never swept erroring again): artifacts are
        # untouched, so the prior token stays valid
        dup_src = spark.read.parquet(df_path)
        flipped = None
    elif ok:
        prior_df = spark.read.parquet(df_path)
        # ONE pass over the lake-sized prior df extracts
        # everything Δ-related (old counts of matched fps
        # — small output, pinned), so the expensive table
        # scans exactly twice per partial night: here and
        # in the adjusted rewrite below
        od = (prior_df.join(F.broadcast(dl), "fp")
              .select("fp", F.col("df").alias("__od"),
                      "__dn")
              .localCheckpoint(eager=True))
        # fps new to the lake = Δ minus the matched ones
        # (small-small anti)
        brand_new = (dl.join(od.select("fp"), "fp",
                             "left_anti")
                     .select("fp",
                             F.col("__dn").alias("df"))
                     .where(F.col("df") > 0)
                     .localCheckpoint(eager=True))
        adjusted = (prior_df.join(F.broadcast(dl), "fp",
                                  "left")
                    .select("fp",
                            (F.col("df") + F.coalesce(
                                F.col("__dn"), F.lit(0)))
                            .alias("df"))
                    .where(F.col("df") > 0)
                    .unionByName(brand_new))
        df_stage = df_path + "_stage"
        adjusted.write.mode("overwrite").parquet(df_stage)
        # fps whose min_df FLAG flipped (⊆ Δ fps): only
        # their docs can change verdicts
        flipped_existing = od.where(
            (F.col("__od") >= min_df)
            != (F.col("__od") + F.col("__dn") >= min_df)
        ).select("fp")
        flipped_new = brand_new.where(
            F.col("df") >= min_df).select("fp")
        flipped = (flipped_existing
                   .unionByName(flipped_new)
                   .distinct().localCheckpoint(eager=True))
        dup_src = spark.read.parquet(df_stage)
    if ok:
        hit_ids = None
        if flipped is not None and partial_unchanged:
            hit_ids = (pos.where(
                _ds_of(F.col("id"))
                .isin(partial_unchanged))
                .join(F.broadcast(flipped), "fp",
                      "left_semi")
                .select("id").distinct()
                .localCheckpoint(eager=True))
            if hit_ids.count() > 2_000_000:
                ok = False  # a flip hit too much to carry
                # don't orphan the (lake-sized) staged df
                # the full path below won't consume
                po.delete(df_path + "_stage")
    if ok:
        sweep_mode = "partial"
        re_parts = []
        if changed_names:
            re_parts.append(pos.where(
                _ds_of(F.col("id")).isin(changed_names)))
        if hit_ids is not None:
            re_parts.append(pos.join(
                F.broadcast(hit_ids), "id", "left_semi"))
        dup_new = dup_src.where(
            F.col("df") >= min_df).select("fp")
        re_rows = union_all(re_parts)
        new_spans = (span_runs(re_rows.join(dup_new, "fp"),
                               kk, ww, min_span)
                     if re_rows is not None else None)
        # carry prior spans of unchanged datasets' docs
        # that were NOT re-evaluated, re-qualified so the
        # shared writer below re-splits them uniformly
        carried = None
        if po.is_dir(target):
            pvs = (spark.read.parquet(target)
                   .where(F.col("dataset")
                          .isin(partial_unchanged)))
            pvs = pvs.withColumn(
                "__qid",
                F.concat_ws(LAKE_SEP, F.col("dataset"),
                            F.col("id")))
            if hit_ids is not None:
                pvs = pvs.join(
                    F.broadcast(hit_ids.select(
                        F.col("id").alias("__qid"))),
                    "__qid", "left_anti")
            carried = pvs.select(
                F.col("__qid").alias("id"),
                "span_start", "span_end")
        spans = union_all((new_spans, carried))
        if spans is None:
            spans = spark.createDataFrame(
                [], "id string, span_start long, "
                    "span_end long")
        # the merged plan reads the tables it replaces —
        # pin before any swap
        spans = spans.localCheckpoint(eager=True)
        if dl is None:
            new_token = tok  # artifacts untouched
        else:
            new_token = _uuid.uuid4().hex
            swap_stage = df_stage
            # invalidate the contrib token BEFORE mutating
            # the partitions — a crash mid-mutation must
            # read as token-mismatch (full rebuild), never
            # as a stale-but-trusted contribution table
            po.delete(posixpath.join(
                contrib_path, "_token.json"))
            if nc is not None:
                nc.write.mode("overwrite").option(
                    "partitionOverwriteMode", "dynamic"
                ).partitionBy("dataset").parquet(
                    contrib_path)
            # stale partitions must GO for every
            # prior-swept dataset that contributed no rows
            # tonight — including a CHANGED dataset whose
            # new sidecar is empty (dynamic overwrite never
            # touches a partition it has no rows for; a
            # survivor would double-subtract on the next
            # delta). Partition dirs are Spark-escaped, so
            # the delete must escape the name the same way.
            present = ({r["dataset"] for r in
                        nc.select("dataset").distinct()
                        .collect()}
                       if nc is not None else set())
            for gone in prior_swept:
                if gone not in present:
                    po.delete(posixpath.join(
                        contrib_path,
                        "dataset="
                        + escape_partition_value(gone)))
    return spans, sweep_mode, new_token, swap_stage


def neardup_pairs_night(
    spark,
    po,
    *,
    union,
    rep_base: str,
    prior_edges,
    partial_ctx,
    tagged_names: set,
    n_bands: int,
    max_bucket_size,
    incremental: bool,
):
    """The neardup sweep's candidate-pair phase: delta-banding
    against the persisted ``_pairs`` edge set when ``partial_ctx``
    makes it legal (edge-count integrity re-verified here), else the
    full banding path (checkpointed once when the cap needs two
    outputs), plus the incremental persist + commit token. Returns
    ``(pairs, sweep_mode, overcap_keys, n_edges, new_pairs_token)``;
    see ``Datalake.neardup_dedup`` for the artifact layout and the token
    protocol."""
    import uuid as _uuid

    from pyspark.sql import functions as F

    from pydala_spark.operators.dedup import (
        lsh_candidate_pairs,
        lsh_candidate_pairs_delta,
    )

    sweep_mode = "full"
    overcap_keys: list = []
    n_edges = None
    new_pairs_token = None
    pairs = None
    prior_pairs = None
    if partial_ctx is not None:
        # edge-set integrity: the token
        # proves the COMMIT completed, not that every part-file
        # survived since — a lost file would silently drop
        # unchanged-unchanged edges. One metadata-only parquet
        # count vs the summary's recorded _edges; a mismatch OR
        # an unreadable table (all part-files gone, token left)
        # falls through to the full banding path below.
        try:
            prior_pairs = spark.read.parquet(
                posixpath.join(rep_base, "_pairs"))
            if prior_pairs.count() != int(prior_edges):
                prior_pairs = None
        except Exception:
            prior_pairs = None
    if partial_ctx is not None and prior_pairs is not None:
        unchanged_names, prior_oc = partial_ctx
        pp_unchanged = prior_pairs.where(
            F.substring_index(F.col("id_a"), LAKE_SEP, 1)
            .isin(unchanged_names)
            & F.substring_index(F.col("id_b"), LAKE_SEP, 1)
            .isin(unchanged_names)
        )
        changed_names = sorted(tagged_names - set(unchanged_names))
        pairs = lsh_candidate_pairs_delta(
            union, "__lid",
            is_changed=F.substring_index(
                F.col("__lid"), LAKE_SEP, 1).isin(changed_names),
            prior_pairs_unchanged=pp_unchanged,
            prior_overcap=prior_oc,
            n_bands=n_bands,
            max_bucket_size=max_bucket_size,
        )
        if pairs is not None:
            sweep_mode = "partial"
            overcap_keys = list(prior_oc)
    if pairs is None and incremental and max_bucket_size is not None:
        # the full path under incremental with a cap needs TWO
        # outputs of the banding shuffle — the pairs and the
        # over-cap keys the next delta night pins against — so
        # pay it once: checkpoint the bucket frame and derive
        # both from it. (cap None has one consumer: no keys to
        # record, so the plain streaming plan below wins)
        from pydala_spark.operators.dedup import (
            bucket_pairs,
            lsh_buckets,
        )

        bks = lsh_buckets(
            union, "__lid", n_bands,
        ).localCheckpoint(eager=True)
        # bounded: over-cap buckets are <= n_docs/cap by
        # construction (usually zero)
        overcap_keys = [
            (int(r["band_id"]), r["band_hash"])
            for r in bks
            .where(F.size("ids") > max_bucket_size)
            .select("band_id", "band_hash").collect()
        ]
        bks = bks.where(F.size("ids") <= max_bucket_size)
        pairs = bucket_pairs(bks)
    elif pairs is None:
        pairs = lsh_candidate_pairs(
            union, "__lid", n_bands=n_bands,
            max_bucket_size=max_bucket_size,
        )
    if incremental:
        # the next night's delta path needs tonight's edges —
        # pin them first (the partial path READS _pairs and
        # this overwrites it: classic self-referential write)
        pairs = pairs.localCheckpoint(eager=True)
        n_edges = pairs.count()
        pairs.write.mode("overwrite").parquet(
            posixpath.join(rep_base, "_pairs"))
        # commit token: written AFTER the parquet, echoed as
        # _artifacts in the summary. Underscore prefix ⇒ Spark's
        # parquet reader ignores it. A crash anywhere between here
        # and the summary write leaves token ≠ _artifacts and the next
        # night takes the full path instead of pairing against a
        # stale over-cap list.
        new_pairs_token = _uuid.uuid4().hex
        write_token(po, posixpath.join(rep_base, "_pairs"),
                    new_pairs_token)
    return pairs, sweep_mode, overcap_keys, n_edges, new_pairs_token


def commit_verdicts(spark, po, frame, target: str, staged: bool = False):
    """Land a ``dataset=``-partitioned verdict/report table and return
    it re-read from disk (the writeback every lake-global sweep does).
    ``staged=True`` is the partial nights' crash rule: the merged plan
    READS the table it replaces, so write ``<target>_stage`` and swap
    it in through ``PathOps.commit_stage`` — a crash mid-swap is
    finished forward by the next night's :class:`NightGate`."""
    if staged:
        stage = target + "_stage"
        frame.write.mode("overwrite").partitionBy("dataset").parquet(stage)
        po.commit_stage(target, stage)
    else:
        frame.write.mode("overwrite").partitionBy("dataset").parquet(target)
    return spark.read.parquet(target)


def neardup_partial_ctx(
    po,
    *,
    rep_base: str,
    prior: dict,
    unchanged: set,
    tagged_names: set,
    results: dict,
    n_bands: int,
):
    """PARTIAL-INCREMENTAL legality for the neardup sweep: prior edges
    between
    two UNCHANGED datasets are still exactly the full sweep's (an
    unchanged doc's band hashes cannot move), so only buckets touched
    by changed docs need pairing. Legal only when the prior run
    persisted its edge set + over-cap keys under THIS config (config
    mismatch already nulled ``prior`` when it was loaded).

    Returns ``(sorted unchanged names, prior over-cap keys)`` when the
    delta path is legal, else ``None`` (full sweep):

    - delta-size guard: the delta path force-broadcasts the
      touched-bucket keys (changed_docs × n_bands). A huge delta (a
      big dataset fully re-ingested) would OOM the broadcast where the
      plain full sweep succeeds — refuse partial past ~2M keys
      (~100 MB broadcast) or when any changed dataset's row count is
      unknown. Savings-wise a big delta gains little anyway;
      correctness never depends on taking the partial path.
    - commit-token guard: the ``_pairs`` edge set and the
      summary's ``_overcap`` list are written ~seconds apart (the
      heavy verdict write sits between them). A crash in that window
      leaves a NEW edge set against a STALE over-cap list — the next
      partial night would silently omit unchanged-unchanged pairs from
      buckets that were over-cap in the crashed run. The span sweep's
      ``_token.json`` pattern closes it: ``_pairs`` commits under a
      uuid the summary echoes as ``_artifacts``; any mismatch (crash
      on either side of the window) degrades to the full sweep.
    """
    changed_rows = 0
    rows_known = True
    for n in tagged_names - unchanged:
        m = results[n].get("marker")
        if not (isinstance(m, dict) and "rows" in m):
            rows_known = False
            break
        changed_rows += int(m["rows"])
    tok = prior.get("_artifacts")
    if (unchanged
            and rows_known
            and changed_rows * n_bands <= 2_000_000
            and prior.get("_edges") is not None
            and prior.get("_overcap") is not None
            and tok is not None
            and read_token(po, posixpath.join(rep_base, "_pairs")) == tok):
        return (
            sorted(unchanged),
            [tuple(x) for x in prior["_overcap"]],
        )
    return None


def sig_path(signatures_root: str | None, name: str) -> str | None:
    """Out-of-place sidecar host for one dataset (the READ-ONLY-lake
    layout): ``<signatures_root>/<name>``, or ``None`` for beside-the-
    data sidecars."""
    from pydala_spark.utils.pathops import strip_scheme

    return (
        posixpath.join(strip_scheme(signatures_root).rstrip("/"), name)
        if signatures_root else None
    )


def pooled(items, fn, max_concurrency: int, serial_while=None):
    """The per-dataset pooling scaffold every sweep night runs on:
    run ``fn(name, base)`` over ``items``, from a
    thread pool when ``max_concurrency`` allows (Spark's scheduler
    interleaves concurrent jobs; per-dataset faults stay contained in
    ``fn`` exactly as in the serial path). ``serial_while`` keeps the
    head of the list serial while it returns True — the semantic
    sweeps' determinism rule that the SAME dataset trains the lake
    codebook that the serial path would pick. Returns entries in
    ``items`` order."""
    if max_concurrency > 1 and len(items) > 1:
        out = []
        idx = 0
        if serial_while is not None:
            while idx < len(items) and serial_while():
                out.append(fn(*items[idx]))
                idx += 1
        rest = items[idx:]
        if rest:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=max_concurrency) as pool:
                out.extend(pool.map(lambda nb: fn(*nb), rest))
        return out
    return [fn(*nb) for nb in items]

def frame_marker(frame, id_col: str, content) -> dict:
    """Content marker of a frame — ``rows`` + xor of ``xxhash64(id,
    content)`` — the exact formula sidecar ``_params.json`` markers use
    (``dataset/maintain.py``), so a benchmark frame's marker is
    comparable across sweeps the same way a corpus marker is. ONE
    narrow aggregate."""
    from pyspark.sql import functions as F

    row = frame.agg(
        F.count("*").alias("rows"),
        F.coalesce(
            F.bit_xor(F.xxhash64(F.col(id_col), content)), F.lit(0)
        ).alias("xor"),
    ).collect()[0]
    return {"rows": int(row["rows"]), "xor": int(row["xor"])}


def edge_balloon_warning(
    n_edges: int, total_docs: int, multiple: float
) -> str | None:
    """Viral-night tripwire: the persisted neardup
    edge set is normally orders below corpus size, but a
    boilerplate-heavy ingest pairs quadratically inside its bucket —
    warn when it exceeds ``multiple`` × the corpus doc count."""
    if total_docs > 0 and n_edges > multiple * total_docs:
        return (
            f"persisted edge set ({n_edges} pairs) exceeds {multiple}x "
            f"the corpus doc count ({total_docs}) — a viral-duplicate "
            "ingest is ballooning _pairs; lower max_bucket_size or "
            "delete _pairs to regenerate from a full sweep"
        )
    return None



def update_report_entries(
    results: dict, written, target: str, counts: dict
) -> None:
    """Write each dataset's counts back after a verdict table lands:
    one groupBy(dataset) over the written rows, then each dataset's
    entry gets its report partition path and the int-cast ``counts``
    (``{entry_key: aggregate column}``)."""
    from pydala_spark.utils.pathops import escape_partition_value

    aggs = [col.alias(k) for k, col in counts.items()]
    for r in written.groupBy("dataset").agg(*aggs).collect():
        results[r["dataset"]].update({
            "report": posixpath.join(
                target,
                "dataset=" + escape_partition_value(r["dataset"])),
            **{k: int(r[k]) for k in counts},
        })
