"""Incremental / streaming ingestion.

The reference's incremental model is micro-batch append with delta
detection (SURVEY §2.8) — no true streaming operators exist there. Here:

- :func:`incremental_append` — the reference-parity path: a
  ``foreachBatch`` sink that funnels every micro-batch through
  ``Writer.write(mode='delta')``, so exactly the anti-diff semantics of
  batch delta mode apply continuously.
- :func:`windowed_counts` — the extension path: watermarked tumbling-
  window aggregation for late-data-tolerant rollups.
- the streaming dedup family — exact (:func:`streaming_dedup`),
  near-dup (:func:`streaming_neardup`, incremental MinHash-LSH against
  a persisted bucket store) and semantic
  (:func:`~pydala_spark.streaming.stateful.streaming_semantic_dedup`).

Both work against file sources (``readStream`` over a directory), which
is also how they're smoke-tested without a message bus.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from pydala_spark.dataset.writer import Writer


def incremental_append(
    stream_df: DataFrame,
    writer: Writer,
    delta_subset: Sequence[str] | None = None,
    datetime_column: str | None = None,
    checkpoint_dir: str | None = None,
    trigger_once: bool = True,
    compact_every: int | None = None,
    target_file_mb: int = 128,
    zorder_by: Sequence[str] | None = None,
    swap: str = "rename",
    transform_func=None,
    transform_func_kwargs: dict | None = None,
) -> StreamingQuery:
    """Continuously append only-new rows to a dataset (delta semantics per
    micro-batch; reference writer.py:219-249 made streaming).

    ``transform_func`` (DataFrame -> DataFrame, the reference's per-batch
    hook made streaming — writer.py:486-490) runs on each micro-batch
    BEFORE the delta diff, so the dataset stores the transformed rows and
    dedups on them. This is the streaming-index pattern: e.g.
    ``transform_func=lambda b: ivf_pq_encode(b, centroids, books)`` with
    a cell-partitioned writer maintains an IVFADC ANN index continuously
    from an embedding stream (pinned codebooks keep streaming and batch
    encodes byte-identical).

    ``compact_every=N`` folds maintenance into the stream: after every
    Nth micro-batch the dataset's small files are rewritten to
    ~``target_file_mb`` files (``maintain.compact``) — or, when
    ``zorder_by`` names cluster columns, reclustered on the z-order
    curve (``maintain.recluster``) so multi-column min/max pruning
    survives arrival-ordered ingestion. Streaming appends accrete tiny,
    time-ordered files; at 100 TB the scan cost of an unmaintained
    stream sink becomes task scheduling + footer reads, so the
    maintenance has to ride along with ingestion rather than wait for an
    offline pass. It runs on the driver inside foreachBatch, serialized
    with the writes — no concurrent-rewrite races with the next batch.
    ``swap="generation"`` makes the ride-along maintenance object-store-
    safe (pointer commit instead of directory rename); the Writer
    re-resolves the pointer per batch, so appends follow each advance.
    """
    if zorder_by and writer.format != "parquet":
        # recluster reads/writes parquet only; discovering that on the
        # Nth batch would kill a long-running stream mid-flight
        raise ValueError(
            f"zorder_by requires a parquet writer (got format="
            f"{writer.format!r}); use compact_every without zorder_by"
        )
    if zorder_by and writer.partition_by:
        # zorder_write emits an UNPARTITIONED layout — reclustering a
        # hive-partitioned stream sink would flatten it and the next
        # delta batch would mix layouts (partition dir vs data column)
        raise ValueError(
            "zorder_by cannot recluster a hive-partitioned writer "
            f"(partition_by={list(writer.partition_by)}); drop one of the two"
        )
    if compact_every and writer.format not in ("parquet", "csv", "json", "orc"):
        # compact() reads and rewrites through Spark datasources only;
        # feather has none and would kill the stream on the Nth batch
        raise ValueError(
            f"compact_every is not supported for format={writer.format!r} "
            "(no Spark datasource to re-read it with)"
        )

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        writer.write(
            batch_df,
            mode="delta",
            delta_subset=delta_subset,
            datetime_column=datetime_column,
            transform_func=transform_func,
            transform_func_kwargs=transform_func_kwargs,
        )
        if compact_every and (epoch_id + 1) % compact_every == 0:
            from pydala_spark.dataset.maintain import compact, recluster

            try:
                # maintain the dataset BASE (_orig_path): with the
                # generation swap, writer.path is a resolved generation
                # dir that the commit supersedes
                if zorder_by:
                    recluster(
                        batch_df.sparkSession,
                        writer._orig_path,
                        list(zorder_by),
                        compression=writer.compression,
                        swap=swap,
                    )
                else:
                    compact(
                        batch_df.sparkSession,
                        writer._orig_path,
                        target_file_mb=target_file_mb,
                        format=writer.format,
                        compression=writer.compression,
                        swap=swap,
                    )
            except FileNotFoundError:
                # nothing written yet (empty first micro-batches) — the
                # stream must not die on a maintenance no-op
                pass

    ws = stream_df.writeStream.foreachBatch(sink)
    if checkpoint_dir:
        ws = ws.option("checkpointLocation", checkpoint_dir)
    if trigger_once:
        ws = ws.trigger(availableNow=True)
    return ws.start()


def session_windows(
    stream_df: DataFrame,
    ts_col: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    key_cols: Sequence[str] = ("user_id",),
) -> DataFrame:
    """Session-window aggregation: events separated by less than ``gap``
    merge into one session per key (Structured Streaming's native
    session_window — the streaming form of the batch sessionize query)."""
    return (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("win"), *key_cols)
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            *key_cols,
            "n_events",
        )
    )


def windowed_counts(
    stream_df: DataFrame,
    ts_col: str = "ts",
    window: str = "5 minutes",
    watermark: str = "10 minutes",
    group_cols: Sequence[str] = ("event_type",),
) -> DataFrame:
    """Watermarked tumbling-window counts/sums (Structured Streaming
    extension beyond reference parity)."""
    return (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("win"), *group_cols)
        .agg(F.count("*").alias("n"))
        .select(F.col("win.start").alias("window_start"), *group_cols, "n")
    )


def streaming_dedup(
    stream_df: DataFrame,
    subset: Sequence[str] | None = None,
    text_col: str | None = None,
    ts_col: str | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Exact dedup on ingest — the streaming form of the batch
    ``dedup_exact`` / subset-dedup family (operators/dedup.py), for a
    continuously-fed corpus.

    ``text_col`` dedups by content using the batch operators'
    :func:`~pydala_spark.operators.textstats.fingerprint` (md5 of
    case/punctuation-normalized text), so a batch backfill and the
    stream agree on what is a duplicate. Otherwise ``subset`` names the
    key columns directly.

    State at 100 TB is the concern, not the shuffle: with ``ts_col``
    set, keys are dropped from the dedup state once the watermark passes
    (``dropDuplicatesWithinWatermark`` — duplicates in a stream land
    close together in event time, so bounded state buys near-exact
    dedup). Without ``ts_col`` the state grows with distinct keys
    forever — correct, but only for bounded key domains.
    """
    from pydala_spark.operators.textstats import fingerprint

    df = stream_df
    keys: list[str]
    if text_col is not None:
        # fingerprint is NULL for empty normalized text (punctuation-only
        # docs); dropDuplicates treats NULL keys as equal, which would
        # collapse every contentless doc into one. Fall back to md5 of
        # the RAW text (\x00 prefix — outside the hex fingerprint
        # alphabet): byte-identical contentless docs still dedup, while
        # different ones stay distinct.
        df = df.withColumn(
            "__fp",
            F.coalesce(
                fingerprint(text_col),
                F.md5(
                    F.concat(
                        F.lit("\x00raw\x00"),
                        F.coalesce(F.col(text_col), F.lit("")),
                    )
                ),
            ),
        )
        keys = ["__fp"]
    elif subset:
        keys = list(subset)
    else:
        raise ValueError("streaming_dedup needs text_col or subset")
    if ts_col is not None:
        out = df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)
    else:
        out = df.dropDuplicates(keys)
    return out.drop("__fp") if text_col is not None else out


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    lower: str = "0 seconds",
    upper: str = "10 minutes",
    watermark: str = "10 minutes",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream interval join (event enrichment at ingest): a left
    event matches right events with the same ``key`` whose timestamp
    falls in ``[left_ts - lower, left_ts + upper]`` — e.g. joining
    clicks to the purchases that follow within ten minutes, while both
    sides are still flowing.

    Both sides carry a watermark, which is what makes this bounded at
    100 TB: the join state holds only rows inside
    watermark + interval bounds — late data beyond it is dropped, state
    is purged as the watermark advances, and the join itself is a
    key-partitioned shuffle like its batch counterpart. ``how`` may be
    any join type Structured Streaming supports for stream-stream joins
    (inner, leftOuter, rightOuter, fullOuter — outer results emit only
    once the watermark closes the interval).

    Column naming: the right side's key and timestamp are returned as
    ``right_<name>`` so the joined schema never collides.

    Oracle note: the ROW-MATCHING semantics (same key, right_ts within
    an interval of left_ts) are exactly the batch range join already
    exact-checked as ``q_range_join``; what this operator adds is the
    streaming execution (watermarks, state purging, append emission),
    which is not SQL-expressible and is pinned by pytest instead — the
    same convention as every §2.8 streaming operator.
    """
    l_al = left.withWatermark(left_ts, watermark).alias("l")
    r_pref = right.select(
        *[F.col(c).alias(f"right_{c}") for c in right.columns]
    )
    r_al = r_pref.withWatermark(f"right_{right_ts}", watermark).alias("r")
    # backquoted identifiers: a hyphenated/spaced column name must not
    # parse as arithmetic inside the expr (r4 review)
    cond = F.expr(
        f"l.`{key}` = r.`right_{key}` AND "
        f"r.`right_{right_ts}` >= l.`{left_ts}` - interval {lower} AND "
        f"r.`right_{right_ts}` <= l.`{left_ts}` + interval {upper}"
    )
    return l_al.join(r_al, cond, how)

def streaming_decontaminate(
    stream_df: DataFrame,
    benchmark: DataFrame | None,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    window: int = 4,
    min_hits: int = 1,
    flag_col: str | None = None,
    benchmark_fps: DataFrame | None = None,
    benchmark_signatures: str | None = None,
    verify: bool = True,
) -> DataFrame:
    """Ingest-time benchmark decontamination — the streaming face of
    :func:`~pydala_spark.operators.dedup.winnowing_contamination`
    (round 8, late): documents arriving on a stream that share at least
    ``min_hits`` winnowing fingerprints with any benchmark document are
    dropped before they ever land (or annotated when ``flag_col`` names
    an output column — route to quarantine instead of silently
    discarding). A doc that slips past the nightly
    ``Datalake.decontaminate`` cron sits in training shards until the
    next sweep; this closes that window at the door.

    ZERO state and ZERO shuffles — the streaming-safe construction: the
    benchmark's distinct fingerprint set collects once and rides a
    ONE-ROW broadcast static frame (array as DATA, not as a literal
    expression tree — a 100k-fp benchmark would otherwise blow up
    codegen), and each arriving doc counts shared fingerprints IN-ROW
    via ``array_intersect`` over its own fingerprint array. Both
    arrays are distinct, so the count is value-identical to the batch
    operator's ``count_distinct`` join — same verdicts on backfill and
    stream. Benchmark size is the one knob to watch: the fp set lives
    in executor memory (~32 B/fp; a million-passage benchmark is
    ~tens of MB — fine; re-block with the batch sweep beyond that).

    ``benchmark`` is a STATIC ``(id_col, text_col)`` frame;
    ``benchmark_fps`` passes a precomputed ``(id, fps)`` frame instead,
    and ``benchmark_signatures`` (round 9) goes one step further: the
    PATH of the benchmark dataset whose ``winnowing`` signature sidecar
    (:func:`~pydala_spark.dataset.maintain.materialize_signatures`)
    holds the fingerprints — hash once at benchmark ingest, guard every
    stream. The sidecar's recorded k/window are pinned against this
    call's (``expect=``), and ``verify=True`` (default) re-checks its
    content marker against the live ``benchmark`` frame — a benchmark
    edited after materialization raises instead of silently letting
    fresh leakage through the door. Verification NEEDS the live frame:
    ``verify=True`` with ``benchmark=None`` raises (round 10 — it used
    to silently skip the marker check, the one shape where a caller
    believed they were guarded and weren't); trusting the sidecar
    without the marker scan is an explicit ``verify=False``, the same
    loud-trust convention every other sidecar consumer follows.

    The fp set is built by ONE distributed explode→distinct→collect_set
    aggregate — executor-side dedup, a single driver row carrying the
    final array — not a per-row collect.
    """
    from pydala_spark.operators.textstats import winnowing_fingerprints

    spark = stream_df.sparkSession
    if benchmark_signatures is not None:
        if benchmark_fps is not None:
            raise ValueError(
                "streaming_decontaminate: pass benchmark_fps= OR "
                "benchmark_signatures=, not both — two fingerprint "
                "sources cannot both be authoritative"
            )
        from pydala_spark.dataset.maintain import read_signatures

        if verify and benchmark is None:
            # fail loud (VERDICT r9 #3): without the live benchmark
            # frame there is nothing to verify the sidecar's content
            # marker against — silently skipping would leave the
            # caller believing verify=True guarded them when it didn't
            raise ValueError(
                "streaming_decontaminate: verify=True needs the live "
                "benchmark= frame to check the sidecar's content "
                "marker against — pass benchmark=, or pass "
                "verify=False to explicitly trust the sidecar"
            )
        bf, _params = read_signatures(
            spark, benchmark_signatures, "winnowing",
            expect={"k": k, "window": window},
            verify_against=(benchmark if verify else None),
        )
    elif benchmark_fps is not None:
        bf = benchmark_fps
    else:
        if benchmark is None:
            raise ValueError(
                "streaming_decontaminate: no fingerprint source — pass "
                "benchmark= (a text frame), benchmark_fps= (a "
                "fingerprint frame) or benchmark_signatures= (a sidecar "
                "path)"
            )
        bf = winnowing_fingerprints(benchmark, id_col, text_col,
                                    k=k, window=window)
    # distinct fingerprint set as ONE aggregate: dedup happens on the
    # executors (explode + distinct), the driver receives exactly one
    # row holding the final sorted array (~32 B/fp — the documented
    # benchmark-size bound), and createDataFrame re-ships it as DATA
    # so a restarted/cloned stream never re-runs the aggregate
    row = (
        bf.select(F.explode("fps").alias("__f"))
        .distinct()
        .agg(F.array_sort(F.collect_list("__f")).alias("__fps"))
        .collect()
    )
    fps_set = list(row[0]["__fps"]) if row and row[0]["__fps"] else []
    bench_static = spark.createDataFrame(
        [(fps_set,)], "__bench_fps array<string>"
    )
    with_fps = winnowing_fingerprints(
        stream_df, id_col, text_col, k=k, window=window, keep_columns=True
    )
    joined = with_fps.join(F.broadcast(bench_static), F.lit(True), "inner")
    hits = F.size(F.array_intersect(F.col("__fps"), F.col("__bench_fps")))
    if flag_col:
        return joined.select(
            "*", hits.alias(flag_col)
        ).drop("__fps", "__bench_fps")
    return joined.where(hits < min_hits).drop("__fps", "__bench_fps")


def streaming_neardup(
    stream_df: DataFrame,
    out_path: str,
    state_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 8,
    n_bands: int = 4,
    shingle_size: int | None = None,
    seed: int = 0,
    shingle_mode: str = "word",
    max_bucket_size: int | None = 1000,
    checkpoint_dir: str | None = None,
    trigger_once: bool = True,
    format: str = "parquet",
    compact_store_every: int | None = None,
    store_target_file_mb: int = 128,
) -> StreamingQuery:
    """MinHash-LSH NEAR-duplicate dedup on ingest — completes the
    streaming dedup family (exact: :func:`streaming_dedup`, semantic:
    :func:`~pydala_spark.streaming.stateful.streaming_semantic_dedup`).

    Shape: incremental micro-batch LSH via ``foreachBatch`` against a
    persisted BUCKET STORE rather than operator state — near-dup needs
    corpus-wide memory (every doc ever seen can collide with a future
    arrival), which belongs on disk, not in a state store:

    1. each batch computes the batch operators' exact MinHash
       signatures (:func:`~pydala_spark.operators.dedup.
       minhash_signatures` — identical hashes to the batch path and the
       ``materialize_signatures`` sidecars, same seed semantics);
    2. docs sharing ANY (band, band_hash) bucket with the store are
       near-dups of an earlier arrival -> dropped (one semi/anti join —
       no pair explosion across batches; AQE broadcasts the batch's
       band frame against the store scan);
    3. intra-batch survivors dedup through
       :func:`~pydala_spark.operators.dedup.lsh_candidate_pairs`
       (greedy: each pair's higher id drops; ``max_bucket_size`` caps
       degenerate buckets exactly as in batch);
    4. survivors append to ``out_path``; their band rows append to the
       store.

    Keep-first-arrival across batches, smallest-id within a batch —
    matching the batch pipeline's greedy rule on an in-order stream.
    The store survives restarts (a new query resumes deduping against
    everything already ingested). Store size is one row per (doc, band)
    — ``n_bands`` small rows per corpus doc, compact relative to the
    corpus — but every epoch APPENDS a fresh parquet file set, so the
    store's FILE COUNT grows one set per micro-batch forever and the
    per-epoch store scan degrades into task scheduling + footer reads
    (the round-6 punch item). ``compact_store_every=N`` folds the fix
    into the stream, mirroring :func:`incremental_append`: after every
    N epochs the sink rewrites the store into ~``store_target_file_mb``
    files (:func:`~pydala_spark.dataset.maintain.compact`,
    ``swap="rename"`` so the plain ``spark.read.parquet(state_path)``
    the next epoch issues keeps working). Compaction runs INSIDE the
    sink after the epoch's band append — foreachBatch epochs are
    serial, so it can never race a store write from this query; do not
    point two concurrent queries at one store (the dedup semantics
    already forbid that).

    **At-least-once safety** (round-6 review): foreachBatch may REPLAY
    an epoch after a crash, and the two appends (survivors, then their
    band rows) are not atomic. The sink is idempotent by construction:
    survivors write FIRST with an anti-join against the ids already in
    ``out_path`` (a replayed batch appends nothing), and the band
    append runs second — if the crash fell between the two, the replay
    re-derives the same survivor set (their bands are still absent from
    the store) and completes the missing band write; if both committed,
    the replayed batch's docs collide with their own stored bands and
    the epoch is a no-op end to end."""
    from pydala_spark.operators.dedup import (
        band_frame,
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from pydala_spark.utils.pathops import PathOps

    if shingle_size is None:
        shingle_size = 7 if shingle_mode == "char" else 3

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        if batch_df.isEmpty():
            return
        sigs = minhash_signatures(
            batch_df.select(id_col, text_col), id_col, text_col,
            n_hashes=n_hashes, shingle_size=shingle_size, seed=seed,
            shingle_mode=shingle_mode,
        ).persist()
        try:
            # SAME band construction as the batch pair stage — shared
            # helper so the persisted store can never diverge on what a
            # band hash is (round-6 review)
            bands = band_frame(sigs, id_col, n_bands, seed=seed)
            # base on the BATCH ids, not the signature ids: a doc whose
            # text yields no shingles (NULL/empty) has no signature row,
            # cannot collide with anything, and must PASS THROUGH — an
            # id set derived from sigs would silently swallow it
            ids_all = batch_df.select(id_col).distinct()
            ops = PathOps(spark, state_path)
            if ops.data_files(state_path):
                store = spark.read.parquet(state_path)
                hit = (
                    bands.join(store, ["band_id", "band_hash"], "left_semi")
                    .select(id_col).distinct()
                )
                keep_ids = ids_all.join(hit, id_col, "left_anti")
            else:
                keep_ids = ids_all
            survivors_sigs = sigs.join(keep_ids, id_col, "left_semi")
            pairs = lsh_candidate_pairs(
                survivors_sigs, id_col, n_bands=n_bands,
                max_bucket_size=max_bucket_size, log_dropped=False,
                seed=seed,
            )
            losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
            final_ids = keep_ids.join(losers, id_col, "left_anti").persist()
            try:
                # replay idempotence, asymmetric ON PURPOSE: the OUT
                # write additionally anti-joins ids already written
                # (never append a doc twice), while the BAND write keys
                # on the full survivor set — after an out-committed/
                # bands-missing crash the replay must still write the
                # bands (the store semi-check upstream already makes
                # fully-committed docs a no-op: they collide with their
                # own stored bands and never reach final_ids)
                out_ids = final_ids
                out_ops = PathOps(spark, out_path)
                if out_ops.data_files(out_path):
                    out_ids = final_ids.join(
                        spark.read.format(format).load(out_path)
                        .select(id_col),
                        id_col, "left_anti",
                    )
                batch_df.join(out_ids, id_col, "left_semi").write.format(
                    format
                ).mode("append").save(out_path)
                band_frame(
                    sigs.join(final_ids, id_col, "left_semi"),
                    id_col, n_bands, seed=seed,
                ).write.mode("append").parquet(state_path)
            finally:
                final_ids.unpersist()
        finally:
            sigs.unpersist()
        if compact_store_every and (epoch_id + 1) % compact_store_every == 0:
            from pydala_spark.dataset.maintain import compact

            try:
                # rename-swap keeps the store a plain parquet directory
                # for the next epoch's read; serialized with writes by
                # construction (epochs are sequential in this query)
                compact(
                    spark, state_path,
                    target_file_mb=store_target_file_mb, swap="rename",
                )
            except FileNotFoundError:
                # store not born yet (every doc so far was a dup or the
                # first batches were empty) — maintenance must be a no-op
                pass

    ws = stream_df.writeStream.foreachBatch(sink)
    if checkpoint_dir:
        ws = ws.option("checkpointLocation", checkpoint_dir)
    if trigger_once:
        ws = ws.trigger(availableNow=True)
    return ws.start()
