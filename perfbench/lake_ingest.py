"""lake_ingest: one writer lands seeded ``events`` micro-batches into a
TimeFly-managed dataset with daily partitions.

Closed loop, one client. The timed window runs whole cycles of
``CYCLE`` commits — delta commits (30% of each batch re-sends landed
keys, which delta must drop) with an upsert of changed values every 4th
batch — plus a copy snapshot every ``SNAPSHOT_EVERY`` commits and a
compaction every ``COMPACT_EVERY``. Snapshots and compactions block the
writer, so their time counts in the window. An op is one commit and its
latency is one ``Writer.write``. The loop stops after the first whole
cycle that ends past ``--seconds``, so every run does the same mix.

Checks (a failed check counts one failed op): the key count and the
integer column sums match the generator after every compaction (so
compaction preserves count and checksum) and at the end; no
``event_id`` is duplicated; every upsert's values are visible; every
snapshot reads back its expected row count.

The traced run then reads the landed lake back through the read layers,
``READBACK_REPEATS`` times each, outside the window: ``Datalake.load``
and a ``Datalake.sql`` aggregate over ``events`` (``catalog``), a fresh
``Dataset`` over the live data (``dataset.reader``), and a fresh
``Dataset`` over two generator files whose ``user_id`` drifts from int32
to int64, which takes the unified-schema read (``schema``). Each result
is checked against the generator.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

from pyspark.sql import functions as F

import gen
from run import dir_bytes
from spans import Phases

CYCLE = 4  # = gen.INGEST_UPSERT_EVERY, so each cycle holds one upsert
SNAPSHOT_EVERY = 4
COMPACT_EVERY = 4
WARMUP_COMMITS = 1
N_BATCHES = 24  # four cycles; a window runs one unless a cycle takes under --seconds
READBACK_REPEATS = 3


def lake_state(spark, path: str) -> dict:
    """Row count, distinct keys and integer column sums of the dataset,
    read with plain Spark (not through the package under test)."""
    df = spark.read.option("basePath", path).parquet(path)
    r = df.agg(
        F.count(F.lit(1)).alias("rows"),
        F.countDistinct("event_id").alias("keys"),
        F.sum("event_id").alias("sum_event_id"),
        F.sum("user_id").alias("sum_user_id"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_cents"),
    ).first()
    return r.asDict()


def state_errors(got: dict, want: dict, where: str) -> list[str]:
    errs = []
    if got["rows"] != got["keys"]:
        errs.append(f"{where}: {got['rows'] - got['keys']} duplicate event_id rows")
    for k in ("rows", "sum_event_id", "sum_user_id", "sum_cents"):
        if got[k] != want[k]:
            errs.append(f"{where}: {k} {got[k]} != expected {want[k]}")
    return errs


def run(ctx) -> dict:
    from pydala_spark import TimeFly, Writer, compact
    from pydala_spark.dataset.writer import bucket_column
    from pydala_spark.utils.pathops import PathOps

    spark, tr = ctx.spark, ctx.tracer
    phase = Phases()
    manifest = gen.generate("lake_ingest", ctx.seed, ctx.inputs, n_batches=N_BATCHES)
    phase("generate")
    batches = manifest["batches"]
    base = os.path.join(ctx.lake, "events")
    tf = TimeFly(spark, base)
    tf.new()
    cur = tf.current_path
    writer = Writer(spark, cur)
    ops = PathOps(spark, cur)
    add_bucket = lambda df: df.withColumn("bucket", bucket_column("ts", "1d"))  # noqa: E731

    def commit(i: int) -> None:
        b = batches[i]
        df = spark.read.parquet(b["path"])
        if b["mode"] == "upsert":
            writer.write(df, mode="upsert", delta_subset=["event_id"],
                         transform_func=add_bucket)
        elif b["mode"] == "history":
            writer.write(df, mode="append", datetime_column="ts", time_bucket="1d")
        else:
            writer.write(df, mode="delta", delta_subset=["event_id"],
                         datetime_column="ts", time_bucket="1d")

    commit(0)
    phase("build")
    for i in range(1, WARMUP_COMMITS + 1):
        commit(i)
    setup_end = time.perf_counter()
    phase("warmup")
    errors: list[str] = []

    latencies: list[float] = []
    op_ids: list[str] = []
    window = 0.0
    attempted = failed = 0
    offered = 0
    landed = n_rows_before = None
    snapshots: list[tuple[str, int]] = []  # (stamp, expected rows)
    keep = {"offered": 0, "landed": 0}
    last_ok = WARMUP_COMMITS
    checked = None  # the last batch whose landed state was checked
    i = WARMUP_COMMITS + 1

    def timed(fn):
        nonlocal window
        t = time.perf_counter()
        fn()
        dt_ = time.perf_counter() - t
        window += dt_
        return dt_

    while (window < ctx.seconds or (i - WARMUP_COMMITS - 1) % CYCLE) and i < len(batches):
        b = batches[i]
        k = i - WARMUP_COMMITS  # 1-based commit number in the window
        op_id = f"commit-{i}"
        if tr.enabled:
            before = {p for p, _ in ops.data_files(cur)}
            n_rows_before = spark.read.option("basePath", cur).parquet(cur).count()
        attempted += 1
        try:
            with tr.op(op_id):
                with tr.span("dataset.writer.write", mode=b["mode"]):
                    latencies.append(timed(lambda: commit(i)))
            last_ok = i
            offered += b["offered"]
        except Exception as exc:  # the run goes on; the op counts as failed
            failed += 1
            errors.append(f"{op_id}: {type(exc).__name__}: {exc}"[:300])
        op_ids.append(op_id)
        if tr.enabled:
            with tr.span("utils.pathops.data_files") as c:
                after = {p for p, _ in ops.data_files(cur)}
                c["files"] = len(after)
            tr.count("files_listed", len(after))
            tr.count("files_written", len(after - before))
            landed = spark.read.option("basePath", cur).parquet(cur).count() - n_rows_before
            tr.count("rows_landed", landed)
            if b["mode"] == "delta":
                keep["offered"] += b["offered"]
                keep["landed"] += landed
        if b["mode"] == "upsert":
            attempted += 1
            if not upsert_visible(spark, cur, b["path"]):
                failed += 1
                errors.append(f"{op_id}: upserted values not visible")
        if k % SNAPSHOT_EVERY == 0:
            attempted += 1
            try:
                with tr.span("dataset.timefly.add_snapshot") as c:
                    stamp = [None]
                    timed(lambda: stamp.__setitem__(0, tf.add_snapshot()))
                    if tr.enabled:
                        c["bytes"] = dir_bytes(tf.snapshot_path(stamp[0]))
                snapshots.append((stamp[0], batches[last_ok]["expect"]["rows"]))
            except Exception as exc:
                failed += 1
                errors.append(f"snapshot after {op_id}: {type(exc).__name__}: {exc}"[:300])
        if k % COMPACT_EVERY == 0:
            attempted += 1
            want = batches[last_ok]["expect"]
            errs = []
            try:
                with tr.span("dataset.maintain.compact") as c:
                    stats = [None]
                    timed(lambda: stats.__setitem__(0, compact(spark, cur, target_file_mb=32)))
                    c.update(compact_counts(stats[0]))
                errs += state_errors(lake_state(spark, cur), want, f"after compact at {op_id}")
                checked = last_ok
            except Exception as exc:
                errs.append(f"compact at {op_id}: {type(exc).__name__}: {exc}"[:300])
            if errs:
                failed += 1
                errors.extend(errs)
        i += 1

    phase("window")
    # end-of-run checks, outside the window; the window ends on a
    # compaction, whose check usually covers the final state already
    if checked != last_ok:
        attempted += 1
        errs = state_errors(lake_state(spark, cur), batches[last_ok]["expect"], "final state")
        if errs:
            failed += 1
            errors.extend(errs)
    for stamp, rows in snapshots:
        attempted += 1
        with tr.span("dataset.timefly.read"):
            got = tf.read(stamp).count()
        if got != rows:
            failed += 1
            errors.append(f"snapshot {stamp}: {got} rows != expected {rows}")

    phase("final_check")
    once = gen.ingest_state_bytes(manifest, last_ok, os.path.join(ctx.work, "once.parquet"))
    res = {
        "setup_end": setup_end,
        "latencies": latencies,
        "window_s": window,
        "ops": len(latencies),
        "rows_offered": offered,
        "attempted": attempted,
        "failed": failed,
        "errors": errors,
        "bytes_ratio": dir_bytes(base) / once,
        "op_ids": set(op_ids),
        "notes": {"commits": len(latencies), "snapshots": len(snapshots),
                  "last_batch": last_ok, "phase_s": phase.seconds, **manifest["rates"]},
    }
    if tr.enabled:
        errs, n = read_back(ctx, manifest, cur, batches[last_ok]["expect"])
        res["attempted"] += n
        res["failed"] += len(errs)
        errors.extend(errs)
        res["layers"] = ingest_layers(tr, keep, set(op_ids))
    return res


def read_back(ctx, manifest: dict, cur: str, want: dict) -> tuple[list[str], int]:
    """The read layers over the landed lake: catalog load and SQL, a fresh
    ``Dataset`` over the live data and one over the drifted files.
    Returns the failed checks and the number of checks made."""
    import pydala_spark.schema
    from pydala_spark import Datalake, Dataset

    spark, tr = ctx.spark, ctx.tracer
    drifted = os.path.join(ctx.lake, "drifted")
    os.makedirs(drifted)
    for k, path in enumerate(manifest["drifted"]["files"]):
        shutil.copyfile(path, os.path.join(drifted, f"part-{k}.parquet"))
    drift_want = (manifest["drifted"]["rows"], manifest["drifted"]["sum_user_id"])
    # reached only from inside Dataset.load (the unified-schema read)
    tr.wrap(pydala_spark.schema, "get_unified_schema", "schema.get_unified_schema")
    errs, n = [], 0
    for _ in range(READBACK_REPEATS):
        try:
            with tr.span("catalog.load"):
                lake = Datalake(spark, ctx.lake)
                lake.load()
            with tr.span("catalog.sql_plan"):
                df = lake.sql("SELECT count(*) AS n, sum(event_id) AS s FROM events")
            with tr.span("catalog.sql_exec"):
                got = tuple(df.first())
            with tr.span("dataset.reader.load"):
                live = Dataset(spark, cur).load()
            got_live = live.count()
            with tr.span("dataset.reader.load"):
                drift = Dataset(spark, drifted).load()
            got_drift = tuple(drift.agg(F.count(F.lit(1)), F.sum("user_id")).first())
        except Exception as exc:  # counts as one failed check; the run goes on
            n += 1
            errs.append(f"read-back: {type(exc).__name__}: {exc}"[:300])
            continue
        for what, g, w in (("catalog sql", got, (want["rows"], want["sum_event_id"])),
                           ("live dataset rows", got_live, want["rows"]),
                           ("drifted dataset", got_drift, drift_want)):
            n += 1
            if g != w:
                errs.append(f"read-back {what}: {g} != expected {w}")
    return errs, n


def upsert_visible(spark, cur: str, batch_path: str) -> bool:
    """Every (event_id, value) of the upsert batch is in the dataset."""
    want = spark.read.parquet(batch_path).select("event_id", "value")
    got = spark.read.option("basePath", cur).parquet(cur).select("event_id", "value")
    return want.join(got, ["event_id", "value"], "left_anti").isEmpty()


def compact_counts(stats: dict) -> dict:
    out = {}
    for key, name in (("files_before", "files_before"), ("files_after", "files_after"),
                      ("bytes", "bytes_rewritten")):
        if isinstance(stats.get(key), (int, float)):
            out[name] = stats[key]
    return out


def ingest_layers(tr, keep: dict, op_ids: set[str]) -> dict:
    def med(xs):
        return statistics.median(xs) if xs else 0.0

    def total(name):
        return float(sum(tr.counts.get(name, [])))

    return {
        "dataset.writer.write_s": med(tr.durations("dataset.writer.write", op_ids)),
        "dataset.writer.files_written": total("files_written"),
        "dataset.writer.rows_landed": total("rows_landed"),
        "dataset.writer.delta_keep_ratio": keep["landed"] / max(1, keep["offered"]),
        "utils.pathops.files_listed": med(tr.counts.get("files_listed", [])),
        "dataset.timefly.add_snapshot_s": med(tr.durations("dataset.timefly.add_snapshot")),
        "dataset.timefly.snapshot_bytes": med(tr.span_counts("dataset.timefly.add_snapshot", "bytes")),
        "dataset.timefly.read_s": med(tr.durations("dataset.timefly.read")),
        "dataset.maintain.compact_s": med(tr.durations("dataset.maintain.compact")),
        "dataset.maintain.files_before": med(tr.span_counts("dataset.maintain.compact", "files_before")),
        "dataset.maintain.files_after": med(tr.span_counts("dataset.maintain.compact", "files_after")),
        "dataset.maintain.bytes_rewritten": med(tr.span_counts("dataset.maintain.compact", "bytes_rewritten")),
        "catalog.load_s": med(tr.durations("catalog.load")),
        "catalog.sql_plan_s": med(tr.durations("catalog.sql_plan")),
        "catalog.sql_exec_s": med(tr.durations("catalog.sql_exec")),
        "dataset.reader.load_s": med(tr.durations("dataset.reader.load")),
        "schema.unify_s": med(tr.durations("schema.get_unified_schema")),
    }
