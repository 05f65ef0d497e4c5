"""Benchmark entry point: one seeded workload, one JSON result line.

    python3 perfbench/run.py --workload lake_ingest --seed 1 --seconds 6 --trace 0

Run from the root of a checkout of the repository. The package is
imported from that checkout; without it the run exits with code 2
before doing anything else. Workloads (see README.md in this directory):
``lake_ingest``, ``corpus_prep``.

All scratch state (inputs, the lake, Spark's local and temp dirs) lives
in a fresh directory under ``.perfbench_work/`` in the checkout and is
deleted when the run ends. The Spark JVM is stopped and waited for.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` records spans
around every layer call plus Spark job/stage/task counts per op and
prints the per-layer metrics instead. Both print human-readable metric
lines first and the result object as the LAST line of stdout.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("lake_ingest", "corpus_prep")
#: local[N] slots and shuffle partitions (capped by nproc)
CORES = 4

#: end-to-end metrics (untraced run): name -> unit
END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "rows_per_s": "1/s",
    "op_p50_s": "s",
    "ok_frac": "ratio",
    "bytes_per_user_byte": "ratio",
}

#: per-layer metrics (traced run): name -> unit. A layer a workload does
#: not touch in its timed window reports 0.
PER_LAYER = {
    "session.get_session_s": "s",
    "dataset.writer.write_s": "s",
    "dataset.writer.files_written": "count",
    "dataset.writer.rows_landed": "count",
    "dataset.writer.delta_keep_ratio": "ratio",
    "utils.pathops.files_listed": "count",
    "dataset.timefly.add_snapshot_s": "s",
    "dataset.timefly.snapshot_bytes": "bytes",
    "dataset.timefly.read_s": "s",
    "dataset.maintain.compact_s": "s",
    "dataset.maintain.files_before": "count",
    "dataset.maintain.files_after": "count",
    "dataset.maintain.bytes_rewritten": "bytes",
    "catalog.load_s": "s",
    "catalog.sql_plan_s": "s",
    "catalog.sql_exec_s": "s",
    "dataset.reader.load_s": "s",
    "schema.unify_s": "s",
    "operators.pipeline.prep_documents_s": "s",
    "operators.dedup.exact_s": "s",
    "operators.dedup.minhash_s": "s",
    "operators.dedup.lsh_pairs_s": "s",
    "operators.dedup.decontaminate_s": "s",
    "operators.textstats.quality_stats_s": "s",
    "operators.dedup.candidate_pairs": "count",
    "operators.dedup.neardup_precision": "ratio",
    "operators.similarity.cosine_topk_s": "s",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "peak_rss_mb": "MB",
    "trace.overhead_s_per_op": "s",
    "trace.ops_per_s": "1/s",
    "trace.op_p50_s": "s",
}


def tree_peak_rss_mb(pid: int) -> float:
    """Sum of VmHWM (peak resident set) over ``pid`` and its descendants
    — the benchmark process, its Spark JVM and the JVM's Python workers."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    total_kb, todo = 0, [pid]
    while todo:
        p = todo.pop()
        todo.extend(children.get(p, []))
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for fn in files:
            total += os.path.getsize(os.path.join(root, fn))
    return total


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=6.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


class Ctx:
    """What a workload gets: the session, the tracer, its seed and window
    length, and private directories for inputs and the lake."""

    def __init__(self, spark, tracer, seed: int, seconds: float, work: str):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.seconds = seconds
        self.inputs = os.path.join(work, "inputs")
        self.lake = os.path.join(work, "lake")
        self.work = work
        os.makedirs(self.inputs)
        os.makedirs(self.lake)


def start_session(work: str, cores: int):
    from pydala_spark import get_session

    tmp = os.path.join(work, "tmp")
    return get_session(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": "1g",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # no hsperfdata file: HotSpot writes it under /tmp whatever
            # java.io.tmpdir says
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark, then end the JVM the Python gateway launched and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "pydala_spark", "__init__.py")):
        print(f"perfbench: no pydala_spark package under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}-{time.time_ns()}")
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub))
    # before anything asks tempfile for its directory
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the short-lived JVM spark-submit starts to build the driver command
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    try:
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def run(args: argparse.Namespace, work: str) -> int:
    import importlib

    import pyspark

    from spans import NullTracer, Tracer

    cores = max(1, min(CORES, os.cpu_count() or 1))
    load_start = os.getloadavg()
    t = time.perf_counter()
    spark = start_session(work, cores)
    session_s = time.perf_counter() - t
    spark.sparkContext.setLogLevel("OFF")
    tracer = Tracer(spark) if args.trace else NullTracer()
    try:
        workload = importlib.import_module(args.workload)
        ctx = Ctx(spark, tracer, args.seed, args.seconds, work)
        res = workload.run(ctx)
        peak_rss = tree_peak_rss_mb(os.getpid())
        env = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "nproc": os.cpu_count(),
            "master": spark.sparkContext.master,
            "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
            "loadavg_start": load_start,
            "loadavg_end": os.getloadavg(),
            "spark": pyspark.__version__,
            "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
            "python": platform.python_version(),
            "samples": len(res["latencies"]),
            "latencies_s": [round(x, 3) for x in res["latencies"]],
            "inputs": res.get("notes", {}),
        }
    finally:
        tracer.restore()
        stop_session(spark)

    lat = res["latencies"]
    ops_per_s = res["ops"] / res["window_s"]
    rows_per_s = res["rows_offered"] / res["window_s"]
    p50 = statistics.median(lat)
    attempted, failed = res["attempted"], res["failed"]
    if args.trace:
        layers = dict(res.get("layers", {}))
        layers["session.get_session_s"] = session_s
        layers["peak_rss_mb"] = peak_rss
        per_op = tracer.per_op(res["op_ids"])
        layers["spark.jobs_per_op"] = per_op["jobs"]
        layers["spark.stages_per_op"] = per_op["stages"]
        layers["spark.tasks_per_op"] = per_op["tasks"]
        layers["trace.overhead_s_per_op"] = tracer.overhead_s / max(1, len(res["op_ids"]))
        layers["trace.ops_per_s"] = ops_per_s
        layers["trace.op_p50_s"] = p50
        env["self_time_s"] = {k: round(v, 4) for k, v in sorted(tracer.self_times().items())}
        print(json.dumps({"trace": {"spans": tracer.export(), "ops": tracer.op_jobs}}))
        metrics = {name: {"value": float(layers.get(name, 0.0)), "unit": unit}
                   for name, unit in PER_LAYER.items()}
    else:
        values = {
            "setup_s": res["setup_end"] - T0,
            "ops_per_s": ops_per_s,
            "rows_per_s": rows_per_s,
            "op_p50_s": p50,
            "ok_frac": (attempted - failed) / attempted,
            "bytes_per_user_byte": res["bytes_ratio"],
        }
        env["peak_rss_mb"] = peak_rss
        metrics = {name: {"value": float(values[name]), "unit": unit}
                   for name, unit in END_TO_END.items()}
    print(json.dumps({"env": env}, default=str))
    for name, m in metrics.items():
        print(f"metric {args.workload} {name} = {m['value']:.6g} {m['unit']}"
              f" (ops={res['ops']}, latency samples={len(lat)})")
    for msg in res.get("errors", [])[:20]:
        print(f"check failed: {msg}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
