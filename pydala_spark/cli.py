"""Command-line entry points for lake maintenance workflows.

Parity surface for the reference's runnable scripts
(``/root/reference/scripts/repartition.py`` and ``scripts/timefly.py``,
typer apps driven by a TOML config whose string ``"None"`` values mean
null): a migrating user's cron jobs call scripts, not Python APIs.

Two invocation styles, both per subcommand:

- **Config parity** — pass a ``.toml`` path (the reference's calling
  convention)::

      python -m pydala_spark.cli repartition job.toml
      python -m pydala_spark.cli timefly add job.toml
      python -m pydala_spark.cli pipeline clean.toml
      python -m pydala_spark.cli cron lake.toml      # maintain + sweeps
      python -m pydala_spark.cli profile --source /lake/docs
      python -m pydala_spark.cli signatures --root /lake --verify

  with the options under a ``[repartition]`` / ``[timefly]`` table
  (keys = the flag names below; ``"None"`` strings are nulls, matching
  the reference's NestedDictReplacer semantics).

- **Flags** — plain argparse options, no file needed::

      python -m pydala_spark.cli repartition --source /lake/ds \\
          --partition-by l_returnflag --sort-by l_orderkey
      python -m pydala_spark.cli timefly add --path /lake/ds

Every sweep subcommand (``decontaminate``, ``semantic-dedup``,
``neardup-dedup``, ``signatures``) is a one-section cron run: its flags
become the section's keys and the same runner (:func:`_run_section`)
calls the ``Datalake`` method, so flags, cron keys and exit codes cannot
drift apart.

Everything delegates to the library operators
(:class:`~pydala_spark.dataset.repartition.Repartition`,
:class:`~pydala_spark.dataset.timefly.TimeFly`) — the CLI only parses.
"""

from __future__ import annotations

import argparse
import sys


def _none(v):
    """Map the reference's ``"None"`` string sentinel to real nulls,
    recursively (NestedDictReplacer parity, reference
    scripts/repartition.py:8-11)."""
    if isinstance(v, dict):
        return {k: _none(x) for k, x in v.items()}
    if isinstance(v, list):
        return [_none(x) for x in v]
    return None if v == "None" else v


def _read_toml(path: str) -> dict:
    import tomllib

    with open(path, "rb") as f:
        return _none(tomllib.load(f))


def _load_toml_config(path: str, section: str) -> dict:
    """Read ``[section]`` from a TOML config (a flat file works too),
    ``"None"`` strings as nulls."""
    raw = _read_toml(path)
    return raw.get(section, raw)


def _config_opts(args, section: str, valid, flags) -> dict | None:
    """The options of a config-parity subcommand: ``[section]`` of
    ``args.config`` (``None`` after a usage message when it holds a key
    outside ``valid``), overridden by every flag in ``flags`` the
    command line set."""
    opts: dict = {}
    if args.config:
        opts = _load_toml_config(args.config, section)
        unknown = sorted(set(opts) - set(valid))
        if unknown:
            # a clean exit-2 diagnosis beats the raw TypeError a splat
            # into the operator would raise (r5 review)
            print(f"{section}: unknown config key(s) {unknown} — valid "
                  f"keys: {sorted(valid)}", file=sys.stderr)
            return None
    for key in flags:
        if getattr(args, key) is not None:
            opts[key] = getattr(args, key)
    return opts


def _csv(value):
    if value is None or isinstance(value, list):
        return value
    return [p for p in str(value).split(",") if p]


def _session(args):
    from pydala_spark.session import get_session

    return get_session(
        app_name="pydala-spark-cli",
        master=args.master,
        shuffle_partitions=args.shuffle_partitions,
    )


#: flag-backed option names (read off args by _config_opts); the
#: config whitelist derives from this ONE tuple plus the two
#: boolean-only keys, so the lists cannot desynchronize (r5 review)
_REPARTITION_FLAG_KEYS = (
    "source", "dest", "source_format", "dest_format", "partition_by",
    "sort_by", "drop", "compression", "mode", "max_records_per_file",
)
_REPARTITION_KEYS = set(_REPARTITION_FLAG_KEYS) | {"distinct", "with_snapshot"}


def _cmd_repartition(args) -> int:
    opts = _config_opts(args, "repartition", _REPARTITION_KEYS,
                        _REPARTITION_FLAG_KEYS)
    if opts is None:
        return 2
    if args.distinct:
        opts["distinct"] = True
    if args.no_snapshot:
        opts["with_snapshot"] = False
    source = opts.pop("source", None)
    if not source:
        print("repartition: --source (or config key 'source') is required",
              file=sys.stderr)
        return 2
    from pydala_spark.dataset.repartition import Repartition

    spark = _session(args)
    Repartition(
        spark,
        source,
        dest_path=opts.pop("dest", None),
        partition_by=_csv(opts.pop("partition_by", None)),
        sort_by=opts.pop("sort_by", None),
        drop=_csv(opts.pop("drop", None)),
        **opts,
    ).run()
    print(f"repartitioned {source}")
    return 0


def _cmd_timefly(args) -> int:
    keys = ("path", "ts", "snapshot_mode")
    opts = _config_opts(args, "timefly", keys, keys)
    if opts is None:
        return 2
    path = opts.get("path")
    if not path:
        print("timefly: --path (or config key 'path') is required",
              file=sys.stderr)
        return 2
    from pydala_spark.dataset.timefly import TimeFly

    spark = _session(args)
    tf = TimeFly(spark, path, snapshot_mode=opts.get("snapshot_mode", "copy"))
    action = args.action
    if action == "init":
        # reference timefly.py `init`: materialize the manifest and the
        # current/ layout (migrating loose root files into current/)
        tf.new()
        tf.create_current()
        print(f"initialized TimeFly at {path}")
    elif action == "add":
        ts = tf.add_snapshot()
        print(f"snapshot {ts}")
    elif action == "delete":
        if not opts.get("ts"):
            print("timefly delete: --ts is required", file=sys.stderr)
            return 2
        tf.delete_snapshot(opts["ts"])
        print(f"deleted snapshot {opts['ts']}")
    elif action == "load":
        if not opts.get("ts"):
            print("timefly load: --ts is required", file=sys.stderr)
            return 2
        tf.load_snapshot(opts["ts"])
        print(f"restored snapshot {opts['ts']}")
    elif action == "list":
        for ts in tf.snapshots():
            print(ts)
    else:  # pragma: no cover - argparse restricts choices
        return 2
    return 0


#: CLI-level keys for the pipeline subcommand (IO wiring); the cleaning
#: knobs are prep_documents' own (operators.pipeline.PREP_KNOBS)
_PIPELINE_IO_KEYS = (
    "source", "dest", "source_format", "dest_format",
    "benchmark", "benchmark_format", "mode", "report",
    "signatures", "signatures_path", "signatures_verify",
)


def _cmd_pipeline(args) -> int:
    """The third thing a production cron runs beside repartition and
    timefly: the cleaning pipeline itself — ``[pipeline]`` TOML keys map
    onto :func:`~pydala_spark.operators.pipeline.prep_documents` kwargs
    plus source/dest/benchmark IO wiring."""
    from pydala_spark.operators.pipeline import (
        PREP_KNOBS,
        SIDECAR_KWARGS,
        SIDECAR_PARAMS,
        count_stages,
        prep_documents,
        sidecar_kwargs,
    )

    opts = _config_opts(
        args, "pipeline", set(_PIPELINE_IO_KEYS) | PREP_KNOBS,
        ("source", "dest", "benchmark", "min_quality", "shard_tokens"))
    if opts is None:
        return 2
    if args.report:
        opts["report"] = True
    source = opts.pop("source", None)
    dest = opts.pop("dest", None)
    if not source or not dest:
        print("pipeline: --source and --dest (or config keys) are required",
              file=sys.stderr)
        return 2
    src_fmt = opts.pop("source_format", None) or "parquet"
    dest_fmt = opts.pop("dest_format", None) or "parquet"
    bench_path = opts.pop("benchmark", None)
    bench_fmt = opts.pop("benchmark_format", None) or src_fmt
    mode = opts.pop("mode", None) or "overwrite"
    report = bool(opts.pop("report", False))
    sig_kinds = opts.pop("signatures", None) or ()
    sig_path = opts.pop("signatures_path", None) or source
    sig_verify = bool(opts.pop("signatures_verify", True))

    spark = _session(args)
    df = spark.read.format(src_fmt).load(source)
    bench = (
        spark.read.format(bench_fmt).load(bench_path)
        if bench_path else None
    )
    if sig_kinds:
        # ingest-materialized signature sidecars feed the pipeline's
        # hashing stages; the content marker is re-verified against the
        # live corpus BY DEFAULT (signatures_verify=false to opt out) —
        # one narrow aggregate per sidecar buys out the silent
        # zero-overlap failure a stale sidecar would otherwise produce.
        # Params the config also sets become expect= pins, so a config/
        # sidecar hashing mismatch fails loud instead of finding nothing.
        from pydala_spark.dataset.maintain import read_signatures

        verify = df if sig_verify else None
        for kind in sig_kinds:
            if kind not in SIDECAR_KWARGS:
                print(f"pipeline: unknown signatures kind {kind!r} — "
                      f"valid: {', '.join(SIDECAR_KWARGS)}",
                      file=sys.stderr)
                return 2
            expect = {rec: opts[knob]
                      for rec, knob in SIDECAR_PARAMS[kind].items()
                      if knob in opts} or None
            frame, params = read_signatures(
                spark, sig_path, kind, expect=expect, verify_against=verify
            )
            opts.update(sidecar_kwargs(kind, frame, params))
    # ONE lazy program serves both the per-stage counts and the final
    # write (round-6 advice: the old spelling ran the whole pipeline
    # twice)
    stages = {} if report else None
    out = prep_documents(df, benchmark=bench, stage_frames=stages, **opts)
    for stage, n in count_stages(
            stages or {},
            lambda: out.write.format(dest_fmt).mode(mode).save(dest)):
        print(f"{stage}: {n}")
    print(f"pipeline: wrote {dest}")
    return 0


def _cmd_profile(args) -> int:
    """One-line JSON corpus health summary (operators.textstats.
    corpus_profile) — the first look a cron/runbook takes at a new
    crawl drop."""
    if not args.source:
        print("profile: --source is required", file=sys.stderr)
        return 2
    import json

    from pydala_spark.operators.textstats import corpus_profile

    spark = _session(args)
    df = spark.read.format(args.format or "parquet").load(args.source)
    row = corpus_profile(df, text_col=args.text_col).collect()[0]
    print(json.dumps(row.asDict(), default=float))
    return 0


def _cmd_ann(args) -> int:
    """ANN index maintenance (round 9) — the two jobs a nightly
    embedding-index cron runs: ``ann append`` grows a persisted IVFADC
    index with new vectors (``--if-exists skip`` is the idempotent form
    — point it at the full, growing embeddings dataset every night and
    exactly the unseen rows index; codebooks stay pinned), and
    ``ann stats`` prints the index health report, exiting 3 with
    ``--fail-imbalance X`` when the hot-cell ratio drifts past X (the
    "rebuild the codebook" alert — see operators/ann.py
    append_ivfpq_index on drift); ``ann eval`` measures recall@k
    against exact brute force on a deterministic probe panel — the
    number imbalance only proxies — exiting 3 with ``--fail-recall R``
    when it drops below R. ``ann remove`` deletes vectors by id (the
    GDPR path — only the affected cell partitions rewrite)."""
    import json

    from pydala_spark.operators.ann import (
        append_ivfpq_index,
        index_recall,
        index_stats,
        remove_from_ivfpq_index,
    )

    if not args.index:
        print("ann: --index is required", file=sys.stderr)
        return 2
    spark = _session(args)
    if args.action == "remove":
        if not args.source:
            print("ann remove: --source is required (a dataset whose "
                  "FIRST column holds the ids to delete)",
                  file=sys.stderr)
            return 2
        ids = spark.read.format(args.source_format).load(args.source)
        n = remove_from_ivfpq_index(
            spark, args.index, ids, id_col=args.id_col)
        print(json.dumps({"removed": n}))
        return 0
    if args.action == "append":
        if not args.source:
            print("ann append: --source is required", file=sys.stderr)
            return 2
        df = spark.read.format(args.source_format).load(args.source)
        n = append_ivfpq_index(
            spark, args.index, df,
            id_col=args.id_col, vec_col=args.vec_col,
            check_ids=not args.no_check_ids,
            if_exists=args.if_exists,
        )
        print(json.dumps({"appended": n}))
        return 0
    if args.action == "eval":
        if not args.source:
            print("ann eval: --source is required (the vector dataset "
                  "the exact side scans)", file=sys.stderr)
            return 2
        df = spark.read.format(args.source_format).load(args.source)
        rep = index_recall(
            spark, args.index, df,
            id_col=args.id_col, vec_col=args.vec_col,
            k=args.k, n_probe_centroids=args.n_probe_centroids,
            n_probes=args.n_probes, rerank_top=args.rerank_top,
        )
        print(json.dumps(rep, indent=2, sort_keys=True))
        if args.fail_recall is not None and (
                rep["recall_at_k"] is None
                or rep["recall_at_k"] < args.fail_recall):
            return 3
        return 0
    stats = index_stats(spark, args.index)
    print(json.dumps(stats, indent=2, sort_keys=True, default=str))
    if args.fail_imbalance is not None \
            and stats["imbalance"] > args.fail_imbalance:
        return 3
    return 0


#: sweep sections a cron config may carry, in execution order; each
#: maps onto the same-named Datalake method, kwargs whitelisted against
#: its signature at run time so the lists can never desynchronize
#: maintain (compaction) runs FIRST — sidecars carry over compaction
#: (round 8 lifecycle matrix), so the sweeps that follow still reuse them
#: signatures_report runs LAST: after the sweeps have re-materialized
#: whatever was stale, it is the post-sweep invariant check — with
#: fail_on_stale the cron exits 3 when anything STILL fails to verify
_CRON_SECTIONS = ("maintain", "prep_sweep", "decontaminate",
                  "semantic_dedup", "neardup_dedup", "span_dedup_report",
                  "signatures_report", "ann_maintain")


#: the sweep subcommands, each a one-section cron run of this section
_SWEEP_COMMANDS = {"decontaminate": "decontaminate",
                   "semantic-dedup": "semantic_dedup",
                   "neardup-dedup": "neardup_dedup",
                   "signatures": "signatures_report"}


def _run_section(lake, section: str, opts: dict) -> tuple[dict | None, int]:
    """Run ONE lake job — the ``section`` Datalake method with ``opts``
    (a cron table, or a sweep subcommand's flags) — and return
    ``(results, exit code)``. Keys are the method's kwargs (checked
    against its signature; ``[prep_sweep]`` takes prep_documents' knobs
    too); ``[decontaminate]`` takes ``benchmark = ["name=path", ...]``
    specs and ``[prep_sweep]`` one ``benchmark`` path, both read as
    ``benchmark_format`` (default parquet); ``fail_on_hits`` /
    ``fail_on_dups`` / ``fail_on_stale`` arm the alert exit. Exit: 2 on
    a config refusal — a bad key, or a method-level
    :class:`ConfigError` (results ``None``); 1 on any per-dataset
    error OR a mid-sweep runtime exception (results
    ``{"error": ...}``); else 3 when an alert tripped (a fail_on_*
    finding, or any ``[ann_maintain]`` threshold — its
    ``fail_imbalance`` / ``fail_recall`` ARE the fail knobs), else
    0."""
    import inspect

    from pydala_spark.operators.pipeline import PREP_KNOBS
    from pydala_spark.utils.errors import ConfigError

    opts = dict(opts)
    # a list, not a generator: every alert key must leave opts
    fail_on = any([opts.pop(k, False) for k in (
        "fail_on_hits", "fail_on_dups", "fail_on_stale")])
    method = getattr(lake, section)
    valid = set(inspect.signature(method).parameters) - {"benchmarks"}
    if section == "prep_sweep":
        # the section's knobs pass through **prep_kwargs; surface
        # prep_documents' own knobs so a typo'd cleaning knob still
        # fails the config check, not 500 per-dataset errors
        valid = (valid - {"prep_kwargs"}) | PREP_KNOBS
    if section in ("prep_sweep", "decontaminate"):
        valid |= {"benchmark", "benchmark_format"}
    bad = sorted(set(opts) - valid)
    if bad:
        print(f"cron: unknown [{section}] key(s) {bad} — valid: "
              f"{sorted(valid)}", file=sys.stderr)
        return None, 2
    if section == "prep_sweep" and not opts.get("dest_root"):
        print("cron: [prep_sweep] needs dest_root = \"<cleaned-copies "
              "root, OUTSIDE the lake root>\"", file=sys.stderr)
        return None, 2
    if section == "decontaminate" and not opts.get("benchmark"):
        print("cron: [decontaminate] needs benchmark = "
              "[\"name=path\", ...]", file=sys.stderr)
        return None, 2
    if section == "ann_maintain" and not (
            opts.get("index_path") and opts.get("source")):
        print("cron: [ann_maintain] needs index_path = \"<persisted IVFADC "
              "index>\" and source = \"<lake embeddings dataset name (or "
              "path)>\"", file=sys.stderr)
        return None, 2
    call_args = []
    if section in ("prep_sweep", "decontaminate"):
        read = lake.spark.read.format(
            opts.pop("benchmark_format", None) or "parquet").load
        bench = opts.pop("benchmark", None)
        if section == "decontaminate":  # [name=]path specs
            specs = [str(spec).rpartition("=") for spec in bench]
            call_args = [{name or "benchmark": read(path)
                          for name, _, path in specs}]
        elif bench:
            opts["benchmark"] = read(bench)
    try:
        results = method(*call_args, **opts)
    except ConfigError as exc:
        # a method-level config refusal (ann_maintain's inert
        # fail_recall, neardup's non-dividing n_bands, ...) is a CONFIG
        # error: the documented exit-2 path, not a traceback. ONLY the
        # typed ConfigError takes this path (ADVICE r10): a genuine
        # runtime ValueError from mid-sweep driver-side code (numpy,
        # sidecar parsing) is a per-section FAILURE, not a config typo
        print(f"cron: [{section}] {exc}", file=sys.stderr)
        return None, 2
    except Exception as exc:  # noqa: BLE001 — cron containment
        print(f"cron: [{section}] failed: {type(exc).__name__}: {exc}",
              file=sys.stderr)
        return {"error": f"{type(exc).__name__}: {exc}"[:500]}, 1
    entries = [r for r in results.values() if isinstance(r, dict)]
    if any("error" in r for r in entries):
        return results, 1
    if section == "ann_maintain":
        tripped = any(r.get("tripped") for r in entries)
    elif section == "signatures_report":
        tripped = fail_on and any(
            info.get("fresh") is False or info.get("marker") is None
            for r in entries for info in r.get("sidecars", {}).values())
    else:
        tripped = fail_on and any(
            r.get("n_dropped", 0) > 0
            or any(v > 0 for v in r.get("contaminated", {}).values())
            for r in entries)
    return results, 3 if tripped else 0


def _cmd_sweep(args) -> int:
    """A sweep subcommand: its flags become the opts of a one-section
    cron run (:func:`_run_section`), whose results print as JSON."""
    import json

    from pydala_spark.catalog import Datalake

    opts = dict(vars(args))
    for key in ("master", "shuffle_partitions", "command", "func"):
        del opts[key]
    missing = [f"--{k}" for k in ("root", "benchmark")
               if k in opts and not opts[k]]
    if missing:
        print(f"{args.command}: {' and '.join(missing)} required",
              file=sys.stderr)
        return 2
    for flag, key in (("no_materialize", "materialize"),
                      ("no_verify", "verify")):
        if flag in opts:
            opts[key] = not opts.pop(flag)
    for flag, key in (("codebook", "codebook_path"),
                      ("format", "benchmark_format")):
        if flag in opts:
            opts[key] = opts.pop(flag)
    lake = Datalake(_session(args), opts.pop("root"))
    results, rc = _run_section(lake, _SWEEP_COMMANDS[args.command], opts)
    if results is not None:
        print(json.dumps(results, indent=2, sort_keys=True, default=str))
    return rc


def _cmd_cron(args) -> int:
    """ONE config file = the whole lake-maintenance cron: run every
    ``_CRON_SECTIONS`` table it holds against one lake root, in that
    order, each through :func:`_run_section`, printing a combined
    summary — the config-parity calling convention the repartition /
    timefly / pipeline subcommands already use (a production crontab
    holds one line, not three). Exit: 2 on a config refusal (fix the
    TOML; remaining sections are not attempted, the sections that ran
    still print), 1 when any section failed (the remaining sections
    still run), else 3 when any alert tripped, else 0."""
    import json

    from pydala_spark.catalog import Datalake

    raw = _read_toml(args.config)
    root = args.root or raw.get("root")
    if not root:
        print("cron: --root (or top-level config key 'root') is required",
              file=sys.stderr)
        return 2
    sections = [s for s in _CRON_SECTIONS if s in raw]
    if not sections:
        print(f"cron: config has none of {list(_CRON_SECTIONS)}",
              file=sys.stderr)
        return 2
    unknown = sorted(set(raw) - set(_CRON_SECTIONS) - {"root"})
    if unknown:
        print(f"cron: unknown top-level key(s) {unknown} — valid: "
              f"{['root', *_CRON_SECTIONS]}", file=sys.stderr)
        return 2

    lake = Datalake(_session(args), root)
    combined: dict = {}
    rc = 0
    for section in sections:
        results, src = _run_section(lake, section, raw[section])
        if src == 2:
            if combined:
                print(json.dumps(combined, indent=2, sort_keys=True,
                                 default=str))
            return 2
        combined[section] = results
        # a failure outranks an alert
        rc = 1 if 1 in (rc, src) else max(rc, src)
    print(json.dumps(combined, indent=2, sort_keys=True, default=str))
    return rc


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(
        prog="python -m pydala_spark.cli",
        description="pydala_spark lake maintenance CLI",
    )
    ap.add_argument("--master", default=None,
                    help="Spark master (default: local[*])")
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    sub = ap.add_subparsers(dest="command", required=True)

    rp = sub.add_parser("repartition", help="rewrite a dataset "
                        "(repartition/compact/re-sort), reference "
                        "scripts/repartition.py parity")
    rp.add_argument("config", nargs="?", default=None,
                    help="TOML config with a [repartition] table")
    rp.add_argument("--source", default=None)
    rp.add_argument("--dest", default=None)
    rp.add_argument("--source-format", dest="source_format", default=None)
    rp.add_argument("--dest-format", dest="dest_format", default=None)
    rp.add_argument("--partition-by", dest="partition_by", default=None,
                    help="comma-separated partition columns")
    rp.add_argument("--sort-by", dest="sort_by", default=None)
    rp.add_argument("--drop", default=None, help="comma-separated columns")
    rp.add_argument("--compression", default=None)
    rp.add_argument("--mode", default=None)
    rp.add_argument("--max-records-per-file", dest="max_records_per_file",
                    type=int, default=None)
    rp.add_argument("--distinct", action="store_true")
    rp.add_argument("--no-snapshot", action="store_true",
                    help="skip the pre-rewrite TimeFly snapshot on "
                    "in-place rewrites")
    rp.set_defaults(func=_cmd_repartition)

    tf = sub.add_parser("timefly", help="snapshot lifecycle, reference "
                        "scripts/timefly.py parity")
    tf.add_argument("action",
                    choices=["init", "add", "delete", "load", "list"])
    tf.add_argument("config", nargs="?", default=None,
                    help="TOML config with a [timefly] table")
    tf.add_argument("--path", default=None)
    tf.add_argument("--ts", default=None)
    tf.add_argument("--snapshot-mode", dest="snapshot_mode", default=None,
                    choices=["copy", "pointer"])
    tf.set_defaults(func=_cmd_timefly)

    pl = sub.add_parser("pipeline", help="run the document-cleaning "
                        "pipeline (prep_documents) from a TOML config "
                        "or flags and write the cleaned corpus")
    pl.add_argument("config", nargs="?", default=None,
                    help="TOML config with a [pipeline] table "
                    "(IO keys + any prep_documents kwarg)")
    pl.add_argument("--source", default=None)
    pl.add_argument("--dest", default=None)
    pl.add_argument("--benchmark", default=None,
                    help="decontamination benchmark dataset path")
    pl.add_argument("--min-quality", dest="min_quality", type=int,
                    default=None)
    pl.add_argument("--shard-tokens", dest="shard_tokens", type=int,
                    default=None)
    pl.add_argument("--report", action="store_true",
                    help="print per-stage survivor counts before writing")
    pl.set_defaults(func=_cmd_pipeline)

    pf = sub.add_parser("profile", help="one-line JSON corpus health "
                        "summary (volume, token distribution, dup-rate "
                        "estimate)")
    pf.add_argument("--source", default=None)
    pf.add_argument("--format", default=None)
    pf.add_argument("--text-col", dest="text_col", default="text")
    pf.set_defaults(func=_cmd_profile)

    # flags the sweep subcommands share, one dest, default and meaning
    # each: every sweep subcommand is a one-section cron run (_cmd_sweep)
    lake = argparse.ArgumentParser(add_help=False)
    lake.add_argument("--root", default=None, help="lake root directory")
    lake.add_argument("--signatures-root", dest="signatures_root",
                      default=None, help="host signature sidecars at "
                      "<root>/<dataset> instead of next to the data "
                      "(read-only lakes)")
    served = argparse.ArgumentParser(add_help=False, parents=[lake])
    served.add_argument("--report-dir", dest="report_dir", default=None)
    served.add_argument("--no-materialize", action="store_true",
                        help="fail datasets without a fresh sidecar "
                        "instead of computing it")
    served.add_argument("--incremental", action="store_true",
                        help="reuse the previous summary's verdicts for "
                        "what the verified content markers prove "
                        "unchanged")
    served.add_argument("--max-concurrency", dest="max_concurrency",
                        type=int, default=4, help="sweep N datasets' "
                        "independent jobs concurrently (thread pool)")
    served.add_argument("--no-verify", action="store_true",
                        help="skip the sidecar content-marker check")
    dedup = argparse.ArgumentParser(add_help=False, parents=[served])
    dedup.add_argument("--score-col", dest="score_col", default=None,
                       help="keep the best-scored member of each group")
    dedup.add_argument("--fail-on-dups", dest="fail_on_dups",
                       action="store_true",
                       help="exit 3 when any dataset has near-duplicates")

    dc = sub.add_parser("decontaminate", parents=[served],
                        help="lake-wide benchmark-decontamination sweep "
                        "served from signature sidecars (per-dataset "
                        "reports + summary)")
    dc.add_argument("--benchmark", action="append", default=None,
                    help="benchmark dataset as [name=]path "
                    "(repeatable)")
    dc.add_argument("--format", default=None)
    dc.add_argument("--id-col", dest="id_col", default="doc_id")
    dc.add_argument("--text-col", dest="text_col", default="text")
    dc.add_argument("--min-hits", dest="min_hits", type=int, default=2)
    dc.add_argument("--fail-on-hits", dest="fail_on_hits",
                    action="store_true",
                    help="exit 3 when any dataset has contaminated docs")
    dc.add_argument("--mode", default="winnowing",
                    choices=["winnowing", "embedding", "ngram"],
                    help="overlap modality: winnowing fingerprints "
                    "(sidecar-served), embedding cosine proximity, or "
                    "exact n-gram shingle overlap")
    dc.add_argument("--shingle-size", dest="shingle_size", type=int,
                    default=3, help="n-gram size (ngram mode)")
    dc.add_argument("--shingle-mode", dest="shingle_mode",
                    default="word", choices=["word", "char"],
                    help="shingle unit (ngram mode; char for CJK)")
    dc.add_argument("--vec-col", dest="vec_col", default="embedding")
    dc.add_argument("--threshold", type=float, default=0.9,
                    help="cosine cutoff (embedding mode)")
    dc.add_argument("--block-bits", dest="block_bits", type=int,
                    default=None, help="LSH sign-bit blocking for large "
                    "embedding benchmarks (requires --dim)")
    dc.add_argument("--dim", type=int, default=None)
    dc.add_argument("--n-probes", dest="n_probes", type=int, default=1)
    dc.set_defaults(func=_cmd_sweep)

    sd = sub.add_parser("semantic-dedup", parents=[dedup],
                        help="lake-wide SemDeDup sweep served from "
                        "embedding_cells sidecars under the lake-pinned "
                        "codebook")
    sd.add_argument("--id-col", dest="id_col", default="vec_id")
    sd.add_argument("--vec-col", dest="vec_col", default="embedding")
    sd.add_argument("--threshold", type=float, default=0.9,
                    help="cosine cutoff for 'same content'")
    sd.add_argument("--n-centroids", dest="n_centroids", type=int,
                    default=16, help="codebook size when training "
                    "(ignored once the lake codebook exists)")
    sd.add_argument("--codebook", default=None,
                    help="pinned codebook JSON (default "
                    "<root>/_codebooks/semantic_dedup.json)")
    sd.add_argument("--cross-dataset", dest="cross_dataset",
                    action="store_true",
                    help="ONE lake-global sweep over the unioned cell "
                    "sidecars: a vector duplicated across datasets "
                    "keeps one copy lake-wide")
    sd.add_argument("--partial-max-cell-fraction",
                    dest="partial_max_cell_fraction", type=float,
                    default=1.0,
                    help="cross+incremental economy guard: run the "
                    "cell-partial night only when touched cells stay "
                    "under this fraction of the codebook (default "
                    "1.0 = off since the round-11 doc-level partial "
                    "is delta-sized even with every cell touched)")
    sd.set_defaults(func=_cmd_sweep)

    nd = sub.add_parser("neardup-dedup", parents=[dedup],
                        help="lake-wide cross-dataset text near-dup sweep "
                        "served from minhash sidecars (LSH + connected "
                        "components)")
    nd.add_argument("--id-col", dest="id_col", default="doc_id")
    nd.add_argument("--text-col", dest="text_col", default="text")
    nd.add_argument("--n-hashes", dest="n_hashes", type=int, default=8)
    nd.add_argument("--n-bands", dest="n_bands", type=int, default=4)
    nd.add_argument("--shingle-size", dest="shingle_size", type=int,
                    default=3)
    nd.add_argument("--shingle-mode", dest="shingle_mode",
                    default="word", choices=("word", "char"))
    nd.add_argument("--seed", type=int, default=0)
    nd.add_argument("--max-bucket-size", dest="max_bucket_size",
                    type=int, default=256,
                    help="drop viral LSH buckets larger than this "
                    "(route them through exact dedup instead)")
    nd.add_argument("--edge-warn-multiple", dest="edge_warn_multiple",
                    type=float, default=4.0,
                    help="incremental: add a balloon_warning to the "
                    "summary's _state when the persisted edge set "
                    "exceeds this multiple of the corpus doc count "
                    "(viral-duplicate night tripwire)")
    nd.set_defaults(func=_cmd_sweep)

    cr = sub.add_parser("cron", help="run the lake-maintenance sweeps "
                        "([maintain]/[prep_sweep]/[decontaminate]/"
                        "[semantic_dedup]/[neardup_dedup]/"
                        "[span_dedup_report]/[signatures_report] "
                        "tables) from ONE TOML config")
    cr.add_argument("config", help="TOML config; top-level 'root' plus "
                    "one table per sweep (keys = Datalake method kwargs)")
    cr.add_argument("--root", default=None,
                    help="lake root (overrides the config key)")
    cr.set_defaults(func=_cmd_cron)

    an = sub.add_parser("ann", help="ANN index maintenance: append new "
                        "vectors to a persisted IVFADC index under its "
                        "pinned codebooks, or print/alert on its health "
                        "report")
    an.add_argument("action", choices=("append", "stats", "eval",
                                       "remove"))
    an.add_argument("--index", default=None, help="persisted index path "
                    "(save_ivfpq_index output)")
    an.add_argument("--source", default=None,
                    help="dataset with new (id, vector) rows")
    an.add_argument("--source-format", dest="source_format",
                    default="parquet")
    an.add_argument("--id-col", dest="id_col", default="vec_id")
    an.add_argument("--vec-col", dest="vec_col", default="embedding")
    an.add_argument("--if-exists", dest="if_exists", default="raise",
                    choices=("raise", "skip"),
                    help="'skip' = idempotent cron form: only unseen "
                    "ids append")
    an.add_argument("--no-check-ids", dest="no_check_ids",
                    action="store_true",
                    help="trust ingest to deliver fresh ids (skips the "
                    "narrow id overlap check)")
    an.add_argument("--fail-imbalance", dest="fail_imbalance",
                    type=float, default=None,
                    help="stats: exit 3 when max_cell/avg_cell exceeds "
                    "this (codebook drift alert)")
    an.add_argument("--k", type=int, default=10,
                    help="eval: recall@k depth")
    an.add_argument("--n-probes", dest="n_probes", type=int, default=50,
                    help="eval: deterministic probe panel size")
    an.add_argument("--n-probe-centroids", dest="n_probe_centroids",
                    type=int, default=2,
                    help="eval: cells probed per query")
    an.add_argument("--rerank-top", dest="rerank_top", type=int,
                    default=None,
                    help="eval: measure the IVFADC+R configuration "
                    "(exact re-rank of the top-C PQ pool)")
    an.add_argument("--fail-recall", dest="fail_recall", type=float,
                    default=None,
                    help="eval: exit 3 when recall@k drops below this")
    an.set_defaults(func=_cmd_ann)

    sg = sub.add_parser("signatures", parents=[lake],
                        help="sidecar-freshness dashboard — which "
                        "datasets the next sweep serves from sidecars "
                        "and which re-hash")
    sg.add_argument("--verify", action="store_true",
                    help="re-check every marker against live data "
                    "(one narrow aggregate per dataset)")
    sg.add_argument("--fail-on-stale", dest="fail_on_stale",
                    action="store_true",
                    help="exit 3 when any sidecar is stale or predates "
                    "content markers")
    sg.set_defaults(func=_cmd_sweep)
    return ap


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.func(args)


if __name__ == "__main__":
    raise SystemExit(main())
