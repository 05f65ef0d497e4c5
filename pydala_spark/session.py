"""SparkSession bootstrap and configuration.

Reference parity: every pydala object carries an embedded DuckDB
connection configured with ``memory_limit`` and ``temp_directory``
(reference src/pydala/dataset/base.py:67-75); here one SparkSession plays
that role. The reference's filesystem protocol dispatch
(src/pydala/filesystem/fs.py:7-139 — s3/gcs/az/file + credentials) maps to
Hadoop filesystem configuration on the session, so ``configure_storage``
translates fsspec-style ``storage_options`` into ``fs.s3a.*`` et al.
settings instead of constructing filesystem objects.

Scale notes (100 TB): these defaults are what a real cluster wants —
AQE on (runtime coalesce + skew-join handling), UTC session time,
zstd parquet. ``shuffle_partitions`` should be ~2-3x total cores on a
real cluster; tests/bench pass an explicit small value for local mode.
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

#: Confs that are runtime-settable (SQL confs) — applied even to an
#: externally created session (e.g. the verification driver's).
RUNTIME_DEFAULTS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # zstd default compression mirrors the reference writer default
    # (src/pydala/dataset/writer.py:33).
    "spark.sql.parquet.compression.codec": "zstd",
    # The events table stores TIMESTAMP(NANOS) which Spark's parquet
    # reader rejects outright; read as int64 nanoseconds and convert at
    # the boundary (see sources.load_table). DuckDB truncates ns -> us on
    # CAST, and ns//1000 matches that exactly for post-epoch data.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Parquet TIMESTAMP(MICROS, isAdjustedToUTC=false) — how pyarrow
    # writes tz-naive timestamp[us] — would otherwise surface as
    # TIMESTAMP_NTZ, a distinct type that half the timestamp builtins
    # (unix_micros, ...) reject. Read it as the session-zoned TIMESTAMP:
    # with the UTC session zone above, the stored micros are identical to
    # DuckDB's naive read, so oracle hashing is unaffected. Scope: this
    # only affects files WITHOUT Spark footer metadata (pyarrow/reference-
    # written); parquet our own Writer produces carries Spark's schema in
    # the footer, so TIMESTAMP_NTZ columns still round-trip as NTZ —
    # pinned by tests/test_timestamp_boundary.py::test_ntz_write_roundtrip.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def _ship_package(spark: SparkSession) -> None:
    """Make ``pydala_spark`` importable on Python workers via addPyFile.

    Worker processes resolve imports from their own sys.path, not the
    driver's — a driver running from outside the repo would otherwise
    break any UDF that pickles a reference into this package. One small
    zip per driver process, added once per session.
    """
    if getattr(spark, "_pydala_spark_shipped", False):
        return
    import hashlib

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    # zip name keyed by a CONTENT fingerprint (paths + mtimes + sizes),
    # not the PID: a recycled PID or a second checkout on the same host
    # would otherwise reuse a stale zip and ship outdated worker code
    stamp = hashlib.md5()
    sources = []
    for root, _dirs, files in os.walk(pkg_dir):
        for fn in files:
            if fn.endswith(".py"):
                full = os.path.join(root, fn)
                sources.append(full)
    for full in sorted(sources):
        st = os.stat(full)
        stamp.update(f"{full}|{st.st_mtime_ns}|{st.st_size}".encode())
    zip_path = os.path.join(
        tempfile.gettempdir(), f"pydala_spark_pyfiles_{stamp.hexdigest()[:16]}.zip"
    )
    if not os.path.exists(zip_path):
        with zipfile.ZipFile(zip_path, "w") as zf:
            for full in sorted(sources):
                rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                zf.write(full, rel)
    try:
        spark.sparkContext.addPyFile(zip_path)
        spark._pydala_spark_shipped = True
    except Exception:
        pass  # e.g. Spark Connect sessions without an sc; imports may still work


def configure_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable defaults to an existing session.

    Safe to call on a session we did not create (confs that cannot be set
    at runtime are skipped).
    """
    for key, value in RUNTIME_DEFAULTS.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            pass
    # The generated-SQL surface (textstats._ASCII_STRIP_SQL \\uXXXX
    # escapes, '\\s+' split patterns, _sql_str-escaped map literals)
    # requires the default parser unescaping; a session that flips this
    # would silently change every lang/token stat (ADVICE r16). The conf
    # is deprecated in Spark 4 and every set of it logs a WARN, so it is
    # only set when a session pins it on (booleans are case-insensitive),
    # and the session is refused if it rejects the override.
    esc = "spark.sql.parser.escapedStringLiterals"
    if spark.conf.get(esc, "false").lower() != "false":
        try:
            spark.conf.set(esc, "false")
        except Exception:
            pass
        if spark.conf.get(esc, "false").lower() != "false":
            raise RuntimeError(
                f"pydala_spark requires {esc}=false (the generated-SQL "
                "surface depends on parser unescaping); this session "
                "pins it true and rejects the override"
            )
    _ship_package(spark)
    return spark


def get_session(
    app_name: str = "pydala_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (falling back to
    ``local[*]``) so tests and bench share one code path; on a cluster the
    caller passes nothing and spark-submit's master wins.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        # Spark core does not read SPARK_MASTER itself outside
        # spark-submit — apply it, else fall back to the local default
        master = os.environ.get("SPARK_MASTER")
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)
    if shuffle_partitions is None:
        # SPARK_GRAFT_CPUS doubles as the local[] slot string, which may
        # legitimately be '*' — only a numeric value can size partitions
        env_cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        shuffle_partitions = int(env_cpus) if env_cpus.isdigit() else 32
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for key, value in RUNTIME_DEFAULTS.items():
        builder = builder.config(key, value)
    builder = builder.config("spark.ui.enabled", "false")
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    return configure_session(spark)


#: fsspec-style storage_options key -> hadoop conf, per protocol.
#: Mirrors the protocol dispatch in reference src/pydala/filesystem/fs.py:7-139
#: (key/secret/token/endpoint_url for s3, equivalents for gcs/abfs), but as
#: session configuration — the path scheme (s3a://, gs://, abfss://) selects
#: the connector; no filesystem objects are constructed.
_STORAGE_KEY_MAP: dict[str, dict[str, str]] = {
    "s3": {
        "key": "fs.s3a.access.key",
        "access_key": "fs.s3a.access.key",
        "secret": "fs.s3a.secret.key",
        "secret_key": "fs.s3a.secret.key",
        "token": "fs.s3a.session.token",
        "session_token": "fs.s3a.session.token",
        "endpoint_url": "fs.s3a.endpoint",
        "endpoint": "fs.s3a.endpoint",
        "region": "fs.s3a.endpoint.region",
    },
    "gs": {
        "project": "fs.gs.project.id",
        "token": "google.cloud.auth.service.account.json.keyfile",
    },
    # abfs handled specially below: the ABFS connector reads
    # fs.azure.account.key.<account>.dfs.core.windows.net — the conf
    # NAME depends on the account, so a static map cannot express it
    "abfs": {},
}


def configure_storage(
    spark: SparkSession, protocol: str, **storage_options: str
) -> SparkSession:
    """Translate fsspec-ish storage_options to Hadoop connector confs.

    Unknown keys raise (better than silently ignoring credentials).
    Confs are set on the LIVE Hadoop configuration (the one PathOps and
    file scans actually read) — a runtime ``spark.conf.set`` of a
    ``spark.hadoop.*`` key is never translated to the unprefixed Hadoop
    key and would be silently ignored; the ``spark.hadoop.`` prefix is
    only stripped at SparkContext creation. The same keys are mirrored
    into ``spark.conf`` (prefixed) so ``newHadoopConf()``-based SQL
    scans pick them up too. Note: some ``fs.*`` confs are only honored
    when set before the first filesystem access for a scheme (Hadoop
    caches FileSystem instances per scheme+authority).
    """
    mapping = _STORAGE_KEY_MAP.get(protocol)
    if mapping is None:
        raise ValueError(
            f"unsupported protocol {protocol!r}; expected one of {sorted(_STORAGE_KEY_MAP)}"
        )
    confs: dict[str, str] = {}
    if protocol == "abfs":
        account = storage_options.pop("account_name", None)
        account_key = storage_options.pop("account_key", None)
        if account_key is not None:
            if account is None:
                raise ValueError(
                    "abfs account_key requires account_name (the Hadoop "
                    "conf name is fs.azure.account.key.<account>"
                    ".dfs.core.windows.net)"
                )
            confs[f"fs.azure.account.key.{account}.dfs.core.windows.net"] = (
                account_key
            )
        if storage_options:
            raise ValueError(
                f"unknown storage option(s) {sorted(storage_options)} for "
                "protocol 'abfs'"
            )
    else:
        for key, value in storage_options.items():
            conf = mapping.get(key)
            if conf is None:
                raise ValueError(
                    f"unknown storage option {key!r} for protocol {protocol!r}"
                )
            confs[conf] = value
    try:
        hconf = spark.sparkContext._jsc.hadoopConfiguration()
    except Exception:
        hconf = None  # Spark Connect: no JVM handle; prefixed confs only
    for conf, value in confs.items():
        if hconf is not None:
            hconf.set(conf, value)
        try:
            spark.conf.set(f"spark.hadoop.{conf}", value)
        except Exception:
            pass
    return spark
