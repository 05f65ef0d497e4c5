"""Source readers: format dispatch + the driver test-table loader.

Reference parity: the reference dispatches eager loads on format
(parquet / feather / ipc / arrow / csv — src/pydala/dataset/reader.py:257-290)
and registers datasets under a name in its embedded engine
(reader.py:235-255). Here the format dispatch lands on ``spark.read`` and
registration is a temp view.

:func:`read` is the one read of a dataset's files — ``Dataset.load``,
every in-place rewrite (``dataset.maintain._Rewrite.read``) and the
TimeFly pointer read go through it — and the one place that handles
schema drift: parquet footers Spark cannot merge are read per footer
schema and reconciled on ``schema.get_unified_schema``.

Feather/IPC has no built-in Spark reader; a DIRECTORY (or list) of part
files is read distributed (:func:`read_feather_dataset`: parallelize the
file list, decode task-side via pyarrow IPC — feather v2 IS Arrow IPC), while
a single file goes through the driver-side pyarrow bridge (reference
reads it the same single-node way, src/pydala/dataset/reader.py:118-135)
— fine for small sidecar files.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from pydala_spark.session import configure_session

#: Synthetic test tables generated by the driver (TESTDATA.md).
TEST_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


#: Spark's messages for parquet footers ``mergeSchema`` cannot merge
_MERGE_ERRORS = ("CANNOT_MERGE_SCHEMAS", "Failed to merge", "Failed merging")


def read(
    spark: SparkSession,
    path: str | list[str],
    format: str = "parquet",
    schema=None,
    base_path: str | None = None,
    infer_schema: bool = True,
    **options,
) -> DataFrame:
    """Format-dispatched read (reference reader.py:257-290): the one read
    of a dataset's files. ``Dataset.load`` passes its directory; every
    in-place rewrite (``maintain._Rewrite.read``) and the TimeFly pointer
    read pass an explicit file list, with ``base_path`` keeping hive
    partition discovery.

    parquet/orc/csv/json are distributed Spark reads. parquet and orc
    merge every file's footer schema, so a column only some files carry
    is kept. When parquet footers conflict (int32 in one file, int64 in
    another), Spark's merge fails and the files are read per footer
    schema, cast to ``schema.get_unified_schema`` and unioned by name
    (:func:`_drift_read`; reference retry, reader.py:186-188). csv is
    read with its header, typed by inference unless a ``schema`` is
    given. ``infer_schema=False`` (the rewrite read) keeps text as text:
    csv columns and hive partition values stay strings, so a rewrite
    writes back ``007`` and ``1.50``, not ``7`` and ``1.5``. Feather/
    ipc/arrow go through pyarrow: a directory or file list distributed,
    a single file on the driver (small-data bridge).
    """
    format = format.lower()
    if format in ("feather", "ipc", "arrow"):
        if isinstance(path, str) and "://" not in path:
            local = path.removeprefix("file:")
            if not os.path.isdir(local):
                import pyarrow.feather as pf

                return spark.createDataFrame(pf.read_table(local).to_pandas())
        # Writer lays out part-*.feather files — distributed read
        return read_feather_dataset(spark, path)
    if format in ("parquet", "orc"):
        options.setdefault("mergeSchema", True)
    elif format == "csv":
        options.setdefault("header", True)
        if schema is None and infer_schema:
            options.setdefault("inferSchema", True)
    if base_path is not None:
        options["basePath"] = base_path
    reader = spark.read.format(format).options(**options)
    if schema is not None:
        return reader.schema(schema).load(path)
    base = base_path or (path if isinstance(path, str) else None)
    try:
        df = reader.load(path)
    except Exception as exc:
        # only a schema-merge failure means a per-schema read; anything
        # else (missing path, corrupt footer) surfaces as it is
        if format != "parquet" or not any(m in str(exc) for m in _MERGE_ERRORS):
            raise
        return _drift_read(spark, path, base, infer_schema, options, exc)
    if infer_schema or base is None:
        return df
    # partition values as their directory text: Spark types a partition
    # column from a user schema instead of inferring it (not from the
    # session conf, which sweeps reading from a thread pool share)
    from pyspark.sql.types import StringType, StructField, StructType

    from pydala_spark.schema import infer_partitioning
    from pydala_spark.utils.pathops import strip_scheme

    root = strip_scheme(base).rstrip("/")
    parts = infer_partitioning(
        strip_scheme(p)[len(root):] for p in _listed(spark, path)) or []
    if all(df.schema[c].dataType == StringType() for c in parts if c in df.columns):
        return df
    return reader.schema(StructType([
        StructField(f.name, StringType()) if f.name in parts else f
        for f in df.schema
    ])).load(path)


def _listed(spark: SparkSession, path: str | list[str]) -> list[str]:
    """The data files of a read: an explicit list as given, a directory
    listed once (``PathOps.data_files``)."""
    if not isinstance(path, str):
        return list(path)
    from pydala_spark.utils.pathops import PathOps

    return [p for p, _ in PathOps(spark, path).data_files(path)]


def _drift_read(spark, path, base, infer_schema, options, exc) -> DataFrame:
    """Parquet files whose footers Spark cannot merge: one read per
    footer schema, each cast to the unified schema, unioned by name.
    Each group is still a distributed scan, and the number of distinct
    schemas (not files) bounds the plan size. Hive partition columns
    come through ``base`` (the directory itself for a directory read).
    ``Writer.unify_schema`` rewrites the stragglers for good."""
    from pydala_spark import schema as schema_mod

    files = _listed(spark, path)
    groups: dict[str, tuple] = {}
    for f, s in zip(files, footer_schemas(files)):
        groups.setdefault(str(s), (s, []))[1].append(f)
    if len(groups) < 2:
        raise exc  # one footer schema: the conflict is not between files
    unified, _ = schema_mod.get_unified_schema(s for s, _ in groups.values())
    fields = schema_mod.arrow_schema_to_spark(unified).fields
    names = {f.name for f in fields}
    out = None
    for _, group in groups.values():
        # base keeps hive partition discovery for an explicit file list:
        # partition columns live in directory names, not in footers
        part = read(spark, group, "parquet", base_path=base,
                    infer_schema=infer_schema, **options)
        part = part.select(*[
            (F.col(f.name) if f.name in part.columns else F.lit(None))
            .cast(f.dataType).alias(f.name) for f in fields
        ], *[c for c in part.columns if c not in names])
        out = part if out is None else out.unionByName(part)
    return out


def footer_schemas(files: list[str], format: str = "parquet") -> list:
    """The Arrow schema in each file's footer (parquet, or feather/
    Arrow IPC), metadata stripped. Metadata-only: the footers are read
    concurrently through ONE pyarrow FileSystem for the whole list — a
    sequential per-file ``from_uri`` + round-trip loop would pay minutes
    of driver latency on a many-thousand-part object-store dataset."""
    from concurrent.futures import ThreadPoolExecutor

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyarrow import fs as pafs

    from pydala_spark.dataset.writer import _check_pyarrow_scheme
    from pydala_spark.utils.pathops import strip_scheme

    if not files:
        return []
    _check_pyarrow_scheme(files[0])
    fs, paths = pafs.LocalFileSystem(), [strip_scheme(f) for f in files]
    if "://" in paths[0]:
        # pyarrow spells S3 's3://'; Hadoop listings say 's3a://'
        first = paths[0].replace("s3a://", "s3://", 1).replace("s3n://", "s3://", 1)
        fs, p0 = pafs.FileSystem.from_uri(first)
        cut = len(paths[0]) - len(p0)  # from_uri strips scheme://
        paths = [p[cut:] for p in paths]

    def footer(p):
        with fs.open_input_file(p) as fh:
            s = (pq.ParquetFile(fh).schema_arrow if format == "parquet"
                 else pa.ipc.open_file(fh).schema)
        return s.remove_metadata()

    with ThreadPoolExecutor(max_workers=min(16, len(paths))) as ex:
        return list(ex.map(footer, paths))


def read_feather_dataset(spark: SparkSession, path: str | list[str]) -> DataFrame:
    """Distributed feather/Arrow-IPC dataset read of a directory (listed
    once, PathOps) or an explicit part-file list: the Arrow schema is
    the UNIFICATION of every file's footer schema (:func:`footer_schemas`
    — the old driver bridge promoted schemas via
    ``concat_tables(promote_options="default")`` and datasets written by
    it may carry promoted-width parts), and each task decodes whole
    files via pyarrow IPC, casting any narrower part to the unified
    schema — data bytes never pass through the driver (the counterpart
    of ``dataset.writer.write_feather_dataset``).

    Parallelism is one task per file (round-robin), so a compacted
    feather dataset reads as wide as its file count — the same
    granularity Spark's parquet reader has for unsplittable codecs.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import from_arrow_schema

    from pydala_spark.utils.pathops import strip_scheme

    files = sorted(
        strip_scheme(p) for p in _listed(spark, path)
        if p.lower().endswith((".feather", ".ipc", ".arrow"))
    )
    if not files:
        raise FileNotFoundError(f"no feather files under {path}")
    arrow_schema = pa.unify_schemas(
        footer_schemas(files, "feather"), promote_options="permissive")
    spark_schema = from_arrow_schema(arrow_schema)

    paths_df = spark.createDataFrame(
        [(f,) for f in files], "__f string"
    ).repartition(len(files))

    # worker closure: pyarrow-only refs (no package imports on workers);
    # pa.Schema pickles, so the unified schema ships inside the closure
    def read_parts(iterator):
        import pyarrow as pa
        from pyarrow import fs as pafs

        for batch in iterator:
            for fp in batch.column(0).to_pylist():
                if "://" in fp:
                    uri = fp.replace("s3a://", "s3://", 1).replace(
                        "s3n://", "s3://", 1
                    )
                    fs, p = pafs.FileSystem.from_uri(uri)
                else:
                    fs, p = pafs.LocalFileSystem(), fp
                with fs.open_input_file(p) as fh:
                    reader = pa.ipc.open_file(fh)
                    for i in range(reader.num_record_batches):
                        b = reader.get_batch(i)
                        if b.schema != arrow_schema:
                            # promoted-width cast; columns absent from
                            # this part are null-filled (matches the old
                            # bridge's concat_tables promotion)
                            t = pa.Table.from_batches([b])
                            cols = [
                                t.column(f.name).cast(f.type)
                                if f.name in t.column_names
                                else pa.nulls(t.num_rows, f.type)
                                for f in arrow_schema
                            ]
                            t = pa.table(cols, schema=arrow_schema)
                            yield from t.combine_chunks().to_batches()
                        else:
                            yield b

    return paths_df.mapInArrow(read_parts, spark_schema)


#: per-session relation cache for the driver fixture tables — keyed
#: weakly by SparkSession so a stopped session's entries vanish. The
#: fixture tables are IMMUTABLE for the life of a run (driver-generated,
#: /root/testdata is read-only), so re-deriving the DataFrame — a
#: file listing + parquet footer read per call, ~0.1 s of driver time —
#: is pure waste: a bench/correctness sweep touches lineitem alone from
#: ~a dozen queries. This is the same metadata reuse Spark's catalog
#: gives registered tables; only this loader (test tables) gets it —
#: Dataset/Writer paths, whose inputs mutate, stay uncached.
from weakref import WeakKeyDictionary

_TABLE_CACHE: "WeakKeyDictionary" = WeakKeyDictionary()


def spread_scan(df: DataFrame, probe: DataFrame | None = None) -> DataFrame:
    """Guarantee an expensive per-row stage at least ``defaultParallelism``
    input partitions (guide §2.5 "input skew: one huge unsplittable
    file … repartition immediately after the read").

    A parquet file is splittable only at row-group boundaries, so a
    single-row-group file scans as ONE task no matter how many cores the
    session has — and every downstream narrow stage (hashing, regex,
    decimal partial aggregation) inherits that single task. This helper
    is SCALE-ADAPTIVE, unlike a bare ``repartition(n)``: it first asks
    the planned scan how many partitions it actually has and becomes a
    no-op when the scan already parallelizes (the multi-file / many-
    row-group shape every real 100 TB dataset has), so no production
    plan ever pays a full raw-row shuffle for it. The round-robin
    exchange it inserts on deficient scans moves only the pruned
    columns (projection pushdown stays below the exchange) exactly once.

    The partition count probe (``df.rdd.getNumPartitions()`` — physical
    planning only, no job) is cached on the DataFrame object:
    ``load_table`` memoizes frames per (session, dir, table), so each
    table pays the probe once per session, not once per query build.

    ``PYDALA_SPREAD=off`` disables spreading (measurement hook for
    A/B-ing the exchange itself).

    ``probe`` (round 17): probe THAT frame's partition count instead of
    ``df``'s — for spreading a frame derived from a base scan by narrow
    ops only (projections, UDF columns), whose partitioning therefore
    equals the base's. Probing the memoized ``load_table`` frame costs
    one planning pass per session; probing the derived frame would
    re-plan on every query build.
    """
    if os.environ.get("PYDALA_SPREAD", "auto") == "off":
        return df
    want = df.sparkSession.sparkContext.defaultParallelism
    src = probe if probe is not None else df
    parts = getattr(src, "_pydala_scan_parts", None)
    if parts is None:
        try:
            parts = src.rdd.getNumPartitions()
        except Exception:
            parts = None  # Connect sessions: no RDD handle; spread
        try:
            src._pydala_scan_parts = parts
        except Exception:
            pass
    if parts is not None and parts >= want:
        return df
    return df.repartition(want)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver test table, normalizing the ns-timestamp boundary.

    ``events.ts`` is parquet TIMESTAMP(NANOS), which Spark cannot read
    natively; with ``spark.sql.legacy.parquet.nanosAsLong`` it arrives as
    int64 nanoseconds and is converted here to a µs timestamp —
    numerically identical to DuckDB's ``CAST(ts AS TIMESTAMP)``
    truncation for post-epoch data (FIXTURES.md §B).

    The resolved DataFrame is cached per (session, dir, table) — see
    ``_TABLE_CACHE``; the fixture tables never change within a run.
    """
    configure_session(spark)
    per = _TABLE_CACHE.setdefault(spark, {})
    key = (os.path.abspath(sf_dir), name)
    if key in per:
        return per[key]
    df = _load_table_uncached(spark, sf_dir, name)
    per[key] = df
    return df


def _load_table_uncached(
    spark: SparkSession, sf_dir: str, name: str
) -> DataFrame:
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn(
            "ts", F.timestamp_micros(F.floor(F.col("ts") / F.lit(1000)).cast("long"))
        )
    # Tz-naive parquet timestamps read as TIMESTAMP_NTZ when the session
    # was built without our inferTimestampNTZ=false default (configure_
    # session sets it, but a scan bound before that conf landed keeps the
    # inferred type). Session zone is UTC, so this cast is a pure type
    # relabel — same micros DuckDB reads naively. Scope: TOP-LEVEL
    # columns only (df.dtypes) — an NTZ field nested inside a
    # struct/array would keep its type; all test tables are flat, and
    # nested inputs go through Dataset/pinned schemas, not this loader.
    ntz_cols = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    for c in ntz_cols:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TEST_TABLES
) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in names}


def register_views(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TEST_TABLES
) -> None:
    """Register every test table as a temp view (reference registers
    datasets in its engine catalog, reader.py:252)."""
    for name, df in load_tables(spark, sf_dir, names).items():
        df.createOrReplaceTempView(name)
