"""Writer: partitioned dataset writes with append/overwrite/error/delta.

Reference parity (SURVEY.md §2.2):

- write modes append / overwrite / raise (src/pydala/dataset/writer.py:185-256)
- **delta mode**: append only rows not already in the dataset — full-row
  EXCEPT-DISTINCT semantics or subset-keyed null-safe anti-join, optionally
  restricted to a ``[start_time, end_time)`` window on a datetime column
  (writer.py:219-249 + src/pydala/utils/table.py:135-228)
- hive-partitioned writes (writer.py:130-137, 149-162, 462-498) — Spark's
  shuffle-based ``partitionBy`` replaces the reference's per-partition loop
- time-interval batch ingestion with the ``"1d"``/``"3mo"`` grammar
  (writer.py:292-385) — realized as a derived bucket partition column
  instead of a driver-side loop
- per-batch ``transform_func`` hook (writer.py:486-490)
- zstd default compression (writer.py:33)
- schema-unification rewrite (writer.py:529-571)

Scale: every mode is a single distributed write; the delta diff is a
shuffled anti-join (or set subtract) whose existing-side scan is filtered
by the datetime window. The window prunes partitions only when the
dataset is partitioned by the datetime column itself; a ``time_bucket``
layout partitions on the derived ``bucket``, so the diff still lists and
scans every partition (parquet min/max skips row groups outside it).

Commits: appends and delta appends add files through Spark's own job
commit. A write that replaces files (overwrite, overwrite_partitions,
upsert) and every directory-flavor write stage beside the dataset and
commit through the rewrite step (``maintain._Rewrite``), so a failed or
interrupted write leaves the dataset at its before or after state, an
overwrite may read its own target, and ``_``-prefixed sidecars
(``_dataset.json``) survive an overwrite. The reference's overwrite
deletes the dataset first (writer.py:210-214).
"""

from __future__ import annotations

import os
import re
from typing import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pydala_spark.session import configure_session

WRITE_MODES = (
    "append", "overwrite", "overwrite_partitions", "error", "raise", "delta",
    "upsert",
)

#: row cap for the single-file feather driver bridge (VERDICT r12 #5):
#: ~2M narrow rows is comfortably inside a 4g driver while being far
#: above any sidecar/interchange file; a fixed cap, with no override.
FEATHER_BRIDGE_MAX_ROWS = 2_000_000

#: unit aliases from the reference's batch-size grammar
#: (src/pydala/dataset/writer.py:312-334).
_UNIT_ALIASES = {
    "microseconds": "microsecond", "micro": "microsecond", "u": "microsecond",
    "us": "microsecond",
    "milliseconds": "millisecond", "milli": "millisecond", "ms": "millisecond",
    "seconds": "second", "sec": "second", "s": "second",
    "minutes": "minute", "miuntes": "minute", "min": "minute", "t": "minute",
    "hours": "hour", "h": "hour",
    "days": "day", "d": "day",
    "weeks": "week", "w": "week",
    "months": "month", "mo": "month", "m": "month",
    "years": "year", "y": "year", "a": "year",
}
# canonical singular forms parse as themselves ("1day", "2hour") — the
# property fuzz found they fell through the alias table
_UNIT_ALIASES.update(
    {u: u for u in (
        "microsecond", "millisecond", "second", "minute", "hour",
        "day", "week", "month", "year",
    )}
)


def parse_interval(spec: str) -> tuple[int, str]:
    """Parse ``"1d"``, ``"3mo"``, ``"15min"`` into ``(n, unit)``
    (reference grammar writer.py:300-334; defaults: n=1, unit=year)."""
    unit_match = re.findall("[a-z]+", spec.lower())
    val_match = re.findall("[0-9]+", spec)
    unit = _UNIT_ALIASES.get(unit_match[0] if unit_match else "y")
    if unit is None:
        raise ValueError(f"unknown interval unit in {spec!r}")
    return (int(val_match[0]) if val_match else 1), unit


def bucket_column(col: str, spec: str) -> F.Column:
    """Tumbling-window bucket start for a timestamp column — the Spark
    form of the reference's generate_series time grid (writer.py:342-375).
    """
    n, unit = parse_interval(spec)
    if unit in ("microsecond", "millisecond"):
        # sub-second grids: arithmetic on epoch micros
        micros = F.unix_micros(F.col(col))
        width = n if unit == "microsecond" else n * 1000
        return F.timestamp_micros((F.floor(micros / width) * width).cast("long"))
    if n == 1 and unit in ("second", "minute", "hour", "day", "week", "month", "year"):
        return F.date_trunc(unit, F.col(col))
    if unit == "week":
        # Monday-anchored (ISO) for ANY n, matching date_trunc('week')
        # at n=1 — the generic epoch-seconds grid would anchor weeks at
        # Thursday 1970-01-01, so '1w' and '2w' datasets would sit on
        # phase-shifted grids
        days = F.datediff(F.col(col), F.lit("1969-12-29"))
        start = (F.floor(days / (7 * n)) * (7 * n)).cast("int")
        return F.to_timestamp(F.date_add(F.lit("1969-12-29").cast("date"), start))
    if unit in ("second", "minute", "hour", "day"):
        seconds = {"second": 1, "minute": 60, "hour": 3600,
                   "day": 86400}[unit] * n
        epoch = F.unix_timestamp(F.col(col))
        return F.timestamp_seconds((F.floor(epoch / seconds) * seconds).cast("long"))
    # n-month / n-year grids anchored at epoch
    months_per = n * (12 if unit == "year" else 1)
    months = (F.year(F.col(col)) - F.lit(1970)) * 12 + F.month(F.col(col)) - 1
    start = (F.floor(months / months_per) * months_per).cast("int")
    # pmod, not %: Spark's % follows the dividend's sign, so pre-1970
    # timestamps (negative month offsets) would produce month 0/-1 —
    # an ANSI DATETIME_FIELD_OUT_OF_BOUNDS error or a NULL bucket
    return F.to_timestamp(
        F.make_date(
            F.lit(1970) + F.floor(start / 12).cast("int"),
            (F.pmod(start, F.lit(12)) + 1).cast("int"),
            F.lit(1),
        )
    )


def _dehive(ops, stage: str, rels: list[str]) -> list[str]:
    """Rename the hive ``col=value`` partition dirs of the staged files
    ``rels`` (stage-relative) to bare ``value`` dirs; returns the files'
    new relative paths. Hive escapes ``=`` in values, so only Spark's
    partition dirs contain one."""
    import posixpath

    dirs = {posixpath.dirname(rel) for rel in rels}
    bare = {d: "/".join(seg.split("=", 1)[-1] for seg in d.split("/"))
            for d in dirs if "=" in d}
    for d, to in bare.items():
        ops.rename(posixpath.join(stage, d), posixpath.join(stage, to))
    for top in {d.split("/")[0] for d in bare}:
        ops.delete(posixpath.join(stage, top))  # the emptied hive tree
    return [posixpath.join(bare.get(posixpath.dirname(rel), posixpath.dirname(rel)),
                           posixpath.basename(rel)) for rel in rels]


def _null_safe_anti_join(
    incoming: DataFrame, existing: DataFrame, on: Sequence[str]
) -> DataFrame:
    """Rows of ``incoming`` whose key tuple is absent from ``existing``,
    treating NULL==NULL (the reference's EXCEPT-based key diff is
    null-safe — utils/table.py:158-185)."""
    ex = existing.select(*on).dropDuplicates(list(on)).alias("__ex")
    inc = incoming.alias("__in")
    cond = None
    for c in on:
        clause = F.col(f"__in.{c}").eqNullSafe(F.col(f"__ex.{c}"))
        cond = clause if cond is None else cond & clause
    return inc.join(ex, cond, "left_anti")


def tables_diff(
    incoming: DataFrame,
    existing: DataFrame,
    subset: Sequence[str] | None = None,
) -> DataFrame:
    """The reference's ``get_tables_diff`` (utils/table.py:135-228).

    Full-row: SQL ``EXCEPT`` (distinct) semantics — deduplicates the
    incoming side too; Spark's ``subtract`` implements exactly that,
    null-safe. Subset-keyed: ALL incoming rows whose key tuple does not
    occur in ``existing`` (incoming-internal duplicates are kept,
    matching the reference's is_in filter, utils/table.py:183-185).
    """
    if subset:
        return _null_safe_anti_join(incoming, existing, subset)
    missing = [c for c in incoming.columns if c not in existing.columns]
    if missing:
        raise ValueError(f"existing dataset lacks columns {missing} for full-row diff")
    aligned = existing.select(
        *[F.col(c).cast(dict(incoming.dtypes)[c]) for c in incoming.columns]
    )
    return incoming.subtract(aligned)


def write_frame(
    df: DataFrame,
    path: str,
    format: str = "parquet",
    mode: str = "overwrite",
    compression: str = "zstd",
    partition_by: Sequence[str] | None = None,
    max_records_per_file: int | None = None,
) -> None:
    """Write ``df`` as the data files of a dataset: the one place that
    turns a dataset format into a ``DataFrameWriter``. ``mode`` is a
    Spark save mode; a write that replaces live data overwrites a stage
    and commits it (``maintain._Rewrite``), never the dataset itself.
    csv is written with a header (every reader expects one); zstd is
    parquet/orc-native and the hadoop text codecs lack it, so csv/json
    degrade it to gzip (still transparent on read) rather than silently
    writing uncompressed text."""
    format = format.lower()
    if format not in ("parquet", "orc", "csv", "json"):
        raise ValueError(f"unsupported write format {format!r}")
    if format in ("csv", "json") and compression == "zstd":
        compression = "gzip"
    writer = df.write.format(format).option("compression", compression)
    if format == "csv":
        writer = writer.option("header", True)
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", str(max_records_per_file))
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.mode(mode).save(path)


class Writer:
    """Partitioned dataset writer.

    >>> Writer(spark, "/lake/events", partition_by=["event_type"]).write(
    ...     df, mode="delta", delta_subset=["event_id"], datetime_column="ts")
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        format: str = "parquet",
        mode: str = "append",
        partition_by: str | Sequence[str] | None = None,
        compression: str = "zstd",
        max_records_per_file: int | None = None,
        filename_scheme: str = "spark",
        base_name: str = "data",
        partition_flavor: str = "hive",
        signatures: Sequence[str] | None = None,
        signature_kwargs: dict | None = None,
    ):
        if mode not in WRITE_MODES:
            raise ValueError(f"mode must be one of {WRITE_MODES}")
        if filename_scheme not in ("spark", "reference"):
            raise ValueError("filename_scheme must be 'spark' or 'reference'")
        if partition_flavor not in ("hive", "directory"):
            raise ValueError("partition_flavor must be 'hive' or 'directory'")
        self.spark = configure_session(spark)
        # writes to a TimeFly base land in its current/, and on a
        # generation-pointer dataset inside the ACTIVE generation
        # (dataset/generations.py), carried forward by the next
        # maintenance pass; re-resolved at every write() so a long-lived
        # Writer (streaming foreachBatch) follows generation advances
        # made by ride-along compaction
        from pydala_spark.dataset.timefly import open_dirs

        self._orig_path = path
        self.path = open_dirs(self.spark, path)[1]
        self.format = format.lower()
        self.mode = mode
        self.partition_by = (
            [partition_by] if isinstance(partition_by, str) else list(partition_by or [])
        )
        self.compression = compression
        self.max_records_per_file = max_records_per_file
        self.filename_scheme = filename_scheme
        self.base_name = base_name
        #: "directory" writes bare-value partition dirs (``2024/eu/``
        #: instead of ``year=2024/region=eu/``) — the WRITE side of the
        #: reference's pyarrow DirectoryPartitioning (reference
        #: dataset/writer.py:136-137; read side: the ``partitioning=``
        #: argument of ``Dataset``).
        #: SURVEY §7.4 accepted this as a divergence; round 5 closes it.
        self.partition_flavor = partition_flavor
        #: signature ride-along (round 6): kinds for
        #: maintain.materialize_signatures to run on each batch AFTER a
        #: successful write — the W9 per-batch-hook seam (reference
        #: dataset/writer.py:486-490) applied to the "hash the corpus
        #: once at ingest" pattern. Appends sign only the landed rows
        #: (delta mode: only the diff); a full overwrite rewrites the
        #: sidecar. signature_kwargs passes id_col/text_col/k/seed etc.
        #: Crash semantics: the data write commits before the sidecar
        #: write — a crash between the two leaves the batch unsigned
        #: (a delta re-run writes no rows, so it will NOT re-sign);
        #: heal with maintain.materialize_signatures over the dataset,
        #: which is idempotent.
        self.signatures = list(signatures or [])
        self.signature_kwargs = dict(signature_kwargs or {})

    # -- input coercion (reference to_relation, utils/table.py:58-92) --------

    def _coerce(self, data) -> DataFrame:
        if isinstance(data, DataFrame):
            return data
        if isinstance(data, str):
            # read the source in THIS writer's format (a csv writer fed
            # a csv dataset path must not scan it as parquet)
            from pydala_spark.dataset.reader import Dataset

            return Dataset(self.spark, data, format=self.format).load()
        try:
            import pyarrow as pa

            if isinstance(data, (pa.Table, pa.RecordBatch)):
                return self.spark.createDataFrame(
                    data.to_pandas() if isinstance(data, pa.RecordBatch) else data
                )
        except ImportError:  # pragma: no cover
            pass
        # pandas / polars / anything createDataFrame understands
        return self.spark.createDataFrame(data)

    # -- the write ------------------------------------------------------------

    def write(
        self,
        data,
        mode: str | None = None,
        delta_subset: Sequence[str] | None = None,
        datetime_column: str | None = None,
        start_time=None,
        end_time=None,
        time_bucket: str | None = None,
        transform_func: Callable[[DataFrame], DataFrame] | None = None,
        transform_func_kwargs: dict | None = None,
        skip_empty: bool = True,
    ) -> None:
        """Write ``data`` (DataFrame / arrow / pandas / path) to the dataset.

        ``time_bucket`` ("1d", "6h", "3mo", ...) derives a tumbling-window
        bucket column used as the leading physical partition — one
        shuffle-partitioned write replaces the reference's per-slice driver
        loop (writer.py:292-385).

        Modes: ``append``; ``error``/``raise`` (append into a dataset
        with no data files); ``delta`` (append only the rows not already
        there); ``overwrite`` (replace every data file);
        ``overwrite_partitions`` (replace the partitions the batch holds
        rows for — a daily re-run rewrites one day, not the dataset as
        the reference's overwrite does); ``upsert`` (replace rows by ``delta_subset`` key,
        rewriting only the touched partitions; an empty batch is a
        no-op). The last three, and every ``partition_flavor=
        "directory"`` write, stage and commit through the rewrite step
        (module docstring); a directory-flavor append must re-pass
        ``partition_by`` (bare layouts carry no column names to
        inherit).

        Delta mode divergence (documented): when the window bounds default
        to the batch min/max, the end bound is treated as *inclusive* so
        rows at exactly the max timestamp are still written — the
        reference's half-open default drops them (writer.py:196-200 +
        :227-240). Explicit ``end_time`` keeps half-open semantics.
        """
        from pydala_spark.dataset.maintain import _Rewrite

        # the rewrite step's head: follow any generation advance since
        # construction, finish a crashed staged rewrite, and list the data
        # files ONCE — existence, the directory-flavor depth check,
        # inherited partitioning, an upsert and whether the write
        # replaces live files all read this listing
        rw = _Rewrite(self.spark, self._orig_path, "__upserting")
        self.path = rw.local
        df = self._coerce(data)
        if transform_func is not None:
            df = transform_func(df, **(transform_func_kwargs or {}))

        mode = mode or self.mode
        if mode not in WRITE_MODES:
            raise ValueError(f"mode must be one of {WRITE_MODES}")
        if self.signatures and mode in ("upsert", "overwrite_partitions"):
            # both modes REPLACE existing rows, whose sidecar entries
            # would silently go stale (append) or survive a partition
            # swap (overwrite) — re-run materialize_signatures after
            # such maintenance instead of trusting a wrong sidecar
            raise ValueError(
                "signature ride-along supports append/overwrite/delta/"
                f"error modes, not mode={mode!r} — re-materialize "
                "signatures after row-replacing writes"
            )

        if time_bucket and not datetime_column:
            raise TypeError("datetime_column must be set when time_bucket is used")

        exists = bool(rw.files)
        if (
            self.partition_flavor == "directory"
            and exists
            and not self.partition_by
            and not time_bucket
            # a full overwrite replaces the whole layout — nothing
            # to inherit, nothing to mis-read (r5 review); only modes
            # that land files NEXT TO the existing layout need the guard
            and mode not in ("error", "raise", "overwrite")
        ):
            # bare-value layouts carry no column names, so nothing can be
            # inherited: a flat append onto a depth>0 directory layout
            # would land files the partition parser mis-reads. Fail loud.
            if any("/" in rel for rel in rw.rels):
                raise ValueError(
                    "partition_flavor='directory' dataset has a partitioned "
                    "layout but no partition_by was given — bare-value dirs "
                    "carry no column names to inherit; pass partition_by "
                    "matching the existing directory depth"
                )
        if mode in ("error", "raise") and exists:
            raise FileExistsError(
                f"Path '{self.path}' already exists. Use mode='overwrite' or 'append'."
            )
        if mode == "upsert":
            if not delta_subset:
                raise ValueError("mode='upsert' needs delta_subset key columns")
            if self.partition_flavor == "directory":
                raise ValueError(
                    "mode='upsert' is not supported with "
                    "partition_flavor='directory' — the partition-swap "
                    "path keys on hive col=value directories"
                )

        # the frame to land: the input as given, the delta diff, or the
        # merged rows of the partitions an upsert touches
        if mode == "delta" and exists:
            df = self._delta_diff(df, rw, delta_subset, datetime_column, start_time, end_time)
        elif mode == "upsert":
            if not exists:
                mode = "append"  # first write: plain append lays the dataset down
            else:
                df = self._upsert(df, delta_subset, rw)
                if df is None:
                    return  # an empty batch replaces nothing
        replaces = mode in ("overwrite", "overwrite_partitions", "upsert")
        # appends add files through Spark's own job commit (a failed job
        # leaves nothing); replacing live files, and every directory-flavor
        # write (its hive dirs become bare ones out of sight), stages and
        # commits through the rewrite step. A target with no data files
        # has nothing to replace and is written directly. The feather
        # dataset keeps its own commit (write_feather_dataset).
        staged = self.format not in ("feather", "ipc", "arrow") and (
            self.partition_flavor == "directory" or (exists and replaces))
        # a frame read again after the write (the emptiness probe, the
        # signature ride-along) is localCheckpointed, NOT persisted (round
        # 8): the delta diff's plan scans the very files an append lands
        # next to, and Spark's recacheByPath then RE-EXECUTES a merely-
        # persisted plan against the new listing — the ride-along saw an
        # EMPTY diff and signed zero rows; an overwrite's input may read
        # the files its commit replaces. Checkpointing truncates the
        # lineage to a LogicalRDD with no path dependency, so the landed
        # rows stay readable after the write, and the diff runs once.
        # Storage is freed when the RDD is GC'd.
        reused = (skip_empty and not replaces) or bool(self.signatures)
        checkpointed = exists and reused and mode in ("delta", "overwrite")
        if checkpointed:
            df = df.localCheckpoint(eager=True)
        try:
            if skip_empty and not replaces and df.isEmpty():
                # empty-write gate (reference checks rel.shape[0] before
                # every write, SURVEY §2.6 A3) — keeps delta no-ops from
                # littering the dataset with empty part files.
                return
            if staged:
                self._write_staged(df, mode, rw, datetime_column, time_bucket)
            else:
                self._write_resolved(df, mode, rw.rels, datetime_column, time_bucket)
            if self.signatures:
                from pydala_spark.dataset.maintain import (
                    materialize_signatures,
                )

                materialize_signatures(
                    self.spark, df, self.path,
                    kinds=self.signatures,
                    mode="overwrite" if mode == "overwrite" else "append",
                    **self.signature_kwargs,
                )
            else:
                # a write WITHOUT the ride-along mutates the corpus out
                # from under any existing signature sidecars: the next
                # consumer re-materializes (loud missing-sidecar path)
                # instead of serving stale hashes to a reader that
                # skipped verify_against. Ride-along writers above keep
                # theirs fresh (markers fold).
                from pydala_spark.dataset.maintain import drop_signatures

                drop_signatures(rw.ops, self.path)
        finally:
            if checkpointed:
                df.unpersist()
        self._apply_filename_scheme()

    def _write_staged(self, df: DataFrame, mode: str, rw,
                      datetime_column: str | None,
                      time_bucket: str | None) -> None:
        """Write ``df`` to the rewrite step's stage and commit it
        (``rw``: the write's open
        :class:`~pydala_spark.dataset.maintain._Rewrite`). One listing of
        the stage names what the commit replaces: every visible entry
        for an overwrite and an unpartitioned upsert, the staged
        partition directories for overwrite_partitions and a partitioned
        upsert (so they are the names Spark wrote), the staged files for
        a directory-flavor append. A directory-flavor write renames its
        hive ``col=value/`` dirs to bare ``value/`` dirs inside the stage
        first — the WRITE side of directory-flavor partitioning
        (reference dataset/writer.py:136-137; pyarrow
        DirectoryPartitioning), one rename per partition. A failure
        before the commit removes the stage and leaves the dataset as it
        was; a crash inside it is finished by the next mutation's
        ``recover``."""
        import posixpath

        try:
            self._write_resolved(df, mode, rw.rels, datetime_column,
                                 time_bucket, target=rw.stage)
            rels = [p[len(rw.stage):].lstrip("/")
                    for p, _ in rw.ops.data_files(rw.stage)]
            if self.partition_flavor == "directory":
                rels = _dehive(rw.ops, rw.stage, rels)
        except BaseException:
            rw.ops.delete(rw.stage)
            raise
        entries: list[str] | None = rels
        if mode == "overwrite":
            entries = None
        elif mode in ("overwrite_partitions", "upsert"):
            dirs = {posixpath.dirname(rel) for rel in rels}
            entries = None if "" in dirs else sorted(dirs)
        rw.commit(entries)

    def _apply_filename_scheme(self) -> None:
        """Opt-in reference filename compatibility (SURVEY §7.4 W2, which
        accepted Spark's ``part-*`` names as a divergence): with
        ``filename_scheme="reference"`` every write finishes by renaming
        part files to the reference's ``{base}-{YYYYmmdd_HHMMSSfff}-{seq}
        .{ext}`` scheme (reference src/pydala/dataset/writer.py:141) via
        :func:`pydala_spark.dataset.maintain.normalize_filenames`.
        Metadata-only (one listing + one FileSystem rename per NEW file —
        already-conformant files are skipped, so appends touch only the
        files this write produced). Skipped for the single-file feather
        bridge target, which the reference names explicitly anyway."""
        if self.filename_scheme != "reference":
            return
        from pydala_spark.dataset.maintain import normalize_filenames
        from pydala_spark.utils.pathops import PathOps

        if PathOps(self.spark, self.path).is_file(self.path):
            return
        normalize_filenames(self.spark, self.path, base_name=self.base_name)

    def _write_resolved(
        self,
        df: DataFrame,
        mode: str,
        rels: list[str],
        datetime_column: str | None,
        time_bucket: str | None,
        target: str | None = None,
    ) -> None:
        """Write ``df`` with the dataset's partition columns: appended to
        the dataset, or overwriting ``target`` (the rewrite step's stage)."""
        from pydala_spark.schema import infer_partitioning

        # derive the time bucket BEFORE the inheritance gate: a repeat
        # append to a time-bucketed dataset inherits ['bucket'] from the
        # existing layout, and the column must exist by then
        if time_bucket:
            df = df.withColumn("bucket", bucket_column(datetime_column, time_bucket))
        partition_cols = list(self.partition_by)
        if not partition_cols and rels and mode != "overwrite":
            # Inherit the existing hive layout: appending flat files into a
            # partitioned dataset would land them at the root, where Spark's
            # partition discovery silently ignores them on read; and an
            # overwrite_partitions or upsert without partitionBy would
            # replace the whole dataset (silent loss of absent partitions).
            inherited = infer_partitioning(rels)
            if inherited:
                missing = [c for c in inherited if c not in df.columns]
                if missing:
                    raise ValueError(
                        f"dataset at {self.path} is partitioned by {inherited} "
                        f"but the incoming data lacks columns {missing}"
                    )
                partition_cols = inherited
        if time_bucket and "bucket" not in partition_cols:
            partition_cols = ["bucket"] + partition_cols
        if mode == "overwrite_partitions" and not partition_cols:
            raise ValueError(
                "mode='overwrite_partitions' needs partition columns "
                "(partition_by=, time_bucket=, or an existing hive layout to "
                "inherit) — without partitionBy the partition overwrite would "
                "silently replace the WHOLE dataset"
            )

        if self.format in ("feather", "ipc", "arrow"):
            if partition_cols:
                raise ValueError(
                    "feather/IPC write is a single-file driver bridge and does "
                    "not support partitioning — use parquet for partitioned data"
                )
            self._write_feather(df, "overwrite" if mode == "overwrite" else "append")
            return

        write_frame(
            df, target or self.path, self.format,
            mode="overwrite" if target else "append",
            compression=self.compression,
            partition_by=partition_cols,
            max_records_per_file=self.max_records_per_file,
        )

    def _write_feather(self, df: DataFrame, spark_mode: str) -> None:
        """Feather/IPC write. A path ending in .feather/.ipc/.arrow is a
        SINGLE-FILE driver bridge (append concatenates through Arrow —
        sidecar/interchange files only); a directory path is a
        DISTRIBUTED dataset write via :func:`write_feather_dataset` —
        one part-file per partition, no driver materialization
        (reference writes feather natively per batch, writer.py:390-427).
        """
        import pyarrow as pa
        import pyarrow.feather as pf

        local = self.path.removeprefix("file:")
        is_single = local.lower().endswith((".feather", ".ipc", ".arrow"))
        if not is_single:
            write_feather_dataset(
                self.spark, df, self.path,
                mode="overwrite" if spark_mode == "overwrite" else "append",
                compression=self.compression,
            )
            return
        # hard small-data guard (VERDICT r12 #5): the single-file form
        # materializes on the driver, so enforce the docstring's
        # sidecar/interchange-only caveat instead of trusting it — a
        # misuse at data scale should fail HERE, loudly, not as a
        # driver OOM. The cap is rows (the cheap pre-collect signal).
        # A plain count() is the scale-safe probe here, measured against
        # the two alternatives: count prunes every unused projection
        # (a wide sha2 column costs 0.21 s to count vs 0.39 s through a
        # limit probe at sf0.1) and tree-reduces per-partition partial
        # counts, so the "double computation" before toPandas is mostly
        # pruned away; limit(cap+1).count() plans
        # Exchange SinglePartition under GlobalLimit — every partition
        # may funnel up to cap rows into ONE reducer, exactly the shape
        # that falls over at misuse scale; persist() before counting
        # forces full column materialization that count alone avoids.
        n_rows = df.count()
        if n_rows > FEATHER_BRIDGE_MAX_ROWS:
            raise ValueError(
                f"single-file feather write of {n_rows} rows exceeds the "
                f"driver-bridge cap ({FEATHER_BRIDGE_MAX_ROWS}); this path is for sidecar/"
                "interchange files only — write to a DIRECTORY target for "
                "the distributed feather dataset form "
                "(write_feather_dataset), or use parquet"
            )
        table = pa.Table.from_pandas(df.toPandas(), preserve_index=False)
        comp = self.compression if self.compression in ("zstd", "lz4") else "uncompressed"
        if "://" in self.path:
            # remote single-file bridge (round 5 — previously raised):
            # GET the existing file for append, write a local temp, PUT
            # through the Hadoop FileSystem, so the bridge works on any
            # configured scheme. Still a driver bridge — sidecar and
            # interchange files only, use directory targets for data.
            import tempfile

            from pydala_spark.utils.pathops import PathOps

            ops = PathOps(self.spark, self.path)
            with tempfile.TemporaryDirectory() as tmp:
                scratch = os.path.join(tmp, "bridge.feather")
                if spark_mode == "append" and ops.is_file(self.path):
                    ops.get_file(self.path, scratch)
                    existing = pf.read_table(scratch)
                    table = pa.concat_tables(
                        [existing, table], promote_options="default"
                    )
                pf.write_feather(table, scratch, compression=comp)
                ops.put_file(scratch, self.path)
            return
        if spark_mode == "append" and os.path.exists(local):
            existing = pf.read_table(local)
            table = pa.concat_tables([existing, table], promote_options="default")
        os.makedirs(os.path.dirname(local) or ".", exist_ok=True)
        pf.write_feather(table, local, compression=comp)

    def _upsert(self, df: DataFrame, keys: Sequence[str], rw) -> DataFrame | None:
        """Update-or-insert by key: the frame that replaces what the batch
        touches — incoming rows replace existing rows with the same
        (null-safe) key tuple, everything else there survives. ``None``
        for an empty batch, which replaces nothing.

        Scale shape: on a hive-partitioned dataset only the partitions
        the batch TOUCHES are read and rewritten — the batch's distinct
        partition tuples come to the driver (small: it's the partition
        count, not rows) and prune the existing read (partition pruning
        keeps it a metadata operation); ``write`` then replaces the
        partition directories the merge staged. ``rw`` is the write's
        open rewrite step (:class:`~pydala_spark.dataset.maintain.
        _Rewrite`): the existing rows are read from its listing
        (``rw.read``: conflicting footer schemas reconciled, csv columns
        and partition values as text). An unpartitioned dataset is read,
        merged and replaced whole. Keys match across types (``001``
        matches ``1``); the incoming rows then take the read's column
        types, so surviving rows keep their text and partition
        directories keep their names (``p=007``).

        The upsert key should align with the partition key at scale: an
        incoming row whose key exists in an UNTOUCHED partition (key and
        partition disagree) is appended, not replaced — documented
        limitation of partition-pruned upserts.
        """
        from pydala_spark.schema import infer_partitioning

        if self.format in ("feather", "ipc", "arrow"):
            raise ValueError("mode='upsert' is not supported for the feather bridge")
        missing = [k for k in keys if k not in df.columns]
        if missing:
            raise ValueError(f"upsert keys missing from incoming data: {missing}")

        part_cols = list(self.partition_by) or (infer_partitioning(rw.rels) or [])
        pmissing = [c for c in part_cols if c not in df.columns]
        if pmissing:
            raise ValueError(
                f"upsert into a dataset partitioned by {part_cols} needs "
                f"those columns in the incoming data; missing {pmissing}"
            )
        existing = rw.read(self.format)
        # the incoming rows take the read's column types, so surviving
        # rows keep their text, and a partition value keeps the string
        # form its directory is named by
        typed = df.select(*[F.col(f.name).cast(f.dataType) for f in existing.schema])

        if part_cols:
            touched = typed.select(
                *[F.col(c).cast("string") for c in part_cols]).distinct().collect()
            if not touched:
                return None
            pred = None
            for r in touched:
                clause = None
                for c in part_cols:
                    t = F.col(c).cast("string").eqNullSafe(F.lit(r[c]))
                    clause = t if clause is None else (clause & t)
                pred = clause if pred is None else (pred | clause)
            existing = existing.where(pred)
        elif df.isEmpty():
            return None

        survivors = _null_safe_anti_join(existing, df, keys)
        return survivors.unionByName(typed)

    def _delta_diff(
        self,
        df: DataFrame,
        rw,
        delta_subset: Sequence[str] | None,
        datetime_column: str | None,
        start_time,
        end_time,
    ) -> DataFrame:
        # typed, as the incoming side is: the diff only compares, it
        # writes no existing row back, so no text needs keeping
        existing = rw.read(self.format, infer_schema=True)
        if "bucket" in existing.columns and "bucket" not in df.columns:
            existing = existing.drop("bucket")
        incoming = df
        if datetime_column:
            defaulted_end = end_time is None
            if start_time is None or end_time is None:
                bounds = incoming.agg(
                    F.min(datetime_column).alias("lo"), F.max(datetime_column).alias("hi")
                ).first()
                start_time = start_time if start_time is not None else bounds["lo"]
                end_time = end_time if end_time is not None else bounds["hi"]
            lo, hi = F.lit(start_time), F.lit(end_time)
            upper = (F.col(datetime_column) <= hi) if defaulted_end else (
                F.col(datetime_column) < hi
            )
            window = (F.col(datetime_column) >= lo) & upper
            incoming = incoming.where(window)
            # parquet min/max skips row groups outside the window; it
            # prunes no partition, since a time_bucket layout partitions
            # on the derived ``bucket``, not on ``datetime_column``
            existing = existing.where(window)
        return tables_diff(incoming, existing, subset=delta_subset)

    # -- maintenance: schema-unification rewrite (writer.py:529-571) ----------

    def unify_schema(self, sort_columns: bool = False) -> bool:
        """Rewrite the dataset so every file conforms to the unified schema.

        Returns True if a rewrite happened. Parquet-only (the unified
        schema is built from parquet footers). Hive partition columns live
        in directory names, not footers, so they are re-attached to the
        projection and the rewrite preserves the partition layout —
        otherwise a partitioned mixed-schema dataset would lose its
        partition-column values permanently. Writes aside, then swaps in
        through the rewrite step (sidecars stay in place). The unified
        schema comes from the footers of the step's listing, and the read
        is the step's (``sources.read``), which casts conflicting column
        types to the unified ones.
        """
        from pydala_spark import schema as schema_mod
        from pydala_spark import sources
        from pydala_spark.dataset.maintain import _Rewrite

        if self.format != "parquet":
            raise ValueError(
                f"unify_schema supports parquet datasets only, not {self.format!r}"
            )
        rw = _Rewrite(self.spark, self._orig_path, "__unify_tmp")
        self.path = rw.local
        unified, equal = schema_mod.get_unified_schema(
            sources.footer_schemas([p for p, _ in rw.files]))
        if equal:
            return False
        if sort_columns:
            unified = schema_mod.sort_schema(unified)
        part_cols = schema_mod.infer_partitioning(rw.rels) or []
        df = rw.read(self.format)
        footer_names = [f.name for f in unified]
        names = footer_names + [c for c in part_cols if c not in footer_names]
        write_frame(
            df.select(*names), rw.stage, compression=self.compression,
            partition_by=part_cols,
        )
        rw.commit()
        return True


def _check_pyarrow_scheme(path: str) -> None:
    """Feather IO runs worker-side through ``pyarrow.fs`` — reject
    schemes pyarrow has no filesystem for BEFORE launching a job that
    would fail per-task (``s3a``/``s3n`` translate to ``s3``; ``gs`` and
    ``hdfs`` pass through; ``abfss`` et al have no pyarrow backend)."""
    if "://" not in path:
        return
    scheme = path.split("://", 1)[0].lower()
    mapped = {"s3a": "s3", "s3n": "s3", "gcs": "gs"}.get(scheme, scheme)
    if mapped not in ("file", "s3", "gs", "hdfs", "viewfs"):
        raise NotImplementedError(
            f"distributed feather IO needs a pyarrow filesystem for "
            f"{scheme!r}:// and pyarrow has none (supported: local, s3/s3a, "
            "gs, hdfs) — write parquet instead, or mount the store"
        )


def write_feather_dataset(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    compression: str = "zstd",
) -> dict:
    """Distributed feather/Arrow-IPC dataset write: one ``.feather``
    part-file per DataFrame partition, streamed task-side via
    ``mapInArrow`` (reference writes feather natively per batch,
    src/pydala/dataset/writer.py:390-427; rounds 1-3 bridged this
    through a driver collect — the last driver materialization on the
    write path).

    Mechanics: each task streams its Arrow batches straight into a
    ``part-NNNNN.feather`` file inside a job-unique ``_staging-<job>``
    directory (worker memory bounded by Arrow batch size; feather v2 IS
    the Arrow IPC file format, so pyarrow/polars read the parts
    directly). Workers write through ``pyarrow.fs`` — Hadoop's
    ``s3a://`` spelling translates to pyarrow's ``s3://``; schemes
    pyarrow has no filesystem for (``abfss://`` et al) are rejected
    driver-side BEFORE any staging state exists. The job returns one METADATA row per non-empty partition
    (file name + row count — data bytes never reach the driver). The
    driver then COMMITS: staged files move into the dataset root with
    job-suffixed names via PathOps renames (so two concurrent appends
    cannot collide), and for ``mode="overwrite"`` the superseded part
    files are deleted only AFTER every new part is in place — a failure
    while renaming rolls the new parts back out, leaving the old data
    intact; a failure while deleting old parts leaves old+new visible
    (re-runnable), never a dataset with neither. (PathOps is a
    driver-side JVM wrapper and cannot cross the worker boundary, hence
    pyarrow.fs on workers.) Returns ``{"n_files", "n_rows"}``.
    """
    import uuid

    from pydala_spark.utils.pathops import PathOps, strip_scheme

    configure_session(spark)
    _check_pyarrow_scheme(path)
    local = strip_scheme(path).rstrip("/")
    po = PathOps(spark, path)
    job = uuid.uuid4().hex[:12]
    staging = f"{local}/_staging-{job}"
    comp = compression if compression in ("zstd", "lz4") else None

    # worker closure: pyarrow/pyspark refs only (no package imports —
    # workers may not have the repo on sys.path)
    def write_parts(iterator):
        import itertools

        import pyarrow as pa
        from pyarrow import fs as pafs
        from pyspark import TaskContext

        it = iter(iterator)
        first = next(it, None)
        if first is None:
            return  # empty partition: no file, no metadata row
        pid = TaskContext.get().partitionId()
        if "://" in staging:
            # pyarrow spells S3 's3://'; Hadoop paths arrive as 's3a://'
            uri = staging.replace("s3a://", "s3://", 1).replace(
                "s3n://", "s3://", 1
            )
            fs, root = pafs.FileSystem.from_uri(uri)
        else:
            fs, root = pafs.LocalFileSystem(), staging
        fs.create_dir(root, recursive=True)
        name = f"part-{pid:05d}.feather"
        n = 0
        with fs.open_output_stream(f"{root}/{name}") as sink:
            with pa.ipc.new_file(
                sink, first.schema,
                options=pa.ipc.IpcWriteOptions(compression=comp),
            ) as w:
                for batch in itertools.chain([first], it):
                    w.write_batch(batch)
                    n += batch.num_rows
        yield pa.record_batch(
            [pa.array([name]), pa.array([n], pa.int64())],
            names=["part", "n_rows"],
        )

    stats = df.mapInArrow(write_parts, "part string, n_rows long").collect()
    renamed: list[str] = []
    try:
        # list the superseded files BEFORE renaming anything in (the
        # job-suffixed new names cannot collide with them), rename every
        # staged part in, and only then delete the old files: a rename
        # failure rolls the new parts back out, so the old dataset is
        # never touched until the new one is fully in place
        old = (
            [
                p
                for p, _sz in po.data_files(local)
                if p.lower().endswith((".feather", ".ipc", ".arrow"))
            ]
            if mode == "overwrite"
            else []
        )
        try:
            for r in stats:
                name = r["part"]
                dest = f"{local}/{name.removesuffix('.feather')}-{job}.feather"
                po.rename(f"{staging}/{name}", dest)
                renamed.append(dest)
        except BaseException:
            for p in renamed:  # roll back; old data remains the dataset
                try:
                    po.delete(p, recursive=False)
                except Exception:
                    pass
            raise
        for p in old:
            po.delete(p, recursive=False)
    finally:
        po.delete(staging, recursive=True)
    return {"n_files": len(stats), "n_rows": sum(r["n_rows"] for r in stats)}
