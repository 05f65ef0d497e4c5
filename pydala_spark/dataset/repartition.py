"""Repartition: dataset rewrite with new sort/partitioning/format/layout.

Reference parity: ``Repartition`` (src/pydala/dataset/repartition.py:7-194)
is a Reader->Writer pipeline that rewrites a dataset with a new sort
order, partition columns, compression, format and mode, optionally
in place. The Spark form is a read -> (sort) -> partitioned write; small-
file compaction falls out of ``max_records_per_file`` + AQE coalescing.

Scale: this is the maintenance path for 100 TB datasets — compaction and
re-clustering are one shuffle. Sorting within partitions
(``sortWithinPartitions``) gives parquet min/max-statistics clustering
(the poor man's Z-ORDER) without a global sort barrier.
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession

from pydala_spark.dataset.reader import Dataset, _parse_sort_spec
from pydala_spark.dataset.writer import Writer
from pydala_spark.session import configure_session

from pyspark.sql import functions as F


class Repartition:
    def __init__(
        self,
        spark: SparkSession,
        source_path: str,
        dest_path: str | None = None,
        source_format: str = "parquet",
        dest_format: str = "parquet",
        partition_by: Sequence[str] | None = None,
        sort_by: str | Sequence[str] | None = None,
        distinct: bool = False,
        drop: Sequence[str] | None = None,
        compression: str = "zstd",
        mode: str = "overwrite",
        max_records_per_file: int | None = None,
        transform_func: Callable[[DataFrame], DataFrame] | None = None,
        with_snapshot: bool = True,
    ):
        from pydala_spark.utils.pathops import strip_scheme

        self.spark = configure_session(spark)
        self.source_path = source_path
        self.dest_path = dest_path or source_path
        # scheme-insensitive: 'file:///data/ds' IS '/data/ds' — a raw
        # string compare would route the same directory through the
        # overwrite-own-input path
        self.in_place = (
            strip_scheme(self.dest_path).rstrip("/")
            == strip_scheme(source_path).rstrip("/")
        )
        self.source_format = source_format
        self.dest_format = dest_format
        self.partition_by = list(partition_by or [])
        self.sort_by = sort_by
        self.distinct = distinct
        self.drop = list(drop or [])
        self.compression = compression
        self.mode = mode
        self.max_records_per_file = max_records_per_file
        self.transform_func = transform_func
        self.with_snapshot = with_snapshot

    def read(self, rw=None) -> DataFrame:
        """The source rows through drop -> distinct -> transform -> sort.
        An in-place rewrite reads the listing of its open rewrite step
        ``rw`` (``maintain._Rewrite.read``), typed like the out-of-place
        read: the rewrite may change the layout and the format, so
        partition values and csv columns are not kept as text."""
        if rw is None:
            df = Dataset(self.spark, self.source_path, format=self.source_format).load()
        else:
            df = rw.read(self.source_format, infer_schema=True)
        if self.drop:
            df = df.drop(*self.drop)
        if self.distinct:
            df = df.distinct()
        if self.transform_func is not None:
            df = self.transform_func(df)
        if self.sort_by:
            # cluster within partitions: preserves parquet stats locality
            # without a global sort barrier (Z-ORDER-lite)
            spec = _parse_sort_spec(self.sort_by)
            df = df.sortWithinPartitions(
                *[F.col(c).asc() if asc else F.col(c).desc() for c, asc in spec]
            )
        return df

    def _write(self, df: DataFrame, path: str, mode: str) -> None:
        Writer(
            self.spark,
            path,
            format=self.dest_format,
            mode=mode,
            partition_by=self.partition_by,
            compression=self.compression,
            max_records_per_file=self.max_records_per_file,
        ).write(df)

    def run(self) -> None:
        """Execute the rewrite. In-place rewrites stage into a temp dir
        (Spark cannot overwrite its own input) swapped in by the rewrite
        step (``maintain._Rewrite``), optionally preceded by a TimeFly
        snapshot — mirroring the reference's guarded in-place overwrite
        + auto pre-snapshot (repartition.py:148-194). A TimeFly base, or
        its ``current/``, is rewritten in ``current/``, and the snapshot
        is taken at the base; ``snapshot/`` is left alone."""
        if not self.in_place:
            self._write(self.read(), self.dest_path, self.mode)
            return
        from pydala_spark.dataset.maintain import _Rewrite, drop_signatures
        from pydala_spark.dataset.timefly import TimeFly, timefly_base

        # a generation-pointer dataset rewrites INSIDE its active
        # generation (the listing the read below uses), keeping the
        # pointer layout intact instead of flattening it
        rw = _Rewrite(self.spark, self.source_path, "__repartition_tmp")
        df = self.read(rw)
        if self.with_snapshot:
            base = timefly_base(rw.ops, rw.base)
            if base is not None:
                TimeFly(self.spark, base, format=self.source_format).add_snapshot()

        self._write(df, rw.stage, "overwrite")
        rw.commit()
        if self.distinct:
            # the one content-changing knob on this path: pure
            # repartition/sort keeps its signature sidecars valid
            drop_signatures(rw.ops, rw.local)
