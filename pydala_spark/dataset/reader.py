"""Dataset: lazy reads with schema unification and the post-pipeline.

Reference parity (SURVEY.md §2.1, §2.4):

- lazy dataset scan + named registration (src/pydala/dataset/reader.py:214-255)
- pinned schema as pa.Schema or {name: "type"} dict (reader.py:70-79)
- unified-schema retry on mixed-schema datasets (reader.py:186-188, 228-230),
  done in ``sources.read``
- SQL passthrough (reader.py:478-484) -> ``spark.sql`` over the view
- drop -> distinct(subset, keep first/last, presort) -> sort pipeline
  applied at every materialization (src/pydala/dataset/base.py:118-142,
  config setters base.py:77-115)
- materializers to pandas/arrow (src/pydala/utils/table.py:8-55)

Scale: the DataFrame stays lazy; filters/projections expressed downstream
push into the parquet scan via Catalyst. The files are read by
:func:`pydala_spark.sources.read`, the one read every in-place rewrite
shares (a rewrite reads its input from its own listing, not through a
``Dataset``). It holds the unified-schema fallback: when fragment schemas
genuinely conflict (int32 vs int64, int64 vs string), the files are read
per footer schema and reconciled with casts + unionByName — each group is
still a distributed scan, and the number of *distinct schemas* (not files)
bounds the plan size. For permanent fixes, ``Writer.unify_schema`` rewrites
the stragglers once.
"""

from __future__ import annotations

import posixpath
import re
from typing import Callable, Iterable, Sequence

import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pydala_spark import schema as schema_mod
from pydala_spark import sources
from pydala_spark.session import configure_session


def _parse_sort_spec(by: str | Sequence[str]) -> list[tuple[str, bool]]:
    """Parse ``"col1 DESC, col2"`` / list form into (name, ascending) pairs
    (reference builds DuckDB ORDER BY strings the same way,
    src/pydala/utils/base.py:40-55)."""
    if isinstance(by, str):
        parts = [p.strip() for p in by.split(",") if p.strip()]
    else:
        parts = [str(p).strip() for p in by]
    spec = []
    for part in parts:
        tokens = part.split()
        name = tokens[0]
        ascending = not (len(tokens) > 1 and tokens[1].lower() in ("desc", "descending"))
        spec.append((name, ascending))
    return spec


class Dataset:
    """A directory of homogeneous-format files, queryable as a DataFrame.

    >>> ds = Dataset(spark, "/data/lineitem")
    >>> ds.sort("l_shipdate").drop("l_comment")
    >>> df = ds.load()
    >>> ds.to_view("lineitem"); spark.sql("SELECT ... FROM lineitem")
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        format: str = "parquet",
        schema: pa.Schema | dict[str, str] | None = None,
        partitioning: str | Sequence[str] | None = "hive",
        name: str | None = None,
        csv_options: dict | None = None,
    ):
        self.spark = configure_session(spark)
        # a TimeFly base opens at its current/, and a generation-pointer
        # dataset (object-store-safe maintenance, dataset/generations.py)
        # at its active generation — driver-side existence probes,
        # transparent to everything else
        from pydala_spark.dataset.timefly import open_dirs

        self.path = open_dirs(self.spark, path)[1]
        self.format = format.lower()
        if isinstance(schema, dict):
            schema = schema_mod.schema_from_dict(schema)
        self._pinned_schema = schema
        self.partitioning = partitioning
        if name is None:
            # derived default: strip a file extension and squash anything
            # Spark would parse as a multi-part / invalid view identifier
            base = posixpath.basename(path.rstrip("/"))
            base = re.sub(r"\.[A-Za-z0-9]+$", "", base)
            name = re.sub(r"\W", "_", base) or "dataset"
        self.name = name
        self._csv_options = csv_options or {}
        # post-pipeline config (reference base.py:77-115)
        self._drop: list[str] = []
        self._distinct: bool = False
        self._distinct_subset: list[str] | None = None
        self._distinct_keep: str = "first"
        self._distinct_presort: list[tuple[str, bool]] | None = None
        self._sort: list[tuple[str, bool]] | None = None
        self._df: DataFrame | None = None
        self._view_name: str | None = None

    # -- post-pipeline config (chainable) -----------------------------------

    def sort(self, by: str | Sequence[str]) -> "Dataset":
        self._sort = _parse_sort_spec(by)
        self._df = None
        return self

    def distinct(
        self,
        subset: Sequence[str] | None = None,
        keep: str = "first",
        presort: str | Sequence[str] | None = None,
    ) -> "Dataset":
        """Full-row distinct, or subset-keyed dedup keeping the first/last
        row per key under ``presort`` order (reference
        src/pydala/utils/table.py:230-288). The reference is
        nondeterministic without a presort; here rows are always ordered by
        (presort or all non-key columns) so results are stable."""
        if keep not in ("first", "last"):
            raise ValueError("keep must be 'first' or 'last'")
        self._distinct = True
        self._distinct_subset = list(subset) if subset else None
        self._distinct_keep = keep
        self._distinct_presort = _parse_sort_spec(presort) if presort else None
        self._df = None
        return self

    def drop(self, columns: str | Sequence[str]) -> "Dataset":
        self._drop = [columns] if isinstance(columns, str) else list(columns)
        self._df = None
        return self

    # -- loading -------------------------------------------------------------

    @property
    def fragment_schemas(self) -> list[pa.Schema]:
        return schema_mod.list_fragment_schemas(
            self.path, self.format, self.partitioning
        )

    @property
    def unified_schema(self) -> pa.Schema:
        schema, _ = schema_mod.get_unified_schema(self.fragment_schemas)
        return schema

    def _directory_partition_read(self, pinned) -> DataFrame:
        """Directory-flavor (non-hive) partitioned read: bare-value dirs
        ``base/val1/val2/file.parquet`` with column NAMES supplied by the
        caller — reference passes them straight to pyarrow
        (src/pydala/dataset/reader.py:219-223). Spark has no built-in for
        this, so: ONE recursive scan (no per-partition-value reads — a
        dataset with 10k partitions is still a single jobs' file listing)
        plus partition columns parsed JVM-side from ``input_file_name()``.
        Values surface as strings (cast via a pinned schema if given);
        file paths are URI-encoded, so each segment is url-decoded with a
        literal ``+`` protected (URLDecoder would turn it into a space).

        Partition segments are taken from the END of the file path
        (``.../v1/.../vn/file`` -> vn at -2, v1 at -(n+1)) rather than by
        stripping an encoded base prefix — prefix matching would have to
        reproduce Hadoop's exact URI escaping of the base path (``=``,
        ``+``, ``&``... stay literal there), and a mismatch would silently
        fill the partition columns with wrong segments.
        """
        if self.format not in ("parquet", "csv"):
            raise ValueError(
                f"directory partitioning unsupported for format {self.format!r}"
            )
        data_schema = None
        if pinned is not None:
            # partition columns come from the path, not the footers
            from pyspark.sql.types import StructType

            data_schema = StructType(
                [f for f in pinned.fields if f.name not in self.partitioning]
            )
        df = self._read(data_schema, recursiveFileLookup=True)
        # end-anchoring requires every file to sit at EXACTLY
        # base/<n partition dirs>/file — a stray deeper OR shallower
        # layout would silently shift which segment becomes which
        # partition value. Validated up front (driver-side; the listing
        # is already materialized for the scan): uniform depth, and the
        # segment just above the partition dirs must be the base
        # directory itself (decoded — Hadoop URI-encodes segments).
        import urllib.parse

        from pydala_spark.utils.pathops import strip_scheme

        n = len(self.partitioning)
        base_name = posixpath.basename(strip_scheme(self.path).rstrip("/"))
        depths = set()
        for f in df.inputFiles():
            segs = f.split("/")
            depths.add(len(segs))
            parent = urllib.parse.unquote(segs[-(n + 2)].replace("+", "%2B"))
            if parent != base_name:
                raise ValueError(
                    f"directory-partitioned file {f!r} is not at "
                    f"base/{'/'.join(self.partitioning)}/<file> under "
                    f"{self.path!r} (found {parent!r} where the base "
                    "directory was expected) — clean up stray nesting or "
                    "fix the partitioning column list"
                )
        if len(depths) > 1:
            raise ValueError(
                "directory-partitioned dataset has files at mixed depths "
                f"under {self.path!r} (expected every file at "
                f"base/{'/'.join(self.partitioning)}/<file>); "
                "clean up stray nested directories"
            )
        parts = F.split(F.input_file_name(), "/")
        pinned_types = {f.name: f.dataType for f in pinned.fields} if pinned else {}
        for i, name in enumerate(self.partitioning):
            # value i sits i segments after the first partition dir,
            # i.e. (n + 1 - i) segments from the end (file itself is -1)
            seg = F.element_at(parts, i - (n + 1))
            seg = F.url_decode(F.regexp_replace(seg, "\\+", "%2B"))
            if name in pinned_types:
                seg = seg.cast(pinned_types[name])
            df = df.withColumn(name, seg)
        return df

    def _base_read(self) -> DataFrame:
        pinned = (
            schema_mod.arrow_schema_to_spark(self._pinned_schema)
            if self._pinned_schema is not None
            else None
        )
        if isinstance(self.partitioning, (list, tuple)) and self.partitioning:
            return self._directory_partition_read(pinned)
        return self._read(pinned)

    def _read(self, schema, **options) -> DataFrame:
        """The dataset directory through :func:`pydala_spark.sources.read`
        (format -> reader options); ``csv_options`` apply to csv only."""
        if self.format == "csv":
            options.update(self._csv_options)
        return sources.read(self.spark, self.path, self.format, schema=schema, **options)

    def load(self, reload: bool = False) -> DataFrame:
        """Lazy DataFrame over the dataset with the post-pipeline applied.
        Conflicting fragment schemas are reconciled inside
        :func:`pydala_spark.sources.read`."""
        if self._df is None or reload:
            self._df = self._post_pipeline(self._base_read())
        return self._df

    # -- the drop -> distinct -> sort pipeline (base.py:118-142) -------------

    def _post_pipeline(self, df: DataFrame) -> DataFrame:
        if self._drop:
            df = df.drop(*[c for c in self._drop if c in df.columns])
        if self._distinct:
            df = apply_distinct(
                df,
                subset=self._distinct_subset,
                keep=self._distinct_keep,
                presort=self._distinct_presort,
            )
        if self._sort:
            df = df.orderBy(
                *[F.col(c).asc() if asc else F.col(c).desc() for c, asc in self._sort]
            )
        return df

    # -- registration / SQL (reader.py:235-255, 478-484) ---------------------

    def to_view(self, name: str | None = None) -> str:
        name = name or self._view_name or self.name
        self.load().createOrReplaceTempView(name)
        self._view_name = name
        return name

    def sql(self, query: str) -> DataFrame:
        self.to_view()
        return self.spark.sql(query)

    query = sql
    execute = sql

    create_temp_table = to_view  # reference create_temp_table (reader.py:356)

    def create_table(self, name: str | None = None, mode: str = "overwrite") -> str:
        """Persistent named table in the session catalog (reference
        ``create_table``, reader.py:362 — CREATE OR REPLACE TABLE)."""
        name = name or self.name
        self.load().write.mode(mode).saveAsTable(name)
        return name

    # -- materializers (utils/table.py:8-55) ----------------------------------

    def to_pandas(self):
        return self.load().toPandas()

    def to_arrow(self) -> pa.Table:
        return self.load().toArrow()

    def to_polars(self):
        try:
            import polars as pl
        except ImportError as exc:  # pragma: no cover
            raise ImportError("polars is not installed") from exc
        return pl.from_arrow(self.to_arrow())

    # -- metadata (SURVEY §2.10) ----------------------------------------------

    def count(self) -> int:
        return self.load().count()

    def files(self) -> list[str]:
        return self.load().inputFiles()

    def disk_usage(self, unit: str | None = None):
        """Total bytes of the dataset's data files (reference
        reader.py:556-581, which sums fsspec ``du`` sizes on any protocol);
        pass a unit ('KB'/'MB'/'GB'/'TB') for a converted float.

        Routed through the Hadoop-FS PathOps listing so remote schemes
        (s3a/gs/abfs) report real sizes instead of silently 0 — the sizes
        come back with the listing itself, no per-file stat calls."""
        from pydala_spark.utils.pathops import PathOps
        from pydala_spark.utils.sizes import convert_size_unit

        po = PathOps(self.spark, self.path)
        total = sum(size for _path, size in po.data_files(self.path))
        return convert_size_unit(total, unit) if unit else total

    get_disk_usage = disk_usage

    def buffer_size(self, unit: str | None = None):
        """Executor memory held by this session's cached data (reference
        ``buffer_size``/``get_buffer_size``, reader.py:557-583 — there:
        bytes of the in-process table copies; here: cached RDD storage)."""
        from pydala_spark.utils.sizes import convert_size_unit

        jsc = self.spark.sparkContext._jsc.sc()
        total = sum(info.memSize() for info in jsc.getRDDStorageInfo())
        return convert_size_unit(total, unit) if unit else total

    get_buffer_size = buffer_size

    def profile(
        self,
        columns: list[str] | None = None,
        percentiles: list[float] | None = None,
    ) -> DataFrame:
        """Per-column statistics: row/null counts, approximate distinct
        count (HLL), min/max (stringified on the native ordering), and —
        when ``percentiles`` is given — approximate quantiles for the
        numeric columns (one extra array column, null elsewhere).

        One aggregation pass over the dataset — every statistic is
        algebraically mergeable (HLL sketches, min/max, KLL-style
        percentile sketches), so the plan is scan -> partial agg ->
        one single-row exchange regardless of data size; the only driver
        materialization is that one row. Extends the reference's
        metadata surface (disk_usage/schema inspection) with the content
        profile a pipeline health-check wants.
        """
        df = self.load()
        cols = columns or df.columns
        dtypes = dict(df.dtypes)
        # map columns are neither orderable nor hashable in Spark —
        # min/max/approx_count_distinct would fail the whole pass, so
        # they get null stats (counts still computed)
        plain = {c for c in cols if not dtypes[c].startswith("map<")}
        # exact names + decimal(p,s): a prefix test on "int" would also
        # match "interval day to second", whose cast-to-double is illegal
        # and would fail the whole profile pass
        numeric_names = {"tinyint", "smallint", "int", "bigint", "float", "double"}
        numeric = {
            c for c in cols
            if dtypes[c] in numeric_names or dtypes[c].startswith("decimal(")
        }
        aggs = []
        for c in cols:
            aggs.append(F.count(F.col(c)).alias(f"{c}\t_nn"))
            if c in plain:
                aggs += [
                    F.approx_count_distinct(c).alias(f"{c}\t_nd"),
                    F.min(F.col(c)).cast("string").alias(f"{c}\t_min"),
                    F.max(F.col(c)).cast("string").alias(f"{c}\t_max"),
                ]
            if percentiles and c in numeric:
                aggs.append(
                    F.percentile_approx(
                        F.col(c).cast("double"), percentiles
                    ).alias(f"{c}\t_pct")
                )
        row = df.agg(F.count(F.lit(1)).alias("\t_total"), *aggs).first()
        total = row["\t_total"]
        data = [
            (
                c,
                dtypes[c],
                total,
                total - row[f"{c}\t_nn"],
                row[f"{c}\t_nd"] if c in plain else None,
                row[f"{c}\t_min"] if c in plain else None,
                row[f"{c}\t_max"] if c in plain else None,
            )
            + (
                (list(row[f"{c}\t_pct"] or []) if c in numeric else None,)
                if percentiles
                else ()
            )
            for c in cols
        ]
        schema = (
            "column string, dtype string, n_rows long, n_nulls long, "
            "approx_distinct long, min string, max string"
        )
        if percentiles:
            schema += ", percentiles array<double>"
        return self.spark.createDataFrame(data, schema)

    def cache(self) -> "Dataset":
        """Persist the loaded DataFrame in executor memory — the Spark
        analog of the reference's remote->local cache mirror (SURVEY §2.1
        S8, src/pydala/dataset/reader.py:84-116): cluster-local storage of
        remote data, managed by the engine instead of an rsync layer."""
        self.load().cache()
        return self

    def refresh(self) -> "Dataset":
        """Invalidate cached file listings/metadata for the dataset path
        (reference invalidate_cache, SURVEY §2.10 M12)."""
        self.spark.catalog.refreshByPath(self.path)
        self._df = None
        return self

    def _dataset_has_files(self) -> bool:
        """Data-file existence probe on ANY scheme, through one Hadoop
        listing that skips ``_``/``.`` sidecars, as Spark's scan does: a
        dataset holding only a sidecar (``_signatures/``) has no data,
        and registering it would abort ``Datalake.load`` for the whole
        lake (UNABLE_TO_INFER_SCHEMA from the scan)."""
        from pydala_spark.utils.pathops import PathOps

        ops = PathOps(self.spark, self.path)
        return ops.is_file(self.path) or bool(ops.data_files(self.path))

    def transform(self, func: Callable[[DataFrame], DataFrame]) -> DataFrame:
        """Arbitrary DataFrame->DataFrame hook (reference transform_func,
        src/pydala/dataset/writer.py:444-445)."""
        return func(self.load())

    def materialize_signatures(self, kinds=("winnowing",), **kwargs):
        """Hash THIS dataset's dedup/decontamination signatures into its
        ``_signatures`` sidecar — :func:`pydala_spark.dataset.maintain.
        materialize_signatures` with ``df=self.load()`` and
        ``path=self.path`` filled in (kind/param knobs pass through:
        winnowing/minhash/spans text kinds, ``embedding_cells`` with
        ``centroids=``). Returns ``{kind: sidecar_path}``."""
        from pydala_spark.dataset.maintain import materialize_signatures

        return materialize_signatures(
            self.spark, self.load(), self.path, kinds=kinds, **kwargs
        )

    def read_signatures(self, kind: str, expect: dict | None = None,
                        verify: bool = True,
                        signatures_path: str | None = None):
        """Load one of this dataset's signature sidecars → ``(frame,
        params)`` (:func:`pydala_spark.dataset.maintain.
        read_signatures`). The content marker verifies against the LIVE
        dataset BY DEFAULT — a corpus mutated since materialization
        raises here instead of silently sweeping to zero overlaps; pass
        ``verify=False`` to skip the (one narrow aggregate) check."""
        from pydala_spark.dataset.maintain import read_signatures

        return read_signatures(
            self.spark, self.path, kind, expect=expect,
            verify_against=self.load() if verify else None,
            signatures_path=signatures_path,
        )


def apply_distinct(
    df: DataFrame,
    subset: Sequence[str] | None = None,
    keep: str = "first",
    presort: Iterable[tuple[str, bool]] | None = None,
) -> DataFrame:
    """Distinct / subset-keyed dedup with deterministic keep-first/last.

    Full-row: ``df.distinct()``. Subset-keyed: one row per key tuple,
    choosing the first/last row under ``presort`` (defaults to all
    non-key columns ascending, making the reference's nondeterministic
    FIRST()/LAST() aggregate — src/pydala/utils/table.py:276-284 —
    deterministic). Implemented as a window row_number, which shuffles
    once on the key and streams per-partition — no driver materialization.
    """
    if not subset:
        return df.distinct()
    missing = [c for c in subset if c not in df.columns]
    if missing:
        raise ValueError(f"distinct subset columns not in DataFrame: {missing}")
    order_spec = list(presort) if presort else [
        (c, True) for c in df.columns if c not in subset
    ]
    order_cols = [
        F.col(c).asc_nulls_last() if asc else F.col(c).desc_nulls_last()
        for c, asc in order_spec
    ]
    if keep == "last":
        order_cols = [
            F.col(c).desc_nulls_first() if asc else F.col(c).asc_nulls_first()
            for c, asc in order_spec
        ]
    if not order_cols:
        order_cols = [F.lit(1).asc()]
    w = Window.partitionBy(*[F.col(c) for c in subset]).orderBy(*order_cols)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )
