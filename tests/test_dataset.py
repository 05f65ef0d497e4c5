import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pydala_spark import Dataset
from pydala_spark.dataset.reader import apply_distinct
from pydala_spark.sources import load_table, load_tables, register_views


def test_load_and_count(spark, sf_dir):
    ds = Dataset(spark, os.path.join(sf_dir, "lineitem.parquet"))
    assert ds.count() > 1000


def test_sql_passthrough(spark, sf_dir):
    ds = Dataset(spark, os.path.join(sf_dir, "lineitem.parquet"), name="li")
    out = ds.sql("SELECT count(*) AS n FROM li WHERE l_quantity > 25").first()
    assert out["n"] > 0


def test_default_view_name_from_file_path(spark, sf_dir):
    # basename "lineitem.parquet" must sanitize to a single-part identifier
    ds = Dataset(spark, os.path.join(sf_dir, "lineitem.parquet"))
    assert ds.name == "lineitem"
    assert ds.sql("SELECT count(*) AS n FROM lineitem").first()["n"] > 1000
    # an explicit to_view name sticks for later sql() calls
    ds2 = Dataset(spark, os.path.join(sf_dir, "region.parquet"))
    ds2.to_view("my_regions")
    assert ds2.sql("SELECT count(*) AS n FROM my_regions").first()["n"] == 5


def test_events_ns_timestamp_boundary(spark, sf_dir):
    df = load_table(spark, sf_dir, "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    row = df.selectExpr("min(ts) AS lo", "max(ts) AS hi").first()
    assert row["lo"].year >= 2020


def test_register_views(spark, sf_dir):
    register_views(spark, sf_dir, ("region", "nation"))
    n = spark.sql(
        "SELECT count(*) AS n FROM nation JOIN region ON n_regionkey = r_regionkey"
    ).first()["n"]
    assert n == 25


def test_post_pipeline_drop_sort(spark, sf_dir):
    ds = Dataset(spark, os.path.join(sf_dir, "region.parquet"))
    ds.drop("r_comment").sort("r_name DESC")
    rows = ds.load().collect()
    names = [r["r_name"] for r in rows]
    assert names == sorted(names, reverse=True)


def test_distinct_fullrow(spark):
    df = spark.createDataFrame([(1, "a"), (1, "a"), (2, "b")], ["k", "v"])
    assert apply_distinct(df).count() == 2


def test_profile(spark, sf_dir):
    from pydala_spark.dataset.reader import Dataset

    prof = Dataset(spark, f"{sf_dir}/orders.parquet").profile(
        ["o_orderkey", "o_orderstatus", "o_orderdate"]
    )
    rows = {r["column"]: r for r in prof.collect()}
    assert set(rows) == {"o_orderkey", "o_orderstatus", "o_orderdate"}
    ok = rows["o_orderkey"]
    assert ok["n_rows"] == 1500 and ok["n_nulls"] == 0
    assert abs(ok["approx_distinct"] - 1500) / 1500 < 0.1  # HLL tolerance
    # min/max use native numeric ordering, not lexicographic strings
    assert int(ok["min"]) < int(ok["max"])
    st = rows["o_orderstatus"]
    assert st["approx_distinct"] <= 4 and st["min"] == "F"


def test_distinct_subset_keep_first_last(spark):
    df = spark.createDataFrame(
        [(1, 10, "x"), (1, 20, "y"), (2, 5, "z")], ["k", "ord", "v"]
    )
    first = {
        r["k"]: r["v"]
        for r in apply_distinct(df, subset=["k"], keep="first", presort=[("ord", True)]).collect()
    }
    last = {
        r["k"]: r["v"]
        for r in apply_distinct(df, subset=["k"], keep="last", presort=[("ord", True)]).collect()
    }
    assert first == {1: "x", 2: "z"}
    assert last == {1: "y", 2: "z"}


def test_unified_schema_read(spark, tmp_path):
    pq.write_table(
        pa.table({"id": pa.array([1, 2], pa.int32()), "v": pa.array([1, 2], pa.int64())}),
        tmp_path / "a.parquet",
    )
    pq.write_table(
        pa.table({"id": pa.array([3], pa.int64()), "v": ["s"], "extra": [1.5]}),
        tmp_path / "b.parquet",
    )
    ds = Dataset(spark, str(tmp_path))
    df = ds.load()
    assert set(df.columns) == {"id", "v", "extra"}
    assert dict(df.dtypes)["v"] == "string"
    assert df.count() == 3
    assert df.where("extra IS NULL").count() == 2


def test_drift_read_calls_patched_unified_schema(spark, tmp_path, monkeypatch):
    # the traced perfbench lake_ingest run times schema unification by
    # patching pydala_spark.schema.get_unified_schema: the drift read must
    # look it up on the module at call time, or that metric reads 0
    import pydala_spark.schema

    real, calls = pydala_spark.schema.get_unified_schema, []

    def spy(schemas):
        calls.append(1)
        return real(schemas)

    monkeypatch.setattr(pydala_spark.schema, "get_unified_schema", spy)
    pq.write_table(pa.table({"id": pa.array([1], pa.int32())}), tmp_path / "a.parquet")
    pq.write_table(pa.table({"id": pa.array([2], pa.int64())}), tmp_path / "b.parquet")
    df = Dataset(spark, str(tmp_path)).load()
    assert sorted(r.id for r in df.collect()) == [1, 2]
    assert calls


def test_pinned_schema_dict(spark, tmp_path):
    pq.write_table(pa.table({"id": pa.array([1, 2], pa.int32())}), tmp_path / "a.parquet")
    ds = Dataset(spark, str(tmp_path), schema={"id": "int64"})
    assert dict(ds.load().dtypes)["id"] == "bigint"


def test_materializers(spark, sf_dir):
    ds = Dataset(spark, os.path.join(sf_dir, "region.parquet"))
    pdf = ds.to_pandas()
    assert len(pdf) == 5
    tbl = ds.to_arrow()
    assert tbl.num_rows == 5


def test_load_missing_path_raises_cleanly(spark):
    # a missing path must NOT be swallowed into the mixed-schema retry
    # (which would die later inside pyarrow fragment discovery)
    from pyspark.errors.exceptions.captured import AnalysisException

    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        Dataset(spark, "/nonexistent_pydala_ds").load()


def test_unified_read_preserves_hive_partitions(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    out = tmp_path / "mixed_part"
    (out / "part=x").mkdir(parents=True)
    (out / "part=y").mkdir(parents=True)
    pq.write_table(
        pa.table({"id": pa.array([1], pa.int32())}), out / "part=x" / "a.parquet"
    )
    pq.write_table(
        pa.table({"id": pa.array([2], pa.int64()), "v": ["b"]}),
        out / "part=y" / "b.parquet",
    )
    df = Dataset(spark, str(out)).load()
    rows = {(r["id"], r["part"]) for r in df.select("id", "part").collect()}
    assert rows == {(1, "x"), (2, "y")}


def test_directory_flavor_partition_read(spark, tmp_path):
    # bare-value partition dirs (no col= prefix) read with caller-supplied
    # column names — migrating a reference lake written with pyarrow
    # DirectoryPartitioning (reference dataset/reader.py:219-223)
    import os

    from pyspark.sql import functions as F

    base = str(tmp_path / "dirpart")
    df = spark.range(3).withColumn("v", F.col("id") * 10)
    for year in ("2023", "2024"):
        for region in ("eu", "a b"):  # a value with a space round-trips
            df.write.mode("overwrite").parquet(os.path.join(base, year, region))

    from pydala_spark import Dataset

    ds = Dataset(spark, base, partitioning=["year", "region"])
    out = ds.load()
    assert set(out.columns) == {"id", "v", "year", "region"}
    assert out.count() == 12
    assert sorted(
        r["year"] for r in out.select("year").distinct().collect()
    ) == ["2023", "2024"]
    assert sorted(
        r["region"] for r in out.select("region").distinct().collect()
    ) == ["a b", "eu"]
    assert out.where("year = '2024' AND region = 'eu'").count() == 3
    # fragment schema discovery accepts the pyarrow field-name list
    # (physical schemas never include path-derived partition columns)
    assert {"id", "v"} <= set(ds.unified_schema.names)
    assert len(ds.fragment_schemas) >= 4


def test_directory_flavor_pinned_schema_cast(spark, tmp_path):
    import os

    base = str(tmp_path / "dirpart2")
    spark.range(2).write.parquet(os.path.join(base, "2024"))
    from pydala_spark import Dataset

    ds = Dataset(
        spark, base, partitioning=["year"],
        schema={"id": "int64", "year": "int32"},
    )
    out = ds.load()
    assert dict(out.dtypes)["year"] == "int"
    assert out.where("year = 2024").count() == 2


def test_profile_percentiles(spark, tmp_path):
    import os

    from pyspark.sql import functions as F

    from pydala_spark import Dataset

    path = str(tmp_path / "prof_pct")
    spark.range(1000).withColumn("v", F.col("id").cast("double")).withColumn(
        "s", F.lit("x")
    ).write.parquet(path)
    prof = Dataset(spark, path).profile(percentiles=[0.25, 0.5, 0.75])
    rows = {r["column"]: r for r in prof.collect()}
    p = rows["v"]["percentiles"]
    assert len(p) == 3
    assert abs(p[1] - 499.5) < 30          # approx median of 0..999
    assert p[0] < p[1] < p[2]
    assert rows["s"]["percentiles"] is None  # non-numeric -> null
    # default call keeps the original 7-column schema
    assert "percentiles" not in Dataset(spark, path).profile().columns


def test_directory_flavor_special_char_base_path(spark, tmp_path):
    # the base path itself contains characters ('=', '+', '&') that
    # Hadoop URIs keep literal — segment extraction from the END of the
    # path must not depend on reproducing the base's URI encoding
    import os

    base = str(tmp_path / "run=5 x+y&z" / "corpus")
    spark.range(4).write.parquet(os.path.join(base, "2024"))
    spark.range(2).write.parquet(os.path.join(base, "2025"))
    from pydala_spark import Dataset

    out = Dataset(spark, base, partitioning=["year"]).load()
    vals = sorted(r["year"] for r in out.select("year").distinct().collect())
    assert vals == ["2024", "2025"]
    assert out.where("year = '2024'").count() == 4


def test_directory_flavor_mixed_depth_raises(spark, tmp_path):
    # a stray deeper subdirectory would silently shift partition values
    # under end-anchored extraction — it must raise instead
    import os

    import pytest

    base = str(tmp_path / "dirpart_bad")
    spark.range(2).write.parquet(os.path.join(base, "2024"))
    spark.range(2).write.parquet(os.path.join(base, "2025", "stray"))
    from pydala_spark import Dataset

    with pytest.raises(ValueError, match="mixed depths|base directory was expected"):
        Dataset(spark, base, partitioning=["year"]).load()


def test_directory_flavor_uniform_wrong_depth_raises(spark, tmp_path):
    # files uniformly ONE level deeper than the partition spec: the
    # parent-segment check must reject, not silently mis-assign
    import os

    import pytest

    base = str(tmp_path / "dirpart_deep")
    spark.range(2).write.parquet(os.path.join(base, "2024", "batch1"))
    spark.range(2).write.parquet(os.path.join(base, "2025", "batch2"))
    from pydala_spark import Dataset

    with pytest.raises(ValueError, match="base directory was expected"):
        Dataset(spark, base, partitioning=["year"]).load()
