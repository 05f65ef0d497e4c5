import logging
import os

import pyarrow as pa
import pytest
from pyspark.sql import Row

from pydala_spark import Dataset, Writer
from pydala_spark.sources import read
from pydala_spark.utils import logged


def test_csv_roundtrip(spark, tmp_path):
    out = str(tmp_path / "csv_ds")
    df = spark.createDataFrame([Row(id=1, name="a"), Row(id=2, name="b")])
    Writer(spark, out, format="csv").write(df)
    back = Dataset(spark, out, format="csv").load()
    assert {(r["id"], r["name"]) for r in back.collect()} == {(1, "a"), (2, "b")}
    # the zstd default degrades to gzip for text formats (hadoop codecs
    # have no zstd), never to uncompressed
    import pathlib

    assert any(p.suffix == ".gz" for p in pathlib.Path(out).rglob("*.csv*"))


def test_csv_read_with_pinned_schema(spark, tmp_path):
    p = tmp_path / "f.csv"
    p.write_text("id,name\n1,a\n2,b\n")
    ds = Dataset(spark, str(p), format="csv", schema={"id": "int64", "name": "string"})
    df = ds.load()
    assert dict(df.dtypes) == {"id": "bigint", "name": "string"}
    assert df.count() == 2


def test_json_roundtrip(spark, tmp_path):
    out = str(tmp_path / "json_ds")
    df = spark.createDataFrame([Row(id=1, v=[1, 2])])
    Writer(spark, out, format="json").write(df)
    assert Dataset(spark, out, format="json").count() == 1


def test_feather_bridge(spark, tmp_path):
    import pyarrow.feather as pf

    p = str(tmp_path / "t.feather")
    pf.write_feather(pa.table({"a": [1, 2, 3]}), p)
    df = read(spark, p, format="feather")
    assert df.count() == 3


def test_writer_coercion_inputs(spark, tmp_path):
    import pandas as pd

    out1 = str(tmp_path / "from_arrow")
    Writer(spark, out1).write(pa.table({"a": [1, 2]}))
    assert Dataset(spark, out1).count() == 2

    out2 = str(tmp_path / "from_pandas")
    Writer(spark, out2).write(pd.DataFrame({"a": [1.0, 2.0, 3.0]}))
    assert Dataset(spark, out2).count() == 3

    out3 = str(tmp_path / "from_path")
    Writer(spark, out3).write(out1)  # path string -> Dataset load
    assert Dataset(spark, out3).count() == 2


def test_compression_honored(spark, tmp_path):
    from pydala_spark.schema import infer_compression

    out = tmp_path / "zstd_ds"
    Writer(spark, str(out), compression="snappy").write(
        spark.createDataFrame([Row(a=1)]).coalesce(1)
    )
    files = [str(f) for f in out.rglob("*.parquet")]
    codecs = {infer_compression(f) for f in files} - {None}  # skip empty parts
    assert codecs == {"snappy"}


def test_max_records_per_file(spark, tmp_path):
    out = tmp_path / "split_ds"
    Writer(spark, str(out), max_records_per_file=10).write(
        spark.createDataFrame([Row(a=i) for i in range(35)]).coalesce(1)
    )
    files = list(out.rglob("*.parquet"))
    assert len(files) >= 4  # 35 rows / 10-per-file


def test_cache_and_refresh(spark, sf_dir):
    ds = Dataset(spark, os.path.join(sf_dir, "region.parquet"))
    ds.cache()
    assert ds.load().storageLevel.useMemory
    ds.load().unpersist()
    ds.refresh()
    assert ds.count() == 5


def test_logged_decorator(caplog):
    @logged
    def add(a, b):
        return a + b

    with caplog.at_level(logging.INFO, logger="pydala_spark"):
        assert add(1, 2) == 3
    assert any("add finished" in r.message for r in caplog.records)

    @logged(with_args=True)
    def boom():
        raise RuntimeError("x")

    with caplog.at_level(logging.INFO, logger="pydala_spark"):
        with pytest.raises(RuntimeError):
            boom()
    assert any("boom" in r.message and "failed" in r.message for r in caplog.records)


def test_size_reporting_and_tables(spark, sf_dir, tmp_path):
    from pydala_spark.utils.sizes import convert_size_unit

    assert convert_size_unit(1048576, "MB") == 1.0
    assert convert_size_unit(512, "KB") == 0.5
    with pytest.raises(ValueError):
        convert_size_unit(1, "XB")

    ds = Dataset(spark, os.path.join(sf_dir, "nation.parquet"))
    assert ds.disk_usage() > 100
    assert ds.disk_usage("KB") > 0
    ds.cache()
    ds.count()  # materialize the cache
    assert ds.buffer_size() >= 0
    ds.load().unpersist()

    name = ds.create_temp_table("nation_tmp")
    assert spark.sql("SELECT count(*) AS n FROM nation_tmp").first()["n"] == 25


def test_feather_write_roundtrip_single_file(spark, tmp_path):
    # W1 parity: the reference writes feather via polars write_ipc
    # (writer.py:398-409); the driver bridge must round-trip with the
    # read bridge, including append-as-concat
    p = str(tmp_path / "t.feather")
    df = spark.createDataFrame([Row(id=1, name="a"), Row(id=2, name="b")])
    Writer(spark, p, format="feather").write(df)
    back = read(spark, p, format="feather")
    assert {(r["id"], r["name"]) for r in back.collect()} == {(1, "a"), (2, "b")}

    Writer(spark, p, format="feather").write(
        spark.createDataFrame([Row(id=3, name="c")])
    )
    assert read(spark, p, format="feather").count() == 3

    Writer(spark, p, format="feather").write(df, mode="overwrite")
    assert read(spark, p, format="feather").count() == 2


def test_feather_write_directory_parts(spark, tmp_path):
    # directory targets are the DISTRIBUTED write path: job-unique part
    # names, append adds files without clobbering, overwrite replaces
    out = str(tmp_path / "feather_ds")
    df = spark.createDataFrame([Row(id=1), Row(id=2)])
    Writer(spark, out, format="feather").write(df)
    n_first = len(os.listdir(out))
    assert n_first >= 1 and all(f.endswith(".feather") for f in os.listdir(out))
    Writer(spark, out, format="feather").write(spark.createDataFrame([Row(id=3)]))
    assert len(os.listdir(out)) > n_first  # append added part files
    assert read(spark, out, format="feather").count() == 3
    Writer(spark, out, format="feather").write(df, mode="overwrite")
    assert read(spark, out, format="feather").count() == 2


def test_feather_distributed_roundtrip(spark, tmp_path):
    # r3 punch list #5: a >1-partition DataFrame writes as a feather
    # dataset WITHOUT driver materialization (mapInArrow task-side IPC)
    # and reads back distributed with the same values and schema
    from pyspark.sql import functions as F

    from pydala_spark.dataset.writer import write_feather_dataset
    from pydala_spark.sources import read_feather_dataset

    out = str(tmp_path / "feather_big")
    df = (
        spark.range(0, 10_000)
        .withColumn("v", F.col("id").cast("double") / 7)
        .withColumn("s", F.concat(F.lit("row-"), F.col("id")))
        .repartition(6)
    )
    stats = write_feather_dataset(spark, df, out, mode="overwrite")
    assert stats["n_rows"] == 10_000 and stats["n_files"] == 6
    parts = [f for f in os.listdir(out) if f.endswith(".feather")]
    assert len(parts) == 6  # one per partition, no staging leftovers
    assert not any(f.startswith("_staging") for f in os.listdir(out))

    back = read_feather_dataset(spark, out)
    assert back.rdd.getNumPartitions() == 6  # reads as wide as the files
    assert back.count() == 10_000
    assert back.schema == df.schema
    got = back.agg(
        F.sum("id").alias("si"), F.round(F.sum("v"), 6).alias("sv")
    ).first()
    exp = df.agg(
        F.sum("id").alias("si"), F.round(F.sum("v"), 6).alias("sv")
    ).first()
    assert (got["si"], got["sv"]) == (exp["si"], exp["sv"])
    # empty partitions produce no files (and no zero-row parts)
    out2 = str(tmp_path / "feather_sparse")
    sparse = spark.range(0, 3).repartition(8)
    st2 = write_feather_dataset(spark, sparse, out2)
    assert st2["n_rows"] == 3 and st2["n_files"] <= 3
    assert read(spark, out2, format="feather").count() == 3


def test_feather_write_rejects_partitioning(spark, tmp_path):
    df = spark.createDataFrame([Row(id=1, part="a")])
    with pytest.raises(ValueError, match="partition"):
        Writer(
            spark, str(tmp_path / "fp"), format="feather", partition_by=["part"]
        ).write(df)


def test_feather_dataset_schema_promotion_read(spark, tmp_path):
    # r4 review: parts written with promoted/narrower schemas (the old
    # driver bridge produced these) must still read — int32 widens to
    # int64 and a missing column null-fills, matching the bridge's
    # concat_tables(promote_options=...) behavior
    import pyarrow.feather as pf

    root = tmp_path / "feather_mixed"
    root.mkdir()
    pf.write_feather(
        pa.table({"id": pa.array([1, 2], pa.int32())}), str(root / "a.feather")
    )
    pf.write_feather(
        pa.table(
            {"id": pa.array([3], pa.int64()), "v": pa.array([0.5], pa.float64())}
        ),
        str(root / "b.feather"),
    )
    back = read(spark, str(root), format="feather")
    assert dict(back.dtypes) == {"id": "bigint", "v": "double"}
    rows = {r["id"]: r["v"] for r in back.collect()}
    assert rows == {1: None, 2: None, 3: 0.5}


def test_feather_single_file_scheme_path(spark, tmp_path):
    # r4 review: a scheme'd SINGLE-FILE path dispatches to the
    # distributed reader, whose listing must yield the file itself
    # (PathOps.data_files previously appended a bogus trailing slash)
    import pyarrow.feather as pf

    p = tmp_path / "single.feather"
    pf.write_feather(pa.table({"a": [1, 2, 3]}), str(p))
    df = read(spark, f"file://{p}", format="feather")
    assert sorted(r["a"] for r in df.collect()) == [1, 2, 3]


def test_feather_overwrite_rename_failure_keeps_old_data(spark, tmp_path, monkeypatch):
    # r4 review: a rename failure during the overwrite commit must leave
    # the OLD dataset intact (previously old files were deleted first
    # and the staging dir wiped in finally — both datasets lost)
    from pydala_spark.dataset.writer import write_feather_dataset
    from pydala_spark.sources import read_feather_dataset
    from pydala_spark.utils import pathops as po_mod

    out = str(tmp_path / "feather_guard")
    df1 = spark.range(0, 100).repartition(2)
    write_feather_dataset(spark, df1, out, mode="overwrite")

    real_rename = po_mod.PathOps.rename
    calls = {"n": 0}

    def flaky_rename(self, src, dst):
        calls["n"] += 1
        if calls["n"] == 2:  # second staged part fails to move in
            raise OSError("simulated transient rename failure")
        return real_rename(self, src, dst)

    monkeypatch.setattr(po_mod.PathOps, "rename", flaky_rename)
    df2 = spark.range(100, 400).repartition(3)
    with pytest.raises(OSError, match="simulated"):
        write_feather_dataset(spark, df2, out, mode="overwrite")
    monkeypatch.setattr(po_mod.PathOps, "rename", real_rename)

    back = read_feather_dataset(spark, out)
    assert back.count() == 100  # old data, fully intact
    assert sorted(r["id"] for r in back.collect()) == list(range(100))
    assert not any(f.startswith("_staging") for f in os.listdir(out))


def test_data_files_under_dotted_ancestor(spark, tmp_path):
    # r4 review: the hidden-segment filter must apply to path components
    # UNDER the dataset root only — a dataset living below a dotted
    # directory (/x/.cache/ds) is not itself hidden
    from pydala_spark.utils.pathops import PathOps

    root = tmp_path / ".cachedir" / "ds"
    root.mkdir(parents=True)
    (root / "a.parquet").write_bytes(b"x")
    (root / "_sidecar.json").write_bytes(b"{}")
    po = PathOps(spark, str(root))
    files = po.data_files(str(root))
    assert [p.rsplit("/", 1)[-1] for p, _ in files] == ["a.parquet"]


def test_get_session_star_cpus(monkeypatch):
    # r4 review: SPARK_GRAFT_CPUS='*' is a valid local[] slot string and
    # must not crash the shuffle-partition default
    import pydala_spark.session as S

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "*")
    spark = S.get_session(app_name="star_test")
    assert spark.conf.get("spark.sql.shuffle.partitions") is not None


def test_configure_storage_sets_live_hadoop_conf(spark):
    # r4 review: credentials must land on the LIVE hadoopConfiguration
    # (unprefixed), which is what PathOps and file scans read
    from pydala_spark.session import configure_storage

    configure_storage(spark, "s3", key="AK", secret="SK", endpoint="http://e")
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    assert hconf.get("fs.s3a.access.key") == "AK"
    assert hconf.get("fs.s3a.secret.key") == "SK"
    assert spark.conf.get("spark.hadoop.fs.s3a.endpoint") == "http://e"
    # abfs: the conf NAME embeds the account
    configure_storage(spark, "abfs", account_name="acct", account_key="K1")
    assert (
        hconf.get("fs.azure.account.key.acct.dfs.core.windows.net") == "K1"
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="account_name"):
        configure_storage(spark, "abfs", account_key="K2")


def test_orc_roundtrip(spark, tmp_path):
    # r4: ORC through the same Dataset/Writer dispatch (Spark-native —
    # vectorized, pushdown, zstd), incl. hive partitioning + append
    from pydala_spark.dataset.reader import Dataset
    from pydala_spark.dataset.writer import Writer

    df = spark.createDataFrame(
        [(i, f"g{i % 2}", float(i)) for i in range(20)], ["id", "g", "v"]
    )
    out = str(tmp_path / "orc_ds")
    w = Writer(spark, out, format="orc", partition_by="g")
    w.write(df, mode="overwrite")
    ds = Dataset(spark, out, format="orc")
    got = ds.load()
    assert got.count() == 20 and set(got.columns) == {"id", "g", "v"}
    # predicate pushdown actually reaches the ORC scan
    from pyspark.sql import functions as F

    from pydala_spark.plans import pushed_filters

    filters = pushed_filters(got.where(F.col("id") > 10))
    assert any("GreaterThan(id,10)" in f for f in filters), filters
    w.write(df.where("id < 3"), mode="append")
    assert Dataset(spark, out, format="orc").count() == 23


def test_escaped_string_literals_check_is_case_insensitive(spark, monkeypatch):
    # ADVICE r17: booleans are case-insensitive, so a session that pins
    # "False" holds the required value; only a true setting is rejected.
    # A conf.set that ignores the key simulates an external session that
    # refuses the runtime override.
    import pydala_spark.session as S

    esc = "spark.sql.parser.escapedStringLiterals"
    real_set = spark.conf.set
    monkeypatch.setattr(
        spark.conf, "set",
        lambda key, value: None if key == esc and value == "false"
        else real_set(key, value))
    try:
        spark.conf.set(esc, "False")
        assert S.configure_session(spark) is spark
        spark.conf.set(esc, "TRUE")
        with pytest.raises(RuntimeError, match="escapedStringLiterals"):
            S.configure_session(spark)
    finally:
        real_set(esc, "false")


def test_escaped_string_literals_set_only_when_on(spark, monkeypatch):
    # the conf is deprecated in Spark 4 and every set of it logs a WARN:
    # a default session never sets it, a session that pins it on is
    # switched back to false
    import pydala_spark.session as S

    esc = "spark.sql.parser.escapedStringLiterals"
    assert esc not in S.RUNTIME_DEFAULTS  # the builder never sets it
    real_set = spark.conf.set
    calls = []

    def recording_set(key, value):
        calls.append(key)
        real_set(key, value)

    monkeypatch.setattr(spark.conf, "set", recording_set)
    try:
        S.configure_session(spark)
        assert calls and esc not in calls
        real_set(esc, "true")
        S.configure_session(spark)
        assert spark.conf.get(esc) == "false"
        assert calls.count(esc) == 1
    finally:
        real_set(esc, "false")
