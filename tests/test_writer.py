import datetime as dt
import os

import pytest
from pyspark.sql import Row, functions as F

from pydala_spark import Dataset, Writer
from pydala_spark.dataset.writer import bucket_column, parse_interval, tables_diff


def _events(spark, rows):
    return spark.createDataFrame(
        [Row(event_id=i, ts=ts, v=v) for i, ts, v in rows],
        "event_id long, ts timestamp, v double",
    )


TS = dt.datetime


def test_parse_interval():
    assert parse_interval("1d") == (1, "day")
    assert parse_interval("3mo") == (3, "month")
    assert parse_interval("15min") == (15, "minute")
    assert parse_interval("2h") == (2, "hour")
    assert parse_interval("10s") == (10, "second")
    assert parse_interval("y") == (1, "year")


def test_write_modes(spark, tmp_path):
    out = str(tmp_path / "ds")
    df = _events(spark, [(1, TS(2024, 1, 1), 1.0)])
    w = Writer(spark, out)
    w.write(df)
    assert Dataset(spark, out).count() == 1
    w.write(df, mode="append")
    assert Dataset(spark, out).count() == 2
    w.write(df, mode="overwrite")
    assert Dataset(spark, out).count() == 1
    with pytest.raises(FileExistsError):
        w.write(df, mode="error")


def test_delta_fullrow_except_distinct(spark, tmp_path):
    out = str(tmp_path / "ds")
    w = Writer(spark, out)
    w.write(_events(spark, [(1, TS(2024, 1, 1), 1.0), (2, TS(2024, 1, 2), 2.0)]))
    # incoming: one duplicate row (twice!), one new row
    incoming = _events(
        spark,
        [(1, TS(2024, 1, 1), 1.0), (1, TS(2024, 1, 1), 1.0), (3, TS(2024, 1, 3), 3.0)],
    )
    w.write(incoming, mode="delta")
    # EXCEPT-distinct: the duplicated existing row is not re-appended, and
    # the incoming-internal duplicate is collapsed
    assert Dataset(spark, out).count() == 3


def test_delta_subset_keyed(spark, tmp_path):
    out = str(tmp_path / "ds")
    w = Writer(spark, out)
    w.write(_events(spark, [(1, TS(2024, 1, 1), 1.0)]))
    incoming = _events(
        spark, [(1, TS(2024, 1, 1), 99.0), (2, TS(2024, 1, 2), 2.0)]
    )
    w.write(incoming, mode="delta", delta_subset=["event_id"])
    df = Dataset(spark, out).load()
    assert df.count() == 2  # id=1 not re-appended despite changed v
    assert df.where("event_id = 1").first()["v"] == 1.0


def test_delta_time_window_inclusive_max(spark, tmp_path):
    out = str(tmp_path / "ds")
    w = Writer(spark, out)
    w.write(_events(spark, [(1, TS(2024, 1, 1), 1.0)]))
    # incoming max-ts row must survive the defaulted window (divergence fix)
    incoming = _events(spark, [(2, TS(2024, 1, 5), 2.0), (3, TS(2024, 1, 6), 3.0)])
    w.write(incoming, mode="delta", datetime_column="ts")
    assert Dataset(spark, out).count() == 3


def test_delta_null_safe_keys(spark, tmp_path):
    out = str(tmp_path / "ds")
    spark.createDataFrame(
        [Row(k=None, v=1)], "k int, v int"
    ).write.parquet(out)
    incoming = spark.createDataFrame([Row(k=None, v=2), Row(k=1, v=3)], "k int, v int")
    Writer(spark, out).write(incoming, mode="delta", delta_subset=["k"])
    df = Dataset(spark, out).load()
    # NULL==NULL for delta keys: the k=NULL incoming row is a duplicate
    assert df.count() == 2
    assert df.where("k = 1").count() == 1


def test_partitioned_write_and_pruning(spark, tmp_path):
    out = str(tmp_path / "ds")
    df = _events(spark, [(i, TS(2024, 1, 1 + i % 3), float(i)) for i in range(30)])
    df = df.withColumn("day", F.dayofmonth("ts"))
    Writer(spark, out, partition_by=["day"]).write(df)
    assert os.path.isdir(os.path.join(out, "day=1"))
    pruned = Dataset(spark, out).load().where("day = 1")
    files = {
        r["f"].rsplit("/", 2)[-2]
        for r in pruned.select(F.input_file_name().alias("f")).distinct().collect()
    }
    assert files == {"day=1"}  # partition pruning reached the scan


def test_time_bucket_write(spark, tmp_path):
    out = str(tmp_path / "ds")
    df = _events(
        spark,
        [(i, TS(2024, 1, 1, 0) + dt.timedelta(hours=6 * i), float(i)) for i in range(8)],
    )
    Writer(spark, out).write(df, time_bucket="1d", datetime_column="ts")
    days = {d for d in os.listdir(out) if d.startswith("bucket=")}
    assert len(days) == 2
    assert Dataset(spark, out).count() == 8


def test_bucket_column_grids(spark):
    df = spark.createDataFrame(
        [Row(ts=TS(2024, 5, 17, 13, 47, 21))], "ts timestamp"
    )
    got = df.select(
        bucket_column("ts", "1d").alias("d"),
        bucket_column("ts", "6h").alias("h6"),
        bucket_column("ts", "15min").alias("m15"),
        bucket_column("ts", "3mo").alias("q"),
    ).first()
    assert got["d"] == TS(2024, 5, 17)
    assert got["h6"] == TS(2024, 5, 17, 12)
    assert got["m15"] == TS(2024, 5, 17, 13, 45)
    assert got["q"] == TS(2024, 4, 1)


def test_bucket_column_pre_epoch(spark):
    # negative month offsets need pmod: plain % gave month 0/-1 (ANSI
    # error or a NULL bucket) for pre-1970 timestamps
    df = spark.createDataFrame([Row(ts=TS(1969, 12, 15))], "ts timestamp")
    got = df.select(bucket_column("ts", "3mo").alias("q"),
                    bucket_column("ts", "1y").alias("y")).first()
    assert got["q"] == TS(1969, 10, 1)
    assert got["y"] == TS(1969, 1, 1)


def test_time_bucket_repeat_append(spark, tmp_path):
    # second append with time_bucket and no partition_by must inherit
    # the bucket layout, not die on the inheritance gate
    out = str(tmp_path / "tb_repeat")
    df1 = _events(spark, [(1, TS(2024, 1, 1, 3), 1.0)])
    df2 = _events(spark, [(2, TS(2024, 1, 2, 5), 2.0)])
    Writer(spark, out).write(df1, time_bucket="1d", datetime_column="ts")
    Writer(spark, out).write(df2, time_bucket="1d", datetime_column="ts")
    ds = Dataset(spark, out)
    assert ds.count() == 2
    days = {d for d in os.listdir(out) if d.startswith("bucket=")}
    assert len(days) == 2


def test_transform_func_hook(spark, tmp_path):
    out = str(tmp_path / "ds")
    df = _events(spark, [(1, TS(2024, 1, 1), 2.0)])
    Writer(spark, out).write(
        df, transform_func=lambda d, factor: d.withColumn("v", F.col("v") * factor),
        transform_func_kwargs={"factor": 10.0},
    )
    assert Dataset(spark, out).load().first()["v"] == 20.0


def test_unify_schema_rewrite(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    out = tmp_path / "ds"
    out.mkdir()
    pq.write_table(pa.table({"id": pa.array([1], pa.int32())}), out / "a.parquet")
    pq.write_table(pa.table({"id": pa.array([2], pa.int64()), "v": ["x"]}), out / "b.parquet")
    assert Writer(spark, str(out)).unify_schema(sort_columns=True)
    schemas = {str(pq.read_schema(str(f))) for f in out.rglob("*.parquet")}
    assert len(schemas) == 1
    df = Dataset(spark, str(out)).load()
    assert dict(df.dtypes)["id"] == "bigint"
    assert df.count() == 2


def test_tables_diff_missing_column_errors(spark):
    a = spark.createDataFrame([Row(x=1, y=2)])
    b = spark.createDataFrame([Row(x=1)])
    with pytest.raises(ValueError):
        tables_diff(a, b)


def test_dynamic_partition_overwrite_inherits_layout(spark, tmp_path):
    # no partition_by on the writer: the existing hive layout must be
    # inherited, otherwise the dynamic overwrite degrades to a full
    # overwrite and silently drops every absent partition
    out = str(tmp_path / "dyn_inherit")
    df = spark.createDataFrame([(1, "a"), (2, "a"), (3, "b")], ["id", "part"])
    Writer(spark, out, partition_by=["part"]).write(df)
    repl = spark.createDataFrame([(9, "a")], ["id", "part"])
    Writer(spark, out).write(repl, mode="overwrite_partitions")
    rows = {(r["id"], r["part"]) for r in Dataset(spark, out).load().collect()}
    assert rows == {(9, "a"), (3, "b")}


def test_dynamic_partition_overwrite_requires_partitioning(spark, tmp_path):
    out = str(tmp_path / "dyn_flat")
    df = spark.createDataFrame([(1, "a")], ["id", "part"])
    Writer(spark, out).write(df)  # unpartitioned dataset
    with pytest.raises(ValueError, match="overwrite_partitions"):
        Writer(spark, out).write(df, mode="overwrite_partitions")


def test_unify_schema_preserves_hive_partitions(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    out = tmp_path / "ds_part"
    (out / "part=x").mkdir(parents=True)
    (out / "part=y").mkdir(parents=True)
    pq.write_table(
        pa.table({"id": pa.array([1], pa.int32())}), out / "part=x" / "a.parquet"
    )
    pq.write_table(
        pa.table({"id": pa.array([2], pa.int64()), "v": ["x"]}),
        out / "part=y" / "b.parquet",
    )
    assert Writer(spark, str(out)).unify_schema()
    df = Dataset(spark, str(out)).load()
    assert df.count() == 2
    # partition column survived the rewrite, as values AND as layout
    assert {r["part"] for r in df.select("part").collect()} == {"x", "y"}
    assert (out / "part=x").is_dir() and (out / "part=y").is_dir()
    assert dict(df.dtypes)["id"] == "bigint"


def test_unify_schema_rejects_non_parquet(spark, tmp_path):
    with pytest.raises(ValueError, match="parquet"):
        Writer(spark, str(tmp_path / "csvds"), format="csv").unify_schema()


def test_bucket_column_week_grids_share_anchor(spark):
    # r4 review: '1w' (date_trunc Monday) and 'Nw' grids must sit on the
    # same Monday anchor — the epoch-seconds grid anchored weeks at
    # Thursday 1970-01-01
    import datetime as dt

    df = spark.createDataFrame(
        [(dt.datetime(2024, 5, 15, 9, 0),), (dt.datetime(1969, 12, 31, 5, 0),)],
        "ts timestamp",
    )
    got = df.select(
        bucket_column("ts", "1w").alias("w1"),
        bucket_column("ts", "2w").alias("w2"),
    ).collect()
    for r in got:
        assert r["w1"].weekday() == 0, r  # Monday
        assert r["w2"].weekday() == 0, r  # Monday-anchored multi-week
        assert r["w2"] <= r["w1"]
    # 2024-05-15 is in the Monday-2024-05-13 week
    assert got[0]["w1"] == dt.datetime(2024, 5, 13)


def test_writer_coerce_path_uses_writer_format(spark, tmp_path):
    # r4 review: a csv writer fed a csv dataset path must not scan it as
    # parquet
    src = str(tmp_path / "csv_src")
    spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string").write.option(
        "header", True
    ).csv(src)
    dst = str(tmp_path / "csv_dst")
    Writer(spark, dst, format="csv").write(src)
    got = spark.read.option("header", True).option("inferSchema", True).csv(dst)
    assert {(r["id"], r["s"]) for r in got.collect()} == {(1, "a"), (2, "b")}


def test_filename_scheme_reference(spark, tmp_path):
    # W2 closure: filename_scheme="reference" renames Spark part files to
    # the reference's {base}-{ts}-{seq}.{ext} scheme after every write;
    # appends rename only the new files (already-conformant ones skip).
    import re

    out = str(tmp_path / "named")
    w = Writer(spark, out, filename_scheme="reference", base_name="data")
    w.write(_events(spark, [(1, TS(2024, 1, 1), 1.0)]))
    pat = re.compile(r"^data-\d{8}_\d{9}-\d{6}\.parquet$")
    files = [f for f in os.listdir(out) if f.endswith(".parquet")]
    assert files and all(pat.match(f) for f in files)
    first = set(files)
    w.write(_events(spark, [(2, TS(2024, 1, 2), 2.0)]), mode="append")
    files2 = [f for f in os.listdir(out) if f.endswith(".parquet")]
    assert first <= set(files2) and all(pat.match(f) for f in files2)
    assert Dataset(spark, out).count() == 2
    with pytest.raises(ValueError, match="filename_scheme"):
        Writer(spark, out, filename_scheme="bogus")


def test_filename_scheme_composes_with_time_bucket(spark, tmp_path):
    # r4: reference filename scheme + time-bucket partitioning compose —
    # every part file in every bucket directory gets the reference name
    import re

    out = str(tmp_path / "bucketed_named")
    w = Writer(spark, out, filename_scheme="reference")
    df = _events(
        spark,
        [(1, TS(2024, 1, 1, 5), 1.0), (2, TS(2024, 1, 2, 6), 2.0),
         (3, TS(2024, 1, 2, 7), 3.0)],
    )
    w.write(df, datetime_column="ts", time_bucket="1d")
    pat = re.compile(r"^data-\d{8}_\d{9}-\d{6}\.parquet$")
    found = []
    for root, _, files in os.walk(out):
        found += [f for f in files if f.endswith(".parquet")]
    assert found and all(pat.match(f) for f in found)
    assert Dataset(spark, out).count() == 3


def test_single_file_feather_bridge_remote_scheme(spark, tmp_path):
    # round 5: a scheme-qualified single-file feather target goes
    # through the PathOps GET/PUT bridge instead of raising — exercised
    # via file:// (any configured Hadoop scheme takes the same branch)
    import pyarrow.feather as pf

    target = f"file://{tmp_path}/remote/t.feather"
    local = str(tmp_path / "remote" / "t.feather")
    w = Writer(spark, target, format="feather")
    df = spark.range(3).selectExpr("id", "id * 2 AS v")
    w.write(df, mode="overwrite")
    assert pf.read_table(local).num_rows == 3
    # append: existing remote content is fetched and concatenated
    w.write(df, mode="append")
    t = pf.read_table(local)
    assert t.num_rows == 6
    assert sorted(t["id"].to_pylist()) == [0, 0, 1, 1, 2, 2]


def test_single_file_feather_bridge_hard_row_guard(
    spark, tmp_path, monkeypatch
):
    # round 13 (VERDICT r12 #5): the single-file feather form is a
    # DRIVER bridge — the small-data caveat is enforced with a hard
    # row cap that errors with a pointer at the distributed form,
    # instead of trusting the docstring and OOMing the driver
    import pytest

    import pyarrow.feather as pf

    from pydala_spark.dataset import writer as writer_mod

    monkeypatch.setattr(writer_mod, "FEATHER_BRIDGE_MAX_ROWS", 10)
    target = str(tmp_path / "guarded.feather")
    w = Writer(spark, target, format="feather")
    with pytest.raises(ValueError, match="write_feather_dataset"):
        w.write(spark.range(11).selectExpr("id"), mode="overwrite")
    assert not os.path.exists(target)  # guard fires BEFORE any write
    w.write(spark.range(10).selectExpr("id"), mode="overwrite")
    assert pf.read_table(target).num_rows == 10
    # the remote-scheme branch shares the guard (same entry point)
    w2 = Writer(spark, f"file://{tmp_path}/r/guarded.feather",
                format="feather")
    with pytest.raises(ValueError, match="driver-bridge cap"):
        w2.write(spark.range(11).selectExpr("id"), mode="overwrite")


def test_directory_flavor_partition_write_roundtrip(spark, tmp_path):
    # round 5: WRITE side of directory-flavor partitioning (bare-value
    # dirs, reference pyarrow DirectoryPartitioning) — closes the last
    # W-side divergence SURVEY §7.4 had accepted. Read back through the
    # round-3 directory-flavor reader.
    import os

    from pydala_spark.dataset.reader import Dataset

    out = str(tmp_path / "dirpart")
    df = spark.createDataFrame(
        [(1, "2023", "eu", 10.0), (2, "2023", "us", 20.0),
         (3, "2024", "eu", 30.0)],
        "id long, year string, region string, v double",
    )
    w = Writer(spark, out, partition_by=["year", "region"],
               partition_flavor="directory")
    w.write(df, mode="overwrite")
    top = {d for d in os.listdir(out) if not d.startswith(("_", "."))}
    assert top == {"2023", "2024"}  # bare values, no year= prefix
    assert {d for d in os.listdir(os.path.join(out, "2023"))
            if not d.startswith(("_", "."))} == {"eu", "us"}
    back = Dataset(spark, out, partitioning=["year", "region"]).load()
    assert back.count() == 3
    assert {(r["year"], r["region"]) for r in back.collect()} == {
        ("2023", "eu"), ("2023", "us"), ("2024", "eu")
    }
    # append merges into existing bare dirs (no col= dirs left behind)
    w.write(spark.createDataFrame(
        [(4, "2023", "eu", 40.0)],
        "id long, year string, region string, v double"), mode="append")
    back2 = Dataset(spark, out, partitioning=["year", "region"]).load()
    assert back2.count() == 4
    assert back2.where("year = '2023' AND region = 'eu'").count() == 2
    assert not any("=" in d for d in os.listdir(out))


def test_directory_flavor_overwrite_partitions_replaces(spark, tmp_path):
    from pydala_spark.dataset.reader import Dataset

    out = str(tmp_path / "dirpart2")
    schema = "id long, g string, v double"
    w = Writer(spark, out, partition_by=["g"], partition_flavor="directory")
    w.write(spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0)], schema), mode="overwrite")
    # dynamic overwrite of partition a only: its old rows are REPLACED,
    # partition b untouched
    w.write(spark.createDataFrame([(9, "a", 9.0)], schema),
            mode="overwrite_partitions")
    back = Dataset(spark, out, partitioning=["g"]).load()
    rows = {(r["id"], r["g"]) for r in back.collect()}
    assert rows == {(9, "a"), (2, "b")}


def test_directory_flavor_flat_append_rejected(spark, tmp_path):
    out = str(tmp_path / "dirpart3")
    schema = "id long, g string, v double"
    Writer(spark, out, partition_by=["g"], partition_flavor="directory").write(
        spark.createDataFrame([(1, "a", 1.0)], schema), mode="overwrite"
    )
    # a later writer without partition_by cannot silently write flat files
    with pytest.raises(ValueError, match="directory"):
        Writer(spark, out, partition_flavor="directory").write(
            spark.createDataFrame([(2, "b", 2.0)], schema), mode="append"
        )
    # and upsert is an explicit unsupported combination
    with pytest.raises(ValueError, match="upsert"):
        Writer(spark, out, partition_by=["g"],
               partition_flavor="directory").write(
            spark.createDataFrame([(3, "a", 3.0)], schema),
            mode="upsert", delta_subset=["id"],
        )


def test_directory_flavor_full_overwrite_without_partition_by(spark, tmp_path):
    # r5 review: a FULL overwrite deletes the whole layout first, so it
    # is legitimate without partition_by (the flat-append guard must not
    # fire); the result is simply an unpartitioned dataset
    from pydala_spark.dataset.reader import Dataset

    out = str(tmp_path / "dirpart4")
    schema = "id long, g string, v double"
    Writer(spark, out, partition_by=["g"], partition_flavor="directory").write(
        spark.createDataFrame([(1, "a", 1.0)], schema), mode="overwrite"
    )
    Writer(spark, out, partition_flavor="directory").write(
        spark.createDataFrame([(2, "b", 2.0)], schema), mode="overwrite"
    )
    back = Dataset(spark, out).load()
    assert [(r["id"], r["g"]) for r in back.collect()] == [(2, "b")]


def test_overwrite_failing_job_keeps_old_rows(spark, tmp_path):
    # an overwrite stages beside the dataset: a job that fails leaves
    # the old rows in place and no stage behind
    out = str(tmp_path / "ow_fail")
    rows = spark.range(10).withColumn("g", F.col("id") % 2)
    w = Writer(spark, out, partition_by=["g"])
    w.write(rows)
    bad = rows.withColumn("id", F.when(F.col("id") == 7, F.raise_error(
        F.lit("injected failure"))).otherwise(F.col("id")))
    for mode in ("overwrite", "overwrite_partitions"):
        with pytest.raises(Exception, match="injected failure"):
            w.write(bad, mode=mode)
        assert Dataset(spark, out).load().count() == 10
        assert os.listdir(tmp_path) == ["ow_fail"]


@pytest.mark.parametrize("signatures", [None, ("winnowing",)])
def test_overwrite_reads_its_own_target(spark, tmp_path, signatures):
    # the input reads the files the commit replaces: the write reads
    # them before the commit, and the ride-along signs what landed
    # without reading them again
    from pydala_spark.dataset.maintain import read_signatures

    out = str(tmp_path / "ow_self")
    Writer(spark, out).write(spark.createDataFrame(
        [(i, f"document number {i} of the overwrite test") for i in range(10)],
        "doc_id long, text string"))
    Writer(spark, out, signatures=signatures).write(
        Dataset(spark, out).load().where("doc_id < 5"), mode="overwrite")
    got = sorted(r["doc_id"] for r in Dataset(spark, out).load().collect())
    assert got == list(range(5))
    if signatures:
        fps, _ = read_signatures(spark, out, "winnowing")
        assert {r["id"] for r in fps.collect()} == set(range(5))


def test_overwrite_keeps_dataset_sidecar(spark, tmp_path):
    # an overwrite replaces the data files only: the dataset's sidecar
    # stays, so the lake still discovers the dataset
    import json

    from pydala_spark import Datalake

    root = str(tmp_path / "lake")
    out = os.path.join(root, "events")
    Writer(spark, out).write(spark.range(10))
    with open(os.path.join(out, "_dataset.json"), "w") as f:
        json.dump({"dataset": {"format": "parquet"}}, f)
    assert list(Datalake(spark, root).discover()) == ["events"]
    Writer(spark, out).write(spark.range(3), mode="overwrite")
    assert list(Datalake(spark, root).discover()) == ["events"]
    assert Dataset(spark, out).load().count() == 3
