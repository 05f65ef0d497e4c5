"""Upsert mode: update-or-insert by key with partition-pruned swaps."""

import os

import pytest
from pyspark.sql import Row

from pydala_spark import Dataset, Writer


def test_upsert_unpartitioned(spark, tmp_path):
    out = str(tmp_path / "ups")
    w = Writer(spark, out)
    w.write(
        spark.createDataFrame(
            [Row(k=1, v="a"), Row(k=2, v="b"), Row(k=3, v="c")]
        ),
        mode="upsert",
        delta_subset=["k"],
    )
    # 2 updated, 4 inserted
    w.write(
        spark.createDataFrame([Row(k=2, v="B"), Row(k=4, v="d")]),
        mode="upsert",
        delta_subset=["k"],
    )
    got = {r["k"]: r["v"] for r in Dataset(spark, out).load().collect()}
    assert got == {1: "a", 2: "B", 3: "c", 4: "d"}
    # an empty batch replaces nothing: no file is rewritten
    files = sorted(os.listdir(out))
    w.write(spark.createDataFrame([], "k long, v string"), mode="upsert",
            delta_subset=["k"])
    assert sorted(os.listdir(out)) == files


def test_upsert_partitioned_prunes_untouched(spark, tmp_path):
    out = str(tmp_path / "ups_part")
    w = Writer(spark, out, partition_by=["g"])
    w.write(
        spark.createDataFrame(
            [Row(k=1, g="a", v=1.0), Row(k=2, g="a", v=2.0), Row(k=3, g="b", v=3.0)]
        ),
        mode="upsert",
        delta_subset=["k"],
    )
    # fingerprint the untouched partition's files: they must not rewrite
    b_dir = os.path.join(out, "g=b")
    before = sorted(os.listdir(b_dir))
    w.write(
        spark.createDataFrame([Row(k=2, g="a", v=22.0), Row(k=9, g="a", v=9.0)]),
        mode="upsert",
        delta_subset=["k"],
    )
    assert sorted(os.listdir(b_dir)) == before  # partition b untouched
    got = {r["k"]: r["v"] for r in Dataset(spark, out).load().collect()}
    assert got == {1: 1.0, 2: 22.0, 3: 3.0, 9: 9.0}
    # an empty batch replaces nothing: no file is rewritten
    files = sorted(f for _, _, fs in os.walk(out) for f in fs)
    w.write(spark.createDataFrame([], "k long, g string, v double"),
            mode="upsert", delta_subset=["k"])
    assert sorted(f for _, _, fs in os.walk(out) for f in fs) == files


def test_upsert_null_safe_keys_and_validation(spark, tmp_path):
    out = str(tmp_path / "ups_null")
    w = Writer(spark, out)
    w.write(
        spark.createDataFrame([(None, "old"), (1, "one")], "k long, v string"),
        mode="upsert",
        delta_subset=["k"],
    )
    w.write(
        spark.createDataFrame([(None, "new")], "k long, v string"),
        mode="upsert",
        delta_subset=["k"],
    )
    got = {r["k"]: r["v"] for r in Dataset(spark, out).load().collect()}
    assert got == {None: "new", 1: "one"}  # NULL key matched null-safely

    with pytest.raises(ValueError, match="delta_subset"):
        w.write(spark.createDataFrame([Row(k=1, v="x")]), mode="upsert")


def test_upsert_escaped_partition_values(spark, tmp_path):
    # r4 review: Spark hive-escapes partition directory names (':' ->
    # %3A, booleans lowercase); upsert must construct the SAME names or
    # the swap silently discards the staged merge. A zero-padded string
    # partition (code=007) must keep its directory text too, and a
    # fractional-second timestamp (Spark writes 00:00:00.5) must match
    import datetime as dt

    from pydala_spark.dataset.reader import Dataset

    path = str(tmp_path / "ts_parts")
    t1 = dt.datetime(2024, 1, 1, 0, 0, 0)
    t2 = dt.datetime(2024, 1, 2, 12, 30, 0)
    t3 = dt.datetime(2024, 1, 3, 8, 0, 0, 500000)
    schema = "id long, ts timestamp, v double, flag boolean, code string"
    parts = ["ts", "flag", "code"]
    base = spark.createDataFrame(
        [(1, t1, 10.0, True, "007"), (2, t1, 20.0, False, "010"),
         (3, t2, 30.0, True, "007"), (5, t3, 50.0, True, "010")],
        schema,
    )
    Writer(spark, path, partition_by=parts).write(base)
    incoming = spark.createDataFrame(
        [(1, t1, 99.0, True, "007"), (4, t1, 40.0, True, "010"),
         (5, t3, 55.0, True, "010")], schema,
    )
    Writer(spark, path, partition_by=parts).write(
        incoming, mode="upsert", delta_subset=["id"]
    )
    rows = {r["id"]: r["v"] for r in Dataset(spark, path).load().collect()}
    assert rows == {1: 99.0, 2: 20.0, 3: 30.0, 4: 40.0, 5: 55.0}
    codes = {d for _, dirs, _ in os.walk(path) for d in dirs if d.startswith("code=")}
    assert codes == {"code=007", "code=010"}
    assert not [e for e in os.listdir(tmp_path) if e.endswith("__upserting")]


def test_upsert_csv_keeps_text(spark, tmp_path):
    # the upsert rewrites every surviving row of the data it touches:
    # they keep their csv text (001, 1.50), and a typed incoming key
    # still matches a text key (2 replaces 002)
    import gzip

    out = str(tmp_path / "ups_csv")
    w = Writer(spark, out, format="csv")
    w.write(spark.createDataFrame(
        [("1", "001", "1.50"), ("002", "7", "2.00")],
        "k string, code string, price string",
    ).coalesce(1))
    w.write(
        spark.createDataFrame([(2, "070", 9.5)], "k long, code string, price double"),
        mode="upsert", delta_subset=["k"],
    )
    lines = []
    for name in os.listdir(out):
        if not name.startswith(("_", ".")):
            with (gzip.open if name.endswith(".gz") else open)(
                    os.path.join(out, name), "rt") as fh:
                lines += fh.read().splitlines()
    assert "k,code,price" in lines
    assert sorted(x for x in lines if x != "k,code,price") == [
        "1,001,1.50", "2,070,9.5"]


def test_upsert_applies_filename_scheme(spark, tmp_path):
    # r4: the upsert path also finishes with the reference rename
    import os
    import re

    from pydala_spark.dataset.reader import Dataset
    from pydala_spark.dataset.writer import Writer

    out = str(tmp_path / "ups_named")
    w = Writer(spark, out, filename_scheme="reference")
    df = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"])
    w.write(df, mode="overwrite")
    w.write(
        spark.createDataFrame([(2, "B"), (3, "c")], ["id", "v"]),
        mode="upsert", delta_subset=["id"],
    )
    pat = re.compile(r"^data-\d{8}_\d{9}-\d{6}\.parquet$")
    files = [f for f in os.listdir(out) if f.endswith(".parquet")]
    assert files and all(pat.match(f) for f in files)
    got = {r["id"]: r["v"] for r in Dataset(spark, out).load().collect()}
    assert got == {1: "a", 2: "B", 3: "c"}
