import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from pydala_spark.dataset.maintain import compact, zorder_value, zorder_write
from pydala_spark.sources import load_table


def _data_files(root):
    out = []
    for dirpath, _, files in os.walk(root):
        out.extend(
            os.path.join(dirpath, f)
            for f in files
            if not f.startswith(("_", "."))
        )
    return out


def test_compact_partitioned_small_files(spark, sf_dir, tmp_path):
    path = str(tmp_path / "orders_frag")
    df = load_table(spark, sf_dir, "orders").limit(2000)
    # a zero-padded string partition: its directory names (zone=007)
    # must survive the rewrite, not come back re-typed as zone=7
    df = df.withColumn(
        "zone", F.when(F.col("o_orderkey") % 2 == 0, "007").otherwise("010"))
    # fragment: 8 files per hive partition
    (
        df.repartition(8)
        .write.mode("overwrite")
        .partitionBy("o_orderpriority", "zone")
        .parquet(path)
    )
    before_files = _data_files(path)
    before_count = spark.read.parquet(path).count()
    assert len(before_files) > 10

    stats = compact(spark, path, target_file_mb=128)
    assert stats["files_before"] == len(before_files)
    assert stats["partition_cols"] == ["o_orderpriority", "zone"]
    # one target-size chunk total -> one file per hive partition
    after_files = _data_files(path)
    assert stats["files_after"] == len(after_files)
    assert len(after_files) < len(before_files)

    out = spark.read.parquet(path)
    assert out.count() == before_count
    # hive layout preserved
    assert "o_orderpriority" in out.columns
    assert any("o_orderpriority=" in f for f in after_files)
    zones = {seg for f in after_files for seg in f.split("/") if seg.startswith("zone=")}
    assert zones == {"zone=007", "zone=010"}


def test_compact_unpartitioned(spark, sf_dir, tmp_path):
    path = str(tmp_path / "nation_frag")
    df = load_table(spark, sf_dir, "nation")
    df.repartition(12).write.mode("overwrite").parquet(path)
    assert len(_data_files(path)) >= 12
    stats = compact(spark, path)
    assert stats["partition_cols"] == []
    assert stats["files_after"] == 1
    assert spark.read.parquet(path).count() == 25


def _csv_text(root):
    """(header lines, sorted data lines) of the csv files under ``root``."""
    import gzip

    headers, rows = set(), []
    for f in _data_files(root):
        with (gzip.open if f.endswith(".gz") else open)(f, "rt") as fh:
            lines = fh.read().splitlines()
        if lines:
            headers.add(lines[0])
            rows += lines[1:]
    return headers, sorted(rows)


def test_compact_csv_keeps_headers(spark, tmp_path):
    from pydala_spark.dataset.reader import Dataset
    from pydala_spark.dataset.writer import Writer

    path = str(tmp_path / "csv_ds")
    df = spark.createDataFrame(
        [(i, f"n{i}", f"{i:03d}", "1.50") for i in range(20)],
        ["id", "name", "code", "price"],
    )
    Writer(spark, path, format="csv").write(df.repartition(4))
    text = _csv_text(path)
    assert "007" in {row.split(",")[2] for row in text[1]}
    compact(spark, path, format="csv")
    # the rewrite keeps the raw text: 007 stays 007, 1.50 stays 1.50
    assert _csv_text(path) == text
    back = Dataset(spark, path, format="csv").load()
    # header lines were not ingested as rows, and the rewrite kept headers
    assert back.count() == 20
    assert set(back.columns) == {"id", "name", "code", "price"}
    assert back.where("CAST(id AS INT) IS NULL").count() == 0


@pytest.mark.parametrize("op", ["compact", "recluster", "delta", "upsert"])
@pytest.mark.parametrize("b_first", [False, True])
def test_rewrite_keeps_column_some_files_lack(spark, tmp_path, op, b_first):
    # two files, one of them carrying an extra column b: the rewrite
    # must keep b and its values whichever file the listing puts first
    # (fixed names, so each case lists in the same order every run, and
    # the two cases swap which name carries b). The second input also
    # drifts: a is int32 in the narrow file and int64 in the wide one,
    # footers Spark cannot merge. delta and upsert read the existing
    # rows the same way (the delta lands nothing, the upsert rewrites
    # row 0 unchanged)
    import pyarrow as pa

    from pydala_spark.dataset.maintain import recluster
    from pydala_spark.dataset.reader import Dataset
    from pydala_spark.dataset.writer import Writer

    for a_type in (pa.int64(), pa.int32()):
        root = tmp_path / f"ds_{a_type}"
        root.mkdir()
        narrow = pa.table({"a": pa.array(list(range(5)), a_type)})
        wide = pa.table({"a": list(range(5, 10)),
                         "b": [f"b{i}" for i in range(5, 10)]})
        for name, table in zip(("part-0.parquet", "part-1.parquet"),
                               (wide, narrow) if b_first else (narrow, wide)):
            pq.write_table(table, root / name)
        path = str(root)
        if op == "compact":
            compact(spark, path)
        elif op == "recluster":
            recluster(spark, path, ["a"], n_files=1)
        else:
            row0 = spark.createDataFrame([(0, None)], "a long, b string")
            Writer(spark, path).write(row0, mode=op, delta_subset=["a"])
        back = Dataset(spark, path).load()
        assert sorted(back.columns) == ["a", "b"]
        assert sorted(map(tuple, back.select("a", "b").collect())) == [
            (i, f"b{i}" if i >= 5 else None) for i in range(10)]


def test_recluster_in_place(spark, tmp_path):
    from pydala_spark.dataset.maintain import recluster

    path = str(tmp_path / "recl")
    df = spark.createDataFrame(
        [(i, (i * 37) % 100, float(i)) for i in range(1000)], ["x", "y", "v"]
    )
    df.repartition(8).write.parquet(path)
    stats = recluster(spark, path, ["x", "y"], n_files=4, bits=8)
    assert stats["cols"] == ["x", "y"]
    back = spark.read.parquet(path)
    assert back.count() == 1000
    # clustered: each file covers a narrow x-range (arrival order did not)
    spans = (
        back.groupBy(F.input_file_name().alias("f"))
        .agg((F.max("x") - F.min("x")).alias("span"))
        .collect()
    )
    assert min(r["span"] for r in spans) < 999  # at least one tight file


def test_streaming_append_with_zorder(spark, tmp_path):
    import os

    from pydala_spark.dataset.reader import Dataset
    from pydala_spark.dataset.writer import Writer
    from pydala_spark.streaming import incremental_append

    src = str(tmp_path / "in_z")
    os.makedirs(src)
    dest = str(tmp_path / "ds_z")
    for i in range(2):
        spark.createDataFrame(
            [(i * 100 + j, float(j % 7)) for j in range(50)], "event_id long, v double"
        ).repartition(2).write.mode("append").parquet(src)
    stream = spark.readStream.schema("event_id long, v double").option(
        "maxFilesPerTrigger", "2"
    ).parquet(src)
    q = incremental_append(
        stream,
        Writer(spark, dest),
        delta_subset=["event_id"],
        checkpoint_dir=str(tmp_path / "ckpt_z"),
        compact_every=1,
        zorder_by=["event_id", "v"],
    )
    q.awaitTermination(120)
    assert Dataset(spark, dest).count() == 100


def test_zorder_overflow_guard(spark):
    import pytest

    cols = [F.lit(1)] * 7
    with pytest.raises(ValueError, match="63 interleaved"):
        spark.range(1).select(zorder_value(cols, bits=10))
    # zorder_write clamps instead (scale and interleave stay consistent)
    df = spark.createDataFrame([(i, i, i, i, i, i, i) for i in range(10)],
                               ["a", "b", "c", "d", "e", "f", "g"])
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        stats = zorder_write(spark, df, f"{d}/z", list("abcdefg"), n_files=2, bits=10)
        assert spark.read.parquet(f"{d}/z").count() == 10


def test_zorder_value_interleaves_bits(spark):
    # x=0b11, y=0b00 with 2 bits -> z = x bits at even positions = 0b0101
    df = spark.createDataFrame([(3, 0)], ["x", "y"])
    z = df.select(
        zorder_value([F.col("x"), F.col("y")], bits=2).alias("z")
    ).first()["z"]
    assert z == 0b0101
    # symmetric: y bits land at odd positions
    df2 = spark.createDataFrame([(0, 3)], ["x", "y"])
    z2 = df2.select(
        zorder_value([F.col("x"), F.col("y")], bits=2).alias("z")
    ).first()["z"]
    assert z2 == 0b1010


def test_zorder_write_clusters_both_columns(spark, sf_dir, tmp_path):
    path = str(tmp_path / "li_z")
    df = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    n = df.count()
    zorder_write(spark, df, path, ["l_orderkey", "l_partkey"], n_files=8)
    out = spark.read.parquet(path)
    assert out.count() == n

    # every file should cover a small hyper-rectangle: the per-file
    # min/max span on EACH z-ordered column must be well below the
    # global span for most files (that's what enables min/max pruning).
    files = _data_files(path)
    assert len(files) > 1
    glb = df.agg(
        F.min("l_orderkey"), F.max("l_orderkey"),
        F.min("l_partkey"), F.max("l_partkey"),
    ).first()
    spans = {"l_orderkey": glb[1] - glb[0], "l_partkey": glb[3] - glb[2]}
    for col in ("l_orderkey", "l_partkey"):
        tight = 0
        for f in files:
            md = pq.read_metadata(f)
            los, his = [], []
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    c = md.row_group(rg).column(ci)
                    if c.path_in_schema == col:
                        los.append(c.statistics.min)
                        his.append(c.statistics.max)
            if max(his) - min(los) <= 0.75 * spans[col]:
                tight += 1
        assert tight >= len(files) // 2, col


def test_zorder_value_stays_jvm_side(spark, sf_dir):
    """The Morton interleave must be pure Column bit arithmetic: no
    Python UDF in the plan, and the write is range-partitioned on the
    z-value (that's the clustering mechanism)."""
    from pydala_spark.plans import explain_str

    df = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    zed = df.withColumn(
        "__z",
        zorder_value(
            [F.col("l_orderkey").cast("long"), F.col("l_partkey").cast("long")],
            bits=8,
        ),
    ).repartitionByRange(4, "__z")
    plan = explain_str(zed, mode="formatted")
    assert "pythonUDF" not in plan and "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "rangepartitioning" in plan.lower()


def test_compact_splits_large_partition(spark, tmp_path):
    # a 'big' hive partition several times the target size must split
    # into multiple ~target files, while 'small' still collapses to one
    path = str(tmp_path / "skewed")
    big = spark.range(300000).select(
        F.lit("big").alias("part"), F.md5(F.col("id").cast("string")).alias("payload")
    )
    small = spark.range(10).select(
        F.lit("small").alias("part"), F.md5(F.col("id").cast("string")).alias("payload")
    )
    big.unionAll(small).repartition(6).write.partitionBy("part").parquet(path)
    stats = compact(spark, path, target_file_mb=1)
    files = _data_files(path)
    big_files = [f for f in files if "part=big" in f]
    small_files = [f for f in files if "part=small" in f]
    assert len(big_files) >= 2, "oversized partition was not split"
    assert len(small_files) == 1
    assert stats["partition_cols"] == ["part"]
    assert spark.read.parquet(path).count() == 300010


def test_compact_splits_large_timestamp_partition(spark, tmp_path):
    # Spark escapes a timestamp value's colons in its directory name
    # (bucket=2024-01-11 00%3A00%3A00) and reads it back unescaped: the
    # chunk lookup must key on the value as read, or the big partition
    # never matches and collapses to one file
    path = str(tmp_path / "skewed_ts")
    big = spark.range(300000).select(
        F.lit("2024-01-11 00:00:00").cast("timestamp").alias("bucket"),
        F.md5(F.col("id").cast("string")).alias("payload"))
    small = spark.range(10).select(
        F.lit("2024-01-12 00:00:00").cast("timestamp").alias("bucket"),
        F.md5(F.col("id").cast("string")).alias("payload"))
    big.unionAll(small).repartition(12).write.partitionBy("bucket").parquet(path)
    big_dir = os.path.join(path, "bucket=2024-01-11 00%3A00%3A00")
    before = _data_files(big_dir)
    assert len(before) == 12 and all(os.path.getsize(f) < 1 << 20 for f in before)
    compact(spark, path, target_file_mb=1)
    files = _data_files(path)
    big_files = [f for f in files if f.startswith(big_dir + "/")]
    assert 2 <= len(big_files) < 12, "oversized partition was not split"
    assert len(files) - len(big_files) == 1
    assert spark.read.parquet(path).count() == 300010


def _sums(spark, path):
    return tuple(spark.read.parquet(path).agg(
        F.count("*"), F.sum("id"), F.sum(F.crc32("v"))).first())


def test_compact_rewrites_only_partitions_with_small_files(
        spark, tmp_path, monkeypatch):
    # p=0 holds one file and keeps it, name and all; p=1 holds four
    # small files and is compacted to one. The chunk lookup is literals
    # in the plan, never a Python-built table
    from pyspark.sql import SparkSession

    path = str(tmp_path / "mixed")
    rows = spark.range(40).select("id", (F.col("id") % 7).cast("string").alias("v"))
    rows.where("id < 10").coalesce(1).write.parquet(os.path.join(path, "p=0"))
    rows.where("id >= 10").repartition(4).write.parquet(os.path.join(path, "p=1"))
    lone = _data_files(os.path.join(path, "p=0"))
    small = [os.path.getsize(f) for f in _data_files(os.path.join(path, "p=1"))]
    assert len(lone) == 1 and len(small) == 4
    before = _sums(spark, path)

    def no_table(*args, **kwargs):
        raise AssertionError("compact built a DataFrame from Python rows")

    monkeypatch.setattr(SparkSession, "createDataFrame", no_table)
    stats = compact(spark, path)
    monkeypatch.undo()
    assert _data_files(os.path.join(path, "p=0")) == lone
    assert len(_data_files(os.path.join(path, "p=1"))) == 1
    assert stats["files_before"] == 5 and stats["files_after"] == 2
    assert stats["bytes"] == sum(small)
    assert _sums(spark, path) == before


def test_compact_noop_runs_no_spark_job(spark, tmp_path):
    path = str(tmp_path / "done")
    spark.range(30).withColumn("p", F.col("id") % 3).repartition(4) \
        .write.partitionBy("p").parquet(path)
    assert compact(spark, path)["bytes"] > 0
    files = sorted(_data_files(path))
    sc = spark.sparkContext
    sc.setJobGroup("compact-noop", "a compact with nothing to rewrite")
    try:
        stats = compact(spark, path)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("compact-noop")) == []
    assert stats == {"files_before": 3, "files_after": 3, "bytes": 0,
                     "partition_cols": ["p"]}
    assert sorted(_data_files(path)) == files
    assert not os.path.exists(path + "__compacting")


@pytest.mark.parametrize("stray", ["r.parquet", "p=2/sub/r.parquet"])
def test_compact_off_depth_layout_compacts_whole(spark, tmp_path, stray):
    # a file off the col=value depth (at the root, or in a plain
    # subdirectory) makes the dataset one group: p=2's lone file is
    # rewritten along with p=1's two
    path = tmp_path / "ragged"
    for i, rel in enumerate(["p=1/x.parquet", "p=1/y.parquet",
                             "p=2/z.parquet", stray]):
        (path / rel).parent.mkdir(parents=True, exist_ok=True)
        pq.write_table(pa.table({"id": list(range(i * 10, i * 10 + 5))}),
                       path / rel)
    before = spark.read.option("basePath", str(path)).parquet(
        *_data_files(path)).count()
    stray_bytes = (path / stray).read_bytes()
    stats = compact(spark, str(path))
    assert stats["bytes"] > 0 and stats["partition_cols"] == ["p"]
    assert [os.path.basename(f) for f in _data_files(path / "p=2")] != ["z.parquet"]
    assert len(_data_files(path / "p=1")) == 1
    assert spark.read.parquet(str(path)).count() == before
    # the partitioned read leaves a root file out, so it is never replaced
    if stray == "r.parquet":
        assert (path / stray).read_bytes() == stray_bytes


def test_generation_compact_carries_root_file_forward(spark, tmp_path):
    # the partitioned read leaves a root file out; every generation
    # compaction carries it into the new generation, so it outlives the
    # retention of the generation it was listed in
    import json

    path = tmp_path / "ragged_gen"
    for i, rel in enumerate(["p=1/x.parquet", "p=1/y.parquet",
                             "p=2/z.parquet", "r.parquet"]):
        (path / rel).parent.mkdir(parents=True, exist_ok=True)
        pq.write_table(pa.table({"id": list(range(i * 10, i * 10 + 5))}),
                       path / rel)
    stray = (path / "r.parquet").read_bytes()
    for _ in range(3):
        compact(spark, str(path), swap="generation")
    active = json.loads((path / "_generation.json").read_text())["active"]
    assert (path / active / "r.parquet").read_bytes() == stray


def test_compact_partial_replaces_renamed_partition_dir(spark, tmp_path):
    # a hive directory escaped by another writer (pyarrow writes a space
    # as %20) reads as 'a b' and comes back as Spark's own p=a b: the
    # partial commit replaces both names; p=c keeps its lone file
    import pyarrow.dataset as pads

    path = tmp_path / "foreign"
    table = pa.table({"id": list(range(12)),
                      "p": ["a b"] * 8 + ["c"] * 4})
    pads.write_dataset(
        table, path, format="parquet", max_rows_per_group=4,
        max_rows_per_file=4, partitioning=pads.partitioning(
            pa.schema([("p", pa.string())]), flavor="hive"))
    assert sorted(os.listdir(path)) == ["p=a%20b", "p=c"]
    lone = os.listdir(path / "p=c")
    compact(spark, str(path))
    assert sorted(os.listdir(path)) == ["p=a b", "p=c"]
    assert os.listdir(path / "p=c") == lone
    back = spark.read.parquet(str(path))
    assert sorted(map(tuple, back.select("id", "p").collect())) == [
        (i, "a b" if i < 8 else "c") for i in range(12)]


def test_zorder_write_rejects_all_null_bounds(spark):
    import pytest

    df = spark.createDataFrame([(1, None), (2, None)], "id long, v double")
    with pytest.raises(ValueError, match="no non-NULL values"):
        zorder_write(spark, df, "/tmp/unused_z", ["id", "v"])


def test_compact_generation_swap_lifecycle(spark, tmp_path):
    # object-store-safe swap: maintenance commits ONE pointer object
    # instead of directory renames; readers/appenders resolve the pointer
    import json
    import os

    from pydala_spark.dataset.maintain import compact
    from pydala_spark.dataset.reader import Dataset
    from pydala_spark.dataset.writer import Writer

    base = str(tmp_path / "gen_ds")
    spark.range(100).repartition(8).write.parquet(base)

    stats = compact(spark, base, swap="generation")
    assert stats["files_before"] == 8 and stats["files_after"] == 1
    with open(os.path.join(base, "_generation.json")) as f:
        ptr = json.load(f)
    assert ptr["active"] == "gen-000001"
    # the flat originals are RETAINED as pseudo-generation zero
    # (keep_previous=1 protects pre-migration in-flight readers too)
    root_parquet = [p for p in os.listdir(base) if p.endswith(".parquet")]
    assert len(root_parquet) == 8
    ds = Dataset(spark, base)
    assert ds.path.endswith("gen-000001")
    assert ds.count() == 100

    # appends land INSIDE the active generation
    Writer(spark, base).write(spark.range(100, 110).toDF("id"))
    assert Dataset(spark, base).count() == 110

    # second compact: next generation; flat originals fall out of the
    # retention window, gen-000001 is the retained previous
    compact(spark, base, swap="generation")
    with open(os.path.join(base, "_generation.json")) as f:
        ptr = json.load(f)
    assert ptr["active"] == "gen-000002"
    assert os.path.isdir(os.path.join(base, "gen-000001"))
    assert not [p for p in os.listdir(base) if p.endswith(".parquet")]
    assert Dataset(spark, base).count() == 110

    # third compact: gen-000001 falls out of the retention window
    compact(spark, base, swap="generation")
    assert not os.path.isdir(os.path.join(base, "gen-000001"))
    assert os.path.isdir(os.path.join(base, "gen-000002"))
    assert Dataset(spark, base).count() == 110


def test_recluster_generation_swap(spark, tmp_path):
    import os

    from pydala_spark.dataset.maintain import recluster
    from pydala_spark.dataset.reader import Dataset
    from pyspark.sql import functions as F

    base = str(tmp_path / "gen_zo")
    spark.range(1000).withColumn("a", F.col("id") % 37).withColumn(
        "b", F.col("id") % 11
    ).repartition(6).write.parquet(base)
    recluster(spark, base, ["a", "b"], n_files=4, swap="generation")
    assert os.path.exists(os.path.join(base, "_generation.json"))
    ds = Dataset(spark, base)
    assert ds.count() == 1000
    assert ds.path.endswith("gen-000001")


def test_compact_generation_swap_partitioned(spark, tmp_path):
    import os

    from pydala_spark.dataset.maintain import compact
    from pydala_spark.dataset.reader import Dataset
    from pydala_spark.dataset.writer import Writer
    from pyspark.sql import functions as F

    base = str(tmp_path / "gen_part")
    df = spark.range(60).withColumn("part", (F.col("id") % 3).cast("string"))
    Writer(spark, base, partition_by=["part"]).write(df.repartition(6))
    stats = compact(spark, base, swap="generation")
    assert stats["partition_cols"] == ["part"]
    out = Dataset(spark, base)
    assert out.count() == 60
    # hive layout preserved inside the generation
    assert os.path.isdir(os.path.join(base, "gen-000001", "part=0"))
    assert out.load().where("part = '1'").count() == 20


def test_repartition_preserves_generation_layout(spark, tmp_path):
    import json
    import os

    from pydala_spark import Dataset, Repartition
    from pydala_spark.dataset.maintain import compact

    base = str(tmp_path / "gen_rp")
    spark.range(50).repartition(5).write.parquet(base)
    compact(spark, base, swap="generation")
    # in-place rewrite happens INSIDE the active generation
    Repartition(spark, base, max_records_per_file=10, with_snapshot=False).run()
    with open(os.path.join(base, "_generation.json")) as f:
        assert json.load(f)["active"] == "gen-000001"  # layout intact
    ds = Dataset(spark, base)
    assert ds.path.endswith("gen-000001")
    assert ds.count() == 50


def test_generation_pointer_corruption_degrades_to_base(spark, tmp_path):
    # a corrupt/unreadable pointer must degrade to reading the base
    # path, never fail the job
    import os

    from pydala_spark.dataset import generations
    from pydala_spark.dataset.reader import Dataset

    base = str(tmp_path / "gen_bad")
    spark.range(10).write.parquet(base)
    with open(os.path.join(base, "_generation.json"), "w") as f:
        f.write("{not valid json")
    assert generations.read_pointer(spark, base) is None
    assert generations.resolve(spark, base) == base
    assert Dataset(spark, base).count() == 10
    # and next_generation restarts the counter cleanly
    assert generations.next_generation(spark, base) == "gen-000001"


def test_generation_pointer_corruption_with_migrated_layout(spark, tmp_path):
    # corrupt pointer on an ALREADY-migrated dataset (base holds only
    # gen-* dirs): resolve falls back to the highest generation, and
    # next_generation never collides with an existing directory
    import os

    from pydala_spark.dataset import generations
    from pydala_spark.dataset.maintain import compact
    from pydala_spark.dataset.reader import Dataset

    base = str(tmp_path / "gen_bad2")
    spark.range(40).repartition(4).write.parquet(base)
    compact(spark, base, swap="generation")
    compact(spark, base, swap="generation")  # gen-000002 active, 1 retained
    with open(os.path.join(base, "_generation.json"), "w") as f:
        f.write("{truncated")
    assert generations.resolve(spark, base).endswith("gen-000002")
    assert Dataset(spark, base).count() == 40  # reads still work
    assert generations.next_generation(spark, base) == "gen-000003"
    # and a lake sweep over it recovers instead of dying
    compact(spark, base, swap="generation")
    assert Dataset(spark, base).count() == 40


def test_generation_pending_delete_ledger_retry(spark, tmp_path):
    # simulate a crash between the pointer PUT and the prune deletes:
    # the doomed generation sits in pending_delete; the next commit
    # retries the delete instead of orphaning it forever
    import json
    import os

    from pydala_spark.dataset import generations
    from pydala_spark.dataset.maintain import compact
    from pydala_spark.dataset.reader import Dataset

    base = str(tmp_path / "gen_ledger")
    spark.range(30).repartition(3).write.parquet(base)
    compact(spark, base, swap="generation")  # gen-000001
    compact(spark, base, swap="generation")  # gen-000002, root pruned
    # craft the crashed state: gen-000001 doomed but not deleted
    ptr_path = os.path.join(base, "_generation.json")
    with open(ptr_path) as f:
        ptr = json.load(f)
    assert os.path.isdir(os.path.join(base, "gen-000001"))
    ptr["generations"] = ["gen-000002"]
    ptr["pending_delete"] = ["gen-000001"]
    with open(ptr_path, "w") as f:
        json.dump(ptr, f)

    compact(spark, base, swap="generation")  # gen-000003
    # the crashed commit's doomed dir was retried and removed
    assert not os.path.isdir(os.path.join(base, "gen-000001"))
    assert os.path.isdir(os.path.join(base, "gen-000002"))  # retained prev
    with open(ptr_path) as f:
        final = json.load(f)
    assert final["active"] == "gen-000003"
    # ledger does not accumulate already-deleted entries forever
    compact(spark, base, swap="generation")
    with open(ptr_path) as f:
        after = json.load(f)
    assert "gen-000001" not in after.get("pending_delete", [])
    assert Dataset(spark, base).count() == 30


def test_compact_then_recluster_generation_chain(spark, tmp_path):
    # maintenance operators chain on an already-generational dataset:
    # recluster reads the active generation and commits the next one
    import json
    import os

    from pydala_spark.dataset.maintain import compact, recluster
    from pydala_spark.dataset.reader import Dataset
    from pyspark.sql import functions as F

    base = str(tmp_path / "gen_chain2")
    spark.range(500).withColumn("a", F.col("id") % 13).repartition(
        5
    ).write.parquet(base)
    compact(spark, base, swap="generation")          # gen-000001
    recluster(spark, base, ["id", "a"], n_files=2, swap="generation")  # gen-000002
    with open(os.path.join(base, "_generation.json")) as f:
        ptr = json.load(f)
    assert ptr["active"] == "gen-000002"
    ds = Dataset(spark, base)
    assert ds.path.endswith("gen-000002")
    assert ds.count() == 500


def test_generation_commit_carries_straggler_append(spark, tmp_path):
    # ADVICE r3: an append landing in the active generation between
    # maintenance's input listing and the pointer commit must be carried
    # into the new generation, not silently dropped when the superseded
    # generation is pruned a sweep later
    import json

    from pydala_spark.dataset import generations
    from pydala_spark.dataset.reader import Dataset

    base = str(tmp_path / "gen_carry")
    spark.range(0, 30).repartition(3).write.parquet(base)
    compact(spark, base, swap="generation")  # gen-000001 active
    gen1 = os.path.join(base, "gen-000001")
    rels = sorted(
        f for f in os.listdir(gen1) if not f.startswith(("_", "."))
    )
    # the rewrite reads gen1's files-as-listed...
    gen2 = os.path.join(base, "gen-000002")
    spark.read.parquet(*[os.path.join(gen1, r) for r in rels]).coalesce(
        1
    ).write.parquet(gen2)
    # ...then an appender drops a straggler into gen1 before the commit
    spark.range(100, 110).coalesce(1).write.mode("append").parquet(gen1)
    generations.commit(
        spark, base, "gen-000002", keep_previous=1,
        source="gen-000001", input_files=rels,
    )
    # straggler rows are live in the ACTIVE generation immediately
    ds = Dataset(spark, base)
    assert ds.path.endswith("gen-000002")
    assert ds.count() == 40
    assert ds.load().agg(F.sum("id")).first()[0] == sum(range(30)) + sum(
        range(100, 110)
    )
    # provenance sidecar accounts for every gen1 file incl. the straggler
    with open(os.path.join(gen2, "_inputs.json")) as f:
        sc = json.load(f)
    assert sc["source"] == "gen-000001"
    assert set(rels) < set(sc["files"]) and len(sc["files"]) == len(rels) + 1
    # one sweep later gen1 is pruned and nothing is lost
    compact(spark, base, swap="generation")  # gen-000003
    assert not os.path.isdir(gen1)
    assert Dataset(spark, base).count() == 40


def test_generation_prune_time_carry(spark, tmp_path):
    # an append that becomes visible only AFTER the successor's commit
    # (appender held the previous pointer resolution through the PUT)
    # stays in the retained generation; the sweep that prunes it must
    # carry the unaccounted file into the active generation first
    from pydala_spark.dataset import generations
    from pydala_spark.dataset.reader import Dataset

    base = str(tmp_path / "gen_carry_late")
    spark.range(0, 30).repartition(3).write.parquet(base)
    compact(spark, base, swap="generation")  # gen-000001
    compact(spark, base, swap="generation")  # gen-000002 active, gen1 retained
    gen1 = os.path.join(base, "gen-000001")
    spark.range(200, 205).coalesce(1).write.mode("append").parquet(gen1)
    compact(spark, base, swap="generation")  # gen-000003: prunes gen1 -> carry
    assert not os.path.isdir(gen1)
    live = generations.resolve(spark, base)
    got = spark.read.parquet(live).agg(F.sum("id"), F.count("*")).first()
    assert got[1] == 35
    assert got[0] == sum(range(30)) + sum(range(200, 205))
    assert Dataset(spark, base).count() == 35


def test_generation_carry_retry_no_duplicates(spark, tmp_path, monkeypatch):
    # crash between the pointer PUT and the prune deletes, AFTER a
    # prune-time carry: the retry must delete the doomed generation
    # without re-copying files that were already carried (or treating
    # the compacted originals as stragglers) — carried rows appear
    # exactly once
    import json

    import pytest

    from pydala_spark.dataset.reader import Dataset
    from pydala_spark.utils.pathops import PathOps

    base = str(tmp_path / "gen_carry_retry")
    spark.range(0, 30).repartition(3).write.parquet(base)
    compact(spark, base, swap="generation")  # gen-000001
    compact(spark, base, swap="generation")  # gen-000002
    gen1 = os.path.join(base, "gen-000001")
    spark.range(200, 205).coalesce(1).write.mode("append").parquet(gen1)

    real_delete = PathOps.delete

    def boom(self, path, recursive=True):
        if path.rstrip("/").endswith("gen-000001"):
            raise OSError("injected crash")
        return real_delete(self, path, recursive)

    monkeypatch.setattr(PathOps, "delete", boom)
    with pytest.raises(OSError, match="injected crash"):
        compact(spark, base, swap="generation")  # gen-000003 committed
    monkeypatch.setattr(PathOps, "delete", real_delete)

    # pointer committed before the crash: carried rows already live
    with open(os.path.join(base, "_generation.json")) as f:
        ptr = json.load(f)
    assert ptr["active"] == "gen-000003"
    assert "gen-000001" in ptr.get("pending_delete", [])
    assert Dataset(spark, base).count() == 35

    compact(spark, base, swap="generation")  # gen-000004: retries the delete
    assert not os.path.isdir(gen1)
    assert Dataset(spark, base).count() == 35  # exactly once, no duplicates


def test_generation_orphan_dir_swept_on_next_commit(spark, tmp_path):
    # a maintenance run that crashed BEFORE its pointer PUT leaves an
    # unreferenced gen dir; the next successful commit sweeps it so it
    # can't accumulate or be picked by the corrupt-pointer fallback
    import json

    from pydala_spark.dataset.reader import Dataset

    base = str(tmp_path / "gen_orphan")
    spark.range(20).repartition(2).write.parquet(base)
    compact(spark, base, swap="generation")  # gen-000001 active
    # crashed next attempt: staged gen-000002 exists, pointer never moved
    orphan = os.path.join(base, "gen-000002")
    spark.range(999, 1002).write.parquet(orphan)
    assert Dataset(spark, base).count() == 20  # pointer still -> gen1

    compact(spark, base, swap="generation")  # commits gen-000003
    with open(os.path.join(base, "_generation.json")) as f:
        ptr = json.load(f)
    assert ptr["active"] == "gen-000003"
    assert not os.path.isdir(orphan)  # orphan swept
    assert os.path.isdir(os.path.join(base, "gen-000001"))  # retained prev
    assert Dataset(spark, base).count() == 20


def test_normalize_filenames_reference_scheme(spark, tmp_path):
    # closes the SURVEY §7.4 part-file naming divergence on demand:
    # part-*.parquet -> data-<YYYYmmdd_HHMMSSfff>-<seq>.parquet
    # (reference writer.py:141), partition dirs preserved, idempotent
    import os
    import re

    from pydala_spark.dataset.maintain import normalize_filenames

    root = str(tmp_path / "named")
    df = spark.range(0, 100).withColumn("part", (F.col("id") % 2).cast("string"))
    df.write.partitionBy("part").parquet(root)
    res = normalize_filenames(spark, root, timestamp="20260814_120000000")
    assert res["n_renamed"] > 0 and res["n_skipped"] == 0
    pat = re.compile(r"^data-20260814_120000000-\d{6}\.parquet$")
    for d in ("part=0", "part=1"):
        names = [f for f in os.listdir(os.path.join(root, d))
                 if not f.startswith((".", "_"))]
        assert names and all(pat.match(n) for n in names), names
    assert spark.read.parquet(root).count() == 100  # bytes unchanged
    # second run: everything already conforms -> pure no-op
    res2 = normalize_filenames(spark, root, timestamp="20260814_130000000")
    assert res2["n_renamed"] == 0 and res2["n_skipped"] == res["n_renamed"]


def test_carry_forward_name_collision_disambiguates(spark, tmp_path):
    # r4 review: a straggler whose relative name collides with a file
    # already in the new generation must land under a -carried- name,
    # not be silently skipped (and deleted one sweep later)
    from pydala_spark.dataset import generations

    base = str(tmp_path / "gen_collide")
    src_dir = os.path.join(base, "gen-000001")
    new_dir = os.path.join(base, "gen-000002")
    os.makedirs(src_dir)
    os.makedirs(new_dir)
    with open(os.path.join(src_dir, "a.parquet"), "wb") as fh:
        fh.write(b"input-bytes")
    with open(os.path.join(src_dir, "s.parquet"), "wb") as fh:
        fh.write(b"straggler-content-unique")
    # the new generation's compacted output happens to use the same name
    with open(os.path.join(new_dir, "s.parquet"), "wb") as fh:
        fh.write(b"xx")
    generations.commit(
        spark, base, "gen-000002", keep_previous=0,
        source="gen-000001", input_files=["a.parquet"],
    )
    names = sorted(os.listdir(new_dir))
    assert "s-carried-gen-000001.parquet" in names, names
    with open(os.path.join(new_dir, "s-carried-gen-000001.parquet"), "rb") as fh:
        assert fh.read() == b"straggler-content-unique"
    with open(os.path.join(new_dir, "s.parquet"), "rb") as fh:
        assert fh.read() == b"xx"  # compacted output untouched


def test_compact_orc_dataset(spark, tmp_path):
    # r4: compact is format-generic — ORC small files fold together too
    import os

    from pydala_spark.dataset.maintain import compact
    from pydala_spark.dataset.reader import Dataset
    from pydala_spark.dataset.writer import Writer

    base = str(tmp_path / "orc_compact")
    w = Writer(spark, base, format="orc")
    for i in range(4):
        w.write(spark.range(i * 10, (i + 1) * 10).repartition(3))
    n_before = len([f for f in os.listdir(base) if f.endswith(".orc")])
    assert n_before >= 8
    compact(spark, base, target_file_mb=128, format="orc")
    n_after = len([f for f in os.listdir(base) if f.endswith(".orc")])
    assert n_after < n_before
    assert Dataset(spark, base, format="orc").count() == 40


def test_compact_rename_swap_preserves_sidecars(spark, tmp_path):
    # round 8: the staged rename swap used to REPLACE the dataset dir
    # wholesale, silently destroying signature sidecars and ANN codebook
    # JSONs; compaction rewrites the same rows, so the sidecars (and
    # their content markers) remain exactly valid and must survive
    import numpy as np

    from pydala_spark.dataset.maintain import (
        compact,
        materialize_signatures,
        read_signatures,
    )
    from pydala_spark.operators.ann import (
        kmeans_centroids,
        save_ivfpq_index,
        search_ivfpq_index,
        train_residual_pq,
    )

    base = str(tmp_path / "sig_ds")
    docs = spark.createDataFrame(
        [(i, f"document number {i} body text words") for i in range(60)],
        ["doc_id", "text"],
    )
    docs.repartition(8).write.parquet(base)
    corpus = spark.read.parquet(base)
    materialize_signatures(spark, corpus, base, kinds=("winnowing",))
    stats = compact(spark, base, target_file_mb=128)
    assert stats["files_after"] < stats["files_before"]
    fps, params = read_signatures(
        spark, base, "winnowing",
        verify_against=spark.read.parquet(base),  # marker still exact
    )
    assert fps.count() == 60 and params["content_rows"] == 60

    # ANN index: codebook sidecars survive, search still works
    idx = str(tmp_path / "ivfpq_idx")
    vecs = spark.createDataFrame(
        [(i, [float((i % 3) + 1), float(i % 5), 1.0, 0.5])
         for i in range(120)],
        ["vec_id", "embedding"],
    )
    cents = kmeans_centroids(vecs, n_centroids=3, seed=1)
    anchors, books = train_residual_pq(vecs, cents, m=2, n_codes=4, seed=1)
    save_ivfpq_index(spark, vecs, idx, cents, books, anchors=anchors)
    before = sorted(map(tuple, search_ivfpq_index(
        spark, idx, vecs.where("vec_id < 2"), k=3).collect()))
    compact(spark, idx, target_file_mb=128)
    after = sorted(map(tuple, search_ivfpq_index(
        spark, idx, vecs.where("vec_id < 2"), k=3).collect()))
    assert before == after and before
