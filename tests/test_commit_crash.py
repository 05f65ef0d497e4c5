"""Crash injection for ``PathOps.commit_stage``, the one commit step of
every in-place lake rewrite.

A monkeypatched ``PathOps`` raises ``OSError`` at the k-th ``rename`` /
``delete`` / ``write_text`` / ``copy_tree`` call. After each crash,
``recover`` must leave the target reading as exactly its before or its
after state, and a retry must converge to the after state. The commit step itself is
swept over every k on small hand-built trees (no Spark jobs); each lake
op then takes one end-to-end crash inside its swap, and every TimeFly
move into or out of current/ (copy and pointer restore,
``create_current``, ``add_snapshot``) one at every step.
``normalize_filenames`` stays off the journal (one atomic rename per
file): a crash at every rename, then a rerun, must still converge.
"""

import datetime as dt
import json
import os
import re
import shutil

import pytest
from pyspark.sql import functions as F

from pydala_spark.dataset.maintain import compact, recluster
from pydala_spark.dataset.reader import Dataset
from pydala_spark.dataset.repartition import Repartition
from pydala_spark.dataset.timefly import TimeFly
from pydala_spark.dataset.writer import Writer
from pydala_spark.utils.pathops import PathOps

MUTATIONS = ("rename", "delete", "write_text", "copy_tree")


@pytest.fixture
def arm(monkeypatch):
    """``arm(k, kinds)``: the k-th call (1-based) to one of ``kinds``
    raises before touching anything; ``arm(None)`` disarms. Returns the
    live counter, so ``arm(0)`` counts the steps of a clean run."""
    state = {"k": None, "n": 0, "kinds": MUTATIONS}
    for name in MUTATIONS:
        def wrapped(self, *args, _name=name, _real=getattr(PathOps, name),
                    **kwargs):
            if _name in state["kinds"]:
                state["n"] += 1
                if state["n"] == state["k"]:
                    raise OSError(f"injected crash at {_name} #{state['n']}")
            return _real(self, *args, **kwargs)

        monkeypatch.setattr(PathOps, name, wrapped)

    def _arm(k, kinds=MUTATIONS):
        state.update(k=k, n=0, kinds=kinds)
        return state

    return _arm


# -- the commit step, every crash point ----------------------------------------


def _build(root, files):
    for rel, text in files.items():
        path = os.path.join(root, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            fh.write(text)


def _tree(root):
    """{relative path: content} of the visible files under ``root``."""
    out = {}
    for dirpath, dirs, files in os.walk(root):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for name in files:
            if not name.startswith(("_", ".")):
                path = os.path.join(dirpath, name)
                with open(path) as fh:
                    out[os.path.relpath(path, root)] = fh.read()
    return out


SIDECARS = {"_sidecar.json": "keep", "_signatures/minhash/p.parquet": "sig",
            "_SUCCESS": ""}

#: (target, stage, entries, after, archive-before, archive-after); the
#: archive columns are None for the default (dropped) park
SCENARIOS = {
    # compact / unify / recluster: every visible entry replaced
    "whole": (
        {"a=1/x.parquet": "old1", "a=2/y.parquet": "old2"},
        {"a=1/z.parquet": "new1", "a=3/w.parquet": "new3", "_SUCCESS": ""},
        None,
        {"a=1/z.parquet": "new1", "a=3/w.parquet": "new3"},
        None, None,
    ),
    # partitioned upsert: named nested partitions, one merged to empty
    "entries": (
        {"a=1/b=1/x.parquet": "old11", "a=1/b=2/y.parquet": "old12",
         "a=2/b=1/u.parquet": "old21"},
        {"a=1/b=1/z.parquet": "new11", "a=3/b=1/w.parquet": "new31"},
        ["a=1/b=1", "a=2/b=1", "a=3/b=1"],
        {"a=1/b=1/z.parquet": "new11", "a=1/b=2/y.parquet": "old12",
         "a=3/b=1/w.parquet": "new31"},
        None, None,
    ),
    # in-place Repartition under pointer snapshots: old files are
    # merged into an existing archive that is kept
    "archive": (
        {"a=1/x.parquet": "old1", "y.parquet": "old0"},
        {"a=1/z.parquet": "new1"},
        None,
        {"a=1/z.parquet": "new1"},
        {"a=1/v.parquet": "arch"},
        {"a=1/v.parquet": "arch", "a=1/x.parquet": "old1",
         "y.parquet": "old0"},
    ),
}


def _fixture(root, name):
    target_files, stage_files, _, _, archive_files, _ = SCENARIOS[name]
    target, stage = os.path.join(root, "ds"), os.path.join(root, "ds__stage")
    _build(target, {**target_files, **SIDECARS})
    _build(stage, stage_files)
    archive = None
    if archive_files is not None:
        archive = os.path.join(root, "snapshot", "archive")
        _build(archive, archive_files)
    return target, stage, archive


def _check(ops, root, name):
    """Recover, then the target must read as its before or after state
    with its sidecars in place; returns which one."""
    target_files, _, _, after, archive_before, archive_after = SCENARIOS[name]
    target = os.path.join(root, "ds")
    ops.recover(target)
    got = _tree(target)
    assert got in (target_files, after), got
    state = "after" if got == after else "before"
    for rel, text in SIDECARS.items():
        with open(os.path.join(target, rel)) as fh:
            assert fh.read() == text
    assert not os.path.exists(os.path.join(target, "_commit.json"))
    if archive_before is not None:
        archive = _tree(os.path.join(root, "snapshot", "archive"))
        assert archive == (archive_after if state == "after"
                           else archive_before), archive
    else:
        assert not os.path.exists(target + "__parked")
    return state


@pytest.mark.parametrize("name", sorted(SCENARIOS))
def test_commit_stage_every_crash_point(spark, tmp_path, arm, name):
    entries = SCENARIOS[name][2]
    template = str(tmp_path / "template")
    _, _, archive = _fixture(template, name)
    ops = PathOps(spark, template)

    def commit(root):
        park = archive and archive.replace(template, root)
        ops.commit_stage(os.path.join(root, "ds"),
                         os.path.join(root, "ds__stage"),
                         entries=entries, park=park)

    clean = str(tmp_path / "clean")
    shutil.copytree(template, clean)
    steps = arm(0)
    commit(clean)
    n_steps = steps["n"]
    arm(None)
    assert _check(ops, clean, name) == "after"
    assert not os.path.exists(os.path.join(clean, "ds__stage"))
    assert n_steps >= 5

    seen = set()
    for k in range(1, n_steps + 1):
        # the crash, then a crash inside the first recovery's j-th step
        # (j=0: no second crash) — replay must be idempotent either way
        for j in range(0, n_steps - k + 2):
            root = str(tmp_path / f"k{k}_j{j}")
            shutil.copytree(template, root)
            arm(k)
            with pytest.raises(OSError, match="injected crash"):
                commit(root)
            if j:
                arm(j)
                try:
                    ops.recover(os.path.join(root, "ds"))
                except OSError:
                    pass
            arm(None)
            state = _check(ops, root, name)
            seen.add(state)
            if state == "before":
                # no journal was written: the retry restages and commits
                shutil.rmtree(os.path.join(root, "ds__stage"),
                              ignore_errors=True)
                _build(os.path.join(root, "ds__stage"), SCENARIOS[name][1])
                commit(root)
                assert _check(ops, root, name) == "after"
    assert seen == {"before", "after"}


def test_commit_stage_refuses_stray_stage_data(spark, tmp_path):
    # staged data outside the named entries (a partition-name mismatch)
    # is refused before anything destructive runs, stage preserved
    root = str(tmp_path)
    _build(os.path.join(root, "ds"), {"a=1/x.parquet": "old"})
    _build(os.path.join(root, "ds__stage"),
           {"a=1/y.parquet": "new", "a=%31/z.parquet": "odd"})
    ops = PathOps(spark, root)
    with pytest.raises(RuntimeError, match="outside the entries"):
        ops.commit_stage(os.path.join(root, "ds"),
                         os.path.join(root, "ds__stage"), entries=["a=1"])
    assert _tree(os.path.join(root, "ds")) == {"a=1/x.parquet": "old"}
    assert len(_tree(os.path.join(root, "ds__stage"))) == 2


def test_commit_stage_park_as_stage_keeps_it(spark, tmp_path):
    # the pointer restore's shape: wanted files come in from the archive,
    # a trimmed file goes out even when the archive has a same-named
    # copy, and the archive's other files and the target's sidecar stay
    root = str(tmp_path)
    target, archive = os.path.join(root, "ds"), os.path.join(root, "archive")
    _build(target, {"a.parquet": "live", "keep.parquet": "k", **SIDECARS})
    _build(archive, {"a.parquet": "copy", "b.parquet": "in", "o.parquet": "o"})
    PathOps(spark, root).commit_stage(target, archive, park=archive,
                                      entries=["a.parquet", "b.parquet"])
    assert _tree(target) == {"b.parquet": "in", "keep.parquet": "k"}
    assert _tree(archive) == {"a.parquet": "live", "o.parquet": "o"}
    with open(os.path.join(target, "_sidecar.json")) as fh:
        assert fh.read() == "keep"


# -- one end-to-end crash per lake op ------------------------------------------


def _state(spark, path, **read):
    """(sorted rows, (count, xxhash64 checksum)) of the dataset."""
    df = Dataset(spark, path, **read).load()
    cols = sorted(df.columns)
    check = df.agg(
        F.count("*"),
        F.sum(F.xxhash64(*[F.col(c).cast("string") for c in cols])
              .cast("decimal(38,0)")),
    ).first()
    return sorted(map(tuple, df.select(*cols).collect())), tuple(check)


def _crash_recover_retry(spark, arm, path, op, before, after, rename_k,
                         check=lambda: None, **read):
    """Crash ``op`` at its ``rename_k``-th rename, recover, then retry;
    ``check`` runs after the recovery and after the retry."""
    arm(rename_k, ("rename",))
    with pytest.raises(OSError, match="injected crash"):
        op()
    arm(None)
    PathOps(spark, path).recover(path)
    assert _state(spark, path, **read) in (before, after)
    check()
    op()
    assert _state(spark, path, **read) == after
    check()
    leftovers = [e for e in os.listdir(os.path.dirname(path))
                 if e.startswith(os.path.basename(path) + "__")]
    assert leftovers == []


def _upsert_case(spark, tmp_path, partitioned):
    path = str(tmp_path / "ds")
    base = spark.createDataFrame(
        [(i, i % 3, "old") for i in range(12)], "id long, p long, v string")
    Writer(spark, path, partition_by=["p"] if partitioned else None).write(base)
    batch = spark.createDataFrame(
        [(1, 1, "new"), (4, 1, "new"), (12, 0, "new")],
        "id long, p long, v string")
    expect = spark.createDataFrame(
        [(i, i % 3, "new" if i in (1, 4, 12) else "old") for i in range(13)],
        "id long, p long, v string")
    expect_path = str(tmp_path / "expect")
    expect.write.parquet(expect_path)
    return path, _state(spark, path), _state(spark, expect_path), (
        lambda: Writer(spark, path).write(
            batch, mode="upsert", delta_subset=["id"]))


@pytest.mark.parametrize("partitioned", [True, False])
def test_upsert_crash_mid_swap_converges(spark, tmp_path, arm, partitioned):
    # the first rename of the swap: a delete-then-rename swap has
    # already deleted the touched partition (or every data file) there,
    # and a retry that clears the stage loses the only copy of its rows
    path, before, after, op = _upsert_case(spark, tmp_path, partitioned)
    _crash_recover_retry(spark, arm, path, op, before, after, rename_k=1)


#: (mode, partition flavor, the rename that crashes). A hive write's
#: first rename is its commit's; a directory-flavor write first renames
#: its two staged hive dirs to bare ones, so k=1 crashes before the
#: commit and k=3 inside it. The directory-flavor append runs as delta:
#: a plain append retried after its commit was finished forward would
#: land its rows twice, by design.
WRITE_CRASHES = [
    ("overwrite", "hive", 1),
    ("overwrite_partitions", "hive", 1),
    ("delta", "directory", 1),
    ("delta", "directory", 3),
    ("overwrite_partitions", "directory", 1),
    ("overwrite_partitions", "directory", 3),
]


@pytest.mark.parametrize("mode,flavor,rename_k", WRITE_CRASHES)
def test_write_crash_mid_swap_converges(spark, tmp_path, arm, mode, flavor,
                                        rename_k):
    # a delete-then-write overwrite has no old data left to recover to,
    # and the directory-flavor moves ran on the live dataset unjournaled
    schema = "id long, p long, v string"
    old = [(i, i % 3, "old") for i in range(12)]
    batch = [(1, 1, "new"), (12, 0, "new"), (13, 1, "new")]
    expect = {
        "overwrite": batch,
        "overwrite_partitions": [r for r in old if r[1] == 2] + batch,
        "delta": old + batch[1:],
    }[mode]
    read = {"partitioning": ["p"]} if flavor == "directory" else {}

    def writer(path):
        return Writer(spark, path, partition_by=["p"], partition_flavor=flavor)

    path, expect_path = str(tmp_path / "ds"), str(tmp_path / "expect")
    writer(path).write(spark.createDataFrame(old, schema))
    writer(expect_path).write(spark.createDataFrame(expect, schema))
    _crash_recover_retry(
        spark, arm, path,
        lambda: writer(path).write(spark.createDataFrame(batch, schema),
                                   mode=mode, delta_subset=["id"]),
        _state(spark, path, **read), _state(spark, expect_path, **read),
        rename_k=rename_k, **read)
    if flavor == "directory":
        assert not [e for e in os.listdir(path) if "=" in e]


def test_compact_crash_mid_swap_converges(spark, tmp_path, arm):
    # the second rename: the commit has parked the old p=0 and not yet
    # moved its compacted copy in — p=0's rows exist only in the park
    path = str(tmp_path / "ds")
    spark.range(40).withColumn("p", F.col("id") % 2).repartition(8).write \
        .partitionBy("p").parquet(path)
    rows = _state(spark, path)
    _crash_recover_retry(spark, arm, path, lambda: compact(spark, path),
                         rows, rows, rename_k=2)
    part = os.listdir(os.path.join(path, "p=0"))
    assert len([f for f in part if not f.startswith(".")]) == 1  # compacted


@pytest.mark.parametrize("rename_k", [1, 2])
def test_partial_compact_crash_at_each_rename_converges(spark, tmp_path, arm,
                                                        rename_k):
    # p=0 holds one file and stays untouched; p=1 holds four and is the
    # commit's one entry: rename 1 parks the old p=1, rename 2 moves the
    # compacted copy in. The retry finds nothing left to rewrite
    path = str(tmp_path / "ds")
    rows = spark.range(40).withColumn("p", (F.col("id") >= 10).cast("int"))
    rows.where("p = 0").coalesce(1).write.partitionBy("p").parquet(path)
    rows.where("p = 1").repartition(4).write.mode("append") \
        .partitionBy("p").parquet(path)
    untouched = sorted(os.listdir(os.path.join(path, "p=0")))
    state = _state(spark, path)
    _crash_recover_retry(spark, arm, path, lambda: compact(spark, path),
                         state, state, rename_k=rename_k)
    assert sorted(os.listdir(os.path.join(path, "p=0"))) == untouched
    part = os.listdir(os.path.join(path, "p=1"))
    assert len([f for f in part if not f.startswith(".")]) == 1


def test_partial_compact_of_pointer_current_crash_converges(spark, tmp_path,
                                                            arm):
    # a partial compact of a TimeFly current/ that a pointer manifest
    # lists parks the old p=1 in the snapshot archive: a crash at each
    # of its renames (park, then move in) recovers to a state the
    # manifest still reads, and the retry finds nothing left to rewrite
    rows = spark.range(40).withColumn("p", (F.col("id") >= 10).cast("int"))

    def pointer_current(name):
        tf = TimeFly(spark, str(tmp_path / name), snapshot_mode="pointer")
        tf.new()
        rows.where("p = 0").coalesce(1).write.partitionBy("p").parquet(
            tf.current_path)
        rows.where("p = 1").repartition(4).write.mode("append") \
            .partitionBy("p").parquet(tf.current_path)
        return tf, tf.add_snapshot()

    tf, _ = pointer_current("clean")
    steps = arm(0, ("rename",))
    compact(spark, tf.current_path)
    n_renames = steps["n"]
    arm(None)
    assert n_renames == 2
    for k in range(1, n_renames + 1):
        tf, snap = pointer_current(f"k{k}")
        state = _state(spark, tf.current_path)
        _crash_recover_retry(
            spark, arm, tf.current_path, lambda: compact(spark, tf.current_path),
            state, state, rename_k=k, check=lambda: _assert_manifests_readable(tf))
        assert sorted(map(tuple, tf.read(snap).select("id", "p").collect())) \
            == state[0]


@pytest.mark.parametrize("op", ["compact", "overwrite"])
def test_timefly_base_rewrite_crash_at_each_rename_converges(spark, tmp_path,
                                                             arm, op):
    # a rewrite given a TimeFly base commits into current/: a crash at
    # each of its renames recovers current/ to before or after, the copy
    # snapshot stays byte-identical, and the retry converges
    rows = spark.range(40).withColumn("p", (F.col("id") >= 10).cast("int"))
    batch = spark.createDataFrame([(100, 0), (101, 1)], "id long, p int")

    def copy_base(name):
        tf = TimeFly(spark, str(tmp_path / name))
        tf.new()
        rows.where("p = 0").coalesce(1).write.partitionBy("p").parquet(
            tf.current_path)
        rows.where("p = 1").repartition(4).write.mode("append") \
            .partitionBy("p").parquet(tf.current_path)
        snap = tf.snapshot_path(tf.add_snapshot())
        run = {"compact": lambda: compact(spark, tf.base_path),
               "overwrite": lambda: Writer(spark, tf.base_path).write(
                   batch, mode="overwrite")}[op]
        return tf, snap, run

    tf, _, run = copy_base("clean")
    steps = arm(0, ("rename",))
    run()
    n_renames = steps["n"]
    arm(None)
    after = _state(spark, tf.current_path)
    assert n_renames >= 2
    for k in range(1, n_renames + 1):
        tf, snap, run = copy_base(f"k{k}")
        frozen = _files(snap)

        def check():
            assert _files(snap) == frozen
            assert sorted(e for e in os.listdir(tf.base_path)
                          if not e.startswith(("_", "."))) \
                == ["current", "snapshot"]

        _crash_recover_retry(spark, arm, tf.current_path, run,
                             _state(spark, tf.current_path), after,
                             rename_k=k, check=check)


def test_recluster_crash_mid_swap_converges(spark, tmp_path, arm):
    path = str(tmp_path / "ds")
    spark.range(60).withColumn("a", F.col("id") % 7).repartition(6) \
        .write.parquet(path)
    rows = _state(spark, path)
    _crash_recover_retry(
        spark, arm, path,
        lambda: recluster(spark, path, ["id", "a"], n_files=2),
        rows, rows, rename_k=2)


def test_unify_schema_crash_mid_swap_converges(spark, tmp_path, arm):
    import pyarrow as pa
    import pyarrow.parquet as pq

    out = tmp_path / "ds"
    out.mkdir()
    pq.write_table(pa.table({"id": pa.array([1, 3], pa.int32())}),
                   out / "a.parquet")
    pq.write_table(pa.table({"id": pa.array([2], pa.int64()), "v": ["x"]}),
                   out / "b.parquet")
    path = str(out)
    before = _state(spark, path)
    _crash_recover_retry(
        spark, arm, path, lambda: Writer(spark, path).unify_schema(),
        before, before, rename_k=1)
    schemas = {str(pq.read_schema(str(f))) for f in out.glob("*.parquet")}
    assert len(schemas) == 1


def test_repartition_in_place_crash_mid_swap_converges(spark, tmp_path, arm):
    path = str(tmp_path / "ds")
    spark.range(30).withColumn("g", F.col("id") % 3).repartition(5) \
        .write.parquet(path)
    rows = _state(spark, path)
    _crash_recover_retry(
        spark, arm, path,
        lambda: Repartition(spark, path, partition_by=["g"], sort_by="id",
                            with_snapshot=False).run(),
        rows, rows, rename_k=1)
    assert sorted(e for e in os.listdir(path) if not e.startswith(("_", "."))) \
        == ["g=0", "g=1", "g=2"]


def _files(root):
    """{relative path: bytes} of every non-checksum file under ``root``."""
    out = {}
    for dirpath, _, files in os.walk(root):
        for name in files:
            if not name.endswith(".crc"):
                path = os.path.join(dirpath, name)
                with open(path, "rb") as fh:
                    out[os.path.relpath(path, root)] = fh.read()
    return out


def test_timefly_copy_restore_every_crash_point(spark, tmp_path, arm):
    # a delete-then-copy restore leaves current/ missing or partial when
    # the copy fails; the staged restore leaves it before or after, and
    # the snapshot's sidecar comes back with its data, never the stale one
    template = str(tmp_path / "template")
    spark.range(6).coalesce(1).write.parquet(template)
    sig = os.path.join("_signatures", "minhash", "s.txt")
    tf = TimeFly(spark, template)
    tf.new()
    tf.create_current()
    _build(tf.current_path, {sig: "snap"})
    snap = tf.add_snapshot()
    expected = _files(tf.snapshot_path(snap))
    Writer(spark, tf.current_path).write(spark.range(6, 9).coalesce(1))
    _build(tf.current_path, {sig: "live"})
    before = _files(tf.current_path)
    assert expected[sig] == b"snap" and before[sig] == b"live"

    clean = str(tmp_path / "clean")
    shutil.copytree(template, clean)
    steps = arm(0)
    TimeFly(spark, clean).load_snapshot(snap)
    n_steps = steps["n"]
    arm(None)
    assert _files(os.path.join(clean, "current")) == expected
    assert n_steps >= 4

    seen = set()
    for k in range(1, n_steps + 1):
        root = str(tmp_path / f"k{k}")
        shutil.copytree(template, root)
        tf = TimeFly(spark, root)
        arm(k)
        with pytest.raises(OSError, match="injected crash"):
            tf.load_snapshot(snap)
        arm(None)
        tf.ops.recover(tf.current_path)
        got = _files(tf.current_path)
        assert got in (before, expected), (k, sorted(got))
        seen.add("after" if got == expected else "before")
        tf.load_snapshot(snap)
        assert _files(tf.current_path) == expected, k
        left = sorted(e for e in os.listdir(root) if not e.endswith(".crc"))
        assert left == ["_dataset.json", "current", "snapshot"], k
    assert seen == {"before", "after"}
    assert _state(spark, tf.current_path) == _state(
        spark, tf.snapshot_path(snap))


def _data(root):
    """{relative path: bytes} of the visible data files under ``root``."""
    return {rel: data for rel, data in _files(root).items()
            if not any(seg.startswith(("_", ".")) for seg in rel.split(os.sep))}


def _assert_manifests_readable(tf):
    """Every registered pointer manifest's files sit in current/ or the
    archive, and the archive holds no sidecars its GC would never see."""
    for stamp in tf.snapshots():
        with open(tf.manifest_path(stamp)) as fh:
            files = json.load(fh)["files"]
        for rel in files:
            assert os.path.exists(os.path.join(tf.current_path, rel)) or \
                os.path.exists(os.path.join(tf.archive_path, rel)), (stamp, rel)
    assert not [e for e in os.listdir(tf.archive_path) if e.startswith("_")]


def test_timefly_pointer_restore_every_crash_point(spark, tmp_path, arm):
    # renaming the wanted files in and then the trimmed ones out leaves
    # current/ holding both sets when a rename between them fails
    template = str(tmp_path / "template")
    tf = TimeFly(spark, template, snapshot_mode="pointer")
    tf.new()

    def write(lo, hi):
        Writer(spark, tf.current_path, partition_by=["p"]).write(
            spark.range(lo, hi).withColumn("p", F.col("id") % 2).coalesce(1))

    write(0, 3)
    first = tf.add_snapshot()
    write(3, 7)
    target = tf.add_snapshot()
    tf.load_snapshot(first)  # parks the second write in the archive
    write(7, 12)
    sig = os.path.join("_signatures", "minhash", "s.txt")
    _build(tf.current_path, {sig: "live"})
    before = _data(tf.current_path)

    clean = str(tmp_path / "clean")
    shutil.copytree(template, clean)
    steps = arm(0)
    TimeFly(spark, clean, snapshot_mode="pointer").load_snapshot(target)
    n_steps = steps["n"]
    arm(None)
    expected = _data(os.path.join(clean, "current"))
    assert expected != before and n_steps >= 5

    seen = set()
    for k in range(1, n_steps + 1):
        root = str(tmp_path / f"k{k}")
        shutil.copytree(template, root)
        tf = TimeFly(spark, root, snapshot_mode="pointer")
        arm(k)
        with pytest.raises(OSError, match="injected crash"):
            tf.load_snapshot(target)
        arm(None)
        tf.ops.recover(tf.current_path)
        got = _data(tf.current_path)
        assert got in (before, expected), (k, sorted(got))
        seen.add("after" if got == expected else "before")
        _assert_manifests_readable(tf)
        tf.load_snapshot(target)
        assert _data(tf.current_path) == expected, k
        _assert_manifests_readable(tf)
        # the sidecar hashed the replaced content: it never survives
        assert not os.path.exists(os.path.join(tf.current_path, sig)), k
    assert seen == {"before", "after"}
    assert _state(spark, tf.current_path) == _state(
        spark, os.path.join(clean, "current"))
    assert tf.read(first).count() == 3 and tf.read(target).count() == 7


def _split(root):
    """(root data outside current/ and snapshot/, current/ data)."""
    inside = {}
    outside = {}
    for rel, data in _data(root).items():
        head, _, rest = rel.partition(os.sep)
        if head == "current":
            inside[rest] = data
        elif head != "snapshot":
            outside[rel] = data
    return outside, inside


def test_timefly_create_current_every_crash_point(spark, tmp_path, arm):
    # a per-file move loop strands part of the data in the root, and the
    # retry (add_snapshot) skips the migration because current/ exists
    template = str(tmp_path / "template")
    spark.range(10).withColumn("p", F.col("id") % 2).repartition(3).write \
        .partitionBy("p").parquet(template)
    TimeFly(spark, template).new()
    files, _ = _split(template)

    clean = str(tmp_path / "clean")
    shutil.copytree(template, clean)
    steps = arm(0)
    TimeFly(spark, clean).create_current()
    n_steps = steps["n"]
    arm(None)
    assert _split(clean) == ({}, files)
    assert n_steps >= len(files) + 2

    seen = set()
    for k in range(1, n_steps + 1):
        root = str(tmp_path / f"k{k}")
        shutil.copytree(template, root)
        tf = TimeFly(spark, root)
        arm(k)
        with pytest.raises(OSError, match="injected crash"):
            tf.create_current()
        arm(None)
        tf.ops.recover(tf.current_path)
        got = _split(root)
        assert got in ((files, {}), ({}, files)), (k, got)
        seen.add("after" if got == ({}, files) else "before")
        stamp = tf.add_snapshot()  # the next mutation is the retry
        assert _split(root) == ({}, files), k
        assert _data(tf.snapshot_path(stamp)) == files, k
    assert seen == {"before", "after"}
    assert tf.read().count() == 10


def test_timefly_add_snapshot_explicit_stamp_every_crash_point(
    spark, tmp_path, arm
):
    # a crash after the copy lands at snapshot/<ts> makes every retry
    # with the same stamp raise FileExistsError
    template = str(tmp_path / "template")
    spark.range(5).coalesce(1).write.parquet(template)
    tf = TimeFly(spark, template)
    tf.new()
    tf.create_current()
    expected = _data(tf.current_path)
    when = dt.datetime(2024, 1, 1)

    clean = str(tmp_path / "clean")
    shutil.copytree(template, clean)
    steps = arm(0)
    stamp = TimeFly(spark, clean).add_snapshot(when)
    n_steps = steps["n"]
    arm(None)
    assert stamp == "20240101_000000" and n_steps >= 2

    for k in range(1, n_steps + 1):
        root = str(tmp_path / f"k{k}")
        shutil.copytree(template, root)
        tf = TimeFly(spark, root)
        arm(k)
        with pytest.raises(OSError, match="injected crash"):
            tf.add_snapshot(when)
        arm(None)
        snap = tf.snapshot_path(stamp)
        assert not os.path.exists(snap) or _data(snap) == expected, k
        assert tf.add_snapshot(when) == stamp
        assert tf.snapshots() == [stamp], k
        assert _data(snap) == expected, k
        left = sorted(e for e in os.listdir(os.path.join(root, "snapshot"))
                      if not e.endswith(".crc"))
        assert left == [stamp], k
    with pytest.raises(FileExistsError):
        tf.add_snapshot(when)  # a registered stamp still refuses


def test_normalize_filenames_crash_at_every_rename_converges(
    spark, tmp_path, arm
):
    # one atomic rename per file needs no journal: after a crash every
    # file is readable under its old or new name, and a rerun with the
    # same stamp finishes the scheme without renaming onto a taken name
    from pydala_spark.dataset.maintain import normalize_filenames

    template = str(tmp_path / "template")
    spark.range(20).withColumn("p", F.col("id") % 2).repartition(3).write \
        .partitionBy("p").parquet(template)
    rows = _state(spark, template)
    payload = sorted(_data(template).values())
    stamp = "20260814_120000000"
    scheme = re.compile(rf"^data-{stamp}-\d{{6}}\.parquet$")

    clean = str(tmp_path / "clean")
    shutil.copytree(template, clean)
    steps = arm(0, ("rename",))
    normalize_filenames(spark, clean, timestamp=stamp)
    n_steps = steps["n"]
    arm(None)
    assert n_steps == len(payload) >= 3

    for k in range(1, n_steps + 1):
        root = str(tmp_path / f"k{k}")
        shutil.copytree(template, root)
        arm(k, ("rename",))
        with pytest.raises(OSError, match="injected crash"):
            normalize_filenames(spark, root, timestamp=stamp)
        arm(None)
        res = normalize_filenames(spark, root, timestamp=stamp)
        assert res == {"n_renamed": n_steps - k + 1, "n_skipped": k - 1}, k
        got = _data(root)
        assert all(scheme.match(os.path.basename(rel)) for rel in got), k
        assert sorted(got.values()) == payload, k
        assert _state(spark, root) == rows, k
