"""Unit tests for the shared sweep state-machine rules (round 11,
VERDICT r10 #5 — extracted from catalog.py; round 12, VERDICT r11 #3 —
the NightGate / summary / token scaffolding joins them; these pin the
invalidation semantics independently of any Spark session)."""

import json

from pydala_spark.sweeps import (
    NightGate,
    content_marker,
    fresh_summary,
    lake_unchanged,
    load_prior_summary,
    read_token,
    sweep_fresh_map,
    write_summary,
    write_token,
)


class FakePO:
    def __init__(self, files: dict[str, str] | None = None,
                 dirs: set[str] | None = None):
        self.files = files or {}
        self.dirs = dirs or set()

    def read_text(self, path: str) -> str:
        return self.files[path]

    def write_text(self, path: str, text: str) -> None:
        self.files[path] = text

    def is_dir(self, path: str) -> bool:
        return path in self.dirs

    def recover(self, path: str) -> None:
        pass  # no interrupted commit pending in the fake

    def delete(self, path: str) -> None:
        self.dirs.discard(path)


def test_load_prior_summary_rules():
    good = {"_config": {"k": 1}, "da": {"n_docs": 2}}
    po = FakePO({"/lake/_rep/_summary.json": json.dumps(good)})
    assert load_prior_summary(po, "/lake/_rep", {"_config": {"k": 1}}) \
        == good
    # any pinned key mismatch -> None (config moved)
    assert load_prior_summary(po, "/lake/_rep", {"_config": {"k": 2}}) \
        is None
    # extra pinned keys must ALL match
    assert load_prior_summary(
        po, "/lake/_rep",
        {"_config": {"k": 1}, "_benchmark": {"rows": 5}}) is None
    # missing/unreadable summary -> None
    assert load_prior_summary(FakePO({}), "/lake/_rep", {}) is None
    bad = FakePO({"/lake/_rep/_summary.json": "{not json"})
    assert load_prior_summary(bad, "/lake/_rep", {}) is None


def test_sweep_fresh_map_rules():
    m = {"rows": 3, "xor": 7}
    prior = {
        "ok": {"sidecar": "materialized", "marker": m, "scored": False,
               "n_docs": 3},
        "skipped_same": {"skipped": "no (text) column"},
        "skipped_diff": {"skipped": "no data files"},
        "errored": {"error": "Boom"},
        "incomplete": {"sidecar": "materialized", "marker": m,
                       "scored": False},  # no completion key
        "score_moved": {"sidecar": "materialized", "marker": m,
                        "scored": True, "score_marker": {"rows": 3,
                                                         "xor": 1},
                        "n_docs": 3},
        "_config": {"k": 1},  # private keys never enter the map
    }
    results = {
        "ok": {"sidecar": "reused", "marker": m, "scored": False},
        "skipped_same": {"skipped": "no (text) column"},
        "skipped_diff": {"skipped": "no (text) column"},
        "errored": {"sidecar": "reused", "marker": m, "scored": False},
        "incomplete": {"sidecar": "reused", "marker": m,
                       "scored": False},
        "score_moved": {"sidecar": "reused", "marker": m, "scored": True,
                        "score_marker": {"rows": 3, "xor": 2}},
        "new_ds": {"sidecar": "materialized", "marker": m,
                   "scored": False},
    }
    fm = sweep_fresh_map(results, prior, "n_docs")
    assert fm == {
        "ok": True,              # reused + marker match + completed
        "skipped_same": True,    # identical skip reasons
        "skipped_diff": False,   # skip reason moved
        "errored": False,        # prior error
        "incomplete": False,     # prior never completed global phase
        "score_moved": False,    # content same, scores moved
        "new_ds": False,         # no prior entry / materialized
    }
    # marker mismatch and materialized both break freshness
    r2 = dict(results, ok={"sidecar": "reused",
                           "marker": {"rows": 4, "xor": 7},
                           "scored": False})
    assert sweep_fresh_map(r2, prior, "n_docs")["ok"] is False
    # the completion key is sweep-specific
    assert sweep_fresh_map(
        {"ok": results["ok"]}, prior, "n_spans")["ok"] is False


def test_lake_unchanged_gate():
    prior = {"a": {}, "b": {}, "_config": {}}
    fresh_all = {"a": True, "b": True}
    assert lake_unchanged({"a": 1, "b": 2}, prior, fresh_all)
    # one stale dataset
    assert not lake_unchanged({"a": 1, "b": 2}, prior,
                              {"a": True, "b": False})
    # added dataset (prior didn't cover it)
    assert not lake_unchanged({"a": 1, "b": 2, "c": 3}, prior,
                              {"a": True, "b": True, "c": True})
    # removed dataset (prior covered more)
    assert not lake_unchanged({"a": 1}, prior, {"a": True})


def test_token_protocol_and_summary_write():
    po = FakePO()
    # missing / unreadable -> None (callers treat as mismatch)
    assert read_token(po, "/lake/_rep/_pairs") is None
    po.files["/lake/_rep/_pairs/_token.json"] = "{not json"
    assert read_token(po, "/lake/_rep/_pairs") is None
    write_token(po, "/lake/_rep/_pairs", "tok123")
    assert read_token(po, "/lake/_rep/_pairs") == "tok123"
    # the summary serialization is the canonical one load_prior_summary
    # reads back
    write_summary(po, "/lake/_rep", {"_config": {"k": 1}, "a": {"n": 2}})
    assert load_prior_summary(po, "/lake/_rep", {"_config": {"k": 1}}) \
        == {"_config": {"k": 1}, "a": {"n": 2}}


def test_content_marker_rule():
    assert content_marker({"content_rows": 3, "content_xor": -7}) \
        == {"rows": 3, "xor": -7}
    assert content_marker({"k": 8}) is None  # pre-marker sidecar


def test_fresh_summary_assembly():
    po = FakePO()
    prior = {
        "a": {"n_docs": 5, "marker": {"rows": 5, "xor": 1},
              "report": "/lake/_rep/a"},
        "_lake": {"n_clusters": 2},
        "_config": {"k": 1},
    }
    results = {"a": {"sidecar": "reused",
                     "marker": {"rows": 5, "xor": 1}}}
    out = fresh_summary(
        po, "/lake/_rep", results, prior, "verdict reused",
        {"n_clusters": 0}, {"k": 1}, {"_artifacts": "tok"})
    # tonight's sidecar facts layer OVER the carried prior entry
    assert out["a"]["n_docs"] == 5 and out["a"]["sidecar"] == "reused"
    assert out["a"]["fresh"] == "verdict reused"
    assert out["_lake"] == {"n_clusters": 2}  # prior stats, not default
    assert out["_sweep_mode"] == "fresh" and out["_artifacts"] == "tok"
    # persisted via the canonical writer
    assert json.loads(po.files["/lake/_rep/_summary.json"]) == out
    # a prior without _lake falls back to the sweep's zero default
    out2 = fresh_summary(
        po, "/lake/_rep", results,
        {k: v for k, v in prior.items() if k != "_lake"},
        "m", {"n_clusters": 0}, {"k": 1})
    assert out2["_lake"] == {"n_clusters": 0}


def test_night_gate_laziness_and_rules():
    marker = {"rows": 2, "xor": 9}
    prior = {
        "a": {"sidecar": "reused", "marker": marker, "scored": False,
              "n_docs": 2},
        "b": {"sidecar": "reused", "marker": marker, "scored": False,
              "n_docs": 3},
        "_config": {},
    }
    results = {
        "a": {"sidecar": "reused", "marker": marker, "scored": False},
        "b": {"sidecar": "materialized", "marker": marker,
              "scored": False},
    }

    class CountingPO(FakePO):
        def __init__(self, *a, **k):
            super().__init__(*a, **k)
            self.is_dir_calls = 0

        def is_dir(self, path):
            self.is_dir_calls += 1
            return super().is_dir(path)

    po = CountingPO()
    gate = NightGate(None, po, results, prior, "n_docs",
                     "/lake/_rep/_verdicts", {"a", "b"})
    assert gate.fresh_map == {"a": True, "b": False}
    assert gate.prior_counted == {"a", "b"}
    assert gate.unchanged == {"a"}
    # integrity counts are LAZY: nothing listed until intact is read
    assert po.is_dir_calls == 0
    # missing verdicts dir -> counts None -> nothing intact
    assert gate.intact == set()
    assert po.is_dir_calls == 1
    gate.intact  # cached — no second listing
    assert po.is_dir_calls == 1
    # b is stale, so all_fresh fails regardless of counts; the
    # require_counts=False escape is the zero-output carve-out
    assert not gate.all_fresh()
    assert not gate.all_fresh(require_counts=False)
    # an all-fresh lake with NO prior counts passes via the empty-set
    # equality (the neardup carve-out: every dataset skipped)
    skip = {"a": {"skipped": "no (text) columns"}}
    gate2 = NightGate(None, FakePO(), skip,
                      {"a": {"skipped": "no (text) columns"},
                       "_config": {}},
                      "n_docs", "/lake/_rep/_verdicts", set())
    assert gate2.all_fresh()
    assert gate2.unchanged == set()  # fresh but not contributing


# ---- SweepNight, its prologue / epilogue helpers, partial-ctx ----


class FakeLake:
    """The slice of a Datalake a SweepNight reads."""

    def __init__(self, names):
        self.spark = None
        self._po = FakePO()
        self.root = "/lake"
        self._names = names

    def discover(self):
        return {n: f"/lake/{n}" for n in self._names}


def test_night_guards_skip_and_error():
    from pydala_spark.sweeps import SkipSweep, SweepNight

    def one(name, base):
        if name == "skipme":
            raise SkipSweep("no (text) columns")
        if name == "boom":
            raise ValueError("x" * 600)
        return {"ok": base}, None

    lake = FakeLake(["a", "skipme", "boom"])
    out = SweepNight(lake, None, "_rep").run(one)
    assert out["a"] == {"ok": "/lake/a"}
    assert out["skipme"] == {"skipped": "no (text) columns"}
    assert out["boom"]["error"].startswith("ValueError:")
    assert len(out["boom"]["error"]) == 500  # the 500-char cut
    stored = json.loads(lake._po.files["/lake/_rep/_summary.json"])
    assert stored == out
    # no default_name: a pure report, no summary written
    lake2 = FakeLake(["a"])
    assert SweepNight(lake2).run(one) == {"a": {"ok": "/lake/a"}}
    assert lake2._po.files == {}


def test_night_pool_order_and_serial_head():
    import threading
    import time

    from pydala_spark.sweeps import SweepNight

    names = [f"d{i}" for i in range(6)]
    events: list = []
    lock = threading.Lock()
    pinned = {"by": None}

    def one(name, base):
        with lock:
            events.append(("start", name))
        # later datasets finish first under the pool
        time.sleep(0.02 * (6 - int(name[1:])))
        if pinned["by"] is None:
            pinned["by"] = name
        with lock:
            events.append(("end", name))
        return {"n": int(name[1:])}, None

    out = SweepNight(FakeLake(names), None, "_rep").run(
        one, max_concurrency=4,
        serial_while=lambda: pinned["by"] is None)
    # entries come back in discover() order, whatever finished first
    assert list(out) == names
    assert [out[n]["n"] for n in names] == list(range(6))
    # the head ran alone: d0 ended before any other dataset started
    assert events[:2] == [("start", "d0"), ("end", "d0")]
    assert pinned["by"] == "d0"
    # and the rest did overlap under the pool
    starts = [i for i, e in enumerate(events) if e[0] == "start"]
    first_end_after = min(i for i, e in enumerate(events)
                          if e[0] == "end" and i > 1)
    assert sum(1 for i in starts if i < first_end_after) > 2


class FakeCol:
    def __init__(self, name=None):
        self.name = name

    def alias(self, name):
        return FakeCol(name)


class FakeTable:
    """A written verdict table: ``{dataset: {count: value}}``."""

    def __init__(self, counts):
        self.counts = counts

    def groupBy(self, col):
        assert col == "dataset"
        return self

    def agg(self, *cols):
        self.aliases = [c.name for c in cols]
        return self

    def collect(self):
        return [{"dataset": ds, **{a: row[a] for a in self.aliases}}
                for ds, row in self.counts.items()]


class FakeFrame:
    """A verdict frame whose write only logs the target."""

    def __init__(self, log):
        self.log = log

    @property
    def write(self):
        frame = self

        class W:
            def mode(self, m):
                return self

            def partitionBy(self, c):
                return self

            def parquet(self, path):
                frame.log.append(("write", path))

        return W()


class FakeSpark:
    def __init__(self, table):
        self.table = table

        class R:
            def parquet(_self, path):
                return table

        self.read = R()


def test_night_lake_is_sum_of_dataset_counts():
    from pydala_spark.sweeps import SweepNight

    # two datasets each holding doc "1": per-dataset counts add up
    # (a whole-table distinct count would collapse the shared id)
    table = FakeTable({"da": {"n_spans": 2, "n_docs": 1},
                       "db": {"n_spans": 3, "n_docs": 1}})
    log: list = []
    lake = FakeLake(["da", "db", "dc"])
    lake.spark = FakeSpark(table)

    class Part:
        def __init__(self, names):
            self.names = names

        def unionByName(self, other):
            return Part(self.names + other.names)

    def one(name, base):
        if name == "dc":
            return {"skipped": "no rows"}, None
        return {"sidecar": "materialized"}, (Part([name]),)

    night = SweepNight(lake, None, "_rep")

    def verdicts():
        # the payloads arrive unioned in discovery order
        assert night.union[0].names == ["da", "db"]
        return FakeFrame(log), "full"

    out = night.run_global(
        one, verdicts,
        counts={"n_spans": FakeCol(), "n_docs": FakeCol()},
        target="/lake/_rep/_spans", fresh_msg="reused",
        expect={"_config": {"k": 1}}, incremental=False,
        max_concurrency=1, finish=lambda: {"_extra": 1})
    assert log == [("write", "/lake/_rep/_spans")]
    assert night.tagged == {"da", "db"}
    assert out["da"]["n_docs"] == 1 and out["db"]["n_spans"] == 3
    assert out["da"]["report"] == "/lake/_rep/_spans/dataset=da"
    assert out["_lake"] == {"n_spans": 5, "n_docs": 2}
    assert out["_sweep_mode"] == "full"
    assert out["_config"] == {"k": 1} and out["_extra"] == 1
    assert "n_docs" not in out["dc"]


def test_night_landing_nothing_removes_stale_verdict_table():
    # a non-fresh night that lands no frame must not leave the previous
    # night's verdict table behind while its summary reports zero (the
    # remove_dataset night: every remaining dataset skips)
    from pydala_spark.sweeps import SweepNight

    target = "/lake/_rep/_verdicts"
    lake = FakeLake(["da", "db"])
    lake._po.dirs.add(target)
    called: list = []

    def skip_all(name, base):
        return {"skipped": "no rows"}, None

    def verdicts():
        called.append(1)
        return None, "full"

    night = SweepNight(lake, None, "_rep")
    out = night.run_global(
        skip_all, verdicts, counts={"n_docs": FakeCol()}, target=target,
        fresh_msg="reused", expect={"_config": {}}, incremental=False,
        max_concurrency=1)
    assert called == []  # nothing contributed: no verdict phase
    assert target not in lake._po.dirs
    assert out["_lake"] == {"n_docs": 0}
    assert out["_sweep_mode"] == "full"

    # a contributing night whose verdict builder lands nothing too
    class Part:
        def unionByName(self, other):
            return self

    lake2 = FakeLake(["da"])
    lake2._po.dirs.add(target)
    SweepNight(lake2, None, "_rep").run_global(
        lambda name, base: ({"sidecar": "reused"}, (Part(),)), verdicts,
        counts={"n_docs": FakeCol()}, target=target, fresh_msg="reused",
        expect={"_config": {}}, incremental=False, max_concurrency=1)
    assert called == [1]
    assert target not in lake2._po.dirs


def test_rep_base_for_and_union_all_and_seal():
    from pydala_spark.sweeps import rep_base_for, seal_summary, union_all

    assert rep_base_for("/lake", None, "_neardup") == "/lake/_neardup"
    assert rep_base_for("/lake", "/x/rep/", "_neardup") == "/x/rep"
    assert rep_base_for("/lake", "file:///x/rep", "_neardup") == "/x/rep"
    assert union_all([]) is None
    assert union_all([None, None]) is None

    class FakeFrame:
        def __init__(self, vals):
            self.vals = vals

        def unionByName(self, other):
            return FakeFrame(self.vals + other.vals)

    got = union_all([FakeFrame([1]), None, FakeFrame([2, 3])])
    assert got.vals == [1, 2, 3]

    po = FakePO()
    results = {"da": {"n": 1}}
    out = seal_summary(po, "/rep", results, _config={"k": 1},
                       _sweep_mode="full")
    assert out is results and out["_config"] == {"k": 1}
    stored = json.loads(po.files["/rep/_summary.json"])
    assert stored["_sweep_mode"] == "full" and stored["da"] == {"n": 1}


def test_reuse_if_fresh_rules():
    from pydala_spark.sweeps import reuse_if_fresh

    marker = {"rows": 3, "xor": 7}
    prior = {"da": {"marker": marker, "n_dropped": 1, "scored": True,
                    "score_marker": {"rows": 3, "xor": 9}}}
    hit = reuse_if_fresh(prior, "da", marker, "n_dropped",
                         (("scored", True),
                          ("score_marker", {"rows": 3, "xor": 9})))
    assert hit is not None and hit["sidecar"] == "reused"
    assert "unchanged since last sweep" in hit["fresh"]
    # every leg of the rule individually refuses
    assert reuse_if_fresh(None, "da", marker, "n_dropped") is None
    assert reuse_if_fresh(prior, "db", marker, "n_dropped") is None
    assert reuse_if_fresh(prior, "da", None, "n_dropped") is None
    assert reuse_if_fresh(
        prior, "da", {"rows": 4, "xor": 7}, "n_dropped") is None
    assert reuse_if_fresh(prior, "da", marker, "absent_key") is None
    assert reuse_if_fresh(
        prior, "da", marker, "n_dropped", (("scored", False),)) is None


def test_neardup_partial_ctx_guards():
    from pydala_spark.sweeps import neardup_partial_ctx, write_token

    po = FakePO()
    write_token(po, "/rep/_pairs", "tok1")
    results = {"da": {"marker": {"rows": 5, "xor": 1}},
               "db": {"marker": {"rows": 7, "xor": 2}}}
    prior = {"_artifacts": "tok1", "_edges": 9, "_overcap": [[1, "h"]]}
    base = dict(rep_base="/rep", prior=prior, unchanged={"da"},
                tagged_names={"da", "db"}, results=results, n_bands=4)
    got = neardup_partial_ctx(po, **base)
    assert got == (["da"], [(1, "h")])
    # each guard refuses alone: no unchanged set
    assert neardup_partial_ctx(po, **{**base, "unchanged": set()}) is None
    # changed dataset's row count unknown
    bad_rows = {"da": results["da"], "db": {}}
    assert neardup_partial_ctx(
        po, **{**base, "results": bad_rows}) is None
    # delta past the 2M-key broadcast cap (rows * n_bands)
    big = {"da": results["da"],
           "db": {"marker": {"rows": 600_000, "xor": 2}}}
    assert neardup_partial_ctx(po, **{**base, "results": big}) is None
    # prior missing edge set / over-cap keys / token
    assert neardup_partial_ctx(
        po, **{**base, "prior": {**prior, "_edges": None}}) is None
    assert neardup_partial_ctx(
        po, **{**base, "prior": {**prior, "_overcap": None}}) is None
    assert neardup_partial_ctx(
        po, **{**base, "prior": {**prior, "_artifacts": None}}) is None
    # commit-token mismatch (crash window) degrades to full
    write_token(po, "/rep/_pairs", "tokX")
    assert neardup_partial_ctx(po, **base) is None
