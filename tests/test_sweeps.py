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


# ---- round-13 hoists: guard / prologue / epilogue / partial-ctx ----


def test_guard_dataset_skip_error_and_pad():
    from pydala_spark.sweeps import SkipSweep, guard_dataset

    @guard_dataset()
    def plain(name, base):
        if name == "skipme":
            raise SkipSweep("no (text) columns")
        if name == "boom":
            raise ValueError("x" * 600)
        return {"ok": name}

    assert plain("a", "/b") == {"ok": "a"}
    assert plain("skipme", "/b") == {"skipped": "no (text) columns"}
    err = plain("boom", "/b")
    assert err["error"].startswith("ValueError:")
    assert len(err["error"]) <= 500  # the 500-char truncation rule

    @guard_dataset(pad=2)
    def tupled(name, base):
        if name == "skipme":
            raise SkipSweep("reason")
        return {"ok": 1}, "payload", "more"

    assert tupled("a", "/b") == ({"ok": 1}, "payload", "more")
    assert tupled("skipme", "/b") == ({"skipped": "reason"}, None, None)


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
