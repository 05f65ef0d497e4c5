"""Plan-shape regression tests: these pin the 100 TB-relevant properties
(pushdown, pruning, broadcast, codegen) so a refactor can't silently turn
a pruned broadcast plan into a full-scan shuffle plan."""

from pyspark.sql import functions as F

from pydala_spark.plans import (
    codegen_stage_count,
    has_broadcast_join,
    pushed_filters,
    read_schema_columns,
    shuffle_count,
)
from pydala_spark.queries import QUERIES


def test_q06_filter_pushdown_and_pruning(spark, sf_dir):
    df = QUERIES["q06_revenue_change"](spark, sf_dir)
    pushed = " ".join(pushed_filters(df))
    assert "l_shipdate" in pushed and "l_discount" in pushed and "l_quantity" in pushed
    (cols,) = read_schema_columns(df)
    # only the 4 needed columns reach the scan
    assert set(cols) == {"l_quantity", "l_extendedprice", "l_discount", "l_shipdate"}


def test_q03_broadcasts_dimension(spark, sf_dir):
    df = QUERIES["q03_shipping_priority"](spark, sf_dir)
    assert has_broadcast_join(df)
    pushed = " ".join(pushed_filters(df))
    assert "c_mktsegment" in pushed  # dimension filter reached its scan


def test_q01_single_shuffle(spark, sf_dir, monkeypatch):
    # round 16: q01 spreads its scan when the input is row-group-bound
    # (the sf test tables are — guide §2.5), adding one round-robin
    # exchange BELOW the aggregation. The core shape stays partial agg
    # -> one exchange -> final agg, pinned with the spread forced off;
    # auto mode on the deficient test scan must add exactly the one
    # spread exchange and nothing else.
    monkeypatch.setenv("PYDALA_SPREAD", "off")
    df = QUERIES["q01_pricing_summary"](spark, sf_dir)
    assert shuffle_count(df) == 1  # partial agg -> one exchange
    monkeypatch.delenv("PYDALA_SPREAD")  # auto mode
    assert shuffle_count(QUERIES["q01_pricing_summary"](spark, sf_dir)) == 2


def test_q_stats_summary_selective_spread(spark, sf_dir, monkeypatch):
    # round 16 second pass: only the sums branch (q01-shaped decimal
    # partial aggs) and the ppl branch (per-token bigram scoring) are
    # spread — pcts/thr/qcut ship their collect_list state through the
    # exchange whole, so spreading them measured 0.82x. Off keeps the
    # 5-exchange split shape; auto adds exactly the two spread
    # exchanges on the deficient test scans and nothing else.
    monkeypatch.setenv("PYDALA_SPREAD", "off")
    df = QUERIES["q_stats_summary"](spark, sf_dir)
    assert shuffle_count(df) == 5
    monkeypatch.delenv("PYDALA_SPREAD")  # auto mode
    assert shuffle_count(QUERIES["q_stats_summary"](spark, sf_dir)) == 7


def test_hot_paths_are_codegen(spark, sf_dir):
    for name in ("q01_pricing_summary", "q_dedup_keep_last", "q_cosine_topk"):
        assert codegen_stage_count(QUERIES[name](spark, sf_dir)) >= 2, name


def test_dataset_load_prunes_partitions(spark, tmp_path):
    from pydala_spark import Dataset, Writer

    out = str(tmp_path / "ds")
    df = spark.range(100).withColumn("part", F.col("id") % 4)
    Writer(spark, out, partition_by=["part"]).write(df)
    pruned = Dataset(spark, out).load().where("part = 2")
    files = {
        r["f"].rsplit("/", 2)[-2]
        for r in pruned.select(F.input_file_name().alias("f")).distinct().collect()
    }
    assert files == {"part=2"}


def test_bucketed_join_is_shuffle_free(spark, sf_dir):
    from pydala_spark.dataset.maintain import bucketize
    from pydala_spark.sources import load_table

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    bucketize(spark, orders, "orders_bkt", "o_orderkey", n_buckets=8,
              sort_cols="o_orderkey")
    bucketize(spark, li.select("l_orderkey", "l_quantity"), "lineitem_bkt",
              "l_orderkey", n_buckets=8, sort_cols="l_orderkey")
    try:
        joined = spark.table("lineitem_bkt").join(
            spark.table("orders_bkt"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        # co-located bucketed join: zero shuffle exchanges in the plan
        assert shuffle_count(joined) == 0
        assert joined.count() > 1000
    finally:
        spark.sql("DROP TABLE IF EXISTS orders_bkt")
        spark.sql("DROP TABLE IF EXISTS lineitem_bkt")


def test_decontaminate_broadcasts_benchmark(spark, sf_dir):
    df = QUERIES["q_decontaminate"](spark, sf_dir)
    assert has_broadcast_join(df)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the corpus side must never sort-merge against the benchmark
    assert "SortMergeJoin" not in plan


def test_shard_packing_no_global_data_window(spark, sf_dir):
    df = QUERIES["q_shard_packing"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    data_windows = [
        l for l in plan.splitlines() if "Window [" in l and "__local" in l
    ]
    assert data_windows and all("], [__bucket" in l for l in data_windows)
    # the lone single-partition exchanges feed the n_buckets offsets frame
    # and the final ORDER BY of the small shard summary — never full data
    assert plan.count("Exchange SinglePartition") <= 1


def test_dynamic_partition_overwrite(spark, tmp_path):
    from pydala_spark import Dataset, Writer

    out = str(tmp_path / "dyn")
    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b")], ["id", "part"]
    )
    Writer(spark, out, partition_by=["part"]).write(df)
    # overwrite ONLY partition 'a' with one new row
    repl = spark.createDataFrame([(9, "a")], ["id", "part"])
    Writer(spark, out, partition_by=["part"]).write(repl, mode="overwrite_partitions")
    rows = {(r["id"], r["part"]) for r in Dataset(spark, out).load().collect()}
    assert rows == {(9, "a"), (3, "b")}  # 'b' untouched, 'a' replaced


def test_repetition_stats_no_cartesian_and_pruned_scan(spark, sf_dir):
    # the Gopher repetition signals must stay an exploded-gram
    # aggregation: no cartesian/nested-loop pair blowup, and the
    # documents scan reads only the needed columns
    from pydala_spark.operators.textstats import repetition_stats
    from pydala_spark.sources import load_table

    df = repetition_stats(load_table(spark, sf_dir, "documents"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    for cols in read_schema_columns(df):
        assert set(cols) <= {"doc_id", "text"}


def test_q21_exists_family_plan(spark, sf_dir):
    # round 11 (VERDICT r10 #4): the q21-shaped correlated EXISTS /
    # NOT EXISTS self-join must execute as semi/anti hash or merge
    # joins on l_orderkey — never a nested-loop / cartesian pair
    # blowup — with the supplier/nation dims broadcast and the
    # late-line predicate's columns pruned at the scan
    df = QUERIES["q_subqueries"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    # the scalar family's 1-row broadcast mean is a legitimate
    # nested-loop (one row × customer); the q21 quantifiers must NOT
    # be — every LeftSemi/LeftAnti is a hash or merge join keyed on
    # l_orderkey, never nested-loop
    for line in plan.splitlines():
        if "NestedLoopJoin" in line or "CartesianProduct" in line:
            assert "LeftSemi" not in line and "LeftAnti" not in line, line
        if "LeftSemi" in line or "LeftAnti" in line:
            assert ("HashJoin" in line or "SortMergeJoin" in line), line
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert has_broadcast_join(df)
    pushed = " ".join(pushed_filters(df))
    assert "o_orderstatus" in pushed and "n_name" in pushed
    # round 11: the corr_min (q02-shaped) family's part filter, the
    # anti_avg (q22-shaped) family's priority filter, the not_in
    # (q16-shaped) family's brand/size + balance filters, and the
    # scalar_max (q15-shaped) family's quarter window all reach scans
    assert "p_size" in pushed and "o_orderpriority" in pushed
    assert "p_brand" in pushed and "s_acctbal" in pushed
    # round 12: the nested_in (q20-shaped) family's part-name prefix
    # and ship-window filters reach scans too
    assert "p_name" in pushed and "l_shipdate" in pushed
    # every lineitem scan reads at most its family's needed columns:
    # q21 quantifiers, corr_min per-part MIN, not_in part-supplier
    # pairs, the scalar_max quarterly revenue, the having_frac
    # (q11-shaped) value sum, or the nested_in (q20-shaped) half-sum
    for cols in read_schema_columns(df):
        if any(c.startswith("l_") for c in cols):
            assert (
                set(cols) <= {"l_orderkey", "l_suppkey", "l_shipdate"}
                or set(cols) <= {"l_partkey", "l_suppkey", "l_extendedprice"}
                or set(cols) <= {"l_suppkey", "l_shipdate",
                                 "l_extendedprice", "l_discount"}
                or set(cols) <= {"l_partkey", "l_suppkey",
                                 "l_extendedprice", "l_quantity"}
                or set(cols) <= {"l_partkey", "l_suppkey",
                                 "l_quantity", "l_shipdate"}
            ), cols
    # round 12, having_frac (q11-shaped): the global-sum scalar is the
    # re-aggregation of the per-part sums, so AQE must REUSE the
    # per-part shuffle instead of scanning the fact table twice — the
    # single-scan property the family's docstring claims. Reuse
    # materializes during adaptive execution, so assert on the
    # post-collect final plan. ADVICE r12: pin the family in ISOLATION
    # (the scalar_max family alone also produces a ReusedExchange, so
    # asserting on the whole union could pass even if having_frac
    # regressed to two fact scans). Filtering the tagged union on the
    # literal family tag constant-folds the other branches away, so the
    # isolated plan's ReusedExchange — and its single lineitem scan —
    # can only come from having_frac.
    hf = df.where(F.col("family") == "having_frac")
    hf.collect()
    # the AQE toString carries BOTH "Final Plan" and "Initial Plan"
    # sections; the single-scan property is a final-plan claim (the
    # initial plan legitimately shows two scans that AQE then reuses)
    final_plan = (
        hf._jdf.queryExecution().executedPlan().toString()
        .split("== Initial Plan ==")[0]
    )
    assert "ReusedExchange" in final_plan
    fact_scans = [
        line for line in final_plan.splitlines()
        if "Scan parquet" in line and "lineitem" in line
    ]
    assert len(fact_scans) == 1, final_plan


def test_full_outer_family_plan(spark, sf_dir):
    # the FULL OUTER family: both sides pre-aggregate BEFORE the join
    # (the outer join sees one row per nation, not per customer) and
    # the acctbal thresholds reach the scans
    df = QUERIES["q_set_operations"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FullOuter" in plan
    assert "CartesianProduct" not in plan
    pushed = " ".join(pushed_filters(df))
    assert "c_acctbal" in pushed and "s_acctbal" in pushed
    # round 11, left_count (q13-shaped) family: the LEFT OUTER join
    # keeps the exclusion predicate on the right side (pushed to the
    # orders scan — never a post-join filter that would drop the
    # zero-order customers) and runs as a hash/merge join
    assert "LeftOuter" in plan
    assert "o_orderpriority" in pushed
    for line in plan.splitlines():
        if "LeftOuter" in line and (
            "NestedLoopJoin" in line or "CartesianProduct" in line
        ):
            raise AssertionError(line)


def test_pushed_filters_handles_in_lists(spark, sf_dir):
    # r4 review: In(col, [..]) must parse as ONE filter and not swallow
    # filters after it
    from pydala_spark.sources import load_table

    li = load_table(spark, sf_dir, "lineitem")
    df = li.where(F.col("l_linenumber").isin(1, 2, 3)).where(
        F.col("l_quantity").isNotNull()
    ).select("l_orderkey")
    filters = pushed_filters(df)
    ins = [f for f in filters if f.startswith("In(")]
    assert ins and all(f.endswith(")") for f in ins), filters
    assert any(f.startswith("IsNotNull") for f in filters), filters


def test_read_schema_columns_decimal(spark, sf_dir):
    # r4 review: decimal(p,s) in ReadSchema must not shed phantom cols
    from pydala_spark.sources import load_table

    li = load_table(spark, sf_dir, "lineitem")
    df = li.select(
        "l_orderkey", F.col("l_quantity").cast("decimal(18,2)").alias("q")
    )
    cols = read_schema_columns(df)
    assert cols and all(
        c and " " not in c and ")" not in c for schema in cols for c in schema
    ), cols


def test_pq_topk_broadcasts_probes_one_shuffle(spark, sf_dir, monkeypatch):
    # r4: the PQ scan must stay a broadcast map-side job — probes (with
    # LUTs) broadcast against the corpus; the only exchange is the final
    # per-probe top-k window. Round 17: on a row-group-bound scan the
    # POST-encode codes frame (id + m small ints, 32× narrower than the
    # vectors) is spread before the scoring NLJ — auto adds exactly that
    # one round-robin exchange; off keeps the historical single-shuffle
    # shape (and a healthy production scan makes auto a no-op).
    monkeypatch.setenv("PYDALA_SPREAD", "off")
    df = QUERIES["q_pq_topk"](spark, sf_dir)
    assert has_broadcast_join(df)
    assert shuffle_count(df) == 1
    pushed = " ".join(pushed_filters(df))
    assert "LessThan(vec_id,10)" in pushed  # probe filter reached its scan
    monkeypatch.delenv("PYDALA_SPREAD")  # auto mode
    df = QUERIES["q_pq_topk"](spark, sf_dir)
    assert has_broadcast_join(df)
    assert shuffle_count(df) == 2


def test_semantic_dedup_no_cartesian(spark, sf_dir, monkeypatch):
    # r4: the in-cell pair comparison must stay an equi-join on cell —
    # never a cross join over the corpus. Round 17: both families spread
    # the corpus side of a row-group-bound scan (the Arrow matmul +
    # in-cell self-join and the decon NLJ were single-task); auto adds
    # the round-robin spread exchanges (one per lineage replay of the
    # shared emb_s frame), off keeps the historical shape.
    monkeypatch.setenv("PYDALA_SPREAD", "off")
    df = QUERIES["q_semantic_dedup"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert shuffle_count(df) <= 2
    monkeypatch.delenv("PYDALA_SPREAD")  # auto mode
    df = QUERIES["q_semantic_dedup"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert shuffle_count(df) == 5


def test_ivfpq_encode_single_python_pass(spark, sf_dir):
    # r5: the residual encoder computes cell + codes in ONE combined
    # Arrow UDF pass — the round-4 split assigner+encoder normalized and
    # matmul'd the ingest scan twice; pin the plan so a projection
    # rewrite can't silently re-duplicate the Python stage
    import numpy as np

    from pydala_spark.operators.ann import ivf_pq_encode
    from pydala_spark.queries.ext import (
        _ivf_centroids,
        _pq_res_anchors,
        _pq_res_books,
    )
    from pydala_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    idx = ivf_pq_encode(
        emb,
        np.array(_ivf_centroids(), dtype=np.float64),
        np.array(_pq_res_books(), dtype=np.float64),
        anchors=np.array(_pq_res_anchors(), dtype=np.float64),
    )
    plan = idx._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan


def test_lsh_delta_broadcast_shape(spark, sf_dir):
    # round 10: the partial-incremental LSH path's scale claim is that
    # the unchanged corpus's banded rows NEVER hash-exchange — the
    # touched-key set broadcasts against the map-side banded scan. Pin
    # the shape: the delta plan must contain broadcast joins and its
    # exchange count must not exceed the handful of delta-sized
    # shuffles (touched distinct, bucket agg, edge distinct) — a
    # removed broadcast hint would turn the touched join into a
    # SortMergeJoin and add a corpus-scale exchange here.
    from pydala_spark.operators.dedup import (
        lsh_candidate_pairs,
        lsh_candidate_pairs_delta,
        minhash_signatures,
    )
    from pydala_spark.plans import has_broadcast_join, shuffle_count
    from pydala_spark.sources import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    sigs = minhash_signatures(docs, "doc_id", "text",
                              n_hashes=8, shingle_size=3)
    prior_sigs = minhash_signatures(
        docs.where(F.col("doc_id") % 7 != 0), "doc_id", "text",
        n_hashes=8, shingle_size=3)
    prior = lsh_candidate_pairs(prior_sigs, "doc_id", n_bands=4)
    delta = lsh_candidate_pairs_delta(
        sigs, "doc_id", is_changed=(F.col("doc_id") % 7 == 0),
        prior_pairs_unchanged=prior, prior_overcap=[], n_bands=4,
    )
    assert has_broadcast_join(delta)
    plan = delta._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    # exchanges: touched-key distinct, bucket agg, and the merged-edge
    # distinct (one per union branch), plus the PRIOR frame's own
    # internal aggs — all delta- or edge-sized. The corpus-band side
    # itself contributes NO exchange (it streams through the broadcast
    # join — the SMJ assertions above are the tripwire for that); the
    # count bound catches a structural regression that adds one.
    assert shuffle_count(delta) <= shuffle_count(prior) + 5


def test_minhash_and_exact_dedup_aggs_are_hash_not_sort(spark, sf_dir):
    # round 16: min over a STRING (or struct) agg buffer is not
    # hash-aggregable, so Spark plans the whole aggregation as
    # SortAggregate — every exploded shingle row (minhash) / every doc
    # row (exact dedup) gets sorted on both sides of the exchange.
    # minhash_signatures now takes the MIN in the long domain and
    # dedup_exact recovers fp from the group key, so both must plan as
    # hash aggregation with zero SortAggregate nodes.
    from pydala_spark.operators.dedup import dedup_exact, minhash_signatures
    from pydala_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    for df in (
        minhash_signatures(docs, "doc_id", "text",
                           n_hashes=8, shingle_size=3),
        dedup_exact(docs, id_col="doc_id", text_col="text"),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "SortAggregate" not in plan, plan[:2000]
        assert "HashAggregate" in plan
