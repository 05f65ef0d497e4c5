"""Lake-global sweep + sweep-CLI tests, split out of
test_timefly_catalog.py (round 13): this half is the suite's single
heaviest block (~9 of the serial 28 min), and the file-level shard
floor in tools/partest.py was the whole file — splitting the sweep
tests into their own file lets the shards balance them separately.
Pure move, no test changed."""

import os

import pytest
from pyspark.sql import functions as F

from pydala_spark import Datalake, Dataset

def test_datalake_decontaminate_sweep(spark, tmp_path):
    # round 8: the lake-wide decontamination cron — sidecar-served,
    # marker-verified, per-dataset reports; one contaminated dataset
    # flagged, clean/odd datasets pass through with reasons
    import json

    from pyspark.sql import functions as F

    leak = ("the benchmark passage that absolutely must not appear in "
            "training corpora under any circumstances at all")
    root = str(tmp_path / "dlake")
    lake = Datalake(spark, root)
    clean = spark.createDataFrame(
        [(i, f"ordinary training document number {i} about topic {i % 3} "
             "with plenty of harmless filler words")
         for i in range(8)],
        ["doc_id", "text"],
    )
    dirty = clean.unionByName(spark.createDataFrame(
        [(99, f"prefix words then {leak} and a suffix")],
        ["doc_id", "text"],
    ))
    clean.write.parquet(os.path.join(root, "clean_ds"))
    dirty.write.parquet(os.path.join(root, "dirty_ds"))
    spark.createDataFrame([(1, 2.5)], ["k", "v"]).write.parquet(
        os.path.join(root, "metrics")
    )
    for n in ("clean_ds", "dirty_ds", "metrics"):
        lake.add_dataset(n)
    bench = spark.createDataFrame([(0, leak)], ["doc_id", "text"])

    results = lake.decontaminate({"evalset": bench})
    assert results["metrics"]["skipped"].startswith("no (doc_id")
    assert results["clean_ds"]["contaminated"] == {"evalset": 0}
    assert results["dirty_ds"]["contaminated"] == {"evalset": 1}
    assert results["clean_ds"]["sidecar"] == "materialized"
    rep = spark.read.parquet(results["dirty_ds"]["report"])
    assert [r["id"] for r in rep.collect()] == [99]
    summary = json.loads(
        (tmp_path / "dlake" / "_decontamination" / "_summary.json")
        .read_text()
    )
    assert summary["dirty_ds"]["contaminated"]["evalset"] == 1

    # second sweep REUSES the sidecars (no re-hash)
    again = lake.decontaminate({"evalset": bench})
    assert again["dirty_ds"]["sidecar"] == "reused"

    # corpus mutates -> marker mismatch -> auto re-materialize; with
    # materialize=False the same state is an error, not a silent zero
    spark.createDataFrame(
        [(100, f"a new doc slipping in {leak} after ingest")],
        ["doc_id", "text"],
    ).write.mode("append").parquet(os.path.join(root, "dirty_ds"))
    stale = lake.decontaminate({"evalset": bench}, materialize=False)
    assert "error" in stale["dirty_ds"] and "STALE" in stale["dirty_ds"]["error"]
    fresh = lake.decontaminate({"evalset": bench})
    assert fresh["dirty_ds"]["sidecar"] == "materialized"
    assert fresh["dirty_ds"]["contaminated"] == {"evalset": 2}


def test_datalake_decontaminate_embedding_mode(spark, tmp_path):
    # round 8 (late): the semantic lake-decon modality — embedding
    # benchmarks, cosine proximity, no sidecar (one-pass scan); text
    # datasets skipped, winnowing behavior untouched elsewhere
    import json

    import numpy as np

    root = str(tmp_path / "elake")
    lake = Datalake(spark, root)
    rng = np.random.default_rng(3)
    vecs = rng.normal(size=(10, 8))
    leak_vec = [float(x) for x in vecs[0]]
    corpus = [(i, [float(x) for x in vecs[i]]) for i in range(10)]
    spark.createDataFrame(
        corpus, "doc_id long, embedding array<double>"
    ).write.parquet(os.path.join(root, "embs"))
    spark.createDataFrame([(1, "text only")], ["doc_id", "text"]).write.parquet(
        os.path.join(root, "texts"))
    for n in ("embs", "texts"):
        lake.add_dataset(n)
    # benchmark holds an exact copy of corpus vector 0 (cos = 1.0)
    bench = spark.createDataFrame(
        [(0, leak_vec)], "doc_id long, embedding array<double>")

    results = lake.decontaminate({"evalset": bench}, mode="embedding",
                                 threshold=0.999)
    assert results["texts"]["skipped"].startswith("no (doc_id, embedding)")
    assert results["embs"]["contaminated"] == {"evalset": 1}
    assert "sidecar" not in results["embs"]  # honestly: nothing served
    rep = spark.read.parquet(results["embs"]["report"])
    assert [r["id"] for r in rep.collect()] == [0]
    summary = json.loads(
        (tmp_path / "elake" / "_decontamination" / "_summary.json")
        .read_text()
    )
    assert summary["embs"]["contaminated"]["evalset"] == 1

    # LSH-blocked variant agrees on the planted exact copy
    blocked = lake.decontaminate({"evalset": bench}, mode="embedding",
                                 threshold=0.999, block_bits=4, dim=8)
    assert blocked["embs"]["contaminated"] == {"evalset": 1}
    # unknown mode fails loud
    with pytest.raises(ValueError, match="mode"):
        lake.decontaminate({"evalset": bench}, mode="bogus")

    # ngram mode: exact shingle overlap over the text dataset; the
    # embeddings dataset is the one skipped now
    leak = "the quick brown fox jumps over the lazy benchmark dog"
    spark.createDataFrame(
        [(1, f"innocent words here then {leak} trailing tail"),
         (2, "nothing shared with the benchmark at all in this one")],
        ["doc_id", "text"],
    ).write.parquet(os.path.join(root, "docs"))
    lake.add_dataset("docs")
    tbench = spark.createDataFrame([(0, leak)], ["doc_id", "text"])
    ng = lake.decontaminate({"evalset": tbench}, mode="ngram", min_hits=2)
    assert ng["embs"]["skipped"].startswith("no (doc_id, text)")
    assert ng["docs"]["contaminated"] == {"evalset": 1}
    assert "sidecar" not in ng["docs"]
    rep2 = spark.read.parquet(ng["docs"]["report"])
    assert [(r["id"], r["n_hits"] >= 2) for r in rep2.collect()] == [(1, True)]


def test_datalake_decontaminate_incremental(spark, tmp_path):
    # round 8 (late): the nightly-cron economy — a dataset whose
    # verified marker matches the previous summary skips the overlap
    # join and reuses its report; mutated datasets and changed
    # benchmarks always re-sweep
    leak = "the quick brown fox jumps over the lazy benchmark dog"
    root = str(tmp_path / "inclake")
    lake = Datalake(spark, root)
    spark.createDataFrame(
        [(1, f"padding words then {leak} and a tail of filler text"),
         (2, "zebra umbrella xylophone quartz jigsaw vortex plinth")],
        ["doc_id", "text"],
    ).write.parquet(os.path.join(root, "da"))
    spark.createDataFrame(
        [(10, "gizmo parsnip okapi wombat fjord crypt glyph nymph")],
        ["doc_id", "text"],
    ).write.parquet(os.path.join(root, "db"))
    for n in ("da", "db"):
        lake.add_dataset(n)
    bench = spark.createDataFrame([(0, leak)], ["doc_id", "text"])

    first = lake.decontaminate({"evalset": bench})
    assert first["da"]["sidecar"] == "materialized"
    assert first["da"]["contaminated"] == {"evalset": 1}
    assert "marker" in first["da"] and "_benchmarks" in first

    # unchanged lake, same benchmark: every dataset skips, counts reused
    second = lake.decontaminate({"evalset": bench}, incremental=True)
    for n in ("da", "db"):
        assert second[n]["fresh"].startswith("unchanged"), second[n]
        assert second[n]["contaminated"] == first[n]["contaminated"]

    # mutate db -> only db re-sweeps (stale marker re-materializes)
    spark.createDataFrame(
        [(11, f"now db also contains {leak} hidden inside")],
        ["doc_id", "text"],
    ).write.mode("append").parquet(os.path.join(root, "db"))
    third = lake.decontaminate({"evalset": bench}, incremental=True)
    assert third["da"]["fresh"].startswith("unchanged")
    assert "fresh" not in third["db"]
    assert third["db"]["sidecar"] == "materialized"
    assert third["db"]["contaminated"] == {"evalset": 1}

    # benchmark content changed -> nothing is provably fresh
    bench2 = spark.createDataFrame([(0, leak + " extended")],
                                   ["doc_id", "text"])
    fourth = lake.decontaminate({"evalset": bench2}, incremental=True)
    assert all("fresh" not in fourth[n] for n in ("da", "db"))

    # incremental needs a marker-recording modality
    with pytest.raises(ValueError, match="winnowing-mode only"):
        lake.decontaminate({"evalset": bench}, mode="ngram",
                           incremental=True)

    # concurrent sweep: identical verdicts to the serial path (thread
    # pool only changes job submission, never the math)
    conc = lake.decontaminate({"evalset": bench2}, max_concurrency=3)
    assert {n: conc[n].get("contaminated") for n in ("da", "db")} \
        == {n: fourth[n].get("contaminated") for n in ("da", "db")}
    assert conc["_benchmarks"] == fourth["_benchmarks"]

    # fault containment holds inside the pool: a dataset whose files
    # are garbage records an error; the healthy ones still sweep
    os.makedirs(os.path.join(root, "broken"))
    lake.add_dataset("broken")  # registered empty; garbage lands after
    with open(os.path.join(root, "broken", "junk.parquet"), "w") as f:
        f.write("not parquet")
    pooled = lake.decontaminate({"evalset": bench2}, max_concurrency=3)
    assert "error" in pooled["broken"]
    assert pooled["da"]["contaminated"] == fourth["da"]["contaminated"]
    assert pooled["db"]["contaminated"] == fourth["db"]["contaminated"]


def test_datalake_semantic_dedup_incremental(spark, tmp_path):
    import numpy as np

    root = str(tmp_path / "incslake")
    lake = Datalake(spark, root)
    rng = np.random.default_rng(7)
    base = rng.normal(size=8)
    rows = [(i, [float(x) for x in base + rng.normal(scale=0.4, size=8)])
            for i in range(8)]
    rows.append((9, rows[0][1]))  # exact dup of id 0
    spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).write.parquet(os.path.join(root, "embs"))
    lake.add_dataset("embs")

    first = lake.semantic_dedup(threshold=0.999, n_centroids=2)
    assert first["embs"]["n_dropped"] >= 1 and "marker" in first["embs"]

    second = lake.semantic_dedup(threshold=0.999, n_centroids=2,
                                 incremental=True)
    assert second["embs"]["fresh"].startswith("unchanged")
    assert second["embs"]["n_dropped"] == first["embs"]["n_dropped"]

    # config moved -> full sweep (threshold is part of the verdict)
    third = lake.semantic_dedup(threshold=0.9, n_centroids=2,
                                incremental=True)
    assert "fresh" not in third["embs"]

    # vectors moved -> re-materialize, no skip
    spark.createDataFrame(
        [(20, [float(x) for x in base + 0.3])],
        "vec_id long, embedding array<double>",
    ).write.mode("append").parquet(os.path.join(root, "embs"))
    fourth = lake.semantic_dedup(threshold=0.999, n_centroids=2,
                                 incremental=True)
    assert "fresh" not in fourth["embs"]
    assert fourth["embs"]["sidecar"] == "materialized"
    assert fourth["embs"]["n_vectors"] == 10


def test_datalake_semantic_dedup_incremental_score_marker(spark, tmp_path):
    # round 9: the (id, vec) marker is blind to score VALUES — a
    # re-scored corpus with unchanged vectors must break the skip and
    # flip the keeper (same rule as neardup_dedup's score marker)
    import numpy as np

    root = str(tmp_path / "incsclake")
    lake = Datalake(spark, root)
    rng = np.random.default_rng(11)
    v = [float(x) for x in rng.normal(size=6)]
    rows_v1 = [(0, v, 0.9), (1, [x + 1e-5 for x in v], 0.1),
               (2, [float(x) for x in rng.normal(size=6) + 8], 0.5)]
    spark.createDataFrame(
        rows_v1, "vec_id long, embedding array<double>, q double"
    ).write.parquet(os.path.join(root, "embs"))
    lake.add_dataset("embs")

    kw = dict(threshold=0.999, n_centroids=2, score_col="q",
              incremental=True,
              signatures_root=str(tmp_path / "incsclake_sigs"))
    first = lake.semantic_dedup(**kw)
    assert first["embs"]["scored"] is True
    assert "score_marker" in first["embs"]
    rep = spark.read.parquet(first["embs"]["report"])
    kept1 = {r["id"] for r in rep.collect() if r["kept"]}
    assert kept1 == {0, 2}  # 0.9 beats 0.1

    second = lake.semantic_dedup(**kw)
    assert second["embs"]["fresh"].startswith("unchanged")

    # overwrite SCORES only (same ids, same vectors): the vec marker
    # AND the out-of-place cells sidecar still verify (sidecar stays
    # "reused") — the score marker ALONE must force the re-sweep, and
    # the keeper flips
    rows_v2 = [(i, vec, {0: 0.1, 1: 0.9, 2: 0.5}[i])
               for i, vec, _ in rows_v1]
    spark.createDataFrame(
        rows_v2, "vec_id long, embedding array<double>, q double"
    ).write.mode("overwrite").parquet(os.path.join(root, "embs"))
    third = lake.semantic_dedup(**kw)
    assert "fresh" not in third["embs"]
    assert third["embs"]["sidecar"] == "reused"  # vectors unchanged
    assert third["embs"]["marker"] == first["embs"]["marker"]
    assert third["embs"]["score_marker"] != first["embs"]["score_marker"]
    rep3 = spark.read.parquet(third["embs"]["report"])
    assert {r["id"] for r in rep3.collect() if r["kept"]} == {1, 2}


def test_datalake_semantic_dedup_sweep(spark, tmp_path):
    # round 8 (late): the embedding-modality lake sweep — cells-sidecar
    # served, lake-pinned codebook, marker-verified; near-dup vectors
    # dropped, text/odd datasets skipped with reasons
    import json

    import numpy as np

    root = str(tmp_path / "slake")
    lake = Datalake(spark, root)
    rng = np.random.default_rng(5)
    anchors = rng.normal(size=(3, 8))
    rows = [(i, [float(x) for x in anchors[i % 3] + rng.normal(scale=0.05, size=8)])
            for i in range(12)]
    rows.append((50, [float(x) for x in anchors[0] + 1e-4]))  # near-dup of i=0's anchor
    embs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    embs.write.parquet(os.path.join(root, "embs"))
    spark.createDataFrame([(1, "plain text only")], ["doc_id", "text"]).write.parquet(
        os.path.join(root, "texts"))
    for n in ("embs", "texts"):
        lake.add_dataset(n)

    results = lake.semantic_dedup(threshold=0.995, n_centroids=3)
    assert results["texts"]["skipped"].startswith("no (vec_id")
    assert results["embs"]["sidecar"] == "materialized"
    assert results["embs"]["n_vectors"] == 13
    assert results["embs"]["n_dropped"] >= 1
    assert results["_codebook"]["sha"]
    rep = spark.read.parquet(results["embs"]["report"])
    assert set(rep.columns) == {"id", "cell", "kept"}
    summary = json.loads(
        (tmp_path / "slake" / "_semantic_dedup" / "_summary.json").read_text()
    )
    assert summary["embs"]["n_dropped"] >= 1

    # second sweep: codebook loaded from the pinned path, sidecar reused
    again = lake.semantic_dedup(threshold=0.995, n_centroids=3)
    assert again["embs"]["sidecar"] == "reused"
    assert again["_codebook"]["sha"] == results["_codebook"]["sha"]

    # vectors mutate -> marker mismatch -> error without materialize,
    # auto re-materialize with it (the decontaminate contract)
    spark.createDataFrame(
        [(60, [float(x) for x in anchors[1] + 2e-4])],
        "vec_id long, embedding array<double>",
    ).write.mode("append").parquet(os.path.join(root, "embs"))
    stale = lake.semantic_dedup(threshold=0.995, n_centroids=3,
                                materialize=False)
    assert "error" in stale["embs"] and "STALE" in stale["embs"]["error"]
    fresh = lake.semantic_dedup(threshold=0.995, n_centroids=3)
    assert fresh["embs"]["sidecar"] == "materialized"
    assert fresh["embs"]["n_vectors"] == 14
    assert fresh["embs"]["n_dropped"] >= 2

    # thread-pooled sweep: identical verdicts (codebook already pinned)
    conc = lake.semantic_dedup(threshold=0.995, n_centroids=3,
                               max_concurrency=3)
    assert conc["embs"]["n_dropped"] == fresh["embs"]["n_dropped"]
    assert conc["_codebook"]["sha"] == fresh["_codebook"]["sha"]


def test_datalake_neardup_dedup_sweep(spark, tmp_path):
    # round 8 (late): the text-modality lake sweep — minhash-sidecar
    # served, cross-dataset LSH + connected components; the same crawl
    # doc planted in two dumps keeps its best-scored copy, verdicts say
    # WHERE the keeper lives, non-text datasets skipped with reasons
    import json

    root = str(tmp_path / "ndlake")
    lake = Datalake(spark, root)
    shared = ("the quick brown fox jumps over the lazy dog "
              "again and again in every single crawl dump")
    spark.createDataFrame(
        [(1, shared, 0.9),
         (2, "completely different unique content nothing alike here", 0.1)],
        ["doc_id", "text", "score"],
    ).write.parquet(os.path.join(root, "dump_a"))
    spark.createDataFrame(
        [(10, shared, 0.2),
         (11, "another entirely distinct document with its own words", 0.5)],
        ["doc_id", "text", "score"],
    ).write.parquet(os.path.join(root, "dump_b"))
    spark.createDataFrame(
        [(0, [0.1, 0.2])], "vec_id long, embedding array<double>"
    ).write.parquet(os.path.join(root, "embs"))
    for n in ("dump_a", "dump_b", "embs"):
        lake.add_dataset(n)

    results = lake.neardup_dedup(score_col="score")
    assert results["embs"]["skipped"].startswith("no (doc_id, text)")
    assert results["dump_a"]["sidecar"] == "materialized"
    assert results["dump_a"]["scored"] is True
    # ONE cluster: the planted copy — and it spans datasets, the number
    # only the lake-level sweep can see
    assert results["_lake"]["n_clusters"] == 1
    assert results["_lake"]["n_cross_dataset_clusters"] == 1
    # keeper is the BEST-scored member (dump_a doc 1 at 0.9)
    assert results["dump_a"]["n_dropped"] == 0
    assert results["dump_b"]["n_dropped"] == 1
    assert results["dump_b"]["n_cross_dropped"] == 1
    rep_b = spark.read.parquet(results["dump_b"]["report"])
    assert set(rep_b.columns) == {"id", "cluster", "kept",
                                  "rep_dataset", "rep_id"}
    by_id = {r["id"]: r for r in rep_b.collect()}
    assert by_id["10"]["kept"] is False
    assert (by_id["10"]["rep_dataset"], by_id["10"]["rep_id"]) == (
        "dump_a", "1")
    assert by_id["11"]["kept"] is True and by_id["11"]["cluster"] is None
    summary = json.loads(
        (tmp_path / "ndlake" / "_neardup" / "_summary.json").read_text())
    assert summary["dump_b"]["n_cross_dropped"] == 1
    assert summary["_lake"]["n_cross_dataset_clusters"] == 1

    # second sweep: signatures served from the sidecars, no re-hash
    again = lake.neardup_dedup(score_col="score")
    assert again["dump_a"]["sidecar"] == "reused"
    assert again["dump_b"]["sidecar"] == "reused"

    # text mutates -> content marker mismatch -> loud without
    # materialize, auto re-materialize with it (the sweep contract)
    spark.createDataFrame(
        [(12, shared + " with a slight tail", 0.95)],
        ["doc_id", "text", "score"],
    ).write.mode("append").parquet(os.path.join(root, "dump_b"))
    stale = lake.neardup_dedup(score_col="score", materialize=False)
    assert "error" in stale["dump_b"] and "STALE" in stale["dump_b"]["error"]
    assert stale["dump_a"]["sidecar"] == "reused"  # one bad ds, sweep lives
    fresh = lake.neardup_dedup(score_col="score")
    assert fresh["dump_b"]["sidecar"] == "materialized"
    assert fresh["dump_b"]["n_docs"] == 3

    # unscored sweep still works: smallest lake-qualified id kept
    plain = lake.neardup_dedup()
    assert plain["dump_a"]["scored"] is False
    rep_a = spark.read.parquet(plain["dump_a"]["report"])
    assert {r["id"]: r["kept"] for r in rep_a.collect()}["1"] is True

    # thread-pooled sidecar phase: identical lake verdicts
    conc = lake.neardup_dedup(max_concurrency=3)
    assert conc["_lake"] == plain["_lake"]
    assert {n: conc[n].get("n_dropped") for n in ("dump_a", "dump_b")} \
        == {n: plain[n].get("n_dropped") for n in ("dump_a", "dump_b")}

    # the zero-text-scan contract, behaviorally: REPLACE every corpus
    # text with garbage (same ids) — a sweep that hashed text would now
    # cluster nothing; with verify=False it must serve the sidecars and
    # reproduce the pre-mutation verdicts exactly
    import shutil as _sh

    from pyspark.sql import functions as F

    for dn in ("dump_a", "dump_b"):
        p = os.path.join(root, dn)
        spark.read.parquet(p).select(
            "doc_id", F.lit("x").alias("text"), "score"
        ).write.parquet(p + "_g")
        # the sidecars ride along (the compact carry-over convention);
        # only the corpus text is garbled
        os.rename(os.path.join(p, "_signatures"),
                  os.path.join(p + "_g", "_signatures"))
        _sh.rmtree(p)
        os.rename(p + "_g", p)
    blind = lake.neardup_dedup(verify=False, materialize=False)
    assert blind["_lake"] == plain["_lake"]
    assert all(blind[n]["sidecar"] == "reused"
               for n in ("dump_a", "dump_b"))

    # banding mismatch fails before any dataset pays materialization
    with pytest.raises(ValueError, match="must divide"):
        lake.neardup_dedup(n_hashes=8, n_bands=3)


def test_cli_decontaminate_smoke(spark, tmp_path, capsys):
    import json

    from pydala_spark.cli import main

    leak = ("the benchmark passage that absolutely must not appear in "
            "training corpora under any circumstances at all")
    root = str(tmp_path / "clilake")
    lake = Datalake(spark, root)
    spark.createDataFrame(
        [(1, "harmless doc one with words"),
         (2, f"contains {leak} inside")],
        ["doc_id", "text"],
    ).write.parquet(os.path.join(root, "docs"))
    lake.add_dataset("docs")
    bpath = str(tmp_path / "bench")
    spark.createDataFrame([(0, leak)], ["doc_id", "text"]).write.parquet(bpath)

    rc = main(["--master", "local[4]", "decontaminate",
               "--root", root, "--benchmark", f"evalset={bpath}"])
    out = json.loads(capsys.readouterr().out)
    assert rc == 0
    assert out["docs"]["contaminated"]["evalset"] == 1
    # --fail-on-hits flips the exit code for cron alerting
    rc2 = main(["--master", "local[4]", "decontaminate",
                "--root", root, "--benchmark", f"evalset={bpath}",
                "--fail-on-hits"])
    capsys.readouterr()
    assert rc2 == 3


def test_cli_semantic_dedup_smoke(spark, tmp_path, capsys):
    import json

    import numpy as np

    from pydala_spark.cli import main

    root = str(tmp_path / "sdlake")
    lake = Datalake(spark, root)
    rng = np.random.default_rng(11)
    base = rng.normal(size=8)
    rows = [(i, [float(x) for x in base + rng.normal(scale=0.5, size=8)])
            for i in range(6)]
    rows.append((9, rows[0][1]))  # exact duplicate vector of id 0
    spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).write.parquet(os.path.join(root, "embs"))
    lake.add_dataset("embs")

    rc = main(["--master", "local[4]", "semantic-dedup",
               "--root", root, "--threshold", "0.999",
               "--n-centroids", "2"])
    out = json.loads(capsys.readouterr().out)
    assert rc == 0
    assert out["embs"]["n_vectors"] == 7
    assert out["embs"]["n_dropped"] >= 1
    assert out["_codebook"]["path"].endswith("semantic_dedup.json")
    # --fail-on-dups flips the exit code for cron alerting
    rc2 = main(["--master", "local[4]", "semantic-dedup",
                "--root", root, "--threshold", "0.999",
                "--n-centroids", "2", "--fail-on-dups"])
    capsys.readouterr()
    assert rc2 == 3
    # missing --root is a usage error
    assert main(["--master", "local[4]", "semantic-dedup"]) == 2
    capsys.readouterr()


def test_cli_neardup_dedup_smoke(spark, tmp_path, capsys):
    import json

    from pydala_spark.cli import main

    root = str(tmp_path / "ndclake")
    lake = Datalake(spark, root)
    shared = ("shared crawl document text that appears in both dumps "
              "word for word with enough shingles to minhash")
    spark.createDataFrame(
        [(1, shared), (2, "unique words live here and nowhere else")],
        ["doc_id", "text"],
    ).write.parquet(os.path.join(root, "dump_a"))
    spark.createDataFrame(
        [(10, shared)], ["doc_id", "text"],
    ).write.parquet(os.path.join(root, "dump_b"))
    for n in ("dump_a", "dump_b"):
        lake.add_dataset(n)

    rc = main(["--master", "local[4]", "neardup-dedup", "--root", root])
    out = json.loads(capsys.readouterr().out)
    assert rc == 0
    assert out["_lake"]["n_cross_dataset_clusters"] == 1
    # smallest lake-qualified id wins unscored: dump_a keeps, dump_b drops
    assert out["dump_b"]["n_cross_dropped"] == 1
    # --fail-on-dups flips the exit code for cron alerting
    rc2 = main(["--master", "local[4]", "neardup-dedup", "--root", root,
                "--fail-on-dups"])
    capsys.readouterr()
    assert rc2 == 3
    # missing --root is a usage error
    assert main(["--master", "local[4]", "neardup-dedup"]) == 2
    capsys.readouterr()


def test_cli_cron_config_runs_all_sweeps(spark, tmp_path, capsys):
    # round 8 (late): ONE TOML = the whole lake-maintenance cron —
    # all three sweep tables execute in order against one root
    import json

    import numpy as np

    from pydala_spark.cli import main

    root = str(tmp_path / "cronlake")
    lake = Datalake(spark, root)
    leak = "the quick brown fox jumps over the lazy benchmark dog"
    spark.createDataFrame(
        [(1, f"some filler then {leak} and more filler words"),
         (2, "zebra umbrella xylophone quartz jigsaw vortex plinth")],
        ["doc_id", "text"],
    ).write.parquet(os.path.join(root, "docs"))
    rng = np.random.default_rng(3)
    rows = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(6)]
    rows.append((9, rows[0][1]))  # exact dup vector
    spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).write.parquet(os.path.join(root, "embs"))
    for n in ("docs", "embs"):
        lake.add_dataset(n)
    bench_path = str(tmp_path / "cron_bench")
    spark.createDataFrame([(0, leak)], ["doc_id", "text"]) \
        .write.parquet(bench_path)

    cfg = tmp_path / "cron.toml"
    prep_dest = str(tmp_path / "cron_prep_out")
    cfg.write_text(f"""
root = "{root}"

[maintain]
target_file_mb = 64

[prep_sweep]
dest_root = "{prep_dest}"
benchmark = "{bench_path}"
min_quality = 0
near_dup = false

[decontaminate]
benchmark = ["eval={bench_path}"]
incremental = true
max_concurrency = 2

[semantic_dedup]
threshold = 0.999
n_centroids = 2

[neardup_dedup]
max_concurrency = 2

[span_dedup_report]
min_df = 2
""")
    rc = main(["--master", "local[4]", "cron", str(cfg)])
    out = json.loads(capsys.readouterr().out)
    assert rc == 0
    assert set(out) == {"maintain", "prep_sweep", "decontaminate",
                        "semantic_dedup", "neardup_dedup",
                        "span_dedup_report"}
    assert out["span_dedup_report"]["docs"]["sidecar"] == "materialized"
    assert out["span_dedup_report"]["embs"]["skipped"].startswith("no (")
    assert "files_after" in out["maintain"]["docs"]
    # prep_sweep wrote the cleaned copy: the leaked doc is gone
    assert out["prep_sweep"]["docs"]["n_in"] == 2
    assert out["prep_sweep"]["docs"]["n_out"] == 1
    assert out["prep_sweep"]["embs"]["skipped"].startswith("no (")
    cleaned = spark.read.parquet(out["prep_sweep"]["docs"]["dest"])
    assert [r["doc_id"] for r in cleaned.collect()] == [2]
    assert out["decontaminate"]["docs"]["contaminated"] == {"eval": 1}
    assert out["semantic_dedup"]["embs"]["n_dropped"] >= 1
    assert out["neardup_dedup"]["_lake"]["n_clusters"] == 0

    # second run: incremental decontaminate reuses its verdict
    rc2 = main(["--master", "local[4]", "cron", str(cfg)])
    out2 = json.loads(capsys.readouterr().out)
    assert rc2 == 0
    assert out2["decontaminate"]["docs"]["fresh"].startswith("unchanged")

    # fail_on_hits in the section flips the exit code
    cfg.write_text(f"""
root = "{root}"

[decontaminate]
benchmark = ["eval={bench_path}"]
fail_on_hits = true
""")
    rc3 = main(["--master", "local[4]", "cron", str(cfg)])
    capsys.readouterr()
    assert rc3 == 3

    # [signatures_report] runs last as the post-sweep invariant: after
    # the sweeps re-materialized everything, nothing is stale -> rc 0
    cfg.write_text(f"""
root = "{root}"

[decontaminate]
benchmark = ["eval={bench_path}"]

[signatures_report]
verify = true
fail_on_stale = true
""")
    rc4 = main(["--master", "local[4]", "cron", str(cfg)])
    out4 = json.loads(capsys.readouterr().out)
    assert rc4 == 0
    assert out4["signatures_report"]["docs"]["sidecars"][
        "winnowing"]["fresh"] is True
    # ...and when the corpus mutates under a report-only config, the
    # stale sidecar trips the alert
    spark.createDataFrame([(9, "freshly appended words change marker")],
                          ["doc_id", "text"]).write.mode("append")         .parquet(os.path.join(root, "docs"))
    cfg.write_text(f"""
root = "{root}"

[signatures_report]
verify = true
fail_on_stale = true
""")
    rc5 = main(["--master", "local[4]", "cron", str(cfg)])
    capsys.readouterr()
    assert rc5 == 3

    # config hygiene fails loud before any Spark work
    cfg.write_text(f'root = "{root}"\n\n[decontaminate]\nbogus_key = 1\n'
                   f'benchmark = ["eval={bench_path}"]\n')
    assert main(["--master", "local[4]", "cron", str(cfg)]) == 2
    capsys.readouterr()
    cfg.write_text(f'root = "{root}"\n\n[unknown_section]\nx = 1\n')
    assert main(["--master", "local[4]", "cron", str(cfg)]) == 2
    capsys.readouterr()


def test_cli_cron_runtime_error_containment(
        spark, tmp_path, capsys, monkeypatch):
    # round 11 (ADVICE r10): only the typed ConfigError takes the
    # exit-2 config path; a genuine runtime exception mid-sweep is
    # recorded against ITS section (exit 1) and the remaining sections
    # still run
    import json

    from pydala_spark.cli import main

    root = str(tmp_path / "cronerr")
    lake = Datalake(spark, root)
    spark.createDataFrame(
        [(1, "some words here"), (2, "other words there")],
        ["doc_id", "text"],
    ).write.parquet(os.path.join(root, "docs"))
    lake.add_dataset("docs")

    # a method-level refusal (ConfigError subclass) stays the exit-2
    # config path: n_bands must divide n_hashes
    cfg = tmp_path / "cronerr.toml"
    cfg.write_text(f'root = "{root}"\n\n[neardup_dedup]\nn_bands = 3\n')
    assert main(["--master", "local[4]", "cron", str(cfg)]) == 2
    capsys.readouterr()

    # a runtime ValueError from inside the sweep must NOT masquerade
    # as a config error: per-section failure, later sections run
    from pydala_spark.catalog import Datalake as _DL

    def _boom(self, threshold=None, n_centroids=None, **kw):
        raise ValueError("numpy blew up mid-sweep")

    monkeypatch.setattr(_DL, "semantic_dedup", _boom)
    cfg.write_text(f"""
root = "{root}"

[semantic_dedup]
threshold = 0.999
n_centroids = 2

[neardup_dedup]
max_concurrency = 1
""")
    rc = main(["--master", "local[4]", "cron", str(cfg)])
    out = json.loads(capsys.readouterr().out)
    assert rc == 1
    assert out["semantic_dedup"]["error"].startswith("ValueError")
    assert "_lake" in out["neardup_dedup"]  # the later section ran


def test_datalake_span_report_partial_incremental(spark, tmp_path):
    # round 10: the third lake-global sweep gets the partial night —
    # span df is ADDITIVE over dataset-disjoint ids, so the persisted
    # per-dataset contributions + lake df table adjust by a delta, and
    # only docs whose min_df flag set moved re-group. The killer case:
    # a CHANGED dataset's new copy flips a fingerprint ON/OFF for a
    # doc in an UNCHANGED dataset, whose verdict must still move.
    import json

    boiler_l = ("This license block appears word for word in several "
                "crawl dumps of the lake tonight again and again. ")
    boiler_m = ("An injected promotional banner that search spam "
                "inserted into many pages across snapshots here too. ")

    def mk_lake(base, c_rows):
        root = str(tmp_path / base)
        lake = Datalake(spark, root)
        spark.createDataFrame(
            [(1, boiler_l + "alpha bravo charlie delta echo foxtrot"),
             (2, boiler_m + "golf hotel india juliet kilo lima mike"),
             (3, "cobalt meadows hum beneath auroral lattices quiet")],
            ["doc_id", "text"],
        ).write.parquet(os.path.join(root, "a"))
        spark.createDataFrame(
            [(10, boiler_l + "zebra umbrella xylophone quartz jigsaw")],
            ["doc_id", "text"],
        ).write.parquet(os.path.join(root, "b"))
        spark.createDataFrame(
            c_rows, ["doc_id", "text"],
        ).write.parquet(os.path.join(root, "c"))
        for n in ("a", "b", "c"):
            lake.add_dataset(n)
        return lake, root

    c0 = [(20, "rusty harbor cranes pivot over brackish tides north")]
    lake, root = mk_lake("splake1", c0)
    kw = dict(min_df=2, min_span=50, incremental=True)
    r1 = lake.span_dedup_report(**kw)
    assert r1["_sweep_mode"] == "full"
    assert r1["a"]["n_docs"] == 1 and r1["b"]["n_docs"] == 1
    assert r1["c"]["n_spans"] == 0  # boiler_m has lake df=1: no span
    summary = json.loads(
        (tmp_path / "splake1" / "_span_dedup" / "_summary.json")
        .read_text())
    assert summary["_artifacts"]
    # lifecycle reporting (round 11): the persisted partial-state
    # footprint is in the summary, and the all-fresh night carries it
    assert r1["_state"]["df_bytes"] > 0
    assert r1["_state"]["contrib_bytes"] > 0
    r2 = lake.span_dedup_report(**kw)
    assert r2["_sweep_mode"] == "fresh"
    assert r2["_state"] == r1["_state"]

    # C gains a copy of boiler_m: its df flips 1 -> 2, so doc 2 in
    # UNCHANGED dataset a must gain a span through flip propagation
    spark.createDataFrame(
        [(21, boiler_m + "velvet monsoon drums syncopate saffron")],
        ["doc_id", "text"],
    ).write.mode("append").parquet(os.path.join(root, "c"))
    r3 = lake.span_dedup_report(**kw)
    assert r3["_sweep_mode"] == "partial"
    assert r3["a"]["sidecar"] == "reused"
    assert r3["a"]["n_docs"] == 2  # doc 1 (L) carried, doc 2 (M) new
    assert r3["b"]["n_docs"] == 1
    assert r3["c"]["n_docs"] == 1
    # exact-rows oracle: a from-scratch full sweep on a twin lake
    lake2, _ = mk_lake("splake2", c0 + [
        (21, boiler_m + "velvet monsoon drums syncopate saffron")])
    rf = lake2.span_dedup_report(min_df=2, min_span=50)
    for n in ("a", "b", "c"):
        for key in ("n_spans", "n_docs", "chars_flagged"):
            assert r3[n][key] == rf[n][key], (n, key, r3[n], rf[n])
    v_part = sorted(map(tuple, spark.read.parquet(
        os.path.join(root, "_span_dedup", "_spans"))
        .select("dataset", "id", "span_start", "span_end").collect()))
    v_full = sorted(map(tuple, spark.read.parquet(
        str(tmp_path / "splake2" / "_span_dedup" / "_spans"))
        .select("dataset", "id", "span_start", "span_end").collect()))
    assert v_part == v_full

    # flip OFF: C rewritten without the banner -> df back to 1, and
    # the carried dataset a must LOSE doc 2's span again
    spark.createDataFrame(c0, ["doc_id", "text"]) \
        .write.mode("overwrite").parquet(os.path.join(root, "c"))
    r5 = lake.span_dedup_report(**kw)
    assert r5["_sweep_mode"] == "partial"
    assert r5["a"]["n_docs"] == 1 and r5["c"]["n_spans"] == 0
    assert r5["_lake"]["n_docs"] == 2  # just the L pair again

    # dataset removal: b leaves, L's df drops to 1 -> NO spans remain
    # lake-wide; the empty merge deletes the stale table
    lake.remove_dataset("b", clean=True)
    r6 = lake.span_dedup_report(**kw)
    assert "b" not in r6
    assert r6["_sweep_mode"] == "partial"
    assert r6["_lake"]["n_spans"] == 0
    assert not os.path.isdir(
        os.path.join(root, "_span_dedup", "_spans"))

    # artifact-token mismatch (a crash window) degrades to a FULL
    # rebuild, never a double-adjusted df
    spark.createDataFrame(
        [(30, boiler_l + "brand new copy joining the license club")],
        ["doc_id", "text"],
    ).write.mode("append").parquet(os.path.join(root, "c"))
    os.remove(os.path.join(root, "_span_dedup", "_df", "_token.json"))
    r7 = lake.span_dedup_report(**kw)
    assert r7["_sweep_mode"] == "full"
    assert r7["a"]["n_docs"] == 1 and r7["c"]["n_docs"] == 1  # L df=2

    # an EMPTY full sweep deletes the stale table too — a later
    # partial night's carry-over would otherwise resurrect it
    spark.createDataFrame(
        [(1, "totally rewritten words nothing shared anymore")],
        ["doc_id", "text"],
    ).write.mode("overwrite").parquet(os.path.join(root, "a"))
    spark.createDataFrame(c0, ["doc_id", "text"]) \
        .write.mode("overwrite").parquet(os.path.join(root, "c"))
    r8 = lake.span_dedup_report(**kw)
    assert r8["_sweep_mode"] == "full"  # nothing was unchanged
    assert r8["_lake"]["n_spans"] == 0
    assert not os.path.isdir(os.path.join(root, "_span_dedup",
                                          "_spans"))

    # a CHANGED dataset whose new sidecar is EMPTY (every doc shorter
    # than k+window-1) must still clear its recorded contribution —
    # a surviving stale partition would double-subtract on the NEXT
    # delta and flip real spans off in unchanged datasets
    spark.createDataFrame(
        [(1, boiler_l + "first resident copy with tail words one"),
         (2, boiler_l + "second resident copy with tail words two")],
        ["doc_id", "text"],
    ).write.mode("overwrite").parquet(os.path.join(root, "a"))
    spark.createDataFrame(
        [(20, boiler_l + "third copy living in dump c for now")],
        ["doc_id", "text"],
    ).write.mode("overwrite").parquet(os.path.join(root, "c"))
    r9 = lake.span_dedup_report(**kw)
    assert r9["_sweep_mode"] == "full"  # both changed
    assert r9["a"]["n_docs"] == 2 and r9["c"]["n_docs"] == 1  # df=3
    # c is emptied entirely (all docs deleted) -> its new sidecar has
    # ZERO rows, so dynamic overwrite would never touch its partition
    spark.createDataFrame([], "doc_id long, text string") \
        .write.mode("overwrite").parquet(os.path.join(root, "c"))
    r10 = lake.span_dedup_report(**kw)
    assert r10["_sweep_mode"] == "partial"
    assert r10["a"]["n_docs"] == 2  # df 3 -> 2, still >= min_df
    assert r10["c"]["n_spans"] == 0
    assert not os.path.isdir(os.path.join(
        root, "_span_dedup", "_contrib", "dataset=c"))
    # change c AGAIN: without the partition cleanup the stale {L: 1}
    # would subtract a second time (df 2 -> 1) and kill dataset a's
    # real spans through a phantom flip
    spark.createDataFrame([(20, "tin2 short words")],
                          ["doc_id", "text"]) \
        .write.mode("overwrite").parquet(os.path.join(root, "c"))
    r11 = lake.span_dedup_report(**kw)
    assert r11["_sweep_mode"] == "partial"
    assert r11["a"]["n_docs"] == 2, r11["a"]

    # carry-over integrity (round-11 review class, mirrors the
    # semantic sweep): a's spans partition lost out-of-band must NOT
    # silently vanish its spans on the next partial night — the
    # count-by-dataset check demotes a to CHANGED, and with nothing
    # unchanged left the sweep runs FULL and regenerates everything
    import shutil as _sh2
    _sh2.rmtree(os.path.join(root, "_span_dedup", "_spans",
                             "dataset=a"))
    spark.createDataFrame([(20, "tin3 short words")],
                          ["doc_id", "text"]) \
        .write.mode("overwrite").parquet(os.path.join(root, "c"))
    r12 = lake.span_dedup_report(**kw)
    assert r12["_sweep_mode"] == "full"  # only-unchanged a was demoted
    assert r12["a"]["n_docs"] == 2, r12["a"]  # spans regenerated
    spk = spark.read.parquet(os.path.join(
        root, "_span_dedup", "_spans"))
    assert spk.where(spk["dataset"] == "a").count() == 2

    # ...and a lost _contrib part-file (token intact) flunks the
    # _state byte check: the Δ would be silently wrong, so the night
    # must rebuild full
    import glob as _gl
    part = sorted(_gl.glob(os.path.join(
        root, "_span_dedup", "_contrib", "dataset=*", "part-*")))[0]
    os.remove(part)
    spark.createDataFrame([(20, "tin4 short words")],
                          ["doc_id", "text"]) \
        .write.mode("overwrite").parquet(os.path.join(root, "c"))
    r13 = lake.span_dedup_report(**kw)
    assert r13["_sweep_mode"] == "full"
    assert r13["a"]["n_docs"] == 2, r13["a"]

    # a spans PARTITION lost on a QUIET lake (third review find): the
    # all-fresh gate's count check must refuse "fresh" and rebuild
    r14 = lake.span_dedup_report(**kw)
    assert r14["_sweep_mode"] == "fresh"  # sanity: gate passes intact
    _sh2.rmtree(os.path.join(root, "_span_dedup", "_spans",
                             "dataset=a"))
    r15 = lake.span_dedup_report(**kw)
    assert r15["_sweep_mode"] != "fresh"
    assert r15["a"]["n_docs"] == 2, r15["a"]


def test_cli_cron_semantic_cross_incremental(spark, tmp_path, capsys):
    # round 10: the [semantic_dedup] cron section drives the
    # cross-dataset PARTIAL-incremental mode end to end — second night
    # unchanged -> fresh, all through the TOML form
    import json

    import numpy as np

    from pydala_spark.cli import main

    root = str(tmp_path / "xcronlake")
    lake = Datalake(spark, root)
    rng = np.random.default_rng(23)
    v = [float(x) for x in rng.normal(size=6)]
    spark.createDataFrame(
        [(1, v), (2, [x + 1e-5 for x in v]),
         (3, [float(x) for x in rng.normal(size=6) + 5])],
        "vec_id long, embedding array<double>",
    ).write.parquet(os.path.join(root, "e1"))
    spark.createDataFrame(
        [(10, v)], "vec_id long, embedding array<double>",
    ).write.parquet(os.path.join(root, "e2"))
    for n in ("e1", "e2"):
        lake.add_dataset(n)

    cfg = tmp_path / "xcron.toml"
    cfg.write_text(f"""
root = "{root}"

[semantic_dedup]
threshold = 0.999
n_centroids = 2
cross_dataset = true
incremental = true
partial_max_cell_fraction = 1.0
""")
    rc = main(["--master", "local[4]", "cron", str(cfg)])
    out = json.loads(capsys.readouterr().out)
    assert rc == 0
    assert out["semantic_dedup"]["_sweep_mode"] == "full"
    assert out["semantic_dedup"]["_lake"]["n_dropped"] >= 2
    rc2 = main(["--master", "local[4]", "cron", str(cfg)])
    out2 = json.loads(capsys.readouterr().out)
    assert rc2 == 0
    assert out2["semantic_dedup"]["_sweep_mode"] == "fresh"
    assert out2["semantic_dedup"]["e1"]["fresh"].startswith(
        "lake unchanged")


def test_cli_cron_ann_maintain(spark, tmp_path, capsys):
    # round 10 (VERDICT r9 #4): the ANN index joins the nightly TOML —
    # [ann_maintain] appends the unseen vectors, health-checks, and
    # (opt-in) measures recall, with the alert thresholds mapping to
    # exit code 3 like every fail_on_* section
    import json

    import numpy as np

    from pydala_spark.cli import main
    from pydala_spark.operators.ann import (
        kmeans_centroids,
        save_ivfpq_index,
        train_residual_pq,
    )

    root = str(tmp_path / "annlake")
    lake = Datalake(spark, root)
    rng = np.random.default_rng(11)
    rows = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(40)]
    full = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>")
    full.write.parquet(os.path.join(root, "embs"))
    lake.add_dataset("embs")

    seed_df = full.where(F.col("vec_id") < 30)
    cents = kmeans_centroids(seed_df, n_centroids=3, seed=5)
    anchors, books = train_residual_pq(seed_df, cents, m=2, n_codes=8,
                                       seed=5)
    idx = str(tmp_path / "ann_idx")
    save_ivfpq_index(spark, seed_df, idx, cents, books, anchors=anchors)

    cfg = tmp_path / "ann_cron.toml"
    cfg.write_text(f"""
root = "{root}"

[ann_maintain]
index_path = "{idx}"
source = "embs"
evaluate = true
n_probe_centroids = 3
n_probes = 10
rerank_top = 40
fail_recall = 0.99
""")
    rc = main(["--master", "local[4]", "cron", str(cfg)])
    out = json.loads(capsys.readouterr().out)
    # exactly the 10 unseen vectors appended; all cells probed + exact
    # re-ranking over the full pool == brute force (the round-9 pin),
    # so recall is 1.0 and the 0.99 gate holds
    assert rc == 0
    entry = out["ann_maintain"]["index"]
    assert entry["appended"] == 10
    assert entry["stats"]["n_vectors"] == 40
    assert entry["recall"]["recall_at_k"] == 1.0
    assert entry["tripped"] == []

    # idempotent nightly: nothing new -> appended 0, still green
    rc2 = main(["--master", "local[4]", "cron", str(cfg)])
    out2 = json.loads(capsys.readouterr().out)
    assert rc2 == 0 and out2["ann_maintain"]["index"]["appended"] == 0

    # an impossible recall bar trips the alert -> exit 3
    cfg.write_text(f"""
root = "{root}"

[ann_maintain]
index_path = "{idx}"
source = "embs"
evaluate = true
n_probe_centroids = 1
n_probes = 10
fail_recall = 1.01
""")
    rc3 = main(["--master", "local[4]", "cron", str(cfg)])
    out3 = json.loads(capsys.readouterr().out)
    assert rc3 == 3
    assert out3["ann_maintain"]["index"]["tripped"] == ["recall"]

    # a broken index path is CONTAINED (error entry, exit 1) — one bad
    # section result must not crash the cron
    cfg.write_text(f"""
root = "{root}"

[ann_maintain]
index_path = "{tmp_path / 'nope_idx'}"
source = "embs"
""")
    rc4 = main(["--master", "local[4]", "cron", str(cfg)])
    out4 = json.loads(capsys.readouterr().out)
    assert rc4 == 1 and "error" in out4["ann_maintain"]["index"]

    # missing required keys fail the config check before any Spark work
    cfg.write_text(f'root = "{root}"\n\n[ann_maintain]\nsource = "embs"\n')
    assert main(["--master", "local[4]", "cron", str(cfg)]) == 2
    capsys.readouterr()

    # the direct method form: a PATH source (not a lake name) works too
    res = lake.ann_maintain(idx, os.path.join(root, "embs"),
                            fail_imbalance=1e9)
    assert res["index"]["appended"] == 0
    assert res["index"]["tripped"] == []

    # an inert gate is a config bug, not a silent no-op: fail_recall
    # without evaluate would exit 0 forever while the caller believes
    # a recall gate is guarding the index
    with pytest.raises(ValueError, match="fail_recall needs evaluate"):
        lake.ann_maintain(idx, "embs", fail_recall=0.9)

    # GDPR leg: a tombstone dataset drives the removal, and the append
    # must NOT resurrect tombstoned ids still present in the source
    spark.createDataFrame([(5,), (7,)], "vec_id long") \
        .write.parquet(os.path.join(root, "tombs"))
    lake.add_dataset("tombs")
    rr = lake.ann_maintain(idx, "embs", remove_source="tombs")
    assert rr["index"]["removed"] == 2
    assert rr["index"]["appended"] == 0  # 5 and 7 stay dead
    assert rr["index"]["stats"]["n_vectors"] == 38
    # cumulative feed replays safely: nothing to remove, nothing back
    rr2 = lake.ann_maintain(idx, "embs", remove_source="tombs")
    assert rr2["index"]["removed"] == 0
    assert rr2["index"]["appended"] == 0
    assert rr2["index"]["stats"]["n_vectors"] == 38

    # the recall eval grades against the SCRUBBED source: tombstoned
    # ids the index correctly cannot return must not depress recall
    # and trip the gate spuriously (full pool + rerank == brute force
    # over the scrubbed source -> exactly 1.0)
    rr3 = lake.ann_maintain(idx, "embs", remove_source="tombs",
                            evaluate=True, n_probe_centroids=3,
                            n_probes=10, rerank_top=38,
                            fail_recall=0.99)
    assert rr3["index"]["recall"]["recall_at_k"] == 1.0
    assert rr3["index"]["tripped"] == []

    # an [ann_maintain] cron section with the inert-gate config error
    # exits 2 (the documented config path), never a traceback crash
    from pydala_spark.cli import main as _main
    cfg2 = tmp_path / "ann_cron_bad.toml"
    cfg2.write_text(f"""
root = "{root}"

[ann_maintain]
index_path = "{idx}"
source = "embs"
fail_recall = 0.9
""")
    assert _main(["--master", "local[4]", "cron", str(cfg2)]) == 2
    capsys.readouterr()


def test_datalake_signatures_report(spark, tmp_path, capsys):
    # round 8 (late): the sidecar-freshness dashboard — metadata-only
    # by default, live marker re-check with verify=True, CLI exit codes
    import json

    from pydala_spark.cli import main

    root = str(tmp_path / "sigrep")
    lake = Datalake(spark, root)
    spark.createDataFrame(
        [(1, "alpha bravo charlie delta echo foxtrot golf hotel india")],
        ["doc_id", "text"],
    ).write.parquet(os.path.join(root, "docs"))
    spark.createDataFrame([(0, 1)], ["a", "b"]).write.parquet(
        os.path.join(root, "bare"))
    for n in ("docs", "bare"):
        lake.add_dataset(n)
    lake["docs"].materialize_signatures(kinds=("winnowing", "minhash"))

    rep = lake.signatures_report()
    assert set(rep["docs"]["sidecars"]) == {"winnowing", "minhash"}
    assert rep["docs"]["sidecars"]["winnowing"]["marker"]["rows"] == 1
    assert rep["docs"]["sidecars"]["winnowing"]["params"]["k"] == 8
    assert "fresh" not in rep["docs"]["sidecars"]["winnowing"]
    assert rep["bare"]["sidecars"] == {}

    fresh = lake.signatures_report(verify=True)
    assert all(i["fresh"] for i in fresh["docs"]["sidecars"].values())

    # mutate -> verify flags BOTH sidecars stale with a reason
    spark.createDataFrame(
        [(2, "juliet kilo lima mike november oscar papa quebec")],
        ["doc_id", "text"],
    ).write.mode("append").parquet(os.path.join(root, "docs"))
    stale = lake.signatures_report(verify=True)
    for info in stale["docs"]["sidecars"].values():
        assert info["fresh"] is False
        assert "STALE" in info["stale_reason"]

    # CLI: dashboard prints, --fail-on-stale alerts
    rc = main(["--master", "local[4]", "signatures", "--root", root])
    out = json.loads(capsys.readouterr().out)
    assert rc == 0 and set(out["docs"]["sidecars"]) == {"winnowing",
                                                        "minhash"}
    rc2 = main(["--master", "local[4]", "signatures", "--root", root,
                "--verify", "--fail-on-stale"])
    capsys.readouterr()
    assert rc2 == 3
    assert main(["--master", "local[4]", "signatures"]) == 2
    capsys.readouterr()


def test_datalake_semantic_dedup_cross_dataset(spark, tmp_path):
    # round 8 (late): the embedding-modality CROSS-DATASET sweep — the
    # same vector planted in two datasets keeps exactly one copy
    # lake-wide, served from cells sidecars under the one lake codebook
    import json

    import numpy as np

    from pyspark.sql import functions as F

    root = str(tmp_path / "xslake")
    lake = Datalake(spark, root)
    rng = np.random.default_rng(13)
    anchors = rng.normal(size=(2, 8))
    a_rows = [(i, [float(x) for x in anchors[i % 2]
                   + rng.normal(scale=0.3, size=8)], 0.9 - i * 0.01)
              for i in range(6)]
    shared = a_rows[0][1]  # vector 0 of dump ea
    spark.createDataFrame(
        a_rows, "vec_id long, embedding array<double>, q double"
    ).write.parquet(os.path.join(root, "ea"))
    b_rows = [(100 + i, [float(x) for x in anchors[(i + 1) % 2]
                         + rng.normal(scale=0.3, size=8)], 0.5)
              for i in range(4)]
    b_rows.append((200, shared, 0.1))  # planted cross-dataset dup
    spark.createDataFrame(
        b_rows, "vec_id long, embedding array<double>, q double"
    ).write.parquet(os.path.join(root, "eb"))
    spark.createDataFrame([(1, "text only")], ["doc_id", "text"]) \
        .write.parquet(os.path.join(root, "texts"))
    for n in ("ea", "eb", "texts"):
        lake.add_dataset(n)

    res = lake.semantic_dedup(threshold=0.999, n_centroids=2,
                              score_col="q", cross_dataset=True)
    assert res["texts"]["skipped"].startswith("no (vec_id")
    assert res["ea"]["sidecar"] == "materialized"
    assert res["ea"]["scored"] is True
    assert res["_lake"]["n_vectors"] == 11
    assert res["_lake"]["n_dropped"] >= 1
    # the planted dup lost (lower score); its ea original survived
    rep_b = spark.read.parquet(res["eb"]["report"])
    verd = {r["id"]: r["kept"] for r in rep_b.collect()}
    assert verd["200"] is False
    rep_a = spark.read.parquet(res["ea"]["report"])
    assert {r["id"]: r["kept"] for r in rep_a.collect()}["0"] is True
    summary = json.loads(
        (tmp_path / "xslake" / "_semantic_dedup" / "_summary.json")
        .read_text())
    assert summary["_config"]["cross_dataset"] is True

    # second sweep: sidecars reused, verdicts stable; pooled identical
    again = lake.semantic_dedup(threshold=0.999, n_centroids=2,
                                score_col="q", cross_dataset=True)
    assert again["ea"]["sidecar"] == "reused"
    assert again["_lake"] == res["_lake"]
    pooled = lake.semantic_dedup(threshold=0.999, n_centroids=2,
                                 score_col="q", cross_dataset=True,
                                 max_concurrency=3)
    assert pooled["_lake"] == res["_lake"]

    # a cross summary never seeds a per-dataset incremental skip
    per_ds = lake.semantic_dedup(threshold=0.999, n_centroids=2,
                                 score_col="q", incremental=True)
    assert "fresh" not in per_ds["ea"]

    # round 10: incremental now works in cross mode (the partial unit
    # is the CELL — a verdict is a pure function of its cell's
    # membership). Chain: full (records markers) -> fresh -> partial
    # after one dataset mutates, equal to a from-scratch full sweep.
    # toy codebook: 2 cells means any change touches most of them, so
    # the measured-economy fraction guard must be waived here (and the
    # default-guard behavior gets its own pin below)
    kwx = dict(threshold=0.999, n_centroids=2, score_col="q",
               cross_dataset=True, incremental=True,
               partial_max_cell_fraction=1.0)
    inc1 = lake.semantic_dedup(**kwx)
    assert inc1["_sweep_mode"] == "full"
    assert "marker" in inc1["ea"] and "score_marker" in inc1["ea"]
    inc2 = lake.semantic_dedup(**kwx)
    assert inc2["_sweep_mode"] == "fresh"
    assert inc2["ea"]["fresh"].startswith("lake unchanged")
    assert inc2["_lake"] == res["_lake"]

    # out-of-band deletion of the verdict table: never "fresh" over a
    # missing table — falls through (partial needs it too) to a full
    # sweep that rebuilds it
    import shutil as _sh
    _sh.rmtree(os.path.join(root, "_semantic_dedup", "_verdicts"))
    inc2b = lake.semantic_dedup(**kwx)
    assert inc2b["_sweep_mode"] == "full"
    assert inc2b["_lake"] == res["_lake"]

    # mutate eb: plant ANOTHER copy of ea's shared vector with the
    # best score — the keeper must flip lake-wide, computed by the
    # partial path over touched cells only
    spark.createDataFrame(
        [(300, shared, 0.95)],
        "vec_id long, embedding array<double>, q double",
    ).write.mode("append").parquet(os.path.join(root, "eb"))
    inc3 = lake.semantic_dedup(**kwx)
    assert inc3["_sweep_mode"] == "partial"
    assert inc3["eb"]["sidecar"] == "materialized"
    assert inc3["ea"]["sidecar"] == "reused"
    # snapshot the partial verdicts BEFORE the oracle sweep rewrites
    # the table
    v_part = {
        n: sorted(map(tuple,
                      spark.read.parquet(inc3[n]["report"])
                      .select("id", "cell", "kept").collect()))
        for n in ("ea", "eb")
    }
    # the oracle: a full sweep over the same final state
    full3 = lake.semantic_dedup(threshold=0.999, n_centroids=2,
                                score_col="q", cross_dataset=True)
    assert inc3["_lake"] == full3["_lake"]
    for n in ("ea", "eb"):
        v_full = sorted(map(tuple,
                            spark.read.parquet(full3[n]["report"])
                            .select("id", "cell", "kept").collect()))
        assert v_part[n] == v_full, n
    kept3 = {r["id"]: r["kept"] for r in
             spark.read.parquet(full3["eb"]["report"]).collect()}
    assert kept3["300"] is True and kept3["200"] is False

    # removed dataset: its verdicts leave and its former cell-mates
    # recompute — still the partial path (prior cells of the removed
    # dataset come from the pruned prior verdict partitions)
    inc4 = lake.semantic_dedup(**kwx)  # re-seed incremental markers
    assert inc4["_sweep_mode"] in ("full", "fresh")
    lake.remove_dataset("eb", clean=True)
    inc5 = lake.semantic_dedup(**kwx)
    assert "eb" not in inc5
    assert inc5["_sweep_mode"] == "partial"
    # with eb (and its 0.95/0.1 copies) gone, ea's vector 0 is the
    # group's only member again — kept lake-wide
    kept5 = {r["id"]: r["kept"] for r in
             spark.read.parquet(inc5["ea"]["report"]).collect()}
    assert kept5["0"] is True
    full5 = lake.semantic_dedup(threshold=0.999, n_centroids=2,
                                score_col="q", cross_dataset=True)
    assert inc5["_lake"] == full5["_lake"]

    # single-remaining-dataset lake: when the ONLY dataset changed,
    # nothing is provably unchanged, so partial is impossible and the
    # sweep runs full (correctness never depends on partial). The
    # fraction-guard semantics themselves are pinned in
    # test_datalake_semantic_cross_partial_spanning.
    inc6 = lake.semantic_dedup(threshold=0.999, n_centroids=2,
                               score_col="q", cross_dataset=True,
                               incremental=True)  # re-seed markers
    spark.createDataFrame(
        [(301, shared, 0.5)],
        "vec_id long, embedding array<double>, q double",
    ).write.mode("append").parquet(os.path.join(root, "ea"))
    inc7 = lake.semantic_dedup(threshold=0.999, n_centroids=2,
                               score_col="q", cross_dataset=True,
                               incremental=True)
    assert inc7["_sweep_mode"] == "full"


def test_datalake_semantic_cross_partial_spanning(spark, tmp_path):
    # round 11 (VERDICT r10 #2): a changed dataset whose docs SPAN
    # every cell must still produce full-sweep-identical verdicts via
    # the doc-level delta path — including the two subtle cases:
    # (a) a previously-DROPPED doc revives when its beater is removed
    #     (the o_false full-recompute leg), and
    # (b) a previously-KEPT doc is dropped by a new changed beater
    #     (the o_true-vs-changed delta leg).
    import numpy as np

    def unit_rows(start, n, seed, score):
        rng = np.random.default_rng(seed)
        v = rng.normal(size=(n, 6))
        v /= np.linalg.norm(v, axis=1, keepdims=True)
        return [(start + i, [float(x) for x in v[i]], score)
                for i in range(n)]

    schema = "vec_id long, embedding array<double>, q double"
    ea_rows = unit_rows(0, 40, seed=1, score=0.5)
    eb1 = unit_rows(100, 40, seed=2, score=0.5)
    # night-1 beater: eb 100 shares ea 0's vector with a higher score
    eb1[0] = (100, ea_rows[0][1], 0.9)
    # DEFAULT knobs: round 11 moved partial_max_cell_fraction to 1.0
    # (off) because the doc-level partial is delta-sized even with
    # every cell touched — this test pins that the default now takes
    # the partial path on the spanning shape
    kwx = dict(threshold=0.999, n_centroids=8, score_col="q",
               vec_col="embedding", cross_dataset=True,
               incremental=True)

    root = str(tmp_path / "spanlake")
    lake = Datalake(spark, root)
    spark.createDataFrame(ea_rows, schema) \
        .write.parquet(os.path.join(root, "ea"))
    spark.createDataFrame(eb1, schema) \
        .write.parquet(os.path.join(root, "eb"))
    lake.add_dataset("ea")
    lake.add_dataset("eb")
    r1 = lake.semantic_dedup(**kwx)
    assert r1["_sweep_mode"] == "full"
    kept1 = {r["id"]: r["kept"] for r in
             spark.read.parquet(r1["ea"]["report"]).collect()}
    assert kept1["0"] is False  # dropped by eb 100

    # night 2: eb fully REWRITTEN, spanning all cells — the beater 100
    # is gone (ea 0 must revive) and a new doc 201 copies ea 1's
    # vector with a better score (ea 1 must flip to dropped)
    eb2 = unit_rows(150, 40, seed=3, score=0.5)
    eb2.append((201, ea_rows[1][1], 0.95))
    spark.createDataFrame(eb2, schema).write.mode("overwrite") \
        .parquet(os.path.join(root, "eb"))
    r2 = lake.semantic_dedup(**kwx)
    assert r2["_sweep_mode"] == "partial"
    assert r2["ea"]["sidecar"] == "reused"
    v_part = {
        n: sorted(map(tuple, spark.read.parquet(r2[n]["report"])
                      .select("id", "cell", "kept").collect()))
        for n in ("ea", "eb")
    }
    kept2 = {r[0]: r[2] for r in v_part["ea"]}
    assert kept2["0"] is True   # revived (beater removed)
    assert kept2["1"] is False  # dropped by the new 201

    # oracle: a from-scratch full sweep over the identical final state
    # on the SAME lake (pinned codebook — the inc3/full3 pattern; a
    # twin lake can train a permuted codebook)
    rf = lake.semantic_dedup(threshold=0.999, n_centroids=8,
                             score_col="q", vec_col="embedding",
                             cross_dataset=True)
    assert r2["_lake"] == rf["_lake"]
    for n in ("ea", "eb"):
        v_full = sorted(map(tuple, spark.read.parquet(rf[n]["report"])
                            .select("id", "cell", "kept").collect()))
        assert v_part[n] == v_full, n

    # an EXPLICIT low fraction still guards: every cell is touched by
    # another eb rewrite, so touched/codebook == 1 > 0.4 -> full
    r3 = lake.semantic_dedup(**kwx)  # re-seed markers
    assert r3["_sweep_mode"] in ("full", "fresh")
    eb3 = unit_rows(300, 40, seed=4, score=0.5)
    spark.createDataFrame(eb3, schema).write.mode("overwrite") \
        .parquet(os.path.join(root, "eb"))
    r4 = lake.semantic_dedup(partial_max_cell_fraction=0.4, **kwx)
    assert r4["_sweep_mode"] == "full"

    # self-healing (round-11 review find, both layers): an unchanged
    # dataset's verdict PARTITION lost out-of-band (summary + directory
    # survive) must NOT silently vanish those docs from the next
    # partial night. The adversarial shape is a SINGLE-doc delta: the
    # touched-cell self-heal (docs without a provable prior-kept row
    # take the full-verdict leg) can only cover ~1 cell, so ea's docs
    # in the other cells are protected by the carry-over integrity
    # demotion (verdict-table count-by-dataset vs the prior summary
    # demotes ea to CHANGED) — without it this shape measured ea
    # dropping 40 -> ~6 docs. A third dataset keeps the night partial
    # (something must remain provably unchanged AND intact).
    import shutil as _sh
    ec_rows = unit_rows(500, 10, seed=6, score=0.5)
    spark.createDataFrame(ec_rows, schema) \
        .write.parquet(os.path.join(root, "ec"))
    lake.add_dataset("ec")
    r_seed = lake.semantic_dedup(**kwx)  # re-seed markers incl. ec
    assert r_seed["_sweep_mode"] in ("full", "partial")
    _sh.rmtree(os.path.join(root, "_semantic_dedup", "_verdicts",
                            "dataset=ea"))
    eb4 = [(401, ea_rows[2][1], 0.99)]  # ONE doc: beater for ea doc 2
    spark.createDataFrame(eb4, schema).write.mode("overwrite") \
        .parquet(os.path.join(root, "eb"))
    r5 = lake.semantic_dedup(**kwx)
    assert r5["_sweep_mode"] == "partial"
    ea5 = spark.read.parquet(r5["ea"]["report"])
    assert ea5.count() == 40  # every ea doc re-verdicted, none vanished
    kept5 = {r["id"]: r["kept"] for r in ea5.collect()}
    assert kept5["2"] is False  # the new beater still lands
    assert spark.read.parquet(r5["ec"]["report"]).count() == 10
    full5 = lake.semantic_dedup(threshold=0.999, n_centroids=8,
                                score_col="q", vec_col="embedding",
                                cross_dataset=True)
    assert r5["_lake"] == full5["_lake"]

    # ...and when NOTHING unchanged survives the integrity check
    # (both surviving datasets' partitions lost), the sweep falls back
    # to the (correct, regenerating) full path
    _sh.rmtree(os.path.join(root, "_semantic_dedup", "_verdicts",
                            "dataset=ea"))
    _sh.rmtree(os.path.join(root, "_semantic_dedup", "_verdicts",
                            "dataset=ec"))
    spark.createDataFrame([(402, ea_rows[3][1], 0.98)], schema) \
        .write.mode("overwrite").parquet(os.path.join(root, "eb"))
    r6 = lake.semantic_dedup(**kwx)
    assert r6["_sweep_mode"] == "full"
    assert spark.read.parquet(r6["ec"]["report"]).count() == 10

    # a partition lost on a QUIET lake (third review find): the
    # all-fresh gate must not report "fresh" over the lost rows — the
    # count check falls through and the night self-heals (ea demoted,
    # recomputed; the other datasets' carry intact)
    r7 = lake.semantic_dedup(**kwx)
    assert r7["_sweep_mode"] == "fresh"  # sanity: gate passes intact
    _sh.rmtree(os.path.join(root, "_semantic_dedup", "_verdicts",
                            "dataset=ea"))
    r8 = lake.semantic_dedup(**kwx)
    assert r8["_sweep_mode"] != "fresh"
    assert spark.read.parquet(r8["ea"]["report"]).count() == 40


def test_datalake_semantic_cross_allfresh_zero_vectors(spark, tmp_path):
    # round 11 (ADVICE r10): a lake whose prior cross sweep legitimately
    # produced NO verdict table (every dataset skipped — zero vectors)
    # must still take the all-fresh path on the unchanged night, not
    # re-run prep forever because _verdicts doesn't exist
    root = str(tmp_path / "zvlake")
    lake = Datalake(spark, root)
    spark.createDataFrame(
        [(1, "text only, no embeddings here")], ["doc_id", "text"],
    ).write.parquet(os.path.join(root, "ta"))
    spark.createDataFrame(
        [(2, "another text-only dump")], ["doc_id", "text"],
    ).write.parquet(os.path.join(root, "tb"))
    for n in ("ta", "tb"):
        lake.add_dataset(n)

    kwx = dict(threshold=0.999, n_centroids=2, vec_col="embedding",
               cross_dataset=True, incremental=True)
    r1 = lake.semantic_dedup(**kwx)
    assert r1["_sweep_mode"] == "full"
    assert all(r1[n]["skipped"].startswith("no (")
               for n in ("ta", "tb"))
    assert not os.path.isdir(
        os.path.join(root, "_semantic_dedup", "_verdicts"))
    r2 = lake.semantic_dedup(**kwx)
    assert r2["_sweep_mode"] == "fresh"


def test_datalake_span_dedup_report(spark, tmp_path):
    # round 8 (late): cross-dataset boilerplate detection — a license
    # block appearing ONCE PER DUMP has per-dataset df=1 (invisible to
    # any per-dataset min_df count) but lake-wide df=3
    import json

    from pyspark.sql import functions as F

    from pydala_spark.operators.dedup import (
        duplicate_spans,
        remove_duplicate_spans,
    )

    boiler = ("This dataset is licensed under the Creative Commons "
              "Attribution ShareAlike license version four point zero. ")
    uniq = {
        "w1": "alpha bravo charlie delta echo foxtrot golf hotel india",
        "w2": "zebra umbrella xylophone quartz jigsaw vortex plinth",
        "w3": "gizmo parsnip okapi wombat fjord crypt glyph nymph",
    }
    root = str(tmp_path / "spanlake")
    lake = Datalake(spark, root)
    for i, (n, tail) in enumerate(uniq.items()):
        spark.createDataFrame(
            [(i * 10, boiler + tail),
             (i * 10 + 1, {0: "cobalt meadows hum beneath auroral "
                              "lattices while quiet finches tally seeds",
                           1: "rusty harbor cranes pivot over brackish "
                              "tides hauling crated citrus north",
                           2: "velvet monsoon drums syncopate across "
                              "tin roofs waking saffron parakeets"}[i])],
            ["doc_id", "text"],
        ).write.parquet(os.path.join(root, n))
        lake.add_dataset(n)

    # per-dataset: the boilerplate is invisible at min_df=2
    for n in uniq:
        per = duplicate_spans(
            Dataset(spark, os.path.join(root, n)).load(), "doc_id",
            min_df=2, min_span=50)
        assert per.count() == 0

    res = lake.span_dedup_report(min_df=2, min_span=50)
    assert all(res[n]["sidecar"] == "materialized" for n in uniq)
    # ...but lake-wide every dump's copy lights up
    assert res["_lake"]["n_docs"] == 3
    assert res["_lake"]["n_spans"] >= 3
    for n in uniq:
        assert res[n]["n_docs"] == 1, res[n]
        assert res[n]["chars_flagged"] >= 50
    summary = json.loads(
        (tmp_path / "spanlake" / "_span_dedup" / "_summary.json")
        .read_text())
    assert summary["_lake"]["n_docs"] == 3

    # the report composes with per-dataset surgery: cutting w1's span
    # removes the boilerplate, keeps the unique tail
    rep = spark.read.parquet(res["w1"]["report"]).select(
        F.col("id").cast("long").alias("id"),
        "span_start", "span_end")
    w1 = Dataset(spark, os.path.join(root, "w1")).load()
    cut = remove_duplicate_spans(w1, "doc_id", spans=rep)
    texts = {r["doc_id"]: r["text"] for r in cut.collect()}
    assert "Creative Commons" not in texts[0]
    assert uniq["w1"].split()[-1] in texts[0]

    # second sweep serves the sidecars; pooled verdicts identical
    again = lake.span_dedup_report(min_df=2, min_span=50,
                                   max_concurrency=3)
    assert all(again[n]["sidecar"] == "reused" for n in uniq)
    assert again["_lake"] == res["_lake"]



def test_span_lake_n_docs_sums_colliding_doc_ids(spark, tmp_path):
    # doc ids are unique within a dataset, not across the lake: two
    # datasets each holding doc 1 with the same banner flag two docs,
    # so the lake's n_docs is the sum of the per-dataset counts
    banner = ("Shared banner text that repeats verbatim across both "
              "crawl dumps and must be flagged as duplicated content. ")
    root = str(tmp_path / "collide")
    lake = Datalake(spark, root)
    for n, tail in (("a", "alpha bravo charlie delta echo foxtrot"),
                    ("b", "zebra umbrella xylophone quartz jigsaw")):
        spark.createDataFrame([(1, banner + tail)], ["doc_id", "text"]) \
            .write.parquet(os.path.join(root, n))
        lake.add_dataset(n)
    res = lake.span_dedup_report(min_df=2, min_span=50)
    assert res["a"]["n_docs"] == 1 and res["b"]["n_docs"] == 1
    assert res["_lake"]["n_docs"] == 2
    assert res["_lake"]["n_spans"] == res["a"]["n_spans"] + res["b"]["n_spans"]
