"""corpus_prep: the operator layer's CPU-bound path.

Setup places the generator's corpus and embeddings in the lake and
runs ``WARMUP_PASSES`` warm-up ops (the first passes compile and JIT far
more than the later ones, so they belong in set-up). Closed loop, one client: an op is
one ``prep_documents(near_dup=True, benchmark=...)`` pass to completion
(collecting the kept ids) followed by a batch of ``cosine_topk`` probes
over the embeddings.

Checks per op: every injected exact duplicate and every contaminated
document is dropped, the kept-id set equals the first pass's, and the
top-k result matches numpy brute force.

The traced run additionally runs each pipeline stage alone to a count
after the window (exact dedup, MinHash, LSH candidate pairs,
decontamination, quality stats) and records the LSH candidate-pair
count and its precision against the injected near-duplicate pairs.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen
from run import dir_bytes
from spans import Phases

TOPK = 10
SIM_TOL = 1e-9
#: the first pass takes ~3x a warm one
WARMUP_PASSES = 1
MIN_PASSES = 2


def brute_topk(corpus: np.ndarray, ids: np.ndarray, probes: np.ndarray,
               probe_ids: np.ndarray) -> dict[int, list[tuple[int, float]]]:
    c = corpus.astype(np.float64)
    p = probes.astype(np.float64)
    sims = (p @ c.T) / np.outer(np.linalg.norm(p, axis=1), np.linalg.norm(c, axis=1))
    out = {}
    for row, pid in enumerate(probe_ids.tolist()):
        order = np.lexsort((ids, -sims[row]))[:TOPK]
        out[pid] = [(int(ids[j]), float(sims[row, j])) for j in order]
    return out


def topk_errors(got_rows, want: dict) -> list[str]:
    got: dict[int, list[tuple[int, float]]] = {}
    for r in sorted(got_rows, key=lambda r: (r["probe_id"], r["rnk"])):
        got.setdefault(r["probe_id"], []).append((r["neighbor_id"], r["sim"]))
    errs = []
    for pid, exp in want.items():
        have = got.get(pid, [])
        if len(have) != len(exp):
            errs.append(f"probe {pid}: {len(have)} neighbours != {len(exp)}")
            continue
        for (gi, gs), (wi, ws) in zip(have, exp):
            # neighbour ids may differ only where similarities tie
            if abs(gs - ws) > SIM_TOL:
                errs.append(f"probe {pid}: neighbour {gi} ({gs:.12f}) != {wi} ({ws:.12f})")
                break
    return errs


def run(ctx) -> dict:
    from pydala_spark import Dataset
    from pydala_spark.operators.pipeline import prep_documents
    from pydala_spark.operators.similarity import cosine_topk

    spark, tr = ctx.spark, ctx.tracer
    phase = Phases()
    m = gen.generate("corpus_prep", ctx.seed, ctx.inputs)
    phase("generate")
    files = m["files"]
    docs_path = os.path.join(ctx.lake, "documents")
    emb_path = os.path.join(ctx.lake, "embeddings")
    # the generator's files are placed in the lake as they are: the write
    # path is lake_ingest's to measure, and one Spark write costs seconds
    for path, src in ((docs_path, files["documents"]), (emb_path, files["embeddings"])):
        os.makedirs(path)
        shutil.copyfile(src, os.path.join(path, "part-0.parquet"))
    docs = Dataset(spark, docs_path).load()
    emb = Dataset(spark, emb_path).load()
    bench = spark.read.parquet(files["benchmark"])
    probes_all = spark.read.parquet(files["probes"])

    emb_t = pq.read_table(files["embeddings"])
    c_ids = emb_t.column("vec_id").to_numpy()
    c_vecs = np.stack(emb_t.column("embedding").to_numpy(zero_copy_only=False))
    probe_t = pq.read_table(files["probes"])
    p_ids = probe_t.column("vec_id").to_numpy()
    p_batch = probe_t.column("batch").to_numpy()
    p_vecs = np.stack(probe_t.column("embedding").to_numpy(zero_copy_only=False))
    must_drop = set(m["exact_dup_ids"]) | set(m["contaminated_ids"])
    phase("build")

    def op(batch: int):
        with tr.span("operators.pipeline.prep_documents"):
            kept = prep_documents(docs, near_dup=True, benchmark=bench)
            kept_ids = {r[0] for r in kept.select("doc_id").collect()}
        probes = probes_all.where(F.col("batch") == batch).drop("batch")
        with tr.span("operators.similarity.cosine_topk"):
            top = cosine_topk(emb, probes, k=TOPK).collect()
        return kept_ids, top

    def check(batch: int, kept_ids: set, top, reference: set | None) -> list[str]:
        errs = []
        leaked = sorted(kept_ids & must_drop)
        if leaked:
            errs.append(f"kept {len(leaked)} docs that must be dropped, e.g. {leaked[:5]}")
        if reference is not None and kept_ids != reference:
            errs.append(f"kept-id set differs from the first pass "
                        f"({len(kept_ids ^ reference)} ids)")
        sel = p_batch == batch
        errs += topk_errors(top, brute_topk(c_vecs, c_ids, p_vecs[sel], p_ids[sel]))
        return errs

    errors: list[str] = []
    attempted = failed = 0
    reference = None
    for batch in range(WARMUP_PASSES):
        kept_ids, top = op(batch)
        reference = reference or kept_ids
        attempted += 1
        errs = check(batch, kept_ids, top, reference)
        if errs:
            failed += 1
            errors.extend(errs)
    setup_end = time.perf_counter()
    phase("warmup")

    latencies: list[float] = []
    op_ids: set[str] = set()
    batch = WARMUP_PASSES
    # at least MIN_PASSES, so a slow run still reports a median, not one pass
    while ((sum(latencies) < ctx.seconds or len(latencies) < MIN_PASSES)
           and batch < gen.CORPUS_PROBE_BATCHES):
        op_id = f"pass-{batch}"
        attempted += 1
        try:
            with tr.op(op_id):
                t = time.perf_counter()
                kept_ids, top = op(batch)
                latencies.append(time.perf_counter() - t)
            op_ids.add(op_id)
            errs = check(batch, kept_ids, top, reference)
        except Exception as exc:
            errs = [f"{op_id}: {type(exc).__name__}: {exc}"[:300]]
        if errs:
            failed += 1
            errors.extend(errs)
        batch += 1

    phase("window")
    res = {
        "setup_end": setup_end,
        "latencies": latencies,
        "window_s": sum(latencies),
        "ops": len(latencies),
        "rows_offered": m["n_docs"] * len(latencies),
        "attempted": attempted,
        "failed": failed,
        "errors": errors,
        "bytes_ratio": (dir_bytes(docs_path) + dir_bytes(emb_path)) / m["once_bytes"],
        "op_ids": op_ids,
        "notes": {"passes": len(latencies), "docs": m["n_docs"],
                  "kept": len(reference), "phase_s": phase.seconds, **m["rates"]},
    }
    if tr.enabled:
        res["layers"] = stage_layers(ctx, docs, bench, m, op_ids)
    return res


def stage_layers(ctx, docs, bench, m: dict, op_ids: set[str]) -> dict:
    """Each pipeline stage alone, to a count, with prep_documents' defaults."""
    from pydala_spark.operators.dedup import (
        decontaminate,
        dedup_exact,
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from pydala_spark.operators.textstats import quality_stats

    tr = ctx.tracer
    with tr.span("operators.dedup.exact"):
        exact = dedup_exact(docs, "doc_id")
        survivors = docs.join(exact.select("doc_id"), "doc_id", "left_semi")
        survivors.count()
    with tr.span("operators.dedup.minhash"):
        sigs = minhash_signatures(survivors, "doc_id", "text", n_hashes=8).localCheckpoint()
        sigs.count()
    with tr.span("operators.dedup.lsh_pairs"):
        pairs = lsh_candidate_pairs(sigs, "doc_id", n_bands=4, max_bucket_size=1000,
                                    log_dropped=False).collect()
    with tr.span("operators.dedup.decontaminate"):
        decontaminate(docs, bench, "doc_id", "text", min_hits=2).count()
    with tr.span("operators.textstats.quality_stats"):
        quality_stats(docs).agg(F.sum("q_score")).collect()
    true_pairs = {tuple(sorted(p)) for p in m["near_dup_pairs"]}
    found = {(min(r["id_a"], r["id_b"]), max(r["id_a"], r["id_b"])) for r in pairs}

    def med(name, ops=None):
        xs = tr.durations(name, ops)
        return statistics.median(xs) if xs else 0.0

    return {
        "operators.pipeline.prep_documents_s": med("operators.pipeline.prep_documents", op_ids),
        "operators.similarity.cosine_topk_s": med("operators.similarity.cosine_topk", op_ids),
        "operators.dedup.exact_s": med("operators.dedup.exact"),
        "operators.dedup.minhash_s": med("operators.dedup.minhash"),
        "operators.dedup.lsh_pairs_s": med("operators.dedup.lsh_pairs"),
        "operators.dedup.decontaminate_s": med("operators.dedup.decontaminate"),
        "operators.textstats.quality_stats_s": med("operators.textstats.quality_stats"),
        "operators.dedup.candidate_pairs": float(len(found)),
        "operators.dedup.neardup_precision": len(found & true_pairs) / max(1, len(found)),
    }
