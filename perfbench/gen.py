"""Seeded input generator for the benchmark workloads.

Everything the program under test receives — ingest micro-batches, the
schema-drifted read-back files, the corpus, its benchmark set, the
embeddings and the top-k probes — is made here from ``--seed`` with
numpy and written as zstd parquet. No Spark is involved, so the same seed gives
byte-identical files (``test_perfbench.py`` checks that).

The tables mirror the shapes of the repository's sf0.1 test data
(``events``, ``documents``, ``embeddings``) at a size whose whole
working set stays well under 50 MB, so every run reads from RAM and the
OS cache.

Usage: ``python3 perfbench/gen.py --workload lake_ingest --seed 1 --out DIR``
writes one workload's inputs and prints its manifest.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# -- lake_ingest ------------------------------------------------------------
INGEST_HISTORY_DAYS = 10
INGEST_HISTORY_ROWS = 10_000
INGEST_BATCH_ROWS = 2_000
INGEST_RESEND_FRAC = 0.30  # share of each delta batch that re-sends landed keys
INGEST_UPSERT_ROWS = 400
INGEST_UPSERT_EVERY = 4  # every 4th micro-batch is an upsert
INGEST_BATCHES_PER_DAY = 4
INGEST_RESEND_LOOKBACK = 4  # re-sent keys come from the last N batches
INGEST_EPOCH = dt.datetime(2024, 1, 1)
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

# -- drifted events (lake_ingest read-back) ---------------------------------
DRIFT_ROWS = 5_000  # per file; file 0 has int32 user_id, file 1 int64

# -- corpus_prep ------------------------------------------------------------
CORPUS_BASE_DOCS = 1_200
CORPUS_EXACT_DUPS = 60
CORPUS_NEAR_DUPS = 60
CORPUS_CONTAMINATED = 12
CORPUS_VOCAB = 400
CORPUS_DIM = 32
CORPUS_EMBEDDINGS = 2_000
CORPUS_PROBES = 16  # per top-k batch
CORPUS_PROBE_BATCHES = 64
STOPWORDS = ["the", "and", "of", "to", "a", "in", "is", "it", "that", "for"]


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def _write(table: pa.Table, path: str) -> int:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="zstd")
    return os.path.getsize(path)


def _events_table(ids, ts_us, users, types, values, user_type=pa.int64()) -> pa.Table:
    return pa.table(
        {
            "event_id": pa.array(ids, pa.int64()),
            "ts": pa.array(ts_us.astype("datetime64[us]"), pa.timestamp("us")),
            "user_id": pa.array(users, user_type),
            "event_type": pa.array([EVENT_TYPES[t] for t in types], pa.string()),
            "value": pa.array(values, pa.float64()),
            "props": pa.array([f'{{"k": {u % 97}}}' for u in users], pa.string()),
        }
    )


# ---------------------------------------------------------------------------
# lake_ingest


def ingest_inputs(seed: int, out_dir: str, n_batches: int) -> dict:
    """A history batch plus ``n_batches`` micro-batches in arrival order.

    Batch ``i`` (1-based) is an upsert when ``i % INGEST_UPSERT_EVERY == 0`` (changed
    ``value`` for keys landed by recent batches), else a delta batch whose
    rows are 70% new keys and 30% re-sent rows of the last few batches.
    Timestamps advance one day every ``INGEST_BATCHES_PER_DAY`` batches, so
    each delta window spans at most two daily partitions. The manifest
    carries, per batch, the expected state after it lands (key count and
    integer column sums), which the workload verifies against.
    """
    rng = _rng(seed, 1)
    n_delta = n_batches - n_batches // INGEST_UPSERT_EVERY
    cap = INGEST_HISTORY_ROWS + n_delta * INGEST_BATCH_ROWS
    # state indexed by event_id (ids are dense in landing order)
    s_ts = np.zeros(cap, np.int64)
    s_user = np.zeros(cap, np.int64)
    s_type = np.zeros(cap, np.int64)
    s_cents = np.zeros(cap, np.int64)
    sums = {"rows": 0, "sum_event_id": 0, "sum_user_id": 0, "sum_cents": 0}
    recent: list[np.ndarray] = []
    day_us = 86_400_000_000
    epoch_us = int(np.datetime64(INGEST_EPOCH, "us").astype(np.int64))
    batches = []

    def land_new(ids, ts, users, types, cents):
        s_ts[ids], s_user[ids], s_type[ids], s_cents[ids] = ts, users, types, cents
        sums["rows"] += len(ids)
        sums["sum_event_id"] += int(ids.sum())
        sums["sum_user_id"] += int(users.sum())
        sums["sum_cents"] += int(cents.sum())

    def emit(i, ids, mode, new_keys):
        path = os.path.join(out_dir, f"batch_{i:04d}.parquet")
        _write(_events_table(ids, s_ts[ids], s_user[ids], s_type[ids],
                             s_cents[ids] / 100.0), path)
        batches.append({"path": path, "mode": mode, "offered": int(len(ids)),
                        "new_keys": new_keys, "expect": dict(sums)})

    n = INGEST_HISTORY_ROWS
    ids = np.arange(n, dtype=np.int64)
    land_new(ids, epoch_us + rng.integers(0, INGEST_HISTORY_DAYS * day_us, n),
             rng.integers(0, 1_500, n), rng.integers(0, len(EVENT_TYPES), n),
             rng.integers(1, 20_000, n))
    next_id = n
    recent.append(ids)
    emit(0, ids, "history", n)
    for i in range(1, n_batches + 1):
        day = INGEST_HISTORY_DAYS + (i - 1) // INGEST_BATCHES_PER_DAY
        pool = np.concatenate(recent[-INGEST_RESEND_LOOKBACK:])
        if i % INGEST_UPSERT_EVERY == 0:
            ids = np.sort(rng.choice(pool, INGEST_UPSERT_ROWS, replace=False))
            bump = rng.integers(1, 500, len(ids))
            s_cents[ids] += bump
            sums["sum_cents"] += int(bump.sum())
            emit(i, ids, "upsert", 0)
            continue
        n_old = int(INGEST_BATCH_ROWS * INGEST_RESEND_FRAC)
        n_new = INGEST_BATCH_ROWS - n_old
        new_ids = np.arange(next_id, next_id + n_new, dtype=np.int64)
        next_id += n_new
        old_ids = rng.choice(pool, n_old, replace=False)
        land_new(new_ids, epoch_us + day * day_us + rng.integers(0, day_us, n_new),
                 rng.integers(0, 1_500, n_new), rng.integers(0, len(EVENT_TYPES), n_new),
                 rng.integers(1, 20_000, n_new))
        recent.append(new_ids)
        emit(i, np.concatenate([new_ids, old_ids])[rng.permutation(INGEST_BATCH_ROWS)],
             "delta", n_new)
    return {
        "workload": "lake_ingest",
        "seed": seed,
        "batches": batches,
        "drifted": drifted_events(seed, os.path.join(out_dir, "drifted")),
        "rates": {
            "resend_frac": INGEST_RESEND_FRAC,
            "upsert_every": INGEST_UPSERT_EVERY,
            "upsert_rows": INGEST_UPSERT_ROWS,
            "batch_rows": INGEST_BATCH_ROWS,
            "batches_per_day": INGEST_BATCHES_PER_DAY,
        },
    }


def drifted_events(seed: int, out_dir: str) -> dict:
    """Two ``events`` files whose ``user_id`` is int32 in the first and
    int64 in the second, so a read of both takes the unified-schema path.
    Carries the row count and ``user_id`` sum a correct read returns."""
    rng = _rng(seed, 2)
    epoch_us = int(np.datetime64(INGEST_EPOCH, "us").astype(np.int64))
    files, sum_user = [], 0
    for b, utype in enumerate((pa.int32(), pa.int64())):
        n = DRIFT_ROWS
        users = rng.integers(0, 1_500, n)
        sum_user += int(users.sum())
        t = _events_table(np.arange(b * n, (b + 1) * n, dtype=np.int64),
                          epoch_us + np.sort(rng.integers(0, 10 * 86_400_000_000, n)),
                          users, rng.integers(0, len(EVENT_TYPES), n),
                          rng.integers(1, 20_000, n) / 100.0, user_type=utype)
        path = os.path.join(out_dir, f"events_{b}.parquet")
        _write(t, path)
        files.append(path)
    return {"files": files, "rows": 2 * DRIFT_ROWS, "sum_user_id": sum_user}


def ingest_state_bytes(manifest: dict, upto: int, out_path: str) -> int:
    """Bytes of the distinct rows landed by batches ``0..upto`` written
    once as one zstd parquet file — the denominator of
    ``bytes_per_user_byte``. Rebuilt from the batch files (later rows win,
    which is the delta/upsert outcome because re-sent rows are unchanged)."""
    tables = [pq.read_table(b["path"]) for b in manifest["batches"][: upto + 1]]
    merged = pa.concat_tables(tables).to_pandas()
    merged = merged.drop_duplicates("event_id", keep="last").sort_values("event_id")
    return _write(pa.Table.from_pandas(merged, preserve_index=False), out_path)


# ---------------------------------------------------------------------------
# corpus_prep


def _doc_words(rng: np.random.Generator, vocab: list[str], n: int) -> list[str]:
    words = [vocab[i] for i in rng.integers(0, len(vocab), n)]
    for pos in rng.choice(n, max(2, n // 8), replace=False):
        words[pos] = STOPWORDS[int(rng.integers(0, len(STOPWORDS)))]
    return words


def corpus_inputs(seed: int, out_dir: str) -> dict:
    """Base documents plus injected exact duplicates, injected
    word-perturbed near duplicates, and a benchmark set copied from
    known documents (which therefore must be dropped as contaminated);
    embeddings and batches of top-k probes ride along."""
    rng = _rng(seed, 4)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = sorted({"".join(rng.choice(letters, int(rng.integers(3, 9))))
                    for _ in range(CORPUS_VOCAB * 2)})[:CORPUS_VOCAB]
    vocab = [v for v in vocab if v not in STOPWORDS]
    texts = [" ".join(_doc_words(rng, vocab, int(rng.integers(40, 90))))
             for _ in range(CORPUS_BASE_DOCS)]
    ids = list(range(CORPUS_BASE_DOCS))
    exact_src = rng.choice(CORPUS_BASE_DOCS, CORPUS_EXACT_DUPS, replace=False)
    exact_ids = []
    for s in exact_src.tolist():
        exact_ids.append(len(ids))
        ids.append(len(ids))
        texts.append(texts[s])
    near_src = rng.choice(CORPUS_BASE_DOCS, CORPUS_NEAR_DUPS, replace=False)
    near_pairs = []
    for s in near_src.tolist():
        words = texts[s].split(" ")
        for pos in rng.choice(len(words), 2, replace=False):
            words[pos] = vocab[int(rng.integers(0, len(vocab)))]
        near_pairs.append((int(s), len(ids)))
        ids.append(len(ids))
        texts.append(" ".join(words))
    contaminated = sorted(rng.choice(CORPUS_BASE_DOCS, CORPUS_CONTAMINATED, replace=False).tolist())
    bench_texts = []
    for s in contaminated:
        words = texts[s].split(" ")
        start = int(rng.integers(0, len(words) - 12))
        bench_texts.append(" ".join(words[start:start + 12]))
    order = rng.permutation(len(ids))  # shuffled file order, ids unchanged
    docs = pa.table(
        {
            "doc_id": pa.array([ids[i] for i in order], pa.int64()),
            "text": pa.array([texts[i] for i in order], pa.string()),
            "lang": pa.array(["en"] * len(ids), pa.string()),
            "source": pa.array([f"src{ids[i] % 20}" for i in order], pa.string()),
        }
    )
    bench = pa.table(
        {
            "doc_id": pa.array(np.arange(1_000_000, 1_000_000 + len(bench_texts)), pa.int64()),
            "text": pa.array(bench_texts, pa.string()),
        }
    )
    vecs = rng.standard_normal((CORPUS_EMBEDDINGS, CORPUS_DIM)).astype(np.float32)
    emb = pa.table(
        {
            "vec_id": pa.array(np.arange(CORPUS_EMBEDDINGS), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, CORPUS_EMBEDDINGS), pa.int32()),
        }
    )
    probes = rng.standard_normal((CORPUS_PROBE_BATCHES * CORPUS_PROBES, CORPUS_DIM)).astype(np.float32)
    probe_tab = pa.table(
        {
            "vec_id": pa.array(np.arange(10_000_000, 10_000_000 + len(probes)), pa.int64()),
            "batch": pa.array(np.repeat(np.arange(CORPUS_PROBE_BATCHES), CORPUS_PROBES), pa.int32()),
            "embedding": pa.array(list(probes), pa.list_(pa.float32())),
        }
    )
    paths = {
        "documents": os.path.join(out_dir, "documents.parquet"),
        "benchmark": os.path.join(out_dir, "benchmark.parquet"),
        "embeddings": os.path.join(out_dir, "embeddings.parquet"),
        "probes": os.path.join(out_dir, "probes.parquet"),
    }
    once = _write(docs, paths["documents"]) + _write(emb, paths["embeddings"])
    _write(bench, paths["benchmark"])
    _write(probe_tab, paths["probes"])
    return {
        "workload": "corpus_prep",
        "seed": seed,
        "files": paths,
        "once_bytes": once,
        "n_docs": len(ids),
        "exact_dup_ids": sorted(exact_ids),
        "near_dup_pairs": near_pairs,
        "contaminated_ids": contaminated,
        "rates": {
            "exact_dup_frac": CORPUS_EXACT_DUPS / len(ids),
            "near_dup_frac": CORPUS_NEAR_DUPS / len(ids),
            "contaminated_frac": CORPUS_CONTAMINATED / len(ids),
            "probes_per_batch": CORPUS_PROBES,
        },
    }


def generate(workload: str, seed: int, out_dir: str, n_batches: int = 200) -> dict:
    os.makedirs(out_dir, exist_ok=True)
    if workload == "lake_ingest":
        return ingest_inputs(seed, out_dir, n_batches)
    if workload == "corpus_prep":
        return corpus_inputs(seed, out_dir)
    raise ValueError(f"unknown workload {workload!r}")


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description="Write one workload's seeded inputs.")
    ap.add_argument("--workload", required=True,
                    choices=("lake_ingest", "corpus_prep"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True, help="directory to write the inputs to")
    args = ap.parse_args()
    m = generate(args.workload, args.seed, args.out)
    print(json.dumps({k: v for k, v in m.items() if k != "batches"}, default=str)[:2000])
