"""IVF-style approximate nearest neighbor search.

The scale path for similarity search when BOTH sides are large (the
brute-force broadcast in operators/similarity.py is optimal for small
probe sets): build an inverted file index — a small codebook of k-means
centroids — assign every corpus vector to its nearest centroid (one
Arrow-batched numpy matmul pass), and search only the probe's
``n_probe_centroids`` nearest cells.

Design for 100 TB:

- the codebook is learned driver-side from a bounded sample (classic IVF
  — centroid quality needs only a representative sample, not the corpus);
- assignment is a single scan with a vectorized pandas UDF (numpy
  matmul per Arrow batch — no per-row Python);
- the search is an equi-join on centroid id (shuffle keyed by cell),
  i.e. the same bucket-join shape as LSH, with tunable recall via
  ``n_probe_centroids``;
- everything is deterministic given ``seed``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T



def _bounded_spread_sample(
    df: DataFrame,
    vec_col: str,
    sample_size: int,
    seed: int,
    spread: int,
    min_rows: int,
) -> np.ndarray:
    """Shared codebook-training sample (kmeans_centroids / pq_codebooks):
    seeded-hash spread filter ahead of a ``2 * sample_size`` bounded
    scan, seeded driver-side permutation down to ``sample_size``. A
    SHORT filtered sample is a uniform sample of the WHOLE corpus and is
    kept unless (a) the unfiltered bounded scan sees every row anyway
    (small corpus — strictly more data, still unbiased) or (b) it is
    thinner than ``min_rows``; only those two cases fall back to the
    file-order prefix. See kmeans_centroids' docstring for the full
    bias argument; fix it HERE so both trainers stay in lockstep."""
    keep = F.pmod(F.xxhash64(F.col(vec_col), F.lit(seed)), F.lit(spread)) == 0
    sample = (
        df.select(vec_col).where(keep).limit(sample_size * 2).toPandas()[vec_col]
    )
    if len(sample) < sample_size:
        full = df.select(vec_col).limit(sample_size * 2).toPandas()[vec_col]
        if len(full) < sample_size * 2 or len(sample) < min_rows:
            sample = full
    x = np.array([np.asarray(v, dtype=np.float64) for v in sample])
    if len(x) > sample_size:
        x = x[np.random.default_rng(seed).permutation(len(x))[:sample_size]]
    return x


def kmeans_centroids(
    df: DataFrame,
    vec_col: str = "embedding",
    n_centroids: int = 16,
    sample_size: int = 10_000,
    iterations: int = 8,
    seed: int = 42,
    spread: int = 64,
) -> np.ndarray:
    """Spherical k-means codebook from a bounded corpus sample
    (driver-side numpy; deterministic given a fixed file layout).

    No ``df.count()`` pre-pass: at 100 TB a full count just to size a
    sample fraction is a wasted scan. A plain ``limit`` prefix would
    train on the first files in layout order — badly biased on a corpus
    sorted/clustered by domain or time (ADVICE r3) — so a seeded hash
    filter first keeps ~1/``spread`` of rows, making the bounded scan
    consume ~``spread``× more of the corpus before the
    ``2 * sample_size`` LocalLimit short-circuits it; a seeded
    driver-side permutation then decorrelates the kept rows and
    truncates to ``sample_size``. A SHORT filtered sample means the
    filter exhausted the corpus without hitting its limit — i.e. it is
    a uniform sample of the WHOLE corpus — so it is kept as-is unless
    (a) an unfiltered bounded scan can see every row anyway (small
    corpus: strictly more data, still unbiased) or (b) it is too thin
    to train ``n_centroids`` on; only those two cases fall back to the
    unfiltered scan. Mid-size domain-sorted corpora therefore train on
    the smaller-but-uniform sample, never a single-domain file-order
    prefix. Residual bias: at extreme corpus sizes the spread prefix
    still precedes the far tail — raise ``spread`` (scan cost grows
    linearly with it) or train the codebook once on a dedicated sample
    and persist it (``save_codebook``). Driver memory stays bounded by
    ``2 * sample_size`` vectors."""
    x = _bounded_spread_sample(
        df, vec_col, sample_size, seed, spread, min_rows=max(4 * n_centroids, 64)
    )
    if x.size == 0:
        raise ValueError(
            "kmeans_centroids: empty corpus/sample — no vectors to train a "
            "codebook on"
        )
    x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(seed)
    centroids = x[rng.choice(len(x), size=min(n_centroids, len(x)), replace=False)]
    for _ in range(iterations):
        assign = np.argmax(x @ centroids.T, axis=1)
        for c in range(len(centroids)):
            members = x[assign == c]
            if len(members):
                mean = members.mean(axis=0)
                centroids[c] = mean / max(np.linalg.norm(mean), 1e-12)
    return centroids


def _assigner(centroids: np.ndarray, top: int):
    """Vectorized centroid assignment UDF factory (numpy matmul per Arrow
    batch; centroids travel in the closure — broadcast-sized)."""

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def assign(vectors: pd.Series) -> pd.Series:
        x = np.array([np.asarray(v, dtype=np.float64) for v in vectors])
        x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
        sims = x @ centroids.T
        # stable sort: equal similarities keep centroid-index order, so a
        # SQL oracle's "ORDER BY dot DESC, cell ASC" tiebreak reproduces
        # the exact assignment
        order = np.argsort(-sims, axis=1, kind="stable")[:, :top]
        return pd.Series([row.astype("int32").tolist() for row in order])

    return assign


def codebook_sha(centroids) -> str:
    """Deterministic 16-hex fingerprint of a codebook (sha256 of its
    float64 bytes). Recorded in the ``embedding_cells`` sidecar params
    (dataset/maintain.py:materialize_signatures) so a persisted cell
    table can never silently answer for a DIFFERENT codebook — the same
    "sidecar stores the encoding so search can't mismatch it" rule the
    PQ codebook JSONs follow; a retrained codebook shifts cell
    boundaries, and a mismatched cell join would just find fewer
    in-cell pairs, indistinguishable from a clean corpus."""
    import hashlib

    cb = np.ascontiguousarray(np.asarray(centroids, dtype=np.float64))
    return hashlib.sha256(cb.tobytes()).hexdigest()[:16]


def save_codebook(spark, centroids: np.ndarray, path: str) -> None:
    """Persist a trained IVF codebook as JSON (through the Hadoop
    FileSystem, so it lands next to the dataset on any scheme). At scale
    the codebook is trained ONCE and reused for every ingest/search —
    retraining shifts cell boundaries and invalidates stored cell ids."""
    import json

    from pydala_spark.utils.pathops import PathOps

    PathOps(spark, path).write_text(
        path, json.dumps({"centroids": centroids.tolist()})
    )


def load_codebook(spark, path: str) -> np.ndarray:
    import json

    from pydala_spark.utils.pathops import PathOps

    return np.array(
        json.loads(PathOps(spark, path).read_text(path))["centroids"],
        dtype=np.float64,
    )


def ivf_topk(
    corpus: DataFrame,
    probes: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_centroids: int = 16,
    n_probe_centroids: int = 2,
    seed: int = 42,
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """Approximate top-k cosine neighbors via IVF cells.

    Returns (probe_id, neighbor_id, rnk, sim). Recall rises with
    ``n_probe_centroids`` (== n_centroids gives exact brute force).
    Pass ``centroids`` (e.g. from :func:`load_codebook`) to reuse a
    trained codebook instead of re-sampling the corpus.
    """
    if centroids is None:
        centroids = kmeans_centroids(
            corpus, vec_col, n_centroids=n_centroids, seed=seed
        )
    c_assign = _assigner(centroids, 1)
    p_assign = _assigner(centroids, n_probe_centroids)
    from pydala_spark.operators.similarity import norm, sim_from_norms

    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("vec"),
        F.element_at(c_assign(F.col(vec_col)), 1).alias("cell"),
    ).withColumn("__cn", norm("vec"))
    from pydala_spark.operators.dedup import explode_cheaply

    # explode_cheaply, not F.explode: InferFiltersFromGenerate would
    # otherwise re-run the numpy-matmul assignment UDF a second time to
    # evaluate the inferred size(...) > 0 filter (CLAUDE.md rule)
    p = explode_cheaply(
        probes.select(
            F.col(id_col).alias("probe_id"),
            F.col(vec_col).alias("probe_vec"),
        )
        # norm BEFORE the cell explode: after it, each probe's norm
        # would re-compute once per probed cell
        .withColumn("__pn", norm("probe_vec"))
        .withColumn("__cells", p_assign(F.col("probe_vec"))),
        F.col("__cells"),
        "cell",
    ).drop("__cells")
    scored = (
        c.join(p, "cell")
        .where(F.col("neighbor_id") != F.col("probe_id"))
        .withColumn(
            "sim",
            sim_from_norms(
                "probe_vec", "vec", "__pn", "__cn"
            ),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= k)
        .select("probe_id", "neighbor_id", "rnk", "sim")
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ): memory-bounded ANN at 100 TB


def _subspace_kmeans(
    x: np.ndarray, m: int, n_codes: int, seed: int, iterations: int
) -> np.ndarray:
    """Per-subspace L2 k-means over pre-normalized (or residual) rows —
    the ONE shared training loop. ``pq_codebooks``, ``train_residual_pq``
    AND the offline fixture tool (tools/train_pq_fixture.py) all call
    this, so a tweak to the seeding/tie-break/update rule can never
    desynchronize the pinned oracle fixtures from the operators
    (r5 review). The RNG draw sequence is part of the pinned contract:
    one generator, one ``choice`` per subspace in order."""
    n, dim = x.shape
    dsub = dim // m
    rng = np.random.default_rng(seed)
    books = []
    for i in range(m):
        sub = x[:, i * dsub : (i + 1) * dsub]
        cents = sub[
            rng.choice(len(sub), size=min(n_codes, len(sub)), replace=False)
        ].copy()
        for _ in range(iterations):
            d2 = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = np.argmin(d2, axis=1)
            for c in range(len(cents)):
                members = sub[assign == c]
                if len(members):
                    cents[c] = members.mean(axis=0)
        books.append(cents)
    return np.array(books)


def _cell_mean_anchors(
    xu: np.ndarray, cents: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """(assignments, anchors): stable-argmax cell assignment of unit
    rows plus per-cell MEAN anchors (empty cells fall back to the unit
    centroid). Shared by ``train_residual_pq`` and the fixture tool."""
    assign = np.argsort(-(xu @ cents.T), axis=1, kind="stable")[:, 0]
    anchors = np.stack(
        [
            xu[assign == c].mean(axis=0) if (assign == c).any() else cents[c]
            for c in range(len(cents))
        ]
    )
    return assign, anchors


def pq_codebooks(
    df: DataFrame,
    vec_col: str = "embedding",
    m: int = 8,
    n_codes: int = 16,
    sample_size: int = 10_000,
    iterations: int = 8,
    seed: int = 42,
    spread: int = 64,
    centroids: np.ndarray | None = None,
) -> np.ndarray:
    """Per-subspace L2 k-means codebooks, shape ``(m, n_codes, dim/m)``.

    Same bounded spread-sampled driver training as
    :func:`kmeans_centroids` (codebook quality needs a representative
    sample, not the corpus). Vectors are unit-normalized before
    splitting, so the PQ inner-product score approximates cosine.
    Subspace codebooks minimize RECONSTRUCTION error (plain L2 k-means,
    not spherical — encoding picks the nearest codeword, search scores
    the reconstruction by inner product: the classic IVFADC decomposition
    of Jégou et al.'s product quantization).

    Pass the IVF ``centroids`` to train on RESIDUALS (round 5): each
    sample vector is assigned to its nearest centroid and the codebooks
    learn ``x − centroid[cell]``. Prefer :func:`train_residual_pq`,
    which also learns per-cell ANCHORS (cell means) — with spherical
    (unit-norm) IVF centroids the unit centroid is a poor subtraction
    reference (residual norms EXCEED 1 on weakly-clustered data; the
    cell mean is the L2-optimal anchor)."""
    x = _bounded_spread_sample(
        df, vec_col, sample_size, seed, spread, min_rows=max(4 * n_codes, 64)
    )
    if x.size == 0:
        raise ValueError("pq_codebooks: empty corpus/sample")
    dim = x.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    if centroids is not None:
        cents = np.asarray(centroids, dtype=np.float64)
        assign = np.argsort(-(x @ cents.T), axis=1, kind="stable")[:, 0]
        x = x - cents[assign]
    return _subspace_kmeans(x, m, n_codes, seed, iterations)


def _pq_encoder(books: np.ndarray):
    """Vectorized PQ encode UDF factory: per Arrow batch, one numpy
    matmul per subspace; nearest codeword via the dot-product identity
    argmin ||x-c||^2 == argmax (x·c - ||c||^2/2), which a SQL oracle can
    reproduce with codeword literals and an ``ORDER BY score DESC, code``
    tiebreak (stable argsort here picks the lowest code on ties too).
    ``books`` travels in the closure — (m, n_codes, dsub) doubles, i.e.
    codebook-sized, never corpus-sized."""
    m, _n_codes, dsub = books.shape
    half = 0.5 * (books ** 2).sum(axis=2)  # (m, n_codes)

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def encode(vectors: pd.Series) -> pd.Series:
        x = np.array([np.asarray(v, dtype=np.float64) for v in vectors])
        x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
        codes = np.empty((len(x), m), dtype=np.int64)
        for i in range(m):
            sub = x[:, i * dsub : (i + 1) * dsub]
            score = sub @ books[i].T - half[i]
            # stable max: ties keep the lowest code index
            codes[:, i] = np.argsort(-score, axis=1, kind="stable")[:, 0]
        return pd.Series([row.astype("int32").tolist() for row in codes])

    return encode


def _pq_luts(books: np.ndarray, rotation: np.ndarray | None = None):
    """Probe-side lookup-table UDF factory: per probe, the flattened
    ``m * n_codes`` inner products between its unit-normalized subvectors
    and every codeword — the asymmetric-distance (ADC) table. Broadcast
    with the probes; scoring a corpus row is then ``m`` array lookups.
    With an OPQ ``rotation`` the probe rotates first: codewords live in
    rotated space, and ``q·(Rᵀ·recon) == (R·q)·recon``."""
    m, n_codes, dsub = books.shape
    rot_t = (
        None if rotation is None
        else np.asarray(rotation, dtype=np.float64).T
    )

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def luts(vectors: pd.Series) -> pd.Series:
        x = np.array([np.asarray(v, dtype=np.float64) for v in vectors])
        x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
        if rot_t is not None:
            x = x @ rot_t
        out = np.empty((len(x), m * n_codes), dtype=np.float64)
        for i in range(m):
            sub = x[:, i * dsub : (i + 1) * dsub]
            out[:, i * n_codes : (i + 1) * n_codes] = sub @ books[i].T
        return pd.Series([row.tolist() for row in out])

    return luts


def train_residual_pq(
    df: DataFrame,
    centroids: np.ndarray,
    vec_col: str = "embedding",
    m: int = 8,
    n_codes: int = 16,
    sample_size: int = 10_000,
    iterations: int = 8,
    seed: int = 42,
    spread: int = 64,
) -> tuple[np.ndarray, np.ndarray]:
    """(anchors, books) for residual IVFADC (round 5 — the Jégou
    decomposition done right for spherical coarse quantizers).

    ``anchors[c]`` is the CELL MEAN of the sample's unit vectors
    assigned to cell ``c`` (empty cells fall back to the unit
    centroid): the L2-optimal per-cell subtraction reference. The IVF
    centroids stay what they are — the cosine ASSIGNMENT codebook —
    but subtracting a unit centroid from weakly-clustered unit data
    yields residual norms > 1 (measured 1.17 on the synthetic corpus,
    i.e. worse than no residual at all), while cell-mean anchors
    measurably shrink them (0.94) and cut PQ reconstruction error.
    ``books`` are per-subspace L2 k-means codebooks over
    ``x_unit − anchors[cell]``. Use with
    ``ivf_pq_encode(..., residual=True, anchors=anchors)``."""
    cents = np.asarray(centroids, dtype=np.float64)
    x = _bounded_spread_sample(
        df, vec_col, sample_size, seed, spread, min_rows=max(4 * n_codes, 64)
    )
    if x.size == 0:
        raise ValueError("train_residual_pq: empty corpus/sample")
    dim = x.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    assign, anchors = _cell_mean_anchors(x, cents)
    res = x - anchors[assign]
    return anchors, _subspace_kmeans(res, m, n_codes, seed, iterations)


def _pq_encode_np(resid: np.ndarray, books: np.ndarray) -> np.ndarray:
    """Driver-side numpy twin of the encode UDF's inner loop (same
    argmax identity + stable lowest-code tiebreak) — shared by the OPQ
    training iterations so the rotation is optimized against exactly
    the codes the engine will assign."""
    m, _n_codes, dsub = books.shape
    codes = np.empty((len(resid), m), dtype=np.int64)
    for i in range(m):
        sub = resid[:, i * dsub : (i + 1) * dsub]
        score = sub @ books[i].T - 0.5 * (books[i] ** 2).sum(axis=1)
        codes[:, i] = np.argsort(-score, axis=1, kind="stable")[:, 0]
    return codes


def _opq_init_rotation(res: np.ndarray, m: int) -> np.ndarray:
    """Deterministic OPQ init (Ge et al. 2013's OPQ-NP seed): rotate to
    the residual PCA eigenbasis, then greedily deal eigen-directions to
    subspaces so each subspace gets a balanced log-variance product —
    the allocation that equalizes per-subspace quantization budgets."""
    dim = res.shape[1]
    dsub = dim // m
    cov = res.T @ res / max(len(res), 1)
    w, v = np.linalg.eigh(cov)
    order = np.argsort(-w)
    w, v = w[order], v[:, order]
    buckets: list[list[int]] = [[] for _ in range(m)]
    load = np.zeros(m)
    for d in range(dim):
        open_b = [b for b in range(m) if len(buckets[b]) < dsub]
        j = min(open_b, key=lambda b: load[b])
        buckets[j].append(d)
        load[j] += np.log(max(w[d], 1e-12))
    perm = [d for b in buckets for d in b]
    return v[:, perm].T


def train_residual_opq(
    df: DataFrame,
    centroids: np.ndarray,
    vec_col: str = "embedding",
    m: int = 8,
    n_codes: int = 16,
    sample_size: int = 10_000,
    iterations: int = 8,
    seed: int = 42,
    spread: int = 64,
    opq_iterations: int = 16,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(anchors, books, rotation) — residual IVFADC with an OPQ-learned
    ORTHOGONAL ROTATION before the subspace split (round 8; Ge et al.
    2013, "Optimized Product Quantization"): codes quantize
    ``R·(x_unit − anchor[cell])`` instead of the raw residual, so
    correlated dimensions stop straddling subspace boundaries and the
    same (m, n_codes) budget reconstructs measurably better (recall@10
    0.327 → 0.397 on the pinned fixture corpus; random or PCA-only
    rotations measured WORSE than no rotation — the alternating
    minimization is what earns the gain).

    Fully deterministic: PCA-balanced init (:func:`_opq_init_rotation`),
    then ``opq_iterations`` rounds of (train books on rotated residuals
    → encode → procrustes-SVD the rotation toward the reconstruction).
    The rotation rides the index sidecar exactly like the anchors
    (:func:`save_ivfpq_index` ``rotation=``), so search always scores
    with the encode-time geometry; sidecars without the key load as
    rotation=None (pre-round-8 indexes keep working). Use with
    ``ivf_pq_encode(..., anchors=anchors, rotation=rotation)``.

    Measurement honesty: the recall@10 numbers above come from training
    AND searching on the SAME fixture corpus (in-distribution — the
    production situation, since the rotation is trained on a sample of
    the corpus it indexes). Do NOT read a cross-scale-factor transfer
    into them: the sf0.001/sf0.01/sf0.1 ``embeddings`` test tables are
    INDEPENDENT random draws (~500 vectors each), not nested subsets,
    so a rotation trained at one SF scores near-noise at another — that
    says nothing about real corpora, where a bounded sample IS
    distributionally representative of the whole (the premise the
    bounded-spread sampler is built on)."""
    cents = np.asarray(centroids, dtype=np.float64)
    x = _bounded_spread_sample(
        df, vec_col, sample_size, seed, spread, min_rows=max(4 * n_codes, 64)
    )
    if x.size == 0:
        raise ValueError("train_residual_opq: empty corpus/sample")
    dim = x.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    assign, anchors = _cell_mean_anchors(x, cents)
    books, rot = _opq_alternate(
        x - anchors[assign], m, n_codes, seed, iterations, opq_iterations
    )
    return anchors, books, rot


def _opq_alternate(
    res: np.ndarray,
    m: int,
    n_codes: int,
    seed: int,
    iterations: int,
    opq_iterations: int,
) -> tuple[np.ndarray, np.ndarray]:
    """(books, rotation) — the ONE shared OPQ alternating-minimization
    loop (:func:`train_residual_opq` and tools/train_pq_fixture.py both
    call this, same desync rule as :func:`_subspace_kmeans`): PCA-
    balanced init, then alternate (subspace k-means on rotated
    residuals → encode → procrustes-SVD the rotation toward the
    reconstruction), finishing with a book retrain under the final
    rotation."""
    dim = res.shape[1]
    rot = _opq_init_rotation(res, m)
    for _ in range(opq_iterations):
        r = res @ rot.T
        books = _subspace_kmeans(r, m, n_codes, seed, iterations)
        codes = _pq_encode_np(r, books)
        recon = np.stack(
            [books[i][codes[:, i]] for i in range(m)], axis=1
        ).reshape(len(r), dim)
        u, _s, vt = np.linalg.svd(res.T @ recon)
        rot = (u @ vt).T  # orthogonal R minimizing ||res·Rᵀ − recon||
    books = _subspace_kmeans(res @ rot.T, m, n_codes, seed, iterations)
    return books, rot


def _ivfpq_encoder(
    centroids: np.ndarray,
    books: np.ndarray,
    residual: bool,
    anchors: np.ndarray | None = None,
    rotation: np.ndarray | None = None,
):
    """Combined cell + PQ-code encode UDF: returns an int array
    ``[cell, code_0 … code_{m-1}]`` from ONE normalization/assignment
    pass (the split assigner+encoder pair normalized and matmul'd
    twice). With ``residual`` the codes quantize ``x − anchor[cell]``
    (classic IVFADC; anchors default to the centroids — pass
    :func:`train_residual_pq` cell-mean anchors for spherical
    codebooks); the argmax identities and stable tiebreaks match the
    SQL oracle exactly as in :func:`_pq_encoder`."""
    m, _n_codes, dsub = books.shape
    half = 0.5 * (books ** 2).sum(axis=2)
    cents = np.asarray(centroids, dtype=np.float64)
    anch = cents if anchors is None else np.asarray(anchors, dtype=np.float64)
    rot_t = (
        None if rotation is None
        else np.asarray(rotation, dtype=np.float64).T
    )

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def encode(vectors: pd.Series) -> pd.Series:
        x = np.array([np.asarray(v, dtype=np.float64) for v in vectors])
        x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
        cell = np.argsort(-(x @ cents.T), axis=1, kind="stable")[:, 0]
        r = x - anch[cell] if residual else x
        if rot_t is not None:
            r = r @ rot_t  # OPQ: quantize the ROTATED residual
        out = np.empty((len(x), m + 1), dtype=np.int64)
        out[:, 0] = cell
        for i in range(m):
            sub = r[:, i * dsub : (i + 1) * dsub]
            score = sub @ books[i].T - half[i]
            out[:, i + 1] = np.argsort(-score, axis=1, kind="stable")[:, 0]
        return pd.Series([row.astype("int32").tolist() for row in out])

    return encode


def pq_encode(
    df: DataFrame,
    books: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes) — the 100 TB storage form of an embedding corpus:
    ``m`` small ints per vector instead of ``dim`` floats (dim=64, m=8:
    32× narrower than float32 before encoding overheads). One scan, one
    Arrow-batched numpy pass, no shuffle."""
    return df.select(
        F.col(id_col).alias("id"), _pq_encoder(books)(F.col(vec_col)).alias("codes")
    )


def pq_topk(
    corpus: DataFrame,
    probes: DataFrame,
    books: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    codes_col: str | None = None,
) -> DataFrame:
    """Approximate top-k by asymmetric PQ distance: corpus rows are
    scored from their ``m`` codes alone via the probe's broadcast lookup
    table — ``sim ≈ cosine`` for unit vectors. Returns
    (probe_id, neighbor_id, rnk, sim).

    Shape at 100 TB: the corpus is read as (id, codes) — never the raw
    vectors (pass ``codes_col`` over a pre-encoded dataset from
    :func:`pq_encode`); probes (with LUTs) broadcast; scoring is JVM-side
    ``aggregate`` over ``m`` array lookups inside codegen, so the scan is
    CPU-light and 32× narrower than raw embeddings. Exchanges: the
    final per-probe top-k window over candidate rows, plus — only when
    the corpus scan is row-group-bound (one task) — one round-robin
    ``spread_scan`` exchange of the encoded (id, codes) frame before
    scoring; a healthy multi-task scan skips it."""
    m, n_codes, _ = books.shape
    if codes_col is None:
        c = pq_encode(corpus, books, id_col, vec_col).select(
            F.col("id").alias("neighbor_id"), "codes"
        )
    else:
        c = corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(codes_col).alias("codes")
        )
    # round 17 (guide §2.3/§2.5): when the corpus scan is row-group-bound
    # (one task), the scoring NLJ + top-k window inherit it; spread the
    # POST-encode frame — (id, m small ints), 32× narrower than the raw
    # vectors, so the round-robin exchange ships codes, not embeddings
    # (spreading the raw corpus A/B'd 0.9× — the wide exchange loses).
    # The probe piggybacks the corpus frame: `c` derives from it by
    # narrow ops only, and probing `c` itself would re-plan the encode
    # UDF on every query build. No-op on healthy multi-file scans.
    from pydala_spark.sources import spread_scan

    c = spread_scan(c, probe=corpus)
    p = probes.select(
        F.col(id_col).alias("probe_id"),
        _pq_luts(books)(F.col(vec_col)).alias("lut"),
    )
    # sim = sum_i lut[i*n_codes + codes[i]] — element_at is 1-based
    sim = F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)),
        F.lit(0.0),
        lambda acc, i: acc
        + F.element_at(
            F.col("lut"),
            (i * n_codes + F.element_at(F.col("codes"), i + 1) + 1).cast("int"),
        ),
    )
    scored = (
        c.join(F.broadcast(p), F.col("neighbor_id") != F.col("probe_id"))
        .withColumn("sim", sim)
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= k)
        .select("probe_id", "neighbor_id", "rnk", "sim")
    )


def ivf_pq_encode(
    df: DataFrame,
    centroids: np.ndarray,
    books: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    residual: bool = True,
    anchors: np.ndarray | None = None,
    rotation: np.ndarray | None = None,
) -> DataFrame:
    """(id, cell, codes) — the persistable IVFADC index of an embedding
    corpus (Jégou et al.: inverted file + product quantization): one
    Arrow-batched scan assigns the k-means cell and the m PQ codes, no
    shuffle. Write this once (e.g. partitioned by cell) and
    :func:`ivf_pq_topk` searches it without ever re-reading raw
    vectors — at 100 TB the index is ~32× narrower than the float32
    corpus and the scan prunes to the probed cells.

    ``residual=True`` (round 5, the default — this IS Jégou's IVFADC)
    PQ-encodes ``x − anchor[cell]`` instead of the raw unit vector:
    the coarse term absorbs the cell's mass, the codes spend their
    budget on the small within-cell displacement, and search adds the
    probe's ``q·anchor`` term back analytically. Same storage, better
    recall. Train anchors+books with :func:`train_residual_pq` (anchors
    default to the centroids when omitted — a valid decomposition, but
    cell-mean anchors reconstruct measurably better under spherical
    assignment codebooks). Pass ``residual=False`` to reproduce the
    round-4 raw-vector codes (existing indexes; searches must use the
    matching flag). ``rotation`` (round 8) is the OPQ orthogonal matrix
    from :func:`train_residual_opq` — codes then quantize the ROTATED
    residual; searches must pass the same matrix."""
    enc = _ivfpq_encoder(centroids, books, residual, anchors, rotation)
    m = books.shape[0]
    out = df.select(
        F.col(id_col).alias("id"), enc(F.col(vec_col)).alias("__cc")
    )
    return out.select(
        "id",
        F.element_at("__cc", 1).alias("cell"),
        F.slice("__cc", 2, m).alias("codes"),
    )


def ivf_pq_topk(
    corpus: DataFrame,
    probes: DataFrame,
    centroids: np.ndarray,
    books: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_probe_centroids: int = 2,
    encoded: bool = False,
    residual: bool = True,
    anchors: np.ndarray | None = None,
    rotation: np.ndarray | None = None,
    rerank_top: int | None = None,
    rerank_source: DataFrame | None = None,
    rerank_coverage: str = "strict",
) -> DataFrame:
    """IVFADC approximate top-k: candidates come from the probes'
    ``n_probe_centroids`` best IVF cells (equi-join on cell — the
    candidate count scales with cell size, not corpus size), and each
    candidate is scored from its PQ codes alone via the probe's lookup
    table. Returns (probe_id, neighbor_id, rnk, sim).

    With ``encoded=True`` the corpus is a pre-built (id, cell, codes)
    index from :func:`ivf_pq_encode` — the 100 TB path: cell-partitioned
    index + partition pruning means a query touches only the probed
    cells' files. Recall knobs: ``n_probe_centroids`` (linear candidate
    growth) and codebook sizes.

    With ``residual`` (default — the flag AND ``anchors`` must match how
    the index was encoded) the codes quantize ``x − anchor[cell]``, so
    ``sim = q·anchor[cell] + Σᵢ lut[i][code_i]``: the anchor term is
    JVM column algebra against broadcast anchor literals (one dot per
    (probe, probed cell) — n_probes × dim work, independent of corpus
    size), and only the small displacement goes through the LUTs.

    ``rerank_top=C`` (round 9 — IVFADC+R, Jégou et al. 2011 §III.D):
    PQ codes RANK the probed cells' candidates, then the top-C per
    probe are re-scored with EXACT cosine against their full vectors
    and the final top-k comes from those exact scores — the standard
    public fix for the PQ quantization-error recall ceiling. Cost is
    one narrow join of a C×n_probes-row broadcast candidate list
    against the source frame's ``(id, vec)`` projection (column-pruned
    at the scan; the corpus is never re-scanned wholesale) plus a
    second per-probe window over ≤C rows. With ``encoded=True`` the
    codes can't reconstruct exact vectors, so ``rerank_source`` (the
    original ``(id_col, vec_col)`` frame) is REQUIRED; inline callers
    may omit it (the corpus itself is the source).

    ``rerank_coverage`` (round 10, ADVICE r9): with the default
    ``"strict"``, a caller-supplied ``rerank_source`` that does not
    cover the PQ candidate pool FAILS LOUD at execution (partial AND
    total misses — an inner join would otherwise silently shrink
    results and recall). ``"prune"`` opts back into dropping uncovered
    candidates — the right mode when the source legitimately drifts
    from the index (``index_recall`` uses it: the eval must MEASURE a
    drifted index's recall, not error on it)."""
    m, n_codes, _ = books.shape
    if rerank_coverage not in ("strict", "prune"):
        raise ValueError(
            "ivf_pq_topk: rerank_coverage must be 'strict' or 'prune'"
        )
    if rerank_top is not None:
        if rerank_top < k:
            raise ValueError(
                f"ivf_pq_topk: rerank_top={rerank_top} < k={k} — the "
                "re-ranked pool must at least cover the requested top-k"
            )
        if encoded and rerank_source is None:
            raise ValueError(
                "ivf_pq_topk: rerank_top with encoded=True requires "
                "rerank_source= (the original (id, vec) frame) — PQ "
                "codes cannot reconstruct the exact vectors re-ranking "
                "scores against"
            )
    if encoded:
        # the index id column is id_col when present (matching pq_topk's
        # codes_col contract), falling back to ivf_pq_encode's "id" so
        # its output composes directly without a rename
        cid = id_col if id_col in corpus.columns else "id"
        c = corpus.select(
            F.col(cid).alias("neighbor_id"), "cell", "codes"
        )
    else:
        c = ivf_pq_encode(
            corpus, centroids, books, id_col, vec_col,
            residual=residual, anchors=anchors, rotation=rotation,
        ).select(F.col("id").alias("neighbor_id"), "cell", "codes")
    from pydala_spark.operators.dedup import explode_cheaply

    p_assign = _assigner(centroids, n_probe_centroids)
    p = explode_cheaply(
        probes.select(
            F.col(id_col).alias("probe_id"),
            F.col(vec_col).alias("__pv"),
            _pq_luts(books, rotation)(F.col(vec_col)).alias("lut"),
            p_assign(F.col(vec_col)).alias("__cells"),
        ),
        F.col("__cells"),
        "cell",
    ).drop("__cells")
    if residual:
        # q·anchor[cell] per probed cell, JVM-side: dot(q, a)/||q|| —
        # the anchor matrix rides as a nested array literal (codebook-
        # sized), indexed by the probed cell
        from pydala_spark.operators.similarity import dot, norm

        anch = np.asarray(
            centroids if anchors is None else anchors, dtype=np.float64
        )
        cents_lit = F.array(
            *[F.array(*[F.lit(float(v)) for v in row]) for row in anch]
        )
        cent_arr = F.element_at(cents_lit, F.col("cell") + 1)
        p = p.withColumn(
            "__cd",
            dot(F.col("__pv"), cent_arr)
            / F.greatest(norm(F.col("__pv")), F.lit(1e-12)),
        )
    p = p.drop("__pv")
    lut_sum = F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)),
        F.lit(0.0),
        lambda acc, i: acc
        + F.element_at(
            F.col("lut"),
            (i * n_codes + F.element_at(F.col("codes"), i + 1) + 1).cast("int"),
        ),
    )
    sim = (F.col("__cd") + lut_sum) if residual else lut_sum
    scored = (
        c.join(F.broadcast(p), "cell")
        .where(F.col("neighbor_id") != F.col("probe_id"))
        .withColumn("sim", sim)
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    if rerank_top is None:
        return (
            scored.withColumn("rnk", F.row_number().over(w).cast("long"))
            .where(F.col("rnk") <= k)
            .select("probe_id", "neighbor_id", "rnk", "sim")
        )
    # IVFADC+R: PQ scores only SELECT the pool; the top-C candidate
    # list (C×n_probes rows — broadcast-sized by construction) joins
    # the source's narrow (id, vec) projection for exact cosine, and
    # the final rank comes from the exact scores. Probe vectors rejoin
    # by id (the probe set is small) instead of riding __pv through
    # the corpus-sized scored frame.
    from pydala_spark.operators.similarity import norm, sim_from_norms

    src = rerank_source if rerank_source is not None else corpus
    cand = (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= rerank_top)
        .select("probe_id", "neighbor_id")
    )
    strict = rerank_source is not None and rerank_coverage == "strict"
    if strict:
        # fail loud when a caller-supplied rerank_source does not cover
        # the PQ candidate pool (ADVICE r9): the inner join below would
        # otherwise silently drop uncovered candidates — fewer than k
        # rows and quietly lower recall, including the worst shape
        # where an ENTIRE probe's pool is missing and the probe just
        # vanishes. The guard below (after `exact`) compares the pool
        # ids against the ids the source actually covers — complete
        # for partial AND total misses. The pool feeds two plan
        # branches (the re-score join and the guard), so pin it once:
        # C×n_probes rows, and the PQ scoring pipeline then executes
        # exactly once instead of once per branch. The default
        # rerank_source=None path reranks against the index frame
        # itself, whose coverage is guaranteed by construction.
        cand = cand.localCheckpoint(eager=True)
    sv = src.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__xv"),
    )
    pv = probes.select(
        F.col(id_col).alias("probe_id"),
        F.col(vec_col).alias("__qv"),
    )
    exact = (
        sv.join(F.broadcast(cand), "neighbor_id")
        .join(F.broadcast(pv), "probe_id")
        .withColumn("__nx", norm("__xv"))
        .withColumn("__nq", norm("__qv"))
        .withColumn(
            "sim",
            sim_from_norms(
                "__qv", "__xv", "__nq", "__nx"
            ),
        )
    )
    if strict:
        # the coverage check proper: every pool id must appear in the
        # source EXACTLY ONCE — a missing id would silently shrink the
        # result (lower recall), and a DUPLICATED id would join twice
        # into the exact re-score and push a genuine k-th neighbor out
        # of the top-k. `covered` is a LEFT-SEMI of the source's id
        # column against the broadcast pool (the big side streams —
        # the scan prunes to the id column, no vec bytes, no shuffle);
        # the per-id count + verdict aggregate then run over
        # pool-sized frames. The 1-row verdict cross-joins into the
        # result and is consumed by a filter (assert_true yields NULL
        # on success, so isNull keeps every row) — consumed, because a
        # merely-SELECTED-then-dropped column lets Catalyst prune the
        # assert expression out of the aggregate and the guard never
        # evaluates.
        pool_ids = cand.select("neighbor_id").distinct()
        covered = sv.select("neighbor_id").join(
            F.broadcast(pool_ids), "neighbor_id", "left_semi")
        per_id = covered.groupBy("neighbor_id").agg(
            F.count("*").alias("__c"))
        check = pool_ids.join(per_id, "neighbor_id", "left").agg(
            F.assert_true(
                (F.count_if(F.col("__c").isNull()) == 0)
                & (F.count_if(F.col("__c") > 1) == 0),
                F.concat(
                    F.lit("rerank_source does not cover the PQ pool"
                          " exactly once: "),
                    F.count_if(F.col("__c").isNull()).cast("string"),
                    F.lit(" candidate id(s) missing (results would"
                          " silently shrink), "),
                    F.count_if(F.col("__c") > 1).cast("string"),
                    F.lit(" duplicated (the top-k would rank the same"
                          " neighbor twice) — pass the deduplicated"
                          " frame the index was built from (or a"
                          " superset), or rerank_coverage='prune' to"
                          " re-rank only the covered pool"),
                ),
            ).alias("__cov")
        )
        exact = (
            exact.crossJoin(F.broadcast(check))
            .where(F.col("__cov").isNull())
            .drop("__cov")
        )
    w2 = Window.partitionBy("probe_id").orderBy(
        F.desc("sim"), F.asc("neighbor_id")
    )
    return (
        exact.withColumn("rnk", F.row_number().over(w2).cast("long"))
        .where(F.col("rnk") <= k)
        .select("probe_id", "neighbor_id", "rnk", "sim")
    )


IVF_CODEBOOK_SIDECAR = "_ivf_codebook.json"
PQ_CODEBOOK_SIDECAR = "_pq_codebooks.json"


def save_ivfpq_index(
    spark,
    df: DataFrame,
    path: str,
    centroids: np.ndarray,
    books: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    mode: str = "overwrite",
    residual: bool = True,
    anchors: np.ndarray | None = None,
    rotation: np.ndarray | None = None,
) -> None:
    """Build and persist the IVFADC index as a CELL-PARTITIONED parquet
    dataset plus codebook sidecars — the deployable form of the index:
    one encode scan writes ``cell=N/`` directories, and the codebooks
    land next to the data (underscore names hide them from readers), so
    any session can :func:`load_ivfpq_index` and search without the
    training state. Cell partitioning is what makes search cheap: the
    probe cells arrive as a join key on the partition column, so Spark's
    dynamic partition pruning skips every unprobed cell's files.

    The ``residual`` encoding choice AND the anchors are STORED in the
    PQ sidecar, so search always scores with the math the codes were
    built with (a round-4 index with raw codes loads with
    ``residual=False`` automatically — the keys are absent). Appending
    to an existing index whose sidecar declares a DIFFERENT encoding
    raises: mixed raw/residual codes in one index would silently score
    half the rows with the wrong math (r5 review — note the round-5
    default flipped to residual, so a round-4 ingest job upgraded
    without passing ``residual=False`` fails loud here instead)."""
    import json as _json
    import posixpath as _pp

    from pydala_spark.dataset.writer import Writer
    from pydala_spark.utils.pathops import PathOps as _PathOps

    _ops = _PathOps(spark, path)
    _sidecar = _pp.join(path, PQ_CODEBOOK_SIDECAR)
    if mode == "append" and _ops.exists(_sidecar):
        meta = _json.loads(_ops.read_text(_sidecar))
        stored = bool(meta.get("residual", False))
        if stored != bool(residual):
            raise ValueError(
                f"index at {path} was encoded with residual={stored} but "
                f"this append requests residual={bool(residual)} — mixed "
                "encodings in one index score incorrectly; pass the "
                "matching flag (or rebuild with mode='overwrite')"
            )
        # the flag alone is not enough: appending rows encoded with
        # DIFFERENT books/anchors/centroids would silently re-key every
        # existing row when the sidecars are rewritten below (r5 review)
        old_books = np.array(meta["centroids"], dtype=np.float64)
        if old_books.shape != books.shape or not np.array_equal(
            old_books, np.asarray(books, dtype=np.float64)
        ):
            raise ValueError(
                f"index at {path} was encoded with different PQ codebooks "
                "— appends must reuse the index's pinned books (load them "
                "via load_ivfpq_index) or rebuild with mode='overwrite'"
            )
        old_anchors = meta.get("anchors")
        new_anchors = (
            None if anchors is None
            else np.asarray(anchors, dtype=np.float64).tolist()
        )
        if (old_anchors is None) != (new_anchors is None) or (
            old_anchors is not None and old_anchors != new_anchors
        ):
            raise ValueError(
                f"index at {path} was encoded with different anchors — "
                "appends must reuse the index's pinned anchors"
            )
        old_rot = meta.get("rotation")
        new_rot = (
            None if rotation is None
            else np.asarray(rotation, dtype=np.float64).tolist()
        )
        if (old_rot is None) != (new_rot is None) or (
            old_rot is not None and old_rot != new_rot
        ):
            raise ValueError(
                f"index at {path} was encoded with a different OPQ "
                "rotation — appends must reuse the index's pinned "
                "rotation (codes quantize the rotated residual)"
            )
        _ivf = _pp.join(path, IVF_CODEBOOK_SIDECAR)
        if _ops.exists(_ivf):
            old_cents = load_codebook(spark, _ivf)
            if old_cents.shape != np.asarray(centroids).shape or not (
                np.array_equal(old_cents, np.asarray(centroids, dtype=np.float64))
            ):
                raise ValueError(
                    f"index at {path} was encoded with a different IVF "
                    "codebook — appends must reuse the index's pinned "
                    "centroids (cell ids would shift otherwise)"
                )
    idx = ivf_pq_encode(
        df, centroids, books, id_col, vec_col,
        residual=residual, anchors=anchors, rotation=rotation,
    )
    if mode == "overwrite":
        # an overwrite keeps ``_`` sidecars: drop the old codebooks first,
        # so a crash before the new ones land fails loud on load instead
        # of scoring the new codes with the old codebooks
        for name in (IVF_CODEBOOK_SIDECAR, PQ_CODEBOOK_SIDECAR):
            _ops.delete(_pp.join(path, name))
    Writer(spark, path, partition_by="cell", mode=mode).write(idx)
    import json
    import posixpath

    from pydala_spark.utils.pathops import PathOps

    # save_codebook's {"centroids": ...} envelope handles the 3-d PQ
    # books array the same as the 2-d IVF matrix — one format to keep
    save_codebook(spark, centroids, posixpath.join(path, IVF_CODEBOOK_SIDECAR))
    meta = {"centroids": books.tolist(), "residual": bool(residual)}
    if anchors is not None:
        meta["anchors"] = np.asarray(anchors, dtype=np.float64).tolist()
    if rotation is not None:
        meta["rotation"] = np.asarray(rotation, dtype=np.float64).tolist()
    PathOps(spark, path).write_text(
        posixpath.join(path, PQ_CODEBOOK_SIDECAR), json.dumps(meta)
    )


def load_ivfpq_index(spark, path: str):
    """(index DataFrame, centroids, books, residual, anchors, rotation)
    from :func:`save_ivfpq_index` output. The DataFrame reads the
    cell-partitioned dataset lazily — nothing is scanned until a search
    runs. ``residual``/``anchors``/``rotation`` report how the codes
    were built (False/None for older indexes, whose sidecar lacks the
    keys — pre-round-5 raw codes and pre-round-8 unrotated residuals
    both load and search correctly)."""
    import json
    import posixpath

    from pydala_spark.dataset.reader import Dataset
    from pydala_spark.utils.pathops import PathOps

    cents = load_codebook(spark, posixpath.join(path, IVF_CODEBOOK_SIDECAR))
    pq_meta = json.loads(
        PathOps(spark, path).read_text(posixpath.join(path, PQ_CODEBOOK_SIDECAR))
    )
    books = np.array(pq_meta["centroids"], dtype=np.float64)
    residual = bool(pq_meta.get("residual", False))
    anchors = (
        np.array(pq_meta["anchors"], dtype=np.float64)
        if "anchors" in pq_meta
        else None
    )
    rotation = (
        np.array(pq_meta["rotation"], dtype=np.float64)
        if "rotation" in pq_meta
        else None
    )
    return Dataset(spark, path).load(), cents, books, residual, anchors, rotation


def append_ivfpq_index(
    spark,
    path: str,
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    check_ids: bool = True,
    if_exists: str = "raise",
) -> int:
    """Incrementally grow a persisted IVFADC index (round 9) — the
    daily-ingest path: new vectors encode under the index's OWN pinned
    codebooks (loaded from the sidecars, so a caller can never pass
    mismatched training state) and append into the cell partitions;
    nothing existing is re-encoded or rewritten, and a search
    immediately sees the union. Cost is one encode scan of the NEW rows
    — at a 100 TB corpus growing 0.1%/day that is 1000× cheaper than
    the rebuild, and the cell-partitioned layout means the append only
    touches the cells the new vectors land in.

    ``check_ids=True`` (default) anti-checks the new ids against the
    index first — ONE narrow id-column scan (parquet reads one column).
    ``if_exists`` picks what an overlap means: ``"raise"`` (default —
    a duplicate id would surface twice in every search result, which
    no caller wants silently) or ``"skip"`` (anti-join the batch down
    to UNSEEN ids first — the idempotent nightly-cron form: pointing
    the append at the full, growing embeddings dataset every night
    indexes exactly the new rows, re-runs included). Pass
    ``check_ids=False`` when ingest already guarantees fresh ids (e.g.
    the rows came through ``streaming_dedup``). Returns the number of
    rows appended (0 is a normal "nothing new" cron outcome —
    ``save_ivfpq_index`` is skipped entirely so the sidecars are not
    rewritten for nothing).

    Codebook drift is the operational caveat, deliberately NOT hidden
    here: appended vectors are assigned under the ORIGINAL centroids,
    so a distribution shift degrades cell balance rather than erroring
    — watch :func:`index_stats`'s ``imbalance`` / ``avg_occupied_cell``
    in the ingest cron and rebuild (``save_ivfpq_index``, fresh
    training) when it drifts. That trade (stale codebook vs. rebuild)
    is the standard IVF production posture; SemDeDup's lake codebook
    pins work the same way (catalog_sweeps.py)."""
    if if_exists not in ("raise", "skip"):
        raise ValueError(
            f"append_ivfpq_index: if_exists={if_exists!r} "
            "(expected 'raise' or 'skip')"
        )
    idx_frame, cents, books, residual, anchors, rotation = \
        load_ivfpq_index(spark, path)
    # pin the batch ONCE: the documented caller points this at a live,
    # growing source, so without the cut the duplicate check, the
    # encode write and the returned count would each re-execute the
    # input plan at different moments — rows arriving in between would
    # slip past the id guard (TOCTOU) and inflate the count with rows
    # never written
    df = df.localCheckpoint(eager=True)
    if check_ids:
        idc = id_col if id_col in idx_frame.columns else "id"
        old = idx_frame.select(F.col(idc).cast("string").alias("__nid"))
        keyed = df.withColumn("__nid", F.col(id_col).cast("string"))
        if if_exists == "skip":
            df = keyed.join(old, "__nid", "left_anti").drop("__nid")
            # the anti-join must decide BEFORE the encode job appends —
            # and an all-duplicates batch must not rewrite the sidecars
            df = df.localCheckpoint(eager=True)
            n_new = df.count()
            if n_new == 0:
                return 0
        else:
            dup = keyed.join(old, "__nid", "left_semi").limit(5).collect()
            if dup:
                raise ValueError(
                    f"append_ivfpq_index: id(s) already present in the "
                    f"index at {path}: "
                    f"{sorted(str(r['__nid']) for r in dup)}"
                    " — duplicate ids would surface twice in every "
                    "search; dedup the batch first, pass "
                    "if_exists='skip' for the idempotent cron form, or "
                    "check_ids=False only when ingest guarantees fresh "
                    "ids"
                )
            n_new = df.count()
    else:
        n_new = df.count()
    save_ivfpq_index(
        spark, df, path, cents, books,
        id_col=id_col, vec_col=vec_col, mode="append",
        residual=residual, anchors=anchors, rotation=rotation,
    )
    return int(n_new)


def remove_from_ivfpq_index(
    spark,
    path: str,
    ids,
    id_col: str = "vec_id",
) -> int:
    """Delete vectors from a persisted IVFADC index by id (round 9) —
    the GDPR/right-to-be-forgotten path, and the other half of index
    maintenance beside :func:`append_ivfpq_index`: deletions rewrite
    ONLY the cell partitions that actually contain the ids (a staged
    partition commit), so removing a handful of documents from a
    billion-vector index touches a handful of cell directories, not
    the index. ``ids`` is a list or a single-column DataFrame; ids are
    compared as strings (the append-path convention). Returns the
    number of rows removed (0 = nothing matched — a no-op, nothing
    rewritten).

    Shape: one broadcast semi-join finds the affected cells, the
    surviving rows of those cells localCheckpoint (they are counted
    and written from one read), one write stages them beside the
    index, and ``PathOps.commit_stage`` replaces exactly the affected
    cell directories — a cell emptied outright is dropped with them,
    and a crash is finished forward by the next removal's
    ``recover``. Codebook sidecars are untouched: deletion never
    changes the encoding."""
    from pydala_spark.dataset.reader import Dataset
    from pydala_spark.dataset.timefly import open_dirs
    from pydala_spark.utils.pathops import PathOps, strip_scheme

    if isinstance(ids, DataFrame):
        rid = ids.select(
            F.col(ids.columns[0]).cast("string").alias("__rid"))
    else:
        ids = [str(x) for x in ids]
        if not ids:
            return 0
        rid = spark.createDataFrame([(x,) for x in ids], "__rid string")
    # a compacted index may live under a generation pointer
    # (maintain.compact swap="generation") — every read resolves to
    # the active gen-NNNNNN/ dir, so the commit must target THAT dir
    # too, not the bare base (a write at the base would be invisible
    # to resolving readers and the deletion would silently do nothing)
    live = open_dirs(spark, strip_scheme(path))[1]
    PathOps(spark, live).recover(live)
    idx = Dataset(spark, live).load()
    idc = id_col if id_col in idx.columns else "id"
    keyed = idx.withColumn("__k", F.col(idc).cast("string"))
    hit = keyed.join(F.broadcast(rid), keyed["__k"] == rid["__rid"],
                     "left_semi")
    affected = [r["cell"] for r in
                hit.select("cell").distinct().collect()]
    if not affected:
        return 0
    n_removed = hit.count()
    survivors = (
        keyed.where(F.col("cell").isin(affected))
        .join(F.broadcast(rid), keyed["__k"] == rid["__rid"],
              "left_anti")
        .drop("__k")
        # counted and written from one read (bounded by the affected
        # cells' size; at real deletion rates that is a handful of cells)
        .localCheckpoint(eager=True)
    )
    kept_cells = {r["cell"] for r in
                  survivors.select("cell").distinct().collect()}
    if not kept_cells:
        # every AFFECTED cell is fully emptied; if the affected cells
        # are in fact ALL the index's cells, the removal would empty
        # the index entirely — deleting all cell dirs leaves a
        # directory of sidecars with no data files, and the next load
        # fails on parquet schema inference instead of saying what
        # happened (ADVICE r9). Refuse before any destructive step —
        # nothing has been written or deleted yet. (cell-list collects
        # are bounded by the codebook size)
        all_cells = {r["cell"] for r in
                     idx.select("cell").distinct().collect()}
        if all_cells <= set(affected):
            raise ValueError(
                "remove_from_ivfpq_index: the requested ids cover every "
                "remaining vector — removing them would empty the index "
                "entirely. Rebuild with save_ivfpq_index (or delete the "
                "index directory) instead."
            )
    stage = live.rstrip("/") + "__removing"
    survivors.write.mode("overwrite").partitionBy("cell").parquet(stage)
    # every affected cell dir is replaced by its staged survivors, or
    # dropped when none survive
    PathOps(spark, live).commit_stage(
        live, stage, entries=[f"cell={c}" for c in sorted(affected)])
    spark.catalog.refreshByPath(live)
    return int(n_removed)


def index_recall(
    spark,
    path: str,
    source: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_probe_centroids: int = 2,
    n_probes: int = 50,
    salt: str = "index_recall",
    rerank_top: int | None = None,
) -> dict:
    """Measured recall@k of a persisted IVFADC index against exact
    brute-force cosine on a deterministic probe sample (round 9) — the
    ops check that actually answers "is the index still good?": cell
    imbalance (:func:`index_stats`) is a cheap PROXY for codebook
    drift, but the number a retrieval product cares about is recall,
    and after enough distribution shift an index can stay balanced
    while recall rots. Run this weekly (or after large appends) beside
    the nightly ``ann stats``.

    Probes are a hash-sampled, smallest-id-first slice of ``source``
    (deterministic across runs — week-over-week recall numbers compare
    a fixed probe set, not sampling noise; change ``salt`` to rotate
    the panel). Honest cost: ONE scan of the source's (id, vec)
    projection against the broadcast probe set for the exact
    brute-force side — bounded ``n_probes`` keeps the per-row work
    constant — plus one index search (cell-pruned; ``rerank_top``
    evaluates the IVFADC+R configuration end-to-end). Returns
    ``{"recall_at_k", "k", "n_probes", "n_probe_centroids",
    "rerank_top"}``."""
    from pydala_spark.operators.sampling import hash_sample
    from pydala_spark.operators.similarity import cosine_topk, topk_recall

    n_src = source.count()
    frac = min(1.0, (4.0 * n_probes) / max(n_src, 1))
    probes = (
        hash_sample(source, id_col, frac, salt=salt)
        .orderBy(F.col(id_col).asc())
        .limit(n_probes)
        # the probe panel feeds BOTH sides; without the cut the hash
        # sample + sort re-executes per consumer and a tie at the limit
        # boundary could even differ between them
        .localCheckpoint(eager=True)
    )
    exact = cosine_topk(source, probes, id_col=id_col, vec_col=vec_col, k=k)
    appx = search_ivfpq_index(
        spark, path, probes, id_col=id_col, vec_col=vec_col, k=k,
        n_probe_centroids=n_probe_centroids,
        rerank_top=rerank_top,
        rerank_source=source if rerank_top is not None else None,
        # "prune", not the strict default: the eval's job is to MEASURE
        # a drifted index (index holding ids the source no longer has),
        # so uncovered pool candidates drop out of the re-rank and the
        # drift shows up as the recall number — erroring every night
        # would turn the drift detector into a cron outage
        rerank_coverage="prune",
    )
    row = topk_recall(appx, exact).agg(
        F.avg("recall").alias("r"), F.count("*").alias("n")
    ).collect()[0]
    return {
        "recall_at_k": float(row["r"]) if row["r"] is not None else None,
        "k": k,
        "n_probes": int(row["n"]),
        "n_probe_centroids": n_probe_centroids,
        "rerank_top": rerank_top,
    }


def search_ivfpq_index(
    spark,
    path: str,
    probes: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_probe_centroids: int = 2,
    rerank_top: int | None = None,
    rerank_source: DataFrame | None = None,
    rerank_coverage: str = "strict",
) -> DataFrame:
    """Top-k search over a persisted IVFADC index: loads the codebooks,
    broadcasts the probes (cells + LUTs) and equi-joins on the ``cell``
    PARTITION column — the broadcast join key feeds Spark's dynamic
    partition pruning, so only the probed cells' files are read (the
    scan cost is per-query proportional to cells probed, not index
    size). The sidecar's stored ``residual`` flag, anchors and OPQ
    rotation pick the scoring math, so a search can never silently
    mismatch the index encoding. ``rerank_top=C`` + ``rerank_source=``
    (the original vector frame) add the IVFADC+R exact re-ranking pass
    — see :func:`ivf_pq_topk` (the index stores codes, not vectors, so
    the source frame is required here)."""
    idx, cents, books, residual, anchors, rotation = load_ivfpq_index(
        spark, path
    )
    return ivf_pq_topk(
        idx, probes, cents, books,
        id_col=id_col, vec_col=vec_col, k=k,
        n_probe_centroids=n_probe_centroids, encoded=True,
        residual=residual, anchors=anchors, rotation=rotation,
        rerank_top=rerank_top, rerank_source=rerank_source,
        rerank_coverage=rerank_coverage,
    )

def index_stats(spark, path: str) -> dict:
    """Health report for a persisted IVFADC index (round 6) — the check
    an ops runbook runs before trusting search latency: IVF cost is
    proportional to the PROBED cells' sizes, so one hot cell (skewed
    corpus, stale codebook after drift) silently turns an n_probes=8
    search into a near-full scan. Returns::

        {"n_cells", "n_vectors", "min_cell", "max_cell",
         "avg_cell",             # n_vectors / n_cells (ALL centroids)
         "avg_occupied_cell",    # n_vectors / occupied cells only
         "imbalance",            # max_cell / avg_cell — 1.0 is perfect
         "empty_cells",          # centroids that attract nothing
         "residual", "dim", "m"} # how the codes were built (sidecar)

    ``avg_cell`` (and hence ``imbalance``) divides by ALL centroids, so
    a codebook where half the cells are empty reads as imbalance ≈ 2×
    even if the occupied cells are even — empty cells ARE skew (probes
    that land on them scan nothing while hot cells absorb their mass).
    ``avg_occupied_cell`` is the per-occupied-cell mean for sizing.

    Cost: ONE count aggregation over the cell partition column (parquet
    scans count from footer metadata — no code columns are read), plus
    the two sidecar reads. Remedies for a bad report: retrain the
    codebook on fresh data (imbalance), or lower n_centroids
    (empty_cells)."""
    idx, cents, books, residual, _anchors, _rot = load_ivfpq_index(spark, path)
    sizes = idx.groupBy("cell").count().collect()
    counts = [r["count"] for r in sizes]
    n_vec = int(sum(counts))
    n_cells_used = len(counts)
    n_cells = int(cents.shape[0])
    avg = n_vec / max(n_cells, 1)
    return {
        "n_cells": n_cells,
        "n_vectors": n_vec,
        "min_cell": int(min(counts)) if counts else 0,
        "max_cell": int(max(counts)) if counts else 0,
        "avg_cell": avg,
        "avg_occupied_cell": n_vec / max(n_cells_used, 1),
        "imbalance": (max(counts) / avg) if counts and avg else 0.0,
        "empty_cells": n_cells - n_cells_used,
        "residual": residual,
        "dim": int(cents.shape[1]),
        "m": int(books.shape[0]),
    }
