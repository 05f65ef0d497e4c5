"""Composable corpus-preparation pipeline: the end-to-end shape an
LLM training-data job runs over a document table.

clean/stats -> exact dedup -> near-dup removal (MinHash-LSH) ->
decontamination (vs a benchmark set) -> quality filter -> shard packing,
all as one lazy DataFrame program (one action executes the whole
pipeline; Catalyst sees every stage).

Scale: stages are the shuffle-analyzed operators from operators/dedup.py
(see SCALE.md); the near-dup removal is greedy by default — of each
candidate pair the higher id drops (or the lower-scored member, with
``near_dup_score_col``). Greedy pair-drop approximates connected-component
dedup without an iterative algorithm; corpora with long duplicate chains
set ``near_dup_mode="cluster"`` (pointer-jumping connected components +
one representative per component) or iterate the near-dup stage (each
pass is one LSH round). Decontamination is selectable across all three
modalities (``decontaminate_mode="ngram"|"winnowing"|"embedding"``), and
the near-dup / winnowing stages can consume ingest-materialized
signature sidecars (``precomputed_minhash`` / ``precomputed_fps``, see
dataset/maintain.py:materialize_signatures) instead of re-hashing text.
"""

from __future__ import annotations

import inspect

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pydala_spark.dataset.reader import apply_distinct
from pydala_spark.operators.dedup import (
    decontaminate,
    lsh_candidate_pairs,
    minhash_signatures,
)
from pydala_spark.operators.textstats import fingerprint, quality_stats


def prep_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_quality: int = 2,
    near_dup: bool = True,
    n_hashes: int = 8,
    n_bands: int = 4,
    benchmark: DataFrame | None = None,
    decontaminate_min_hits: int = 2,
    shard_tokens: int | None = None,
    shard_bpe_merges: list | None = None,
    max_dup_ngram_frac: float | None = None,
    max_top_ngram_char_frac: float | None = None,
    blocked_hosts: list[str] | DataFrame | None = None,
    redact: bool = False,
    strip_markup: bool = False,
    paragraph_dedup: bool = False,
    paragraph_max_occurrences: int | None = None,
    keep_langs: list | None = None,
    drop_mixed: bool = False,
    span_dedup: bool = False,
    span_min_chars: int = 50,
    span_k: int = 20,
    span_window: int = 8,
    span_min_df: int = 2,
    near_dup_score_col: str | None = None,
    near_dup_max_bucket: int | None = 1000,
    near_dup_log_dropped: bool = False,
    near_dup_seed: int = 0,
    near_dup_shingle_mode: str = "word",
    near_dup_shingle_size: int | None = None,
    decontaminate_shingle_size: int | None = None,
    near_dup_mode: str = "greedy",
    decontaminate_mode: str = "ngram",
    decontaminate_threshold: float = 0.9,
    decontaminate_block_bits: int | None = None,
    decontaminate_dim: int | None = None,
    decontaminate_n_probes: int = 1,
    vec_col: str | None = None,
    winnowing_k: int = 8,
    winnowing_window: int = 4,
    precomputed_minhash: DataFrame | None = None,
    precomputed_fps: DataFrame | None = None,
    precomputed_spans: DataFrame | tuple | None = None,
    semantic_dedup: bool = False,
    semantic_threshold: float = 0.2,
    semantic_centroids=None,
    semantic_score_col: str | None = None,
    precomputed_cells: DataFrame | tuple | None = None,
    classifier_weights: list | None = None,
    classifier_bias: float = 0.0,
    min_classifier_logit: float | None = None,
    stage_frames: dict | None = None,
) -> DataFrame:
    """Return the cleaned corpus: quality columns attached, docs linking
    blocklisted hosts dropped (when ``blocked_hosts`` is given — the
    RefinedWeb URL-filter step, run FIRST so later stages never touch
    dropped docs), PII spans redacted in place (``redact=True`` — before
    fingerprinting, so near-identical docs differing only in contact
    info dedup together), exact and near duplicates removed (keeping the
    lowest id — or, for near-dups with ``near_dup_score_col``, the
    best-scored member of each pair, NULL scores losing first), benchmark-contaminated docs dropped (when ``benchmark``
    is given), low-quality and (when the ``max_*`` thresholds are set)
    repetition-heavy docs dropped per the Gopher rules — and, when
    ``shard_tokens`` is set, packed into fixed-token-budget training
    shards (adds ``n_tokens``, ``cum_before`` and ``shard_id``; packing
    runs after every filter so shards are gap-free; pass a
    ``shard_bpe_merges`` table from :func:`~pydala_spark.operators.bpe.
    train_bpe` to budget by LEARNED subword counts instead of
    whitespace words).

    ``strip_markup=True`` converts HTML to text before any signal;
    ``paragraph_dedup=True`` additionally removes corpus-wide repeated
    lines (``dedup_paragraphs``; ``paragraph_max_occurrences`` drops
    ubiquitous boilerplate from every doc) and drops hollowed-out docs BEFORE
    fingerprinting, so boilerplate never drives the document-level
    dedups. Paragraph dedup rebuilds ``text_col`` via joins that later
    stages re-traverse; for very large corpora persist/write the rebuilt
    frame between the two phases.

    ``near_dup_max_bucket`` caps LSH bucket size (degenerate viral
    near-dup buckets drop instead of exploding quadratically;
    ``near_dup_log_dropped`` logs what dropped at the cost of one extra
    job); ``near_dup_seed`` salts the MinHash family AND rotates band
    boundaries so chained passes recover pairs a single banding misses.
    ``near_dup_shingle_mode="char"`` switches the MinHash stage AND the
    decontamination stage to character shingles (the corpus's script
    decides the unit once) — required for CJK/unsegmented corpora,
    where word shingling collapses each clause into one token. Sizes
    default per mode (3 words / 7 chars) and are tuned INDEPENDENTLY:
    ``near_dup_shingle_size`` affects only the MinHash stage,
    ``decontaminate_shingle_size`` only decontamination — retuning LSH
    granularity must not silently weaken the benchmark overlap test.

    ``near_dup_mode`` (round 6) selects how LSH candidate pairs turn
    into drops: ``"greedy"`` (default, historical) drops the loser of
    each PAIR independently — a~b, b~c keeps {a, c} even though the
    chain is one duplicate family; ``"cluster"`` resolves full
    connected components first (:func:`~pydala_spark.operators.dedup.
    dedup_clusters`, pointer-jumping over the LSH-reduced edge set) and
    keeps exactly one representative per component
    (:func:`~pydala_spark.operators.dedup.keep_cluster_representatives`
    — best ``near_dup_score_col`` when set, else smallest id). Cluster
    mode costs O(log chain-diameter) extra shuffles over the PAIR set
    only (orders of magnitude smaller than the corpus), and is the mode
    that matches what "near-duplicate removal" means on corpora with
    viral template chains.

    ``decontaminate_mode`` (round 6) selects the benchmark-overlap
    modality, all three sharing the broadcast-benchmark shape:
    ``"ngram"`` (default, historical) = exact shingle overlap;
    ``"winnowing"`` = MOSS robust character fingerprints
    (``winnowing_k``/``winnowing_window``, survives tokenizer-hostile
    edits); ``"embedding"`` = cosine proximity in embedding space
    (requires ``vec_col`` on BOTH corpus and benchmark;
    ``decontaminate_threshold`` is the cosine cutoff — catches
    paraphrased leakage that shares no shingles).

    ``precomputed_minhash`` / ``precomputed_fps`` (round 6) feed
    ingest-materialized signature sidecars
    (:func:`~pydala_spark.dataset.maintain.materialize_signatures`) so
    the near-dup / winnowing-decontamination stages never re-hash the
    corpus text: the minhash frame is semi-joined down to the docs still
    alive after exact dedup (so pair semantics match the inline path),
    the fps frame feeds ``winnowing_contamination(precomputed_fps=
    True)`` directly. Both REQUIRE the text-mutating stages
    (``strip_markup`` / ``redact`` / ``paragraph_dedup``) to be off —
    signatures hashed from raw ingest text must not stand in for text
    those stages rewrote.

    ``precomputed_spans`` (round 8) feeds the ``span_dedup`` stage from
    the ``spans`` signature sidecar so the engine's single most
    expensive hashing pass (per-char-window fingerprints) runs ONCE at
    ingest instead of every sweep: the stage then scans corpus text
    exactly once — the surgery itself — with zero hashing. Pass the
    ``(frame, params)`` tuple :func:`~pydala_spark.dataset.maintain.
    read_signatures` returns (recommended — the recorded params then
    drive the span-boundary math, making a ``span_k``/``span_window``
    mismatch impossible) or the bare frame (then ``span_k`` /
    ``span_window`` MUST equal the sidecar's hashing params; guard with
    ``expect=`` on ``read_signatures``). Requires ``span_dedup=True``
    and, like the other sidecars, forbids the stages that rewrite text
    BEFORE spans are consumed (``strip_markup`` / ``redact`` /
    ``paragraph_dedup``); row-dropping stages (blocklist, lang filter)
    are fine — the sidecar is semi-joined down to the surviving docs so
    document-frequency counts match the inline path. Unlike
    minhash/fps, ``span_dedup``'s own rewrite is the POINT here, so the
    near-dup/decontamination sidecars cannot be combined with it.

    ``semantic_dedup=True`` (round 9) runs SemDeDup — embedding-space
    near-duplicate removal (:func:`~pydala_spark.operators.similarity.
    semantic_dedup`) — as a stage between near-dup and decontamination,
    closing the one dedup modality the one-call pipeline couldn't run:
    a corpus carrying ``vec_col`` drops every doc with a sufficiently
    cosine-similar cluster-mate (``semantic_threshold``), keeping the
    smallest id — or the best ``semantic_score_col`` member (e.g.
    ``"q_score"``, already attached by the quality stage). Cell
    assignment needs either ``semantic_centroids`` (inline k-means
    codebook — one Arrow-batched matmul scan) or ``precomputed_cells``:
    the ``embedding_cells`` signature sidecar
    (:func:`~pydala_spark.dataset.maintain.materialize_signatures`),
    passed as the ``(frame, params)`` tuple ``read_signatures`` returns
    (recommended — the recorded ``codebook_sha`` then refuses a
    retrained codebook) or the bare frame. With cells the assignment
    matmul (the stage's dominant cost at SemDeDup codebook sizes)
    disappears into one id-keyed equi-join. Unlike the TEXT sidecars,
    ``precomputed_cells`` composes with ``strip_markup`` / ``redact`` /
    ``paragraph_dedup`` / ``span_dedup`` — cells are hashed from the
    EMBEDDINGS, which text surgery never rewrites — and row-dropping
    stages are covered by the survivor restriction (an id the sidecar
    misses still fails loud inside the operator).

    ``classifier_weights`` (round 9) ships a TRAINED quality/toxicity
    filter inside the pipeline — the CCNet/fastText production pattern
    (:func:`~pydala_spark.operators.textstats.classifier_score`): a
    list of ``(feature_column, weight)`` pairs (column names resolve
    against the quality_stats features and any input column; TOML form
    ``[["stopword_ratio", 2.0], ...]``) plus ``classifier_bias``
    attaches ``clf_logit``/``clf_prob`` right after the quality
    features — so ``near_dup_score_col="clf_prob"`` /
    ``semantic_score_col="clf_prob"`` can keep the classifier-best
    member of each duplicate group — and ``min_classifier_logit`` gates
    on the logit beside the q_score gate (the logit, not the sigmoid:
    thresholds on a monotone transform are the same filter, and the
    logit is exactly reproducible cross-engine). Scoring is pure column
    algebra — zero Python, map-side, the weights froze offline
    (:func:`~pydala_spark.operators.textstats.
    train_quality_classifier`).

    Pass an empty dict as ``stage_frames`` to receive the intermediate
    DataFrame after each enabled stage (keys: input, blocklist,
    paragraph_dedup, lang_filter, span_dedup, repetition, exact_dedup, near_dup,
    semantic_dedup, decontaminate, quality, classifier) — the hook :func:`pipeline_report` uses to count per-stage
    survivors without duplicating the stage logic."""
    if paragraph_max_occurrences is not None:
        # the cap only means anything inside the paragraph stage; a
        # silently ignored knob would ship the boilerplate it promised
        # to drop (r4 review)
        paragraph_dedup = True
    if near_dup_score_col and not near_dup:
        raise ValueError(
            "near_dup_score_col requires near_dup=True — with the "
            "near-dup stage disabled the score would be silently ignored"
        )
    if near_dup_mode not in ("greedy", "cluster"):
        raise ValueError(
            f"near_dup_mode={near_dup_mode!r} (expected 'greedy' or "
            "'cluster')"
        )
    if decontaminate_mode not in ("ngram", "winnowing", "embedding"):
        raise ValueError(
            f"decontaminate_mode={decontaminate_mode!r} (expected "
            "'ngram', 'winnowing' or 'embedding')"
        )
    if decontaminate_mode == "embedding" and benchmark is not None and not vec_col:
        raise ValueError(
            "decontaminate_mode='embedding' requires vec_col — the "
            "modality compares embeddings, not text"
        )
    if precomputed_minhash is not None or precomputed_fps is not None:
        # ingest-time signatures hash the RAW text; any stage that
        # rewrites text_col before the consuming stage would silently
        # dedup/decontaminate against stale hashes (round-6 contract)
        if strip_markup or redact or paragraph_dedup or span_dedup:
            raise ValueError(
                "precomputed signatures cannot be combined with "
                "strip_markup/redact/paragraph_dedup/span_dedup — those "
                "stages rewrite the text the signatures were hashed "
                "from; either materialize signatures from the cleaned "
                "text or compute inline"
            )
    if precomputed_fps is not None and decontaminate_mode != "winnowing":
        raise ValueError(
            "precomputed_fps is a winnowing-fingerprint sidecar — set "
            "decontaminate_mode='winnowing' (a silently ignored sidecar "
            "would re-hash the corpus the caller paid to avoid)"
        )
    if precomputed_minhash is not None and not near_dup:
        raise ValueError(
            "precomputed_minhash requires near_dup=True — with the "
            "near-dup stage disabled the sidecar would be silently "
            "ignored (same rule as precomputed_fps)"
        )
    if precomputed_fps is not None and benchmark is None:
        raise ValueError(
            "precomputed_fps requires a benchmark — without one the "
            "decontamination stage never runs and the sidecar would be "
            "silently ignored (same loud-fail rule as the other "
            "precomputed mismatches)"
        )
    precomputed_spans_params = None
    if isinstance(precomputed_spans, tuple):
        precomputed_spans, precomputed_spans_params = precomputed_spans
    if precomputed_spans is not None:
        if not span_dedup:
            raise ValueError(
                "precomputed_spans requires span_dedup=True — with the "
                "span stage disabled the sidecar would be silently "
                "ignored (same rule as the other precomputed sidecars)"
            )
        if strip_markup or redact or paragraph_dedup:
            raise ValueError(
                "precomputed_spans cannot be combined with "
                "strip_markup/redact/paragraph_dedup — those stages "
                "rewrite the text the span fingerprints were hashed "
                "from; materialize the sidecar from the cleaned text or "
                "compute inline"
            )
    if near_dup_mode != "greedy" and not near_dup:
        raise ValueError(
            "near_dup_mode requires near_dup=True — with the near-dup "
            "stage disabled the mode selection would be silently ignored "
            "(same rule as near_dup_score_col)"
        )
    precomputed_cells_params = None
    if isinstance(precomputed_cells, tuple):
        precomputed_cells, precomputed_cells_params = precomputed_cells
    if precomputed_cells is not None and not semantic_dedup:
        raise ValueError(
            "precomputed_cells requires semantic_dedup=True — with the "
            "semantic stage disabled the sidecar would be silently "
            "ignored (same rule as the other precomputed sidecars)"
        )
    if semantic_score_col and not semantic_dedup:
        raise ValueError(
            "semantic_score_col requires semantic_dedup=True — with the "
            "semantic stage disabled the score would be silently ignored"
        )
    if semantic_dedup:
        if not vec_col:
            raise ValueError(
                "semantic_dedup=True requires vec_col — the stage "
                "compares embeddings, not text"
            )
        if semantic_centroids is None and precomputed_cells is None:
            raise ValueError(
                "semantic_dedup=True needs semantic_centroids= (inline "
                "cell assignment) or precomputed_cells= (a materialized "
                "embedding_cells sidecar)"
            )
    if min_classifier_logit is not None and not classifier_weights:
        raise ValueError(
            "min_classifier_logit requires classifier_weights — without "
            "a model the threshold would be silently ignored (same rule "
            "as the other orphaned knobs)"
        )

    def _stage(name: str, frame: DataFrame) -> None:
        if stage_frames is not None:
            stage_frames[name] = frame

    _stage("input", df)
    # 0. scrub stages, cheapest-first map-side column algebra. Order:
    # URL blocklist BEFORE the markup strip (filtering reads the raw
    # text's URLs; stripping first would turn <a href> targets into
    # plain words the extractor may miss), then ``strip_markup=True``
    # (the web-corpus entry step — every downstream signal, fingerprint
    # and shingle must see text, not tags), then PII redaction.
    if blocked_hosts is not None:
        from pydala_spark.operators.scrub import filter_host_blocklist

        df = filter_host_blocklist(df, blocked_hosts, id_col, text_col)
        _stage("blocklist", df)
    if strip_markup:
        from pydala_spark.operators.scrub import strip_html

        # with paragraph dedup downstream, keep line breaks — the full
        # whitespace collapse would fuse each doc into one line and
        # silently neuter the paragraph stage (r4 review)
        df = df.withColumn(
            text_col,
            strip_html(text_col, preserve_newlines=paragraph_dedup),
        )
    if redact:
        from pydala_spark.operators.scrub import redact_pii

        df = df.withColumn(text_col, redact_pii(text_col))
    if paragraph_dedup:
        # sub-document boilerplate removal (dedup_paragraphs) BEFORE any
        # quality signal or fingerprint: a doc that is original except
        # for a shared footer should dedup/score on its original lines
        from pydala_spark.operators.dedup import dedup_paragraphs

        rebuilt = dedup_paragraphs(
            df, id_col=id_col, text_col=text_col,
            max_occurrences=paragraph_max_occurrences,
        )
        df = (
            df.drop(text_col)
            .join(
                rebuilt.where(F.col("n_kept") > 0)
                .select(F.col("id").alias(id_col), F.col("text").alias(text_col)),
                id_col,
            )
        )
        _stage("paragraph_dedup", df)
    if keep_langs is not None or drop_mixed:
        # language routing (textstats.lang_profile): the standard
        # web-pipeline stage — run AFTER markup strip (tags would skew
        # the Latin count) and BEFORE any dedup/quality cost is paid on
        # docs that will not ship. keep_langs filters on the two-stage
        # label; drop_mixed additionally drops code-switch docs (the
        # is_mixed rule) whose single label is unreliable either way.
        # lang_profile is pure projection, so the filter runs IN-LINE
        # on the same pass (a semi-join of a derived profile would
        # re-execute every upstream stage as a self-join — r6 review).
        from pydala_spark.operators.textstats import (
            SCRIPT_RANGES,
            STOPWORDS,
            lang_profile,
        )

        if keep_langs is not None:
            known = set(SCRIPT_RANGES) | set(STOPWORDS) | {"other"}
            keep_langs = [str(x).lower() for x in keep_langs]
            bad = sorted(set(keep_langs) - known)
            if bad or not keep_langs:
                # an unknown code (or empty list) matches zero labels
                # and would silently drop the entire corpus
                raise ValueError(
                    f"keep_langs: unknown language code(s) {bad or '[]'} "
                    f"— known labels: {sorted(known)}"
                )
        cols = df.columns
        prof = lang_profile(df, text_col)
        cond = F.lit(True)
        if keep_langs is not None:
            cond &= F.col("lang_pred").isin(keep_langs)
        if drop_mixed:
            cond &= F.col("is_mixed") == 0
        df = prof.where(cond).select(*cols)
        _stage("lang_filter", df)
    if span_dedup:
        # cross-document duplicated-SPAN removal (ExactSubstr/BFF-style,
        # dedup.remove_duplicate_spans) — like the paragraph stage it
        # rewrites text BEFORE any fingerprint/signal, so a doc that is
        # original except for a widely-duplicated passage dedups and
        # scores on its original content. Runs after paragraph dedup:
        # line-exact boilerplate is cheaper to kill there; this stage
        # catches the re-wrapped/mid-paragraph copies lines miss.
        from pydala_spark.operators.dedup import remove_duplicate_spans

        if precomputed_spans is not None:
            # ingest sidecar covers the FULL corpus; restrict to docs
            # still alive (blocklist / lang filter drop rows without
            # rewriting text) so document-frequency counts — and thus
            # the spans — match the inline path
            span_fps = precomputed_spans.join(
                df.select(F.col(id_col).alias("id")), "id", "left_semi"
            )
            df = remove_duplicate_spans(
                df, id_col, text_col, k=span_k, window=span_window,
                min_span=span_min_chars, min_df=span_min_df,
                fingerprints=span_fps, params=precomputed_spans_params,
            )
        else:
            df = remove_duplicate_spans(
                df, id_col, text_col, k=span_k, window=span_window,
                min_span=span_min_chars, min_df=span_min_df,
            )
        _stage("span_dedup", df)
    # 1. quality features (pure column algebra)
    out = quality_stats(df, text_col)
    if classifier_weights:
        # attach the trained filter's score EARLY (right after its
        # feature columns exist) so the dedup stages can keep the
        # classifier-best member (near_dup_score_col / semantic_score_col
        # = "clf_prob"); the GATE itself runs with the quality gate at
        # the end — scoring is map-side column algebra either way
        from pydala_spark.operators.textstats import classifier_score

        out = classifier_score(
            out,
            [(F.col(str(name)), float(w)) for name, w in classifier_weights],
            bias=classifier_bias,
        )
    # 1b. Gopher repetition gate (doc-keyed aggregation, only when asked)
    if max_dup_ngram_frac is not None or max_top_ngram_char_frac is not None:
        from pydala_spark.operators.textstats import repetition_stats

        rep = repetition_stats(df, id_col=id_col, text_col=text_col)
        cond = F.lit(True)
        if max_dup_ngram_frac is not None:
            cond &= F.col("dup_ngram_frac") <= max_dup_ngram_frac
        if max_top_ngram_char_frac is not None:
            cond &= F.col("top_ngram_char_frac") <= max_top_ngram_char_frac
        keep = rep.where(cond).select(id_col)
        out = out.join(keep, id_col, "left_semi")
        _stage("repetition", out)
    # 2. exact dedup: keep the first (lowest-id) doc per fingerprint.
    # NULL fingerprints (empty normalized text) dedup on a per-row
    # surrogate so punctuation-only docs never collapse into one NULL
    # group (textstats.fingerprint contract)
    out = out.withColumn("fp", fingerprint(text_col))
    out = out.withColumn(
        "__fpk",
        F.coalesce(
            F.col("fp"), F.concat(F.lit("\x00id:"), F.col(id_col).cast("string"))
        ),
    )
    out = apply_distinct(
        out, subset=["__fpk"], keep="first", presort=[(id_col, True)]
    ).drop("__fpk")
    _stage("exact_dedup", out)
    # 3. near-dup removal: greedy per-pair drop. Default loser is the
    # higher id; with ``near_dup_score_col`` (e.g. "q_score", already on
    # ``out`` by this stage) the LOWER-SCORED member of each pair drops,
    # ties falling back to the higher id — keep the best-quality copy,
    # not an arbitrary one. One extra broadcast-sized join of the pair
    # list against the (id, score) projection; plan shape unchanged.
    default_shingle = 7 if near_dup_shingle_mode == "char" else 3
    if near_dup:
        shingle_size = (
            near_dup_shingle_size
            if near_dup_shingle_size is not None
            else default_shingle
        )
        if precomputed_minhash is not None:
            # ingest sidecar covers the FULL corpus; restrict to docs
            # still alive after exact dedup so candidate pairs (and thus
            # greedy losers / cluster members) match the inline path —
            # a pair against an already-dropped doc must not exist
            sigs = precomputed_minhash.join(
                out.select(id_col), id_col, "left_semi"
            )
        else:
            sigs = minhash_signatures(
                out, id_col, text_col, n_hashes=n_hashes, seed=near_dup_seed,
                shingle_size=shingle_size, shingle_mode=near_dup_shingle_mode,
            )
        # near_dup_max_bucket (round 5): the degenerate-bucket cap IS
        # exposed in the flagship path — exact dedup runs first, but a
        # near-identical viral template (not byte-identical, so it
        # survives exact dedup) would otherwise make one bucket's pair
        # explosion quadratic in corpus size. Oversized buckets drop
        # (their members are already known-near-identical — route them
        # through a tighter exact/paragraph dedup instead);
        # near_dup_log_dropped=False by default because the drop log
        # costs one extra aggregation job in the hot ingest path.
        pairs = lsh_candidate_pairs(
            sigs,
            id_col,
            n_bands=n_bands,
            max_bucket_size=near_dup_max_bucket,
            log_dropped=near_dup_log_dropped,
            seed=near_dup_seed,
        )
        if near_dup_mode == "cluster":
            # resolve full connected components over the pair set, then
            # keep ONE representative per component — the a~b~c chain
            # that greedy under-merges (keeps {a, c}) collapses to {a}
            # (or the best-scored member). Extra cost is O(log diameter)
            # rounds over the LSH-reduced EDGE set only.
            from pydala_spark.operators.dedup import (
                dedup_clusters,
                keep_cluster_representatives,
            )

            clusters = dedup_clusters(pairs)
            out = keep_cluster_representatives(
                out, clusters, id_col, score_col=near_dup_score_col
            )
            _stage("near_dup", out)
        elif near_dup_score_col:
            # ONE join of the exploded pair members against the (id,
            # score) projection (joining the corpus projection twice
            # would traverse the whole upstream lineage twice — r4
            # review), then a per-pair rank over (score asc, id desc):
            # the loser is the lower-scored member, NULL scores rank as
            # -inf (lose first), ties drop the higher id — identical to
            # semantic_dedup's scored rule. row_number over the 2-row
            # pair partition (not min_by over a negated id) keeps the
            # tiebreak type-agnostic: string doc ids can't be negated
            # (r4 advice)
            from pyspark.sql import Window

            sc = out.select(
                F.col(id_col).alias("__sid"),
                F.coalesce(
                    F.col(near_dup_score_col).cast("double"),
                    F.lit(float("-inf")),
                ).alias("__sc"),
            )
            ex = pairs.select(
                "id_a", "id_b",
                F.explode(F.array("id_a", "id_b")).alias("__mid"),
            )
            w = Window.partitionBy("id_a", "id_b").orderBy(
                F.asc("__sc"), F.desc("__mid")
            )
            losers = (
                ex.join(sc, F.col("__mid") == F.col("__sid"))
                .withColumn("__rk", F.row_number().over(w))
                .where(F.col("__rk") == 1)
                .select(F.col("__mid").alias(id_col))
                .distinct()
            )
            out = out.join(losers, id_col, "left_anti")
            _stage("near_dup", out)
        else:
            losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
            out = out.join(losers, id_col, "left_anti")
            _stage("near_dup", out)
    # 3b. SemDeDup over the text-dedup survivors: the embedding modality
    # catches paraphrases that share no shingles, and running it AFTER
    # the cheap text dedups means the quadratic-in-cell pair work never
    # pays for docs MinHash already killed. With a cells sidecar the
    # operator's left-join restriction doubles as the survivor filter
    # (dropped ids simply never join), and a survivor the sidecar
    # misses raises inside semantic_dedup rather than slipping through.
    if semantic_dedup:
        from pydala_spark.operators.similarity import (
            semantic_dedup as _semantic_dedup,
        )

        verdict = _semantic_dedup(
            out,
            centroids=semantic_centroids,
            id_col=id_col,
            vec_col=vec_col,
            threshold=semantic_threshold,
            score_col=semantic_score_col,
            cells=precomputed_cells,
            params=precomputed_cells_params,
        )
        out = out.join(
            verdict.where(F.col("kept")).select(F.col("id").alias(id_col)),
            id_col,
            "left_semi",
        )
        _stage("semantic_dedup", out)
    # 4. benchmark decontamination (broadcast eval-set shingles). The
    # corpus's script decides the shingle UNIT once (near_dup_shingle_mode
    # — char-mode corpora would otherwise be decontaminated with word
    # shingles, which are blind on unsegmented text), but the SIZE is
    # independent: retuning LSH granularity must not silently weaken the
    # overlap test (r5 review)
    if benchmark is not None:
        if decontaminate_mode == "ngram":
            out = decontaminate(
                out, benchmark, id_col, text_col,
                min_hits=decontaminate_min_hits,
                shingle_size=(
                    decontaminate_shingle_size
                    if decontaminate_shingle_size is not None
                    else default_shingle
                ),
                shingle_mode=near_dup_shingle_mode,
            )
        elif decontaminate_mode == "winnowing":
            from pydala_spark.operators.dedup import winnowing_contamination
            from pydala_spark.operators.textstats import (
                winnowing_fingerprints,
            )

            if precomputed_fps is not None:
                # sidecar covers the full corpus; hits on already-dropped
                # ids are harmless (the anti-join only removes survivors)
                # and filtering them here would cost a join for nothing
                hits = winnowing_contamination(
                    precomputed_fps,
                    winnowing_fingerprints(
                        benchmark, id_col, text_col,
                        k=winnowing_k, window=winnowing_window,
                    ),
                    id_col,
                    min_hits=decontaminate_min_hits,
                    precomputed_fps=True,
                )
            else:
                hits = winnowing_contamination(
                    out, benchmark, id_col, text_col,
                    k=winnowing_k, window=winnowing_window,
                    min_hits=decontaminate_min_hits,
                )
            out = out.join(
                hits.select(F.col("id").alias(id_col)), id_col, "left_anti"
            )
        else:  # embedding
            from pydala_spark.operators.similarity import (
                semantic_decontaminate,
            )

            # block_bits switches the broadcast nested-loop to the
            # LSH-bucketed hash join for large benchmark sets (see
            # similarity.semantic_contamination round-6 knobs)
            out = semantic_decontaminate(
                out, benchmark, id_col, vec_col,
                threshold=decontaminate_threshold,
                block_bits=decontaminate_block_bits,
                dim=decontaminate_dim,
                n_probes=decontaminate_n_probes,
            )
        _stage("decontaminate", out)
    # 5. quality gate
    out = out.where(F.col("q_score") >= min_quality)
    _stage("quality", out)
    # 5b. trained-classifier gate (logit threshold — exactly
    # reproducible; the sigmoid is monotone so the filter is identical)
    if min_classifier_logit is not None:
        out = out.where(F.col("clf_logit") >= F.lit(float(min_classifier_logit)))
        _stage("classifier", out)
    # 6. training-shard packing over the surviving docs
    if shard_tokens is not None:
        from pydala_spark.operators.packing import pack_shards

        if shard_bpe_merges is not None:
            # learned-vocabulary budgets (operators/bpe.py): shards
            # sized by what a trained tokenizer would actually produce
            # instead of whitespace word counts
            from pydala_spark.operators.bpe import bpe_token_count

            tok = bpe_token_count(text_col, shard_bpe_merges)
        else:
            from pydala_spark.operators.textstats import token_count

            tok = token_count(text_col)
        out = pack_shards(out, tok, id_col, shard_tokens)
    return out


#: the ``prep_documents`` kwarg each signature sidecar kind feeds; spans
#: and cells go as ``(frame, params)`` so the recorded params drive the
#: stage (span k/window; the cells' codebook sha refuses a retrained
#: codebook)
SIDECAR_KWARGS = {
    "spans": "precomputed_spans",
    "minhash": "precomputed_minhash",
    "winnowing": "precomputed_fps",
    "embedding_cells": "precomputed_cells",
}

#: each sidecar kind's recorded params and the ``prep_documents`` knob
#: that sets each: a sidecar serves a run only when they agree
SIDECAR_PARAMS = {
    "minhash": {"n_hashes": "n_hashes", "seed": "near_dup_seed",
                "shingle_mode": "near_dup_shingle_mode",
                "shingle_size": "near_dup_shingle_size"},
    "winnowing": {"k": "winnowing_k", "window": "winnowing_window"},
    "spans": {"k": "span_k", "window": "span_window"},
    # cells assigned from another embedding column would block-dedup
    # the wrong space
    "embedding_cells": {"vec_col": "vec_col"},
}

_PARAMS = inspect.signature(prep_documents).parameters

#: the ``prep_documents`` knobs a config file can express (frames and
#: hooks cannot)
PREP_KNOBS = frozenset(_PARAMS) - {
    "df", "benchmark", "stage_frames", *SIDECAR_KWARGS.values()}


def sidecar_kwargs(kind: str, frame: DataFrame, params: dict) -> dict:
    """The ``prep_documents`` kwarg that feeds a ``kind`` sidecar read
    as ``(frame, params)``."""
    if kind in ("spans", "embedding_cells"):
        return {SIDECAR_KWARGS[kind]: (frame, params)}
    return {SIDECAR_KWARGS[kind]: frame}


def effective_knobs(knobs: dict) -> dict:
    """Every knob's value in a ``prep_documents(**knobs)`` run: its
    defaults under ``knobs``, with the near-dup shingle size the MinHash
    stage derives when none is set (3 words, 7 chars)."""
    eff = {k: p.default for k, p in _PARAMS.items()
           if p.default is not p.empty}
    eff.update(knobs)
    eff["near_dup_shingle_size"] = eff["near_dup_shingle_size"] or (
        7 if eff["near_dup_shingle_mode"] == "char" else 3)
    return eff


def count_stages(stages: dict, write=None):
    """Yield ``(stage, survivor count)`` for each ``stage_frames`` entry
    of one ``prep_documents`` run, then call ``write()``. Each stage is
    persisted just before its count and released once the next stage
    has been counted, so every stage computes once, at most two stage
    caches are live, and the write reuses the last cached stage instead
    of re-running the lineage from the scan."""
    live: list = []
    try:
        for stage, frame in stages.items():
            frame.persist()
            live.append(frame)
            yield stage, frame.count()
            if len(live) > 1:
                live.pop(0).unpersist()
        if write is not None:
            write()
    finally:
        for frame in live:
            frame.unpersist()


def pipeline_report(df: DataFrame, **prep_kwargs) -> dict[str, int]:
    """Per-stage survivor counts for a :func:`prep_documents` run — the
    "where did my corpus go" diagnostic every production cleaning job
    needs when a config change suddenly halves the output. Runs the SAME
    lazy program (stage frames come from prep_documents itself, so the
    numbers cannot drift from the real pipeline); cost is one count
    action per enabled stage (:func:`count_stages`), so use it on a
    sample or during tuning, not inside the hot ingest path."""
    if "stage_frames" in prep_kwargs:
        raise ValueError(
            "pipeline_report owns the stage_frames parameter — pass only "
            "the other prep_documents kwargs (the report is built from "
            "the frames prep_documents records itself)"
        )
    stages: dict[str, DataFrame] = {}
    prep_documents(df, stage_frames=stages, **prep_kwargs)
    return dict(count_stages(stages))
