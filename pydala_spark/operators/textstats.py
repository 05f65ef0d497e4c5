"""Text analysis operators for LLM-pipeline data prep (north-star
extension, BASELINE.json): tokenization, quality scoring, language ID,
document fingerprinting.

Everything here is built-in-function Column algebra — JVM-side, inside
whole-stage codegen, no Python UDFs — so it runs at full scan speed over
100 TB of documents. md5 is used wherever a deterministic hash is needed
because its hex output is identical across engines (oracle-checkable).
"""

from __future__ import annotations

import numbers

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Tiny per-language stopword lists for the n-gram/stopword language
#: heuristic. Deliberately small + common (public knowledge lists).
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "that", "for"],
    "de": ["der", "die", "das", "und", "ist", "ein", "nicht", "mit", "zu", "auf"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es", "por", "con"],
    "fr": ["le", "la", "de", "et", "un", "est", "que", "pour", "dans", "ce"],
    # round 5: three more Latin-script languages (dict order = tiebreak
    # priority; lists avoid single-letter words so English-ish corpora
    # can't accidentally accumulate hits)
    "it": ["il", "di", "che", "per", "non", "una", "sono", "come", "anche", "della"],
    "pt": ["que", "não", "uma", "para", "com", "os", "mais", "das", "foi", "como"],
    "nl": ["het", "een", "van", "niet", "dat", "ze", "voor", "met", "maar", "zijn"],
}


def tokens(col: str | Column) -> Column:
    """Whitespace tokenization of trimmed text. Empty/whitespace-only
    text yields ZERO tokens (split of '' returns [''], which would
    otherwise inflate token counts by one per empty doc)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.trim(c), r"\s+"), lambda t: t != F.lit(""))


def token_count(col: str | Column) -> Column:
    return F.size(tokens(col))


def latin_char_count(col: str | Column) -> Column:
    """ASCII ``[a-z]`` count of the LOWERCASED text — value-identical to
    ``regexp_count(lower(c), '[a-z]')`` (verified mismatch-free corpus-
    wide) but via ``translate``, a plain char-map pass: ~5× cheaper per
    row than the regex engine (round 8 — this single count was the most
    expensive expression in the language-ID family)."""
    lowered = F.lower(F.col(col) if isinstance(col, str) else col)
    return F.length(lowered) - F.length(
        F.translate(lowered, "abcdefghijklmnopqrstuvwxyz", "")
    )


#: CJK-ish character class (literal ranges — portable across Java regex
#: and RE2): Hiragana/Katakana, CJK Unified Ideographs, Hangul
#: syllables. Used by the multilingual token counter: these scripts
#: don't separate words with spaces, so whitespace counting sees a whole
#: clause as ONE token.
CJK_CHAR_CLASS = (
    "["
    + f"{chr(0x3040)}-{chr(0x30FF)}"
    + f"{chr(0x4E00)}-{chr(0x9FFF)}"
    + f"{chr(0xAC00)}-{chr(0xD7A3)}"
    + "]"
)


def token_count_multilingual(col: str | Column) -> Column:
    """Token count that is budget-meaningful on unsegmented scripts:
    every CJK/kana/Hangul character counts as one token (the ~1
    token/char BPE convention), and the remaining text counts by
    whitespace as usual. Whitespace counting alone prices a 500-char
    Chinese document at ~1 token — useless for training-shard budgets
    (``pack_shards`` accepts any count column; pass this one for
    multilingual corpora) and quality length gates. Pure column algebra
    (two regexes + the whitespace split), engine-portable literal
    ranges.

    Pure-ASCII rows (``octet_length == length`` — UTF-8 is multi-byte
    exactly for non-ASCII) short-circuit to the plain whitespace count:
    CASE WHEN is lazy per row in codegen, so on an ASCII-dominant
    corpus the two CJK regex passes never run (round 8, late; value-
    identical — an ASCII row has cjk = 0 and rest = text)."""
    c = F.col(col) if isinstance(col, str) else col
    cjk = F.regexp_count(c, F.lit(CJK_CHAR_CLASS))
    rest = F.regexp_replace(c, CJK_CHAR_CLASS, " ")
    return F.when(
        F.octet_length(c) == F.length(c), token_count(c)
    ).otherwise(token_count(rest) + cjk)


#: Unicode-aware token / normalization classes (round 5). ``\p{L}`` /
#: ``\p{N}`` are the Unicode letter/digit categories with the SAME syntax
#: and semantics in Java regex (Spark) and RE2 (DuckDB), so every oracle
#: stays portable. The previous ASCII classes (``[a-z0-9]``) normalized
#: every non-Latin document — CJK, Cyrillic, Arabic, Greek… — to the
#: EMPTY string, giving an entire non-English corpus ONE shared
#: fingerprint and collapsing it to a single doc under exact dedup.
WORD_TOKEN_PATTERN = r"[\p{L}\p{N}']+"
NORMALIZE_STRIP_PATTERN = r"[^\p{L}\p{N} ]"

#: Pre-lower case-fold map neutralizing the ONLY two places where
#: Java's full Unicode lowercasing diverges from a simple 1:1 mapping
#: (cross-engine fuzz, round 5): Greek capital sigma (Java applies the
#: context-sensitive FINAL-sigma rule — "ΟΣ" lowers to "ος" while
#: simple-mapping engines give "οσ") and Turkish dotted İ (Java expands
#: U+0130 to "i" + combining dot U+0307 — a mark the normalizer then
#: strips as a separator, SPLITTING the token). One ``translate`` pass
#: (codegen-friendly, identical semantics in DuckDB) maps both to
#: their plain lowercase BEFORE ``lower()``, so fingerprints and tokens
#: are engine-portable for every script the fuzz covers.
CASE_FOLD_SRC = "Σİ"
CASE_FOLD_DST = "σi"


def _folded_lower(c: Column) -> Column:
    return F.lower(F.translate(c, CASE_FOLD_SRC, CASE_FOLD_DST))


def word_regex_tokens(
    col: str | Column, pattern: str = WORD_TOKEN_PATTERN
) -> Column:
    """BPE-ish regex tokenization: all matches of ``pattern`` over the
    lowercased text (the parameter is honored — it previously silently
    fell back to the default split). The default pattern matches runs of
    Unicode letters/digits, so CJK/Cyrillic/Arabic text yields real
    tokens instead of none."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(_folded_lower(c), F.lit(pattern), F.lit(0))


def normalize_text(col: str | Column) -> Column:
    """Canonical form for fingerprinting: lowercase (with the
    ``CASE_FOLD_SRC`` pre-fold — see above), strip everything outside
    Unicode letters/digits/space, collapse whitespace."""
    c = F.col(col) if isinstance(col, str) else col
    cleaned = F.regexp_replace(_folded_lower(c), NORMALIZE_STRIP_PATTERN, " ")
    return F.trim(F.regexp_replace(cleaned, r"\s+", " "))


def nfc_normalize(col: str | Column, form: str = "NFC") -> Column:
    """Unicode normalization (UAX #15) — the opt-in pre-pass for
    corpora that mix composed and DECOMPOSED byte forms of the same
    text ("café" as ``é`` vs ``e``+U+0301): the two forms are
    byte-different, so every downstream md5 fingerprint, shingle and
    join key treats them as different documents unless normalized
    first. Arrow-batched pandas UDF (Spark has no built-in NFC
    expression) — Python in the path is why it is OPT-IN: run it once
    at ingest/write time, not inside every query. DuckDB's
    ``nfc_normalize`` matches Python's ``unicodedata`` byte-for-byte
    (both implement UAX #15 — oracle-pinned).

    ``form="NFKC"`` (round 6) adds COMPATIBILITY folding: CJK corpora
    carry full-width Latin (``ＡＢＣ`` vs ``ABC``) and half-width kana
    that NFC keeps distinct, so fingerprints of visually identical text
    differ; NFKC folds width variants (and ligatures, Roman numerals,
    superscripts) onto their canonical compatibility forms so they
    dedup together. DuckDB has no NFKC function, so the NFKC behavior
    is pinned by pytest against ``unicodedata`` (the NFC oracle family
    stays the cross-engine check)."""
    if form not in ("NFC", "NFKC"):
        raise ValueError(
            f"form={form!r} (expected 'NFC' or 'NFKC' — the D forms "
            "decompose text other operators expect composed)"
        )
    from pyspark.sql import types as T

    @F.pandas_udf(T.StringType())
    def _nfc(s: pd.Series) -> pd.Series:
        import unicodedata  # worker-side import (nested closure rule)

        return s.map(
            lambda t: None if t is None else unicodedata.normalize(form, t)
        )

    return _nfc(F.col(col) if isinstance(col, str) else col)


def fingerprint(col: str | Column) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text —
    NULL when the normalized text is EMPTY (no letters or digits at
    all). A NULL fingerprint must never join a dedup group: punctuation-
    only docs carry no content signal, and a shared sentinel hash would
    silently merge all of them into one surviving document
    (``dedup_exact`` / ``prep_documents`` key on a per-row surrogate for
    the NULL case)."""
    return F.md5(F.nullif(normalize_text(col), F.lit("")))


def _win_min_sql(hashes: str, window: int, var: str = "j") -> str:
    """SQL text of the winnowing per-window minimum under lambda var
    ``var`` (1-based window start): ``least`` of the window's ``get``s,
    degenerating to the bare element at window=1.

    The fragment is only correct inside a ``transform`` whose lambda
    variable is exactly ``var`` (ADVICE r16: the old hard-coded ``j``
    silently mis-resolved for any other var name — and an input frame
    with a real column named like the var would shadow it; keep the
    var out of the frame's column namespace)."""
    if window == 1:
        return f"get({hashes}, {var} - 1)"
    gets = ", ".join(
        f"get({hashes}, {var} + {o} - 1)" for o in range(window)
    )
    return f"least({gets})"


def winnowing_fingerprints(
    df, id_col: str, text_col: str = "text", k: int = 8, window: int = 4,
    keep_columns: bool = False,
):
    """Winnowing document fingerprints (the MOSS rolling-hash scheme):
    hash every character k-gram of the normalized text, then keep the
    minimum hash of each sliding window of ``window`` consecutive k-grams
    — a content-defined fingerprint set robust to insertions/reordering,
    guaranteed to share fingerprints with any document sharing a run of
    k+window-1 characters.

    Returns (id, fps) with the distinct fingerprint array sorted
    ascending. Staged as three projections on purpose: each lambda must
    reference a MATERIALIZED column, not an expression — Catalyst
    substitutes expressions into lambda bodies, turning the window pass
    into O(n²) re-hashing (measured: minutes instead of seconds).
    md5 plays the portable rolling hash (identical hex both engines).

    ``keep_columns=True`` (round 8, late) preserves every input column
    and appends the array as ``__fps`` — the ROW-PRESERVING form
    streaming consumers need (a streaming frame cannot join its
    fingerprints back to itself without a stream-stream join); the
    fingerprint math is the same staged expressions, so the two forms
    can never diverge.
    """
    # GENERATED SQL (round 16, guide §7.3): identical staged tree as the
    # Column spelling — each stage's lambda still references the
    # MATERIALIZED previous column — built in one parse per stage
    # instead of ~window py4j calls per position expression.
    #
    # least-of-gets, not array_min(slice): same value (least skips the
    # NULLs get() yields past the tail, exactly as array_min skips them
    # on the short tail slice) without allocating a window-length array
    # per character position — measured −8% on q_fingerprint_winnowing
    # at sf0.1. window=1 degenerates to the bare element (least()
    # requires >= 2 columns).
    hashes_sql = (
        f"transform(sequence(1, greatest(length(__norm) - {k - 1}, 1)),"
        f" i -> md5(substr(__norm, i, {k}))) AS __hashes"
    )
    win_min = _win_min_sql("__hashes", window)
    fps_sql = (
        f"transform(sequence(1, greatest(size(__hashes) - {window - 1},"
        f" 1)), j -> {win_min})"
    )
    # EMPTY normalized text yields an EMPTY fingerprint set (round-5
    # review): without the guard every contentless doc fingerprints as
    # [md5('')], making all punctuation-only docs "share content" with
    # each other — the same never-joins rule fingerprint() enforces
    guarded_sql = (
        f"CASE WHEN __nlen > 0 THEN array_sort(array_distinct({fps_sql}))"
        " ELSE CAST(array() AS ARRAY<STRING>) END"
    )
    if keep_columns:
        p0 = df.select("*", normalize_text(text_col).alias("__norm"))
        p1 = p0.selectExpr("*", "length(__norm) AS __nlen", hashes_sql)
        return p1.selectExpr("*", f"{guarded_sql} AS __fps").drop(
            "__norm", "__nlen", "__hashes"
        )
    norm_df = df.select(
        F.col(id_col).alias("id"), normalize_text(text_col).alias("__norm")
    )
    hash_df = norm_df.selectExpr(
        "id", "length(__norm) AS __nlen", hashes_sql
    )
    return hash_df.selectExpr("id", f"{guarded_sql} AS fps")


#: Coarse Unicode-script code-point ranges → language, in PRIORITY order
#: (earlier entries win ties): kana implies Japanese even though Han
#: characters are present too, Hangul implies Korean, bare Han Chinese,
#: then Cyrillic/Arabic/Devanagari/Greek. Ranges are emitted as LITERAL
#: character-class endpoints (``[぀-ヿ]``), which mean the same thing in
#: Java regex and RE2 — no ``\p{IsHan}`` vs ``\p{Han}`` dialect split —
#: so the DuckDB oracle reuses the identical pattern strings.
SCRIPT_RANGES: dict[str, list[tuple[int, int]]] = {
    "ja": [(0x3040, 0x30FF)],  # Hiragana + Katakana
    "ko": [(0xAC00, 0xD7A3)],  # Hangul syllables
    "zh": [(0x4E00, 0x9FFF)],  # CJK Unified Ideographs
    "ru": [(0x0400, 0x04FF)],  # Cyrillic
    "ar": [(0x0600, 0x06FF)],  # Arabic
    "hi": [(0x0900, 0x097F)],  # Devanagari
    "el": [(0x0370, 0x03FF)],  # Greek and Coptic
}


#: translate source deleting every ASCII char (chr(1)..chr(127); NUL is
#: left alone — it travels awkwardly in literals and no script class
#: matches it anyway). See :func:`strip_ascii`.
_ASCII_STRIP_SRC = "".join(chr(i) for i in range(1, 128))

#: the same 127 chars as a SQL string literal body, spelled with
#: ``\uXXXX`` escapes so the quote (U+0027), backslash (U+005C) and the
#: control characters survive the parser unambiguously (Spark unescapes
#: them in ParserUtils.unescapeSQLString; assumes the default
#: ``spark.sql.parser.escapedStringLiterals=false``, which the whole
#: SQL surface of this package already relies on for '\\s+' patterns).
_ASCII_STRIP_SQL = "".join(f"\\u{i:04X}" for i in range(1, 128))


def strip_ascii(col: str | Column) -> Column:
    """Non-ASCII remainder of the text via ONE ``translate`` char-map
    pass. Every ``SCRIPT_RANGES`` class is entirely non-ASCII (all
    ranges start ≥ U+0370), so counting script characters over this
    remainder is value-identical to counting over the full text — while
    the regex engine only ever touches the (typically tiny) non-ASCII
    tail instead of re-scanning the whole corpus once per script. On an
    English/ASCII-dominant corpus the seven per-script ``regexp_count``
    passes collapse to near-zero work; accented-Latin corpora keep only
    their accent characters in the remainder."""
    c = F.col(col) if isinstance(col, str) else col
    return F.translate(c, _ASCII_STRIP_SRC, "")


def script_class(lang: str) -> str:
    """Regex character class covering ``lang``'s script ranges (literal
    endpoints — portable across Java regex and RE2)."""
    return (
        "["
        + "".join(f"{chr(lo)}-{chr(hi)}" for lo, hi in SCRIPT_RANGES[lang])
        + "]"
    )


def script_char_counts(col: str | Column) -> dict[str, Column]:
    """Per-script character counts over the raw text (case-carrying
    scripts keep their upper-case rows inside the same block)."""
    c = F.col(col) if isinstance(col, str) else col
    return {
        lang: F.regexp_count(c, F.lit(script_class(lang)))
        for lang in SCRIPT_RANGES
    }


def stopword_hits(col: str | Column, words: list[str]) -> Column:
    """Number of tokens that are in ``words`` (counts duplicates)."""
    toks = tokens(F.lower(F.col(col) if isinstance(col, str) else col))
    return F.size(F.filter(toks, lambda t: t.isin(*[F.lit(w) for w in words])))


def lang_scores(col: str | Column) -> dict[str, Column]:
    return {lang: stopword_hits(col, words) for lang, words in STOPWORDS.items()}


def predict_lang(col: str | Column, default: str = "other") -> Column:
    """Two-stage language ID, pure column algebra (codegen-friendly,
    oracle-exact):

    1. **Script stage** (round 5): count characters per non-Latin script
       (``SCRIPT_RANGES`` — Han/kana/Hangul/Cyrillic/Arabic/Devanagari/
       Greek). If the best script's character count EXCEEDS the Latin
       letter count, the doc is that script's language. Japanese gets
       the standard kana-presence rule: Han characters are shared with
       Chinese, so a doc whose argmax script is ``zh`` but that contains
       ANY kana reclassifies as ``ja`` (kanji-majority Japanese — news/
       technical prose — would otherwise mislabel; bare Han with no kana
       stays ``zh``). Before this stage every non-Latin doc fell through
       to ``default`` because stopword lists only know Latin scripts.
    2. **Stopword stage**: argmax stopword-hit language among the Latin
       ``STOPWORDS`` lists with deterministic tie-break (dict order);
       0 hits everywhere -> ``default``.
    """
    c = F.col(col) if isinstance(col, str) else col
    # stage 2 first (the fallback expression)
    scores = lang_scores(c)
    best_lang = F.lit(default)
    best_score = F.lit(0)
    for lang, score in scores.items():  # later entries win only strictly
        best_lang = F.when(score > best_score, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(score > best_score, score).otherwise(best_score)
    # stage 1: script counts (earlier entries win ties -> strict >)
    sc = script_char_counts(c)
    best_script = F.lit(None).cast("string")
    best_count = F.lit(0)
    for lang, cnt in sc.items():
        best_script = F.when(cnt > best_count, F.lit(lang)).otherwise(best_script)
        best_count = F.when(cnt > best_count, cnt).otherwise(best_count)
    # kana-presence rule: Han is shared with Chinese; any kana at all
    # marks the doc Japanese even when kanji outnumber kana
    best_script = F.when(
        (best_script == F.lit("zh")) & (sc["ja"] > 0), F.lit("ja")
    ).otherwise(best_script)
    latin = latin_char_count(c)
    return F.when(best_count > latin, best_script).otherwise(best_lang)


def lang_profile(
    df: DataFrame,
    text_col: str = "text",
    default: str = "other",
    mixed_min_frac: float = 0.2,
) -> DataFrame:
    """Language ID with confidence + mixed-script columns (round 6) —
    real pipelines route on confidence, not a bare argmax. Appends:

    - ``lang_pred`` — :func:`predict_lang`'s two-stage label, value-
      identical (same counts, same earliest-max-wins tie-breaks, same
      kana rule — pinned by test against the monolithic expression).
    - ``script_frac`` — best non-Latin script char count / total
      scripted letters (best + Latin ``[a-z]``), the script stage's
      winning margin as a fraction.
    - ``stop_ratio`` — best stopword-hit count / whitespace token count,
      the stopword stage's evidence density (0.0 for non-Latin or
      unknown-language docs).
    - ``is_mixed`` — the documented code-switch rule: a doc is
      mixed-script when BOTH the best non-Latin script and Latin hold
      at least ``mixed_min_frac`` of its scripted letters (equivalently
      ``least(best, latin) / (best + latin) >= mixed_min_frac``) —
      Latin+CJK code-switch docs get flagged for routing instead of
      silently landing on whichever side has one more character.

    DataFrame-level ON PURPOSE: every per-script count / stopword-hit
    expression is materialized ONCE in a first projection and the
    argmax/ratio layer reads the materialized COLUMNS — the
    Column-returning formulation embedded each regex/lambda leaf in
    every consumer and its codegen OOMed a 1 GiB driver at sf0.01
    (CollapseProject keeps the stages apart because the count columns
    are multiply-referenced and non-cheap). Ratios are int-ratio
    doubles — IEEE division of exactly-representable ints, identical in
    both engines (oracle-exact).

    Round 16 (guide §7.3 — driver/planning time): the stages are
    GENERATED SQL fed to ``selectExpr`` (4 parser round trips), not
    Column-object algebra. The Column spelling made ~2,150 py4j round
    trips per build (cProfile: ~0.65 s of socket chatter per call, and
    this function builds three times inside q_lang_predict alone);
    the SQL spelling builds the identical expression tree — CASE WHEN ==
    when/otherwise, same counts, same earliest-max-wins tie-breaks, same
    kana rule — in ~0.05 s. Value-identity is pinned by the same tests
    that pin the profile against :func:`predict_lang`'s Column spelling,
    plus an old-vs-new row comparison at 3 SFs + planted uppercase/
    mixed-script frames when the spelling changed. Sub-expression
    provenance (rounds 8/12): tokenization materializes ONCE
    (``__toks``) and every stopword-hit column filters the materialized
    array; the Latin count goes through ``translate`` (~5× cheaper than
    the regex); the seven per-script ``regexp_count``s run over the
    ASCII-stripped remainder (one ``translate`` pass) so the regex
    engine never re-scans the ASCII bulk of the corpus per script."""
    cq = f"`{text_col}`"
    sc_names = list(SCRIPT_RANGES)
    stop_names = list(STOPWORDS)
    p0 = df.selectExpr(
        "*",
        # tokens(lower(c)) — whitespace split of the TRIMMED, LOWERED
        # text, empties dropped (split('') returns [''])
        f"filter(split(trim(lower({cq})), '\\\\s+'), t -> t != '')"
        " AS __toks",
        # strip_ascii(c)
        f"translate({cq}, '{_ASCII_STRIP_SQL}', '') AS __nonascii",
    )
    lowered = f"lower({cq})"
    p1 = p0.selectExpr(
        "*",
        *[
            f"regexp_count(__nonascii, '{script_class(lang)}') AS __c_{lang}"
            for lang in sc_names
        ],
        # latin_char_count(c)
        f"length({lowered}) - length(translate({lowered},"
        " 'abcdefghijklmnopqrstuvwxyz', '')) AS __latin",
        *[
            "size(filter(__toks, t -> t IN (%s))) AS __h_%s"
            % (", ".join(_sql_str(w) for w in words), lang)
            for lang, words in STOPWORDS.items()
        ],
        "size(__toks) AS __ntok",
    )
    p2 = p1.selectExpr(
        "*",
        "greatest(%s, 0) AS __best"
        % ", ".join(f"__c_{l}" for l in sc_names),
        "greatest(%s, 0) AS __besth"
        % ", ".join(f"__h_{l}" for l in stop_names),
    )
    # earliest-max-wins argmaxes over the MATERIALIZED count columns —
    # a flat CASE in SCRIPT_RANGES/STOPWORDS order is exactly the
    # nested when/otherwise fold (first match wins), semantics
    # identical to predict_lang's strictly-greater iteration
    script_case = (
        "CASE "
        + " ".join(f"WHEN __c_{l} = __best THEN '{l}'" for l in sc_names)
        + " ELSE CAST(NULL AS STRING) END"
    )
    # kana-presence rule: Han is shared with Chinese; any kana at all
    # marks the doc Japanese even when kanji outnumber kana
    script_label = (
        f"CASE WHEN ({script_case}) = 'zh' AND __c_ja > 0 THEN 'ja' "
        f"ELSE ({script_case}) END"
    )
    stop_label = (
        "CASE "
        + " ".join(
            f"WHEN __h_{l} = __besth AND __besth > 0 THEN '{l}'"
            for l in stop_names
        )
        + f" ELSE '{default}' END"
    )
    denom = "CAST(greatest(__best + __latin, 1) AS DOUBLE)"
    out = p2.selectExpr(
        *[f"`{col}`" for col in df.columns],
        f"CASE WHEN __best > __latin THEN ({script_label}) "
        f"ELSE ({stop_label}) END AS lang_pred",
        f"CAST(__best AS DOUBLE) / {denom} AS script_frac",
        "CAST(__besth AS DOUBLE) / CAST(greatest(__ntok, 1) AS DOUBLE)"
        " AS stop_ratio",
        # INT, not BOOLEAN: the oracle board's convention for flags —
        # NULL booleans round-trip differently through the two engines'
        # pandas conversions ('NULL' vs 'NaN' in the canonical compare).
        # The 'D' suffix keeps the threshold a DOUBLE literal (bare 0.2
        # would parse as DECIMAL(1,1) and change the comparison's type).
        f"CAST(__best > 0 AND __latin > 0 AND "
        f"CAST(least(__best, __latin) AS DOUBLE) / {denom}"
        f" >= {float(mixed_min_frac)!r}D AS INT) AS is_mixed",
    )
    return out


def corpus_profile(
    df: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """ONE-pass corpus health summary (round 6) — the first number a
    data engineer asks for on a new crawl drop, before any cleaning
    decision: volume, length distribution, emptiness, and an exact-dup
    rate estimate. Returns a single row:

    ``n_docs``, ``total_tokens``, ``mean_tokens``, ``p50_tokens`` /
    ``p95_tokens`` (t-digest sketch via ``percentile_approx`` — exact
    percentiles would buffer the corpus per group), ``n_empty`` (docs
    with no letters/digits at all), ``approx_distinct_fp`` (HLL over
    the md5 content fingerprint) and ``dup_rate_est`` (``1 −
    distinct/n`` — the fraction exact dedup would remove, estimated
    without running it).

    Scale shape: one scan, one partial-agg-friendly aggregation, every
    accumulator mergeable (count/sum/HLL/t-digest) — a 100 TB profile
    is a single map-reduce pass reading two columns. Sketch-based on
    purpose, so there is no oracle family; behavior is pinned by pytest
    on planted corpora."""
    tok = token_count(text_col)
    fp = fingerprint(text_col)
    return df.agg(
        F.count("*").alias("n_docs"),
        F.sum(tok).cast("long").alias("total_tokens"),
        # explicit exact-sum / count (the board's average rule), not
        # F.avg — the spelled-out division is what the DuckDB oracle
        # family reproduces bit-for-bit. Denominator is ALL docs (a
        # NULL-text doc is still a doc), where avg() would silently
        # exclude them
        (
            F.sum(tok).cast("double")
            / F.greatest(F.count("*"), F.lit(1)).cast("double")
        ).alias("mean_tokens"),
        F.percentile_approx(tok, 0.5).cast("long").alias("p50_tokens"),
        F.percentile_approx(tok, 0.95).cast("long").alias("p95_tokens"),
        F.count_if(fp.isNull()).alias("n_empty"),
        F.approx_count_distinct(fp).alias("approx_distinct_fp"),
    ).withColumn(
        "dup_rate_est",
        # 0.0 when there is no non-empty content at all — without the
        # guard an empty corpus reads as "100% duplicated"
        F.when(F.col("n_docs") - F.col("n_empty") <= 0, F.lit(0.0)).otherwise(
            F.greatest(
                F.lit(0.0),
                F.lit(1.0)
                - F.col("approx_distinct_fp")
                / F.greatest(F.col("n_docs") - F.col("n_empty"), F.lit(1)),
            )
        ),
    )


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 64,
    overlap: int = 8,
) -> DataFrame:
    """Split documents into overlapping token-window chunks — the
    standard preprocessing step before embedding or training on long
    documents. Chunk k covers tokens ``[1 + k*stride, … + chunk_tokens)``
    with ``stride = chunk_tokens - overlap``; a tail window that would
    add no tokens beyond the previous chunk's coverage is dropped.

    Pure column algebra (materialized token array -> start grid ->
    ``explode_cheaply`` -> slice), so it runs inside whole-stage codegen
    with no Python; output rows scale with total tokens / stride.
    Returns (id, chunk_id, n_chunk_tokens, chunk_text).
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    stride = chunk_tokens - overlap
    from pydala_spark.operators.dedup import explode_cheaply

    base = df.select(
        F.col(id_col).alias("id"), word_regex_tokens(text_col).alias("__toks")
    )
    n = F.size("__toks")
    starts = F.when(
        n >= 1, F.sequence(F.lit(1), n, F.lit(stride))
    ).otherwise(F.array().cast("array<int>"))
    ex = explode_cheaply(
        base.select("id", "__toks", starts.alias("__starts")),
        F.col("__starts"),
        "start",
    )
    # the previous chunk covers through start + overlap - 1; a tail
    # window beyond that adds nothing and is dropped
    ex = ex.where(
        (F.col("start") == 1) | (F.size("__toks") >= F.col("start") + overlap)
    )
    chunked = ex.select(
        "id",
        ((F.col("start") - 1) / stride).cast("long").alias("chunk_id"),
        F.slice("__toks", F.col("start"), chunk_tokens).alias("__chunk"),
    )
    return chunked.select(
        F.col("id").alias(id_col),
        "chunk_id",
        F.size("__chunk").alias("n_chunk_tokens"),
        F.concat_ws(" ", "__chunk").alias("chunk_text"),
    )


def repetition_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 2,
) -> DataFrame:
    """Gopher/MassiveText-style repetition signals per document (Rae et
    al. 2021 appendix A; standard public quality filters):

    - ``n_lines`` / ``dup_line_frac`` / ``dup_line_char_frac`` — line
      occurrences that repeat within the doc, and the character mass in
      repeated lines;
    - ``n_grams`` / ``dup_ngram_frac`` — word-``ngram`` occurrences that
      are repeats (1 - distinct/total);
    - ``top_ngram`` / ``top_ngram_cnt`` / ``top_ngram_char_frac`` — the
      most frequent word-``ngram`` (count desc, gram asc tiebreak) and
      the fraction of the doc's characters its occurrences cover
      (overlaps can push it past 1; raw ratio kept).

    Scale shape: NOT per-doc array nested loops (O(tokens²) per doc — a
    single 1 MB doc would stall a task); lines/grams are exploded via
    ``explode_cheaply`` and aggregated keyed by (doc, item) then doc, so
    cost is O(total items) spread across the cluster, with docs of any
    size. Empty docs survive via left joins (all-zero stats).
    """
    from pydala_spark.operators.dedup import explode_cheaply

    c = F.col(text_col)
    lines_arr = F.filter(
        F.transform(F.split(c, r"\n"), lambda l: F.trim(l)),
        lambda l: l != F.lit(""),
    )
    base = df.select(
        F.col(id_col).alias("id"),
        F.length(c).alias("__n_chars"),
        lines_arr.alias("__lines"),
        word_regex_tokens(c).alias("__toks"),
    )
    # n-grams from the MATERIALIZED token column (Catalyst substitutes
    # expressions into lambda bodies — building grams straight off the
    # regexp extraction would re-tokenize once per gram)
    grams = F.when(
        F.size("__toks") >= ngram,
        F.transform(
            F.sequence(F.lit(1), F.size("__toks") - (ngram - 1)),
            lambda i: F.concat_ws(" ", F.slice("__toks", i, ngram)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    base = base.select("id", "__n_chars", "__lines", grams.alias("__grams"))

    per_line = (
        explode_cheaply(base.select("id", "__lines"), F.col("__lines"), "line")
        .groupBy("id", "line")
        .agg(F.count("*").alias("cnt"))
    )
    line_stats = per_line.groupBy("id").agg(
        F.sum("cnt").alias("n_lines"),
        (F.lit(1.0) - F.count("*") / F.sum("cnt")).alias("dup_line_frac"),
        (
            F.sum(F.when(F.col("cnt") > 1, F.col("cnt") * F.length("line"))
                  .otherwise(F.lit(0)))
            / F.sum(F.col("cnt") * F.length("line"))
        ).alias("dup_line_char_frac"),
    )

    per_gram = (
        explode_cheaply(base.select("id", "__grams"), F.col("__grams"), "gram")
        .groupBy("id", "gram")
        .agg(F.count("*").alias("cnt"))
    )
    gram_totals = per_gram.groupBy("id").agg(
        F.sum("cnt").alias("n_grams"),
        (F.lit(1.0) - F.count("*") / F.sum("cnt")).alias("dup_ngram_frac"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("id").orderBy(F.desc("cnt"), F.asc("gram"))
    top_gram = (
        per_gram.withColumn("__rnk", F.row_number().over(w))
        .where(F.col("__rnk") == 1)
        .select("id", F.col("gram").alias("top_ngram"),
                F.col("cnt").alias("top_ngram_cnt"))
    )

    out = (
        base.select("id", "__n_chars")
        .join(line_stats, "id", "left")
        .join(gram_totals, "id", "left")
        .join(top_gram, "id", "left")
    )
    return out.select(
        F.col("id").alias(id_col),
        F.coalesce("n_lines", F.lit(0)).alias("n_lines"),
        F.coalesce("dup_line_frac", F.lit(0.0)).alias("dup_line_frac"),
        F.coalesce("dup_line_char_frac", F.lit(0.0)).alias("dup_line_char_frac"),
        F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
        F.coalesce("dup_ngram_frac", F.lit(0.0)).alias("dup_ngram_frac"),
        "top_ngram",
        F.coalesce("top_ngram_cnt", F.lit(0)).alias("top_ngram_cnt"),
        F.coalesce(
            (F.col("top_ngram_cnt") * F.length("top_ngram")) / F.col("__n_chars"),
            F.lit(0.0),
        ).alias("top_ngram_char_frac"),
    )


def tfidf_top_terms(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_k: int = 3,
) -> DataFrame:
    """Per-document top-``top_k`` salient terms — the keyword-extraction
    step for corpus inspection and quality-clustering in training-data
    pipelines.

    Ranking is by ``tf / df`` (tf desc, term asc tie-breaks):
    document-frequency-normalized term frequency, the idf-free salience
    variant. It agrees with classic ``tf * ln(N/df)`` whenever compared
    terms share a tf (idf is monotone in 1/df) but can order terms with
    DIFFERENT tf differently — e.g. a moderately-frequent moderately-
    specific term may outrank a rare singleton that ln-idf would place
    first. The ratio is chosen deliberately: every emitted value stays
    an integer or an exact one-op integer division — bit-identical
    across engines — while transcendental ``ln`` differs in the last ulp
    and would poison exact-match oracles. Need literal tf·idf order?
    Rank the returned (tf, df) client-side with any idf you like.

    Scale shape: explode tokens (``explode_cheaply`` — the tokenizer
    regex runs once per doc), tf = groupBy (id, term), df = groupBy
    (term) over the already-distinct tf rows (map-side combinable), one
    equi-join on term, then a per-doc row_number window. Two shuffles
    keyed by high-cardinality (id, term)/(term); the window partitions
    by doc id, so no single task ever sees more than one document's
    vocabulary. Returns (id, rank, term, tf, df, salience).
    """
    from pyspark.sql import Window

    from pydala_spark.operators.dedup import explode_cheaply

    base = df.select(
        F.col(id_col).alias("id"), word_regex_tokens(text_col).alias("__toks")
    )
    term_rows = explode_cheaply(base, F.col("__toks"), "term")
    tf = term_rows.groupBy("id", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = tf.join(dfreq, "term").withColumn(
        "salience", F.col("tf").cast("double") / F.col("df")
    )
    w = Window.partitionBy("id").orderBy(
        F.desc("salience"), F.desc("tf"), F.asc("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_k)
        .select(
            F.col("id").alias(id_col), "rank", "term", "tf", "df", "salience"
        )
    )


def quality_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality features: char/token counts, mean token
    length, punctuation & stopword ratios, and a composite score.

    All ratios are exact-integer divisions (identical doubles on any
    engine). The composite score mirrors common heuristic filters
    (length window + punctuation + stopword presence).
    """
    c = F.col(text_col)
    n_chars = F.length(c)
    n_toks = token_count(c)
    # translate, not regexp_replace: same six literal ASCII chars, a
    # char-map pass instead of the regex engine (the latin_char_count
    # move, round 8)
    punct = F.length(c) - F.length(F.translate(c, ".,;:!?", ""))
    stop_en = stopword_hits(c, STOPWORDS["en"])
    # exact mean token length: sum of the tokens' own lengths / count.
    # The old (n_chars - (n_toks - 1)) / n_toks shortcut assumed exactly
    # one separator char and no padding — double spaces, newlines, or
    # leading/trailing whitespace inflated it
    tok_chars = F.aggregate(
        F.transform(tokens(c), lambda t: F.length(t)),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    # try_divide: empty/whitespace-only text has n_toks = n_chars = 0 —
    # NULL ratios (DuckDB's own x/0 semantics) instead of an ANSI
    # DIVIDE_BY_ZERO that kills the whole pipeline run; the score's
    # when() conditions treat NULL as false, so empty docs score 0 and
    # the default min_quality gate drops them
    mean_tok_len = F.try_divide(tok_chars.cast("double"), n_toks)
    punct_ratio = F.try_divide(punct.cast("double"), n_chars)
    stop_ratio = F.try_divide(stop_en.cast("double"), n_toks)
    score = (
        F.when((n_toks >= 10) & (n_toks <= 1000), F.lit(1)).otherwise(F.lit(0))
        + F.when(punct_ratio <= 0.1, F.lit(1)).otherwise(F.lit(0))
        + F.when(stop_ratio >= 0.01, F.lit(1)).otherwise(F.lit(0))
    )
    return df.select(
        "*",
        n_chars.alias("q_chars"),
        n_toks.alias("q_tokens"),
        mean_tok_len.alias("q_mean_token_len"),
        punct.alias("q_punct"),
        punct_ratio.alias("q_punct_ratio"),
        stop_en.alias("q_stop_hits"),
        stop_ratio.alias("q_stop_ratio"),
        score.alias("q_score"),
    )


#: At or below this many entries a pinned lookup table inlines as ONE
#: parsed ``map(...)`` literal — per-row map access with no broadcast
#: relation to build (round 17: the two per-invocation broadcast builds
#: cost more than the whole tokenize+explode stage at bench scale, and a
#: literal map probe measured free beside them). Above it — a real LM is
#: 100k-1M rows — the broadcast-join path stays: a megarow expression
#: literal would blow up the plan, and one broadcast build amortizes
#: over a 100 TB scan.
_MAP_LITERAL_MAX = 8192


def _sql_str(s: str) -> str:
    """``s`` as a SQL single-quoted string literal, with the quote, the
    backslash and control characters spelled ``\\uXXXX`` so arbitrary
    token text survives the parser unambiguously (same convention as
    ``_ASCII_STRIP_SQL``; assumes the default
    ``spark.sql.parser.escapedStringLiterals=false``)."""
    body = "".join(
        f"\\u{ord(ch):04X}"
        if (ch in ("'", "\\") or ord(ch) < 32)
        else ch
        for ch in s
    )
    return f"'{body}'"


def _sql_ident(name: str) -> str:
    """``name`` as a backtick-quoted SQL identifier (embedded backticks
    doubled — ADVICE r16's escaping rule for every generated-SQL
    interpolation site)."""
    return "`" + name.replace("`", "``") + "`"


def _millinat_map(table: dict[str, int]) -> Column:
    """A ``map<string,bigint>`` literal of a small pinned log-prob
    table, built as ONE parsed SQL fragment (no per-entry py4j)."""
    entries = ", ".join(
        f"{_sql_str(k)}, {int(v)}L" for k, v in table.items()
    )
    return F.expr(f"map({entries})")


def lm_perplexity_score(
    df: DataFrame,
    vocab: dict[str, int],
    unk_millinats: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    head_threshold: int = -4500,
    middle_threshold: int = -6000,
    bigrams: dict[str, int] | None = None,
    backoff_millinats: int = -693,
) -> DataFrame:
    """CCNet-style LM quality filter (Wenzek et al. 2020): score every
    document under a PINNED unigram language model and bucket the
    corpus by per-token log-likelihood into ``head`` / ``middle`` /
    ``tail`` — the classic keep-the-head perplexity filter, shipped the
    way a trained LM actually ships (model trains offline, the log-prob
    table freezes, scoring is a broadcast join).

    ``vocab`` maps token → log-prob in MILLINATS (``round(1000·ln p)``,
    negative ints; ``tools/train_lm_fixture.py``); out-of-vocabulary
    tokens score ``unk_millinats``. Integer log-probs are the exactness
    trick: distributed LONG sums are order-independent (double sums are
    not), so the score — and the oracle hash — is deterministic.
    ``avg_millinats`` (= sum/n, one exact division) is monotone in
    perplexity (ppl = exp(−avg/1000)), so bucketing thresholds compare
    the average directly and nothing transcendental enters the result.

    Returns ``(id_col, n_tokens, sum_millinats, avg_millinats, bucket)``
    — the id keeps the caller's column name; empty docs keep NULL score
    and bucket ``unscored``.

    With ``bigrams`` (a ``"prev cur"`` → millinat conditional log-prob
    table; space-joined keys — the tokenizer class cannot emit one) the
    score upgrades to a bigram model with STUPID BACKOFF (Brants et al.
    2007, the web-scale rule KenLM-style filters degrade to): token i
    scores ``bigram[prev cur]`` when the pair is in the table, else
    ``unigram(cur) + backoff_millinats``; the first token always scores
    its unigram. Still integer-exact.

    Shape at 100 TB: ONE pass — ``explode_outer`` keeps a null-token
    row per empty doc (and, like ``explode_cheaply``, infers no
    ``size(...) > 0`` re-evaluation of the tokenizer), so the per-doc
    aggregation sees every document and no second corpus scan is needed
    to resurrect empty ones; the vocab/bigram joins are broadcast (a
    real LM table is ~100k-1M rows — broadcast-sized by construction).
    One shuffle, keyed by doc id.
    """
    spark = df.sparkSession
    # round 17 (guide §1.2/§2.3): the PINNED test fixture (31 unigrams,
    # 900 bigrams) is map-literal-sized — per-invocation broadcast
    # builds cost more than the whole tokenize+explode stage at bench
    # scale (two builds: 0.58 s vs a free literal probe, noop-timed).
    # Lookup semantics are identical to the left join: keys unique,
    # missing or NULL key → NULL. Real LM tables exceed the gate and
    # keep the broadcast join.
    # integer log-probs on BOTH sides of the gate: the map literal would
    # silently truncate a float the broadcast side's bigint schema rejects
    bad = [k for t in (vocab, bigrams or {}) for k, v in t.items()
           if not isinstance(v, numbers.Integral)]
    if bad:
        raise TypeError("lm_perplexity_score: log-prob tables hold integer "
                        f"millinats; got non-integer values for {bad[:3]}")
    small = 0 < len(vocab) <= _MAP_LITERAL_MAX and (
        bigrams is None or 0 < len(bigrams) <= _MAP_LITERAL_MAX
    )

    def _with_lp(frame, key_col, out_col, table, schema):
        if small:
            return frame.withColumn(
                out_col,
                F.try_element_at(_millinat_map(table), F.col(key_col)),
            )
        rel = F.broadcast(spark.createDataFrame(list(table.items()), schema))
        return frame.join(rel, key_col, "left")

    if bigrams is None:
        toks = df.select(
            F.col(id_col), word_regex_tokens(text_col).alias("__toks")
        ).select(id_col, F.explode_outer("__toks").alias("tok"))
        scored = (
            _with_lp(toks, "tok", "lp", vocab, "tok string, lp long")
            .groupBy(id_col)
            .agg(
                F.count("tok").cast("long").alias("n_tokens"),
                F.sum(
                    F.when(
                        F.col("tok").isNotNull(),
                        F.coalesce(F.col("lp"), F.lit(int(unk_millinats))),
                    )
                )
                .cast("long")
                .alias("sum_millinats"),
            )
        )
    else:
        base = df.select(
            F.col(id_col), word_regex_tokens(text_col).alias("__toks")
        )
        n = F.size("__toks")
        idx = F.when(n > 0, F.sequence(F.lit(1), n)).otherwise(
            F.array().cast("array<int>")
        )
        # (cur, prev) pairs from the MATERIALIZED token array; prev is
        # NULL at position 1, so the pair key nulls out and the bigram
        # join misses — exactly the first-token-scores-unigram rule
        pair_arr = F.transform(
            idx,
            lambda i: F.struct(
                F.element_at(F.col("__toks"), i).alias("cur"),
                F.when(
                    i > 1, F.element_at(F.col("__toks"), i - 1)
                ).alias("prev"),
            ),
        )
        ex = base.select(
            id_col, F.explode_outer(pair_arr).alias("p")
        ).select(
            id_col,
            F.col("p.cur").alias("tok"),
            F.concat(F.col("p.prev"), F.lit(" "), F.col("p.cur")).alias(
                "pair"
            ),
        )
        uni_or_unk = F.coalesce(F.col("lp"), F.lit(int(unk_millinats)))
        token_lp = F.coalesce(
            F.col("bi_lp"),
            uni_or_unk
            + F.when(F.col("pair").isNotNull(), F.lit(int(backoff_millinats)))
            .otherwise(F.lit(0)),
        )
        looked = _with_lp(
            _with_lp(ex, "tok", "lp", vocab, "tok string, lp long"),
            "pair", "bi_lp", bigrams, "pair string, bi_lp long",
        )
        scored = (
            looked
            .groupBy(id_col)
            .agg(
                F.count("tok").cast("long").alias("n_tokens"),
                F.sum(F.when(F.col("tok").isNotNull(), token_lp))
                .cast("long")
                .alias("sum_millinats"),
            )
        )
    avg = F.col("sum_millinats").cast("double") / F.col("n_tokens")
    return scored.select(
        id_col,
        "n_tokens",
        "sum_millinats",
        avg.alias("avg_millinats"),
        F.when(F.col("n_tokens") == 0, F.lit("unscored"))
        .when(avg >= head_threshold, F.lit("head"))
        .when(avg >= middle_threshold, F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


def train_quality_classifier(
    df: DataFrame,
    label_col: str,
    feature_cols: list[str],
    sample_size: int = 10_000,
    iterations: int = 300,
    lr: float = 0.5,
    l2: float = 1e-3,
    backend: str = "driver",
) -> dict:
    """Train the logistic quality classifier :func:`classifier_score`
    applies (round 6) — closing the loop the BPE/k-means codebooks
    follow: TRAINING is driver-side over a bounded deterministic sample
    (full-batch gradient descent is sequential; the "train offline,
    freeze weights, score as column algebra" shipping model is exactly
    what classifier_score documents), APPLICATION stays a zero-Python
    map-side pass at any corpus size.

    ``label_col`` is 0/1 (keep/drop, human or LLM labels);
    ``feature_cols`` are numeric per-doc features (e.g.
    :func:`quality_stats` columns). The sample is the ``sample_size``
    rows with the smallest md5 over the stringified feature/label tuple
    — RNG-free, re-runs train identical weights. Features standardize
    internally; the returned weights are mapped BACK to raw feature
    space, so they feed ``classifier_score`` directly::

        model = train_quality_classifier(labeled, "keep", feats)
        scored = classifier_score(
            docs, [(F.col(k), w) for k, w in model["weights"].items()],
            bias=model["bias"])

    Returns ``{"weights": {col: w}, "bias": b, "n_sample": n}``.

    ``backend="ml"`` (round 8) trains DISTRIBUTED instead: pyspark.ml
    ``LogisticRegression`` (LBFGS) over the FULL labeled frame — the
    million-label path, where a 10k driver sample would throw away most
    of the signal. Spark ML standardizes internally and reports
    coefficients back in RAW feature space (``standardization=True``),
    so the returned dict is drop-in identical in shape and feeds
    ``classifier_score`` unchanged; ``sample_size``/``lr`` are driver-
    path knobs and are ignored (``iterations`` caps LBFGS, ``l2`` maps
    to ``regParam``). Both backends learn the same separating
    direction — pinned by the planted-separation agreement test.
    """
    import numpy as np

    if backend not in ("driver", "ml"):
        raise ValueError(
            f"train_quality_classifier: backend={backend!r} "
            "(expected 'driver' or 'ml')"
        )
    # train under the SAME NULL semantics the apply path has:
    # classifier_score propagates a NULL feature to a NULL logit, so a
    # NULL-feature row must not silently train as an all-zero vector
    # (r6 review) — it is excluded here and will score NULL downstream
    notnull = F.lit(True)
    for c in feature_cols:
        notnull &= F.col(c).isNotNull()
    if backend == "ml":
        from pyspark.ml.classification import LogisticRegression
        from pyspark.ml.feature import VectorAssembler

        labeled = (
            df.select(
                F.col(label_col).cast("double").alias("__y"),
                *(F.col(c).cast("double") for c in feature_cols),
            )
            .where(F.col("__y").isNotNull() & notnull)
        )
        n_labeled = labeled.count()
        if n_labeled == 0:
            raise ValueError("train_quality_classifier: no labeled rows")
        assembled = VectorAssembler(
            inputCols=list(feature_cols), outputCol="__features"
        ).transform(labeled)
        model = LogisticRegression(
            featuresCol="__features", labelCol="__y",
            maxIter=int(iterations), regParam=float(l2),
            elasticNetParam=0.0, standardization=True, fitIntercept=True,
        ).fit(assembled)
        coefs = model.coefficients.toArray()
        return {
            "weights": {
                c: float(wi) for c, wi in zip(feature_cols, coefs)
            },
            "bias": float(model.intercept),
            "n_sample": int(n_labeled),
        }
    rows = (
        df.select(label_col, *feature_cols)
        .where(F.col(label_col).isNotNull() & notnull)
        .orderBy(
            F.md5(F.concat_ws("|", *(
                F.col(c).cast("string") for c in [label_col, *feature_cols]
            ))),
            *feature_cols,
        )
        .limit(sample_size)
        .collect()
    )
    if not rows:
        raise ValueError("train_quality_classifier: no labeled rows")
    y = np.array([float(r[label_col]) for r in rows])
    x = np.array([[float(r[c]) for c in feature_cols] for r in rows])
    mean = x.mean(axis=0)
    std = np.maximum(x.std(axis=0), 1e-9)
    xs = (x - mean) / std
    w = np.zeros(len(feature_cols))
    b = 0.0
    n = len(y)
    for _ in range(int(iterations)):
        z = xs @ w + b
        p = 1.0 / (1.0 + np.exp(-np.clip(z, -30, 30)))
        g = p - y
        w -= lr * ((xs.T @ g) / n + l2 * w)
        b -= lr * float(g.mean())
    # back to raw feature space: w_raw = w/std, b_raw = b - sum(w*mean/std)
    w_raw = w / std
    b_raw = b - float((w * mean / std).sum())
    return {
        "weights": {c: float(wi) for c, wi in zip(feature_cols, w_raw)},
        "bias": b_raw,
        "n_sample": n,
    }


def classifier_score(
    df: DataFrame,
    weights,
    bias: float = 0.0,
    logit_col: str = "clf_logit",
    prob_col: str = "clf_prob",
) -> DataFrame:
    """Linear (logistic-regression-style) document scorer with PINNED
    weights — how a trained quality/toxicity/language filter (fasttext,
    logreg distillation) actually ships in a production pipeline: the
    model trains offline, the weights freeze, and scoring is pure column
    algebra over per-doc features (zero Python, codegen-friendly, scales
    as a map-side pass).

    ``weights`` is a sequence of ``(Column, float)``. The logit folds
    left-to-right from ``bias`` (``((bias + f1*w1) + f2*w2) + ...``), so
    a SQL oracle writing the same expression order reproduces
    bit-identical doubles. ``prob_col`` adds the sigmoid for
    ranking/thresholding; it is transcendental (exp differs in the last
    ulp across engines), so exact cross-engine checks should compare the
    LOGIT (or a sign/threshold boolean), not the probability.
    """
    logit = F.lit(float(bias))
    for colx, wgt in weights:
        logit = logit + colx.cast("double") * F.lit(float(wgt))
    out = df.withColumn(logit_col, logit)
    if prob_col:
        out = out.withColumn(
            prob_col, F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col(logit_col)))
        )
    return out
