import datetime as dt

import pytest
from pyspark.sql import Row, functions as F

from pydala_spark.operators.asof import asof_join
from pydala_spark.operators.dedup import (
    dedup_exact,
    doc_shingles,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
)
from pydala_spark.operators.similarity import (
    cosine_similarity,
    cosine_topk,
    lsh_topk,
    neardup_pairs,
)
from pydala_spark.operators.textstats import (
    fingerprint,
    predict_lang,
    quality_stats,
    token_count,
)

TS = dt.datetime


def _docs(spark):
    return spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog"),
            (1, "the quick brown fox jumps over the lazy cat"),
            (2, "completely different words entirely unrelated text here"),
            (3, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
        ],
        ["doc_id", "text"],
    )


def test_asof_backward_inclusive(spark):
    left = spark.createDataFrame(
        [(1, TS(2024, 1, 1, 10), "a"), (1, TS(2024, 1, 1, 12), "b"),
         (2, TS(2024, 1, 1, 9), "c")],
        "k long, ts timestamp, tag string",
    )
    right = spark.createDataFrame(
        [(1, TS(2024, 1, 1, 10), 100.0), (1, TS(2024, 1, 1, 11), 200.0)],
        "k long, ts timestamp, px double",
    )
    out = {
        r["tag"]: r["px"]
        for r in asof_join(left, right, on="ts", by="k", right_cols=["px"]).collect()
    }
    assert out == {"a": 100.0, "b": 200.0, "c": None}  # inclusive at 10:00


def test_asof_null_in_matched_row_not_spliced(spark):
    # the matched right row carries its NULLs verbatim: a per-column fill
    # would splice a stale a=5 from ts=1 into the ts=2 match
    left = spark.createDataFrame(
        [(1, TS(2024, 1, 1, 3), "x")], "k long, ts timestamp, tag string"
    )
    right = spark.createDataFrame(
        [(1, TS(2024, 1, 1, 1), 5.0, 1.0), (1, TS(2024, 1, 1, 2), None, 2.0)],
        "k long, ts timestamp, a double, b double",
    )
    got = asof_join(left, right, on="ts", by="k", right_cols=["a", "b"]).first()
    assert got["a"] is None and got["b"] == 2.0


def test_asof_exclusive_and_forward(spark):
    left = spark.createDataFrame(
        [(1, TS(2024, 1, 1, 10), "a")], "k long, ts timestamp, tag string"
    )
    right = spark.createDataFrame(
        [(1, TS(2024, 1, 1, 10), 1.0), (1, TS(2024, 1, 1, 11), 2.0)],
        "k long, ts timestamp, px double",
    )
    excl = asof_join(
        left, right, on="ts", by="k", right_cols=["px"], inclusive=False
    ).first()
    assert excl["px"] is None
    fwd = asof_join(
        left, right, on="ts", by="k", right_cols=["px"], direction="forward",
        inclusive=False,
    ).first()
    assert fwd["px"] == 2.0


def test_dedup_exact(spark):
    out = dedup_exact(_docs(spark), "doc_id", "text")
    rows = {r["doc_id"]: r["n_dups"] for r in out.collect()}
    assert rows[0] == 2  # doc 3 collapsed into keeper 0
    assert 3 not in rows


def test_minhash_lsh_finds_near_dups(spark):
    docs = _docs(spark)
    sigs = minhash_signatures(docs, "doc_id", "text", n_hashes=8)
    assert set(sigs.columns) == {"doc_id"} | {f"mh_{i}" for i in range(8)}
    pairs = {
        (r["id_a"], r["id_b"])
        for r in lsh_candidate_pairs(sigs, "doc_id", n_bands=4).collect()
    }
    assert (0, 3) in pairs  # exact dups always collide
    assert (0, 1) in pairs or (1, 3) in pairs  # near dup should bucket too
    assert not any(2 in p for p in pairs)


def test_lsh_seed_rotates_band_boundaries(spark):
    """Round 5: a pair whose agreeing hashes straddle every seed-0 band
    ((0,1),(2,3),(4,5),(6,7)) still collides in a seed-1 band ((1,2),…)
    — the chain-iteration recall mechanism. seed=0 stays bit-identical
    (the q_minhash_lsh oracle pins it)."""
    rows = []
    for did in (1, 2):
        vals = {f"mh_{i}": f"{'same' if i in (1, 2) else f'd{did}h{i}'}"
                for i in range(8)}
        rows.append({"doc_id": did, **vals})
    sigs = spark.createDataFrame(rows)
    p0 = lsh_candidate_pairs(sigs, "doc_id", n_bands=4).collect()
    assert p0 == []  # no seed-0 band fully agrees
    p1 = {(r["id_a"], r["id_b"])
          for r in lsh_candidate_pairs(sigs, "doc_id", n_bands=4, seed=1).collect()}
    assert p1 == {(1, 2)}


def test_minhash_seed_salts_hash_family(spark):
    docs = _docs(spark)
    s0 = minhash_signatures(docs, "doc_id", "text", n_hashes=4).collect()
    s0b = minhash_signatures(docs, "doc_id", "text", n_hashes=4, seed=0).collect()
    s7 = minhash_signatures(docs, "doc_id", "text", n_hashes=4, seed=7).collect()
    key = lambda rows: {r["doc_id"]: tuple(r[f"mh_{i}"] for i in range(4))
                        for r in rows}
    assert key(s0) == key(s0b)  # seed=0 is the historical (oracle-pinned) family
    m0, m7 = key(s0), key(s7)
    assert all(m0[d] != m7[d] for d in m0)  # a fresh, independent family
    # exact dups still agree under any seed
    assert m7[0] == m7[3]


def test_char_shingle_mode_for_cjk(spark):
    """Round 5: word shingles degenerate on unsegmented scripts (a CJK
    doc has one "token" per punctuation run); shingle_mode='char' keeps
    near-dup detection fine-grained in any script."""
    docs = spark.createDataFrame(
        [
            (1, "今日は良い天気ですね散歩に行きましょう"),
            (2, "今日は良い天気ですね散歩に出かけましょう"),  # near-dup of 1
            (3, "機械学習モデルの訓練には大量のデータが必要です"),
        ],
        ["doc_id", "text"],
    )
    # word mode: each doc is ONE token -> one whole-text shingle; the
    # near-dup pair shares nothing
    word_pairs = ngram_jaccard_pairs(
        docs, "doc_id", "text", shingle_size=3, threshold=0.1
    ).collect()
    assert word_pairs == []
    # char mode finds the near-dup pair and rejects the unrelated doc
    char_pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            docs, "doc_id", "text",
            shingle_size=5, threshold=0.15, shingle_mode="char",
        ).collect()
    }
    assert set(char_pairs) == {(1, 2)}
    assert 0.15 <= char_pairs[(1, 2)] < 1.0
    # minhash + LSH over char shingles buckets the pair too
    sigs = minhash_signatures(
        docs, "doc_id", "text", n_hashes=8, shingle_size=5,
        shingle_mode="char",
    )
    pairs = {
        (r["id_a"], r["id_b"])
        for r in lsh_candidate_pairs(sigs, "doc_id", n_bands=4).collect()
    }
    assert (1, 2) in pairs
    assert not any(3 in p for p in pairs)


def test_ngram_jaccard(spark):
    out = ngram_jaccard_pairs(_docs(spark), "doc_id", "text", threshold=0.5)
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in out.collect()}
    assert pairs[(0, 3)] == 1.0
    assert 0.5 <= pairs[(0, 1)] < 1.0


def test_token_helpers_edge_semantics(spark):
    from pydala_spark.operators.textstats import token_count, word_regex_tokens

    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "two words"), (4, "Ab1 x_y")],
        "i long, text string",
    )
    got = {r["i"]: r for r in df.select(
        "i",
        token_count("text").alias("n"),
        word_regex_tokens("text").alias("w"),
        word_regex_tokens("text", pattern=r"[a-z]+").alias("alpha"),
    ).collect()}
    assert got[1]["n"] == 0 and got[2]["n"] == 0  # empty text = 0 tokens
    assert got[3]["n"] == 2
    assert list(got[4]["w"]) == ["ab1", "x", "y"]
    assert list(got[4]["alpha"]) == ["ab", "x", "y"]  # pattern honored


def test_lsh_guards(spark):
    import pytest

    from pydala_spark.operators.dedup import lsh_candidate_pairs
    from pydala_spark.operators.similarity import lsh_topk

    sigs = minhash_signatures(_docs(spark), "doc_id", "text", n_hashes=8)
    with pytest.raises(ValueError, match="must divide"):
        lsh_candidate_pairs(sigs, "doc_id", n_bands=3)
    emb = spark.createDataFrame([(0, [1.0, 0.0])], ["vec_id", "embedding"])
    with pytest.raises(ValueError, match="single-bit-flip"):
        lsh_topk(emb, emb, dim=2, bits=3, n_probes=9)


def test_decontaminate(spark):
    from pydala_spark.operators.dedup import contamination_hits, decontaminate

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "a completely unrelated sentence about spark engines"),
            (3, "quick brown fox jumps again and again today"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps high")], "doc_id long, text string"
    )
    hits = {
        r["id"]: r["n_hits"]
        for r in contamination_hits(corpus, bench, "doc_id").collect()
    }
    # doc 1 shares 'quick brown fox' + 'brown fox jumps' (+ 'the quick brown');
    # doc 3 shares two of those; doc 2 shares none
    assert hits[1] >= 3 and hits[2 if 2 in hits else 3] >= 2 and 2 not in hits
    clean = decontaminate(corpus, bench, "doc_id", min_hits=2)
    assert [r["doc_id"] for r in clean.collect()] == [2]


def test_simhash_similar_docs_close(spark):
    out = {r["doc_id"]: r["simhash"] for r in simhash(_docs(spark), "doc_id").collect()}
    assert out[0] == out[3]
    ham01 = bin(out[0] ^ out[1]).count("1")
    ham02 = bin(out[0] ^ out[2]).count("1")
    assert ham01 < ham02  # near-dup closer than unrelated


def test_cosine_topk_and_lsh(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [-1.0, 0.0, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    probes = emb.where(F.col("vec_id") == 0)
    out = cosine_topk(emb, probes, k=3).orderBy("rnk").collect()
    assert [r["neighbor_id"] for r in out] == [1, 2, 3]
    approx = lsh_topk(emb, probes, dim=4, k=3, bits=4).collect()
    got = {r["neighbor_id"] for r in approx}
    assert 1 in got  # same-direction vector shares every sign bucket


def test_lsh_multiprobe_recall(spark, sf_dir):
    from pydala_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.where(F.col("vec_id") < 10)
    exact = {
        (r["probe_id"], r["neighbor_id"])
        for r in cosine_topk(emb, probes, k=5).collect()
    }

    def recall(n_probes):
        got = {
            (r["probe_id"], r["neighbor_id"])
            for r in lsh_topk(
                emb, probes, dim=64, k=5, bits=6, n_probes=n_probes
            ).collect()
        }
        # multi-probe never duplicates a (probe, neighbor) candidate
        assert len(got) <= 10 * 5
        return len(exact & got) / len(exact)

    # synthetic embeddings are near-random, so absolute recall is weak by
    # construction; the knob's contract is monotone improvement
    r1, r3, r7 = recall(1), recall(3), recall(7)
    assert r3 >= r1 and r7 >= r3, (r1, r3, r7)
    assert r7 > r1, (r1, r7)


def test_neardup_pairs_blocked(spark):
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0], "x"), (1, [0.99, 0.01], "x"), (2, [0.0, 1.0], "x"),
         (3, [1.0, 0.0], "y")],
        ["vec_id", "embedding", "blk"],
    )
    out = neardup_pairs(emb, block_col="blk", threshold=0.95)
    assert {(r["id_a"], r["id_b"]) for r in out.collect()} == {(0, 1)}


def test_unicode_normalization_and_dedup(spark):
    """Round 5: non-Latin corpora must NOT collapse under exact dedup.
    Pre-round-5 the [a-z0-9]-only normalizer mapped every CJK/Cyrillic/
    Arabic doc to the empty string (one shared fingerprint)."""
    from pydala_spark.operators.textstats import word_regex_tokens

    df = spark.createDataFrame(
        [
            (1, "Привет мир это тест"),
            (2, "Привет, мир — это ТЕСТ!!!"),  # case/punct variant of 1
            (3, "你好世界 这是测试"),
            (4, "مرحبا بالعالم هذا اختبار"),
            (5, "The quick brown Fox 42"),
            (6, "!!! ??? ..."),  # punctuation-only -> NULL fingerprint
            (7, "*** ((( )))"),  # punctuation-only -> NULL fingerprint
        ],
        ["doc_id", "text"],
    )
    fps = {
        r["doc_id"]: r["fp"]
        for r in df.select("doc_id", fingerprint("text").alias("fp")).collect()
    }
    # distinct scripts -> distinct fingerprints; variants dedup together
    assert fps[1] == fps[2]
    assert len({fps[1], fps[3], fps[4], fps[5]}) == 4
    assert fps[6] is None and fps[7] is None
    # tokenization: every non-Latin doc yields real tokens
    toks = {
        r["doc_id"]: r["n"]
        for r in df.select(
            "doc_id", F.size(word_regex_tokens("text")).alias("n")
        ).collect()
    }
    assert toks[1] == 4 and toks[3] == 2 and toks[4] == 4 and toks[5] == 5
    assert toks[6] == 0 and toks[7] == 0
    # dedup_exact: 1+2 merge; NULL-fingerprint docs each survive alone
    out = {r["doc_id"]: r["n_dups"] for r in dedup_exact(df, "doc_id").collect()}
    assert out == {1: 2, 3: 1, 4: 1, 5: 1, 6: 1, 7: 1}


def test_predict_lang_scripts(spark):
    """Round 5 script stage: non-Latin scripts are identified by
    character-class ratios; Latin text still goes through stopwords;
    a couple of stray CJK chars cannot override a Latin-majority doc."""
    rows = [
        (1, "日本語のテキストです 漢字も含む", "ja"),  # kana beats Han
        (2, "한국어 텍스트입니다", "ko"),
        (3, "这是一段中文文本 没有假名", "zh"),
        (4, "Это русский текст для проверки", "ru"),
        (5, "هذا نص عربي للاختبار", "ar"),
        (6, "यह हिंदी पाठ है", "hi"),
        (7, "Ελληνικό κείμενο εδώ", "el"),
        (8, "the quick brown fox is an english sentence", "en"),
        (9, "le chat est sur la table pour le test dans ce cas", "fr"),
        (10, "english sentence that mentions 你好 once for the mixed case", "en"),
        (11, "12345 67890 !!!", "other"),
        # kana-presence rule: kanji outnumber kana (common in formal
        # Japanese) but ANY kana marks the doc ja, never zh
        (12, "日本国憲法第九条は戦争の放棄を定める", "ja"),
        # round-5 Latin-script extensions
        (13, "il gatto che dorme non vede una cosa come anche della casa", "it"),
        (14, "ela disse que não era uma coisa para se fazer com os amigos mais", "pt"),
        (15, "het is een dag van niet veel dat ze voor hebben met maar weinig", "nl"),
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t, _ in rows], ["sid", "text"]
    ).select("sid", predict_lang("text").alias("pred"))
    got = {r["sid"]: r["pred"] for r in df.collect()}
    assert got == {i: want for i, _, want in rows}


def test_tokenizer_patterns_shared_with_oracle():
    """The DuckDB oracle's split/normalize SQL must track the operators'
    default patterns — this pins the two representations together so an
    operator-side change can't silently diverge from the oracles."""
    from pydala_spark.operators.textstats import (
        NORMALIZE_STRIP_PATTERN,
        WORD_TOKEN_PATTERN,
    )
    from pydala_spark.queries.ext import _WORD_SPLIT_SQL, _norm_sql

    assert WORD_TOKEN_PATTERN == r"[\p{L}\p{N}']+"
    assert NORMALIZE_STRIP_PATTERN == r"[^\p{L}\p{N} ]"
    # the SQL split class is the complement of the token class (the
    # apostrophe doubles for SQL string quoting)
    assert r"'[^\p{L}\p{N}'']+'" in _WORD_SPLIT_SQL
    assert r"'[^\p{L}\p{N} ]'" in _norm_sql()


def test_textstats(spark):
    df = spark.createDataFrame([(1, "The cat and the dog, the end.")], ["id", "text"])
    row = quality_stats(df).first()
    assert row["q_tokens"] == 7
    assert row["q_punct"] == 2  # one comma, one period
    assert row["q_stop_hits"] == 4  # 3x "the" (lowercased) + "and"
    lang = df.select(predict_lang("text").alias("l")).first()["l"]
    assert lang == "en"
    fp1 = df.select(fingerprint("text").alias("f")).first()["f"]
    df2 = spark.createDataFrame([(1, "  the CAT and the dog -- the END ")], ["id", "text"])
    fp2 = df2.select(fingerprint("text").alias("f")).first()["f"]
    assert fp1 == fp2  # normalization: case/punct/whitespace-insensitive


def test_multimodal_feature_plumbing(spark):
    from pydala_spark.operators.multimodal import extract_features, sample_frames

    rows = [
        Row(media_id=1, kind="image", content=b"\x01\x02\x03\x04" * 64,
            mime="image/png", width=2, height=2, duration_ms=None),
        Row(media_id=2, kind="video", content=b"\xff" * 256,
            mime="video/mp4", width=None, height=None, duration_ms=3500),
    ]
    from pydala_spark.operators.multimodal import MEDIA_SCHEMA

    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = extract_features(df).collect()
    assert {r["media_id"]: len(r["feature"]) for r in feats} == {1: 8, 2: 8}
    assert all(len(r["sha1"]) == 40 for r in feats)
    # determinism
    feats2 = extract_features(df).collect()
    assert sorted(map(str, feats)) == sorted(map(str, feats2))
    frames = sample_frames(df, every_ms=1000).collect()
    assert [r["frame_ms"] for r in frames] == [0, 1000, 2000, 3000]
    with pytest.raises(Exception, match="NotImplementedError|decoding"):
        extract_features(df, decode_stub=False).collect()


def test_decode_media_real_formats(spark):
    import io
    import wave

    from pydala_spark.operators.multimodal import MEDIA_SCHEMA, decode_media

    # 2x2 PPM: all pixels (200, 100, 0) -> mean = 100.0 exactly
    ppm = b"P6\n# comment\n2 2\n255\n" + bytes([200, 100, 0]) * 4
    # 1-channel 16-bit WAV, 8000 Hz, 4000 frames = 500 ms of silence
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(8000)
        wf.writeframes(b"\x00\x00" * 4000)
    wav = buf.getvalue()
    rows = [
        Row(media_id=1, kind="image", content=ppm, mime="image/x-portable-pixmap",
            width=2, height=2, duration_ms=None),
        Row(media_id=2, kind="audio", content=wav, mime="audio/wav",
            width=None, height=None, duration_ms=None),
        Row(media_id=3, kind="image", content=b"\xff\xd8 not decodable", mime="image/jpeg",
            width=None, height=None, duration_ms=None),
    ]
    # PGM P5 grayscale 3x1: pixels 10, 20, 30 -> mean 20
    pgm = b"P5\n3 1\n255\n" + bytes([10, 20, 30])
    # 16-bit PGM (maxval > 255): 2x1, big-endian samples 256 and 512
    pgm16 = b"P5\n2 1\n65535\n" + (256).to_bytes(2, "big") + (512).to_bytes(2, "big")
    # PBM P4 bitmap 10x2 (rows pad to 2 bytes): row0 all 1s, row1 all 0s
    pbm = b"P4\n10 2\n" + bytes([0xFF, 0xC0, 0x00, 0x00])
    # µ-law WAV (format 7), 8000 Hz mono: 0xFF encodes linear 0
    import struct

    fmt = struct.pack("<HHIIHH", 7, 1, 8000, 8000, 1, 8)
    data = b"\xff" * 800  # 800 samples of silence = 100 ms
    ulaw = (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data)) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    rows += [
        Row(media_id=4, kind="image", content=pgm, mime="image/x-portable-graymap",
            width=3, height=1, duration_ms=None),
        Row(media_id=5, kind="image", content=pbm, mime="image/x-portable-bitmap",
            width=10, height=2, duration_ms=None),
        Row(media_id=6, kind="audio", content=ulaw, mime="audio/basic",
            width=None, height=None, duration_ms=None),
        Row(media_id=7, kind="image", content=pgm16, mime="image/x-portable-graymap",
            width=2, height=1, duration_ms=None),
    ]
    out = {r["media_id"]: r for r in decode_media(
        spark.createDataFrame(rows, MEDIA_SCHEMA)).collect()}
    img = out[1]
    assert img["format"] == "ppm" and (img["width"], img["height"]) == (2, 2)
    assert img["mean"] == 100.0
    aud = out[2]
    assert aud["format"] == "wav" and aud["sample_rate"] == 8000
    assert aud["duration_ms"] == 500 and aud["rms"] == 0.0
    assert out[3]["format"] is None  # codec-dependent payloads degrade to null
    g = out[4]
    assert g["format"] == "pgm" and (g["width"], g["height"], g["channels"]) == (3, 1, 1)
    assert g["mean"] == 20.0
    b = out[5]
    assert b["format"] == "pbm" and (b["width"], b["height"]) == (10, 2)
    assert b["mean"] == 0.5  # 10 set bits of 20 (padding bits excluded)
    u = out[6]
    assert u["format"] == "wav" and u["sample_rate"] == 8000
    assert u["n_samples"] == 800 and u["duration_ms"] == 100
    assert u["mean"] == 0.0 and u["rms"] == 0.0  # 0xFF µ-law = linear 0
    g16 = out[7]
    assert g16["format"] == "pgm" and g16["mean"] == 384.0  # (256+512)/2


def test_decode_media_malformed_payloads_never_fail(spark):
    from pydala_spark.operators.multimodal import MEDIA_SCHEMA, decode_media

    evil = [
        b"P6\ngarbage header\n",                    # non-numeric dims
        b"P6\n9999 9999\n255\n\x00\x01",            # truncated raster
        b"P6\n-3 2\n255\n" + b"\x00" * 32,          # negative dims
        b"RIFF\x00\x00\x00\x00WAVEjunkchunk",       # corrupt wave
        b"",                                         # empty
        None,                                        # null blob
    ]
    rows = [
        Row(media_id=i, kind="image", content=p, mime=None,
            width=None, height=None, duration_ms=None)
        for i, p in enumerate(evil)
    ]
    out = decode_media(spark.createDataFrame(rows, MEDIA_SCHEMA)).collect()
    assert len(out) == len(evil)
    assert all(r["format"] is None for r in out)  # degraded, job alive


def test_streaming_incremental_append(spark, tmp_path):
    import os

    from pydala_spark.dataset.reader import Dataset
    from pydala_spark.dataset.writer import Writer
    from pydala_spark.streaming import incremental_append

    src = str(tmp_path / "incoming")
    os.makedirs(src)
    dest = str(tmp_path / "dataset")
    df1 = spark.createDataFrame(
        [(1, TS(2024, 1, 1), 1.0), (2, TS(2024, 1, 2), 2.0)],
        "event_id long, ts timestamp, v double",
    )
    df1.coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema(df1.schema).parquet(src)
    writer = Writer(spark, dest)
    q = incremental_append(
        stream, writer, delta_subset=["event_id"],
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(60)
    assert Dataset(spark, dest).count() == 2
    # second batch: one dup key, one new
    spark.createDataFrame(
        [(2, TS(2024, 1, 2), 99.0), (3, TS(2024, 1, 3), 3.0)],
        "event_id long, ts timestamp, v double",
    ).coalesce(1).write.mode("append").parquet(src)
    q2 = incremental_append(
        stream, writer, delta_subset=["event_id"],
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q2.awaitTermination(60)
    df = Dataset(spark, dest).load()
    assert df.count() == 3
    assert df.where("event_id = 2").first()["v"] == 2.0  # original kept


def test_streaming_append_with_compaction(spark, tmp_path):
    import glob
    import os

    from pydala_spark.dataset.reader import Dataset
    from pydala_spark.dataset.writer import Writer
    from pydala_spark.streaming import incremental_append

    src = str(tmp_path / "in2")
    os.makedirs(src)
    dest = str(tmp_path / "ds2")
    # several small input files -> several micro-batch appends worth of
    # tiny part files; compact_every=1 folds them back together
    for i in range(3):
        spark.createDataFrame(
            [(i * 10 + j, float(j)) for j in range(4)], "event_id long, v double"
        ).repartition(4).write.mode("append").parquet(src)
    stream = spark.readStream.schema("event_id long, v double").option(
        "maxFilesPerTrigger", "4"
    ).parquet(src)
    writer = Writer(spark, dest)
    q = incremental_append(
        stream,
        writer,
        delta_subset=["event_id"],
        checkpoint_dir=str(tmp_path / "ckpt2"),
        compact_every=1,
        target_file_mb=128,
    )
    q.awaitTermination(120)
    ds = Dataset(spark, dest)
    assert ds.count() == 12
    # tiny dataset compacts to a single part file
    assert len(glob.glob(os.path.join(dest, "*.parquet"))) == 1


def test_windowed_counts_streaming(spark, tmp_path):
    import os

    from pydala_spark.streaming import windowed_counts

    src = str(tmp_path / "stream")
    df = spark.createDataFrame(
        [(TS(2024, 1, 1, 0, i), "click") for i in range(10)]
        + [(TS(2024, 1, 1, 0, 7), "view")],
        "ts timestamp, event_type string",
    )
    df.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    agg = windowed_counts(stream, window="5 minutes")
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("win_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    rows = spark.sql("SELECT * FROM win_out ORDER BY window_start, event_type").collect()
    assert [(r["event_type"], r["n"]) for r in rows] == [
        ("click", 5), ("click", 5), ("view", 1)
    ]


def test_streaming_dedup_by_content(spark, tmp_path):
    from pydala_spark.streaming import streaming_dedup

    src = str(tmp_path / "docs_stream")
    df = spark.createDataFrame(
        [
            (1, TS(2024, 1, 1, 0, 0), "the quick brown fox"),
            (2, TS(2024, 1, 1, 0, 1), "The quick, brown FOX!"),  # dup after normalization
            (3, TS(2024, 1, 1, 0, 2), "an entirely new doc"),
            (4, TS(2024, 1, 1, 0, 3), "an entirely new doc"),  # dup content
            (5, TS(2024, 1, 1, 0, 4), "unique"),
        ],
        "doc_id long, ts timestamp, text string",
    )
    df.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    deduped = streaming_dedup(stream, text_col="text", ts_col="ts")
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    rows = spark.sql("SELECT doc_id FROM dedup_out").collect()
    # the stream uses the BATCH fingerprint (case/punct-normalized), so
    # doc 2 dedups against doc 1 exactly as dedup_exact would decide
    assert sorted(r["doc_id"] for r in rows) == [1, 3, 5]
    # fingerprint helper column does not leak into the output
    assert "__fp" not in spark.table("dedup_out").columns

    with pytest.raises(ValueError, match="text_col or subset"):
        streaming_dedup(stream)


def test_streaming_decontaminate(spark, tmp_path):
    # round 8 (late): ingest-time benchmark filtering — zero state,
    # zero shuffles, verdicts identical to the batch operator
    from pydala_spark.operators.dedup import winnowing_contamination
    from pydala_spark.streaming import streaming_decontaminate

    leak = "the quick brown fox jumps over the lazy benchmark dog"
    docs = spark.createDataFrame(
        [
            (1, f"leading filler then {leak} trailing words here"),
            (2, "zebra umbrella xylophone quartz jigsaw vortex plinth"),
            (3, "gizmo parsnip okapi wombat fjord crypt glyph nymph"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(0, leak)], ["doc_id", "text"])

    src = str(tmp_path / "decon_stream")
    docs.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(docs.schema).parquet(src)

    out = streaming_decontaminate(stream, bench)
    q = (out.writeStream.outputMode("append").format("memory")
         .queryName("decon_out").trigger(availableNow=True).start())
    q.awaitTermination(60)
    kept = sorted(r["doc_id"]
                  for r in spark.sql("SELECT doc_id FROM decon_out").collect())
    # stream verdicts == batch operator verdicts on the same frames
    batch_hits = {r["id"] for r in winnowing_contamination(
        docs, bench, "doc_id").collect()}
    assert batch_hits == {1}
    assert kept == [2, 3]
    assert "__fps" not in spark.table("decon_out").columns

    # flag mode annotates instead of dropping (quarantine routing)
    flagged = streaming_decontaminate(stream, bench, flag_col="n_hits")
    q2 = (flagged.writeStream.outputMode("append").format("memory")
          .queryName("decon_flag").trigger(availableNow=True).start())
    q2.awaitTermination(60)
    rows = {r["doc_id"]: r["n_hits"] for r in
            spark.sql("SELECT doc_id, n_hits FROM decon_flag").collect()}
    assert rows[1] >= 1 and rows[2] == 0 and rows[3] == 0
    # flag counts match the batch n_hits exactly
    batch_n = {r["id"]: r["n_hits"] for r in winnowing_contamination(
        docs, bench, "doc_id").collect()}
    assert rows[1] == batch_n[1]

    # empty benchmark: everything passes (empty-text fps guard holds)
    empty = spark.createDataFrame([(0, "...")], ["doc_id", "text"])
    out3 = streaming_decontaminate(stream, empty)
    q3 = (out3.writeStream.outputMode("append").format("memory")
          .queryName("decon_empty").trigger(availableNow=True).start())
    q3.awaitTermination(60)
    assert spark.sql("SELECT count(*) n FROM decon_empty").first()["n"] == 3


def test_time_range_join_matches_naive(spark, sf_dir):
    from pydala_spark.operators.rangejoin import time_range_join
    from pydala_spark.sources import load_table
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events")
    windows = ev.where("event_type = 'error'").select(
        F.col("event_id").alias("w_id"),
        "user_id",
        F.col("ts").alias("lo"),
        (F.col("ts") + F.expr("INTERVAL 10 MINUTE")).alias("hi"),
    )
    points = ev.where("event_type = 'view'").select(
        F.col("event_id").alias("p_id"), "user_id", F.col("ts").alias("pts")
    )
    got = time_range_join(points, windows, "pts", "lo", "hi",
                          on=["user_id"], bucket="5min")
    naive = points.alias("p").join(
        windows.alias("w"),
        (F.col("p.user_id") == F.col("w.user_id"))
        & F.col("p.pts").between(F.col("w.lo"), F.col("w.hi")),
    )
    assert {(r["p_id"], r["w_id"]) for r in got.collect()} == {
        (r["p_id"], r["w_id"]) for r in naive.collect()
    }
    # the whole point: an equi-join plan, not a nested loop
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan

    semi = time_range_join(points, windows, "pts", "lo", "hi",
                           on=["user_id"], bucket="5min", how="left_semi")
    assert {r["p_id"] for r in semi.collect()} == {
        r["p_id"] for r in naive.select("p_id").collect()
    }
    assert semi.columns == points.columns


def test_winnowing_fingerprints_overlap(spark):
    from pydala_spark.operators.textstats import winnowing_fingerprints

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog tonight"),
            (2, "the quick brown fox jumps over the lazy cat tonight"),  # near dup
            (3, "entirely different content with nothing shared at all"),
        ],
        ["doc_id", "text"],
    )
    fps = {
        r["id"]: set(r["fps"])
        for r in winnowing_fingerprints(docs, "doc_id", "text").collect()
    }
    def jac(a, b):
        return len(fps[a] & fps[b]) / len(fps[a] | fps[b])

    assert jac(1, 2) > 0.4  # near dups share a large fingerprint fraction
    assert jac(1, 3) < 0.1  # unrelated docs share almost none
    # determinism
    fps2 = {
        r["id"]: set(r["fps"])
        for r in winnowing_fingerprints(docs, "doc_id", "text").collect()
    }
    assert fps == fps2


def test_lsh_max_bucket_size_drops_degenerate_bucket(spark):
    # a viral duplicate: 12 identical docs -> every band hashes to one
    # giant bucket whose pair explosion is quadratic; the cap drops it
    from pyspark.sql import Row

    docs = spark.createDataFrame(
        [Row(doc_id=i, text="the same viral text repeated again and again here")
         for i in range(12)]
        + [Row(doc_id=100, text="a completely different document about spark plans"),
           Row(doc_id=101, text="a completely different document about spark plans")]
    )
    sigs = minhash_signatures(docs, "doc_id", "text", n_hashes=8)
    uncapped = lsh_candidate_pairs(sigs, "doc_id", n_bands=4).count()
    assert uncapped >= 12 * 11 // 2  # quadratic blow-up present
    capped = lsh_candidate_pairs(
        sigs, "doc_id", n_bands=4, max_bucket_size=5, log_dropped=False
    )
    pairs = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert (100, 101) in pairs          # small bucket survives
    assert all(a >= 100 for a, _ in pairs)  # viral bucket dropped


def test_repetition_stats_gopher_signals(spark):
    from pydala_spark.operators.textstats import repetition_stats

    docs = spark.createDataFrame(
        [
            # 4 lines, "dup dup" twice -> line + ngram repetition
            (1, "dup dup\nunique line one\ndup dup\nunique line two"),
            (2, "all words distinct here now"),    # no repeats
            (3, "go go go go"),                    # one gram repeated 3x
            (4, ""),                               # empty doc survives
            (5, "single"),                         # < ngram tokens
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in repetition_stats(docs).collect()}

    r1 = out[1]
    assert r1["n_lines"] == 4
    assert r1["dup_line_frac"] == pytest.approx(1 - 3 / 4)  # 3 distinct of 4
    # "dup dup" = 7 chars x2 repeats of 7+15+15 char mass... dup lines: 14 of 44
    assert r1["dup_line_char_frac"] == pytest.approx(14 / 44)
    assert r1["top_ngram"] == "dup dup"

    r2 = out[2]
    assert r2["dup_ngram_frac"] == 0.0 and r2["dup_line_frac"] == 0.0
    assert r2["top_ngram_cnt"] == 1

    r3 = out[3]
    assert r3["n_grams"] == 3 and r3["top_ngram"] == "go go"
    assert r3["top_ngram_cnt"] == 3
    assert r3["dup_ngram_frac"] == pytest.approx(1 - 1 / 3)
    # 3 occurrences x 5 chars over 11 chars of text (overlap can exceed 1)
    assert r3["top_ngram_char_frac"] == pytest.approx(15 / 11)

    r4, r5 = out[4], out[5]
    assert r4["n_lines"] == 0 and r4["n_grams"] == 0
    assert r4["top_ngram"] is None and r4["top_ngram_char_frac"] == 0.0
    assert r5["n_grams"] == 0 and r5["n_lines"] == 1


def test_streaming_compaction_generation_swap(spark, tmp_path):
    # ride-along maintenance with the object-store-safe swap: each
    # compaction advances the generation pointer; the long-lived Writer
    # re-resolves per micro-batch so later appends follow the advance
    import json
    import os

    from pydala_spark.dataset.reader import Dataset
    from pydala_spark.dataset.writer import Writer
    from pydala_spark.streaming import incremental_append

    src = str(tmp_path / "in_gen")
    os.makedirs(src)
    dest = str(tmp_path / "ds_gen")
    for i in range(3):
        spark.createDataFrame(
            [(i * 10 + j, float(j)) for j in range(4)], "event_id long, v double"
        ).repartition(2).write.mode("append").parquet(src)
    stream = spark.readStream.schema("event_id long, v double").option(
        "maxFilesPerTrigger", "2"
    ).parquet(src)
    q = incremental_append(
        stream,
        Writer(spark, dest),
        delta_subset=["event_id"],
        checkpoint_dir=str(tmp_path / "ckpt_gen"),
        compact_every=1,
        swap="generation",
    )
    q.awaitTermination(120)
    with open(os.path.join(dest, "_generation.json")) as f:
        ptr = json.load(f)
    assert ptr["active"].startswith("gen-")
    assert int(ptr["active"][4:]) >= 2  # advanced at least twice
    ds = Dataset(spark, dest)
    assert ds.path.endswith(ptr["active"])
    assert ds.count() == 12  # every micro-batch's rows survived the swaps


def test_chunk_documents(spark):
    from pydala_spark.operators.textstats import chunk_documents

    docs = spark.createDataFrame(
        [
            (1, " ".join(f"w{i}" for i in range(10))),  # 10 tokens
            (2, "only three tokens"),
            (3, ""),                                     # empty -> no chunks
        ],
        "doc_id long, text string",
    )
    out = chunk_documents(docs, chunk_tokens=8, overlap=2)
    rows = sorted(
        (r["doc_id"], r["chunk_id"], r["n_chunk_tokens"], r["chunk_text"])
        for r in out.collect()
    )
    # doc1: stride 6 -> chunk0 = w0..w7, chunk1 = w6..w9 (tail shorter)
    assert rows == [
        (1, 0, 8, " ".join(f"w{i}" for i in range(8))),
        (1, 1, 4, "w6 w7 w8 w9"),
        (2, 0, 3, "only three tokens"),
    ]
    # overlap: chunk1 re-covers the last `overlap` tokens of chunk0
    assert rows[1][3].split()[:2] == ["w6", "w7"]

    # a tail window that adds no new tokens is dropped
    seven = spark.createDataFrame(
        [(9, " ".join(f"t{i}" for i in range(7)))], "doc_id long, text string"
    )
    got = chunk_documents(seven, chunk_tokens=8, overlap=2).collect()
    assert len(got) == 1 and got[0]["n_chunk_tokens"] == 7

    import pytest

    with pytest.raises(ValueError, match="overlap"):
        chunk_documents(docs, chunk_tokens=4, overlap=4)


def test_ngram_jaccard_stop_shingle_cap(spark):
    # max_shingle_df: a shingle present in EVERY doc must not make the
    # self-join quadratic. Docs share a ubiquitous boilerplate prefix;
    # only the two with matching unique tails should pair once the
    # boilerplate shingles are dropped.
    boiler = "common header licensed under the same terms for all docs"
    rows = [(i, f"{boiler} unique tail number {i} content") for i in range(8)]
    rows += [(100, f"{boiler} twin payload alpha beta gamma"),
             (101, f"{boiler} twin payload alpha beta gamma")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    uncapped = ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.01)
    capped = ngram_jaccard_pairs(
        docs, "doc_id", "text", threshold=0.01, max_shingle_df=5
    )
    # boilerplate alone pairs every doc with every other without the cap
    assert uncapped.count() == 45  # C(10,2)
    got = {(r["id_a"], r["id_b"]): r for r in capped.collect()}
    assert set(got) == {(100, 101)}  # only the true twins survive
    # jaccard is exact over the retained-shingle universe
    assert got[(100, 101)]["jaccard"] == 1.0
    assert got[(100, 101)]["size_a"] == got[(100, 101)]["inter"]
    # plan stays an equi-join (bucketed by shingle), never a cross join
    plan = capped._jdf.queryExecution().executedPlan().toString()
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan


def test_pluggable_decoder_seam(spark):
    # r3 punch list #4: a user-supplied decoder callable plugs codec
    # formats into decode_media/extract_features through the same
    # nested-closure mapInPandas contract — no module edits, builtin
    # stdlib formats keep working alongside it, and a decoder crash on
    # one blob degrades that row instead of failing the job
    from pydala_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        decode_media,
        extract_features,
    )

    ppm = b"P6\n2 2\n255\n" + bytes([200, 100, 0]) * 4
    rows = [
        Row(media_id=1, kind="image", content=b"\xff\xd8FAKEJPEG",
            mime="image/jpeg", width=None, height=None, duration_ms=None),
        Row(media_id=2, kind="image", content=ppm,
            mime="image/x-portable-pixmap", width=2, height=2,
            duration_ms=None),
        Row(media_id=3, kind="image", content=b"\xde\xad garbage",
            mime=None, width=None, height=None, duration_ms=None),
        Row(media_id=4, kind="image", content=b"\xff\xd8BOOM",
            mime="image/jpeg", width=None, height=None, duration_ms=None),
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)

    # self-contained fake "codec": recognizes the JPEG magic only
    def jpeg_codec(payload, kind):
        if payload[:2] == b"\xff\xd8":
            if b"BOOM" in payload:
                raise RuntimeError("codec crash on this blob")
            return {"format": "jpeg", "width": 4, "height": 3, "channels": 3,
                    "mean": 12.5, "rms": 13.0}
        return {}

    out = {r["media_id"]: r for r in decode_media(df, decoder=jpeg_codec).collect()}
    assert out[1]["format"] == "jpeg" and out[1]["width"] == 4
    assert out[2]["format"] == "ppm" and out[2]["mean"] == 100.0  # builtin path
    assert out[3]["format"] is None          # undecodable stays a null row
    assert out[4]["format"] is None          # decoder crash degraded, job lived

    def feat_codec(payload, kind):
        if payload[:2] == b"\xff\xd8":
            return {"feature": [float(len(payload)), 1.5]}
        return {}

    feats = {r["media_id"]: r for r in extract_features(
        df, decoder=feat_codec).collect()}
    assert feats[1]["feature"] == [10.0, 1.5]      # native length kept
    assert len(feats[2]["feature"]) == 8           # stub fallback for non-jpeg
    # decoder + decode_stub=False: decoded rows pass, undecoded rows raise
    import pytest as _pytest
    with _pytest.raises(Exception, match="NotImplementedError|decoding"):
        extract_features(df, decoder=feat_codec, decode_stub=False).collect()


def test_lsh_rejects_signatureless_frame(spark, sf_dir):
    import pytest

    from pydala_spark.operators.dedup import lsh_candidate_pairs
    from pydala_spark.sources import load_table as _lt

    docs = _lt(spark, sf_dir, "documents")
    with pytest.raises(ValueError, match="mh_"):
        lsh_candidate_pairs(docs.select("doc_id"), "doc_id")


def test_quality_stats_mean_token_len_exact(spark):
    from pydala_spark.operators.textstats import quality_stats

    df = spark.createDataFrame(
        [(1, "  hello  "), (2, "a  b"), (3, "xx yy zz")], "id long, text string"
    )
    rows = {r["id"]: r["q_mean_token_len"] for r in quality_stats(df).collect()}
    assert rows[1] == 5.0   # padding must not inflate
    assert rows[2] == 1.0   # double space must not inflate
    assert rows[3] == 2.0


def test_quality_stats_empty_text_scores_zero(spark):
    # round 8: empty/whitespace-only docs (e.g. hollowed out by span
    # surgery) must yield NULL ratios (DuckDB x/0 semantics) and score
    # 0 — not an ANSI DIVIDE_BY_ZERO that kills the pipeline run
    from pydala_spark.operators.textstats import quality_stats

    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "real text with several words here")],
        "id long, text string",
    )
    rows = {r["id"]: r for r in quality_stats(df).collect()}
    for i in (1, 2):
        assert rows[i]["q_mean_token_len"] is None
        assert rows[i]["q_stop_ratio"] is None
    assert rows[1]["q_punct_ratio"] is None  # zero chars -> NULL ratio
    assert rows[1]["q_score"] == 0  # every NULL criterion reads false
    assert rows[2]["q_score"] == 1  # whitespace-only: punct test only
    assert rows[3]["q_score"] >= 1


def test_decode_media_8bit_wav_dc_bias(spark):
    import io
    import wave

    from pydala_spark.operators.multimodal import decode_media

    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(1)
        wf.setframerate(8000)
        wf.writeframes(bytes([128] * 800))  # 8-bit silence = 0x80
    df = spark.createDataFrame(
        [(1, bytearray(buf.getvalue()))], "media_id long, content binary"
    )
    row = decode_media(df).collect()[0]
    assert row["format"] == "wav"
    assert row["mean"] == 0.0 and row["rms"] == 0.0  # bias removed


def test_asof_null_timestamps_yield_no_match(spark):
    import datetime as dt

    from pydala_spark.operators.asof import asof_join

    TS = dt.datetime
    left = spark.createDataFrame(
        [(1, TS(2024, 1, 1, 5)), (1, None)], "k long, ts timestamp"
    )
    right = spark.createDataFrame(
        [(1, None, 99.0), (1, TS(2024, 1, 1, 10), 1.0), (1, TS(2024, 1, 1, 2), 2.0)],
        "k long, ts timestamp, v double",
    )
    back = {(r["k"], r["ts"]): r["v"] for r in
            asof_join(left, right, "ts", "k", ["v"]).collect()}
    # left@5 matches right@2 (NOT the null-ts right row's 99.0)
    assert back[(1, TS(2024, 1, 1, 5))] == 2.0
    assert back[(1, None)] is None  # null-ts left row: no match
    fwd = {(r["k"], r["ts"]): r["v"] for r in
           asof_join(left, right, "ts", "k", ["v"], direction="forward").collect()}
    assert fwd[(1, TS(2024, 1, 1, 5))] == 1.0
    assert fwd[(1, None)] is None


def test_asof_rejects_reserved_columns(spark):
    import pytest

    from pydala_spark.operators.asof import asof_join

    df = spark.createDataFrame([(1, 2, 3)], "k long, ts long, __side long")
    with pytest.raises(ValueError, match="reserved"):
        asof_join(df, df.drop("__side"), "ts", "k", [])


def test_streaming_maintenance_guards(spark, tmp_path):
    import pytest

    from pydala_spark.dataset.writer import Writer
    from pydala_spark.streaming import incremental_append

    stream = spark.readStream.format("rate").option("rowsPerSecond", 1).load()
    with pytest.raises(ValueError, match="hive-partitioned"):
        incremental_append(
            stream,
            Writer(spark, str(tmp_path / "a"), partition_by=["p"]),
            zorder_by=["value"],
            compact_every=1,
        )
    with pytest.raises(ValueError, match="not supported for format"):
        incremental_append(
            stream,
            Writer(spark, str(tmp_path / "b"), format="feather"),
            compact_every=1,
        )


def test_tomlout_rejects_null_in_array():
    import pytest

    from pydala_spark.utils.tomlout import dumps

    with pytest.raises(TypeError, match="unsupported value"):
        dumps({"cols": ["a", None]})
    with pytest.raises(TypeError, match="unsupported value"):
        dumps({"tables": [{"k": 1}]})


def test_classifier_score_pinned_weights(spark):
    # r4: linear logistic scorer — logit is an exact left-to-right fold,
    # sigmoid monotone in it; prob_col=None skips the sigmoid column
    from pydala_spark.operators import classifier_score

    df = spark.createDataFrame(
        [(1, 100, 0.05), (2, 5, 0.5)], ["id", "n_tokens", "punct_ratio"]
    )
    out = {r["id"]: r for r in classifier_score(
        df,
        [(F.col("n_tokens"), 0.01), (F.col("punct_ratio"), -4.0)],
        bias=-0.5,
    ).collect()}
    exp1 = ((-0.5 + 100 * 0.01) + 0.05 * -4.0)
    exp2 = ((-0.5 + 5 * 0.01) + 0.5 * -4.0)
    assert out[1]["clf_logit"] == exp1 and out[2]["clf_logit"] == exp2
    import math
    assert abs(out[1]["clf_prob"] - 1 / (1 + math.exp(-exp1))) < 1e-12
    assert out[1]["clf_prob"] > out[2]["clf_prob"]
    no_prob = classifier_score(df, [(F.col("n_tokens"), 1.0)], prob_col=None)
    assert "clf_prob" not in no_prob.columns


def test_streaming_pq_index_ingest(spark, tmp_path):
    # r4: the streaming-index pattern — embedding stream -> per-batch
    # ivf_pq_encode transform -> cell-partitioned delta append. Pinned
    # codebooks make the streamed index byte-identical to a batch build.
    from pydala_spark.dataset.reader import Dataset
    from pydala_spark.dataset.writer import Writer
    from pydala_spark.operators.ann import (
        ivf_pq_encode,
        kmeans_centroids,
        pq_codebooks,
    )
    from pydala_spark.streaming import incremental_append

    rows = [
        (i, [float(i % 7), float((i * 3) % 5), 1.0, 0.5]) for i in range(40)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cents = kmeans_centroids(df, n_centroids=2, seed=3)
    books = pq_codebooks(df, m=2, n_codes=4, seed=3)

    src = str(tmp_path / "emb_src")
    df.repartition(4).write.parquet(src)
    stream = spark.readStream.schema(df.schema).option(
        "maxFilesPerTrigger", "2"
    ).parquet(src)
    out = str(tmp_path / "pq_index")
    writer = Writer(spark, out, partition_by="cell")
    q = incremental_append(
        stream,
        writer,
        delta_subset=["id"],
        checkpoint_dir=str(tmp_path / "ckpt_pq"),
        transform_func=lambda b: ivf_pq_encode(b, cents, books),
    )
    q.awaitTermination(120)

    batch = {
        r["id"]: (r["cell"], tuple(r["codes"]))
        for r in ivf_pq_encode(df, cents, books).collect()
    }
    streamed = {
        r["id"]: (int(r["cell"]), tuple(r["codes"]))
        for r in Dataset(spark, out).load().collect()
    }
    assert streamed == batch


def test_keep_cluster_representatives(spark):
    from pydala_spark.operators import dedup_clusters, keep_cluster_representatives

    # chain a~b, b~c forms one cluster {1,2,3}; {8,9} another; 5 alone
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (8, 9)], ["id_a", "id_b"]
    )
    clusters = dedup_clusters(pairs)
    docs = spark.createDataFrame(
        [(1, "a", 0.2), (2, "b", 0.9), (3, "c", 0.5),
         (5, "e", 0.1), (8, "h", 0.4), (9, "i", 0.4)],
        ["doc_id", "text", "quality"],
    )
    # score-based: best-quality member represents each cluster; tie in
    # {8,9} breaks to the smaller id; unclustered 5 survives
    best = {r["doc_id"] for r in keep_cluster_representatives(
        docs, clusters, "doc_id", score_col="quality").collect()}
    assert best == {2, 5, 8}
    # no score: smallest id per cluster
    first = {r["doc_id"] for r in keep_cluster_representatives(
        docs, clusters, "doc_id").collect()}
    assert first == {1, 5, 8}


def test_keep_cluster_representatives_singleton_id_collision(spark):
    """r4 advice: a corpus doc whose id EQUALS a cluster_id (cluster ids
    are drawn from the id domain) while that cluster's min-id member was
    filtered out of the corpus must not share a window with the
    cluster's members — both it and the cluster's survivor stay."""
    from pydala_spark.operators import dedup_clusters, keep_cluster_representatives

    clusters = dedup_clusters(
        spark.createDataFrame([(1, 2), (2, 3)], ["id_a", "id_b"])
    )  # cluster {1,2,3} labeled cluster_id=1
    # corpus: doc 1 (the label holder) was filtered out upstream; doc 1's
    # id value appears only as the CLUSTER label now. An unclustered doc
    # with id 1 would previously coalesce into the cluster's window.
    docs = spark.createDataFrame(
        [(1, "unrelated singleton"), (2, "b"), (3, "c")], ["doc_id", "text"]
    )
    # make doc 1 genuinely unclustered: restrict the cluster map to 2,3
    cl = clusters.where(F.col("id") != 1)
    kept = {r["doc_id"] for r in
            keep_cluster_representatives(docs, cl, "doc_id").collect()}
    assert kept == {1, 2}  # singleton 1 survives AND cluster {2,3} keeps 2


def test_topk_recall(spark):
    from pydala_spark.operators import cosine_topk, topk_recall

    emb = spark.createDataFrame(
        [(i, [float(i % 3) + 1.0, float(i % 5), 1.0, 0.0]) for i in range(30)],
        ["vec_id", "embedding"],
    )
    probes = emb.where(F.col("vec_id") < 3)
    exact = cosine_topk(emb, probes, k=5)
    # self-recall is exactly 1.0 everywhere
    r = topk_recall(exact, exact).collect()
    assert len(r) == 3 and all(row["recall"] == 1.0 for row in r)
    # half the neighbors dropped -> recall reflects it per probe
    partial = exact.where(F.col("rnk") <= 2)
    r2 = {row["probe_id"]: row for row in topk_recall(partial, exact).collect()}
    assert all(row["n_exact"] == 5 and row["n_hit"] == 2 for row in r2.values())


def test_topk_recall_dedups_multi_strategy_input(spark):
    # r4 review: a family-tagged union (same pair under two strategies)
    # must not fan out the join and inflate n_exact/n_hit
    from pydala_spark.operators import cosine_topk, topk_recall

    emb = spark.createDataFrame(
        [(i, [float(i % 3) + 1.0, float(i % 5), 1.0, 0.0]) for i in range(20)],
        ["vec_id", "embedding"],
    )
    probes = emb.where(F.col("vec_id") < 2)
    exact = cosine_topk(emb, probes, k=5)
    doubled = exact.unionByName(exact)  # every pair appears twice
    r = topk_recall(doubled, exact).collect()
    assert all(row["n_exact"] == 5 and row["recall"] == 1.0 for row in r)


def test_dedup_paragraphs_first_occurrence_wins(spark):
    # r4: corpus-wide line dedup — a repeated boilerplate line survives
    # only at its first (doc, position); docs reassemble in order
    from pydala_spark.operators import dedup_paragraphs

    df = spark.createDataFrame(
        [
            (1, "unique one\nSHARED FOOTER\nunique two"),
            (2, "SHARED FOOTER\nonly in two"),
            (3, "SHARED FOOTER"),
            (4, "   \n  "),  # whitespace-only: hollowed out
        ],
        ["doc_id", "text"],
    )
    out = {r["id"]: r for r in dedup_paragraphs(df).collect()}
    assert out[1]["text"] == "unique one\nSHARED FOOTER\nunique two"
    assert out[1]["n_paras"] == 3 and out[1]["n_kept"] == 3
    assert out[2]["text"] == "only in two"
    assert out[2]["n_paras"] == 2 and out[2]["n_kept"] == 1
    assert out[3]["text"] == "" and out[3]["n_kept"] == 0
    assert out[4]["text"] == "" and out[4]["n_paras"] == 0


def _make_png(w, h, ch, pixel_fn, filters):
    # minimal PNG encoder for the test: 8-bit, chosen per-row filters
    import struct
    import zlib

    ctype = {1: 0, 2: 4, 3: 2, 4: 6}[ch]
    raw = [[pixel_fn(x, y, c) for x in range(w) for c in range(ch)]
           for y in range(h)]
    scan = b""
    prev = [0] * (w * ch)
    for y, row in enumerate(raw):
        f = filters[y % len(filters)]
        if f == 0:
            enc = row
        elif f == 1:  # Sub
            enc = [(row[i] - (row[i - ch] if i >= ch else 0)) % 256
                   for i in range(len(row))]
        elif f == 2:  # Up
            enc = [(row[i] - prev[i]) % 256 for i in range(len(row))]
        elif f == 3:  # Average
            enc = [(row[i] - (((row[i - ch] if i >= ch else 0) + prev[i]) >> 1))
                   % 256 for i in range(len(row))]
        else:  # Paeth
            enc = []
            for i in range(len(row)):
                a = row[i - ch] if i >= ch else 0
                b, c = prev[i], (prev[i - ch] if i >= ch else 0)
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                enc.append((row[i] - pred) % 256)
        scan += bytes([f]) + bytes(enc)
        prev = row

    def chunk(cid, body):
        return (struct.pack(">I", len(body)) + cid + body
                + struct.pack(">I", zlib.crc32(cid + body)))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(scan)) + chunk(b"IEND", b"")), raw


def test_decode_media_png_and_bmp(spark):
    # r4: real stdlib PNG (zlib inflate + filter reconstruction, all 5
    # filter types) and BMP (24bpp, row padding) decode — the codec stub
    # now covers only JPEG/MP3/MP4
    import numpy as np

    from pydala_spark.operators.multimodal import decode_media

    w, h = 5, 7  # odd width -> BMP rows need padding
    png, raw = _make_png(w, h, 3, lambda x, y, c: (x * 40 + y * 9 + c * 3) % 256,
                         filters=[0, 1, 2, 3, 4])
    flat = np.array([v for row in raw for v in row], dtype=np.float64)
    # 24bpp BMP of the same pixel values (BGR order — stats orderless)
    stride = ((w * 3 + 3) // 4) * 4
    rows = b""
    for y in range(h - 1, -1, -1):  # bottom-up
        row = bytes(raw[y]) + b"\x00" * (stride - w * 3)
        rows += row
    bmp = (b"BM" + (54 + len(rows)).to_bytes(4, "little") + b"\x00" * 4
           + (54).to_bytes(4, "little")
           + (40).to_bytes(4, "little") + w.to_bytes(4, "little")
           + h.to_bytes(4, "little") + (1).to_bytes(2, "little")
           + (24).to_bytes(2, "little") + (0).to_bytes(4, "little")
           + len(rows).to_bytes(4, "little") + b"\x00" * 16 + rows)
    df = spark.createDataFrame(
        [(1, "image", bytearray(png)), (2, "image", bytearray(bmp)),
         (3, "image", bytearray(b"\xff\xd8\xff\xe0 not decodable"))],
        "media_id long, kind string, content binary",
    )
    out = {r["media_id"]: r for r in decode_media(df).collect()}
    exp_mean = float(flat.mean())
    exp_rms = float(np.sqrt((flat * flat).mean()))
    assert out[1]["format"] == "png" and out[1]["width"] == w
    assert abs(out[1]["mean"] - exp_mean) < 1e-9
    assert abs(out[1]["rms"] - exp_rms) < 1e-9
    assert out[2]["format"] == "bmp" and out[2]["height"] == h
    assert abs(out[2]["mean"] - exp_mean) < 1e-9  # same pixels, padding excluded
    assert out[3]["format"] is None  # JPEG stays the honest stub boundary


def test_dedup_paragraphs_literal_separator_and_plan(spark):
    # r4 review: sep is literal (a '.' separator must not be a regex
    # wildcard), and the split must not be re-evaluated below the
    # generate (InferFiltersFromGenerate trap)
    from pydala_spark.operators import dedup_paragraphs

    df = spark.createDataFrame(
        [(1, "alpha.beta.alpha"), (2, "beta.gamma")], ["doc_id", "text"]
    )
    res = dedup_paragraphs(df, sep=".")
    out = {r["id"]: r for r in res.collect()}
    # doc 1's second 'alpha' is a duplicate of its own first occurrence
    assert out[1]["text"] == "alpha.beta" and out[1]["n_paras"] == 3
    assert out[1]["n_kept"] == 2
    assert out[2]["text"] == "gamma" and out[2]["n_kept"] == 1
    plan = res._jdf.queryExecution().optimizedPlan().toString()
    # split() appears in the two base projections (paras + totals
    # branches) but must not be duplicated into inferred generate guards
    assert plan.count("split(") <= 2, plan


def test_decode_media_gif(spark):
    # r4: pure-python GIF LZW decode. Case 1: the canonical documented
    # 43-byte 1x1 GIF. Case 2: a hand-packed 4x2 4-color image emitted
    # as literal LZW codes (exercises code-width growth), stats checked
    # against the palette-mapped ground truth.
    import numpy as np

    from pydala_spark.operators.multimodal import decode_media

    tiny = bytes.fromhex(
        "474946383961010001008000"
        "00ffffff00000021f90400000000002c00000000010001000002024401003b"
    )

    # 4x2 image, palette [(0,0,0),(85,85,85),(170,170,170),(255,255,255)]
    pal = bytes([0, 0, 0, 85, 85, 85, 170, 170, 170, 255, 255, 255])
    pixels = [0, 1, 2, 3, 3, 2, 1, 0]
    min_code, clear, eoi = 2, 4, 5
    codes = [clear] + pixels + [eoi]
    # emit with decoder-synchronized width growth: the decoder adds one
    # table entry per code after the first pixel code
    bits, acc, nbits = bytearray(), 0, 0
    width, table_size, seen_first = min_code + 1, clear + 2, False
    for c in codes:
        acc |= c << nbits
        nbits += width
        while nbits >= 8:
            bits.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
        if c not in (clear, eoi):
            if seen_first:
                table_size += 1
                if table_size == (1 << width) and width < 12:
                    width += 1
            seen_first = True
    if nbits:
        bits.append(acc & 0xFF)
    gif = (
        b"GIF89a" + (4).to_bytes(2, "little") + (2).to_bytes(2, "little")
        + bytes([0x81, 0, 0])  # GCT present, 2-bit
        + pal
        + b"\x2c" + b"\x00" * 4 + (4).to_bytes(2, "little")
        + (2).to_bytes(2, "little") + b"\x00"
        + bytes([min_code, len(bits)]) + bytes(bits) + b"\x00" + b"\x3b"
    )
    df = spark.createDataFrame(
        [(1, "image", bytearray(tiny)), (2, "image", bytearray(gif))],
        "media_id long, kind string, content binary",
    )
    out = {r["media_id"]: r for r in decode_media(df).collect()}
    assert out[1]["format"] == "gif" and out[1]["width"] == 1
    assert out[1]["mean"] == 255.0
    vals = np.repeat([0.0, 85.0, 170.0, 255.0, 255.0, 170.0, 85.0, 0.0], 3)
    assert out[2]["format"] == "gif" and out[2]["width"] == 4
    assert abs(out[2]["mean"] - vals.mean()) < 1e-9
    assert abs(out[2]["rms"] - float(np.sqrt((vals * vals).mean()))) < 1e-9


def test_decode_media_gif_static_compressed_fixture(spark):
    # r4 review: a STATIC fixture produced once by an independent
    # spec-faithful compressing LZW encoder (string-table compression,
    # early-change width growth) — an 8x6 4-color image whose stream
    # grows the code width and emits multi-pixel codes. Unlike the
    # emitter in the test above, these bytes cannot track a regressed
    # decoder, so any width-timing or dictionary bug fails here.
    from pydala_spark.operators.multimodal import decode_media

    gif = bytes.fromhex(
        "474946383961080006008100000a141e3c465078828cc8d2dc2c0000000008"
        "00060000021104122233a86cde30089e2428666e4d5000003b"
    )
    df = spark.createDataFrame(
        [(1, "image", bytearray(gif))],
        "media_id long, kind string, content binary",
    )
    r = decode_media(df).first()
    assert (r["format"], r["width"], r["height"]) == ("gif", 8, 6)
    assert r["mean"] == 107.5
    assert abs(r["rms"] - 129.00258395344903) < 1e-12
    # robustness: an out-of-range LZW minimum-code byte must degrade to
    # a null-format row, not attempt a 2**255-entry table
    bad = bytearray(gif)
    bad[gif.index(bytes([0x2C])) + 10] = 0xFF  # min_code byte
    df2 = spark.createDataFrame(
        [(1, "image", bad)], "media_id long, kind string, content binary"
    )
    assert decode_media(df2).first()["format"] is None


def test_dedup_paragraphs_null_text(spark):
    # r4: NULL text rows follow the empty-doc contract (text='', 0/0)
    from pydala_spark.operators import dedup_paragraphs

    df = spark.createDataFrame(
        [(1, None), (2, "a\nb")], "doc_id long, text string"
    )
    out = {r["id"]: r for r in dedup_paragraphs(df).collect()}
    assert out[1]["text"] == "" and out[1]["n_paras"] == 0 and out[1]["n_kept"] == 0
    assert out[2]["n_paras"] == 2


def test_dedup_paragraphs_max_occurrences_kills_boilerplate(spark):
    # r4: max_occurrences drops a ubiquitous line from EVERY doc,
    # including its first occurrence
    from pydala_spark.operators import dedup_paragraphs

    nav = "home about contact sitemap"
    df = spark.createDataFrame(
        [(i, f"{nav}\ncontent number {i}") for i in range(5)],
        ["doc_id", "text"],
    )
    out = {r["id"]: r["text"] for r in
           dedup_paragraphs(df, max_occurrences=3).collect()}
    assert all(t == f"content number {i}" for i, t in out.items())
    # within the cap: first-occurrence-wins is unchanged
    out2 = {r["id"]: r["text"] for r in
            dedup_paragraphs(df, max_occurrences=10).collect()}
    assert out2[0] == f"{nav}\ncontent number 0"
    assert out2[1] == "content number 1"


def test_decode_media_gif_subcanvas_frame(spark):
    # r4: a cropped/optimized first frame — metadata must report the
    # LOGICAL SCREEN (4x4, what every decoder calls the image size)
    # while stats come from the 2x2 frame region's pixels
    import numpy as np

    from pydala_spark.operators.multimodal import decode_media

    pal = bytes([0, 0, 0, 255, 255, 255, 10, 10, 10, 20, 20, 20])
    pix = [0, 1, 1, 0]
    min_code, clear, eoi = 2, 4, 5
    codes = [clear] + pix + [eoi]
    bits, acc, nbits = bytearray(), 0, 0
    width, tsize, first = 3, 6, False
    for c in codes:
        acc |= c << nbits
        nbits += width
        while nbits >= 8:
            bits.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
        if c not in (clear, eoi):
            if first:
                tsize += 1
                if tsize == (1 << width) and width < 12:
                    width += 1
            first = True
    if nbits:
        bits.append(acc & 0xFF)
    gif = (
        b"GIF89a" + (4).to_bytes(2, "little") + (4).to_bytes(2, "little")
        + bytes([0x81, 0, 0]) + pal
        + b"\x2c" + (1).to_bytes(2, "little") + (1).to_bytes(2, "little")
        + (2).to_bytes(2, "little") + (2).to_bytes(2, "little") + b"\x00"
        + bytes([min_code, len(bits)]) + bytes(bits) + b"\x00\x3b"
    )
    df = spark.createDataFrame(
        [(1, "image", bytearray(gif))],
        "media_id long, kind string, content binary",
    )
    r = decode_media(df).first()
    assert (r["width"], r["height"]) == (4, 4)  # logical screen
    vals = np.repeat([0.0, 255.0, 255.0, 0.0], 3)
    assert abs(r["mean"] - vals.mean()) < 1e-9  # frame pixels only


def _gif_lzw_compress(pixels, min_code):
    # spec-faithful compressing GIF-LZW encoder (string table, early
    # change) — independent of the decoder's internals
    clear, eoi = 1 << min_code, (1 << min_code) + 1
    out_codes = [clear]
    table = {(i,): i for i in range(clear)}
    next_code = eoi + 1
    w = ()
    for px in pixels:
        wk = w + (px,)
        if wk in table:
            w = wk
        else:
            out_codes.append(table[w])
            if next_code < 4096:
                table[wk] = next_code
                next_code += 1
            w = (px,)
    if w:
        out_codes.append(table[w])
    out_codes.append(eoi)
    bits, acc, nbits = bytearray(), 0, 0
    width, tsize, emitted = min_code + 1, eoi + 1, 0
    for c in out_codes:
        acc |= c << nbits
        nbits += width
        while nbits >= 8:
            bits.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
        if c == clear:
            width, tsize, emitted = min_code + 1, eoi + 1, 0
        elif c != eoi:
            if emitted and tsize < 4096:
                tsize += 1
                if tsize == (1 << width) and width < 12:
                    width += 1
            emitted += 1
    if nbits:
        bits.append(acc & 0xFF)
    return bytes(bits)


def test_decode_media_gif_randomized_roundtrip(spark):
    # r4: randomized compressed GIFs (varied dims, palette sizes,
    # min_code widths) decoded in one Spark job; stats must match the
    # palette-mapped ground truth exactly
    import random

    import numpy as np

    from pydala_spark.operators.multimodal import decode_media

    rng = random.Random(42)
    rows, expected = [], {}
    for i in range(10):
        min_code = rng.choice([2, 3, 4])
        n_colors = 1 << min_code
        w, h = rng.randint(3, 17), rng.randint(2, 13)
        pal = bytes(rng.randrange(256) for _ in range(3 * n_colors))
        pix = [rng.randrange(n_colors) for _ in range(w * h)]
        lzw = _gif_lzw_compress(pix, min_code)
        flags = 0x80 | (min_code - 1)
        gif = (
            b"GIF89a" + w.to_bytes(2, "little") + h.to_bytes(2, "little")
            + bytes([flags, 0, 0]) + pal
            + b"\x2c" + b"\x00" * 4 + w.to_bytes(2, "little")
            + h.to_bytes(2, "little") + b"\x00" + bytes([min_code])
        )
        for off in range(0, len(lzw), 255):
            chunk = lzw[off : off + 255]
            gif += bytes([len(chunk)]) + chunk
        gif += b"\x00\x3b"
        p = np.frombuffer(pal, dtype=np.uint8).reshape(-1, 3)
        vals = p[np.array(pix)].astype(np.float64).ravel()
        rows.append((i, "image", bytearray(gif)))
        expected[i] = (w, h, float(vals.mean()),
                       float(np.sqrt((vals * vals).mean())))
    df = spark.createDataFrame(
        rows, "media_id long, kind string, content binary"
    )
    out = {r["media_id"]: r for r in decode_media(df).collect()}
    for i, (w, h, mean, rms) in expected.items():
        r = out[i]
        assert r["format"] == "gif" and (r["width"], r["height"]) == (w, h), i
        assert abs(r["mean"] - mean) < 1e-9 and abs(r["rms"] - rms) < 1e-9, i


def test_decode_media_png_randomized_roundtrip(spark):
    # r4: randomized PNGs (all channel counts, random per-row filters,
    # varied dims) in one decode job; exact stat match vs ground truth
    import random

    import numpy as np

    from pydala_spark.operators.multimodal import decode_media

    rng = random.Random(7)
    rows, expected = [], {}
    for i in range(8):
        ch = rng.choice([1, 2, 3, 4])
        w, h = rng.randint(2, 23), rng.randint(2, 19)
        pixels = [
            [rng.randrange(256) for _ in range(ch)] for _ in range(w * h)
        ]
        filters = [rng.randint(0, 4) for _ in range(h)]

        def pixel_fn(x, y, c, _p=pixels, _w=w, _ch=ch):
            return _p[y * _w + x][c]

        png, raw = _make_png(w, h, ch, pixel_fn, filters)
        flat = np.array([v for row in raw for v in row], dtype=np.float64)
        rows.append((i, "image", bytearray(png)))
        expected[i] = (w, h, ch, float(flat.mean()),
                       float(np.sqrt((flat * flat).mean())))
    df = spark.createDataFrame(
        rows, "media_id long, kind string, content binary"
    )
    out = {r["media_id"]: r for r in decode_media(df).collect()}
    for i, (w, h, ch, mean, rms) in expected.items():
        r = out[i]
        assert (r["format"], r["width"], r["height"], r["channels"]) == (
            "png", w, h, ch
        ), i
        assert abs(r["mean"] - mean) < 1e-9 and abs(r["rms"] - rms) < 1e-9, i


def test_token_count_multilingual(spark):
    # round 5: CJK/kana/Hangul chars count individually (~1 token/char
    # BPE convention); whitespace counting prices a whole clause at 1
    from pydala_spark.operators.textstats import (
        token_count,
        token_count_multilingual,
    )

    rows = [
        (1, "plain english words here"),
        (2, "今日は良い天気ですね"),
        (3, "mixed 中文 text with 한글"),
        (4, "   "),
    ]
    df = spark.createDataFrame(rows, ["i", "text"])
    got = {
        r["i"]: (r["ws"], r["multi"])
        for r in df.select(
            "i",
            token_count("text").alias("ws"),
            token_count_multilingual("text").alias("multi"),
        ).collect()
    }
    assert got[1] == (4, 4)          # pure Latin: identical
    assert got[2] == (1, 10)         # 10 Japanese chars, one ws "token"
    assert got[3] == (5, 3 + 2 + 2)  # 3 latin words + 2 hanzi + 2 hangul
    assert got[4] == (0, 0)


def test_decontaminate_char_shingles(spark):
    # round 5: benchmark decontamination over unsegmented text needs
    # char shingles — word mode can't see the contained CJK overlap
    from pydala_spark.operators.dedup import decontaminate

    corpus = spark.createDataFrame(
        [
            (1, "機械学習モデルの訓練には大量のデータが必要です"),
            (2, "全く別の話題について書かれた文書です"),
        ],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame(
        [(100, "機械学習モデルの訓練には")], ["doc_id", "text"]
    )
    word = decontaminate(corpus, bench, "doc_id", min_hits=2)
    assert {r["doc_id"] for r in word.collect()} == {1, 2}  # blind
    char = decontaminate(
        corpus, bench, "doc_id", shingle_size=5, min_hits=2,
        shingle_mode="char",
    )
    assert {r["doc_id"] for r in char.collect()} == {2}  # doc 1 flagged


def test_lm_perplexity_score(spark):
    # round 5: CCNet-style pinned-unigram-LM quality filter — millinat
    # integer log-probs make the distributed sum exact; OOV tokens get
    # the unk score; empty docs come back 'unscored'
    from pydala_spark.operators.textstats import lm_perplexity_score

    vocab = {"the": -1000, "cat": -3000, "sat": -3500}
    rows = [
        (1, "the cat sat"),                  # all in-vocab: avg -2500
        (2, "the zyzzyva"),                  # one unk: avg (-1000-9000)/2
        (3, "zyzzyva qwormp"),               # all unk: avg -9000 -> tail
        (4, ""),                             # unscored
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: (r["n_tokens"], r["sum_millinats"], r["bucket"])
        for r in lm_perplexity_score(
            df, vocab, unk_millinats=-9000,
            head_threshold=-3000, middle_threshold=-6000,
        ).collect()
    }
    assert out[1] == (3, -7500, "head")
    assert out[2] == (2, -10000, "middle")
    assert out[3] == (2, -18000, "tail")
    assert out[4] == (0, None, "unscored")


def test_lm_perplexity_score_bigram_backoff(spark):
    # round 5: bigram scoring with stupid backoff — in-table pairs score
    # the conditional, misses score unigram(cur)+backoff, first token
    # scores its unigram, all still integer-exact
    from pydala_spark.operators.textstats import lm_perplexity_score

    vocab = {"the": -1000, "cat": -3000, "sat": -3500}
    bigrams = {"the cat": -500}
    rows = [(1, "the cat sat"), (2, "cat zyzzyva"), (3, "")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: (r["n_tokens"], r["sum_millinats"], r["bucket"])
        for r in lm_perplexity_score(
            df, vocab, unk_millinats=-9000,
            head_threshold=-3000, middle_threshold=-6000,
            bigrams=bigrams, backoff_millinats=-700,
        ).collect()
    }
    # -1000 (uni the) + -500 (bigram) + (-3500-700) (backoff) = -5700;
    # avg -1900 >= -3000 -> head
    assert out[1] == (3, -5700, "head")
    # -3000 (uni cat) + (-9000-700) (unk+backoff) = -12700
    assert out[2] == (2, -12700, "tail")
    assert out[3] == (0, None, "unscored")


def test_lm_perplexity_map_literal_equals_join(spark, monkeypatch):
    # round 17: tables at or under _MAP_LITERAL_MAX inline as ONE parsed
    # map literal (no per-invocation broadcast build); the join path
    # stays for real LM sizes. Both spellings must score identically —
    # including quote/backslash tokens through the _sql_str escaper and
    # the NULL-pair first-token rule — and the small path must plan no
    # broadcast join.
    import pydala_spark.operators.textstats as ts
    from pydala_spark.operators.textstats import lm_perplexity_score

    vocab = {"the": -1000, "o'brien": -2000, "a\\b": -2500, "sat": -3500}
    bigrams = {"the o'brien": -500, "o'brien a\\b": -600}
    rows = [(1, "the o'brien a\\b sat"), (2, "sat zyzzyva"), (3, "")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    def run():
        return sorted(
            map(
                tuple,
                lm_perplexity_score(
                    df, vocab, unk_millinats=-9000,
                    head_threshold=-3000, middle_threshold=-6000,
                    bigrams=bigrams, backoff_millinats=-700,
                ).collect(),
            )
        )

    small = run()
    plan = lm_perplexity_score(
        df, vocab, -9000, bigrams=bigrams
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in plan  # literal map, no relation
    monkeypatch.setattr(ts, "_MAP_LITERAL_MAX", 0)  # force the join path
    assert run() == small
    # unigram-only spelling too
    monkeypatch.setattr(ts, "_MAP_LITERAL_MAX", 8192)
    uni_small = sorted(
        map(tuple, lm_perplexity_score(df, vocab, -9000).collect())
    )
    monkeypatch.setattr(ts, "_MAP_LITERAL_MAX", 0)
    assert sorted(
        map(tuple, lm_perplexity_score(df, vocab, -9000).collect())
    ) == uni_small


def test_lm_perplexity_float_table_raises_on_both_sides(spark, monkeypatch):
    # ADVICE r17: a float log-prob fails the same way whether the table
    # inlines as a map literal or broadcasts as a relation (the literal
    # side used to truncate it silently)
    import pydala_spark.operators.textstats as ts

    df = spark.createDataFrame([(1, "the cat")], ["doc_id", "text"])
    for gate in (8192, 0):
        monkeypatch.setattr(ts, "_MAP_LITERAL_MAX", gate)
        with pytest.raises(TypeError, match="integer millinats"):
            ts.lm_perplexity_score(df, {"the": -1000, "cat": -1500.7}, -9000)
        with pytest.raises(TypeError, match="integer millinats"):
            ts.lm_perplexity_score(
                df, {"the": -1000}, -9000, bigrams={"the cat": -0.5}
            )


def test_winnowing_contamination(spark):
    # round 5: robust-hash decontamination — a contained benchmark
    # passage is caught through punctuation/casing edits AND on
    # unsegmented text, with no shingle-mode switch
    from pydala_spark.operators.dedup import winnowing_contamination

    bench = spark.createDataFrame(
        [
            (100, "the secret benchmark answer is forty two exactly"),
            (101, "機械学習モデルの訓練には大量のデータが必要です"),
        ],
        ["doc_id", "text"],
    )
    corpus = spark.createDataFrame(
        [
            # contains the passage, re-punctuated and re-cased
            (1, "As noted, THE SECRET benchmark answer... is forty-two, "
                "exactly!! plus some original commentary around it"),
            (2, "completely unrelated original writing about gardens"),
            (3, "前置きの後で機械学習モデルの訓練には大量のデータが必要ですと結論する"),
        ],
        ["doc_id", "text"],
    )
    hits = {
        r["id"]: r["n_hits"]
        for r in winnowing_contamination(
            corpus, bench, "doc_id", k=8, window=4, min_hits=2
        ).collect()
    }
    assert 1 in hits and 3 in hits and 2 not in hits


def test_nfc_normalize_dedups_decomposed_forms(spark):
    # round 5: composed vs decomposed byte forms of the same text are
    # different documents to every hash until NFC-normalized
    from pydala_spark.operators.textstats import nfc_normalize

    composed = "garçon café"
    decomposed = "garçon café"
    df = spark.createDataFrame(
        [(1, composed), (2, decomposed), (3, None)], ["doc_id", "text"]
    )
    raw = {r["doc_id"]: r["fp"] for r in df.select(
        "doc_id", fingerprint("text").alias("fp")).collect()}
    assert raw[1] != raw[2]  # byte-different -> distinct fingerprints
    nfc = {r["doc_id"]: r["fp"] for r in df.select(
        "doc_id", fingerprint(nfc_normalize("text")).alias("fp")).collect()}
    assert nfc[1] == nfc[2]  # canonically equivalent -> one fingerprint
    assert nfc[3] is None    # NULL text stays NULL
    out = dedup_exact(
        df.withColumn("text", nfc_normalize("text")), "doc_id"
    ).collect()
    dups = {r["doc_id"]: r["n_dups"] for r in out}
    assert dups[1] == 2 and 2 not in dups


def test_winnowing_empty_text_never_joins(spark):
    # r5 review: contentless docs must yield an EMPTY fingerprint set —
    # a shared md5('') would make every punctuation-only doc "share
    # content" with a contentless benchmark row
    from pydala_spark.operators.dedup import winnowing_contamination
    from pydala_spark.operators.textstats import winnowing_fingerprints

    df = spark.createDataFrame(
        [(1, "!!! ???"), (2, "real content here for sure")],
        ["doc_id", "text"],
    )
    fps = {r["id"]: r["fps"] for r in
           winnowing_fingerprints(df, "doc_id").collect()}
    assert fps[1] == [] and len(fps[2]) > 0
    bench = spark.createDataFrame([(100, "... ...")], ["doc_id", "text"])
    hits = winnowing_contamination(df, bench, "doc_id", min_hits=1).collect()
    assert hits == []  # contentless benchmark flags nothing

def test_nfkc_normalize_folds_width_variants(spark):
    # round 6: full-width Latin (ＡＢＣ) and half-width forms are
    # visually identical text that NFC keeps byte-distinct; NFKC folds
    # them together so fingerprints dedup. Pinned against unicodedata
    # (DuckDB has no NFKC function; the NFC family stays the oracle).
    import unicodedata

    from pydala_spark.operators.textstats import nfc_normalize

    full = "ｈｅｌｌｏ ＡＢＣ １２３"
    half = "hello ABC 123"
    df = spark.createDataFrame(
        [(1, full), (2, half)], ["doc_id", "text"]
    )
    nfc = {r["doc_id"]: r["t"] for r in df.select(
        "doc_id", nfc_normalize("text").alias("t")).collect()}
    assert nfc[1] != nfc[2]  # NFC keeps width variants distinct
    nfkc = {r["doc_id"]: r["t"] for r in df.select(
        "doc_id", nfc_normalize("text", form="NFKC").alias("t")).collect()}
    assert nfkc[1] == nfkc[2] == half
    assert nfkc[1] == unicodedata.normalize("NFKC", full)
    fps = {r["doc_id"]: r["fp"] for r in df.select(
        "doc_id",
        fingerprint(nfc_normalize("text", form="NFKC")).alias("fp"),
    ).collect()}
    assert fps[1] == fps[2]  # width-folded -> one dedup group
    import pytest as _pt

    with _pt.raises(ValueError, match="form"):
        nfc_normalize("text", form="NFD")


def test_lang_profile_matches_predict_lang_and_flags_mixed(spark):
    # round 6: the staged lang_profile must be value-identical to the
    # monolithic predict_lang label, and the mixed-script rule flags
    # code-switch docs without disturbing single-script ones
    from pydala_spark.operators.textstats import lang_profile, predict_lang
    from pydala_spark.queries.ext import _MIXED_DOCS, _SCRIPT_DOCS

    df = spark.createDataFrame(
        _SCRIPT_DOCS + _MIXED_DOCS, "sid bigint, text string"
    )
    prof = {r["sid"]: r for r in lang_profile(df).collect()}
    mono = {r["sid"]: r["lp"] for r in df.select(
        "sid", predict_lang("text").alias("lp")).collect()}
    assert {k: v["lang_pred"] for k, v in prof.items()} == mono
    mixed = {k for k, v in prof.items() if v["is_mixed"]}
    assert mixed == {20, 21}
    # confidence columns are sane fractions
    for v in prof.values():
        assert 0.0 <= v["script_frac"] <= 1.0
        assert v["stop_ratio"] >= 0.0
    assert prof[23]["script_frac"] == 1.0  # pure CJK
    assert prof[22]["script_frac"] == 0.0  # pure Latin

def test_lang_profile_equality_fuzz(spark):
    # round 6: lang_profile claims VALUE-IDENTITY with predict_lang;
    # fuzz it over ~300 deterministic pseudo-random docs mixing every
    # script predict_lang knows, plus adversarial shapes (empty,
    # whitespace, digits-only, single-char, tie-heavy mixes) — one
    # Spark job, batched like the round-5 case-folding fuzz
    import hashlib

    from pydala_spark.operators.textstats import lang_profile, predict_lang

    pools = [
        "the and of to a in is it that for ",
        "der die das und ist ein nicht mit ",
        "el la de que y en un es por con ",
        "le la de et un est que pour dans ",
        "il di che per non una sono come ",
        "что это для как при мы они был ",
        "هذا نص من في على ما لا إلى ",
        "これ は です の に を 漢字 言葉 ",
        "한국어 텍스트 문장 그리고 입니다 ",
        "中文 文本 没有 这是 一段 字符 ",
        "यह एक पाठ है और में ",
        "και το είναι ένα από ",
        "0123456789 !!! ??? ... ",
    ]

    def doc(i):
        h = hashlib.md5(f"fuzz|{i}".encode()).digest()
        parts = []
        for j, b in enumerate(h[:6]):
            pool = pools[(b + i) % len(pools)]
            words = pool.split()
            parts.append(words[(b * 7 + j) % len(words)])
        return " ".join(parts)

    rows = [(i, doc(i)) for i in range(280)] + [
        (1000, ""), (1001, "   "), (1002, "7"), (1003, "x"),
        (1004, "語 a"), (1005, "a 語"), (1006, "語語 aa"),
        (1007, "что is"), (1008, "ω z"),
    ]
    df = spark.createDataFrame(rows, "sid bigint, text string")
    mono = {r["sid"]: r["lp"] for r in df.select(
        "sid", predict_lang("text").alias("lp")).collect()}
    staged = {r["sid"]: r["lang_pred"] for r in lang_profile(df).collect()}
    assert staged == mono

def test_contamination_report_per_benchmark_audit(spark):
    # round 6: the leak audit answers "which eval items leaked and how
    # widely" — planted: bench 100's question appears in 3 corpus docs,
    # bench 200's in 1, bench 300 is clean
    from pydala_spark.operators.dedup import contamination_report

    q1 = "what is the capital of france and where is it located"
    q2 = "solve the equation for the unknown variable value now"
    corpus = spark.createDataFrame(
        [
            (1, f"intro text then {q1} and some trailing words"),
            (2, f"{q1} copied verbatim into another page"),
            (3, f"a third mirror containing {q1} again"),
            (4, f"one single page quoting {q2} here"),
            (5, "entirely unrelated content about gardening and soil"),
        ],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame(
        [(100, q1), (200, q2), (300, "completely novel benchmark item xyz")],
        ["doc_id", "text"],
    )
    rep = {
        r["bench_id"]: (r["n_docs"], r["total_hits"])
        for r in contamination_report(
            corpus, bench, "doc_id", min_hits=2
        ).collect()
    }
    assert set(rep) == {100, 200}  # 300 never leaked
    assert rep[100][0] == 3  # three corpus docs carry bench 100
    assert rep[200][0] == 1
    # total_hits is the summed distinct-shingle overlap, at least
    # min_hits per leaked doc
    assert rep[100][1] >= 3 * 2 and rep[200][1] >= 2

def test_cluster_size_stats_histogram(spark):
    # round 6: (cluster_size, n_clusters) histogram over the cluster map
    from pydala_spark.operators.dedup import cluster_size_stats

    clusters = spark.createDataFrame(
        # cluster 1: 3 members; cluster 10: 2; clusters 20, 30: 2 each
        [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10),
         (20, 20), (21, 20), (30, 30), (31, 30)],
        ["id", "cluster_id"],
    )
    hist = {
        r["cluster_size"]: r["n_clusters"]
        for r in cluster_size_stats(clusters).collect()
    }
    assert hist == {3: 1, 2: 3}

def test_lsh_tuning_s_curve():
    # round 6: driver-side banding decision table — the S-curve math
    from pydala_spark.operators.dedup import lsh_tuning

    rows = lsh_tuning(0.8, n_hashes=8)
    # only divisors of 8 appear, ascending
    assert [r["n_bands"] for r in rows] == [1, 2, 4, 8]
    by_bands = {r["n_bands"]: r for r in rows}
    # more bands -> lower threshold, higher collision probability
    assert by_bands[8]["threshold"] < by_bands[1]["threshold"]
    assert by_bands[8]["p_at_target"] > by_bands[1]["p_at_target"]
    # the default pipeline config (8 hashes / 4 bands): catches clear
    # dups far more often than clear non-dups
    cfg = by_bands[4]
    assert cfg["p_at_cleardup"] > 0.9 * cfg["p_at_target"]
    assert cfg["p_at_nondup"] < cfg["p_at_target"]
    # closed form spot check: b=4, r=2, j=0.8 -> 1 - (1 - 0.64)^4
    assert abs(cfg["p_at_target"] - (1 - (1 - 0.8**2) ** 4)) < 1e-12
    import pytest as _pt

    with _pt.raises(ValueError, match="target_jaccard"):
        lsh_tuning(1.5)


def test_corpus_profile_one_pass(spark):
    # round 6: single-row corpus health summary with mergeable sketches
    from pydala_spark.operators.textstats import corpus_profile

    rows = (
        [(i, "short doc number " + str(i)) for i in range(1, 41)]   # 4 tokens
        + [(100 + i, " ".join(["word"] * 20)) for i in range(10)]   # dups
        + [(200, "!!!"), (201, "   ")]                              # empty
    )
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    p = corpus_profile(df).collect()[0]
    assert p["n_docs"] == 52
    assert p["n_empty"] == 2
    assert p["total_tokens"] == 40 * 4 + 10 * 20 + 1  # "!!!" counts 1 ws token
    assert p["p50_tokens"] == 4
    assert p["p95_tokens"] == 20
    # 40 distinct short docs + 1 repeated 20-word doc = 41 distinct fps
    # among 50 non-empty; HLL is near-exact at this cardinality
    assert 39 <= p["approx_distinct_fp"] <= 43
    assert 0.1 < p["dup_rate_est"] < 0.25

def _py_duplicate_spans(texts, k, window, min_span, min_df):
    # pure-Python reference of the duplicate_spans algorithm
    import hashlib

    def wins(t):
        n_g = max(len(t) - (k - 1), 1)
        hs = [hashlib.md5(t[i:i + k].encode()).hexdigest()
              for i in range(n_g)]
        n_w = max(len(hs) - (window - 1), 1)
        return [(j + 1, min(hs[j:j + window])) for j in range(n_w)]

    per_doc = {i: wins(t) for i, t in texts.items()}
    df_count = {}
    for i, ws in per_doc.items():
        for _, fp in set((0, fp) for _, fp in ws):
            df_count.setdefault(fp, set()).add(i)
    dup = {fp for fp, ids in df_count.items() if len(ids) >= min_df}
    gap = k + window - 1
    out = {}
    for i, ws in per_doc.items():
        hits = sorted(p for p, fp in ws if fp in dup)
        runs, cur = [], None
        for p in hits:
            if cur and p - cur[-1] <= gap:
                cur.append(p)
            else:
                cur = [p]
                runs.append(cur)
        for r in runs:
            start, end = r[0], min(r[-1] + k + window - 2, len(texts[i]))
            if end - start + 1 >= min_span:
                out.setdefault(i, []).append((start, end))
    return out


def test_duplicate_spans_matches_python_reference(spark):
    # round 6: sub-document duplicated-span detection — the Spark
    # window/join pipeline must agree exactly with a sequential Python
    # implementation of the same winnowing-run algorithm
    from pydala_spark.operators.dedup import (
        duplicate_spans,
        remove_duplicate_spans,
    )

    shared = ("it was the best of times it was the worst of times it was "
              "the age of wisdom it was the age of foolishness indeed")
    texts = {
        1: f"unique opening about gardens and trees. {shared} unique "
           "closing about rivers and stones in the valley below here",
        2: f"completely different preamble text goes here now. {shared} "
           "and then a different ending altogether for this one too",
        3: "this document shares nothing with the others at all and "
           "talks at length about cooking pasta with garlic and olive "
           "oil on a slow flame until fragrant and golden",
    }
    k, window, min_span, min_df = 20, 8, 50, 2
    want = _py_duplicate_spans(texts, k, window, min_span, min_df)
    df = spark.createDataFrame(list(texts.items()), ["doc_id", "text"])
    got = {}
    spans_df = duplicate_spans(
        df, "doc_id", k=k, window=window, min_span=min_span, min_df=min_df
    )
    for r in spans_df.collect():
        got.setdefault(r["id"], []).append((r["span_start"], r["span_end"]))
    got = {i: sorted(v) for i, v in got.items()}
    assert got == want
    assert set(got) == {1, 2}  # doc 3 untouched
    # the flagged span actually covers the shared passage
    s, e = got[1][0]
    assert shared in texts[1][s - 1:e]

    # surgery: spans cut out, untouched docs byte-identical
    cleaned = {
        r["doc_id"]: r["text"]
        for r in remove_duplicate_spans(
            df, "doc_id", k=k, window=window,
            min_span=min_span, min_df=min_df,
        ).collect()
    }
    assert cleaned[3] == texts[3]
    for i in (1, 2):
        expect = texts[i]
        for s, e in reversed(want[i]):
            expect = expect[:s - 1] + expect[e:]
        assert cleaned[i] == expect
        assert shared not in cleaned[i]


def test_bpe_train_encode_roundtrip(spark, tmp_path):
    # round 6: BPE merge learning on a deterministic sample + Arrow-
    # batched distributed encoding
    from pydala_spark.operators.bpe import (
        EOW,
        bpe_token_count,
        bpe_tokens,
        load_bpe,
        save_bpe,
        train_bpe,
    )

    rows = [(i, "the theater thesis then there " * 3) for i in range(20)]
    rows += [(100 + i, "banana bandana ban " * 4) for i in range(10)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    merges = train_bpe(df, n_merges=40)
    assert merges and all(len(m) == 2 for m in merges)
    # determinism: retrain learns the identical table
    assert merges == train_bpe(df, n_merges=40)
    # 'th' should merge early in a the-heavy corpus
    assert ("t", "h") in merges[:5]

    toks = df.select(
        "doc_id", bpe_tokens("text", merges).alias("tk"),
        bpe_token_count("text", merges).alias("n"),
    ).collect()
    for r in toks:
        assert r["n"] == len(r["tk"])
    rebuilt = {r["doc_id"]: "".join(r["tk"]).replace(EOW, " ").strip()
               for r in toks}
    originals = {i: t.lower().strip() for i, t in rows}
    for i, t in originals.items():
        assert rebuilt[i] == " ".join(t.split())
    # learned vocab compresses: fewer tokens than characters, at least
    # as many as whitespace words
    n_bpe = {r["doc_id"]: r["n"] for r in toks}
    for i, t in rows:
        assert len(t.split()) <= n_bpe[i] < len(t.replace(" ", "")) + len(t.split())

    # sidecar round-trip
    p = str(tmp_path / "bpe.json")
    save_bpe(spark, merges, p)
    assert load_bpe(spark, p) == merges

    # NULL text stays NULL
    nn = spark.createDataFrame([(1, None)], "doc_id long, text string")
    r = nn.select(bpe_token_count("text", merges).alias("n")).collect()[0]
    assert r["n"] is None

def test_corpus_profile_degenerate_corpora(spark):
    # empty / all-empty corpora must not read as "100% duplicated"
    from pydala_spark.operators.textstats import corpus_profile

    empty = spark.createDataFrame([], "doc_id long, text string")
    p = corpus_profile(empty).collect()[0]
    assert p["n_docs"] == 0 and p["dup_rate_est"] == 0.0
    punct = spark.createDataFrame(
        [(1, "!!!"), (2, "???")], ["doc_id", "text"]
    )
    p = corpus_profile(punct).collect()[0]
    assert p["n_empty"] == 2 and p["dup_rate_est"] == 0.0

def test_duplicate_spans_randomized_fuzz(spark):
    # round 6: 30 deterministic pseudo-random docs with planted shared
    # passages at random offsets — the distributed pipeline must agree
    # with the sequential reference on every doc (batched, one job)
    import hashlib

    def words(seed, n):
        return " ".join(
            hashlib.md5(f"{seed}|{j}".encode()).hexdigest()[:5]
            for j in range(n)
        )

    shared_a = words("passage-a", 18)   # ~105 chars
    shared_b = words("passage-b", 15)
    texts = {}
    for i in range(30):
        h = hashlib.md5(f"doc|{i}".encode()).digest()
        body = words(f"body|{i}", 25)
        cut = (h[0] % 20) * 5
        if i % 3 == 0:
            texts[i] = body[:cut] + " " + shared_a + " " + body[cut:]
        elif i % 3 == 1:
            texts[i] = body[:cut] + " " + shared_b + " " + body[cut:]
        else:
            texts[i] = body
    k, window, min_span, min_df = 20, 8, 50, 2
    want = _py_duplicate_spans(texts, k, window, min_span, min_df)
    from pydala_spark.operators.dedup import duplicate_spans

    df = spark.createDataFrame(list(texts.items()), ["doc_id", "text"])
    got = {}
    for r in duplicate_spans(
        df, "doc_id", k=k, window=window, min_span=min_span, min_df=min_df
    ).collect():
        got.setdefault(r["id"], []).append((r["span_start"], r["span_end"]))
    got = {i: sorted(v) for i, v in got.items()}
    assert got == want
    # every shared-passage carrier is flagged; every pure-body doc is not
    assert set(got) == {i for i in texts if i % 3 != 2}

def test_train_quality_classifier_end_to_end(spark):
    # round 6: train on labeled quality features, score distributed —
    # the trained raw-space weights must separate a linearly separable
    # planted rule and reproduce deterministically
    from pydala_spark.operators.textstats import (
        classifier_score,
        quality_stats,
        train_quality_classifier,
    )

    good = [
        (i, "a perfectly reasonable document with varied words and "
            f"sensible sentence structure number {i} for training")
        for i in range(40)
    ]
    bad = [(100 + i, "spam " * 2) for i in range(40)]
    df = quality_stats(
        spark.createDataFrame(good + bad, ["doc_id", "text"])
    )
    labeled = df.withColumn(
        "keep", F.when(F.col("doc_id") < 100, 1).otherwise(0)
    )
    feats = ["q_tokens", "q_chars", "q_mean_token_len"]
    model = train_quality_classifier(labeled, "keep", feats)
    assert model["n_sample"] == 80
    # deterministic retrain
    assert model == train_quality_classifier(labeled, "keep", feats)
    scored = classifier_score(
        labeled,
        [(F.col(k), w) for k, w in model["weights"].items()],
        bias=model["bias"],
    )
    rows = scored.select("doc_id", "clf_logit").collect()
    acc = sum(
        1 for r in rows if (r["clf_logit"] > 0) == (r["doc_id"] < 100)
    ) / len(rows)
    assert acc >= 0.95

    import pytest as _pt

    with _pt.raises(ValueError, match="no labeled"):
        train_quality_classifier(
            labeled.where(F.lit(False)), "keep", feats
        )

def test_contamination_report_winnowing_mode(spark):
    # the edit-tolerant audit modality: a copy with every third word
    # SUBSTITUTED breaks every word 3-gram but keeps >=11-char runs of
    # original text, so winnowing still counts it toward the leak
    # spread while exact shingles see only the verbatim copy
    from pydala_spark.operators.dedup import contamination_report

    q = ("considering the remarkable developments throughout "
         "contemporary machine learning research communities "
         "worldwide recently")
    words = q.split()
    hostile = " ".join(
        "zz" if i % 3 == 2 else w for i, w in enumerate(words)
    )
    corpus = spark.createDataFrame(
        [
            (1, f"page one quoting {q} verbatim"),
            (2, f"page two with {hostile} mangled"),
            (3, "unrelated gardening content about soil and compost"),
        ],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame([(500, q)], ["doc_id", "text"])
    ng = {r["bench_id"]: r["n_docs"] for r in contamination_report(
        corpus, bench, "doc_id", min_hits=2).collect()}
    wn = {r["bench_id"]: r["n_docs"] for r in contamination_report(
        corpus, bench, "doc_id", min_hits=2, mode="winnowing").collect()}
    assert ng.get(500) == 1      # word shingles see only the verbatim copy
    assert wn.get(500) == 2      # winnowing also counts the mangled copy
    import pytest as _pt

    with _pt.raises(ValueError, match="mode"):
        contamination_report(corpus, bench, "doc_id", mode="bogus")


def _naive_train_merges(freqs, n_merges, min_pair_freq):
    # pre-round-8 full-recount reference (kept as the equality oracle)
    from pydala_spark.operators.bpe import _apply_merge

    merges = []
    for _ in range(n_merges):
        pc = {}
        for word, n in freqs.items():
            for a, b in zip(word, word[1:]):
                pc[(a, b)] = pc.get((a, b), 0) + n
        if not pc:
            break
        best = max(pc.items(), key=lambda kv: (kv[1], kv[0]))
        if best[1] < min_pair_freq:
            break
        merges.append(best[0])
        freqs = {_apply_merge(w, best[0]): n for w, n in freqs.items()}
    return merges


def _naive_encode(text, merges):
    # pre-round-8 lowest-rank-leftmost rescan reference
    if text is None:
        return None
    ranks = {tuple(m): i for i, m in enumerate(merges)}
    out = []
    for w in text.lower().split():
        word = list(w) + ["</w>"]
        while len(word) > 1:
            best_rank, best_i = None, None
            for i in range(len(word) - 1):
                r = ranks.get((word[i], word[i + 1]))
                if r is not None and (best_rank is None or r < best_rank):
                    best_rank, best_i = r, i
            if best_i is None:
                break
            word[best_i:best_i + 2] = [word[best_i] + word[best_i + 1]]
        out.extend(word)
    return out


def test_bpe_incremental_train_and_heap_encode_match_naive():
    # round 8: the incremental pair-count trainer (lazy max-heap, same
    # (count, lexicographic) tie-break) and the rank-heap + memo encoder
    # are byte-identical to the naive references on randomized corpora
    import random

    from pydala_spark.operators.bpe import (
        _encoder,
        _train_merges,
        _word_freqs,
    )

    rng = random.Random(8)
    alphabet = "abcdefg"
    for trial in range(6):
        texts = [
            " ".join(
                "".join(rng.choice(alphabet)
                        for _ in range(rng.randint(1, 9)))
                for _ in range(rng.randint(1, 40))
            )
            for _ in range(rng.randint(5, 60))
        ]
        n_merges = rng.choice([1, 10, 60, 200])
        min_freq = rng.choice([1, 2, 3])
        freqs = _word_freqs(texts)
        fast = _train_merges(dict(freqs), n_merges, min_freq)
        slow = _naive_train_merges(dict(freqs), n_merges, min_freq)
        assert fast == slow, (trial, n_merges, min_freq)
        enc = _encoder(fast)
        for t in texts + [None, "", "zzz unseen tokens qqq"]:
            assert enc(t) == _naive_encode(t, fast), (trial, t)


def test_bpe_train_2000_merges_is_practical():
    # round 8 "done" criterion: n_merges >= 2000 trains in seconds, not
    # the ~20 minutes the full recount took on the same corpus
    import hashlib
    import time

    from pydala_spark.operators.bpe import (
        _encoder,
        _train_merges,
        _word_freqs,
    )

    texts = []
    for i in range(3000):
        words = [
            hashlib.md5(f"{i}|{j}".encode()).hexdigest()[: 3 + (i + j) % 8]
            for j in range(60)
        ]
        texts.append(
            " ".join(words + ["the", "of", "and", "token", "merge"] * 6)
        )
    t0 = time.time()
    merges = _train_merges(_word_freqs(texts), 2000, 2)
    train_s = time.time() - t0
    assert len(merges) == 2000
    t0 = time.time()
    enc = _encoder(merges)
    n = sum(len(enc(t)) for t in texts)
    encode_s = time.time() - t0
    assert n > 0
    # generous co-tenancy headroom; the old spellings took ~1200s/~60s
    # on this corpus (measured r8: ~10s / ~1.2s)
    assert train_s < 90, f"train took {train_s:.1f}s"
    assert encode_s < 30, f"encode took {encode_s:.1f}s"


def test_classifier_ml_backend_agrees_with_driver(spark):
    # round 8: the distributed pyspark.ml backend learns the same
    # separating direction as the driver-sample GD — per-feature weight
    # signs agree, both classify the planted rule perfectly, and both
    # rank a spread eval set identically
    import pytest

    from pydala_spark.operators.textstats import (
        classifier_score,
        train_quality_classifier,
    )

    # planted rule: keep iff 2*f1 - f2 > 0, with clear margin
    rows = []
    for i in range(200):
        f1 = (i % 20) / 2.0
        f2 = ((i * 7) % 23) / 1.5
        planted = 2.0 * f1 - f2
        if abs(planted) < 1.0:
            continue  # margin
        rows.append((i, f1, f2, 1 if planted > 0 else 0))
    df = spark.createDataFrame(rows, ["doc_id", "f1", "f2", "keep"])
    feats = ["f1", "f2"]
    driver = train_quality_classifier(df, "keep", feats)
    ml = train_quality_classifier(df, "keep", feats, backend="ml")
    assert ml["n_sample"] == len(rows)
    for c in feats:
        assert (driver["weights"][c] > 0) == (ml["weights"][c] > 0), c
    assert ml["weights"]["f1"] > 0 and ml["weights"]["f2"] < 0

    def rank(model):
        scored = classifier_score(
            df, [(F.col(c), model["weights"][c]) for c in feats],
            bias=model["bias"],
        )
        rows_ = scored.select("doc_id", "clf_logit", "keep").collect()
        # perfect separation on the planted rule
        assert all((r["clf_logit"] > 0) == (r["keep"] == 1) for r in rows_)
        return [r["doc_id"] for r in sorted(rows_, key=lambda r: -r["clf_logit"])]

    assert rank(driver) == rank(ml)

    with pytest.raises(ValueError, match="backend"):
        train_quality_classifier(df, "keep", feats, backend="bogus")
    with pytest.raises(ValueError, match="no labeled rows"):
        train_quality_classifier(
            df.where(F.col("keep").isNull()), "keep", feats, backend="ml"
        )


def test_streaming_decontaminate_sidecar(spark, tmp_path):
    # round 9: the benchmark's winnowing SIDECAR (not a frame) guards
    # the stream — hash once at benchmark ingest; verdicts match the
    # frame-input path; a stale sidecar raises at build time
    import pytest

    from pydala_spark.dataset.maintain import materialize_signatures
    from pydala_spark.streaming import streaming_decontaminate

    leak = "the quick brown fox jumps over the lazy benchmark dog"
    docs = spark.createDataFrame(
        [
            (1, f"leading filler then {leak} trailing words here"),
            (2, "zebra umbrella xylophone quartz jigsaw vortex plinth"),
            (3, "gizmo parsnip okapi wombat fjord crypt glyph nymph"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(0, leak)], ["doc_id", "text"])
    bench_path = str(tmp_path / "bench_ds")
    bench.write.parquet(bench_path)
    stored = spark.read.parquet(bench_path)
    materialize_signatures(
        spark, stored, bench_path, id_col="doc_id", text_col="text",
        kinds=("winnowing",), winnowing_k=8, winnowing_window=4,
    )

    src = str(tmp_path / "decon_stream9")
    docs.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(docs.schema).parquet(src)

    out = streaming_decontaminate(
        stream, stored, benchmark_signatures=bench_path
    )
    q = (out.writeStream.outputMode("append").format("memory")
         .queryName("decon_sc").trigger(availableNow=True).start())
    q.awaitTermination(60)
    kept = sorted(r["doc_id"] for r in
                  spark.sql("SELECT doc_id FROM decon_sc").collect())
    assert kept == [2, 3]  # == the frame-input path's verdicts

    # benchmark=None with the default verify=True raises (round 10):
    # there is nothing to check the marker against, and silently
    # skipping would leave the caller believing they were guarded
    with pytest.raises(ValueError, match="verify=False"):
        streaming_decontaminate(stream, None,
                                benchmark_signatures=bench_path)
    # trusting the sidecar without the marker scan is an explicit
    # verify=False
    out2 = streaming_decontaminate(
        stream, None, benchmark_signatures=bench_path, verify=False
    )
    q2 = (out2.writeStream.outputMode("append").format("memory")
          .queryName("decon_sc2").trigger(availableNow=True).start())
    q2.awaitTermination(60)
    assert sorted(r["doc_id"] for r in
                  spark.sql("SELECT doc_id FROM decon_sc2").collect()) \
        == [2, 3]

    # two authoritative sources -> loud; no source at all -> loud
    from pydala_spark.dataset.maintain import read_signatures

    bf, _ = read_signatures(spark, bench_path, "winnowing")
    with pytest.raises(ValueError, match="not both"):
        streaming_decontaminate(stream, None, benchmark_fps=bf,
                                benchmark_signatures=bench_path)
    with pytest.raises(ValueError, match="no fingerprint source"):
        streaming_decontaminate(stream, None)

    # k/window pins: a mismatched consumer raises instead of silently
    # letting everything through
    with pytest.raises(ValueError, match="disagree"):
        streaming_decontaminate(stream, None, k=5, window=3, verify=False,
                                benchmark_signatures=bench_path)

    # benchmark edited after materialization -> STALE raises when the
    # live frame is passed; verify=False extends the old trust
    spark.createDataFrame(
        [(1, "a brand new leaked passage nobody hashed yet")],
        ["doc_id", "text"],
    ).write.mode("append").parquet(bench_path)
    live = spark.read.parquet(bench_path)
    with pytest.raises(ValueError, match="STALE"):
        streaming_decontaminate(stream, live,
                                benchmark_signatures=bench_path)
    out3 = streaming_decontaminate(
        stream, live, benchmark_signatures=bench_path, verify=False
    )
    q3 = (out3.writeStream.outputMode("append").format("memory")
          .queryName("decon_sc3").trigger(availableNow=True).start())
    q3.awaitTermination(60)
    assert sorted(r["doc_id"] for r in
                  spark.sql("SELECT doc_id FROM decon_sc3").collect()) \
        == [2, 3]


def test_lsh_delta_equals_full_fuzz(spark):
    # round 10: seeded fuzz of the partial-incremental LSH theorem —
    # across random corpora, random changed subsets, duplicate rates
    # and bucket caps, lsh_candidate_pairs_delta (when it accepts)
    # must return EXACTLY lsh_candidate_pairs over today's corpus;
    # when it returns None a genuine cap-status transition must exist
    import random

    from pydala_spark.operators.dedup import lsh_candidate_pairs_delta

    words = [f"tok{i}" for i in range(60)]
    for seed in range(6):
        rng = random.Random(seed)
        n_docs = rng.randint(20, 50)
        dup_groups = rng.randint(1, 4)
        templates = [
            " ".join(rng.choice(words) for _ in range(10))
            for _ in range(dup_groups)
        ]
        rows = []
        for i in range(n_docs):
            if rng.random() < 0.4:
                rows.append((i, rng.choice(templates)))
            else:
                rows.append((i, " ".join(
                    rng.choice(words) for _ in range(10))))
        docs = spark.createDataFrame(rows, ["doc_id", "text"])
        changed_mod = rng.choice([3, 5, 7])
        cap = rng.choice([None, 3, 6])

        yesterday = docs.where(F.col("doc_id") % changed_mod != 0)
        sig_y = minhash_signatures(yesterday, "doc_id", "text",
                                   n_hashes=8, shingle_size=3)
        prior = lsh_candidate_pairs(sig_y, "doc_id", n_bands=4,
                                    max_bucket_size=cap,
                                    log_dropped=False)
        prior_overcap = []
        if cap is not None:
            from pydala_spark.operators.dedup import lsh_buckets

            prior_overcap = [
                (int(r["band_id"]), r["band_hash"])
                for r in lsh_buckets(sig_y, "doc_id", 4)
                .where(F.size("ids") > cap)
                .select("band_id", "band_hash").collect()
            ]

        sig_t = minhash_signatures(docs, "doc_id", "text",
                                   n_hashes=8, shingle_size=3)
        full = sorted(map(tuple, lsh_candidate_pairs(
            sig_t, "doc_id", n_bands=4, max_bucket_size=cap,
            log_dropped=False).collect()))
        delta = lsh_candidate_pairs_delta(
            sig_t, "doc_id",
            is_changed=(F.col("doc_id") % changed_mod == 0),
            prior_pairs_unchanged=prior,
            prior_overcap=prior_overcap,
            n_bands=4, max_bucket_size=cap,
        )
        if delta is None:
            # only legal on a genuine cap transition: the over-cap
            # bucket sets of yesterday and today must differ
            assert cap is not None, (seed, "refused without a cap")
            from pydala_spark.operators.dedup import lsh_buckets

            today_over = {
                (int(r["band_id"]), r["band_hash"])
                for r in lsh_buckets(sig_t, "doc_id", 4)
                .where(F.size("ids") > cap)
                .select("band_id", "band_hash").collect()
            }
            assert today_over != set(prior_overcap), seed
        else:
            got = sorted(map(tuple, delta.collect()))
            assert got == full, (seed, changed_mod, cap)


def test_resize_images_formats_and_normalization(spark):
    # round 11: real nearest-neighbor resize over the stdlib-decodable
    # formats, with output normalization (top-down rows, RGB order,
    # 8-bit samples, PBM bits -> 0/255) regardless of source layout
    import numpy as np

    from pydala_spark.operators.multimodal import resize_images

    # 2x2 PPM, 4 distinct pixels: upscaling to 4x4 turns each source
    # pixel into a 2x2 block (floor(i*src/dst) index map)
    px = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (9, 8, 7)]
    ppm = b"P6\n2 2\n255\n" + bytes(v for p in px for v in p)
    # 2x2 24bpp BMP, bottom-up BGR: file stores the BOTTOM row first
    # and channels reversed — the resize output must be top-down RGB
    w, h = 2, 2
    stride = ((w * 3 + 3) // 4) * 4
    bottom = bytes([255, 0, 0, 255, 255, 255])  # blue, white (BGR)
    top = bytes([0, 0, 255, 0, 255, 0])  # red, green (BGR)
    rows = (bottom + b"\x00" * (stride - 6)) + (top + b"\x00" * (stride - 6))
    bmp = (b"BM" + (54 + len(rows)).to_bytes(4, "little") + b"\x00" * 4
           + (54).to_bytes(4, "little") + (40).to_bytes(4, "little")
           + w.to_bytes(4, "little") + h.to_bytes(4, "little")
           + (1).to_bytes(2, "little") + (24).to_bytes(2, "little")
           + (0).to_bytes(4, "little") + len(rows).to_bytes(4, "little")
           + b"\x00" * 16 + rows)
    # PNM samples rescale by round(v*255/maxval); PBM keeps the spec's
    # polarity (1 = black -> 0, 0 = white -> 255)
    pgm16 = (b"P5\n2 1\n65535\n"
             + (0x1234).to_bytes(2, "big") + (0xFF00).to_bytes(2, "big"))
    pbm = b"P4\n2 2\n" + bytes([0b10000000, 0b01000000])
    df = spark.createDataFrame(
        [(1, "image", bytearray(ppm)), (2, "image", bytearray(bmp)),
         (3, "image", bytearray(pgm16)), (4, "image", bytearray(pbm)),
         (5, "image", bytearray(b"\xff\xd8 not decodable")),
         (6, "audio", bytearray(b"RIFF1234WAVEjunk"))],
        "media_id long, kind string, content binary",
    )
    out = {r["media_id"]: r for r in resize_images(df, 4, 4).collect()}
    p = out[1]
    assert (p["format"], p["src_width"], p["src_height"],
            p["channels"]) == ("ppm", 2, 2, 3)
    assert (p["width"], p["height"]) == (4, 4)
    a = np.frombuffer(bytes(p["pixels"]), dtype=np.uint8).reshape(4, 4, 3)
    assert tuple(a[0, 0]) == (255, 0, 0) and tuple(a[0, 3]) == (0, 255, 0)
    assert tuple(a[3, 0]) == (0, 0, 255) and tuple(a[3, 3]) == (9, 8, 7)
    b = np.frombuffer(bytes(out[2]["pixels"]), dtype=np.uint8).reshape(4, 4, 3)
    assert tuple(b[0, 0]) == (255, 0, 0)  # top-left red (flipped row)
    assert tuple(b[0, 3]) == (0, 255, 0)  # top-right green (RGB swap)
    assert tuple(b[3, 0]) == (0, 0, 255) and tuple(b[3, 3]) == (255, 255, 255)
    g = np.frombuffer(bytes(out[3]["pixels"]), dtype=np.uint8).reshape(4, 4, 1)
    # round(0x1234*255/65535) = 18 (0x12); round(0xFF00*255/65535) = 254
    assert g[0, 0, 0] == 0x12 and g[0, 3, 0] == 254
    m = np.frombuffer(bytes(out[4]["pixels"]), dtype=np.uint8).reshape(4, 4, 1)
    assert m[0, 0, 0] == 0 and m[0, 3, 0] == 255  # 1 = black per spec
    assert m[3, 0, 0] == 255 and m[3, 3, 0] == 0
    # undecodable and non-image payloads degrade to null rows
    assert out[5]["format"] is None and out[5]["pixels"] is None
    assert out[6]["format"] is None and out[6]["width"] is None


def test_resize_images_decoder_seam_and_validation(spark):
    # the pluggable codec seam returns already-resized rasters; bad
    # targets are rejected up front
    import numpy as np

    import pytest as _pytest

    from pydala_spark.operators.multimodal import resize_images

    def fake_codec(payload, kind):
        if payload[:2] == b"\xff\xd8":  # "JPEG" handled by the plug-in
            return {"format": "jpeg", "src_width": 9, "src_height": 9,
                    "channels": 3, "pixels": bytes(2 * 2 * 3)}
        return {}  # everything else falls through to the stdlib path

    ppm = b"P6\n1 1\n255\n" + bytes([7, 8, 9])
    df = spark.createDataFrame(
        [(1, "image", bytearray(b"\xff\xd8jpegish")),
         (2, "image", bytearray(ppm))],
        "media_id long, kind string, content binary",
    )
    out = {r["media_id"]: r
           for r in resize_images(df, 2, 2, decoder=fake_codec).collect()}
    assert out[1]["format"] == "jpeg" and out[1]["src_width"] == 9
    assert len(bytes(out[1]["pixels"])) == 12
    assert out[2]["format"] == "ppm"  # stdlib path still serves PPM
    a = np.frombuffer(bytes(out[2]["pixels"]), dtype=np.uint8)
    assert list(a) == [7, 8, 9] * 4
    with _pytest.raises(ValueError):
        resize_images(df, 0, 4)

    # ADVICE r11: a plug-in result violating the contract (pixels
    # buffer not width*height*channels, or missing keys) must NOT be
    # emitted as-is — it falls through to the stdlib path (real decode
    # for PPM, null row for an undecodable payload) instead of
    # claiming the target geometry over a mis-sized buffer
    def bad_codec(payload, kind):
        if payload[:2] == b"P6":
            return {"format": "jpeg", "src_width": 9, "src_height": 9,
                    "channels": 3, "pixels": bytes(5)}  # wrong length
        return {"format": "jpeg", "src_width": 9, "src_height": 9,
                "pixels": bytes(2 * 2 * 3)}  # channels missing

    out = {r["media_id"]: r
           for r in resize_images(df, 2, 2, decoder=bad_codec).collect()}
    assert out[2]["format"] == "ppm"  # mis-sized result ignored
    assert len(bytes(out[2]["pixels"])) == 2 * 2 * 3
    assert out[1]["format"] is None  # missing-key result -> null row
    assert out[1]["pixels"] is None

    # ADVICE r12: length alone isn't enough — a str (or list) of the
    # right length must NOT be accepted into the binary pixels column
    # (it would fail at Arrow serialization far from the plug-in); a
    # bytearray of the right length IS accepted (frozen to bytes)
    def typed_codec(payload, kind):
        if payload[:2] == b"\xff\xd8":
            return {"format": "jpeg", "src_width": 9, "src_height": 9,
                    "channels": 3, "pixels": "x" * 12}  # str: reject
        return {"format": "gif", "src_width": 5, "src_height": 5,
                "channels": 3, "pixels": bytearray(b"\x07" * 12)}

    out = {r["media_id"]: r
           for r in resize_images(df, 2, 2, decoder=typed_codec).collect()}
    assert out[1]["format"] is None  # str pixels -> stdlib -> null row
    assert out[2]["format"] == "gif"  # bytearray accepted + frozen
    assert bytes(out[2]["pixels"]) == b"\x07" * 12


def test_winnowing_window_one(spark):
    # round-11 review: least() needs >= 2 columns, so window=1 must
    # degenerate to the bare k-gram hash instead of crashing at
    # plan-build (WRONG_NUM_COLUMNS) — window is caller/sidecar-fed
    import hashlib

    from pydala_spark.operators.dedup import duplicate_spans
    from pydala_spark.operators.textstats import winnowing_fingerprints

    df = spark.createDataFrame([(1, "abcdefghij")], ["id", "text"])
    out = winnowing_fingerprints(df, "id", k=4, window=1).collect()[0]
    grams = ["abcdefghij"[i:i + 4] for i in range(7)]
    exp = sorted({hashlib.md5(g.encode()).hexdigest() for g in grams})
    assert list(out["fps"]) == exp
    keep = winnowing_fingerprints(
        df, "id", k=4, window=1, keep_columns=True
    ).collect()[0]
    assert sorted(keep["__fps"]) == exp
    spans_df = spark.createDataFrame(
        [(1, "y" * 60), (2, "y" * 60)], ["id", "text"]
    )
    # the span path shares the fix: plan-builds and runs under window=1
    duplicate_spans(
        spans_df, "id", k=20, window=1, min_span=20, min_df=2
    ).collect()


def test_resize_images_gif_deinterlace_and_10bit_pgm(spark):
    # round-11 review: interlaced GIF rows (8/8/4/2 pass storage order)
    # must scatter back to display order, and PNM maxvals other than
    # 255/65535 (e.g. 10-bit camera output) must rescale to full range
    import numpy as np

    from pydala_spark.operators.multimodal import resize_images

    pal = bytes([0, 0, 0, 85, 85, 85, 170, 170, 170, 255, 255, 255])
    display = [0, 1, 2, 3, 3, 2, 1, 0]  # palette index per DISPLAY row
    order = [0, 4, 2, 6, 1, 3, 5, 7]  # h=8 interlace storage order
    stored = [display[r] for r in order]
    min_code, clear, eoi = 2, 4, 5
    codes = [clear] + stored + [eoi]
    bits, acc, nbits = bytearray(), 0, 0
    width, table_size, seen_first = min_code + 1, clear + 2, False
    for c in codes:
        acc |= c << nbits
        nbits += width
        while nbits >= 8:
            bits.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
        if c not in (clear, eoi):
            if seen_first:
                table_size += 1
                if table_size == (1 << width) and width < 12:
                    width += 1
            seen_first = True
    if nbits:
        bits.append(acc & 0xFF)
    gif = (
        b"GIF89a" + (1).to_bytes(2, "little") + (8).to_bytes(2, "little")
        + bytes([0x81, 0, 0]) + pal
        + b"\x2c" + b"\x00" * 4 + (1).to_bytes(2, "little")
        + (8).to_bytes(2, "little") + b"\x40"  # interlace flag set
        + bytes([min_code, len(bits)]) + bytes(bits) + b"\x00" + b"\x3b"
    )
    pgm10 = b"P5\n1 1\n1023\n" + (1023).to_bytes(2, "big")
    df = spark.createDataFrame(
        [(1, "image", bytearray(gif)), (2, "image", bytearray(pgm10))],
        "media_id long, kind string, content binary",
    )
    out = {r["media_id"]: r for r in resize_images(df, 1, 8).collect()}
    a = np.frombuffer(bytes(out[1]["pixels"]), dtype=np.uint8).reshape(8, 1, 3)
    assert [int(a[r, 0, 0]) for r in range(8)] == [0, 85, 170, 255,
                                                   255, 170, 85, 0]
    g = np.frombuffer(bytes(out[2]["pixels"]), dtype=np.uint8)
    assert g[0] == 255  # full-scale 10-bit sample -> 255, not 3


def test_resize_images_matches_numpy_reference(spark):
    # pin the nearest-neighbor index map (floor(i*src/dst)) against an
    # independent numpy reference, up- and down-scaling, both axes
    import numpy as np

    from pydala_spark.operators.multimodal import resize_images

    rng = np.random.RandomState(7)
    for w0, h0, tw, th in [(3, 5, 7, 2), (8, 1, 3, 3), (2, 2, 2, 2),
                           (5, 4, 1, 1), (4, 3, 9, 9)]:
        arr = rng.randint(0, 256, size=(h0, w0, 3), dtype=np.uint8)
        ppm = f"P6\n{w0} {h0}\n255\n".encode() + arr.tobytes()
        df = spark.createDataFrame(
            [(1, "image", bytearray(ppm))],
            "media_id long, kind string, content binary",
        )
        row = resize_images(df, tw, th).collect()[0]
        got = np.frombuffer(bytes(row["pixels"]), dtype=np.uint8).reshape(
            th, tw, 3
        )
        ref = arr[(np.arange(th) * h0) // th][:, (np.arange(tw) * w0) // tw]
        assert np.array_equal(got, ref), (w0, h0, tw, th)


def test_resize_images_on_structured_stream(spark, tmp_path):
    # the multimodal plumbing is stateless mapInPandas, so the SAME
    # operator must run unchanged over a readStream source — pin it
    # end-to-end (file stream of media manifests -> resize -> sink)
    import os

    import numpy as np

    from pydala_spark.operators.multimodal import resize_images

    src = str(tmp_path / "media_in")
    os.makedirs(src)
    ppm = b"P6\n2 2\n255\n" + bytes([10, 20, 30]) * 4
    spark.createDataFrame(
        [(1, "image", bytearray(ppm)),
         (2, "image", bytearray(b"\xff\xd8 nope"))],
        "media_id long, kind string, content binary",
    ).coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema(
        "media_id long, kind string, content binary"
    ).parquet(src)
    q = (
        resize_images(stream, 3, 3)
        .writeStream.format("memory")
        .queryName("resized_stream")
        .option(
            "checkpointLocation", str(tmp_path / "ckpt_resize")
        )
        .trigger(availableNow=True)
        .start()
    )
    try:
        # assert the boolean: a False return means the batch outran the
        # timeout and the memory table below would be partial
        assert q.awaitTermination(60), "stream did not finish in 60s"
    finally:
        q.stop()  # never leak a running query into the shared session
    out = {r["media_id"]: r
           for r in spark.sql("SELECT * FROM resized_stream").collect()}
    assert out[1]["format"] == "ppm" and out[1]["width"] == 3
    a = np.frombuffer(bytes(out[1]["pixels"]), dtype=np.uint8)
    assert list(a) == [10, 20, 30] * 9
    assert out[2]["format"] is None  # degrade rule holds on streams too


def test_contamination_precomputed_keys_match_inline(spark):
    # round 16: q_decontaminate pays the shingle explosion once and
    # feeds both the hits view and the report from shingle_keys frames;
    # the precomputed path must be row-identical to the inline one
    from pydala_spark.operators.dedup import (
        contamination_hits,
        contamination_report,
        shingle_keys,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "a completely unrelated sentence about spark engines"),
            (3, "quick brown fox jumps again and again today"),
            (100, "the quick brown fox jumps high"),
        ],
        "doc_id long, text string",
    )
    keys = shingle_keys(docs, "doc_id", "text", 3)
    ck = keys.where(F.col("id") != 100)
    bk = keys.where(F.col("id") == 100)
    corpus = docs.where(F.col("doc_id") != 100)
    bench = docs.where(F.col("doc_id") == 100)

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    assert rows(
        contamination_hits(None, None, corpus_keys=ck, bench_keys=bk)
    ) == rows(contamination_hits(corpus, bench, "doc_id"))
    assert rows(
        contamination_report(
            None, None, "doc_id", corpus_keys=ck, bench_keys=bk
        )
    ) == rows(contamination_report(corpus, bench, "doc_id"))
