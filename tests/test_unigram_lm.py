"""Unigram-LM tokenizer (queries/unigram_lm.py) — kernel correctness vs
a pure-python hard-EM reference, the integer-log-prob margin pin, and
the E-step's no-shuffle plan shape."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from incremental_dagster_delta_spark.queries.bpe import SEP
from incremental_dagster_delta_spark.queries.unigram_lm import (
    EM_ITERS,
    MAX_PIECE_LEN,
    SCALE,
    _ilogp,
    _scores,
    seed_counts,
    train_unigram,
    viterbi_seg,
    word_table,
)


def _py_viterbi(w: str, s: dict[str, int]) -> str:
    dp = [(0, "")]
    for i in range(1, len(w) + 1):
        best = (-(1 << 62), "")
        for plen in range(1, min(MAX_PIECE_LEN, i) + 1):
            j = i - plen
            piece = w[j:i]
            if piece in s:
                cand = (dp[j][0] + s[piece], dp[j][1] + piece + SEP)
                if cand[0] > best[0] or (cand[0] == best[0] and cand[1] < best[1]):
                    best = cand
        dp.append(best)
    return dp[len(w)][1]


def test_viterbi_seg_known_vocab(spark):
    """Hand-pinned DP: with 'ab' scoring better than 'a'+'b', the pair
    merges; with equal total scores the lexicographically-smaller seg
    wins (the explicit tiebreak)."""
    scores = {"a": -10, "b": -10, "c": -10, "ab": -15, "bc": -20}
    df = spark.createDataFrame([("ab",), ("abc",), ("abab",)], "word string")
    got = {
        r["word"]: r["seg"]
        for r in df.select("word", viterbi_seg(F.col("word"), scores).alias("seg")).collect()
    }
    assert got["ab"] == f"ab{SEP}"  # -15 beats -20
    # 'abc': ab+c = -25, a+bc = -30, a+b+c = -30 → ab+c
    assert got["abc"] == f"ab{SEP}c{SEP}"
    # 'abab': ab+ab = -30 beats any char mix (-40/-35)
    assert got["abab"] == f"ab{SEP}ab{SEP}"
    # tiebreak: two equal-score paths pick the smaller seg string
    tie = {"x": -10, "y": -10, "xy": -20}
    dfx = spark.createDataFrame([("xy",)], "word string")
    r = dfx.select(viterbi_seg(F.col("word"), tie).alias("seg")).collect()[0]
    assert r["seg"] == f"x{SEP}y{SEP}"  # 'x␟y␟' < 'xy␟'
    # pieces holding a quote, a backslash and multibyte characters reach
    # the score map intact (the map is inlined as a SQL literal)
    odd = {"'": -5, "\\": -6, "é": -4, "'\\": -9, "é'": -8, "日本": -3, "日": -2, "本": -2}
    words = ["'\\é'", "日本'", "\\'é\\", "é'日本"]
    dfo = spark.createDataFrame([(w,) for w in words], "word string")
    got = {
        r["word"]: r["seg"]
        for r in dfo.select("word", viterbi_seg(F.col("word"), odd).alias("seg")).collect()
    }
    assert got == {w: _py_viterbi(w, odd) for w in words}


def test_train_matches_python_em(spark, sf_dir):
    """Full hard-EM over the corpus must equal the pure-python
    reference: identical final Viterbi usage counts, piece for piece."""
    from incremental_dagster_delta_spark.queries.registry import t

    docs = t(spark, sf_dir, "documents")
    segs, counts, words_df = train_unigram(spark, docs)
    got = {r["piece"]: r["vcnt"] for r in counts.collect()}
    words_df.unpersist()

    words = {r["word"]: r["freq"] for r in word_table(docs).collect()}
    seed: dict[str, int] = {}
    for w, f in words.items():
        for plen in range(1, MAX_PIECE_LEN + 1):
            for p in range(0, len(w) - plen + 1):
                seed[w[p : p + plen]] = seed.get(w[p : p + plen], 0) + f
    chars = {p: c for p, c in seed.items() if len(p) == 1}
    multi = sorted(
        ((p, c) for p, c in seed.items() if len(p) >= 2), key=lambda x: (-x[1], x[0])
    )[:60]
    vocab = dict(chars)
    vocab.update(dict(multi))
    s = _scores(vocab)
    m: dict[str, int] = {}
    for it in range(EM_ITERS):
        m = {}
        for w, f in words.items():
            for piece in _py_viterbi(w, s).split(SEP):
                if piece:
                    m[piece] = m.get(piece, 0) + f
        if it < EM_ITERS - 1:
            s = _scores({p: m.get(p, 0) + 1 for p in vocab})
    assert got == m


def test_ilogp_floor_margin(spark, sf_dir):
    """The one float surface: ln(cnt/total)·SCALE + 0.5 is floored to an
    integer in BOTH engines (CPython libm on the Spark path, DuckDB's ln
    on the oracle path). A 1-ulp ln difference (~1e-10 in these units)
    only flips the floor if a value sits that close to an integer
    boundary; pin that every score in every EM round's count table sits
    > 1e-4 units away — six orders of magnitude of headroom. Re-measure
    if SCALE, the seed, or the corpus changes (margins at shipped SFs:
    6.1e-4 .. 8.1e-3)."""
    from incremental_dagster_delta_spark.queries.registry import t

    docs = t(spark, sf_dir, "documents")
    words = word_table(docs).persist()
    seed = {r["piece"]: r["cnt"] for r in seed_counts(words).collect()}

    def min_margin(cnts: dict[str, int]) -> float:
        total = sum(cnts.values())
        vals = [math.log(c / total) * SCALE + 0.5 for c in cnts.values()]
        return min(min(v % 1.0, 1.0 - v % 1.0) for v in vals)

    margins = [min_margin(seed)]
    s = _scores(seed)
    for it in range(EM_ITERS - 1):
        segs = words.select(
            "freq", viterbi_seg(F.col("word"), s).alias("seg")
        )
        pieces = F.filter(F.split("seg", SEP), lambda x: x != F.lit(""))
        vcnt = {
            r["piece"]: r["vcnt"]
            for r in segs.select(F.explode(pieces).alias("piece"), "freq")
            .groupBy("piece")
            .agg(F.sum("freq").alias("vcnt"))
            .collect()
        }
        smoothed = {p: vcnt.get(p, 0) + 1 for p in seed}
        margins.append(min_margin(smoothed))
        s = _scores(smoothed)
    words.unpersist()
    assert min(margins) > 1e-4, margins


def test_estep_plan_is_shuffle_free(spark):
    """The Viterbi E-step is a pure projection: its plan must contain no
    Exchange and no Join — the DP runs entirely inside the per-row
    expression (score map inlined as a literal)."""
    df = spark.createDataFrame([("hello",), ("world",)], "word string")
    seg = df.select("word", viterbi_seg(F.col("word"), {"h": -1, "e": -1}).alias("seg"))
    plan = seg._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_ilogp_is_floor_half_up():
    """floor(x+0.5) semantics (not banker's rounding): -2.5 → -2."""
    # craft cnt/total with ln*SCALE+0.5 landing mid-interval: just check
    # the function equals the formula on a few values
    for cnt, total in [(1, 3), (2, 7), (5, 11)]:
        assert _ilogp(cnt, total) == math.floor(math.log(cnt / total) * SCALE + 0.5)


def test_encode_char_fallback_oov(spark):
    """Words outside the trained segmentation must not vanish from the
    encode/fertility aggregates (r7 verdict item 2): a planted word
    longer than MAX_WORD_LEN falls back to character-level counts —
    len(word) tokens for unigram, len(word)+1 (chars + </w>) for BPE.
    The oracles apply the identical LEFT JOIN + COALESCE fallback."""
    from incremental_dagster_delta_spark.queries.bpe import (
        encode_bpe,
        fertility_by_lang,
    )
    from incremental_dagster_delta_spark.queries.unigram_lm import (
        MAX_WORD_LEN,
        char_fallback_unigram,
        encode_unigram,
    )

    long_word = "x" * (MAX_WORD_LEN + 4)
    docs = spark.createDataFrame(
        [(1, "en", f"aa {long_word}")], "doc_id long, lang string, text string"
    )
    seg = spark.createDataFrame([("aa", 1)], "word string, n_toks long")

    uni = encode_unigram(docs, seg).collect()[0]
    assert uni["n_unigram_tokens"] == 1 + len(long_word)
    assert uni["n_chars"] == 2 + len(long_word)

    bpe_row = encode_bpe(docs, seg).collect()[0]
    assert bpe_row["n_bpe_tokens"] == 1 + len(long_word) + 1
    assert bpe_row["n_char_symbols"] == (2 + 1) + (len(long_word) + 1)

    fert = fertility_by_lang(
        docs, seg, "n_unigram_tokens", char_fallback_unigram
    ).collect()[0]
    assert fert["n_words"] == 2
    assert fert["n_unigram_tokens"] == 1 + len(long_word)


def test_corpus_words_within_dp_bound(spark, sf_dir):
    """Pin that no corpus word exceeds MAX_WORD_LEN at the shipped SFs:
    the encode/fertility fallback keeps the hash-compared qids correct
    either way, but a word silently crossing the cap would change which
    words TRAIN the vocab — this pin makes testdata drift loud."""
    from incremental_dagster_delta_spark.queries.registry import t
    from incremental_dagster_delta_spark.queries.unigram_lm import MAX_WORD_LEN

    docs = t(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower(F.col("text")), " "), lambda x: x != F.lit(""))
    mx = docs.select(
        F.explode(toks).alias("word")
    ).agg(F.max(F.length("word")).alias("mx")).collect()[0]["mx"]
    assert mx <= MAX_WORD_LEN, f"corpus max word length {mx} > {MAX_WORD_LEN}"
