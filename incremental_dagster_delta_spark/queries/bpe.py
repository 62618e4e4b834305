"""BPE merge training (SURVEY §7-M6c) — the standard LLM-tokenization
operator: learn the top-N byte-pair-encoding merges from a corpus
(Sennrich et al. 2016, "Neural Machine Translation of Rare Words with
Subword Units").

Scale shape: merge training never iterates over the CORPUS — the corpus
pays exactly one tokenize + word-count pass (map-side-combinable), and
every merge iteration runs on the resulting VOCAB table (|V| rows — a
few million even at 100 TB of text, comfortably one executor's worth of
partitions). Per iteration: one narrow (left, right, freq) shuffle for
the pair counts and a 1-row argmax brought to the driver (the same
legitimate driver-side scalar as a scalar subquery — it IS the learned
merge). Iterations are bounded by N_MERGES, and each vocab revision is
persisted/released like graph.py's fixpoint discipline so iteration k
never recomputes iterations 0..k-1.

Determinism: segmentations are represented as SEP-delimited strings
(``␟l␟o␟w␟</w>␟``) and a merge (a,b)→ab is applied with LITERAL string
replace of ``␟a␟b␟`` → ``␟ab␟`` — both Spark's ``replace`` and DuckDB's
``replace`` scan left-to-right non-overlapping, which is exactly BPE's
greedy leftmost-first application (``a a a`` under (a,a)→aa becomes
``aa a``, not ``a aa``). Pair frequencies are integers, argmax ties
break on (freq DESC, left ASC, right ASC) — bit-identical across
engines, so the oracle is a full hash check, not rows-only.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from incremental_dagster_delta_spark.queries.registry import query, t, TOKS_SQL

_TOKS_SQL = TOKS_SQL  # canonical tokenizer — registry.py

SEP = "\x1f"  # unit separator: delimits symbols inside a segmentation
EOW = "</w>"  # end-of-word marker symbol (standard BPE)
N_MERGES = 8


def _oracle(n: int = N_MERGES) -> str:
    """Chained-CTE DuckDB oracle: w0 = char-segmented vocab; for each
    iteration k, p{k} explodes adjacent symbol pairs, b{k} takes the
    deterministic argmax, w{k+1} applies the merge via literal replace.
    Generated programmatically — the SQL is the same 3-CTE block × N."""
    parts = [
        f"""WITH w0 AS (
      SELECT '{SEP}' || regexp_replace(word, '(.)', '\\1{SEP}', 'g') || '{EOW}{SEP}' AS seq,
             freq
      FROM (
        SELECT tok AS word, count(*) AS freq
        FROM (SELECT unnest({_TOKS_SQL}) AS tok FROM documents)
        WHERE NOT contains(tok, '{SEP}')
        GROUP BY tok
      )
    )"""
    ]
    for k in range(n):
        parts.append(f""", p{k} AS (
      SELECT syms[i] AS l, syms[i + 1] AS r, freq FROM (
        SELECT syms, freq, unnest(range(1, len(syms))) AS i
        FROM (SELECT list_filter(string_split(seq, '{SEP}'), x -> x <> '') AS syms, freq
              FROM w{k})
      )
    ), b{k} AS (
      SELECT l, r, CAST(sum(freq) AS BIGINT) AS c
      FROM p{k} GROUP BY l, r
      ORDER BY c DESC, l, r LIMIT 1
    ), w{k + 1} AS (
      SELECT replace(seq, '{SEP}' || b.l || '{SEP}' || b.r || '{SEP}',
                          '{SEP}' || b.l || b.r || '{SEP}') AS seq, freq
      FROM w{k} CROSS JOIN b{k} b
    )""")
    selects = [
        f"SELECT CAST({k + 1} AS BIGINT) AS merge_rank, l AS left_sym, r AS right_sym,"
        f" l || r AS merged, c AS freq FROM b{k}"
        for k in range(n)
    ]
    return "".join(parts) + "\n" + "\nUNION ALL ".join(selects)


def learn_bpe(spark, docs, n: int = N_MERGES):
    """Run the merge-training loop over a (doc_id, text) DataFrame.

    Returns ``(merges, vocab)`` where ``merges`` is the learned list of
    ``(rank, left, right, merged, freq)`` tuples and ``vocab`` is the
    FINAL segmentation table ``(word, seq, freq)`` — i.e. the result of
    applying every learned merge, which is exactly what encoding needs
    (a word's token sequence is a pure function of the trained vocab).
    The returned ``vocab`` is persisted; callers release it via
    ``materialize_release`` or ``unpersist``."""
    toks = F.filter(F.split(F.lower(F.col("text")), " "), lambda x: x != F.lit(""))
    words = (
        docs.select(F.explode(toks).alias("word"))
        .where(~F.col("word").contains(SEP))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )
    seq0 = F.concat(
        F.lit(SEP), F.regexp_replace(F.col("word"), "(.)", "$1" + SEP), F.lit(EOW + SEP)
    )
    cur = words.select("word", seq0.alias("seq"), "freq").persist()
    merges: list[tuple] = []

    def best_pair(rev):
        """Argmax adjacent pair of one revision — the SAME job also
        materializes the revision's cache (the aggregation consumes every
        partition), so the loop pays ONE driver job per merge instead of
        a count() + argmax pair (r16, guide §5 — driver orchestration
        round-trips; A/B'd in OPTIMIZATION_r16.md)."""
        syms = F.filter(F.split(F.col("seq"), SEP), lambda x: x != F.lit(""))
        prs = F.zip_with(
            F.slice(syms, 1, F.size(syms) - 1),
            F.slice(syms, 2, F.size(syms) - 1),
            lambda a, b: F.struct(a.alias("l"), b.alias("r")),
        )
        return (
            rev.select(F.explode(prs).alias("p"), "freq")
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("freq").alias("c"))
            .orderBy(F.col("c").desc(), "l", "r")
            .limit(1)
            .collect()
        )

    # the outer except releases the LIVE revision (cur is rebound each
    # iteration): a mid-loop action failure (executor loss, OOM) must
    # not leak a persisted revision into the long-lived session that
    # runs 100+ queries (the materialize_release r15 discipline). On
    # success `cur` stays persisted — callers release it.
    try:
        best = best_pair(cur)  # one job: corpus pass + first argmax
        for rank in range(1, n + 1):
            if not best:
                break
            left, right, c = best[0]["l"], best[0]["r"], best[0]["c"]
            merges.append((rank, left, right, left + right, c))
            nxt = cur.withColumn(
                "seq",
                F.replace(
                    F.col("seq"),
                    F.lit(SEP + left + SEP + right + SEP),
                    F.lit(SEP + left + right + SEP),
                ),
            ).persist()
            try:
                if rank < n:
                    # materializes nxt AND finds the next merge in one job
                    best = best_pair(nxt)
                else:
                    nxt.count()  # materialize before releasing the parent
            except BaseException:
                nxt.unpersist()
                raise
            cur.unpersist()
            cur = nxt
    except BaseException:
        cur.unpersist()
        raise
    return merges, cur


@query("q_bpe_merges", tags=("text", "llm"), oracle=_oracle(), size_from="documents")
def q_bpe_merges(spark, sf_dir):
    """Learn the first N_MERGES BPE merges over the documents corpus.

    Returns one row per merge: (merge_rank, left_sym, right_sym, merged,
    freq) in learned order. See the module docstring for the scale and
    determinism story."""
    from incremental_dagster_delta_spark.tables import literal_df

    merges, vocab = learn_bpe(spark, t(spark, sf_dir, "documents"))
    vocab.unpersist()
    return literal_df(
        spark, merges, "merge_rank long, left_sym string, right_sym string, merged string, freq long"
    )


def _vocab_cte_chain(n: int = N_MERGES) -> str:
    """Training CTE chain (same 3-CTE block as _oracle but carrying
    `word` through every revision) up to the final vocab segmentation
    and the exploded doc_words table — shared by the encode and
    fertility oracles so they can never train a different vocab."""
    parts = [
        f"""WITH w0 AS (
      SELECT word,
             '{SEP}' || regexp_replace(word, '(.)', '\\1{SEP}', 'g') || '{EOW}{SEP}' AS seq,
             freq
      FROM (
        SELECT tok AS word, count(*) AS freq
        FROM (SELECT unnest({_TOKS_SQL}) AS tok FROM documents)
        WHERE NOT contains(tok, '{SEP}')
        GROUP BY tok
      )
    )"""
    ]
    for k in range(n):
        parts.append(f""", p{k} AS (
      SELECT syms[i] AS l, syms[i + 1] AS r, freq FROM (
        SELECT syms, freq, unnest(range(1, len(syms))) AS i
        FROM (SELECT list_filter(string_split(seq, '{SEP}'), x -> x <> '') AS syms, freq
              FROM w{k})
      )
    ), b{k} AS (
      SELECT l, r, sum(freq) AS c FROM p{k} GROUP BY l, r
      ORDER BY c DESC, l, r LIMIT 1
    ), w{k + 1} AS (
      SELECT word, replace(seq, '{SEP}' || b.l || '{SEP}' || b.r || '{SEP}',
                                '{SEP}' || b.l || b.r || '{SEP}') AS seq, freq
      FROM w{k} CROSS JOIN b{k} b
    )""")
    return "".join(parts) + f"""
    , vocab AS (
      SELECT word,
             CAST(len(list_filter(string_split(seq, '{SEP}'), x -> x <> '')) AS BIGINT)
               AS n_toks
      FROM w{n}
    ),
    doc_words AS (
      SELECT doc_id, unnest({_TOKS_SQL}) AS word FROM documents
    )"""


def _encode_oracle(n: int = N_MERGES) -> str:
    """Encode oracle: reuse the training CTE chain (word carried through
    every revision), then token-count each document against the FINAL
    vocab segmentation w{n}. OOV words (outside the trained vocab, e.g.
    containing SEP) fall back to character-level encoding — LEFT JOIN +
    COALESCE(n_toks, len(word) + 1), mirroring the Spark side."""
    return _vocab_cte_chain(n) + """
    SELECT d.doc_id,
           CAST(sum(COALESCE(v.n_toks, length(d.word) + 1)) AS BIGINT) AS n_bpe_tokens,
           CAST(sum(length(d.word) + 1) AS BIGINT) AS n_char_symbols,
           CAST(ROUND(sum(length(d.word) + 1)
                      / (1.0 * sum(COALESCE(v.n_toks, length(d.word) + 1))), 4) AS DOUBLE)
             AS compression
    FROM doc_words d LEFT JOIN vocab v USING (word)
    GROUP BY d.doc_id
    """


def _fertility_oracle(n: int = N_MERGES) -> str:
    return _vocab_cte_chain(n) + """
    SELECT doc.lang,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(COALESCE(v.n_toks, length(d.word) + 1)) AS BIGINT) AS n_bpe_tokens,
           CAST(ROUND(sum(COALESCE(v.n_toks, length(d.word) + 1)) / (1.0 * count(*)), 4)
                AS DOUBLE) AS fertility,
           CAST(ROUND(sum(length(d.word)) / (1.0 * count(*)), 4) AS DOUBLE)
             AS avg_word_len
    FROM doc_words d
    LEFT JOIN vocab v USING (word)
    JOIN documents doc USING (doc_id)
    GROUP BY doc.lang
    """


def char_fallback_bpe(word_col):
    """OOV token count for a word outside the trained BPE vocab:
    character-level encoding — one token per character plus the
    end-of-word symbol. Matches the untrained-baseline `n_char_symbols`
    semantics, so an entirely-OOV document has compression exactly 1."""
    return F.length(word_col) + 1


def encode_bpe(docs, seg):
    """Corpus encode given the trained (word, n_toks) segmentation:
    one explode + a word-keyed LEFT join against the |distinct words|-row
    segmentation table + one doc-keyed agg. The seg table grows with
    the corpus's distinct-word count (Heaps' law: 10^8-10^9 at 100 TB),
    so the join is deliberately UNHINTED — AQE broadcasts it only when
    runtime stats justify it (pinned by tests/test_plans.py). Words
    outside the vocab fall back to character-level encoding."""
    toks = F.filter(F.split(F.lower(F.col("text")), " "), lambda x: x != F.lit(""))
    doc_words = docs.select("doc_id", F.explode(toks).alias("word"))
    n_toks = F.coalesce(F.col("n_toks"), char_fallback_bpe(F.col("word")))
    return (
        doc_words.join(seg, "word", "left")
        .groupBy("doc_id")
        .agg(
            F.sum(n_toks).alias("n_bpe_tokens"),
            F.sum(F.length("word") + 1).alias("n_char_symbols"),
            F.round(
                F.sum(F.length("word") + 1) / (1.0 * F.sum(n_toks)), 4
            ).cast("double").alias("compression"),
        )
    )


@query("q_bpe_encode", tags=("text", "llm"), oracle=_encode_oracle(), size_from="documents")
def q_bpe_encode(spark, sf_dir):
    """Encode the corpus with the learned BPE vocab: per document, the
    BPE token count, the character-level symbol count (chars + one
    end-of-word per word — the untrained baseline), and the resulting
    compression ratio. Encoding never re-runs merges over the corpus:
    a word's token sequence is a pure function of the trained vocab —
    see :func:`encode_bpe` for the join shape and OOV fallback.
    ``</w>`` counts as part of the last token of each word (standard)."""
    from incremental_dagster_delta_spark.tables import materialize_release

    docs = t(spark, sf_dir, "documents")
    _, vocab = learn_bpe(spark, docs)
    syms = F.filter(F.split(F.col("seq"), SEP), lambda x: x != F.lit(""))
    seg = vocab.select("word", F.size(syms).cast("long").alias("n_toks"))
    return materialize_release(encode_bpe(docs, seg), vocab)


def fertility_by_lang(docs, seg: "DataFrame", tokens_alias: str = "n_bpe_tokens",
                      fallback=char_fallback_bpe):
    """Per-language fertility given ANY (word, n_toks) segmentation
    table — tokenizer-agnostic (BPE's final merge segmentation or the
    unigram-LM Viterbi segmentation both plug in; the round-6 verdict's
    'accept either tokenizer' rewiring). The corpus pays one explode
    (lang rides along on each exploded row — no doc-level join back) +
    a word-keyed LEFT join against the |distinct words|-row segmentation
    table; the final agg keys on |langs| rows. The seg table grows with
    the corpus's distinct-word count (Heaps' law), so the join is
    UNHINTED — AQE broadcasts only when runtime stats justify it
    (pinned by tests/test_plans.py). OOV words (outside the trained
    vocab) take ``fallback(word)`` tokens — character-level encoding."""
    toks = F.filter(F.split(F.lower(F.col("text")), " "), lambda x: x != F.lit(""))
    lang_words = docs.select("lang", F.explode(toks).alias("word"))
    n_toks = F.coalesce(F.col("n_toks"), fallback(F.col("word")))
    return (
        lang_words.join(seg, "word", "left")
        .groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_words"),
            F.sum(n_toks).cast("long").alias(tokens_alias),
            F.round(F.sum(n_toks) / (1.0 * F.count("*")), 4)
            .cast("double")
            .alias("fertility"),
            F.round(F.sum(F.length("word")) / (1.0 * F.count("*")), 4)
            .cast("double")
            .alias("avg_word_len"),
        )
    )


@query(
    "q_tokenizer_fertility",
    tags=("text", "llm"),
    oracle=_fertility_oracle(),
    size_from="documents",
)
def q_tokenizer_fertility(spark, sf_dir):
    """Per-language tokenizer fertility under the learned BPE vocab:
    BPE tokens per word (and mean word length) grouped by document
    language — THE coverage-fairness metric a tokenizer build reports
    (a language the merges under-serve shows fertility near its
    character count; well-covered languages sit near 1). Computation in
    the tokenizer-agnostic :func:`fertility_by_lang` (shared with
    q_unigram_fertility)."""
    from incremental_dagster_delta_spark.tables import materialize_release

    docs = t(spark, sf_dir, "documents")
    _, vocab = learn_bpe(spark, docs)
    syms = F.filter(F.split(F.col("seq"), SEP), lambda x: x != F.lit(""))
    seg = vocab.select("word", F.size(syms).cast("long").alias("n_toks"))
    out = fertility_by_lang(docs, seg)
    return materialize_release(out, vocab)
