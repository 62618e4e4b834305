"""Corpus language-model scoring: bigram-LM perplexity and vocabulary
coverage — the CCNet-style quality filters an LLM-data pipeline runs
before mixing (Wenzek et al. 2020 filter CommonCrawl by LM perplexity;
OOV rate against a fixed vocabulary is the cheap screen that catches
encoding junk and non-target-language text).

Scale shapes:

- The bigram LM is two grouped counts over the token stream (bigram and
  unigram tables) — both shuffle on token keys with map-side partial
  aggregation. The unigram table is vocab-bounded, but the BIGRAM table
  grows with the corpus's observed bigram set (up to vocab² — for web
  text that is many billions of rows), so the scoring joins are NOT
  broadcast-safe in general: the plan shuffle-joins the token stream
  against both count tables on their token keys (sort-merge or shuffled
  hash, AQE's call), which is the correct 100 TB shape. Only the
  vocabulary-size scalar `v` broadcasts. Pinned by
  tests/test_plans.py::test_bigram_scoring_joins_shuffle.
- Vocabulary coverage broadcasts the top-V vocabulary (V is a constant)
  and computes per-doc OOV fractions map-side — one shuffle for the
  per-doc aggregation.

Both scores use add-one (Laplace) smoothing with EXACT integer counts.
The float surface is ln()/division: each per-bigram log-probability is
rounded to 8 dp on BOTH engines before the per-doc average (so the
averaged multiset is identical doubles on both sides and the partial-sum
order difference between Spark and DuckDB cannot move the mean across
the final 4-dp rounding boundary) — the established oracle-parity
device (see queries/retrieval.py).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from incremental_dagster_delta_spark.queries.registry import query, t, TOKS_SQL

_TOKS_SQL = TOKS_SQL  # canonical tokenizer — registry.py

VOCAB_TOP_V = 500

_PPL_ORACLE = f"""
WITH tok AS (
  SELECT doc_id,
         unnest({_TOKS_SQL}) AS term,
         generate_subscripts({_TOKS_SQL}, 1) AS pos
  FROM documents
),
big AS (
  SELECT a.doc_id, a.term AS w1, b.term AS w2
  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
),
c2 AS (SELECT w1, w2, count(*) AS c2 FROM big GROUP BY w1, w2),
c1 AS (SELECT w1, count(*) AS c1 FROM big GROUP BY w1),
v AS (SELECT count(DISTINCT term) AS v FROM tok),
scored AS (
  SELECT big.doc_id,
         ROUND(ln((1.0 * c2.c2 + 1) / (c1.c1 + v.v)), 8) AS lp
  FROM big JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(ROUND(-avg(lp), 4) AS DOUBLE) AS cross_entropy
FROM scored
GROUP BY doc_id
"""


# The persisted bigram stream keeps the partition count it was planned with.
@query("q_bigram_perplexity", tags=("text", "llm"), oracle=_PPL_ORACLE, size_from="documents")
def q_bigram_perplexity(spark, sf_dir):
    """Per-document cross-entropy under an add-one-smoothed bigram LM
    trained on the corpus itself — the perplexity-filtering signal
    (high cross-entropy = unnatural token sequences = boilerplate,
    encoding junk, or off-distribution text). Token stream → bigrams via
    a per-doc lead window (one hash shuffle on doc_id), count tables via
    map-side-combined grouped counts, then scoring joins (shuffle joins
    on the token keys — the bigram table is corpus-sized, not broadcast
    material; see the module docstring). Counts are exact integers;
    each per-bigram ln() rounds to 8 dp before the per-doc average
    (identical double multisets on both engines), final mean to 4 dp."""
    d = t(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower(F.col("text")), " "), lambda x: x != F.lit(""))
    tok = d.select("doc_id", F.posexplode(toks).alias("pos", "term"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    from incremental_dagster_delta_spark.tables import materialize_release

    big = (
        tok.withColumn("w2", F.lead("term", 1).over(w))
        .where(F.col("w2").isNotNull())
        .select("doc_id", F.col("term").alias("w1"), "w2")
        .persist()
    )
    # ^ persisted: big feeds scored + both count tables (and tok feeds
    # big + v) — unpersisted, the tokenize + lead-window shuffle ran
    # once per subtree (r15 review; see q_kn_perplexity's note)
    c2 = big.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    c1 = big.groupBy("w1").agg(F.count("*").alias("c1"))
    v = tok.agg(F.countDistinct("term").alias("v"))
    scored = (
        big.join(c2, ["w1", "w2"])
        .join(c1, "w1")
        .crossJoin(F.broadcast(v))
        .select(
            "doc_id",
            F.round(
                F.log((1.0 * F.col("c2") + 1) / (F.col("c1") + F.col("v"))), 8
            ).alias("lp"),
        )
    )
    out = scored.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_bigrams"),
        F.round(-F.avg("lp"), 4).cast("double").alias("cross_entropy"),
    )
    return materialize_release(out, big)


_VOCAB_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM documents
),
freq AS (SELECT term, count(*) AS n FROM tok GROUP BY term),
vocab AS (
  SELECT term FROM freq
  ORDER BY n DESC, term
  LIMIT {VOCAB_TOP_V}
)
SELECT tok.doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(count(*) FILTER (WHERE vocab.term IS NULL) AS BIGINT) AS n_oov,
       CAST(ROUND(1.0 * count(*) FILTER (WHERE vocab.term IS NULL) / count(*), 4)
         AS DOUBLE) AS oov_rate
FROM tok LEFT JOIN vocab ON tok.term = vocab.term
GROUP BY tok.doc_id
"""


@query("q_vocab_coverage", tags=("text", "llm"), oracle=_VOCAB_ORACLE)
def q_vocab_coverage(spark, sf_dir):
    """Per-document out-of-vocabulary rate against the corpus's top-V
    vocabulary (frequency-ranked, term-asc tiebreak so the cut is
    deterministic on both engines) — the cheap screen for encoding junk
    and off-language documents, and the coverage estimate a tokenizer
    build wants before fixing its vocab size. The vocabulary is a
    V-row broadcast; OOV flags compute map-side; one shuffle for the
    per-doc aggregation. All-integer counts; the rate division is the
    only float, rounded to 4 dp."""
    d = t(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower(F.col("text")), " "), lambda x: x != F.lit(""))
    tok = d.select("doc_id", F.explode(toks).alias("term"))
    vocab = (
        tok.groupBy("term")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("term"))
        .limit(VOCAB_TOP_V)
        .select("term", F.lit(True).alias("in_vocab"))
    )
    return (
        tok.join(F.broadcast(vocab), "term", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_oov"),
            F.round(
                F.sum(F.when(F.col("in_vocab").isNull(), 1.0).otherwise(0.0))
                / F.count("*"),
                4,
            )
            .cast("double")
            .alias("oov_rate"),
        )
    )


# --- interpolated Kneser-Ney ---------------------------------------------

KN_D = 0.75  # absolute discount (exact in binary: 3/4)

_KN_ORACLE = f"""
WITH tok AS (
  SELECT doc_id,
         unnest({_TOKS_SQL}) AS term,
         generate_subscripts({_TOKS_SQL}, 1) AS pos
  FROM documents
),
big AS (
  SELECT a.doc_id, a.term AS w1, b.term AS w2
  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
),
c2 AS (SELECT w1, w2, count(*) AS c2 FROM big GROUP BY w1, w2),
c1 AS (SELECT w1, count(*) AS c1 FROM big GROUP BY w1),
n1f AS (SELECT w1, count(DISTINCT w2) AS n1f FROM big GROUP BY w1),
n1p AS (SELECT w2, count(DISTINCT w1) AS n1p FROM big GROUP BY w2),
nbt AS (SELECT count(*) AS nbt FROM c2),
scored AS (
  SELECT big.doc_id,
         ROUND(ln((c2.c2 - {KN_D}) / c1.c1
                  + ({KN_D} * n1f.n1f / c1.c1) * (1.0 * n1p.n1p / nbt.nbt)), 8) AS lp
  FROM big
  JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
  JOIN n1f USING (w1) JOIN n1p USING (w2)
  CROSS JOIN nbt
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(ROUND(-avg(lp), 4) AS DOUBLE) AS cross_entropy
FROM scored
GROUP BY doc_id
"""


@query("q_kn_perplexity", tags=("text", "llm"), oracle=_KN_ORACLE, size_from="documents")
def q_kn_perplexity(spark, sf_dir):
    """Per-document cross-entropy under an interpolated Kneser-Ney
    bigram LM (Kneser & Ney 1995; the smoothing KenLM ships and CCNet's
    filter models actually use — add-one over-penalizes unseen mass,
    KN redistributes it by CONTINUATION diversity):

        P(w2|w1) = (c(w1,w2) − d)/c(w1·) + λ(w1)·P_cont(w2)
        λ(w1)    = d·N1+(w1·)/c(w1·)
        P_cont   = N1+(·w2)/N1+(··),     d = 0.75

    Every scored bigram is observed (the model scores its own training
    corpus), so the discounted term is strictly positive and no unseen-
    event branch is needed; the interpolation weight still shifts mass
    toward versatile continuations, which is what separates KN from
    the add-one twin q_bigram_perplexity.

    Scale shape — identical to the add-one LM and pinned by the same
    plan test: the bigram count, continuation-fan-out (N1+(w1·)) and
    continuation-history (N1+(·w2)) tables all grow with the corpus's
    observed bigram set, so every scoring join SHUFFLES on its token
    key (two-phase distinct counts are map-side combinable); only the
    1-row bigram-type total broadcasts. Counts are exact integers; the
    single ln() rounds to 8 dp before the per-doc average, final mean
    to 4 dp (the module's established parity device)."""
    d = t(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower(F.col("text")), " "), lambda x: x != F.lit(""))
    tok = d.select("doc_id", F.posexplode(toks).alias("pos", "term"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    from incremental_dagster_delta_spark.tables import materialize_release

    big = (
        tok.withColumn("w2", F.lead("term", 1).over(w))
        .where(F.col("w2").isNotNull())
        .select("doc_id", F.col("term").alias("w1"), "w2")
        .persist()
    )
    # ^ persisted: big feeds SIX subtrees (scored + the four model
    # tables + nbt via c2); unpersisted, the corpus tokenize + per-doc
    # lead-window shuffle ran six times (r15 review; the lines.py
    # pattern, measured ~3x there)
    c2 = big.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    c1 = big.groupBy("w1").agg(F.count("*").alias("c1"))
    n1f = big.groupBy("w1").agg(F.countDistinct("w2").alias("n1f"))
    n1p = big.groupBy("w2").agg(F.countDistinct("w1").alias("n1p"))
    nbt = c2.agg(F.count("*").alias("nbt"))
    scored = (
        big.join(c2, ["w1", "w2"])
        .join(c1, "w1")
        .join(n1f, "w1")
        .join(n1p, "w2")
        .crossJoin(F.broadcast(nbt))
        .select(
            "doc_id",
            F.round(
                F.log(
                    (F.col("c2") - KN_D) / F.col("c1")
                    + (KN_D * F.col("n1f") / F.col("c1"))
                    * (1.0 * F.col("n1p") / F.col("nbt"))
                ),
                8,
            ).alias("lp"),
        )
    )
    out = scored.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_bigrams"),
        F.round(-F.avg("lp"), 4).cast("double").alias("cross_entropy"),
    )
    return materialize_release(out, big)


# --------------------------------------------------------------------------
# CCNet perplexity bucketing (r15). THE signature CCNet operation
# (Wenzek 2020): score every document under the corpus LM, cut the
# cross-entropy distribution into terciles, and label documents
# head / middle / tail — pretraining pipelines keep head+middle and
# mine tail for diversity. Rides q_kn_perplexity's per-doc
# cross-entropy (already hash-pinned) and the q_quantiles-proven
# continuous-interpolation parity for the tercile cuts.
#
# Determinism: bucket borders are percentile_cont over the SAME
# 4-dp-rounded doubles on both engines (identical interpolation
# arithmetic); per-bucket means convert the 4-dp scores to exact
# 1e-4-unit BIGINTs before summing (double sums of rounded values are
# accumulation-order dependent; integer sums are not) and emit the
# standard round-half-up 4-dp quotient.
#
# Scale shape: the LM scoring pass is q_kn_perplexity's (one corpus
# tokenize, shuffle joins on token keys); the tercile cut is a 1-row
# broadcast aggregate; the bucket label is a map-only comparison; the
# report is a |sources|×3 aggregation. At 100 TB swap the exact
# percentile for approx_percentile with a documented error bound — the
# plan shape is unchanged.

_CCNET_T1 = 1.0 / 3.0
_CCNET_T2 = 2.0 / 3.0


@query(
    "q_ccnet_buckets",
    tags=("curation", "llm", "trained"),
    size_from="documents",
    oracle=f"""
    WITH ce AS ({_KN_ORACLE}),
    terc AS (
      SELECT quantile_cont(cross_entropy, {_CCNET_T1!r}) AS t1,
             quantile_cont(cross_entropy, {_CCNET_T2!r}) AS t2
      FROM ce
    ),
    labeled AS (
      SELECT d.source,
             CASE WHEN c.cross_entropy < t.t1 THEN 'head'
                  WHEN c.cross_entropy < t.t2 THEN 'middle'
                  ELSE 'tail' END AS bucket,
             CAST(floor(c.cross_entropy * 10000 + 0.5) AS BIGINT) AS ce4
      FROM ce c JOIN documents d USING (doc_id) CROSS JOIN terc t
    )
    SELECT source, bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST((2 * SUM(ce4) + COUNT(*)) // (2 * COUNT(*)) AS DOUBLE) / 10000
             AS mean_ce
    FROM labeled
    GROUP BY source, bucket
    """,
)
def q_ccnet_buckets(spark, sf_dir):
    """CCNet head/middle/tail perplexity buckets per source — see the
    family note above. The tercile borders broadcast as a 1-row
    aggregate; everything downstream of the (pinned) LM scoring pass is
    map-only + a |sources|×3 aggregation."""
    ce = q_kn_perplexity(spark, sf_dir).select("doc_id", "cross_entropy")
    terc = ce.agg(
        F.percentile("cross_entropy", F.lit(_CCNET_T1)).alias("t1"),
        F.percentile("cross_entropy", F.lit(_CCNET_T2)).alias("t2"),
    )
    d = t(spark, sf_dir, "documents").select("doc_id", "source")
    labeled = (
        ce.join(d, "doc_id")
        .crossJoin(F.broadcast(terc))  # 1-row scalar — broadcast, not a real cross
        .select(
            "source",
            F.when(F.col("cross_entropy") < F.col("t1"), "head")
            .when(F.col("cross_entropy") < F.col("t2"), "middle")
            .otherwise("tail")
            .alias("bucket"),
            F.floor(F.col("cross_entropy") * 10000 + 0.5).cast("long").alias("ce4"),
        )
    )
    return labeled.groupBy("source", "bucket").agg(
        F.count("*").cast("long").alias("n_docs"),
        (
            F.expr("(2 * SUM(ce4) + COUNT(*)) DIV (2 * COUNT(*))").cast("double") / 10000
        ).alias("mean_ce"),
    )
