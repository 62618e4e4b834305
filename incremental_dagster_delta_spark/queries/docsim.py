"""All-pairs TF-IDF cosine document similarity with DIMSUM-style
sampling (SURVEY §7-M6d; Zadeh & Carlsson 2013, "Dimension Independent
Matrix Square using MapReduce").

The exact computation is the classic inverted-index shape: per-term
postings of L2-normalized TF-IDF weights, a term-keyed self-join, one
(doc_a, doc_b) aggregation of the partial products. Two scale guards:

- **df-cap** (same rationale as dedup.DF_CAP): a term with document
  frequency d contributes O(d²) join rows, so terms hotter than the cap
  are excluded from the index on BOTH engines — at 100 TB that removes
  the stopword blowup, and a pair similar ONLY through >cap-hot terms is
  exactly the pair a similarity pass should not fire on.
- **DIMSUM sampling** (``gamma`` set): each posting-pair contribution is
  kept with probability p = min(1, γ / (‖a‖·‖b‖)) (rounded to 6 dp so
  both engines agree at the boundary) and scaled by 1/p — an unbiased
  cosine estimator whose shuffle size is dimension-independent: heavy
  (high-norm) documents are sampled hardest, which is precisely where
  the quadratic cost lives. Sampling decisions use the deterministic
  ``md5_uniform(term, doc_a, doc_b)`` device (functions.md5_uniform)
  instead of a RNG, so runs are reproducible AND the DuckDB oracle
  replicates the sampled estimator exactly. (Estimator accuracy is
  pinned in tests/test_docsim.py against the exact path.)

``q_doc_similarity`` registers the EXACT path (gamma=None) so the DuckDB
oracle is a full hash check at the gate scale; the sampled path is the
documented 100 TB configuration.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from incremental_dagster_delta_spark.functions import md5_uniform
from incremental_dagster_delta_spark.queries.registry import query, t, TOKS_SQL

_TOKS_SQL = TOKS_SQL  # canonical tokenizer — registry.py

TERM_DF_CAP = 256
COSINE_THRESHOLD = 0.5

_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
idf AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term HAVING count(*) <= {TERM_DF_CAP}
),
n AS (SELECT count(*) AS n FROM documents),
w AS (
  SELECT tf.doc_id, tf.term, tf.tf * ln((1.0 * n.n) / idf.df) AS w
  FROM tf JOIN idf USING (term) CROSS JOIN n
),
nrm AS (SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM w GROUP BY doc_id),
u AS (
  SELECT w.doc_id, w.term, w.w / nrm.nrm AS u
  FROM w JOIN nrm USING (doc_id) WHERE nrm.nrm > 0
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, sum(a.u * b.u) AS cosine
  FROM u a JOIN u b ON a.term = b.term AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b, CAST(ROUND(cosine, 4) AS DOUBLE) AS cosine
FROM pairs WHERE ROUND(cosine, 6) >= {COSINE_THRESHOLD}
"""


def tfidf_cosine_pairs(
    spark,
    docs,
    threshold: float = COSINE_THRESHOLD,
    df_cap: int = TERM_DF_CAP,
    gamma: float | None = None,
):
    """(doc_a, doc_b, cosine) pairs over any (doc_id, text) DataFrame.

    ``gamma=None`` → exact; otherwise the DIMSUM estimator described in
    the module docstring."""
    from incremental_dagster_delta_spark.tables import SHINGLE_TASK_BYTES, fan_out, materialize_release, sized_shuffle

    with sized_shuffle(docs):
        return _tfidf_cosine_pairs_impl(
            spark, docs, threshold, df_cap, gamma, fan_out, materialize_release
        )


def _tfidf_cosine_pairs_impl(spark, docs, threshold, df_cap, gamma, fan_out, materialize_release):
    from incremental_dagster_delta_spark.tables import SHINGLE_TASK_BYTES

    toks = F.filter(F.split(F.lower(F.col("text")), " "), lambda x: x != F.lit(""))
    tok = fan_out(docs, spark, per_task_bytes=SHINGLE_TASK_BYTES).select("doc_id", F.explode(toks).alias("term"))
    # tf persisted: it feeds idf, w (twice — via nrm and via u), and the
    # differing pushed filters under each consumer defeat exchange reuse,
    # so unpersisted the corpus tokenize+count pass ran 4× per execution
    # (r15 profile: 26.5 of 28.5 s executor time in the duplicated map
    # stages; the pair join itself cost 0.5 s). At 100 TB this is the
    # inverted-index build — one corpus pass, cached postings.
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf")).persist()
    idf = (
        tf.groupBy("term")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") <= df_cap)
    )
    n = docs.agg(F.count("*").alias("n"))
    w = (
        tf.join(idf, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            (F.col("tf") * F.log((1.0 * F.col("n")) / F.col("df"))).alias("w"),
        )
    )
    nrm = w.groupBy("doc_id").agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm"))
    u = (
        w.join(nrm.where(F.col("nrm") > 0), "doc_id")
        .select("doc_id", "term", (F.col("w") / F.col("nrm")).alias("u"), "nrm")
        .persist()
    )
    a, b = u.alias("a"), u.alias("b")
    joined = a.join(
        b, (F.col("a.term") == F.col("b.term")) & (F.col("a.doc_id") < F.col("b.doc_id"))
    )
    contrib = F.col("a.u") * F.col("b.u")
    if gamma is not None:
        # Keep-probability rounded to 6 dp so both engines agree on the
        # exact threshold (norms are float aggregates whose last-ulp can
        # differ across engines); the uniform draw is the md5-hex device
        # shared with the DuckDB oracle (see curation.py's _DRAW_SQL).
        p = F.round(
            F.least(F.lit(1.0), F.lit(gamma) / (F.col("a.nrm") * F.col("b.nrm"))), 6
        )
        unif = md5_uniform(F.col("a.term"), F.col("a.doc_id"), F.col("b.doc_id"))
        joined = joined.where(unif < p)
        contrib = contrib / p
    pairs = joined.groupBy(
        F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
    ).agg(F.sum(contrib).alias("cosine"))
    out = pairs.where(F.round("cosine", 6) >= threshold).select(
        "doc_a", "doc_b", F.round("cosine", 4).cast("double").alias("cosine")
    )
    return materialize_release(out, u, tf)


@query("q_doc_similarity", tags=("dedup", "similarity", "llm"), bench=True, oracle=_ORACLE)
def q_doc_similarity(spark, sf_dir):
    """Exact df-capped TF-IDF cosine all-pairs over the documents table —
    see the module docstring; the DIMSUM-sampled configuration is the
    same plan with ``gamma`` set (q_doc_similarity_gamma)."""
    return tfidf_cosine_pairs(spark, t(spark, sf_dir, "documents"))


DIMSUM_GAMMA = 8.0

# Full DuckDB replica of the SAMPLED path: identical CTEs up to `u`,
# then the same md5-uniform keep/scale rule. The keep-probability is
# rounded to 6 dp on both engines before the compare, so last-ulp norm
# differences cannot flip a sampling decision.
_GAMMA_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
idf AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term HAVING count(*) <= {TERM_DF_CAP}
),
n AS (SELECT count(*) AS n FROM documents),
w AS (
  SELECT tf.doc_id, tf.term, tf.tf * ln((1.0 * n.n) / idf.df) AS w
  FROM tf JOIN idf USING (term) CROSS JOIN n
),
nrm AS (SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM w GROUP BY doc_id),
u AS (
  SELECT w.doc_id, w.term, w.w / nrm.nrm AS u, nrm.nrm
  FROM w JOIN nrm USING (doc_id) WHERE nrm.nrm > 0
),
sampled AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.u * b.u AS contrib,
         ROUND(LEAST(1.0, {DIMSUM_GAMMA} / (a.nrm * b.nrm)), 6) AS pq,
         CAST(('0x' || substr(md5(a.term || ':' || CAST(a.doc_id AS VARCHAR)
                || ':' || CAST(b.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
           / 4294967296.0 AS unif
  FROM u a JOIN u b ON a.term = b.term AND a.doc_id < b.doc_id
),
pairs AS (
  SELECT doc_a, doc_b, sum(contrib / pq) AS cosine
  FROM sampled WHERE unif < pq
  GROUP BY doc_a, doc_b
)
SELECT doc_a, doc_b, CAST(ROUND(cosine, 4) AS DOUBLE) AS cosine
FROM pairs WHERE ROUND(cosine, 6) >= {COSINE_THRESHOLD}
"""


@query(
    "q_doc_similarity_gamma",
    tags=("dedup", "similarity", "llm"),
    bench=True,
    oracle=_GAMMA_ORACLE,
)
def q_doc_similarity_gamma(spark, sf_dir):
    """The DIMSUM-sampled all-pairs configuration — the documented
    100 TB shape, where each posting-pair contribution survives with
    probability p = min(1, γ/(‖a‖·‖b‖)) and is scaled by 1/p, making
    the pair-join shuffle dimension-independent. Hash-checked end to
    end: the sampling decisions are a deterministic md5 uniform both
    engines compute identically, so the oracle replicates the sampled
    estimator exactly, not just its expectation."""
    return tfidf_cosine_pairs(
        spark, t(spark, sf_dir, "documents"), gamma=DIMSUM_GAMMA
    )
