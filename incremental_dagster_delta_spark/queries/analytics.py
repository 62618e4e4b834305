"""Analytics workload shapes: cohort retention, histograms, TF-IDF.

These are the day-two queries of any event/corpus warehouse; each is a
two-level aggregation whose shuffles key on small-cardinality composites
(cohort × offset, bucket, token), so partial aggregation dominates and
the plans scale linearly with input.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from incremental_dagster_delta_spark.queries.registry import query, t


@query(
    "q_cohort_retention",
    tags=("events", "agg"),
    oracle="""
    WITH firsts AS (
      SELECT user_id, MIN(date_trunc('day', ts)) AS cohort_day FROM events GROUP BY user_id
    )
    SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort,
           CAST(date_diff('day', cohort_day, date_trunc('day', ts)) AS BIGINT) AS day_offset,
           COUNT(DISTINCT e.user_id) AS active_users
    FROM events e JOIN firsts f ON e.user_id = f.user_id
    GROUP BY cohort_day, day_offset
    """,
)
def q_cohort_retention(spark, sf_dir):
    """Cohort retention: users grouped by first-seen day, activity
    counted per (cohort, day offset). The firsts table is a per-user
    aggregate (small) joined back broadcast-style; the retention agg
    keys on a tiny composite."""
    e = t(spark, sf_dir, "events").select("user_id", F.date_trunc("day", "ts").alias("day"))
    firsts = e.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        e.join(F.broadcast(firsts), "user_id")
        .groupBy(
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort"),
            F.datediff("day", "cohort_day").cast("long").alias("day_offset"),
        )
        .agg(F.countDistinct("user_id").alias("active_users"))
    )


@query(
    "q_histogram",
    tags=("agg",),
    oracle="""
    -- width_bucket(value, 0, 500, 20) spelled as floor arithmetic
    -- (DuckDB 1.0 has no width_bucket): bucket i covers [25(i-1), 25i)
    SELECT CAST(least(greatest(floor(value / 25) + 1, 0), 21) AS BIGINT) AS bucket,
           COUNT(*) AS n,
           CAST(ROUND(MIN(value), 4) AS DOUBLE) AS lo,
           CAST(ROUND(MAX(value), 4) AS DOUBLE) AS hi
    FROM events
    GROUP BY 1
    """,
)
def q_histogram(spark, sf_dir):
    """Fixed-width histogram via width_bucket — one scan, one tiny-key
    aggregation; the building block for distribution profiling."""
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy(F.width_bucket("value", F.lit(0), F.lit(500), F.lit(20)).cast("long").alias("bucket"))
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("value"), 4).cast("double").alias("lo"),
            F.round(F.max("value"), 4).cast("double").alias("hi"),
        )
    )


@query(
    "q_pivot_api",
    tags=("agg",),
    oracle="""
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS event_date,
           COUNT(*) FILTER (event_type = 'click')    AS click,
           COUNT(*) FILTER (event_type = 'view')     AS view,
           COUNT(*) FILTER (event_type = 'purchase') AS purchase,
           COUNT(*) FILTER (event_type = 'signup')   AS signup,
           COUNT(*) FILTER (event_type = 'error')    AS error
    FROM events GROUP BY 1
    """,
)
def q_pivot_api(spark, sf_dir):
    """The real pivot operator (vs q_pivot_counts' conditional aggs):
    explicit pivot values keep the plan a single two-phase aggregation —
    never omit them at scale, or Spark runs an extra distinct pass to
    discover the columns."""
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy(F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("event_date"))
        .pivot("event_type", ["click", "view", "purchase", "signup", "error"])
        .count()
        .na.fill(0)
    )


def tfidf_scored(d):
    """Per-(doc_id, tok) smoothed TF-IDF rows — the single definition of
    the tf/df/score pipeline shared by q_tfidf (top-3 rank) and
    q_rp_embed (random projection). The df join is UNHINTED (Heaps-law
    sized at 100 TB; AQE decides) and the corpus size is a broadcast
    1-row aggregate (the q_unigram_surprisal device) — NOT an eager
    d.count(), which would run a full extra scan at plan-construction
    time and bake the size in as a literal."""
    toks = d.select(
        "doc_id",
        F.explode(F.filter(F.split(F.lower("text"), " "), lambda x: x != F.lit(""))).alias("tok"),
    )
    tf = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    df_t = tf.groupBy("tok").agg(F.countDistinct("doc_id").alias("df"))
    n = d.agg(F.count("*").cast("double").alias("n_docs"))
    return (
        tf.join(df_t, "tok")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "tok",
            (F.col("tf") * (F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0)).alias("tfidf"),
        )
    )


@query(
    "q_tfidf",
    tags=("text", "llm"),
    bench=True,
    oracle="""
    WITH tf AS (
      SELECT doc_id, tok, COUNT(*) AS tf
      FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents)
      WHERE tok <> ''
      GROUP BY doc_id, tok
    ), df AS (
      SELECT tok, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY tok
    ), n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.tok,
             tf.tf * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0) AS tfidf
      FROM tf JOIN df USING (tok) CROSS JOIN n
    )
    SELECT doc_id, tok,
           CAST(ROUND(tfidf, 4) AS DOUBLE) AS tfidf,
           CAST(rk AS BIGINT) AS rank
    FROM (
      SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, tok) AS rk
      FROM scored
    )
    WHERE rk <= 3
    """,
)
def q_tfidf(spark, sf_dir):
    """Smoothed TF-IDF with top-3 terms per document: term frequencies
    (explode + count), document frequencies (one row per distinct
    corpus token — Heaps' law says that grows into the 10^8-10^9 range
    at 100 TB, so the df join is UNHINTED and AQE broadcasts it only
    when runtime stats justify it), score, per-doc window rank with
    token tie-break. All aggregations partial-combine before their
    shuffles."""
    scored = tfidf_scored(t(spark, sf_dir, "documents"))
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("tok"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("doc_id", "tok", F.round("tfidf", 4).cast("double").alias("tfidf"), F.col("rank").cast("long"))
    )


@query(
    "q_winsorize",
    tags=("analytics", "curation"),
    oracle="""
    WITH b AS (
      SELECT event_type,
             quantile_cont(value, 0.01) AS p01,
             quantile_cont(value, 0.99) AS p99
      FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           CAST(ROUND(ANY_VALUE(b.p01), 4) AS DOUBLE) AS p01,
           CAST(ROUND(ANY_VALUE(b.p99), 4) AS DOUBLE) AS p99,
           CAST(COUNT(CASE WHEN e.value < b.p01 THEN 1 END) AS BIGINT) AS n_clipped_low,
           CAST(COUNT(CASE WHEN e.value > b.p99 THEN 1 END) AS BIGINT) AS n_clipped_high,
           CAST(ROUND(SUM(LEAST(GREATEST(e.value, b.p01), b.p99)), 2) AS DOUBLE) AS winsorized_sum
    FROM events e JOIN b USING (event_type)
    GROUP BY e.event_type
    """,
)
def q_winsorize(spark, sf_dir):
    """Outlier winsorization per group: clip ``value`` to its group's
    exact [p01, p99] band and report the clip counts + clipped sum — the
    feature-cleaning pass before any numeric column feeds a model. The
    percentile table is one row per event_type (broadcast); the clip
    itself is map-only, so the whole operator is two shuffles on the
    group key regardless of scale. Spark's exact ``percentile`` and
    DuckDB's ``quantile_cont`` share linear interpolation, so the oracle
    matches to 4 decimals (at 100 TB swap in approx_percentile and the
    sketch-backed q_approx_sketches pattern)."""
    e = t(spark, sf_dir, "events")
    bounds = e.groupBy("event_type").agg(
        F.expr("percentile(value, 0.01)").alias("p01"),
        F.expr("percentile(value, 0.99)").alias("p99"),
    )
    clipped = e.join(F.broadcast(bounds), "event_type").select(
        "event_type",
        "p01",
        "p99",
        "value",
        F.least(F.greatest(F.col("value"), F.col("p01")), F.col("p99")).alias("wv"),
    )
    return clipped.groupBy("event_type").agg(
        F.round(F.first("p01"), 4).cast("double").alias("p01"),
        F.round(F.first("p99"), 4).cast("double").alias("p99"),
        F.count(F.when(F.col("value") < F.col("p01"), 1)).cast("long").alias("n_clipped_low"),
        F.count(F.when(F.col("value") > F.col("p99"), 1)).cast("long").alias("n_clipped_high"),
        F.round(F.sum("wv"), 2).cast("double").alias("winsorized_sum"),
    )


@query(
    "q_regression_by_group",
    tags=("analytics",),
    oracle="""
    SELECT event_type,
           CAST(ROUND(regr_slope(value, hour(ts)), 4) AS DOUBLE) AS slope,
           CAST(ROUND(regr_intercept(value, hour(ts)), 4) AS DOUBLE) AS intercept,
           CAST(ROUND(corr(value, hour(ts)), 4) AS DOUBLE) AS correlation,
           CAST(ROUND(regr_r2(value, hour(ts)), 4) AS DOUBLE) AS r2,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events
    GROUP BY event_type
    """,
)
def q_regression_by_group(spark, sf_dir):
    """Per-group OLS diagnostics (value ~ hour-of-day): slope, intercept,
    Pearson correlation, R². All are single-pass algebraic aggregates
    (sums of x, y, xy, x², y²) that partial-combine map-side — the ideal
    100 TB aggregation shape, one narrow shuffle on the group key. Spark
    and DuckDB implement the same regr_* definitions, checked to 4
    decimals."""
    e = t(spark, sf_dir, "events")
    x = F.hour("ts")
    return e.groupBy("event_type").agg(
        F.round(F.regr_slope(F.col("value"), x), 4).cast("double").alias("slope"),
        F.round(F.regr_intercept(F.col("value"), x), 4).cast("double").alias("intercept"),
        F.round(F.corr(F.col("value"), x), 4).cast("double").alias("correlation"),
        F.round(F.regr_r2(F.col("value"), x), 4).cast("double").alias("r2"),
        F.count("*").cast("long").alias("n"),
    )


N_RESAMPLES = 50


@query(
    "q_bootstrap_ci",
    tags=("analytics", "sampling"),
    oracle=f"""
    WITH reps AS (
      SELECT event_type, b, avg(value) AS m
      FROM events, unnest(range(0, {N_RESAMPLES})) AS r(b)
      WHERE substring(md5(CAST(event_id AS VARCHAR) || ':' || CAST(b AS VARCHAR)), 1, 1) < '8'
      GROUP BY event_type, b
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_resamples,
           CAST(ROUND(avg(m), 4) AS DOUBLE) AS mean_of_means,
           CAST(ROUND(quantile_cont(m, 0.025), 4) AS DOUBLE) AS ci_lo,
           CAST(ROUND(quantile_cont(m, 0.975), 4) AS DOUBLE) AS ci_hi
    FROM reps GROUP BY event_type
    """,
)
def q_bootstrap_ci(spark, sf_dir):
    """Resampling confidence interval for the per-group mean — 50
    deterministic half-sample replicates (row joins replicate b iff the
    first md5 nibble of 'event_id:b' is below 0x8), percentile band over
    the replicate means. Deterministic hashing makes the stochastic
    method oracle-checkable; the plan is one generator explode + two
    keyed aggregations, all map-side combinable. At 100 TB use Poisson
    resampling with per-row replicate counts instead of the ×B explode
    (same two-agg shape, B× less explode traffic)."""
    e = t(spark, sf_dir, "events")
    nib = F.substring(
        F.md5(
            F.concat(F.col("event_id").cast("string"), F.lit(":"), F.col("b").cast("string")).cast(
                "binary"
            )
        ),
        1,
        1,
    )
    reps = (
        e.select("event_type", "event_id", "value", F.explode(F.sequence(F.lit(0), F.lit(N_RESAMPLES - 1))).alias("b"))
        .where(nib < "8")
        .groupBy("event_type", "b")
        .agg(F.avg("value").alias("m"))
    )
    return reps.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_resamples"),
        F.round(F.avg("m"), 4).cast("double").alias("mean_of_means"),
        F.round(F.expr("percentile(m, 0.025)"), 4).cast("double").alias("ci_lo"),
        F.round(F.expr("percentile(m, 0.975)"), 4).cast("double").alias("ci_hi"),
    )


# --- Johnson-Lindenstrauss random-projection document embeddings ------------

RP_DIM = 8
# md5 hex first-nibble parity -> Rademacher +-1 sign, identical on both
# engines (the q_hash_split determinism trick applied to a sign matrix).
_ODD_HEX = ("1", "3", "5", "7", "9", "b", "d", "f")


def _rp_oracle() -> str:
    odd = ", ".join(f"'{c}'" for c in _ODD_HEX)
    dims = ",\n           ".join(
        f"CAST(ROUND(SUM(tfidf * (CASE WHEN substring(md5(tok), {k + 1}, 1) IN ({odd})"
        f" THEN -1.0 ELSE 1.0 END)), 4) + 0.0 AS DOUBLE) AS e{k}"
        for k in range(RP_DIM)
    )
    return f"""
    WITH tf AS (
      SELECT doc_id, tok, COUNT(*) AS tf
      FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents)
      WHERE tok <> ''
      GROUP BY doc_id, tok
    ), df AS (
      SELECT tok, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY tok
    ), n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.tok,
             tf.tf * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0) AS tfidf
      FROM tf JOIN df USING (tok) CROSS JOIN n
    )
    SELECT doc_id,
           {dims}
    FROM scored
    GROUP BY doc_id
    """


@query("q_rp_embed", tags=("text", "llm", "similarity"), bench=True, oracle=_rp_oracle())
def q_rp_embed(spark, sf_dir):
    """Model-free document embeddings by sparse random projection
    (Johnson-Lindenstrauss / Achlioptas 2003): project each document's
    TF-IDF vector onto RP_DIM Rademacher directions, where direction k's
    sign for a token is the parity of ``md5(tok + '#k')``'s first hex
    nibble — a deterministic sign MATRIX that is never materialized,
    broadcast, or shuffled; each row computes its own signs inline. JL
    guarantees pairwise distances survive within 1+eps, so the output
    column feeds every embedding-keyed operator in the registry (SemDeDup
    cells, LSH bucketing, cosine top-k) on corpora that have no model
    embeddings. Plan shape: tokenize/explode -> per-(doc,tok) count ->
    UNHINTED df join (the df table has one row per distinct corpus
    token — Heaps-law-sized at 100 TB, so AQE decides the strategy) ->
    ONE shuffle on doc_id with 8 parallel conditional sums — identical
    cost to the TF-IDF query it extends."""
    scored = tfidf_scored(t(spark, sf_dir, "documents"))
    # ONE md5 per (doc, tok) row; dimension k's Rademacher sign is the
    # parity of the digest's k-th hex nibble (distinct independent-ish
    # bits of the same hash) — 8x fewer string hashes than hashing
    # tok||'#k' per dimension, measured ~1.4x faster end-to-end.
    signed = scored.withColumn("_h", F.md5(F.col("tok")))

    def _t(k: int):
        sign = F.when(
            F.substring(F.col("_h"), k + 1, 1).isin(*_ODD_HEX), F.lit(-1.0)
        ).otherwise(F.lit(1.0))
        return F.col("tfidf") * sign

    # one select, not a withColumn chain: each withColumn re-analyzes a
    # fresh plan, so building k dims chained costs O(k²) driver-side
    # analysis per construction (r15; expressions unchanged)
    # `+ 0.0` (also in the oracle) normalizes the sign of zero: for a
    # sum in (-0.00005, 0) DuckDB's ROUND returns -0.0 and Spark's 0.0,
    # and -0.0 + 0.0 = 0.0 under IEEE 754.
    return signed.select(
        "doc_id", *[_t(k).alias(f"_t{k}") for k in range(RP_DIM)]
    ).groupBy("doc_id").agg(
        *[
            (F.round(F.sum(f"_t{k}"), 4) + F.lit(0.0)).cast("double").alias(f"e{k}")
            for k in range(RP_DIM)
        ]
    )


# --- robust (median/MAD) per-group outlier detection -------------------------

_MAD_ORACLE = """
    WITH c AS (
      SELECT l_returnflag AS grp,
             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents
      FROM lineitem
    ), med AS (
      SELECT grp, CAST(ROUND(2 * quantile_cont(cents, 0.5)) AS BIGINT) AS med_x2
      FROM c GROUP BY grp
    ), dev AS (
      SELECT c.grp, ABS(2 * c.cents - m.med_x2) AS dev_x2, m.med_x2
      FROM c JOIN med m ON c.grp = m.grp
    ), mad AS (
      SELECT grp, CAST(ROUND(2 * quantile_cont(dev_x2, 0.5)) AS BIGINT) AS mad_x4
      FROM dev GROUP BY grp
    )
    SELECT d.grp,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(ROUND(ANY_VALUE(d.med_x2) / 200.0, 4) AS DOUBLE) AS median_price,
           CAST(ROUND(ANY_VALUE(m.mad_x4) / 400.0, 4) AS DOUBLE) AS mad,
           CAST(COUNT(CASE WHEN 2 * d.dev_x2 > 3 * m.mad_x4 THEN 1 END) AS BIGINT) AS n_outliers
    FROM dev d JOIN mad m ON d.grp = m.grp
    GROUP BY d.grp
"""


@query("q_mad_outliers", tags=("analytics", "curation"), oracle=_MAD_ORACLE)
def q_mad_outliers(spark, sf_dir):
    """Robust per-group outlier detection: flag rows whose price deviates
    from the group MEDIAN by more than 3× the median absolute deviation —
    the robust alternative to z-scores (one wild value shifts a mean/std
    but not a median/MAD), the standard gate before numeric features feed
    a model.

    Determinism: prices are exact cents, so everything runs in INTEGER
    space — median-of-integers doubles to an exact integer (``med_x2``),
    per-row deviations are integers, the MAD doubles again (``mad_x4``),
    and the 3×-MAD comparison is pure integer arithmetic. Zero float
    boundary risk between Spark and DuckDB; only the two display columns
    round.

    Scale shape: two grouped exact percentiles + two broadcast joins of a
    per-group stats table (|groups| rows) back onto the fact — the same
    two-pass plan as q_winsorize. Exact percentile holds per-group values
    in memory at the agg; at 100 TB swap approx_percentile (sketch,
    map-side combined) with the identical surrounding plan."""
    c = t(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("grp"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    med = c.groupBy("grp").agg(
        F.round(2 * F.expr("percentile(cents, 0.5)")).cast("long").alias("med_x2")
    )
    dev = c.join(F.broadcast(med), "grp").select(
        "grp", "med_x2", F.abs(2 * F.col("cents") - F.col("med_x2")).alias("dev_x2")
    )
    mad = dev.groupBy("grp").agg(
        F.round(2 * F.expr("percentile(dev_x2, 0.5)")).cast("long").alias("mad_x4")
    )
    return (
        dev.join(F.broadcast(mad), "grp")
        .groupBy("grp")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.round(F.first("med_x2") / 200.0, 4).cast("double").alias("median_price"),
            F.round(F.first("mad_x4") / 400.0, 4).cast("double").alias("mad"),
            F.count(F.when(2 * F.col("dev_x2") > 3 * F.col("mad_x4"), 1))
            .cast("long")
            .alias("n_outliers"),
        )
    )


# --- A/B experiment readout (Welch's t-test per variant vs control) ----------

_AB_ORACLE = """
    WITH g AS (
      SELECT event_type,
             COUNT(*) AS n,
             AVG(value) AS m,
             var_samp(value) AS v
      FROM events GROUP BY event_type
    ), ctl AS (
      SELECT n AS n0, m AS m0, v AS v0 FROM g WHERE event_type = 'view'
    )
    SELECT g.event_type AS variant,
           CAST(g.n AS BIGINT) AS n,
           CAST(ROUND(g.m, 4) AS DOUBLE) AS mean_value,
           CAST(ROUND(g.m - ctl.m0, 4) AS DOUBLE) AS lift,
           CAST(ROUND((g.m - ctl.m0) / sqrt(g.v / g.n + ctl.v0 / ctl.n0), 4) AS DOUBLE) AS t_stat,
           CAST(ROUND(
             POW(g.v / g.n + ctl.v0 / ctl.n0, 2)
             / (POW(g.v / g.n, 2) / (g.n - 1) + POW(ctl.v0 / ctl.n0, 2) / (ctl.n0 - 1)),
             2) AS DOUBLE) AS welch_df
    FROM g, ctl
    WHERE g.event_type <> 'view'
"""


@query("q_ab_test", tags=("analytics", "stats"), oracle=_AB_ORACLE)
def q_ab_test(spark, sf_dir):
    """Experiment readout: Welch's unequal-variance t-test of every
    variant's ``value`` against the 'view' control group — lift, t
    statistic, and Welch–Satterthwaite degrees of freedom. Everything
    derives from per-group (n, mean, var_samp), which are single-pass
    algebraic aggregates that partial-combine map-side; the control row
    is a 1-row broadcast (the scalar-subquery crossJoin pattern). At
    100 TB this is one narrow shuffle on the variant key — the readout
    cost is independent of row count beyond the first scan."""
    e = t(spark, sf_dir, "events")
    g = e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.avg("value").alias("m"),
        F.var_samp("value").alias("v"),
    )
    ctl = g.filter(F.col("event_type") == "view").select(
        F.col("n").alias("n0"), F.col("m").alias("m0"), F.col("v").alias("v0")
    )
    se2 = F.col("v") / F.col("n") + F.col("v0") / F.col("n0")
    return (
        g.filter(F.col("event_type") != "view")
        .crossJoin(F.broadcast(ctl))
        .select(
            F.col("event_type").alias("variant"),
            F.col("n").cast("long").alias("n"),
            F.round(F.col("m"), 4).cast("double").alias("mean_value"),
            F.round(F.col("m") - F.col("m0"), 4).cast("double").alias("lift"),
            F.round((F.col("m") - F.col("m0")) / F.sqrt(se2), 4).cast("double").alias("t_stat"),
            F.round(
                F.pow(se2, 2)
                / (
                    F.pow(F.col("v") / F.col("n"), 2) / (F.col("n") - 1)
                    + F.pow(F.col("v0") / F.col("n0"), 2) / (F.col("n0") - 1)
                ),
                2,
            )
            .cast("double")
            .alias("welch_df"),
        )
    )


# --- equal-frequency binning (feature discretization) ------------------------

N_BINS = 10


@query(
    "q_quantile_bins",
    tags=("analytics", "curation"),
    oracle=f"""
    WITH ranked AS (
      SELECT l_returnflag AS grp,
             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents,
             ntile({N_BINS}) OVER (PARTITION BY l_returnflag
                                   ORDER BY CAST(ROUND(l_extendedprice * 100) AS BIGINT),
                                            l_orderkey, l_linenumber) AS bin
      FROM lineitem
    )
    SELECT grp, CAST(bin AS BIGINT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(ROUND(MIN(cents) / 100.0, 2) AS DOUBLE) AS lo,
           CAST(ROUND(MAX(cents) / 100.0, 2) AS DOUBLE) AS hi
    FROM ranked GROUP BY grp, bin
    """,
)
def q_quantile_bins(spark, sf_dir):
    """Equal-frequency discretization: ntile(10) per group over exact
    integer cents with a (orderkey, linenumber) tiebreak, reporting each
    bin's population and [lo, hi] value range — the feature-binning pass
    for monotone models and drift dashboards. The total order is unique,
    so bin assignment is deterministic on both engines (no float
    boundary, no tie ambiguity). One shuffle + one sort per group key;
    at 100 TB swap ntile for approx_percentile cut points computed once
    and applied map-side."""
    from pyspark.sql.window import Window

    li = t(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    ranked = li.select(
        F.col("l_returnflag").alias("grp"),
        cents.alias("cents"),
        F.ntile(N_BINS)
        .over(
            Window.partitionBy("l_returnflag").orderBy(
                cents, F.col("l_orderkey"), F.col("l_linenumber")
            )
        )
        .alias("bin"),
    )
    return ranked.groupBy("grp", F.col("bin").cast("long").alias("bin")).agg(
        F.count("*").alias("n"),
        F.round(F.min("cents") / 100.0, 2).cast("double").alias("lo"),
        F.round(F.max("cents") / 100.0, 2).cast("double").alias("hi"),
    )


# --- ranking-metric evaluation: exact AUC via rank-sum -----------------------

_AUC_ORACLE = """
    WITH scored AS (
      SELECT vec_id,
             CAST(label = 0 AS INT) AS pos,
             sqrt(list_aggregate(list_transform(embedding,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) AS score
      FROM embeddings
    ), ranked AS (
      SELECT pos, row_number() OVER (ORDER BY score, vec_id) AS rk FROM scored
    )
    SELECT CAST(SUM(pos) AS BIGINT) AS n_pos,
           CAST(COUNT(*) - SUM(pos) AS BIGINT) AS n_neg,
           CAST(ROUND(
             (SUM(CASE WHEN pos = 1 THEN rk ELSE 0 END)
              - SUM(pos) * (SUM(pos) + 1) / 2.0)
             / (SUM(pos) * (COUNT(*) - SUM(pos))), 6) AS DOUBLE) AS auc
    FROM ranked
"""


@query("q_auc_eval", tags=("analytics", "llm"), oracle=_AUC_ORACLE)
def q_auc_eval(spark, sf_dir):
    """Exact AUC (Mann–Whitney rank-sum) of a scoring function against a
    binary relevance flag — the classifier/reranker evaluation every
    model pipeline runs. Score here is the embedding L2 norm, positives
    are label 0; AUC = (Σ ranks of positives − n⁺(n⁺+1)/2) / (n⁺·n⁻).
    Ranking by (score, vec_id) makes the rank assignment deterministic
    on both engines (scores are the same sequential-double sums the
    cosine oracles pin).

    Scale shape: the global rank comes from :func:`_global_order`
    (range-repartition + per-partition rank + broadcast offsets), so the
    sort runs one disjoint range per task — a distributed sortBy, never
    a single-partition window — followed by a 1-row aggregate. The
    common approximation (bucketed / trapezoidal over quantized scores)
    keeps the same surrounding plan with a groupBy replacing the sort."""
    e = t(spark, sf_dir, "embeddings")
    score = F.sqrt(
        F.aggregate(
            F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda a, v: a + v,
        )
    )
    scored = e.select(
        "vec_id", (F.col("label") == 0).cast("int").alias("pos"), score.alias("score")
    )
    ranked = _global_order(scored, [F.col("score"), F.col("vec_id")]).select(
        "pos", (F.col("_i") + 1).alias("rk")
    )
    n_pos = F.sum("pos")
    n = F.count("*")
    return ranked.agg(
        n_pos.cast("long").alias("n_pos"),
        (n - n_pos).cast("long").alias("n_neg"),
        F.round(
            (F.sum(F.when(F.col("pos") == 1, F.col("rk")).otherwise(0)) - n_pos * (n_pos + 1) / 2.0)
            / (n_pos * (n - n_pos)),
            6,
        )
        .cast("double")
        .alias("auc"),
    )


# --- calibration audit (reliability diagram) ---------------------------------

_CALIB_ORACLE = """
    WITH scored AS (
      SELECT CAST(label = 0 AS INT) AS pos,
             sqrt(list_aggregate(list_transform(embedding,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) AS score
      FROM embeddings
    ), ext AS (
      SELECT MIN(score) AS lo, MAX(score) AS hi FROM scored
    ), binned AS (
      SELECT pos, score,
             LEAST(9, CAST(FLOOR((score - ext.lo) / ((ext.hi - ext.lo) / 10.0)) AS INT)) AS bin
      FROM scored, ext
    )
    SELECT CAST(bin AS BIGINT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(ROUND(AVG(score), 4) AS DOUBLE) AS mean_score,
           CAST(ROUND(AVG(pos), 4) AS DOUBLE) AS pos_rate
    FROM binned GROUP BY bin
"""


@query("q_calibration_bins", tags=("analytics", "llm"), oracle=_CALIB_ORACLE)
def q_calibration_bins(spark, sf_dir):
    """Reliability-diagram audit: scores bucketed into 10 equal-width
    bins over the observed [min, max], per-bin population, mean score,
    and empirical positive rate — the calibration check that pairs with
    q_auc_eval (AUC measures ranking, this measures probability
    fidelity). Bin edges derive from a 1-row broadcast of the global
    extent; binning is map-side integer math on the same bit-stable
    scores, so the histogram is one narrow shuffle at any scale."""
    e = t(spark, sf_dir, "embeddings")
    score = F.sqrt(
        F.aggregate(
            F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda a, v: a + v,
        )
    )
    scored = e.select((F.col("label") == 0).cast("int").alias("pos"), score.alias("score"))
    ext = scored.agg(F.min("score").alias("lo"), F.max("score").alias("hi"))
    binned = scored.crossJoin(F.broadcast(ext)).select(
        "pos",
        "score",
        F.least(
            F.lit(9),
            F.floor((F.col("score") - F.col("lo")) / ((F.col("hi") - F.col("lo")) / 10.0)).cast(
                "int"
            ),
        ).alias("bin"),
    )
    return binned.groupBy(F.col("bin").cast("long").alias("bin")).agg(
        F.count("*").alias("n"),
        F.round(F.avg("score"), 4).cast("double").alias("mean_score"),
        F.round(F.avg("pos"), 4).cast("double").alias("pos_rate"),
    )


# --- categorical mutual information (feature relevance) ----------------------

_MI_ORACLE = """
    WITH joint AS (
      SELECT lang, source, COUNT(*) AS nxy FROM documents GROUP BY 1, 2
    ), mx AS (
      SELECT lang, SUM(nxy) AS nx FROM joint GROUP BY lang
    ), my AS (
      SELECT source, SUM(nxy) AS ny FROM joint GROUP BY source
    ), n AS (SELECT SUM(nxy) AS n FROM joint)
    SELECT 'lang~source' AS feature_pair,
           CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST(ROUND(SUM((j.nxy / n.n) * ln((j.nxy * n.n) / (mx.nx * my.ny))), 6) AS DOUBLE)
             AS mutual_info,
           CAST(ROUND(-SUM((j.nxy / n.n) * ln(j.nxy / n.n)), 6) AS DOUBLE) AS joint_entropy
    FROM joint j JOIN mx USING (lang) JOIN my USING (source) CROSS JOIN n
"""


@query("q_mutual_info", tags=("analytics", "llm"), oracle=_MI_ORACLE)
def q_mutual_info(spark, sf_dir):
    """Categorical mutual information between two metadata columns
    (lang, source) plus their joint entropy — the feature-relevance /
    redundancy screen run before stratifying or balancing a corpus on
    correlated attributes (MI ≈ 0 → stratify independently; high MI →
    one column nearly determines the other and a joint stratification
    double-counts). The contingency table is |lang|×|source| cells —
    one grouped count of the corpus, marginals derived from the CELLS
    (never a second corpus scan), and a single-row reduction. Sums run
    over the tiny cell table, so the 6-decimal rounding is the only
    float surface."""
    d = t(spark, sf_dir, "documents")
    joint = d.groupBy("lang", "source").agg(F.count("*").alias("nxy"))
    mx = joint.groupBy("lang").agg(F.sum("nxy").alias("nx"))
    my = joint.groupBy("source").agg(F.sum("nxy").alias("ny"))
    n = joint.agg(F.sum("nxy").alias("n"))
    cells = (
        joint.join(F.broadcast(mx), "lang")
        .join(F.broadcast(my), "source")
        .crossJoin(F.broadcast(n))
    )
    p = F.col("nxy") / F.col("n")
    return cells.agg(
        F.lit("lang~source").alias("feature_pair"),
        F.count("*").cast("long").alias("n_cells"),
        F.round(F.sum(p * F.log((F.col("nxy") * F.col("n")) / (F.col("nx") * F.col("ny")))), 6)
        .cast("double")
        .alias("mutual_info"),
        F.round(-F.sum(p * F.log(p)), 6).cast("double").alias("joint_entropy"),
    )


# --- RFM feature assembly (per-user behavioral features) ----------------------

_RFM_ORACLE = """
    WITH mx AS (SELECT MAX(CAST(ts AS DATE)) AS maxd FROM events),
    base AS (
      SELECT user_id,
             date_diff('day', MAX(CAST(ts AS DATE)), mx.maxd) AS recency_days,
             COUNT(*) AS frequency,
             CAST(ROUND(SUM(value), 2) AS DOUBLE) AS monetary
      FROM events CROSS JOIN mx
      GROUP BY user_id, mx.maxd
    )
    SELECT user_id,
           CAST(recency_days AS BIGINT) AS recency_days,
           CAST(frequency AS BIGINT) AS frequency,
           monetary,
           CAST(ntile(4) OVER (ORDER BY recency_days, user_id) AS BIGINT) AS r_quartile,
           CAST(ntile(4) OVER (ORDER BY frequency DESC, user_id) AS BIGINT) AS f_quartile,
           CAST(ntile(4) OVER (ORDER BY CAST(ROUND(monetary * 100) AS BIGINT) DESC, user_id)
             AS BIGINT) AS m_quartile
    FROM base
"""


def _distributed_ntile(df, nt, order_cols, out_name):
    """Exact global ``ntile(nt) OVER (ORDER BY order_cols)`` without a
    single-partition sort.

    ``Window.orderBy`` with no partitionBy moves the WHOLE table through
    one task — fine at sf0.01, a scale-killer at 10⁹ rows. Instead:
    range-repartition on the sort key (disjoint, ordered ranges — one per
    task), rank WITHIN each partition, and add each partition's global
    offset. The per-partition sizes are numPartitions scalars, so the
    running-sum window over them is trivially small, and the offsets come
    back via a broadcast join. The input is localCheckpointed once so the
    sampled range boundaries cannot shift between the offsets subtree and
    the final plan.

    With n = total rows, q, r = divmod(n, nt), SQL ntile gives the first
    r buckets q+1 rows and the rest q, so the bucket of 0-based global
    position i is: i // (q+1) + 1 when i < r*(q+1), else
    r + 1 + (i - r*(q+1)) // q — identical output to the window ntile for
    any total order, bit-for-bit.
    """
    positioned = _global_order(df, order_cols)
    q = F.floor(F.col("_n") / nt)
    r = F.col("_n") % nt
    head = r * (q + F.lit(1))
    i = F.col("_i")
    bucket = F.when(i < head, F.floor(i / (q + F.lit(1))) + F.lit(1)).otherwise(
        r + F.lit(1) + F.floor((i - head) / F.greatest(q, F.lit(1)))
    )
    return positioned.withColumn(out_name, bucket.cast("long")).drop("_i", "_n")


def _global_order(df, order_cols):
    """df + (_i: exact 0-based global position under ORDER BY order_cols,
    _n: total row count) without a single-partition sort — the shared
    primitive behind :func:`_distributed_ntile` and exact global ranks
    (q_auc_eval). Range-repartition on the sort key (disjoint, ordered
    ranges — one per task), rank WITHIN each partition, add each
    partition's broadcast offset. The per-partition sizes are
    numPartitions scalars, so the running-sum window over them is
    trivially small. The input is localCheckpointed once so the sampled
    range boundaries cannot shift between the offsets subtree and the
    final plan."""
    spark = df.sparkSession
    npart = max(2, spark.sparkContext.defaultParallelism)
    ranged = (
        df.repartitionByRange(npart, *order_cols)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    sizes = ranged.groupBy("_pid").agg(F.count("*").alias("_cnt"))
    w_all = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    w_before = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = sizes.select(
        "_pid",
        F.coalesce(F.sum("_cnt").over(w_before), F.lit(0)).alias("_off"),
        F.sum("_cnt").over(w_all).alias("_n"),
    )
    w_local = Window.partitionBy("_pid").orderBy(*order_cols)
    return (
        ranged.join(F.broadcast(offsets), "_pid")
        .withColumn("_i", F.row_number().over(w_local) - F.lit(1) + F.col("_off"))
        .drop("_pid", "_off")
    )


@query("q_rfm_features", tags=("analytics", "events"), oracle=_RFM_ORACLE)
def q_rfm_features(spark, sf_dir):
    """RFM feature assembly — recency (days since last event, anchored
    to the corpus max date so the feature is reproducible), frequency,
    monetary — plus quartile ranks of each: the canonical behavioral
    feature block for churn/LTV models and the template for any per-user
    feature-store build. One grouped aggregation over the fact stream, a
    1-row anchor broadcast, and three quartile assignments over the
    |users| feature table (already ≪ the events) — each computed by
    :func:`_distributed_ntile` (range-repartition + per-partition rank +
    broadcast offsets), so no ordering ever funnels the table through a
    single task. Quartile ordering uses integer day/count/cent keys with
    a user_id tiebreak — deterministic on both engines."""
    e = t(spark, sf_dir, "events")
    mx = e.agg(F.max(F.col("ts").cast("date")).alias("maxd"))
    base = (
        e.crossJoin(F.broadcast(mx))
        .groupBy("user_id", "maxd")
        .agg(
            F.datediff(F.first("maxd"), F.max(F.col("ts").cast("date"))).alias("recency_days"),
            F.count("*").alias("frequency"),
            F.round(F.sum("value"), 2).cast("double").alias("monetary"),
        )
        .select(
            "user_id",
            F.col("recency_days").cast("long").alias("recency_days"),
            F.col("frequency").cast("long").alias("frequency"),
            "monetary",
        )
    )
    feats = _distributed_ntile(base, 4, [F.col("recency_days"), F.col("user_id")], "r_quartile")
    feats = _distributed_ntile(
        feats, 4, [F.col("frequency").desc(), F.col("user_id")], "f_quartile"
    )
    feats = _distributed_ntile(
        feats,
        4,
        [F.round(F.col("monetary") * 100).cast("long").desc(), F.col("user_id")],
        "m_quartile",
    )
    return feats.select(
        "user_id", "recency_days", "frequency", "monetary", "r_quartile", "f_quartile", "m_quartile"
    )


# --------------------------------------------------------------------------
# Exact order statistics by iterative bracket refinement (round 11)
# --------------------------------------------------------------------------

ORDSTAT_BINS = 1024  # histogram resolution per refinement pass
ORDSTAT_FINAL_LIMIT = 4096  # bracket size at which we collect and finish
ORDSTAT_QS = (0.5, 0.9)


def exact_order_statistic(df, col: str, rank: int) -> float:
    """The exact ``rank``-th smallest value (1-based) of ``df[col]``
    WITHOUT a global sort: iterative histogram refinement (the
    distributed selection algorithm — Blum et al.'s median-of-medians
    cousin for clusters). Each pass bins the current bracket into
    ORDSTAT_BINS equal widths with one map-side-combinable aggregation
    (≤ BINS rows to the driver), walks the cumulative counts to the
    containing bin, and narrows the bracket; when the bracket holds
    ≤ ORDSTAT_FINAL_LIMIT rows they are collected and indexed exactly.

    Scale shape: O(log_BINS(range/resolution)) full scans — 2-3 passes
    in practice — each a FILTERED scan (min/max pushed to parquet) plus
    a bounded aggregation; no shuffle wider than BINS rows, no
    corpus-sized collect ever. The global-sort alternative shuffles the
    whole column; approx_percentile bounds error but not rank. Every
    driver-side collect here is ≤ max(BINS, FINAL_LIMIT) rows by
    construction."""
    vals = F.col(col)
    row = df.agg(
        F.min(vals).alias("lo"), F.max(vals).alias("hi"), F.count(vals).alias("n")
    ).first()
    lo, hi, n = float(row["lo"]), float(row["hi"]), int(row["n"])
    if not 1 <= rank <= n:
        raise ValueError(f"rank {rank} outside [1, {n}]")
    # ONE binning expression shared by the histogram, the final collect,
    # and the bracket refinement. Mixing floor-division binning with
    # Python-float range predicates (v >= lo + b*width) lets a value
    # within 1 ulp of a bin edge be counted into bin b by one expression
    # and excluded by the other — an IndexError or an off-by-one rank
    # (r15 review). Clamped to [0, BINS-1] so a member that lands 1 ulp
    # outside the nominal bracket after refinement still bins at an edge.
    def _bin(lo: float, width: float):
        return F.greatest(
            F.least(
                F.floor((vals - F.lit(lo)) / F.lit(width)),
                F.lit(ORDSTAT_BINS - 1),
            ),
            F.lit(0),
        ).cast("int")

    r_rem = rank
    # df is maintained as EXACTLY the bracket's member set (first pass:
    # everything), so no separate range filter is needed or wanted.
    for _ in range(64):  # far above log_1024 of any double range
        width = (hi - lo) / ORDSTAT_BINS
        if width <= 0:  # bracket collapsed to one double value
            return lo
        bins = {
            r["b"]: r["cnt"]
            for r in df.select(_bin(lo, width).alias("b"))
            .groupBy("b")
            .agg(F.count("*").alias("cnt"))
            .collect()
        }
        cum = 0
        for b in range(ORDSTAT_BINS):
            cnt = bins.get(b, 0)
            if cum + cnt >= r_rem:
                r_rem -= cum
                # the bin expression itself can't reach parquet stats —
                # pair it with a redundant widened range that CAN push
                # down and provably contains every bin member: one bin
                # width plus a relative-magnitude term that dominates
                # ulp-scale drift even when |lo| >> (hi - lo)
                margin = width + (abs(lo) + abs(hi)) * 1e-12
                sel = (
                    (vals >= lo + b * width - margin)
                    & (vals <= lo + (b + 1) * width + margin)
                    & (_bin(lo, width) == b)
                )
                if cnt <= ORDSTAT_FINAL_LIMIT:
                    # final: collect the bin's values with the SAME
                    # expression that counted them (tie-safe — equal
                    # values are interchangeable at a given rank);
                    # len(got) == cnt by construction.
                    got = sorted(r[0] for r in df.where(sel).select(col).collect())
                    return float(got[r_rem - 1])
                # refine to the bin's members — same expression again —
                # keeping the single column so the repeated scans stay
                # column-pruned
                df = df.where(sel).select(col)
                lo, hi = lo + b * width, lo + (b + 1) * width
                break
            cum += cnt
        else:  # pragma: no cover - bins always cover the bracket
            raise RuntimeError("rank walked past the bracket")
    raise RuntimeError("bracket refinement did not converge")  # pragma: no cover


@query(
    "q_exact_median",
    tags=("analytics", "agg"),
    oracle="""
    WITH tot AS (SELECT count(*) AS n FROM events),
    ranked AS (SELECT value, row_number() OVER (ORDER BY value) AS rn FROM events),
    qs(q) AS (VALUES (CAST(0.5 AS DOUBLE)), (CAST(0.9 AS DOUBLE)))
    SELECT q,
           CAST(CEIL(q * n) AS BIGINT) AS rank,
           CAST(r.value AS DOUBLE) AS exact_value
    FROM qs CROSS JOIN tot
    JOIN ranked r ON r.rn = CAST(CEIL(q * n) AS BIGINT)
    """,
)
def q_exact_median(spark, sf_dir):
    """EXACT discrete median and p90 of events.value (the ceil(q·N)-th
    smallest element) via :func:`exact_order_statistic` — no global
    sort, no approximation: 2-3 filtered scans with bounded (≤ 1024-row)
    aggregations each. The oracle ranks the full column and picks the
    same positions, so the hash-match pins the selection algorithm
    end to end. Complements q_quantiles (single-pass interpolated,
    both-engines-builtin) and q_quantile_incremental (mergeable
    histogram estimate): this is the one that returns a provably exact
    data element at any scale. Rank arithmetic (ceil(q·N)) runs in IEEE
    double on both sides — identical bits, identical rank."""
    import math

    from incremental_dagster_delta_spark.tables import literal_df

    e = t(spark, sf_dir, "events").select("value")
    n = e.count()
    rows = []
    for q in ORDSTAT_QS:
        rank = int(math.ceil(q * n))
        v = exact_order_statistic(e, "value", rank)
        rows.append((float(q), rank, v))
    return literal_df(rows=rows, schema="q double, rank long, exact_value double", spark=spark)
