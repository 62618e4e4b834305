"""Sketch / pre-filter operators: the approximate-and-pruning patterns
used when exact full-shuffle answers stop being affordable at 100 TB.

- **HLL distinct counts** (`approx_count_distinct`): register merges are
  commutative, so results are deterministic for fixed data regardless of
  partitioning — but approximate, so the qid reports sketch and exact
  side by side and is checked rows-only (error bound asserted in tests).
- **Semi-join pre-filter**: reduce the probe side's shuffle volume by
  semi-joining it against the (small, broadcast) filtered build-key set
  before the wide join — the hand-rolled form of Spark's runtime filter
  injection (`spark.sql.optimizer.runtime.bloomFilter.enabled`; the
  bloom aggregate itself is not exposed as a public function in this
  build). The pre-filter only removes rows the join would drop anyway,
  so the result stays exact and oracle-checkable.
- **Count-min sketch** (`q_cms_heavy_hitters`): the bounded-memory
  heavy-hitter counter (Cormode & Muthukrishnan 2005). Hash functions
  are the repo's md5 device, so DuckDB replays the sketch cell-for-cell
  and the qid is hash-checked, estimates included — unlike HLL there is
  no engine-internal register layout to pin.
- **Bloom membership probe** (`q_bloom_membership`): hand-rolled k-hash
  Bloom filter as plain relational ops — the batch-vs-corpus dedup
  pre-filter that never re-shuffles the corpus (its whole footprint is a
  ≤ m-row broadcast bit table). Deterministic md5 bit positions → the
  false-positive set is data-determined and oracle-checked exactly.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from incremental_dagster_delta_spark.queries.registry import query, t


def approx_distinct_report(df, group_col: str, id_col: str):
    """Per-group HLL approximate distinct next to the exact count — the
    sketch-vs-truth report run before trusting approximate pipelines.
    HLL register merges are commutative, so the estimate is deterministic
    for a fixed value set regardless of partitioning."""
    return (
        df.groupBy(group_col)
        .agg(
            F.approx_count_distinct(id_col, rsd=0.02).alias("approx_users"),
            F.countDistinct(id_col).alias("exact_users"),
            F.count("*").alias("n_events"),
        )
        .orderBy(group_col)
    )


# Pinned HLL++ estimates for the literal scenario (the q_media_resize
# pattern): three groups of known cardinality (5000 / 1200 / 97 distinct
# ids from modular spark.range expressions) through the SAME
# approx_distinct_report kernel. The estimates are partitioning-invariant
# (verified by recomputing under a 64-way repartition), so the pin is a
# regression gate on Spark's HLL++ implementation, with the exact counts
# alongside showing the 2% rsd is honored (view: 4908 vs 5000 = 1.8% low).
# IMPLEMENTATION PIN — taken under Spark 4.1.2. The 4908/1184 estimates
# are properties of that build's approx_count_distinct internals, not of
# the data: a Spark version bump that changes HLL++ register hashing
# turns this red WITHOUT a behavioral bug. If it reds after an upgrade,
# re-pin from the new build (exact counts alongside verify the rsd).
_SKETCH_ORACLE = """
    SELECT * FROM (VALUES
      ('click', CAST(1184 AS BIGINT), CAST(1200 AS BIGINT), CAST(3600 AS BIGINT)),
      ('purchase', 97, 97, 500),
      ('view', 4908, 5000, 15000)
    ) AS t(event_type, approx_users, exact_users, n_events)
    """


@query("q_approx_sketches", oracle=_SKETCH_ORACLE, tags=("sketch", "agg"))
def q_approx_sketches(spark, sf_dir):
    """HLL approximate distinct vs exact per group, hash-checked via the
    literal-scenario pattern: a fixed three-group id set with known
    cardinalities runs through :func:`approx_distinct_report` and the
    estimates must equal the pinned table. Corpus-scale HLL over the
    events table is exercised by tests/test_sketches.py's error-bound
    assertion on the same helper."""

    def seg(name, rows, mod):
        return spark.range(rows).select(
            F.lit(name).alias("event_type"), (F.col("id") % mod).alias("user_id")
        )

    scenario = seg("view", 15000, 5000).unionAll(seg("click", 3600, 1200)).unionAll(
        seg("purchase", 500, 97)
    )
    return approx_distinct_report(scenario, "event_type", "user_id")


@query(
    "q_prefilter_semi_join",
    tags=("sketch", "join"),
    oracle="""
    SELECT o_orderkey,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderpriority = '1-URGENT'
    GROUP BY o_orderkey
    """,
)
def q_prefilter_semi_join(spark, sf_dir):
    """Probe-side pruning before the wide join: broadcast the filtered
    build keys, left-semi the fact table against them (map-side, no
    shuffle of dropped rows), then run the exact join + aggregation on
    the survivors. Removes ~80% of lineitem rows from the join shuffle
    here; the pattern generalizes to runtime bloom filters when the key
    set outgrows the broadcast threshold."""
    urgent = t(spark, sf_dir, "orders").where(F.col("o_orderpriority") == "1-URGENT")
    keys = F.broadcast(urgent.select("o_orderkey").distinct())
    pruned = t(spark, sf_dir, "lineitem").join(
        keys, F.col("l_orderkey") == F.col("o_orderkey"), "left_semi"
    )
    return (
        pruned.join(urgent, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("total_qty"))
    )


# --------------------------------------------------------------------------
# Count-min sketch heavy hitters
# --------------------------------------------------------------------------

CMS_DEPTH = 4  # hash rows (error probability ~ e^-depth)
CMS_WIDTH = 1024  # counters per row (overestimate ~ N_tokens / width)
CMS_TOP_N = 20  # heavy hitters reported

# One md5 draw per (row, key): first 8 hex digits of md5("i:key") mod the
# table size — the same engine-portable device as functions.md5_uniform
# (whose docstring's keep-in-lockstep warning applies here too), shared
# by BOTH sketches so a change to the hash lands in exactly one Spark
# expression and one SQL template.


def _md5_pos(i: int, key, modulus: int):
    return (
        F.conv(F.substring(F.md5(F.concat(F.lit(f"{i}:"), key)), 1, 8), 16, 10).cast("long")
        % modulus
    )


def _md5_pos_sql(i: str, key: str, modulus: int) -> str:
    return (
        f"CAST(('0x' || substr(md5(CAST({i} AS VARCHAR) || ':' || {key}), 1, 8)) AS BIGINT)"
        f" % {modulus}"
    )


def _cms_pos(row_i: int, tok):
    return _md5_pos(row_i, tok, CMS_WIDTH)


def cms_positions(tok):
    """The token's ``depth`` cell coordinates as an array for posexplode."""
    return F.array(*[_cms_pos(i, tok) for i in range(CMS_DEPTH)])


def cms_cells(tok, by=()):
    """Count-min partial cells for one token batch: (row_i, pos, counter).

    Bounded-key aggregation (≤ depth·width rows) whose map-side combine
    crushes each input partition before the shuffle. MERGEABLE: cells
    from disjoint batches sum cell-wise to the cells of the union corpus
    (counters are plain sums), which is what makes the sketch
    incrementally maintainable — append each micro-batch's partial cells
    and let :func:`cms_estimates` fold them (pinned with exactly-once
    replay in tests/test_sketches.py). ``by`` adds grouping columns —
    one independent ≤ depth·width sketch per group, making the cells
    WINDOW-MERGEABLE along that axis (q_rolling_cms sums day-cells
    per rolling window, the additive twin of q_rolling_distinct's
    max-fold)."""
    by = list(by)
    return (
        tok.select(*by, F.posexplode(cms_positions(F.col("tok"))).alias("row_i", "pos"))
        .groupBy(*by, "row_i", "pos")
        .agg(F.count("*").alias("counter"))
    )


def cms_estimates(cells, keys):
    """Point-query ``keys`` (a DataFrame with a ``tok`` column; other
    columns ride along) against a cell table that may hold per-batch
    PARTIALS: cell-wise sum, then the CMS min over each key's depth
    cells. The merged cell table is ≤ depth·width rows → broadcast
    probe join. LEFT join + coalesce(0): a never-inserted key's cells
    may be absent from the table, and an absent cell counts as 0 in the
    min — an inner join would either drop the key from the output or
    inflate its estimate to the min of only its collided cells,
    breaking the depth-wise error guarantee (unseen-key pin in
    tests/test_sketches.py)."""
    merged = cells.groupBy("row_i", "pos").agg(F.sum("counter").alias("counter"))
    probe = keys.select("*", F.posexplode(cms_positions(F.col("tok"))).alias("row_i", "pos"))
    return (
        probe.join(F.broadcast(merged), ["row_i", "pos"], "left")
        .groupBy(*keys.columns)
        .agg(F.min(F.coalesce(F.col("counter"), F.lit(0))).alias("cms_estimate"))
    )


_CMS_ORACLE = f"""
    WITH tok AS (
      SELECT unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS tok
      FROM documents
    ),
    cnt AS (SELECT tok, count(*) AS exact_cnt FROM tok GROUP BY tok),
    top AS (
      SELECT tok, exact_cnt FROM (
        SELECT *, row_number() OVER (ORDER BY exact_cnt DESC, tok) AS rk FROM cnt
      ) WHERE rk <= {CMS_TOP_N}
    ),
    cells AS (
      SELECT i.i AS row_i, {_md5_pos_sql("i.i", "tok", CMS_WIDTH)} AS pos,
             count(*) AS counter
      FROM tok CROSS JOIN range({CMS_DEPTH}) i(i)
      GROUP BY 1, 2
    ),
    probe AS (
      SELECT t.tok, t.exact_cnt, i.i AS row_i,
             {_md5_pos_sql("i.i", "t.tok", CMS_WIDTH)} AS pos
      FROM top t CROSS JOIN range({CMS_DEPTH}) i(i)
    )
    SELECT p.tok AS token,
           CAST(p.exact_cnt AS BIGINT) AS exact_cnt,
           CAST(MIN(c.counter) AS BIGINT) AS cms_estimate,
           CAST(MIN(c.counter) - p.exact_cnt AS BIGINT) AS overestimate
    FROM probe p
    JOIN cells c ON c.row_i = p.row_i AND c.pos = p.pos
    GROUP BY p.tok, p.exact_cnt
    """


@query(
    "q_cms_heavy_hitters",
    tags=("sketch", "llm"),
    bench=True,
    oracle=_CMS_ORACLE,
    size_from="documents",
)
def q_cms_heavy_hitters(spark, sf_dir):
    """Count-min sketch (Cormode & Muthukrishnan 2005) over document
    tokens, reported next to exact counts for the top-N heavy hitters.

    Scale shape: the sketch update is the whole point — every exploded
    token occurrence maps to ``depth`` (row, md5-position) cells, and the
    groupBy's map-side partial aggregation crushes each input partition
    to at most depth×width (4096) rows before the shuffle, so sketch
    shuffle volume is O(partitions · depth · width) NO MATTER how many
    tokens the corpus has — the property that makes CMS the standard
    heavy-hitter structure when the vocabulary itself stops fitting
    anywhere. The exact-count side (needed here only for the report and
    the overestimate audit) is the thing that does NOT scale — at 100 TB
    you run the sketch alone and probe it with candidate keys. The probe
    is depth rows per queried token against the 4096-cell table: a
    broadcast join. The qid tokenizes the corpus twice (cells + exact
    sides shuffle on different keys, so no exchange reuse); a
    persist-the-explode cure was A/B'd at sf0.1 (REPS=5 ×2 interleaved:
    plain 1.17/1.24 vs persist 1.23/1.16) and REJECTED — the cache
    write cancels the saved re-scan at gate scale, and at corpus scale
    the exact side is dropped entirely.

    Estimates are deterministic and engine-portable: cell positions come
    from the md5 device (functions.md5_uniform's trick), counters are
    exact sums, and min() over depth cells has no float surface — so the
    oracle replays the sketch and the qid is hash-checked end to end,
    overestimates included (CMS never underestimates; the driver row
    proves that property on real data)."""
    from incremental_dagster_delta_spark.tables import SHINGLE_TASK_BYTES, fan_out

    d = fan_out(t(spark, sf_dir, "documents"), spark, per_task_bytes=SHINGLE_TASK_BYTES)
    toks = F.filter(F.split(F.lower(F.col("text")), " "), lambda x: x != F.lit(""))
    tok = d.select(F.explode(toks).alias("tok"))

    # Sketch build: bounded-key aggregation (≤ depth·width cells).
    cells = cms_cells(tok)

    # Exact counts + top-N selection (report/audit side; vocabulary-sized).
    # orderBy().limit() compiles to TakeOrderedAndProject — per-partition
    # partial top-N merged on the driver, never a single-partition sort
    # of the vocabulary (the un-partitioned-window anti-pattern).
    cnt = tok.groupBy("tok").agg(F.count("*").alias("exact_cnt"))
    top = cnt.orderBy(F.col("exact_cnt").desc(), F.col("tok")).limit(CMS_TOP_N)

    # Point queries: estimate = min over the token's depth cells.
    out = cms_estimates(cells, top).select(
        F.col("tok").alias("token"),
        F.col("exact_cnt").cast("long"),
        F.col("cms_estimate").cast("long"),
        (F.col("cms_estimate") - F.col("exact_cnt")).cast("long").alias("overestimate"),
    )
    # Materialize inside the call so the size_from="documents" scope
    # applies to the token-explode shuffles (A/B at sf0.1: 2.23 → 1.07 s
    # median-of-5 — the exploded-documents family's usual win).
    from incremental_dagster_delta_spark.tables import materialize_release

    return materialize_release(out)


# --------------------------------------------------------------------------
# Bloom-filter membership probe
# --------------------------------------------------------------------------

BLOOM_BITS = 4096  # m
BLOOM_HASHES = 3  # k

def bloom_bits(keys, m: int = BLOOM_BITS, k: int = BLOOM_HASHES):
    """Bloom bit-position table for a key batch: DISTINCT md5 positions,
    ≤ m rows. MERGEABLE: bit sets from disjoint batches union (distinct
    of the concatenation) to the union corpus's filter — like
    :func:`cms_cells` this makes the sketch incrementally maintainable
    by appending per-batch partials with exactly-once ``append_batch``
    (pinned in tests/test_sketches.py). Size ``m`` to the expected
    corpus key count (m ≈ 10·n gives ~1.7% FP at optimal k)."""
    pos = F.array(*[_md5_pos(j, F.col("key"), m) for j in range(k)])
    return keys.select(F.explode(pos).alias("pos")).distinct()


def bloom_possibly(bits, batch, m: int = BLOOM_BITS, k: int = BLOOM_HASHES):
    """Probe ``batch`` (a DataFrame with a ``key`` column; other columns
    ride along) against a bit table that may hold per-batch PARTIALS
    (duplicates across appends are fine — the probe distincts). Adds a
    ``possibly_present`` boolean; the ≤ m-row bit set broadcasts, so the
    probe never shuffles the corpus. ``m``/``k`` must match the values
    the bit table was built with."""
    pos = F.array(*[_md5_pos(j, F.col("key"), m) for j in range(k)])
    return (
        batch.select("*", F.explode(pos).alias("pos"))
        .join(F.broadcast(bits.distinct().withColumn("hit", F.lit(1))), "pos", "left")
        .groupBy(*batch.columns)
        .agg(
            (F.sum(F.coalesce(F.col("hit"), F.lit(0))) == k).alias(
                "possibly_present"
            )
        )
    )


_BLOOM_ORACLE = f"""
    WITH corpus AS (SELECT md5(text) AS key FROM documents WHERE doc_id % 10 <> 0),
    batch AS (SELECT doc_id, md5(text) AS key FROM documents WHERE doc_id % 10 = 0),
    bits AS (
      SELECT DISTINCT {_md5_pos_sql("j.j", "key", BLOOM_BITS)} AS pos
      FROM corpus CROSS JOIN range({BLOOM_HASHES}) j(j)
    ),
    probe AS (
      SELECT b.doc_id, b.key,
             SUM(CASE WHEN t.pos IS NOT NULL THEN 1 ELSE 0 END) AS hits
      FROM (
        SELECT doc_id, key, {_md5_pos_sql("j.j", "key", BLOOM_BITS)} AS pos
        FROM batch CROSS JOIN range({BLOOM_HASHES}) j(j)
      ) b
      LEFT JOIN bits t ON t.pos = b.pos
      GROUP BY b.doc_id, b.key
    ),
    exact AS (SELECT DISTINCT key FROM corpus)
    SELECT p.doc_id,
           p.hits = {BLOOM_HASHES} AS possibly_present,
           e.key IS NOT NULL AS actually_present,
           (p.hits = {BLOOM_HASHES} AND e.key IS NULL) AS false_positive
    FROM probe p
    LEFT JOIN exact e ON e.key = p.key
    """


@query("q_bloom_membership", tags=("sketch", "dedup", "llm"), oracle=_BLOOM_ORACLE)
def q_bloom_membership(spark, sf_dir):
    """Bloom-filter membership probe for incremental batch-vs-corpus
    dedup: is an arriving document's content digest possibly already in
    the corpus?

    The filter is hand-rolled as relational ops (k md5 bit positions per
    key; the bit array is the DISTINCT position table, ≤ m rows) because
    that makes it engine-portable: DuckDB sets the identical bits, so
    possibly/actually/false-positive are all hash-checked — a pinned
    Bloom aggregate would be a Spark-internal layout like HLL's.

    Scale shape: the corpus contributes a ≤ m-row broadcast table and is
    NEVER re-shuffled per arriving batch — the probe is a map-side
    broadcast join on the batch's k·|batch| position rows. Misses are
    guaranteed-new (Bloom has no false negatives — the driver row proves
    it: actually_present ⇒ possibly_present on real data), so only the
    possibly_present sliver pays the exact verification join; with
    m=4096, k=3 the expected false-positive rate at gate scale is ~2%.
    Production sizes m to the corpus key count (m ≈ 10·n gives ~1.7% FP
    at optimal k); the q_incremental_dedup MinHash band index is this
    pattern's near-dup sibling."""
    d = t(spark, sf_dir, "documents").select("doc_id", F.md5("text").alias("key"))
    corpus = d.where(F.col("doc_id") % 10 != 0)
    batch = d.where(F.col("doc_id") % 10 == 0)

    bits = bloom_bits(corpus.select("key"))
    probe = bloom_possibly(bits, batch.select("doc_id", "key"))
    # Exact verification: production runs this join ONLY for the
    # possibly_present sliver; no-false-negatives makes the shortcut
    # exact, so misses take actually_present = false without the join.
    exact = corpus.select("key").distinct().withColumn("in_corpus", F.lit(True))
    cand = (
        probe.where(F.col("possibly_present"))
        .join(exact, "key", "left")
        .withColumn("actually_present", F.coalesce(F.col("in_corpus"), F.lit(False)))
        .drop("in_corpus")
    )
    miss = probe.where(~F.col("possibly_present")).withColumn(
        "actually_present", F.lit(False)
    )
    return cand.unionByName(miss).select(
        "doc_id",
        "possibly_present",
        "actually_present",
        (F.col("possibly_present") & ~F.col("actually_present")).alias("false_positive"),
    )


# --------------------------------------------------------------------------
# HyperLogLog with incrementally-maintained registers
# --------------------------------------------------------------------------
# q_approx_sketches pins Spark's built-in HLL++ (whose register layout is
# engine-internal, so only the estimates can be checked). This family
# hand-rolls the registers on the repo's md5 device so BOTH engines
# replay them register-for-register — which unlocks the two things the
# built-in cannot give: a hash-checked oracle over the full sketch
# state, and INCREMENTAL maintenance. HLL registers merge by elementwise
# MAX (Flajolet et al. 2007), which is associative, commutative, and
# IDEMPOTENT — so unlike the additive CMS/Bloom/BM25 partials, a
# replayed ingest batch is algebraically harmless even WITHOUT the
# exactly-once marker: the incremental distinct count is at-least-once
# tolerant by construction (pinned in tests/test_sketches.py).
#
# Scale shape: per batch one map-side-combinable (reg → max rho)
# aggregation crushes every partition to ≤ HLL_M rows before the
# shuffle; the folded register table is ≤ HLL_M rows regardless of
# corpus size; the estimator is one pass over ≤ HLL_M rows. Distinct
# counting at 100 TB without ever shuffling the key set.

HLL_M = 512  # 2^9 registers; rsd ≈ 1.04/√512 ≈ 4.6%
_HLL_ALPHA = 0.7213 / (1 + 1.079 / HLL_M)  # bias constant, m ≥ 128
_HLL_ALPHA_MM = _HLL_ALPHA * HLL_M * HLL_M  # one float literal for both engines


def hll_registers(keys, by=()):
    """HLL register partial for one batch: (reg, rho) with reg the key's
    md5 register index and rho = 1 + leading zeros of a second 32-bit
    md5 word, max-reduced per register. ≤ HLL_M rows out regardless of
    batch size. All-integer/string ops (binary-string scan, no log2
    float surface), so DuckDB replays registers exactly.

    ``keys`` is a DataFrame with a ``tok`` column; duplicates are fine —
    HLL is a distinct counter, duplicate keys hit the same register with
    the same rho and max() absorbs them (that same idempotence is what
    makes batch replay harmless). ``by`` adds grouping columns — one
    independent ≤ HLL_M-row sketch per group (per-day, per-source…),
    which is what makes the sketches WINDOW-MERGEABLE: a rolling
    distinct over any day range is a max-fold of that range's
    day-sketches (q_rolling_distinct)."""
    k = F.col("tok")
    reg = _md5_pos("hr", k, HLL_M)
    w_bin = F.lpad(F.conv(F.substring(F.md5(F.concat(F.lit("hw:"), k)), 1, 8), 16, 2), 32, "0")
    first_one = F.instr(w_bin, "1")
    rho = F.when(first_one == 0, F.lit(33)).otherwise(first_one)
    by = list(by)
    return (
        keys.select(*by, reg.alias("reg"), rho.cast("int").alias("rho"))
        .groupBy(*by, "reg")
        .agg(F.max("rho").alias("rho"))
    )


def hll_estimate(registers, by=()):
    """Cardinality estimate from a register table that may hold
    per-batch PARTIALS: fold by max, then the Flajolet estimator with
    the linear-counting small-range correction. Float determinism: each
    2^-rho term is an exact power of two (integer shift then one exact
    division) and every partial sum is exactly representable (value
    spread 2^9..2^-33 < 53 bits), so the harmonic sum is bit-identical
    across engines and orderings; ln() enters only via the
    small-range branch, rounded to 4 decimals like every float surface
    in the repo. Returns one row per ``by`` group (one row total when
    ``by`` is empty): (*by, hll_estimate double)."""
    by = list(by)
    folded = registers.groupBy(*by, "reg").agg(F.max("rho").alias("rho"))
    agg = folded.groupBy(*by).agg(
        F.count("*").alias("n_present"),
        F.sum(F.lit(1.0) / F.expr("shiftleft(CAST(1 AS BIGINT), rho)")).alias("s_present"),
    )
    s = F.col("s_present") + (F.lit(HLL_M) - F.col("n_present"))  # absent reg ⇒ 2^0
    v = (F.lit(HLL_M) - F.col("n_present")).cast("double")  # zero registers
    raw = F.lit(_HLL_ALPHA_MM) / s  # the SAME literal the SQL oracles embed
    est = F.when((raw <= 2.5 * HLL_M) & (v > 0), F.lit(float(HLL_M)) * F.log(HLL_M / v)).otherwise(
        raw
    )
    return agg.select(*by, F.round(est, 4).alias("hll_estimate"))


_HLL_REG_SQL = f"""
      SELECT {_md5_pos_sql("'hr'", "tok", HLL_M)} AS reg,
             MAX(CASE WHEN w = 0 THEN 33
                      ELSE instr(lpad(bin(w), 32, '0'), '1') END) AS rho
      FROM (
        SELECT tok,
               CAST(('0x' || substr(md5('hw:' || tok), 1, 8)) AS BIGINT) AS w
        FROM tok
      )
      GROUP BY 1
"""

HLL_BATCHES = 3  # deterministic corpus split for the qid: doc_id % 3

_HLL_ORACLE = f"""
    WITH tok AS (
      SELECT DISTINCT doc_id,
             unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS tok
      FROM documents
    ),
    regs AS ({_HLL_REG_SQL}),
    folded AS (
      SELECT COUNT(*) AS n_present,
             SUM(CAST(1.0 AS DOUBLE) / (CAST(1 AS BIGINT) << rho)) AS s_present
      FROM regs
    ),
    est AS (
      SELECT CASE
               WHEN CAST({_HLL_ALPHA_MM!r} AS DOUBLE)
                      / (s_present + ({HLL_M} - n_present)) <= 2.5 * {HLL_M}
                    AND ({HLL_M} - n_present) > 0
               THEN {HLL_M} * LN({HLL_M} * CAST(1.0 AS DOUBLE) / ({HLL_M} - n_present))
               ELSE CAST({_HLL_ALPHA_MM!r} AS DOUBLE)
                      / (s_present + ({HLL_M} - n_present))
             END AS e
      FROM folded
    )
    SELECT CAST((SELECT COUNT(DISTINCT tok) FROM tok) AS BIGINT) AS n_exact,
           ROUND(e, 4) AS hll_estimate
    FROM est
    """


@query("q_hll_incremental", bench=True, tags=("sketch", "llm", "incremental"), oracle=_HLL_ORACLE)
def q_hll_incremental(spark, sf_dir):
    """Distinct-vocabulary count under incrementally-maintained HLL
    registers: the corpus arrives as HLL_BATCHES deterministic ingest
    batches (doc_id % B), each contributing a ≤ HLL_M-row register
    partial from its OWN documents only; the estimator folds the
    partials by elementwise max. The oracle computes the registers over
    the FULL corpus in one pass, so the driver hash-check pins
    merge-of-batch-registers ≡ sketch-on-full — the merge proof — plus
    the exact distinct count alongside auditing the ~4.6% rsd. The
    at-least-once tolerance (a replayed batch changes nothing, marker
    or not) is pinned in tests/test_sketches.py."""
    d = t(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower(F.col("text")), " "), lambda x: x != F.lit(""))
    tok = d.select("doc_id", F.explode(toks).alias("tok"))
    parts = None
    for b in range(HLL_BATCHES):
        p = hll_registers(tok.where(F.col("doc_id") % HLL_BATCHES == b))
        parts = p if parts is None else parts.unionByName(p)
    exact = tok.agg(F.count_distinct("tok").alias("n_exact"))
    return exact.crossJoin(F.broadcast(hll_estimate(parts)))


# --------------------------------------------------------------------------
# Incremental histogram quantiles (fixed-width mergeable histogram)
# --------------------------------------------------------------------------
# Exact percentiles need a global sort (or Spark's approx_percentile,
# whose GK-sketch internals — like HLL++'s registers — can't be replayed
# by another engine). The scale path a monitoring/curation pipeline
# actually runs is a FIXED-WIDTH histogram: bin = floor(value / W) needs
# no global range pass, per-batch (bin → count) partials are plain sums
# (the CMS additive seam), and the folded table is bounded by the VALUE
# SPREAD (range/W bins), not the corpus — so quantile estimates over
# 100 TB cost one map-side-combinable aggregation per batch plus an
# estimator pass over a few hundred rows. The estimator window below
# ranks BINS, never rows: its input is spread-bounded by construction
# (the |V|-bounded-window pattern, cf. unigram_lm's vocab rank).

HIST_BIN_W = 1.0  # fixed bin width; events.value spans ~[0, 500] → ≤ ~500 bins
QUANTILE_QS = (0.5, 0.9, 0.99)
HIST_BATCHES = 3  # deterministic corpus split for the qid: event_id % 3


def hist_cells(df, col: str = "value"):
    """Fixed-width histogram partial for one batch: (bin, cnt) with
    bin = floor(value / W). Additive — cells from disjoint batches sum
    cell-wise to the union histogram — and map-side combinable, so each
    input partition crushes to ≤ spread/W rows before the shuffle."""
    return (
        df.select(F.floor(F.col(col) / F.lit(HIST_BIN_W)).cast("long").alias("bin"))
        .groupBy("bin")
        .agg(F.count("*").alias("cnt"))
    )


def hist_quantiles(cells, qs=QUANTILE_QS):
    """Interpolated quantile estimates from a cell table that may hold
    per-batch PARTIALS: fold by sum, cumulate over sorted bins (a
    spread-bounded window — never corpus rows), locate each q's
    containing bin and interpolate uniformly within it. All arithmetic
    is IEEE double over exact integer counts, rounded to 4 decimals —
    engine-portable, so the estimates themselves are hash-checked."""
    from pyspark.sql.window import Window

    folded = cells.groupBy("bin").agg(F.sum("cnt").alias("cnt"))
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, -1)
    b = folded.select(
        "bin", "cnt", F.coalesce(F.sum("cnt").over(w), F.lit(0)).alias("cum_before")
    )
    tot = folded.agg(F.sum("cnt").alias("n_total"))
    from incremental_dagster_delta_spark.tables import literal_df

    spark = cells.sparkSession
    qdf = literal_df(spark, [(float(q),) for q in qs], "q double")
    target = F.col("q") * F.col("n_total")
    est = (
        F.col("bin") * HIST_BIN_W
        + F.lit(HIST_BIN_W) * (target - F.col("cum_before")) / F.col("cnt")
    )
    return (
        b.crossJoin(F.broadcast(tot))
        .join(
            F.broadcast(qdf),
            (F.col("cum_before") < target) & (target <= F.col("cum_before") + F.col("cnt")),
        )
        .select("q", F.round(est, 4).alias("hist_estimate"), F.col("n_total").cast("long"))
    )


_HIST_ORACLE = f"""
    WITH cells AS (
      SELECT CAST(floor(value / {HIST_BIN_W!r}) AS BIGINT) AS bin, count(*) AS cnt
      FROM events GROUP BY 1
    ),
    b AS (
      SELECT bin, cnt,
             COALESCE(SUM(cnt) OVER (ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
      FROM cells
    ),
    tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_total FROM cells),
    qs(q) AS (VALUES (CAST(0.5 AS DOUBLE)), (CAST(0.9 AS DOUBLE)), (CAST(0.99 AS DOUBLE)))
    SELECT q,
           ROUND(bin * {HIST_BIN_W!r}
                 + {HIST_BIN_W!r} * (q * n_total - cum_before) / cnt, 4) AS hist_estimate,
           n_total
    FROM b CROSS JOIN tot
    JOIN qs ON cum_before < q * n_total AND q * n_total <= cum_before + cnt
    """


@query("q_quantile_incremental", tags=("sketch", "agg", "incremental"), oracle=_HIST_ORACLE)
def q_quantile_incremental(spark, sf_dir):
    """p50/p90/p99 of events.value under incrementally-maintained
    fixed-width histogram cells: the corpus arrives as HIST_BATCHES
    deterministic batches (event_id % B), each contributing an additive
    (bin, cnt) partial; the estimator folds the merged histogram. The
    oracle builds the histogram over the FULL corpus and replays the
    same interpolation, so the driver hash-check pins
    merge-of-batch-histograms ≡ histogram-on-full, estimates included.
    Accuracy vs the exact sorted percentile (bounded by W/2 per bin
    uniformity) and the exactly-once publication seam are pinned in
    tests/test_sketches.py."""
    e = t(spark, sf_dir, "events")
    parts = None
    for b in range(HIST_BATCHES):
        p = hist_cells(e.where(F.col("event_id") % HIST_BATCHES == b))
        parts = p if parts is None else parts.unionByName(p)
    return hist_quantiles(parts)


# --------------------------------------------------------------------------
# KMV bottom-k sketches: cross-source vocabulary overlap without a join
# --------------------------------------------------------------------------
# "How much does source A's vocabulary overlap source B's?" is the
# question a mixture/dedup planner asks BEFORE paying for any pairwise
# token join. The k-minimum-values sketch (Bar-Yossef et al. 2002;
# Beyer et al., SIGMOD 2007) answers it with K·|sources| rows: keep each
# source's K smallest deterministic token hashes; for a pair, the K
# smallest of the sketch UNION is itself the union's KMV sketch, and the
# fraction of those present in both sides estimates Jaccard. Bottom-K is
# the SELECTION merge algebra (docs/PLANS.md taxonomy #3): idempotent
# and mergeable, so per-batch sketches fold by re-selection.

KMV_K = 128  # sketch size per source; Jaccard se ≈ 1/√K ≈ 9%


def _kmv_hash(tok):
    """Deterministic 32-bit token draw on the shared md5 device."""
    return F.conv(F.substring(F.md5(F.concat(F.lit("kmv:"), tok)), 1, 8), 16, 10).cast("long")


def kmv_sketches(source_tok, k: int = KMV_K):
    """Per-source bottom-k sketch: (source, tok, u) keeping each
    source's k smallest token hashes. Two-phase selection so no task
    ever holds a source's full vocabulary: phase 1 takes the local
    bottom-k within (source, u%64) shards — 64 vocabulary-fraction
    partitions per source instead of one vocabulary-sized one — and
    phase 2 re-selects over the surviving ≤ 64·k rows per source.
    Global bottom-k per source is invariant to the sharding, so the
    single-pass oracle replays it exactly. (Spark 4 additionally plans
    each row_number≤k filter as Partial+Final WindowGroupLimit — every
    input partition is crushed to ≤k rows per group BEFORE its exchange,
    so per-task state is bounded at both phases even without the
    sharding; the explicit phase 1 keeps the bound on engines without
    that optimization.)"""
    from pyspark.sql.window import Window

    # The distinct is LOAD-BEARING, not defensive: a KMV sketch is over
    # the support of its input, and the sketch-merge path re-sketches
    # the UNION of batch sketches whose token sets overlap — duplicate
    # (source, tok) rows would double-count in the row_number and evict
    # legitimate tokens from the top-K (pinned merge-equals-full,
    # tests/test_sketches.py). Callers therefore pass RAW multiset rows;
    # passing a pre-distincted frame pays a second identical shuffle
    # (r15 review fixed that in q_kmv_source_overlap).
    u = source_tok.select("source", "tok", _kmv_hash(F.col("tok")).alias("u")).distinct()
    w1 = Window.partitionBy("source", F.pmod(F.col("u"), F.lit(64))).orderBy("u", "tok")
    local = u.withColumn("rk", F.row_number().over(w1)).where(F.col("rk") <= k).drop("rk")
    w2 = Window.partitionBy("source").orderBy("u", "tok")
    return local.withColumn("rk", F.row_number().over(w2)).where(F.col("rk") <= k).drop("rk")


_KMV_ORACLE = f"""
    WITH st AS (
      SELECT DISTINCT source,
             unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS tok
      FROM documents
    ),
    hashed AS (
      SELECT source, tok,
             CAST(('0x' || substr(md5('kmv:' || tok), 1, 8)) AS BIGINT) AS u
      FROM st
    ),
    sk AS (
      SELECT source, tok, u FROM (
        SELECT *, row_number() OVER (PARTITION BY source ORDER BY u, tok) AS rk
        FROM hashed
      ) WHERE rk <= {KMV_K}
    ),
    srcs AS (SELECT DISTINCT source FROM documents),
    pairs AS (
      SELECT a.source AS sa, b.source AS sb
      FROM srcs a JOIN srcs b ON a.source < b.source
    ),
    items AS (
      SELECT p.sa, p.sb, s.u,
             MAX(CASE WHEN s.source = p.sa THEN 1 ELSE 0 END) AS in_a,
             MAX(CASE WHEN s.source = p.sb THEN 1 ELSE 0 END) AS in_b
      FROM pairs p JOIN sk s ON s.source IN (p.sa, p.sb)
      GROUP BY 1, 2, 3
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY sa, sb ORDER BY u) AS rk FROM items
    ),
    kmv AS (
      SELECT sa, sb,
             SUM(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END) AS n_both,
             COUNT(*) AS k_eff
      FROM ranked WHERE rk <= {KMV_K} GROUP BY 1, 2
    ),
    sizes AS (SELECT source, COUNT(*) AS nv FROM st GROUP BY 1),
    ex AS (
      SELECT a.source AS sa, b.source AS sb, COUNT(*) AS ni
      FROM st a JOIN st b ON a.tok = b.tok AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT k.sa AS source_a, k.sb AS source_b,
           ROUND(CAST(k.n_both AS DOUBLE) / k.k_eff, 4) AS kmv_jaccard,
           ROUND(CAST(COALESCE(e.ni, 0) AS DOUBLE)
                 / (za.nv + zb.nv - COALESCE(e.ni, 0)), 4) AS exact_jaccard
    FROM kmv k
    LEFT JOIN ex e ON e.sa = k.sa AND e.sb = k.sb
    JOIN sizes za ON za.source = k.sa
    JOIN sizes zb ON zb.source = k.sb
    """


@query("q_kmv_source_overlap", tags=("sketch", "llm"), oracle=_KMV_ORACLE)
def q_kmv_source_overlap(spark, sf_dir):
    """Pairwise source-vocabulary Jaccard from KMV bottom-k sketches,
    reported next to the exact overlap. The sketch side is the 100 TB
    path: per-source sketches are K rows each (two-phase bottom-k, no
    vocabulary-sized task), the pair table is |sources|² — never token
    data — and the estimator is all-integer counting over ≤ K rows per
    pair, so the estimates hash-match the single-pass oracle exactly.
    The exact side (a full token self-join) is the audit that does NOT
    scale and is dropped at corpus scale, CMS-style. Estimator: the K
    smallest of a sketch union is the union's own KMV sketch; the
    fraction of those rows present in both sides estimates Jaccard
    (Beyer et al., SIGMOD 2007), exact when a pair's union vocabulary
    fits inside K (k_eff denominators on both engines)."""
    d = t(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower(F.col("text")), " "), lambda x: x != F.lit(""))
    raw_st = d.select("source", F.explode(toks).alias("tok"))
    st = raw_st.distinct()  # the exact-audit side needs the support
    sk = kmv_sketches(raw_st)  # kmv_sketches distincts internally —
    # passing st would shuffle the vocabulary a second time (r15 review)

    srcs = d.select("source").distinct()
    pairs = (
        srcs.alias("a")
        .join(srcs.alias("b"), F.col("a.source") < F.col("b.source"))
        .select(F.col("a.source").alias("sa"), F.col("b.source").alias("sb"))
    )
    items = (
        pairs.join(
            F.broadcast(sk),
            (F.col("source") == F.col("sa")) | (F.col("source") == F.col("sb")),
        )
        .groupBy("sa", "sb", "u")
        .agg(
            F.max((F.col("source") == F.col("sa")).cast("int")).alias("in_a"),
            F.max((F.col("source") == F.col("sb")).cast("int")).alias("in_b"),
        )
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("sa", "sb").orderBy("u")  # ≤ 2K rows per pair
    kmv = (
        items.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= KMV_K)
        .groupBy("sa", "sb")
        .agg(
            F.sum(((F.col("in_a") == 1) & (F.col("in_b") == 1)).cast("long")).alias("n_both"),
            F.count("*").alias("k_eff"),
        )
    )
    # exact audit side (oracle-scale only; dropped at 100 TB)
    sizes = st.groupBy("source").agg(F.count("*").alias("nv"))
    ex = (
        st.alias("x")
        .join(st.alias("y"), (F.col("x.tok") == F.col("y.tok")) & (F.col("x.source") < F.col("y.source")))
        .groupBy(F.col("x.source").alias("sa"), F.col("y.source").alias("sb"))
        .agg(F.count("*").alias("ni"))
    )
    return (
        kmv.join(ex, ["sa", "sb"], "left")
        .join(F.broadcast(sizes.withColumnRenamed("source", "sa").withColumnRenamed("nv", "na")), "sa")
        .join(F.broadcast(sizes.withColumnRenamed("source", "sb").withColumnRenamed("nv", "nb")), "sb")
        .select(
            F.col("sa").alias("source_a"),
            F.col("sb").alias("source_b"),
            F.round(F.col("n_both").cast("double") / F.col("k_eff"), 4).alias("kmv_jaccard"),
            F.round(
                F.coalesce(F.col("ni"), F.lit(0)).cast("double")
                / (F.col("na") + F.col("nb") - F.coalesce(F.col("ni"), F.lit(0))),
                4,
            ).alias("exact_jaccard"),
        )
    )


# --------------------------------------------------------------------------
# Sliding-window distinct counting via window-mergeable day sketches
# --------------------------------------------------------------------------
# Rolling 7-day distinct users is THE query exact distinct cannot serve
# at scale: COUNT(DISTINCT) doesn't decompose over windows, so the exact
# form re-touches seven days of raw events per output day. Mergeable
# sketches fix the algebra: ONE pass builds a ≤ HLL_M-row register
# sketch per day, and any window's distinct count is a max-fold of that
# window's day-sketches — the raw events are read exactly once, ever.
# The same fold serves 7-day, 30-day, or month-to-date from the same
# stored day-sketches (this is how streaming window-distinct dashboards
# actually work). Exact counts ride along at test scale to audit the
# ~4.6% rsd.


@query(
    "q_rolling_distinct",
    tags=("sketch", "timeseries", "incremental", "llm"),
    oracle=f"""
    WITH pairs AS (
      SELECT DISTINCT CAST(ts AS DATE) AS day, CAST(user_id AS VARCHAR) AS tok
      FROM events
    ), days AS (SELECT DISTINCT day FROM pairs),
    win AS (
      SELECT d.day AS wday, p.tok
      FROM days d JOIN pairs p ON p.day BETWEEN d.day - 6 AND d.day
    ), wtok AS (SELECT DISTINCT wday, tok FROM win),
    regs AS (
      SELECT wday, {_md5_pos_sql("'hr'", "tok", HLL_M)} AS reg,
             MAX(CASE WHEN w = 0 THEN 33
                      ELSE instr(lpad(bin(w), 32, '0'), '1') END) AS rho
      FROM (
        SELECT wday, tok,
               CAST(('0x' || substr(md5('hw:' || tok), 1, 8)) AS BIGINT) AS w
        FROM wtok
      )
      GROUP BY 1, 2
    ), folded AS (
      SELECT wday, COUNT(*) AS n_present,
             SUM(CAST(1.0 AS DOUBLE) / (CAST(1 AS BIGINT) << rho)) AS s_present
      FROM regs GROUP BY wday
    ), est AS (
      SELECT wday, CASE
               WHEN CAST({_HLL_ALPHA_MM!r} AS DOUBLE)
                      / (s_present + ({HLL_M} - n_present)) <= 2.5 * {HLL_M}
                    AND ({HLL_M} - n_present) > 0
               THEN {HLL_M} * LN({HLL_M} * CAST(1.0 AS DOUBLE) / ({HLL_M} - n_present))
               ELSE CAST({_HLL_ALPHA_MM!r} AS DOUBLE)
                      / (s_present + ({HLL_M} - n_present))
             END AS e
      FROM folded
    ), exact AS (
      SELECT wday, COUNT(DISTINCT tok) AS n_exact FROM wtok GROUP BY wday
    )
    SELECT CAST(x.wday AS VARCHAR) AS day,
           CAST(x.n_exact AS BIGINT) AS n_exact,
           ROUND(e.e, 4) AS hll_estimate
    FROM exact x JOIN est e ON e.wday = x.wday
    """,
)
def q_rolling_distinct(spark, sf_dir):
    """Rolling 7-day distinct users per day from window-mergeable HLL
    day-sketches. Scale shape: raw events collapse ONCE to per-day
    register sketches (≤ |days|·HLL_M rows — calendar-bounded); the
    7-day fold joins each output day to its window's sketch rows and
    max-merges (|days|·7·HLL_M rows of integer max — metadata-sized);
    the estimator runs per day over ≤ HLL_M rows. COUNT(DISTINCT) can't
    decompose this way — the exact audit column here re-reads the
    (day, user) pairs per window, which is exactly the cost the sketch
    path avoids at 100 TB. The register device is the engine-portable
    md5 construction q_hll_incremental proved, so the DuckDB oracle
    replays registers, fold, and estimator bit-for-bit (harmonic sums
    are exact powers of two)."""
    e = t(spark, sf_dir, "events")
    pairs = e.select(
        F.col("ts").cast("date").alias("day"),
        F.col("user_id").cast("string").alias("tok"),
    ).distinct()
    day_regs = hll_registers(pairs, by=("day",))
    days = pairs.select("day").distinct()
    win = days.select(F.col("day").alias("wday")).join(
        day_regs,
        (F.col("day") >= F.date_sub(F.col("wday"), 6)) & (F.col("day") <= F.col("wday")),
    )
    est = hll_estimate(win.select(F.col("wday"), "reg", "rho"), by=("wday",))
    wtok = (
        days.select(F.col("day").alias("wday"))
        .join(
            pairs,
            (F.col("day") >= F.date_sub(F.col("wday"), 6)) & (F.col("day") <= F.col("wday")),
        )
        .select("wday", "tok")
    )
    exact = wtok.groupBy("wday").agg(F.count_distinct("tok").alias("n_exact"))
    return (
        exact.join(est, "wday")
        .select(
            F.col("wday").cast("string").alias("day"),
            F.col("n_exact").cast("long"),
            "hll_estimate",
        )
    )


# --------------------------------------------------------------------------
# Rolling heavy-hitter counts via window-mergeable day cells
# --------------------------------------------------------------------------
# The additive twin of q_rolling_distinct: per-day CMS cells SUM over
# any day window (counters are plain sums), so rolling per-key counts
# come from one pass over raw events plus a calendar-bounded cell fold —
# trending/abuse dashboards over arbitrary windows without re-touching
# history. Probe keys here are the entity ids carried in events.props.

ROLL_CMS_KEYS = tuple(str(k) for k in range(8))  # probed entity ids
ROLL_CMS_WIN = 6  # window = day-6 .. day (7 days)


@query(
    "q_rolling_cms",
    tags=("sketch", "timeseries", "incremental", "llm"),
    oracle=f"""
    WITH tok AS (
      SELECT CAST(ts AS DATE) AS day,
             json_extract_string(props, '$.k') AS tok
      FROM events
    ), days AS (SELECT DISTINCT day FROM tok),
    cells AS (
      SELECT day, i.i AS row_i, {_md5_pos_sql("i.i", "tok", CMS_WIDTH)} AS pos,
             count(*) AS counter
      FROM tok CROSS JOIN range({CMS_DEPTH}) i(i)
      GROUP BY 1, 2, 3
    ), keys AS (
      SELECT unnest([{", ".join("'" + k + "'" for k in ROLL_CMS_KEYS)}]) AS tok
    ), probe AS (
      SELECT d.day AS wday, k.tok, i.i AS row_i,
             {_md5_pos_sql("i.i", "k.tok", CMS_WIDTH)} AS pos
      FROM days d CROSS JOIN keys k CROSS JOIN range({CMS_DEPTH}) i(i)
    ), folded AS (
      SELECT p.wday, p.tok,
             MIN(COALESCE(s.counter, 0)) AS cms_estimate
      FROM probe p LEFT JOIN (
        SELECT d.day AS wday, c.row_i, c.pos, SUM(c.counter) AS counter
        FROM days d JOIN cells c ON c.day BETWEEN d.day - {ROLL_CMS_WIN} AND d.day
        GROUP BY 1, 2, 3
      ) s ON s.wday = p.wday AND s.row_i = p.row_i AND s.pos = p.pos
      GROUP BY p.wday, p.tok
    ), exact AS (
      SELECT d.day AS wday, k.tok,
             (SELECT COUNT(*) FROM tok t
              WHERE t.tok = k.tok AND t.day BETWEEN d.day - {ROLL_CMS_WIN} AND d.day
             ) AS n_exact
      FROM days d CROSS JOIN keys k
    )
    SELECT CAST(f.wday AS VARCHAR) AS day, f.tok AS entity,
           CAST(x.n_exact AS BIGINT) AS n_exact,
           CAST(f.cms_estimate AS BIGINT) AS cms_estimate
    FROM folded f JOIN exact x ON x.wday = f.wday AND x.tok = f.tok
    """,
)
def q_rolling_cms(spark, sf_dir):
    """Rolling 7-day per-entity event counts from window-mergeable CMS
    day-cells: raw events collapse ONCE to ≤ depth·width cells per day;
    each output day SUM-folds its window's cells (|days|·7·depth·width
    integer adds — calendar-bounded); fixed probe keys take the min over
    their depth cells, absent cells counting 0 (the unseen-key rule).
    COUNT over a sliding window decomposes, so exact audit columns are
    cheap HERE — the sketch's value at 100 TB is serving EVERY key from
    bounded state and absorbing new days incrementally (the additive
    seam along the time axis; q_rolling_distinct is the idempotent-max
    twin). md5 cell device → the DuckDB oracle replays cells, fold, and
    probe exactly."""
    e = t(spark, sf_dir, "events")
    tok = e.select(
        F.col("ts").cast("date").alias("day"),
        F.get_json_object("props", "$.k").alias("tok"),
    )
    day_cells = cms_cells(tok, by=("day",))
    days = tok.select("day").distinct()
    win_cells = (
        days.select(F.col("day").alias("wday"))
        .join(
            day_cells,
            (F.col("day") >= F.date_sub(F.col("wday"), ROLL_CMS_WIN))
            & (F.col("day") <= F.col("wday")),
        )
        .groupBy("wday", "row_i", "pos")
        .agg(F.sum("counter").alias("counter"))
    )
    # built from the tuple VALUES (not its length) so the probed-id
    # constant is live configuration, matching the oracle's list (r15)
    from incremental_dagster_delta_spark.tables import literal_df

    keys = literal_df(spark, [(k,) for k in ROLL_CMS_KEYS], "tok string")
    probe = (
        days.select(F.col("day").alias("wday"))
        .crossJoin(F.broadcast(keys))
        .select("wday", "tok", F.posexplode(cms_positions(F.col("tok"))).alias("row_i", "pos"))
    )
    folded = (
        probe.join(win_cells, ["wday", "row_i", "pos"], "left")
        .groupBy("wday", "tok")
        .agg(F.min(F.coalesce(F.col("counter"), F.lit(0))).alias("cms_estimate"))
    )
    exact = (
        days.select(F.col("day").alias("wday"))
        .crossJoin(F.broadcast(keys))
        .join(
            tok.withColumnRenamed("tok", "t_tok"),
            (F.col("t_tok") == F.col("tok"))
            & (F.col("day") >= F.date_sub(F.col("wday"), ROLL_CMS_WIN))
            & (F.col("day") <= F.col("wday")),
            "left",
        )
        .groupBy("wday", "tok")
        .agg(F.count("t_tok").alias("n_exact"))
    )
    return (
        folded.join(exact, ["wday", "tok"])
        .select(
            F.col("wday").cast("string").alias("day"),
            F.col("tok").alias("entity"),
            F.col("n_exact").cast("long"),
            F.col("cms_estimate").cast("long"),
        )
    )
