"""Query registry package.

Importing this package imports every query module, which registers each
query into ``registry.QUERIES`` via the ``@query`` decorator. The driver
contract (``__spark_entry__.py``) exposes exactly this registry.
"""

from incremental_dagster_delta_spark.queries.registry import QUERIES, QuerySpec, query, t

# Import for registration side effects — order defines registry order.
from incremental_dagster_delta_spark.queries import relational  # noqa: E402,F401
from incremental_dagster_delta_spark.queries import reference_ops  # noqa: E402,F401
from incremental_dagster_delta_spark.queries import text  # noqa: E402,F401
from incremental_dagster_delta_spark.queries import dedup  # noqa: E402,F401
from incremental_dagster_delta_spark.queries import similarity  # noqa: E402,F401
from incremental_dagster_delta_spark.queries import events  # noqa: E402,F401
from incremental_dagster_delta_spark.queries import multimodal_q  # noqa: E402,F401
from incremental_dagster_delta_spark.queries import incremental_ops  # noqa: E402,F401
from incremental_dagster_delta_spark.queries import advanced  # noqa: E402,F401
from incremental_dagster_delta_spark.queries import formats  # noqa: E402,F401
from incremental_dagster_delta_spark.queries import scale_patterns  # noqa: E402,F401
from incremental_dagster_delta_spark.queries import sketches  # noqa: E402,F401
from incremental_dagster_delta_spark.queries import relational_extra  # noqa: E402,F401
from incremental_dagster_delta_spark.queries import analytics  # noqa: E402,F401
from incremental_dagster_delta_spark.queries import training_prep  # noqa: E402,F401
from incremental_dagster_delta_spark.queries import timeseries  # noqa: E402,F401
from incremental_dagster_delta_spark.queries import modern  # noqa: E402,F401
from incremental_dagster_delta_spark.queries import cdc  # noqa: E402,F401
from incremental_dagster_delta_spark.queries import curation  # noqa: E402,F401
from incremental_dagster_delta_spark.queries import assembly  # noqa: E402,F401
from incremental_dagster_delta_spark.queries import warehouse  # noqa: E402,F401
from incremental_dagster_delta_spark.queries import lines  # noqa: E402,F401
from incremental_dagster_delta_spark.queries import retrieval  # noqa: E402,F401
from incremental_dagster_delta_spark.queries import vector_compress  # noqa: E402,F401
from incremental_dagster_delta_spark.queries import graph  # noqa: E402,F401
from incremental_dagster_delta_spark.queries import selection  # noqa: E402,F401
from incremental_dagster_delta_spark.queries import bpe  # noqa: E402,F401
from incremental_dagster_delta_spark.queries import docsim  # noqa: E402,F401
from incremental_dagster_delta_spark.queries import linalg  # noqa: E402,F401
from incremental_dagster_delta_spark.queries import lm  # noqa: E402,F401
from incremental_dagster_delta_spark.queries import unigram_lm  # noqa: E402,F401
from incremental_dagster_delta_spark.queries import quality_clf  # noqa: E402,F401
from incremental_dagster_delta_spark.queries import kmeans  # noqa: E402,F401
from incremental_dagster_delta_spark.queries import mmr  # noqa: E402,F401

# Driver front (first 50 entries): `python scripts/next_front.py --lead <its first 35 qids>`.
# tests/test_oracle.py smoke-tests a fixed set of 24 qids (its _SMOKE), independent of this order.
_FRONT = [
    "q_ivf_incremental",
    "q_rouge_n",
    "q_k_anonymity",
    "q_bleu",
    "q_chrf",
    "q_label_propagation",
    "q_cohen_kappa",
    "q_ccnet_buckets",
    "q_dp_noisy_counts",
    "q_sql_udf",
    "q_substring_dedup",
    "q_surprisal_buckets",
    "q_table_diff",
    "q_tfidf",
    "q_token_pack",
    "q_tokenizer_fertility",
    "q_topic_terms",
    "q_udtf_chunks",
    "q_unigram_encode",
    "q_unigram_fertility",
    "q_unigram_surprisal",
    "q_wholetext_ingest",
    "q_window_battery",
    "q_array_funcs",
    "q_triangle_count",
    "q_triangle_doulion",
    "q_deletion_vectors",
    "q_change_data_feed",
    "q_compaction_stats",
    "q_ngram_jaccard",
    "q_dedup_minhash",
    "q_winnow_fingerprint",
    "q_bpe_merges",
    "q_bpe_encode",
    "q_unigram_lm",
    "q_mmr_rerank",
    "q_partition_discovery",
    "q_partition_prune",
    "q_pii_redact",
    "q_posexplode",
    "q_pq_train",
    "q_quantiles",
    "q_range_join",
    "q_regex_parse",
    "q_repeated_ngrams",
    "q_reservoir_per_source",
    "q_rolling_range_window",
    "q_scd2_merge",
    "q_semdedup",
    "q_seq_len_buckets",
]


# --------------------------------------------------------------------------
# Per-query shuffle sizing. These qids materialize their result INSIDE the
# call (materialize_release / localCheckpoint), so a scoped
# spark.sql.shuffle.partitions takes effect for their whole execution.
# Each shuffles an exploded view of one small corpus table (shingles,
# tokens, LSH bands, IVF cells); sizing the partition count from that
# table's on-disk bytes removes the per-task constant costs that dominate
# sub-GB shuffles under a session-wide default (see tables.sized_shuffle
# — measured 2.3× on the q_ngram_jaccard pair join). q_ngram_jaccard and
# q_doc_similarity scope themselves inside their shared pair-finding
# helpers (ngram_jaccard_pairs / tfidf_cosine_pairs).
# --------------------------------------------------------------------------
# A/B-measured at sf0.1 against the session default (median of 3):
# q_containment 7.05→2.14 s, q_bpe_encode 4.33→3.24, q_ngram_jaccard_prefix
# 3.50→3.16, q_dedup_minhash 2.03→1.98; round 8: q_substring_dedup
# 3.04→2.60, q_dup_span_fraction 3.08→2.68 (fan_out on the raw docs was
# also tried there and LOST, 3.0→4.5 — the family is shuffle-task-
# overhead bound, not explode-parallelism bound). Qids where the scoped
# count LOST (array-verify or window stages that want full-core
# parallelism more than low task overhead: q_incremental_dedup
# 2.58→4.88, q_semdedup, q_boilerplate_lines, q_dedup_lines,
# q_dedup_embedding) stay unwrapped.
_SIZED_SHUFFLE = {
    "q_ngram_jaccard_prefix": "documents",
    "q_dedup_minhash": "documents",
    "q_containment": "documents",
    "q_bpe_encode": "documents",
    "q_substring_dedup": "documents",
    "q_dup_span_fraction": "documents",
    # round 9 late: the CMS build/exact shuffles are exploded-documents
    # shaped; A/B at sf0.1: 2.23 → 1.07 s (median of 5).
    "q_cms_heavy_hitters": "documents",
    # round 9: the Lloyd's loop is ~25 tiny stages whose cost is task
    # overhead; sizing from the embeddings bytes (≈8 partitions at
    # sf0.1) also sets _prepared_vec's split target. A/B in kmeans.py.
    # The trained-IVF qid runs the same loop inside.
    "q_kmeans_centroids": "embeddings",
    "q_cosine_ann_ivf_trained": "embeddings",
    "q_pq_train": "embeddings",
    "q_kmeans_maximin": "embeddings",
    # round 11: the mini-batch fold is the same tiny-stage profile as
    # the trainer it derives from.
    "q_kmeans_minibatch": "embeddings",
    # round 15: the incremental-index qid runs the corpus-side trainer
    # inside, same profile as the trained-IVF qid.
    "q_ivf_incremental": "embeddings",
    # r16 sweep: q_ann_ivf_pq (PQ/IVF loops inside, 30 s executor across
    # 64-task waves) was TRIED here and LOST (3.16→3.29 s median,
    # interleaved at canary 13.6-16.5): its per-wave vector math is
    # CPU-heavy enough that the 8-partition sized width starves the
    # machine — the q_dsir_weights class, not the near-empty-task class.
    # Left unwrapped.
    # r15 optimization: the unigram-LM EM loop persists its word table
    # with the session-default partition count (cached plans keep their
    # shuffle partitioning — AQE does not re-coalesce InMemoryRelations),
    # so every EM-round driver job paid 64 near-empty tasks at sf0.1
    # (profiled: 5 stages × 64 tasks ≈ 33 s executor time of per-task
    # constants). Sizing from the documents bytes gives the same
    # thousands-of-partitions shape at 100 TB and ~8 here.
    "q_unigram_lm": "documents",
    "q_unigram_encode": "documents",
    "q_unigram_fertility": "documents",
    # r15 optimization: same cached-plan partitioning disease for the
    # LM perplexity pair's persisted bigram stream — their consumers
    # each paid session-default-width near-empty task waves over the
    # cache, and both materialize inside fn() (materialize_release), so
    # the scoped conf covers the whole execution. A/B at sf0.1, canary
    # 22: bigram 2.19→1.03 s, KN 4.62→1.14 s. q_dsir_weights was tried
    # and LOST slightly (1.19→1.25 — its persisted explode is scan-
    # partitioned, not shuffle-partitioned, so the scope buys nothing).
    "q_bigram_perplexity": "documents",
    "q_kn_perplexity": "documents",
    # r15: q_ccnet_buckets runs the KN scoring pass inside (it calls the
    # raw module function, not the sized registry entry), and the BPE
    # merge loop iterates driver jobs over its persisted word-sequence
    # revisions the same way the unigram EM does — all materialize
    # inside fn, so the scoped width covers execution.
    "q_ccnet_buckets": "documents",
    "q_bpe_merges": "documents",
    "q_tokenizer_fertility": "documents",
}


def _sized(fn, table: str):
    import functools

    from incremental_dagster_delta_spark.tables import load_table, sized_shuffle

    @functools.wraps(fn)
    def wrapped(spark, sf_dir):
        with sized_shuffle(spark, load_table(spark, sf_dir, table)):
            return fn(spark, sf_dir)

    return wrapped


for _name, _table in _SIZED_SHUFFLE.items():
    QUERIES[_name].fn = _sized(QUERIES[_name].fn, _table)


def _rotate(front: list[str]) -> None:
    missing = [q for q in front if q not in QUERIES]
    assert not missing, f"rotation references unknown qids: {missing}"
    ordered = {q: QUERIES[q] for q in front}
    ordered.update({q: s for q, s in QUERIES.items() if q not in ordered})
    # Preserve dict identity — __spark_entry__ and tests hold references.
    QUERIES.clear()
    QUERIES.update(ordered)


_rotate(_FRONT)

__all__ = ["QUERIES", "QuerySpec", "query", "t"]
