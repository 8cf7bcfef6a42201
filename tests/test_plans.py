"""Physical-plan invariants that matter at 100 TB but are invisible to
small-SF correctness tests: pushdown, pruning, join strategy, shuffle
counts, top-K short-circuit. A regression here usually means a silent
plan pathology (lost pushdown, accidental cartesian) rather than a wrong
answer. Nested-loop joins are checked on the executed plan at two
scales: each one's broadcast side must not grow with the input."""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F

from crypto_streaming_lakehouse_spark.plans.audit import audit, broadcast_nlj_rows
from crypto_streaming_lakehouse_spark.registry import REGISTRY
from crypto_streaming_lakehouse_spark.sources.tables import load_table

from .conftest import SF_DIR, SF_DIR_LARGE


def _audit(spark, name):
    return audit(REGISTRY[name].fn(spark, SF_DIR))


# cosine_topk's JVM path joins the query side onto the corpus with no
# broadcast hint, so Spark broadcasts the corpus: the build side of these
# queries' nested-loop join grows with the embeddings table.
_CORPUS_BROADCAST = pytest.mark.xfail(
    raises=AssertionError,
    strict=True,
    reason="cosine_topk's JVM path broadcasts the corpus side",
)
_COSINE_TOPK_CONSUMERS = {
    "q_ann_cosine_topk",
    "q_ann_recall_eval",
    "q_ann_recall_trained",
    "q_contrastive_batches",
    "q_retrieval_rank_metrics",
}


@pytest.mark.parametrize(
    "name",
    [
        pytest.param(n, marks=_CORPUS_BROADCAST) if n in _COSINE_TOPK_CONSUMERS else n
        for n in sorted(REGISTRY)
    ],
)
def test_no_accidental_cartesian(spark, name):
    # A nested-loop join is scale-safe only while its broadcast side does
    # not grow with the input. Execute the query at two scales: every
    # nested-loop join left at SF_DIR_LARGE must broadcast as many rows as
    # one at SF_DIR (a size dispatch may drop one), and none may be a
    # CartesianProduct.
    df = REGISTRY[name].fn(spark, SF_DIR)
    if audit(df).nested_loop_joins == 0:
        return
    small = broadcast_nlj_rows(df)
    large = broadcast_nlj_rows(REGISTRY[name].fn(spark, SF_DIR_LARGE))
    assert None not in small + large
    assert not Counter(large) - Counter(small), (small, large)


def test_broadcast_nlj_rows_reads_executed_plan(spark):
    # A 1-row aggregate broadcast onto a scan reads 1 row at any scale; a
    # broadcast scan reads the table's row count, which grows with scale.
    for sf in (SF_DIR, SF_DIR_LARGE):
        ev = load_table(spark, sf, "events").select("event_id")
        one = ev.agg(F.count("*").alias("n"))
        assert broadcast_nlj_rows(ev.crossJoin(one)) == [1]
        assert broadcast_nlj_rows(one.crossJoin(F.broadcast(ev))) == [ev.count()]


def test_filter_pushdown_reaches_scan(spark):
    a = _audit(spark, "q_filter_eq")
    assert a.pushed_filter_on("event_type")
    assert a.exchanges == 0  # pure scan+filter+project: no shuffle at all


def test_column_pruning(spark):
    a = _audit(spark, "q_filter_eq")
    (scan,) = a.scans
    assert set(scan.read_columns) == {"event_id", "event_type", "value"}


def test_documents_scan_pruned(spark):
    a = _audit(spark, "q_text_stats")
    scan = a.scan_of("documents")
    assert scan is not None
    # quality stats need only the id and the text, not n_chars/lang/etc.
    assert set(scan.read_columns) == {"doc_id", "text"}


def test_ohlcv_single_shuffle(spark):
    # The gold-bars DERIVATION is one hash-aggregate shuffle on (symbol,
    # window) with map-side partial agg, plus the memo's one symbol-layout
    # repartition. The registry query itself reads the memoized gold
    # table (LogicalRDD scan — zero exchanges), mirroring the reference's
    # materialized gold layer, so audit the derivation directly.
    from crypto_streaming_lakehouse_spark.operators.bars import ohlcv_bars
    from crypto_streaming_lakehouse_spark.sources.tables import events_as_trades

    a = audit(ohlcv_bars(events_as_trades(spark, SF_DIR)))
    assert a.exchanges == 1
    assert _audit(spark, "q_ohlcv_bars").exchanges == 0


def test_zscore_fused_shuffles(spark):
    # bars agg + one symbol-window shuffle. The unfused 3-self-join plan
    # had 4 aggregations and 3 joins; fusion keeps it at two exchanges.
    assert _audit(spark, "q_zscore_anomaly").exchanges <= 2


def test_topk_uses_take_ordered(spark):
    a = _audit(spark, "q_topk_recent")
    assert a.top_k  # TakeOrderedAndProject, not a global sort


def test_small_dim_join_broadcasts(spark):
    a = _audit(spark, "q_join_inner")
    assert a.broadcast_hash_joins >= 1
    assert a.sort_merge_joins == 0


def test_minhash_bounded_shuffles(spark):
    # posting-list explode + signature groupBy + band join + verify joins;
    # everything keyed, no cartesian, bounded exchange count.
    a = _audit(spark, "q_dedup_minhash_lsh")
    assert a.nested_loop_joins == 0
    assert a.exchanges <= 4


def test_ann_brute_force_broadcasts_queries(spark):
    # at least one broadcast. The nested-loop join broadcasts the corpus,
    # not the query side: see _CORPUS_BROADCAST.
    a = _audit(spark, "q_ann_cosine_topk")
    assert a.broadcast_exchanges >= 1


def test_asof_join_no_pair_explosion(spark):
    # union+window as-of: keyed exchanges only (union shuffle + right-side
    # pre-agg), NO nested-loop range join.
    a = _audit(spark, "q_asof_join")
    assert a.nested_loop_joins == 0
    assert a.exchanges <= 2


def test_pricing_summary_single_shuffle(spark):
    # TPC-H Q1 shape: scan → partial agg → one exchange → final agg
    assert _audit(spark, "q_pricing_summary").exchanges == 1


def test_top_revenue_plan(spark):
    # TPC-H Q3 shape: both dims broadcast at small SF, top-K short-circuit
    a = _audit(spark, "q_top_revenue_orders")
    assert a.broadcast_hash_joins >= 2
    assert a.top_k


def test_salted_join_stays_equi(spark):
    # salting must not degrade the join to nested-loop
    a = _audit(spark, "q_join_salted_skew")
    assert a.nested_loop_joins == 0
    assert a.broadcast_hash_joins + a.sort_merge_joins + a.shuffled_hash_joins >= 1


def test_range_join_stays_equi(spark):
    # the user_id equality must carry the join; the time range is a
    # post-join filter, never a nested-loop range join
    a = _audit(spark, "q_range_join")
    assert a.nested_loop_joins == 0
    assert a.broadcast_hash_joins + a.sort_merge_joins + a.shuffled_hash_joins >= 1


def test_decontaminate_gram_equi_join(spark):
    # inverted-index decontamination: gram equi-join + df-cap anti-join,
    # no cartesian anywhere
    a = _audit(spark, "q_decontaminate")
    assert a.nested_loop_joins == 0


def test_session_ids_single_user_shuffle(spark):
    # lag window + running-sum window + final agg all share the user_id
    # partitioning: one exchange total
    a = _audit(spark, "q_session_ids_batch")
    assert a.exchanges <= 2


def test_exists_subquery_decorrelated(spark):
    # EXISTS and the scalar count subquery must decorrelate into joins
    # (no per-row probes, no nested loop)
    a = _audit(spark, "q_exists_subquery")
    assert a.nested_loop_joins == 0


def test_truncate_and_scrub_no_shuffle(spark):
    # pure projections: fused into the scan, zero exchanges
    assert _audit(spark, "q_doc_truncate").exchanges == 0
    assert _audit(spark, "q_pii_scrub").exchanges == 0
    assert _audit(spark, "q_hash_split").exchanges == 0
    assert _audit(spark, "q_repetition_ratio").exchanges == 0


def test_stratified_sample_no_shuffle(spark):
    # hash-bucket sampling is a pure scan+filter+project
    assert _audit(spark, "q_stratified_sample").exchanges == 0


def test_tpch_q5_all_dims_broadcast(spark):
    # 6-table chain at small SF: lineitem is the only big input; every
    # dimension (region-filtered) must broadcast, never SMJ the fact table
    a = _audit(spark, "q_local_supplier_volume")
    assert a.broadcast_hash_joins >= 4
    assert a.nested_loop_joins == 0


def test_bm25_small_sides_broadcast(spark):
    # df table and (avgdl, N) scalar broadcast; the only real shuffles are
    # the tf aggregation and the doc-length rejoin
    a = _audit(spark, "q_bm25")
    assert a.broadcast_exchanges >= 1
    assert a.sort_merge_joins <= 1


def test_pmi_unigram_joins_broadcast(spark):
    # the vocab-sized unigram count table must broadcast onto the pair table
    a = _audit(spark, "q_pmi_collocations")
    assert a.broadcast_exchanges >= 2


def test_profile_single_pass(spark):
    # multi-distinct profiling: Spark plans via expand, still one scan
    a = _audit(spark, "q_profile_stats")
    assert len(a.scans) == 1


def test_ratio_to_report_single_shuffle(spark):
    # unbounded window sum: one exchange on the partition key
    assert _audit(spark, "q_ratio_to_report").exchanges == 1


def test_kmeans_assignment_broadcasts_centroids(spark):
    # the K-row centroid side must broadcast; vectors never shuffle for
    # assignment (the update agg is the only real exchange per round)
    a = _audit(spark, "q_kmeans")
    assert a.broadcast_exchanges >= 1


def test_bucketed_range_join_stays_equi(spark):
    # The keyless ±60s join must plan as a bucket EQUI-join (SMJ/SHJ on
    # the manufactured bucket key), never a nested-loop over the
    # inequality — that cartesian shape is exactly what the bucket
    # expansion exists to avoid.
    a = _audit(spark, "q_range_join_bucketed")
    assert a.nested_loop_joins == 0
    assert a.sort_merge_joins + a.shuffled_hash_joins + a.broadcast_hash_joins == 1


def test_weighted_sample_is_top_k(spark):
    # Exp-race sampling must short-circuit as TakeOrderedAndProject (a
    # per-partition k-heap + merge), never a global sort of the corpus.
    a = _audit(spark, "q_weighted_sample")
    assert a.top_k
    assert a.exchanges <= 1  # the TakeOrdered merge is the only movement


def test_triangle_wedge_joins_are_equi(spark):
    # Degree-ordered wedge enumeration: the apex self-join and the
    # closing-edge probe are EQUI joins. The co-purchase self-join and
    # degree attachment are equi too, but sit behind lineage cuts
    # (localCheckpoint materialization), so the explained plan shows only
    # the two downstream joins; the only NLJ-shaped nodes are the 1-row
    # summary cross joins.
    a = _audit(spark, "q_triangle_count")
    assert (
        a.sort_merge_joins + a.shuffled_hash_joins + a.broadcast_hash_joins
        >= 2
    )


def test_countmin_counters_broadcast(spark):
    # The sketch is depth×width cells regardless of corpus size — the
    # probe join must broadcast it, never shuffle the token stream.
    a = _audit(spark, "q_countmin_freq")
    assert a.broadcast_exchanges >= 1
    assert a.nested_loop_joins == 0


def test_kendall_topk_short_circuits(spark):
    # The top-K selection must plan as TakeOrderedAndProject (distributed
    # partial top-k), never a single-task global sort of the parts
    # aggregate; the K x K pair join is the designed bounded NLJ.
    a = _audit(spark, "q_kendall_tau_topk")
    assert a.top_k


def test_var_es_tail_join_broadcasts(spark):
    # The symbol-count-sized VaR table must broadcast back onto returns;
    # a shuffle of the returns table for a symbols-sized dimension would
    # be the wrong plan at any scale.
    a = _audit(spark, "q_var_es")
    assert a.broadcast_exchanges >= 1
    assert a.nested_loop_joins == 0


def test_capm_market_series_broadcasts(spark):
    # The per-minute market return is a time-dimension table: broadcast
    # onto returns, never a shuffle of the fact side.
    a = _audit(spark, "q_capm_beta")
    assert a.broadcast_exchanges >= 1
    assert a.nested_loop_joins == 0


def test_attribution_single_user_window(spark):
    # Last-touch attribution is ONE user-keyed window + one aggregate —
    # never a purchases x history self-join (no joins at all).
    a = _audit(spark, "q_attribution_last_touch")
    assert a.nested_loop_joins == 0
    assert (
        a.sort_merge_joins + a.shuffled_hash_joins + a.broadcast_hash_joins
        == 0
    )
