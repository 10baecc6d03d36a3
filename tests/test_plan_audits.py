"""Plan-shape regression tests: the 100 TB checklist (pushdown, pruning,
broadcast, shuffle count) asserted on representative queries so a future
edit that silently degrades a plan fails here, not on a cluster."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ibis_flink_example_spark.plans import (
    broadcast_join_count,
    exchange_count,
    plan_ops,
    pushed_filter_scan_count,
    scan_columns,
)
from ibis_flink_example_spark.queries import QUERIES


def test_q6_is_pure_scan_aggregate(spark, sf_dir):
    """Q6: zero joins, zero keyed shuffles — only the single-row final agg
    exchange; the whole WHERE reaches the scan; 4 columns read."""
    df = QUERIES["tpch_q6_revenue_forecast"](spark, sf_dir)
    ops = plan_ops(df)
    assert ops["BroadcastHashJoin"] + ops["SortMergeJoin"] + ops["ShuffledHashJoin"] == 0
    assert exchange_count(df) == 1  # the single-row reduce only
    assert pushed_filter_scan_count(df) == 1
    (cols,) = scan_columns(df)
    assert set(cols) == {"l_shipdate", "l_discount", "l_quantity", "l_extendedprice"}


def test_flagship_scan_prunes_to_window_inputs(spark, sf_dir):
    """The flagship over-window reads only the 4 columns it uses — the
    reference's projection-pushdown reliance (SURVEY §4 row 1) holds."""
    df = QUERIES["over_range_sum_10s"](spark, sf_dir)
    (cols,) = scan_columns(df)
    assert set(cols) <= {"event_id", "user_id", "ts", "value"}
    assert exchange_count(df) == 1  # one hash exchange on the window key


def test_star_joins_broadcast_dims(spark, sf_dir):
    """Q5-shaped star join: every dim side broadcasts; the fact table is
    never the build side of a shuffle join."""
    df = QUERIES["tpch_q5_local_supplier_volume"](spark, sf_dir)
    assert broadcast_join_count(df) >= 3
    assert plan_ops(df)["SortMergeJoin"] <= 1  # at most the fact-fact join


def test_filter_reaches_parquet_scan(spark, sf_dir):
    df = QUERIES["filter_shipped"](spark, sf_dir)
    assert pushed_filter_scan_count(df) == 1
    assert exchange_count(df) == 0  # pure scan-filter-project: no shuffle


@pytest.mark.parametrize(
    "name", ["tpch_q2_min_cost_supplier", "tpch_q17_small_quantity_revenue"]
)
def test_derived_partsupp_queries_broadcast_small_sides(spark, sf_dir, name):
    df = QUERIES[name](spark, sf_dir)
    assert broadcast_join_count(df) >= 2


def test_scalar_subquery_decorrelates(spark, sf_dir):
    """The correlated COUNT subquery must decorrelate into ONE aggregate +
    join plan — a per-row subquery re-execution would be quadratic at scale.
    Physical plan therefore contains an aggregate and a join, and no
    nested-loop execution beyond it."""
    df = QUERIES["scalar_subquery_busy_customers"](spark, sf_dir)
    ops = plan_ops(df)
    joins = (
        ops["BroadcastHashJoin"] + ops["SortMergeJoin"] + ops["ShuffledHashJoin"]
    )
    assert joins == 1
    assert ops["HashAggregate"] >= 1
    assert ops["BroadcastNestedLoopJoin"] == 0


def test_unpivot_is_single_expand_pass(spark, sf_dir):
    """UNPIVOT compiles to one Expand over one scan — no per-measure
    re-scan (the UNION ALL formulation would read the table 4x)."""
    df = QUERIES["unpivot_lineitem_measures"](spark, sf_dir)
    ops = plan_ops(df)
    assert ops["Expand"] == 1
    assert len(scan_columns(df)) == 1  # exactly one scan of lineitem
    assert exchange_count(df) == 0  # map-only: scan -> expand -> project


def test_percentile_disc_single_shuffle(spark, sf_dir):
    """Inverse distribution functions aggregate per group in one keyed
    exchange (partial/final), like any other aggregate."""
    df = QUERIES["percentile_disc_by_flag"](spark, sf_dir)
    assert exchange_count(df) == 1


def test_curation_pipeline_single_shuffle(spark, sf_dir):
    """curation_pipeline's 100 TB claim: quality scoring + filter fuse into
    the scan, exact dedup costs ONE exchange (digest agg), survivors come
    back via broadcast semi-join, the split is map-only — so the whole
    three-stage pipeline plans with a single real shuffle and no sort-merge
    join."""
    df = QUERIES["curation_pipeline"](spark, sf_dir)
    assert exchange_count(df) == 1
    ops = plan_ops(df)
    assert ops["SortMergeJoin"] == 0
    assert broadcast_join_count(df) >= 1


def test_embedding_quantize_is_map_only(spark, sf_dir):
    """int8 quantization + norm is pure per-row math: zero exchanges, zero
    joins — it must pipeline into the scan at any scale."""
    df = QUERIES["embedding_quantize"](spark, sf_dir)
    assert exchange_count(df) == 0
    ops = plan_ops(df)
    assert ops["SortMergeJoin"] + ops["BroadcastHashJoin"] + ops["ShuffledHashJoin"] == 0


def test_pack_sequences_single_bucket_exchange(spark, sf_dir):
    """Packing shuffles ONCE on the md5 bucket and runs the cumulative
    window scan bucket-parallel — no global sort, no join."""
    df = QUERIES["pack_sequences_2k"](spark, sf_dir)
    assert exchange_count(df) == 1
    ops = plan_ops(df)
    assert ops["SortMergeJoin"] + ops["BroadcastHashJoin"] + ops["ShuffledHashJoin"] == 0


def test_text_repetition_no_join_no_agg_exchange(spark, sf_dir):
    """The in-row bigram mode needs no explode/groupBy: at most the fan_out
    round-robin (a small-fixture no-op at scale), never a keyed exchange or
    join."""
    df = QUERIES["text_repetition"](spark, sf_dir)
    assert exchange_count(df) <= 1
    ops = plan_ops(df)
    assert ops["SortMergeJoin"] + ops["BroadcastHashJoin"] + ops["ShuffledHashJoin"] == 0
    assert ops["HashAggregate"] + ops["SortAggregate"] == 0


def test_agg_salted_skew_two_exchanges_no_join(spark, sf_dir):
    """The salted rewrite costs exactly two exchanges — (key, salt) partial
    then key merge — and must never introduce a join."""
    df = QUERIES["agg_salted_skew"](spark, sf_dir)
    assert exchange_count(df) == 2
    ops = plan_ops(df)
    assert ops["SortMergeJoin"] + ops["BroadcastHashJoin"] + ops["ShuffledHashJoin"] == 0


def test_join_null_safe_stays_hash_join(spark, sf_dir):
    """eqNullSafe keys hash like any other key: the plan must contain a hash
    join and no nested-loop/cartesian fallback."""
    df = QUERIES["join_null_safe"](spark, sf_dir)
    ops = plan_ops(df)
    assert ops["BroadcastHashJoin"] + ops["ShuffledHashJoin"] + ops["SortMergeJoin"] >= 1
    assert ops["BroadcastNestedLoopJoin"] + ops["CartesianProduct"] == 0


def test_pii_redact_is_map_only(spark, sf_dir):
    """PII redaction must fuse into the scan projection: zero exchanges,
    zero joins, zero aggregates — the regex chain is per-row column math."""
    df = QUERIES["text_pii_redact"](spark, sf_dir)
    assert exchange_count(df) == 0
    ops = plan_ops(df)
    assert ops["SortMergeJoin"] + ops["BroadcastHashJoin"] + ops["ShuffledHashJoin"] == 0
    assert ops["HashAggregate"] + ops["SortAggregate"] == 0


def test_tfidf_pushes_topk_into_window(spark, sf_dir):
    """TF-IDF's rank<=3 filter must plan as WindowGroupLimit (per-partition
    top-k retention before the full window materializes); the single-row
    corpus count attaches via broadcast, never a real nested loop over data;
    no global sort anywhere."""
    df = QUERIES["text_tfidf_top_terms"](spark, sf_dir)
    ops = plan_ops(df)
    assert ops["WindowGroupLimit"] >= 1
    assert ops["CartesianProduct"] == 0
    assert exchange_count(df) <= 5  # tf agg, df agg, term join, doc window


def test_heavy_hitters_take_ordered_not_global_sort(spark, sf_dir):
    """Corpus top-k must plan as TakeOrderedAndProject — per-partition local
    top-k merged on the driver — never Sort + Limit over the vocabulary."""
    df = QUERIES["term_heavy_hitters"](spark, sf_dir)
    ops = plan_ops(df)
    assert ops["TakeOrderedAndProject"] == 1
    assert ops["Sort"] == 0


def test_token_length_histogram_single_exchange(spark, sf_dir):
    df = QUERIES["token_length_histogram"](spark, sf_dir)
    assert exchange_count(df) == 1


def test_lang_balanced_corpus_never_shuffles(spark, sf_dir):
    """Temperature rebalancing joins the tiny per-language rate table via
    broadcast: the corpus side must stay shuffle-free (its only exchanges
    belong to the |strata|-row count aggregation), with no sort-merge join
    and no cartesian product."""
    df = QUERIES["sample_lang_balanced"](spark, sf_dir)
    ops = plan_ops(df)
    assert ops["BroadcastHashJoin"] >= 1  # rate table attaches broadcast
    assert ops["SortMergeJoin"] + ops["ShuffledHashJoin"] == 0
    assert ops["CartesianProduct"] == 0


def test_merge_upsert_reuses_agg_partitioning(spark, sf_dir):
    """The MERGE join must reuse the change-batch aggregation's hash
    partitioning: exactly two exchanges (source groupBy + target shuffle),
    one full-outer sort-merge join, no cartesian fallback."""
    df = QUERIES["merge_upsert_customers"](spark, sf_dir)
    assert exchange_count(df) == 2
    ops = plan_ops(df)
    assert ops["SortMergeJoin"] == 1
    assert ops["CartesianProduct"] + ops["BroadcastNestedLoopJoin"] == 0


def test_funnel_single_user_shuffle(spark, sf_dir):
    """The funnel must plan the running-min windows and the per-user
    aggregation on ONE user-key exchange (plus the single-row final
    rollup): exactly 2 exchanges, no self-joins."""
    df = QUERIES["funnel_view_click_purchase"](spark, sf_dir)
    assert exchange_count(df) == 2
    ops = plan_ops(df)
    assert ops["SortMergeJoin"] + ops["BroadcastHashJoin"] + ops["ShuffledHashJoin"] == 0


def test_cohort_retention_reuses_user_partitioning(spark, sf_dir):
    """First-event times attach back to events without re-shuffling the
    event side more than once; no cartesian/nested-loop anywhere."""
    df = QUERIES["cohort_retention_weekly"](spark, sf_dir)
    assert exchange_count(df) <= 3
    ops = plan_ops(df)
    assert ops["CartesianProduct"] + ops["BroadcastNestedLoopJoin"] == 0


def test_chunking_is_explode_only(spark, sf_dir):
    """Context-window chunking must be Project -> Generate -> Project with
    ZERO exchanges — parallelism equals scan parallelism at any corpus
    size — and read only (doc_id, text)."""
    df = QUERIES["chunk_documents_200_50"](spark, sf_dir)
    assert exchange_count(df) == 0
    ops = plan_ops(df)
    assert ops["Generate"] == 1
    (cols,) = scan_columns(df)
    assert set(cols) == {"doc_id", "text"}


def test_strip_high_df_terms_broadcasts_hot_set(spark, sf_dir):
    """df-pruning pipeline: the HOT units (df > cap — rare by definition)
    attach to the exploded corpus via BROADCAST, never a corpus-wide
    shuffle join on unit text; the only wide stages are the df aggregation
    and the doc reassembly."""
    df = QUERIES["strip_high_df_terms"](spark, sf_dir)
    ops = plan_ops(df)
    assert broadcast_join_count(df) >= 1
    assert ops["SortMergeJoin"] + ops["ShuffledHashJoin"] == 0
    assert ops["CartesianProduct"] + ops["BroadcastNestedLoopJoin"] == 0
    assert exchange_count(df) <= 3


def test_anomaly_zscore_single_user_exchange(spark, sf_dir):
    """The trailing z-test is window math on ONE user-keyed exchange —
    no joins, no extra shuffles, scan pruned to the 4 input columns."""
    df = QUERIES["events_anomaly_zscore"](spark, sf_dir)
    assert exchange_count(df) == 1
    ops = plan_ops(df)
    assert ops["SortMergeJoin"] + ops["BroadcastHashJoin"] + ops["ShuffledHashJoin"] == 0
    (cols,) = scan_columns(df)
    assert set(cols) == {"event_id", "user_id", "ts", "value"}


def test_scd2_single_key_exchange(spark, sf_dir):
    """The whole SCD2 build (change flag, segment sum, interval groupBy,
    valid_to lead) must share ONE custkey exchange — hash(custkey)
    satisfies the (custkey, segment) clustering, so no re-shuffle."""
    df = QUERIES["scd2_customer_priority"](spark, sf_dir)
    assert exchange_count(df) == 1
    ops = plan_ops(df)
    assert ops["SortMergeJoin"] + ops["BroadcastHashJoin"] + ops["ShuffledHashJoin"] == 0


def test_runtime_bloom_filter_injects_on_selective_join(spark, sf_dir):
    """100 TB scale check: Spark's runtime bloom-filter injection (on by
    default, gated by size thresholds that only trip on large scans) must
    fire for our fact-join shape — a selective dim side planted as a
    bloom filter on the fact scan cuts shuffle volume before the join.
    Locally we lower the application-side threshold to observe the
    injection; on a cluster the default 10 GB gate makes it automatic."""
    from ibis_flink_example_spark.catalog import load_table
    import pyspark.sql.functions as F

    conf = spark.conf
    saved = {}
    for k in [
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    ]:
        # adaptive.autoBroadcastJoinThreshold defaults to unset (None),
        # which conf.set() rejects on restore — track unset separately
        saved[k] = conf.get(k, None)
    try:
        conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        # logical-plan size estimates over-state the tiny local dim side;
        # on a cluster the default 10 MB creation gate is the right guard
        conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "100MB",
        )
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        lineitem = load_table(spark, sf_dir, "lineitem")
        orders = load_table(spark, sf_dir, "orders").where(
            F.col("o_orderpriority") == "1-URGENT"
        )
        joined = lineitem.join(
            orders, lineitem.l_orderkey == orders.o_orderkey
        ).groupBy("o_orderpriority").count()
        optimized = joined._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in optimized or "bloom_filter" in optimized, (
            "runtime bloom filter did not inject:\n" + optimized[:2000]
        )
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)


def test_data_quality_audit_single_pass(spark, sf_dir):
    """All 10 audit metrics must come from one aggregation pipeline over a
    single scan of the table (multi-distinct via Expand) — never one pass
    per metric."""
    df = QUERIES["data_quality_audit"](spark, sf_dir)
    ops = plan_ops(df)
    assert len(scan_columns(df)) == 1  # one scan of orders
    assert ops["SortMergeJoin"] + ops["BroadcastHashJoin"] + ops["ShuffledHashJoin"] == 0


def test_embedding_centroid_partial_aggs(spark, sf_dir):
    """Centroid build: explode stays in the scan stage; ONE (label, dim)
    exchange with map-side partial sums; no join, no driver data."""
    df = QUERIES["embedding_centroid_by_label"](spark, sf_dir)
    assert exchange_count(df) == 1
    ops = plan_ops(df)
    assert ops["Generate"] == 1
    assert ops["SortMergeJoin"] + ops["BroadcastHashJoin"] + ops["ShuffledHashJoin"] == 0


def test_attribution_single_user_exchange(spark, sf_dir):
    """Last-touch attribution is window math on ONE user-keyed exchange —
    no self-join, no per-purchase subquery; scan pruned to 4 columns."""
    df = QUERIES["attribution_last_touch"](spark, sf_dir)
    assert exchange_count(df) == 1
    ops = plan_ops(df)
    assert ops["SortMergeJoin"] + ops["BroadcastHashJoin"] + ops["ShuffledHashJoin"] == 0
    (cols,) = scan_columns(df)
    assert set(cols) == {"event_id", "user_id", "ts", "event_type"}


def test_zorder_stats_single_agg_pass(spark, sf_dir):
    """Z-order bucket stats: the Morton spread is pure codegen (no UDF,
    no join); one aggregation exchange over one scan."""
    df = QUERIES["zorder_bucket_stats"](spark, sf_dir)
    assert exchange_count(df) == 1
    ops = plan_ops(df)
    assert ops["SortMergeJoin"] + ops["BroadcastHashJoin"] + ops["ShuffledHashJoin"] == 0
    assert len(scan_columns(df)) == 1


def test_rare_bigram_score_reuses_bigram_exchange(spark, sf_dir):
    """Corpus-LM scoring: bigram count + join share the bigram key; with
    the doc rollup that is at most 4 exchanges, no cartesian, one scan
    family."""
    df = QUERIES["doc_rare_bigram_score"](spark, sf_dir)
    ops = plan_ops(df)
    assert ops["CartesianProduct"] + ops["BroadcastNestedLoopJoin"] == 0
    assert exchange_count(df) <= 4


def test_sessionize_single_user_exchange(spark, sf_dir):
    """Gaps-and-islands sessionization shares ONE user-keyed exchange
    across the gap window, the running sum, and the session rollup
    (hash(user) clusters (user, session) for free)."""
    df = QUERIES["sessionize_stats"](spark, sf_dir)
    assert exchange_count(df) == 1
    ops = plan_ops(df)
    assert ops["SortMergeJoin"] + ops["BroadcastHashJoin"] + ops["ShuffledHashJoin"] == 0


def test_dedup_incremental_digest_only_corpus_scan(spark, sf_dir):
    """Ingest-time dedup reads ONLY (doc_id, text) [digest inputs] from
    the corpus side and never plans a cartesian; full incoming rows move
    only for survivors."""
    df = QUERIES["dedup_incremental"](spark, sf_dir)
    ops = plan_ops(df)
    assert ops["CartesianProduct"] + ops["BroadcastNestedLoopJoin"] == 0
    for cols in scan_columns(df):
        assert "text" in cols or set(cols) <= {
            "doc_id", "text", "lang", "source", "n_chars"
        }


def test_market_basket_top_k_no_global_sort(spark, sf_dir):
    """The top-50 pair cut must plan as TakeOrderedAndProject, never a
    global sort of the whole pair space."""
    df = QUERIES["market_basket_pairs"](spark, sf_dir)
    ops = plan_ops(df)
    assert ops["TakeOrderedAndProject"] >= 1
    assert ops["CartesianProduct"] == 0


def test_stats_corr_is_single_exchange_scan_agg(spark, sf_dir):
    """Bivariate moments: one partial-aggregated keyed exchange over one
    pruned scan — no joins, no second pass for the five sums."""
    df = QUERIES["stats_corr_price_qty"](spark, sf_dir)
    ops = plan_ops(df)
    assert ops["BroadcastHashJoin"] + ops["SortMergeJoin"] + ops["ShuffledHashJoin"] == 0
    assert exchange_count(df) == 1
    (cols,) = scan_columns(df)
    assert set(cols) == {"l_returnflag", "l_extendedprice", "l_quantity"}


def test_ab_ttest_is_single_pass(spark, sf_dir):
    """Both variants' moments come from ONE conditional-aggregation pass:
    a single global-agg exchange, no per-variant rescan or join."""
    df = QUERIES["ab_value_ttest"](spark, sf_dir)
    ops = plan_ops(df)
    assert ops["BroadcastHashJoin"] + ops["SortMergeJoin"] + ops["ShuffledHashJoin"] == 0
    assert exchange_count(df) == 1
    (cols,) = scan_columns(df)
    assert set(cols) == {"user_id", "value"}


def test_date_spine_broadcasts_daily_rollup(spark, sf_dir):
    """The daily rollup broadcasts to the preserved spine side (a hint on
    the preserved side of an outer join is silently unusable); the only
    keyed exchange is the rollup's own."""
    df = QUERIES["date_spine_daily_revenue"](spark, sf_dir)
    assert broadcast_join_count(df) >= 1
    assert plan_ops(df)["SortMergeJoin"] == 0


def test_unigram_surprisal_shuffles_counts_not_text(spark, sf_dir):
    """Vocab join + doc rollup: text never reshuffles — every exchange
    carries (id/term, count)-shaped rows only; no cartesian ops."""
    df = QUERIES["doc_unigram_surprisal"](spark, sf_dir)
    ops = plan_ops(df)
    assert ops["CartesianProduct"] == 0
    # explode -> (vocab agg) + (total agg, broadcast) + (term join) +
    # (doc rollup): bounded exchange count, and NO Sort anywhere — the
    # join/aggs are hash-based, so a Sort appearing means a plan
    # regression (e.g. the vocab join degrading to sort-merge at fixture
    # scale or an accidental orderBy)
    assert exchange_count(df) <= 4
    assert ops["Sort"] == 0


def test_dpp_prunes_fact_partitions(spark, sf_dir):
    """Dynamic partition pruning, proven at RUNTIME: the month-partitioned
    fact scan must carry a dynamicpruningexpression in its PartitionFilters
    AND its executed metrics must show partitions-read << total partition
    files (a plan-string check alone could pass while pruning silently
    no-ops). 1996-Q2 = 3 of ~80 month partitions."""
    from ibis_flink_example_spark.plans import executed_scan_metrics, formatted_plan
    from ibis_flink_example_spark.queries_warehouse import dpp_partitioned_orders_impl

    df = dpp_partitioned_orders_impl(spark, sf_dir)
    assert "dynamicpruning" in formatted_plan(df)
    df.collect()
    scans = executed_scan_metrics(df)
    fact_scans = [m for m in scans if "staticFilesNum" in m]
    assert fact_scans, f"no partition-pruned scan found in {scans}"
    m = fact_scans[0]
    assert m["numPartitions"] == 3, m
    assert m["staticFilesNum"] >= 20, m  # ~80 months in the fixture
    assert m["numFiles"] < m["staticFilesNum"], m


def test_bucketed_order_sizes_single_exchange(spark, sf_dir):
    """The registered bucketed co-located join query: both scans bucketed,
    the fact-fact join AND the per-order aggregation exchange-free on the
    bucket layout — the ONLY Exchange is the final histogram reduce over
    ~7 distinct order sizes."""
    from ibis_flink_example_spark.plans import exchange_count, formatted_plan, plan_ops
    from ibis_flink_example_spark.queries_warehouse import bucketed_order_sizes_impl

    df = bucketed_order_sizes_impl(spark, sf_dir)
    plan = formatted_plan(df)
    assert plan.count("Bucketed: true") == 2, plan
    assert plan_ops(df)["SortMergeJoin"] == 1
    assert exchange_count(df) == 1, plan


def test_lateral_join_decorrelates_to_group_limit(spark, sf_dir):
    """The LATERAL correlated subquery must NOT plan |nation| re-scans of
    customer: Catalyst decorrelates it to ONE customer scan + a
    partitioned WindowGroupLimit (the same shape as the rank-filter
    idiom), with the tiny nation side broadcast."""
    from ibis_flink_example_spark.plans import plan_ops
    from ibis_flink_example_spark.queries import QUERIES

    df = QUERIES["lateral_top_customers"](spark, sf_dir)
    ops = plan_ops(df)
    assert ops["Scan"] == 2, ops  # nation once + customer once
    assert ops["WindowGroupLimit"] >= 1, ops
    assert ops["BroadcastHashJoin"] == 1, ops


def test_chisq_single_events_scan(spark, sf_dir):
    """chisq_event_dow's only at-scale cost is ONE events scan: margins
    come from windows over the tiny cell table and dof from the same
    final aggregation — a second scan (the pre-review shape: a separate
    cells.agg() subtree) would double the 100 TB cost."""
    from ibis_flink_example_spark.plans import formatted_plan
    from ibis_flink_example_spark.queries import QUERIES

    df = QUERIES["chisq_event_dow"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "events.parquet" in plan
    # exactly one scan node in the whole plan (position-independent: node
    # numbering shifts with benign plan-shape changes)
    import re

    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan


def test_keep_best_single_digest_exchange(spark, sf_dir):
    """Keep-best dedup: the rank and the cluster-size windows must share
    ONE digest exchange, and survivor selection is window-based — never a
    groupBy+self-join back onto the input."""
    df = QUERIES["dedup_keep_best"](spark, sf_dir)
    assert exchange_count(df) == 1
    ops = plan_ops(df)
    assert (
        ops["SortMergeJoin"] + ops["BroadcastHashJoin"] + ops["ShuffledHashJoin"]
        == 0
    )


def test_key_skew_profile_counts_of_counts(spark, sf_dir):
    """Skew profile: exactly three exchanges — per-key agg, counts-of-counts
    agg, event_type window — with the final rollup reusing the window's
    partitioning, and no join anywhere. The cumulative window must run on
    the collapsed histogram, which is what keeps the profile runnable on
    the table it profiles."""
    df = QUERIES["key_skew_profile"](spark, sf_dir)
    assert exchange_count(df) == 3
    ops = plan_ops(df)
    assert (
        ops["SortMergeJoin"] + ops["BroadcastHashJoin"] + ops["ShuffledHashJoin"]
        == 0
    )


def test_winsorized_cuts_broadcast_back(spark, sf_dir):
    """Winsorized stats: the |groups|-row cut table must BROADCAST back
    onto the value rows (never shuffle the fact side a second time for
    the clamp join): ≥1 broadcast hash join, ≤2 shuffle exchanges (rank
    window + final agg; the clamp agg reuses partitioning)."""
    ops = plan_ops(QUERIES["stats_winsorized_value"](spark, sf_dir))
    assert ops["BroadcastHashJoin"] >= 1
    assert ops["Exchange"] <= 2, ops


def test_manifest_planners_single_exchange(spark, sf_dir):
    """Compaction planning and token-budget selection each run their
    whole window+rollup pipeline on ONE keyed exchange (source / lang)."""
    for name in ("file_compaction_plan", "token_budget_selection"):
        assert exchange_count(QUERIES[name](spark, sf_dir)) == 1, name


def test_scd2_point_in_time_is_keyed_join(spark, sf_dir):
    """The PIT interval join must plan as equi-joins on keys with the
    interval predicate as residual — any nested-loop/cartesian fallback
    means the join keys were lost and the plan is quadratic at scale."""
    ops = plan_ops(QUERIES["scd2_point_in_time"](spark, sf_dir))
    assert ops.get("BroadcastNestedLoopJoin", 0) == 0
    assert ops.get("CartesianProduct", 0) == 0
    assert (
        ops["SortMergeJoin"] + ops["BroadcastHashJoin"] + ops["ShuffledHashJoin"]
        >= 2
    )


def test_rollup_hierarchy_reuses_daily_exchange(spark, sf_dir):
    """The day->week->month hierarchy must compute the daily aggregation
    ONCE: after execution the adaptive plan feeds the weekly and monthly
    branches from ReusedExchange over the daily shuffle instead of
    re-scanning orders three times. (Static explain shows 5 exchanges —
    reuse resolves at runtime under AQE, so this asserts the EXECUTED
    plan.)"""
    df = QUERIES["rollup_reuse_hierarchy"](spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ReusedExchange") >= 2, plan[:2000]


def test_aqe_splits_skewed_sort_merge_join(spark):
    """100 TB skew posture, runtime-proven: with the session's AQE skew
    handling (session.py pins skewJoin.enabled) and thresholds scaled
    down to fixture size, a sort-merge join against a key holding ~99%
    of the rows must execute with the skewed partition SPLIT (the SMJ
    node reports skew=true), not as one straggler task. Conf goes on a
    conf-isolated clone — never the shared session."""
    from ibis_flink_example_spark.session import apply_session_conf

    s = spark.newSession()
    apply_session_conf(s)
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.0")
    s.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB"
    )
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
    left = s.range(0, 200_000).select(
        F.when(F.col("id") % 100 == 0, F.col("id") % 7).otherwise(F.lit(0))
        .alias("k"),
        F.concat(F.lit("payload-payload-payload-"), F.col("id").cast("string"))
        .alias("v"),
    )
    right = s.range(0, 7).select(
        F.col("id").alias("k"), F.col("id").alias("dim")
    )
    # keyless aggregate downstream: a groupBy(k) AFTER the join would
    # require hash(k) distribution and AQE would (correctly) refuse to
    # split the skewed partition rather than break it — itself a
    # scale lesson: skew splitting only applies where the join output
    # needs no particular partitioning.
    # max(length(v)) keeps the payload column alive through column
    # pruning — with only the constant join key shuffling, the skewed
    # partition compresses below any byte threshold and the skew
    # detector (correctly) sees nothing to split
    joined = left.join(right, "k").agg(
        F.count(F.lit(1)).alias("n"), F.max(F.length("v")).alias("w")
    )
    assert joined.collect()[0]["n"] == 200_000
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "skew=true" in plan, plan[:2000]


def test_weighted_median_counts_of_counts(spark, sf_dir):
    """Weighted median: the cumulative window must run over the DISTINCT
    price points (counts-of-counts collapse) — two exchanges (price-point
    agg + flag window), no join, nothing row-level under a window."""
    df = QUERIES["weighted_median_price"](spark, sf_dir)
    assert exchange_count(df) == 2
    ops = plan_ops(df)
    assert (
        ops["SortMergeJoin"] + ops["BroadcastHashJoin"] + ops["ShuffledHashJoin"]
        == 0
    )


def test_cusum_two_windows_one_scan(spark, sf_dir):
    """CUSUM: the prefix-minus-running-min identity plans as windows over
    the daily rollup plus the whitelisted one-row scalar broadcast — the
    detector must never add a second scan of orders."""
    df = QUERIES["cusum_revenue_shift"](spark, sf_dir)
    ops = plan_ops(df)
    assert ops["Window"] == 2, ops
    assert ops["Scan"] <= 2, ops  # orders once + the reused rollup subtree


def test_quantile_normalize_group_windows_stay_parallel(spark, sf_dir):
    """Quantile normalization: the group-side rank windows must run under
    hash(event_type) partitioning — the total count arrives as a one-row
    scalar broadcast, NOT a COUNT(*) OVER () whose SinglePartition
    exchange would trivially satisfy the event_type clustering and
    serialize the whole group side onto one task (r7 review finding).
    The one legitimate single-partition pass is the global rank mapping
    (percentile_disc posture)."""
    from ibis_flink_example_spark.plans import formatted_plan

    plan = formatted_plan(QUERIES["quantile_normalize_value"](spark, sf_dir))
    assert plan.count("hashpartitioning(event_type") >= 1, plan[:1500]
    assert plan.count("Exchange SinglePartition") <= 1, plan[:1500]


def test_bm25_dl_semi_reduced_before_scoring_join(spark, sf_dir):
    """VERDICT r8: the corpus-sized doc-length table must be semi-join-
    reduced to MATCHED doc ids before the tf⋈dl scoring join — a
    broadcast LEFT SEMI directly above the dl aggregation, so
    non-matching docs never cross that join — and with the matched set
    under budget every join in the query is broadcast (tf is
    checkpointed and stat-less, so the hints must hold it together)."""
    import re

    from ibis_flink_example_spark.plans import formatted_plan

    df = QUERIES["bm25_topk_docs"](spark, sf_dir)
    plan = formatted_plan(df)
    ops = plan_ops(df)
    assert "LeftSemi" in plan, plan[:2000]
    assert ops["SortMergeJoin"] + ops["ShuffledHashJoin"] == 0
    # semi probe + df join + scoring join + scalar cross joins all broadcast
    assert ops["BroadcastHashJoin"] >= 3
    # the LeftSemi is a BROADCAST semi (matched ids under budget here)
    assert re.search(r"BroadcastHashJoin[^\n]*\n(.|\n)*LeftSemi", plan)


def test_calibration_single_counts_exchange(spark, sf_dir):
    """Reliability bins are counts-of-counts: ONE aggregation exchange
    whose rows are (bin, sums) — row-level data never shuffles — and the
    scan reads only the two consumed columns."""
    df = QUERIES["lang_score_calibration"](spark, sf_dir)
    assert exchange_count(df) == 1
    (cols,) = scan_columns(df)
    assert set(cols) == {"text", "lang"}


def test_neardup_state_bucketed_join_saves_state_exchange(spark):
    """The streaming near-dup ingest appends its shingle state BUCKETED on
    the probe key so the corpus-sized state never reshuffles per batch —
    pinned relatively: the same probe against an identical unbucketed
    state pays exactly one more shuffle exchange (the state side), and
    the bucketed scan advertises itself in the plan."""
    from ibis_flink_example_spark.catalog import drop_table_and_location
    from ibis_flink_example_spark.operators.dedup import shingle_match_ids
    from ibis_flink_example_spark.plans import exchange_count, formatted_plan

    tb, tu = "audit_neardup_sh_bucketed", "audit_neardup_sh_plain"
    for t in (tb, tu):
        drop_table_and_location(spark, t)
    sh = spark.createDataFrame(
        [(i, (i * 7 + j) % 23) for i in range(40) for j in range(5)],
        "doc_id long, shingle long",
    )
    sh.write.bucketBy(8, "shingle").sortBy("shingle").saveAsTable(tb)
    sh.write.saveAsTable(tu)
    sizes = sh.groupBy("doc_id").count().withColumnRenamed("count", "n_shingles")
    batch = spark.createDataFrame(
        [(1000, 3), (1000, 10), (1001, 4)], "doc_id long, shingle long"
    )
    # tiny test frames would broadcast (hiding bucketing entirely); at
    # corpus scale the state side is far beyond any broadcast threshold,
    # so pin the SMJ regime explicitly
    conf = spark.conf
    saved = conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        out_b = shingle_match_ids(
            batch, spark.table(tb), id_col="doc_id", pool_sizes=sizes
        )
        out_u = shingle_match_ids(
            batch, spark.table(tu), id_col="doc_id", pool_sizes=sizes
        )
        assert "Bucketed: true" in formatted_plan(out_b)
        assert exchange_count(out_b) == exchange_count(out_u) - 1
    finally:
        conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
        for t in (tb, tu):
            drop_table_and_location(spark, t)


def test_pps_prefix_sum_is_two_level(spark, sf_dir):
    """The PPS sampler's prefix sum must be the two-level bucketed scan:
    the ONLY SinglePartition exchange feeds the (tiny) bucket-rollup
    windows, never the document frame; the doc-side window is partitioned
    by bucket; the scan reads only (doc_id, n_chars); stride assignment
    adds no join beyond the bucket-offset join."""
    import re

    from ibis_flink_example_spark.plans import formatted_plan

    df = QUERIES["pps_systematic_sample"](spark, sf_dir)
    plan = formatted_plan(df)
    # formatted mode puts the partitioning in the Exchange's Arguments
    # detail line; exactly one SinglePartition may appear (the bucket
    # rollup's offset/total windows), never a second one over docs
    assert len(re.findall(r"SinglePartition", plan)) == 1
    # two pruned scans by design (doc leg + bucket-rollup leg), both
    # reading ONLY the 16 bytes/row the sampler needs
    scans = scan_columns(df)
    assert len(scans) == 2
    assert all(set(c) == {"doc_id", "n_chars"} for c in scans)
    ops = plan_ops(df)
    assert ops["SortMergeJoin"] + ops["ShuffledHashJoin"] == 0
    assert ops["Generate"] == 1  # the in-row stride explode


def test_rendezvous_plan_is_map_plus_one_rollup(spark, sf_dir):
    """The per-row argmax over shard hashes must stay a scan-stage
    expression — no explode of (row, shard) pairs, no join; the only
    exchange is the 16-group rollup; scan pruned to the two inputs."""
    df = QUERIES["rendezvous_shard_plan"](spark, sf_dir)
    ops = plan_ops(df)
    assert exchange_count(df) == 1
    assert ops["Generate"] == 0
    assert ops["SortMergeJoin"] + ops["BroadcastHashJoin"] + ops["ShuffledHashJoin"] == 0
    (cols,) = scan_columns(df)
    assert set(cols) == {"doc_id", "n_chars"}


def test_posting_lists_windowgrouplimit_and_topk(spark, sf_dir):
    """The per-term posting cut must plan as WindowGroupLimit and term
    selection as TakeOrderedAndProject — never a global sort of the
    posting stream; selected terms broadcast back."""
    df = QUERIES["posting_lists_top_terms"](spark, sf_dir)
    ops = plan_ops(df)
    assert ops["WindowGroupLimit"] >= 1
    assert ops["TakeOrderedAndProject"] >= 1
    assert ops["SortMergeJoin"] == 0
    assert broadcast_join_count(df) >= 1
    # the stats leg and the posting stream share ONE tf subtree — the
    # corpus tokenize + (doc, term) shuffle must run once, resolved as a
    # runtime ReusedExchange (the rollup_reuse_hierarchy idiom: static
    # explain shows duplicated subtrees, reuse resolves under AQE)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert executed.count("ReusedExchange") >= 1, executed[:2000]


def test_blockhash_is_map_only(spark, sf_dir):
    """blockhash_signatures is a pure per-row function and must plan as
    one: ZERO exchanges, zero joins, zero explodes — the whole signature
    (block sums via in-row slice aggregates, bit packing) pipelines into
    the scan, which reads only (doc_id, text, n_chars) (the media
    framing's inputs)."""
    df = QUERIES["image_blockhash_signatures"](spark, sf_dir)
    ops = plan_ops(df)
    assert exchange_count(df) == 0
    assert (
        ops["SortMergeJoin"] + ops["ShuffledHashJoin"] + ops["BroadcastHashJoin"] == 0
    )
    assert ops["Generate"] == 0
    (cols,) = scan_columns(df)
    assert set(cols) <= {"doc_id", "text", "n_chars"}


def test_epoch_shuffle_single_window_exchange(spark, sf_dir):
    """epoch_shuffle_plan: epoch fan-out and the rendezvous argmax are
    scan-stage row expressions (one Generate, no join, no per-(row, shard)
    explosion); the ONLY exchange is the (epoch, shard)-keyed numbering
    window — and it is keyed, not SinglePartition."""
    from ibis_flink_example_spark.plans import formatted_plan

    df = QUERIES["epoch_shuffle_plan"](spark, sf_dir)
    ops = plan_ops(df)
    assert exchange_count(df) == 1
    assert ops["SortMergeJoin"] + ops["ShuffledHashJoin"] + ops["BroadcastHashJoin"] == 0
    assert ops["Generate"] == 1  # the epoch sequence explode
    assert "SinglePartition" not in formatted_plan(df)
    (cols,) = scan_columns(df)
    assert set(cols) == {"doc_id"}


def test_roc_collapses_before_windows(spark, sf_dir):
    """Both ROC operators must collapse the corpus to the distinct-score
    frame FIRST (one keyed exchange with map-side combine); the cumulative
    windows and the final rollup then run over that bounded frame (their
    SinglePartition exchanges sit above the score-keyed collapse, fed by
    <= |score domain| rows)."""
    import re

    from ibis_flink_example_spark.plans import formatted_plan

    for name, extra_cols in (
        ("roc_auc_lang_score", set()),
        ("roc_threshold_sweep", set()),
        ("pr_average_precision", set()),
        ("roc_auc_by_source", {"source"}),
    ):
        df = QUERIES[name](spark, sf_dir)
        plan = formatted_plan(df)
        # a score-keyed hash exchange below the window stack (grouped arm
        # keys on (source, score))
        assert (
            len(re.findall(r"hashpartitioning\((source#\d+, )?score", plan)) >= 1
        ), name
        ops = plan_ops(df)
        assert (
            ops["SortMergeJoin"] + ops["ShuffledHashJoin"] + ops["BroadcastHashJoin"]
            == 0
        ), name
        (cols,) = scan_columns(df)
        assert set(cols) == {"text", "lang"} | extra_cols, name
        if extra_cols:
            # grouped windows must partition by the group — never a
            # SinglePartition over the per-group frames
            assert "SinglePartition" not in plan, name


def test_mixture_schedule_two_level_shape(spark, sf_dir):
    """mixture_schedule must keep the per-source rank two-level: the
    doc-side window exchanges on (source, bucket) — never on source alone
    (a dominant source would serialize through one partition) — and the
    tiny counts frame comes back as a BROADCAST join; both scans pruned
    to (doc_id, source)."""
    from ibis_flink_example_spark.plans import formatted_plan

    df = QUERIES["mixture_schedule"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "hashpartitioning(source, __bkt" in plan.replace("#", " #").replace(
        "source#", "source"
    ) or "__bkt" in plan  # bucket key present in the doc-side exchange
    ops = plan_ops(df)
    assert ops["BroadcastHashJoin"] == 1
    assert ops["SortMergeJoin"] + ops["ShuffledHashJoin"] == 0
    assert "SinglePartition" not in plan
    for cols in scan_columns(df):
        assert set(cols) == {"doc_id", "source"}


def test_zorder_plan_is_scan_plus_one_rollup(spark, sf_dir):
    """Morton key assignment must stay scan-stage bit math: no
    shuffled join, no sort of the fact side; the exchanges are the
    one-row (xmax, ymax) scalar aggregate (+ its broadcast) and the
    64-group rollup. Every scan reads only the two clustering inputs."""
    df = QUERIES["zorder_layout_plan"](spark, sf_dir)
    ops = plan_ops(df)
    assert ops["SortMergeJoin"] + ops["ShuffledHashJoin"] + ops["BroadcastHashJoin"] == 0
    # the scalar attach is a one-row BroadcastNestedLoopJoin (whitelisted)
    assert ops["BroadcastNestedLoopJoin"] == 1
    # rollup exchange + the one-row max agg's SinglePartition exchange +
    # its broadcast exchange — nothing else
    assert exchange_count(df) <= 3
    for cols in scan_columns(df):
        assert set(cols) == {"o_custkey", "o_orderdate"}


def test_substring_runs_is_windows_plus_colocated_rollups(spark, sf_dir):
    """dedup_substring_runs must never join and never re-exchange after
    the windows: zero joins; exchanges are exactly the doc-partition
    gram window, the hash-partition dup-count window, and the
    doc-partition island windows (3) — the three rollups extend the doc
    key, so they ride the existing partitioning. Scan reads only
    (doc_id, text)."""
    df = QUERIES["dedup_substring_runs"](spark, sf_dir)
    ops = plan_ops(df)
    assert (
        ops["SortMergeJoin"] + ops["ShuffledHashJoin"] + ops["BroadcastHashJoin"] == 0
    )
    assert exchange_count(df) == 3
    for cols in scan_columns(df):
        assert set(cols) <= {"doc_id", "text"}


def test_tokenizer_fertility_is_map_plus_one_rollup(spark, sf_dir):
    """The closed-form replace chain is pure per-row JVM work: zero
    joins, zero Generate, ONE exchange (the language rollup with
    map-side partials); no Python anywhere."""
    df = QUERIES["tokenizer_fertility_by_lang"](spark, sf_dir)
    ops = plan_ops(df)
    assert exchange_count(df) == 1
    assert (
        ops["SortMergeJoin"] + ops["ShuffledHashJoin"] + ops["BroadcastHashJoin"] == 0
    )
    assert ops["Generate"] == 0
    (cols,) = scan_columns(df)
    assert set(cols) <= {"lang", "text"}


def test_mixture_quality_occupancy_collapses_before_branching(spark, sf_dir):
    """The corpus collapses to (source, score) cells ONCE; the decile map
    and the final rollup both branch off that aggregation, resolved as a
    runtime ReusedExchange under AQE (one corpus pass, not two). The
    decile map joins onto the DOMAIN-sized cells frame (broadcast), never
    back onto per-doc rows; no shuffled join anywhere."""
    df = QUERIES["mixture_quality_occupancy"](spark, sf_dir)
    ops = plan_ops(df)
    assert ops["SortMergeJoin"] + ops["ShuffledHashJoin"] == 0
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert executed.count("ReusedExchange") >= 1, executed[:2000]


def test_phash_capped_plan_matches_uncapped_shape(spark, sf_dir):
    """The production-shaped capped arm keeps the audited LSH shape: the
    signature stage pipelines into the scan, pair generation is an
    equi-join on (chunk_idx, chunk) — never CartesianProduct/BNLJ — and
    the hot-bucket cap's count is computed per key (window or agg), not
    via any global collect."""
    df = QUERIES["image_phash_neardup_pairs_capped"](spark, sf_dir)
    ops = plan_ops(df)
    assert ops["CartesianProduct"] == 0
    assert ops["BroadcastNestedLoopJoin"] == 0
    assert (
        ops["SortMergeJoin"] + ops["ShuffledHashJoin"] + ops["BroadcastHashJoin"] >= 1
    )


def test_poisson_bootstrap_fan_out_and_codegen_draw(spark, sf_dir):
    """The r11 plan defect must stay fixed: the x40 replicate fan-out
    runs on a fan_out-widened scan (RoundRobinPartitioning exchange —
    on the single-split fixture the explode would otherwise run as ONE
    task), and the u-draw is a plain projected expression (no
    higher-order-function filter that would inline the md5 per threshold
    term and drop the Project out of whole-stage codegen)."""
    df = QUERIES["poisson_bootstrap_mean_ci"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "RoundRobinPartitioning" in plan
    assert "ArrayFilter" not in plan and "LambdaFunction" not in plan
    ops = plan_ops(df)
    assert ops["Generate"] >= 1  # the replicate explode
    assert ops["CartesianProduct"] == 0


def test_substring_attribution_is_capped_hash_join_plus_windows(spark, sf_dir):
    """dedup_substring_attribution: pair generation must be the
    hash-keyed occurrence equi-join (>= 1 shuffled/broadcast join, never
    CartesianProduct/BNLJ); the islands ride (id_a, id_b, diag)
    partition windows; the scan reads only (doc_id, text)."""
    df = QUERIES["dedup_substring_attribution"](spark, sf_dir)
    ops = plan_ops(df)
    assert ops["CartesianProduct"] == 0
    assert ops["BroadcastNestedLoopJoin"] == 0
    assert (
        ops["SortMergeJoin"] + ops["ShuffledHashJoin"] + ops["BroadcastHashJoin"] >= 1
    )
    for cols in scan_columns(df):
        assert set(cols) <= {"doc_id", "text"}


def test_contamination_leaderboard_broadcasts_eval_grams(spark, sf_dir):
    """contamination_leaderboard: under the gram budget the eval-gram
    probe joins as a BROADCAST onto the training gram explode (the
    training side must not shuffle per gram); rollups are domain-sized.
    The only nested-loop join is the <= 2-row eval-set crossJoin
    (whitelisted in tests/oracle.py BNLJ_ALLOWED)."""
    df = QUERIES["contamination_leaderboard"](spark, sf_dir)
    ops = plan_ops(df)
    assert ops["BroadcastHashJoin"] >= 1
    assert ops["CartesianProduct"] == 0
    for cols in scan_columns(df):
        assert set(cols) <= {"doc_id", "source", "text"}


def test_shard_manifest_is_one_window_plus_colocated_rollup(spark, sf_dir):
    """shard_file_manifest: the HRW argmax and per-doc digest are
    scan-stage expressions — zero joins; ONE exchange (the shard-keyed
    numbering window), with the file rollup riding the same
    partitioning; the scan reads only the three inputs."""
    df = QUERIES["shard_file_manifest"](spark, sf_dir)
    ops = plan_ops(df)
    assert (
        ops["SortMergeJoin"] + ops["ShuffledHashJoin"] + ops["BroadcastHashJoin"] == 0
    )
    assert exchange_count(df) == 1
    (cols,) = scan_columns(df)
    assert set(cols) == {"doc_id", "text", "n_chars"}


def test_minhash_ingest_band_cap_headroom():
    """streaming_minhash_neardup_ingest caps band buckets at 50k rows but
    its arrival-prefix oracle deliberately does not model the cap
    (ADVICE r12): the premise is that the WHOLE band pool (8 rows/doc)
    stays under the cap at every verification SF, so no single bucket
    can ever reach it even fully degenerate. Pin that premise — a
    fixture refresh that grows documents to 6,250+ rows must fail HERE,
    not as a silent engine/oracle divergence. (sf0.1 is already at
    5,000 docs = 40k band rows, so no slack factor is applied.)"""
    import os

    import pyarrow.parquet as pq

    cap = 50_000
    checked = 0
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        p = f"/root/testdata/{sf}/documents.parquet"
        if not os.path.exists(p):
            continue
        n_docs = pq.read_metadata(p).num_rows
        assert 8 * n_docs < cap, (
            f"{sf}: band pool {8 * n_docs} rows can now fill a single "
            "band bucket past the 50k cap — mirror the cap in "
            "_minhash_ingest_oracle before the fixtures grow further"
        )
        checked += 1
    assert checked >= 2


def test_minhash_ingest_state_tables_bucketed_and_folded(spark, sf_dir):
    """streaming_minhash_neardup_ingest's state tables must BOTH be
    bucketed on their join keys, with bucket-ALIGNED appends (one file
    per bucket per batch — a misaligned bucketed write emits
    tasks x buckets files and was measured 2.5x slower to append and to
    re-read), and the per-doc shingle counts must ride the band rows
    (VERDICT r12 #2a: the separate, unbucketed sizes table is gone)."""
    import glob
    import os

    QUERIES["streaming_minhash_neardup_ingest"](spark, sf_dir).collect()
    expect = {
        "minhash_ingest_seen_sh": "shingle",
        "minhash_ingest_seen_bands": "band_key",
    }
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    # Derive the arrival-batch count from the band state's arrival tags
    # instead of hardcoding 4: a fixture change that alters the
    # mtime-ordered batching must not fail this test for a non-alignment
    # reason, and a misaligned write at fewer batches must not hide under
    # a fixed ceiling (ADVICE r13). (The former separate results table is
    # gone — accepted flags ride the band rows since r15.)
    n_batches = (
        spark.table("minhash_ingest_seen_bands")
        .select("arr")
        .distinct()
        .count()
    )
    assert n_batches >= 1
    for table, key in expect.items():
        rows = {
            r.col_name: str(r.data_type)
            for r in spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
        }
        assert key in rows.get("Bucket Columns", ""), (table, rows.get("Bucket Columns"))
        n_files = len(
            glob.glob(os.path.join(warehouse, table, "**", "*.parquet"), recursive=True)
        )
        assert n_files <= n_batches * 8, (table, n_files, n_batches)
    band_cols = {f.name for f in spark.table("minhash_ingest_seen_bands").schema}
    assert "n_shingles" in band_cols
    assert "accepted" in band_cols  # r15 fold: results ride the band rows
    assert not spark.catalog.tableExists("minhash_ingest_seen_sizes")
    assert not spark.catalog.tableExists("minhash_ingest_results")


def test_minhash_ingest_state_compaction_roundtrip(spark, sf_dir):
    """The maintenance pass applied to REAL ingest state (VERDICT r14
    'What's missing' #3): after the 4-batch replay each bucketed state
    table holds one file per bucket per batch; compaction collapses each
    to one file per bucket, the read-back is row-for-row identical, and
    the tables stay consumable (bucket columns intact) — the periodic
    pass that keeps months of micro-batch appends readable at 100 TB."""
    from ibis_flink_example_spark.operators.maintenance import (
        bucket_file_manifest,
        compact_bucketed_state_table,
    )

    QUERIES["streaming_minhash_neardup_ingest"](spark, sf_dir).collect()
    for table, key in (
        ("minhash_ingest_seen_sh", "shingle"),
        ("minhash_ingest_seen_bands", "band_key"),
    ):
        before = sorted(map(tuple, spark.table(table).collect()))
        files_before = len(bucket_file_manifest(spark, table))
        assert files_before > 8, (table, files_before)
        stats = compact_bucketed_state_table(
            spark, table, bucket_col=key, n_buckets=8, sort_col=key
        )
        assert stats["compacted"], (table, stats)
        assert stats["files_after"] == 8, (table, stats)
        after = sorted(map(tuple, spark.table(table).collect()))
        assert after == before, table
        desc = {
            r.col_name: str(r.data_type)
            for r in spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
        }
        assert key in desc.get("Bucket Columns", ""), (table, desc)


def test_url_domain_curation_single_exchange_broadcast_blocklist(spark, sf_dir):
    """URL synthesis + host extraction fuse into the scan; ONE exchange
    (the host window — the rollup rides it); the blocklist attaches as a
    broadcast; only the three input columns are read."""
    df = QUERIES["url_domain_curation"](spark, sf_dir)
    assert exchange_count(df) == 1
    ops = plan_ops(df)
    assert ops["SortMergeJoin"] + ops["ShuffledHashJoin"] == 0
    assert broadcast_join_count(df) >= 1
    for cols in scan_columns(df):
        assert set(cols) <= {"doc_id", "n_chars", "source"}


def test_sequence_packing_bins_single_exchange_no_join(spark, sf_dir):
    """Packing shuffles ONCE on (bucket, shard); the per-bin rollup rides
    the window partitioning (its keys are a superset); no joins."""
    df = QUERIES["sequence_packing_bins"](spark, sf_dir)
    assert exchange_count(df) == 1
    ops = plan_ops(df)
    assert (
        ops["SortMergeJoin"] + ops["BroadcastHashJoin"] + ops["ShuffledHashJoin"] == 0
    )
    for cols in scan_columns(df):
        assert set(cols) <= {"doc_id", "text"}


def test_semdedup_lsh_no_cartesian_equi_candidates(spark, sf_dir):
    """The LSH candidate stage must stay a (table, bucket) equi-join at
    every stage — an accidental all-pairs product here is the classic
    100 TB killer; the verify joins are id-keyed hash joins."""
    for name in ("semdedup_lsh", "semdedup_lsh_recall"):
        df = QUERIES[name](spark, sf_dir)
        ops = plan_ops(df)
        assert ops["CartesianProduct"] == 0, name


def test_waterfill_single_rollup_exchange(spark, sf_dir):
    """The only data-sized stage is the per-source rollup; everything
    downstream is windows over the |sources|-row frame. One exchange for
    the rollup plus the domain-frame single-partition exchanges — and
    never a join."""
    df = QUERIES["mixture_waterfill_allocation"](spark, sf_dir)
    ops = plan_ops(df)
    assert (
        ops["SortMergeJoin"] + ops["BroadcastHashJoin"] + ops["ShuffledHashJoin"] == 0
    )
    for cols in scan_columns(df):
        assert set(cols) <= {"source", "text", "n_chars"}


def test_prefix_cache_sharing_one_digest_exchange(spark, sf_dir):
    """Prefix slice + md5 fuse into the scan; one digest-keyed exchange;
    no joins (the planted union is a scan-union, not a join)."""
    df = QUERIES["prefix_cache_sharing"](spark, sf_dir)
    assert exchange_count(df) == 1
    ops = plan_ops(df)
    assert (
        ops["SortMergeJoin"] + ops["BroadcastHashJoin"] + ops["ShuffledHashJoin"] == 0
    )
    for cols in scan_columns(df):
        assert set(cols) <= {"doc_id", "text"}


def test_dpo_pair_assembly_single_exchange(spark, sf_dir):
    """Score + bucket fuse into the scan; one (lang, len_bucket) window
    exchange; the pair rollup rides the same partitioning; no joins."""
    df = QUERIES["dpo_pair_assembly"](spark, sf_dir)
    assert exchange_count(df) == 1
    ops = plan_ops(df)
    assert (
        ops["SortMergeJoin"] + ops["BroadcastHashJoin"] + ops["ShuffledHashJoin"] == 0
    )
    for cols in scan_columns(df):
        assert set(cols) <= {"doc_id", "lang", "text"}


def test_kmeans_assignment_is_map_only(spark, sf_dir):
    """Broadcast-Lloyd contract: the RETURNED assignment plan is one
    map-only codegen scan — centroids are baked in as literals, so no
    join, no exchange, and the scan reads only (vec_id, embedding). The
    per-iteration update aggregations execute during construction and
    are each one k-row agg; the final frame must not re-plan them."""
    df = QUERIES["kmeans_assign_embeddings"](spark, sf_dir)
    assert exchange_count(df) == 0
    ops = plan_ops(df)
    assert (
        ops["SortMergeJoin"]
        + ops["BroadcastHashJoin"]
        + ops["ShuffledHashJoin"]
        + ops["CartesianProduct"]
        + ops["BroadcastNestedLoopJoin"]
        == 0
    )
    for cols in scan_columns(df):
        assert set(cols) <= {"vec_id", "embedding"}


def test_semdedup_kmeans_no_cartesian(spark, sf_dir):
    """The trained-blocking SemDeDup arm: within-cluster pairs must form
    via the (cluster_id) equi self-join — an all-pairs product here is
    the 100 TB killer the blocking exists to prevent."""
    df = QUERIES["semdedup_kmeans"](spark, sf_dir)
    ops = plan_ops(df)
    assert ops["CartesianProduct"] + ops["BroadcastNestedLoopJoin"] == 0


def test_sequence_packing_bpe_single_exchange_no_join(spark, sf_dir):
    """The tokenizer-true packing variant keeps the sibling's shape: the
    fixed-merge replace chain fuses into the scan, ONE exchange (the
    (bucket, shard) window; rollup rides it), no joins."""
    df = QUERIES["sequence_packing_bpe"](spark, sf_dir)
    assert exchange_count(df) == 1
    ops = plan_ops(df)
    assert (
        ops["SortMergeJoin"] + ops["BroadcastHashJoin"] + ops["ShuffledHashJoin"] == 0
    )
    for cols in scan_columns(df):
        assert set(cols) <= {"doc_id", "text"}


def test_semdedup_ingest_bucket_cap_headroom():
    """streaming_semdedup_ingest caps state LSH buckets at 50k rows but
    its arrival-prefix oracle (queries_llm._semdedup_lsh_cte's full-
    corpus occupancy filter) only models the cap against the WHOLE
    corpus: the premise making both no-ops is that one table's entire
    row set (1 row per vector per table) stays under the cap at every
    verification SF — pin it so a fixture refresh to 50k+ vectors fails
    HERE, not as a silent divergence."""
    import os

    import pyarrow.parquet as pq

    cap = 50_000
    checked = 0
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        p = f"/root/testdata/{sf}/embeddings.parquet"
        if not os.path.exists(p):
            continue
        n_vecs = pq.read_metadata(p).num_rows
        assert n_vecs < cap, (
            f"{sf}: {n_vecs} vectors can now fill a single LSH bucket "
            "past the 50k cap — model the per-probe-time cap in "
            "_semdedup_ingest_oracle before the fixtures grow further"
        )
        checked += 1
    assert checked >= 2


def test_semdedup_ingest_state_tables_bucketed_and_aligned(spark, sf_dir):
    """streaming_semdedup_ingest's two state tables must be bucketed on
    their join keys (b for the probe equi-join, vec_id for the exact-cos
    verify) with bucket-ALIGNED appends — one file per bucket per batch,
    the minhash-sibling discipline."""
    import glob
    import os

    QUERIES["streaming_semdedup_ingest"](spark, sf_dir).collect()
    expect = {
        "semdedup_ingest_buckets": "b",
        "semdedup_ingest_vecs": "vec_id",
    }
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    # accepted flags ride the vec state since r15 — the arrival column
    # there is the batch census (the separate results table is gone)
    n_batches = (
        spark.table("semdedup_ingest_vecs").select("arr").distinct().count()
    )
    assert n_batches >= 1
    for table, key in expect.items():
        rows = {
            r.col_name: str(r.data_type)
            for r in spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
        }
        assert key in rows.get("Bucket Columns", ""), (table, rows.get("Bucket Columns"))
        n_files = len(
            glob.glob(os.path.join(warehouse, table, "**", "*.parquet"), recursive=True)
        )
        assert n_files <= n_batches * 8, (table, n_files, n_batches)


def test_bind_col_split_evaluates_once_in_plan(spark):
    """The bind_col invariant (r15 HOF fix, pinned per VERDICT r15 #6):
    the words() regexp split inside repetition_features must appear
    EXACTLY ONCE in the optimized plan — every downstream reference is a
    lambda-variable lookup. A Spark-version CollapseProject change (or a
    careless edit re-inlining the split into the gram lambda) would
    restore the O(k)-splits-per-row interpreted re-evaluation this test
    exists to catch; the pre-r15 unbound form printed the split 3+ times
    here (once per feature referencing the words array)."""
    from ibis_flink_example_spark.operators.dedup import WS_SPLIT
    from ibis_flink_example_spark.operators.text import repetition_features

    # the text must not be a foldable literal — ConstantFolding would
    # evaluate the split at plan time and hide the invariant entirely
    df = repetition_features(
        spark.range(1).select(
            F.concat(F.lit("a b a b c "), F.col("id").cast("string")).alias(
                "text"
            )
        ),
        "text",
    )
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    n_splits = plan.count(WS_SPLIT)
    assert n_splits == 1, (
        f"words() split appears {n_splits}x in the optimized plan — the "
        f"bind_col single-evaluation invariant broke:\n{plan}"
    )


def test_zero_width_split_has_no_trailing_empty(spark):
    """payload_pixel_codes' scalar empty-payload guard (r15) relies on
    post-SPARK-40194 split semantics: a zero-width pattern on non-empty
    input emits NO trailing empty element (true since Spark 3.3.1). On an
    older engine the guard would silently append a phantom 0 pixel code
    per payload — pin the engine behavior here so a version downgrade
    fails loudly instead (ADVICE r15)."""
    row = spark.range(1).select(
        F.size(F.split(F.lit("ab"), "")).alias("n2"),
        F.size(F.split(F.lit(""), "")).alias("n0"),
    ).first()
    assert row.n2 == 2, row
    assert row.n0 == 1, row  # split('','') == [''] — the guarded case


def test_dedup_minhash_rows_only_is_justified_by_engine_hash(spark, sf_dir):
    """dedup_minhash is the registry's one windowed rows-only entry
    (VERDICT r15 #7): its signature pass runs on xxhash64 — a Spark
    engine primitive DuckDB does not implement, so no SQL oracle can
    replay the permutations bit-exactly (the md5 k-rehash the STREAMING
    minhash sibling uses is replayable but ~10x the signature cost; the
    xxhash64 OPH arm is the documented production default this query
    exercises). This test makes the justification machine-checkable: if
    the query ever stops depending on xxhash64, it can (and must) gain a
    full DuckDB oracle instead of the rows-only check."""
    import inspect

    from ibis_flink_example_spark.catalog import load_table
    from ibis_flink_example_spark.operators import dedup as D
    from ibis_flink_example_spark.queries import NON_SQL_EXPRESSIBLE
    from ibis_flink_example_spark.queries_llm import dedup_minhash

    assert "dedup_minhash" in NON_SQL_EXPRESSIBLE
    # the query's own final plan is lineage-cut by the CC loop's
    # localCheckpoints, so audit the candidate stage it is built from:
    # (a) the query provably routes through minhash_dedup, and
    assert "minhash_dedup" in inspect.getsource(dedup_minhash)
    # (b) minhash_dedup's signature/candidate stage runs on xxhash64
    docs = load_table(spark, sf_dir, "documents").limit(5)
    cand = D.minhash_lsh_candidates(docs, id_col="doc_id", text_col="text")
    plan = cand._jdf.queryExecution().optimizedPlan().toString()
    assert "xxhash64" in plan, (
        "minhash candidate generation no longer uses xxhash64 — "
        "dedup_minhash's oracle=None justification is gone; mirror the "
        "permutations in DuckDB SQL and register the oracle"
    )


def test_no_hand_rolled_foreach_batch_loops():
    """Every foreachBatch stream of the query modules runs on the one
    replay-safe ingest runtime (streaming/ingest.py). A query module that
    calls ``foreach_batch(`` itself, or keeps an in-memory ``last_bid``
    re-delivery guard (which the restart that causes re-delivery loses),
    is a hand-rolled loop growing back."""
    import glob
    import os

    import ibis_flink_example_spark

    pkg = os.path.dirname(ibis_flink_example_spark.__file__)
    offenders = []
    for path in sorted(glob.glob(os.path.join(pkg, "queries_*.py"))):
        with open(path) as fh:
            for no, line in enumerate(fh, 1):
                if "foreach_batch(" in line or "last_bid" in line:
                    offenders.append(f"{os.path.basename(path)}:{no}: {line.strip()}")
    assert not offenders, offenders
