"""Physical-plan assertions — lock in the plan shapes that matter at
100 TB (SURVEY §4): predicate pushdown into parquet scans, column
pruning, broadcast joins for dimension tables, TopK fusion, and
partial (map-side) aggregation.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from http_datafusion_spark.plans.registry import all_queries
from http_datafusion_spark.plans.tables import load_tables

QS = all_queries()


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def formatted(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_pushdown_reaches_parquet(spark, sf_dir):
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    df = li.filter(F.col("l_quantity") > 30).select("l_orderkey", "l_quantity")
    s = formatted(df)
    assert "PushedFilters" in s and "GreaterThan(l_quantity" in s


def test_column_pruning_reaches_parquet(spark, sf_dir):
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    df = li.select("l_orderkey", "l_quantity")
    s = formatted(df)
    read_schema = next(line for line in s.splitlines() if "ReadSchema" in line)
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_extendedprice" not in read_schema  # untouched columns never read


def test_q5_dimension_joins_broadcast(spark, sf_dir):
    s = plan_of(QS["q5_region_volume"].spark(spark, sf_dir))
    assert "BroadcastHashJoin" in s
    assert "SortMergeJoin" not in s  # nothing should fall back to SMJ here


def test_topk_fused_to_take_ordered(spark, sf_dir):
    s = plan_of(QS["q_topk_orders"].spark(spark, sf_dir))
    assert "TakeOrderedAndProject" in s  # no global sort materialization


def test_partial_aggregation_planned(spark, sf_dir):
    s = plan_of(QS["q1_pricing_summary"].spark(spark, sf_dir))
    # Two-phase agg: map-side partial + final after exchange.
    assert s.count("HashAggregate") >= 2
    assert "partial_" in s


def test_semi_join_planned_for_exists(spark, sf_dir):
    s = plan_of(QS["q_semi_join"].spark(spark, sf_dir))
    assert "LeftSemi" in s


def test_whole_stage_codegen_active(spark, sf_dir):
    # '*(n)' prefixes mark whole-stage-codegen spans; AQE only finalizes
    # the plan (and inserts codegen stages) once the query has run.
    df = QS["q1_pricing_summary"].spark(spark, sf_dir)
    df.collect()  # count() would plan a different query; collect executes THIS one
    s = plan_of(df)
    assert "isFinalPlan=true" in s and "*(1)" in s


def test_minhash_signature_single_shuffle(spark, sf_dir):
    # explode+groupBy(doc_id) must not add exchanges beyond the doc_id
    # repartition/window and the final agg — no join, no extra sorts.
    s = plan_of(QS["dedup_minhash_signature"].spark(spark, sf_dir))
    assert "Join" not in s


def test_pq_codebook_broadcast_no_cartesian(spark, sf_dir):
    # PQ encode: the codebook/subspace cross joins must be broadcast
    # (BroadcastNestedLoopJoin), never a CartesianProduct shuffle —
    # the property that keeps encoding scan-shaped at 100 TB.
    p = plan_of(QS["embedding_quantize_pq"].spark(spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" in p


def test_balance_sources_single_shuffle(spark, sf_dir):
    # One hash-partitioning exchange (by source) feeds the rank window;
    # no other shuffle may appear.
    p = plan_of(QS["balance_sources"].spark(spark, sf_dir))
    assert p.count("Exchange hashpartitioning") == 1


def test_q9_partial_agg_before_orders_join(spark, sf_dir):
    # The (orderkey, nation) reduction must sit BELOW the join with
    # orders: two aggregates total, and the plan string shows an
    # aggregate on l_orderkey.
    p = plan_of(QS["q9_product_profit"].spark(spark, sf_dir))
    assert "l_orderkey" in p and "HashAggregate" in p
    assert p.count("SortMergeJoin") <= 1  # only the fact-fact join may shuffle-join


def test_kmeans_refit_no_cartesian(spark, sf_dir):
    # Both Lloyd passes must be broadcast nested-loop joins against the
    # 8-row codebook, never a CartesianProduct shuffle.
    p = plan_of(QS["sim_kmeans_refit"].spark(spark, sf_dir))
    assert "CartesianProduct" not in p


def test_decontaminate_benchmark_broadcast(spark, sf_dir):
    # The contamination join must broadcast the benchmark shingles so
    # the corpus side is a map-side scan.
    p = plan_of(QS["decontaminate_corpus"].spark(spark, sf_dir))
    assert "BroadcastHashJoin" in p and "CartesianProduct" not in p


def test_doc_packing_window_is_per_source(spark, sf_dir):
    # The packing cumsum must partition by source — a global (single
    # partition) window would serialize the whole corpus through one
    # task at 100 TB.
    s = plan_of(QS["doc_packing"].spark(spark, sf_dir))
    assert "Window" in s
    assert "hashpartitioning(source" in s
    assert "SinglePartition" not in s


def test_dedup_segments_no_join(spark, sf_dir):
    # Segment dedup is explode -> window-rank on the segment hash ->
    # re-aggregate: two key shuffles, no join anywhere.
    s = plan_of(QS["dedup_segments"].spark(spark, sf_dir))
    assert "Window" in s
    for j in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert j not in s, j


def test_events_funnel_no_cartesian(spark, sf_dir):
    # Funnel steps join per-user aggregates on user_id — equi-joins
    # only; a nested-loop fallback would be quadratic in users.
    s = plan_of(QS["events_funnel"].spark(spark, sf_dir))
    for j in ("CartesianProduct", "BroadcastNestedLoopJoin"):
        assert j not in s, j


def test_pq_train_codebooks_broadcast(spark, sf_dir):
    # Both assignment rounds join against a PQ_K*PQ_M-row codebook:
    # always broadcast, never a shuffle join or cartesian on the scan.
    s = plan_of(QS["embedding_pq_train"].spark(spark, sf_dir))
    assert "BroadcastHashJoin" in s
    assert "SortMergeJoin" not in s
    assert "CartesianProduct" not in s


def test_corpus_filter_contamination_join_broadcast(spark, sf_dir):
    # The benchmark-shingle side of the contamination join must
    # broadcast (map-side at 100 TB); the dedup window partitions by
    # fingerprint, never a single partition.
    s = plan_of(QS["corpus_filter_pipeline"].spark(spark, sf_dir))
    assert "BroadcastHashJoin" in s
    assert "CartesianProduct" not in s
    assert "SinglePartition" not in s


def test_index_build_no_shuffle_join_on_codebooks(spark, sf_dir):
    s = plan_of(QS["embedding_index_build"].spark(spark, sf_dir))
    assert "CartesianProduct" not in s


def test_recursive_cte_runs_engine_side(spark, sf_dir):
    # The recursion must execute inside Spark (UnionLoop), not as a
    # driver-side Python loop re-submitting jobs per step.
    s = plan_of(QS["q_recursive_cte"].spark(spark, sf_dir))
    assert "UnionLoop" in s


def test_pivot_is_aggregate_only(spark, sf_dir):
    # pivot with a static value list = hash aggregates (partial agg by
    # (key, pivot col), then pivotfirst over the grouped rows) — never
    # a per-column scan or join; both shuffles carry grouped rows only.
    s = plan_of(QS["q_pivot_api"].spark(spark, sf_dir))
    assert "pivotfirst" in s
    assert s.count("Exchange") <= 2
    assert "Join" not in s


def test_unpivot_is_expand(spark, sf_dir):
    # UNPIVOT lowers to Expand (one output row per input row x metric),
    # not a UNION of re-scans: the wide aggregate runs once.
    s = plan_of(QS["q_unpivot"].spark(spark, sf_dir))
    assert "Expand" in s
    assert s.count("Exchange") == 1  # only the groupBy shuffle


def test_pq_adc_lut_broadcast_topk_fused(spark, sf_dir):
    # The (m, code) -> distance LUT is M*K rows: its join with the code
    # table must broadcast, and the ranked output must fuse to
    # TakeOrderedAndProject — never a shuffle join or global sort.
    s = plan_of(QS["sim_pq_adc_topk"].spark(spark, sf_dir))
    assert "BroadcastHashJoin" in s
    assert "SortMergeJoin" not in s
    assert "CartesianProduct" not in s
    assert "TakeOrderedAndProject" in s


def test_pii_redact_mapside_no_shuffle(spark, sf_dir):
    # Regex scrub is a pure projection: no exchange, no Python eval.
    s = plan_of(QS["pii_redact"].spark(spark, sf_dir))
    assert "Exchange" not in s
    assert "EvalPython" not in s


def test_values_inline_local_relation_broadcast(spark, sf_dir):
    # The VALUES list plans as a local relation broadcast to the join —
    # never a shuffle for a 5-row literal table.
    s = plan_of(QS["q_values_inline"].spark(spark, sf_dir))
    assert "LocalTableScan" in s
    assert "BroadcastHashJoin" in s
    assert "SortMergeJoin" not in s


def test_vocab_build_window_bounded_by_limit(spark, sf_dir):
    # The rank/cumsum window must run AFTER the top-V cut (TakeOrdered),
    # so its single partition holds at most VOCAB_SIZE rows — a global
    # window over the full vocabulary would be the scale bug.
    s = plan_of(QS["vocab_build"].spark(spark, sf_dir))
    assert "TakeOrderedAndProject" in s


def test_ngram_coverage_no_pairwise_join(spark, sf_dir):
    # Coverage counts document frequency and joins it back — there must
    # be no doc-x-doc pairwise join (shingle skew would go quadratic).
    s = plan_of(QS["dedup_ngram_coverage"].spark(spark, sf_dir))
    assert "CartesianProduct" not in s
    assert "BroadcastNestedLoopJoin" not in s


def test_tfidf_df_broadcast_and_rank_pruned(spark, sf_dir):
    s = plan_of(QS["text_tfidf_topterm"].spark(spark, sf_dir))
    # vocab-sized df table broadcast to the score join; the per-doc
    # argmax is an AGGREGATE (min-struct), so no rank window — and
    # therefore no per-partition sort — appears anywhere in the plan
    assert "BroadcastHashJoin" in s
    assert "Window" not in s
    assert "SortMergeJoin" not in s


def test_bm25_single_pass_topk_fused(spark, sf_dir):
    df = QS["text_bm25_search"].spark(spark, sf_dir)
    s = plan_of(df)
    # top-k fused (no global sort), stats joined as a 1-row broadcast,
    # and no explode anywhere — tf per literal term is an array filter
    assert "TakeOrderedAndProject" in s
    assert "BroadcastNestedLoopJoin" in s  # 1-row stats cross join
    assert "Generate" not in s  # no explode
    assert "SortMergeJoin" not in s


def test_shuffle_shards_single_exchange(spark, sf_dir):
    s = plan_of(QS["train_shuffle_shards"].spark(spark, sf_dir))
    # two-phase rank: ONE corpus-scale exchange — the (shard, hb)
    # hashpartitioning feeding the bucket-local window, whose output the
    # final per-shard aggregate consumes via map-side partials. The
    # remaining exchanges carry key-domain-bounded relations only
    # (per-(shard,hb) count partials, the 16x64 offsets, the 16-row
    # final agg), and the offsets join must never shuffle the corpus.
    assert s.count("Exchange hashpartitioning") <= 4
    assert "windowspecdefinition(shard" in s and "hb#" in s
    assert "SortMergeJoin" not in s and "CartesianProduct" not in s


def test_lateral_join_decorrelated(spark, sf_dir):
    s = plan_of(QS["q_lateral_join"].spark(spark, sf_dir))
    # the per-row ORDER BY..LIMIT subquery must decorrelate to a ranked
    # window join, not a nested-loop re-execution per outer row
    assert "WindowGroupLimit" in s
    assert "BroadcastHashJoin" in s
    assert "CartesianProduct" not in s


def test_salted_agg_two_stage_partials(spark, sf_dir):
    s = plan_of(QS["q_salted_skew_agg"].spark(spark, sf_dir))
    # stage 1 shuffles on (key, salt), stage 2 on key alone — the merge
    # shuffle moves only partial rows
    assert "hashpartitioning(l_suppkey" in s
    assert s.count("Exchange hashpartitioning") == 2
    assert "SortMergeJoin" not in s


def test_cdc_compaction_rank_pruned(spark, sf_dir):
    s = plan_of(QS["cdc_upsert_compaction"].spark(spark, sf_dir))
    # latest-wins keeps one row per key before the final projection
    assert "WindowGroupLimit" in s
    assert s.count("Exchange hashpartitioning") == 1


def test_ewma_single_window_sort(spark, sf_dir):
    s = plan_of(QS["ts_ewma"].spark(spark, sf_dir))
    # all K-1 lags share ONE window spec: one shuffle, one per-key sort
    assert s.count("Exchange hashpartitioning") == 1
    assert s.count("Window ") <= 1 or s.count("Window [") == 1


def test_tokenize_vocab_broadcast(spark, sf_dir):
    s = plan_of(QS["tokenize_to_ids"].spark(spark, sf_dir))
    # the LIMIT-bounded vocabulary must broadcast to the token join —
    # a shuffle join on 'word' would move the whole token stream
    assert "BroadcastHashJoin" in s
    assert "SortMergeJoin" not in s


def test_span_corruption_single_keyed_shuffle(spark, sf_dir):
    s = plan_of(QS["doc_span_corruption"].spark(spark, sf_dir))
    # explode + hash gate are map-side; the only exchanges serve the
    # per-doc audit aggregation (partial agg + count_distinct expand)
    assert "BroadcastHashJoin" not in s and "SortMergeJoin" not in s
    assert "hashpartitioning(doc_id" in s


def test_negative_pairs_broadcast_and_rank_pruned(spark, sf_dir):
    s = plan_of(QS["embedding_negative_pairs"].spark(spark, sf_dir))
    # anchors broadcast (8 rows); rank prune before cosine math
    assert "BroadcastNestedLoopJoin" in s or "BroadcastHashJoin" in s
    assert "WindowGroupLimit" in s
    assert "SortMergeJoin" not in s


def test_ohlc_single_partial_agg(spark, sf_dir):
    s = plan_of(QS["ts_resample_ohlc"].spark(spark, sf_dir))
    # mergeable arg-extrema: one exchange on the (bucket, type) key
    assert s.count("Exchange hashpartitioning") == 1
    assert "Window" not in s  # no window needed for open/close


def test_mad_outliers_medians_broadcast(spark, sf_dir):
    s = plan_of(QS["ts_mad_outliers"].spark(spark, sf_dir))
    # the per-type median tables join back via broadcast — the fact
    # side never shuffles for the joins
    assert "BroadcastHashJoin" in s
    assert "SortMergeJoin" not in s


def test_sequence_buckets_single_shuffle(spark, sf_dir):
    s = plan_of(QS["sequence_length_buckets"].spark(spark, sf_dir))
    assert s.count("Exchange hashpartitioning") == 1
    assert "Generate" not in s  # token count without explode


def test_semantic_search_hydrate_broadcast(spark, sf_dir):
    s = plan_of(QS["semantic_search_join"].spark(spark, sf_dir))
    # the k-row result hydrates via broadcast; top-k fused
    assert "TakeOrderedAndProject" in s
    assert "BroadcastHashJoin" in s
    assert "SortMergeJoin" not in s


def test_dynamic_partition_pruning_injected(spark, sf_dir, tmp_path):
    """A fact stored partitioned by a key joined to a filtered dim gets a
    dynamicpruning partition filter — at 100 TB the fact scan reads only
    the partitions the dim filter selects, before any row is fetched."""
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    path = str(tmp_path / "li_by_year")
    li.withColumn("ship_year", F.year("l_shipdate")).write.partitionBy("ship_year").mode(
        "overwrite"
    ).parquet(path)
    fact = spark.read.parquet(path)
    dim = spark.createDataFrame([(y, y % 2) for y in range(1992, 1999)], "yr int, flag int")
    j = (
        fact.join(dim, fact.ship_year == dim.yr)
        .filter(F.col("flag") == 1)
        .groupBy("yr")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert "dynamicpruning" in formatted(j).lower()


def test_runtime_bloom_filter_injected(spark, sf_dir):
    """With broadcast off (the 100 TB fact-fact case), a selective filter
    on one join side injects a bloom_filter_agg/might_contain runtime
    filter on the other — rows that cannot match are dropped at the
    scan, before the shuffle. The application-side size threshold
    (default 10 GB) is lowered to fit local data; at scale the default
    gates it to genuinely large scans."""
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    o = load_tables(spark, sf_dir, "orders")["orders"]
    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "1KB"
        )
        sel = o.filter(F.col("o_orderpriority") == "1-URGENT")
        j = (
            li.join(sel, li.l_orderkey == sel.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.sum("l_quantity").alias("q"))
        )
        opt = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in opt and "bloom_filter_agg" in opt
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_salted_join_shuffles_on_key_and_salt(spark, sf_dir):
    """The salted join's exchanges partition on (join key, salt) — the
    hot-key spread — and nothing falls back to broadcast (which would
    make salting a no-op)."""
    s = plan_of(QS["q_salted_skew_join"].spark(spark, sf_dir))
    part_lines = [ln for ln in s.splitlines() if "hashpartitioning" in ln and "salt" in ln]
    assert part_lines, "no exchange partitions on the salt"
    assert "BroadcastHashJoin" not in s


def test_unigram_logprob_counts_broadcast(spark, sf_dir):
    """The vocab-bounded count table broadcasts to the token stream
    (no fact-side shuffle for the score join); the only BNLJ is the
    1-row corpus-total cross join."""
    s = plan_of(QS["text_unigram_logprob"].spark(spark, sf_dir))
    assert "BroadcastHashJoin" in s
    assert "SortMergeJoin" not in s
    assert "CartesianProduct" not in s


def test_prefix_pairs_is_blocked_equi_join(spark, sf_dir):
    """Prefix candidates come from an equi-join on the 32-char block
    key — never an all-pairs nested loop."""
    s = plan_of(QS["dedup_prefix_pairs"].spark(spark, sf_dir))
    assert "BroadcastNestedLoop" not in s and "CartesianProduct" not in s
    assert "BroadcastHashJoin" in s or "SortMergeJoin" in s


def test_keep_best_dominance_is_anti_join(spark, sf_dir):
    """Survivors are selected by one anti-join against the dominated
    set; no cartesian anywhere."""
    s = plan_of(QS["dedup_keep_best"].spark(spark, sf_dir))
    assert "LeftAnti" in s
    assert "CartesianProduct" not in s


def test_psi_aggregations_are_bounded(spark, sf_dir):
    """All PSI joins are hash joins on (source)/(bin) group keys; the
    only nested loop is the broadcast 1-row corpus total."""
    s = plan_of(QS["quality_drift_psi"].spark(spark, sf_dir))
    assert "BroadcastHashJoin" in s
    assert "SortMergeJoin" not in s
    assert "CartesianProduct" not in s


def test_index_roundtrip_reads_partition_pruned(spark, sf_dir):
    """The materialized IVF-PQ index is written partitioned by bucket;
    a probe read must prune at the partition (directory) level —
    PartitionFilters carries the bucket IN-filter and the scan touches
    only the probed directories."""
    from pyspark.sql import functions as F

    from http_datafusion_spark.operators.pipeline import embedding_index_dir

    full = spark.read.parquet(embedding_index_dir(spark, sf_dir))
    n_buckets = full.select("bucket").distinct().count()
    probe = full.filter(F.col("bucket").isin([1, 2]))
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    m = [l for l in plan.splitlines() if "PartitionFilters" in l or "FileScan" in l]
    joined = " ".join(m)
    assert "bucket" in joined.split("PartitionFilters", 1)[1]
    # Runtime confirmation: every file the pruned scan actually touches
    # lives under a probed bucket directory.
    touched = [r[0] for r in probe.select(F.input_file_name()).distinct().collect()]
    assert touched and all("bucket=1" in f or "bucket=2" in f for f in touched)
    assert n_buckets > 2


def test_data_quality_audit_scans_lineitem_once(spark, sf_dir):
    """The FK and quantity-range checks are fused into one lineitem
    pass: exactly one lineitem scan in the physical plan."""
    from http_datafusion_spark.operators.pipeline import data_quality_audit

    plan = data_quality_audit(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("lineitem.parquet") == 1


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    """Orders and lineitem written bucketed by orderkey join WITHOUT any
    Exchange on either side — the co-located-layout shuffle elimination
    that amortizes repeated fact-fact joins at scale."""
    from http_datafusion_spark.plans.registry import all_queries

    df = all_queries()["q_bucketed_join"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Bucketed: true" in plan
    join_part = plan.split("SortMergeJoin", 1)[1]
    # below the join: only bucketed scans (+ sorts), never an Exchange
    assert "Exchange" not in join_part
    assert join_part.count("Bucketed: true") == 2


def test_train_split_temporal_no_join_no_broadcast(spark, sf_dir):
    # The distinct-customer set of a fact table grows linearly with the
    # data; it must never be broadcast. The zero-join rewrite must hold:
    # no join operator and no broadcast exchange anywhere in the plan.
    s = plan_of(QS["train_split_temporal"].spark(spark, sf_dir))
    assert "Broadcast" not in s
    assert "Join" not in s


def test_inverted_index_probe_partition_pruned(spark, sf_dir):
    # The postings store is partitioned by term-hash bucket; reading the
    # BM25 query terms back must prune to those bucket directories.
    import hashlib

    from http_datafusion_spark.operators.text import (
        BM25_TERMS,
        inverted_index_dir,
        text_inverted_index_roundtrip,
    )

    buckets = sorted(
        {
            int(hashlib.md5(f"ti|{t}".encode()).hexdigest()[:15], 16) % 16
            for t in BM25_TERMS
        }
    )
    df = spark.read.parquet(inverted_index_dir(spark, sf_dir)).filter(F.col("bucket").isin(buckets))
    s = formatted(df)
    assert "PartitionFilters" in s and "bucket" in s
    # and the query itself returns the probe terms
    out = {r.term for r in text_inverted_index_roundtrip(spark, sf_dir).collect()}
    assert out == set(BM25_TERMS)


def test_target_encode_fact_never_reshuffles(spark, sf_dir):
    # One hash exchange (the segment partial-agg); the stats and dim
    # join back as broadcasts over a single fact scan.
    import re

    s = plan_of(QS["feature_target_encode"].spark(spark, sf_dir))
    assert "SortMergeJoin" not in s
    assert len(re.findall(r"Exchange hashpartitioning", s)) == 1


def test_gradient_weights_stay_broadcast(spark, sf_dir):
    s = plan_of(QS["quality_model_gradient"].spark(spark, sf_dir))
    assert "SortMergeJoin" not in s
    assert "BroadcastHashJoin" in s


def test_bootstrap_single_scan(spark, sf_dir):
    # 32 replicas must NOT mean 32 scans: one orders scan crossed with
    # the broadcast replica range.
    s = plan_of(QS["bootstrap_mean_ci"].spark(spark, sf_dir))
    assert s.count("Scan parquet") == 1
    assert "BroadcastNestedLoopJoin" in s  # the broadcast cross join


def test_ordstats_rank_search_never_single_partition(spark, sf_dir):
    # The exact-order-statistic rank search must shuffle by bucket, never
    # funnel the table through one task (the naive global-sort plan does).
    from http_datafusion_spark.functions.ordstats import bucketed_ranked
    from http_datafusion_spark.plans.tables import load_tables

    o = load_tables(spark, sf_dir, "orders")["orders"].select(
        F.col("o_totalprice").alias("v"), F.col("o_orderkey").alias("k")
    )
    bounds = [1000.0 * i for i in range(1, 32)]
    s = plan_of(bucketed_ranked(o, "v", "k", bounds))
    assert "Exchange SinglePartition" not in s
    assert "Window" in s  # the per-bucket local rank is still a window


# --------------------------------------------------------------------------
# Broadcast-hint guard: no F.broadcast of a data-growing relation anywhere
# in the registry. A baked-in hint AQE cannot demote is an executor/driver
# OOM at 100 TB. tests/plan_guards.py walks each query's ANALYZED plan and
# flags every broadcast-hinted subtree that scans a fact-scale table
# (documents / lineitem / orders / events / embeddings / part) without a
# bounding zero-key aggregate or limit. Flags are allowed ONLY for
# subtrees whose output is bounded by something the plan text can't
# show — a low-cardinality group key or a benchmark probe set that is a
# constant of the pipeline, not a function of corpus size. Each
# exemption documents why. A pinned or checkpointed frame under a hint
# reads an RDD leaf, so the guard sees no fact lineage there.

BROADCAST_GUARD_ALLOWED = {
    # per-segment / per-priority marginals: group key has <= ~5 values
    "feature_target_encode": "per-o_orderpriority aggregate (bounded key)",
    # per-event_type statistics: event_type is a small closed enum
    "ts_cusum_changepoints": "per-event_type mean/chunk offsets (bounded key)",
    "quantile_sketch_audit": "len(QS_TARGETS)=7 probe rows (q, t_rank, n, est_value) — a constant of the audit, not of corpus size",
    "ts_zscore_outliers": "per-event_type moments (bounded key)",
    "markov_next_event_eval": "event_type transition matrix (bounded key pairs)",
    "events_transition_coverage": "event_type pair coverage (bounded key pairs)",
    # calendar-bounded group keys
    "customer_survival_curve": "per-lifetime-month counts (months bounded)",
    # sketch/config-bounded structures
    "cms_heavy_hitters": "d x w CMS cell table (constant by construction)",
    "cms_error_audit": "d x w CMS cell table (constant by construction — same sketch as cms_heavy_hitters)",
    "dedup_minhash_threshold_sweep": "group by n_match in 0..k (bounded)",
    "supplier_concentration_hhi": "per-p_type totals (p_type is a closed enum)",
    "weighted_median_price": "ordstats per-__bkt offsets (ORD_BUCKETS=32 constant)",
    "histogram_equi_depth": "ordstats per-__bkt offsets (ORD_BUCKETS=32 constant)",
    "events_mannwhitney_u": "ordstats per-__bkt offsets (ORD_BUCKETS=32 constant)",
    # benchmark probe sets: the bench suite is a constant of the pipeline
    # (decontamination checks corpus AGAINST a fixed eval set), not a
    # function of corpus size — formally doc-derived, hence flagged
    "decontaminate_corpus": "benchmark shingle probe set (pipeline constant)",
    "decontaminate_threshold_sweep": "benchmark shingle probe set (pipeline constant)",
    "corpus_filter_pipeline": "benchmark shingle probe set (pipeline constant)",
    "dedup_bloom_prefilter": "bloom probe of benchmark positions (pipeline constant)",
    # embeddings relations (schema vec_id, embedding, label): the bound is
    # a group-key cardinality the plan text can't show
    "embedding_pq_train": "per-(subspace, cluster) codebook (M x K constant)",
    "embedding_whitening_audit": (
        "per-dim mu/sd stats broadcast back at the dim grain — the "
        "Aggregate's group key is dim <= EMB_DIM=64 (dimension constant, "
        "the embedding_pca_power_iteration bound)"
    ),
}

# Operators whose forced broadcasts of data-growing relations were
# removed; their plans must stay hint-clean.
BROADCAST_GUARD_REPAIRED = (
    "text_tfidf_topterm",
    "text_unigram_logprob",
    "text_bigram_logprob",
    "text_heldout_perplexity",
    "minhash_containment",
    "ngram_pmi_bigrams",
    "orders_market_basket",
    "deletion_propagate",
    "graph_link_prediction",
    "dedup_cross_source_matrix",
    "revenue_bridge_pvm",
    "q8_market_share",
    "q9_product_profit",
    "q16_supplier_relationships",
    "q20_promotion_suppliers",
)


@pytest.fixture(scope="module")
def guard_sweep(spark, sf_dir) -> dict[str, tuple[list, list, list]]:
    """One plan sweep for the three registry-wide guard tests: each query
    is built once inside ``pin_scope`` (its pins are released when the
    scope exits), the broadcast, ranking-window and grouped-pandas guards
    all run on that frame, and only their results are kept, keyed by
    query name. The cache is cleared first: a lazy pin that an earlier
    test executed outside ``pin_scope`` stays cached, and the guards
    would then see its in-memory leaf instead of the scan beneath it,
    so the flagged set would depend on test order."""
    from http_datafusion_spark.functions.pinning import pin_scope
    from plan_guards import broadcast_hint_violations
    from plan_guards import grouped_pandas_key_signatures
    from plan_guards import ranking_window_violations

    spark.catalog.clearCache()
    results = {}
    for name, spec in QS.items():
        with pin_scope():
            df = spec.spark(spark, sf_dir)
            results[name] = (
                broadcast_hint_violations(df),
                ranking_window_violations(df),
                grouped_pandas_key_signatures(df),
            )
    return results


def test_no_forced_broadcast_of_fact_derived_relations(guard_sweep):
    flagged: dict[str, list[str]] = {}
    for name, (v, _, _) in guard_sweep.items():
        if v:
            flagged[name] = [f"{x.fact_tables}: {x.subtree_head[:80]}" for x in v]

    for name in BROADCAST_GUARD_REPAIRED:
        assert name not in flagged, f"repaired operator re-grew a forced broadcast: {flagged.get(name)}"

    unexplained = {n: v for n, v in flagged.items() if n not in BROADCAST_GUARD_ALLOWED}
    assert not unexplained, (
        "forced broadcast of a fact-derived relation without a bounding "
        f"aggregate/limit — fix it or document an exemption: {unexplained}"
    )
    # exemptions must not outlive the sites they explain
    stale = sorted(set(BROADCAST_GUARD_ALLOWED) - set(flagged))
    assert not stale, f"stale broadcast-guard exemptions (site no longer flagged): {stale}"


def test_broadcast_guard_unit_embeddings_and_branch_attribution(spark, sf_dir):
    """The guard's structural decisions, pinned:
    (a) a broadcast-hinted embeddings scan is flagged — the schema is
        (vec_id, embedding, label), no doc_id, so a doc_id-based marker
        would never match and embeddings broadcasts would be invisible;
    (b) bounds attribute per branch — a Limit on one join branch must
        not exempt a fact scan on the sibling branch;
    (c) a grouped aggregate whose key contains '[' (array element) is
        NOT misread as a zero-key bound."""
    from pyspark.sql import functions as F

    from plan_guards import (
        _is_zero_key_aggregate,
        broadcast_hint_violations,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    # (a) raw embeddings broadcast → flagged
    v = broadcast_hint_violations(F.broadcast(emb).join(docs, docs.doc_id == emb.vec_id))
    assert any("embeddings" in x.fact_tables for x in v)

    # (a') bounded embeddings broadcast → clean
    v = broadcast_hint_violations(
        F.broadcast(emb.limit(5)).join(docs, docs.doc_id == F.col("vec_id"))
    )
    assert v == []

    # (b) limit on the documents branch must not exempt the embeddings
    # branch of the same hinted subtree
    hinted = F.broadcast(docs.limit(5).join(emb, docs.doc_id == emb.vec_id))
    v = broadcast_hint_violations(hinted.join(docs.alias("d2"), F.col("d2.doc_id") == F.col("vec_id")))
    assert any(x.fact_tables == ("embeddings",) for x in v), v

    # (c) zero-key detection is bracket-balanced
    assert _is_zero_key_aggregate("Aggregate [sum(id#0L) AS s#3L]")
    assert not _is_zero_key_aggregate("Aggregate [s#2], [s#2, sum(id#0L) AS t#8L]")
    assert not _is_zero_key_aggregate(
        "Aggregate [arr#1[0]], [arr#1[0] AS arr[0]#18L, sum(id#0L) AS t#13L]"
    )
    # grouped-by-array-key relation under a hint is NOT bounded by it
    grouped = emb.groupBy(F.col("embedding")[0].alias("g")).agg(F.count(F.lit(1)).alias("n"))
    v = broadcast_hint_violations(F.broadcast(grouped).join(docs, F.col("g") == docs.n_chars))
    assert any("embeddings" in x.fact_tables for x in v)
    # ...while a zero-key aggregate IS a bound
    total = emb.agg(F.count(F.lit(1)).alias("n"))
    v = broadcast_hint_violations(F.broadcast(total).join(docs, F.col("n") > docs.n_chars))
    assert v == []


def test_r8_operators_plan_invariants(spark, sf_dir):
    """Scale-shape pins for eight curation/retrieval operators: no cartesian
    products, no data-sized single-partition exchanges beyond the
    documented constant-sized ones, and the phash near-dup keeps its
    stop-band cap (the fix for the sf1 quadratic — an aggregate-filter
    on band buckets must sit between banding and the self-join)."""
    new_ops = (
        "rag_chunk_retrieval_eval",
        "corpus_language_skew_audit",
        "privacy_tcloseness_audit",
        "dedup_cluster_ari",
        "multimodal_phash_near_dup",
        "curriculum_stage_plan",
        "text_rake_keywords",
        "orders_theil_sen_trend",
    )
    for name in new_ops:
        p = plan_of(QS[name].spark(spark, sf_dir))
        assert "CartesianProduct" not in p, name
        # BNLJ only for constant-side broadcasts (k-values relations,
        # 1-row totals, months-bounded slope pairs); audited counts
        assert p.count("BroadcastNestedLoopJoin") <= 3, name

    # the phash cap: a HAVING-style filter on the band-bucket count
    # must survive between banding and the candidate self-join
    p = plan_of(QS["multimodal_phash_near_dup"].spark(spark, sf_dir))
    import re as _re

    assert _re.search(r"Filter .*bn#\d+L? <= 64", p), (
        "stop-band cap disappeared from the phash plan — the sf1 "
        "quadratic comes back without it"
    )


def test_local_checkpoint_inventory_is_pinned():
    """Grep-able invariant: every pinned frame is a deliberate,
    documented reuse materialization — no new fact-scale eager
    materialization can appear without updating this inventory.

    The idiom is centralized: every site calls
    ``functions/pinning.py::pin`` (``.transform(pin)``), which for a
    bounded frame is the raw ``.localCheckpoint(eager=True)`` and keeps
    the pin policy in ONE place. Raw ``localCheckpoint`` calls outside
    pinning.py are banned outright (asserted below).

    What the pinned sites hold, and why each is bounded or a sound
    trade (timings taken on 32 cores):
    - Iterative lineage cuts: connected-components star rounds (edges
      shrink monotonically), minhash-filtered shingles computed once
      and reused per round, the triangle edge set reused by three join
      branches (post-threshold candidate edges), the k-core base edge
      set + per-round peeled edges (degree-capped and monotonically
      shrinking; without the cut each round re-derives every earlier
      round — exponential recompute), LPA's symmetrized LSH candidate
      edge set (three unrolled vote rounds read it; unshared, each
      re-derived the shingle->minhash->band lineage: 16 document scans
      counted by the .explain audit), HITS' distinct
      customer->supplier edge set (four half-steps read it; |edges| <=
      |custkey x suppkey| pairs that co-purchase, dimension-bounded
      under replication), and BPE vocab seqs, re-pinned per merge step
      to keep plan depth flat across BPE_TRAIN_MERGES iterations.
    - Customer-, part- and calendar-grain aggregates with several
      consumers: per-customer RFM / revenue aggregates reused by 3
      bucketed-rank passes + sketches (|customers| << |facts|;
      MEMORY_AND_DISK, so it degrades to spill, never OOM), the Markov
      |types|^2 transition table (three consumers; 1.28 -> 1.03 s at
      sf5), the KM customer aggregate, the first-order frame of
      orders_cohort_ltv and orders_cohort_matrix, parts_abc_xyz's
      per-part profile, ts_sax_motifs' daily and
      orders_holt_backtest's nation x month series,
      orders_theil_sen_trend's months-bounded revenue series,
      events_dau_wau's days-grain DAU table (the day list and the
      final join read it), events_retention_halflife's day offsets
      (base + regression consumers), and the |hours|-bounded count
      series of ts_autocorrelation / events_crosscorrelation (five
      consumers each).
    - Cell grids and small scalar tables: feature_mutual_info's
      joint-domain cells (<= |X||Y| rows, 115 here — closed
      categorical enums; four consumers would each re-run the
      two-table union scan), enum/QI cell grids
      (privacy_tcloseness_audit, privacy_kanonymity_joint — coarser
      lattice levels roll up from the pinned finest cells),
      dedup_lexical_semantic_ari's contingency cells (three marginal
      consumers), corpus_language_skew_audit's |sources|x|langs|
      cells, quality_drift_psi's (source, bin) cells (the total is
      derived from the cells, not a fourth corpus pass), score-grain
      tables (ml_pr_auc, ml_brier_decomposition, feature_woe_iv),
      per-type scalar tables (mad med/mad, ks bins, chisquare cells,
      funnel v/c/p both variants, phash hashes/sel, semantic-calib
      pred), embedding_centroid_shift's |labels|x64 centroid table, PCA
      dims + iterates, |sources|-row tables (mix_sources_temperature
      counts; sequence_packing_audit's strategy partial, read by three
      zero-key branches), corpus_dsir_importance's <=DSIR_BUCKETS-row
      feature-count grid, and 1-row wide-agg frames
      (table_stats_profile, whose six union branches re-scanned
      lineitem with zero exchange reuse; table_zonemap_audit).
    - Corpus-aggregate and k-bounded frames: token/tf/shingle index
      tables (burrows/prf/jsd/kmv/rag toks; rag_chunk_retrieval_eval's
      query tokens, |RAG_QUERY_DOCS| docs' distinct words, three
      consumers), curriculum_stage_plan's per-doc NLL table (doc-level,
      3 columns; the count + ordstats passes would each re-derive the
      token-explode + vocab-join aggregation), LSH candidate-pair lists
      and candidate-restricted shingle frames (recall audit, estimator
      calibration, containment, keep_best, cluster_ari cells), graph
      edge/degree frames (assortativity, pagerank, link prediction,
      CC's e0 nodes, golden members), k-bounded rankings (rag
      lr/sr/fr, spearman exact/proj, ivf qrow, kappa j,
      sim_matryoshka_recall), the TOP_K-row candidate set, one
      mapInPandas scoring pass feeding every sweep width,
      salted_bucket_groups' N_CENTROIDS-row bucket-size frame (one tiny
      eager job instead of re-deriving the assignment lineage),
      sim_srp_lsh_recall's bucket-bounded multi-probe candidate set
      (count + rerank consumers), embedding_jl_projection components,
      sim_contrastive_pair_mining's IVF assignments, the minhash
      signature table (1 row/doc, 64 ints) reused by probe + budget
      passes, ngram_pmi_bigrams' unigram counts uc (vocabulary-bounded
      per Heaps' law; n1/n2 are sum(c) over the pinned counts instead
      of two extra corpus-sized count actions), BPE first-merge vocab
      frames, and the substring gk frame (the one 2-scan floor; the
      full gram stream is NOT materialized).
    - streaming/queries.py: per-micro-batch probe results and bounded
      batch aggregates — batch-scoped, not corpus-scoped.
    - Fact-scale pins (fact_scale=True: a lineage-recoverable persist,
      never an executor-local checkpoint): events_ks_two_sample's
      (value, ga) sample frame; dedup_minhash_pairs' banded signature
      table (4 rows/doc; the band self-join's two signature subtrees
      both executed above the AQE-reused scan exchange, ~200 s of
      300 s sf5 CPU; pinned, with the shingles_of repartition, sf5
      13.2 -> 3.5 s and sf0.1 1.35 -> 0.80 s); train_shuffle_autocorr's
      doc-grain hash frame (-9% at sf1: three window/agg phases reuse
      it); the LSH pair lists of graph_degree_powerlaw and
      dedup_cross_source_matrix (the candidate list grows with the
      corpus and is worst-case superlinear in skewed band buckets);
      and ngram_pmi_bigrams' bigram counts bc (distinct bigrams are
      near-linear in the corpus).
    Measured not to pay, so NOT pinned: the KN-bigram and keyness
    frames (their repeated subtrees are identical, so runtime exchange
    reuse already dedupes them; the eager store measured slower, KN
    12.1 -> 18.5 s at sf5, or flat for keyness), and fact-scale
    persists of the user-day/click frames in events_dau_wau /
    events_retention_halflife / attribution_window_sweep (slower at
    sf0.1 and sf1: cache build/read overhead vs pushed narrow
    re-scans; their comments carry the measurement).
    histogram_equi_depth / weighted_median_price deliberately carry NO
    checkpoint (deterministic hash-gate re-scan; see their comments).
    """
    import pathlib
    import re as _re

    pkg = pathlib.Path(__file__).parent.parent / "http_datafusion_spark"
    sites: dict[str, int] = {}
    raw: dict[str, int] = {}
    for f in sorted(pkg.rglob("*.py")):
        rel = str(f.relative_to(pkg))
        # code lines only — pin() is discussed in comments/docstrings too
        text = "\n".join(
            ln for ln in f.read_text().splitlines() if not ln.lstrip().startswith("#")
        )
        n = len(_re.findall(r"\.transform\(pin[,)]|(?<![\w.])pin\(", text))
        if n and rel != "functions/pinning.py":
            sites[rel] = n
        if rel != "functions/pinning.py":
            r = len(_re.findall(r"\.localCheckpoint\(", text))
            if r:
                raw[rel] = r
    assert raw == {}, (
        "raw .localCheckpoint() call outside functions/pinning.py — use "
        f"pin() (df.transform(pin)) so the pin policy stays central: {raw}"
    )
    assert sites == {
        "operators/components.py": 20,
        "operators/curation.py": 21,
        "operators/dedup.py": 10,
        "operators/multimodal.py": 1,
        "operators/pipeline.py": 15,
        "operators/privacy.py": 2,
        "operators/similarity.py": 12,
        "operators/stats.py": 8,
        "operators/text.py": 12,
        "operators/timeseries.py": 11,
        "plans/events.py": 3,
        "streaming/queries.py": 4,
    }, f"pin() inventory drifted — audit the new/removed site: {sites}"


def test_bucketed_global_rank_guards_empty_input(spark):
    """bucketed_global_rank must raise a clear ValueError on
    an empty/all-null input (percentile bounds NULL), same as its
    sibling exact_rank_values."""
    import pytest as _pytest

    from http_datafusion_spark.functions.ordstats import bucketed_global_rank

    df = spark.range(10).selectExpr("cast(id as double) as v", "id as tb").filter("v < 0")
    with _pytest.raises(ValueError, match="no non-null rows"):
        bucketed_global_rank(df, "v", ["tb"])


def test_ordstats_guards_empty_and_out_of_range(spark):
    """exact_rank_values must fail loudly — a clear ValueError
    — on an empty input (percentile bounds come back NULL) and on ranks
    beyond the row count (not a silent dict omission surfacing as an
    opaque KeyError in feature_winsorize/corpus_datacard)."""
    import pytest as _pytest

    from http_datafusion_spark.functions.ordstats import exact_rank_values

    df = spark.range(10).selectExpr("cast(id as double) as v", "id as tb")
    with _pytest.raises(ValueError, match="no non-null rows"):
        exact_rank_values(df.filter("v < 0"), "v", "tb", [1])
    with _pytest.raises(ValueError, match="out of range"):
        exact_rank_values(df, "v", "tb", [11])
    # in-range still exact: rank k of 0..9 is k-1
    got = exact_rank_values(df, "v", "tb", [1, 5, 10])
    assert got == {1: 0.0, 5: 4.0, 10: 9.0}


def test_calibration_operators_candidate_gated_no_cartesian(spark, sf_dir):
    """Both calibration operators must stay candidate-then-verify:
    every join equi-keyed (no cartesian/nested-loop fallback), and the
    threshold sweep an exploded constant array (map-side), never a join
    against a thresholds relation."""
    for name in (
        "dedup_semantic_threshold_calibration",
        "dedup_minhash_estimator_calibration",
    ):
        s = plan_of(QS[name].spark(spark, sf_dir))
        assert "CartesianProduct" not in s, name
        # allowed nested-loop joins are constant-side broadcasts only:
        # the 1-row n_pred aggregate and the K-row centroid table of the
        # IVF candidate path — never a data-x-data product
        assert s.count("BroadcastNestedLoopJoin") <= 2, name


def test_r8_late_operators_plan_invariants(spark, sf_dir):
    """Scale-shape pins for fifteen retrieval, audit, stats and text
    operators: no cartesian products; the only nested-loop joins are
    constant-side broadcasts (dims grids, 1-row totals); the two
    corpus-scan audits keep their aggregation keyed (no data-sized
    single-partition exchange)."""
    for name in (
        "sim_matryoshka_recall",
        "table_zonemap_audit",
        "tokenizer_fertility_audit",
        "text_code_detect",
        "dedup_minhash_band_tuning",
        "rag_rrf_fusion_eval",
        "events_ks_two_sample",
        "events_mannwhitney_u",
        "graph_kcore_rounds",
        "multimodal_vad_segments",
        "feature_hashing_vectorizer",
        "vocab_chao1_unseen",
        "curriculum_stage_plan",
        "orders_theil_sen_trend",
        "text_rake_keywords",
    ):
        p = plan_of(QS[name].spark(spark, sf_dir))
        assert "CartesianProduct" not in p, name
        # matryoshka: probe-vector + dims-grid broadcasts; zonemap:
        # per-cutoff selects off the 1-row total; rrf: the 5-row probe
        # fan-out plus two range-condition joins against the 2-row ks
        # grid; kcore: two 1-row stat aggregates per peel round —
        # every nested-loop side is a constant-sized relation
        cap = 6 if name == "graph_kcore_rounds" else 5
        assert p.count("BroadcastNestedLoopJoin") <= cap, name

    # the corpus-linear scans must aggregate by key, not collapse to a
    # single partition before reducing (map-side partials carry it)
    for name in ("tokenizer_fertility_audit", "text_code_detect"):
        p = plan_of(QS[name].spark(spark, sf_dir))
        assert "HashAggregate" in p, name

    # matryoshka ranking must stay a keyed window — a global sort of
    # the scored candidates would be the 100x scale bug (every window
    # must be keyed on qid: a bare "Window" check would also pass a
    # global one)
    p = plan_of(QS["sim_matryoshka_recall"].spark(spark, sf_dir))
    assert "Exchange SinglePartition" not in p, "matryoshka window went global"
    for w in (ln for ln in p.splitlines() if "Window [" in ln):
        assert "windowspecdefinition(qid" in w, f"unkeyed window: {w.strip()[:120]}"


def test_retrieval_eval_windows_prune_map_side(spark, sf_dir):
    """The three retrieval-eval operators' probe-keyed rankings carry a LITERAL rank bound, so Spark inserts
    Partial+Final WindowGroupLimit — each map task forwards at most K
    rows per probe key and the keyed sort handles #map_partitions x K
    rows, never a corpus-sized partition. Without the Partial stage the
    3-20 probe reducers would each sort ~corpus/|probes| rows."""
    # Pinned rankings run once, when the pin materializes, and keep
    # their literal bounds and WindowGroupLimit there; the final plan
    # reads an RDD leaf instead. rag_rrf_fusion_eval pins its
    # lexical/semantic rankings (lr/sr; re-deriving them three times
    # cost 6 embeddings scans), so only the fusion ranking remains;
    # sim_matryoshka_recall pins its k-bounded ranking table rk, so
    # none remains.
    for name, n_windows in (
        ("sim_matryoshka_recall", 0),
        ("rag_chunk_retrieval_eval", 2),
        ("rag_rrf_fusion_eval", 1),
    ):
        p = plan_of(QS[name].spark(spark, sf_dir))
        n_rank_windows = sum(
            1 for ln in p.splitlines() if "Window [" in ln and "row_number()" in ln
        )
        n_partial = sum(
            1
            for ln in p.splitlines()
            if "WindowGroupLimit" in ln and ln.rstrip().endswith("Partial")
        )
        assert n_rank_windows == n_windows, (name, n_rank_windows)
        assert n_partial >= n_windows, (
            f"{name}: {n_partial} Partial WindowGroupLimits for "
            f"{n_rank_windows} ranking windows — a literal rank bound is "
            "missing and the keyed sort will see the corpus"
        )


# ---------------------------------------------------------------------------
# Ranking-window guard: the broadcast guard's treatment applied to
# ranking windows whose reducers sort corpus-sized partitions. Every exemption documents why the partition
# CONTENTS are bounded by construction (the guard cannot see key
# cardinality, only plan structure).

WINDOW_GUARD_ALLOWED = {
    "multimodal_vad_segments": "per-doc frame index: doc_id keys are corpus-scale, contents bounded by one audio payload",
    "dedup_segments": "segment-fingerprint keys are corpus-scale; contents = one duplicate group",
    "train_shuffle_shards": "two-phase rank: (shard, hb) = 16x64 constant keys, contents corpus/1024, N_SHARD_SUBBUCKETS is the knob; the per-key external sort IS the design's parallelism unit",
    "dedup_cluster_representatives": "connected-component keys are corpus-scale; contents = one duplicate cluster",
    "histogram_equi_depth": "ordstats-style two-phase rank over the literal-mod sample slice; __bkt buckets are equi-depth by quantile construction (balanced contents)",
    "bootstrap_mean_ci": "global window over the B-row replicate-mean table (B a literal grid; per-replicate keyed agg upstream bounds the input)",
    "attribution_models_compare": "conv_id keys are corpus-scale conversions; contents = one user journey",
    "cdc_scd2_intervals": "user_id keys are corpus-scale; contents = one user's event stream",
    "q_window_clause": "o_custkey keys are corpus-scale (SQL named-WINDOW parity surface)",
    # dedup_substring_runs: its gk pin is a lazy fact_scale persist, so
    # the documents scan stays visible beneath the (da, db, diag) window.
    "dedup_substring_runs": "pair-and-diagonal keys are corpus-scale; contents bounded by document length (COVERAGE row 'exact-substring runs')",
    "stats_bh_fdr": "global step-up window over the per-nation test table — m<=25 rows by the nation-keyed aggregate upstream; BH's sort is over TESTS, never facts",
    "events_group_sequential": "global look-scheduling windows over the day-grain cumulative table — |days|-bounded by the day-keyed aggregate upstream, and the looks table is <= GS_LOOKS rows; the schedule sorts DAYS, never facts",
    "quantile_sketch_audit": "per-shard local sort IS the sketch's parallelism unit (train_shuffle_shards pattern): contents = corpus/QS_SHARDS, QS_SHARDS the cluster-scaling knob; downstream merge is a window over the constant QS_SHARDS*QS_K summary",
}

# Probe-keyed rankings that carry a literal rank bound — these must stay
# WindowGroupLimit-pruned (train_shuffle_shards' repair moved it
# to the two-phase shape, which stays allowlisted above by design).
WINDOW_GUARD_REPAIRED = (
    "rag_chunk_retrieval_eval",
    "rag_rrf_fusion_eval",
    "sim_matryoshka_recall",
)


def test_no_unbounded_ranking_window_over_fact_scan(guard_sweep):
    flagged: dict[str, list[str]] = {}
    for name, (_, v, _) in guard_sweep.items():
        if v:
            flagged[name] = [
                f"keys={x.partition_keys} facts={x.fact_scans}: {x.window_head[:80]}"
                for x in v
            ]

    for name in WINDOW_GUARD_REPAIRED:
        assert name not in flagged, (
            f"repaired operator lost its rank-limit pushdown: {flagged.get(name)}"
        )

    unexplained = {n: v for n, v in flagged.items() if n not in WINDOW_GUARD_ALLOWED}
    assert not unexplained, (
        "ranking window over a fact-scale scan with no WindowGroupLimit — "
        f"add a literal rank bound or document an exemption: {unexplained}"
    )
    stale = sorted(set(WINDOW_GUARD_ALLOWED) - set(flagged))
    assert not stale, f"stale window-guard exemptions (site no longer flagged): {stale}"


def test_window_guard_unit(spark, sf_dir):
    """The guard's three structural decisions, pinned on synthetic plans:
    (a) a probe-keyed ranking window over a fact scan with no rank limit
        is flagged; (b) the same window behind a literal rank filter gets
        WindowGroupLimit and is clean; (c) ordstats' bucket-partitioned
        windows are exempt by the documented name convention."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    from plan_guards import (
        _partition_keys,
        ranking_window_violations,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    probe = docs.filter(F.col("doc_id").isin(1, 2, 3)).select(
        F.col("doc_id").alias("qid")
    )
    scored = docs.crossJoin(probe).select(
        "qid", "doc_id", F.length("text").alias("s")
    )
    rk = F.row_number().over(W.partitionBy("qid").orderBy(F.desc("s"), "doc_id"))

    # (a) unbounded probe-keyed ranking -> flagged
    v = ranking_window_violations(scored.select("qid", "doc_id", rk.alias("rk")))
    assert any(x.partition_keys == ("qid",) and "documents" in x.fact_scans for x in v)

    # (b) literal rank bound -> WindowGroupLimit -> clean
    v = ranking_window_violations(
        scored.select("qid", "doc_id", rk.alias("rk")).filter(F.col("rk") <= 5)
    )
    assert v == []

    # (c) the ordstats 'bucket' convention is exempt
    bucketed = docs.select(
        "doc_id", (F.col("doc_id") % 32).alias("bucket"), F.length("text").alias("s")
    )
    brk = F.row_number().over(W.partitionBy("bucket").orderBy("s", "doc_id"))
    v = ranking_window_violations(bucketed.select("bucket", brk.alias("rk")))
    assert v == []

    # partition-key parsing: keys stop at the first ordered column
    line = (
        "+- Window [row_number() windowspecdefinition(qid#1L, dim#2, cos#3 DESC "
        "NULLS LAST, vec_id#4L ASC NULLS FIRST, specifiedwindowframe(RowFrame, a, b)) "
        "AS rk#5], [qid#1L, dim#2], [cos#3 DESC NULLS LAST]"
    )
    assert _partition_keys(line) == ["qid", "dim"]


def test_r9_additions_plan_invariants(spark, sf_dir):
    """Scale-shape pins:
    - sequence_packing_audit: no cartesian products; the stream prefix
      sum must be keyed (source, hb), never a single-partition window;
      exactly one corpus token scan feeds the per-source partial (the
      three strategy branches read the checkpointed partial).
    - sim_ivf_incremental_upsert: both searches fuse to
      TakeOrderedAndProject (never a global sort materialization) and
      no cartesian product anywhere."""
    p = plan_of(QS["sequence_packing_audit"].spark(spark, sf_dir))
    assert "CartesianProduct" not in p
    for ln in p.splitlines():
        if "Window [" in ln:
            assert "windowspecdefinition(source" in ln, ln.strip()[:120]
    n_scans = sum(
        1 for ln in p.splitlines() if "FileScan" in ln and "documents.parquet" in ln
    )
    assert n_scans <= 2, f"token scan re-derived: {n_scans} documents scans"

    p = plan_of(QS["sim_ivf_incremental_upsert"].spark(spark, sf_dir))
    assert "CartesianProduct" not in p
    assert p.count("TakeOrderedAndProject") >= 4  # 2 exact + 2 store searches


def test_r9_late_additions_plan_invariants(spark, sf_dir):
    """Scale-shape pins:
    - corpus_dsir_importance: no cartesian; the lambda join is equi-keyed
      on the hashed feature (never a nested loop over doc-features).
    - sim_contrastive_pair_mining: candidate-bounded equi-joins only.
    - multimodal_scene_cuts: per-doc keyed lag/cumsum windows, no
      single-partition exchange, no joins at all."""
    p = plan_of(QS["corpus_dsir_importance"].spark(spark, sf_dir))
    assert "CartesianProduct" not in p
    # only the 1-row totals cross join may be a nested loop; the lambda
    # join onto doc-features must stay an equi hash join
    assert p.count("BroadcastNestedLoopJoin") <= 1
    p = plan_of(QS["sim_contrastive_pair_mining"].spark(spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p

    p = plan_of(QS["multimodal_scene_cuts"].spark(spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "Exchange SinglePartition" not in p
    for ln in p.splitlines():
        if "Window [" in ln:
            assert "windowspecdefinition(doc_id" in ln, ln.strip()[:120]


def test_r9_lake_ops_plan_invariants(spark, sf_dir):
    """Z-order audit: zones from bit math — no sort, no window, no
    cartesian; one orders scan feeds the layout explode (plus the 1-row
    max-key broadcast). Bloom audit: equi-joins only; the bit-position
    join must never be a nested loop."""
    p = plan_of(QS["table_zorder_clustering_audit"].spark(spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "Window [" not in p  # zones come from bit math, not ranking
    # the only Sort allowed is the 3-row output ordering by layout
    sorts = [ln for ln in p.splitlines() if "+- Sort [" in ln]
    assert all("layout" in ln for ln in sorts), sorts
    n_scans = sum(
        1 for ln in p.splitlines() if "FileScan" in ln and "orders.parquet" in ln
    )
    assert n_scans <= 2, n_scans  # data pass + 1-row max-key aggregate

    p = plan_of(QS["join_bloom_prefilter_audit"].spark(spark, sf_dir))
    assert "CartesianProduct" not in p


# ---------------------------------------------------------------------------
# Grouped-pandas bound guard: every
# groupBy(...).applyInPandas / cogrouped-pandas group must be argued
# bounded — a group materializes as ONE pandas DataFrame on one
# executor, so an unbounded key is an OOM at scale, not a slow shuffle.
# Key signatures observed across all registry plans, each with the
# reason the group is bounded BY CONSTRUCTION:
PANDAS_GUARD_BOUNDED: dict[tuple[str, ...], str] = {
    ("bucket", "gq", "gn"): (
        "salted sub-bucket split (similarity.salted_bucket_groups): a "
        "group holds one query slice + one neighbor slice, "
        "<= ~2*BUCKET_KNN_ROW_CAP rows at any corpus size — pinned by "
        "tests/test_similarity_kernel.py::test_group_size_is_bounded_by_cap_not_corpus"
    ),
    ("bi", "bj"): (
        "dedup block tiles (dedup.embedding_pairs_blocked): two vec_id "
        "% n_blocks blocks per group, n/n_blocks rows each; n_blocks "
        "is the scale knob (~sqrt parallelism at 100 TB)"
    ),
    ("bucket", "bi", "bj"): (
        "IVF within-bucket tiles (dedup.embedding_pairs_ivf): a "
        "group holds two vec_id % IVF_SUBBLOCKS sub-blocks of ONE "
        "probe bucket (<= 2 x bucket/nb rows), and the tile fn scores "
        "A-side rows in _TILE_ROW_CHUNK chunks, so task memory is "
        "O(chunk x sub-block) at any bucket size"
    ),
    ("user_id",): (
        "cogrouped per-entity key: group size tracks one user's "
        "activity (bounded per entity), key cardinality — not group "
        "size — grows with the corpus"
    ),
}


def test_every_grouped_pandas_key_is_argued_bounded(guard_sweep):
    observed: dict[tuple[str, ...], list[str]] = {}
    for name, (_, _, sigs) in guard_sweep.items():
        for sig in sigs:
            observed.setdefault(sig, []).append(name)

    unexplained = {
        sig: names
        for sig, names in observed.items()
        if sig not in PANDAS_GUARD_BOUNDED
    }
    assert not unexplained, (
        "grouped-pandas node whose key has no documented bound — argue "
        "it bounded (cap construction / block tiling / per-entity key) "
        f"in PANDAS_GUARD_BOUNDED or fix the plan: {unexplained}"
    )
    stale = sorted(set(PANDAS_GUARD_BOUNDED) - set(observed))
    assert not stale, (
        f"stale pandas-guard entries (signature no longer produced): {stale}"
    )


def test_pandas_guard_unit(spark, sf_dir):
    """Parser pins: grouped and cogrouped nodes are both seen, keys are
    normalized, and a plan with no grouped-pandas nodes yields []."""
    from plan_guards import (
        grouped_pandas_key_signatures,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert grouped_pandas_key_signatures(docs.limit(3)) == []

    import pandas as pd

    def head1(pdf: pd.DataFrame) -> pd.DataFrame:
        return pdf.head(1)[["doc_id", "source"]]

    g = docs.groupBy("source", (F.col("doc_id") % 4).alias("shard")).applyInPandas(
        head1, schema="doc_id bigint, source string"
    )
    assert grouped_pandas_key_signatures(g) == [("source", "shard")]


def test_collect_inventory_is_pinned():
    """Every driver-side `.collect()` in the package must have a
    documented bound. This pin makes the 'all collect sites bounded'
    claim structural (the localCheckpoint-inventory pattern), so an
    unbounded collect cannot land silently.

    Audit of the pinned sites (what bounds each):
    - engine.py (1): show-all-rows parity renderer — the PRODUCT-path
      table is a driver-staged HTTP ingest (the reference stages the
      same rows in driver memory, src/datasources.rs:192-198); the
      docstring documents the one-collect-vs-two-jobs trade.
    - functions/ordstats.py (4): two percentile_approx boundary
      probes (ORD_BUCKETS values each), one 1-row scalar, one
      rank-hit frame (<= |probed ranks| rows by the bucketed
      two-phase construction).
    - operators/similarity.py (5): fixed vec-id fetches (|ids| rows:
      query + centroid constants), K-centroid codebooks x2, and the
      MMR rerank candidate set (TOP_K rows by limit) + its pair grid
      (TOP_K^2) — all index-time constants, never corpus-scale.
    - operators/text.py (2): BPE merge loop's top-1 pair (limit 1 per
      step) and the BPE_TRAIN_MERGES-row merge table — tokenizer
      constants.
    - plans/reshape.py (1): 1-row min/max month extent feeding the
      recursive-CTE month grid.
    - sources/ingest_queries.py (1): the 25-row nation dim ingested
      over mock HTTP (dimension table by definition).
    - streaming/queries.py (1): 1-row min/max extent of a
      micro-batch probe.
    """
    import pathlib
    import re as _re

    pkg = pathlib.Path(__file__).parent.parent / "http_datafusion_spark"
    sites: dict[str, int] = {}
    for f in sorted(pkg.rglob("*.py")):
        txt = f.read_text()
        # `.collect()` calls only — not collect_list/collect_set exprs
        n = len(_re.findall(r"\.collect\(\)", txt))
        if n:
            sites[str(f.relative_to(pkg))] = n
    assert sites == {
        "engine.py": 1,
        "functions/ordstats.py": 4,
        "operators/similarity.py": 5,
        "operators/text.py": 2,
        "plans/reshape.py": 1,
        "sources/ingest_queries.py": 1,
        "streaming/queries.py": 1,
    }, f"collect() inventory drifted — audit the new/removed site: {sites}"


def test_spread_gives_the_shuffle_width_and_keys_the_next_group(spark, sf_dir):
    """spread(df, key) hash-partitions to spark.sql.shuffle.partitions
    whatever the input's width, narrower or wider, and leaves the rows
    partitioned on key, so a following groupBy(key) plans no exchange."""
    from http_datafusion_spark.plans.tables import spread

    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    d = load_tables(spark, sf_dir, "documents")["documents"].select("doc_id", "text")
    for src in (d.coalesce(1), d.repartition(2 * spark.sparkContext.defaultParallelism, "doc_id")):
        assert spread(src, "doc_id").rdd.getNumPartitions() == n_shuffle
        # The spread's exchange replaces the input's and serves the group.
        assert plan_of(spread(src, "doc_id").groupBy("doc_id").count()).count("Exchange") == 1


def test_spread_does_no_driver_side_planning(spark, sf_dir, monkeypatch):
    """spread() only adds a repartition to the logical plan: it never
    reaches DataFrame.rdd, which plans the frame on the driver."""
    from http_datafusion_spark.plans.tables import spread

    d = load_tables(spark, sf_dir, "embeddings")["embeddings"].select("vec_id", "embedding")

    def planned(self):
        raise AssertionError("spread() planned its input on the driver")

    monkeypatch.setattr(type(d), "rdd", property(planned))
    spread(d, "vec_id")


def test_spread_width_is_read_in_one_place():
    """Scan width is one rule: no package code asks a frame for its
    partition count, spark.sql.shuffle.partitions is read only where
    the session sets it and in plans.tables.spread, and
    defaultParallelism only for the two ingest widths."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).parent.parent / "http_datafusion_spark"
    shuffle_conf, parallelism, num_partitions = set(), set(), []
    for f in sorted(pkg.rglob("*.py")):
        rel, src = str(f.relative_to(pkg)), f.read_text()
        if "getNumPartitions" in src:
            num_partitions.append(rel)
        for fn in ast.walk(ast.parse(src)):
            if not isinstance(fn, ast.FunctionDef):
                continue
            for node in ast.walk(fn):
                if isinstance(node, ast.Constant) and node.value == "spark.sql.shuffle.partitions":
                    shuffle_conf.add((rel, fn.name))
                if isinstance(node, ast.Attribute) and node.attr == "defaultParallelism":
                    parallelism.add(rel)
    assert num_partitions == []
    assert shuffle_conf == {("session.py", "get_spark"), ("plans/tables.py", "spread")}
    assert parallelism == {"engine.py", "sources/http_json.py"}


def test_quantize_is_written_in_one_place():
    """The per-row rule behind an engine-independent sum (round to d
    places as a decimal) is fixedpoint.quantize: no other package code
    spells ``F.round(x, d).cast("decimal(p,d)")``, inline or as the
    body of a local function or lambda."""
    import ast
    import pathlib

    def round_then_decimal(node) -> bool:
        return (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "cast"
            and bool(node.args)
            and isinstance(node.args[0], ast.Constant)
            and str(node.args[0].value).startswith("decimal")
            and isinstance(node.func.value, ast.Call)
            and isinstance(node.func.value.func, ast.Attribute)
            and node.func.value.func.attr == "round"
        )

    pkg = pathlib.Path(__file__).parent.parent / "http_datafusion_spark"
    files = {str(f.relative_to(pkg)): f for f in sorted(pkg.rglob("*.py"))}
    assert "functions/fixedpoint.py" in files
    inline, helpers = [], []
    for rel, f in files.items():
        if rel == "functions/fixedpoint.py":
            continue
        tree = ast.parse(f.read_text())
        bodies = set()
        for node in ast.walk(tree):
            if isinstance(node, ast.Lambda):
                body = node.body
            elif isinstance(node, ast.FunctionDef) and isinstance(node.body[-1], ast.Return):
                body = node.body[-1].value
            else:
                continue
            if round_then_decimal(body):
                bodies.add(id(body))
                helpers.append((rel, node.lineno))
        inline += [
            (rel, node.lineno)
            for node in ast.walk(tree)
            if round_then_decimal(node) and id(node) not in bodies
        ]
    assert helpers == [], f"local quantizers, call fixedpoint.quantize: {helpers}"
    assert inline == [], f"inline round-then-decimal, call fixedpoint.quantize: {inline}"


def test_refused_session_conf_is_logged_and_the_rest_are_set(caplog):
    """A session that refuses one runtime conf gets a warning naming the
    key and the exception; the loader still sets every other conf."""
    import logging
    from types import SimpleNamespace

    from http_datafusion_spark.plans.tables import _ensure_session_confs
    from http_datafusion_spark.session import RUNTIME_CONFS

    refused = "spark.sql.legacy.parquet.nanosAsLong"
    applied: dict[str, str] = {}

    def set_conf(k: str, v: str) -> None:
        if k == refused:
            raise RuntimeError("cannot modify the value of a static config")
        applied[k] = v

    stub = SimpleNamespace(conf=SimpleNamespace(set=set_conf))
    with caplog.at_level(logging.WARNING, logger="http_datafusion_spark.plans.tables"):
        _ensure_session_confs(stub)
    assert applied == {k: v for k, v in RUNTIME_CONFS.items() if k != refused}
    [record] = [r for r in caplog.records if r.name == "http_datafusion_spark.plans.tables"]
    assert record.levelno == logging.WARNING
    msg = record.getMessage()
    assert refused in msg and "RuntimeError" in msg and "static config" in msg
