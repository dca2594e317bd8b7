"""Physical-plan regression tests — the scale properties SCALE.md
claims, asserted on .explain output so they can't silently rot.
"""

from __future__ import annotations

import contextlib
import io

import pytest

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def qs(spark):
    import __spark_entry__ as e

    return e.queries()


def test_tpch_joins_broadcast_dims(spark, qs):
    p = plan_of(qs["tpch_q3"](spark, SF))
    assert "SortMergeJoin" not in p
    assert "BroadcastHashJoin" in p


def test_scans_prune_columns_and_push_filters(spark, qs):
    p = plan_of(qs["tpch_q6"](spark, SF))
    assert "PushedFilters: [" in p and "GreaterThanOrEqual(l_discount" in p
    # projection pruning: the lineitem scan must not read all 11 columns
    import re

    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", p)
    assert schemas and all(s.count(",") <= 3 for s in schemas), schemas


def test_rank_uses_distributed_topk(spark, qs):
    p = plan_of(qs["dsl_highestCurrent"](spark, SF))
    assert "TakeOrderedAndProject" in p
    assert "SinglePartition" not in p


def test_series_window_partitions_by_name(spark, qs):
    p = plan_of(qs["dsl_movingAverage"](spark, SF))
    # the moving window must be partitioned (no global-sort window)
    assert "SinglePartition" not in p


def test_filter_semi_join_broadcasts_winners(spark, qs):
    p = plan_of(qs["dsl_maximumAbove"](spark, SF))
    assert "BroadcastHashJoin" in p and "LeftSemi" in p


def test_consolidate_reads_pruned_schema(spark, qs):
    import re

    p = plan_of(qs["rrd_consolidate_wmean"](spark, SF))
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", p)
    # events has 6 columns; the series projection needs only 3
    assert schemas and all(s.count(",") == 2 for s in schemas), schemas


def test_minhash_join_keys_are_hashes(spark, qs):
    # the LSH pair join must join on (band, key), never cross-join
    p = plan_of(qs["dedup_minhash_lsh"](spark, SF))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_sort_by_rank_is_range_partitioned(spark):
    """sortBy* must not funnel the stats relation through a global
    single-partition window: ranking range-partitions on the sort keys
    and the only unpartitioned window runs over per-partition counts
    (#partitions rows, bounded by cluster width)."""
    from tgres_spark.operators.dsl_special import sort_by

    df = spark.createDataFrame(
        [(f"m{i}", 0, float(i)) for i in range(20)],
        "name string, t long, value double",
    )
    out = sort_by(df, "total")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in plan.lower()
    names = sorted(r["name"] for r in out.collect())
    assert "1:m19" in names and "20:m0" in names


def test_embedding_lsh_joins_are_not_cartesian(spark):
    """dedup_embedding_lsh's only cross join is the 1-row broadcast
    plane relation; candidate generation must be an equi-join on
    (tbl, bucket), never a cartesian over vectors."""
    from tgres_spark.pipeline.similarity import dedup_embedding_lsh

    emb = spark.createDataFrame(
        [(i, [float(i % 7)] * 64, 0) for i in range(30)],
        "vec_id long, embedding array<float>, label int",
    )
    plan = (
        dedup_embedding_lsh(emb)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row plane relation


def test_deterministic_sums_stay_integer(spark, qs):
    """The determinism contract's hot-path sums accumulate BIGINT
    micro-units, never BigDecimal — decimal aggregation falls out of
    whole-stage codegen and measured 1.65x a plain double sum
    (SCALE.md). A dec6/decimal(38,6) reappearing in these plans is a
    performance regression even when results stay correct."""
    for key in ("rrd_consolidate_wmean", "dsl_sumSeries", "statsd_flush_counters"):
        p = plan_of(qs[key](spark, SF))
        assert "FLOOR" in p, key  # quantization still present
        assert "decimal(38,6)" not in p.lower().replace(" ", ""), key


def test_statsd_gauge_flush_is_one_aggregate(spark, qs):
    """The gauge flush is one aggregate per (window, name): the last
    set value is max(struct(t, v)), so the executed plan has no Window
    and no Join, and the batch plan carries no streaming watermark."""
    import re

    df = qs["statsd_flush_gauges"](spark, SF)
    df.collect()
    qe = df._jdf.queryExecution()
    p = qe.executedPlan().toString()
    spark.catalog.clearCache()
    assert not re.search(r"\bWindow\b", p), p
    assert "Join" not in p, p
    assert "EventTimeWatermark" not in qe.optimizedPlan().toString()


def test_multi_rra_shares_one_duration_pass(spark, qs):
    """rrd_multi_rra: ONE window/lag pass feeds every archive (the
    reference's single PDP stream updating all RRAs) — the persisted
    relation appears as InMemoryTableScan per archive, not repeated
    Window stages."""
    import re

    p = plan_of(qs["rrd_multi_rra"](spark, SF))
    # the cached relation's Window node appears once per archive scan,
    # but it's the SAME node id — distinct ids = distinct lag passes
    ids = set(re.findall(r"Window \((\d+)\)", p))
    assert len(ids) <= 1, ids
    assert "InMemoryTableScan" in p or "InMemoryRelation" in p


def test_repetition_and_gopher_are_map_only(spark, qs):
    # per-doc repetition signals must come from higher-order functions,
    # never an explode + corpus-wide groupBy: no KEY shuffle in the
    # plan. A single RoundRobinPartitioning exchange is the
    # model.spread_small scan-parallelism spread (round 12) — data-
    # independent, carries no aggregation, allowed; hashpartitioning
    # would mean the signals left the per-row HOF shape and is not.
    for key in ("text_repetition", "pipeline_gopher_filter"):
        p = plan_of(qs[key](spark, SF))
        assert "Exchange hashpartitioning" not in p, key
        assert "SinglePartition" not in p, key


def test_ivf_assign_broadcasts_codebook(spark, qs):
    p = plan_of(qs["ann_ivf_assign"](spark, SF))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" in p  # 1-row codebook relation
    assert "Exchange hashpartitioning" not in p  # map-only assignment


def test_pq_encode_is_map_only(spark, qs):
    # PQ encoding must be a single codegen scan against the broadcast
    # codebooks: no shuffle anywhere in the plan
    p = plan_of(qs["ann_pq_encode"](spark, SF))
    assert "Exchange hashpartitioning" not in p
    assert "CartesianProduct" not in p


def test_ivf_pq_search_plan_shape(spark, qs):
    # composed IVF routing x PQ: probe relation broadcasts into the
    # cell join; codebooks are 1-row broadcast relations; no cartesian
    p = plan_of(qs["ann_ivf_pq_search"](spark, SF))
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p


def test_ivf_lloyd_plan_shape(spark, qs):
    # one Lloyd iteration: codebook + new-centroid relations broadcast
    # (1-row each), member sums map-side-combined — never a cartesian
    p = plan_of(qs["ann_ivf_lloyd_fixed"](spark, SF))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" in p


def test_top_ngrams_uses_distributed_topk(spark, qs):
    p = plan_of(qs["corpus_top_ngrams"](spark, SF))
    assert "TakeOrderedAndProject" in p  # per-partition heads, no global sort


def test_prep_e2e_plan_shape(spark, qs):
    p = plan_of(qs["pipeline_prep_e2e"](spark, SF))
    assert "CartesianProduct" not in p
    # doc_id semi/anti joins + the pack window; never a global sort
    assert "LeftAnti" in p


def test_q19_or_predicate_stays_in_broadcast_join(spark, qs):
    # single-side disjuncts factored into the scans (brand IN-list on
    # part, quantity range on lineitem), residual OR inside the
    # broadcast hash join — no shuffle for the dim side
    p = plan_of(qs["tpch_q19"](spark, SF))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "In(p_brand" in p  # brand IN-list pushed to the part scan
    assert "GreaterThanOrEqual(l_quantity" in p  # qty union range pushed

def test_q18_topk_is_distributed(spark, qs):
    p = plan_of(qs["tpch_q18"](spark, SF))
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p


def test_q15_scalar_max_is_broadcast_equijoin(spark, qs):
    # the scalar max re-enters as a 1-row broadcast HASH join (equality
    # on total_revenue), never a global sort of the revenue view
    p = plan_of(qs["tpch_q15"](spark, SF))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_q22_anti_join_prunes_orders_scan(spark, qs):
    # the NOT EXISTS side scans orders date-pruned; anti join on the
    # uniform customer key; scalar avg is a 1-row broadcast NLJ
    p = plan_of(qs["tpch_q22"](spark, SF))
    assert "LeftAnti" in p
    assert "CartesianProduct" not in p


def test_q21_aggregates_instead_of_self_joins(spark, qs):
    # the EXISTS/NOT-EXISTS pair must be the per-order aggregate
    # formulation: no cartesian, no 3-way lineitem self-join blowup —
    # lineitem is scanned ONCE (plus the orders join)
    p = plan_of(qs["tpch_q21"](spark, SF))
    assert "CartesianProduct" not in p
    assert p.count("lineitem.parquet") == 1


def test_q16_distinct_count_is_two_phase(spark, qs):
    # COUNT(DISTINCT) must partial-aggregate before the final shuffle
    # (HashAggregate with partial_count(distinct ...) map-side)
    p = plan_of(qs["tpch_q16"](spark, SF))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_q11_scalar_threshold_is_one_row_broadcast(spark, qs):
    p = plan_of(qs["tpch_q11"](spark, SF))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" in p  # the 1-row total, by design


def test_hll_registers_aggregate_map_side(spark, qs):
    # the register fold must partial-aggregate (max) before its one
    # shuffle; no window, no cartesian
    p = plan_of(qs["events_hll_distinct"](spark, SF))
    assert "CartesianProduct" not in p
    assert "Window" not in p


def test_bucketed_consolidate_is_shuffle_free(spark, tmp_path):
    """bucketBy(name) sortBy(name, t) satisfies the consolidate
    window's partitioning AND the slot aggregate's distribution off
    disk: ZERO Exchange operators in the whole plan (the SCALE.md
    co-location claim as code). The plain-parquet path needs one."""
    from tgres_spark.bucketed import read_bucketed_series, write_bucketed_series
    from tgres_spark.model import series_from_events
    from tgres_spark.operators.consolidate import consolidate

    sf = series_from_events(spark, SF)
    write_bucketed_series(sf, "tb_plans", str(tmp_path / "s"), n_buckets=4)
    p = plan_of(consolidate(read_bucketed_series(spark, "tb_plans"), 3600))
    assert "Exchange" not in p
    assert "Bucketed: true" in p
    # same operator over plain parquet DOES shuffle — the bucket layout
    # is what deletes it, not the operator
    sf.write.mode("overwrite").parquet(str(tmp_path / "plain"))
    p2 = plan_of(consolidate(spark.read.parquet(str(tmp_path / "plain")), 3600))
    assert "Exchange" in p2


def test_bucketed_series_join_is_shuffle_free(spark, tmp_path):
    """Two archives bucketed by name the same way sort-merge-join on
    (name, t) with ZERO Exchange: HashPartitioning(name) co-partitions
    the join on the key subset (requireAllClusterKeysForCoPartition
    =false, set in session.py). Broadcast is disabled here to expose
    the co-located SMJ — at 100 TB neither side broadcasts."""
    from pyspark.sql import functions as F

    from tgres_spark.bucketed import read_bucketed_series, write_bucketed_series
    from tgres_spark.model import series_from_events

    sf = series_from_events(spark, SF)
    write_bucketed_series(sf, "tb_join_a", str(tmp_path / "a"), n_buckets=4)
    write_bucketed_series(
        sf.withColumn("value", F.col("value") * 2),
        "tb_join_b", str(tmp_path / "b"), n_buckets=4,
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        a = read_bucketed_series(spark, "tb_join_a").alias("a")
        b = read_bucketed_series(spark, "tb_join_b").alias("b")
        j = a.join(b, ["name", "t"]).select(
            "name", "t", (F.col("a.value") / F.col("b.value")).alias("ratio")
        )
        p = plan_of(j)
        assert "SortMergeJoin" in p
        assert "Exchange" not in p
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_runtime_bloom_filter_prunes_fact_scan(spark):
    """The 100 TB fact⋈fact story when neither side broadcasts: with
    runtime bloom filters on, Spark builds a bloom_filter_agg on the
    selective side and injects might_contain into the OTHER side's
    scan filter — rows that cannot join die at the scan, before the
    shuffle. Pinned here so the conf story in docs/SCALE.md stays
    true on this Spark version."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        o = spark.read.parquet("/root/testdata/sf0.01/orders.parquet")
        li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
        small = o.where("o_totalprice > 100000")
        j = li.join(small, li.l_orderkey == small.o_orderkey)
        plan = plan_of(j)
        assert "bloom_filter_agg" in plan
        assert "might_contain" in plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_plan_audit_window_detector(spark):
    """plan_audit's global-window detector must be red on a crafted
    no-partition window, and stay quiet on (a) a partitioned window,
    (b) a partitioned-but-unordered window, and (c) the round-5
    false-positive shape: a scalar aggregate's SinglePartition
    Exchange in the same plan as an unrelated partitioned Window."""
    import sys
    from pathlib import Path

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    from plan_audit import global_window_specs

    df = spark.range(100).withColumn("g", F.col("id") % 5)

    bad = df.withColumn(
        "rank", F.sum("id").over(
            Window.orderBy("id").rowsBetween(Window.unboundedPreceding, 0))
    )
    assert global_window_specs(plan_of(bad)) == 1

    good = df.withColumn(
        "rank", F.sum("id").over(
            Window.partitionBy("g").orderBy("id")
            .rowsBetween(Window.unboundedPreceding, 0))
    )
    assert global_window_specs(plan_of(good)) == 0

    unordered = df.withColumn(
        "tot", F.sum("id").over(Window.partitionBy("g")))
    assert global_window_specs(plan_of(unordered)) == 0

    # partitioned window joined to a scalar aggregate: the scalar
    # side's Exchange SinglePartition must not implicate the Window
    scalar = df.agg(F.sum("id").alias("s"))
    mixed = good.crossJoin(F.broadcast(scalar))
    p = plan_of(mixed)
    assert "SinglePartition" in p  # the decoy is really there
    assert global_window_specs(p) == 0


def test_perplexity_filter_plan_shape(spark, qs):
    """The CCNet cut: cutoffs broadcast back to the scored stream, no
    cartesian, no Python anywhere, and the tercile window is
    partitioned (by lang over the histogram), never global."""
    p = plan_of(qs["pipeline_perplexity_filter"](spark, SF))
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p


def test_int8_quantize_is_one_agg_plus_map(spark, qs):
    """Scalar quantization: ONE global aggregate re-enters as a
    broadcast; the code/error pass is map-only (no shuffle of the
    corpus beyond the d-value stats row)."""
    p = plan_of(qs["emb_int8_quantize"](spark, SF))
    assert "BroadcastNestedLoopJoin" in p
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p


def test_zipf_topk_is_distributed(spark, qs):
    """The only corpus-size work is the word-count groupBy; top-k must
    be TakeOrderedAndProject (per-partition heads), never a global
    sort of the count relation."""
    p = plan_of(qs["corpus_zipf_fit"](spark, SF))
    assert "TakeOrderedAndProject" in p
    assert "BatchEvalPython" not in p


def test_heaps_curve_has_no_windows(spark, qs):
    """The growth curve is pure aggregation: threshold relation
    broadcast, zero Window nodes, zero Python."""
    p = plan_of(qs["corpus_heaps_curve"](spark, SF))
    assert "Window" not in p
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p


def test_dsir_model_broadcasts_and_topk_distributed(spark, qs):
    """DSIR: the <=4096-row log-ratio model must broadcast onto the
    doc bigram stream (the hashed-feature constant-size property) and
    the selection must be distributed top-k."""
    p = plan_of(qs["pipeline_dsir_select"](spark, SF))
    assert "BroadcastHashJoin" in p
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p


def test_audio_dedup_shuffles_signatures_not_payloads(spark, qs):
    """The audio bridge inherits the pigeonhole guarantees: no
    cartesian, no Python, and the pair join runs on the 4-int chunk
    keys (hash-partitioned exchange), never on payload bytes."""
    p = plan_of(qs["mm_audio_dedup"](spark, SF))
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_boilerplate_strip_no_cartesian_no_python(spark, qs):
    """The chunk-hash spread join and doc reassembly stay relational:
    no CartesianProduct, no Python evaluation, and the final window-
    free plan (sort_array inside an aggregate, not a Window)."""
    p = plan_of(qs["pipeline_boilerplate_strip"](spark, SF))
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "Window" not in p


def test_prep_full_reuses_cleaned_corpus_via_cache(spark, qs):
    """The cleaned corpus must enter the plan as an InMemoryRelation
    (the persist that took the sf0.1 run from 155s to 13s) — every
    downstream consumer (Gopher gate, signatures, quality, joins)
    reads the cache, not a re-derivation of the chunk pipeline."""
    spark.catalog.clearCache()
    p = plan_of(qs["pipeline_prep_full"](spark, SF))
    assert "InMemoryTableScan" in p or "InMemoryRelation" in p
    assert "CartesianProduct" not in p
    spark.catalog.clearCache()


def test_band_sweep_truth_join_not_cartesian(spark, qs):
    """All four band layouts and the exact-Jaccard truth join run as
    keyed joins (cfg/band/key and doc pairs) — never a cross join —
    and the sweep emits one aggregate row per layout without a global
    window."""
    p = plan_of(qs["dedup_minhash_band_sweep"](spark, SF))
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p


def test_dedup_incremental_shuffles_only_increment(spark, tmp_path):
    """The incremental-dedup contract at 100 TB: the existing corpus
    is never re-shingled (its TEXT is never read — only the 16-hex
    signature index), and the index never shuffles — every join is a
    broadcast of an increment-derived relation, so the only hash
    exchanges left are the increment's own signature aggregation and
    the pair dedup."""
    from pyspark.sql import functions as F

    from tgres_spark.pipeline.dedup import dedup_incremental, minhash_signatures

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    m = F.col("doc_id") % 5
    idx = tmp_path / "index"
    minhash_signatures(docs.where(m != 0)).write.parquet(str(idx))
    p = plan_of(dedup_incremental(spark, str(idx), docs.where(m == 0)))

    import re

    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", p)
    # exactly one scan touches raw text (the increment); the other
    # scan is the signature index
    assert sum("text" in s for s in schemas) == 1, schemas
    assert any("sig" in s and "text" not in s for s in schemas), schemas
    # index side enters via broadcast joins only — a SortMergeJoin or
    # ShuffledHashJoin here would mean the index shuffled
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p
    assert "CartesianProduct" not in p


def test_mm_text_image_candidates_are_bucket_joins(spark):
    """Cross-modal retrieval plan: candidates form ONLY inside LSH
    (tbl, bucket) equi-joins — the single nested-loop join in the
    plan is the declared n_queries-bounded exact baseline, and no
    CartesianProduct appears anywhere."""
    from tgres_spark.pipeline.similarity import mm_text_image_pairs

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    p = plan_of(mm_text_image_pairs(emb))
    assert "CartesianProduct" not in p
    # the candidate join is a (tbl, bucket) broadcast equi-join
    import re

    assert "BroadcastHashJoin" in p
    assert re.search(r"eys \[2\]: \[tbl#\d+L?, bucket#\d+", p), p[:2000]
    # nested-loop joins exist only against bounded broadcasts (the
    # one-row plane relation and the n_queries exact baseline) —
    # every BNLJ node in the tree must be a BuildRight broadcast,
    # never a shuffled cartesian
    assert "CartesianProduct" not in p and "ShuffledHashJoin" not in p


def test_kenlm_proxy_gram_tables_broadcast(spark):
    """The hashed-LM scale contract: all six n-gram bucket-table
    joins (5/4p/4n/3p/3n/2p) are broadcasts — each table is capped at
    4096 rows by the hash range, so none may ever reach a shuffle
    join. (The exact unigram Laplace join is free to flip to SMJ at
    real vocab sizes; at this SF it broadcasts too.)"""
    import re

    from tgres_spark.pipeline.textstats import text_kenlm_proxy

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan_of(text_kenlm_proxy(docs))
    bhj = len(set(re.findall(r"\((\d+)\) BroadcastHashJoin", p)))
    assert bhj >= 6, p[:1500]
    assert "CartesianProduct" not in p
