"""The one measurement protocol behind ``bench.py`` and
``tools/profile_query.py``.

A key's time is the wall time to build its query and produce the
WHOLE result, through Spark's noop sink. ``count()`` is not used:
under it Catalyst prunes every column and operator the count does not
need, so it times a different, smaller plan than the result the
oracle checks. Each timed run starts from ``clearCache()``, because
CacheManager matches canonical plans and a cache left by the previous
run would rewire the next one. A full warm-up pass over every key
comes first: JIT compilation keeps improving for several executions,
and steady state is what the timings claim. The estimate is the best
of ``RUNS`` runs, and the hypervisor steal recorded with it is that
best run's own, sampled around it.

Budgets are keyed by ``(sf, cpus, materialize)``, with ``cpus`` =
``defaultParallelism``. A run is judged only against a budget frozen
under the same key; otherwise ``judge`` reports the mismatch and no
violations.
"""

from __future__ import annotations

import statistics
import sys
import time
from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession

BENCH_QUERIES = [
    "rrd_multi_rra", "dsl_sumSeries", "dsl_movingAverage",
    "dsl_percentileOfSeries", "statsd_flush_timers", "tpch_q1", "tpch_q3",
    "tpch_q5", "tpch_q6", "events_sessionize", "dsl_expression_parser",
    "dedup_minhash_lsh", "dedup_simhash", "dedup_embedding_lsh",
    "dedup_components", "ann_cosine_topk", "ann_lsh_topk", "events_retention",
    "events_hist_quantiles", "pipeline_corpus_clean", "text_quality",
    "pipeline_gopher_filter", "corpus_top_ngrams", "ann_pq_search",
    "events_anomaly", "tpch_q8", "tpch_q18", "events_hll_distinct",
    "events_conversion_lag", "pipeline_span_dedup", "events_asof_join",
    "events_cms_heavy_hitters", "mm_phash_dedup", "events_bloom_membership",
    "mm_video_keyframes", "ann_ivfadc_search", "text_bigram_lm",
    "pipeline_perplexity_filter", "emb_int8_quantize", "pipeline_dsir_select",
    "mm_audio_dedup", "pipeline_boilerplate_strip", "pipeline_prep_full",
    "dedup_minhash_band_sweep", "dedup_incremental", "dedup_containment",
    "text_kenlm_proxy", "corpus_bpe_merge2", "mm_text_image_pairs",
    "emb_pca2_deflate", "dedup_simhash_sweep", "dedup_minhash_k_sweep",
    "tpch_basket_pairs", "pipeline_contamination_incremental", "mm_scene_cuts",
    "dedup_index_update", "corpus_bpe_encode", "graph_pagerank2_fixed",
    "pipeline_rank_quality", "pipeline_span_dedup2", "emb_matryoshka_eval",
    "pipeline_span_scrub", "ann_ivf_compact", "ann_ivf_refit_warm",
    "graph_pagerank2_weighted", "pipeline_sample_weighted", "ann_ivf_split",
    "ann_ivf_search_maintained", "dedup_semdedup", "dedup_semdedup_increment",
    "emb_abtt", "emb_isotropy", "graph_community_labelprop",
    "pipeline_nb_quality", "dedup_embedding", "graph_hits2_fixed",
    "statsd_flush_all",
]
MATERIALIZE = "noop"
RUNS = 3


def cpu_sample() -> list[int] | None:
    """The aggregate ``cpu`` row of /proc/stat, in jiffies."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def steal_pct(c0: list[int] | None, c1: list[int] | None) -> float | None:
    """Steal share of busy CPU between two samples. Busy excludes idle
    (field 3) and iowait (4), and stops before the guest fields, which
    Linux already counts inside user and nice."""
    if not (c0 and c1) or min(len(c0), len(c1)) < 8:
        return None
    d = [y - x for x, y in zip(c0[:8], c1[:8])]
    busy = sum(d) - d[3] - d[4]
    return round(100.0 * d[7] / busy, 2) if busy > 0 else None


def materialize(df: DataFrame) -> None:
    df.write.format(MATERIALIZE).mode("overwrite").save()


def warmup(spark: SparkSession, build: Callable[[str], DataFrame],
           keys: Iterable[str]) -> None:
    for k in keys:
        spark.catalog.clearCache()
        materialize(build(k))


def time_key(spark: SparkSession, build: Callable[[str], DataFrame],
             key: str, runs: int = RUNS) -> tuple[float, float | None]:
    """(best seconds, steal % of that best run) over ``runs`` runs."""
    spark.sparkContext.setJobDescription(key)
    best, steal = float("inf"), None
    for _ in range(runs):
        spark.catalog.clearCache()
        c0, t0 = cpu_sample(), time.perf_counter()
        materialize(build(key))
        sec, c1 = time.perf_counter() - t0, cpu_sample()
        if sec < best:
            best, steal = sec, steal_pct(c0, c1)
    print(f"# {key}: {best:.3f}s (steal {steal})", file=sys.stderr)
    return round(best, 3), steal


def judge(timings: dict[str, float], budget: dict, key: dict) -> dict:
    """Median ratio to budget, and violations: keys beyond both
    ``tolerance`` × budget and budget + ``abs_margin_s`` (sub-second
    keys swing by more than the tolerance from scheduling alone)."""
    frozen = {k: budget.get(k) for k in key}
    if frozen != key:
        return {"budget_median_ratio": None, "budget_violations": {},
                "budget_mismatch": {"budget": frozen, "run": key}}
    tol, margin = budget["tolerance"], budget["abs_margin_s"]
    ratios = {k: timings[k] / b for k, b in budget["queries"].items()
              if k in timings and b}
    viol = {k: r for k, r in ratios.items()
            if r > tol and timings[k] - budget["queries"][k] > margin}
    med = round(statistics.median(ratios.values()), 3) if ratios else None
    return {"budget_median_ratio": med,
            "budget_violations": {k: round(v, 3) for k, v in viol.items()},
            "budget_mismatch": None}
