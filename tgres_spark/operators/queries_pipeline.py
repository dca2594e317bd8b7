"""SURVEY §2.8 — LLM-data-pipeline queries on documents/embeddings."""

from __future__ import annotations

from pyspark.sql import functions as F

from ..model import load_table, workdir
from ..pipeline import dedup as dd
from ..pipeline import graph as _graph
from ..pipeline import multimodal as mm
from ..pipeline import prep as pp
from ..pipeline import similarity as sim
from ..pipeline import textstats as tx
from ..registry import register


def _docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


def _emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


register("dedup_exact", sql=dd.DEDUP_EXACT_SQL)(
    lambda s, d: dd.dedup_exact(_docs(s, d))
)
register("dedup_minhash_lsh", sql=dd.dedup_minhash_lsh_sql())(
    lambda s, d: dd.dedup_minhash_lsh(_docs(s, d))
)
register("dedup_simhash", sql=dd.dedup_simhash_sql())(
    lambda s, d: dd.dedup_simhash(_docs(s, d))
)
register("dedup_minhash_est", sql=dd.dedup_minhash_est_sql())(
    lambda s, d: dd.dedup_minhash_est(_docs(s, d))
)
register("dedup_containment", sql=dd.dedup_containment_sql())(
    lambda s, d: dd.dedup_containment(_docs(s, d))
)
register("dedup_cluster_stats", sql=dd.dedup_cluster_stats_sql())(
    lambda s, d: dd.dedup_cluster_stats(_docs(s, d))
)
register("text_readability", sql=tx.text_readability_sql())(
    lambda s, d: tx.text_readability(_docs(s, d))
)
register("dedup_minhash_k_sweep", sql=dd.dedup_minhash_k_sweep_sql())(
    lambda s, d: dd.dedup_minhash_k_sweep(_docs(s, d))
)
register("dedup_simhash_sweep", sql=dd.dedup_simhash_sweep_sql())(
    lambda s, d: dd.dedup_simhash_sweep(_docs(s, d))
)
register("dedup_threshold_sweep", sql=dd.dedup_threshold_sweep_sql())(
    lambda s, d: dd.dedup_threshold_sweep(_docs(s, d))
)
register("dedup_ngram_jaccard", sql=dd.dedup_ngram_jaccard_sql())(
    lambda s, d: dd.dedup_ngram_jaccard(_docs(s, d))
)
register("dedup_components", sql=dd.dedup_components_sql())(
    lambda s, d: dd.dedup_components(_docs(s, d))
)
register("dedup_minhash_band_sweep", sql=dd.dedup_minhash_band_sweep_sql())(
    lambda s, d: dd.dedup_minhash_band_sweep(_docs(s, d))
)
register("dedup_url_canonical", sql=dd.dedup_url_canonical_sql())(
    lambda s, d: dd.dedup_url_canonical(_docs(s, d))
)
register("dedup_keep_best", sql=dd.dedup_keep_best_sql())(
    lambda s, d: dd.dedup_keep_best(_docs(s, d))
)


@register("dedup_incremental_components", sql=dd.dedup_components_sql())
def _dedup_incremental_components(s, d):
    """Incrementally-updated components hash-checked against the
    FULL-corpus recursive-CTE oracle: the existing corpus's signature
    index and root assignment are genuinely written to and re-read
    from parquet (the prior run's artifacts), then only the increment
    is shingled; the old corpus re-enters as one (doc, root) edge per
    doc. Identical relation to dedup_components by the
    assignment-as-edges equivalence."""
    docs = _docs(s, d)
    m = F.col("doc_id") % dd.INCREMENT_MOD
    existing, increment = docs.where(m != 0), docs.where(m == 0)
    work = workdir(s, "tgres_dinc2_")
    dd.minhash_signatures(existing).write.mode("overwrite").parquet(
        f"{work}/index"
    )
    dd.dedup_components(existing).write.mode("overwrite").parquet(
        f"{work}/roots"
    )
    return dd.dedup_incremental_components(
        s, f"{work}/index", f"{work}/roots", increment
    )


@register("dedup_index_update", sql=dd.dedup_index_update_sql())
def _dedup_index_update(s, d):
    """The write-back half of the incremental dedup lifecycle: the
    existing corpus initializes the index as delta generation 0, the
    new crawl's signatures are APPENDED as generation 1, and the
    threshold-2 setting forces the compaction fold — so the relation
    returned is a genuinely compacted, manifest-resolved, re-read-
    from-parquet base. Oracle: the full-corpus signature rerun (the
    lifecycle's core equivalence), with per-row gen recording which
    wave brought each doc."""
    docs = _docs(s, d)
    m = F.col("doc_id") % dd.INCREMENT_MOD
    work = workdir(s, "tgres_idxup_")
    dd.dedup_index_update(s, work, docs.where(m != 0), generation=0)
    dd.dedup_index_update(
        s, work, docs.where(m == 0), generation=1, compact_threshold=2
    )
    return dd.read_signature_index(s, work).select(
        "doc_id",
        F.concat_ws("", "sig").alias("sig_cat"),
        F.col("gen").cast("bigint").alias("gen"),
    )


@register("dedup_incremental", sql=dd.dedup_incremental_sql())
def _dedup_incremental(s, d):
    """New-crawl increment (doc_id % 5 == 0) deduped against the
    persisted signature index of the rest of the corpus — the index
    is genuinely written to and re-read from parquet so the plan is
    the production plan (index scan, no re-shingling of the existing
    corpus). Oracle: a full-corpus LSH rerun filtered to pairs
    touching the increment (candidate membership is per-doc, so the
    two are identical relations)."""
    docs = _docs(s, d)
    m = F.col("doc_id") % dd.INCREMENT_MOD
    work = workdir(s, "tgres_dinc_")
    dd.minhash_signatures(docs.where(m != 0)).write.mode(
        "overwrite"
    ).parquet(f"{work}/index")
    return dd.dedup_incremental(s, f"{work}/index", docs.where(m == 0))
register("dedup_embedding", sql=sim.dedup_embedding_sql())(
    lambda s, d: sim.dedup_embedding(_emb(s, d))
)
register("dedup_embedding_lsh", sql=sim.dedup_embedding_lsh_sql())(
    lambda s, d: sim.dedup_embedding_lsh(_emb(s, d))
)
register("emb_matryoshka_eval", sql=sim.emb_matryoshka_eval_sql())(
    lambda s, d: sim.emb_matryoshka_eval(_emb(s, d))
)
register("ann_cosine_topk", sql=sim.ann_cosine_topk_sql())(
    lambda s, d: sim.ann_cosine_topk(_emb(s, d))
)
register("ann_lsh_topk", sql=sim.ann_lsh_topk_sql())(
    lambda s, d: sim.ann_lsh_topk(_emb(s, d))
)
register("ann_lsh_buckets", sql=sim.ann_lsh_buckets_sql())(
    lambda s, d: sim.ann_lsh_buckets(_emb(s, d))
)
# rows-only (declared): the convergence-looped k-means fit. Every
# piece of its pipeline is hash-checked elsewhere — assignment
# (ann_ivf_assign), one and two composed Lloyd updates
# (ann_ivf_lloyd_fixed / ann_ivf_lloyd2_fixed), probing
# (ann_ivf_probe_sweep) — so only the data-dependent iteration COUNT
# itself lacks an oracle.
register("ann_ivf_search")(
    lambda s, d: sim.ann_ivf_search(_emb(s, d))
)
register("ann_ivf_tombstone", sql=sim.ann_ivf_tombstone_sql())(
    lambda s, d: sim.ann_ivf_tombstone(_emb(s, d))
)


@register("ann_ivf_compact", sql=sim.ann_ivf_compact_sql())
def _ann_ivf_compact(s, d):
    """The compaction EXECUTE step ann_ivf_tombstone schedules: the
    IVF index is genuinely written partitioned by cell, the
    needs-compact cells are rewritten live-only in ONE dynamic-
    partition-overwrite job (untouched cells' files never rewritten),
    and the returned relation counts PHYSICAL rows from a re-read of
    the post-compaction parquet — proving exactly the tombstoned rows
    of the compacted cells left disk (pipeline/similarity.py
    ann_ivf_compact_cells)."""
    work = workdir(s, "tgres_ivfc_")
    sim.ann_ivf_index_write(s, work, _emb(s, d))
    compacted = sim.ann_ivf_compact_cells(s, work)
    return sim.ann_ivf_compact_audit(s, work, compacted)
@register("ann_ivf_search_maintained", sql=sim.ann_ivf_search_maintained_sql())
def _ann_ivf_search_maintained(s, d):
    """The index-maintenance loop closed END-TO-END (round 12): build
    the physical IVF index + routing codebook, run the full lifecycle
    — tombstone compaction, hot-cell split, cold-cell merge, each
    mutating the cells AND the codebook — then SEARCH through the
    maintained artifact (probe routing via the current codebook over
    the current partitions). The DuckDB twin replays the whole chain
    relationally on the live vectors, so a green hash proves reads
    through the maintained cache equal the chain on the surviving
    vectors (reference analogue: receiver/dscache.go:1 — reads always
    consult the maintained cache, never go around it)."""
    work = workdir(s, "tgres_ivfm_")
    sim.ann_ivf_index_write_full(s, work, _emb(s, d))
    sim.ann_ivf_compact_cells(s, work)
    # split+merge as one maintenance transaction (r13): one codebook
    # read, one final codebook publish — cells still rewrite per phase
    # and the final artifact state is identical to the sequential pair
    sim.ann_ivf_split_merge_cells(s, work)
    return sim.ann_ivf_search_index(s, work)


register("emb_abtt", sql=sim.emb_abtt_sql())(
    lambda s, d: sim.emb_abtt(_emb(s, d))
)
register("dedup_semdedup", sql=sim.dedup_semdedup_sql())(
    lambda s, d: sim.dedup_semdedup(_emb(s, d))
)
register(
    "dedup_semdedup_increment", sql=sim.dedup_semdedup_increment_sql()
)(lambda s, d: sim.dedup_semdedup_increment(_emb(s, d)))
register("ann_ivf_assign", sql=sim.ann_ivf_assign_sql())(
    lambda s, d: sim.ann_ivf_assign(_emb(s, d))
)
register("ann_ivf_lloyd_fixed", sql=sim.ann_ivf_lloyd_sql())(
    lambda s, d: sim.ann_ivf_lloyd(_emb(s, d))
)
register("ann_ivf_lloyd3_fixed", sql=sim.ann_ivf_lloyd_sql(iters=3))(
    lambda s, d: sim.ann_ivf_lloyd(_emb(s, d), iters=3)
)
register("ann_ivf_lloyd2_fixed", sql=sim.ann_ivf_lloyd_sql(iters=2))(
    lambda s, d: sim.ann_ivf_lloyd(_emb(s, d), iters=2)
)
register("ann_pq_encode", sql=sim.ann_pq_encode_sql())(
    lambda s, d: sim.ann_pq_encode(_emb(s, d))
)
register("ann_pq_search", sql=sim.ann_pq_search_sql())(
    lambda s, d: sim.ann_pq_search(_emb(s, d))
)
register("ann_ivfadc_search", sql=sim.ann_ivfadc_search_sql())(
    lambda s, d: sim.ann_ivfadc_search(_emb(s, d))
)
register("emb_label_centroids", sql=sim.emb_label_centroids_sql())(
    lambda s, d: sim.emb_label_centroids(_emb(s, d))
)
register("ann_ivf_pq_search", sql=sim.ann_ivf_pq_search_sql())(
    lambda s, d: sim.ann_ivf_pq_search(_emb(s, d))
)
register("pipeline_c4_clean", sql=tx.c4_clean_sql())(
    lambda s, d: tx.c4_clean(_docs(s, d))
)
register("text_unicode_anomalies", sql=tx.text_unicode_anomalies_sql())(
    lambda s, d: tx.text_unicode_anomalies(_docs(s, d))
)
register("text_pii_scrub", sql=tx.pii_scrub_sql())(
    lambda s, d: tx.pii_scrub(_docs(s, d))
)
register("ann_lsh_recall", sql=sim.ann_lsh_recall_sql())(
    lambda s, d: sim.ann_lsh_recall(_emb(s, d))
)
register("corpus_top_ngrams", sql=tx.corpus_top_ngrams_sql())(
    lambda s, d: tx.corpus_top_ngrams(_docs(s, d))
)
register("corpus_bpe_merge2", sql=tx.corpus_bpe_merge2_sql())(
    lambda s, d: tx.corpus_bpe_merge2(_docs(s, d))
)
register("graph_pagerank2_fixed", sql=_graph.graph_pagerank2_sql())(
    lambda s, d: _graph.graph_pagerank2_fixed(_docs(s, d))
)
register("graph_pagerank2_weighted", sql=_graph.graph_pagerank2_weighted_sql())(
    lambda s, d: _graph.graph_pagerank2_weighted(_docs(s, d))
)
register("graph_host_components", sql=_graph.graph_host_components_sql())(
    lambda s, d: _graph.graph_host_components(_docs(s, d))
)
register("graph_community_labelprop", sql=_graph.graph_community_labelprop_sql())(
    lambda s, d: _graph.graph_community_labelprop(_docs(s, d))
)
register("emb_isotropy", sql=sim.emb_isotropy_sql())(
    lambda s, d: sim.emb_isotropy(_emb(s, d))
)
register("graph_hits2_fixed", sql=_graph.graph_hits2_sql())(
    lambda s, d: _graph.graph_hits2_fixed(_docs(s, d))
)
register("pipeline_rank_quality", sql=_graph.pipeline_rank_quality_sql())(
    lambda s, d: _graph.pipeline_rank_quality(_docs(s, d))
)
register("pipeline_prep_weights", sql=_graph.pipeline_prep_weights_sql())(
    lambda s, d: _graph.pipeline_prep_weights(_docs(s, d))
)
register("corpus_bpe_encode", sql=tx.corpus_bpe_encode_sql())(
    lambda s, d: tx.corpus_bpe_encode(_docs(s, d))
)
register("corpus_bpe_fertility", sql=tx.corpus_bpe_fertility_sql())(
    lambda s, d: tx.corpus_bpe_fertility(_docs(s, d))
)
register("corpus_bpe_sweep", sql=tx.corpus_bpe_sweep_sql())(
    lambda s, d: tx.corpus_bpe_sweep(_docs(s, d))
)
register("corpus_bpe_merge3", sql=tx.corpus_bpe_merge3_sql())(
    lambda s, d: tx.corpus_bpe_merge3(_docs(s, d))
)
register("corpus_bpe_pairs", sql=tx.corpus_bpe_pairs_sql())(
    lambda s, d: tx.corpus_bpe_pairs(_docs(s, d))
)
register("emb_norm_outliers", sql=sim.emb_norm_outliers_sql())(
    lambda s, d: sim.emb_norm_outliers(_emb(s, d))
)
register("text_quality_calibration", sql=tx.quality_calibration_sql())(
    lambda s, d: tx.quality_calibration(_docs(s, d))
)
register("pipeline_quality_model", sql=tx.quality_model_sql())(
    lambda s, d: tx.quality_model(_docs(s, d))
)
register("dedup_text_vs_semantic", sql=sim.dedup_text_vs_semantic_sql())(
    lambda s, d: sim.dedup_text_vs_semantic(_docs(s, d), _emb(s, d))
)
register("pipeline_dataset_card", sql=tx.dataset_card_sql())(
    lambda s, d: tx.dataset_card(_docs(s, d))
)
register("pipeline_prep_full", sql=pp.prep_full_sql())(
    lambda s, d: pp.prep_full(_docs(s, d))
)
register("pipeline_prep_e2e", sql=pp.prep_e2e_sql())(
    lambda s, d: pp.prep_e2e(_docs(s, d))
)
# 10k-token budget so the α=0.5 mixture actually SELECTS at sf0.01
# (the corpus is ~28k tokens; a budget above it degenerates to all-docs)
register("pipeline_mix_after_dedup", sql=pp.mix_after_dedup_sql(10_000))(
    lambda s, d: pp.mix_after_dedup(_docs(s, d), 10_000)
)
register("pipeline_mix_temperature", sql=pp.mix_temperature_sql(10_000))(
    lambda s, d: pp.mix_temperature(_docs(s, d), 10_000)
)
register("text_tfidf_keywords", sql=tx.text_tfidf_keywords_sql())(
    lambda s, d: tx.text_tfidf_keywords(_docs(s, d))
)
register("corpus_fingerprint", sql=tx.corpus_fingerprint_sql())(
    lambda s, d: tx.corpus_fingerprint(_docs(s, d))
)
register("text_novelty", sql=tx.text_novelty_sql())(
    lambda s, d: tx.text_novelty(_docs(s, d))
)
register("pipeline_mix_unimax", sql=pp.mix_unimax_sql(10_000))(
    lambda s, d: pp.mix_unimax(_docs(s, d), 10_000)
)
register("text_entropy", sql=tx.text_entropy_sql())(
    lambda s, d: tx.text_entropy(_docs(s, d))
)


@register("mm_resize_stub", sql=mm.mm_resize_stub_sql())
def mm_resize_stub(spark, sf_dir):
    """Arrow-batched resize plumbing over synthesized media; geometry
    is real integer math, pixels are the declared fake — the oracle
    recomputes both from doc_id/text (multimodal.mm_resize_stub_sql),
    hash-checking the batch path."""
    return mm.resize_stub(mm.synthesize_media(_docs(spark, sf_dir)))
@register("mm_scene_cuts", sql=mm.mm_scene_cuts_sql())
def mm_scene_cuts(spark, sf_dir):
    """Shot-boundary detection over sampled keyframes: consecutive-
    keyframe fingerprint distance per video, cuts above the hamming
    threshold; the synthesized decode carries scene structure so
    within-scene pairs sit at 0 and boundaries at ~32
    (pipeline/multimodal.py mm_scene_cuts)."""
    return mm.mm_scene_cuts(_docs(spark, sf_dir))


@register("streaming_scene_cuts", sql=mm.mm_scene_cuts_sql())
def streaming_scene_cuts(spark, sf_dir):
    """mm_scene_cuts over a live video feed (streaming/mmcuts.py):
    a video's cuts depend only on its own payload, so the deployment
    is the STATELESS foreachBatch shape — four real micro-batches,
    per-batch overwrite dirs, union re-read; the batch oracle checks
    the stream verbatim because micro-batching is invisible."""
    from ..streaming.mmcuts import run_scene_cut_stream

    work = workdir(spark, "tgres_scuts_")
    docs = _docs(spark, sf_dir)
    docs.coalesce(4).write.mode("overwrite").parquet(f"{work}/in")
    run_scene_cut_stream(
        spark, f"{work}/in", f"{work}/out", f"{work}/ckpt", docs.schema
    )
    return spark.read.parquet(f"{work}/out/b*")


@register("mm_phash_dedup", sql=mm.mm_phash_dedup_sql())
def mm_phash_dedup(spark, sf_dir):
    """Image near-dup pairs: pHash-style average-hash fingerprint over
    the deterministic decode, blocked by the SAME 4-table pigeonhole
    engine as dedup_simhash (dedup.chunk_hamming_pairs) — the
    multimodal column's first-class dedup consumer; deterministic
    twins planted in-query so pairs provably flow end-to-end."""
    return mm.mm_phash_dedup(_docs(spark, sf_dir))


@register("mm_phash_sweep", sql=mm.mm_phash_sweep_sql())
def mm_phash_sweep(spark, sf_dir):
    """Hamming-radius tuning dial for image dedup: cumulative
    pair/media counts per radius 0..3 from ONE pigeonhole pass —
    dedup_simhash_sweep's dial extended to the perceptual-hash
    modality (pipeline/multimodal.py mm_phash_sweep)."""
    return mm.mm_phash_sweep(_docs(spark, sf_dir))


@register("mm_video_keyframes", sql=mm.mm_video_keyframes_sql())
def mm_video_keyframes(spark, sf_dir):
    """Video near-dup pairs closing the modality matrix: JVM-side
    keyframe sampling → per-frame pHash fingerprint (shared
    phash_from_hex) → the SAME pigeonhole engine as simhash/phash →
    frame matches aggregated to (video_a, video_b); deterministic
    twins planted in-query so the frame→video bridge provably carries
    pairs end-to-end."""
    return mm.mm_video_keyframes(_docs(spark, sf_dir))


@register("mm_audio_dedup", sql=mm.mm_audio_dedup_sql())
def mm_audio_dedup(spark, sf_dir):
    """Audio near-dup pairs — the LAST modality-matrix cell (text,
    image, video each already have a dedup consumer): audio_chunks'
    fixed windows → per-chunk fingerprint (shared phash_from_hex,
    standing in for a chromaprint-style spectral fingerprint) → the
    SAME pigeonhole engine → chunk matches aggregated to
    (audio_a, audio_b); deterministic twins planted in-query."""
    return mm.mm_audio_dedup(_docs(spark, sf_dir))


@register("mm_audio_chunks", sql=mm.mm_audio_chunks_sql())
def mm_audio_chunks(spark, sf_dir):
    """Fixed-size audio chunking as pure JVM column algebra — binary
    substring slicing + per-chunk hex-md5 checksums, no Python kernel
    anywhere (multimodal.audio_chunks); the windowing step every media
    decode fans out over."""
    return mm.audio_chunks(mm.synthesize_media(_docs(spark, sf_dir)))


register("pipeline_prep_funnel", sql=pp.prep_funnel_sql())(
    lambda s, d: pp.prep_funnel(_docs(s, d))
)


@register("corpus_snapshot_diff", sql=tx.corpus_snapshot_diff_sql())
def _corpus_snapshot_diff(s, d):
    docs = _docs(s, d)
    old = docs.where(F.expr(tx._SNAP_OLD_PRED))
    new = docs.where(F.expr(tx._SNAP_NEW_PRED)).withColumn(
        "text",
        F.when(
            F.expr(tx._SNAP_EDIT_PRED), F.concat(F.col("text"), F.lit(" rev2"))
        ).otherwise(F.col("text")),
    )
    return tx.corpus_snapshot_diff(old, new)


@register("corpus_quality_psi", sql=tx.corpus_quality_psi_sql())
def _corpus_quality_psi(s, d):
    """PSI drift of the quality-score distribution between the same
    two synthesized crawl snapshots corpus_snapshot_diff compares
    (pipeline/textstats.py corpus_quality_psi)."""
    docs = _docs(s, d)
    old = docs.where(F.expr(tx._SNAP_OLD_PRED))
    new = docs.where(F.expr(tx._SNAP_NEW_PRED)).withColumn(
        "text",
        F.when(
            F.expr(tx._SNAP_EDIT_PRED), F.concat(F.col("text"), F.lit(" rev2"))
        ).otherwise(F.col("text")),
    )
    return tx.corpus_quality_psi(old, new)


register("text_kenlm_proxy", sql=tx.text_kenlm_proxy_sql())(
    lambda s, d: tx.text_kenlm_proxy(_docs(s, d))
)
register("mm_text_image_pairs", sql=sim.mm_text_image_pairs_sql())(
    lambda s, d: sim.mm_text_image_pairs(_emb(s, d))
)
register("text_repetition", sql=tx.text_repetition_sql())(
    lambda s, d: tx.text_repetition(_docs(s, d))
)
register("pipeline_gopher_filter", sql=tx.gopher_filter_sql())(
    lambda s, d: tx.gopher_filter(_docs(s, d))
)
register("pipeline_sample_stratified", sql=pp.sample_stratified_sql())(
    lambda s, d: pp.sample_stratified(_docs(s, d))
)
register("pipeline_token_pack", sql=pp.token_pack_sql())(
    lambda s, d: pp.token_pack(_docs(s, d))
)
register("pipeline_corpus_clean", sql=tx.corpus_clean_sql())(
    lambda s, d: tx.corpus_clean(_docs(s, d))
)
register("text_langid", sql=tx.text_langid_sql())(
    lambda s, d: tx.text_langid(_docs(s, d))
)
register("text_quality", sql=tx.text_quality_sql())(
    lambda s, d: tx.text_quality(_docs(s, d))
)
register("text_tokens", sql=tx.text_tokens_sql())(
    lambda s, d: tx.text_tokens(_docs(s, d))
)
register("text_fingerprint", sql=tx.text_fingerprint_sql())(
    lambda s, d: tx.text_fingerprint(_docs(s, d))
)


@register("mm_decode_stub", sql=mm.mm_decode_stub_sql())
def mm_decode_stub(spark, sf_dir):
    """Arrow-batched fake decode over synthesized binary media; the
    oracle recomputes features from the payload's hex (multimodal.py
    mm_decode_stub_sql), hash-checking the whole binary→pandas
    round-trip."""
    media = mm.synthesize_media(_docs(spark, sf_dir))
    return mm.decode_and_featurize(media)


@register(
    "mm_frame_sample",
    sql=(
        "SELECT doc_id AS media_id, UNNEST(range(0, (doc_id % 300 + 1), 30)) AS frame_idx "
        "FROM documents WHERE doc_id % 3 = 2"
    ),
)
def mm_frame_sample(spark, sf_dir):
    media = mm.synthesize_media(_docs(spark, sf_dir))
    return mm.frame_sample(media).withColumn(
        "frame_idx", F.col("frame_idx").cast("bigint")
    )


@register("pipeline_span_dedup", sql=__import__("tgres_spark.pipeline.contamination", fromlist=["x"]).span_dedup_sql())
def pipeline_span_dedup(spark, sf_dir):
    """Span-level duplication profile: OVERLAPPING 16-word windows,
    cross-doc duplicated spans, and per-doc covered-word fraction via
    a distinct-position interval union — catches shared substrings at
    any alignment where passage_dedup only sees chunk-aligned repeats
    (pipeline/contamination.py span_dedup)."""
    from ..pipeline.contamination import span_dedup

    return span_dedup(_docs(spark, sf_dir))


@register("pipeline_span_dedup2", sql=__import__("tgres_spark.pipeline.contamination", fromlist=["x"]).span_dedup2_sql())
def pipeline_span_dedup2(spark, sf_dir):
    """Two-granularity (16 + 64 word) span duplication profile with
    the per-doc coverage reconciled: long_share separates paragraph-
    scale duplication from boilerplate-phrase coverage that the
    single-granularity metric reads identically
    (pipeline/contamination.py span_dedup2)."""
    from ..pipeline.contamination import span_dedup2

    return span_dedup2(_docs(spark, sf_dir))


@register("pipeline_span_scrub", sql=__import__("tgres_spark.pipeline.contamination", fromlist=["x"]).span_scrub_sql())
def pipeline_span_scrub(spark, sf_dir):
    """Span-dedup REMOVAL transform: excises every cross-document
    duplicated 16-word span from all but its corpus-min (first-
    occurrence) document and hash-checks the CLEANED text per doc —
    the execute step the span_dedup/span_dedup2 profiles measure
    (pipeline/contamination.py span_scrub)."""
    from ..pipeline.contamination import span_scrub

    return span_scrub(_docs(spark, sf_dir))


@register("pipeline_boilerplate_strip", sql=__import__("tgres_spark.pipeline.contamination", fromlist=["x"]).boilerplate_strip_sql())
def pipeline_boilerplate_strip(spark, sf_dir):
    """CCNet-style boilerplate REMOVAL (round 8): chunks occurring in
    >= 2 distinct docs are stripped and each doc reassembled in chunk
    order (tail always kept); emits per-doc removal stats plus the
    md5/length of the cleaned text — the cleaning step whose profile
    pipeline_passage_dedup measures (pipeline/contamination.py
    boilerplate_strip)."""
    from ..pipeline.contamination import boilerplate_strip

    return boilerplate_strip(_docs(spark, sf_dir))


@register("pipeline_passage_dedup", sql=__import__("tgres_spark.pipeline.contamination", fromlist=["x"]).passage_dedup_sql())
def pipeline_passage_dedup(spark, sf_dir):
    """Cross-document boilerplate detection: per doc, the share of its
    non-overlapping 16-word passages that occur in another document
    (pipeline/contamination.py)."""
    from ..pipeline.contamination import passage_dedup

    return passage_dedup(_docs(spark, sf_dir))


@register(
    "pipeline_bloom_decontaminate",
    sql=__import__(
        "tgres_spark.pipeline.contamination", fromlist=["x"]
    ).bloom_decontaminate_sql(),
)
def pipeline_bloom_decontaminate(spark, sf_dir):
    """Decontamination with the Bloom filter as the gram pre-filter
    (pipeline/contamination.py bloom_decontaminate): the benchmark
    gram set rides as a 128-word broadcast filter instead of an exact
    broadcast set; survivors get exact verification, so the
    contamination verdicts are provably identical to
    pipeline_contamination while the pruning rate is measured
    (n_bloom_pass) — the sketch-composition story at 100 TB."""
    from ..pipeline.contamination import bloom_decontaminate

    return bloom_decontaminate(_docs(spark, sf_dir))


@register(
    "pipeline_contamination",
    sql=__import__("tgres_spark.pipeline.contamination", fromlist=["x"]).contamination_check_sql(),
)
def pipeline_contamination(spark, sf_dir):
    """Benchmark n-gram decontamination: fraction of each corpus doc's
    8-grams present in the benchmark split (source = src0 stands in
    for the eval set)."""
    from ..pipeline.contamination import contamination_check

    return contamination_check(_docs(spark, sf_dir))


@register(
    "pipeline_contamination_incremental",
    sql=__import__(
        "tgres_spark.pipeline.contamination", fromlist=["x"]
    ).contamination_incremental_sql(dd.INCREMENT_MOD),
)
def pipeline_contamination_incremental(spark, sf_dir):
    """New-crawl increment (doc_id % 5 == 0) decontaminated against
    the PERSISTED benchmark gram index — the index is genuinely
    written to and re-read from parquet so the plan is the production
    plan: benchmark text shingled once at index-build time, never per
    crawl; only the increment's text is read. Oracle: the full-corpus
    contamination run filtered to increment doc_ids (per-doc outputs
    depend only on the doc's own grams + the benchmark set, so the
    relations are identical). pipeline/contamination.py
    contamination_incremental."""
    from ..pipeline.contamination import (
        contamination_incremental, contamination_index,
    )

    docs = _docs(spark, sf_dir)
    work = workdir(spark, "tgres_cinc_")
    contamination_index(docs).write.mode("overwrite").parquet(
        f"{work}/bench_index"
    )
    increment = docs.where(
        (F.col("source") != "src0")
        & (F.col("doc_id") % dd.INCREMENT_MOD == 0)
    )
    return contamination_incremental(spark, f"{work}/bench_index", increment)


register("corpus_source_overlap", sql=tx.corpus_source_overlap_sql())(
    lambda spark, sf_dir: tx.corpus_source_overlap(_docs(spark, sf_dir))
)
register("corpus_lang_confusion", sql=tx.corpus_lang_confusion_sql())(
    lambda spark, sf_dir: tx.corpus_lang_confusion(_docs(spark, sf_dir))
)
register("corpus_token_gini", sql=tx.corpus_token_gini_sql())(
    lambda spark, sf_dir: tx.corpus_token_gini(_docs(spark, sf_dir))
)
@register(
    "pipeline_prep_increment",
    sql=__import__(
        "tgres_spark.pipeline.prep", fromlist=["x"]
    ).prep_increment_sql(),
)
def pipeline_prep_increment(spark, sf_dir):
    """The daily-crawl prep path end-to-end (pipeline/prep.py
    prep_increment): both indexes are genuinely written to and re-read
    from parquet — the corpus signature index (existing docs,
    doc_id % 5 != 0) and the benchmark gram index — then the increment
    (doc_id % 5 == 0, non-benchmark) flows through gopher gate +
    incremental decontamination + incremental dedup to one per-doc
    keep verdict. Only increment text is read at prep time."""
    from ..pipeline.contamination import contamination_index
    from ..pipeline.prep import prep_increment

    docs = _docs(spark, sf_dir)
    m = F.col("doc_id") % dd.INCREMENT_MOD
    work = workdir(spark, "tgres_pinc_")
    dd.minhash_signatures(docs.where(m != 0)).write.mode(
        "overwrite"
    ).parquet(f"{work}/sig_index")
    contamination_index(docs).write.mode("overwrite").parquet(
        f"{work}/bench_index"
    )
    increment = docs.where((m == 0) & (F.col("source") != "src0"))
    return prep_increment(
        spark, f"{work}/sig_index", f"{work}/bench_index", increment
    )


@register("pipeline_pack_weighted", sql=pp.pack_weighted_sql())
def pipeline_pack_weighted(spark, sf_dir):
    """The end of the prep pipeline: prep_weights scores → integer
    multiplicities → per-copy explode → token-budget shards in
    seeded-hash order (copies of a doc scatter across shards) — the
    training-shard table a dataloader reads (pipeline/prep.py
    pack_weighted)."""
    return pp.pack_weighted(_docs(spark, sf_dir))


@register("pipeline_sample_weighted", sql=pp.sample_by_weight_sql())
def pipeline_sample_weighted(spark, sf_dir):
    """The prep-weights CONSUMER: per-doc training-set multiplicity
    drawn proportional to the pipeline_prep_weights relation via
    deterministic stochastic rounding — mean one copy per doc,
    zero-weight docs structurally excluded (pipeline/prep.py
    sample_by_weight)."""
    from ..pipeline.graph import pipeline_prep_weights

    # ADVICE r11: fence prep_weights before sample_by_weight — its
    # crossJoin(broadcast(tot)) one-row totals build would otherwise
    # re-evaluate the whole prep_weights subtree a second time (the
    # same broadcast-fence rule pack_weighted applies).
    # Optimization round 13 (r12 VERDICT Next 2): the fence is a
    # localCheckpoint, not a persist — persist keeps the full lineage
    # under every InMemoryTableScan, and with prep_weights' composed
    # subtree the returned plan exploded to 89k formatted lines /
    # 3,886 cache-scan nodes (planning itself the bottleneck, guide
    # §3.3). localCheckpoint materializes the same rows once inside
    # the timed region but TRUNCATES the lineage, so the consumer
    # plans against a leaf scan. Values are byte-identical (same
    # computed rows, re-read instead of re-derived).
    pw = pipeline_prep_weights(_docs(spark, sf_dir)).localCheckpoint()
    return pp.sample_by_weight(pw)


register("text_bigram_lm", sql=tx.text_bigram_lm_sql())(
    lambda spark, sf_dir: tx.text_bigram_lm(_docs(spark, sf_dir))
)
register("text_unigram_logprob", sql=tx.text_unigram_logprob_sql())(
    lambda spark, sf_dir: tx.text_unigram_logprob(_docs(spark, sf_dir))
)
register("pipeline_mix_excess_loss", sql=pp.mix_excess_loss_sql())(
    lambda s, d: pp.mix_excess_loss(_docs(s, d))
)
register("pipeline_quality_sweep", sql=tx.pipeline_quality_sweep_sql())(
    lambda spark, sf_dir: tx.pipeline_quality_sweep(_docs(spark, sf_dir))
)
register("pipeline_nb_quality", sql=tx.nb_quality_sql())(
    lambda spark, sf_dir: tx.nb_quality(_docs(spark, sf_dir))
)
register("pipeline_perplexity_filter", sql=tx.perplexity_filter_sql())(
    lambda spark, sf_dir: tx.perplexity_filter(_docs(spark, sf_dir))
)
register("emb_pca2_deflate", sql=sim.emb_pca2_deflate_sql())(
    lambda s, d: sim.emb_pca2_deflate(_emb(s, d))
)
register("emb_triplet_mining", sql=sim.emb_triplet_mining_sql())(
    lambda s, d: sim.emb_triplet_mining(_emb(s, d))
)
register("emb_int8_quantize", sql=sim.emb_int8_quantize_sql())(
    lambda s, d: sim.emb_int8_quantize(_emb(s, d))
)
register("ann_ivf_balance", sql=sim.ann_ivf_balance_sql())(
    lambda s, d: sim.ann_ivf_balance(_emb(s, d))
)
register("ann_ivf_margin", sql=sim.ann_ivf_margin_sql())(
    lambda s, d: sim.ann_ivf_margin(_emb(s, d))
)
register("ann_ivf_refit_warm", sql=sim.ann_ivf_refit_warm_sql())(
    lambda s, d: sim.ann_ivf_refit_warm(_emb(s, d))
)
register("ann_ivf_split", sql=sim.ann_ivf_split_sql())(
    lambda s, d: sim.ann_ivf_split(_emb(s, d))
)
register("ann_ivf_merge", sql=sim.ann_ivf_merge_sql())(
    lambda s, d: sim.ann_ivf_merge(_emb(s, d))
)
register("ann_ivf_refresh", sql=sim.ann_ivf_refresh_sql())(
    lambda s, d: sim.ann_ivf_refresh(_emb(s, d))
)
register("emb_pca_project", sql=sim.emb_pca_project_sql())(
    lambda s, d: sim.emb_pca_project(_emb(s, d))
)
register("text_trigram_lm", sql=tx.text_trigram_lm_sql())(
    lambda s, d: tx.text_trigram_lm(_docs(s, d))
)
register("corpus_diversity", sql=tx.corpus_diversity_sql())(
    lambda s, d: tx.corpus_diversity(_docs(s, d))
)
register("corpus_oov_rate", sql=tx.corpus_oov_rate_sql())(
    lambda s, d: tx.corpus_oov_rate(_docs(s, d))
)
register("corpus_zipf_fit", sql=tx.corpus_zipf_fit_sql())(
    lambda s, d: tx.corpus_zipf_fit(_docs(s, d))
)
register("corpus_heaps_curve", sql=tx.corpus_heaps_curve_sql())(
    lambda s, d: tx.corpus_heaps_curve(_docs(s, d))
)
register("pipeline_dsir_select", sql=tx.dsir_select_sql())(
    lambda s, d: tx.dsir_select(_docs(s, d))
)


register("pipeline_mix_rebalance", sql=pp.mix_rebalance_sql())(
    lambda spark, sf_dir: pp.mix_rebalance(_docs(spark, sf_dir))
)

register("dedup_embedding_cluster", sql=sim.dedup_embedding_cluster_sql())(
    lambda s, d: sim.dedup_embedding_cluster(_emb(s, d))
)

register("corpus_dedup_stats", sql=dd.CORPUS_DEDUP_STATS_SQL)(
    lambda s, d: dd.corpus_dedup_stats(_docs(s, d))
)

register("emb_covariance", sql=sim.emb_covariance_sql())(
    lambda s, d: sim.emb_covariance(_emb(s, d))
)

register("ann_ivfadc_probe_sweep", sql=sim.ann_ivfadc_probe_sweep_sql())(
    lambda s, d: sim.ann_ivfadc_probe_sweep(_emb(s, d))
)
register("ann_ivf_probe_sweep", sql=sim.ann_ivf_probe_sweep_sql())(
    lambda s, d: sim.ann_ivf_probe_sweep(_emb(s, d))
)
register("emb_outliers", sql=sim.emb_outliers_sql())(
    lambda s, d: sim.emb_outliers(_emb(s, d))
)
register("emb_quantize_recall", sql=sim.emb_quantize_recall_sql())(
    lambda s, d: sim.emb_quantize_recall(_emb(s, d))
)
register("emb_power_iter2", sql=sim.emb_power_iter2_sql())(
    lambda s, d: sim.emb_power_iter2(_emb(s, d))
)
register("emb_power_iter", sql=sim.emb_power_iter_sql())(
    lambda s, d: sim.emb_power_iter(_emb(s, d))
)
register("emb_covariance_np", sql=sim.emb_covariance_sql())(
    lambda s, d: sim.emb_covariance_np(_emb(s, d))
)


register("pipeline_shard_manifest", sql=pp.shard_manifest_sql())(
    lambda s, d: pp.shard_manifest(_docs(s, d))
)
