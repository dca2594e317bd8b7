"""Streaming incremental dedup: score a live crawl stream against a
STATIC persisted minhash signature index — the deployment twin of the
batch dedup_incremental. foreachBatch runs the batch scoring engine
(pipeline/dedup.py dedup_incremental_score: explode+groupBy minhash,
band keys broadcast into a map-only index scan) on each micro-batch;
no state outlives a batch because a doc's matches depend only on its
own text and the static index, so any micro-batching appends exactly
the batch relation and the run hash-checks against the batch oracle
(dedup_incremental_score_sql). Output is idempotent under batch
replay: each batch OVERWRITES its own ``b<batch_id>`` subdirectory
(the snapshot-per-version discipline of streaming/catalog.py, minus
the manifest — a replayed batch rewrites identical content, never
appends twice). Reference analogue: the dscache consult on every
incoming datapoint (receiver/dscache.go:1).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from . import run_available_now


def run_incdedup_stream(
    spark: SparkSession,
    in_dir: str,
    index_path: str,
    out_dir: str,
    checkpoint: str,
    schema,
    files_per_trigger: int = 1,
) -> None:
    from ..pipeline.dedup import dedup_incremental_score

    idx = spark.read.parquet(index_path)

    def _score(batch, batch_id: int) -> None:
        (
            dedup_incremental_score(batch, idx)
            .write.mode("overwrite")
            .parquet(f"{out_dir}/b{batch_id:06d}")
        )

    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(in_dir)
    )
    run_available_now(src, checkpoint, foreach_batch=_score)


def run_index_update_stream(
    spark: SparkSession,
    in_dir: str,
    index_dir: str,
    checkpoint: str,
    schema,
    compact_threshold: int = 4,
    files_per_trigger: int = 1,
) -> None:
    """The LIVE write-back half of the incremental dedup lifecycle
    (round 10): each crawl micro-batch's minhash signatures are
    appended to the persisted index as delta generation = batch_id,
    compacting on the same cadence as the batch dedup_index_update —
    so tomorrow's consult (run_incdedup_stream / dedup_incremental)
    sees today's docs. Replay-idempotent by construction: the
    generation number IS the batch id, and dedup_index_update
    rewrites identical content under the same manifest on replay; a
    crash between a delta's data write and its manifest leaves the
    generation unobservable and the replay completes it (pinned in
    the batch lifecycle pytest). After the run, read_signature_index
    over the accumulated generations equals the full-corpus
    minhash_signatures rerun — micro-batching is invisible because a
    doc's signature depends only on its own text, which is what the
    batch oracle checks."""
    from ..pipeline.dedup import dedup_index_update

    def _update(batch, batch_id: int) -> None:
        dedup_index_update(
            spark, index_dir, batch, generation=batch_id,
            compact_threshold=compact_threshold,
        )

    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(in_dir)
    )
    run_available_now(src, checkpoint, foreach_batch=_update)


def run_prep_increment_stream(
    spark: SparkSession,
    in_dir: str,
    index_dir: str,
    bench_index_path: str,
    out_dir: str,
    checkpoint: str,
    schema,
    threshold: float | None = None,
    base_generation: int = 1,
    compact_threshold: int = 4,
    files_per_trigger: int = 1,
) -> None:
    """The FULL production crawl loop in one stream (round 11): each
    doc micro-batch is scored against BOTH persisted indexes — the
    Gopher gate (per-doc), decontamination against the benchmark gram
    index, near-dup screening against the generation-resolved corpus
    signature index — its per-doc verdict relation lands under
    ``out_dir/b<batch_id>``, AND its own signatures are written back
    as delta generation ``base_generation + batch_id``, so the NEXT
    batch deduplicates against this one: the consult half
    (run_incdedup_stream) and the write-back half
    (run_index_update_stream) composed into the loop a live crawl
    actually runs.

    Stateless foreachBatch class (refresh.py's class 1): no state
    outlives a batch beyond the index itself, which carries exactly
    the replay-idempotent write-once-manifest discipline of
    dedup_index_update. Verdict flags are PURE ID-RULE functions —
    dup_corpus when a strong pair's partner is a corpus-id doc
    (doc_id % 5 != 0), dup_increment when a strong pair joins two
    increment-id docs and flags the LARGER id (prep_increment's exact
    min-id-keeper rules) — so given arrival ordered by doc_id
    (earlier batch => smaller ids), the accumulated verdicts equal
    the BATCH prep_increment relation verbatim and the batch oracle
    checks the stream. The id rule also makes replay safe: a crash
    after the signature write-back re-runs the batch against an index
    already containing its own docs, and self-pairs (doc_a = doc_b)
    / batch-mate pairs classify identically to the internal pass.

    100 TB: per batch, only increment text is read; the corpus index
    is consulted map-only (increment band keys broadcast); the
    write-back is increment-sized. The index compacts mid-stream on
    the usual cadence."""
    from ..pipeline.contamination import contamination_incremental
    from ..pipeline.dedup import (
        INCREMENT_MOD,
        dedup_incremental,
        dedup_index_update,
        read_signature_index,
    )
    from ..pipeline.prep import INC_DUP_THRESHOLD
    from ..pipeline.textstats import gopher_filter
    from pyspark.sql import functions as F

    thr = float(INC_DUP_THRESHOLD if threshold is None else threshold)

    def _prep(batch, batch_id: int) -> None:
        idx = read_signature_index(spark, index_dir)
        g = gopher_filter(batch).select("doc_id", F.col("keep").alias("gkeep"))
        c = contamination_incremental(spark, bench_index_path, batch).select(
            "doc_id", "contaminated"
        )
        strong = dedup_incremental(spark, idx, batch).where(
            F.col("est_sim") >= thr
        )
        inc_a = F.col("doc_a") % INCREMENT_MOD == 0
        inc_b = F.col("doc_b") % INCREMENT_MOD == 0
        dupc = (
            strong.where(inc_a != inc_b)
            .select(
                F.when(inc_a, F.col("doc_a")).otherwise(F.col("doc_b")).alias(
                    "doc_id"
                )
            )
            .distinct()
            .withColumn("dc", F.lit(1))
        )
        dupi = (
            strong.where(inc_a & inc_b & (F.col("doc_a") != F.col("doc_b")))
            .select(F.col("doc_b").alias("doc_id"))
            .distinct()
            .withColumn("di", F.lit(1))
        )
        gopher_keep = F.coalesce(F.col("gkeep").cast("bigint"), F.lit(0))
        contaminated = F.coalesce(F.col("contaminated"), F.lit(0))
        dup_corpus = F.coalesce(F.col("dc"), F.lit(0)).cast("bigint")
        dup_increment = F.coalesce(F.col("di"), F.lit(0)).cast("bigint")
        verdict = (
            batch.select("doc_id")
            .join(g, "doc_id", "left")
            .join(F.broadcast(c), "doc_id", "left")
            .join(F.broadcast(dupc), "doc_id", "left")
            .join(F.broadcast(dupi), "doc_id", "left")
            .select(
                "doc_id",
                gopher_keep.alias("gopher_keep"),
                contaminated.alias("contaminated"),
                dup_corpus.alias("dup_corpus"),
                dup_increment.alias("dup_increment"),
                (
                    (gopher_keep == 1)
                    & (contaminated == 0)
                    & (dup_corpus == 0)
                    & (dup_increment == 0)
                )
                .cast("bigint")
                .alias("keep"),
            )
        )
        verdict.write.mode("overwrite").parquet(f"{out_dir}/b{batch_id:06d}")
        dedup_index_update(
            spark,
            index_dir,
            batch,
            generation=base_generation + batch_id,
            compact_threshold=compact_threshold,
        )

    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(in_dir)
    )
    run_available_now(src, checkpoint, foreach_batch=_prep)


def run_semdedup_increment_stream(
    spark: SparkSession,
    in_dir: str,
    index_dir: str,
    out_dir: str,
    checkpoint: str,
    schema,
    k: int = 16,
    seed: int = 7,
    threshold: float = 0.4,
    mod: int = 5,
    files_per_trigger: int = 1,
) -> None:
    """The EMBEDDING-side crawl loop (round 12, the semantic twin of
    run_prep_increment_stream): each micro-batch of arriving vectors
    (1) assigns to codebook cells, (2) checks for within-cell
    near-duplicates against the persisted vector index (corpus
    generation 0 + every earlier batch's write-back) AND its own
    batch-mates, (3) lands its per-vector verdict under
    ``out/b<id>``, then (4) writes its own (vec_id, cell, embedding)
    rows back as ``idx/g<batch_id+1>`` — so batch N deduplicates
    against batches < N through the index, not in-memory state.
    Verdict flags are pure id rules (corpus partner: any; increment
    partner: lower vec_id), so under vec_id-ordered arrival the
    accumulated verdicts equal the batch dedup_semdedup_increment
    relation verbatim, and a replayed batch re-scored against an
    index already holding its own vectors classifies identically
    (self-pairs excluded; batch-mate pairs carry the same id rule)."""
    import glob as _glob

    import pyspark.sql.functions as F

    from ..model import literal_df
    from ..pipeline.similarity import (
        _dot,
        _ivf_codebook,
        _norm,
        _sq_dists,
    )

    cents = _ivf_codebook(k, seed=seed)
    cdf = literal_df(spark,
        [([list(map(float, c)) for c in cents],)], "cents array<array<double>>"
    )

    def _assign(df):
        return (
            df.crossJoin(F.broadcast(cdf))
            .select(
                "vec_id", "embedding",
                _sq_dists(F.col("cents")).alias("dists"),
            )
            .select(
                "vec_id",
                "embedding",
                F.array_position(F.col("dists"), F.array_min("dists"))
                .cast("bigint")
                .alias("cell"),
                _norm(F.col("embedding")).alias("nrm"),
            )
        )

    def _score(batch, batch_id: int) -> None:
        gens = sorted(_glob.glob(f"{index_dir}/g*"))
        idx = spark.read.parquet(*gens)
        ba = _assign(batch).persist()
        ba.count()  # fence: ba feeds the q side, the p union AND the write-back
        q = ba.select(
            F.col("cell").alias("cq"),
            F.col("vec_id").alias("qid"),
            F.col("embedding").alias("qv"),
            F.col("nrm").alias("qn"),
        )
        p = idx.unionByName(ba.select("vec_id", "embedding", "cell", "nrm")).select(
            F.col("cell").alias("cp"),
            F.col("vec_id").alias("pid"),
            F.col("embedding").alias("pv"),
            F.col("nrm").alias("pn"),
        )
        cos = _dot(F.col("qv"), F.col("pv")) / (F.col("qn") * F.col("pn"))
        hits = (
            q.join(
                p, (F.col("cq") == F.col("cp")) & (F.col("qid") != F.col("pid"))
            )
            .where(cos >= float(threshold))
            .select(
                "qid",
                (F.col("pid") % mod != 0).alias("p_corpus"),
                (
                    (F.col("pid") % mod == 0) & (F.col("pid") < F.col("qid"))
                ).alias("p_prior_inc"),
            )
            .groupBy("qid")
            .agg(
                F.max(F.col("p_corpus").cast("int")).alias("dc"),
                F.max(F.col("p_prior_inc").cast("int")).alias("di"),
            )
        )
        (
            ba.select("vec_id", "cell")
            .join(hits, F.col("vec_id") == F.col("qid"), "left")
            .select(
                "vec_id",
                "cell",
                F.coalesce("dc", F.lit(0)).cast("bigint").alias("dup_corpus"),
                F.coalesce("di", F.lit(0)).cast("bigint").alias("dup_increment"),
                (
                    (F.coalesce("dc", F.lit(0)) == 0)
                    & (F.coalesce("di", F.lit(0)) == 0)
                )
                .cast("bigint")
                .alias("keep"),
            )
            .write.mode("overwrite")
            .parquet(f"{out_dir}/b{batch_id:06d}")
        )
        # write-back AFTER the verdict lands: generation = batch_id+1
        # (generation 0 is the corpus), overwrite => replay idempotent
        ba.select("vec_id", "embedding", "cell", "nrm").write.mode(
            "overwrite"
        ).parquet(f"{index_dir}/g{batch_id + 1:06d}")
        ba.unpersist()

    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(in_dir)
    )
    run_available_now(src, checkpoint, foreach_batch=_score)
