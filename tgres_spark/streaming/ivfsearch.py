"""Streaming ANN consult path: arriving query batches search the
MAINTAINED physical IVF index (round 12).

The batch side (similarity.py ann_ivf_search_maintained) proved a
query THROUGH the maintained artifact equals the lifecycle replayed
on the surviving vectors; this is its deployment shape — the one a
production retrieval service actually runs: the index directory
(cells + codebook) is a static artifact maintained elsewhere
(tombstone -> compact -> split -> merge), and queries arrive as a
stream, each micro-batch probing the CURRENT codebook and scanning
only its probed inverted lists. Per-query outputs are independent
(class 1 of refresh.py's deployment rule: per-batch decomposable —
the top-k of one query depends on the index, never on other
queries), so the accumulated outputs equal the batch search verbatim
and arrival order is irrelevant — the one streaming query in the
repo with NO order-dependence caveat.

Reference analogue: receiver/dscache.go:1 — reads consult the
maintained cache, never go around it; here the reads are a stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from . import run_available_now


def run_ivf_search_stream(
    spark: SparkSession,
    in_dir: str,
    index_dir: str,
    out_dir: str,
    checkpoint: str,
    schema,
    k: int = 10,
    nprobe: int = 4,
    mod: int = 7,
    files_per_trigger: int = 1,
) -> None:
    """Each micro-batch of (vec_id, embedding) query rows searches the
    physical index and lands its per-query top-k as ``out/b<id>``
    (overwrite — replay rewrites identical content; stateless)."""
    import pyspark.sql.functions as F

    from ..pipeline.similarity import ann_ivf_search_index_q

    def _search(batch, batch_id: int) -> None:
        q = batch.select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qv"),
        )
        ann_ivf_search_index_q(
            spark, index_dir, q, k=k, nprobe=nprobe, mod=mod
        ).write.mode("overwrite").parquet(f"{out_dir}/b{batch_id:06d}")

    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(in_dir)
    )
    run_available_now(src, checkpoint, foreach_batch=_search)
