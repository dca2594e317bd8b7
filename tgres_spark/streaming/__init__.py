"""Structured Streaming pipelines: tgres's receiver/flusher loop as
``availableNow`` micro-batches with checkpointed offsets, commits and
state (Structured Streaming, SIGMOD 2018).

Every query in this package starts through ``run_available_now``, the
single place where the sink, the output mode, the trigger and the
checkpoint file manager are chosen (``tests/test_streaming.py`` guards
that no module starts a stream any other way).

Checkpoint file manager. Spark's default for a ``file://`` checkpoint
is ``FileContextBasedCheckpointFileManager``. Its rename goes through
``FileContext``, which checks the destination for a symlink; without
libhadoop, ``RawLocalFileSystem.getFileLinkStatus`` shells out to
``readlink`` for that on every checkpoint rename (offsets, commits,
WAL and state files). A ``perfbench`` ``ingest`` operation (three file
pipelines) forked about 490 child processes, 375 of them ``readlink``
(JFR ``jdk.ProcessStart``). ``FileSystemBasedCheckpointFileManager``
renames through the ``FileSystem`` API instead and forks no
``readlink``. It keeps every guarantee the default gives here:

- ``LocalFileSystem`` is a ``ChecksumFileSystem``, so Hadoop ``.crc``
  files are still written and verified on read (a flipped byte in a
  committed ``offsets/N`` fails the restart with a checksum error), and
  Spark's own ``N.delta.crc`` state checksums are untouched;
- on ``file://`` both managers check for an existing destination and
  then rename, so neither gives a stronger no-overwrite guarantee;
- both write the same checkpoint layout, so a query resumes from a
  checkpoint the default manager wrote.

The conf is a runtime SQL conf set on the query's own session, so it
reaches sessions this package did not build (a stock
``SparkSession``); only streaming checkpoints read it, so batch
queries are unaffected.

The trailing zero-row micro-batch stays on
(``spark.sql.streaming.noDataMicroBatches.enabled``). In append mode
it is the batch that evicts the windows the advanced watermark closed,
so without it an ``availableNow`` run ends with its closed slots still
in state and writes none of them (a one-file ``run_file_pipeline``
writes zero rows). The prediction in ``perfbench/README.md`` that
dropping this batch would halve ``ingest`` CPU therefore cannot be
acted on.

Known remaining cost: ``RawLocalFileSystem.create`` still forks one
``chmod`` per file it writes (about 110 per ``perfbench`` ``ingest``
operation). Removing those needs native code or dropping checksums,
neither of which is worth it.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame

CHECKPOINT_FILE_MANAGER_CONF = "spark.sql.streaming.checkpointFileManagerClass"
CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def run_available_now(
    df: DataFrame,
    checkpoint: str,
    *,
    path: str | None = None,
    foreach_batch: Callable[[DataFrame, int], None] | None = None,
    output_mode: str = "append",
) -> None:
    """Run the streaming frame ``df`` over every input available now,
    checkpointed at ``checkpoint``, and block until it finishes.

    Exactly one sink: ``path`` writes a parquet file sink there,
    ``foreach_batch`` hands each micro-batch ``(frame, batch_id)`` to
    the callable."""
    if (path is None) == (foreach_batch is None):
        raise ValueError("pass exactly one of path= and foreach_batch=")
    df.sparkSession.conf.set(CHECKPOINT_FILE_MANAGER_CONF, CHECKPOINT_FILE_MANAGER)
    w = df.writeStream.outputMode(output_mode).option("checkpointLocation", checkpoint)
    if path is not None:
        w = w.format("parquet").option("path", path)
    else:
        w = w.foreachBatch(foreach_batch)
    w.trigger(availableNow=True).start().awaitTermination()
