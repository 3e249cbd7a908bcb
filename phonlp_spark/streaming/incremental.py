"""Incremental KG construction over a growing documents directory.

The reference is strictly batch (SURVEY.md §2.10); the north rule asks
for RESUMABILITY, which the batch pipeline provides via bucket
manifests (pipeline/materialize.py).  This module adds the natural
Spark-native incremental mode on top: a Structured Streaming source
over the documents directory with `Trigger.AvailableNow`, so each
invocation drains exactly the files not yet processed (checkpointed
file log), runs the SAME batch stages via foreachBatch, and appends to
the output tables.  Late-arriving documents are therefore picked up by
simply re-running the job — no reprocessing of old files, no
watermarks needed (document processing is per-row, not windowed).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from phonlp_spark.pipeline.annotate import (
    annotate_sentences_df,
    annotations_long,
    mentions_df,
    triples_df,
)
from phonlp_spark.pipeline.ingest import DOCUMENTS_SCHEMA, split_sentences


def incremental_annotate(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    out_dir: str,
    salt_partitions: int | None = None,
) -> int:
    """Drain all unprocessed document files; append annotation/mention/
    triple tables under out_dir.  Returns number of micro-batches run.
    """
    stream = (
        spark.readStream.schema(DOCUMENTS_SCHEMA)
        .parquet(input_dir)
    )
    n_batches = [0]

    def process(batch_df, batch_id: int) -> None:
        mt = annotate_sentences_df(
            split_sentences(batch_df), salt_partitions).cache()
        annotations_long(mt).write.mode("append").parquet(f"{out_dir}/annotations")
        mentions_df(mt).write.mode("append").parquet(f"{out_dir}/mentions")
        triples_df(mt).write.mode("append").parquet(f"{out_dir}/triples")
        mt.unpersist()
        n_batches[0] += 1

    q = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return n_batches[0]
