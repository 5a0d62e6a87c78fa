"""The convert pipeline as a streaming sink (E4 extension; SURVEY.md
§2.8).

Fit-on-train / apply-to-all becomes fit-offline / apply-online: the
vocabulary (and scale stats) are fitted ONCE from a bounded TRAIN
DataFrame, then every micro-batch is transformed with the broadcast
fitted state and appended as TFRecord shards via ``foreachBatch``.
Never re-fit inside the stream — that would make output semantics
depend on micro-batch boundaries.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from ..constants import TRAIN
from ..functions import fs
from ..functions.partitioning import spread_to_parallelism
from ..operators.split import normalize_split
from ..operators.vocabulary import apply_vocabulary, vocabulary_frame, vocabulary_values
from ..schema import Schema
from ..sinks.artifacts import write_schema_metadata, write_vocabulary_assets
from ..sinks.tfrecord import write_all_splits


def convert_stream(
    stream: DataFrame,
    train_df: DataFrame,
    schema: Schema,
    job_dir: str,
    compression: str | None = "gzip",
    checkpoint_dir: str | None = None,
    trigger: dict[str, Any] | None = None,
) -> StreamingQuery:
    """Incrementally convert ``stream`` to TFRecords under ``job_dir``.

    ``train_df`` (bounded) supplies the fitted vocabulary state up
    front; each micro-batch is split-routed, transformed, and written by
    one pass of the TFRecord writer, one shard per partition holding a
    split (shard names carry the batch id so appends never collide;
    exactly-once comes from foreachBatch + idempotent same-name writes).
    """
    split_key = schema.split_key
    vocabs = {c: vocabulary_values(train_df, c) for c in schema.vocabulary_columns()}

    fs.makedirs(job_dir)
    write_vocabulary_assets(job_dir, vocabs)
    write_schema_metadata(job_dir, schema, schema.transformed_struct())
    # Fitted state as local relations: micro-batches broadcast-join them.
    frames = {c: vocabulary_frame(train_df.sparkSession, v) for c, v in vocabs.items()}

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        work = normalize_split(batch_df, split_key)
        for c, vocab in frames.items():
            work = apply_vocabulary(work, c, vocab)
        write_all_splits(
            spread_to_parallelism(work),
            job_dir,
            [TRAIN, "VALIDATION", "TEST"],
            split_key=split_key,
            compression=compression,
            tag=f"-batch{batch_id:06d}",
            keep_empty=False,
        )

    writer = stream.writeStream.foreachBatch(process_batch).outputMode("append")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()
