"""The ``convert`` pipeline (C1, SURVEY.md §2.6/§3) — the reference's
entry point re-planned for Spark.

Reference lifecycle (/root/reference/tfrecorder/converter.py:248-366 +
beam_pipeline.py:199-324): normalize source -> validate -> (image
extract) -> split-partition -> fit TFT on TRAIN / apply to all -> write
sharded TFRecords per split + discard text + transform artifacts ->
return {job_id, metrics, tfrecord_dir}.

Spark re-plan (SURVEY.md §4.2):
  * The Beam DAG becomes lazy DataFrame lineage; Catalyst owns physical
    planning. NO driver materialization of the data — the reference's
    ``df.values.tolist()`` (beam_pipeline.py:251) is exactly the pattern
    this engine exists to kill.
  * The input is spread and cached once. Every later action reads the
    cache, and the fitted state is collected ONCE, as tiny results:
      1. one fit aggregate — the split histogram as conditional counts
         (A1), the TRAIN mean/stddev_pop of every scaled column (A4) and
         the image good/bad counters (V5);
      2. one count job per vocabulary column (A2), ranked on the driver
         and re-entered as a local relation, so later actions never
         re-run the fit;
      3. one writer job: a single ``mapInArrow`` encodes, frames,
         compresses and writes every split (sinks/tfrecord.py) and
         returns the shard manifest;
      4. the discard sink (K3).
    Assets (vocabulary, scale stats, schema) are written from the driver
    without a job. Each phase's jobs carry a ``convert: <phase>``
    description.
  * Fitted state applies via broadcast join / literals — the fact table
    never shuffles in this pipeline (split routing is a narrow map;
    write sharding repartitions only when ``num_shards`` is explicit).
"""

from __future__ import annotations

import datetime
import logging
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Row, SparkSession, functions as F

from ..constants import AUTO_SHARDS, DISCARD, JOB_NAME_PREFIX, OUTPUT_SPLITS, TRAIN
from ..functions import fs
from ..functions.partitioning import spread_to_parallelism
from ..operators.image import extract_images
from ..operators.scale import apply_scale, scale_aggregates, scale_stats_from_row
from ..operators.split import normalize_split, require_train
from ..operators.vocabulary import fit_and_apply_vocabularies
from ..schema import Schema
from ..sinks.artifacts import (
    write_discarded,
    write_scale_stats,
    write_schema_metadata,
    write_vocabulary_assets,
)
from ..sinks.tfrecord import shard_suffix, write_all_splits

logger = logging.getLogger(__name__)

# The input split column, carried through image extraction (which
# reroutes failed rows to DISCARD) for the histogram.
_INPUT_SPLIT = "__input_split"


@dataclass
class ConvertResult:
    """Mirrors the reference's job-result dict (converter.py:330-348)."""

    job_id: str
    tfrecord_dir: str
    metrics: dict[str, int] = field(default_factory=dict)
    files: dict[str, dict[str, int]] = field(default_factory=dict)

    def as_dict(self) -> dict:
        return {
            "job_id": self.job_id,
            "metrics": self.metrics,
            "tfrecord_dir": self.tfrecord_dir,
        }


def get_job_name(label: str | None = None, now: datetime.datetime | None = None) -> str:
    """``tfrecorder-<YYYYmmdd-HHMMSS>[-label]`` (V6, converter.py:146-162)."""
    ts = (now or datetime.datetime.now()).strftime("%Y%m%d-%H%M%S")
    name = f"{JOB_NAME_PREFIX}-{ts}"
    if label:
        name += "-" + label.replace("_", "-")
    return name


@contextmanager
def _phase(spark: SparkSession, description: str):
    """Describe the phase's Spark jobs, then restore the caller's
    description. The job group is left alone: it belongs to the caller."""
    sc = spark.sparkContext
    previous = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(description)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.job.description", previous)


def split_counts(
    work: DataFrame, split_col: str, extra: list[Column]
) -> tuple[dict[str, int], Row]:
    """The one fit aggregate: the split histogram (A1) as conditional
    counts plus the ``extra`` aggregates, in one job and one collected
    row. Values other than the output splits count as DISCARD. Returns
    ({split: rows} for non-empty splits, the row)."""
    row = work.agg(
        F.count(F.lit(1)).alias("__rows"),
        *[F.count(F.when(F.col(split_col) == s, 1)).alias(s) for s in OUTPUT_SPLITS],
        *extra,
    ).collect()[0]
    counts = {s: row[s] for s in OUTPUT_SPLITS}
    counts[DISCARD] = row["__rows"] - sum(counts.values())
    return {s: n for s, n in counts.items() if n}, row


def fit_and_apply_scale(
    df: DataFrame, fitted: Row, columns: list[str]
) -> tuple[DataFrame, dict[str, tuple[float, float]]]:
    """A4 on TRAIN stats: the moments were computed by the fit aggregate
    (:func:`split_counts`), so this reads them and applies literals."""
    stats = scale_stats_from_row(fitted, columns)
    return apply_scale(df, stats), stats


def run_convert(
    spark: SparkSession,
    df: DataFrame,
    schema: Schema,
    output_dir: str,
    job_label: str | None = None,
    compression: str | None = "gzip",
    num_shards: int = AUTO_SHARDS,
    scale_numeric: bool = False,
) -> ConvertResult:
    """Execute the convert plan on an already-normalized Spark DataFrame.

    ``scale_numeric`` gates A4 (z-score on TRAIN stats): the reference
    documents it but does not implement it (README.md:304-312 vs
    beam_pipeline.py:128-129), so parity default is OFF.
    """
    shard_suffix(compression)  # reject before any job runs or dir exists
    schema.validate_columns(df.columns)  # V1
    split_key = schema.split_key

    # Typed projection (T2): select schema columns in order, cast to the
    # declared types — the CsvCoder-decode analog, JVM-side.
    typed = df.select(
        *[
            F.col(name).cast(inst.spark_type).alias(name)
            for name, inst in schema.input_schema_map.items()
        ]
    )

    # Image extraction (T3) — only when the schema declares an ImageUri.
    # The histogram counts the INPUT split, as the reference computes it
    # before extraction reroutes failures (the V8 empty-split case).
    work, hist_col, extra = typed, split_key, []
    if schema.image_uri_key:
        work = extract_images(
            typed.withColumn(_INPUT_SPLIT, F.col(split_key)), schema.image_uri_key, split_key
        )
        hist_col = _INPUT_SPLIT
        extra = [
            F.count(F.when(F.col("__image_ok"), 1)).alias("good"),
            F.count(F.when(~F.col("__image_ok"), 1)).alias("bad"),
        ]
    work = normalize_split(work, split_key)  # P1 (also covers P2 reroutes)
    scale_columns = schema.scalable_columns() if scale_numeric else []
    extra += scale_aggregates(scale_columns, where=F.col(split_key) == TRAIN)

    # ONE cache feeds every action below. Fan out BEFORE caching when the
    # scan under-partitioned (small files split at row-group
    # granularity): the one-time shuffle happens at cache
    # materialization, and every downstream pass — including the
    # Python-bound encode+write, which runs on the cache's partitions —
    # inherits full parallelism. The decision is metadata-only
    # (inputFiles(); functions/partitioning.py). The transformed frame is
    # not cached again: it is a broadcast join and a projection away from
    # this cache (a second materialization measured ~2x on 600k rows).
    work = spread_to_parallelism(work, spark.sparkContext.defaultParallelism).cache()
    try:
        with _phase(spark, "convert: fit"):
            counts, fitted = split_counts(work, hist_col, extra)
        require_train(counts)  # V3
        with _phase(spark, "convert: vocabulary"):
            transformed, vocabs = fit_and_apply_vocabularies(
                work, schema.vocabulary_columns(), split_key
            )  # A2/A3: fit on TRAIN, apply to all
        transformed, scale_stats = fit_and_apply_scale(transformed, fitted, scale_columns)
        good = bad = 0
        if schema.image_uri_key:
            good, bad = fitted["good"], fitted["bad"]
            transformed = transformed.drop("__image_ok", _INPUT_SPLIT)

        job_name = get_job_name(job_label)
        # URI-aware join/mkdir: output_dir may be file:/..., file://... or
        # a remote scheme — os.path on the raw URI would create a literal
        # "file:" tree under CWD (r3 verdict bug).
        job_dir = fs.join(output_dir, job_name)
        fs.makedirs(job_dir)

        # Branch elision parity: a split is written iff it appeared in
        # the input histogram (beam_pipeline.py:274-280, 303-313) — even
        # if image failures emptied it (V8). One pass writes all splits.
        wanted = [s for s in OUTPUT_SPLITS if counts.get(s, 0) > 0]
        with _phase(spark, "convert: write"):
            files = write_all_splits(
                transformed,
                job_dir,
                wanted,
                split_key=split_key,
                compression=compression,
                num_shards=num_shards,
            )
        with _phase(spark, "convert: discard"):
            write_discarded(transformed.where(F.col(split_key) == DISCARD), job_dir)  # K3

        write_vocabulary_assets(job_dir, vocabs)  # K4
        if scale_stats:
            write_scale_stats(job_dir, scale_stats)
        write_schema_metadata(job_dir, schema, transformed.schema)
    finally:
        work.unpersist()

    metrics = {"rows": sum(counts.values()), "good_images": good, "bad_images": bad}
    logger.info("convert job %s complete: %s", job_name, metrics)
    return ConvertResult(
        job_id="spark-local", tfrecord_dir=job_dir, metrics=metrics, files=files
    )
