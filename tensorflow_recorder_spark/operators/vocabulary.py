"""Vocabulary fit/apply — the reference's one real aggregation (A2/A3,
SURVEY.md §2.4).

Reference semantics (/root/reference/tfrecorder/beam_pipeline.py:120-127 +
test_data/sample_tfrecords): for every StringLabel column, compute the
vocabulary over the **TRAIN split only**, ordered by descending frequency,
persist it as a text asset (one value per line), then map every value —
in ALL splits — to its vocabulary index; out-of-vocabulary values map to
-1 (schema.pbtxt int_domain {min: -1}).

Tie-break: the reference delegates to TFT whose ordering below equal
frequencies is unspecified; the engine pins ``ORDER BY count DESC, value
ASC`` so results are deterministic and oracle-checkable (SURVEY.md §7
phase 2).

Scale design: the fit is a groupBy(count) shuffle over the TRAIN subset
— partial aggregation (map-side combine) makes the shuffled data
|distinct values|, not |rows|. The global rank has two formulations
with identical output:

* :func:`fit_vocabulary` — a single-partition window over the
  *aggregated* vocabulary, deliberate and bounded for label
  vocabularies (the reference's semantics: a handful of classes).
* :func:`fit_vocabulary_large` — token-scale path: the shared
  ``distributed_global_rank`` two-phase rank (range-partition on the
  rank order, window within ranges, broadcast count offsets). No single
  task ever holds the whole vocabulary.

The apply is a broadcast hash join (vocab is fitted state), so no
shuffle touches the fact table. :func:`fit_and_apply_vocabularies`
ranks the collected counts on the driver (:func:`vocabulary_values`)
and re-enters them as a local relation, so the fit runs once however
many actions read the transformed frame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..constants import OOV_INDEX, TRAIN


def fit_vocabulary(
    train_df: DataFrame,
    column: str,
    value_alias: str = "value",
    index_alias: str = "index",
    top_k: int | None = None,
) -> DataFrame:
    """Compute the frequency-descending vocabulary of ``column`` (A2 fit).

    Returns a small DataFrame (value, index) with index 0..V-1 assigned by
    count desc, value asc. NULLs do not enter the vocabulary (the
    reference's CSV path never produces NULL labels).

    ``top_k`` truncates to the K most frequent values (TFT's
    ``compute_and_apply_vocabulary(top_k=...)`` knob, tft API surface the
    reference inherits): truncated values integerize to OOV on apply.
    """
    counts = _value_counts(train_df, column, value_alias)
    # The window input is the aggregated vocabulary (small); a single
    # ordered partition here is deliberate and bounded. The partition key
    # is a constant-valued but non-foldable expression (pmod(hash, 1) is
    # always 0): same one-partition plan, but the partition spec survives
    # Catalyst constant folding so WindowExec does not emit its
    # "No Partition Defined" warning for this intentionally-global sort.
    one_bucket = F.pmod(F.hash(F.col(value_alias)), F.lit(1))
    w = Window.partitionBy(one_bucket).orderBy(F.desc("_freq"), F.asc(value_alias))
    vocab = counts.select(
        value_alias,
        (F.row_number().over(w) - F.lit(1)).cast("long").alias(index_alias),
    )
    if top_k is not None:
        vocab = vocab.where(F.col(index_alias) < top_k)
    return vocab


def _value_counts(train_df: DataFrame, column: str, value_alias: str) -> DataFrame:
    return (
        train_df.where(F.col(column).isNotNull())
        .groupBy(F.col(column).alias(value_alias))
        .agg(F.count(F.lit(1)).alias("_freq"))
    )


def fit_vocabulary_large(
    train_df: DataFrame,
    column: str,
    value_alias: str = "value",
    index_alias: str = "index",
    top_k: int | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Token-scale A2 fit: identical output to :func:`fit_vocabulary`,
    no single-partition sort anywhere in the plan.

    Two-phase global rank (``sampling.distributed_global_rank``):
    ``repartitionByRange`` on (freq desc, value asc) spreads the
    aggregated vocabulary over ``num_partitions`` ordered ranges, each
    range windows locally, and broadcast per-range row-count offsets
    lift the local ranks to contiguous global indices (partition SIZES
    cross the driver, never values). Use when the vocabulary itself is
    too large for one task (billions of distinct tokens); for label
    vocabularies the windowed variant is one shuffle cheaper.
    """
    from .sampling import distributed_global_rank

    counts = _value_counts(train_df, column, value_alias)
    ranked, _total = distributed_global_rank(
        counts,
        [F.desc("_freq"), F.asc(value_alias)],
        num_partitions=num_partitions,
    )
    vocab = ranked.select(
        value_alias,
        (F.col("__rank") - F.lit(1)).cast("long").alias(index_alias),
    )
    if top_k is not None:
        vocab = vocab.where(F.col(index_alias) < top_k)
    return vocab


def apply_vocabulary(
    df: DataFrame, column: str, vocab: DataFrame, oov_index: int = OOV_INDEX
) -> DataFrame:
    """Integerize ``column`` via a broadcast join against the fitted
    vocabulary (A3 apply); OOV -> ``oov_index`` (A2 semantics).

    The vocabulary side is always broadcast: it is fitted state, bounded
    by label cardinality, so the fact table never shuffles.
    """
    vocab_renamed = vocab.select(
        F.col("value").alias("__vocab_value"), F.col("index").alias("__vocab_index")
    )
    joined = df.join(
        F.broadcast(vocab_renamed),
        df[column] == vocab_renamed["__vocab_value"],
        "left",
    )
    return joined.withColumn(
        column, F.coalesce(F.col("__vocab_index"), F.lit(oov_index))
    ).drop("__vocab_value", "__vocab_index")


def vocabulary_values(train_df: DataFrame, column: str) -> list[str]:
    """:func:`fit_vocabulary`'s ranking, finished on the driver: ONE
    groupBy-count job collects the per-value TRAIN counts — bounded by
    label cardinality, the fitted state itself — and they are ranked by
    count desc, value asc. Spark orders strings by UTF-8 bytes, hence the
    byte key (same order as ``ORDER BY count DESC, value ASC``)."""
    rows = _value_counts(train_df, column, "value").collect()
    rows.sort(key=lambda r: (-r["_freq"], r["value"].encode("utf-8")))
    return [r["value"] for r in rows]


def vocabulary_frame(spark: SparkSession, values: list[str]) -> DataFrame:
    """The fitted (value, index) vocabulary as a driver-local relation.

    Built from an Arrow table, it enters the plan as a ``LocalRelation``
    — no Python RDD, no recomputation of the fit in later actions; its
    broadcast is a one-task job that runs no Python."""
    import pyarrow as pa

    table = pa.table(
        {
            "value": pa.array(values, pa.string()),
            "index": pa.array(range(len(values)), pa.int64()),
        }
    )
    return spark.createDataFrame(table)


def fit_and_apply_vocabularies(
    df: DataFrame,
    vocab_columns: list[str],
    split_key: str = "split",
    train_value: str = TRAIN,
) -> tuple[DataFrame, dict[str, list[str]]]:
    """Fit each vocabulary on the TRAIN subset, apply to the whole frame
    (A3 fit-on-train / apply-to-all; reference beam_pipeline.py:296-313).

    One count job per column; the ranked values are collected once, so
    later actions over the transformed frame never re-run the fit.
    Returns (transformed df, {column: values in index order}) — the
    values are the fitted state to persist as assets (K4).
    """
    train = df.where(F.col(split_key) == train_value)
    vocabs: dict[str, list[str]] = {}
    out = df
    for column in vocab_columns:
        vocabs[column] = vocabulary_values(train, column)
        out = apply_vocabulary(out, column, vocabulary_frame(df.sparkSession, vocabs[column]))
    return out, vocabs
