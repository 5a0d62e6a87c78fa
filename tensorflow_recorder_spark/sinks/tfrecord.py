"""TFRecord sink (K1/K2, SURVEY.md §2.5).

Reference behavior (/root/reference/tfrecorder/beam_pipeline.py:90-117,
187-192): per split, encode each row dict as a ``tf.train.Example`` and
write sharded, optionally gzip-compressed files named
``<split>-SSSSS-of-NNNNN.tfrecord[.gz]``; ``num_shards=0`` lets the
runner pick sharding (converter.py:290-291).

Spark-first design:
  * ONE ``mapInArrow`` writer per partition encodes the rows of each
    wanted split (the per-row proto build is unavoidable — it IS the
    output format — but it runs over the Arrow arrays Spark already
    holds), frames them (masked crc32c), compresses and appends them to
    at most |splits| open shard files. Serialized Examples never cross
    back into the JVM; only a (split, path, n) manifest row per shard
    reaches the driver, which renames the shards to contiguous
    ``<split>-SSSSS-of-NNNNN`` names.
  * ``num_shards=0`` keeps the input partitioning (the caller spreads
    and caches it), so all splits are written in one pass and shard
    count tracks data size; an explicit ``num_shards`` encodes once
    (cached), then runs one round-robin ``repartition`` plus the same
    writer per split.
  * Executors write files directly (shared filesystem). A task retry can
    leave a partial file that the retry overwrites — same-name
    idempotent writes, acceptable for a direct local/DFS sink; a
    cluster deployment would route this through a commit protocol
    (note: this is the one place local-mode and cluster semantics
    differ).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..constants import GZIP_SUFFIX, TFRECORD_SUFFIX, ZLIB_SUFFIX
from ..functions import fs
from ..functions.example_proto import build_batch_encoder
from ..functions.tfrecord_io import frame_records, open_output

# Spark simpleString -> Example feature kind
_KIND_BY_TYPE = {
    "string": "bytes",
    "binary": "bytes",
    "tinyint": "int64",
    "smallint": "int64",
    "int": "int64",
    "bigint": "int64",
    "boolean": "int64",
    "float": "float",
    "double": "float",
    "array<float>": "float",
    "array<double>": "float",
    "array<int>": "int64",
    "array<bigint>": "int64",
    "array<string>": "bytes",
    "array<binary>": "bytes",
}


def feature_kinds(df: DataFrame, exclude: tuple[str, ...] = ()) -> dict[str, str]:
    """Derive the Example feature kind for every column from the Spark
    schema (scalars and flat arrays; the reference model is all-scalar)."""
    kinds: dict[str, str] = {}
    for field in df.schema.fields:
        if field.name in exclude:
            continue
        simple = field.dataType.simpleString()
        kind = _KIND_BY_TYPE.get(simple)
        if kind is None:
            raise ValueError(
                f"column {field.name!r}: no Example mapping for type {simple}"
            )
        kinds[field.name] = kind
    return kinds


def shard_suffix(compression: str | None) -> str:
    """File suffix for ``compression``: 'gzip' (default), 'zlib' (TF's
    ZLIB whole-file stream; reference infers it from the .zlib
    extension, dataset_loader.py:32-35), or None/'' for raw. Any other
    value raises before a job runs or a directory is made."""
    if compression not in (None, "", "gzip", "zlib"):
        raise ValueError(f"unsupported TFRecord compression {compression!r}")
    return {"gzip": GZIP_SUFFIX, "zlib": ZLIB_SUFFIX}.get(compression or "", TFRECORD_SUFFIX)


def encode_examples(df: DataFrame, split_key: str = "split") -> DataFrame:
    """Encode every row into a serialized Example (K1): (split, example).

    The split column rides along for routing and — matching the
    reference, whose Examples include the split feature — is also
    encoded into the proto. Only the explicit-``num_shards`` path needs
    the encoded frame; the default path encodes inside the writer."""
    encoder = build_batch_encoder(feature_kinds(df))

    def encode_batches(batches):
        import pyarrow as pa

        for rb in batches:
            yield pa.RecordBatch.from_arrays(
                [rb.column(split_key), pa.array(_encode(encoder, rb), type=pa.binary())],
                names=["split", "example"],
            )

    return df.mapInArrow(encode_batches, schema="split string, example binary")


def _encode(encoder, rb) -> list[bytes]:
    # The encoder's column fast paths consume Arrow arrays directly
    # (example_proto.py); columns go in its sorted canonical order.
    return encoder([rb.column(c) for c in encoder.columns])


_MANIFEST = "split string, path string, n bigint"


def _write_shards(
    df: DataFrame,
    job_dir: str,
    prefixes: dict[str, str],
    split_key: str,
    compression: str | None,
    tmp_name,
    encoded: bool = False,
    eager: bool = False,
) -> list:
    """Run the writer over ``df`` and collect its manifest rows.

    Each partition appends the rows of every wanted split (the keys of
    ``prefixes``) to its own shard, staged as ``tmp_name(prefix, pid)``
    (gzip records that name in its header). ``encoded`` input already
    holds an ``example`` column; ``eager`` opens every split's shard even
    in an empty partition."""
    encoder = None if encoded else build_batch_encoder(feature_kinds(df))

    def write(batches):
        import pyarrow as pa
        import pyarrow.compute as pc
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        handles: dict[str, tuple] = {}
        counts: dict[str, int] = {}

        def handle(split_value):
            if split_value not in handles:
                path = fs.join(job_dir, tmp_name(prefixes[split_value], pid))
                handles[split_value] = (open_output(path, compression), path)
                counts[split_value] = 0
            return handles[split_value][0]

        for split_value in prefixes if eager else ():
            handle(split_value)
        for rb in batches:
            split_col = rb.column(split_key)
            for split_value in pc.unique(split_col).to_pylist():
                if split_value not in prefixes:
                    continue
                sub = rb.filter(pc.equal(split_col, split_value))
                records = sub.column("example").to_pylist() if encoded else _encode(encoder, sub)
                handle(split_value).write(frame_records(records))
                counts[split_value] += sub.num_rows
        for fh, _ in handles.values():
            fh.close()
        yield pa.RecordBatch.from_pydict(
            {
                "split": list(handles),
                "path": [p for _, p in handles.values()],
                "n": [counts[s] for s in handles],
            },
            schema=pa.schema([("split", pa.string()), ("path", pa.string()), ("n", pa.int64())]),
        )

    return df.mapInArrow(write, schema=_MANIFEST).collect()


def write_all_splits(
    df: DataFrame,
    job_dir: str,
    splits: list[str],
    split_key: str = "split",
    compression: str | None = "gzip",
    num_shards: int = 0,
    tag: str = "",
    keep_empty: bool = True,
) -> dict[str, dict[str, int]]:
    """Encode and write every wanted split of ``df`` (K1/K2).

    With ``num_shards=0`` (runner-chosen, the default) one writer pass
    covers all splits: each partition holding rows of a split becomes one
    shard of it. An explicit ``num_shards`` applies PER SPLIT — the
    reference's ``WriteToTFRecord(num_shards=N)`` runs per split
    (beam_pipeline.py:303-313), so every split gets exactly N shards,
    empty ones included. That path encodes once into a cached frame and
    repartitions it per split (round-robin over the encoded rows); exact
    shard counts cost one scan per split, the auto path stays single-pass.

    Shards are named ``<split><tag>-SSSSS-of-NNNNN<suffix>``. A wanted
    split with no rows still gets one empty shard (V8 parity) unless not
    ``keep_empty`` (streaming appends, where per-batch empty shards would
    accumulate). Returns {split: {path: record_count}}.
    """
    suffix = shard_suffix(compression)
    fs.makedirs(job_dir)
    prefixes = {s: s.lower() + tag for s in splits}
    if num_shards > 0:
        manifest = []
        encoded = encode_examples(df, split_key).cache()
        try:
            for split_value in splits:
                # Round-robin repartition sorts each input partition by
                # row bytes first, so only the Example bytes are
                # shuffled: shard contents depend on the records alone.
                rows = (
                    encoded.where(F.col("split") == split_value)
                    .select("example")
                    .repartition(num_shards)
                    .withColumn("split", F.lit(split_value))
                )
                manifest += _write_shards(
                    rows,
                    job_dir,
                    {split_value: prefixes[split_value]},
                    "split",
                    compression,
                    lambda prefix, pid: f"{prefix}-{pid:05d}-of-{num_shards:05d}{suffix}.inprogress",
                    encoded=True,
                    eager=True,
                )
        finally:
            encoded.unpersist()
    else:
        manifest = _write_shards(
            df, job_dir, prefixes, split_key, compression,
            lambda prefix, pid: f".{prefix}-pid{pid:05d}{suffix}.inprogress",
        )

    # Driver-side rename to contiguous shard names (metadata-only).
    by_split: dict[str, list] = {}
    for row in manifest:
        by_split.setdefault(row["split"], []).append((row["path"], row["n"]))
    results: dict[str, dict[str, int]] = {}
    for split_value in splits:
        shards = sorted(by_split.get(split_value, []))
        prefix = prefixes[split_value]
        if not shards:
            if keep_empty:  # V8: empty-but-present split output
                path = fs.join(job_dir, f"{prefix}-00000-of-00001{suffix}")
                with open_output(path, compression):
                    pass
                results[split_value] = {path: 0}
            continue
        split_files: dict[str, int] = {}
        for i, (tmp, n) in enumerate(shards):
            final = fs.join(job_dir, f"{prefix}-{i:05d}-of-{len(shards):05d}{suffix}")
            fs.replace(tmp, final)
            split_files[final] = n
        results[split_value] = split_files
    return results
