"""The benchmark workloads. One operation is one user call.

Each workload generates its input from the seed (untimed), runs its
operation, and checks every operation's output. ``instrument``
registers the spans of the layers the workload exercises;
``layer_counts`` reports the workload's count and ratio metrics after
the run (untimed).
"""

from __future__ import annotations

import functools
import os
from collections import Counter, OrderedDict

import gen
from check_oracle import frame_hash
from checks import read_job_dir
from spans import Tracer

SIZES = {
    "full": {"tabular_rows": 20_000, "images": 200, "documents": 300},
    "tiny": {"tabular_rows": 2_000, "images": 24, "documents": 300},
}


def tabular_schema():
    from tensorflow_recorder_spark import types as t
    from tensorflow_recorder_spark.schema import Schema

    kinds = {"split": t.SplitKey, "label": t.StringLabel, "note": t.StringInput,
             "n_items": t.IntegerInput}
    return Schema(OrderedDict((c, kinds.get(c, t.FloatInput)) for c in gen.TABULAR_COLUMNS))


class Workload:
    name = ""
    why = ""

    def __init__(self, seed: int, size: str, work_dir: str) -> None:
        self.seed = seed
        self.sizes = SIZES[size]
        self.work_dir = work_dir
        self.truth: dict = {}
        self.rows = 0
        self._digest: str | None = None

    def generate(self) -> None:
        raise NotImplementedError

    def op(self, spark, out_dir: str, tracer: Tracer | None = None):
        raise NotImplementedError

    def check(self, result) -> list[str]:
        raise NotImplementedError

    def instrument(self, tracer: Tracer) -> None:
        pass

    def layer_counts(self, spark, tracer: Tracer, result) -> dict[str, float]:
        return {}

    def extras(self, result) -> list:
        """Extra calls the traced run makes after the timed operations:
        a list of (fn(spark, out_dir, tracer) -> problems, traced). A
        traced extra measures layers the operation does not reach; an
        untraced one is a check too slow to make in every run."""
        return []

    def _same_digest(self, digest: str) -> list[str]:
        if self._digest is None:
            self._digest = digest
            return []
        return [] if digest == self._digest else [f"digest {digest} != {self._digest}"]


class _ConvertWorkload(Workload):
    """Shared checks for the two convert workloads."""

    expected_shards: int | None = None
    last_summary = None

    def check(self, result) -> list[str]:
        summary = read_job_dir(result["tfrecord_dir"])
        self.last_summary = summary
        problems = []
        expected = self.truth["split_hist"]
        got = {s: summary.records.get(s, 0) for s in expected}
        if got != expected:
            problems.append(f"records per split {got} != {expected}")
        if summary.bad_crc:
            problems.append(f"{summary.bad_crc} CRCs do not verify")
        if self.expected_shards is not None and summary.shards != self.expected_shards:
            problems.append(f"{summary.shards} shards, expected {self.expected_shards}")
        return problems + self._same_digest(summary.digest)

    def instrument(self, tracer: Tracer) -> None:
        """Spans on the convert plan's calls into each layer."""
        from tensorflow_recorder_spark import api
        from tensorflow_recorder_spark.plans import convert as plan
        from tensorflow_recorder_spark.sources import dispatch

        tracer.wrap(api, "to_dataframe", "sources.dispatch.to_dataframe")
        tracer.wrap(dispatch, "read_image_directory", "sources.image_dir.list")
        tracer.wrap(api, "run_convert", "plans.convert.other")
        tracer.wrap(plan, "split_counts", "plans.convert.split_counts")
        tracer.wrap(plan, "fit_and_apply_vocabularies", "plans.convert.fit_vocab")
        tracer.wrap(plan, "fit_and_apply_scale", "plans.convert.fit_scale")
        tracer.wrap(plan, "write_all_splits", "plans.convert.write_splits")
        tracer.wrap(plan, "write_discarded", "plans.convert.write_discarded")
        for attr in ("write_vocabulary_assets", "write_scale_stats", "write_schema_metadata"):
            tracer.wrap(plan, attr, "plans.convert.artifacts")

    def layer_counts(self, spark, tracer, result) -> dict[str, float]:
        s = self.last_summary
        return {
            "sinks.tfrecord.bytes_per_record": s.shard_bytes / max(s.total_records, 1),
            "sinks.tfrecord.shards": s.shards,
        }


class ConvertTabular(_ConvertWorkload):
    name = "convert_tabular"
    image_counts: dict[str, float] = {}
    why = ("CSV -> convert(scale_numeric=True): encode, framing, gzip, write and "
           "the vocabulary/scale fits do the work; image and dedup layers idle")

    def generate(self) -> None:
        self.input, self.truth = gen.write_tabular(
            self.seed, self.sizes["tabular_rows"], self.work_dir
        )
        self.rows = self.truth["rows"]

    def op(self, spark, out_dir, tracer=None):
        import tensorflow_recorder_spark as trs

        return trs.convert(
            self.input, output_dir=out_dir, schema=tabular_schema(),
            spark=spark, scale_numeric=True,
        )

    def check(self, result) -> list[str]:
        problems = super().check(result)
        if result["metrics"]["rows"] != self.rows:
            problems.append(f"rows {result['metrics']['rows']} != {self.rows}")
        return problems

    def instrument(self, tracer: Tracer) -> None:
        from tensorflow_recorder_spark import api

        super().instrument(tracer)
        tracer.wrap(api, "load_tfrecords", "sources.tfrecord.load")

    def extras(self, result) -> list:
        return [
            (functools.partial(self._readback, result["tfrecord_dir"]), True),
            (self._images, True),
        ]

    def _readback(self, job_dir: str, spark, out_dir: str, tracer: Tracer) -> list[str]:
        """load() the last output back (the TFRecord source layer) and
        materialize every split through an order-insensitive aggregate.
        Rows per split and each split's label-index histogram must equal
        the generator's, mapped through the written vocabulary (OOV -> -1)."""
        from pyspark.sql import functions as F

        import tensorflow_recorder_spark as trs
        from tensorflow_recorder_spark.sinks.artifacts import read_vocabulary_asset

        frames = trs.load(job_dir, spark=spark)
        index = tracer.open("sources.tfrecord.materialize")
        try:
            counts = {
                split: df.agg(F.count(F.lit(1)), F.max(F.xxhash64(*df.columns))).collect()[0][0]
                for split, df in frames.items()
            }
        finally:
            tracer.close(index)
        problems = []
        if counts != self.truth["split_hist"]:
            problems.append(f"load() read {counts}, expected {self.truth['split_hist']}")
        vocab = {v: i for i, v in enumerate(read_vocabulary_asset(job_dir, "label"))}
        pdf, _ = gen.tabular_frame(self.seed, self.sizes["tabular_rows"])
        for split, df in frames.items():
            got = Counter({r[0]: r[1] for r in df.groupBy("label").count().collect()})
            want = Counter(vocab.get(v, -1) for v in pdf.loc[pdf["split"] == split, "label"])
            if got != want:
                problems.append(f"{split}: label histogram differs from the generator's")
        return problems

    def _images(self, spark, out_dir: str, tracer: Tracer) -> list[str]:
        """A small image-tree convert (the image source, decode and
        explicit-shard layers)."""
        images = ConvertImages(self.seed, "tiny", os.path.join(self.work_dir, "images"))
        images.generate()
        result = images.op(spark, out_dir, tracer)
        self.image_counts = images.layer_counts(spark, tracer, result)
        return images.check(result)

    def layer_counts(self, spark, tracer, result) -> dict[str, float]:
        return {**super().layer_counts(spark, tracer, result), **self.image_counts}


class ConvertImages(_ConvertWorkload):
    name = "convert_images"
    why = ("image tree -> convert(num_shards=4): per-row PNG/JPEG decode, base64 and "
           "the explicit-shard writer dominate; numeric encoders idle")

    def generate(self) -> None:
        self.input, self.truth = gen.write_images(self.seed, self.sizes["images"], self.work_dir)
        self.rows = self.truth["rows"]
        self.expected_shards = 4 * sum(1 for n in self.truth["split_hist"].values() if n)

    def op(self, spark, out_dir, tracer=None):
        import tensorflow_recorder_spark as trs

        return trs.convert(self.input, output_dir=out_dir, spark=spark, num_shards=4)

    def check(self, result) -> list[str]:
        problems = super().check(result)
        m = result["metrics"]
        if (m["good_images"], m["bad_images"]) != (self.truth["good"], self.truth["bad"]):
            problems.append(
                f"good/bad {m['good_images']}/{m['bad_images']} != "
                f"{self.truth['good']}/{self.truth['bad']}"
            )
        return problems

    def layer_counts(self, spark, tracer, result) -> dict[str, float]:
        m = result["metrics"]
        return {"operators.image.good_frac": m["good_images"] / max(self.rows, 1)}


class CurateDocuments(Workload):
    name = "curate_documents"
    why = ("documents -> e6_curate_v2: LSH pair graph, components, contamination join "
           "and leakage-safe split; shuffle/checkpoint heavy, no TFRecord code")
    # the DuckDB oracle's recursive cluster CTE takes ~30 s on 300 docs,
    # so the oracle comparison runs on this prefix of the table
    ORACLE_DOCS = 200

    def generate(self) -> None:
        self.input, self.truth = gen.write_documents(
            self.seed, self.sizes["documents"], self.work_dir
        )
        self.rows = self.truth["rows"]

    @staticmethod
    def curate(spark, sf_dir: str, tracer: Tracer | None = None):
        """Run the registry query and collect its (doc_id, group_key,
        split) rows — the curated id list a caller consumes."""
        from tensorflow_recorder_spark.queries import QUERIES

        index = tracer.open("queries.e6_curate_v2.other") if tracer else None
        try:
            df = QUERIES["e6_curate_v2"](spark, sf_dir)
        finally:
            if index is not None:
                tracer.close(index)
        index = tracer.open("queries.e6_curate_v2.materialize") if tracer else None
        try:
            return df.columns, [tuple(r) for r in df.collect()]
        finally:
            if index is not None:
                tracer.close(index)

    def op(self, spark, out_dir, tracer=None):
        return self.curate(spark, self.input, tracer)

    def check(self, result) -> list[str]:
        """Invariants the planted input fixes, plus the same digest for
        every operation."""
        columns, rows = result
        out = {r[columns.index("doc_id")]: r for r in rows}
        planted = self.truth["planted"]
        problems = []
        if not rows or len(out) != len(rows):
            problems.append("empty result or repeated doc_id")
        if any(d % 10 == 0 for d in out):
            problems.append("an eval-slice document survived")
        for kind, ids in (("low-quality", planted["low_quality"]),
                          ("eval-copy", planted["eval_copy"]),
                          ("exact-duplicate", [copy for _, copy in planted["exact_dup"]])):
            kept = [d for d in ids if d in out]
            if kept:
                problems.append(f"{len(kept)} {kind} documents survived")
        split_of: dict = {}
        g, sp = columns.index("group_key"), columns.index("split")
        for r in rows:
            if split_of.setdefault(r[g], r[sp]) != r[sp]:
                problems.append(f"group {r[g]} straddles splits")
                break
        return problems + self._same_digest(frame_hash(columns, rows))

    def extras(self, result) -> list:
        return [(self._oracle, False)]

    def _oracle(self, spark, out_dir: str, tracer=None) -> list[str]:
        """On the first ORACLE_DOCS documents of the table, the query's
        result hash equals the registry's DuckDB oracle SQL."""
        import duckdb
        import pandas as pd

        from tensorflow_recorder_spark.queries import ORACLES

        os.makedirs(out_dir)
        path = os.path.join(out_dir, "documents.parquet")
        table = pd.read_parquet(os.path.join(self.input, "documents.parquet"))
        table[table["doc_id"] < self.ORACLE_DOCS].to_parquet(path, index=False)
        got = frame_hash(*self.curate(spark, out_dir))
        con = duckdb.connect()
        try:
            con.sql(f"CREATE TABLE documents AS SELECT * FROM '{path}'")
            rel = con.sql(ORACLES["e6_curate_v2"])
            want = frame_hash(list(rel.columns), rel.fetchall())
        finally:
            con.close()
        return [] if got == want else [f"oracle digest {want} != {got}"]

    def instrument(self, tracer: Tracer) -> None:
        from tensorflow_recorder_spark.operators import dedup

        tracer.wrap(dedup, "lsh_verified_pairs", "operators.dedup.lsh_verified_pairs", capture=True)
        tracer.wrap(dedup, "duplicate_clusters", "operators.dedup.duplicate_clusters", capture=True)

    def layer_counts(self, spark, tracer, result) -> dict[str, float]:
        """Verified pairs per LSH candidate pair, and the share of planted
        near-duplicate pairs (both members reaching the pair graph) that
        land in one cluster."""
        from tensorflow_recorder_spark.operators import dedup

        (docs, text_col, id_col), kwargs, pairs = tracer.captured["operators.dedup.lsh_verified_pairs"]
        sigs = dedup.minhash_signatures(docs, text_col, id_col, 8, 5)
        candidates = dedup.lsh_candidate_pairs(
            sigs, id_col, 8, 4, kwargs.get("min_est_jaccard", 0.25)
        ).count()
        verified = pairs.count()
        present = {r[0] for r in docs.select(id_col).collect()}
        cluster = {
            r["id"]: r["cluster_id"]
            for r in tracer.captured["operators.dedup.duplicate_clusters"][2]
            .select("id", "cluster_id").collect()
        }
        planted = [(a, b) for a, b in self.truth["planted"]["near_dup"]
                   if a in present and b in present]
        found = sum(1 for a, b in planted if a in cluster and cluster.get(a) == cluster.get(b))
        return {
            "operators.dedup.verified_per_candidate": verified / max(candidates, 1),
            "operators.dedup.planted_recall": found / max(len(planted), 1),
        }


WORKLOADS = {w.name: w for w in (ConvertTabular, ConvertImages, CurateDocuments)}
