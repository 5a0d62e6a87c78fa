"""Declared metrics. ``BENCHMARK.json`` lists the same names; the tests
check that the two agree.

Per-layer entries also record, before any measurement, which
end-to-end metric the layer metric should move and on which workload
(``moves``). A layer that does no work on a workload reports 0 there.
"""

from __future__ import annotations

# name -> (unit, better)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "first_op_cpu_s": ("s", "lower"),
    "op_cpu_s": ("s", "lower"),
    "rows_per_cpu_s": ("1/s", "higher"),
    "py_peak_rss_mb": ("MB", "lower"),
}

# The declared workloads. The image-tree layers are measured by the
# traced convert_tabular run, whose extra calls after the timed
# operations load its output back and convert a small image tree.
TAB, CUR = ("convert_tabular",), ("curate_documents",)
ALL = TAB + CUR

# Spark status store, per operation: median over the traced warm operations.
_SPARK = {
    "spark.jobs": ("count", "lower", "op_cpu_s, first_op_cpu_s", TAB + CUR),
    "spark.stages": ("count", "lower", "op_cpu_s, first_op_cpu_s", TAB + CUR),
    "spark.tasks": ("count", "lower", "op_cpu_s, first_op_cpu_s", TAB + CUR),
    "spark.executor_run_s": ("s", "lower", "rows_per_cpu_s", TAB),
    "spark.executor_cpu_s": ("s", "lower", "rows_per_cpu_s", TAB),
    "spark.input_bytes": ("B", "lower", "rows_per_cpu_s", TAB),
    "spark.jvm_gc_s": ("s", "lower", "jvm.peak_rss_mb, op_cpu_s", TAB),
    "spark.python_boot_s": ("s", "lower", "first_op_cpu_s, op_cpu_s", ALL),
    "spark.cold_python_boot_s": ("s", "lower", "first_op_cpu_s", ALL),
    "spark.python_run_s": ("s", "lower", "rows_per_cpu_s (tabular), op_cpu_s (images)", TAB),
    "spark.shuffle_write_bytes": ("B", "lower", "op_cpu_s", CUR),
    "spark.spill_bytes": ("B", "lower", "op_cpu_s", CUR),
    "spark.core_busy_frac": ("ratio", "higher", "wall op_p50_s (waiting)", TAB + CUR),
}

# Spans around calls into each layer: <span>_s (wall), <span>.jobs and
# <span>.cpu_s (jobs submitted while it was the innermost open span).
# A ``.other`` span reports self time: the wrapped call minus its
# child spans.
SPANS = {
    "sources.dispatch.to_dataframe": ("op_cpu_s", TAB),
    "sources.image_dir.list": ("op_cpu_s", TAB),
    "plans.convert.split_counts": ("op_cpu_s, rows_per_cpu_s", TAB),
    # on convert_images this span also absorbs the lazy image decode:
    # the vocabulary fit is the first action over the decoded frame
    "plans.convert.fit_vocab": ("op_cpu_s, rows_per_cpu_s", TAB),
    "plans.convert.fit_scale": ("op_cpu_s, rows_per_cpu_s", TAB),
    "plans.convert.write_splits": ("rows_per_cpu_s (tabular), op_cpu_s (images)", TAB),
    "plans.convert.write_discarded": ("guard: should not move", TAB),
    "plans.convert.artifacts": ("guard: should not move", TAB),
    "plans.convert.other": ("op_cpu_s", TAB),
    # measured by the extra calls of the traced convert_tabular run
    "sources.tfrecord.load": ("read side of the TFRecord format", TAB),
    "sources.tfrecord.materialize": ("read side of the TFRecord format", TAB),
    # the fused pair plan is lazy: its pair search runs inside
    # duplicate_clusters, whose first action materializes the pairs
    "operators.dedup.lsh_verified_pairs": ("op_cpu_s", CUR),
    "operators.dedup.duplicate_clusters": ("op_cpu_s", CUR),
    "queries.e6_curate_v2.other": ("op_cpu_s", CUR),
    "queries.e6_curate_v2.materialize": ("op_cpu_s", CUR),
}

_PROBES = {
    "functions.example_proto.encode_rows_per_s": ("1/s", "higher", "rows_per_cpu_s", TAB),
    "functions.tfrecord_io.frame_mb_per_s": ("MB/s", "higher", "rows_per_cpu_s, op_cpu_s", TAB),
    "functions.crc32c.mb_per_s": ("MB/s", "higher", "rows_per_cpu_s, op_cpu_s", TAB),
    "functions.tfrecord_io.gzip_mb_per_s": ("MB/s", "higher", "rows_per_cpu_s, op_cpu_s", TAB),
    "functions.tfrecord_io.read_mb_per_s": ("MB/s", "higher", "read side", TAB),
    "functions.example_proto.decode_records_per_s": ("1/s", "higher", "read side", TAB),
    "functions.jpeg_codec.decode_ms": ("ms", "lower", "op_cpu_s", TAB),
    "functions.png_codec.decode_ms": ("ms", "lower", "op_cpu_s", TAB),
    "functions.image_codec.encode_mb_per_s": ("MB/s", "higher", "op_cpu_s", TAB),
}

_COUNTS = {
    "sinks.tfrecord.bytes_per_record": ("B", "lower", "guard: byte-identical output", TAB),
    "sinks.tfrecord.shards": ("count", "lower", "guard: byte-identical output", TAB),
    "operators.image.good_frac": ("ratio", "higher", "equals the generator's truth", TAB),
    "operators.dedup.verified_per_candidate": ("ratio", "higher", "op_cpu_s", CUR),
    "operators.dedup.planted_recall": ("ratio", "higher", "correctness guard", CUR),
    "trace.overhead_frac": ("ratio", "lower", "traced / untraced wall op_p50_s - 1", ALL),
    "trace.traced_op_p50_s": ("s", "lower", "wall op_p50_s with tracing on", ALL),
    "trace.untraced_op_p50_s": ("s", "lower", "wall op_p50_s with tracing off", ALL),
    "session.get_spark_s": ("s", "lower", "setup_s", ALL),
    "wall.first_op_s": ("s", "lower", "first_op_cpu_s (its wall time)", ALL),
    # CPU seconds per call of each process kind (untraced warm calls) and
    # of the JVM's JIT compiler threads, which op_cpu_s leaves out
    "cpu.driver_s": ("s", "lower", "op_cpu_s", ALL),
    "cpu.jvm_s": ("s", "lower", "op_cpu_s", ALL),
    "cpu.python_s": ("s", "lower", "op_cpu_s", ALL),
    "jvm.jit_cpu_s": ("s", "lower", "guard: left out of op_cpu_s", ALL),
    "jvm.cold_jit_cpu_s": ("s", "lower", "first_op_cpu_s", ALL),
    # G1 sizes the heap adaptively, so the JVM's peak differs by up to
    # 30% between identical runs: reported here, without a bound
    "jvm.peak_rss_mb": ("MB", "lower", "memory of the JVM", ALL),
}


def _per_layer() -> dict[str, tuple[str, str, str, tuple[str, ...]]]:
    out = dict(_SPARK)
    for span, (moves, workloads) in SPANS.items():
        out[f"{span}_s"] = ("s", "lower", moves, workloads)
        out[f"{span}.jobs"] = ("count", "lower", moves, workloads)
        out[f"{span}.cpu_s"] = ("s", "lower", moves, workloads)
    out.update(_PROBES)
    out.update(_COUNTS)
    return out


# name -> (unit, better, end-to-end metric it should move, workloads)
PER_LAYER = _per_layer()
