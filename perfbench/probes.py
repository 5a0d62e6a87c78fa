"""Kernel probes: single-thread calls into the engine's hot functions,
made in the driver on fixed-size samples drawn with the run's seed by
the same generators that make the workload inputs.

Each probe repeats its call until it has run for at least
``min_seconds`` and reports a rate (or a per-call time).
"""

from __future__ import annotations

import os
import time

import gen

PROBE_ROWS = 2_000
PROBE_IMAGES = 8


def _repeat(fn, min_seconds: float) -> float:
    """Seconds per call of ``fn``, averaged over enough calls to run
    for ``min_seconds``."""
    fn()
    calls, start = 0, time.perf_counter()
    while True:
        fn()
        calls += 1
        elapsed = time.perf_counter() - start
        if elapsed >= min_seconds:
            return elapsed / calls


def _tabular_batch(seed: int):
    """The probe sample as the encoder sees it after convert's
    transforms: label integerized, numeric columns as doubles."""
    import pyarrow as pa

    pdf, _ = gen.tabular_frame(seed, PROBE_ROWS)
    pdf["label"] = pdf["label"].astype("category").cat.codes.astype("int64")
    pdf["n_items"] = pdf["n_items"].astype("float64")
    kinds = {c: "float" for c in pdf.columns}
    kinds.update(split="bytes", note="bytes", label="int64")
    columns = sorted(kinds)
    return kinds, [pa.array(pdf[c]) for c in columns]


def run_probes(seed: int, work_dir: str, min_seconds: float = 0.2) -> dict[str, float]:
    from tensorflow_recorder_spark.functions import example_proto, tfrecord_io
    from tensorflow_recorder_spark.functions.crc32c import masked_crc32c_many
    from tensorflow_recorder_spark.functions.image_codec import encode_pixels
    from tensorflow_recorder_spark.functions.jpeg_codec import decode_jpeg
    from tensorflow_recorder_spark.functions.png_codec import decode_png

    out: dict[str, float] = {}
    kinds, arrays = _tabular_batch(seed)
    encoder = example_proto.build_batch_encoder(kinds)
    out["functions.example_proto.encode_rows_per_s"] = PROBE_ROWS / _repeat(
        lambda: encoder(arrays), min_seconds
    )
    records = list(encoder(arrays))
    framed = tfrecord_io.frame_records(records)
    mb = len(framed) / 1e6
    payload_mb = sum(map(len, records)) / 1e6
    out["functions.tfrecord_io.frame_mb_per_s"] = mb / _repeat(
        lambda: tfrecord_io.frame_records(records), min_seconds
    )
    out["functions.crc32c.mb_per_s"] = payload_mb / _repeat(
        lambda: masked_crc32c_many(records), min_seconds
    )
    path = os.path.join(work_dir, "probe.tfrecord.gz")

    def write_gzip():
        with tfrecord_io.open_output(path, "gzip") as fh:
            fh.write(framed)

    out["functions.tfrecord_io.gzip_mb_per_s"] = mb / _repeat(write_gzip, min_seconds)
    out["functions.tfrecord_io.read_mb_per_s"] = mb / _repeat(
        lambda: sum(1 for _ in tfrecord_io.read_file_records(path)), min_seconds
    )
    out["functions.example_proto.decode_records_per_s"] = len(records) / _repeat(
        lambda: [example_proto.decode_example(r) for r in records], min_seconds
    )
    os.remove(path)

    pngs, jpegs = [], []
    for _, _, name, data, ok in gen.image_files(seed, 4 * PROBE_IMAGES):
        if ok:
            (pngs if name.endswith(".png") else jpegs).append(data)
    pngs, jpegs = pngs[:PROBE_IMAGES], jpegs[:PROBE_IMAGES]
    out["functions.png_codec.decode_ms"] = 1e3 * _repeat(
        lambda: [decode_png(d) for d in pngs], min_seconds
    ) / len(pngs)
    out["functions.jpeg_codec.decode_ms"] = 1e3 * _repeat(
        lambda: [decode_jpeg(d) for d in jpegs], min_seconds
    ) / len(jpegs)
    pixels = [decode_png(d)[0] for d in pngs]
    pixel_mb = sum(map(len, pixels)) / 1e6
    out["functions.image_codec.encode_mb_per_s"] = pixel_mb / _repeat(
        lambda: [encode_pixels(p) for p in pixels], min_seconds
    )
    return out
