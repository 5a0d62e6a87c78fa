"""The benchmark's own tests.

    python3 -m pytest perfbench -q

The smoke tests run every declared workload at the tiny size in a
subprocess, traced, and check the printed result against the metrics
``BENCHMARK.json`` declares.
"""

from __future__ import annotations

import filecmp
import gzip
import json
import os
import re
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "scripts")]

import checks  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    BENCH = json.load(_fh)
DECLARED = [w["name"] for w in BENCH["workloads"]]


# ------------------------------------------------------------ generators


@pytest.mark.parametrize(
    "write, size",
    [(gen.write_tabular, 500), (gen.write_images, 12), (gen.write_documents, 200)],
)
def test_generators_are_deterministic(tmp_path, write, size):
    dirs = [tmp_path / d for d in ("a", "b", "c")]
    for d in dirs:
        d.mkdir()
    _, truth_a = write(7, size, str(dirs[0]))
    _, truth_b = write(7, size, str(dirs[1]))
    write(8, size, str(dirs[2]))
    assert truth_a == truth_b
    assert not _tree_diff(dirs[0], dirs[1])
    assert _tree_diff(dirs[0], dirs[2])


def _tree_diff(a, b) -> bool:
    cmp = filecmp.dircmp(a, b)
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return bool(
        cmp.left_only or cmp.right_only or mismatch or errors
        or any(_tree_diff(a / d, b / d) for d in cmp.common_dirs)
    )


def test_generators_state_their_shares(tmp_path):
    _, tab = gen.write_tabular(3, 20_000, str(tmp_path))
    assert 0.005 < tab["unknown_split_frac"] < 0.015
    assert 0.01 < tab["oov_frac_outside_train"] < 0.05
    _, img = gen.write_images(3, 100, str(tmp_path))
    assert img["bad"] == 1 and img["png_frac"] == 0.5
    _, docs = gen.write_documents(3, 1000, str(tmp_path))
    for share in ("exact_dup_frac", "near_dup_frac", "low_quality_frac"):
        assert 0.02 < docs[share] < 0.08
    assert all(docs["planted"].values())


# ----------------------------------------------------------------- checks


def test_crc_agrees_with_the_engine():
    from tensorflow_recorder_spark.functions.crc32c import masked_crc32c

    rng = np.random.default_rng(0)
    blobs = [rng.bytes(int(n)) for n in rng.integers(0, 300, 50)]
    assert list(checks.masked_crc32c(blobs)) == [masked_crc32c(b) for b in blobs]


def test_job_dir_check_counts_only_shards_and_catches_bad_crc(tmp_path):
    from tensorflow_recorder_spark.functions.tfrecord_io import records_to_bytes

    records = [f"record {i}".encode() for i in range(20)]
    good = records_to_bytes(records, compress=True)
    (tmp_path / "train-00000-of-00001.tfrecord.gz").write_bytes(good)
    (tmp_path / "tfrecorder-spark.log").write_text("a log line\n" * 100)
    summary = checks.read_job_dir(str(tmp_path))
    assert summary.records == {"TRAIN": 20}
    assert summary.bad_crc == 0
    assert summary.shard_bytes == len(good)

    raw = bytearray(gzip.decompress(good))
    raw[20] ^= 0xFF  # inside the first payload
    (tmp_path / "train-00000-of-00001.tfrecord.gz").write_bytes(gzip.compress(bytes(raw)))
    assert checks.read_job_dir(str(tmp_path)).bad_crc == 1


def test_payload_digest_ignores_order_and_sharding(tmp_path):
    from tensorflow_recorder_spark.functions.tfrecord_io import records_to_bytes

    records = [f"r{i}".encode() for i in range(10)]
    one, two = tmp_path / "one", tmp_path / "two"
    one.mkdir()
    two.mkdir()
    (one / "test-00000-of-00001.tfrecord").write_bytes(records_to_bytes(records))
    (two / "test-00000-of-00002.tfrecord").write_bytes(records_to_bytes(records[7:]))
    (two / "test-00001-of-00002.tfrecord").write_bytes(records_to_bytes(records[:7][::-1]))
    assert checks.read_job_dir(str(one)).digest == checks.read_job_dir(str(two)).digest


# ---------------------------------------------------------------- metrics


def test_metric_names_and_units_are_well_formed():
    entries = BENCH["end_to_end"] + BENCH["per_layer"]
    names = [m["name"] for m in entries] + [w["name"] for w in BENCH["workloads"]]
    assert len(names) == len(set(names))
    for name in names:
        assert NAME.match(name), name
    for m in entries:
        assert UNIT.match(m["unit"]), m
        assert m["better"] in ("lower", "higher")


def test_benchmark_json_matches_the_declared_metrics():
    assert {m["name"]: (m["unit"], m["better"]) for m in BENCH["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in BENCH["per_layer"]} == {
        name: (unit, better) for name, (unit, better, _, _) in metrics.PER_LAYER.items()
    }
    assert all(0 < m["bound"] <= 0.25 for m in BENCH["end_to_end"])
    setup = max(BENCH["end_to_end"], key=lambda m: m["bound"])
    assert setup["name"] == "setup_s"
    for w in BENCH["workloads"]:
        assert w["why"] == WORKLOADS[w["name"]].why
    for name, (_, _, _, workloads) in metrics.PER_LAYER.items():
        assert set(workloads) <= set(DECLARED), name


# ------------------------------------------------------------------ smoke


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    cmd = BENCH["command"] + [
        "--workload", workload, "--seed", "5", "--seconds", "1",
        "--trace", str(trace), "--size", "tiny",
    ]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    record_path = os.path.join(ROOT, ".perfbench", "logs", f"{workload}-seed5-trace{trace}.json")
    with open(record_path) as fh:
        record = json.load(fh)
    # one "<name> <value> <unit>" line per metric before the JSON line
    printed = {line.split()[0] for line in lines[:-1]}
    assert set(result["metrics"]) <= printed
    return result, record


def _must_be_measured(name: str) -> bool:
    """Metrics that are above zero wherever their layer does work
    (byte and spill counts may be legitimately zero at the tiny size)."""
    if name == "spark.jvm_gc_s":
        return False
    return name.endswith("_s") or name.endswith("_ms") or (
        name in ("spark.jobs", "spark.tasks", "sinks.tfrecord.shards",
                 "sinks.tfrecord.bytes_per_record", "operators.image.good_frac",
                 "operators.dedup.planted_recall")
    )


@pytest.mark.parametrize("workload", DECLARED)
def test_traced_smoke_run_reports_every_declared_metric(workload):
    result, record = _run(workload, trace=1)
    assert result["correct"], record.get("problems")
    assert result["failed"] == 0 and result["attempted"] >= 5
    per_layer = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == per_layer
    for name, (_, _, _, workloads) in metrics.PER_LAYER.items():
        if workload in workloads and _must_be_measured(name) and not name.endswith(".cpu_s"):
            assert result["metrics"][name]["value"] > 0, name
    assert set(record["end_to_end"]) == set(metrics.END_TO_END)
    assert all(v > 0 for v in record["end_to_end"].values())


def test_untimed_smoke_run_reports_end_to_end_metrics():
    result, _ = _run(DECLARED[0], trace=0)
    assert result["correct"] and result["failed"] == 0
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in BENCH["end_to_end"]
    }
    assert all(v["value"] > 0 for v in result["metrics"].values())


def test_exits_nonzero_without_the_engine(tmp_path):
    """In a directory holding only the benchmark, the run fails fast
    and prints no result."""
    import shutil

    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    cmd = BENCH["command"] + ["--workload", DECLARED[0], "--seed", "1",
                              "--seconds", "1", "--trace", "0"]
    out = subprocess.run(cmd, cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert out.returncode != 0
    assert '"correct"' not in out.stdout
