"""Plan-level contracts of ``run_convert``: how many Spark jobs one call
runs, the shape of its write plan, the job descriptions of its phases,
and that failures before the write leave nothing behind (no persisted
frame, no job dir, no job)."""

import os
import re

import pandas as pd
import pytest

import tensorflow_recorder_spark as trs
from tensorflow_recorder_spark.plans.convert import run_convert

from test_convert_golden import SCHEMA, golden_frame

_PYTHON_NODE = re.compile(r"Python|Pandas|InArrow")


def _persistent_rdds(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _node_names(tree: str) -> list[str]:
    names = []
    for line in tree.splitlines():
        m = re.match(r"[\s:+|-]*(?:\*\(\d+\)\s*)?([A-Za-z]\w*)", line)
        if m and not line.lstrip().startswith("+- =="):
            names.append(m.group(1))
    return names


def test_no_train_convert_raises_and_releases_cache(spark, tmp_path):
    pdf = golden_frame()
    pdf = pdf[pdf["split"] != "TRAIN"]
    before = _persistent_rdds(spark)
    with pytest.raises(AttributeError, match="TRAIN"):
        run_convert(spark, spark.createDataFrame(pdf), SCHEMA, str(tmp_path))
    assert _persistent_rdds(spark) == before
    assert os.listdir(tmp_path) == []


def test_unsupported_compression_rejected_before_any_job(spark, tmp_path):
    df = spark.createDataFrame(golden_frame())
    sc = spark.sparkContext
    sc.setJobGroup("convert-lz4", "unsupported compression")
    try:
        with pytest.raises(ValueError, match="lz4"):
            run_convert(spark, df, SCHEMA, str(tmp_path), compression="lz4")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
    assert list(sc.statusTracker().getJobIdsForGroup("convert-lz4")) == []
    assert os.listdir(tmp_path) == []


def test_convert_jobs_plan_and_phase_descriptions(spark, tmp_path, monkeypatch):
    csv = tmp_path / "in.csv"
    golden_frame().to_csv(csv, index=False)
    plans = []
    frame_type = type(spark.range(1))
    collect = frame_type.collect

    def recording_collect(self):
        rows = collect(self)
        plan = self._jdf.queryExecution().executedPlan()
        if plan.nodeName() == "AdaptiveSparkPlan":
            plan = plan.executedPlan()
        plans.append(plan.treeString())
        return rows

    monkeypatch.setattr(frame_type, "collect", recording_collect)
    sc = spark.sparkContext
    sc.setJobGroup("convert-plan", "caller description")
    try:
        trs.convert(
            str(csv), output_dir=str(tmp_path / "out"), schema=SCHEMA,
            spark=spark, scale_numeric=True,
        )
        # the phases restore the caller's description
        assert sc.getLocalProperty("spark.job.description") == "caller description"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)

    # 20 jobs when every action re-derived the vocabulary fit
    job_ids = set(sc.statusTracker().getJobIdsForGroup("convert-plan"))
    assert 0 < len(job_ids) <= 11, sorted(job_ids)

    # the write is one Python node: encode, frame, compress and write in
    # one mapInArrow; no Examples cross back into the JVM
    write_plans = [p for p in plans if "MapInArrow" in p]
    assert len(write_plans) == 1
    names = _node_names(write_plans[0])
    assert [n for n in names if _PYTHON_NODE.search(n)] == ["MapInArrow"], names
    assert "MapInPandas" not in names

    jobs = spark._jsc.sc().statusStore().jobsList(None)
    descriptions = set()
    for i in range(jobs.size()):
        job = jobs.apply(i)
        if job.jobId() in job_ids and job.description().isDefined():
            descriptions.add(job.description().get())
    assert {
        "convert: fit", "convert: vocabulary", "convert: write", "convert: discard"
    } <= descriptions


def test_image_convert_counts_input_splits(spark, tmp_images, tmp_path):
    """The image path's histogram counts INPUT splits (V8: a split that
    image failures empty still gets its shard) and its good/bad counters
    come from the same fit aggregate."""
    pdf = pd.DataFrame(
        {
            "split": ["TRAIN", "TRAIN", "VALIDATION", "TEST", "FOO"],
            "image_uri": [*tmp_images[:2], "/no/such/file.png", *tmp_images[2:4]],
            "label": ["cat", "dog", "cat", "dog", "cat"],
        }
    )
    result = trs.convert(pdf, output_dir=str(tmp_path), spark=spark)
    assert result["metrics"] == {"rows": 5, "good_images": 4, "bad_images": 1}
    files = sorted(os.listdir(result["tfrecord_dir"]))
    assert "validation-00000-of-00001.tfrecord.gz" in files
