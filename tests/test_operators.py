"""Core operator tests: split routing (P1/A1), vocabulary (A2/A3),
scaling (A4), image extraction (T3/P2)."""

import pytest
from pyspark.sql import Row, functions as F

from tensorflow_recorder_spark.constants import DISCARD
from tensorflow_recorder_spark.operators.image import extract_images
from tensorflow_recorder_spark.operators.scale import fit_and_apply_scale
from tensorflow_recorder_spark.operators.split import (
    normalize_split,
    require_train,
    split_counts,
)
from tensorflow_recorder_spark.operators.vocabulary import (
    apply_vocabulary,
    fit_vocabulary,
)


def test_normalize_split_unknown_and_null_to_discard(spark):
    df = spark.createDataFrame(
        [("TRAIN",), ("VALIDATION",), ("TEST",), ("DISCARD",), ("FOO",), (None,)],
        "split string",
    )
    got = {r["split"] for r in normalize_split(df).collect()}
    assert got == {"TRAIN", "VALIDATION", "TEST", "DISCARD"}
    n_discard = normalize_split(df).where(F.col("split") == DISCARD).count()
    assert n_discard == 3  # DISCARD + FOO + NULL


def test_split_counts_and_require_train(spark):
    df = spark.createDataFrame([("TRAIN",), ("TRAIN",), ("TEST",)], "split string")
    counts = split_counts(df)
    assert counts == {"TRAIN": 2, "TEST": 1}
    require_train(counts)
    with pytest.raises(AttributeError):
        require_train({"TEST": 1})


def test_vocabulary_freq_desc_with_value_tiebreak(spark):
    train = spark.createDataFrame(
        [("b",), ("b",), ("c",), ("c",), ("a",)], "label string"
    )
    vocab = {r["value"]: r["index"] for r in fit_vocabulary(train, "label").collect()}
    # b and c tie at 2 -> value asc: b=0, c=1; a (freq 1) = 2
    assert vocab == {"b": 0, "c": 1, "a": 2}


def test_vocabulary_values_match_windowed_fit(spark):
    """The driver-side ranking must equal Spark's ``count DESC, value
    ASC`` window: ties among ASCII case variants, BMP, astral-plane and
    fullwidth values (Spark compares UTF-8 bytes), and NULLs excluded."""
    from tensorflow_recorder_spark.operators.vocabulary import (
        vocabulary_frame,
        vocabulary_values,
    )

    values = ["b", "B", "é", "ｂ", "𝔘", "😀", "日本", "a", None]
    rows = [(v,) for i, v in enumerate(values) for _ in range(1 + i % 3)]
    train = spark.createDataFrame(rows, "label string")
    windowed = [
        r["value"] for r in fit_vocabulary(train, "label").orderBy("index").collect()
    ]
    assert vocabulary_values(train, "label") == windowed
    frame = vocabulary_frame(spark, windowed)
    assert [(r["value"], r["index"]) for r in frame.collect()] == [
        (v, i) for i, v in enumerate(windowed)
    ]


def test_fit_vocabulary_large_matches_windowed_fit(spark):
    """The two-phase token-scale fit must produce the EXACT windowed
    ranking — contiguous indices, freq desc, value-asc tiebreak — on
    real token data spanning many range partitions."""
    from tensorflow_recorder_spark.operators.vocabulary import fit_vocabulary_large
    from pyspark.sql import functions as F

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    toks = docs.select(
        F.explode(F.split(F.lower("text"), r"\s+")).alias("tok")
    ).where(F.col("tok") != "")
    small = {(r["value"], r["index"]) for r in fit_vocabulary(toks, "tok").collect()}
    large = {
        (r["value"], r["index"])
        for r in fit_vocabulary_large(toks, "tok", num_partitions=8).collect()
    }
    assert small == large and len(small) > 20


def test_fit_vocabulary_large_plan_has_no_unpartitioned_window(spark):
    """The token-scale fit must never sort the vocabulary through one
    task: its only window is partitioned by the physical range id
    (distributed_global_rank), so an UNPARTITIONED window spec in the
    plan is a regression."""
    from tensorflow_recorder_spark.operators.vocabulary import fit_vocabulary_large
    from pyspark.sql import functions as F

    from test_plan_windows import _unpartitioned_windows

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    toks = docs.select(
        F.explode(F.split(F.lower("text"), r"\s+")).alias("tok")
    ).where(F.col("tok") != "")
    assert _unpartitioned_windows(fit_vocabulary_large(toks, "tok")) == []


def test_apply_vocabulary_oov_minus_one(spark):
    train = spark.createDataFrame([("cat",), ("cat",), ("goat",)], "label string")
    vocab = fit_vocabulary(train, "label")
    df = spark.createDataFrame([("cat",), ("goat",), ("emu",), (None,)], "label string")
    got = [r["label"] for r in apply_vocabulary(df, "label", vocab).collect()]
    assert sorted(got, key=str) == sorted([0, 1, -1, -1], key=str)


def test_zscore_fit_on_train_only(spark):
    df = spark.createDataFrame(
        [("TRAIN", 1.0), ("TRAIN", 2.0), ("TRAIN", 3.0), ("TEST", 4.0)],
        "split string, x double",
    )
    scaled, stats = fit_and_apply_scale(df, ["x"])
    mean, std = stats["x"]
    assert mean == 2.0
    rows = {r["split"]: r["x"] for r in scaled.collect() if r["split"] == "TEST"}
    # TEST row scaled with TRAIN stats: (4-2)/sqrt(2/3)
    assert abs(rows["TEST"] - (4.0 - 2.0) / std) < 1e-9


def test_zscore_zero_variance_to_zero(spark):
    df = spark.createDataFrame([("TRAIN", 5.0), ("TRAIN", 5.0)], "split string, x double")
    scaled, _ = fit_and_apply_scale(df, ["x"])
    assert all(r["x"] == 0.0 for r in scaled.collect())


def test_extract_images_good_and_bad(spark, tmp_images):
    df = spark.createDataFrame(
        [
            Row(split="TRAIN", image_uri=tmp_images[0], label="cat"),
            Row(split="TRAIN", image_uri="/nonexistent/x.png", label="goat"),
        ]
    )
    out = extract_images(df, "image_uri").collect()
    by_label = {r["label"]: r for r in out}
    good = by_label["cat"]
    assert good["split"] == "TRAIN"
    assert good["__image_ok"] is True
    assert good["image_name"] == "img0.dat"
    assert good["image_height"] == 4 and good["image_width"] == 4
    assert good["image_channels"] == 3
    assert good["image"]  # base64 pixels present
    bad = by_label["goat"]
    # Reference: any failure -> split rewritten to DISCARD
    # (beam_image.py:112-116).
    assert bad["split"] == DISCARD
    assert bad["__image_ok"] is False
    assert bad["image"] is None


def test_derive_split_deterministic_and_stable(spark):
    from tensorflow_recorder_spark.operators.split import derive_split

    df = spark.createDataFrame([(i,) for i in range(1000)], "k long")
    a = {r["k"]: r["split"] for r in derive_split(df, "k").collect()}
    b = {r["k"]: r["split"] for r in derive_split(df, "k").collect()}
    assert a == b  # reproducible
    # appending rows never changes existing assignments
    bigger = spark.createDataFrame([(i,) for i in range(2000)], "k long")
    c = {r["k"]: r["split"] for r in derive_split(bigger, "k").collect()}
    assert all(c[k] == v for k, v in a.items())
    # ratios roughly honored
    from collections import Counter
    counts = Counter(a.values())
    assert 700 < counts["TRAIN"] < 900
    assert 50 < counts["VALIDATION"] < 160
    # a different salt re-deals
    d = {r["k"]: r["split"] for r in derive_split(df, "k", salt="v2").collect()}
    assert d != a


def test_salted_topk_matches_plain_window(spark):
    from pyspark.sql import Window

    from tensorflow_recorder_spark.operators.skew import salted_topk_per_key

    rows = [(i % 3, i, float((i * 37) % 100)) for i in range(300)]
    df = spark.createDataFrame(rows, "grp long, id long, score double")
    order = [F.desc("score"), F.asc("id")]
    salted = salted_topk_per_key(df, ["grp"], order, k=5, salt_on="id")
    w = Window.partitionBy("grp").orderBy(*order)
    plain = (
        df.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= 5)
    )
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))


def test_vocabulary_topk_truncates_to_oov(spark):
    from tensorflow_recorder_spark.operators.vocabulary import (
        apply_vocabulary,
        fit_vocabulary,
    )

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(["a"] * 5 + ["b"] * 3 + ["c"] * 2 + ["d"])],
        "id long, lab string",
    )
    vocab = fit_vocabulary(df, "lab", top_k=2)
    assert {(r["value"], r["index"]) for r in vocab.collect()} == {("a", 0), ("b", 1)}
    out = {r["id"]: r["lab"] for r in apply_vocabulary(df, "lab", vocab).collect()}
    assert out[0] == 0 and out[5] == 1
    assert out[8] == -1 and out[10] == -1  # c, d truncated -> OOV


def test_l2_normalize_unit_and_zero(spark):
    import math

    from tensorflow_recorder_spark.operators.similarity import l2_normalize

    df = spark.createDataFrame(
        [(1, [3.0, 4.0]), (2, [0.0, 0.0])], "vec_id long, embedding array<float>"
    )
    got = {r["vec_id"]: r["embedding"] for r in l2_normalize(df).collect()}
    assert got[1] == [pytest.approx(0.6), pytest.approx(0.8)]
    assert got[2] is None
