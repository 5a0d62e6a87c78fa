"""Golden output of a small seeded tabular convert.

The pinned sha256s were produced by the encode -> mapInPandas writer
plan that preceded the single Arrow write pass; the one-pass writer must
reproduce every byte: each shard file, the vocabulary asset,
``scale_stats.json``, ``schema.json`` and the discarded rows.

The input has a TRAIN label vocabulary with frequency ties (broken by
value ascending, UTF-8 byte order), non-ASCII and astral-plane labels,
labels unseen in TRAIN (OOV -> -1) and an unknown split value that
routes to DISCARD. Shard layout depends on the session's parallelism, so
the digests hold for the ``local[4]`` test session.
"""

import glob
import hashlib
import os
from collections import OrderedDict

import numpy as np
import pandas as pd
import pytest

import tensorflow_recorder_spark.types as tt
from tensorflow_recorder_spark.plans.convert import run_convert
from tensorflow_recorder_spark.schema import Schema

SCHEMA = Schema(
    OrderedDict(
        [
            ("split", tt.SplitKey),
            ("label", tt.StringLabel),
            ("x", tt.FloatInput),
            ("n", tt.IntegerInput),
            ("note", tt.StringInput),
        ]
    )
)

# TRAIN cycles through these, so most counts tie; "b" and "é" get extra
# rows so the ranking also has distinct frequencies.
TRAIN_LABELS = ["b", "a", "é", "ß", "日本", "𝔘", "😀", "z", "Z", "ａ"]


def golden_frame(rows: int = 240) -> pd.DataFrame:
    rng = np.random.default_rng(20240611)
    split = rng.choice(
        np.array(["TRAIN", "VALIDATION", "TEST", "FOO"]),
        size=rows,
        p=[0.6, 0.17, 0.17, 0.06],
    )
    labels, k = [], 0
    for s in split:
        if s == "TRAIN":
            labels.append(TRAIN_LABELS[k % len(TRAIN_LABELS)])
            k += 1
        else:
            labels.append(str(rng.choice(TRAIN_LABELS + ["oov_ü", "🦀"])))
    for i in range(0, 40, 7):
        if split[i] == "TRAIN":
            labels[i] = "b" if i % 2 else "é"
    words = np.array(["naïve", "data", "Ωmega", "plain", "𝄞clef"])
    picks = rng.integers(0, len(words), (rows, 2))
    return pd.DataFrame(
        {
            "split": split,
            "label": labels,
            "x": np.round(rng.normal(3.0, 2.0, rows), 6),
            "n": rng.integers(-50, 1000, rows),
            "note": [f"{words[a]} {words[b]}" for a, b in picks],
        }
    )


def _sha(path: str) -> str:
    with open(path, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()


def job_digest(job_dir: str) -> dict[str, str]:
    """sha256 of every shard (by file name) and artifact, plus one over
    the sorted discarded-row CSV lines (part-file layout is not pinned)."""
    out = {}
    for path in sorted(glob.glob(os.path.join(job_dir, "*.tfrecord*"))):
        out[os.path.basename(path)] = _sha(path)
    for rel in (
        "transform_fn/assets/vocab_label_vocabulary",
        "transform_fn/scale_stats.json",
        "transformed_metadata/schema.json",
    ):
        out[rel] = _sha(os.path.join(job_dir, rel))
    lines = []
    for part in glob.glob(os.path.join(job_dir, "discarded-data", "part-*")):
        with open(part, encoding="utf-8") as fh:
            lines.extend(fh.read().splitlines()[1:])  # drop each part's header
    out["discarded-data"] = hashlib.sha256(
        "\n".join(sorted(lines)).encode("utf-8")
    ).hexdigest()
    return out


GOLDEN = {
    (0, "gzip"): {
        "test-00000-of-00004.tfrecord.gz": "faa979338e6452cd17c077660bead3d877684180e56a00c92b855878e1d183a8",
        "test-00001-of-00004.tfrecord.gz": "7d9d09d9b7b97fc4aee5620cf83e69541f6f18d680e302ca4b2b5156aed4f042",
        "test-00002-of-00004.tfrecord.gz": "f714848bfb0a37889f77309857d5ad8e395399f106cb6060de79a7983263047b",
        "test-00003-of-00004.tfrecord.gz": "1f0acb53dfd7d8fd794d75542aff131ba8a74a07c280f3e966a52b9dd2ded085",
        "train-00000-of-00004.tfrecord.gz": "c59c8816fa634a898ba21cb2a19e3e3597fb555288f366ce414b9c37e3839e17",
        "train-00001-of-00004.tfrecord.gz": "cd7e9cfe67a6763bcf22ebdde92a7a4a5f799613ec0f6cd6f3a5a3a47ef986ed",
        "train-00002-of-00004.tfrecord.gz": "8881a011d1edce51704bf0c288b545a20f102904dbb26cbe40ad5932c1c415be",
        "train-00003-of-00004.tfrecord.gz": "b63b7d8eb6327bc501fe35681acaf3427631dc614fea335d8252e0d827291bad",
        "validation-00000-of-00004.tfrecord.gz": "32219e4e5d568045928c34ea86875fb729de3679311de23d036f7f5803b634d8",
        "validation-00001-of-00004.tfrecord.gz": "a452fb6dab8c50e408426a3b99eef358ceaea7a5be20662e849f4ae2a12d5ecc",
        "validation-00002-of-00004.tfrecord.gz": "cbaf54416f0a8671659f69c3208c6c2a9ca3d63ac87b1af3bdb6ef0bc97de992",
        "validation-00003-of-00004.tfrecord.gz": "12aba507f76c2ca548691bed3897ae192f6dc7c8551ae2859189ddf0731bca52",
        "transform_fn/assets/vocab_label_vocabulary": "660912efc4cf66702d2feaa7bf143cd8a802ae44178b2926e3b6de607b463230",
        "transform_fn/scale_stats.json": "8df5832f93e58c629410cec23aa105766c8caebda1f8ea66b68605a14868382c",
        "transformed_metadata/schema.json": "681275401b3e297bfd07770b2b488bf41e1bad386697489ee9aed6f6fe2f342f",
        "discarded-data": "12faf84c59bc56ab086ddd22f2ef07cfa1d09bd22e3efa10d9f15104d476b3c3",
    },
    (2, "gzip"): {
        "test-00000-of-00002.tfrecord.gz": "3d198b9287ef48e608cdefea4dcf740bdf63900974b9203344f72b4fef5132ae",
        "test-00001-of-00002.tfrecord.gz": "44a778f354ed9267384d25b6eef8a1609840c4acbea6e3d2ec0995865d1b982d",
        "train-00000-of-00002.tfrecord.gz": "25481753578740350a6c38258e06b550fef3c537733094f206b0509f979763e9",
        "train-00001-of-00002.tfrecord.gz": "c0accc9e68c96676d9aa43a3a63e9ff8b8cc74ee4571f01570306320b5d65a40",
        "validation-00000-of-00002.tfrecord.gz": "089677ffe48fe024d8875c61384867b8641a9a05de7d385f042c483190ad6411",
        "validation-00001-of-00002.tfrecord.gz": "c9dc4658ad5ba93bc640dfa3d3f1efe1d19dd6a514489ab2786ad81f165d4969",
        "transform_fn/assets/vocab_label_vocabulary": "660912efc4cf66702d2feaa7bf143cd8a802ae44178b2926e3b6de607b463230",
        "transform_fn/scale_stats.json": "8df5832f93e58c629410cec23aa105766c8caebda1f8ea66b68605a14868382c",
        "transformed_metadata/schema.json": "681275401b3e297bfd07770b2b488bf41e1bad386697489ee9aed6f6fe2f342f",
        "discarded-data": "12faf84c59bc56ab086ddd22f2ef07cfa1d09bd22e3efa10d9f15104d476b3c3",
    },
    (0, "zlib"): {
        "test-00000-of-00004.tfrecord.zlib": "a9be3dd3440d9fbb2c172e643157072960d72d5bd3c25bea58c534c1d77a5523",
        "test-00001-of-00004.tfrecord.zlib": "1aa0e26a0031488a66c9441999bd4a770a1cfd4d8f515cc3de116d135f38e0de",
        "test-00002-of-00004.tfrecord.zlib": "a5001ec3bd5fec993c5cbc47d2ecb662c7ed7ca3e7b0e0370d848cfae033d44a",
        "test-00003-of-00004.tfrecord.zlib": "5911ab1b384dd726296425c5487cc3ceda87ccfcc20c49fa38a079c1d7d3ad11",
        "train-00000-of-00004.tfrecord.zlib": "cc18675cda23b97304b45121363eedf97e74f78ea88fb7c06847aeb874572195",
        "train-00001-of-00004.tfrecord.zlib": "a0e47be7e4d75425f55d3f9bc3db3e87ad8f628ae021ae6ff23771b508d37963",
        "train-00002-of-00004.tfrecord.zlib": "3e59080ee5172088622b0f2dea944bf83728cb98c122c676f63735c8ea8c8a6f",
        "train-00003-of-00004.tfrecord.zlib": "7b60c2f6bf0423037c90d8508eddd48e050aa85801a472c2d3c353220c66fff5",
        "validation-00000-of-00004.tfrecord.zlib": "629b3c33bc55d7d145fa2d9975c42d6ed3d8603594fe91a0658d41eb2537a1fa",
        "validation-00001-of-00004.tfrecord.zlib": "679194490a2a54d4427549a590649ea24553f788558619678da06a2adbc2c28d",
        "validation-00002-of-00004.tfrecord.zlib": "81dfcb2f6bdf61e420d62d5519488ad8fce0add4140dcc9980cb6adebf2883da",
        "validation-00003-of-00004.tfrecord.zlib": "f56db25f8ab308289efc219a795f262bdd8f342c0af27906f676abb9882639d2",
        "transform_fn/assets/vocab_label_vocabulary": "660912efc4cf66702d2feaa7bf143cd8a802ae44178b2926e3b6de607b463230",
        "transform_fn/scale_stats.json": "8df5832f93e58c629410cec23aa105766c8caebda1f8ea66b68605a14868382c",
        "transformed_metadata/schema.json": "681275401b3e297bfd07770b2b488bf41e1bad386697489ee9aed6f6fe2f342f",
        "discarded-data": "12faf84c59bc56ab086ddd22f2ef07cfa1d09bd22e3efa10d9f15104d476b3c3",
    },
}


@pytest.mark.parametrize(
    "num_shards,compression", [(0, "gzip"), (2, "gzip"), (0, "zlib")]
)
def test_convert_output_matches_golden(spark, tmp_path, num_shards, compression):
    assert spark.sparkContext.defaultParallelism == 4
    df = spark.createDataFrame(golden_frame())
    result = run_convert(
        spark,
        df,
        SCHEMA,
        str(tmp_path),
        compression=compression,
        num_shards=num_shards,
        scale_numeric=True,
    )
    assert job_digest(result.tfrecord_dir) == GOLDEN[(num_shards, compression)]
