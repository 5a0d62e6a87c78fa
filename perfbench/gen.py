"""Seeded input generators for the benchmark workloads.

Every generator takes the seed as an argument, writes its input under
the directory it is given and returns a ``truth`` dict: the input
properties the output checks compare against (row counts, per-split
histograms, shares of unknown splits, out-of-vocabulary labels, corrupt
images, duplicates, ...). The same seed gives the same bytes.
"""

from __future__ import annotations

import os
from collections import Counter

import numpy as np
import pandas as pd

SPLITS = ("TRAIN", "VALIDATION", "TEST")
UNKNOWN_SPLIT = "FOO"

# ------------------------------------------------------------- tabular

TABULAR_COLUMNS = ("split", "label", "x1", "x2", "x3", "x4", "n_items", "note")
_NOTE_WORDS = (
    "red green blue fast slow small large north south east west old new "
    "bright dark quiet loud warm cold"
).split()
N_LABELS = 200


def tabular_frame(seed: int, rows: int) -> tuple[pd.DataFrame, dict]:
    """``rows`` rows of 8 columns: split shares 69/15/15 plus 1% unknown
    (routes to DISCARD), one Zipf-skewed string label over ~200 values
    with out-of-vocabulary values outside TRAIN, four z-scored floats,
    one integer and a short free-text column."""
    rng = np.random.default_rng([seed, 1])
    split = rng.choice(
        np.array(SPLITS + (UNKNOWN_SPLIT,)), size=rows, p=[0.69, 0.15, 0.15, 0.01]
    )
    ranks = np.arange(1, N_LABELS + 1)
    zipf = 1.0 / ranks**1.1
    label = np.char.add("lbl_", np.char.zfill(
        rng.choice(ranks, size=rows, p=zipf / zipf.sum()).astype(str), 3
    ))
    # 3% of non-TRAIN rows carry a label TRAIN never sees -> OOV index
    oov = (split != "TRAIN") & (rng.random(rows) < 0.03)
    label = np.where(
        oov, np.char.add("oov_", rng.integers(0, 20, rows).astype(str)), label
    )
    cols = {"split": split, "label": label}
    for i, (mu, sigma) in enumerate(((0.0, 1.0), (5.0, 2.0), (-3.0, 0.5), (100.0, 30.0))):
        cols[f"x{i + 1}"] = np.round(rng.normal(mu, sigma, rows), 6)
    cols["n_items"] = rng.integers(0, 1000, rows)
    words = np.array(_NOTE_WORDS)
    picks = rng.integers(0, len(words), (rows, 3))
    cols["note"] = np.char.add(
        np.char.add(np.char.add(words[picks[:, 0]], " "), words[picks[:, 1]]),
        np.char.add(" ", words[picks[:, 2]]),
    )
    pdf = pd.DataFrame(cols, columns=list(TABULAR_COLUMNS))
    train_labels = set(pdf.loc[pdf["split"] == "TRAIN", "label"])
    hist = Counter(pdf["split"])
    outside = pdf["split"] != "TRAIN"
    truth = {
        "rows": rows,
        "split_hist": {s: int(hist.get(s, 0)) for s in SPLITS},
        "unknown_split_frac": hist.get(UNKNOWN_SPLIT, 0) / rows,
        "oov_frac_outside_train": float(
            (~pdf.loc[outside, "label"].isin(train_labels)).mean()
        ),
        "distinct_labels": int(pdf["label"].nunique()),
    }
    return pdf, truth


def write_tabular(seed: int, rows: int, out_dir: str) -> tuple[str, dict]:
    pdf, truth = tabular_frame(seed, rows)
    path = os.path.join(out_dir, "tabular.csv")
    pdf.to_csv(path, index=False)
    truth["bytes"] = os.path.getsize(path)
    return path, truth


# -------------------------------------------------------------- images

IMAGE_LABELS = ("cat", "dog", "bird", "fish", "frog", "horse")
IMAGE_SIDE = 64


def _pixels(rng: np.random.Generator, side: int) -> bytes:
    """A smooth colour gradient with mild noise: compresses like a
    photo rather than like white noise."""
    y, x = np.mgrid[0:side, 0:side].astype(np.float64)
    base = rng.uniform(0, 255, 3)
    slope = rng.uniform(-2, 2, (3, 2))
    planes = [
        base[c] + slope[c, 0] * x + slope[c, 1] * y + rng.normal(0, 6, (side, side))
        for c in range(3)
    ]
    return np.clip(np.stack(planes, -1), 0, 255).astype(np.uint8).tobytes()


def image_files(seed: int, count: int, side: int = IMAGE_SIDE):
    """Yield (split, label, name, file_bytes, good) for ``count``
    images: half PNG, half baseline JPEG, 1% (at least one) truncated
    and so corrupt."""
    from tensorflow_recorder_spark.functions.jpeg_codec import encode_jpeg
    from tensorflow_recorder_spark.functions.png_codec import encode_png

    rng = np.random.default_rng([seed, 2])
    splits = rng.choice(np.array(SPLITS), size=count, p=[0.7, 0.15, 0.15])
    labels = rng.choice(np.array(IMAGE_LABELS), size=count)
    corrupt = np.zeros(count, dtype=bool)
    corrupt[rng.choice(count, max(1, round(count * 0.01)), replace=False)] = True
    for i in range(count):
        pixels = _pixels(rng, side)
        if i % 2:
            data, ext = encode_jpeg(pixels, side, side, "RGB"), "jpg"
        else:
            data, ext = encode_png(pixels, side, side, "RGB"), "png"
        if corrupt[i]:
            data = data[: len(data) // 3]
        yield str(splits[i]), str(labels[i]), f"img{i:05d}.{ext}", data, not corrupt[i]


def write_images(seed: int, count: int, out_dir: str) -> tuple[str, dict]:
    """Write ``<root>/<SPLIT>/<label>/<name>`` and return (root, truth)."""
    root = os.path.join(out_dir, "images")
    good_hist: Counter = Counter()
    good = bad = png = 0
    total_bytes = 0
    for split, label, name, data, ok in image_files(seed, count):
        d = os.path.join(root, split, label)
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, name), "wb") as fh:
            fh.write(data)
        total_bytes += len(data)
        png += name.endswith(".png")
        if ok:
            good += 1
            good_hist[split] += 1
        else:
            bad += 1
    truth = {
        "rows": count,
        "good": good,
        "bad": bad,
        "corrupt_frac": bad / count,
        "png_frac": png / count,
        "split_hist": {s: int(good_hist.get(s, 0)) for s in SPLITS},
        "bytes": total_bytes,
    }
    return root, truth


# ----------------------------------------------------------- documents

_STOP = ("the", "and", "of", "to", "is", "in", "that", "it")
_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))


def _vocabulary(rng: np.random.Generator, size: int) -> np.ndarray:
    lengths = rng.integers(4, 9, size)
    words = {"".join(rng.choice(_LETTERS, n)) for n in lengths}
    return np.array(sorted(words))


def documents_frame(seed: int, docs: int) -> tuple[pd.DataFrame, dict]:
    """A ``documents`` table (doc_id, text, lang, source, n_chars).

    ``doc_id % 10 == 0`` is the eval slice of ``e6_curate_v2``. Among
    the train rows the table plants stated shares of exact duplicates,
    near-duplicates (one-token edit of an earlier train doc),
    low-quality docs and copies of eval docs (contamination)."""
    rng = np.random.default_rng([seed, 3])
    vocab = _vocabulary(rng, 3000)
    stop = np.array(_STOP)

    def fresh_text() -> str:
        n = int(rng.integers(40, 70))
        toks = np.where(
            rng.random(n) < 0.3, rng.choice(stop, n), rng.choice(vocab, n)
        )
        return " ".join(toks) + "."

    texts: list[str] = []
    kind = np.array(["fresh"] * docs, dtype=object)
    planted: dict[str, list] = {"exact_dup": [], "near_dup": [], "low_quality": [], "eval_copy": []}
    draw = rng.random(docs)
    for i in range(docs):
        is_eval = i % 10 == 0
        train_before = [j for j in range(max(0, i - 50), i) if j % 10 and kind[j] == "fresh"]
        eval_before = [j for j in range(max(0, i - 50), i) if j % 10 == 0]
        r = draw[i]
        if is_eval or i < 20:
            texts.append(fresh_text())
        elif r < 0.05 and train_before:
            kind[i] = "exact_dup"
            src = int(rng.choice(train_before))
            texts.append(texts[src])
            planted["exact_dup"].append((src, i))
        elif r < 0.10 and train_before:
            kind[i] = "near_dup"
            src = int(rng.choice(train_before))
            toks = texts[src].split(" ")
            toks[int(rng.integers(0, len(toks) - 1))] = str(rng.choice(vocab))
            texts.append(" ".join(toks))
            planted["near_dup"].append((src, i))
        elif r < 0.15:
            # short, punctuation-heavy, no stopwords, over-long "words"
            kind[i] = "low_quality"
            words = ["".join(rng.choice(vocab, 3)) for _ in range(int(rng.integers(2, 5)))]
            texts.append("#" + " ## ".join(words) + "!!!")
            planted["low_quality"].append(i)
        elif r < 0.17 and eval_before:
            kind[i] = "eval_copy"
            texts.append(texts[int(rng.choice(eval_before))])
            planted["eval_copy"].append(i)
        else:
            texts.append(fresh_text())
    pdf = pd.DataFrame(
        {
            "doc_id": np.arange(docs, dtype=np.int64),
            "text": texts,
            "lang": np.where(rng.random(docs) < 0.9, "en", "fr"),
            "source": rng.choice(np.array(["web", "books", "news", "code"]), docs),
        }
    )
    pdf["n_chars"] = pdf["text"].str.len().astype(np.int64)
    train = pdf["doc_id"] % 10 != 0
    shares = Counter(kind[train.to_numpy()])
    n_train = int(train.sum())
    truth = {
        "rows": docs,
        "train_rows": n_train,
        **{f"{k}_frac": shares.get(k, 0) / n_train
           for k in ("exact_dup", "near_dup", "low_quality", "eval_copy")},
        "planted": planted,
    }
    return pdf, truth


def write_documents(seed: int, docs: int, out_dir: str) -> tuple[str, dict]:
    """Write ``<sf_dir>/documents.parquet`` (the registry's table
    layout) and return (sf_dir, truth)."""
    pdf, truth = documents_frame(seed, docs)
    sf_dir = os.path.join(out_dir, "sf")
    os.makedirs(sf_dir, exist_ok=True)
    path = os.path.join(sf_dir, "documents.parquet")
    pdf.to_parquet(path, index=False)
    truth["bytes"] = os.path.getsize(path)
    return sf_dir, truth
