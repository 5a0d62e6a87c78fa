"""Ad-hoc giant-bucket kernel breakdown harness.

Replicates the fuzzy-dedup front end (signatures + hashed shingles +
band explode) in plain Python on a documents table (default: the sf0.1
one), then times the stages of the bucket verifier
(tensorflow_recorder_spark/functions/jaccard_verify.py) on the largest
real buckets: the m x m matrix path stage by stage, the whole default
call, and the chunked path forced on the same bucket. No Spark;
relative timings only.

    python scripts/_kernel_harness.py [documents.parquet]
"""
import hashlib
import os
import sys
import time

import numpy as np
import pyarrow.parquet as pq

NH, BANDS, K = 8, 4, 5
RPB = NH // BANDS
MIN_EST, THR = 0.25, 0.3

t = pq.read_table(sys.argv[1] if len(sys.argv) > 1 else
                  "/root/testdata/sf0.1/documents.parquet")
ids_all = np.asarray(t.column("doc_id").to_pylist(), dtype=np.int64)
texts = t.column("text").to_pylist()

md5 = hashlib.md5
nd = (NH + 3) // 4
salts = [f"{d}:".encode() for d in range(nd)]
be_u32 = np.dtype(">u4")

t0 = time.perf_counter()
vocab: dict[str, int] = {}
doc_idx = []
for txt in texts:
    txt = txt.lower()
    m = max(len(txt) - K + 1, 1)
    sh = dict.fromkeys(txt[i:i + K] for i in range(m))
    doc_idx.append(np.fromiter((vocab.setdefault(g, len(vocab)) for g in sh),
                               dtype=np.int64, count=len(sh)))
buf = b"".join(md5(salts[d] + s.encode()).digest()
               for s in vocab for d in range(nd))
H = np.frombuffer(buf, dtype=be_u32).reshape(len(vocab), nd * 4)[:, :NH]
vbuf = b"".join(md5(g.encode()).digest()[:4] for g in vocab)
V = np.frombuffer(vbuf, dtype=be_u32).astype(np.int64)
sigs = np.empty((len(texts), NH), dtype=np.int64)
sh_arrays = []
for r, idxs in enumerate(doc_idx):
    sigs[r] = H[idxs].min(axis=0)
    sh_arrays.append(V[idxs])
print(f"combo pass: {time.perf_counter()-t0:.3f}s  vocab={len(vocab)}")

# band explode -> group docs per (band_idx, band_key)
t0 = time.perf_counter()
groups: dict[tuple, list] = {}
for r in range(len(texts)):
    for b in range(BANDS):
        key = md5(",".join(str(sigs[r, b * RPB + j]) for j in range(RPB))
                  .encode()).hexdigest()
        groups.setdefault((b, key), []).append(r)
sizes = sorted(((len(v), k) for k, v in groups.items()), reverse=True)
print(f"banding: {time.perf_counter()-t0:.3f}s  n_groups={len(groups)}")
print("top groups:", sizes[:8])

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
from tensorflow_recorder_spark.functions.jaccard_verify import (  # noqa: E402
    BucketSets,
    drop_earlier_bands,
    slot_agreement,
    verify_bucket,
)


def timed(fn, *args, **kw):
    t0 = time.perf_counter()
    out = fn(*args, **kw)
    return out, time.perf_counter() - t0


for (sz, key) in sizes[:4]:
    rows = np.asarray(groups[key])
    band_idx = key[0]
    order = np.argsort(ids_all[rows], kind="stable")
    rows = rows[order]
    ids, M8 = ids_all[rows], sigs[rows]
    sh = [sh_arrays[r] for r in rows]
    tm = {}
    sets, tm["prep (unique/csr)"] = timed(BucketSets, sh)
    A, tm["slot agreement"] = timed(slot_agreement, M8, NH)
    K = (A.astype(np.float64) / float(NH)) >= MIN_EST
    _, tm["earlier-band drop"] = timed(drop_earlier_bands, K, M8, band_idx, RPB)
    out, tm["verify_bucket"] = timed(
        verify_bucket, band_idx, ids, M8, sh, NH, RPB, MIN_EST, THR
    )
    chunked, tm["verify_bucket chunked"] = timed(
        verify_bucket, band_idx, ids, M8, sh, NH, RPB, MIN_EST, THR,
        matrix_budget=0,
    )
    assert all(np.array_equal(x, y) for x, y in zip(out, chunked))
    print(f"\nbucket m={len(rows)} band={band_idx} vocab={sets.nv} "
          f"out={len(out[0])}")
    for k_, v in tm.items():
        print(f"  {k_:22s} {v:.3f}s")
