"""Deduplication operators (E1, SURVEY.md §2.9) — exact, MinHash+LSH,
SimHash, n-gram Jaccard.

Not in the reference (its only row-elimination is split routing,
beam_pipeline.py:73-88); these are the training-data-pipeline operators
the north star requires, designed Spark-first for 100 TB:

  * Exact dedup: hash-partition on a digest of the text, keep the first
    id per group — one shuffle keyed by digest (never by the full text:
    shuffle keys stay 32 bytes), no driver state.
  * MinHash: per-row signature computation is a narrow projection (no
    shuffle at all); hashes are md5-prefix based so the whole operator
    is expressible in ANSI SQL for the correctness oracle.
  * LSH banding: signature -> (band, band_key) pairs; candidate pairs
    come from a self-equi-join on the band key. At scale this is THE
    join-reduction trick: instead of O(n^2) pairs, only rows sharing a
    band bucket meet, and the join is an ordinary shuffled equi-join
    that AQE can skew-split (hot buckets = near-identical boilerplate
    docs are real at 100 TB).
  * n-gram Jaccard: exact verification within a blocking key via
    shingle-set intersection — the "verify" stage after LSH
    candidates, or standalone within small blocks.
  * SimHash: bit-majority over token hashes, one narrow projection +
    one aggregation keyed by doc.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..functions.partitioning import spread_to_parallelism

# ---------------------------------------------------------------- exact


def exact_dedup(
    df: DataFrame, text_col: str, id_col: str, method: str = "window"
) -> DataFrame:
    """Keep the lowest-id row per distinct ``text_col`` value (E1 exact).

    The shuffle key is ``sha2(text)`` (fixed 64 hex chars), not the text
    itself — at 100 TB the shuffle moves digests, not documents.

    * ``method='window'``: one shuffle + per-digest sort. The sort is
      bounded by the duplicate count — right when duplication is
      moderate. A pathologically hot digest (one boilerplate document
      duplicated millions of times) lands on a single task: window
      partitions are NOT AQE-splittable.
    * ``method='agg'``: the skew-resistant form. ``min(id)`` per digest
      is a partial-aggregated groupBy — a hot digest collapses to one
      row per map task BEFORE the shuffle — followed by a left-semi
      join on (digest, id), which AQE can skew-split like any join.
      Two shuffles instead of one, so it wins only under heavy
      duplication skew. Assumes ``id_col`` is unique per row (both
      members of a (digest, id) collision would survive).
    """
    digest = F.sha2(F.col(text_col), 256)
    if method == "agg":
        keyed = df.withColumn("__dig", digest)
        survivors = keyed.groupBy("__dig").agg(F.min(id_col).alias(id_col))
        return keyed.join(survivors, ["__dig", id_col], "left_semi").drop("__dig")
    w = Window.partitionBy(digest).orderBy(F.col(id_col))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def normalized_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Near-exact dedup on the CANONICALIZED text: case-fold, fold every
    non-alphanumeric run to a single space, trim — the standard
    pipeline stage between byte-exact hashing (misses trivial
    reformattings) and MinHash (overkill for them). Two documents that
    differ only in casing, punctuation, or whitespace collapse to one
    survivor (lowest ``id_col``); the surviving rows keep their
    ORIGINAL text.

    Scale shape = ``exact_dedup(method='agg')``: the shuffle key is
    ``sha2`` of the normalized form (64 hex chars — digests move, not
    documents), ``min(id)`` per digest partial-aggregates map-side so a
    boilerplate document duplicated millions of times collapses to one
    row per map task before the shuffle, and the semi-join back is
    AQE-skew-splittable. The normalization itself is a codegen'd
    regexp chain (ASCII classes only, so any SQL engine reproduces it
    byte-for-byte).
    """
    norm = F.trim(
        F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9]+", " ")
    )
    keyed = df.withColumn("__ndig", F.sha2(norm, 256))
    survivors = keyed.groupBy("__ndig").agg(F.min(id_col).alias(id_col))
    return keyed.join(survivors, ["__ndig", id_col], "left_semi").drop("__ndig")


# ------------------------------------------------------------- shingles


def shingle_expr(text_col: str, k: int = 5, pre_lowered: bool = False) -> str:
    """SQL expression producing the distinct set of character ``k``-grams
    of a (lowercased) text column. Pure Spark SQL — stays in codegen.

    Pass ``pre_lowered=True`` when ``text_col`` is already lowercased
    (project ``lower(text)`` first). With the default, ``lower()`` sits
    inside the ``transform`` lambda and Catalyst re-evaluates it per
    shingle — O(len^2) per document, measured 2x slower at sf0.1.
    """
    lc = text_col if pre_lowered else f"lower({text_col})"
    return (
        f"array_distinct(transform("
        f"sequence(1, greatest(length({text_col}) - {k - 1}, 1)), "
        f"i -> substring({lc}, i, {k})))"
    )


def _minhash_expr(shingles: str, seed: int) -> str:
    """min over shingles of a 32-bit md5-prefix hash salted by ``seed``.

    md5-based so the DuckDB oracle can compute the identical value; the
    per-row cost is seeds x shingles hashes, all inside codegen.
    """
    return (
        f"array_min(transform({shingles}, "
        f"s -> cast(conv(substring(md5(concat('{seed}:', s)), 1, 8), 16, 10) as bigint)))"
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 8,
    shingle_len: int = 5,
    method: str = "arrow",
) -> DataFrame:
    """Per-document MinHash signature (E1 fuzzy, fit stage).

    Output: (id_col, mh_0..mh_{n-1}) where
    ``mh_k = min over shingles of int32(md5(concat(k div 4, ':', s))
    sliced at 4*(k%4))`` — md5-based so the DuckDB oracle computes the
    identical value.

    Two physical strategies, identical output (parity-tested):

    * ``method='arrow'`` (default): map-only ``mapInPandas`` — each task
      shingles its documents in Python, hashes with ``hashlib.md5``, and
      takes column minima with one vectorized ``np.frombuffer`` unpack
      per document. No explode, NO SHUFFLE AT ALL (the SQL path shuffles
      signature-sized partial aggregates), and measured 2x faster at
      sf0.1. Per-task memory is one document's shingle set — flat at any
      scale.
    * ``method='sql'``: explode distinct shingles, groupBy(id) with one
      ``min`` per slot. Stays entirely in codegen/JVM; the declarative
      form Catalyst can reason about, and the fallback where Arrow is
      undesirable. Map-side combine keeps the shuffle signature-sized.
    """
    if method == "arrow":
        return _minhash_signatures_arrow(
            df, text_col, id_col, num_hashes, shingle_len
        )
    shingles = df.select(
        F.col(id_col), F.lower(F.col(text_col)).alias("__lt")
    ).select(
        F.col(id_col),
        F.explode(
            F.expr(shingle_expr("__lt", shingle_len, pre_lowered=True))
        ).alias("__s"),
    )
    # One md5 yields four independent 32-bit slices, so num_hashes hash
    # functions cost ceil(num_hashes/4) digests per shingle:
    #   h_k(s) = int(md5(concat(k div 4, ':', s))[8*(k%4) .. +8], 16)
    # The digests are materialized in a projection BEFORE the aggregate:
    # Catalyst does not common-subexpression-eliminate across separate
    # agg functions, so folding md5 into each min() would recompute every
    # digest 4x (measured ~2x slower end-to-end at sf0.1).
    n_digests = (num_hashes + 3) // 4
    digested = shingles.select(
        F.col(id_col),
        *[
            F.md5(F.concat(F.lit(f"{d}:"), F.col("__s"))).alias(f"__d{d}")
            for d in range(n_digests)
        ],
    )
    aggs = [
        F.min(
            F.expr(
                f"cast(conv(substring(__d{k // 4}, {8 * (k % 4) + 1}, 8), 16, 10) as bigint)"
            )
        ).alias(f"mh_{k}")
        for k in range(num_hashes)
    ]
    return digested.groupBy(id_col).agg(*aggs)


def _minhash_signatures_arrow(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int,
    shingle_len: int,
) -> DataFrame:
    """Arrow fast path for :func:`minhash_signatures` (map-only)."""
    import hashlib

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    k, nh = shingle_len, num_hashes
    nd = (nh + 3) // 4  # digests per shingle: 4 x 32-bit slices each
    id_type = df.schema[id_col].dataType
    out_schema = T.StructType(
        [T.StructField(id_col, id_type)]
        + [T.StructField(f"mh_{j}", T.LongType()) for j in range(nh)]
    )

    def mh_batches(batches):
        md5 = hashlib.md5
        salts = [f"{d}:".encode() for d in range(nd)]
        be_u32 = np.dtype(">u4")
        for pdf in batches:
            ids = pdf[id_col].to_numpy()
            out = np.empty((len(ids), nh), dtype=np.int64)
            # Hash each DISTINCT shingle once per batch, not once per
            # (doc, shingle): common grams repeat across documents, so
            # interning into a batch vocabulary cuts the md5 calls by
            # the duplication factor (measured 4.1x on the hashing
            # stage at sf-like diversity) and turns the per-doc fold
            # into one vectorized row-gather + min. Same bytes hashed,
            # bit-identical signatures.
            vocab: dict[str, int] = {}
            doc_idx = []
            for t in pdf[text_col]:
                t = t.lower()
                m = max(len(t) - k + 1, 1)
                sh = {t[i : i + k] for i in range(m)}
                doc_idx.append(
                    np.fromiter(
                        (vocab.setdefault(g, len(vocab)) for g in sh),
                        dtype=np.int64,
                        count=len(sh),
                    )
                )
            buf = b"".join(
                md5(salts[d] + s.encode()).digest()
                for s in vocab
                for d in range(nd)
            )
            H = np.frombuffer(buf, dtype=be_u32).reshape(
                len(vocab), nd * 4
            )[:, :nh]
            for r, idxs in enumerate(doc_idx):
                out[r] = H[idxs].min(axis=0)
            res = pd.DataFrame(out, columns=[f"mh_{j}" for j in range(nh)])
            res.insert(0, id_col, ids)
            yield res

    # The hashing is pure map-side Python: its parallelism is exactly the
    # input partition count. A small/single-file source would serialize
    # the whole corpus through one worker, so fan out to the session's
    # parallelism; at real scale the source already has >= that many
    # files and no shuffle is added (metadata-only probe).
    src = spread_to_parallelism(df.select(id_col, text_col))
    return src.mapInPandas(mh_batches, schema=out_schema)


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str,
    num_hashes: int = 8,
    bands: int = 4,
    min_est_jaccard: float = 0.25,
) -> DataFrame:
    """LSH banding over MinHash signatures -> candidate pairs with
    estimated Jaccard (fraction of agreeing signature slots).

    Pairs meet only if some band of ``num_hashes/bands`` consecutive
    slots agrees exactly, turning all-pairs comparison into an
    equi-join on (band_idx, band_key). Output: (id_a, id_b, est_jaccard)
    with id_a < id_b.

    A pair sharing multiple bands meets once per shared band; the
    duplicates are eliminated by the FIRST-MATCHING-BAND filter (emit
    only where no earlier band also agrees — computable from the mh
    columns both join sides already carry), not by ``distinct()``.
    Near-dup-heavy data makes the raw candidate multiset much larger
    than the distinct pair set, so replacing that shuffle with a
    filter inside the join stage halved this operator's time at sf0.1.
    """
    rows_per_band = num_hashes // bands
    band_structs = []
    for b in range(bands):
        slots = [f"mh_{b * rows_per_band + r}" for r in range(rows_per_band)]
        key = "md5(concat_ws(',', " + ", ".join(slots) + "))"
        band_structs.append(f"struct({b} as band_idx, {key} as band_key)")
    banded = signatures.select(
        F.col(id_col),
        *[F.col(f"mh_{k}") for k in range(num_hashes)],
        F.explode(F.expr("array(" + ", ".join(band_structs) + ")")).alias("band"),
    ).select(id_col, *[f"mh_{k}" for k in range(num_hashes)], "band.band_idx", "band.band_key")

    left = banded.select(
        F.col(id_col).alias("id_a"),
        *[F.col(f"mh_{k}").alias(f"a_{k}") for k in range(num_hashes)],
        "band_idx",
        "band_key",
    )
    right = banded.select(
        F.col(id_col).alias("id_b"),
        *[F.col(f"mh_{k}").alias(f"b_{k}") for k in range(num_hashes)],
        "band_idx",
        "band_key",
    )
    agree = sum(
        F.when(F.col(f"a_{k}") == F.col(f"b_{k}"), 1).otherwise(0)
        for k in range(num_hashes)
    )

    def band_agrees(b: int):
        cond = F.lit(True)
        for r in range(rows_per_band):
            k = b * rows_per_band + r
            cond = cond & (F.col(f"a_{k}") == F.col(f"b_{k}"))
        return cond

    # first-matching-band: no band before this row's band_idx also agrees
    not_earlier = F.lit(True)
    for b in range(bands - 1):
        not_earlier = not_earlier & ~(
            (F.col("band_idx") > b) & band_agrees(b)
        )
    pairs = (
        left.join(right, ["band_idx", "band_key"])
        .where((F.col("id_a") < F.col("id_b")) & not_earlier)
        .select(
            "id_a", "id_b", (agree / F.lit(float(num_hashes))).alias("est_jaccard")
        )
    )
    return pairs.where(F.col("est_jaccard") >= min_est_jaccard)


def hashed_shingle_expr(text_col: str, k: int = 5, pre_lowered: bool = False) -> str:
    """Distinct 32-bit-hashed character k-grams (md5-slice ints).

    Jaccard over hashed shingle sets equals Jaccard over the string sets
    up to md5 collisions (~n^2/2^32); comparing/intersecting longs is
    several times cheaper than strings at pair-join time.
    """
    # distinct the k-gram STRINGS first, then hash: identical result set
    # and order (md5 maps first-occurrence order elementwise), ~15% fewer
    # md5 calls on repetitive text (measured at sf0.1)
    return (
        f"transform({shingle_expr(text_col, k, pre_lowered)}, "
        f"s -> cast(conv(substring(md5(s), 1, 8), 16, 10) as bigint))"
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_col: str | None = None,
    shingle_len: int = 5,
    threshold: float = 0.25,
) -> DataFrame:
    """n-gram Jaccard similarity pairs over hashed shingle sets (E1
    verify stage).

    With ``block_col`` the self-join is an equi-join within blocks (the
    scalable form: dedup within source/domain partitions); without it,
    this is the small-data verifier applied to LSH candidates.
    Output: (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold.

    The hashed shingle frame is materialized once via a lazy
    ``localCheckpoint``: it feeds both sides of the self-join and its
    lineage has no exchange Spark could auto-reuse. (Not ``cache()`` —
    re-declaring the query would re-request the same plan from the
    CacheManager and churn the block manager with "already cached"
    re-registrations; checkpointed blocks are plain RDD storage, freed
    on GC.) At cluster scale, persist it as a table instead.
    """
    sh = df.select(
        F.col(id_col),
        *([F.col(block_col)] if block_col else []),
        F.lower(F.col(text_col)).alias("__lt"),
    ).select(
        F.col(id_col),
        *([F.col(block_col)] if block_col else []),
        F.expr(hashed_shingle_expr("__lt", shingle_len, pre_lowered=True)).alias(
            "__sh"
        ),
    ).localCheckpoint(eager=False)
    a = sh.select(
        *([F.col(block_col)] if block_col else []),
        F.col(id_col).alias("id_a"),
        F.col("__sh").alias("sh_a"),
    )
    b = sh.select(
        *([F.col(block_col)] if block_col else []),
        F.col(id_col).alias("id_b"),
        F.col("__sh").alias("sh_b"),
    )
    joined = a.join(b, [block_col] if block_col else None) if block_col else a.crossJoin(b)
    # Size-ratio prune BEFORE the expensive intersection: |A∩B| <= min and
    # |A∪B| >= max, so j <= min/max — pairs failing the ratio test cannot
    # reach the threshold. Semantics-preserving, cuts intersect work on
    # skew-sized pairs.
    ratio_ok = (
        F.least(F.size("sh_a"), F.size("sh_b")).cast("double")
        / F.greatest(F.size("sh_a"), F.size("sh_b")).cast("double")
        >= F.lit(threshold)
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        joined.where((F.col("id_a") < F.col("id_b")) & ratio_ok)
        .select(
            "id_a",
            "id_b",
            (inter.cast("double") / union.cast("double")).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def _signatures_and_shingles_arrow(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int,
    shingle_len: int,
) -> DataFrame:
    """One map-only pass emitting BOTH the MinHash signature and the
    hashed shingle array per document (the fuzzy-dedup front end).

    The verify runs inside the LSH buckets, so every banded doc needs
    its shingle payload anyway; this pass shares one gram-set build and
    one batch-vocabulary intern between the salted signature digests
    and the unsalted verify hashes — per distinct gram: ``nd`` salted
    md5s (signature slots) + 1 unsalted md5 (verify hash), exactly the
    bytes the SQL expressions (:func:`minhash_signatures`,
    :func:`hashed_shingle_expr`) hash, bit-identical outputs.

    Output: (id_col, mh_0..mh_{n-1}, __sh array<long>).
    """
    import hashlib

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    k, nh = shingle_len, num_hashes
    nd = (nh + 3) // 4
    id_type = df.schema[id_col].dataType
    out_schema = T.StructType(
        [T.StructField(id_col, id_type)]
        + [T.StructField(f"mh_{j}", T.LongType()) for j in range(nh)]
        + [T.StructField("__sh", T.ArrayType(T.LongType()))]
    )

    def batches(it):
        md5 = hashlib.md5
        salts = [f"{d}:".encode() for d in range(nd)]
        be_u32 = np.dtype(">u4")
        for pdf in it:
            ids = pdf[id_col].to_numpy()
            out = np.empty((len(ids), nh), dtype=np.int64)
            vocab: dict[str, int] = {}
            doc_idx = []
            for t in pdf[text_col]:
                t = t.lower()
                m = max(len(t) - k + 1, 1)
                # first-occurrence distinct, matching array_distinct
                sh = dict.fromkeys(t[i : i + k] for i in range(m))
                doc_idx.append(
                    np.fromiter(
                        (vocab.setdefault(g, len(vocab)) for g in sh),
                        dtype=np.int64,
                        count=len(sh),
                    )
                )
            buf = b"".join(
                md5(salts[d] + s.encode()).digest()
                for s in vocab
                for d in range(nd)
            )
            H = np.frombuffer(buf, dtype=be_u32).reshape(
                len(vocab), nd * 4
            )[:, :nh]
            vbuf = b"".join(md5(g.encode()).digest()[:4] for g in vocab)
            V = np.frombuffer(vbuf, dtype=be_u32).astype(np.int64)
            sh_col = []
            for r, idxs in enumerate(doc_idx):
                out[r] = H[idxs].min(axis=0)
                sh_col.append(V[idxs])
            res = pd.DataFrame(out, columns=[f"mh_{j}" for j in range(nh)])
            res.insert(0, id_col, ids)
            res["__sh"] = sh_col
            yield res

    src = spread_to_parallelism(df.select(id_col, text_col))
    return src.mapInPandas(batches, schema=out_schema)


def _banded_payload(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int,
    bands: int,
    shingle_len: int,
    side: int | None = None,
) -> DataFrame:
    """Each document's (signature, shingle array) payload from one map
    pass, exploded into its ``bands`` LSH buckets (band_idx, band_key =
    md5 over the band's slots — the banding of
    :func:`lsh_candidate_pairs`); ``side`` tags the rows of one input
    of the bipartite plan."""
    rpb = num_hashes // bands
    band_structs = []
    for b in range(bands):
        slots = [f"mh_{b * rpb + r}" for r in range(rpb)]
        key = "md5(concat_ws(',', " + ", ".join(slots) + "))"
        band_structs.append(f"struct({b} as band_idx, {key} as band_key)")
    tag = [] if side is None else ["__side"]
    mh = [f"mh_{j}" for j in range(num_hashes)]
    combo = _signatures_and_shingles_arrow(
        df, text_col, id_col, num_hashes, shingle_len
    )
    return combo.select(
        *[F.lit(side).alias(c) for c in tag],
        F.col(id_col),
        *[F.col(c) for c in mh],
        F.col("__sh"),
        F.explode(F.expr("array(" + ", ".join(band_structs) + ")")).alias(
            "band"
        ),
    ).select(*tag, id_col, *mh, "__sh", "band.band_idx", "band.band_key")


def _lsh_verified(
    index_df: DataFrame,
    batch_df: DataFrame | None,
    text_col: str,
    id_col: str,
    num_hashes: int,
    bands: int,
    shingle_len: int,
    min_est_jaccard: float,
    threshold: float,
    **kernel,
) -> DataFrame:
    """The one fuzzy-dedup plan: the self-join of ``index_df`` when
    ``batch_df`` is None (:func:`lsh_verified_pairs`), else index x
    batch (:func:`incremental_neardup_pairs`). ``kernel`` carries
    :func:`..functions.jaccard_verify.verify_bucket`'s test hooks to
    the executors.

    Every decision is bucket-local: two docs are a candidate iff they
    share a band bucket, and est_jaccard, the first-matching-band rule
    and the exact Jaccard need only the two docs' (signature, shingle
    array) payloads. So one map pass per input emits each payload into
    its ``bands`` buckets, ONE exchange co-locates every bucket, and ONE
    ``mapInPandas`` call per shuffle partition recovers the buckets and
    verifies each — no join, no candidate materialization, no
    checkpoint. The exchange is pinned at session parallelism: its
    bytes are small but the stage cost is Python pair work, which AQE's
    byte-based coalescing would under-parallelize. A degenerate bucket
    of m near-identical docs costs O(m²) vectorized compares in one
    task.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from ..functions.jaccard_verify import verify_bucket

    nh, rpb = num_hashes, num_hashes // bands
    bipartite = batch_df is not None

    def payload(df, side=None):
        return _banded_payload(
            df, text_col, id_col, num_hashes, bands, shingle_len, side
        )

    if bipartite:
        banded = payload(index_df, side=0).unionByName(payload(batch_df, side=1))
    else:
        banded = payload(index_df)
    id_type = index_df.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("id_a", id_type),
            T.StructField("id_b", id_type),
            T.StructField("est_jaccard", T.DoubleType()),
            T.StructField("jaccard", T.DoubleType()),
        ]
    )
    min_est = float(min_est_jaccard)
    thr = float(threshold)

    def partition_pass(batches):
        """The hash repartition on (band_idx, band_key) co-locates each
        bucket's rows, so one concat + one lexsort makes every bucket a
        contiguous, id-sorted slice (measured at sf0.1: a pandas frame
        per bucket cost ~1.5 s/task over ~90k mostly-singleton buckets
        against ~0.3 s of pair math)."""
        frames = list(batches)
        if not frames:
            return
        pdf = pd.concat(frames, ignore_index=True) if len(frames) > 1 else frames[0]
        if len(pdf) == 0:
            return
        band = pdf["band_idx"].to_numpy()
        key = pdf["band_key"].to_numpy()
        ids = pdf[id_col].to_numpy()
        order = np.lexsort((ids, key, band))
        band, key, ids = band[order], key[order], ids[order]
        M8 = np.column_stack([pdf[f"mh_{j}"].to_numpy()[order] for j in range(nh)])
        sh = pdf["__sh"].to_numpy()[order]
        side = pdf["__side"].to_numpy()[order] if bipartite else None
        starts = np.flatnonzero(
            np.concatenate(([True], (band[1:] != band[:-1]) | (key[1:] != key[:-1])))
        )
        bounds = np.concatenate((starts, [len(ids)])).tolist()
        res = []
        for lo, hi in zip(bounds[:-1], bounds[1:]):
            if hi - lo < 2:
                continue
            out = verify_bucket(
                int(band[lo]), ids[lo:hi], M8[lo:hi], sh[lo:hi],
                nh, rpb, min_est, thr,
                side=None if side is None else side[lo:hi],
                **kernel,
            )
            if len(out[0]):
                res.append(out)
        if res:
            yield pd.DataFrame(
                {
                    c: np.concatenate([r[i] for r in res])
                    for i, c in enumerate(out_schema.names)
                }
            )

    par = banded.sparkSession.sparkContext.defaultParallelism
    return banded.repartition(par, "band_idx", "band_key").mapInPandas(
        partition_pass, schema=out_schema
    )


def lsh_verified_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_len: int = 5,
    min_est_jaccard: float = 0.25,
    threshold: float = 0.3,
) -> DataFrame:
    """Two-stage fuzzy dedup at scale (E1 end-to-end): MinHash+LSH
    proposes candidate pairs (sub-quadratic), exact n-gram Jaccard
    verifies ONLY those pairs.

    A pair is a candidate when the two documents share a band bucket
    (the banding of :func:`lsh_candidate_pairs`) and its
    ``est_jaccard`` — agreeing signature slots / ``num_hashes`` —
    reaches ``min_est_jaccard``; it is verified when its exact Jaccard
    over the hashed shingle sets (:func:`hashed_shingle_expr`),
    ``|A∩B| / (|A| + |B| - |A∩B|)`` in float64, reaches ``threshold``.

    Output: (id_a, id_b, est_jaccard, jaccard) with id_a < id_b, one row
    per verified pair.

    Plan (:func:`_lsh_verified`): signatures and shingle arrays in ONE
    map pass, one exchange on the band bucket, candidate generation and
    verification inside each bucket — no join, no checkpoint.
    """
    return _lsh_verified(
        df,
        None,
        text_col,
        id_col,
        num_hashes,
        bands,
        shingle_len,
        min_est_jaccard,
        threshold,
    )


def blocked_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_col: str,
    shingle_len: int = 5,
    threshold: float = 0.25,
    chunk_rows: int = 2048,
) -> DataFrame:
    """Exact n-gram Jaccard pairs within blocks via one BLAS matrix
    product per block (E1 verify stage, fast path).

    Same semantics as :func:`ngram_jaccard_pairs` with a ``block_col``
    (exact Jaccard over distinct lowercased character k-grams, pairs
    with ``id_a < id_b`` and ``jaccard >= threshold``) but a different
    physical strategy: each block becomes one ``applyInPandas`` task
    that builds a doc x distinct-shingle 0/1 matrix and computes ALL
    pairwise intersection counts as ``M @ M.T``. One vectorized matmul
    replaces |block|^2/2 per-pair hash-set intersections — ~6x faster
    at sf0.1 — and the matmul is row-striped (``chunk_rows``) so peak
    memory is O(chunk * block) pairs, not O(block^2).

    Scale contract: a block must fit one task (matrix is
    |block| x |distinct shingles| float32). That is the right contract
    for the verify stage — blocks are LSH buckets / bounded partitions;
    unbounded blocks belong in :func:`lsh_candidate_pairs` first. The
    block key is the ONLY shuffle; parallelism = number of blocks, so
    at 100 TB feed fine-grained buckets, not a handful of sources.

    Intersection counts are exact: float32 accumulation is exact for
    counts < 2^24, counts are cast to int64, and division happens in
    float64 — bit-identical to the SQL/DuckDB formulation (verified at
    sf0.01, 0/1871 diffs).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    k = shingle_len

    id_type = df.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("id_a", id_type),
            T.StructField("id_b", id_type),
            T.StructField("jaccard", T.DoubleType()),
        ]
    )

    def block_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {"id_a": pd.Series(dtype="int64"), "id_b": pd.Series(dtype="int64"),
             "jaccard": pd.Series(dtype="float64")}
        )
        if len(pdf) < 2:
            return empty
        pdf = pdf.sort_values(id_col)  # positional i<j => id_a < id_b
        ids = pdf[id_col].to_numpy()
        texts = pdf[text_col].str.lower().tolist()
        n = len(ids)
        vocab: dict[str, int] = {}
        doc_sets = []
        for t in texts:
            m = max(len(t) - k + 1, 1)
            s = {t[i : i + k] for i in range(m)}
            doc_sets.append(
                np.fromiter(
                    (vocab.setdefault(g, len(vocab)) for g in s),
                    dtype=np.int64,
                    count=len(s),
                )
            )
        M = np.zeros((n, len(vocab)), dtype=np.float32)
        for r, idxs in enumerate(doc_sets):
            M[r, idxs] = 1.0
        sizes = np.array([len(s) for s in doc_sets], dtype=np.float64)
        out_a, out_b, out_j = [], [], []
        col = np.arange(n)
        for c0 in range(0, n, chunk_rows):
            c1 = min(c0 + chunk_rows, n)
            inter = (M[c0:c1] @ M.T).astype(np.int64).astype(np.float64)
            jac = inter / (sizes[c0:c1, None] + sizes[None, :] - inter)
            keep = (col[None, :] > np.arange(c0, c1)[:, None]) & (jac >= threshold)
            ri, ci = np.nonzero(keep)
            out_a.append(ids[ri + c0])
            out_b.append(ids[ci])
            out_j.append(jac[ri, ci])
        if not out_a:
            return empty
        return pd.DataFrame(
            {
                "id_a": np.concatenate(out_a),
                "id_b": np.concatenate(out_b),
                "jaccard": np.concatenate(out_j),
            }
        )

    return (
        df.select(id_col, text_col, block_col)
        .repartition(block_col)
        .groupBy(block_col)
        .applyInPandas(block_pairs, schema=out_schema)
    )


def simhash(
    df: DataFrame, text_col: str, id_col: str, bits: int = 16
) -> DataFrame:
    """SimHash fingerprint over whitespace tokens (E1).

    Each distinct token votes +-1 per bit position of its md5-prefix
    hash; the fingerprint sets bits with positive vote sums. Narrow
    projection, no shuffle. Output: (id_col, simhash bigint).

    Token hashes are materialized ONCE in a projection; the per-bit
    vote aggregates then scan the precomputed int array. Folding the
    tokenize+md5 expression into each of the ``bits`` vote lambdas (the
    naive form) recomputes it per bit — measured 10x slower at sf0.1.

    r11: the fingerprint pass is spread to the session parallelism
    first — the per-row cost (one md5 per distinct token + bits vote
    folds) is high while the frame's BYTES are small, so AQE never
    parallelizes it on its own and a one-file scan ran the whole pass
    in one task (measured 3.5 s single-task at sf0.1, ~0.3 s spread).
    """
    df = _spread(df)
    hashed = df.select(
        F.col(id_col),
        F.expr(
            f"transform(array_distinct(split(lower({text_col}), '\\\\s+')), "
            f"t -> cast(conv(substring(md5(t), 1, 8), 16, 10) as bigint))"
        ).alias("__h"),
    )
    bit_terms = []
    for j in range(bits):
        # sum over tokens of (bit_j ? 1 : -1), then bit_j(out) = sum > 0
        vote = (
            f"aggregate(__h, 0L, (acc, h) -> acc + "
            f"CASE WHEN (h div {1 << j}) % 2 = 1 THEN 1 ELSE -1 END)"
        )
        bit_terms.append(f"CASE WHEN ({vote}) > 0 THEN {1 << j}L ELSE 0L END")
    expr = " + ".join(bit_terms)
    return hashed.select(F.col(id_col), F.expr(expr).alias("simhash"))


def embedding_neardup_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    block_col: str | None = None,
    threshold: float = 0.95,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (E1), blocked by
    ``block_col`` (e.g. a cluster/label/LSH-bucket column) so the
    self-join is an equi-join, not a cross product.
    Output: (id_a, id_b, cosine)."""
    from .similarity import dot_expr, norm_expr

    a = df.select(
        *([F.col(block_col)] if block_col else []),
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        F.expr(norm_expr(vec_col)).alias("na"),
    )
    b = df.select(
        *([F.col(block_col)] if block_col else []),
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        F.expr(norm_expr(vec_col)).alias("nb"),
    )
    joined = a.join(b, [block_col] if block_col else None) if block_col else a.crossJoin(b)
    return (
        joined.where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.expr(f"({dot_expr('va', 'vb')}) / nullif(na * nb, cast(0 as double))").alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


# ----------------------------------------------------- cluster + resolve


def duplicate_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    out_id: str = "id",
    cluster_col: str = "cluster_id",
    max_iterations: int = 20,
    driver_threshold: int = 1_000_000,
) -> DataFrame:
    """Connected components over an undirected duplicate-pair graph:
    every id that appears in ``pairs`` gets the MINIMUM id reachable
    from it as its cluster id (so each component's canonical member is
    its own cluster id). Completes the fuzzy-dedup pipeline: pair
    emitters (:func:`lsh_verified_pairs`, :func:`embedding_neardup_pairs`)
    find edges; this resolves transitivity (A~B, B~C => one cluster even
    though A,C never paired).

    Adaptive physical strategy, chosen from the counted edge total (a
    bounded driver scalar):

    * ``<= driver_threshold`` edges: union-find with path compression on
      the driver. Verified duplicate pairs are a small fraction of the
      corpus by construction (they ARE the duplicates), so this is the
      common case, and it replaces O(diameter) distributed rounds (each
      a join + aggregate + checkpoint job — seconds of fixed scheduling
      cost regardless of data size) with microseconds. The collect is
      explicitly bounded by the threshold.
    * above the threshold: iterative distributed min-label propagation —
      per round, one equi-join of the (cached) edge list with the
      current labels and one min-aggregate, converging in O(diameter)
      rounds; ``localCheckpoint`` truncates the per-round plan (an uncut
      lineage doubles per round and blows up codegen). The driver sees
      only the per-round changed-row count. This is the standard
      scalable CC formulation (the GraphFrames/Pregel shape) in plain
      DataFrame ops.

    Both paths produce identical output (equivalence-tested). The pair
    frame is persisted for the duration of the call so the (usually
    expensive) pair pipeline executes exactly once however many times
    this plan consumes it.
    """
    pairs_p = pairs.persist()
    n_pairs = pairs_p.count()  # bounded: one long; materializes the cache
    if 2 * n_pairs <= driver_threshold:
        try:
            # union-find with path compression + union-by-min
            parent: dict = {}

            def find(x):
                root = x
                while parent[root] != root:
                    root = parent[root]
                while parent[x] != root:
                    parent[x], x = root, parent[x]
                return root

            for row in pairs_p.select(id_a, id_b).collect():
                a_val, b_val = row[0], row[1]
                for v in (a_val, b_val):
                    if v not in parent:
                        parent[v] = v
                ra, rb = find(a_val), find(b_val)
                if ra != rb:
                    if rb < ra:
                        ra, rb = rb, ra
                    parent[rb] = ra
            rows = [(v, find(v)) for v in parent]
            id_field = pairs.schema[id_a]
            from pyspark.sql import types as T

            schema = T.StructType(
                [
                    T.StructField(out_id, id_field.dataType),
                    T.StructField(cluster_col, id_field.dataType),
                ]
            )
            return pairs.sparkSession.createDataFrame(rows, schema)
        finally:
            pairs_p.unpersist()
    edges = (
        pairs_p.select(F.col(id_a).alias("__src"), F.col(id_b).alias("__dst"))
        .union(
            pairs_p.select(F.col(id_b).alias("__src"), F.col(id_a).alias("__dst"))
        )
        .cache()
    )
    # localCheckpoint (not cache) per round: each iteration's plan embeds
    # the previous labels TWICE (once under neighbor_min, once as the
    # left side), so an uncut lineage doubles per round and blows up
    # planning/codegen after ~10 iterations. Checkpointing materializes
    # the round and truncates the plan to a scan; on a cluster with
    # non-resilient executors, swap for checkpoint() with a durable dir.
    labels = (
        edges.select(F.col("__src").alias(out_id)).distinct()
        .withColumn(cluster_col, F.col(out_id))
        .localCheckpoint(eager=True)
    )
    try:
        rounds = 0
        while True:
            neighbor_min = (
                edges.join(labels, edges["__dst"] == labels[out_id])
                .groupBy("__src")
                .agg(F.min(cluster_col).alias("__nmin"))
            )
            new_labels = (
                labels.join(neighbor_min, labels[out_id] == neighbor_min["__src"], "left")
                .select(
                    F.col(out_id),
                    F.least(
                        F.col(cluster_col), F.coalesce("__nmin", F.col(cluster_col))
                    ).alias(cluster_col),
                    (F.coalesce("__nmin", F.col(cluster_col)) < F.col(cluster_col))
                    .alias("__changed"),
                )
                .localCheckpoint(eager=True)
            )
            changed = new_labels.where(F.col("__changed")).count()  # bounded: 1 long
            labels = new_labels.drop("__changed")
            if changed == 0:
                break
            rounds += 1
            # Returning before convergence would hand the caller WRONG
            # cluster ids with no signal (min-label propagation needs
            # O(component diameter) rounds; long near-dup chains are
            # plausible exactly at the >threshold scale this path serves),
            # so a diameter past the safety bound is an error, not a
            # truncation.
            if rounds >= max_iterations:
                raise RuntimeError(
                    "duplicate_clusters: min-label propagation did not "
                    f"converge within max_iterations={max_iterations} rounds "
                    f"({changed} labels still changing); a duplicate chain "
                    "longer than max_iterations exists — raise max_iterations"
                )
        return labels
    finally:
        edges.unpersist()
        pairs_p.unpersist()


def fuzzy_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    **lsh_kwargs,
) -> DataFrame:
    """End-to-end fuzzy dedup with transitive resolution: LSH-verified
    pairs -> duplicate clusters -> keep each cluster's canonical (min-id)
    member plus every unpaired row.

    The anti-join key set is the non-canonical ids — a small fraction of
    the corpus (it is the duplicates), so at scale the join broadcasts;
    the corpus itself never shuffles.
    """
    pairs = lsh_verified_pairs(df, text_col, id_col, **lsh_kwargs)
    clusters = duplicate_clusters(pairs)
    dupes = clusters.where(F.col("id") != F.col("cluster_id")).select(
        F.col("id").alias(id_col)
    )
    return df.join(dupes, id_col, "left_anti")


def fuzzy_dedup_keep_best(
    df: DataFrame,
    text_col: str,
    id_col: str,
    quality_col: str,
    **lsh_kwargs,
) -> DataFrame:
    """Fuzzy dedup with a QUALITY retention policy: within each
    transitive duplicate cluster keep the member with the highest
    ``quality_col`` (ties: lowest id), not the arbitrary min-id member.
    This is the policy real curation pipelines want — near-dup groups
    keep their longest / highest-scoring variant, so dedup never
    degrades the surviving corpus.

    Plan shape on top of :func:`fuzzy_dedup`'s: the cluster frame joins
    the corpus ONLY to fetch (id, quality) — a projection of two scalar
    columns, id-keyed; the keep-best choice is a window partitioned BY
    CLUSTER (bounded by cluster size, no global sort); and the final
    anti-join key set is again the non-kept duplicate ids — the small
    side, broadcastable. The corpus itself never shuffles.
    """
    pairs = lsh_verified_pairs(df, text_col, id_col, **lsh_kwargs)
    clusters = duplicate_clusters(pairs)
    ranked = clusters.join(
        df.select(F.col(id_col).alias("id"), F.col(quality_col).alias("__q")),
        "id",
    ).withColumn(
        "__rk",
        F.row_number().over(
            Window.partitionBy("cluster_id").orderBy(
                F.desc("__q"), F.asc("id")
            )
        ),
    )
    dupes = ranked.where(F.col("__rk") > 1).select(F.col("id").alias(id_col))
    return df.join(dupes, id_col, "left_anti")


def _spread(df: DataFrame) -> DataFrame:
    """Raise an under-parallel batch frame to the session's default
    parallelism before an expensive per-row projection. A small parquet
    scan is often ONE file (sf0.1 documents), so the per-position
    shingle hashing that follows would run serially; spreading a few
    thousand rows costs one trivial shuffle. Decided from scan metadata
    only — no-op for many-file scans (at 100 TB never add a corpus-wide
    shuffle) and for streaming frames (functions/partitioning.py)."""
    return spread_to_parallelism(df)


def incremental_neardup_pairs(
    index_df: DataFrame,
    batch_df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_len: int = 5,
    min_est_jaccard: float = 0.25,
    threshold: float = 0.3,
) -> DataFrame:
    """Incremental fuzzy dedup of a NEW BATCH against an already-ingested
    corpus — the production shape of continuous dataset building: the
    historical corpus is not re-deduplicated against itself on every
    ingest; only index x batch pairs are generated and verified. Ids
    should be disjoint across the two frames (same id space, new ids
    for new docs); an id present on both sides pairs with itself.

    Same candidate rule, arithmetic and plan as
    :func:`lsh_verified_pairs` (see :func:`_lsh_verified`), with each
    side's payload tagged and every bucket verifying only its
    index x batch pairs: the index is never paired with itself (its
    payload still crosses the one exchange on every call).

    Output: (id_a = index doc, id_b = batch doc, est_jaccard, jaccard)
    with jaccard >= ``threshold`` — feed to an anti-join on id_b to drop
    duplicated new docs, or route to review.
    """
    return _lsh_verified(
        index_df,
        batch_df,
        text_col,
        id_col,
        num_hashes,
        bands,
        shingle_len,
        min_est_jaccard,
        threshold,
    )


def sketched_shingles_expr(
    text_col: str,
    shingle_len: int = 5,
    shingle_mod: int | None = None,
    pre_lowered: bool = True,
) -> str:
    """Hashed shingle array expr, optionally hash-residue sketched:
    keep only shingles with hash ``0 (mod shingle_mod)`` — a
    deterministic 1/mod sample of each document's shingle set
    (hash-stable, so any two documents keep the SAME shingles)."""
    base = hashed_shingle_expr(text_col, shingle_len, pre_lowered=pre_lowered)
    if shingle_mod:
        return f"filter({base}, x -> x % {shingle_mod} = 0)"
    return base


def exploded_shingles(
    df: DataFrame,
    text_col: str,
    id_col: str,
    out_id: str,
    shingle_len: int = 5,
    shingle_mod: int | None = None,
) -> DataFrame:
    """(id, shingle_hash) rows for every (sketched) shingle of every
    doc — the shared explode feeding batch AND streaming contamination,
    containment, and n-gram novelty.

    Arrow fast path: the hash recipe is BIT-IDENTICAL to
    :func:`sketched_shingles_expr` (32-bit md5-prefix ints, optional
    mod sketch), but computed in an Arrow-batched ``mapInPandas`` with
    a per-batch intern cache. The SQL ``transform()`` lambda is
    interpreted per element — Spark generates no codegen for
    higher-order functions — which measured ~80us/shingle at sf0.1;
    the interned Python path hashes each distinct shingle once per
    batch (same move as ``_minhash_arrow``) and re-measures ~3x
    faster end-to-end on the explode pass. A stateless map — legal on
    streaming frames (streaming/contamination.py)."""
    import hashlib

    import pandas as pd
    from pyspark.sql import types as T

    id_type = df.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField(out_id, id_type),
            T.StructField("__g", T.LongType()),
        ]
    )
    k, mod = shingle_len, shingle_mod
    md5 = hashlib.md5
    src = df.select(
        F.col(id_col).alias(out_id), F.lower(F.col(text_col)).alias("__lt")
    )

    def gen(batches):
        cache: dict[str, int] = {}
        for pdf in batches:
            ids_np = pdf[out_id].to_numpy()
            out_ids, out_g = [], []
            for i, t in zip(ids_np, pdf["__lt"]):
                m = max(len(t) - k + 1, 1)
                for s in {t[j : j + k] for j in range(m)}:
                    h = cache.get(s)
                    if h is None:
                        h = int(md5(s.encode()).hexdigest()[:8], 16)
                        cache[s] = h
                    if mod and h % mod != 0:
                        continue
                    out_ids.append(i)
                    out_g.append(h)
            yield pd.DataFrame(
                {
                    out_id: pd.Series(out_ids, dtype=pdf[out_id].dtype),
                    "__g": pd.Series(out_g, dtype="int64"),
                }
            )

    return src.mapInPandas(gen, schema=out_schema)


def contamination_pairs(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_len: int = 5,
    min_shared: int = 5,
    max_shingle_df: int | None = None,
    shingle_mod: int | None = None,
    eval_exploded: DataFrame | None = None,
) -> DataFrame:
    """Train/eval contamination edges: (eval_id, train_id, shared) for
    every train doc sharing at least ``min_shared`` distinct hashed
    ``shingle_len``-gram shingles with an eval doc.

    The n^2-avoidance is the same move as LSH banding: instead of
    comparing every (train, eval) document pair, explode both sides to
    (shingle_hash, id) and equi-join on the 32-bit shingle hash — only
    pairs that actually share a shingle ever meet, and the join is an
    ordinary AQE-skew-splittable shuffle keyed by an 8-byte int.
    ``count(*)`` per (eval_id, train_id) afterwards IS the shared-shingle
    count because each side's shingle sets are distinct per doc.

    ``max_shingle_df`` drops shingles appearing in more than that many
    TRAIN docs before the join — boilerplate shingles ("in conclusion,")
    are not contamination evidence, and at 100 TB they are also exactly
    the hot keys that would dominate the join output (the pair blow-up
    is sum over shingles of train_df x eval_df). The document-frequency
    cut is computed with one partial-aggregated groupBy on the train
    side and applied as a broadcastable anti-join.

    ``shingle_mod`` enables SKETCH mode: keep only shingles whose
    32-bit hash is ``0 (mod shingle_mod)`` — a deterministic 1/mod
    sample of each document's shingle set (hash-stable, so both sides
    keep the SAME shingles). Every exploded row count, shuffle, and the
    join output shrink by ~mod x; shared-shingle counts scale by ~1/mod
    (scale ``min_shared`` accordingly). This is the knob that keeps the
    detector linear-ish at 100 TB; ``None`` = exact.

    ``eval_exploded`` (r11): a precomputed :func:`exploded_shingles`
    frame for ``eval_df`` (same ``shingle_len``/``shingle_mod``,
    ``out_id='eval_id'``) — the eval side depends on nothing upstream,
    so a composite caller (``curate_corpus_v2``) materializes it
    CONCURRENTLY with its pair-graph phase and passes it here instead
    of recomputing.
    """
    tr = exploded_shingles(
        _spread(train), text_col, id_col, "train_id", shingle_len, shingle_mod
    )
    if max_shingle_df is not None:
        # The exploded train frame has TWO consumers (the df-cut
        # aggregate and the join side) and its lineage is the expensive
        # per-position md5 projection — materialize it once instead of
        # hashing the train corpus twice (measured ~2x on this operator
        # at sf0.1). EAGER: a lazy checkpoint materializes inside the
        # consuming job and truncates lineage mid-flight, letting the
        # ContextCleaner drop broadcasts other tasks of that job still
        # hold (observed as a transient "Block broadcast_N does not
        # exist" failure); eager runs materialization as its own job.
        tr = tr.localCheckpoint(eager=True)
        hot = (
            tr.groupBy("__g")
            .agg(F.count(F.lit(1)).alias("__df"))
            .where(F.col("__df") > max_shingle_df)
            .select("__g")
        )
        tr = tr.join(hot, "__g", "left_anti")
    ev = eval_exploded
    if ev is None:
        ev = exploded_shingles(
            _spread(eval_df), text_col, id_col, "eval_id", shingle_len,
            shingle_mod,
        )
    return (
        tr.join(ev, "__g")
        .groupBy("eval_id", "train_id")
        .agg(F.count(F.lit(1)).alias("shared"))
        .where(F.col("shared") >= min_shared)
    )


def contamination_report(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_len: int = 5,
    min_shared: int = 5,
    max_shingle_df: int | None = None,
    shingle_mod: int | None = None,
) -> DataFrame:
    """Per-eval-doc contamination summary: how many train docs exceed the
    shared-shingle floor, the worst overlap, and the worst overlap as a
    fraction of the eval doc's own shingle count.

    Output: (``id_col``, n_train_docs, max_shared, overlap_frac) for
    contaminated eval docs only. ``overlap_frac`` is
    ``max_shared / |eval shingles|`` — near 1.0 means an eval doc is
    (almost) wholly contained in some training document. In sketch mode
    (``shingle_mod``) the denominator is the eval doc's SKETCHED shingle
    count, so the fraction stays an unbiased containment estimate. The
    per-eval aggregate is a partial-agg groupBy on eval_id (bounded by
    the eval set, which is small by construction); the eval
    shingle-count join is broadcastable for the same reason.
    """
    pairs = contamination_pairs(
        train, eval_df, text_col, id_col, shingle_len, min_shared,
        max_shingle_df, shingle_mod,
    )
    return report_from_pairs(
        pairs, eval_df, text_col, id_col, shingle_len, shingle_mod
    )


def report_from_pairs(
    pairs: DataFrame,
    eval_df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_len: int = 5,
    shingle_mod: int | None = None,
) -> DataFrame:
    """Fold (eval_id, train_id, shared) contamination edges into the
    per-eval-doc report (shared by the batch and streaming detectors —
    the streaming path drains its edges from the state store first)."""
    per_eval = pairs.groupBy("eval_id").agg(
        F.count(F.lit(1)).alias("n_train_docs"),
        F.max("shared").alias("max_shared"),
    )
    size_expr = sketched_shingles_expr("__lt", shingle_len, shingle_mod)
    sizes = eval_df.select(
        F.col(id_col).alias("eval_id"),
        F.lower(F.col(text_col)).alias("__lt"),
    ).select(
        "eval_id",
        F.size(F.expr(size_expr)).alias("__n_sh"),
    )
    return per_eval.join(F.broadcast(sizes), "eval_id").select(
        F.col("eval_id").alias(id_col),
        "n_train_docs",
        "max_shared",
        (F.col("max_shared").cast("double") / F.col("__n_sh").cast("double")).alias(
            "overlap_frac"
        ),
    )


def simhash_neardup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    bands: int = 4,
    max_hamming: int = 3,
    num_bits: int = 16,
) -> DataFrame:
    """Near-duplicate pairs within a Hamming ball over SimHash
    fingerprints (E1) — the bit-space analog of MinHash LSH.

    The ``num_bits``-bit fingerprint splits into ``bands`` equal bit
    slices; by pigeonhole any pair with hamming distance <= bands-1
    agrees exactly on at least one slice, so candidates come from an
    ordinary equi-join on (band_idx, slice_value) — sub-quadratic, AQE
    skew-splittable — and the verify is one ``bit_count(xor)`` per
    candidate. Exact recall requires ``max_hamming <= bands - 1``
    (asserted); duplicates from multi-band agreement are removed by the
    same first-matching-band filter as :func:`lsh_candidate_pairs` (no
    ``distinct()`` shuffle). Output: (id_a, id_b, hamming).
    """
    if max_hamming > bands - 1:
        raise ValueError(
            f"max_hamming={max_hamming} needs bands > max_hamming "
            f"(got bands={bands}) for exact recall"
        )
    width = num_bits // bands
    sims = simhash(df, text_col, id_col)
    band_structs = [
        f"struct({b} as band_idx, "
        f"(simhash div {1 << (b * width)}) % {1 << width} as band_key)"
        for b in range(bands)
    ]
    banded = sims.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(F.expr("array(" + ", ".join(band_structs) + ")")).alias("band"),
    ).select(id_col, "simhash", "band.band_idx", "band.band_key")
    left = banded.select(
        F.col(id_col).alias("id_a"),
        F.col("simhash").alias("__sa"),
        "band_idx",
        "band_key",
    )
    right = banded.select(
        F.col(id_col).alias("id_b"),
        F.col("simhash").alias("__sb"),
        "band_idx",
        "band_key",
    )

    def band_agrees(b: int):
        return F.expr(
            f"(__sa div {1 << (b * width)}) % {1 << width} = "
            f"(__sb div {1 << (b * width)}) % {1 << width}"
        )

    not_earlier = F.lit(True)
    for b in range(bands - 1):
        not_earlier = not_earlier & ~((F.col("band_idx") > b) & band_agrees(b))
    return (
        left.join(right, ["band_idx", "band_key"])
        .where((F.col("id_a") < F.col("id_b")) & not_earlier)
        .select(
            "id_a",
            "id_b",
            F.expr("bit_count(__sa ^ __sb)").cast("long").alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
    )


def cross_split_exact_overlap(
    a: DataFrame, b: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Verbatim-overlap pairs between two row sets (split-leakage
    validation: a TRAIN doc reappearing verbatim in TEST invalidates
    the eval). The join key is ``sha2(text)`` — 32-byte digests shuffle,
    never documents — and the join is an ordinary AQE-skew-splittable
    equi-join (a boilerplate doc duplicated across both splits is a hot
    digest). Output: (id_a, id_b) for every cross-pair."""
    da = a.select(
        F.sha2(F.col(text_col), 256).alias("__dig"),
        F.col(id_col).alias("id_a"),
    )
    db = b.select(
        F.sha2(F.col(text_col), 256).alias("__dig"),
        F.col(id_col).alias("id_b"),
    )
    return da.join(db, "__dig").select("id_a", "id_b")


def duplicated_span_occurrences(
    df: DataFrame, text_col: str, id_col: str, k: int = 10
) -> DataFrame:
    """Every NON-FIRST occurrence of a duplicated ``k``-token span:
    (id, pos) rows where the ``k``-gram starting at token ``pos`` also
    occurs somewhere earlier in the corpus (global (id, pos) order).

    This is the Spark shape of exact substring deduplication ("
    Deduplicating Training Data Makes Language Models Better", Lee et
    al. 2022 — the reference pipeline uses a suffix array; a suffix
    array is a single-machine data structure, so at 100 TB the
    equivalent signal is computed relationally): explode every token
    position into its ``k``-gram hash, find each gram's first
    occurrence, and every later occurrence is a drop candidate.

    Physical form: ONE ``row_number`` window partitioned by gram hash —
    the gram projection (the expensive per-position md5 over token
    slices) is computed once and shuffled once on the 16-byte digest;
    the earlier groupBy+join-back formulation shuffled the gram rows
    twice AND re-evaluated the hashing subtree on both sides of the
    join (measured 3x slower at sf0.1). Boilerplate grams (the hot
    keys) are single window partitions — the same skew profile the
    join's build side had, and the per-row window state is one counter.

    Matching is case-insensitive (grams hash the LOWERCASED join of the
    whitespace tokens); positions index the whitespace token sequence of
    the ORIGINAL text, so callers can reconstruct original-case output.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    # per-position md5-over-slice is the expensive projection: make sure
    # an under-parallel scan (one parquet file) doesn't serialize it
    toks = _spread(df).select(
        F.col(id_col),
        F.expr(
            f"filter(split({text_col}, '\\\\s+'), x -> x != '')"
        ).alias("__toks"),
    )
    # The explode is the GENERATOR over the toks projection — the
    # Generate node blocks CollapseProject, so the tokenization is
    # evaluated once per row. Aliasing the gram array in an adjacent
    # Project instead lets the optimizer inline filter(split(text))
    # into the per-position lambda: O(tokens^2) CPU per document
    # (measured 3-15x slower at sf0.1).
    grams = toks.select(
        F.col(id_col),
        F.explode(
            F.expr(
                f"CASE WHEN size(__toks) >= {k} THEN "
                f"transform(sequence(0, size(__toks) - {k}), "
                f"p -> struct(p AS pos, md5(lower(concat_ws(' ', slice(__toks, p + 1, {k})))) AS gh)) "
                f"ELSE array() END"
            )
        ).alias("__g"),
    ).select(id_col, F.col("__g.pos").alias("pos"), F.col("__g.gh").alias("gh"))
    w = Window.partitionBy("gh").orderBy(F.asc(id_col), F.asc("pos"))
    return (
        grams.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") > 1)
        .select(id_col, "pos")
    )


def span_dedup(
    df: DataFrame, text_col: str, id_col: str, k: int = 10
) -> DataFrame:
    """Approximate duplicated-span removal (greedy first-occurrence-wins):
    drop from each document every token covered by a ``k``-token span
    whose gram's first corpus occurrence is elsewhere (within-document
    repeats collapse too). Output:
    (id, clean_text, n_tokens, n_kept, n_dropped).

    APPROXIMATION, not the suffix-array guarantee: every non-first gram
    occurrence is removed independently, so when duplicated spans
    OVERLAP, a keeper span can be clipped by a different span's removal
    — the corpus-wide "exactly one surviving copy per span" property
    holds for isolated duplicates but not for overlapping ones (Lee et
    al. 2022's suffix-array pass resolves overlaps globally; that is a
    single-machine structure, this is the relational form).

    Reconstruction: matching is case-insensitive, but ``clean_text`` is
    rebuilt from the ORIGINAL-case whitespace tokens — only inter-token
    whitespace is normalized to single spaces; casing survives.

    Scale shape: the only wide ops are the gram groupBy + re-join in
    :func:`duplicated_span_occurrences` and one groupBy(id) that
    collects each document's duplicate START POSITIONS (bounded by
    tokens-per-doc, carried as ints — the document text itself never
    reshuffles: reconstruction re-joins the positions back onto the
    original row by id). Interval-cover + rebuild are per-row
    higher-order functions, fully codegen'd, no Python.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    dup = duplicated_span_occurrences(df, text_col, id_col, k)
    dup_pos = dup.groupBy(id_col).agg(F.collect_list("pos").alias("__dp"))
    toks = _spread(df).select(
        F.col(id_col),
        F.expr(
            f"filter(split({text_col}, '\\\\s+'), x -> x != '')"
        ).alias("__toks"),
    )
    covered = (
        f"exists(__dp, p -> p <= t AND t < p + {k})"
    )
    return (
        toks.join(dup_pos, id_col, "left")
        .select(
            id_col,
            "__toks",
            F.expr("coalesce(__dp, array())").alias("__dp"),
        )
        .select(
            id_col,
            "__toks",
            # sequence(0, -1) counts DOWN ([0, -1]) and element_at(_, 0)
            # raises under ANSI — empty docs need the explicit guard.
            F.expr(
                f"CASE WHEN size(__toks) > 0 THEN "
                f"filter(sequence(0, size(__toks) - 1), t -> NOT ({covered})) "
                f"ELSE array() END"
            ).alias("__kept"),
        )
        .select(
            F.col(id_col),
            F.expr(
                "concat_ws(' ', transform(__kept, t -> element_at(__toks, t + 1)))"
            ).alias("clean_text"),
            F.expr("size(__toks)").cast("long").alias("n_tokens"),
            F.expr("size(__kept)").cast("long").alias("n_kept"),
            F.expr("size(__toks) - size(__kept)").cast("long").alias("n_dropped"),
        )
    )


def semantic_dedup(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    centroids: DataFrame,
    threshold: float = 0.95,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication" — public arXiv paper): cluster embeddings, compare
    pairs ONLY within a cluster, and drop every document that has a
    more-canonical (lower-id) semantic duplicate at cosine >=
    ``threshold``. Returns the surviving rows of ``df``.

    This is the published algorithm's exact scale shape: the k-means
    partition bounds the quadratic — within-cell pairwise cost is
    sum(|cell|^2) instead of |corpus|^2, and k grows with the corpus so
    cells stay bounded. Composition here: broadcast-centroid
    :func:`~.similarity.ivf_assign` (one bounded argmax shuffle), the
    cell-blocked equi-self-join of :func:`embedding_neardup_pairs`
    (never a cross product), and a left-anti join on the dropped-id set
    (the duplicates — the small side). The corpus never shuffles except
    on its cell key.

    Centroids are caller-supplied (fit with
    :func:`~.similarity.kmeans_fit`, or any deterministic seed set), so
    the same fitted partition is reusable across incremental runs.
    """
    from .similarity import ivf_assign

    assign = ivf_assign(df, centroids, vec_col, id_col)
    cells = df.join(assign, id_col)
    pairs = embedding_neardup_pairs(
        cells, vec_col, id_col, block_col="centroid_id", threshold=threshold
    )
    dropped = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(dropped, id_col, "left_anti")


def blocked_linkage(
    left: DataFrame,
    right: DataFrame,
    text_col: str,
    id_col: str,
    block_col: str,
    max_distance: int = 6,
) -> DataFrame:
    """Blocked fuzzy record linkage: match each LEFT record to its best
    RIGHT record by edit distance, comparing only within equal
    ``block_col`` values (the classic blocking strategy from the record
    -linkage literature — Fellegi-Sunter style candidate generation).
    The reference pipeline has no linkage stage; this is the E1
    extension operators applied to entity resolution: dirty batch vs
    clean catalog (dedup across representations rather than exact
    copies).

    Match rule: candidates share a block AND have
    ``levenshtein(left.text, right.text) <= max_distance``; the winner
    per left record is the minimum distance, ties broken by the
    smaller right id (deterministic). Unmatched left records are
    dropped (callers wanting them do a left-anti join on the output).

    Scale shape: the only wide op is the block equi-join — cost is
    sum over blocks of |L_b| x |R_b|, never a cross product, so block
    key choice bounds the work exactly like LSH bands bound MinHash
    verification. ``levenshtein`` is a JVM builtin (codegen, no
    Python), and the per-left argmin is a partial-aggregated
    ``min_by`` groupBy, not a window sort. Hot blocks are AQE
    skew-splittable since the join is a plain equi-join.

    Output: (<id_col>_left, matched_id, distance).
    """
    if max_distance < 0:
        raise ValueError(f"max_distance must be >= 0, got {max_distance}")
    l = left.select(
        F.col(id_col).alias("__lid"),
        F.col(text_col).alias("__ltext"),
        F.col(block_col).alias("__blk"),
    )
    r = right.select(
        F.col(id_col).alias("__rid"),
        F.col(text_col).alias("__rtext"),
        F.col(block_col).alias("__blk"),
    )
    cand = l.join(r, "__blk").withColumn(
        "__dist", F.levenshtein(F.col("__ltext"), F.col("__rtext"))
    ).where(F.col("__dist") <= max_distance)
    return (
        cand.groupBy(F.col("__lid").alias(f"{id_col}_left"))
        .agg(
            F.min_by(
                F.col("__rid"), F.struct(F.col("__dist"), F.col("__rid"))
            ).alias("matched_id"),
            F.min("__dist").cast("long").alias("distance"),
        )
    )


def containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_len: int = 5,
    threshold: float = 0.8,
    max_shingle_df: int = 20,
    shingle_mod: int | None = None,
) -> DataFrame:
    """Directed asymmetric containment pairs: ``|A∩B| / |A| >=
    threshold`` over hashed distinct ``shingle_len``-gram sets —
    excerpt/quote detection (Broder 1997's containment measure,
    public). A short doc fully embedded in a long one has containment
    ~1 while its Jaccard is near zero (the union is dominated by
    |B|), so symmetric dedup misses exactly the excerpt/expansion
    family this operator exists for.

    Physical strategy is the contamination join, not all-pairs: both
    sides explode to (shingle_hash, id), boilerplate shingles
    appearing in more than ``max_shingle_df`` docs are cut with a
    partial-agg groupBy + anti-join BEFORE the pair join (they are
    not containment evidence, and at 100 TB they are exactly the hot
    keys whose train_df x eval_df pair blow-up would dominate), and
    only docs sharing a surviving shingle ever meet — an ordinary
    AQE-skew-splittable equi-join on an 8-byte int. Denominator
    ``|A|`` counts the POST-CUT shingle set (both engines, both sides
    of the ratio — documented contract). ``shingle_mod`` enables the
    same deterministic 1/mod shingle sketch as
    :func:`contamination_pairs` for corpus scale.

    Output: (id_a, id_b, n_shared BIGINT, containment DOUBLE) — the
    DIRECTED edge "id_a is contained in id_b"; both directions can
    appear.
    """
    sh = exploded_shingles(
        df, text_col, id_col, "__id", shingle_len, shingle_mod
    ).localCheckpoint(eager=True)  # feeds the df-cut agg AND both join sides
    hot = (
        sh.groupBy("__g")
        .agg(F.count(F.lit(1)).alias("__df"))
        .where(F.col("__df") > max_shingle_df)
        .select("__g")
    )
    kept = sh.join(hot, "__g", "left_anti").localCheckpoint(eager=True)
    sizes = kept.groupBy("__id").agg(
        F.count(F.lit(1)).cast("long").alias("__sz")
    )
    a = kept.select(F.col("__id").alias("id_a"), "__g")
    b = kept.select(F.col("__id").alias("id_b"), "__g")
    inter = (
        a.join(b, "__g")
        .where(F.col("id_a") != F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    return (
        inter.join(
            sizes.withColumnRenamed("__id", "id_a"), "id_a"
        )
        .withColumn(
            "containment",
            F.round(F.col("n_shared") / F.col("__sz"), 6),
        )
        .where(F.col("containment") >= F.lit(float(threshold)))
        .select("id_a", "id_b", "n_shared", "containment")
    )


def soft_dedup_weights(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Soft deduplication: instead of DROPPING duplicates, weight every
    row by the inverse of its duplicate-cluster size (normalized-text
    groups, same canonicalization as ``normalized_dedup``), so a
    document repeated a million times contributes ONE document's worth
    of gradient. The training-data alternative to hard dedup when the
    duplicated text is legitimate (licenses, templates) and the epoch
    sampler consumes weights rather than a filtered corpus.

    Output: every input row with ``cluster_size`` (BIGINT), ``weight``
    (= 1/cluster_size), and ``is_canonical`` (1 for the lowest id in
    the cluster). Scale shape: one digest groupBy (map-side partial
    agg: count + min(id) per digest) broadcast-or-shuffle-joined back —
    digests move, documents don't.
    """
    norm = F.trim(
        F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9]+", " ")
    )
    keyed = df.withColumn("__ndig", F.sha2(norm, 256))
    stats = keyed.groupBy("__ndig").agg(
        F.count(F.lit(1)).alias("cluster_size"),
        F.min(id_col).alias("__canon"),
    )
    return (
        keyed.join(stats, "__ndig")
        .withColumn("weight", F.round(F.lit(1.0) / F.col("cluster_size"), 6))
        .withColumn(
            "is_canonical",
            F.when(F.col(id_col) == F.col("__canon"), F.lit(1))
            .otherwise(F.lit(0))
            .cast("long"),
        )
        .withColumn("cluster_size", F.col("cluster_size").cast("long"))
        .drop("__ndig", "__canon")
    )
