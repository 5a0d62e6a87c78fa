"""Round-8 operator tests: interval overlap join, distributed sweep-line
concurrency, content-defined chunking, soft dedup weights, compaction
planning. Each new operator gets a brute-force Python reference on a
deterministic fixture — same strategy as SURVEY.md §5."""

import hashlib
import random

from pyspark.sql import functions as F

from tensorflow_recorder_spark.operators.chunking import cdc_chunks
from tensorflow_recorder_spark.operators.dedup import soft_dedup_weights
from tensorflow_recorder_spark.operators.intervals import (
    concurrency_by_hour,
    hot_hour_incidents,
    interval_join,
)


# ---------------------------------------------------------- intervals


def _mk_intervals(seed, n, span):
    rng = random.Random(seed)
    out = []
    for i in range(n):
        s = rng.randrange(span)
        out.append((i, s, s + rng.randrange(1, 7200)))
    return out


def test_interval_join_matches_naive_theta_join(spark):
    left = _mk_intervals(1, 60, 86400)
    right = [(j, s, e) for (j, s, e) in _mk_intervals(2, 40, 86400)]
    ldf = spark.createDataFrame(left, "lid int, ls long, le long")
    rdf = spark.createDataFrame(right, "rid int, rs long, re long")
    got = {
        (r.lid, r.rid, r.overlap_s)
        for r in interval_join(ldf, rdf, "ls", "le", "rs", "re", 3600).collect()
    }
    want = {
        (i, j, min(le, re_) - max(ls, rs))
        for (i, ls, le) in left
        for (j, rs, re_) in right
        if ls <= re_ and rs <= le
    }
    assert got == want
    assert len(got) > 0


def test_interval_join_no_duplicate_pairs_across_buckets(spark):
    # one long left interval spanning many buckets must match each
    # right interval exactly once (first-common-bucket guard)
    ldf = spark.createDataFrame([(1, 0, 50_000)], "lid int, ls long, le long")
    rdf = spark.createDataFrame(
        [(1, 10, 40_000), (2, 39_000, 60_000)], "rid int, rs long, re long"
    )
    rows = interval_join(ldf, rdf, "ls", "le", "rs", "re", 3600).collect()
    assert sorted((r.lid, r.rid) for r in rows) == [(1, 1), (1, 2)]


def test_concurrency_by_hour_matches_bruteforce_sweep(spark):
    iv = _mk_intervals(3, 80, 30 * 3600)
    df = spark.createDataFrame(iv, "i int, s long, e long")
    got = {
        (r.hour, r.max_conc, r.n_changes)
        for r in concurrency_by_hour(df, "s", "e").collect()
    }
    # brute force: net deltas per change point, global prefix sum,
    # max per hour over change points
    deltas = {}
    for (_, s, e) in iv:
        deltas[s] = deltas.get(s, 0) + 1
        deltas[e + 1] = deltas.get(e + 1, 0) - 1
    conc, per_hour = 0, {}
    import datetime

    for t in sorted(deltas):
        conc += deltas[t]
        hr = t // 3600
        mx, nc = per_hour.get(hr, (-(10**9), 0))
        per_hour[hr] = (max(mx, conc), nc + 1)
    want = {
        (
            datetime.datetime.fromtimestamp(
                hr * 3600, datetime.timezone.utc
            ).strftime("%Y-%m-%d %H:%M"),
            mx,
            nc,
        )
        for hr, (mx, nc) in per_hour.items()
    }
    assert got == want


def test_hot_hour_incidents_merges_adjacent_hours(spark):
    rows = []
    # type A: baseline 1 event/hour for 10 hours, hot burst (5/hour)
    # in hours 3 and 4 -> one merged incident
    eid = 0
    for h in range(10):
        n = 5 if h in (3, 4) else 1
        for k in range(n):
            rows.append((eid, h * 3600 + k, "A"))
            eid += 1
    df = spark.createDataFrame(rows, "event_id int, tsec long, event_type string")
    df = df.withColumn("ts", F.timestamp_seconds("tsec"))
    inc = hot_hour_incidents(df).collect()
    assert len(inc) == 1
    r = inc[0]
    assert (r.inc_start, r.inc_end, r.n_hot_events) == (3 * 3600, 5 * 3600 - 1, 10)


# -------------------------------------------------------- CDC chunking


def _py_cdc(text, w=8, d=64):
    """Independent Python reference for the buzhash cut predicate (r9:
    O(1) rolling hash replaced the md5-of-window stand-in)."""
    from tensorflow_recorder_spark.operators.chunking import buzhash_tables

    tables = buzhash_tables(w)
    lt = text.lower()
    codes = [ord(ch) % 256 for ch in lt]

    def h(p):  # 1-based end position
        acc = 0
        for k in range(w):
            acc ^= tables[k][codes[p - 1 - k]]
        return acc

    cuts = [p for p in range(w, len(text) + 1) if h(p) % d == 0]
    if len(text) > 0 and (not cuts or cuts[-1] != len(text)):
        cuts.append(len(text))
    spans, prev = [], 0
    for c in cuts:
        spans.append((prev + 1, c))
        prev = c
    return spans


def test_cdc_chunks_match_python_reference_and_reassemble(spark):
    rng = random.Random(7)
    texts = [
        (i, " ".join(rng.choice("alpha beta Gamma DELTA epsilon zeta".split()) for _ in range(rng.randrange(0, 120))))
        for i in range(30)
    ]
    df = spark.createDataFrame(texts, "doc_id int, text string")
    rows = cdc_chunks(df, include_text=True).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    for i, text in texts:
        got = sorted(by_doc.get(i, []), key=lambda r: r.chunk_idx)
        want = _py_cdc(text)
        assert len(got) == len(want), (i, text)
        # chunks reassemble to the original text, hashes match bytes
        assert "".join(r.chunk_text for r in got) == text
        for r, (s, e) in zip(got, want):
            assert r.chunk_len == e - s + 1
            assert r.chunk_hash == hashlib.md5(text[s - 1 : e].encode()).hexdigest()


def test_cdc_boundary_stability_under_prefix_shift(spark):
    rng = random.Random(11)
    body = " ".join(rng.choice("lorem ipsum dolor sit amet xyz".split()) for _ in range(4000))
    df = spark.createDataFrame(
        [(1, body), (2, "PREFIX_SHIFT " + body)], "doc_id int, text string"
    )
    rows = cdc_chunks(df).collect()
    h1 = {r.chunk_hash for r in rows if r.doc_id == 1}
    h2 = {r.chunk_hash for r in rows if r.doc_id == 2}
    # the defining CDC property: a prefix edit leaves almost every
    # downstream boundary (hence chunk hash) intact
    assert len(h1 & h2) / len(h2) > 0.9


# ------------------------------------------------ soft dedup / layout


def test_soft_dedup_weights_mass_and_canonicals(spark):
    df = spark.createDataFrame(
        [
            (1, "Hello, World!"),
            (2, "hello world"),
            (3, "HELLO  world."),
            (4, "something else"),
        ],
        "doc_id int, text string",
    )
    rows = soft_dedup_weights(df, "text", "doc_id").collect()
    assert len(rows) == 4  # nothing dropped
    by_id = {r.doc_id: r for r in rows}
    assert by_id[1].cluster_size == 3 and by_id[4].cluster_size == 1
    assert [r.doc_id for r in rows if r.is_canonical == 1] in ([1, 4], [4, 1])
    # total sampling mass == number of distinct normalized texts
    assert abs(sum(r.weight for r in rows) - 2.0) < 1e-4


def test_compaction_plan_conserves_bytes_and_is_contiguous(spark):
    from tensorflow_recorder_spark.queries.e6 import q_e6_compaction_plan

    plan = q_e6_compaction_plan(spark, "/root/testdata/sf0.001").collect()
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    total = docs.agg(F.sum("n_chars")).collect()[0][0]
    assert sum(r.bin_chars for r in plan) == total
    by_src = {}
    for r in plan:
        by_src.setdefault(r.source, []).append(r.bin_id)
    # sf0.001 has no doc larger than the 16 KiB target, so bins are
    # contiguous from 0 (the no-overflow special case of the contract)
    for src, bins in by_src.items():
        bins = sorted(bins)
        assert bins[0] == 0 and bins == list(range(len(bins))), src


def test_compaction_plan_oversized_doc_overflows_and_skips_bins(spark, tmp_path):
    """r8 advice: a document larger than the 16384-char target is one
    unsplittable file — its bin fills past 1.0 and later docs skip the
    bin ids its overflow covers. Pinned bound: per source, bin ids are
    strictly increasing and next <= prev + 1 + prev_bin_chars // target."""
    import os

    from tensorflow_recorder_spark.queries.e6 import q_e6_compaction_plan

    target = 16384
    rows = [
        # (doc_id, source, n_chars): small, HUGE (3.2x target), small
        (1, "sA", 1000),
        (2, "sA", 52000),
        (3, "sA", 1000),
        (4, "sA", 1000),
        (5, "sB", 500),
    ]
    spark.createDataFrame(
        rows, "doc_id long, source string, n_chars long"
    ).write.parquet(os.path.join(str(tmp_path), "documents.parquet"))
    plan = {
        (r.source, r.bin_id): r
        for r in q_e6_compaction_plan(spark, str(tmp_path)).collect()
    }
    # doc 2 starts at offset 1000 -> bin 0; its bin holds 1000+52000
    # chars (fill > 3) and doc 3 starts at 53000 -> bin 3 (1,2 skipped)
    assert plan[("sA", 0)].bin_chars == 53000
    assert plan[("sA", 0)].fill > 3.0
    assert ("sA", 1) not in plan and ("sA", 2) not in plan
    assert plan[("sA", 3)].bin_chars == 2000
    assert plan[("sB", 0)].bin_chars == 500
    # conservation + the documented monotone-gap bound
    assert sum(r.bin_chars for r in plan.values()) == 55500
    sa_bins = sorted(b for (s, b) in plan if s == "sA")
    for prev, nxt in zip(sa_bins, sa_bins[1:]):
        assert nxt <= prev + 1 + plan[("sA", prev)].bin_chars // target


def test_s36_stream_cdc_dedup_matches_batch_sketch(spark):
    """Batch/stream sketch parity: the streaming (source, reg) HLL of
    chunk hashes, drained availableNow, finalizes to exactly what the
    batch pipeline computes from the same chunks."""
    from tensorflow_recorder_spark.operators.sketches import hll_register_exprs
    from tensorflow_recorder_spark.queries.streams import q_s36_stream_cdc_dedup

    sf = "/root/testdata/sf0.001"
    got = {tuple(r) for r in q_s36_stream_cdc_dedup(spark, sf).collect()}

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    chunks = cdc_chunks(docs, keep=["source"])
    reg, rho = hll_register_exprs("chunk_hash", 10)
    regs = (
        chunks.select("source", F.expr(reg).alias("reg"), F.expr(rho).alias("rho"))
        .groupBy("source", "reg")
        .agg(F.max("rho").alias("max_rho"), F.count(F.lit(1)).alias("cnt"))
    )
    m, alpha = 1024, 0.7213 / (1.0 + 1.079 / 1024)
    want = {
        tuple(r)
        for r in regs.groupBy("source")
        .agg(
            F.sum(F.expr("pow(cast(2 as double), -max_rho)")).alias("inv_sum"),
            F.count(F.lit(1)).alias("n_nonzero"),
            F.sum("cnt").cast("long").alias("n_chunks"),
        )
        .select(
            "source",
            "n_chunks",
            F.expr(f"round({alpha} * {m} * {m} / (inv_sum + ({m} - n_nonzero)), 4)").alias("raw_est"),
            "n_nonzero",
        )
        .select(
            "source",
            "n_chunks",
            F.expr(
                f"cast(round(CASE WHEN raw_est <= {2.5 * m} AND ({m} - n_nonzero) > 0 "
                f"THEN {m} * ln(cast({m} as double) / ({m} - n_nonzero)) "
                f"ELSE raw_est END) as bigint)"
            ).alias("est_unique_chunks"),
        )
        .collect()
    }
    assert got == want and len(got) > 0
    # sketch sanity: estimates within 15% of exact uniques per source
    exact = {
        r.source: r.u
        for r in chunks.groupBy("source")
        .agg(F.countDistinct("chunk_hash").alias("u"))
        .collect()
    }
    for src, _, est in got:
        assert abs(est - exact[src]) / exact[src] < 0.15, (src, est, exact[src])


def test_interval_join_plans_as_equi_join_not_nested_loop(spark):
    """The reason interval_join exists: a raw overlap predicate plans a
    BroadcastNestedLoopJoin/CartesianProduct over the corpus; the
    bucket-grid rewrite must plan a hash or sort-merge EQUI-join on the
    bucket key for the bulk of the data. Since r9 the plan ALSO carries
    two declarative broadcast-theta branches for >max_cells outlier
    intervals (bounded: their build sides are filtered to rows spanning
    more than max_cells grid cells, rare by construction; AQE eliminates
    the branches at runtime when they are empty) — so exactly two
    BroadcastNestedLoopJoins are expected, and never a CartesianProduct."""
    from tensorflow_recorder_spark.queries.e4 import q_e4_incident_overlap

    plan = q_e4_incident_overlap(
        spark, "/root/testdata/sf0.001"
    )._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastNestedLoopJoin") <= 2
    assert "CartesianProduct" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    )


def test_interval_join_negative_epochs_floor_buckets(spark):
    """r8 verdict item 4: cast-truncation bucket math collapsed buckets
    -1 and 0 for pre-1970 epochs, so an overlapping pair whose first
    common bucket is negative could be dropped. floor() keeps them
    distinct; the full pair set must match the naive theta join."""
    left = [(i, s, s + d) for i, (s, d) in enumerate(
        [(-7200, 1800), (-3599, 3598), (-100, 200), (-86400, 90000), (3600, 100)]
    )]
    right = [(j + 100, s, s + d) for j, (s, d) in enumerate(
        [(-7000, 500), (-1, 2), (-90000, 4000), (50, 25)]
    )]
    ldf = spark.createDataFrame(left, "lid int, ls long, le long")
    rdf = spark.createDataFrame(right, "rid int, rs long, re long")
    got = {
        (r.lid, r.rid, r.overlap_s)
        for r in interval_join(ldf, rdf, "ls", "le", "rs", "re", 3600).collect()
    }
    want = {
        (i, j, min(le, re_) - max(ls, rs))
        for (i, ls, le) in left
        for (j, rs, re_) in right
        if ls <= re_ and rs <= le
    }
    assert got == want
    assert len(got) >= 4  # fixture actually exercises negative overlap


def test_interval_join_outlier_rows_bypass_grid_and_stay_exact(spark):
    """r8 advice: one pathological multi-week interval among hour-scale
    rows must not explode onto thousands of grid cells. With max_cells=4
    the outlier routes through the broadcast theta branch; results stay
    exactly the naive theta join, and the grid branch's per-row explode
    is bounded by max_cells by construction."""
    import random

    rng = random.Random(9)
    left = [(i, s, s + rng.randint(60, 3600)) for i, s in enumerate(
        sorted(rng.randint(0, 86400) for _ in range(40))
    )]
    left.append((999, 0, 21 * 86400))  # three-week outlier
    right = [(j + 5000, s, s + rng.randint(60, 7200)) for j, s in enumerate(
        sorted(rng.randint(0, 30 * 86400) for _ in range(40))
    )]
    right.append((9999, 100, 28 * 86400))  # outlier on the right too
    ldf = spark.createDataFrame(left, "lid int, ls long, le long")
    rdf = spark.createDataFrame(right, "rid int, rs long, re long")
    got = {
        (r.lid, r.rid, r.overlap_s)
        for r in interval_join(
            ldf, rdf, "ls", "le", "rs", "re", 1800, max_cells=4
        ).collect()
    }
    want = {
        (i, j, min(le, re_) - max(ls, rs))
        for (i, ls, le) in left
        for (j, rs, re_) in right
        if ls <= re_ and rs <= le
    }
    assert got == want
    # the outliers DID match things (the branch is exercised)
    assert any(l == 999 for (l, _, _) in got)
    assert any(r == 9999 for (_, r, _) in got)


def test_interval_join_auto_bucket_matches_explicit(spark):
    """bucket_seconds=None tunes the grid to the median interval length;
    the result set is bucket-invariant so auto must equal explicit."""
    from tensorflow_recorder_spark.operators.intervals import auto_bucket_seconds

    left = [(i, i * 500, i * 500 + 400) for i in range(30)]
    right = [(j + 100, j * 700, j * 700 + 650) for j in range(25)]
    ldf = spark.createDataFrame(left, "lid int, ls long, le long")
    rdf = spark.createDataFrame(right, "rid int, rs long, re long")
    b = auto_bucket_seconds(ldf, rdf, "ls", "le", "rs", "re")
    assert 300 <= b <= 800  # near the median length (401 or 651)
    auto = {
        (r.lid, r.rid)
        for r in interval_join(ldf, rdf, "ls", "le", "rs", "re").collect()
    }
    explicit = {
        (r.lid, r.rid)
        for r in interval_join(ldf, rdf, "ls", "le", "rs", "re", 3600).collect()
    }
    assert auto == explicit and len(auto) > 0


def test_interval_join_rejects_shared_columns_and_bad_bucket(spark):
    import pytest as _pytest

    a = spark.createDataFrame([(1, 0, 10)], "x int, s long, e long")
    b = spark.createDataFrame([(2, 0, 10)], "x int, rs long, re long")
    with _pytest.raises(ValueError, match="disjoint"):
        interval_join(a, b, "s", "e", "rs", "re")
    c = spark.createDataFrame([(2, 0, 10)], "y int, rs long, re long")
    with _pytest.raises(ValueError, match="positive"):
        interval_join(a, c, "s", "e", "rs", "re", 0)


# ------------------------------------------------- r9 regression pins


def test_cdc_chunks_nondefault_window_and_divisor_match_reference(spark):
    """The buzhash generalizes beyond the shipped (8, 64) call sites:
    window=4 / divisor=16 must match the Python reference (pinned so a
    future table or rotation change cannot silently skew non-default
    geometries)."""
    rng = random.Random(17)
    texts = [
        (i, " ".join(rng.choice("foo Bar baz QUX quux".split())
                      for _ in range(rng.randrange(0, 90))))
        for i in range(20)
    ]
    df = spark.createDataFrame(texts, "doc_id int, text string")
    rows = cdc_chunks(df, window=4, divisor=16, include_text=True).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    for i, text in texts:
        got = sorted(by_doc.get(i, []), key=lambda r: r.chunk_idx)
        want = _py_cdc(text, w=4, d=16)
        assert len(got) == len(want), (i, text)
        assert "".join(r.chunk_text for r in got) == text
        for r, (s, e) in zip(got, want):
            assert r.chunk_len == e - s + 1


def test_cdc_chunks_rejects_out_of_range_window(spark):
    df = spark.createDataFrame([(1, "abc")], "doc_id int, text string")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="window"):
        cdc_chunks(df, window=0)
    with _pytest.raises(ValueError, match="window"):
        cdc_chunks(df, window=33)


def test_auto_bucket_seconds_degenerate_inputs(spark):
    """Empty frames must fall back to the 3600s default instead of
    raising; single-row frames pick that row's length."""
    from tensorflow_recorder_spark.operators.intervals import auto_bucket_seconds

    empty = spark.createDataFrame([], "lid int, ls long, le long")
    empty_r = spark.createDataFrame([], "rid int, rs long, re long")
    assert auto_bucket_seconds(empty, empty_r, "ls", "le", "rs", "re") == 3600
    one = spark.createDataFrame([(1, 0, 99)], "lid int, ls long, le long")
    assert auto_bucket_seconds(one, empty_r, "ls", "le", "rs", "re") == 100
