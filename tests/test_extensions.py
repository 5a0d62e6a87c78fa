"""Extension-operator tests (E1-E4): dedup, similarity, text analysis,
event-time ops — small deterministic inputs with hand-checked outputs."""

import math

import pytest

from pyspark.sql import Row, functions as F

from tensorflow_recorder_spark.operators import dedup, events, similarity, text


# ------------------------------------------------------------------ E1


def test_exact_dedup_keeps_lowest_id(spark):
    df = spark.createDataFrame(
        [(1, "same"), (2, "same"), (3, "other"), (4, "same")], "id long, txt string"
    )
    got = sorted(r["id"] for r in dedup.exact_dedup(df, "txt", "id").collect())
    assert got == [1, 3]


def test_minhash_identical_texts_share_signature(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (2, "the quick brown fox jumps"), (3, "completely different words here")],
        "id long, txt string",
    )
    sigs = {r["id"]: tuple(r[f"mh_{k}"] for k in range(8))
            for r in dedup.minhash_signatures(df, "txt", "id").collect()}
    assert sigs[1] == sigs[2]
    assert sigs[1] != sigs[3]


def test_lsh_pairs_find_identical_docs(spark):
    df = spark.createDataFrame(
        [(1, "aaaa bbbb cccc dddd eeee"), (2, "aaaa bbbb cccc dddd eeee"), (3, "zzzz yyyy xxxx wwww vvvv")],
        "id long, txt string",
    )
    sigs = dedup.minhash_signatures(df, "txt", "id")
    pairs = dedup.lsh_candidate_pairs(sigs, "id").collect()
    assert [(p["id_a"], p["id_b"], p["est_jaccard"]) for p in pairs] == [(1, 2, 1.0)]


def test_ngram_jaccard_exact_values(spark):
    df = spark.createDataFrame(
        [(1, "abcdef", "x"), (2, "abcdef", "x"), (3, "abcdeg", "x"), (4, "abcdef", "y")],
        "id long, txt string, src string",
    )
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in dedup.ngram_jaccard_pairs(df, "txt", "id", block_col="src",
                                                shingle_len=5, threshold=0.0).collect()}
    assert pairs[(1, 2)] == 1.0
    # "abcdef" 5-grams {abcde, bcdef}; "abcdeg" {abcde, bcdeg}: j = 1/3
    assert abs(pairs[(1, 3)] - 1 / 3) < 1e-12
    assert (1, 4) not in pairs  # different block


def test_simhash_deterministic_and_near(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma"), (3, "alpha beta gamma delta")],
        "id long, txt string",
    )
    hs = {r["id"]: r["simhash"] for r in dedup.simhash(df, "txt", "id").collect()}
    assert hs[1] == hs[2]
    assert 0 <= hs[1] < 2**16
    # one extra token flips few bits
    assert bin(hs[1] ^ hs[3]).count("1") <= 8


# ------------------------------------------------------------------ E2


def test_brute_force_topk_orthogonal_vectors(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [0.0, 0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = similarity.brute_force_topk(df, df.where(F.col("vec_id") == 0), k=2)
    got = [(r["neighbor_id"], r["rank"]) for r in out.orderBy("rank").collect()]
    assert got == [(1, 1), (2, 2)] or got[0] == (1, 1)


def test_ivf_assign_and_topk(spark):
    rows = [
        (0, [1.0, 0.0]),   # centroid A
        (1, [0.0, 1.0]),   # centroid B
        (10, [0.99, 0.1]),
        (11, [0.1, 0.99]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    centroids = df.where(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    assign = {r["vec_id"]: r["centroid_id"] for r in similarity.ivf_assign(df, centroids).collect()}
    assert assign[10] == 0 and assign[11] == 1
    out = similarity.ivf_topk(df, centroids, df.where(F.col("vec_id") == 10), k=5)
    neighbors = {r["neighbor_id"] for r in out.collect()}
    assert 0 in neighbors          # same cell
    assert 11 not in neighbors     # other cell (nprobe=1 approximation)


# ------------------------------------------------------------------ E3


def test_token_stats(spark):
    df = spark.createDataFrame([(1, "Hello world hello")], "id long, txt string")
    r = text.token_stats(df, "txt", "id").collect()[0]
    assert r["n_tokens"] == 3
    assert r["n_distinct"] == 2
    # hello(5)->2, world(5)->2, hello->2 pieces
    assert r["n_subword"] == 6


def test_quality_score_bounds(spark):
    df = spark.createDataFrame(
        [(1, "the cat sat on the mat " * 10), (2, "!!! ??? ###")],
        "id long, txt string",
    )
    rows = {r["id"]: r for r in text.quality_score(df, "txt", "id").collect()}
    assert rows[1]["quality_score"] > rows[2]["quality_score"]
    assert 0.0 <= rows[2]["quality_score"] <= 1.0
    assert rows[2]["punct_ratio"] > 0.5


def test_language_id(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog in that house"),
            (2, "el perro y la casa de los gatos"),
            (3, "der hund und die katze ist nicht da"),
            (4, "qwz xcv bnm"),
        ],
        "id long, txt string",
    )
    got = {r["id"]: r["lang_pred"] for r in text.language_id(df, "txt", "id").collect()}
    assert got[1] == "en"
    assert got[2] == "es"
    assert got[3] == "de"
    assert got[4] == "und"


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [(1, "Hello,   World!"), (2, "hello world"), (3, "different")],
        "id long, txt string",
    )
    fp = {r["id"]: r["fingerprint"] for r in text.fingerprint(df, "txt", "id").collect()}
    assert fp[1] == fp[2]
    assert fp[1] != fp[3]


def test_word_frequencies_topn_ordering(spark):
    df = spark.createDataFrame([(1, "b b a a c")], "id long, txt string")
    got = [(r["word"], r["n"]) for r in text.word_frequencies(df, "txt", top_n=2).collect()]
    assert got == [("a", 2), ("b", 2)]  # count desc, word asc tiebreak


# ------------------------------------------------------------------ E4


def _events_df(spark):
    rows = [
        Row(event_id=1, ts="2024-01-01 10:00:00", user_id=1, event_type="a", value=1.0),
        Row(event_id=2, ts="2024-01-01 10:10:00", user_id=1, event_type="b", value=2.0),
        Row(event_id=3, ts="2024-01-01 11:30:00", user_id=1, event_type="a", value=3.0),
        Row(event_id=4, ts="2024-01-01 10:05:00", user_id=2, event_type="a", value=4.0),
    ]
    return spark.createDataFrame(rows).withColumn("ts", F.col("ts").cast("timestamp"))


def test_hourly_rollup(spark):
    out = events.hourly_rollup(_events_df(spark))
    got = {(r["hour"], r["event_type"]): r["n_events"] for r in out.collect()}
    assert got[("2024-01-01 10:00:00", "a")] == 2
    assert got[("2024-01-01 11:00:00", "a")] == 1


def test_sessionize_gap_splits(spark):
    out = events.sessionize(_events_df(spark), gap_minutes=30).collect()
    u1 = sorted([r for r in out if r["user_id"] == 1], key=lambda r: r["session_seq"])
    assert len(u1) == 2  # 80-min gap splits into two sessions
    assert u1[0]["n_events"] == 2 and u1[0]["duration_s"] == 600
    assert u1[1]["n_events"] == 1
    u2 = [r for r in out if r["user_id"] == 2]
    assert len(u2) == 1


def test_asof_latest(spark):
    out = events.asof_latest(_events_df(spark), "2024-01-01 10:30:00")
    got = {r["user_id"]: (r["asof_value"], r["asof_type"]) for r in out.collect()}
    assert got[1] == (2.0, "b")  # event 3 is after the cutoff
    assert got[2] == (4.0, "a")


def test_blocked_jaccard_matches_sql_formulation(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog", "x"),
        (2, "the quick brown fox jumped over the lazy dog", "x"),
        (3, "completely unrelated text with other words", "x"),
        (4, "the quick brown fox jumps over the lazy dog", "y"),
        (5, "the quick brown fox jumps over the lazy dog!", "y"),
        (6, "short", "y"),
    ]
    df = spark.createDataFrame(rows, "id long, txt string, src string")
    fast = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
        for r in dedup.blocked_jaccard_pairs(
            df, "txt", "id", "src", shingle_len=5, threshold=0.1
        ).collect()
    }
    # reference: plain-SQL pairwise formulation on UNhashed string shingles
    sh = dedup.shingle_expr("txt", 5)
    base = df.select("id", "src", F.expr(sh).alias("s"))
    a = base.select(F.col("src"), F.col("id").alias("id_a"), F.col("s").alias("sa"))
    b = base.select(F.col("src"), F.col("id").alias("id_b"), F.col("s").alias("sb"))
    inter = F.size(F.array_intersect("sa", "sb"))
    union = F.size("sa") + F.size("sb") - inter
    ref = {
        (r["id_a"], r["id_b"]): round(r["j"], 9)
        for r in a.join(b, "src")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", (inter / union).alias("j"))
        .where(F.col("j") >= 0.1)
        .collect()
    }
    assert fast == ref
    assert (1, 2) in fast and fast[(4, 5)] > 0.8
    assert all(k != (1, 4) for k in fast)  # cross-block pairs never meet


def test_blocked_jaccard_chunking_consistent(spark):
    rows = [(i, f"document number {i % 3} with shared text body", "b") for i in range(10)]
    df = spark.createDataFrame(rows, "id long, txt string, src string")
    big = dedup.blocked_jaccard_pairs(df, "txt", "id", "src", threshold=0.5)
    small = dedup.blocked_jaccard_pairs(
        df, "txt", "id", "src", threshold=0.5, chunk_rows=3
    )
    assert sorted(map(tuple, big.collect())) == sorted(map(tuple, small.collect()))


def test_minhash_sql_and_arrow_paths_agree(spark):
    df = spark.createDataFrame(
        [(1, "The Quick Brown Fox"), (2, "pack my box with five dozen jugs"), (3, "ab")],
        "id long, txt string",
    )
    arrow = {r["id"]: tuple(r[f"mh_{k}"] for k in range(8))
             for r in dedup.minhash_signatures(df, "txt", "id", method="arrow").collect()}
    sql = {r["id"]: tuple(r[f"mh_{k}"] for k in range(8))
           for r in dedup.minhash_signatures(df, "txt", "id", method="sql").collect()}
    assert arrow == sql


def test_ngram_frequencies_bigrams(spark):
    df = spark.createDataFrame(
        [("a b c",), ("a b",), ("  ",), ("solo",)], "txt string"
    )
    got = {r["gram"]: r["n"] for r in text.ngram_frequencies(df, "txt", n=2).collect()}
    assert got == {"a b": 2, "b c": 1}


def test_sliding_rollup_four_windows_per_event(spark):
    df = _events_df(spark)
    out = events.sliding_rollup(df, "1 hour", "15 minutes")
    rows = out.collect()
    # every event contributes to exactly 4 hopping windows
    assert sum(r["n_events"] for r in rows) == df.count() * 4
    starts_for_e1 = {r["window_start"] for r in rows if r["event_type"] == "b"}
    assert starts_for_e1 == {
        "2024-01-01 09:15:00", "2024-01-01 09:30:00",
        "2024-01-01 09:45:00", "2024-01-01 10:00:00",
    }


def test_exact_dedup_agg_method_matches_window(spark):
    rows = [(i, f"text {i % 4}") for i in range(1, 21)]
    df = spark.createDataFrame(rows, "id long, txt string")
    win = sorted(tuple(r) for r in dedup.exact_dedup(df, "txt", "id").collect())
    agg = sorted(
        tuple(r) for r in dedup.exact_dedup(df, "txt", "id", method="agg").collect()
    )
    assert win == agg == [(1, "text 1"), (2, "text 2"), (3, "text 3"), (4, "text 0")]


def test_corpus_filter_composition(spark):
    good = ("the cat and the dog sat in that garden and it was warm so " * 5).strip()
    rows = [
        (1, good, "en"),             # survives
        (2, good, "en"),             # dup of 1 -> dropped
        (3, good + "!", "en"),       # same fingerprint (punct stripped) -> dropped
        (4, good, "fr"),             # lang mismatch -> dropped
        (5, "%$#@! **&&", "en"),     # low quality -> dropped
    ]
    df = spark.createDataFrame(rows, "doc_id long, body string, lang string")
    out = text.corpus_filter(df, "body", "doc_id", declared_lang_col="lang")
    got = [r["doc_id"] for r in out.collect()]
    assert got == [1]
    row = out.collect()[0]
    assert row["lang_pred"] == "en" and row["quality_score"] >= 0.5


def test_lsh_verified_pairs_end_to_end(spark):
    near = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, near),
        (2, near),                      # exact dup of 1
        (3, near.replace("dog", "cat")),  # near dup
        (4, "entirely different content about databases and queries"),
    ]
    df = spark.createDataFrame(rows, "id long, txt string")
    out = {(r["id_a"], r["id_b"]): (r["est_jaccard"], r["jaccard"])
           for r in dedup.lsh_verified_pairs(df, "txt", "id").collect()}
    assert (1, 2) in out and out[(1, 2)][1] == 1.0
    assert (1, 3) in out and 0.3 <= out[(1, 3)][1] < 1.0
    assert all(4 not in k for k in out)


def test_kmeans_update_means_and_membership(spark):
    rows = [
        (0, [1.0, 0.0]), (1, [0.0, 1.0]),            # seeds (x-axis, y-axis)
        (2, [2.0, 0.1]), (3, [-0.1, 3.0]),            # near seed 0 / seed 1
        (4, [5.0, 0.2]),                               # near seed 0
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = df.where(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    assign = similarity.ivf_assign(df, cents)
    out = {r["centroid_id"]: (r["embedding"], r["n_members"])
           for r in similarity.kmeans_update(df, assign).collect()}
    assert out[0][1] == 3 and out[1][1] == 2
    assert out[0][0] == [pytest.approx(8.0 / 3), pytest.approx(0.3 / 3, abs=1e-6)]
    assert out[1][0] == [pytest.approx(-0.05), pytest.approx(2.0)]


def test_asof_join_matches_latest_prior_right_row(spark):
    left = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", 1), (2, "2024-01-01 12:00:00", 1),
         (3, "2024-01-01 09:00:00", 2)],
        "event_id long, ts string, user_id long",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [(1, "2024-01-01 09:30:00", 5.0), (1, "2024-01-01 11:00:00", 7.0),
         (1, "2024-01-01 10:00:00", 6.0), (2, "2024-01-01 09:30:00", 9.0)],
        "user_id long, ts string, purchase_value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {r["event_id"]: r["purchase_value_asof"]
           for r in events.asof_join(left, right, "user_id", "ts",
                                     right_cols=("purchase_value",)).collect()}
    # event 1 at 10:00 sees the equal-ts right row (inclusive <=)
    assert out[1] == 6.0
    assert out[2] == 7.0
    assert out[3] is None  # user 2 has no purchase before 09:00


import pytest as _pytest


@_pytest.mark.parametrize("threshold", [1_000_000, 0])  # driver path / distributed path
def test_duplicate_clusters_transitive(spark, threshold):
    # A~B, B~C chain plus an isolated pair D~E: {A,B,C} -> A, {D,E} -> D.
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (5, 4)], "id_a long, id_b long"
    )
    got = {
        (r["id"], r["cluster_id"])
        for r in dedup.duplicate_clusters(pairs, driver_threshold=threshold).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (4, 4), (5, 4)}


@_pytest.mark.parametrize("threshold", [1_000_000, 0])
def test_duplicate_clusters_long_chain_converges(spark, threshold):
    # 0-1-2-...-9 path: diameter 9, min-label must reach the far end.
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "id_a long, id_b long"
    )
    got = {
        (r["id"], r["cluster_id"])
        for r in dedup.duplicate_clusters(pairs, driver_threshold=threshold).collect()
    }
    assert got == {(i, 0) for i in range(10)}


def test_fuzzy_dedup_keeps_canonical_and_unpaired(spark):
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again"),
            (2, "the quick brown fox jumps over the lazy dog again"),
            (3, "completely different text about spark and parquet files"),
        ],
        "doc_id long, text string",
    )
    kept = sorted(
        r["doc_id"] for r in dedup.fuzzy_dedup(docs, "text", "doc_id").collect()
    )
    assert kept == [1, 3]


def test_ivf_multiprobe_recall_dominates_single_probe(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    from pyspark.sql import functions as F

    centroids = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    queries = emb.where(F.col("vec_id") < 5)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.brute_force_topk(emb, queries, k=10).collect()
    }

    def recall(nprobe):
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in similarity.ivf_topk(
                emb, centroids, queries, k=10, nprobe=nprobe
            ).collect()
        }
        return len(got & exact) / len(exact)

    r1, r2 = recall(1), recall(2)
    assert r2 >= r1  # more probes never lose recall
    assert r2 > 0.2  # and find a reasonable share of true neighbors


def test_kmeans_fit_objective_non_decreasing(spark):
    """Cosine assignment is centroid-scale-invariant, so mean updates
    follow the spherical k-means trajectory: the summed best-cosine
    objective must not decrease across iterations."""
    from pyspark.sql import functions as F
    from tensorflow_recorder_spark.operators.similarity import (
        cosine_expr,
        kmeans_fit,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

    def objective(centroids):
        c = centroids.select(
            F.col("centroid_id"), F.col("embedding").alias("ce")
        )
        scored = emb.crossJoin(F.broadcast(c)).select(
            "vec_id", F.expr(cosine_expr("embedding", "ce")).alias("cos")
        )
        return (
            scored.groupBy("vec_id")
            .agg(F.max("cos").alias("best"))
            .agg(F.sum("best"))
            .collect()[0][0]
        )

    prev = None
    for iters in (1, 2, 3):
        fitted = kmeans_fit(emb, k=8, iterations=iters)
        assert fitted.count() <= 8
        obj = objective(fitted)
        if prev is not None:
            assert obj >= prev - 1e-9, (iters, prev, obj)
        prev = obj


def test_ivf_index_roundtrip_and_partition_pruning(spark, tmp_path):
    """Materialized IVF index: partitionBy(centroid_id) layout, probe
    matches the non-materialized path, and the probe scan is
    partition-pruned (dynamic pruning from the broadcast probe side)."""
    import contextlib
    import io
    import os

    from pyspark.sql import functions as F
    from tensorflow_recorder_spark.operators.similarity import (
        ivf_topk,
        ivf_topk_indexed,
        write_ivf_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    centroids = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    queries = emb.where(F.col("vec_id") < 3)
    path = str(tmp_path / "ivf_index")
    write_ivf_index(emb, centroids, path)
    # physical layout: one directory per cell
    assert any(d.startswith("centroid_id=") for d in os.listdir(path))

    index = spark.read.parquet(path)
    got = ivf_topk_indexed(index, centroids, queries, k=5, nprobe=2)
    want = ivf_topk(emb, centroids, queries, k=5, nprobe=2)
    as_set = lambda df: {
        (r["query_id"], r["neighbor_id"], r["rank"]) for r in df.collect()
    }
    assert as_set(got) == as_set(want)

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        got.explain("formatted")
    plan = buf.getvalue()
    assert "dynamicpruning" in plan or "PartitionFilters: [isnotnull(centroid_id" in plan


def test_ann_recall_metric(spark):
    from tensorflow_recorder_spark.operators.similarity import ann_recall

    exact = spark.createDataFrame(
        [(1, 10), (1, 11), (1, 12), (2, 20), (2, 21)],
        "query_id long, neighbor_id long",
    )
    ann = spark.createDataFrame(
        [(1, 10), (1, 12), (1, 99), (2, 77)],  # q1: 2/3 hit; q2: 0/2
        "query_id long, neighbor_id long",
    )
    got = {r.query_id: r for r in ann_recall(ann, exact).collect()}
    assert got[1].n_true == 3 and got[1].n_hits == 2
    assert abs(got[1].recall - 2 / 3) < 1e-6
    assert got[2].n_hits == 0 and got[2].recall == 0.0


def test_ivf_index_append_compact_lifecycle(spark, tmp_path):
    """Index maintenance: appends land in the partitioned layout and are
    probe-visible; compaction collapses per-cell files back to one
    without changing any probe result."""
    from pyspark.sql import functions as F
    from tensorflow_recorder_spark.operators.similarity import (
        append_ivf_index,
        compact_ivf_index,
        ivf_index_stats,
        ivf_topk_indexed,
        write_ivf_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    centroids = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    queries = emb.where(F.col("vec_id") < 3)
    base = emb.where(F.col("vec_id") % 3 == 0)
    path = str(tmp_path / "ivf_index")
    write_ivf_index(base, centroids, path)

    # two incremental appends
    append_ivf_index(emb.where(F.col("vec_id") % 3 == 1), centroids, path)
    append_ivf_index(emb.where(F.col("vec_id") % 3 == 2), centroids, path)
    index = spark.read.parquet(path)
    assert index.count() == emb.count()  # nothing lost, nothing doubled
    stats = ivf_index_stats(index).collect()
    assert max(r.n_files for r in stats) > 1  # fragmentation is real

    before = {
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in ivf_topk_indexed(index, centroids, queries, k=5, nprobe=2).collect()
    }

    compact_ivf_index(spark, path)
    index2 = spark.read.parquet(path)
    assert index2.count() == emb.count()
    stats2 = ivf_index_stats(index2).collect()
    assert max(r.n_files for r in stats2) == 1  # one file per cell
    after = {
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in ivf_topk_indexed(index2, centroids, queries, k=5, nprobe=2).collect()
    }
    assert before == after


def test_simhash_neardup_pairs_finds_identical_docs(spark):
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, "a completely different document about spark sql engines"),
        ],
        "doc_id long, text string",
    )
    got = {(r["id_a"], r["id_b"]): r["hamming"]
           for r in dedup.simhash_neardup_pairs(docs, "text", "doc_id").collect()}
    assert got.get((1, 2)) == 0
    assert (1, 3) not in got or got[(1, 3)] > 0

    import pytest as _p

    with _p.raises(ValueError):
        dedup.simhash_neardup_pairs(docs, "text", "doc_id", bands=2, max_hamming=3)


def test_funnel_conversion_window(spark):
    from pyspark.sql import functions as F
    from tensorflow_recorder_spark.operators.events import funnel

    rows = [
        # user 1: click 10:00 -> purchase 10:30 (converts, 1h gap)
        (1, 1, "2024-01-01 10:00:00", "click"),
        (2, 1, "2024-01-01 10:30:00", "purchase"),
        # user 1: click 12:00 -> purchase 14:00 (outside 1h: no)
        (3, 1, "2024-01-01 12:00:00", "click"),
        (4, 1, "2024-01-01 14:00:00", "purchase"),
        # user 2: purchase BEFORE click only: no conversion
        (5, 2, "2024-01-01 09:00:00", "purchase"),
        (6, 2, "2024-01-01 10:00:00", "click"),
        # user 3: no clicks at all -> absent from output
        (7, 3, "2024-01-01 10:00:00", "view"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts string, event_type string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    got = {r.user_id: r for r in
           funnel(df, "user_id", "ts", "click", "purchase", 3600).collect()}
    assert got[1].n_a == 2 and got[1].n_converted == 1
    assert got[1].first_conv_a_ts == "2024-01-01 10:00:00"
    assert got[1].first_conv_b_ts == "2024-01-01 10:30:00"
    assert got[2].n_a == 1 and got[2].n_converted == 0
    assert got[2].first_conv_a_ts is None
    assert 3 not in got


def test_asof_join_tolerance(spark):
    from pyspark.sql import functions as F
    from tensorflow_recorder_spark.operators.events import asof_join

    left = spark.createDataFrame(
        [(1, 1, "2024-01-01 10:00:00"), (2, 1, "2024-01-01 12:00:00")],
        "event_id long, user_id long, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [(1, "2024-01-01 09:30:00", 5.0)],
        "user_id long, ts string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))

    no_tol = {r["event_id"]: r["value_asof"]
              for r in asof_join(left, right, "user_id").collect()}
    assert no_tol == {1: 5.0, 2: 5.0}
    with_tol = {r["event_id"]: r["value_asof"]
                for r in asof_join(left, right, "user_id",
                                   tolerance_seconds=3600).collect()}
    # 10:00 click is 30 min after the quote (within 1h); 12:00 is 2.5h after
    assert with_tol == {1: 5.0, 2: None}


def test_duplicated_span_occurrences_positions(spark):
    docs = spark.createDataFrame(
        [
            (1, "a b c d e"),            # first occurrence of "a b c"
            (2, "x y a b c z"),          # dup of "a b c" at pos 2
            (3, "q q q q"),              # within-doc repeats of "q q q"
            (4, ""),                     # empty doc
            (5, "u v"),                  # shorter than k
            (6, "A B C extra"),          # case-insensitive dup at pos 0
        ],
        "id long, txt string",
    )
    got = sorted(
        (r["id"], r["pos"])
        for r in dedup.duplicated_span_occurrences(docs, "txt", "id", k=3).collect()
    )
    # doc1 pos0 is the corpus-first "a b c"; doc3 pos0 is first "q q q",
    # pos1 is its within-doc repeat; docs 4/5 contribute nothing
    assert got == [(2, 2), (3, 1), (6, 0)]
    with pytest.raises(ValueError, match="k must be >= 1"):
        dedup.duplicated_span_occurrences(docs, "txt", "id", k=0)


def test_span_dedup_preserves_case_and_counts(spark):
    docs = spark.createDataFrame(
        [
            (1, "The Quick Brown fox"),       # keeper: survives VERBATIM
            (2, "pre the quick brown post"),  # loses the 3-token dup span
            (3, ""),                          # empty doc passes through
            (4, "one two"),                   # shorter than k: untouched
        ],
        "id long, txt string",
    )
    got = {r["id"]: r for r in dedup.span_dedup(docs, "txt", "id", k=3).collect()}
    # original casing survives reconstruction (ADVICE.md r3)
    assert got[1]["clean_text"] == "The Quick Brown fox"
    assert got[1]["n_kept"] == 4 and got[1]["n_dropped"] == 0
    assert got[2]["clean_text"] == "pre post"
    assert got[2]["n_tokens"] == 5 and got[2]["n_dropped"] == 3
    assert got[3]["clean_text"] == "" and got[3]["n_tokens"] == 0
    assert got[4]["clean_text"] == "one two" and got[4]["n_dropped"] == 0
    with pytest.raises(ValueError, match="k must be >= 1"):
        dedup.span_dedup(docs, "txt", "id", k=0)


def test_span_dedup_overlap_approximation_documented(spark):
    """Overlapping duplicated grams may clip the keeper copy — the
    documented approximation (first gram occurrence survives, others
    drop independently)."""
    docs = spark.createDataFrame(
        [(1, "p q r"), (2, "q r s"), (3, "p q r s")],
        "id long, txt string",
    )
    got = {r["id"]: r["clean_text"]
           for r in dedup.span_dedup(docs, "txt", "id", k=2).collect()}
    assert got[1] == "p q r"      # all grams are corpus-first here
    # docs 2 and 3 lose their non-first gram occurrences
    assert got[2] == "s" and got[3] == ""


def _as_ts_flavor(df, flavor, ts_col="ts"):
    """Re-express a TIMESTAMP column in one of the three flavors the
    storage layer has actually shipped: LTZ timestamp, parquet-NTZ
    timestamp, or epoch-nanos bigint (nanosAsLong legacy read)."""
    if flavor == "ltz":
        return df
    if flavor == "ntz":
        return df.withColumn(ts_col, F.col(ts_col).cast("timestamp_ntz"))
    if flavor == "nanos_long":
        return df.withColumn(
            ts_col, (F.col(ts_col).cast("double") * 1_000_000_000).cast("long")
        )
    raise AssertionError(flavor)


@pytest.mark.parametrize("flavor", ["ltz", "ntz", "nanos_long"])
def test_e4_operators_accept_all_ts_flavors(spark, flavor):
    """Regression matrix for the r3 TIMESTAMP_NTZ breakage: every E4
    operator must produce identical results whether ts arrives as
    TIMESTAMP, TIMESTAMP_NTZ, or epoch-nanos long."""
    df = _as_ts_flavor(_events_df(spark), flavor)

    sess = {(r["user_id"], r["session_seq"]): (r["n_events"], r["duration_s"])
            for r in events.sessionize(df, gap_minutes=30).collect()}
    assert sess[(1, 0)] == (2, 600) and sess[(1, 1)] == (1, 0)
    assert sess[(2, 0)] == (1, 0)

    roll = {(r["hour"], r["event_type"]): r["n_events"]
            for r in events.hourly_rollup(df).collect()}
    assert roll[("2024-01-01 10:00:00", "a")] == 2

    latest = {r["user_id"]: r["asof_value"]
              for r in events.asof_latest(df, "2024-01-01 10:30:00").collect()}
    assert latest == {1: 2.0, 2: 4.0}

    fun = {r["user_id"]: (r["n_a"], r["n_converted"])
           for r in events.funnel(df, "user_id", "ts", "a", "b", 3600).collect()}
    assert fun[1] == (2, 1) and fun[2] == (1, 0)

    ret = {(r["cohort_week"], r["week_offset"]): r["n_users"]
           for r in events.cohort_retention(df, "user_id", "ts").collect()}
    assert ret[("2024-01-01", 0)] == 2

    right = _as_ts_flavor(
        spark.createDataFrame(
            [(1, "2024-01-01 09:30:00", 5.0)],
            "user_id long, ts string, value double",
        ).withColumn("ts", F.col("ts").cast("timestamp")),
        flavor,
    )
    left = df.select("event_id", "user_id", "ts")
    tol = {r["event_id"]: r["value_asof"]
           for r in events.asof_join(
               left, right, "user_id", tolerance_seconds=3600
           ).collect()}
    # user 1's events at 10:00/10:10 are within 1h of the 09:30 quote;
    # 11:30 is outside tolerance; user 2 has no quote at all
    assert tol == {1: 5.0, 2: 5.0, 3: None, 4: None}

    # session-4 operators join the same flavor matrix
    dense = {(r["user_id"], r["day"]): r["n_events"]
             for r in events.gap_fill_daily(df).collect()}
    assert dense[(1, "2024-01-01")] == 3 and dense[(2, "2024-01-01")] == 1

    zs = {r["event_id"]: r["n_prior"]
          for r in events.rolling_zscore(df, n=5).collect()}
    assert len(zs) == 4 and zs[1] == 0


def test_char_entropy_known_values(spark):
    import math

    docs = spark.createDataFrame(
        [(1, "aaaa"), (2, "abab"), (3, "abcd"), (4, "")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["char_entropy"]
           for r in text.char_entropy(docs, "text", "doc_id").collect()}
    assert got[1] == 0.0                       # one symbol: zero entropy
    assert abs(got[2] - 1.0) < 1e-9            # two equiprobable symbols
    assert abs(got[3] - 2.0) < 1e-9            # four equiprobable symbols
    assert got[4] == 0.0                       # empty doc


def test_hash_sample_deterministic_and_nested(spark):
    from tensorflow_recorder_spark.operators.sampling import (
        hash_sample,
        stratified_sample,
    )

    docs = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    s1 = {r["doc_id"] for r in hash_sample(docs, "doc_id", 0.2).collect()}
    s2 = {r["doc_id"] for r in hash_sample(docs, "doc_id", 0.2).collect()}
    assert s1 == s2  # reproducible
    assert 0.15 < len(s1) / 2000 < 0.25  # ~fraction
    bigger = {r["doc_id"] for r in hash_sample(docs, "doc_id", 0.5).collect()}
    assert s1 <= bigger  # nested: growing the rate keeps existing rows
    other_salt = {r["doc_id"] for r in hash_sample(docs, "doc_id", 0.2, salt="v2").collect()}
    assert other_salt != s1  # independent draw

    from pyspark.sql import functions as F

    strat = docs.withColumn(
        "grp", F.when(F.col("doc_id") % 2 == 0, "a").otherwise("b")
    )
    out = stratified_sample(strat, "grp", "doc_id", {"a": 1.0}, default_fraction=0.0)
    got = {r["grp"] for r in out.collect()}
    assert got == {"a"}
    assert out.count() == 1000


def test_redact_pii_patterns(spark):
    docs = spark.createDataFrame(
        [
            (1, "mail bob@example.com or +1 (555) 123-4567 from 10.0.0.1"),
            (2, "no pii here"),
            (3, "two mails: a@b.io and c.d+x@e-f.org"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in text.redact(docs, "text").collect()}
    assert out[1].n_email == 1 and out[1].n_ipv4 == 1 and out[1].n_phone == 1
    assert "[EMAIL]" in out[1].text and "[IPV4]" in out[1].text
    assert "bob@example.com" not in out[1].text
    assert out[2].text == "no pii here"
    assert out[2].n_email == out[2].n_ipv4 == out[2].n_phone == 0
    assert out[3].n_email == 2
    assert out[3].text.count("[EMAIL]") == 2
    # counts reflect the ORIGINAL text even when patterns overlap
    over = spark.createDataFrame([(1, "x@y.zz")], "doc_id long, text string")
    r = text.redact(over, "text", {"a": r"x@y\.zz", "b": r"x@y"}).collect()[0]
    assert r.n_a == 1 and r.n_b == 1  # both counted pre-replacement
    # labels containing regex-replacement metacharacters must not blow
    # up Java's Matcher ($ is a group reference in the replacement)
    meta = spark.createDataFrame([(1, "pay 5 now")], "doc_id long, text string")
    r = text.redact(meta, "text", {"usd$amt": r"\d+"}).collect()[0]
    assert r.text == "pay [USD$AMT] now"

    import pytest as _pytest

    with _pytest.raises(ValueError):
        text.redact(docs, "text", {})


def test_source_token_quota_prefix_semantics(spark):
    from pyspark.sql import functions as F

    from tensorflow_recorder_spark.operators.sampling import (
        source_token_quota,
        with_shuffle_key,
    )

    docs = spark.createDataFrame(
        [(i, "s", "w " * 10) for i in range(50)],
        "doc_id long, source string, text string",
    )
    tok = F.expr("size(split(lower(text), '\\\\s+'))") - 1  # trailing blank
    out = source_token_quota(docs, "source", "doc_id", tok, quota_tokens=100)
    rows = out.collect()
    # 10 tokens per doc, 100-token quota -> exactly 10 docs survive
    assert len(rows) == 10
    assert sum(r.n_tokens for r in rows) == 100
    # deterministic: same survivors on re-run
    again = source_token_quota(docs, "source", "doc_id", tok, quota_tokens=100)
    assert sorted(r.doc_id for r in rows) == sorted(
        r.doc_id for r in again.collect()
    )
    # sharded: quota splits across shards, total never exceeds quota
    sharded = source_token_quota(
        docs, "source", "doc_id", tok, quota_tokens=100, nshards=2
    ).collect()
    assert sum(r.n_tokens for r in sharded) <= 100
    import pytest as _pytest

    with _pytest.raises(ValueError):
        source_token_quota(docs, "source", "doc_id", tok, 0)

    # shuffle key: pure function of (salt, id); salts give distinct orders
    k1 = {r.doc_id: r.shuffle_key for r in with_shuffle_key(docs, "doc_id").collect()}
    k2 = {r.doc_id: r.shuffle_key for r in with_shuffle_key(docs, "doc_id").collect()}
    k3 = {r.doc_id: r.shuffle_key
          for r in with_shuffle_key(docs, "doc_id", salt="epoch2").collect()}
    assert k1 == k2 and k1 != k3
    order1 = [d for d, _ in sorted(k1.items(), key=lambda kv: kv[1])]
    order3 = [d for d, _ in sorted(k3.items(), key=lambda kv: kv[1])]
    assert order1 != order3  # a new salt is a fresh permutation


def test_bigram_lm_score_semantics(spark):
    train = spark.createDataFrame(
        [(0, "a b a b"), (1, "a b c")], "doc_id long, text string"
    )
    # train: unigrams a:3 b:3 c:1 -> V=3; bigrams ab:3, ba:1, bc:1
    score = spark.createDataFrame(
        [(10, "a b"), (11, "z z"), (12, "a")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in
           text.bigram_lm_score(score, train, "text", "doc_id").collect()}
    import math

    # P(b|a) = (3+1)/(3+3) = 2/3 -> CE = log2(1.5)
    assert out[10].n_bigrams == 1 and out[10].n_unseen == 0
    assert abs(out[10].cross_entropy - math.log2(1.5)) < 1e-6
    # unseen bigram with unseen head: P = 1/(0+3)
    assert out[11].n_unseen == 1
    assert abs(out[11].cross_entropy - math.log2(3)) < 1e-6
    # single-token doc: no bigrams, scores 0
    assert out[12].n_bigrams == 0 and out[12].cross_entropy == 0.0


def test_mixture_sample_rates_cap_and_determinism(spark):
    from pyspark.sql import functions as F

    from tensorflow_recorder_spark.operators.sampling import mixture_sample

    # two sources, 10 tokens per doc: "big" has 1000 docs (10k tokens),
    # "small" has 20 docs (200 tokens)
    docs = spark.range(0, 1020).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 1000, "big").otherwise("small").alias("source"),
        F.lit("t " * 10).alias("text"),
    )
    tok = F.expr("size(split(lower(text), '\\\\s+'))") - 1  # trailing blank
    out = mixture_sample(
        docs, "source", "doc_id", tok,
        {"big": 0.5, "small": 0.5}, token_budget=2000.0,
    )
    rates = {
        r.source: r.sample_rate
        for r in out.select("source", "sample_rate").distinct().collect()
    }
    # big: 1000 tokens wanted of 10000 -> 0.1; small: capped at 1.0
    assert abs(rates["big"] - 0.1) < 1e-9
    assert rates["small"] == 1.0
    got = out.groupBy("source").count().collect()
    counts = {r.source: r["count"] for r in got}
    assert counts["small"] == 20  # whole source taken at rate 1.0
    assert 60 < counts["big"] < 140  # ~10% of 1000
    # deterministic across re-runs
    a = sorted(r.doc_id for r in out.collect())
    b = sorted(
        r.doc_id
        for r in mixture_sample(
            docs, "source", "doc_id", tok,
            {"big": 0.5, "small": 0.5}, token_budget=2000.0,
        ).collect()
    )
    assert a == b
    # unweighted sources are dropped entirely
    none = mixture_sample(
        docs, "source", "doc_id", tok, {"other": 1.0}, token_budget=2000.0
    )
    assert none.count() == 0

    import pytest as _pytest

    with _pytest.raises(ValueError):
        mixture_sample(docs, "source", "doc_id", tok, {}, 100.0)
    with _pytest.raises(ValueError):
        mixture_sample(docs, "source", "doc_id", tok, {"big": -1.0}, 100.0)
    with _pytest.raises(ValueError):
        mixture_sample(docs, "source", "doc_id", tok, {"big": 0.5}, 0.0)


def test_bigram_pmi_collocation_beats_chance(spark):
    # "san francisco" always co-occurs; "the" pairs with everything.
    docs = spark.createDataFrame(
        [(i, "the city of san francisco is near the bay of the west") for i in range(5)]
        + [(99, "the west and the bay and the city")],
        "doc_id long, text string",
    )
    out = {r["gram"]: r["pmi"] for r in
           text.bigram_pmi(docs, "text", min_count=5).collect()}
    assert "san francisco" in out
    # perfect collocation has higher PMI than a stopword-led bigram
    assert out["san francisco"] > out.get("of the", float("-inf"))


def test_rp_lsh_bucket_and_topk(spark):
    from pyspark.sql import functions as F

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    dim = len(emb.first()["embedding"])
    buckets = similarity.rp_lsh_bucket(emb, dim)
    n_buckets = buckets.select("rp_bucket").distinct().count()
    assert 2 <= n_buckets <= 16  # 4 planes
    # deterministic: same plan, same buckets
    b1 = {(r["vec_id"], r["rp_bucket"]) for r in buckets.collect()}
    b2 = {(r["vec_id"], r["rp_bucket"])
          for r in similarity.rp_lsh_bucket(emb, dim).collect()}
    assert b1 == b2
    queries = emb.where(F.col("vec_id") < 3)
    out = similarity.rp_lsh_topk(emb, queries, dim, k=5).collect()
    assert out, "bucketed search returns neighbors"
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.brute_force_topk(emb, queries, k=5).collect()
    }
    approx = {(r["query_id"], r["neighbor_id"]) for r in out}
    # approximate results are a biased-toward-similar subset: at least
    # some true top-5 neighbors are recovered from same-bucket search
    assert len(approx & exact) > 0


def test_lsh_verified_blocked_fallback_parity(spark, dedup_reference):
    """lsh_verified_pairs must be bit-identical to the DuckDB-oracle
    reference at the loose policy point (est >= 0.25, Jaccard >= 0.25)."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    kw = dict(min_est_jaccard=0.25, threshold=0.25)
    got = {
        (r["id_a"], r["id_b"]): (r["est_jaccard"], r["jaccard"])
        for r in dedup.lsh_verified_pairs(docs, "text", "doc_id", **kw).collect()
    }
    assert got == dedup_reference(docs, 0.25, 0.25) and len(got) > 0


def test_duplicate_clusters_nonconvergence_raises(spark):
    """Distributed min-label path must raise (not silently return wrong
    cluster ids) when a component's diameter exceeds max_iterations."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "id_a long, id_b long"
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        dedup.duplicate_clusters(
            pairs, driver_threshold=0, max_iterations=2
        ).collect()


def test_asof_join_right_cols_may_include_ts(spark):
    """right_cols containing the ts column itself must not collide with
    the internal match-timestamp alias (regression: __r_ts collision)."""
    left = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", 1)], "event_id long, ts string, user_id long"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [(1, "2024-01-01 09:30:00", 5.0)], "user_id long, ts string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = events.asof_join(
        left, right, "user_id", "ts", right_cols=("ts", "value")
    )
    assert sorted(out.columns) == sorted(
        ["event_id", "ts", "user_id", "ts_asof", "value_asof"]
    )
    row = out.collect()[0]
    assert row["value_asof"] == 5.0
    assert str(row["ts_asof"]) == "2024-01-01 09:30:00"


def test_curate_corpus_stage_composition(spark):
    from pyspark.sql import functions as F

    from tensorflow_recorder_spark.operators.packing import token_count_expr
    from tensorflow_recorder_spark.plans.curate import (
        curate_corpus,
        curate_report,
    )

    good = (
        "the data pipeline reads and writes the tables in the cluster "
        "and it is fast to scan them all day"
    ) * 3
    rows = (
        [(i, "web", good) for i in range(4)]           # 0-3 identical: dedup
        + [(10, "web", "x@#$%^" * 50)]                 # junk: quality drop
        + [(20, "code", good + " extra tail")]         # unique survivor
    )
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    tok = token_count_expr("text")
    report = curate_report(
        docs, "text", "doc_id", "source", tok,
        min_quality=0.5, dedup=True, quota_tokens=10_000,
    )
    assert report["input"] == 6
    assert report["quality"] == 5          # junk doc gone
    assert report["dedup"] == 2            # 4 identical collapse to doc 0
    assert report["quota"] == 2            # quota ample: all fit
    assert report["shuffled"] == 2
    out = curate_corpus(
        docs, "text", "doc_id", "source", tok,
        min_quality=0.5, dedup=True, quota_tokens=10_000,
    )
    got = {r.doc_id: r for r in out.collect()}
    assert set(got) == {0, 20}             # lowest-id dup survives
    assert all(len(r.shuffle_key) == 32 for r in got.values())
    # tight quota cuts tokens
    tight = curate_corpus(
        docs, "text", "doc_id", "source", tok,
        min_quality=0.5, dedup=True, quota_tokens=70,
    )
    assert tight.agg(F.sum("n_tokens")).collect()[0][0] <= 70 * 2  # per source


def test_cross_split_exact_overlap_finds_injected_leakage(spark):
    leaked = "this exact document is in both train and test splits"
    train = spark.createDataFrame(
        [(1, leaked), (2, "train only doc"), (3, leaked)],
        "doc_id long, text string",
    )
    test = spark.createDataFrame(
        [(10, leaked), (11, "test only doc")], "doc_id long, text string"
    )
    got = sorted(
        (r.id_a, r.id_b)
        for r in dedup.cross_split_exact_overlap(
            train, test, "text", "doc_id"
        ).collect()
    )
    assert got == [(1, 10), (3, 10)]  # every cross-pair, nothing else
    clean = dedup.cross_split_exact_overlap(
        train.where("doc_id = 2"), test, "text", "doc_id"
    )
    assert clean.count() == 0


def test_contamination_report_flags_overlapping_eval_doc(spark):
    shared_blob = "the quick brown fox jumps over the lazy dog " * 3
    train = spark.createDataFrame(
        [(1, shared_blob + "unique train tail"),
         (2, "completely unrelated training text about databases")],
        "doc_id long, text string",
    )
    eval_df = spark.createDataFrame(
        [(10, shared_blob + "eval specific ending"),
         (11, "totally fresh evaluation prompt with no overlap at all")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in dedup.contamination_report(
        train, eval_df, "text", "doc_id", min_shared=20
    ).collect()}
    assert 10 in out and 11 not in out
    assert out[10]["n_train_docs"] == 1
    assert 0.0 < out[10]["overlap_frac"] <= 1.0


def test_contamination_df_cap_drops_boilerplate_shingles(spark):
    # One shingle-rich boilerplate string shared by MANY train docs and
    # the eval doc: with the cap below the train count, those shingles
    # are dropped and the eval doc is no longer flagged.
    blob = "standard legal disclaimer boilerplate text repeated " * 2
    train = spark.createDataFrame(
        [(i, blob + f"doc {i}") for i in range(5)], "doc_id long, text string"
    )
    eval_df = spark.createDataFrame(
        [(100, blob + "the eval doc")], "doc_id long, text string"
    )
    flagged = dedup.contamination_report(
        train, eval_df, "text", "doc_id", min_shared=20
    ).count()
    capped = dedup.contamination_report(
        train, eval_df, "text", "doc_id", min_shared=20, max_shingle_df=3
    ).count()
    assert flagged == 1 and capped == 0


def test_repetition_scores_flags_looped_doc(spark):
    looped = "buy now. limited offer. buy now. limited offer. buy now."
    clean = "the quick brown fox. it jumps over lazy dogs. nothing repeats here."
    df = spark.createDataFrame(
        [(1, looped), (2, clean), (3, "")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in
           text.repetition_scores(df, "text", "doc_id").collect()}
    # every sentence in the looped doc occurs >1 times
    assert out[1]["dup_sentence_frac"] == 1.0
    assert out[1]["dup_sentence_char_frac"] == 1.0
    assert out[1]["max_token_frac"] > out[2]["max_token_frac"]
    assert out[1]["dup_word_frac"] > 0.5
    assert out[2]["dup_sentence_frac"] == 0.0
    # empty doc: all-zero metrics, no division blow-ups
    assert out[3]["dup_sentence_frac"] == 0.0 and out[3]["dup_word_frac"] == 0.0


def test_corpus_stats_per_source(spark):
    df = spark.createDataFrame(
        [(1, "the cat sat on the mat and it is fine", "a"),
         (2, "x", "a"),
         (3, "another document here with the tokens", "b")],
        "doc_id long, text string, source string",
    )
    out = {r["source"]: r for r in text.corpus_stats(df, "text", "source").collect()}
    assert out["a"]["n_docs"] == 2 and out["b"]["n_docs"] == 1
    assert out["a"]["total_chars"] == len("the cat sat on the mat and it is fine") + 1
    assert out["a"]["min_chars"] == 1
    assert out["b"]["total_tokens"] == 6
    assert 0.0 <= out["a"]["mean_quality"] <= 1.0


def test_contamination_sketch_mode_consistent(spark):
    """Sketch mode (hash-residue shingle sampling) must flag the heavily
    contaminated doc with a scaled threshold, and overlap_frac stays a
    containment estimate in [0, 1]."""
    blob = "the quick brown fox jumps over the lazy dog again and again " * 4
    train = spark.createDataFrame(
        [(1, blob + "train tail"), (2, "unrelated corpus text entirely")],
        "doc_id long, text string",
    )
    eval_df = spark.createDataFrame(
        [(10, blob + "eval tail"), (11, "fresh evaluation content")],
        "doc_id long, text string",
    )
    exact = {r["doc_id"]: r for r in dedup.contamination_report(
        train, eval_df, "text", "doc_id", min_shared=40
    ).collect()}
    sketch = {r["doc_id"]: r for r in dedup.contamination_report(
        train, eval_df, "text", "doc_id", min_shared=10, shingle_mod=4
    ).collect()}
    assert 10 in exact and 10 in sketch and 11 not in sketch
    assert 0.0 < sketch[10]["overlap_frac"] <= 1.0
    # sketched shared count is ~1/4 of exact shared count
    assert sketch[10]["max_shared"] < exact[10]["max_shared"]


def test_tfidf_top_terms_ranks_rare_terms_higher(spark):
    docs = spark.createDataFrame(
        [
            (1, "common common rare"),
            (2, "common stuff here"),
            (3, "common stuff there"),
        ],
        "doc_id long, text string",
    )
    out = text.tfidf_top_terms(docs, "text", "doc_id", k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc 1: 'rare' (df=1) must outrank 'common' (df=3) despite tf 1 vs 2?
    # tf('common')=2, idf=ln(4/4)+1=1 -> 2.0; tf('rare')=1, idf=ln(4/2)+1
    # ~1.693 -> 1.693: 'common' wins on tf. Check exact ordering instead.
    d1 = sorted(by_doc[1], key=lambda r: r["rk"])
    assert [r["term"] for r in d1] == ["common", "rare"]
    assert abs(d1[0]["tfidf"] - 2.0) < 1e-6
    assert abs(d1[1]["tfidf"] - (math.log(4 / 2) + 1)) < 1e-5
    # every doc surfaces exactly min(k, n_terms) rows with ranks 1..n
    for rows in by_doc.values():
        assert sorted(r["rk"] for r in rows) == list(range(1, len(rows) + 1))


def test_dup_ngram_coverage_flags_shared_boilerplate(spark):
    boiler = "all rights reserved contact us"
    docs = spark.createDataFrame(
        [
            (1, f"unique alpha words {boiler}"),
            (2, f"other beta content {boiler}"),
            (3, "totally original text nothing shared anywhere"),
            (4, "ab"),  # < 3 tokens -> zero n-grams
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in
           text.dup_ngram_coverage(docs, "text", "doc_id", n=3, min_docs=2).collect()}
    assert got[3]["n_dup"] == 0 and got[3]["dup_frac"] == 0.0
    assert got[4]["n_ngrams"] == 0 and got[4]["dup_frac"] == 0.0
    # docs 1 and 2 share the 3 grams inside the 5-token boilerplate
    assert got[1]["n_dup"] == 3 and got[2]["n_dup"] == 3
    assert got[1]["n_ngrams"] == 6  # 8 tokens -> 6 grams
    assert abs(got[1]["dup_frac"] - 0.5) < 1e-9


def test_incremental_neardup_flags_batch_dup_of_index(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    index = spark.createDataFrame(
        [(1, base), (2, "completely different historical document text here")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(101, base), (102, "fresh novel content never seen before at all")],
        "doc_id long, text string",
    )
    out = dedup.incremental_neardup_pairs(
        index, batch, "text", "doc_id", threshold=0.9
    ).collect()
    assert {(r["id_a"], r["id_b"]) for r in out} == {(1, 101)}
    assert out[0]["jaccard"] == 1.0
    # index docs never pair with each other; batch keeps its novel doc
    assert all(r["id_b"] >= 100 and r["id_a"] < 100 for r in out)


def test_incremental_neardup_matches_symmetric_verify(spark):
    """Asymmetric index x batch pairs must equal the cross-side subset
    of the symmetric all-pairs run on the union (same params)."""
    rows = [
        (i, f"document number {i} shares a very long common template "
            f"with tiny variation token{i % 3}")
        for i in range(12)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    index = df.where(F.col("doc_id") % 4 != 0)
    batch = df.where(F.col("doc_id") % 4 == 0)
    asym = {
        (r["id_a"], r["id_b"])
        for r in dedup.incremental_neardup_pairs(
            index, batch, "text", "doc_id",
            min_est_jaccard=0.25, threshold=0.3,
        ).collect()
    }
    sym = dedup.lsh_verified_pairs(
        df, "text", "doc_id", min_est_jaccard=0.25, threshold=0.3
    ).collect()
    expect = set()
    for r in sym:
        a_idx, b_idx = r["id_a"] % 4 != 0, r["id_b"] % 4 != 0
        if a_idx and not b_idx:
            expect.add((r["id_a"], r["id_b"]))
        elif b_idx and not a_idx:
            expect.add((r["id_b"], r["id_a"]))
    assert asym == expect and asym  # non-trivial on this template corpus


def test_scalar_quantize_bounds_and_error(spark):
    vecs = spark.createDataFrame(
        [
            (1, [0.0, 10.0, -1.0]),
            (2, [1.0, 20.0, -1.0]),   # dim 2 constant -> code 0
            (3, [0.5, 15.0, -1.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    out = {r["vec_id"]: r for r in
           similarity.scalar_quantize(vecs, "embedding", "vec_id").collect()}
    # extremes hit the code range ends exactly
    assert out[1]["q_first"] == -127 and out[2]["q_first"] == 127
    # constant dim quantizes to 0 everywhere; range codes within [-127,127]
    for r in out.values():
        assert -127 <= r["q_min"] <= r["q_max"] <= 127
        assert r["mse"] >= 0.0
    # midpoint 0.5 -> code 0 -> dequant 0.5: near-zero error on dim 1
    assert out[3]["q_first"] == 0
    # max reconstruction error per dim is half a quantization step
    for vid, vec in ((1, [0.0, 10.0, -1.0]), (3, [0.5, 15.0, -1.0])):
        step = max((1.0 - 0.0) / 254, (20.0 - 10.0) / 254)
        assert out[vid]["mse"] <= (step / 2) ** 2 * 3 + 1e-9


def test_fuzzy_dedup_keep_best_keeps_longest(spark):
    base = "shared template text that repeats across near duplicate docs"
    docs = spark.createDataFrame(
        [
            (1, base + " x", 10),
            (2, base + " x longer", 99),   # same cluster, higher quality
            (3, "completely unrelated standalone document", 5),
        ],
        "doc_id long, text string, n_chars long",
    )
    kept_min_id = sorted(
        r["doc_id"]
        for r in dedup.fuzzy_dedup(
            docs, "text", "doc_id", min_est_jaccard=0.5, threshold=0.5
        ).collect()
    )
    kept_best = sorted(
        r["doc_id"]
        for r in dedup.fuzzy_dedup_keep_best(
            docs, "text", "doc_id", "n_chars",
            min_est_jaccard=0.5, threshold=0.5,
        ).collect()
    )
    assert kept_min_id == [1, 3]   # canonical = min id
    assert kept_best == [2, 3]     # policy = highest n_chars


def test_cohort_retention_triangle(spark):
    import datetime as dt

    rows = [
        # user 1: first Mon 2024-01-01 week, returns 2 weeks later
        (1, dt.datetime(2024, 1, 2, 10), ),
        (1, dt.datetime(2024, 1, 16, 9), ),
        # user 2: same cohort week, active only then
        (2, dt.datetime(2024, 1, 5, 8), ),
        # user 3: next week's cohort
        (3, dt.datetime(2024, 1, 9, 12), ),
    ]
    ev = spark.createDataFrame(
        [(u, t) for u, t in rows], "user_id long, ts timestamp"
    )
    got = {
        (r["cohort_week"], r["week_offset"]): r["n_users"]
        for r in events.cohort_retention(ev, "user_id", "ts").collect()
    }
    assert got == {
        ("2024-01-01", 0): 2,
        ("2024-01-01", 2): 1,
        ("2024-01-08", 0): 1,
    }


def test_asof_join_directions(spark):
    from tensorflow_recorder_spark.operators.events import asof_join

    left = spark.createDataFrame(
        [(1, 1, "2024-01-01 10:00:00"), (2, 1, "2024-01-01 12:00:00"),
         (3, 2, "2024-01-01 10:00:00")],
        "event_id long, user_id long, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [(1, "2024-01-01 09:30:00", 5.0),   # 30 min before e1
         (1, "2024-01-01 10:20:00", 7.0),   # 20 min after e1
         (2, "2024-01-01 11:00:00", 9.0)],  # only AFTER user 2's event
        "user_id long, ts string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))

    def run(**kw):
        return {r["event_id"]: r["value_asof"]
                for r in asof_join(left, right, "user_id", **kw).collect()}

    assert run(direction="backward") == {1: 5.0, 2: 7.0, 3: None}
    assert run(direction="forward") == {1: 7.0, 2: None, 3: 9.0}
    # e1: forward (20 min) beats backward (30 min); e2 only has backward
    assert run(direction="nearest") == {1: 7.0, 2: 7.0, 3: 9.0}
    # tolerance excludes candidates BEFORE the nearest choice:
    # 25 min keeps only forward for e1, nothing within 25 min of e2
    assert run(direction="nearest", tolerance_seconds=1500) == {
        1: 7.0, 2: None, 3: None,
    }
    with pytest.raises(ValueError, match="direction"):
        run(direction="sideways")


def test_asof_join_forward_inclusive_at_equal_ts(spark):
    from tensorflow_recorder_spark.operators.events import asof_join

    left = spark.createDataFrame(
        [(1, 1, "2024-01-01 10:00:00")], "event_id long, user_id long, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", 4.2)], "user_id long, ts string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    for d in ("backward", "forward", "nearest"):
        got = asof_join(left, right, "user_id", direction=d).collect()[0]
        assert got["value_asof"] == 4.2, d


def test_semantic_dedup_drops_within_cluster_only(spark):
    """SemDeDup: near-identical vectors in the SAME cluster dedup to the
    lowest id; an equally-similar pair split across clusters survives
    (the documented cluster-boundary approximation of the paper)."""
    rows = [
        # cluster A (centroid 0): three near-identical vectors
        (0, [1.0, 0.0, 0.0, 0.0]),
        (10, [0.99, 0.01, 0.0, 0.0]),
        (11, [0.98, 0.02, 0.0, 0.0]),
        # cluster B (centroid 1): one lone vector
        (1, [0.0, 1.0, 0.0, 0.0]),
        (20, [0.0, 0.97, 0.03, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    centroids = df.where(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    kept = sorted(
        r["vec_id"]
        for r in dedup.semantic_dedup(
            df, "embedding", "vec_id", centroids, threshold=0.95
        ).collect()
    )
    # 10/11 drop (dups of 0 within cluster A); 20 drops (dup of 1 in B)
    assert kept == [0, 1]


# ---------------------------------------------------------------------
# round-4 additions: gap fill, rolling z-score, linkage, snapshot diff,
# lexical diversity
# ---------------------------------------------------------------------


def test_gap_fill_daily_densifies_and_carries_forward(spark):
    from tensorflow_recorder_spark.operators import events as ev

    df = spark.createDataFrame(
        [
            (1, "2024-01-01 10:00:00", 2.0),
            (1, "2024-01-01 11:00:00", 3.0),
            (1, "2024-01-04 09:00:00", 7.0),   # days 2-3 are gaps
            (2, "2024-02-01 00:00:00", 1.0),   # single-day key: no gaps
        ],
        "user_id long, ts string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    rows = {(r["user_id"], r["day"]): r for r in ev.gap_fill_daily(df).collect()}
    assert len(rows) == 5  # user1: 4 dense days; user2: 1
    assert rows[(1, "2024-01-01")]["n_events"] == 2
    assert rows[(1, "2024-01-01")]["sum_value"] == 5.0
    gap = rows[(1, "2024-01-02")]
    assert gap["n_events"] == 0 and gap["sum_value"] == 0.0
    assert gap["locf_value"] == 5.0  # carried from Jan 1
    assert rows[(1, "2024-01-04")]["locf_value"] == 7.0
    assert rows[(2, "2024-02-01")]["n_events"] == 1


def test_rolling_zscore_flags_outlier_and_guards_small_windows(spark):
    from tensorflow_recorder_spark.operators import events as ev

    base = [(i, 1, f"2024-01-01 00:{i:02d}:00", 10.0 + (i % 2)) for i in range(10)]
    rows = base + [(10, 1, "2024-01-01 00:10:00", 1000.0)]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    got = {r["event_id"]: r for r in ev.rolling_zscore(df, n=5).collect()}
    # first event: empty prior window -> NULL z, not anomalous
    assert got[0]["n_prior"] == 0 and got[0]["z"] is None
    assert got[0]["is_anomaly"] is False
    # second event: one prior -> still NULL (needs n >= 2 for variance)
    assert got[1]["z"] is None
    assert got[10]["is_anomaly"] is True and got[10]["z"] > 3
    assert all(not got[i]["is_anomaly"] for i in range(10))
    import pytest as _pytest

    with _pytest.raises(ValueError, match="n must be >= 2"):
        ev.rolling_zscore(df, n=1)


def test_blocked_linkage_matches_best_within_block(spark):
    cat = spark.createDataFrame(
        [
            (1, "alpha bravo charlie", "alph"),
            (2, "alpha bravo charlee", "alph"),
            (3, "delta echo foxtrot", "delt"),
        ],
        "doc_id long, title string, blk string",
    )
    dirty = spark.createDataFrame(
        [
            (100, "alpha bravo charlje", "alph"),  # dist 1 to #1/#2? -> argmin
            (101, "delta echo foxtrooo", "delt"),  # dist 2 to #3
            (102, "zulu yankee xray", "zulu"),     # no block -> dropped
        ],
        "doc_id long, title string, blk string",
    )
    got = {
        r["doc_id_left"]: (r["matched_id"], r["distance"])
        for r in dedup.blocked_linkage(
            dirty, cat, "title", "doc_id", "blk", max_distance=3
        ).collect()
    }
    # 'charlje' is dist 1 from 'charlie' (j->i) and dist 2 from 'charlee'
    assert got[100] == (1, 1)
    # 'foxtrooo' vs 'foxtrot': substitute t->o + insert o = dist 2
    assert got[101] == (3, 2)
    assert 102 not in got
    import pytest as _pytest

    with _pytest.raises(ValueError, match="max_distance"):
        dedup.blocked_linkage(dirty, cat, "title", "doc_id", "blk", max_distance=-1)


def test_snapshot_diff_classifies_changes(spark):
    from tensorflow_recorder_spark.operators.snapshot import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", "en"), (2, "b", "en"), (3, "c", "fr"), (4, None, "de")],
        "doc_id long, text string, lang string",
    )
    new = spark.createDataFrame(
        [(1, "a", "en"), (2, "B", "en"), (4, None, "de"), (5, "e", "es")],
        "doc_id long, text string, lang string",
    )
    got = {r["doc_id"]: r["change"]
           for r in snapshot_diff(old, new, "doc_id", ["text", "lang"]).collect()}
    # 1 unchanged (absent), 4 unchanged incl. NULL text, 2 changed,
    # 3 removed, 5 added
    assert got == {2: "changed", 3: "removed", 5: "added"}
    import pytest as _pytest

    with _pytest.raises(ValueError, match="compare_cols"):
        snapshot_diff(old, new, "doc_id", [])


def test_distinct_ngram_ratio_per_group(spark):
    from tensorflow_recorder_spark.operators import text as tx

    df = spark.createDataFrame(
        [
            (1, "spam spam spam spam", "looped"),   # 3 bigrams, 1 distinct
            (2, "the quick brown fox", "clean"),    # 3 bigrams, 3 distinct
            (3, "x", "tiny"),                       # < n tokens: 0 grams
        ],
        "id long, text string, src string",
    )
    got = {r["src"]: r for r in tx.distinct_ngram_ratio(df, "text", "src", 2).collect()}
    assert got["looped"]["n_grams"] == 3 and got["looped"]["n_distinct"] == 1
    assert abs(got["looped"]["distinct_ratio"] - 1 / 3) < 1e-6
    assert got["clean"]["distinct_ratio"] == 1.0
    assert got["tiny"]["n_grams"] == 0 and got["tiny"]["distinct_ratio"] is None
    import pytest as _pytest

    with _pytest.raises(ValueError, match="n must be >= 1"):
        tx.distinct_ngram_ratio(df, "text", "src", 0)


def test_kfold_assign_deterministic_and_balanced(spark):
    from tensorflow_recorder_spark.operators.sampling import kfold_assign

    df = spark.range(0, 1000).withColumnRenamed("id", "doc_id")
    out = kfold_assign(df, "doc_id", k=5)
    folds = {r["doc_id"]: r["fold"] for r in out.collect()}
    assert set(folds.values()) <= {0, 1, 2, 3, 4}
    # deterministic across invocations
    again = {r["doc_id"]: r["fold"] for r in kfold_assign(df, "doc_id", k=5).collect()}
    assert folds == again
    # roughly balanced (binomial bound: each fold ~200 +/- 60)
    from collections import Counter

    sizes = Counter(folds.values())
    assert all(120 < sizes[f] < 280 for f in range(5)), sizes
    # a different salt draws a different assignment
    salted = {r["doc_id"]: r["fold"]
              for r in kfold_assign(df, "doc_id", k=5, salt="other").collect()}
    assert salted != folds
    import pytest as _pytest

    with _pytest.raises(ValueError, match="k must be >= 2"):
        kfold_assign(df, "doc_id", k=1)


def test_winsorize_clips_at_group_percentiles(spark):
    from tensorflow_recorder_spark.operators.scale import winsorize

    rows = [(i, "a", float(i)) for i in range(1, 101)] + [(200, "b", 5.0)]
    df = spark.createDataFrame(rows, "event_id long, event_type string, value double")
    out = {r["event_id"]: r["value_wins"]
           for r in winsorize(df, "value", group_col="event_type",
                              lower_q=0.10, upper_q=0.90).collect()}
    # group a: p10 of 1..100 = 10.9, p90 = 90.1 (interpolated)
    assert out[1] == 10.9 and out[100] == 90.1
    assert out[50] == 50.0
    # singleton group: both percentiles collapse to the value
    assert out[200] == 5.0
    # global (no group) clips against the pooled distribution
    glob = {r["event_id"]: r["value_wins"]
            for r in winsorize(df, "value", lower_q=0.0, upper_q=1.0).collect()}
    assert glob[1] == 1.0 and glob[100] == 100.0
    import pytest as _pytest

    with _pytest.raises(ValueError, match="lower_q"):
        winsorize(df, "value", lower_q=0.9, upper_q=0.1)


def test_streaming_zscore_matches_batch(spark, tmp_path):
    """The streaming twin drained in one availableNow batch must be
    row-identical to the batch rolling_zscore (shared oracle claim)."""
    from tensorflow_recorder_spark.operators import events as ev
    from tensorflow_recorder_spark.streaming.stateful import streaming_zscore

    rows = [
        (i, 1 + i % 2, f"2024-01-01 00:{i:02d}:00", float((i * 37) % 19) + 0.25)
        for i in range(40)
    ] + [(40, 1, "2024-01-01 00:59:00", 500.0)]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    path = str(tmp_path / "ev.parquet")
    df.coalesce(1).write.parquet(path)

    batch = {r["event_id"]: r for r in ev.rolling_zscore(
        spark.read.parquet(path), n=5).collect()}

    stream = spark.readStream.schema(df.schema).parquet(path)
    scored = streaming_zscore(stream, n=5)
    q = (
        scored.writeStream.format("memory").queryName("zscore_test_sink")
        .outputMode("update").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = {r["event_id"]: r for r in spark.table("zscore_test_sink").collect()}

    assert set(got) == set(batch)
    for eid, b in batch.items():
        s = got[eid]
        assert (s["n_prior"], s["z"], s["is_anomaly"]) == (
            b["n_prior"], b["z"], b["is_anomaly"]), eid
    assert got[40]["is_anomaly"] is True


def test_pagerank_fixed_point_tiny_graph(spark):
    from tensorflow_recorder_spark.operators.graph import pagerank

    # undirected path 1-2-3: hand-computed one fixed-point iteration
    e = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 2)], "src long, dst long"
    )
    r1 = {r["node"]: r["rank_units"] for r in pagerank(e, iterations=1).collect()}
    # r0 = 1e12 // 3 per node; base = 15e12 // 300 = 50_000_000_000
    # node1 <- r0(2) // deg(2)=2 -> 166666666666; 85% floor + base
    assert r1[1] == 50_000_000_000 + (85 * 166_666_666_666) // 100
    assert r1[3] == r1[1]  # symmetry
    assert r1[2] == 50_000_000_000 + (85 * (333_333_333_333 * 2)) // 100
    # symmetric 2-cycle is a fixed point at 1/2 each
    cyc = spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long")
    rc = {r["node"]: r["rank_units"] for r in pagerank(cyc, iterations=3).collect()}
    assert rc == {1: 500_000_000_000, 2: 500_000_000_000}
    import pytest as _pytest

    with _pytest.raises(ValueError, match="iterations"):
        pagerank(e, iterations=0)
    with _pytest.raises(ValueError, match="damping_pct"):
        pagerank(e, damping_pct=0)


def test_temperature_weights_rebalances_toward_uniform(spark):
    from tensorflow_recorder_spark.operators.sampling import temperature_weights

    df = spark.createDataFrame(
        [(i, "big", "w " * 99) for i in range(90)]
        + [(1000 + i, "small", "w " * 99) for i in range(10)],
        "id long, source string, text string",
    )
    tok = F.expr("size(split(lower(text), '\\\\s+'))")
    w1 = {r["source"]: r["weight"]
          for r in temperature_weights(df, "source", tok, alpha=1.0).collect()}
    w5 = {r["source"]: r["weight"]
          for r in temperature_weights(df, "source", tok, alpha=0.5).collect()}
    # alpha=1 reproduces natural proportions; alpha=0.5 pulls toward uniform
    assert abs(w1["big"] - 0.9) < 1e-6
    assert w5["big"] < w1["big"] and w5["small"] > w1["small"]
    assert abs(w5["big"] + w5["small"] - 1.0) < 1e-5
    # budget rates cap at 1.0
    rated = {r["source"]: r["sample_rate"]
             for r in temperature_weights(
                 df, "source", tok, alpha=0.5, token_budget=1e9).collect()}
    assert rated == {"big": 1.0, "small": 1.0}
    import pytest as _pytest

    with _pytest.raises(ValueError, match="alpha"):
        temperature_weights(df, "source", tok, alpha=0.0)


def test_psi_drift_flags_shifted_distribution(spark):
    from tensorflow_recorder_spark.operators.drift import psi_drift

    ref = spark.createDataFrame(
        [(i, "a", float(i % 100)) for i in range(1000)]
        + [(i, "b", float(i % 100)) for i in range(1000)],
        "event_id long, event_type string, value double",
    )
    same = spark.createDataFrame(
        [(i, "a", float(i % 100)) for i in range(500)],
        "event_id long, event_type string, value double",
    )
    shifted = spark.createDataFrame(
        [(i, "b", float(i % 100) + 80.0) for i in range(500)],
        "event_id long, event_type string, value double",
    )
    cur = same.union(shifted)
    got = {r["event_type"]: r for r in psi_drift(ref, cur, "event_type", "value").collect()}
    assert got["a"]["psi"] < 0.01          # identical distribution: stable
    assert got["b"]["psi"] > 0.25          # shifted by 80: action zone
    assert got["a"]["n_ref"] == 1000 and got["a"]["n_cur"] == 500
    import pytest as _pytest

    with _pytest.raises(ValueError, match="bins"):
        psi_drift(ref, cur, "event_type", "value", bins=1)


def test_embedding_drift_zero_for_identical_and_positive_for_shift(spark):
    from tensorflow_recorder_spark.operators.drift import embedding_drift

    ref = spark.createDataFrame(
        [(i, "a", [1.0, 2.0, 3.0]) for i in range(10)]
        + [(i, "b", [0.0, 0.0, 1.0]) for i in range(10)],
        "vec_id long, label string, embedding array<double>",
    )
    cur = spark.createDataFrame(
        [(i, "a", [1.0, 2.0, 3.0]) for i in range(5)]
        + [(i, "b", [0.0, 0.0, 4.0]) for i in range(5)],
        "vec_id long, label string, embedding array<double>",
    )
    got = {r["label"]: r
           for r in embedding_drift(ref, cur, "embedding", "label").collect()}
    assert got["a"]["drift_l2"] == 0.0
    assert got["b"]["drift_l2"] == 3.0  # centroid moved (0,0,1)->(0,0,4)
    assert got["a"]["n_ref"] == 10 and got["a"]["n_cur"] == 5
    # ungrouped variant returns a single global row
    glob = embedding_drift(ref, cur, "embedding").collect()
    assert len(glob) == 1 and glob[0]["drift_l2"] > 0
