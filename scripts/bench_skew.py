"""Skew-at-scale evidence (r7 verdict item 5): measure the two
shuffle-heavy join families on a Zipf-skewed 10x derivative
(scripts/gen_scale_data.py --skew -> .scale/sf1skew) and record the
salted path winning over the naive shape.

Arms:
  * rel_copurchase — the shipped two-path skew_split_pairs shape vs
    the NAIVE orderkey-keyed self-join, on uniform .scale/sf1 AND on
    .scale/sf1skew (two ~3,000-line celebrity baskets, ~4.5M pair
    combinations each, which the naive shape serializes onto two
    tasks). Also asserts the two shapes agree on the top-20 result on
    the skewed data (exactness under skew, not just speed).
  * p4_leakage_safe_split — uniform vs skewed documents (one ~250-doc
    boilerplate near-dup family, the hub-cluster case); the defense
    being demonstrated is inside lsh_verified_pairs (candidates and
    their exact verify stay inside each LSH bucket, with the hub
    family's bucket verified by the vectorized bucket kernels): wall
    stays bounded and the family lands in ONE split (leakage-safety
    under the hub).

Writes SCALING.json["skew"]; SCALE.md quotes it. Plan-shape assertions
(salt column in the hot join keys, no unbounded crossJoin) live in
tests/test_skew_scale.py where they run per-CI on fixture data.

Usage: python scripts/bench_skew.py
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

SF1 = "/root/repo/.scale/sf1"
SKEW = "/root/repo/.scale/sf1skew"
SCALING_PATH = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "..", "SCALING.json"
)


def naive_copurchase(spark, sf_dir):
    """The pre-r8 rel_copurchase shape: pair generation keyed on
    l_orderkey only — one basket's O(k²) pairs on one task."""
    from pyspark.sql import functions as F

    li = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    rhs = li.select(
        F.col("l_orderkey").alias("__ok"), F.col("l_partkey").alias("__pb")
    )
    pairs = li.join(
        rhs,
        (F.col("l_orderkey") == F.col("__ok"))
        & (F.col("l_partkey") < F.col("__pb")),
    ).groupBy(
        F.col("l_partkey").alias("part_a"), F.col("__pb").alias("part_b")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
    return pairs.orderBy(
        F.desc("n_orders"), F.asc("part_a"), F.asc("part_b")
    ).limit(20)


def main() -> int:
    for d in (SF1, SKEW):
        if not os.path.isdir(d):
            print(f"missing {d}: run scripts/gen_scale_data.py first"
                  " (--skew for sf1skew)")
            return 1

    from pyspark.sql import functions as F

    from tensorflow_recorder_spark.queries import QUERIES
    from tensorflow_recorder_spark.session import get_spark

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark("bench_skew", master=f"local[{cpus}]")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.range(100).mapInPandas(lambda it: it, schema="id long").write.format(
        "noop"
    ).mode("overwrite").save()
    for d in (SF1, SKEW):
        for t in ("lineitem", "documents"):
            spark.read.parquet(f"{d}/{t}.parquet").limit(64).write.format(
                "noop"
            ).mode("overwrite").save()

    def wall(fn, sf_dir) -> float:
        t0 = time.time()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        first = time.time() - t0
        t0 = time.time()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return round(min(first, time.time() - t0), 3)

    rec: dict = {}

    # --- copurchase: salted (shipped) vs naive, uniform vs skewed ----
    salted = QUERIES["rel_copurchase"]
    co = {
        "salted_uniform": wall(salted, SF1),
        "salted_skewed": wall(salted, SKEW),
        "naive_uniform": wall(naive_copurchase, SF1),
        "naive_skewed": wall(naive_copurchase, SKEW),
    }
    co["skew_speedup_naive_over_salted"] = round(
        co["naive_skewed"] / co["salted_skewed"], 2
    )
    # exactness under skew: both shapes produce the identical top-20
    a = [tuple(r) for r in salted(spark, SKEW).collect()]
    b = [tuple(r) for r in naive_copurchase(spark, SKEW).collect()]
    co["skewed_results_identical"] = a == b
    rec["rel_copurchase"] = co
    print("rel_copurchase:", json.dumps(co))

    # --- p4: leakage-safe split under a hub near-dup family ----------
    p4 = QUERIES["p4_leakage_safe_split"]
    p4w = {
        "uniform": wall(p4, SF1),
        "skewed": wall(p4, SKEW),
    }
    p4w["skew_overhead_ratio"] = round(p4w["skewed"] / p4w["uniform"], 2)
    # leakage safety under the hub: the boilerplate family must land in
    # exactly one split (they share a group_key by construction)
    fam = (
        spark.read.parquet(f"{SKEW}/documents.parquet")
        .where(F.col("text").startswith("the quick brown fox"))
        .select("doc_id")
    )
    splits = (
        p4(spark, SKEW)
        .join(fam, "doc_id")
        .agg(
            F.countDistinct("split").alias("n_splits"),
            F.countDistinct("group_key").alias("n_groups"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .collect()[0]
    )
    p4w["family_docs"] = splits["n_docs"]
    p4w["family_groups"] = splits["n_groups"]
    p4w["family_splits"] = splits["n_splits"]
    rec["p4_leakage_safe_split"] = p4w
    print("p4_leakage_safe_split:", json.dumps(p4w))

    # --- celebrity-basket isolation arm ------------------------------
    # The registry-scale arm above runs at miniature volume, where a
    # ~3,000-line basket's 4.5M pair combinations are sub-second on one
    # task — too small for the straggler to dominate the scan/shuffle
    # constants. This arm isolates the effect the operator targets:
    # ONE 12,000-item basket (144M combinations, ~72M pairs) on a
    # CACHED input, naive group-keyed join vs the conditional-salt
    # join, both reduced by a map-side-combinable count. Auto-broadcast
    # is DISABLED for the arm: at miniature scale Catalyst broadcasts
    # the 12k-row side and the naive join never pins (a broadcast join
    # streams the probe side in parallel) — at 100 TB neither side of
    # the self-join fits a broadcast, the join is sort-merge, and the
    # hot group's pairs are produced by the ONE task owning its hash
    # partition. threshold=-1 reproduces that physical strategy; the
    # operator's own hot-key tag stays broadcast via an explicit hint,
    # exactly as it would at scale (the hot-key set is counted-small).
    from tensorflow_recorder_spark.operators.skew import skew_split_pairs

    k = 12_000
    basket = spark.createDataFrame(
        [(1, i) for i in range(k)], "g long, item long"
    ).repartition(32).localCheckpoint(eager=True)
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

    def naive_count() -> float:
        t0 = time.time()
        rhs = basket.select(
            F.col("g").alias("__g"), F.col("item").alias("__b")
        )
        (
            basket.join(
                rhs,
                (F.col("g") == F.col("__g"))
                & (F.col("item") < F.col("__b")),
            )
            .groupBy("g")
            .agg(F.count(F.lit(1)).alias("n"))
            .write.format("noop").mode("overwrite").save()
        )
        return round(time.time() - t0, 3)

    def salted_count() -> float:
        t0 = time.time()
        (
            skew_split_pairs(
                basket, "g", "item", hot_threshold=64, salt_buckets=16
            )
            .groupBy("g")
            .agg(F.count(F.lit(1)).alias("n"))
            .write.format("noop").mode("overwrite").save()
        )
        return round(time.time() - t0, 3)

    iso = {
        "basket_items": k,
        "pair_combinations": k * k,
        "naive_one_task": min(naive_count(), naive_count()),
        "salted_16_buckets": min(salted_count(), salted_count()),
    }
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
    iso["salted_speedup"] = round(
        iso["naive_one_task"] / iso["salted_16_buckets"], 2
    )
    rec["celebrity_basket_isolation"] = iso
    print("celebrity_basket_isolation:", json.dumps(iso))

    full = {}
    if os.path.exists(SCALING_PATH):
        with open(SCALING_PATH) as f:
            full = json.load(f)
    full["skew"] = rec
    with open(SCALING_PATH, "w") as f:
        json.dump(full, f, indent=1)
        f.write("\n")
    print(json.dumps({"metric": "skew_arm_done",
                      "copurchase_speedup": co[
                          "skew_speedup_naive_over_salted"],
                      "identical": co["skewed_results_identical"]}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
