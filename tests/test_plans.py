"""Plan-regression tests: assert the physical properties SCALE.md
claims (predicate pushdown, column pruning, broadcast joins, partial
aggregation) are what Catalyst actually produces — so a refactor that
silently degrades the plan (e.g. turns a broadcast join into a
shuffled sort-merge join) fails CI, not a 100 TB run.
"""

import contextlib
import io

from tensorflow_recorder_spark.queries import QUERIES

SF_DIR = "/root/testdata/sf0.001"


def plan_of(spark, name: str) -> str:
    df = QUERIES[name](spark, SF_DIR)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_pricing_summary_pushdown_and_pruning(spark):
    plan = plan_of(spark, "rel_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: the scan must not read columns the query never uses
    assert "l_comment" not in plan and "l_shipinstruct" not in plan
    # partial (map-side) aggregation before the exchange
    assert "partial_" in plan


def test_top_orders_broadcasts_dimensions(spark):
    plan = plan_of(spark, "rel_top_orders")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # top-k must not globally sort
    assert "TakeOrderedAndProject" in plan


def test_vocabulary_apply_broadcasts_fitted_state(spark):
    plan = plan_of(spark, "a3_vocabulary_apply")
    assert "BroadcastHashJoin" in plan and "LeftOuter" in plan
    assert "SortMergeJoin" not in plan


def test_exact_dedup_shuffles_digest_not_text(spark):
    plan = plan_of(spark, "e1_dedup_exact")
    assert "hashpartitioning(sha2" in plan or "hashpartitioning(_w" in plan


def test_word_frequencies_partial_aggregates(spark):
    plan = plan_of(spark, "e3_word_frequencies")
    assert "partial_count" in plan
    assert "TakeOrderedAndProject" in plan


def test_topk_cosine_broadcasts_queries_not_corpus(spark):
    plan = plan_of(spark, "e2_topk_cosine")
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan


def test_topk_rank_is_salted_not_corpus_wide(spark):
    """The per-query top-k must run the two-phase salted plan: a window
    partitioned only by query_id over the |Q|x|corpus| scored frame is
    an unsplittable corpus-sized sort per query at scale."""
    import re

    for name in ("e2_topk_cosine", "e2_ivf_topk"):
        plan = plan_of(spark, name)
        specs = re.findall(r"windowspecdefinition\([^)]*\)", plan)
        # two-phase: a salted phase-1 window must exist; reverting to a
        # single query_id-only window leaves no __salt in any spec
        assert specs and any("__salt" in s for s in specs), name


def test_ivf_assign_is_partial_aggregate_not_window(spark):
    """ivf_assign's argmax must be a partially-aggregable min_by, not a
    row_number window sorting K x |corpus| rows."""
    plan = plan_of(spark, "e2_ivf_assign")
    assert "Window" not in plan
    assert "partial_min_by" in plan or "min_by" in plan


def test_anti_join_stays_broadcast(spark):
    plan = plan_of(spark, "rel_anti_join")
    assert "LeftAnti" in plan
    assert "SortMergeJoin" not in plan


def test_lsh_fused_plan_single_exchange(spark):
    """The fused fuzzy-dedup plan must stay join-free with the corpus
    payload shuffled ONCE. r12 default shape: map pass (signatures +
    shingles) -> round-robin spread -> one exchange on the band key ->
    per-PARTITION python verify (mapInPandas — the r11 per-bucket
    groupBy.applyInPandas spent ~1.5 s/task on ~90k per-group pandas
    frames). Pin it so a regression re-introducing a join, a
    per-bucket groupBy on the hot path, or a second corpus shuffle is
    caught."""
    import contextlib
    import io

    from tensorflow_recorder_spark.operators.dedup import lsh_verified_pairs

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = lsh_verified_pairs(docs, "text", "doc_id")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    import re

    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 2, plan
    assert "RoundRobinPartitioning" in plan, plan
    assert "Join" not in plan, plan
    assert "MapInPandas" in plan, plan
    assert "FlatMapGroupsInPandas" not in plan, plan


def test_partitioned_events_scan_prunes_date_range(spark, tmp_path):
    """hourly_rollup_pruned over the date-partitioned layout must carry
    the date bounds as PartitionFilters (directory pruning), not a
    post-scan Filter: at 100 TB the range query reads only the touched
    day directories."""
    import contextlib
    import io

    from pyspark.sql import functions as F
    from tensorflow_recorder_spark.operators.events import (
        hourly_rollup_pruned,
        write_events_partitioned,
    )

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    if dict(ev.dtypes).get("ts") == "bigint":
        ev = ev.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    path = str(tmp_path / "events_by_date")
    write_events_partitioned(ev, path)
    index = spark.read.parquet(path)
    out = hourly_rollup_pruned(index, "2024-01-10", "2024-01-12")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters: [" in plan
    pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "event_date" in pf and "2024-01-10" in pf and "2024-01-12" in pf
    # and the result matches filtering the source frame directly
    expect = (
        ev.where(F.to_date("ts").between("2024-01-10", "2024-01-12")).count()
    )
    got = out.agg(F.sum("n_events")).first()[0]
    assert got == expect and expect > 0


def test_mixture_sample_broadcasts_rates_not_corpus(spark):
    plan = plan_of(spark, "e6_mixture_sample")
    # the per-source rate table (one row per source) broadcasts; the
    # corpus side must not move through a broadcast/sort-merge exchange
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
    # rates come from a partial-aggregated groupBy
    assert "partial_" in plan


def test_source_quota_windows_over_shard_not_source(spark):
    df = QUERIES["e6_source_quota"](spark, SF_DIR)
    import io as _io
    import contextlib as _ctx

    buf = _io.StringIO()
    with _ctx.redirect_stdout(buf):
        df.explain()
    plan = buf.getvalue()
    # window partition spec must include the shard term, so one giant
    # source never lands on one task
    assert "windowspecdefinition(source" in plan
    assert "% 2)" in plan


def test_shuffle_order_is_narrow_projection(spark):
    plan = plan_of(spark, "e6_shuffle_order")
    # a pure map-side projection: no exchange of any kind
    assert "Exchange" not in plan


def test_redact_is_narrow_projection(spark):
    plan = plan_of(spark, "e3_redact")
    assert "Exchange" not in plan


def test_heavy_hitters_sketch_broadcasts_onto_probes(spark):
    """CMS: the sketch side of the probe join must broadcast (it is at
    most depth*width cells) and the counting aggregate must partial-
    aggregate map-side."""
    plan = plan_of(spark, "e3_heavy_hitters")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "partial_" in plan


def test_hll_is_two_bounded_aggregates(spark):
    """HLL: register groupBy partial-aggregates; no join, no window —
    the whole plan is two aggregates over <= 2^b keys."""
    plan = plan_of(spark, "e4_hll_users")
    assert "partial_" in plan
    assert "Join" not in plan and "Window" not in plan


def test_pq_topk_corpus_never_shuffles_to_score(spark):
    """PQ ADC: codebook and query LUT broadcast onto the exploded code
    rows; the corpus-sized side must not enter a sort-merge join, and
    the final rank must be the salted two-phase form (no corpus-wide
    unpartitioned window)."""
    plan = plan_of(spark, "e2_pq_topk")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("Window") >= 2  # phase-1 salted + phase-2 rank


def test_bm25_filters_explode_before_aggregate(spark):
    """BM25: the query-term filter must run BEFORE the (doc, term)
    aggregate (bounded shuffle), and df/stats join via broadcast."""
    plan = plan_of(spark, "e3_bm25")
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "partial_" in plan


def test_span_occurrences_single_window_no_join(spark):
    """Span dedup: the gram stream must flow through ONE ranking window
    on the digest — no groupBy+join-back (which shuffled the grams twice
    and re-evaluated the hash projection on both sides), and the
    tokenization must feed a Generate (explode-as-generator blocks
    CollapseProject from inlining split() into the per-position lambda;
    the r4 fix that took e3_span_dedup from 17.7s to 1.7s at sf0.1)."""
    plan = plan_of(spark, "e3_span_occurrences")
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
    assert plan.count("Window (") == 1  # one window NODE in the tree
    assert "Generate" in plan


def test_winsorize_broadcasts_bounds_not_facts(spark):
    """The per-group quantile bounds are group-cardinality rows; the
    fact table must join them via broadcast, never shuffle itself."""
    plan = plan_of(spark, "e4_winsorize")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "partial_" in plan  # the percentile fit partial-aggregates


def test_gap_fill_densifies_after_daily_collapse(spark):
    """Events must collapse to per-key daily rows (partial agg) BEFORE
    the calendar-grid join; the LOCF pass is a keyed window."""
    plan = plan_of(spark, "e4_gap_fill")
    assert "partial_count" in plan
    assert "Window" in plan
    assert "CartesianProduct" not in plan


def test_record_linkage_is_blocked_equi_join(spark):
    """Linkage must be an equi-join on the block key (AQE-splittable),
    never a nested-loop cross product, and the per-left argmin a
    partial-aggregated min_by, not a window sort."""
    plan = plan_of(spark, "e1_record_linkage")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "partial_min" in plan


def test_snapshot_diff_joins_fingerprints_full_outer(spark):
    """The diff join must be full-outer on the key with md5 fingerprints
    computed BELOW the join (the join moves 32-byte hashes, not document
    payloads)."""
    plan = plan_of(spark, "e6_snapshot_diff")
    assert "FullOuter" in plan
    assert "md5" in plan


def test_temperature_mix_broadcasts_scalar_denominator(spark):
    """The n^alpha normalization joins ONE broadcast scalar row onto the
    source-cardinality totals — no shuffle of anything wide."""
    plan = plan_of(spark, "e6_temperature_mix")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan


def test_chunk_documents_is_narrow_generate(spark):
    """Chunking must be a map-only explode: no shuffle, no join, no
    window — the chunk stream is produced inside the scan stage."""
    plan = plan_of(spark, "e3_chunk")
    assert "Generate" in plan
    assert "Exchange" not in plan
    assert "Join" not in plan and "Window" not in plan


def test_chunk_stats_has_no_generate(spark):
    """The stats twin must size the chunk table WITHOUT exploding it —
    a pure arithmetic projection over the scan."""
    plan = plan_of(spark, "e3_chunk_stats")
    assert "Generate" not in plan
    assert "Exchange" not in plan


def test_data_audit_is_single_aggregate_pass(spark):
    """The whole expectation suite must evaluate in ONE aggregation over
    one scan: no join/union of per-check subplans; the count-distinct
    goes through Expand in the same pass."""
    plan = plan_of(spark, "e6_data_audit")
    assert "Union" not in plan
    assert "Join" not in plan
    assert plan.count("Scan parquet  (") == 1
    # two exchanges only: the keyed distinct rewrite + the single-row final
    assert plan.count("Exchange (") == 2


def test_length_buckets_window_partitioned_by_bucket(spark):
    """Dynamic batching must window BY BUCKET (bounded partitions), with
    exactly one shuffle feeding it — never a global unpartitioned sort."""
    plan = plan_of(spark, "e6_length_buckets")
    assert plan.count("Window (") == 1
    assert plan.count("Exchange (") == 1
    assert "hashpartitioning(bucket" in plan


def test_market_share_broadcasts_every_dimension_chain(spark):
    """rel_market_share's three dimension joins (customer-in-ASIA set,
    supplier flag, and the nation/region chain folded into them) must
    broadcast — the only allowed shuffle join is fact-to-fact
    (lineitem x orders)."""
    plan = plan_of(spark, "rel_market_share")
    assert plan.count("BroadcastHashJoin") >= 3
    # bounded final aggregate with map-side partials
    assert "partial_" in plan


def test_key_skew_profile_partial_aggregates(spark):
    """The per-key count frames must partial-aggregate map-side (the
    profile's first groupBy is the only row-scaled shuffle)."""
    plan = plan_of(spark, "rel_key_skew")
    assert "partial_count" in plan
