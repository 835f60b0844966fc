"""Physical-plan assertions: the scale-critical plan properties the
operators were designed around must actually hold (a regression here
is a 10× slowdown at 100 TB, invisible at test SF)."""

from __future__ import annotations

from pyspark.sql import functions as F

from streaming_examples_spark.operators.analytics import (
    pricing_summary,
    regional_revenue,
    top_customers,
)
from streaming_examples_spark.operators.denormalize import denormalize_orders_lineitem
from streaming_examples_spark.operators.windows import latest_per_key
from streaming_examples_spark.plans.inspect import (
    count_occurrences,
    exchange_count,
    formatted_plan,
    has_broadcast_join,
    has_cartesian,
    pushed_filters,
    read_schemas,
)


def test_pricing_summary_pushdown_and_pruning(tables):
    df = pricing_summary(tables["lineitem"])
    # filter reaches the parquet scan
    assert any("IsNotNull(l_shipdate)" in f or "l_shipdate" in f for f in pushed_filters(df))
    # scan reads only referenced columns, not all 16
    schemas = read_schemas(df)
    assert schemas, "no parquet scan found"
    cols = schemas[0].split(",")
    assert len(cols) <= 7
    assert not any("l_orderkey" in c for c in cols)


def test_regional_revenue_broadcasts_dims(tables):
    df = regional_revenue(
        tables["region"], tables["nation"], tables["customer"],
        tables["orders"], tables["lineitem"],
    )
    assert has_broadcast_join(df)
    assert not has_cartesian(df)
    # dims broadcast → only the fact-fact join shuffles: ≤3 hash
    # exchanges (two join inputs + final agg; AQE may coalesce)
    assert exchange_count(df) <= 3


def test_topk_uses_take_ordered(tables):
    from streaming_examples_spark.plans.inspect import node_count

    df = top_customers(tables["customer"], tables["orders"], tables["lineitem"], n=20)
    assert node_count(df, "TakeOrderedAndProject") == 1  # never a global sort
    assert node_count(df, "Sort") == 0


def test_denormalize_single_shuffle_reuse(tables):
    df = denormalize_orders_lineitem(tables["orders"], tables["lineitem"])
    # join and groupBy share the order-key partitioning: one exchange
    # per side, none between join and aggregate
    assert exchange_count(df) <= 2
    plan = formatted_plan(df)
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_latest_per_key_is_aggregate_not_window(tables):
    df = latest_per_key(
        tables["events"].select("user_id", "event_type", "value", "event_id"),
        key_cols=["user_id"],
        order_col="event_id",
        value_cols=["event_type", "value"],
    )
    plan = formatted_plan(df)
    # max_by compiles to partial+final aggregate (map-side combine);
    # a window implementation would show Window + full-row shuffle
    assert "Window" not in plan
    assert "HashAggregate" in plan or "SortAggregate" in plan or "ObjectHashAggregate" in plan


def test_projection_prunes_unused_columns(tables):
    df = tables["lineitem"].select("l_orderkey", "l_quantity")
    schemas = read_schemas(df)
    assert schemas and len(schemas[0].split(",")) == 2


def test_multimodal_meta_union_plan_shape(spark):
    """The multimodal entry runs the whole quartet as ONE fused Arrow
    stage (r13; the r12 branch union ran five MapInPandas stages over
    the same documents). A second MapInPandas reappearing in this plan
    means the fusion regressed; row-equivalence with the branch form is
    pinned by test_fused_multimodal_matches_branch_union."""
    import os

    from streaming_examples_spark.catalog import entries, release

    sf_dir = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    df = entries()["multimodal_meta"].fn(spark, sf_dir)
    try:
        import re

        plan = formatted_plan(df)
        assert not has_cartesian(df)
        # formatted plans list each node twice (tree + detail section):
        # count the numbered detail headers, i.e. actual plan nodes
        assert len(re.findall(r"\(\d+\) MapInPandas", plan)) == 1
    finally:
        release(spark, "multimodal_meta", sf_dir)


def test_approx_distinct_error_bound(tables):
    ev = tables["events"]
    approx = {
        r["event_type"]: r["approx_users"]
        for r in ev.groupBy("event_type")
        .agg(F.approx_count_distinct("user_id").alias("approx_users"))
        .collect()
    }
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    for k, n in exact.items():
        assert abs(approx[k] - n) <= max(2, 0.05 * n)  # HLL++ default rsd


def test_deterministic_sample_is_pure_filter(tables):
    from streaming_examples_spark.operators.sampling import deterministic_sample

    df = deterministic_sample(tables["documents"], rate=0.1).select("doc_id", "lang")
    # content-addressed sampling must stay map-only: no exchange at all
    assert exchange_count(df) == 0
    # and the scan must not read the heavy text column
    schemas = read_schemas(df)
    assert schemas and not any("text" in c for c in schemas[0].split(","))


def test_tfidf_broadcasts_vocabulary(tables):
    from streaming_examples_spark.operators.text import tfidf_top_terms

    df = tfidf_top_terms(tables["documents"], k=3)
    # the tf←df scoring join goes through a broadcast, not a shuffle join
    assert has_broadcast_join(df)
    # the scalar n_docs frame joins as broadcast-nested-loop (1 row),
    # never as an unbroadcast CartesianProduct
    assert count_occurrences(df, r"CartesianProduct") == 0


def test_quota_sample_single_shuffle(tables):
    from streaming_examples_spark.operators.sampling import quota_sample

    df = quota_sample(tables["documents"], k=20).select("doc_id", "source", "rk")
    # one exchange: the partitionBy(source) sort for row_number
    assert exchange_count(df) == 1


def test_embedding_near_dup_is_bucket_equi_join(tables):
    from streaming_examples_spark.operators.dedup import embedding_near_dup_lsh

    df = embedding_near_dup_lsh(tables["embeddings"], threshold=0.4)
    # the scale guarantee: candidate pairs come from an equi-join on
    # (tbl, bkt), never an all-pairs nested-loop over the corpus
    assert not has_cartesian(df)
    assert count_occurrences(df, r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin") >= 1


def test_changelog_aggregate_single_shuffle(spark):
    from streaming_examples_spark.operators.ingest import changelog_aggregate

    cl = spark.createDataFrame(
        [("+I", 1, 5.0)], "row_kind string, id long, value double"
    ).select(
        "row_kind",
        F.struct(F.col("id").alias("id"), F.col("value").alias("value")).alias("row"),
    )
    df = changelog_aggregate(
        cl, [F.pmod(F.col("row.id"), F.lit(10)).alias("cohort")], F.col("row.value")
    )
    # the whole point vs materialize-then-aggregate: ONE shuffle on the
    # GROUP BY key, partial aggregation before it (map-side combine)
    assert exchange_count(df) == 1
    plan = formatted_plan(df)
    assert "partial" in plan.lower()  # HashAggregate(partial) before the exchange


def test_denorm_serialized_twin_reuses_single_shuffle(tables):
    from streaming_examples_spark.operators.denormalize import (
        denormalize_orders_serialized,
    )

    df = denormalize_orders_serialized(tables["orders"], tables["lineitem"])
    # serialization must stay a map-side transform over the nested agg:
    # same single-shuffle join+agg plan as the nested flagship form
    from streaming_examples_spark.plans.inspect import exchange_count as xc

    assert xc(df) <= 2  # join shuffle reused by agg (+1 if AQE splits)


def test_no_broadcast_hints_on_corpus_frames(tables):
    """dedup_groups / curated_corpus must not FORCE broadcasts: the
    component map, size map, and passing/canon id-sets are O(corpus) at
    realistic dup/quality rates. AQE may still broadcast them at test SF
    (adaptive, fine); an explicit hint would force it at 100 TB (fatal).
    training_mix's hints are exempt: its curated id-set is bounded by
    quota_k x #sources and its weights frame by #sources."""
    from streaming_examples_spark.operators.curation import curated_corpus
    from streaming_examples_spark.operators.dedup import dedup_groups
    from streaming_examples_spark.plans.inspect import broadcast_hint_count

    assert broadcast_hint_count(dedup_groups(tables["documents"])) == 0
    assert broadcast_hint_count(curated_corpus(tables["documents"])) == 0


def test_decontaminate_broadcast_probe(tables):
    from streaming_examples_spark.operators.dedup import decontaminate
    from streaming_examples_spark.operators.sampling import md5_bucket

    docs = tables["documents"]
    bkt = md5_bucket(F.col("doc_id"))
    df = decontaminate(docs.filter(bkt >= 3276), docs.filter(bkt < 3276), k=5)
    # eval shingle set is broadcast: the corpus probe is shuffle-free
    # and there is never a doc×doc pair space
    assert has_broadcast_join(df)
    assert not has_cartesian(df)


def test_text_stats_entry_has_no_cartesian(spark, tables):
    """The merged text_stats catalog entry joins six doc-grain operator
    outputs on doc_id — all equi-joins; a missing key would silently
    become a nested-loop product."""
    from streaming_examples_spark.catalog import entries

    import os

    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    df = entries()["text_stats"].fn(spark, sf)
    assert not has_cartesian(df)


def test_sampling_suite_entry_bounded_shuffles(spark, tables):
    """sampling_suite = sample + split + quota joined on doc_id: the
    only required shuffles are the quota window partitioning and the
    doc_id join alignments — a regression that re-shuffles the corpus
    per sub-operator would multiply exchanges."""
    from streaming_examples_spark.catalog import entries

    import os

    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    df = entries()["sampling_suite"].fn(spark, sf)
    assert not has_cartesian(df)
    assert exchange_count(df) <= 6


def test_tx_denorm_join_strategy(spark, tables):
    """The flagship's joins keep their designed physical strategies:
    the tx gates broadcast the tiny emit_txs set, the only
    nested-loop join is the single-row barrier broadcast, and every
    data-sized join (as-of reconstruction) is an equi-join — a raw
    CartesianProduct anywhere means the LSN range predicate stopped
    being paired with the order-key equality."""
    from streaming_examples_spark.catalog_cdc import q_tx_denorm_orders
    from streaming_examples_spark.plans.inspect import count_occurrences

    from tests.conftest import SF_DIR
    from streaming_examples_spark.plans.inspect import formatted_plan

    df = q_tx_denorm_orders(spark, SF_DIR)
    # the tx gates broadcast (LeftSemi BroadcastHashJoins)
    assert count_occurrences(df, r"BroadcastHashJoin.*LeftSemi") >= 3
    # no unbounded cartesian anywhere; every nested-loop join in the
    # (pre-AQE, subtree-duplicated) plan is the single-row barrier
    # broadcast - its build side is the one-row barrier aggregate
    assert count_occurrences(df, r"CartesianProduct") == 0
    plan = formatted_plan(df)
    import re as _re
    bnlj = _re.findall(r"BroadcastNestedLoopJoin [^\n]*", plan)
    assert bnlj and all("Cross BuildRight" in b for b in bnlj)
    # the as-of joins stay shuffled equi-joins on the order key
    assert count_occurrences(df, r"SortMergeJoin|ShuffledHashJoin") >= 2


def test_catalog_wide_plan_lint(spark):
    """Every driver-checked catalog entry, linted in one sweep for the
    two plan shapes that are silent scale-killers at 100 TB however
    they sneak in (a refactor, a dropped join key, a UDF fallback):

      * ``CartesianProduct`` — an unconstrained n×m join; at corpus
        scale that is not slow, it is non-terminating;
      * ``BatchEvalPython`` — a row-at-a-time Python UDF stage; the
        engine only ships Arrow-batched Python (``ArrowEvalPython`` /
        ``MapInPandas`` / ``FlatMapGroupsInPandas``), which are
        10-100× faster per the pandas-UDF design docs.

    The per-query pins above assert each flagship's *designed* plan;
    this sweep guarantees the whole registry — including entries with
    no dedicated pin — never regresses into either catastrophe class.
    (``BroadcastNestedLoopJoin`` is deliberately NOT linted: seven
    entries legitimately cross-join a bounded broadcast side — scalar
    totals, top-k query sets, the one-row tx barrier — which is the
    correct distributed shape for those; the bounded-build-side
    property is asserted per-query where it matters.)
    """
    from streaming_examples_spark import catalog

    from tests.conftest import SF_DIR

    bad: dict[str, list[str]] = {}
    for name, fn in catalog.queries().items():
        plan = formatted_plan(fn(spark, SF_DIR))
        issues = [p for p in ("CartesianProduct", "BatchEvalPython") if p in plan]
        if issues:
            bad[name] = issues
    assert not bad, f"scale-killer plan nodes in catalog entries: {bad}"
