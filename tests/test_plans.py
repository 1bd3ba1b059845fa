"""Physical-plan regression checks — the 100 TB design assertions.

Correctness tests prove the answers are right at test scale; these prove
the PLANS are the ones that survive a 1000-executor cluster: small
dimensions broadcast, filters reach the parquet scan, projections prune
the read schema, aggregations combine map-side, and nothing in the corpus
degenerates into a cartesian product.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from csce438_distributed_password_cracker_spark.catalog import load_table
from csce438_distributed_password_cracker_spark.plans import corpus


def plan_str(spark, df) -> str:
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def test_broadcast_join_is_broadcast(spark, sf_oracle):
    """J1: nation ⋈ region must resolve to a broadcast hash join — a
    shuffle join on a 5-row dimension would be a cluster-scale smell."""
    df = corpus.REGISTRY["q_join_broadcast"].fn(spark, sf_oracle)
    assert "BroadcastHashJoin" in plan_str(spark, df)


def test_large_join_is_shuffle_not_nested_loop(spark, sf_oracle):
    """J2: orders ⋈ lineitem is an equi-join on keys.  At test SF the
    planner correctly broadcasts the small side; with broadcast disabled
    (simulating both sides too big to broadcast — the 100 TB case) it must
    degrade to a shuffle join on the key, never a nested loop."""
    p = plan_str(spark, corpus.REGISTRY["q_join_sortmerge"].fn(spark, sf_oracle))
    assert "Join" in p and "CartesianProduct" not in p
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        p = plan_str(
            spark, corpus.REGISTRY["q_join_sortmerge"].fn(spark, sf_oracle)
        )
        assert ("SortMergeJoin" in p) or ("ShuffledHashJoin" in p)
        assert "BroadcastNestedLoopJoin" not in p
        assert "CartesianProduct" not in p
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_filter_pushdown_reaches_parquet(spark, sf_oracle):
    """Predicates on parquet tables must appear as PushedFilters in the
    scan node (row-group pruning at scale)."""
    df = (
        load_table(spark, sf_oracle, "orders")
        .filter(F.col("o_totalprice") > 1000.0)
        .select("o_orderkey")
    )
    p = plan_str(spark, df)
    assert "PushedFilters" in p and "GreaterThan(o_totalprice,1000.0)" in p


def test_column_pruning_reaches_parquet(spark, sf_oracle):
    """A 2-column projection must read a 2-column schema, not the table."""
    df = load_table(spark, sf_oracle, "lineitem").select(
        "l_orderkey", "l_quantity"
    )
    p = plan_str(spark, df)
    scan = p[p.index("ReadSchema") :].splitlines()[0]
    assert "l_orderkey" in scan and "l_quantity" in scan
    assert "l_comment" not in scan and "l_extendedprice" not in scan


def test_groupby_has_partial_aggregation(spark, sf_oracle):
    """A3/A-agg: groupBy must plan partial (map-side) + final aggregation
    so the shuffle carries one row per (partition, key), not per row."""
    p = plan_str(spark, corpus.REGISTRY["q_agg_groupby"].fn(spark, sf_oracle))
    assert p.count("HashAggregate") >= 2
    assert "hashpartitioning" in p


def test_keyspace_scan_has_no_shuffle(spark, sf_oracle):
    """S1: the generated keyspace + decode + filter is a single
    codegen'd stage — an Exchange here would mean the source doesn't
    scale linearly."""
    from csce438_distributed_password_cracker_spark.operators.crack import (
        candidates_matching,
    )

    p = plan_str(spark, candidates_matching(spark, "0" * 40, 4))
    assert "Exchange" not in p
    assert "Range" in p
    assert "codegen id" in p  # formatted-mode whole-stage-codegen marker


#: gate queries whose plans legitimately scan an RDD: connected-
#: components label propagation iterates behind localCheckpoint(), and
#: the materialized checkpoint rescans as a JVM InternalRow RDD — no
#: python workers are involved in evaluating it (q_split_assign's leak
#: branch embeds the same CC output; q_dedup_jaccard/q_dedup_components/
#: q_dedup_sketch additionally checkpoint the distinct shingle rows once
#: so the four downstream verification consumers stop re-running the
#: explode+distinct — round 12).
_JVM_RDD_SCANS = {
    "q_dedup_components",
    "q_split_assign",
    "q_dedup_jaccard",
    "q_dedup_sketch",
}


@pytest.mark.parametrize("name", sorted(corpus.REGISTRY))
def test_no_python_literal_scan_anywhere(spark, sf_smoke, name):
    """No gate query may plan a `Scan ExistingRDD` over python rows: a
    createDataFrame(list) literal is evaluated by forked pyspark
    workers on every core — measured 12-17 Python CPU-s of pure
    fork/unpickle overhead for a 3-row frame on this box (round-10
    verdict).  Driver-built literals must be LocalTableScan (SQL VALUES
    or localframe.local_frame).  The two localCheckpoint-based queries
    are exempt: their RDD scans are JVM-side materializations."""
    if name in _JVM_RDD_SCANS:
        pytest.skip("documented JVM-side localCheckpoint rescan")
    df = corpus.REGISTRY[name].fn(spark, sf_smoke)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan and "PythonRDD" not in plan, (
        f"{name}: python-literal RDD scan crept into the plan"
    )


@pytest.mark.parametrize("name", sorted(corpus.REGISTRY))
def test_no_cartesian_product_anywhere(spark, sf_oracle, name):
    """No declared query may plan a CartesianProduct: every pair-finding
    operator must generate candidates via equality joins (LSH bands,
    prefix tokens, GEMM blocks) — the difference between O(n) and O(n²)
    shuffle at 100 TB.  (Broadcast nested-loop against a literal 1-row
    side, e.g. a query vector, is fine.)"""
    df = corpus.REGISTRY[name].fn(spark, sf_oracle)
    assert "CartesianProduct" not in plan_str(spark, df)


def test_text_profile_scan_fusion_and_model_rollups(spark, sf_oracle):
    """q_text_profile's per-doc PROFILE analyses still compose as
    columns on scans (no per-analysis join); the round-5 model-based
    filters add rollups with a pinned shape: the classifier's weight
    join must be BROADCAST (the corpus never shuffles to meet the
    model), and no exchange may partition on document text — the fused
    sub-DAGs shuffle keys and numerics only."""
    import re

    p = plan_str(spark, corpus.REGISTRY["q_text_profile"].fn(spark, sf_oracle))
    tree = p.split("\n\n")[0]
    assert "BroadcastHashJoin" in tree
    assert "CartesianProduct" not in p
    for args in re.findall(r"hashpartitioning\(([^)]*)\)", p):
        assert "text#" not in args
    # the profile/LM/classifier sub-DAGs each read the table directly
    # (documents + the self-trained model + feature explode): four scans,
    # not one-per-column
    assert tree.count("Scan parquet") == 4


def test_stream_audit_one_exchange_two_windows(spark, sf_oracle):
    """q_stream_audit computes both lag() audits AND the final per-user
    aggregate on one user_id hash partitioning per branch: exactly one
    Exchange with two Window sorts riding it for the clean branch, and
    the same again for the fault-injected branch (whose injector itself
    is map-only — the second exchange is the audit's, not the
    injector's)."""
    p = plan_str(spark, corpus.REGISTRY["q_stream_audit"].fn(spark, sf_oracle))
    tree = p.split("\n\n")[0]
    assert tree.count("Exchange") == 2
    assert tree.count("Window") == 4


def test_bucketed_join_no_exchange(spark, sf_oracle):
    """q_join_bucketed: SortMergeJoin AND the o_orderkey aggregation run
    on the tables' bucket distribution — zero Exchange nodes in the whole
    plan (the shuffle was paid once at ingest)."""
    p = plan_str(spark, corpus.REGISTRY["q_join_bucketed"].fn(spark, sf_oracle))
    tree = p.split("\n\n")[0]
    assert tree.count("Exchange") == 0
    assert tree.count("SortMergeJoin") == 1
    assert "Bucketed: true" in p


def test_sketch_production_twin_same_shape(spark, sf_oracle):
    """The bench-only production-mode sketch battery (xxhash64) must keep
    the gate query's schema and plan shape — only the hash kernel
    differs.  Guards the bench override in bench.py from drifting away
    from what the gate checks."""
    from csce438_distributed_password_cracker_spark.plans import pipeline_queries

    gate = corpus.REGISTRY["q_dedup_sketch"].fn(spark, sf_oracle)
    prod = pipeline_queries.q_dedup_sketch_production(spark, sf_oracle)
    assert prod.schema == gate.schema
    # same method labels present, and the battery actually produces rows
    methods = {r["method"] for r in prod.select("method").distinct().collect()}
    assert methods == {"minhash", "simhash", "fingerprint"}


def test_multimodal_synth_decode_no_shuffle_pruned_scan(spark, sf_oracle):
    """q_multimodal_features: scan reads ONLY (doc_id, n_chars), both
    Python stages (encode, decode) chain narrowly — zero Exchange — and
    payload bytes never appear before the first mapInPandas."""
    p = plan_str(
        spark, corpus.REGISTRY["q_multimodal_features"].fn(spark, sf_oracle)
    )
    tree = p.split("\n\n")[0]
    assert tree.count("Exchange") == 0
    assert tree.count("MapInPandas") == 2
    assert "ReadSchema: struct<doc_id:bigint,n_chars:bigint>" in p


def test_runtime_bloom_filter_prunes_shuffle_join(spark, sf_oracle):
    """At 100 TB both join sides exceed the broadcast threshold, and the
    defense against shuffling the whole fact table is Spark's runtime
    Bloom filter: the selective side's keys build a bloom_filter_agg,
    and might_contain() is injected into the fact scan, so most fact
    rows drop BEFORE the exchange.  Inert at test SF only because of the
    10 GB application-side threshold — simulate the big-table case by
    lowering it and disabling broadcast, then assert the filter is
    actually injected (protects against a session config or Spark
    upgrade silently turning runtime filtering off)."""
    assert (
        spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled")
        == "true"
    )
    overrides = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k) for k in overrides}
    try:
        for k, v in overrides.items():
            spark.conf.set(k, v)
        orders = load_table(spark, sf_oracle, "orders").filter(
            "o_orderpriority = '1-URGENT'"
        )
        lineitem = load_table(spark, sf_oracle, "lineitem")
        j = lineitem.join(
            orders, lineitem.l_orderkey == orders.o_orderkey
        ).groupBy("o_orderpriority").count()
        optimized = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in optimized
        assert "might_contain" in optimized
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_aqe_splits_skewed_join_partitions(spark):
    """The AUTOMATIC half of the skew story (the manual half is
    q_join_skew_salted): with AQE on, a shuffle join whose one key
    dominates must have its oversized partitions split at runtime —
    the executed adaptive plan marks the sort-merge join skew=true.
    Thresholds are lowered to make a test-sized skew visible; at 100 TB
    the defaults fire on genuinely oversized partitions."""
    overrides = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
    }
    saved = {k: spark.conf.get(k) for k in overrides}
    try:
        for k, v in overrides.items():
            spark.conf.set(k, v)
        left = spark.range(400_000).select(
            F.when(F.col("id") % 10 < 9, F.lit(7))
            .otherwise(F.col("id") % 1000)
            .alias("k"),
            F.col("id").alias("payload"),
        )
        right = spark.range(1000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
        j = left.join(right, "k").groupBy().agg(F.count("*").alias("n"))
        [row] = j.collect()  # AQE decides AFTER runtime stats exist
        assert row.n == 400_000  # 90% of left hits k=7, right has k=7 once
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


# ── corpus-wide shuffle budget ────────────────────────────────────────────

# DISTINCT shuffle-Exchange operators in each gate query's INITIAL
# physical plan at sf0.001 / shuffle_partitions=8 (the suite's session
# confs), measured and pinned late round 5.  "Distinct" = unique
# operator text after stripping plan_ids and tree-drawing prefixes: a
# persisted subtree's reprints (one per InMemoryRelation reference) and
# a self-union's repeated identical subtree both collapse to one entry,
# so the pin tracks distinct shuffle SHAPES, immune to plan-text
# multiplicity.  The pin is an UPPER bound: a refactor that removes a
# shuffle passes (update the budget when you notice), one that sneaks a
# NEW Exchange shape into a gate query FAILS here instead of surfacing
# as a silent bench regression three rounds later.  Broadcast exchanges
# are excluded — they're the cheap alternative the budget is steering
# toward.  q_stream_live is excluded (deriving its plan runs a live
# stream).
SHUFFLE_BUDGET = {
    "q_agg_exists": 1, "q_agg_groupby": 1, "q_agg_grouping": 3,
    "q_agg_percentile": 1, "q_agg_pivot": 2, "q_agg_scalars": 4,
    "q_ann_probe": 0, "q_ann_topk": 0, "q_array_ops": 0,
    "q_binary_roundtrip": 1, "q_codec_checks": 1,
    # +1 round 6: the fused Misra-Gries hh branch's partial-merge shuffle.
    # +4 round 7: the hh sieve went fully lazy, so its partial-merge +
    # exact-recount shuffles now appear IN the returned plan (same
    # physical work, previously eager/invisible), and the fused ghh
    # branch adds its own per-group merge + exact-recount pair.
    "q_collocations": 9,
    # q_crack_batch 2 -> 1 round 11: the post-aggregation verdict join
    # carries an explicit broadcast hint now (the ≤batch-size hits side
    # was falling back to a two-exchange SortMergeJoin); the one
    # remaining exchange is the hits groupBy's.
    "q_crack_batch": 1,
    "q_crack_throughput": 1, "q_crack_verdicts": 1,
    "q_date_ops": 1,
    "q_dedup_components": 2, "q_dedup_embedding": 1, "q_dedup_exact": 7,
    "q_dedup_jaccard": 15, "q_dedup_sketch": 15, "q_events_scan": 0,
    "q_join_anti": 0, "q_join_asof": 2,
    "q_join_broadcast": 0, "q_join_bucketed": 0, "q_join_range": 1,
    "q_join_semi": 0, "q_join_skew_salted": 4, "q_join_sortmerge": 1,
    "q_keyspace_algebra": 3, "q_math_ops": 0, "q_msg_demux": 1,
    "q_multimodal_features": 0, "q_outlier_flags": 1,
    "q_partition_coverage": 0,
    "q_similarity_knn": 3,
    # round 6: +1 fused ws_group branch's group-key shuffle (curriculum
    # stage is map-only; ws_global is TakeOrdered, no exchange; the
    # assign branch's lang windows share one exchange shape), +1 the
    # corpus-totals single-ROW aggregate's SinglePartition exchange (4
    # longs — it REPLACED the OVER () windows that moved the whole
    # table to one partition)
    # q_split_assign: +3 in round 8 for the leak branch — the
    # components⋈ids equi-join (both sides corpus-keyed at scale, so
    # SMJ is the honest plan) plus the chain-edge semi-join; the CC
    # label-propagation rounds run eagerly behind localCheckpoint and
    # never appear in the returned plan
    # q_stream_audit 1 -> 2 round 8: the T4 faults branch re-audits the
    # fault-injected events on its own user_id exchange (the injector
    # itself is map-only — pinned in test_faults.py)
    "q_sort_limit": 0, "q_split_assign": 6, "q_stream_audit": 2,
    "q_stream_flow": 5, "q_stream_stateful": 0, "q_string_ops": 0,
    # q_tpch 9 -> 18 round 6: Q13 (2: outer-join + distribution agg),
    # Q15 (2: revenue-view agg + its max twin), Q18 (2: HAVING agg +
    # orderkey join), Q21 (1: the semi/anti fact joins share the
    # l_orderkey exchange shape), Q8 (1: year group agg; dims
    # broadcast), Q17 (1: the decorrelated per-partkey avg agg)
    # q_text_profile: +1 in round 11 — the deliberate fan_out_scan hash
    # exchange that parallelizes the profile battery when the docs scan
    # is row-group-bound (catalog.fan_out_scan; OPTIMIZATION_r11.md)
    "q_text_profile": 4, "q_topk_per_group": 1,
    # 22 TPC-H branches since round 7 (Q2/Q9/Q11/Q16/Q20 over the derived
    # partsupp CTE): each keeps its own join/agg exchanges; identical
    # partsupp-derivation subtrees dedupe via ReusedExchange
    "q_tpch": 30,
    "q_window_lead": 1, "q_window_rank": 2,
    "q_window_running": 1,
}


def test_shuffle_budget_covers_every_gate_query():
    assert set(SHUFFLE_BUDGET) == set(corpus.REGISTRY) - {"q_stream_live"}


@pytest.mark.parametrize("name", sorted(SHUFFLE_BUDGET))
def test_gate_query_within_shuffle_budget(spark, sf_smoke, name):
    df = corpus.REGISTRY[name].fn(spark, sf_smoke)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # UNIQUE lines with plan_ids stripped: a persisted subtree reprints
    # its exchanges once per InMemoryRelation reference with the SAME
    # expr ids but fresh plan_ids — counting raw lines would let real
    # new exchanges hide inside that reprint slack.  Two genuinely
    # distinct exchanges always differ in expr ids, so the dedup never
    # conflates them.
    import re as _re

    def _key(ln: str) -> str:
        # drop the per-reference plan_id and the tree-drawing prefix
        # (': +- |') — what remains is the operator + its expr ids
        ln = _re.sub(r"\[plan_id=\d+\]", "", ln)
        return _re.sub(r"^[\s:+|-]*", "", ln).strip()

    shuffles = len(
        {
            _key(ln)
            for ln in plan.splitlines()
            if "Exchange" in ln and "BroadcastExchange" not in ln
        }
    )
    assert shuffles <= SHUFFLE_BUDGET[name], (
        f"{name}: {shuffles} shuffle exchanges > budget "
        f"{SHUFFLE_BUDGET[name]} — a new Exchange crept into the plan "
        f"(or update the budget if the extra shuffle is intentional)\n"
        f"{plan}"
    )


def test_codegen_cache_outsizes_the_corpus(spark):
    """The session must raise spark.sql.codegen.cache.maxEntries above
    the corpus's per-pass codegen-unit count (round 12): the 100-entry
    default is smaller than ONE bench pass, so a resident session
    recompiled every generated class on every re-run and the hot loops
    re-ran interpreted — measured 10-13 warm-pass CPU-s on
    q_crack_batch vs 1.3 once classes survive (session.py comment has
    the full numbers).  A corpus-wide regression of this conf would
    silently re-inflate every warm number."""
    assert int(spark.conf.get("spark.sql.codegen.cache.maxEntries")) >= 4096


def test_fan_out_scan_fires_only_below_floor(spark, sf_oracle):
    """catalog.fan_out_scan (round 11): a row-group-bound scan (one
    partition) is hash-repartitioned on the caller's key up to the
    parallelism floor; an input already at/above the floor passes
    through UNTOUCHED (the production no-op path — at 100 TB the scan
    plans more tasks than the floor and no exchange is added)."""
    from csce438_distributed_password_cracker_spark.catalog import (
        fan_out_scan,
        load_table,
    )

    docs = load_table(spark, sf_oracle, "documents")
    # the premise: the test table is row-group-bound, i.e. it plans
    # FEWER scan partitions than the floor (deriving the exact count
    # from file size vs maxPartitionBytes is conf-dependent — asserting
    # `< floor` is what the helper's guard actually keys on)
    assert docs.rdd.getNumPartitions() < 4

    fanned = fan_out_scan(docs, "doc_id", min_parts=4)
    assert fanned.rdd.getNumPartitions() == 4
    plan = fanned._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(doc_id" in plan  # keyed, not round-robin:
    # keyless repartition pays a full-row local sort (measured 1.2-1.5
    # CPU-s vs 0.2-0.5 for the hash exchange — catalog.py docstring)

    wide = docs.repartition(8, "doc_id")
    assert fan_out_scan(wide, "doc_id", min_parts=4) is wide  # no-op

    # results are partitioning-invariant: same rows either way
    assert fanned.count() == docs.count()


def test_fan_out_scan_row_group_guard(spark, sf_oracle, tmp_path):
    """ADVICE r11 (medium): with source_path the floor guard counts
    parquet ROW GROUPS, not planned byte-range splits — a single-row-
    group file bigger than maxPartitionBytes plans multiple splits of
    which only one reads the row group, so the split count would
    wrongly skip the repartition in exactly the case the helper exists
    for.  Also: min_parts=0 must mean 'floor 0' (vacuous no-op), not
    'unset'."""
    from csce438_distributed_password_cracker_spark.catalog import (
        _parquet_row_groups,
        fan_out_scan,
        load_table,
        table_path,
    )

    docs_path = table_path(sf_oracle, "documents")
    # the test table is one file / one row group
    assert _parquet_row_groups(docs_path, 4) == 1
    # early-exit: once `enough` is reached the count stops (a
    # production layout pays O(1) footer reads)
    assert _parquet_row_groups(docs_path, 1) == 1
    # unreadable layouts return None (caller falls back to splits)
    assert _parquet_row_groups(str(tmp_path / "nope"), 4) is None

    docs = load_table(spark, sf_oracle, "documents")
    fanned = fan_out_scan(docs, "doc_id", min_parts=4, source_path=docs_path)
    assert fanned.rdd.getNumPartitions() == 4

    # a multi-row-group layout at/above the floor passes through even
    # when its planned split count is 1 (small files pack into one
    # split via openCostInBytes — the planned-split guard would fire;
    # the row-group guard must not)
    multi = str(tmp_path / "multi")
    load_table(spark, sf_oracle, "documents").limit(40).repartition(
        4
    ).write.parquet(multi)
    assert (_parquet_row_groups(multi, 4) or 0) >= 4
    df_multi = spark.read.parquet(multi)
    assert (
        fan_out_scan(df_multi, "doc_id", min_parts=4, source_path=multi)
        is df_multi
    )

    # min_parts=0 is a floor of zero, not 'derive from cores'
    assert fan_out_scan(docs, "doc_id", min_parts=0) is docs


def test_parquet_row_groups_fallback_is_narrow(tmp_path, caplog, monkeypatch):
    """The footer count falls back to None (planned-split counting) only
    for I/O and parquet-metadata errors, and says so in a warning; a
    programming error in the reader propagates instead of silently
    disabling the row-group guard."""
    import logging

    import pyarrow as pa
    import pyarrow.parquet as pq

    from csce438_distributed_password_cracker_spark.catalog import (
        _parquet_row_groups,
    )

    good = tmp_path / "good.parquet"
    pq.write_table(pa.table({"x": list(range(100))}), good)
    assert _parquet_row_groups(str(good), 4) == 1

    truncated = tmp_path / "truncated.parquet"
    truncated.write_bytes(good.read_bytes()[: good.stat().st_size // 2])
    with caplog.at_level(logging.WARNING):
        assert _parquet_row_groups(str(truncated), 4) is None
    assert "cannot read parquet footer" in caplog.text

    def broken_reader(*_a, **_k):
        raise TypeError("reader bug")

    monkeypatch.setattr(pq, "ParquetFile", broken_reader)
    with pytest.raises(TypeError, match="reader bug"):
        _parquet_row_groups(str(good), 4)


def test_text_profile_battery_rides_fan_out(spark, sf_oracle):
    """q_text_profile's profile battery input is fanned out (round-11
    optimization): exactly one extra hash exchange on doc_id, and the
    lm/clf sub-DAGs still read the serial scan (no blanket fan-out —
    it breaks exchange reuse in self-join pipelines, measured in
    OPTIMIZATION_r11.md)."""
    from csce438_distributed_password_cracker_spark.plans import corpus

    df = corpus.REGISTRY["q_text_profile"].fn(spark, sf_oracle)
    p = plan_str(spark, df)

    # assert on FULL exchange-argument lines, not a `[^)]*` capture
    # that truncates at the first ')' and could hide a text# reference
    # inside a nested-paren partitioning expression (ADVICE r11).  In
    # formatted mode the partitioning renders as an
    # `Arguments: hashpartitioning(…)` detail line.
    ex_lines = [
        ln for ln in p.splitlines() if "hashpartitioning(" in ln
    ]
    assert any("doc_id#" in ln for ln in ex_lines)
    # the fan-out exchange partitions on doc_id only — never on text
    assert all("text#" not in ln for ln in ex_lines), ex_lines
    # exactly ONE REPARTITION_BY_NUM exchange: the battery's fan-out —
    # the lm/clf sub-DAGs must keep reading the serial scan (a blanket
    # fan-out breaks exchange reuse in self-join pipelines)
    fanouts = [ln for ln in ex_lines if "REPARTITION_BY_NUM" in ln]
    assert len(fanouts) == 1, ex_lines
