"""Physical-plan regression guards: the plan SHAPES that make these
queries scale are asserted, not assumed — a refactor that silently
drops a pushdown, breaks a broadcast, or introduces a cartesian
product fails here, not at 100 TB.

Checks run on the executed-plan string at sf0.001 (plan shape is
data-size-independent for these properties except where AQE picks
joins; broadcast assertions target plans with explicit hints or
dimension tables far under the broadcast threshold).
"""

import re

import pytest

import __spark_entry__ as E

SF = "/root/testdata/sf0.001"

def plan_of(spark, qname: str) -> str:
    return (
        E.queries()[qname](spark, SF)._jdf.queryExecution().executedPlan().toString()
    )

def test_s6_filter_pushdown_and_pruning(spark):
    # s6 lives inside the s6_p2_scan_parse tagged union now; the orders
    # scan must still push both equality filters and prune to the two
    # projected + two filtered columns
    plan = plan_of(spark, "s6_p2_scan_parse")
    assert "PushedFilters: [" in plan and (
        "EqualTo" in plan or "IsNotNull" in plan or "GreaterThan" in plan
    )
    schemas = re.findall(r"ReadSchema: ([^\n]*)", plan)
    orders_schemas = [s for s in schemas if "o_orderkey" in s]
    assert orders_schemas and all(
        "o_comment" not in s and "o_totalprice" not in s for s in orders_schemas
    )

def test_stateful_detectors_bounded_plan_fanout(spark):
    """Plan-size guard on the stateful detector queries.  Each detector
    scores one frame (its rollup joined once per saved family) and
    projects alerts and updates from it; the bounds are the plans of
    that shape at sf0.001, so a refactor that re-derives a rollup or
    re-joins state per output fails here.  The registry queries call
    the detectors directly, not through the cycle, so these are the
    lazy plans themselves."""
    plan = plan_of(spark, "hz_atypical_alien")
    assert plan.count("Exchange") <= 45, plan.count("Exchange")
    assert plan.count("\n") <= 223
    for q, bound in [("hz_atypical_port", 16), ("hz_atypical_volume", 18),
                     ("hz_alien_profile", 22), ("hz_portscan", 6),
                     ("hz_vportscan", 10)]:
        p = plan_of(spark, q)
        assert p.count("Exchange") <= bound, (q, p.count("Exchange"))

def test_atypical_alien_reads_saved_state_once(spark):
    """atypical_alien_tcp_port's alerts and state updates are both
    projections of one scored frame: each optimized plan reads HIST02
    and HIST02.1 once."""
    from hogzilla_spark import datagen
    from hogzilla_spark.config import DEFAULT
    from hogzilla_spark.detectors import stateful as S
    from hogzilla_spark.operators.rollup import sflow_summary

    nets = datagen.MY_NETS
    summary = sflow_summary(datagen.sflows_df(spark), nets)
    hists = datagen.histograms_df(spark).localCheckpoint(eager=True)
    ips = spark.createDataFrame([], "myIP string")
    pairs = spark.createDataFrame([], "myIP string, alienIP string")
    outputs = S.atypical_alien_tcp_port(
        summary, nets, DEFAULT.sflow, DEFAULT.hist, hists, pairs, ips, ips
    )
    for df in outputs:
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert (plan.count("HIST02-"), plan.count("HIST02.1-")) == (1, 1), plan

def test_stateful_detectors_build_lazily(spark):
    """Detectors return lazy frames: building all seven stateful
    detectors over prepared inputs submits no Spark job.  What to
    materialize is the caller's choice (the cycle persists `summary`;
    the registry queries checkpoint their inputs)."""
    from hogzilla_spark import datagen
    from hogzilla_spark.config import DEFAULT
    from hogzilla_spark.detectors import stateful as S
    from hogzilla_spark.operators.rollup import sflow_summary

    nets, cfg, hcfg = datagen.MY_NETS, DEFAULT.sflow, DEFAULT.hist
    summary = sflow_summary(datagen.sflows_df(spark), nets).localCheckpoint(eager=True)
    hists = datagen.histograms_df(spark)
    ips = spark.createDataFrame([], "myIP string")
    pairs = spark.createDataFrame([], "myIP string, alienIP string")
    sc = spark.sparkContext
    sc.setJobGroup("stateful_build", "build the stateful detectors")
    try:
        S.atypical_tcp_port(summary, cfg, hcfg, hists, pairs, ips, [])
        S.atypical_alien_tcp_port(summary, nets, cfg, hcfg, hists, pairs, ips, ips)
        S.atypical_pairs(summary, cfg, hcfg, hists, ips)
        S.atypical_data(summary, nets, cfg, hcfg, hists, ips, ips, [])
        S.alien_network_profile(summary, nets, cfg, pairs, ips)
        S.horizontal_portscan(summary, nets, cfg, hcfg, hists, ips)
        S.vertical_portscan(summary, cfg, hcfg, hists, ips)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup("stateful_build")) == []

def test_h_hist_suite_shares_user_hists(spark):
    """r12 optimization guard: h1 and h56 consume ONE `_user_hists`
    frame (two event scans + histogram builds + a join, previously
    derived once per part).  Before the share the suite plan carried 42
    Exchange mentions over 611 lines; after, 22 over 342.  A regression
    that re-derives per part re-inflates the plan past these bounds."""
    plan = plan_of(spark, "h_hist_suite")
    assert plan.count("Exchange") <= 32, plan.count("Exchange")
    assert plan.count("\n") <= 480

def test_stratified_sample_broadcasts_fractions(spark):
    plan = plan_of(spark, "stratified_sample")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan

def test_sessionize_uses_native_session_merge(spark):
    # sessionize lives inside the time_buckets tagged union now
    # ('sess30m' grain); pin the plan on the underlying query
    plan = (
        E.q_sessionize(spark, SF)._jdf.queryExecution().executedPlan().toString()
    )
    assert "MergingSessions" in plan
    # exactly one exchange keyed on the session key feeds the merge
    assert plan.count("Exchange hashpartitioning(user_id") >= 1

def test_a1_partial_aggregation(spark):
    # a1/a2/a3 live inside the a_rollups tagged union now
    plan = plan_of(spark, "a_rollups")
    # map-side partial aggregate before the shuffle halves traffic
    # (codegen spans only appear once AQE finalizes the plan at run
    # time, so the static assertion is the map-side combine itself)
    assert re.search(r"partial_sum|partial_count", plan)

def test_a3_broadcasts_dimension(spark):
    plan = plan_of(spark, "a_rollups")
    assert "BroadcastHashJoin" in plan

def test_no_cartesian_products_anywhere(spark):
    """No query may plan a CartesianProduct or BroadcastNestedLoopJoin —
    except ann_topk, whose 'brute' part (the exact k-NN baseline,
    absorbed r10) broadcasts the tiny query set against an unshuffled
    corpus: that nested loop IS the declared plan."""
    declared_exact = {"ann_topk"}
    offenders = {}
    for name in E.queries():
        if name in declared_exact:
            continue
        plan = plan_of(spark, name)
        if "CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan:
            offenders[name] = True
    assert not offenders, f"cartesian plans in: {sorted(offenders)}"

def test_topk_uses_take_ordered(spark):
    # o1 lives inside the f5_quantiles tagged union now ('topk' part);
    # pin the plan on the underlying query so the union's other parts
    # can't mask a regression to a global sort
    plan = (
        E.q_o1_topk(spark, SF)._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in plan  # no global sort for top-k

def test_ivf_index_partition_pruning(spark, tmp_path):
    """Substantiates the SCALE.md claim: the IVF assigned table written
    partitionBy(list_id) prunes to the probed lists at read time — a
    query touches nprobe partitions, not the corpus."""
    from pyspark.sql import functions as F

    from hogzilla_spark.operators import similarity as SIM

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    _model, assigned = SIM.ivf_index(emb, n_lists=4)
    path = str(tmp_path / "ivf")
    assigned.write.partitionBy("list_id").parquet(path)

    idx = spark.read.parquet(path)
    probed = idx.filter(F.col("list_id").isin(0, 1))
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "list_id" in plan.split("PartitionFilters:")[1].split("]")[0]
    assert 0 < probed.count() < idx.count()

def test_time_buckets_no_join_no_cartesian(spark):
    plan = plan_of(spark, "time_buckets")
    # hopping part: explode-to-2-windows + aggregate shuffle; daily
    # part: plain rollup — union of the two, no join anywhere
    assert "Exchange" in plan
    assert "CartesianProduct" not in plan
    assert "Join" not in plan

def test_dedup_lines_no_window_skew_funnel(spark):
    """dedup_lines must find first occurrences with a hash aggregate,
    never a per-line-hash Window (which would funnel every occurrence of
    a hot boilerplate line through one SORT task; the aggregate's hot
    keys funnel too, but as ~28 B int rows into a hash table, not a
    text-carrying sort)."""
    plan = plan_of(spark, "dedup_lines")
    assert "Window" not in plan, plan
    assert "partial_min" in plan or "partial_count" in plan, plan

def _operator_plan(spark, build):
    """Plan of `build(docs)` over a WELL-PARTITIONED documents scan —
    what the operator itself adds.  (The query wrappers additionally
    apply spread_small_scan, whose repartition fires only on
    unsplittable tiny files and is a structural no-op at scale; the
    zero-shuffle property asserted here is the operator's.)"""
    docs = spark.read.parquet(f"{SF}/documents.parquet").repartition(8)
    out = build(docs)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # everything after the one round-robin spread must be narrow:
    # exactly the spread's exchange, nothing keyed
    assert plan.count("Exchange") == plan.count("Exchange RoundRobinPartitioning"), plan
    return plan

def test_doc_quality_single_narrow_map(spark):
    """All Gopher/C4 signals come from one per-row kernel: no keyed
    exchange anywhere — the operator pipelines into the (spread) scan."""
    from hogzilla_spark.operators.quality import doc_quality_signals_kernel

    _operator_plan(spark, doc_quality_signals_kernel)

def test_chunk_documents_no_shuffle(spark):
    """Chunking is a narrow projection + explode: no keyed exchange, so
    it pipelines straight from the scan into a downstream embed/write."""
    from hogzilla_spark.operators.text import chunk_documents

    plan = _operator_plan(spark, chunk_documents)
    assert "Generate" in plan  # the explode actually happens plan-side

def test_semantic_dedup_cluster_keyed_join(spark):
    """The SemDeDup pairwise join must be an equi-join keyed by
    cluster_id — never a cartesian/BNLJ over the corpus."""
    plan = plan_of(spark, "semantic_dedup")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "cluster_id" in plan

def test_bm25_broadcasts_idf_and_takes_ordered(spark):
    """BM25: the df/idf side joins broadcast (≤|terms| rows) and the
    final top-k is TakeOrderedAndProject, not a global sort."""
    plan = plan_of(spark, "bm25_topk")
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan

def test_auth_ua_dictionary_and_state_joins_broadcast(spark):
    """hz_auth's plan must carry broadcast joins: the UA-family
    dictionary (regex work tracks DISTINCT UAs, not records) and the
    per-user state tables under AQE's size estimate at this scale."""
    plan = plan_of(spark, "hz_auth")
    assert "BroadcastHashJoin" in plan

def test_m5_taint_member_join_broadcast(spark):
    """The tainted-cell list (< 5% of N per cell by construction) must
    broadcast for the member selection, never shuffle the full frame."""
    plan = plan_of(spark, "m5_taint")
    assert "BroadcastHashJoin" in plan

def test_text_profile_keyed_path_uses_codegen_aggregate(spark):
    """Keyed text_profile must run token stats as explode → partial
    HashAggregate (codegen InSet membership), NOT as interpreted
    higher-order-function folds: a per-token `aggregate()` lambda
    measured 10× slower at sf10 (57 s vs 5.9 s) and was reverted —
    this pins the grouped path so the regression cannot silently
    return.  The shuffle carries one small stats row per distinct
    text, never the corpus text."""
    plan = plan_of(spark, "text_profile")
    # the fold variant has NO aggregation at all (pure projection), so
    # requiring the partial token-stats aggregate and its keyed
    # exchange pins the grouped path positively (other narrow lambdas
    # — tokenizer, fingerprint — are fine and not asserted against)
    assert "partial_count" in plan or "partial_sum" in plan, plan
    assert "hashpartitioning(__" in plan, plan

def test_dsir_select_broadcast_lambda_and_take_ordered(spark):
    """dsir_select's scale shape: the λ table joins BROADCAST (≤
    n_buckets rows — the gram stream must never shuffle on bucket),
    the per-doc weight sum is a partial-aggregated groupBy(doc_id),
    and the k-selection is TakeOrderedAndProject, never a global sort.
    The gram column itself must not appear in any exchange: the only
    hash exchange is the doc-id weight aggregation."""
    plan = plan_of(spark, "dsir_select")
    assert "BroadcastHashJoin" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "Sort " not in plan.split("TakeOrderedAndProject")[0], plan
    # every hash exchange keys on doc_id (weight agg) — never on the
    # exploded gram/bucket stream
    for m in re.finditer(r"Exchange hashpartitioning\((\w+)", plan):
        assert m.group(1) == "doc_id", plan


def test_simhash_oracle_width_gate_in_sync():
    """The dedup_simhash ORACLE's s64 half carries the engine's width
    gate as a scalar subquery — the constant must track
    SIMHASH_W64_MAX_DOCS or the two sides diverge exactly at the
    boundary the guard exists for (r9: sf100 emits s128 alone)."""
    from hogzilla_spark.operators import dedup as DD

    sql = E.oracle_sql()["dedup_simhash"]
    assert f"<= {DD.SIMHASH_W64_MAX_DOCS}" in sql
    assert "SELECT count(*) FROM documents" in sql


def test_components_oracle_materializes_pair_body():
    """The dedup_components ORACLE must pin its MinHash body with
    MATERIALIZED hints: DuckDB 1.0 inlines CTEs referenced more than
    once, and the recursive reach CTE references the pair body 4×
    transitively — un-materialized, the 5 M-doc body re-expands per
    reference and the sf100 run fills the disk with spill (r9)."""
    sql = E.oracle_sql()["dedup_components"]
    assert "mh_pairs AS MATERIALIZED (" in sql
    assert "edges AS MATERIALIZED (" in sql
