"""Plan contracts: assert the physical-plan properties the engine's
scale story depends on, so a future edit that silently regresses them
(a lost pushdown, a de-broadcast dimension, a single-partition funnel)
fails CI instead of surfacing at 100 TB."""

import pyspark.sql.functions as F

from excel_to_database_spark.queries import QUERIES


def _plan(spark, sf_dir, name):
    return QUERIES[name](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()


def test_scan_pushdown_q48(spark, sf_dir):
    """TPC-H Q6 shape: every predicate reaches the parquet scan and the
    scan reads only the referenced columns."""
    plan = _plan(spark, sf_dir, "q48_filtered_revenue")
    assert "PushedFilters: [" in plan
    # pruned schema: no unreferenced wide columns (comment, shipinstruct...)
    read = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_comment" not in read and "l_shipinstruct" not in read


def test_dimension_broadcast_q11(spark, sf_dir):
    """5-way join: dimension sides broadcast, never shuffled."""
    plan = _plan(spark, sf_dir, "q11_local_supplier_volume")
    assert plan.count("BroadcastHashJoin") >= 3


def test_global_topk_is_take_ordered_q21(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q21_topk_orders")
    assert "TakeOrderedAndProject" in plan


def test_no_single_partition_funnel_in_ann(spark, sf_dir):
    """The IVF and banded-LSH paths must never serialize the corpus
    through one partition (the round-1 centroid bug class)."""
    for q in ("q86_ann_ivf", "q81_ann_hyperplane_lsh"):
        plan = _plan(spark, sf_dir, q)
        assert "Exchange SinglePartition" not in plan, q


def test_asof_join_single_key_shuffle(spark, sf_dir):
    """The as-of join is one shuffle on the key — a second
    hashpartitioning exchange would mean the union+window merge broke."""
    from excel_to_database_spark.operators.asof import asof_join
    from excel_to_database_spark.queries.base import t

    e = t(spark, sf_dir, "events").select(
        "event_id", "user_id", F.col("ts").cast("timestamp").alias("ts")
    )
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_custkey", "o_orderdate", "o_orderkey"
    )
    j = asof_join(e, o, "user_id", "o_custkey", "ts", "o_orderdate",
                  payload=["o_orderkey"])
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1


def test_rollup_partials_single_agg_no_join(spark, sf_dir):
    """The hypertable partial build is ONE map-side-combinable hash
    aggregation over the raw scan — any join or window appearing here
    means the partial table stopped being a single-pass ingest step."""
    from excel_to_database_spark.operators.rollup import time_bucket_partials

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    plan = (
        time_bucket_partials(e.withColumn("ts", F.col("ts").cast("timestamp")))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Join" not in plan and "Window" not in plan
    assert plan.count("HashAggregate") >= 2  # partial + final = map-side combine


def test_ivf_pq_codebook_broadcasts(spark, sf_dir):
    """IVF-PQ: the PQ codebook LUT join and the coarse-centroid probe
    must broadcast (m·k and n_lists rows) — a shuffled codebook would
    serialize every query through an exchange."""
    plan = _plan(spark, sf_dir, "q145_ann_ivf_pq")
    assert plan.count("BroadcastNestedLoopJoin") + plan.count(
        "BroadcastHashJoin"
    ) >= 2
    # rank windows partition by qid — never a single-partition funnel
    assert "Exchange SinglePartition" not in plan


def test_candidate_joins_never_cartesian(spark, sf_dir):
    """The blocked candidate generators (delete-variant fuzzy join,
    grid-bucketed interval join, window-index substring dedup) must
    plan as hash equi-joins on their blocking keys — a cartesian or
    nested-loop join here means the blocking stopped working and the
    operator silently became O(n²)."""
    for q in (
        "q151_fuzzy_edit1_join",
        "q152_interval_overlap_join",
        "q147_char_substring_dedup",
    ):
        plan = _plan(spark, sf_dir, q)
        assert "CartesianProduct" not in plan, q
        assert "BroadcastNestedLoopJoin" not in plan, q
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or (
            "BroadcastHashJoin" in plan
        ), q


def test_gapfill_single_window_no_join_explosion(spark, sf_dir):
    """Gap fill: one LEFT join of the generated grid against the
    observed rows and one running window — no cartesian grid, no
    per-key materialized calendar beyond the key's own span."""
    plan = _plan(spark, sf_dir, "q153_gapfill_locf")
    assert "CartesianProduct" not in plan
    assert plan.count("Window") >= 1
    assert "Generate explode" in plan or "Generate" in plan  # sequence grid


def test_ivf_pq_probe_plan_is_training_free(spark, sf_dir):
    """q145 searches the PERSISTED index: its plan must contain only
    parquet scans of the index tables + the search joins — never the
    training stages (centroid/codebook picks plan as
    TakeOrderedAndProject over the corpus; Lloyd sweeps as posexplode
    aggregations over `v`). The build query q146, by contrast, must
    contain the training pick."""
    from excel_to_database_spark.queries.llm_ops import (
        _ensure_ivf_pq_index,
        _ivf_pq_index_path,
    )

    path = _ensure_ivf_pq_index(spark, sf_dir)
    plan = _plan(spark, sf_dir, "q145_ann_ivf_pq")
    assert "TakeOrderedAndProject" not in plan  # no centroid/codebook pick
    assert path in plan  # candidates come from the persisted index scan
    build_plan = (
        QUERIES["q146_ivf_pq_index_build"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the build's returned stats scan the freshly persisted assignment
    assert _ivf_pq_index_path(sf_dir) in build_plan


def test_bigram_lm_no_cartesian_q159(spark, sf_dir):
    """The bigram LM attaches probabilities per bigram TYPE via an
    equi-join; the only nested-loop join allowed is the broadcast of
    the 1-row vocabulary frame — a CartesianProduct would mean the LM
    join degenerated to all-pairs."""
    plan = _plan(spark, sf_dir, "q159_bigram_lm_fluency")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row V frame only
    assert plan.count("BroadcastNestedLoopJoin") == 1


def test_char_span_survivor_no_cartesian_q157(spark, sf_dir):
    """Survivor-form substring dedup: star edges come from ONE pass
    over the window index (min/count over a window partitioned by the
    digest) — never a pair blow-up join, and never a second Σ-chars
    explode (the groupBy+join formulation ran the index Generate
    twice; measured 2× slower at the 30× scale check). The contract is
    asserted on the pre-CC edge frame: connected_components
    localCheckpoints per round, so the final q157 plan is a
    checkpoint scan that can't show the index stage."""
    plan = _plan(spark, sf_dir, "q157_char_span_dedup")
    assert "CartesianProduct" not in plan
    from excel_to_database_spark.operators.dedup import _char_span_edges

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    eplan = (
        _char_span_edges(docs, "doc_id", "text", 50)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert eplan.count("Generate explode") == 1, "window index exploded twice"
    assert "Window" in eplan  # the one-pass min/count-over-digest
    assert "Join" not in eplan  # star edges need no join at all


def test_sigma_probe_joins_never_sort_merge(spark, sf_dir):
    """The joins whose probe side is Σ-shaped (the char-window index
    for q157, the delete-variant index for q151, the bigram
    occurrence stream for q159) must hash, not sort-merge — the sort
    of the probe stream was the dominant stage of each 10× slope run
    (AQE may upgrade the hash to broadcast when the build side is
    small; both are fine, a SortMergeJoin on these keys is not)."""
    for q, key_frag in (
        ("q157_char_span_dedup", "[h"),
        ("q151_fuzzy_edit1_join", "[v"),
        ("q159_bigram_lm_fluency", "[w1"),
    ):
        plan = _plan(spark, sf_dir, q)
        bad = [
            l
            for l in plan.splitlines()
            if "SortMergeJoin" in l and key_frag in l
        ]
        assert not bad, f"{q} sort-merges its Σ-probe join: {bad}"


def test_ivf_pq_corpus_views_are_column_pruned(spark, sf_dir):
    """The v3 single-corpus-table layout's whole point: the probe's
    assigned view scans (id, v, cell) and its codes view scans
    (id, codes) — parquet column pruning must keep the two scans
    disjoint on the heavy columns, never read all four together."""
    from excel_to_database_spark.queries.llm_ops import _ensure_ivf_pq_index

    _ensure_ivf_pq_index(spark, sf_dir)
    plan = _plan(spark, sf_dir, "q145_ann_ivf_pq")
    scans = [l for l in plan.splitlines() if "FileScan parquet" in l]
    assert scans
    for l in scans:
        assert not ("v#" in l and "codes#" in l), f"unpruned corpus scan: {l.strip()[:160]}"


def test_dsir_bucket_joins_broadcast_q166(spark, sf_dir):
    """DSIR importance: the bucket-distribution tables (≤256 rows) and
    the totals frame must BROADCAST onto the Σ-words token stream —
    a shuffled or sort-merge bucket join would move the whole token
    stream twice for a bounded dimension, and the selection is a
    TakeOrderedAndProject (never a global sort)."""
    plan = _plan(spark, sf_dir, "q166_dsir_resample")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    # round-16: cb and tb fused into ONE bucket table (count +
    # count_if in the same Σ-words aggregate), so the token stream is
    # probed by a single broadcast join — two joins would re-walk it
    assert plan.count("BroadcastHashJoin") >= 1
    assert "TakeOrderedAndProject" in plan


def test_min_cost_supplier_plan_q195(spark, sf_dir):
    """Q2 shape: the region-filtered supplier dim and the attribute-
    filtered part dim broadcast; the global top-50 compiles to
    TakeOrderedAndProject (per-partition partials, never a full sort);
    the cost-equality join back is an equi-join, never a cartesian."""
    plan = _plan(spark, sf_dir, "q195_min_cost_supplier")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2
    assert "TakeOrderedAndProject" in plan


def test_supplier_part_matrix_anti_broadcast_q197(spark, sf_dir):
    """Q16 shape: the NOT-IN complaint list is a broadcast LEFT ANTI
    join — a shuffled anti join would move the whole pair stream for a
    10-row exclusion list."""
    plan = _plan(spark, sf_dir, "q197_supplier_part_matrix")
    assert "CartesianProduct" not in plan
    anti = [l for l in plan.splitlines() if "LeftAnti" in l]
    assert anti and all("Broadcast" in l for l in anti)


def test_excess_share_reuses_pair_partitioning_q198(spark, sf_dir):
    """Q20 shape: the per-part rollup of the per-(part,supplier) rollup
    shares the leading grouping key, so Catalyst must not insert a
    second wide exchange between them; part + dims broadcast."""
    plan = _plan(spark, sf_dir, "q198_excess_share_suppliers")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 3


def test_robust_stats_and_quantiles_no_global_funnel(spark, sf_dir):
    """The order-statistic family's scale claim: q208's per-dimension
    windows and q210's per-group windows hash-partition on their keys
    — no Exchange SinglePartition anywhere (the global-window funnel
    these constructions exist to avoid)."""
    for q in ("q208_embedding_robust_stats", "q210_exact_group_quantiles"):
        plan = _plan(spark, sf_dir, q)
        assert "Exchange SinglePartition" not in plan, q


def test_group_rank_consumers_no_group_only_window(spark, sf_dir):
    """The round-13 `weak` marks, retired: q209/q210/q140 rank within
    groups through selection.group_rank (range repartition + bounded
    (partition, group) count read + per-group offsets) — so NO Window
    on their data path may partition by the group column alone (the
    single-task-per-group funnel: ~5 sources at 100 TB would sort
    ~20 TB per task). Every windowspec that mentions the group column
    must also carry the physical partition id, and nothing plans an
    Exchange SinglePartition."""
    for q, gfrag in (
        ("q209_interleaved_order", "source#"),
        ("q210_exact_group_quantiles", "source#"),
        ("q140_per_group_sample", "source#"),
        ("q167_ccnet_quality_buckets", "lang#"),
        # round-15 (verdict #2): the per-dim robust stats rank through
        # the same primitive — a dim-only window funnels all N vectors
        # of a dimension into one task
        ("q208_embedding_robust_stats", "dim#"),
        # round-15 (verdict #5): top-k-per-group is rank-only, so it
        # routes through group_rank too
        ("q32_topk_per_group", "c_mktsegment#"),
        # round-15: per-type LAG through group_shift (rank + balanced
        # self-equi-join), never a type-only window
        ("q214_event_gap_profile", "event_type#"),
        # round-15: per-source top bigrams rank the (source, gram)
        # TYPE table through group_rank — no source-only window
        ("q216_top_bigrams_per_source", "source#"),
        # round-16 (verdict #1): winsorized cuts are order statistics —
        # exact_group_quantiles, never a lang-only rank+count window
        ("q135_winsorized_stats", "lang#"),
        # round-16 (verdict #2): NTILE(10) reconstructed arithmetically
        # from group_rank's rn + driver-known totals — no lang-only ntile
        ("q96_length_deciles", "lang#"),
        # round-16 new coverage: Gini ranks through group_rank; the
        # weighted-median running sum through group_cumsum — neither
        # may window on the bare group key
        ("q218_token_gini_per_source", "source#"),
        ("q219_weighted_median_length", "lang#"),
    ):
        plan = _plan(spark, sf_dir, q)
        assert "Exchange SinglePartition" not in plan, q
        for l in plan.splitlines():
            if "windowspecdefinition" in l and gfrag in l:
                assert "__pid" in l, f"{q} group-only window: {l.strip()[:160]}"


def test_dedup_canonical_argmax_no_window_q104(spark, sf_dir):
    """Round-15 verdict #4: the canonical-survivor pick is a map-side
    argmax (max_by + count in one partial-combinable aggregation) —
    the plan must contain NO cluster-partitioned window (the former
    row_number + count-over pair funneled each cluster into one task;
    a boilerplate-heavy corpus produces mega-clusters)."""
    plan = _plan(spark, sf_dir, "q104_dedup_canonical")
    funnels = [
        l
        for l in plan.splitlines()
        if "windowspecdefinition" in l and "cluster#" in l
    ]
    assert not funnels, f"cluster-partitioned window: {funnels[0][:160]}"
    assert "max_by" in plan


def test_jl_projection_single_join(spark, sf_dir):
    """q203: the projection is a zero-shuffle map; the only join is
    the id+1 equi-join — never a cartesian, never a second exchange
    family."""
    plan = _plan(spark, sf_dir, "q203_jl_distortion")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_video_clip_near_dup_no_cartesian_q212(spark, sf_dir):
    """The video vote rides the same pigeonhole band join as every
    other modality: frame candidates come from hash equi-joins on
    (band, chunk) — a cartesian or nested-loop join here means the
    composite-id banding broke and clip dedup went all-pairs."""
    plan = _plan(spark, sf_dir, "q212_video_clip_near_dup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pipeline_fused_no_documents_rescan_q213(spark, sf_dir):
    """The fused pipeline's whole point (round-13 item 5, hardened by
    round-14 verdict #1): the gated doc-level frame is pinned by an
    eager localCheckpoint before the totals read, so the RETURNED plan
    must read the pinned frame — ZERO documents FileScans — making a
    corpus re-scan at action time structurally impossible (the old
    one-FileScan grep PASSED while the internal totals collect
    re-executed the whole chain from the parquet). The runtime
    bytes-read companion lives in test_llm_ops.py; no cartesian
    anywhere."""
    plan = _plan(spark, sf_dir, "q213_pipeline_fused")
    scans = [
        l for l in plan.splitlines()
        if "FileScan parquet" in l and "documents" in l
    ]
    assert not scans, f"returned plan re-scans documents: {scans[:2]}"
    assert "ExistingRDD" in plan or "LogicalRDD" in plan  # the pinned frame
    assert "CartesianProduct" not in plan


def test_bm25_topk_is_take_ordered_q215(spark, sf_dir):
    """q215's global top-10 must compile to TakeOrderedAndProject
    (per-partition heaps + one merge), never a global sort; the only
    join is the cross join with the one 1-row broadcast stat frame
    (BroadcastNestedLoopJoin on a 1-row side is the intended shape,
    same as bigram_lm_fluency's vocab frame; the Exchange
    SinglePartition feeding the 1-row N/L/df aggregate is the normal
    global-agg final step over map-side partials — counts, not data
    rows — so it is NOT asserted away here). Term counts are taken
    inside each document's row, so there is no tf equi-join."""
    plan = _plan(spark, sf_dir, "q215_bm25_keyword_topk")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_hybrid_rrf_ranks_distributed_q217(spark, sf_dir):
    """q217: both global rank passes must ride global_rank's bounded
    (__pid) windows — a plain ROW_NUMBER() OVER (ORDER BY score) would
    plan Exchange SinglePartition on the whole candidate set; the
    final top-10 is a TakeOrderedAndProject; no cartesian (the 1-row
    query-vector broadcast is a BroadcastNestedLoopJoin by design)."""
    plan = _plan(spark, sf_dir, "q217_hybrid_rrf_search")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    for l in plan.splitlines():
        if "windowspecdefinition" in l:
            assert "__pid" in l, f"unbounded rank window: {l.strip()[:160]}"


# ---------------------------------------------------------------------------
# window-funnel lint (round-16 verdict #3): the sweep-level guard that
# makes the low-cardinality-window defect class un-reintroducible
# ---------------------------------------------------------------------------


def test_window_lint_flags_group_only_window(spark, sf_dir):
    """A window partitioned solely by a low-cardinality domain column
    (lang) without __pid is the funnel the lint exists to catch."""
    from pyspark.sql.window import Window

    from excel_to_database_spark.operators.plan_lint import lint_window_funnels

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bad = d.select(
        "lang",
        F.row_number()
        .over(Window.partitionBy("lang").orderBy("doc_id"))
        .alias("rn"),
    )
    hits = lint_window_funnels(bad, "q999_bad")
    assert hits and "lang#" in hits[0]


def test_window_lint_accepts_pid_composite_and_high_cardinality(spark, sf_dir):
    """__pid co-partitioning (the group_rank contract) and composites
    with a high-cardinality component are balanced — no hit. The
    showcase allowlist suppresses its three documented queries."""
    from pyspark.sql.window import Window

    from excel_to_database_spark.operators.plan_lint import (
        SHOWCASE_ALLOWLIST,
        lint_window_funnels,
    )

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pid = d.withColumn("__pid", F.spark_partition_id())
    ok = pid.select(
        "lang",
        F.row_number()
        .over(Window.partitionBy("__pid", "lang").orderBy("doc_id"))
        .alias("rn"),
    )
    assert lint_window_funnels(ok, "q999_pid") == []
    comp = d.select(
        "lang",
        F.row_number()
        .over(Window.partitionBy("lang", "doc_id").orderBy("n_chars"))
        .alias("rn"),
    )
    assert lint_window_funnels(comp, "q999_comp") == []
    bad = d.select(
        "lang",
        F.row_number()
        .over(Window.partitionBy("lang").orderBy("doc_id"))
        .alias("rn"),
    )
    assert SHOWCASE_ALLOWLIST == {
        "q31_rank_lag_lead",
        "q44_rank_distributions",
        "q47_null_ordering",
        "q113_lateral_topk",  # LATERAL-decorrelation surface parity
    }
    for name in SHOWCASE_ALLOWLIST:
        assert lint_window_funnels(bad, name) == []
    # the bounded-input category must carry a boundedness argument
    from excel_to_database_spark.operators.plan_lint import (
        BOUNDED_INPUT_ALLOWLIST,
    )

    assert set(BOUNDED_INPUT_ALLOWLIST) == {"q153_gapfill_locf"}
    assert all(v for v in BOUNDED_INPUT_ALLOWLIST.values())
    assert lint_window_funnels(bad, "q153_gapfill_locf") == []


def test_window_lint_parser_units():
    """Parser-level units: nested parens in partition expressions,
    ordered-arg boundary detection, bare-attribute matching."""
    from excel_to_database_spark.operators.plan_lint import (
        _base_name,
        _partition_cols,
        _split_top_level,
        window_funnels,
    )

    assert _split_top_level("a#1, f(b#2, c#3), d#4 ASC NULLS FIRST") == [
        "a#1",
        "f(b#2, c#3)",
        "d#4 ASC NULLS FIRST",
    ]
    body = "lang#5, n#6L ASC NULLS FIRST, specifiedwindowframe(RowFrame, x, y)"
    assert _partition_cols(body) == ["lang#5"]
    assert _base_name("lang#13") == "lang"
    assert _base_name("doc_id#13L") == "doc_id"
    assert _base_name("CASE WHEN x THEN lang#3 END") is None
    plan = (
        "Window [row_number() windowspecdefinition(source#9, doc_id#1L ASC"
        " NULLS FIRST, specifiedwindowframe(RowFrame, a$(), b$())) AS rn#77]"
    )
    assert window_funnels(plan)
    plan_ok = plan.replace("source#9", "__pid#4, source#9")
    assert window_funnels(plan_ok) == []
    # a non-domain bare attribute anywhere in the clause → balanced
    plan_ok2 = plan.replace("source#9", "cluster#9")
    assert window_funnels(plan_ok2) == []
