"""Sweep-level window-funnel lint: make the low-cardinality-window
defect class structurally un-reintroducible.

Six consecutive rounds migrated queries off the same defect —
``Window.partitionBy(<low-cardinality key>)`` on a data path (q209,
q210, q140, q167, q208, q32, q216, then q135/q96 as round-15
stragglers): at 100 TB, a window partitioned solely by ``lang`` /
``source`` / ``event_type`` funnels each group's entire slice into ONE
task. Each migration added a hand-enumerated plan-contract entry, and
the stragglers slipped precisely because nobody added theirs. This
lint inverts the burden: the correctness sweep
(``scripts/check_correctness.py``) lints EVERY registered query's
optimized plan, so a new low-cardinality window fails the gate the
round it is introduced — no enumeration required.

Rule: a ``windowspecdefinition`` whose partition clause is non-empty
and consists SOLELY of bare attributes drawn from the known
low-cardinality domain below is a funnel — UNLESS the spec also
partitions by ``__pid`` (the group_rank/global_rank co-partition
contract: the physical partition id bounds every window task to one
partition's share of one group) or by any non-domain column (a
composite with a high-cardinality component is hash-balanced).

Two explicit, documented allowlists (PLANS.md design note): the
built-in-surface showcase set {q31, q44, q47, q113} — queries whose
§2-parity purpose is to certify a built-in SQL/window surface itself
(rank/lag/lead/ntile, percent_rank/cume_dist/nth_value, null
ordering, LATERAL decorrelation) — and the bounded-input set, for
windows whose input frame is bounded by something other than data
volume. Never an LLM-pipeline scale path in either.
"""

from __future__ import annotations

#: Column names whose value domain is known to be small (≤ dozens of
#: values) in this engine's data model — partitioning a window solely
#: by these keys cannot balance at scale. Names are matched on the
#: bare attribute name inside the plan (``lang#13`` → ``lang``).
LOW_CARDINALITY_DOMAINS = frozenset(
    {
        "lang",
        "source",
        "event_type",
        "dim",
        "split",
        "segment",
        "c_mktsegment",
        "l_returnflag",
        "l_linestatus",
        "o_orderstatus",
        "o_orderpriority",
        "l_shipmode",
        "n_name",
        "n_nationkey",
        "r_name",
        "r_regionkey",
        "c_nationkey",
        "s_nationkey",
        "nation",
        "region",
        "returnflag",
    }
)

#: §2 built-in-surface parity showcases (documented in PLANS.md):
#: allowed to window over a low-cardinality key because demonstrating
#: the built-in surface IS their purpose. Membership rule: parity
#: showcases of built-in SQL/window surfaces only — never an
#: LLM-pipeline / scale-path operator; the scale path for each is a
#: shipped primitive (group_rank/group_shift/exact_group_quantiles).
SHOWCASE_ALLOWLIST = frozenset(
    {
        "q31_rank_lag_lead",
        "q44_rank_distributions",
        "q47_null_ordering",
        # LATERAL ... LIMIT parity: the query certifies Catalyst's
        # decorrelation of a correlated lateral subquery into a
        # partitioned window — the surface under test IS the window it
        # plans. Output is 3·|nations| rows; the scale path for
        # top-k-per-group is q32's group_rank(value_desc=True).
        "q113_lateral_topk",
    }
)

#: Windows whose INPUT frame is bounded by something other than data
#: volume — the adjudicated bounded-derived-frame category (q181's
#: |domains| rows, q167's occupied bins, q154's |buckets| rows). The
#: lint reads partition columns, not input cardinality, so these carry
#: their boundedness argument here, one line each.
BOUNDED_INPUT_ALLOWLIST = {
    # the window runs over the HOURLY (type, bucket) aggregate after
    # gap-filling: |event_types| · |span-hours| rows — bounded by the
    # corpus TIME SPAN, not its row count (10 years ≈ 87,600 rows per
    # type at ANY data volume)
    "q153_gapfill_locf": "hourly (type, bucket) aggregate input",
}


def _split_top_level(s: str) -> list[str]:
    """Split on commas at paren depth 0 (windowspec args may nest
    CASE/function expressions)."""
    out, depth, cur = [], 0, []
    for ch in s:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            out.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    tail = "".join(cur).strip()
    if tail:
        out.append(tail)
    return out


def _spec_body(plan: str, start: int) -> str:
    """Return the balanced-paren argument body of the
    ``windowspecdefinition(`` starting at ``start`` (index of the
    opening paren)."""
    depth = 0
    for i in range(start, len(plan)):
        if plan[i] == "(":
            depth += 1
        elif plan[i] == ")":
            depth -= 1
            if depth == 0:
                return plan[start + 1 : i]
    return plan[start + 1 :]  # unbalanced: lint what we can


def _partition_cols(spec_body: str) -> list[str]:
    """The partition clause of a windowspecdefinition: the leading
    args before the first ordered arg (``… ASC/DESC NULLS …``) or the
    ``specifiedwindowframe(…)`` arg."""
    cols = []
    for arg in _split_top_level(spec_body):
        if arg.startswith("specifiedwindowframe"):
            break
        if " ASC" in arg or " DESC" in arg:
            break
        cols.append(arg)
    return cols


def _base_name(expr: str) -> str | None:
    """Bare-attribute name of a partition expression (``lang#13`` →
    ``lang``); None when the expression is not a bare attribute."""
    import re

    m = re.fullmatch(r"([A-Za-z_][A-Za-z0-9_]*)#\d+[A-Za-z]?", expr.strip())
    return m.group(1) if m else None


def window_funnels(plan: str) -> list[str]:
    """Offending window specs in a plan string: partition clause
    non-empty, no ``__pid``, and every partition expression a bare
    attribute from :data:`LOW_CARDINALITY_DOMAINS`."""
    hits = []
    pos = 0
    marker = "windowspecdefinition("
    while True:
        idx = plan.find(marker, pos)
        if idx < 0:
            return hits
        body = _spec_body(plan, idx + len(marker) - 1)
        pos = idx + len(marker)
        parts = _partition_cols(body)
        if not parts:
            continue
        names = [_base_name(p) for p in parts]
        if any(n == "__pid" for n in names):
            continue
        if all(n is not None and n in LOW_CARDINALITY_DOMAINS for n in names):
            hits.append(f"windowspecdefinition({body[:160]}…)")


def lint_window_funnels(df, query_name: str) -> list[str]:
    """Lint one query's OPTIMIZED plan (post column-pruning/pushdown —
    the plan that actually executes); returns human-readable violation
    strings, empty for allowlisted showcases."""
    if query_name in SHOWCASE_ALLOWLIST or query_name in BOUNDED_INPUT_ALLOWLIST:
        return []
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return [f"{query_name}: {h}" for h in window_funnels(plan)]


# ---------------------------------------------------------------------------
# Multi-scan lint (round-17, verdict #7): the round-16 hidden-re-scan
# class — ~20 queries whose plans or runtimes read a base table 2–3.5×
# — was found by a one-off scan-count audit AFTER its first (vacuous)
# regex shipped a false all-clear. Wiring the corrected counter into the
# correctness sweep makes the class un-reintroducible: a NEW query (or
# a regression in a fixed one) that scans a base table more than once
# fails the gate the round it appears, unless its multi-scan semantics
# are triaged into the allowlist below with a one-line reason.
# ---------------------------------------------------------------------------

#: Base tables of the engine's data model (parquet file stem).
BASE_TABLES = frozenset(
    (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings media"
    ).split()
)

#: Queries whose >1-scan plans are LEGITIMATE semantics, triaged in
#: round 16 (OPTIMIZATION_r16.md "Remaining >1-scan plan flags") and
#: re-enumerated from a fresh full audit in round 17 — each entry
#: carries its category so the next reader can re-triage. Anything NOT
#: here that scans a base table twice fails the correctness sweep.
MULTI_SCAN_ALLOWLIST: dict[str, str] = {
    # -- TPC-H / relational shapes whose SEMANTICS are two passes
    #    (correlated subquery + outer, self-join, set ops) --
    "q19_correlated_scalar_subquery": "correlated avg subquery + outer scan",
    "q23_cte_top_supplier": "CTE max-over-aggregate + outer scan",
    "q27_large_quantity_orders": "HAVING-sum subquery + outer scan",
    "q35_rich_idle_customers": "anti-join + avg subquery over customer",
    "q38_relational_division": "division: candidate orders + universe scan",
    "q39_self_join_pairs": "nation self-join (pairs)",
    "q49_nation_pair_volume": "nation in two roles (supplier/customer side)",
    "q58_multiset_ops": "INTERSECT/EXCEPT legs scan each side twice",
    "q62_range_self_join": "events range self-join",
    "q130_small_quantity_revenue": "Q17 shape: per-part avg subquery + outer",
    "q131_waiting_suppliers": "Q21 shape: exists + not-exists legs",
    "q195_min_cost_supplier": "Q2 shape: correlated min-cost subquery + outer",
    "q196_important_supply": "Q2 family: correlated threshold subquery",
    "q198_excess_share_suppliers": "Q20 shape: per-(part,supp) rollup + parts",
    "q152_interval_overlap_join": "interval self-overlap join",
    # -- temporal two-pass semantics (span/stat derivation + probe) --
    "q105_gapfill_rollup": "span-bounds derivation + data pass",
    "q108_asof_nearest": "two-sided nearest: before + after candidates",
    "q117_retention_cohorts": "cohort anchor + return-visit self-join",
    "q127_zscore_outliers": "group mean/std aggregate + row probe",
    "q144_hypertable_rollup": "rollup + span derivation",
    "q153_gapfill_locf": "hourly span + LOCF carry pass",
    "q154_cumulative_distinct": "first-seen derivation + per-bucket slices",
    # -- sketch-vs-exact verification pairs (the audit IS two passes) --
    "q110_count_min_sketch": "CMS build + exact verify",
    "q111_bloom_membership": "bloom build + probe",
    "q119_heavy_hitters": "SpaceSaving shards + exact verify",
    # -- ANN / quantization audits: index build/probe + exact twin --
    "q80_knn_bruteforce": "1-row query-vector probe + corpus",
    "q81_ann_hyperplane_lsh": "probe vector + corpus",
    "q86_ann_ivf": "centroid build + assign + probe lifecycle",
    "q162_ann_lsh_exact_twin": "ANN probe + exact twin",
    "q163_ann_ivf_exact_twin": "IVF lifecycle + exact twin",
    "q164_ann_ivf_pq_exact_twin": "IVF-PQ lifecycle + exact twin",
    "q138_embedding_quantization": "original-vs-reconstructed audit",
    "q139_product_quantization": "codebook build + encode + audit",
    "q184_dim_ablation": "full-dim vs ablated-dim comparison",
    "q203_jl_distortion": "original-vs-sketch pair distances",
    "q125_semantic_dedup_blocked": "centroid derivation + assign + pair join",
    "q169_semantic_balanced_sample": "cell derivation + assign + sample",
    "q171_prototypicality_prune": "centroid + member + tail passes (pinned)",
    # -- dedup: deliberate recompute-over-persist (measured cheaper,
    #    OPTIMIZATION_r16.md _char_span_edges note) --
    "q79_substring_dedup": "char-span recompute over persist (measured)",
    "q147_char_substring_dedup": "char-span recompute over persist (measured)",
    "q148_line_dedup": "line-index recompute over persist (measured)",
    "q133_incremental_dedup": "old-snapshot labels + new-batch scan",
    "q142_boilerplate_line_removal": "line docfreq + doc reconstruction",
    "q173_source_overlap": "per-source shingle sets in two roles",
    # -- two-snapshot / drift semantics (disjoint filtered slices) --
    "q172_corpus_drift": "old vs new snapshot slices",
    "q174_numeric_drift": "baseline vs current slices",
    "q176_table_diff": "old vs new snapshot full-outer diff",
    # -- disjoint split slices (each row read once under pushdown) --
    "q93_contamination_check": "train/test disjoint slices",
    "q170_decontaminate_train": "train/test slices + id-only projection",
    "q180_leakage_safe_split": "split slices through one pair-join pass",
    # -- adjudicated individually in round 16 --
    "q122_pagerank": "edge list from two roles; adjacency pinned after",
    "q151_fuzzy_edit1_join": "edit-distance positional blocking variants",
    "q193_classifier_quality_budget": "2-column join-back beats wider shuffle",
    "q200_temperature_mixture": "AQE pre-exec print artifact; runtime 1.0x",
}


def count_table_scans(plan_formatted: str) -> dict[str, int]:
    """Distinct parquet-scan NODES per base table in a FORMATTED
    physical plan. Formatted plans print the scan's path on the detail
    block's ``Location:`` line, not the node-header line (the round-16
    fix to the first, vacuous regex); AQE prints cached relations under
    both Final and Initial plan, so nodes are counted by distinct node
    id."""
    import re

    counts: dict[str, set] = {}
    for m in re.finditer(
        r"\((\d+)\) Scan parquet[^\n]*\n((?:(?!\(\d+\) )[^\n]*\n)*)",
        plan_formatted,
    ):
        node_id, detail = m.group(1), m.group(2)
        loc = re.search(r"Location:[^\n]*[/ ](\w+)\.parquet", detail)
        if loc and loc.group(1) in BASE_TABLES:
            counts.setdefault(loc.group(1), set()).add(node_id)
    return {tbl: len(ids) for tbl, ids in counts.items()}


def lint_multi_scans(df, query_name: str) -> list[str]:
    """Flag a query whose formatted physical plan scans any base table
    more than once, unless allowlisted. Checkpoint/pin-backed shared
    frames count once structurally — which is the point; the runtime
    bytes-read tests pin the same fact at the Hadoop-FS counter level
    for the construction-time builds this lint cannot see."""
    if query_name in MULTI_SCAN_ALLOWLIST:
        return []
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    multi = {t: c for t, c in count_table_scans(buf.getvalue()).items() if c > 1}
    return (
        [f"{query_name}: scans {multi} — triage into MULTI_SCAN_ALLOWLIST or fix"]
        if multi
        else []
    )
