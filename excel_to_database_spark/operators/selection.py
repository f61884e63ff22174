"""Exact distributed selection (order statistics) WITHOUT a global
sort: histogram descent.

One engine, :func:`_grouped_descend`, answers every order-statistic
question in this module: the k-th value of ``col`` under ``ORDER BY
col DESC`` (or ASC), for several ranks of several GROUPS at once.
Single-value callers (``top_k_cutoff``, ``kth_value``,
``skew_report``) pass one constant group. A descent replaces a global
sort of 100 TB — the canonical scalability mistake for reading one
cutoff row — with ≤⌈log₄₀₉₆(range)⌉ map-side-combinable aggregations:

  bounds:  ONE aggregation (:func:`_group_bounds`) reads each group's
           exact (min, max) and row count, and rejects an empty
           frame, a NULL group or a NULL value loudly;
  level 0: bucket each group's range into ≤4096 equal-width integer
           ranges, count per (group, bucket) in one aggregation, walk
           the prefix on the driver, keep the bucket containing each
           k-th row and the residual k' inside it;
  level n: re-bucket only the surviving ranges (rows shrink every
           level) until the bucket width is 1 — the exact value.

``top_k_cutoff`` then descends the same way over ``id`` INSIDE the
threshold score's tie group to resolve the tie-break id.

The number of levels is ⌈log₄₀₉₆(range)⌉ ≤ 6 for any bigint range —
data-independent — and each level's histogram is bounded before it is
collected (``_MAX_HIST_ROWS``). The driver reads only bounds and
histogram rows (bounded meta reads, the repo-wide ``.collect()``
policy), never data rows.

Values must be integral (bigint-castable) and NON-NULL, which makes
every decision integer-exact and engine-portable (the
oracle-exactness discipline: no percentile interpolation semantics to
reconcile).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from excel_to_database_spark.operators.caching import pinned

_FANOUT = 4096

#: rows a per-group meta read (descent bounds, rank-build cells) may
#: bring to the driver before it is rejected
_MAX_META_ROWS = 1 << 20

#: histogram rows one descent level may bring to the driver: a level
#: over |cells| (group, range) cells returns ≤ |cells|·_FANOUT rows and
#: is rejected before its collect when that exceeds this bound
_MAX_HIST_ROWS = 10**7


def _check_groups(rows, group_col: str) -> None:
    """Reject a meta read that hit ``_MAX_META_ROWS`` or carries a NULL
    group (a NULL never equi-joins back to its per-group row, which
    would silently drop the group)."""
    if len(rows) > _MAX_META_ROWS:
        raise ValueError(
            f"meta read exceeds _MAX_META_ROWS={_MAX_META_ROWS}: "
            f"{group_col!r} is too high-cardinality for the "
            "driver-literal construction"
        )
    if any(r[group_col] is None for r in rows):
        raise ValueError(
            f"{group_col!r} has NULL value(s) — per-group results over "
            "a NULL group are undefined here; filter or coalesce first"
        )


def _reject_degenerate(value_col: str, n_all: int, n_val: int) -> None:
    """The one NULL contract of the order statistics: an empty frame or
    a NULL value fails loudly (round-12 advisor finding: an empty frame
    crashed with an opaque int(None) TypeError, and NULLs were silently
    dropped by the range filter)."""
    if not n_all:
        raise ValueError(
            f"cannot take an order statistic of an empty frame ({value_col!r})"
        )
    if n_val != n_all:
        raise ValueError(
            f"{value_col!r} has {n_all - n_val} NULL value(s) — order "
            "statistics over NULLs are undefined here; filter or coalesce "
            "them first"
        )


def _group_bounds(df: DataFrame, group_col: str, value_col: str):
    """ONE bounds+count aggregation: returns ``(bounds, totals)`` where
    ``bounds`` maps each group to the exact (min, max) of ``value_col``
    the descent starts from and ``totals`` to its row count (what the
    callers' target ranks are computed from). ≤|groups| driver rows; the
    limit bounds what the driver materializes before the cardinality
    guard fires. Rejects an empty frame, NULL groups and NULL values."""
    c = F.col(value_col).cast("bigint")
    meta = (
        df.groupBy(group_col)
        .agg(
            F.min(c).alias("__lo"),
            F.max(c).alias("__hi"),
            F.count(F.lit(1)).alias("__n"),
            F.count(c).alias("__nv"),
        )
        .limit(_MAX_META_ROWS + 1)
        .collect()
    )
    _check_groups(meta, group_col)
    _reject_degenerate(
        value_col, sum(r["__n"] for r in meta), sum(r["__nv"] for r in meta)
    )
    bounds = {r[group_col]: (int(r["__lo"]), int(r["__hi"])) for r in meta}
    totals = {r[group_col]: int(r["__n"]) for r in meta}
    return bounds, totals


def _grouped_descend(
    df: DataFrame,
    group_col: str,
    value_col: str,
    targets: "dict[object, list[tuple[object, int]]]",
    bounds: "dict[object, tuple[int, int]]",
    descending: bool = False,
) -> "dict[tuple[object, object], tuple[int, int]]":
    """Histogram descent for several ranks of several groups at once.

    ``targets`` maps each group value to ``[(tag, k)]`` rank requests;
    ``bounds`` maps each group to its exact (min, max) of ``value_col``
    (from :func:`_group_bounds`, or derived on the driver). Returns
    ``{(group, tag): (value, residual)}``: ``value`` is the k-th row's
    value of the group under ``ORDER BY value_col DESC`` (or ASC) and
    ``residual`` is how many of the k rows lie at that value (the
    tie-group residual). A k beyond the group's row count resolves to
    its last value.

    Every level is ONE map-side-combinable aggregation shared by all
    still-active (group, range) cells (round-17, guide §2.4: zero data
    shuffles): a ≤|cells|-row parameter frame (cell id, range, shift,
    base) broadcast-joins onto the data, rows outside every cell's
    range are filtered before the aggregate, and the histogram comes
    back keyed by (cell, bucket) — ≤4096·|cells| rows, checked against
    ``_MAX_HIST_ROWS`` before the collect. Ranks of a group that
    survive into the SAME bucket keep sharing one cell; ranks that
    diverge continue as separate cells over disjoint ranges, so the
    broadcast-join fan-out is pruned right back by the range filter.
    The parameter frame goes through the session's Arrow path (a
    LocalRelation): a list-of-tuples frame is a Python RDD, which
    costs a Python worker round trip per level. Even a LocalRelation
    broadcast is one extra Spark job per level, so a level with ONE
    cell — every level of a single-rank, single-group caller — filters
    on its group and carries its parameters as literals instead (same
    aggregation, no join). ``df`` should be pinned by the caller: the
    descent makes ≤⌈log₄₀₉₆(range)⌉ passes over it.

    Buckets are 2^s wide and indexed by ARITHMETIC SHIFT, never by
    subtraction or double division (round-12 self-review): a
    ``(c - lo) / width`` double cast misbuckets above 2^53 and the raw
    ``c - lo`` overflows bigint when min/max straddle most of the
    int64 range; ``(c >> s) - (lo >> s)`` is exact floor division for
    any bigint (Java >> is sign-preserving, matching Python), and the
    difference is ≤4095 by construction."""
    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    c = F.col(value_col).cast("bigint")
    pschema = StructType(
        [
            StructField(group_col, df.schema[group_col].dataType),
            StructField("__cell", IntegerType()),
            StructField("__lo", LongType()),
            StructField("__hi", LongType()),
            StructField("__s", IntegerType()),
            StructField("__base", LongType()),
        ]
    )
    out: dict = {}
    # cells: (group, lo, hi, members) with members = [(tag, k_left)]
    cells = [(g, *bounds[g], list(targets[g])) for g in targets]
    while cells:
        if len(cells) * _FANOUT > _MAX_HIST_ROWS:
            raise ValueError(
                f"histogram descent level over {len(cells)} cells may "
                f"collect {len(cells) * _FANOUT} rows, above "
                f"_MAX_HIST_ROWS={_MAX_HIST_ROWS}: {group_col!r} is too "
                "high-cardinality for the driver-side descent"
            )
        prows = []
        for i, (g, lo, hi, _members) in enumerate(cells):
            span = hi - lo + 1  # Python int: cannot overflow
            s = max(0, span.bit_length() - 12)  # 2^12 = 4096 buckets
            while ((hi >> s) - (lo >> s)) > _FANOUT - 1:
                s += 1  # alignment can spill one extra bucket
            prows.append((g, i, lo, hi, s, lo >> s))
        if len(prows) == 1:  # the one cell's parameters ride as literals
            (g, _, lo, hi, s, base), = prows
            hist_df = (
                df.filter((F.col(group_col) == F.lit(g)) & (c >= lo) & (c <= hi))
                .groupBy(((F.shiftright(c, s) if s else c) - F.lit(base)).alias("__b"))
                .agg(F.count(F.lit(1)).alias("__n"))
                .select(F.lit(0).alias("__cell"), "__b", "__n")
            )
        else:
            params = df.sparkSession.createDataFrame(
                pd.DataFrame(prows, columns=pschema.fieldNames()), pschema
            )
            # shiftright takes the per-cell shift as a COLUMN here
            bexpr = F.expr(f"shiftright(CAST(`{value_col}` AS BIGINT), __s)")
            hist_df = (
                df.join(F.broadcast(params), group_col)
                .filter((c >= F.col("__lo")) & (c <= F.col("__hi")))
                .groupBy("__cell", (bexpr - F.col("__base")).alias("__b"))
                .agg(F.count(F.lit(1)).alias("__n"))
            )
        hists: dict[int, dict[int, int]] = {}
        for r in hist_df.collect():  # bounded above: ≤ 4096·|cells| rows
            hists.setdefault(int(r["__cell"]), {})[int(r["__b"])] = int(r["__n"])
        nxt = []
        for (g, lo, hi, members), (_, i, _, _, s, base) in zip(cells, prows):
            hist = hists.get(i)
            if not hist:
                raise ValueError(
                    f"empty histogram for group {g!r} range [{lo}, {hi}] — "
                    "bounds do not match the data"
                )
            order = sorted(hist, reverse=descending)
            by_bucket: dict[int, list[tuple[object, int]]] = {}
            for tag, k in members:
                before = 0  # rows ahead of bucket b in the walk order
                for b in order:
                    if before + hist[b] >= k:
                        by_bucket.setdefault(b, []).append((tag, k - before))
                        break
                    before += hist[b]
                else:  # k exceeds the row count: cutoff is the last value
                    b = order[-1]
                    by_bucket.setdefault(b, []).append((tag, hist[b]))
            for b, mem in by_bucket.items():
                nlo = max(lo, (base + b) << s)
                nhi = min(hi, ((base + b + 1) << s) - 1)
                if s == 0:
                    for tag, k in mem:
                        out[(g, tag)] = (nlo, k)
                else:
                    nxt.append((g, nlo, nhi, mem))
        cells = nxt
    return out


def top_k_cutoff(df: DataFrame, score_col: str, id_col: str, k: int) -> dict:
    """Exact cutoff of the global top-``k`` rows of ``df`` under
    ``ORDER BY score DESC, id ASC``, as
    ``{"score": s*, "id": i*, "n_above": a}``: the kept set is exactly
    ``score > s* OR (score = s* AND id <= i*)`` (ids are assumed
    unique, the usual primary-key case). No sort at any scale — see
    the module docstring for the descent contract."""
    if k <= 0:
        raise ValueError(f"need k > 0, got {k}")
    with pinned(df) as df:
        one = df.withColumn("__g", F.lit(0))  # the one constant group
        bounds, _ = _group_bounds(one, "__g", score_col)
        s_star, resid = _grouped_descend(
            one, "__g", score_col, {0: [(0, k)]}, bounds, descending=True
        )[(0, 0)]
        ties = one.filter(F.col(score_col) == s_star)
        bounds, _ = _group_bounds(ties, "__g", id_col)
        res = _grouped_descend(ties, "__g", id_col, {0: [(0, resid)]}, bounds)
        i_star = res[(0, 0)][0]
    return {"score": s_star, "id": i_star, "n_above": k - resid}


def keep_budget_report(
    df: DataFrame,
    score_col: str,
    id_col: str,
    group_col: str,
    keep_frac: "object",
) -> DataFrame:
    """Per-group report of a corpus-wide quality budget: keep the
    globally best ``⌈keep_frac·N⌉`` rows by ``(score DESC, id ASC)``
    and report, per ``group_col``: n_rows, n_kept, plus the global
    cutoff (threshold_score, threshold_id) on every row.

    ``keep_frac`` accepts a ``fractions.Fraction`` (or float, converted
    exactly) so k = ⌈f·N⌉ is computed in INTEGER arithmetic —
    identical in any engine even when f·N lands exactly on an integer
    (the q170 decontamination-verdict discipline).

    The cutoff costs the histogram descent (no sort); the report is
    then ONE map-side-combinable aggregation with the kept predicate
    as an integer conditional. At 100 TB: ≤6 tiny-shuffle aggregations
    plus one group-by — nothing ever sorts, and the broadcast of the
    2-integer cutoff is free."""
    from fractions import Fraction

    f = Fraction(keep_frac)
    # pin once across count + cutoff descents + the final report scan
    # (the report is lazy: on success the pin is kept for the
    # session-level evict sweep, the registry's normal lifetime)
    with pinned(df, keep=True) as df:
        n = df.count()
        k = -(-(n * f.numerator) // f.denominator)  # ceil(n·f), exact
        cut = top_k_cutoff(df, score_col, id_col, int(k))
        s, c = F.col(score_col), F.col(id_col)
        kept = (s > cut["score"]) | ((s == cut["score"]) & (c <= cut["id"]))
        return df.groupBy(group_col).agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(kept.cast("bigint")).alias("n_kept"),
            F.lit(cut["score"]).cast("bigint").alias("threshold_score"),
            F.lit(cut["id"]).cast("bigint").alias("threshold_id"),
        )


def kth_value(df: DataFrame, col: str, k: int, descending: bool = True) -> int:
    """Exact k-th order statistic of ``col`` (the VALUE only; tie
    identity ignored) via the same histogram descent — ≤6 bounded
    aggregations, never a sort. The building block for exact
    distribution reports (max/p50/p99 of group sizes) at any scale."""
    if k <= 0:
        raise ValueError(f"need k > 0, got {k}")
    with pinned(df) as df:
        one = df.withColumn("__g", F.lit(0))  # the one constant group
        bounds, _ = _group_bounds(one, "__g", col)
        res = _grouped_descend(one, "__g", col, {0: [(0, k)]}, bounds, descending)
        return res[(0, 0)][0]


def skew_report(df: DataFrame, key_col: str, label: str) -> DataFrame:
    """Shuffle-skew pre-flight for a join/aggregation key: ONE row
    (key_name, n_rows, n_keys, max_size, p50_size, p99_size) where
    p50/p99 are EXACT order statistics of the per-key group sizes —
    the ⌈n/2⌉-th / ⌈n/100⌉-th largest — computed by histogram descent.

    This is the "will this key melt a reducer at 100 TB" check run
    before committing to a partitioning: one map-side-combinable
    size aggregation + ≤3 descent levels over the |keys|-row size frame
    (bounded meta reads only), no sort, no percentile-interpolation
    semantics to reconcile across engines — every output is a bigint
    actually present in the data."""
    with pinned(
        df.groupBy(key_col).agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    ) as sizes:
        meta = sizes.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_keys"),
            F.sum("cnt").cast("bigint").alias("n_rows"),
            F.max("cnt").cast("bigint").alias("max_size"),
            # min rides the same meta read so the descent needs no
            # bounds job of its own (round-16 fixed-job fold)
            F.min("cnt").cast("bigint").alias("min_size"),
        ).collect()[0]  # 1-row meta read
        n_keys = int(meta["n_keys"])
        _reject_degenerate("cnt", n_keys, n_keys)
        # ONE shared descent for both percentiles (plus the pre-read
        # bounds): 2 driver-bound jobs per report instead of 5
        res = _grouped_descend(
            sizes.withColumn("__g", F.lit(0)),
            "__g",
            "cnt",
            {0: [(50, (n_keys + 1) // 2), (99, (n_keys + 99) // 100)]},
            {0: (int(meta["min_size"]), int(meta["max_size"]))},
            descending=True,
        )
    return df.sparkSession.createDataFrame(
        [
            (
                label,
                int(meta["n_rows"]),
                n_keys,
                int(meta["max_size"]),
                int(res[(0, 50)][0]),
                int(res[(0, 99)][0]),
            )
        ],
        "key_name string, n_rows long, n_keys long, max_size long,"
        " p50_size long, p99_size long",
    )


def global_rank(
    df: DataFrame, value_col: str, id_col: str, out_col: str = "rank"
) -> DataFrame:
    """EXACT global ranks 1..n by ``(value, id)`` — without the
    single-partition global-window funnel ``ROW_NUMBER() OVER (ORDER
    BY …)`` compiles to (the round-1 bug class the plan contracts
    exist to catch). The distributed construction:

      1. range-repartition on the key (Spark's distributed sort
         partitioning — every partition holds a contiguous key range);
      2. localCheckpoint the ranged frame (range boundaries come from
         a sampling pass, so a replan would re-sample and re-draw
         them; truncating the lineage freezes the physical
         partitioning the counts below describe — a plain persist
         bounds re-execution but NOT re-planning, so an intervening
         cache eviction could silently shift rows between partitions
         after the counts were read: the round-13 advisor finding).
         Since round 16 the checkpoint is LAZY: the count read in
         step 3 is the first job over the RDD, so materialization
         folds into it — one fixed job per build instead of two,
         with the boundaries still frozen exactly once.
         Cluster tradeoff, chosen deliberately: localCheckpoint
         blocks are NON-RELIABLE — an executor loss fails the job
         (correctly: recomputation would re-draw the boundaries) and
         the caller re-runs; on a cluster with a configured reliable
         checkpoint dir, swap in ``checkpoint()`` to survive executor
         loss at the cost of a filesystem round-trip. Blocks are
         freed when the plan handle is GC'd (deep_evict's GC cycle),
         not by ``evict_caches``;
      3. count rows per partition and prefix-sum on the DRIVER — a
         ≤|partitions|-row bounded meta read (the histogram-read
         discipline: the driver sees counts, never data rows);
      4. rank = literal-map partition offset + ROW_NUMBER within the
         partition (bounded windows — the plan contains NO
         Exchange SinglePartition, plan-contract-tested).

    Two data shuffles total (range + the within-partition window's
    hash on the partition id); at 100 TB both are linear passes, and
    no executor ever materializes more than its own range. The id
    tiebreaker makes ranks a permutation (no tie semantics to match),
    which is what q205's Spearman formula requires."""
    from pyspark.sql.window import Window

    # eager=False: the per-partition count read below is the first job
    # over the checkpointed RDD, so materialization folds into it —
    # one fixed job per build instead of two (see _group_rank_build
    # for the full argument and the round-16 A/B numbers)
    ranged = df.repartitionByRange(F.col(value_col), F.col(id_col)).withColumn(
        "__pid", F.spark_partition_id()
    ).localCheckpoint(eager=False)
    counts = sorted(
        (r["__pid"], r["n"])
        for r in ranged.groupBy("__pid").agg(F.count(F.lit(1)).alias("n")).collect()
    )  # bounded: one row per partition
    offs, acc = [], 0
    for pid, n in counts:
        offs.extend((F.lit(pid), F.lit(acc)))
        acc += n
    mapping = F.create_map(*offs)
    w = Window.partitionBy("__pid").orderBy(F.col(value_col), F.col(id_col))
    return (
        ranged.withColumn(
            out_col,
            (
                F.element_at(mapping, F.col("__pid")) + F.row_number().over(w)
            ).cast("bigint"),
        )
        .drop("__pid")
    )


def spearman_rho(
    df: DataFrame, id_col: str, col_a: str, col_b: str
) -> DataFrame:
    """Spearman rank correlation between two per-row signals — the
    monotone-robust companion to a Pearson agreement matrix (two
    signals can disagree linearly yet gate the same rows; rank
    agreement is what predicts filter redundancy). Both signals rank
    through :func:`global_rank` with the id tiebreaker, so ranks are
    permutations and the classical ``rho = 1 − 6·Σd²/(n(n²−1))``
    identity is EXACT: Σd² and n are exact bigints, the final rho one
    double division. Returns one row ``(n, sum_d2, rho)``.

    The (id, a, b) input frame is pinned BEFORE the two rank builds
    (round-16): each build materializes its localCheckpoint with a
    driver-blocking count read during construction, so without the
    pin the SECOND build re-scanned the source and re-evaluated both
    signal expressions at runtime — a re-scan the plan-text audit
    provably cannot see, because both builds vanish from the returned
    plan as LogicalRDD leaves (measured at sf0.001: 2.5× one
    reference documents scan before, 1.0× after; guide §2.3/§5 — the
    first build's range-shuffle map stage computes the signals once
    and persists them, the second build reads the cached blocks)."""
    from excel_to_database_spark.operators.caching import pin

    base = pin(df.select(id_col, col_a, col_b))
    ra = global_rank(base.select(id_col, col_a), col_a, id_col, "ra").select(
        id_col, "ra"
    )
    rb = global_rank(base.select(id_col, col_b), col_b, id_col, "rb").select(
        id_col, "rb"
    )
    j = ra.join(rb, id_col)
    d = F.col("ra") - F.col("rb")
    return j.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(d * d).cast("bigint").alias("sum_d2"),
    ).select(
        "n",
        "sum_d2",
        (
            F.lit(1.0)
            - (F.lit(6.0) * F.col("sum_d2").cast("double"))
            / (
                F.col("n").cast("double")
                * (F.col("n") * F.col("n") - F.lit(1)).cast("double")
            )
        ).alias("rho"),
    )


def _group_rank_build(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_col: str,
    out_col: str,
    value_desc: bool = False,
    weight_col: "str | None" = None,
    cum_col: "str | None" = None,
    reject_null_values: bool = False,
):
    """Shared construction behind :func:`group_rank` and its
    consumers: EXACT within-group ranks 1..n_g by ``(value, id)``
    without ``Window.partitionBy(group)`` on the data path — the
    per-group generalization of :func:`global_rank`, built for LOW-
    CARDINALITY group keys (source, language, split), where a plain
    per-group window funnels each group's entire row set into ONE
    task (~20 TB per task at 100 TB with ~5 sources: the round-13
    `weak` marks on q209/q210).

      1. ``repartitionByRange(group, value, id)`` — every partition
         holds a contiguous (group, value, id) range, so a group
         spans CONSECUTIVE partitions and the number of distinct
         (partition, group) cells is ≤ partitions + groups − 1;
      2. ``localCheckpoint`` freezes the sampled range
         boundaries (the :func:`global_rank` discipline — a persist
         bounds re-execution, not re-planning; same non-reliable-
         blocks tradeoff as documented there: executor loss fails
         the job rather than silently re-drawing boundaries, and
         blocks free on GC, not evict_caches);
      3. ONE count aggregation to the ≤(P+G)-row cell table, read on
         the driver (counts, never data rows; ``_MAX_META_ROWS``
         rejects loudly if the group key is too wide for the
         driver-literal construction — use a plain per-group window
         for high-cardinality keys, it is well-balanced there);
      4. per-group prefix offsets over the cells broadcast back as a
         ≤(P+G)-row frame; rank = offset + ROW_NUMBER over the
         (partition, group) window — bounded by one partition's
         share of one group, NEVER a whole group.

    Returns ``(ranked_df, totals)`` where ``totals`` maps each group
    value to its exact row count (driver-known for free — consumers
    like the quantile rank targets need it). NULL group values are
    rejected loudly: a null never equi-joins back to its offset row,
    which would silently drop the group. ``value_desc`` ranks by
    ``(value DESC, id ASC)`` — the quality-rank order — by flipping
    the value's direction in BOTH the range partitioning and the
    window (the offset prefix-sum is direction-agnostic: partition
    ids follow whatever order the ranges were drawn in).

    ``weight_col`` (round 16) additionally threads EXACT per-group
    running sums of a bigint-castable weight through the SAME
    construction at zero extra shuffles: the cells aggregation also
    sums the weight per (partition, group) cell, the driver prefix-
    sums weight offsets next to the count offsets, and ``cum_col``
    lands as offset + a running sum over the bounded (partition,
    group) window — a per-group cumulative sum with no group-only
    window anywhere (weighted quantiles, Lorenz/Gini reports). With
    ``weight_col`` set, ``totals`` maps each group to
    ``(n_rows, weight_sum)``; NULL weights are rejected loudly (a
    silent sum-skip would corrupt every later prefix).

    NULL values are ordered (first ascending, last descending) unless
    ``reject_null_values``, which applies the order statistics' NULL
    contract (:func:`_reject_degenerate`) from a count riding the same
    cells aggregation — no extra job."""
    from pyspark.sql.types import LongType, StructField, StructType
    from pyspark.sql.window import Window

    vcol = F.col(value_col).desc() if value_desc else F.col(value_col).asc()
    # eager=False (round-16 verdict #7): fold the checkpoint
    # materialization INTO the cells-count job below — one fixed job
    # per build instead of two. The checkpointed RDD (and its range
    # partitioner) is created at THIS call; laziness defers only WHEN
    # blocks materialize — the first job over them, which here is the
    # cells read itself, so the counts describe exactly the blocks
    # they materialized and boundaries still freeze once (the
    # cells aggregation sits above the range shuffle, so its map
    # stage computes — and stores — every partition). Interleaved A/B
    # at sf0.1 (paired medians, 4 reps each): q208 4.15→3.89 s,
    # q167 2.80→2.43 s. Same non-reliable-blocks tradeoff as before.
    ranged = df.repartitionByRange(
        F.col(group_col), vcol, F.col(id_col)
    ).withColumn("__pid", F.spark_partition_id()).localCheckpoint(eager=False)
    # bounded: ≤ partitions + groups − 1 rows (contiguity argument).
    # The limit bounds what the driver MATERIALIZES before the
    # guard fires — a high-cardinality group key must reject loudly,
    # not OOM the driver inside the very collect the guard protects
    # (round-14 advisor finding)
    aggs = [F.count(F.lit(1)).alias("n")]
    if reject_null_values:
        aggs.append(F.count(F.col(value_col)).alias("__nv"))
    if weight_col is not None:
        aggs += [
            F.sum(F.col(weight_col).cast("bigint")).alias("__w"),
            F.count(F.col(weight_col)).alias("__nw"),
        ]
    cells = (
        ranged.groupBy("__pid", group_col)
        .agg(*aggs)
        .limit(_MAX_META_ROWS + 1)
        .collect()
    )
    # past the limit a plain per-group window is well-balanced anyway
    _check_groups(cells, group_col)
    if reject_null_values:
        _reject_degenerate(
            value_col, sum(r["n"] for r in cells), sum(r["__nv"] for r in cells)
        )
    by_group: dict = {}
    for r in cells:
        g = r[group_col]
        if weight_col is not None:
            if int(r["__nw"]) != int(r["n"]):
                raise ValueError(
                    f"{weight_col!r} has NULL value(s) — running sums "
                    "over NULL weights are undefined here; filter or "
                    "coalesce them first"
                )
            by_group.setdefault(g, []).append(
                (r["__pid"], int(r["n"]), int(r["__w"]))
            )
        else:
            by_group.setdefault(g, []).append((r["__pid"], int(r["n"]), 0))
    offsets, totals = [], {}
    for g, lst in by_group.items():
        acc = wacc = 0
        for pid, n, wsum in sorted(lst):
            offsets.append((pid, g, acc, wacc))
            acc += n
            wacc += wsum
        totals[g] = (acc, wacc) if weight_col is not None else acc
    gfield = df.schema[group_col]
    off_schema = StructType(
        [
            StructField("__pid", LongType()),
            StructField(group_col, gfield.dataType),
            StructField("__goff", LongType()),
            StructField("__woff", LongType()),
        ]
    )
    off = df.sparkSession.createDataFrame(offsets, off_schema)
    w = Window.partitionBy("__pid", group_col).orderBy(vcol, F.col(id_col))
    ranked = (
        ranged.withColumn("__pid", F.col("__pid").cast("long"))
        .join(F.broadcast(off), ["__pid", group_col])
        .withColumn(
            out_col,
            (F.col("__goff") + F.row_number().over(w)).cast("bigint"),
        )
    )
    if weight_col is not None:
        wsum_frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ranked = ranked.withColumn(
            cum_col or "cum_w",
            (
                F.col("__woff")
                + F.sum(F.col(weight_col).cast("bigint")).over(wsum_frame)
            ).cast("bigint"),
        )
    ranked = ranked.drop("__pid", "__goff", "__woff")
    return ranked, totals


def group_rank(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_col: str,
    out_col: str = "rank_in_group",
    value_desc: bool = False,
) -> DataFrame:
    """EXACT within-group ranks 1..n_g by ``(value, id)`` (or
    ``(value DESC, id)`` with ``value_desc``) for LOW-CARDINALITY
    group keys, with no per-group window funnel — see
    :func:`_group_rank_build` for the construction and its contract.
    Returns the input columns plus ``out_col``."""
    return _group_rank_build(
        df, group_col, value_col, id_col, out_col, value_desc=value_desc
    )[0]


def group_cumsum(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_col: str,
    weight_col: str,
    cum_col: str = "cum_w",
    rank_col: str = "rank_in_group",
    value_desc: bool = False,
):
    """EXACT per-group running (prefix) sums of a bigint-castable
    weight in ``(value, id)`` order — with NO group-only window on the
    data path (the cumulative-sum sibling of :func:`group_rank`, same
    construction, zero extra shuffles: the per-cell weight sums ride
    the same bounded meta read and the running sum is bounded by one
    partition's share of one group).

    The primitive behind weighted order statistics at scale: weighted
    medians/quantiles (first row whose running weight crosses a share
    of the group total), Lorenz curves and Gini coefficients of token
    distribution across documents — reports a data-mixture planner
    runs per source on the full corpus, where a
    ``SUM() OVER (PARTITION BY source ORDER BY …)`` window would
    funnel each source's slice into one task.

    Returns ``(frame, totals)``: the input columns plus ``rank_col``
    (exact 1..n_g rank) and ``cum_col`` (inclusive running weight
    sum), and ``totals`` mapping each group to its exact
    ``(n_rows, weight_sum)`` — driver-known for free from the same
    bounded read (the share thresholds a weighted-quantile consumer
    needs)."""
    return _group_rank_build(
        df,
        group_col,
        value_col,
        id_col,
        rank_col,
        value_desc=value_desc,
        weight_col=weight_col,
        cum_col=cum_col,
    )


def group_shift(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_col: str,
    payload_cols: list[str],
    offsets=(-1, 1),
    out_col: str = "rank_in_group",
) -> DataFrame:
    """EXACT per-group LAG/LEAD without ``Window.partitionBy(group)``
    on the data path — the concrete form of the q31 migration recipe
    (PLANS.md round-15 design note): sequence analytics over a
    LOW-CARDINALITY group key (~5 event types at 100 TB would funnel
    ~20 TB into one lag/lead window task).

    Construction: ranks 1..n_g by ``(value, id)`` come from
    :func:`group_rank`'s skew-safe build (range repartition + bounded
    cell count read + broadcast offsets; the ranked frame is
    checkpoint-backed, so the self-joins below re-read it, never
    recompute it); then each requested offset is ONE balanced
    equi-join of the ranked frame to itself on ``(group, rank +
    offset)`` — rank is unique within a group, so the join key is
    skew-free BY CONSTRUCTION even when the group itself is massive.
    Negative offsets are lags, positive are leads; each payload column
    ``c`` gains ``c_lag{k}`` / ``c_lead{k}`` (NULL beyond the group
    edge, matching SQL LAG/LEAD default semantics). The exact
    row_number ships as ``out_col``."""
    if not payload_cols:
        raise ValueError("payload_cols must name at least one column")
    if any(o == 0 for o in offsets):
        raise ValueError("offsets must be non-zero (0 is the row itself)")
    ranked = group_rank(df, group_col, value_col, id_col, out_col=out_col)
    out = ranked
    for off in offsets:
        suffix = f"lag{-off}" if off < 0 else f"lead{off}"
        # a right-side row of rank rr supplies the values seen from
        # rank rr - off (left rank + off == rr)
        right = ranked.select(
            F.col(group_col).alias("__sg"),
            (F.col(out_col) - F.lit(off)).alias("__sr"),
            *[F.col(c).alias(f"{c}_{suffix}") for c in payload_cols],
        )
        out = out.join(
            right,
            (F.col(group_col) == F.col("__sg"))
            & (F.col(out_col) == F.col("__sr")),
            "left",
        ).drop("__sg", "__sr")
    return out


def exact_group_quantiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_col: str,
    quantiles=(10, 50, 90),
    return_ranked: bool = False,
):
    """EXACT per-group percentiles as order statistics — the exact
    complement to the GK sketch (q101): quantile p is the row at rank
    ``ceil(p·n/100)`` by ``(value, id)`` within the group (discrete
    lower statistic — no interpolation, so nothing float-dependent to
    match across engines). The VALUE at rank k under (value, id) order
    is the k-th smallest value by multiplicity — the id tiebreaker
    cannot change which value sits at a rank — so each cut is a pure
    per-group order-statistic value.

    Since round 17 the cuts come from :func:`_grouped_descend`, the
    per-group histogram descent, with ZERO data shuffles: one
    bounds+count aggregation (≤|groups| driver rows — it carries the
    descent bounds AND the exact totals the target ranks need) plus
    ≤⌈log₄₀₉₆(range)⌉ shared histogram levels, each one map-side-
    combinable aggregation returning ≤4096·|groups| rows (guide §2.4).
    The previous construction (rounds 13–16) ranked EVERY row through
    the group_rank build — a full range exchange + localCheckpoint of
    the data projection plus a broadcast rank-join, i.e. a 100 TB
    shuffle to read |groups|·|quantiles| values. All target ranks of
    all groups ride the same descent levels (the round-16 skew_report
    multi-rank fusion, generalized per group), and the cuts frame is a
    driver-literal table: the consumer plan contains no window, no
    exchange and no join for the cuts at all.

    Use the sketch when groups are huge and ±ε is fine; use this when
    the value feeds a decision that must be reproducible (budget
    cutoffs, SLA reports).

    ``return_ranked`` (round-16 contract, kept) additionally returns
    the build's pinned ``(group, value, id)`` frame as a second
    result: a consumer that joins the cuts back onto the SAME rows
    (q135's winsorized clamp-and-sum) re-reads the blocks the
    descent's bounds pass materialized instead of re-scanning the
    source table (measured at sf0.001: 2.0× one reference scan before
    the round-16 reuse, 1.0× after; the descent keeps the 1.0× — its
    levels all read the pinned blocks). The pin's lifetime follows the
    registry's normal session-level eviction."""
    from pyspark.sql.types import (
        ByteType,
        IntegerType,
        LongType,
        ShortType,
        StructField,
        StructType,
    )

    qs = list(quantiles)
    if not qs:
        raise ValueError("quantiles must be non-empty (e.g. (10, 50, 90))")
    if any((not isinstance(p, int)) or p <= 0 or p > 100 for p in qs):
        raise ValueError(f"quantiles must be integers in (0, 100], got {qs!r}")
    if not isinstance(
        df.schema[value_col].dataType, (ByteType, ShortType, IntegerType, LongType)
    ):
        # the descent buckets by arithmetic shift, which is only exact
        # for integral values — any other orderable dtype keeps the
        # rank-based construction (one range exchange, still bounded)
        return _exact_group_quantiles_ranked(
            df, group_col, value_col, id_col, qs, return_ranked
        )
    with pinned(
        df.select(group_col, value_col, id_col), keep=return_ranked
    ) as base:
        bounds, totals = _group_bounds(base, group_col, value_col)
        targets = {
            g: [(int(p), (n * p + 99) // 100) for p in qs]  # ceil(p·n/100)
            for g, n in totals.items()
        }
        res = _grouped_descend(base, group_col, value_col, targets, bounds)
        cschema = StructType(
            [
                StructField(group_col, df.schema[group_col].dataType),
                StructField("n", LongType()),
                *[StructField(f"p{p}", df.schema[value_col].dataType) for p in qs],
            ]
        )
        rows = [
            tuple([g, totals[g]] + [res[(g, int(p))][0] for p in qs])
            for g in sorted(totals)
        ]
        cuts = df.sparkSession.createDataFrame(rows, cschema)
        return (cuts, base) if return_ranked else cuts


def _exact_group_quantiles_ranked(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_col: str,
    qs: list,
    return_ranked: bool,
):
    """The rounds-13–16 construction, kept for NON-INTEGRAL value
    dtypes the histogram descent cannot bucket: rank every row through
    the group_rank build (range exchange + bounded cell read), compute
    target ranks from the driver-known totals, and pick every
    percentile row with one broadcast (group, rank) equi-join. Same
    NULL contract as the descent path: the cell read rejects an empty
    frame and NULL values."""
    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    ranked, totals = _group_rank_build(
        df.select(group_col, value_col, id_col),
        group_col,
        value_col,
        id_col,
        "__rn",
        reject_null_values=True,
    )
    targets = [
        (g, int(p), (n * p + 99) // 100, n)  # ceil(p·n/100), exact ints
        for g, n in totals.items()
        for p in qs
    ]
    gfield = df.schema[group_col]
    tschema = StructType(
        [
            StructField(group_col, gfield.dataType),
            StructField("__p", IntegerType()),
            StructField("__rn", LongType()),
            StructField("__n", LongType()),
        ]
    )
    tdf = df.sparkSession.createDataFrame(targets, tschema)
    hits = ranked.join(F.broadcast(tdf), [group_col, "__rn"])
    agg = [
        F.max(F.when(F.col("__p") == p, F.col(value_col))).alias(f"p{p}")
        for p in qs
    ]
    cuts = hits.groupBy(group_col).agg(
        F.max("__n").cast("bigint").alias("n"), *agg
    )
    if return_ranked:
        return cuts, ranked.drop("__rn")
    return cuts
