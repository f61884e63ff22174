"""Similarity search over embedding columns (``array<float>``).

Two paths (driver north star: 'brute-force cosine top-k as the
baseline; an LSH-bucketed variant as the scale path'):

  * ``cosine_topk`` — exact brute force. The *oracle-exact* variant
    (``exact=True``) sums per-element products as decimal(30,12), so
    DuckDB's ``SUM(decimal)`` reproduces every double bit-for-bit; the
    *fast* variant (``exact=False``) is a double ``zip_with``/
    ``aggregate`` reduction for production use.
  * ``ann_hyperplane_lsh`` — banded random-hyperplane LSH:
    deterministic ±1 hyperplanes derived from md5 parity (no RNG
    state), ``bands`` independent sign-pattern buckets per vector
    (OR-amplification — candidates share ANY band's bucket), search
    only within colliding buckets. Recall is tested against brute
    force in tests/test_llm_ops.py.

Every dot-product and squared-norm fold of this module (and of q217)
comes from one kernel: ``dot``, ``sq_norm`` and ``cosine``. Its NULL
contract: a cosine is NULL when either norm is 0 (``try_divide``, where
``/`` raises ANSI DIVIDE_BY_ZERO); top-k operators drop NULL-cosine
pairs, so a zero-norm query has no neighbours and a zero-norm vector is
nobody's neighbour; a nearest-cell pick ranks NULLs last, then takes
the lowest cell.

At 100 TB the brute-force path is |Q|·|D| work — it exists as the
correctness baseline and for small |Q|; the LSH path turns the scan
into a bucket-equi-join, which is the shape that survives scale-up.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from excel_to_database_spark.operators.caching import checkpoint, pin, pinned, unpin
from excel_to_database_spark.operators.io_util import local_frame
from pyspark.sql.window import Window

_DEC = "decimal(30,12)"
_FOLDS: dict = {}
_FOLDS_LOCK = threading.Lock()


def _memo(key: tuple, build):
    """Fold expressions over named columns are plain unresolved ASTs,
    reusable across DataFrames; building the decimal lambda trees costs
    py4j round trips (~0.5 s per index build), so each is built once
    per live SparkContext (a JVM restart invalidates py4j handles; the
    strong ref in the value keeps ``id(sc)`` stable). Folds over Column
    arguments are built fresh."""
    if not all(isinstance(c, (str, bool)) for c in key):
        return build()
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    with _FOLDS_LOCK:
        got = _FOLDS.get((id(sc), *key))
        if got is None:
            for stale in [k for k in _FOLDS if k[0] != id(sc)]:
                del _FOLDS[stale]
            got = _FOLDS[(id(sc), *key)] = (sc, build())
    return got[1]


def _sum_products(arr, exact: bool):
    # decimal(30,12) addition is exact and order-independent, so the
    # sequential aggregate equals the SQL oracle's SUM(decimal)
    # bit-for-bit. The lambda re-casts after each add because decimal +
    # widens precision and the accumulator type must stay fixed; the
    # cast is lossless (18 integer digits headroom).
    if not exact:
        return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)
    return F.aggregate(
        arr, F.lit(0).cast(_DEC), lambda acc, x: (acc + x).cast(_DEC)
    ).cast("double")


def _product(a, b, exact: bool):
    p = a.cast("double") * b.cast("double")
    return p.cast(_DEC) if exact else p


def dot(a, b, exact: bool):
    """Σ a[i]·b[i] over two array columns (names or Columns) as a double:
    decimal-exact (``exact=True``, the oracle discipline) or a plain
    double fold."""
    return _memo(
        ("dot", a, b, exact),
        lambda: _sum_products(F.zip_with(a, b, lambda x, y: _product(x, y, exact)), exact),
    )


def sq_norm(a, exact: bool):
    """Σ a[i]² over an array column, folded as ``dot``."""
    return _memo(
        ("sq_norm", a, exact),
        lambda: _sum_products(F.transform(a, lambda x: _product(x, x, exact)), exact),
    )


def cosine(dot_col, n2_a, n2_b):
    """``dot / (√n2_a · √n2_b)`` from a ``dot`` and two ``sq_norm``
    values (Columns or column names): NULL when either norm is 0."""
    return F.try_divide(dot_col, F.sqrt(n2_a) * F.sqrt(n2_b))


def _cell_cosine(exact: bool):
    """Cosine of a vector ``v`` and a centroid ``cv``."""
    return cosine(dot("v", "cv", exact), sq_norm("v", exact), sq_norm("cv", exact))


def _top_k(scored: DataFrame, k: int) -> DataFrame:
    """(qid, nid, cosine) → each query's ``k`` best neighbours by
    (cosine desc, nid) as (query_id, neighbor_id, cosine, rank).
    NULL-cosine pairs rank nowhere: they sort last, so dropping them
    after the window leaves the same ranks — and a filter above the
    window is not pushed into the pair join, where it would fold every
    pair's cosine a second time."""
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter((F.col("rank") <= k) & F.col("cosine").isNotNull())
        .select(
            F.col("qid").alias("query_id"),
            F.col("nid").alias("neighbor_id"),
            "cosine",
            "rank",
        )
    )


def cosine_topk(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    query_filter=None,
    exact: bool = True,
) -> DataFrame:
    """Top-k cosine neighbors for each query vector (rows matching
    ``query_filter``; default: all rows) against the full table.
    Returns (query_id, neighbor_id, cosine, rank)."""
    # norms are per-VECTOR: computed once per side here (the same fold
    # expressions, so the values are bit-identical), never per pair —
    # per-pair work is exactly one dot fold.
    base = emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    n2 = sq_norm("v", exact)
    q = base.filter(query_filter) if query_filter is not None else base
    q = q.select(F.col("id").alias("qid"), F.col("v").alias("qv"), n2.alias("qn2"))
    d = base.select(F.col("id").alias("nid"), F.col("v").alias("nv"), n2.alias("nn2"))
    # corpus side drives parallelism; a small parquet arrives as one
    # partition, which would serialize the dot-product fold below
    d = d.repartition(d.sparkSession.sparkContext.defaultParallelism)
    pairs = F.broadcast(q).crossJoin(d).filter(F.col("qid") != F.col("nid"))
    scored = pairs.select(
        "qid", "nid", cosine(dot("qv", "nv", exact), "qn2", "nn2").alias("cosine")
    )
    return _top_k(scored, k)


def cosine_pairs(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    sieve_margin: float = 1e-6,
    n_blocks: int = 8,
    route_above: int | None = 2_000_000,
    route_n_lists: int = 64,
) -> DataFrame:
    """All-pairs cosine ≥ threshold (embedding near-dup), exact — but
    sieved: candidate pairs come from blocked Gram matmuls, and only
    survivors get the decimal-exact rescoring that the final predicate
    (and the SQL oracle) is evaluated on. The float64 matmul's
    accumulated error for unit-scale vectors is ~1e-13 relative, 7
    orders below the default margin, so the sieve provably drops no
    qualifying pair — same answer, none of the quadratic decimal work.

    Scale shape (block-nested-loop): ids hash into ``n_blocks``
    buckets; every unordered block pair (i ≤ j) becomes one
    ``applyInPandas`` group whose task multiplies its two sub-matrices
    (numpy, one Arrow batch each side) — O(|D|²/K²) flops per task
    across K(K+1)/2 tasks, per-task memory bounded by block size, and
    the shuffled volume is |D|·(K+1) vector rows, never pair rows.
    The 2M-pair crossJoin this replaces materialized every pair as a
    128-double row just to run an interpreted per-element fold over
    it. Pairs are generated once in canonical (a < b) orientation.
    Returns (vec_a, vec_b, cosine).

    Scale routing: above ``route_above`` input rows the call routes to
    the SemDeDup cell-blocked path (``semantic_dedup_blocked`` with
    ``route_n_lists`` cells, the q125 plan) under the same
    (vec_a, vec_b, cosine) contract, so no user silently pays O(|D|²)
    flops at corpus scale — the documented trade is recall on pairs
    whose members quantize into different cells. The routing is NOT
    silent: taking the approximate path emits a ``RuntimeWarning``
    naming the recall trade, and the size probe is a BOUNDED count
    (``limit(route_above + 1).count()``) so deciding never pays a full
    corpus scan. Pass ``route_above=None`` to force the exact
    all-pairs evaluation at any size."""
    if (
        route_above is not None
        and emb.limit(route_above + 1).count() > route_above
    ):
        import warnings

        warnings.warn(
            f"cosine_pairs: input exceeds route_above={route_above} rows; "
            "routing to the cell-blocked approximate path "
            "(semantic_dedup_blocked) — pairs whose members quantize into "
            "different cells are not scored. Pass route_above=None to "
            "force the exact all-pairs evaluation.",
            RuntimeWarning,
            stacklevel=2,
        )
        return semantic_dedup_blocked(
            emb, id_col, vec_col, n_lists=route_n_lists, threshold=threshold
        ).select("vec_a", "vec_b", "cosine")
    import numpy as _np
    import pandas as _pd

    base = emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    base = pin(base.withColumn("n2", sq_norm("v", True)))

    # replicate each vector to every block pair it participates in:
    # as the LEFT side of (b, j≥b) and the RIGHT side of (i≤b, b)
    blk = F.pmod(F.hash("id"), F.lit(n_blocks))
    sides = base.select(
        "id", "v",
        F.explode(
            F.concat(
                F.transform(
                    F.sequence(blk, F.lit(n_blocks - 1)),
                    lambda j: F.struct(blk.alias("bi"), j.alias("bj"), F.lit(0).alias("side")),
                ),
                F.filter(
                    F.transform(
                        F.sequence(F.lit(0), blk),
                        lambda i: F.struct(i.alias("bi"), blk.alias("bj"), F.lit(1).alias("side")),
                    ),
                    # diagonal groups need each vector once only — it
                    # serves both sides there
                    lambda s: s["bi"] != s["bj"],
                ),
            )
        ).alias("g"),
    ).select("id", "v", F.col("g.bi").alias("bi"), F.col("g.bj").alias("bj"), F.col("g.side").alias("side"))

    sieve_at = threshold - sieve_margin

    def _block_gram(pdf: _pd.DataFrame) -> _pd.DataFrame:
        diag = pdf["bi"].iloc[0] == pdf["bj"].iloc[0]
        left = pdf if diag else pdf[pdf["side"] == 0]
        right = pdf if diag else pdf[pdf["side"] == 1]
        if left.empty or right.empty:
            return _pd.DataFrame({"qid": [], "nid": []}).astype(pdf["id"].dtype)
        lid = left["id"].to_numpy()
        rid = right["id"].to_numpy()
        L = _np.stack(left["v"].to_numpy()).astype(_np.float64)
        R = _np.stack(right["v"].to_numpy()).astype(_np.float64)
        ln = _np.sqrt((L * L).sum(axis=1))
        rn = _np.sqrt((R * R).sum(axis=1))
        cos = (L @ R.T) / _np.outer(ln, rn)
        qi, ni = _np.nonzero(cos >= sieve_at)
        if diag:
            # same block on both sides: drop self-pairs and halve
            keep = lid[qi] < rid[ni]
            q, n = lid[qi][keep], rid[ni][keep]
        else:
            # disjoint blocks: every entry is a distinct unordered
            # pair; canonicalize the orientation (id order and block
            # order are independent)
            a_, b_ = lid[qi], rid[ni]
            q, n = _np.minimum(a_, b_), _np.maximum(a_, b_)
        return _pd.DataFrame({"qid": q, "nid": n})

    id_t = dict(emb.dtypes)[id_col]
    cand = sides.groupBy("bi", "bj").applyInPandas(
        _block_gram, schema=f"qid {id_t}, nid {id_t}"
    )

    qside = base.select(
        F.col("id").alias("qid"), F.col("v").alias("qv"), F.col("n2").alias("qn2")
    )
    nside = base.select(
        F.col("id").alias("nid"), F.col("v").alias("nv"), F.col("n2").alias("nn2")
    )
    return _verified(
        cand.join(qside, "qid").join(nside, "nid"),
        threshold,
        F.col("qid").alias("vec_a"),
        F.col("nid").alias("vec_b"),
    )


def _verified(pairs: DataFrame, threshold: float, *cols) -> DataFrame:
    """``cols`` plus the exact ``cosine`` of each candidate pair's
    (qv, qn2) and (nv, nn2), keeping pairs with cosine ≥ ``threshold``.
    A filter on a projected cosine is pushed through the projection
    (the alias replaced by its fold) into the pair join's condition,
    and the projection then folds every surviving pair a second time.
    The optimizer does not push a filter on a generator's output below
    the generator, so the cosine comes out of a one-element
    ``explode`` and is folded once."""
    cos = cosine(dot("qv", "nv", True), "qn2", "nn2")
    return pairs.select(*cols, F.explode(F.array(cos)).alias("cosine")).filter(
        F.col("cosine") >= threshold
    )


#: auto-``n_lists`` derivation constants: the routing count is bounded
#: at _NL_COUNT_CAP rows (so deciding never scans an unbounded corpus)
#: and the derived cell count is capped at _NL_MAX.
_NL_COUNT_CAP = 16_777_216
_NL_MAX = 4096


def _spread_cpu_dense(base: DataFrame, n_lists: int | None):
    """Shared sizing step for the IVF-cell family's CPU-dense,
    byte-light pipelines (interpreted decimal folds, per-cell Gram):
    neither the input's file-split count (2 files at slope-test scale)
    nor AQE's byte-based coalescing sizes those stages correctly —
    both serialized a 30x run onto 2 of 32 cores. Derives ``n_lists``
    (⌈√N⌉, the FAISS convention, from a bounded count) when None, and
    spreads the rows by an explicit round-robin repartition (exempt
    from AQE coalescing) at width ∝ corpus (≥256 vectors per task, so
    a small corpus doesn't pay 32-task scheduling overhead), skipped
    when the source already has enough splits (any real-scale table).
    With an explicit ``n_lists`` the corpus is NOT counted (callers
    opting into manual tuning keep their single-pass cost); the width
    then defaults to full parallelism. Returns (base, n_lists, P)."""
    import math

    dp = base.sparkSession.sparkContext.defaultParallelism
    if n_lists is None:
        n = base.limit(_NL_COUNT_CAP).count()
        n_lists = max(1, min(_NL_MAX, math.ceil(math.sqrt(n))))
        p = max(1, min(dp, math.ceil(n / 256)))
    else:
        p = dp
    if base.rdd.getNumPartitions() < p:
        base = base.repartition(p)
    return base, n_lists, p



def semantic_dedup_blocked(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    n_lists: int | None = None,
    threshold: float = 0.35,
    max_cell: int | None = 4096,
) -> DataFrame:
    """SemDeDup-style blocked embedding near-dup: vectors are coarsely
    quantized into ``n_lists`` IVF cells (centroids = the ``n_lists``
    lowest-id vectors, the same seed-free pick as ``ivf_assign``), then
    near-dup pairs are found only WITHIN each cell. Returns
    (cell, vec_a, vec_b, cosine) for within-cell pairs ≥ threshold.

    This is the scale path for embedding dedup: the all-pairs
    ``cosine_pairs`` is O(|D|²) while blocking is O(Σ|cell|²) —
    |D|²/n_lists for balanced cells — at the documented cost of
    missing pairs whose members quantize into different cells (the
    recall/cost dial is ``n_lists``). Assignment and pair scoring both
    use the decimal-exact cosine, so the whole pipeline — including
    which cell every vector lands in — is reproduced bit-for-bit by
    the SQL oracle. Centroids broadcast (n_lists rows); candidates come
    from a per-cell Arrow Gram-matrix sieve (float64 + safety margin —
    cannot drop a true pair), and only sieve survivors pay the
    decimal-exact rescore that the oracle reproduces.

    Cell-count scaling: with a FIXED ``n_lists`` the per-cell Gram is
    quadratic in corpus growth (|cell| ∝ N/n_lists, so Σ|cell|² ∝
    N²/n_lists). ``n_lists=None`` (the default) therefore derives
    n_lists ≈ ⌈√N⌉ — the FAISS convention — from a BOUNDED count
    (``limit(cap+1)``-style, capped at ~16.7M rows / 4096 cells), which
    makes the sieve cost O(N^1.5) under growth instead of O(N²).
    Deterministic and oracle-reproducible: the oracle computes the same
    ⌈√N⌉ from the same count.

    Hot-cell sub-split: skewed assignment can still concentrate one
    cell. Cells larger than ``max_cell`` are sub-split into
    ⌈|cell|/max_cell⌉ deterministic md5-buckets of their members, and
    pairs are generated within (cell, sub) only — bounding any single
    Gram task at ~max_cell rows. The split is a pure function of the
    id (md5 % k), so the oracle reproduces it; the documented cost is
    recall within the hot cell (cross-sub-bucket pairs are not
    scored), the same dial as ``n_lists`` itself. ``max_cell=None``
    disables the split."""
    base = emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    base, n_lists, _P = _spread_cpu_dense(base, n_lists)
    base = base.withColumn("n2", sq_norm("v", True))
    cents = (
        base.orderBy(F.asc("id"))
        .limit(n_lists)
        .select(F.col("id").alias("cell"), F.col("v").alias("cv"))
    )
    cents_rows = cents.collect()  # n_lists rows — driver-small by construction
    id_t = dict(emb.dtypes)[id_col]
    if not cents_rows:  # empty corpus: no cells, no pairs
        return local_frame(
            emb.sparkSession,
            [],
            f"cell {id_t}, vec_a {id_t}, vec_b {id_t}, cosine double",
        )
    # the naive N × n_lists decimal-fold crossJoin turned √N-scaled
    # cell counts into an O(N^1.5·dim) interpreted cost (measured 168s
    # at 20k×142 cells); the numpy sieve rescores only near-ties. Three
    # consumers (sieve, both verify join sides) — compute it once.
    assign = pin(_sieved_nearest_cell(base, cents, cents_rows))
    # hot-cell sub-split (see docstring): probe is one aggregate over
    # the pinned assignment; when no cell exceeds the cap — every
    # testdata scale — assign passes through with sub ≡ 0
    group_keys = ["cell"]
    if max_cell is not None:
        csize = assign.groupBy("cell").agg(F.count(F.lit(1)).alias("cn"))
        if not csize.filter(F.col("cn") > max_cell).isEmpty():
            k = F.ceil(F.col("cn") / F.lit(float(max_cell))).cast("int")
            sub = F.when(
                F.col("cn") > max_cell,
                F.conv(
                    F.substring(F.md5(F.col("id").cast("string")), 1, 4), 16, 10
                ).cast("int")
                % k,
            ).otherwise(F.lit(0))
            assign = pin(
                assign.join(F.broadcast(csize), "cell")
                .withColumn("sub", sub)
                .drop("cn")
            )
            group_keys = ["cell", "sub"]
    # Candidate sieve: per-cell numpy Gram matrix in ONE Arrow batch per
    # cell — float64 cosines with a safety margin far above float error
    # (~1e-13 at dim 64), so no true pair can be sieved out. The
    # interpreted per-element decimal fold then runs only on survivors
    # (~the output size), not on every within-cell pair — measured 4.5×
    # end-to-end. Row-blocked matmul bounds sieve memory to
    # O(block · |cell|) so a skewed cell can't blow up an executor.
    import numpy as _np
    import pandas as _pd

    sieve_at = threshold - 1e-6

    def _gram_sieve(pdf: _pd.DataFrame) -> _pd.DataFrame:
        pdf = pdf.sort_values("id")
        ids = pdf["id"].to_numpy()
        V = _np.stack(pdf["v"].to_numpy()).astype(_np.float64)
        norms = _np.sqrt((V * V).sum(axis=1))
        out_q, out_n = [], []
        for lo in range(0, len(ids), 1024):
            hi = min(lo + 1024, len(ids))
            # zero-norm rows yield NaN cos → sieved out, matching the
            # decimal rescore's null cosine failing the >= filter
            with _np.errstate(divide="ignore", invalid="ignore"):
                cos = (V[lo:hi] @ V.T) / _np.outer(norms[lo:hi], norms)
            qi, ni = _np.nonzero(cos >= sieve_at)
            keep = ids[qi + lo] < ids[ni]
            out_q.append(ids[qi + lo][keep])
            out_n.append(ids[ni][keep])
        cell = pdf["cell"].iloc[0]
        q = _np.concatenate(out_q) if out_q else _np.array([], dtype=ids.dtype)
        n = _np.concatenate(out_n) if out_n else _np.array([], dtype=ids.dtype)
        return _pd.DataFrame({"cell": cell, "qid": q, "nid": n})

    # pre-partition by the group keys at full width: groupBy reuses the
    # compatible user partitioning, and the CPU-bound Gram stage keeps
    # one task per core instead of AQE's byte-coalesced handful
    cand = assign.repartition(_P, *group_keys).groupBy(*group_keys).applyInPandas(
        _gram_sieve, schema=f"cell {id_t}, qid {id_t}, nid {id_t}"
    )
    qside = assign.select(
        F.col("id").alias("qid"), F.col("v").alias("qv"), F.col("n2").alias("qn2")
    )
    nside = assign.select(
        F.col("id").alias("nid"), F.col("v").alias("nv"), F.col("n2").alias("nn2")
    )
    # the survivor rescore is the same CPU-per-byte story: spread the
    # interpreted decimal folds across cores (AQE would coalesce the
    # post-join stage to a couple of tasks on byte size alone)
    pairs = cand.join(qside, "qid").join(nside, "nid").repartition(_P)
    return _verified(
        pairs, threshold, "cell", F.col("qid").alias("vec_a"), F.col("nid").alias("vec_b")
    )


def _hyperplane_matrix(planes: int, dim: int, bands: int) -> list[list[float]]:
    """The deterministic ±1 sign matrix: plane ``p`` has component ±1
    at dim ``i`` from the parity of md5('p:i'). Shipped to executors as
    DATA (inside the projection UDF's closure), never as a literal
    expression — embedding bands*planes*dim literals in the projection
    expression made Janino compile a multi-second method on the first
    run."""
    return [
        [1.0 if int(_md5_hex(f"{p}:{i}")[0], 16) % 2 else -1.0 for i in range(dim)]
        for p in range(bands * planes)
    ]


def _projections_udf(planes: int, dim: int, bands: int):
    """Arrow-batched projections: one numpy matmul per batch computes
    all ``bands*planes`` hyperplane dot products of every vector.
    This is the one step of the LSH pipeline where a Pandas UDF beats
    the built-ins: Spark evaluates higher-order-function lambdas
    per-element interpretively (they are outside whole-stage codegen),
    which measured ~30× slower than the vectorized matmul for a dense
    (n × dim) @ (dim × planes) product. Bucketing, the candidate join,
    and ranking all stay JVM-side."""
    import numpy as _np
    import pandas as _pd
    from pyspark.sql.functions import pandas_udf

    mat_t = _np.array(_hyperplane_matrix(planes, dim, bands)).T  # (dim, planes)

    def _proj(v):
        if len(v) == 0:
            return _pd.Series([], dtype=object)
        return _pd.Series(list(_np.stack(v.to_numpy()) @ mat_t))

    return pandas_udf(_proj, "array<double>")


def _bands_from_projections(projs_col, planes: int, bands: int):
    """Band bucket ids from a MATERIALIZED projections column (pass a
    plain column, not the projection expression — Spark does no CSE
    inside HOF lambdas, so inlining would recompute all dot products
    once per band). Bucket bit ``j`` of band ``b`` = sign of
    projection ``b*planes + j``."""
    band_exprs = []
    for b in range(bands):
        # planes=0 degenerates to the constant empty sign pattern:
        # every vector lands in bucket 0 → candidates are all pairs
        # (the exact-degeneration anchor the oracle-checked twin uses)
        bucket = F.lit(0) if planes == 0 else None
        for j in range(planes):
            bit = F.when(
                F.element_at(projs_col, b * planes + j + 1) > 0, F.lit(1 << j)
            ).otherwise(F.lit(0))
            bucket = bit if bucket is None else bucket + bit
        band_exprs.append(bucket.cast("bigint"))
    return F.array(*band_exprs)


def _md5_hex(s: str) -> str:
    import hashlib

    return hashlib.md5(s.encode()).hexdigest()


def ann_hyperplane_lsh(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    planes: int = 8,
    bands: int = 1,
    dim: int | None = None,
    query_filter=None,
    exact: bool = False,
) -> DataFrame:
    """Approximate top-k: candidates share at least one band's
    sign-pattern bucket (equi-join on (band, bucket) — the scan never
    goes all-pairs), ranked by the fast cosine. Banded
    OR-amplification: recall is 1-(1-s^planes)^bands for pair
    similarity s, so more bands raise recall without widening any
    single bucket. Returns (query_id, neighbor_id, cosine, rank).

    ``planes=0`` is the exact degeneration: the sign pattern is empty,
    every vector shares bucket 0, and the same band-bucket equi-join
    scores all pairs — recall 1 by construction. ``exact=True`` routes
    the cosine through the decimal fold so that degeneration is
    oracle-reproducible (the q80 discipline).

    Pass ``dim`` (the embedding length) to keep plan construction
    job-free; omitting it launches one bounded driver probe."""
    if dim is None:
        dim = len(emb.select(vec_col).first()[0])
    if planes == 0:
        proj_col = F.array().cast("array<double>")
    else:
        proj_col = _projections_udf(planes, dim, bands)(F.col(vec_col))
    base = (
        emb.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            proj_col.alias("projs"),
        )
        .select(
            "id",
            "v",
            F.posexplode(_bands_from_projections(F.col("projs"), planes, bands)).alias(
                "band", "bucket"
            ),
        )
    )
    q = base.filter(query_filter) if query_filter is not None else base
    q = q.select(F.col("id").alias("qid"), F.col("v").alias("qv"), "band", "bucket")
    d = base.select(F.col("id").alias("nid"), F.col("v").alias("nv"), "band", "bucket")
    pairs = (
        q.join(d, ["band", "bucket"])
        .filter(F.col("qid") != F.col("nid"))
        # a pair colliding in several bands must be scored once
        .dropDuplicates(["qid", "nid"])
    )
    scored = pairs.select(
        "qid",
        "nid",
        cosine(
            dot("qv", "nv", exact), sq_norm("qv", exact), sq_norm("nv", exact)
        ).alias("cosine"),
    )
    return _top_k(scored, k)


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the coarse-quantizer scale path
# ---------------------------------------------------------------------------


def _write_driver_parquet(path: str, table) -> None:
    """Persist a DRIVER-SMALL table (bounded by construction: n_lists
    centroids, m*pq_k codebook rows, the 1-row meta, the health
    baseline) as a single parquet file via pyarrow. A Spark write of a
    16-row local frame pays a full job + commit-protocol round (~0.4s
    measured); four such tables were the majority of the small-corpus
    build's fixed cost. Spark reads the directory identically (its
    parquet source lists every non-underscore file), and the append
    path's Spark part files coexist beside the seed file."""
    import shutil

    import pyarrow.parquet as _pq

    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    _pq.write_table(table, os.path.join(path, "part-00000.parquet"))


def _append_driver_parquet(path: str, table) -> None:
    """Append a driver-small table as one new uniquely-named parquet
    file (the health event log grows one row per append/compact —
    schema identical across files, so Spark's multi-file scan needs no
    mergeSchema)."""
    import uuid

    import pyarrow.parquet as _pq

    os.makedirs(path, exist_ok=True)
    _pq.write_table(
        table, os.path.join(path, f"part-{uuid.uuid4().hex[:12]}.parquet")
    )


def _sieved_nearest_cell(
    base: DataFrame, cents: DataFrame, cents_rows=None
) -> DataFrame:
    """Decimal-EXACT nearest-centroid assignment of every ``base`` row
    (``id``, ``v`` and any further columns, carried through) via the
    q125 sieve discipline: one Arrow-batched numpy pass scores every vector
    against the driver-collected centroid matrix in float64 and keeps
    only centroids within a safety margin of the top (float error +
    decimal(30,12) quantization ≪ 1e-6 — the margin cannot drop the
    true argmax); single-candidate rows need no further work, and
    only the near-tie rows pay the interpreted decimal rescore whose
    value the SQL oracle reproduces. Replaces the full N × n_lists
    decimal crossJoin (every row paid 3 interpreted decimal folds per
    centroid — the dominant cost of the q146 build) with bit-identical
    output. Zero-norm vectors (NULL cosine) resolve through the
    nulls-last decimal pick to their lowest candidate cell.

    ``cents_rows``: optional pre-collected [(cell, cv), ...] — the
    index build already holds the centroid rows on the driver (they
    seed from the training TakeOrdered), so passing them skips a
    redundant collect job."""
    import numpy as _np
    import pandas as _pd
    from pyspark.sql.functions import pandas_udf

    if cents_rows is None:
        cents_rows = cents.select("cell", "cv").collect()  # n_lists rows
    cell_t = cents.schema["cell"].dataType.simpleString()
    cols = base.columns
    if not cents_rows:
        return base.select(*cols, F.lit(None).cast(cell_t).alias("cell")).limit(0)
    _C = _np.stack([list(r["cv"]) for r in cents_rows]).astype(_np.float64)
    _cids = [r["cell"] for r in cents_rows]
    _cn = _np.sqrt((_C * _C).sum(axis=1))

    def _near_fn(vs):
        if len(vs) == 0:
            return _pd.Series([], dtype=object)
        V = _np.stack(vs.to_numpy()).astype(_np.float64)
        vn = _np.sqrt((V * V).sum(axis=1))
        ids = _np.array(_cids)
        with _np.errstate(divide="ignore", invalid="ignore"):
            sims = (V @ _C.T) / _np.outer(vn, _cn)
        out = []
        for s in sims:
            finite = _np.isfinite(s)
            if not finite.any():
                out.append(list(ids))
            else:
                b = s[finite].max()
                out.append(list(ids[finite & (s >= b - 1e-6)]))
        return _pd.Series(out)

    near = pandas_udf(_near_fn, f"array<{cell_t}>")
    with_cand = base.withColumn("cands", near("v"))
    single = with_cand.filter(F.size("cands") == 1).select(
        *cols, F.col("cands")[0].alias("cell")
    )
    multi_scored = (
        with_cand.filter(F.size("cands") > 1)
        .select(*cols, F.explode("cands").alias("cell"))
        .join(F.broadcast(cents.select("cell", "cv")), "cell")
        .select(
            *cols,
            "cell",
            _cell_cosine(True).alias("sim"),
        )
    )
    pick = Window.partitionBy("id").orderBy(F.desc("sim"), F.asc("cell"))
    multi = (
        multi_scored.withColumn("rn", F.row_number().over(pick))
        .filter(F.col("rn") == 1)
        .select(*cols, "cell")
    )
    return single.unionByName(multi)


def _ivf_nearest_cell(
    base: DataFrame, cents: DataFrame, exact: bool = False, cents_rows=None
) -> DataFrame:
    """Assign every (id, v) row to its max-cosine centroid (ties broken
    by lowest cell id, NULL cosines last). Centroids are broadcast; one
    narrow pass. ``exact=True`` runs the numpy sieve with decimal-exact
    rescoring of near-ties (``_sieved_nearest_cell``), so the
    assignment itself is oracle-reproducible — used by the
    persisted-index build, whose per-cell stats are checked value-exact
    against SQL.

    The corpus side drives parallelism: a small-file parquet arrives
    as one partition, which would serialize the per-vector fold work
    (decimal folds especially) into a single task — spread it first."""
    base = base.repartition(base.sparkSession.sparkContext.defaultParallelism)
    if exact:
        return _sieved_nearest_cell(base, cents, cents_rows=cents_rows)
    scored = base.crossJoin(F.broadcast(cents)).select(
        "id", "v", "cell", _cell_cosine(False).alias("sim")
    )
    pick = Window.partitionBy("id").orderBy(F.desc("sim"), F.asc("cell"))
    return (
        scored.withColumn("rn", F.row_number().over(pick))
        .filter(F.col("rn") == 1)
        .select("id", "v", "cell")
    )


def ivf_assign(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    n_lists: int = 16,
    sweeps: int = 0,
    exact: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Partition vectors into ``n_lists`` cells around deterministic
    centroids (the ``n_lists`` lowest-id vectors — a seed-free coarse
    quantizer). ``sweeps`` Lloyd iterations (mean update + re-assign)
    refine the cells; assignment quality only affects recall, never
    correctness, because search re-ranks by true cosine. Returns
    (centroids, assignments); both are plain DataFrames so the index
    can be persisted as a table.

    The centroid pick is ``orderBy(id).limit(n_lists)`` — Spark plans
    TakeOrderedAndProject (per-partition top-N, then a merge of N-row
    partials on the driver), so no stage ever sees the whole corpus in
    one task; the centroid's own id doubles as the cell id."""
    base = emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    cents = (
        base.orderBy(F.asc("id"))
        .limit(n_lists)
        .select(F.col("id").alias("cell"), F.col("v").alias("cv"))
    )
    assigned = _ivf_nearest_cell(base, cents, exact=exact)
    for _ in range(sweeps):
        # centroids stay tiny (n_lists rows) but their lineage deepens
        # per sweep; localCheckpoint-free because each sweep is one
        # bounded aggregation over the previous assignment
        cents = ivf_refine(cents, assigned)
        assigned = _ivf_nearest_cell(base, cents, exact=exact)
    return cents, assigned


def ann_ivf(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    n_lists: int = 16,
    n_probe: int = 4,
    sweeps: int = 0,
    query_filter=None,
    tol: float | None = None,
    exact_score: bool = False,
) -> DataFrame:
    """IVF search: each query probes its ``n_probe`` nearest cells and
    ranks only those cells' members by true cosine — candidate volume
    is |corpus|·n_probe/n_lists instead of |corpus|. ``sweeps`` Lloyd
    iterations refine the quantizer (better-balanced cells → better
    recall per probe); pass ``tol`` to instead train to SSE
    convergence (``ivf_assign_converged``, at most max(sweeps, 10)
    sweeps). ``exact_score=True`` + ``n_probe=n_lists`` is the exact
    degeneration (all cells probed, decimal-exact ranking). Same
    output shape as the other ANN paths:
    (query_id, neighbor_id, cosine, rank)."""
    if tol is not None:
        cents, assigned, _ = ivf_assign_converged(
            emb, id_col, vec_col, n_lists, max_sweeps=max(sweeps, 10), tol=tol
        )
    else:
        cents, assigned = ivf_assign(emb, id_col, vec_col, n_lists, sweeps=sweeps)
    q = assigned.filter(query_filter) if query_filter is not None else assigned
    q = q.select(F.col("id").alias("qid"), F.col("v").alias("qv"))
    return ivf_probe_index(
        q, cents, assigned, k=k, n_probe=n_probe, exact_score=exact_score
    )


def ivf_probe_index(
    queries: DataFrame,
    cents: DataFrame,
    assigned: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    exact_score: bool = False,
) -> DataFrame:
    """Search a PRE-BUILT IVF index with an external query set: each
    (qid, qv) query row probes its ``n_probe`` nearest cells of
    ``cents`` (broadcast) and ranks that cells' members of ``assigned``
    by exact cosine. This is the index-build / index-search separation
    the batch ``ann_ivf`` wraps, and the probe a continuous-ingest
    pipeline runs per micro-batch against a persisted corpus index
    (streaming/ingest.stream_ann_probe) — per-batch cost is
    |batch| · n_probe/n_lists of the corpus, never corpus²."""
    probe_rank = Window.partitionBy("qid").orderBy(F.desc("psim"), F.asc("cell"))
    probes = (
        queries.crossJoin(F.broadcast(cents))
        .select("qid", "qv", "cell", dot("qv", "cv", False).alias("psim"))
        .withColumn("rn", F.row_number().over(probe_rank))
        .filter(F.col("rn") <= n_probe)
        .select("qid", "qv", "cell")
    )
    cand = probes.join(
        assigned.select(F.col("id").alias("nid"), F.col("v").alias("nv"), "cell"),
        "cell",
    ).filter(F.col("qid") != F.col("nid"))

    # decimal folds under ``exact_score`` → ``n_probe = n_lists`` is
    # the oracle-reproducible exact degeneration (q80 discipline)
    e = exact_score
    scored = cand.select(
        "qid",
        "nid",
        cosine(dot("qv", "nv", e), sq_norm("qv", e), sq_norm("nv", e)).alias("cosine"),
    ).dropDuplicates(["qid", "nid"])
    return _top_k(scored, k)


def ivf_refine(cents: DataFrame, assigned: DataFrame) -> DataFrame:
    """One Lloyd sweep over an IVF assignment: each cell's centroid
    becomes the element-wise mean of its members (a cell that lost all
    members keeps its seed). The ``posexplode`` → (cell, pos) partial
    aggregation is map-side combinable, so the sweep shuffles only
    n_cells × dim partial sums — independent of corpus size. With the
    assignment held fixed, the mean minimizes within-cell squared
    error (the classic k-means update), asserted numerically in
    tests/test_llm_ops.py."""
    means = (
        assigned.select("cell", F.posexplode("v").alias("pos", "x"))
        .groupBy("cell", "pos")
        .agg(F.avg("x").alias("m"))
        .groupBy("cell")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select(
            "cell",
            F.transform("pm", lambda s: s.getField("m")).alias("new_cv"),
        )
    )
    return cents.join(means, "cell", "left").select(
        "cell", F.coalesce("new_cv", "cv").alias("cv")
    )


def ivf_sse(cents: DataFrame, assigned: DataFrame) -> float:
    """Within-cell sum of squared distances of an IVF assignment — the
    k-means objective. One broadcast join (n_lists rows) + one
    aggregation; this is both the convergence probe and the
    materializing action of each training sweep."""
    d2 = F.aggregate(
        F.zip_with(
            "v",
            "cv",
            lambda a, b: (a.cast("double") - b.cast("double"))
            * (a.cast("double") - b.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    row = (
        assigned.join(F.broadcast(cents), "cell")
        .agg(F.sum(d2).alias("sse"))
        .collect()[0]
    )
    return float(row["sse"] if row["sse"] is not None else 0.0)


def ivf_assign_converged(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    n_lists: int = 16,
    max_sweeps: int = 10,
    tol: float = 1e-4,
) -> tuple[DataFrame, DataFrame, list[float]]:
    """Lloyd iteration to (near-)convergence: alternate the mean update
    (``ivf_refine``) and re-assignment until the relative SSE
    improvement drops below ``tol`` or ``max_sweeps`` is reached —
    deterministic (seed-free centroid init, no RNG), so index builds
    are reproducible run to run.

    Classic k-means monotonicity gives a non-increasing SSE sequence:
    the mean minimizes within-cell squared error for a fixed
    assignment, and nearest-cell re-assignment can only lower it
    further (asserted numerically in tests). Per sweep the corpus is
    scanned twice from cache (refine + SSE probe) and only
    n_cells × dim partial sums shuffle; the tiny centroid frame is
    localCheckpoint-ed so its lineage stays one sweep deep. Returns
    (centroids, assignments, sse_history). A sweep's refined centroids
    supersede the previous ones, which are released once they land."""
    base = pin(emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")))
    cents = checkpoint(
        base.orderBy(F.asc("id"))
        .limit(n_lists)
        .select(F.col("id").alias("cell"), F.col("v").alias("cv")),
        eager=True,
    )
    assigned = _ivf_nearest_cell(base, cents)
    history = [ivf_sse(cents, assigned)]
    for _ in range(max_sweeps):
        stale, cents = cents, checkpoint(ivf_refine(cents, assigned), eager=True)
        unpin(stale)
        assigned = _ivf_nearest_cell(base, cents)
        history.append(ivf_sse(cents, assigned))
        prev, cur = history[-2], history[-1]
        if prev - cur <= tol * max(prev, 1e-12):
            break
    return cents, assigned, history


def quantize_embeddings(
    emb: DataFrame, id_col: str, vec_col: str, levels: int = 256
) -> DataFrame:
    """Per-dimension scalar quantization of an embedding column — the
    standard compression step before a vector index is materialized at
    corpus scale (float32 → int8 is a 4× footprint cut; ``levels``
    defaults to the int8 range).

    Codebook: each dimension's [min, max] over the corpus, computed by
    one posexplode → (pos, min, max) aggregation (map-side combinable,
    shuffles dim rows per partition, never vectors). Codes:
    ``floor((x - min) / (max - min) * (levels-1))`` clamped into
    [0, levels-1] (x == max lands exactly on the top level), a
    constant dimension coding to 0. Both engines evaluate the same
    IEEE-double expression tree and ``floor`` carries no tie ambiguity
    (unlike round), so codes are bit-reproducible — the SQL oracle
    checks every byte of every code, not summary stats.

    Returns (id, codes array<int>, reconstruction err_sq double):
    dequantization is the bin's left edge ``min + c·(max-min)/
    (levels-1)`` (both endpoints reconstruct exactly) and err_sq is
    the squared truncation error — exact decimal accumulation, the
    same discipline as the cosine operators. The codebook is broadcast
    (dim rows)."""
    base = emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    book = (
        base.select(F.posexplode("v").alias("pos", "x"))
        .groupBy("pos")
        # double codebook: float-typed lo/hi would drag the downstream
        # (hi - lo) arithmetic to float32 precision and off the
        # oracle's double expression tree
        .agg(
            F.min(F.col("x").cast("double")).alias("lo"),
            F.max(F.col("x").cast("double")).alias("hi"),
        )
        .groupBy()
        .agg(F.array_sort(F.collect_list(F.struct("pos", "lo", "hi"))).alias("b"))
        .select(
            F.transform("b", lambda s: s.getField("lo")).alias("los"),
            F.transform("b", lambda s: s.getField("hi")).alias("his"),
        )
    )
    n1 = F.lit(levels - 1).cast("double")
    with_book = base.crossJoin(F.broadcast(book))
    code = F.expr(
        f"""
        zip_with(v, zip_with(los, his, (l, h) -> struct(l AS l, h AS h)),
                 (x, lh) -> CASE
                     WHEN lh.h = lh.l THEN 0
                     ELSE CAST(LEAST(FLOOR((CAST(x AS DOUBLE) - lh.l) / (lh.h - lh.l)
                                           * {levels - 1}.0), {levels - 1}.0) AS INT)
                 END)
        """
    )
    staged = with_book.select("id", "v", "los", "his", code.alias("codes"))
    # dequantize at the bin's left edge: lo + c * (hi - lo) / (levels-1)
    deq = F.expr(
        f"""
        zip_with(codes, zip_with(los, his, (l, h) -> struct(l AS l, h AS h)),
                 (c, lh) -> CASE
                     WHEN lh.h = lh.l THEN lh.l
                     ELSE lh.l + CAST(c AS DOUBLE) * (lh.h - lh.l) / {levels - 1}.0
                 END)
        """
    )
    err = F.aggregate(
        F.zip_with(
            "v", deq,
            lambda x, q: ((x.cast("double") - q) * (x.cast("double") - q)).cast(
                "decimal(30,12)"
            ),
        ),
        F.lit(0).cast("decimal(30,12)"),
        lambda acc, e: (acc + e).cast("decimal(30,12)"),
    ).cast("double")
    return staged.select("id", "codes", err.alias("err_sq"))


def _sub_structs(vcol, m: int, w: int):
    """Split a vector column into m contiguous (subspace, subvector)
    structs — one in-place slice per subspace, no dim-explode."""
    return F.array(
        *[
            F.struct(F.lit(s).alias("s"), F.slice(vcol, s * w + 1, w).alias("sv"))
            for s in range(m)
        ]
    )


def _pq_codebook(base: DataFrame, m: int, k: int, w: int) -> DataFrame:
    """Per-subspace PQ codebook (code, s, cv): the subvectors of the k
    lowest-id vectors — the same seed-free deterministic pick as
    ``ivf_assign``, so index builds reproduce bit-for-bit."""
    return (
        base.orderBy(F.asc("id"))
        .limit(k)
        .select(
            F.col("id").alias("code"),
            F.explode(_sub_structs(F.col("v"), m, w)).alias("t"),
        )
        .select("code", F.col("t.s").alias("s"), F.col("t.sv").alias("cv"))
    )


def ann_ivf_pq(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    n_lists: int = 16,
    n_probe: int = 4,
    m: int = 8,
    pq_k: int = 16,
    sweeps: int = 0,
    tol: float | None = None,
    rerank: int = 0,
    query_filter=None,
    dim: int | None = None,
    exact_rerank: bool = False,
) -> DataFrame:
    """IVF-PQ search — the composed vector index: IVF cells prune the
    corpus to ``n_probe`` lists per query, PQ codes supply an O(1)
    per-candidate ASYMMETRIC cosine estimate, and ``rerank`` optionally
    re-scores the top ADC candidates with exact cosine.

    The ADC trick, in DataFrame shape: the expensive vector math runs
    once per (query, subspace, codebook entry) — a |queries| × m·pq_k
    broadcast cross join building a lookup table of partial dots and
    partial code norms — and every candidate thereafter is scored by a
    pure EQUI-JOIN on (qid, subspace, code) plus a sum: no per-candidate
    vector arithmetic at all, which is what makes PQ scale to billions
    of candidates. approx_cos = Σ_s⟨q_s, cb[s,code_s]⟩ /
    (‖q‖·sqrt(Σ_s‖cb[s,code_s]‖²)) — the standard IP-ADC estimate
    with the code's own reconstructed norm.

    Same output contract as the other ANN paths: (query_id,
    neighbor_id, cosine, rank); ``cosine`` is the ADC estimate, or the
    exact value for rows that passed the rerank. Deterministic end to
    end (seed-free coarse + PQ codebooks, md5-free integer ids, unique
    tiebreakers); pass ``tol`` to train the coarse quantizer to SSE
    convergence."""
    base = emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    if dim is None:
        dim = len(base.select("v").first()[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    w = dim // m

    if tol is not None:
        cents, assigned, _ = ivf_assign_converged(
            emb, id_col, vec_col, n_lists, max_sweeps=max(sweeps, 10), tol=tol
        )
    else:
        cents, assigned = ivf_assign(emb, id_col, vec_col, n_lists, sweeps=sweeps)
    assigned = pin(assigned)  # probed by queries AND scanned as candidates
    codes = product_quantize(emb, id_col, vec_col, m, pq_k, dim).select(
        F.col("id").alias("nid"), "codes"
    )
    cb = _pq_codebook(base, m, pq_k, w)

    qset = assigned.filter(query_filter) if query_filter is not None else assigned
    q = qset.select(F.col("id").alias("qid"), F.col("v").alias("qv"))
    return _ivf_pq_search(
        q, cents, assigned, codes, cb, k, n_probe, rerank, w,
        exact_rerank=exact_rerank,
    )


def _ivf_pq_search(
    q: DataFrame,
    cents: DataFrame,
    assigned: DataFrame,
    codes: DataFrame,
    cb: DataFrame,
    k: int,
    n_probe: int,
    rerank: int,
    w: int,
    exact_rerank: bool = False,
) -> DataFrame:
    """Pure IVF-PQ SEARCH over already-built index artifacts — no
    training, no codebook construction, no corpus-wide limits. Shared
    by the batch ``ann_ivf_pq`` (which trains inline) and the
    persisted-index probe (``ann_ivf_pq_probe``), so build-once/
    search-many and build-per-run produce identical rows by
    construction. Inputs: q (qid, qv), cents (cell, cv),
    assigned (id, v, cell), codes (nid, codes), cb (code, s, cv)."""
    probe_rank = Window.partitionBy("qid").orderBy(F.desc("psim"), F.asc("cell"))
    probes = (
        q.crossJoin(F.broadcast(cents))
        .select("qid", "cell", dot("qv", "cv", False).alias("psim"))
        .withColumn("rn", F.row_number().over(probe_rank))
        .filter(F.col("rn") <= n_probe)
        .select("qid", "cell")
    )

    sub_q = F.slice("qv", F.col("s") * w + 1, F.lit(w))
    lut = q.crossJoin(F.broadcast(cb)).select(
        "qid",
        "s",
        "code",
        dot(sub_q, "cv", False).alias("pdot"),
        sq_norm("cv", False).alias("pn2"),
    )
    qn = F.sqrt(sq_norm("qv", False))
    qnorm = q.select("qid", qn.alias("qn"))

    cand = (
        probes.join(assigned.select(F.col("id").alias("nid"), "cell"), "cell")
        .filter(F.col("qid") != F.col("nid"))
        .select("qid", "nid")
    )
    exploded = cand.join(codes, "nid").select(
        "qid", "nid", F.posexplode("codes").alias("s", "code")
    )
    scored = (
        # hash build on the LUT (|queries|·m·pq_k rows, query-count-
        # bounded); sort-merge would sort the |candidates|·m exploded
        # code stream — the corpus-sized side of the ADC join
        exploded.join(lut.hint("shuffle_hash"), ["qid", "s", "code"])
        .groupBy("qid", "nid")
        .agg(F.sum("pdot").alias("adot"), F.sum("pn2").alias("an2"))
        .join(qnorm, "qid")
        .select(
            "qid",
            "nid",
            # the kernel's NULL contract: a zero-norm query scores NULL
            F.try_divide(F.col("adot"), F.col("qn") * F.sqrt("an2")).alias("cosine"),
        )
    )
    rk = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("nid"))
    if rerank:
        r = max(rerank, k)
        shortlist = (
            scored.withColumn("rn", F.row_number().over(rk))
            .filter(F.col("rn") <= r)
            .select("qid", "nid")
        )
        # ``exact_rerank`` folds in decimal: with rerank covering every
        # candidate and n_probe = n_lists this is the oracle-reproducible
        # exact degeneration (q80 discipline) — the query norm too is
        # re-folded in decimal, or the last bits differ
        e = exact_rerank
        scored = (
            shortlist.join(q, "qid")
            .join(
                assigned.select(F.col("id").alias("nid"), F.col("v").alias("nv")),
                "nid",
            )
            .select(
                "qid",
                "nid",
                cosine(dot("qv", "nv", e), sq_norm("nv", e), sq_norm("qv", e)).alias("cosine"),
            )
        )
    return _top_k(scored, k)


#: sieve crossover in units of N·m·k interpreted decimal subvector
#: folds — below this the broadcast argmin wins (measured: 5000·8·16 =
#: 640k folds runs ~2× faster without the sieve; the 2000·8·32 build
#: won 4.8s with it at a deeper fold shape). Calibrated, not derived.
_PQ_SIEVE_FOLDS = 1_000_000


def product_quantize(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    m: int = 8,
    k: int = 16,
    dim: int | None = None,
    codebook: DataFrame | None = None,
    sieve: bool | None = None,
) -> DataFrame:
    """Product quantization: the vector splits into ``m`` contiguous
    subvectors; each subspace's codebook is the subvectors of the ``k``
    lowest-id vectors (the same seed-free deterministic pick as
    ``ivf_assign``), and each subvector codes to its nearest centroid
    by decimal-exact squared L2 (ties to the lowest cell id). Returns
    (id, codes array — codebook entry per subspace in subspace order,
    dist_sq — total quantization distortion).

    This is the index-compression layer under IVF-PQ: m·log2(k) bits
    per vector instead of 32·dim. Plan shape: subvectors come from one
    in-place slice+explode (m narrow rows per vector, no dim-explode),
    the codebook is broadcast (m·k rows), and the argmin is a struct
    ``min`` inside one hash aggregation — map-side combinable, one
    Exchange on (id, subspace) then one on id. ``dim`` avoids a
    driver probe job, same contract as the ANN operators."""
    base = emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    if dim is None:
        dim = len(base.select("v").first()[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    w = dim // m

    # an injected codebook (build_ivf_pq_index collects the lowest-id
    # training rows ONCE for centroids + codebook) skips this path's
    # own TakeOrdered corpus scan; content is identical by contract
    cents = (codebook if codebook is not None else _pq_codebook(base, m, k, w)).select(
        F.col("code").alias("cell"), "s", "cv"
    )
    # Route by size: the Arrow sieve pays a fixed pandas_udf cost
    # (worker spin-up + Arrow transfer of every vector) that the small
    # case never earns back — at the benchmarked 5000×8×16 the plain
    # broadcast decimal argmin is ~2× faster — while at build scale
    # (large N·m·k of interpreted subvector folds) the sieve won
    # ~4.8s. The decision input is driver-cheap: a BOUNDED count
    # (limit pushdown) of the corpus. An injected codebook (the
    # build_ivf_pq_index path) skips the probe — builds are the
    # at-scale case by construction. Both paths produce bit-identical
    # codes and dist_sq (asserted in tests).
    if sieve is None:
        if codebook is not None:
            use_sieve = True
        else:
            cap = _PQ_SIEVE_FOLDS // max(m * k, 1) + 1
            use_sieve = base.limit(cap).count() * m * k > _PQ_SIEVE_FOLDS
    else:
        use_sieve = sieve

    if use_sieve:
        # Coding sieve (the q125-assignment discipline, argmin-L2
        # form): the full decimal argmin is N·m·k interpreted
        # subvector folds. One Arrow-batched numpy pass computes every
        # subspace's float64 distances against the driver-collected
        # codebook (m·k·w floats — driver-small) and emits the
        # per-subspace candidate set (argmin ± a margin far above
        # float + decimal(30,12) quantization error); only candidates
        # pay the decimal-exact rescore, which also yields the decimal
        # dist_sq the oracle checks — so codes AND distortion stay
        # bit-identical to the full decimal argmin.
        import numpy as _np
        import pandas as _pd
        from pyspark.sql.functions import pandas_udf

        cb_rows = cents.collect()
        _per_s: dict = {}
        for r in cb_rows:
            _per_s.setdefault(r["s"], []).append((r["cell"], list(r["cv"])))
        for s in _per_s:
            _per_s[s].sort(key=lambda t: t[0])
        _Cm = {
            s: _np.array([cv for _, cv in rows], dtype=_np.float64)
            for s, rows in _per_s.items()
        }
        _ids_m = {s: [c for c, _ in rows] for s, rows in _per_s.items()}
        id_t = dict(emb.dtypes)[id_col]

        def _pq_near_fn(vs):
            if len(vs) == 0:
                return _pd.Series([], dtype=object)
            V = _np.stack(vs.to_numpy()).astype(_np.float64)
            out = [[] for _ in range(len(V))]
            for s in range(m):
                Vs = V[:, s * w:(s + 1) * w]
                Cs = _Cm[s]
                ids = _np.array(_ids_m[s])
                d2s = (
                    (Vs * Vs).sum(axis=1)[:, None]
                    + (Cs * Cs).sum(axis=1)[None, :]
                    - 2.0 * (Vs @ Cs.T)
                )
                best = d2s.min(axis=1)
                for i in range(len(V)):
                    out[i].append(list(ids[d2s[i] <= best[i] + 1e-6]))
            return _pd.Series(out)

        _pq_near = pandas_udf(_pq_near_fn, f"array<array<{id_t}>>")

        cand_sub = (
            base.withColumn("cands", _pq_near("v"))
            .select(
                "id",
                F.explode(_sub_structs(F.col("v"), m, w)).alias("t"),
                "cands",
            )
            .select(
                "id",
                F.col("t.s").alias("s"),
                F.col("t.sv").alias("sv"),
                F.explode(F.element_at("cands", F.col("t.s") + 1)).alias("cell"),
            )
        )
    else:
        # plain broadcast argmin: every (id, s) subvector scores all k
        # codebook entries with the decimal fold — the right plan when
        # N·m·k is small enough that interpretation beats Arrow setup
        cand_sub = (
            base.select(
                "id", F.explode(_sub_structs(F.col("v"), m, w)).alias("t")
            )
            .select(
                "id", F.col("t.s").alias("s"), F.col("t.sv").alias("sv")
            )
            .join(
                F.broadcast(cents.select("s", F.col("cell"))), "s"
            )
        )
    d2 = F.aggregate(
        F.zip_with(
            "sv", "cv",
            lambda x, y: (
                (x.cast("double") - y.cast("double"))
                * (x.cast("double") - y.cast("double"))
            ).cast("decimal(30,12)"),
        ),
        F.lit(0).cast("decimal(30,12)"),
        lambda acc, e: (acc + e).cast("decimal(30,12)"),
    ).cast("double")
    scored = cand_sub.join(F.broadcast(cents), ["s", "cell"]).select(
        "id", "s", "cell", d2.alias("d2")
    )
    pick = scored.groupBy("id", "s").agg(
        F.min(F.struct(F.col("d2"), F.col("cell"))).alias("b")
    )
    return pick.groupBy("id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct(F.col("s"), F.col("b.cell").alias("code")))),
            lambda t: t.getField("code"),
        ).alias("codes"),
        F.sum(F.col("b.d2").cast("decimal(30,12)")).cast("double").alias("dist_sq"),
    )


# ---------------------------------------------------------------------------
# Persisted IVF-PQ index lifecycle: build once, search many
# ---------------------------------------------------------------------------
#
# A real vector-search deployment maintains an index as an asset and
# amortizes its construction across millions of probes; rebuilding the
# coarse quantizer + PQ codebooks per query (what the batch ann_ivf_pq
# does by design, for self-contained correctness) is the wrong shape for
# a pipeline. The lifecycle here is the same pattern as the dedup
# band_index (dedup.py) and the streaming ANN probe: plain parquet
# tables under one directory (v3 layout) —
#
#   <path>/cents     (cell, cv)           n_lists rows, broadcast at search
#   <path>/corpus    (id, v, cell, codes) the corpus — ONE table whose
#                    column-pruned scans serve both the assigned
#                    (id, v, cell) and codes (id, codes) views, so the
#                    build/append write the index data once
#   <path>/codebook  (code, s, cv)        m*pq_k rows, broadcast at search
#   <path>/meta      (n_lists, m, pq_k, dim, w, n_vectors) 1 row
#
# The index survives sessions, is queryable
# as ordinary tables, and a probe's plan contains ONLY parquet scans +
# the search joins (asserted in tests/test_plans.py: no
# TakeOrderedAndProject training stages).


def _pq_fast_codes_udf(cb_pairs, m: int, w: int, code_t: str):
    """Per-ROW PQ coding for the fused corpus pass: one numpy pass
    computes every subspace's argmin against the driver-known codebook
    and returns the full code word — or NULL when ANY subspace has a
    second codeword within the safety margin (float + decimal
    quantization error ≪ 1e-6), in which case the caller routes the
    row through the decimal-exact coding pipeline. Unambiguous rows
    are bit-identical to the decimal argmin by the sieve argument, so
    the fused output equals ``product_quantize`` exactly.

    ``cb_pairs``: [(code, s, subvector), ...] — driver-small."""
    import numpy as _np
    import pandas as _pd
    from pyspark.sql.functions import pandas_udf

    per_s: dict = {}
    for code, s, cv in cb_pairs:
        per_s.setdefault(s, []).append((code, list(cv)))
    for s in per_s:
        per_s[s].sort(key=lambda t: t[0])
    Cm = {
        s: _np.array([cv for _, cv in rows], dtype=_np.float64)
        for s, rows in per_s.items()
    }
    ids_m = {s: _np.array([c for c, _ in rows]) for s, rows in per_s.items()}

    def fn(vs):
        if len(vs) == 0:
            return _pd.Series([], dtype=object)
        V = _np.stack(vs.to_numpy()).astype(_np.float64)
        n = len(V)
        out: list = [[] for _ in range(n)]
        ok = _np.ones(n, dtype=bool)
        for s in range(m):
            Vs = V[:, s * w:(s + 1) * w]
            Cs = Cm[s]
            d2s = (
                (Vs * Vs).sum(axis=1)[:, None]
                + (Cs * Cs).sum(axis=1)[None, :]
                - 2.0 * (Vs @ Cs.T)
            )
            best = d2s.min(axis=1)
            near = d2s <= (best + 1e-6)[:, None]
            amb = near.sum(axis=1) > 1
            ok &= ~amb
            # ties broken by lowest code id: rows are id-sorted, so
            # argmax over the boolean mask returns the first (lowest)
            pick = ids_m[s][near.argmax(axis=1)]
            for i in range(n):
                out[i].append(pick[i])
        def _py(x):
            return x.item() if hasattr(x, "item") else x

        return _pd.Series(
            [[_py(x) for x in o] if k else None for o, k in zip(out, ok)]
        )

    return pandas_udf(fn, f"array<{code_t}>")


def _with_pq_codes(
    assigned: DataFrame,
    cb: DataFrame,
    cb_pairs,
    m: int,
    pq_k: int,
    dim: int,
    w: int,
    code_t: str,
) -> DataFrame:
    """Attach the PQ code word to every (id, v, cell) row in the SAME
    corpus pass: the fast per-row coder handles every unambiguous row
    (bit-identical to the decimal argmin), and the rows it NULLs
    (near-tie in some subspace) route through the decimal-exact
    ``product_quantize`` and rejoin — a near-empty set whose join AQE
    plans as broadcast."""
    fast = _pq_fast_codes_udf(cb_pairs, m, w, code_t)
    # pin: the clean/ambiguous split consumes this frame from BOTH
    # union branches — without the cache Spark computes the whole
    # assignment+coding pipeline twice (no CSE across a union)
    with_f = pin(assigned.withColumn("codes", fast("v")))
    clean = with_f.filter(F.col("codes").isNotNull())
    amb = with_f.filter(F.col("codes").isNull()).drop("codes")
    amb_codes = product_quantize(
        amb.select("id", "v"), "id", "v", m, pq_k, dim, codebook=cb
    ).select("id", "codes")
    resolved = amb.join(amb_codes, "id")
    return clean.select("id", "v", "cell", "codes").unionByName(
        resolved.select("id", "v", "cell", "codes")
    )


class IvfPqIndex:
    """Handle to a loaded persisted IVF-PQ index (plain DataFrames +
    the build-time meta row)."""

    def __init__(self, cents, assigned, codes, codebook, meta):
        self.cents = cents
        self.assigned = assigned
        self.codes = codes
        self.codebook = codebook
        self.meta = meta  # dict: n_lists, m, pq_k, dim, w, n_vectors


def build_ivf_pq_index(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    path: str,
    n_lists: int = 16,
    m: int = 8,
    pq_k: int = 16,
    sweeps: int = 0,
    tol: float | None = None,
    dim: int | None = None,
    exact_assign: bool = True,
) -> DataFrame:
    """Train an IVF-PQ index and persist it under ``path`` (overwrite).

    ``exact_assign=True`` routes the coarse assignment through decimal
    folds so the index's per-cell populations are value-exact against a
    SQL oracle (q146) — determinism the double fold can only promise
    same-engine. Training cost, in corpus passes: ONE bounded
    TakeOrdered collects the max(n_lists, pq_k) lowest-id training
    rows (driver-small — ≤4096 × dim floats) from which BOTH the
    coarse centroids and the PQ codebook are built locally; then ONE
    fused corpus pass computes the coarse cell AND the PQ code word
    per row (numpy sieves with decimal-exact resolution of near-ties
    — bit-identical to the separate pipelines) and writes the single
    ``corpus`` table (id, v, cell, codes); one post-write aggregation
    over it yields per-cell stats + vector count + the drift baseline
    — 2 corpus passes total, nothing corpus-quadratic, and the index
    data lands in ONE parquet write whose column pruning serves the
    probe's assigned (id, v, cell) and codes (id, codes) views. (A
    Lloyd-trained build — ``sweeps``/``tol`` — adds its refinement
    passes on top, unchanged.)

    Returns the per-cell stats DataFrame (cell, n_members) — the
    observable build artifact a monitoring pipeline records."""
    base = emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    if dim is None:
        dim = len(base.select("v").first()[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    w = dim // m
    spark = emb.sparkSession

    # one TakeOrdered training pass: the k lowest-id rows seed both
    # the coarse centroids (first n_lists) and the PQ codebook (first
    # pq_k), exactly as the separate picks did — bit-identical content
    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    id_f = base.schema["id"]
    v_f = base.schema["v"]
    low = base.orderBy(F.asc("id")).limit(max(n_lists, pq_k)).collect()
    cb = local_frame(
        spark,
        [
            (r["id"], s, list(r["v"])[s * w:(s + 1) * w])
            for r in low[:pq_k]
            for s in range(m)
        ],
        StructType(
            [
                StructField("code", id_f.dataType),
                StructField("s", IntegerType()),
                StructField("cv", v_f.dataType),
            ]
        ),
    )
    cents_schema = StructType(
        [
            StructField("cell", id_f.dataType),
            StructField("cv", v_f.dataType),
        ]
    )
    if tol is not None:
        cents, assigned, _ = ivf_assign_converged(
            emb, id_col, vec_col, n_lists, max_sweeps=max(sweeps, 10), tol=tol
        )
        cents_local = [r.asDict() for r in cents.select("cell", "cv").collect()]
    else:
        cents_local = [{"cell": r["id"], "cv": list(r["v"])} for r in low[:n_lists]]
        cents = local_frame(
            spark, [(c["cell"], c["cv"]) for c in cents_local], cents_schema
        )
        for _ in range(sweeps):
            assigned_s = _ivf_nearest_cell(base, cents, exact=exact_assign)
            cents = ivf_refine(cents, assigned_s)
            cents_local = None
        assigned = _ivf_nearest_cell(
            base, cents, exact=exact_assign, cents_rows=cents_local
        )

    # fused coding: the assignment output gains its code word per ROW
    # (no join, no second corpus scan); rows where any subspace has a
    # near-tie (NULL from the fast coder) route through the decimal
    # product_quantize and rejoin — a near-empty set in practice
    cb_pairs = [
        (r["id"], s, list(r["v"])[s * w:(s + 1) * w])
        for r in low[:pq_k]
        for s in range(m)
    ]
    combined = _with_pq_codes(
        assigned, cb, cb_pairs, m, pq_k, dim, w, id_f.dataType.simpleString(),
    )
    # cents / codebook / meta / health are all driver-small by
    # construction — pyarrow writes them without a Spark job each
    # (4 job+commit rounds ≈ 1.6s of pure fixed cost at any corpus
    # size). The corpus table — the data plane — stays a Spark write.
    import pyarrow as _pa

    from pyspark.sql.pandas.types import to_arrow_type

    id_at = to_arrow_type(id_f.dataType)
    cv_at = to_arrow_type(v_f.dataType)
    if cents_local is None:  # Lloyd sweeps refined the cents distributed
        cents_local = [r.asDict() for r in cents.select("cell", "cv").collect()]
    _write_driver_parquet(
        f"{path}/cents",
        _pa.table(
            {
                "cell": _pa.array([c["cell"] for c in cents_local], id_at),
                "cv": _pa.array([list(c["cv"]) for c in cents_local], cv_at),
            }
        ),
    )
    combined.write.mode("overwrite").parquet(f"{path}/corpus")
    _write_driver_parquet(
        f"{path}/codebook",
        _pa.table(
            {
                "code": _pa.array([c for c, _s, _cv in cb_pairs], id_at),
                "s": _pa.array([s for _c, s, _cv in cb_pairs], _pa.int32()),
                "cv": _pa.array([cv for _c, _s, cv in cb_pairs], cv_at),
            }
        ),
    )
    persisted = spark.read.parquet(f"{path}/corpus")
    # single post-write pass: per-cell populations + vector count + the
    # drift baseline (mean assignment distance — see ivf_pq_index_health
    # for the rebuild-resets-baseline contract). n_lists result rows —
    # driver-small by construction.
    per_cell = (
        persisted.join(F.broadcast(spark.read.parquet(f"{path}/cents")), "cell")
        .select("cell", (F.lit(1.0) - _cell_cosine(False)).alias("d"))
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum("d").alias("sum_d"),
            F.count("d").alias("n_valid"),
        )
        .collect()
    )
    n_vectors = int(sum(r["n_members"] for r in per_cell))
    # drift baseline uses avg semantics (null-distance rows excluded from
    # BOTH numerator and denominator) so it is comparable with the
    # append-time _mean_assign_dist health events
    n_valid = int(sum(r["n_valid"] for r in per_cell))
    base_dist = (
        float(sum(r["sum_d"] for r in per_cell if r["sum_d"] is not None))
        / n_valid
        if n_valid
        else 0.0
    )
    _write_driver_parquet(
        f"{path}/meta",
        _pa.table(
            {
                "n_lists": _pa.array([n_lists], _pa.int32()),
                "m": _pa.array([m], _pa.int32()),
                "pq_k": _pa.array([pq_k], _pa.int32()),
                "dim": _pa.array([dim], _pa.int32()),
                "w": _pa.array([w], _pa.int32()),
                "n_vectors": _pa.array([n_vectors], _pa.int64()),
            }
        ),
    )
    _write_driver_parquet(
        f"{path}/health",
        _pa.table(
            {
                "seq": _pa.array([0], _pa.int32()),
                "event": _pa.array(["build"], _pa.string()),
                "n": _pa.array([n_vectors], _pa.int64()),
                "mean_dist": _pa.array([base_dist], _pa.float64()),
            }
        ),
    )
    # the returned stats frame is a LAZY scan of the persisted index —
    # the builder's plan contract (tests/test_plans.py) asserts callers
    # can re-derive stats from disk; the collected per_cell rows above
    # are used only for meta/health.
    return (
        spark.read.parquet(f"{path}/corpus")
        .groupBy("cell")
        .agg(F.count(F.lit(1)).cast(LongType()).alias("n_members"))
    )


def load_ivf_pq_index(spark, path: str) -> IvfPqIndex:
    """Open a persisted IVF-PQ index. Pure metadata + lazy parquet
    scans — no job runs until a probe executes (the one materialized
    read is the 1-row meta table). The v3 layout stores the corpus as
    ONE table (id, v, cell, codes); the assigned and codes views are
    column-pruned scans of it. A directory without that table raises
    ``ValueError``."""
    from excel_to_database_spark.operators.io_util import maybe_read_parquet

    corpus = maybe_read_parquet(spark, f"{path}/corpus")
    if corpus is None:
        raise ValueError(f"not an IVF-PQ index: no corpus table at {path}/corpus")
    meta = spark.read.parquet(f"{path}/meta").collect()[0].asDict()
    return IvfPqIndex(
        cents=spark.read.parquet(f"{path}/cents"),
        assigned=corpus.select("id", "v", "cell"),
        codes=corpus.select(F.col("id").alias("nid"), "codes"),
        codebook=spark.read.parquet(f"{path}/codebook"),
        meta=meta,
    )


def ann_ivf_pq_probe(
    index: IvfPqIndex,
    k: int = 5,
    n_probe: int = 4,
    rerank: int = 0,
    queries: DataFrame | None = None,
    query_filter=None,
) -> DataFrame:
    """Search a persisted IVF-PQ index — the amortized half of the
    build/search split. ``queries`` is any (qid, qv) DataFrame (e.g. a
    streaming micro-batch); ``query_filter`` instead selects query rows
    out of the indexed corpus itself (self-join probes). Per-probe cost:
    one broadcast cells ranking, one (qid,s,code) equi-join against the
    broadcast LUT, |corpus| * n_probe/n_lists candidate rows — no
    training stage anywhere in the plan."""
    if queries is None:
        qset = (
            index.assigned.filter(query_filter)
            if query_filter is not None
            else index.assigned
        )
        queries = qset.select(F.col("id").alias("qid"), F.col("v").alias("qv"))
    return _ivf_pq_search(
        queries,
        index.cents,
        pin(index.assigned),
        index.codes,
        index.codebook,
        k,
        n_probe,
        rerank,
        int(index.meta["w"]),
    )


def ivf_pq_index_append(
    spark,
    path: str,
    new_emb: DataFrame,
    id_col: str,
    vec_col: str,
) -> int:
    """Incremental index maintenance — the operation that makes the
    persisted IVF-PQ index a MAINTAINED asset rather than a rebuild
    artifact: new vectors are assigned to the EXISTING centroids and
    coded against the EXISTING PQ codebooks (no retraining — the
    standard IVF ingestion contract; quantizer drift is handled by a
    periodic rebuild, not per batch), then appended to the corpus
    table. Probes (``ann_ivf_pq_probe`` and the streaming
    ANN path) see the new vectors on their next index load.

    Per-batch cost: one broadcast join against n_lists centroids + one
    broadcast join against the m·pq_k codebook + one parquet append —
    |batch|-proportional, never corpus-proportional. Returns the
    number of vectors appended. Duplicate ids are the caller's
    contract (same as any append-only table).

    Drift accounting: each append also records its batch's mean
    assignment distance in the index's ``health`` table (one scalar
    aggregate over the batch — no corpus re-scan), so
    ``ivf_pq_index_health`` can compare appended batches against the
    build-time baseline and recommend a retrain when the frozen
    quantizer stops fitting the data."""
    idx = load_ivf_pq_index(spark, path)
    m = int(idx.meta["m"])
    w = int(idx.meta["w"])
    pq_k = int(idx.meta["pq_k"])
    dim = int(idx.meta["dim"])
    base = new_emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))

    assigned_new = pin(_ivf_nearest_cell(base, idx.cents, exact=True))
    cb_pairs = [
        (r["code"], r["s"], list(r["cv"]))
        for r in idx.codebook.collect()  # m·pq_k rows — driver-small
    ]
    id_t = dict(new_emb.dtypes)[id_col]
    combined_new = _with_pq_codes(
        assigned_new,
        idx.codebook,
        cb_pairs,
        m,
        pq_k,
        dim,
        w,
        id_t,
    )
    combined_new.write.mode("append").parquet(f"{path}/corpus")
    n_new = spark.read.parquet(f"{path}/corpus").count() - int(
        idx.meta["n_vectors"]
    )
    batch_dist = _mean_assign_dist(assigned_new, idx.cents)
    from excel_to_database_spark.operators.io_util import maybe_read_parquet

    _h = maybe_read_parquet(spark, f"{path}/health")
    seq = _h.count() if _h is not None else 1  # pre-health index: first append starts the history
    import pyarrow as _pa

    _append_driver_parquet(
        f"{path}/health",
        _pa.table(
            {
                "seq": _pa.array([int(seq)], _pa.int32()),
                "event": _pa.array(["append"], _pa.string()),
                "n": _pa.array([int(n_new)], _pa.int64()),
                "mean_dist": _pa.array([batch_dist], _pa.float64()),
            }
        ),
    )
    _write_driver_parquet(
        f"{path}/meta",
        _pa.table(
            {
                "n_lists": _pa.array([int(idx.meta["n_lists"])], _pa.int32()),
                "m": _pa.array([m], _pa.int32()),
                "pq_k": _pa.array([int(idx.meta["pq_k"])], _pa.int32()),
                "dim": _pa.array([int(idx.meta["dim"])], _pa.int32()),
                "w": _pa.array([w], _pa.int32()),
                "n_vectors": _pa.array(
                    [int(idx.meta["n_vectors"]) + n_new], _pa.int64()
                ),
            }
        ),
    )
    return n_new


def _mean_assign_dist(assigned: DataFrame, cents: DataFrame) -> float:
    """Mean cosine DISTANCE (1 − cosine) between vectors and their
    assigned centroids — the scalar that tracks how well the frozen
    coarse quantizer still fits the data. One broadcast join + one
    aggregate; double folds (monitoring statistic, not an
    oracle-checked value)."""
    row = (
        assigned.join(F.broadcast(cents), "cell")
        .select((F.lit(1.0) - _cell_cosine(False)).alias("d"))
        .agg(F.avg("d"))
        .collect()[0][0]
    )
    return float(row) if row is not None else 0.0


def ivf_pq_index_health(
    spark, path: str, rebuild_ratio: float = 1.25
) -> dict:
    """Drift report for a persisted IVF-PQ index — the maintenance
    decision ``ivf_pq_index_append`` deliberately does not make
    (appends assign to FROZEN centroids; the standard IVF contract
    handles quantizer drift by periodic rebuild, and this function is
    the trigger).

    Reads the driver-small ``health`` table (one row per build/append
    event) and compares the latest appended batch's mean assignment
    distance against the build-time baseline. ``rebuild_recommended``
    is True when latest/baseline > ``rebuild_ratio`` (default 1.25 —
    appended data sits ≥25% farther from its centroids than the
    training distribution did, the point where probe recall measurably
    decays and a retrain amortizes). Rebuilding via
    ``build_ivf_pq_index`` overwrites the history and resets the
    baseline. Purely observational: probes never read this table, so
    instrumentation cannot change search results.

    An index built before the health table existed (or whose history
    was removed) yields a neutral no-history report instead of an
    error — upgrading an existing index must not break the monitoring
    entry point."""
    from excel_to_database_spark.operators.io_util import maybe_read_parquet

    _h = maybe_read_parquet(spark, f"{path}/health")
    h = sorted(_h.collect(), key=lambda r: r["seq"]) if _h is not None else []
    if not h:
        return {
            "baseline_mean_dist": None,
            "latest_mean_dist": None,
            "drift_ratio": None,
            "n_appends": 0,
            "n_appended_vectors": 0,
            "rebuild_recommended": False,
            "no_history": True,
        }
    baseline = next(
        (r["mean_dist"] for r in h if r["event"] == "build"),
        h[0]["mean_dist"],
    )
    appends = [r for r in h if r["event"] == "append"]
    latest = appends[-1]["mean_dist"] if appends else baseline
    ratio = (latest / baseline) if baseline > 0 else float("inf")
    return {
        "baseline_mean_dist": baseline,
        "latest_mean_dist": latest,
        "drift_ratio": ratio,
        "n_appends": len(appends),
        "n_appended_vectors": int(sum(r["n"] for r in appends)),
        "rebuild_recommended": ratio > rebuild_ratio,
    }


def whiten_embeddings(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int | None = None,
    eps: float = 1e-6,
) -> DataFrame:
    """PCA-whiten an embedding column (the SemDeDup/retrieval
    preprocessing step: decorrelate dimensions and equalize variance so
    cosine stops being dominated by a few high-variance axes).

    Scale split: the corpus-sized work — mean and covariance — is ONE
    ``mapInPandas`` pass that accumulates a per-PARTITION Gram partial
    (count, Σx, XᵀX as numpy float64) and emits it as dim·(dim+1)/2 +
    dim + 1 scalar (i, j, value) rows per partition; one groupBy-sum
    exchange reduces the partials and only O(dim²) scalars ever reach
    the driver. (The previous formulation exploded the dim² struct
    pairs PER ROW — correct, but at dim=1024 each row materialized
    ~524k structs before partial aggregation; the partition-level
    accumulation shuffles the same dim² partials with zero per-row
    blowup.) The dim×dim eigendecomposition runs on the DRIVER
    (microseconds, independent of corpus size), and the whitening
    matrix W = V·Λ^{-1/2}·Vᵀ ships back broadcast. This is the
    canonical big-data/small-model split: no stage touches more than
    O(dim²) driver-side state, and per-task memory is bounded by one
    Arrow batch + one dim² float64 accumulator.

    Projection: for small dims (≤ 64) the matmul folds into a
    whole-stage-codegen expression tree (JVM-side, no Python); above
    that the literal tree itself would hold dim² constants, so the
    projection runs as the same Arrow-batched numpy matmul that
    computed the Gram — one vectorized pass either way.

    Deterministic for a fixed corpus (aggregation sums are
    order-independent doubles up to ulp; eigh is deterministic for a
    given matrix); whitened outputs are float64 arrays. Verified by
    property (whitened covariance ≈ identity) in tests, not by SQL
    oracle — eigendecomposition is genuinely non-SQL-expressible."""
    import numpy as _np
    import pandas as _pd

    base = emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    if dim is None:
        dim = len(base.select("v").first()[0])
    d = int(dim)
    iu0, iu1 = _np.triu_indices(d)

    def gram_partials(batches):
        n = 0
        s = _np.zeros(d)
        g = _np.zeros((d, d))
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = _np.vstack(pdf["v"].to_numpy()).astype(_np.float64)
            n += x.shape[0]
            s += x.sum(axis=0)
            g += x.T @ x
        if n == 0:
            return
        # rows: (-1,-1,count) ∪ (i,-1,Σx_i) ∪ (i,j,Σ x_i·x_j) i ≤ j
        i_idx = _np.concatenate(([-1], _np.arange(d), iu0)).astype("int32")
        j_idx = _np.concatenate(([-1], _np.full(d, -1), iu1)).astype("int32")
        vals = _np.concatenate(([float(n)], s, g[iu0, iu1]))
        yield _pd.DataFrame({"i": i_idx, "j": j_idx, "x": vals})

    reduced = (
        base.mapInPandas(gram_partials, "i int, j int, x double")
        .groupBy("i", "j")
        .agg(F.sum("x").alias("s"))
        .collect()
    )
    n = 0.0
    mean = _np.zeros(d)
    raw = _np.zeros((d, d))
    for r in reduced:
        if r["i"] == -1:
            n = r["s"]
        elif r["j"] == -1:
            mean[r["i"]] = r["s"]
        else:
            raw[r["i"], r["j"]] = r["s"]
            raw[r["j"], r["i"]] = r["s"]
    mean /= n
    cov = raw / n - _np.outer(mean, mean)

    vals, vecs = _np.linalg.eigh(cov)
    w_mat = vecs @ _np.diag(1.0 / _np.sqrt(_np.maximum(vals, eps))) @ vecs.T

    if d <= 64:
        # fold mean-subtraction + projection into one expression tree:
        # out[k] = Σ_i (v[i] - mean[i]) · W[i][k]
        mean_lit = F.array(*[F.lit(float(m)) for m in mean])
        centered = F.zip_with("v", mean_lit, lambda x, m: x.cast("double") - m)
        staged = base.withColumn("c", centered)
        out_col = F.array(
            *[
                F.aggregate(
                    F.zip_with(
                        "c",
                        F.array(*[F.lit(float(w_mat[i][k])) for i in range(d)]),
                        lambda x, w: x * w,
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                for k in range(d)
            ]
        )
        return staged.select("id", out_col.alias("white_vec"))

    mean_c, w_c = mean.copy(), w_mat.copy()

    def project(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = _np.vstack(pdf["v"].to_numpy()).astype(_np.float64)
            out = (x - mean_c) @ w_c
            yield _pd.DataFrame(
                {"id": pdf["id"], "white_vec": list(map(list, out))}
            )

    id_type = dict(base.dtypes)["id"]
    return base.mapInPandas(
        project, f"id {id_type}, white_vec array<double>"
    )


def semantic_balanced_sample(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    n_lists: int | None = None,
    salt: str = "sbs",
) -> DataFrame:
    """Cluster-balanced diversity sampling: quantize every vector into
    IVF cells (decimal-exact nearest-centroid, the q125 discipline —
    centroids = the ``n_lists`` lowest-id vectors, ``n_lists=None``
    derives ⌈√N⌉ from a bounded count) and keep a deterministic
    md5-ordered ``k`` per cell. The embedding-space analogue of
    per-source ``group_sample``: a uniform sample over-represents
    dense regions of embedding space, while k-per-cell keeps every
    semantic neighborhood represented — the diversity-subset /
    eval-set construction step (k-center-style coverage without the
    iterative farthest-point passes).

    Returns (id, cell, n_in_cell BIGINT, sample_rank) for the
    survivors. Every step — the √N derivation, the assignment, the
    md5 sample order — is engine-portable, so the sampled set is
    value-exact against the SQL oracle. Scale shape: centroids
    broadcast; assignment is the Arrow sieve + near-tie decimal
    rescore (one narrow corpus pass); the per-cell rank window
    partitions on cell — bounded by cell occupancy, the same dial as
    the dedup blocking."""
    base = emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    base, n_lists, _P = _spread_cpu_dense(base, n_lists)
    cents = (
        base.orderBy(F.asc("id"))
        .limit(n_lists)
        .select(F.col("id").alias("cell"), F.col("v").alias("cv"))
    )
    assigned = _ivf_nearest_cell(base, cents, exact=True)
    h = F.md5(F.concat(F.lit(f"{salt}:"), F.col("id").cast("string")))
    w = Window.partitionBy("cell").orderBy(h.asc(), F.col("id").asc())
    wn = Window.partitionBy("cell")
    return (
        assigned.withColumn("sample_rank", F.row_number().over(w))
        .withColumn("n_in_cell", F.count(F.lit(1)).over(wn).cast("bigint"))
        .filter(F.col("sample_rank") <= k)
        .select("id", "cell", "n_in_cell", "sample_rank")
    )


def prototypicality_prune(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    n_lists: int | None = None,
    keep_frac: float = 0.5,
) -> DataFrame:
    """SSL-prototypes data pruning: score every vector by its cosine
    to its cluster's centroid (its 'prototypicality') and keep the
    LEAST prototypical ``keep_frac`` per cell — the
    easy-example-pruning rule that beats random subsetting at scale
    (prototypical/redundant examples teach a large model little; the
    hard tail carries the information). Clusters are the same
    ⌈√N⌉-cell decimal-exact IVF quantizer as the dedup/sampling
    family.

    Exactness: the centroid is the per-dimension DECIMAL(30,6) sum of
    member values (cosine is scale-invariant, so the un-divided sum
    vector scores identically to the mean and costs no division);
    dot/norms route double products through DECIMAL(30,12); the final
    score is sqrt/mult/divide — all correctly-rounded IEEE ops in
    both engines — so score, rank, and verdict are oracle-exact. The
    keep verdict compares integers (rank·den ≤ num·n).

    Scale shape: one posexplode pass builds (cell, dim) centroid sums
    — map-side combinable, shuffling n_cells×dim partials, the
    quantize_embeddings discipline; the dot products equi-join the
    exploded members to the broadcastable centroid table on
    (cell, pos); the per-cell rank window is bounded by cell
    occupancy, the family's standard dial."""
    base = emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    base, n_lists, _P = _spread_cpu_dense(base, n_lists)
    cents = (
        base.orderBy(F.asc("id"))
        .limit(n_lists)
        .select(F.col("id").alias("cell"), F.col("v").alias("cv"))
    )
    assigned = _ivf_nearest_cell(base, cents, exact=True)
    # widen float32 elements to double BEFORE any decimal cast or
    # product — float→decimal goes through the float's short string
    # repr and float×float stays single-precision, both of which
    # diverge from the oracle's CAST(… AS DOUBLE) arithmetic.
    # Pinned: three consumers (centroid sums, |v|², dots) would each
    # re-run the assignment sieve otherwise.
    ex = pin(
        assigned.select(
            "id", "cell", F.posexplode("v").alias("pos", "val")
        ).withColumn("val", F.col("val").cast("double"))
    )
    cs = ex.groupBy("cell", "pos").agg(
        F.sum(F.col("val").cast("decimal(30,6)")).cast("double").alias("s")
    )
    cn2 = cs.groupBy("cell").agg(
        F.sum((F.col("s") * F.col("s")).cast("decimal(30,12)"))
        .cast("double")
        .alias("sn2")
    )
    vn2 = ex.groupBy("id").agg(
        F.sum((F.col("val") * F.col("val")).cast("decimal(30,12)"))
        .cast("double")
        .alias("vn2")
    )
    dots = (
        ex.join(F.broadcast(cs), ["cell", "pos"])
        .groupBy("id", "cell")
        .agg(
            F.sum((F.col("val") * F.col("s")).cast("decimal(30,12)"))
            .cast("double")
            .alias("dot")
        )
    )
    score = F.when(
        (F.col("vn2") > 0) & (F.col("sn2") > 0),
        F.col("dot") / (F.sqrt("vn2") * F.sqrt("sn2")),
    )
    scored = (
        dots.join(vn2, "id")
        .join(F.broadcast(cn2), "cell")
        .select("id", "cell", score.alias("proto_cos"))
    )
    from fractions import Fraction

    fr = Fraction(keep_frac).limit_denominator(1_000_000)
    num, den = fr.numerator, fr.denominator
    w = Window.partitionBy("cell").orderBy(
        F.coalesce(F.col("proto_cos"), F.lit(-2.0)).asc(), F.col("id").asc()
    )
    wn = Window.partitionBy("cell")
    return (
        scored.withColumn(
            "cell_rank", F.row_number().over(w).cast("bigint")
        )
        .withColumn("n_in_cell", F.count(F.lit(1)).over(wn).cast("bigint"))
        .withColumn(
            "keep",
            F.col("cell_rank") * F.lit(den) <= F.lit(num) * F.col("n_in_cell"),
        )
        .select("id", "cell", "proto_cos", "cell_rank", "n_in_cell", "keep")
    )


def dim_ablation_report(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dims: tuple = (8, 16, 32, 64),
):
    """Matryoshka-style dimension-ablation report: how much does
    truncating embeddings to their first D dimensions perturb pairwise
    cosine similarity?  For each prefix length D in ``dims`` the
    report row carries (dim, n_pairs, sum_qdelta, mean_abs_cos_delta)
    where delta = |cos_D(x,y) − cos_full(x,y)| over a deterministic
    pairing (each even id with its successor) — the decision artifact
    behind "can we store/search 16 of the 64 dims".

    Scale shape: the pairing is ONE equi-join on id+1 (never a pair
    sample that shuffles twice), per-pair per-D scores are a single
    projection over the joined rows, and the report aggregates to
    |dims| rows.  No sort, no window over data rows.

    Exactness discipline (the float32 trap): elements are widened
    float→double BEFORE quantization; vectors are quantized once to
    integers (floor(x·2²⁰) — one IEEE product + floor, identical
    everywhere), every dot/norm is an exact bigint sum of bigint
    products, cosine is ONE double division by ONE sqrt of the
    norms' double product, and the per-pair |delta| is re-quantized
    (floor(|Δ|·2³⁰)) so the corpus aggregate is an exact integer sum
    — order-free, hence engine- and partitioning-portable.  The final
    mean is a single division of that integer pair by n_pairs·2³⁰."""
    q = F.expr(
        f"transform({vec_col}, x -> cast(floor(cast(x as double) * 1048576) as bigint))"
    )
    base = df.select(F.col(id_col).alias("id"), q.alias("qv"))
    left = base.filter(F.col("id") % 2 == 0)
    right = base.select((F.col("id") - 1).alias("id"), F.col("qv").alias("qw"))
    pairs = left.join(right, "id")

    def cos(d: int) -> Column:
        dot = F.expr(
            f"aggregate(zip_with(slice(qv, 1, {d}), slice(qw, 1, {d}),"
            " (a, b) -> a * b), cast(0 as bigint), (acc, x) -> acc + x)"
        )
        nx = F.expr(
            f"aggregate(slice(qv, 1, {d}), cast(0 as bigint), (acc, x) -> acc + x * x)"
        )
        ny = F.expr(
            f"aggregate(slice(qw, 1, {d}), cast(0 as bigint), (acc, x) -> acc + x * x)"
        )
        denom = F.sqrt(nx.cast("double") * ny.cast("double"))
        return F.when(denom > 0, dot.cast("double") / denom).otherwise(F.lit(0.0))

    full = max(dims)
    rows = [
        F.struct(
            F.lit(d).cast("int").alias("dim"),
            F.floor(F.abs(cos(d) - cos(full)) * F.lit(1073741824.0))
            .cast("bigint")
            .alias("qdelta"),
        )
        for d in dims
    ]
    return (
        pairs.select(F.explode(F.array(*rows)).alias("r"))
        .select("r.dim", "r.qdelta")
        .groupBy("dim")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum("qdelta").alias("sum_qdelta"),
        )
        .select(
            "dim",
            "n_pairs",
            "sum_qdelta",
            (
                F.col("sum_qdelta").cast("double")
                / (F.col("n_pairs") * F.lit(1073741824)).cast("double")
            ).alias("mean_abs_cos_delta"),
        )
    )


# ---------------------------------------------------------------------------
# Johnson-Lindenstrauss random projection (q203)
# ---------------------------------------------------------------------------


def jl_signs(k: int, dim: int) -> list:
    """Deterministic ±1 Rademacher projection matrix (k rows × dim
    cols) from md5 parity — reproducible across reruns/backfills with
    no RNG state, the property a sharded 100 TB projection pass needs
    (every executor derives the identical matrix; nothing is
    broadcast). Computable without a SparkSession, so the SQL oracle
    inlines the same literals."""
    import hashlib

    return [
        [
            1 - 2 * (hashlib.md5(f"jl:{j}:{i}".encode()).digest()[0] & 1)
            for i in range(dim)
        ]
        for j in range(k)
    ]


def jl_distortion_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    k: int = 16,
    scale: int = 256,
) -> DataFrame:
    """Johnson-Lindenstrauss projection + distortion audit: project
    each embedding to ``k`` dims through a deterministic ±1 matrix and
    report, per adjacent-id pair, how well projected squared distance
    preserves original squared distance — the measurement that decides
    whether a cheap k-dim sketch can replace the full vector in a
    first-pass ANN or dedup filter.

    Exactness: elements quantize to ``floor(x·scale)`` bigints
    (float→double cast and floor are engine-exact), projections are
    integer dot products with the ±1 literals, both squared distances
    are exact integer sums, and the distortion is one double division
    of exact bigint products (NULL when the originals coincide).
    Normalization: each ±1 row has E[(r·x)²] = ‖x‖², so the unbiased
    estimate is ``rho = d_proj² / (k·d_orig²)`` — no input-dimension
    factor (that belongs to SPARSE JL matrices, not Rademacher).

    Scale shape: the projection is a per-row map (zero shuffle, k·dim
    multiply-adds in whole-stage codegen); the audit pairing is ONE
    id+1 equi-join (the q184 discipline — never all-pairs)."""
    R = jl_signs(k, dim)
    q = F.transform(
        F.col(vec_col), lambda x: F.floor(x.cast("double") * F.lit(float(scale)))
    )
    y = F.array(
        *[
            F.aggregate(
                F.zip_with(
                    F.col("q"),
                    F.array(*[F.lit(s) for s in R[j]]),
                    lambda a, b: a * b,
                ),
                F.lit(0).cast("bigint"),
                lambda acc, x: acc + x,
            )
            for j in range(k)
        ]
    )
    base = df.select(F.col(id_col).alias("id"), q.alias("q")).select(
        "id", "q", y.alias("y")
    )
    right = base.select(
        (F.col("id") - 1).alias("id_m"), F.col("q").alias("q2"), F.col("y").alias("y2")
    )
    sq = lambda u, v: F.aggregate(  # noqa: E731
        F.zip_with(F.col(u), F.col(v), lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    pairs = base.join(right, F.col("id") == F.col("id_m"))
    d_o = sq("q", "q2")
    d_p = sq("y", "y2")
    return pairs.select(
        F.col("id").alias("vec_id"),
        d_o.alias("dist_orig_sq"),
        d_p.alias("dist_proj_sq"),
        F.when(
            d_o > 0, d_p.cast("double") / (d_o * F.lit(k)).cast("double")
        ).alias("rho"),
    )


def embedding_robust_stats(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    scale: int = 1 << 20,
    mad_k: int = 10,
) -> DataFrame:
    """Per-dimension ROBUST statistics of an embedding column —
    lower-median and MAD (median absolute deviation) with an outlier
    count — the hygiene pass a pipeline runs before quantization or
    index build (q138's min/max codebook is one corrupt vector away
    from a useless range; median/MAD are not).

    Exactness: elements quantize to ``floor(x·scale)`` bigints; the
    median is the LOWER-MEDIAN ORDER STATISTIC (rank ⌈n/2⌉ by
    (value, id) — discrete, no interpolation, so there is no
    cross-engine float arithmetic to match); MAD is the same statistic
    of |x − median|; an outlier is ``|x − median| > mad_k · MAD``
    (integer comparison).

    Scale shape (round-17, guide §2.4): a DIMENSION is the textbook
    low-cardinality group, and BOTH statistics are pure per-dim VALUE
    order statistics — the lower median is the value at rank ⌈n/2⌉ by
    (value, id), and the id tiebreaker cannot change which VALUE sits
    at a rank — so they come from ``selection._grouped_descend``, the
    one histogram-descent engine, with ZERO data shuffles. Rounds 15–16
    ranked every exploded element through two group_rank builds (two
    full range exchanges + two localCheckpoints of the
    |vecs|·|dims|-row frame); now: ONE narrow (dim, q) projection
    pinned once, one bounds+count aggregation (``selection.
    _group_bounds``, ≤|dims| driver rows), ≤⌈log₄₀₉₆(range)⌉ shared
    histogram levels for the median, the SAME descent over the derived
    |q − med(dim)| column for the MAD — whose bounds are driver-DERIVED,
    not re-aggregated: min is 0 (the median is itself a data value of the
    dim) and max is max(hi − med, med − lo) — and one final
    aggregation with the two ≤|dims|-entry statistic maps attached as
    literals. The id column never leaves the source scan (guide §2.3:
    project before everything). Returns
    ``(dim, n, median_q, mad_q, n_outliers)``."""
    from excel_to_database_spark.operators.selection import (
        _group_bounds,
        _grouped_descend,
    )

    # the result reads ex lazily: keep the pin on success (session-level
    # eviction owns it), release it if construction fails
    with pinned(
        df.select(F.posexplode(vec_col).alias("dim", "x")).select(
            "dim",
            F.floor(F.col("x").cast("double") * F.lit(float(scale))).alias("q"),
        ),
        keep=True,
    ) as ex:
        # bounded: one row per dimension; materializes the pin
        bounds, totals = _group_bounds(ex, "dim", "q")
        med_targets = {d: [("med", (n + 1) // 2)] for d, n in totals.items()}
        med = {
            d: v[0]
            for (d, _), v in _grouped_descend(
                ex, "dim", "q", med_targets, bounds
            ).items()
        }
        med_map = F.create_map(
            *[
                c
                for d in med
                for c in (F.lit(d), F.lit(med[d]).cast("bigint"))
            ]
        )  # values cast uniformly: lit() types int32/int64 by magnitude
        dev = ex.select(
            "dim", F.abs(F.col("q") - F.element_at(med_map, F.col("dim"))).alias("d")
        )
        # MAD bounds are driver-derived: the median IS a data value of
        # its dim, so min |q − med| = 0; max is at one of the q extremes
        dev_bounds = {
            d: (0, max(bounds[d][1] - med[d], med[d] - bounds[d][0])) for d in med
        }
        mad = {
            d: v[0]
            for (d, _), v in _grouped_descend(
                dev, "dim", "d", med_targets, dev_bounds
            ).items()
        }
        mad_map = F.create_map(
            *[
                c
                for d in mad
                for c in (F.lit(d), F.lit(mad[d]).cast("bigint"))
            ]
        )
    return (
        ex.groupBy("dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(
                    F.abs(F.col("q") - F.element_at(med_map, F.col("dim")))
                    > F.lit(mad_k) * F.element_at(mad_map, F.col("dim")),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
        .select(
            F.col("dim").cast("int").alias("dim"),
            F.col("n").cast("bigint").alias("n"),
            F.element_at(med_map, F.col("dim")).cast("bigint").alias("median_q"),
            F.element_at(mad_map, F.col("dim")).cast("bigint").alias("mad_q"),
            "n_outliers",
        )
    )
