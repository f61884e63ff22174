"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash
(driver north star; SURVEY.md §2.9 'exact + fuzzy dedup').

Scale design:
  * exact dedup — hash groupBy on a normalized key: one shuffle.
  * n-gram Jaccard — exact pairwise similarity via a shingle-inverted
    index (explode → self-join on shingle → count). Correct but
    quadratic in co-shingled docs; it is the *verifier*, not the
    candidate generator, at scale.
  * MinHash LSH — the scale path: per-doc signature (one groupBy),
    banding, bucket self-join (only colliding docs meet), then exact
    Jaccard verification of the candidates. This is the standard
    shingle→minhash→band→bucket-join pipeline; every stage is a
    DataFrame op with map-side combine.
  * SimHash — per-doc 16-bit fingerprint from token hashes; near-dups
    = fingerprints within Hamming distance d (banding by fingerprint
    prefix generalizes to large corpora).

Hash family: md5 (identical across engines) — minhash hashes each
shingle ONCE and takes per-member lexicographic MINs of hex-rotations
of that digest (see ``minhash_signatures``), which is a valid min-wise
family and lets the DuckDB oracles reproduce signatures bit-for-bit.
No MLlib dependency, no RNG state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from excel_to_database_spark.operators.caching import checkpoint, pin, pinned, unpin
from excel_to_database_spark.operators.text import spread, words
from excel_to_database_spark.operators.io_util import local_frame, maybe_read_parquet as _maybe_read_parquet


def normalized_text(text):
    return F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Group exact duplicates (after whitespace/case normalization):
    representative = min id, plus duplicate count."""
    return (
        df.select(F.col(id_col), normalized_text(F.col(text_col)).alias("__norm"))
        .groupBy("__norm")
        .agg(
            F.min(id_col).alias("representative_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .drop("__norm")
    )


def shingles(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per document: (id, shingle).

    The words array is materialized as a column BEFORE the shingle
    lambda: Spark skips common-subexpression elimination inside
    higher-order-function lambdas, so referencing ``words(text)``
    directly would re-split the text on every array access (measured
    ~10× slower at sf0.1)."""
    staged = spread(df).select(
        F.col(id_col).alias("doc"), words(F.col(text_col)).alias("w")
    )
    return shingles_from_words(staged, "doc", "w", n)


def shingles_from_words(
    df: DataFrame, id_col: str, words_col: str, n: int = 3
) -> DataFrame:
    """The shingle construction of :func:`shingles` over an ALREADY
    tokenized frame (``words_col`` an array<string> of whitespace
    tokens, ``text.words`` order) — for callers that need the words
    array for something else too (q168's n_tokens = size(words)) and
    pin ONE tokenize pass instead of scanning/splitting the corpus
    once per consumer (round-16, guide §2.3). The caller controls
    repartitioning (``shingles`` applies ``spread`` before
    tokenizing); output contract is identical: distinct word n-grams
    as (doc, shingle)."""
    w = F.col(words_col)
    grams = F.when(
        F.size(w) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(w) - n),
            lambda i: F.concat_ws(" ", *[F.get(w, i + j) for j in range(n)]),
        ),
    ).otherwise(F.array())
    return df.select(
        F.col(id_col).alias("doc"),
        F.explode(F.array_distinct(grams)).alias("shingle"),
    )


def char_shingles(df: DataFrame, id_col: str, text_col: str, n: int = 5) -> DataFrame:
    """Distinct character n-gram shingles of the normalized text —
    the word-boundary-free variant (robust to tokenization differences
    and agglutinative scripts). Same output contract as ``shingles``,
    so every downstream stage (jaccard_pairs, minhash, LSH) composes
    unchanged."""
    staged = spread(df).select(
        F.col(id_col).alias("doc"), normalized_text(F.col(text_col)).alias("t")
    )
    t_col = F.col("t")
    grams = F.when(
        F.length(t_col) >= n,
        F.transform(
            F.sequence(F.lit(1), F.length(t_col) - n + 1),
            lambda i: F.substring(t_col, i, n),
        ),
    ).otherwise(F.array())
    return staged.select("doc", F.explode(F.array_distinct(grams)).alias("shingle"))


def _char_span_edges(
    df: DataFrame, id_col: str, text_col: str, min_len: int
) -> DataFrame:
    """Star edges (window-rep, doc) for ``char_span_dedup`` in ONE
    pass over the window index: min(doc) and count over a window
    PARTITIONed by the digest give each row its window's
    representative without a second consumer. The obvious
    groupBy(h)+join formulation runs the Σ-chars explode+digest TWICE
    and shuffles it twice (the partial-agg below the groupBy exchange
    makes it differ from the join probe's exchange, so Catalyst cannot
    reuse one for the other), and persisting the index to bridge the
    two measured ~3× slower than recomputing. The window variant is
    one Generate, one exchange, one within-partition sort on the
    16-byte binary md5 key (binary, not the 32-char hex string: the
    exchange moves Σ-chars rows, so key width is the shuffle) —
    measured 2.0× faster than the groupBy+join at the 30× scale check
    (10.0s vs 20.4s, 47M windows) and strictly fewer Σ-chars passes at
    any scale. A boilerplate window shared by d docs is d ROWS in one
    partition (never an array, never a driver structure), so skew
    degrades smoothly. collect_set-per-window was measured too (14.1s)
    and loses; it also materializes d-sized arrays, which a 100 TB hot
    window would turn into an OOM. Factored out of ``char_span_dedup``
    so the plan contract (one Generate, a Window, no join) is
    assertable on the pre-CC frame — connected_components cuts lineage
    per round, hiding the index stage from the final plan."""
    g = char_shingles(df, id_col, text_col, n=min_len).select(
        "doc", F.unhex(F.md5("shingle")).alias("h")
    )
    w = Window.partitionBy("h")
    return (
        g.select(
            "doc",
            F.min("doc").over(w).alias("rep"),
            F.count(F.lit(1)).over(w).alias("c"),
        )
        .filter((F.col("c") > 1) & (F.col("doc") != F.col("rep")))
        .select(F.col("rep").alias("doc_a"), F.col("doc").alias("doc_b"))
        .distinct()
    )


def char_span_dedup(
    df: DataFrame, id_col: str, text_col: str, min_len: int = 50
) -> DataFrame:
    """Character-exact substring dedup, SURVIVOR form — the operator a
    100 TB pipeline actually runs (``char_span_pairs`` is the
    forensic pair-level view): docs whose normalized texts share any
    ≥ ``min_len``-char substring are transitively clustered, and the
    minimum doc id of each cluster is kept (the q148 keep-first
    discipline at window granularity). Returns (doc, cluster, keep)
    for every doc participating in at least one shared window.

    Scale shape — LINEAR where the pair view is quadratic: a window
    shared by d docs contributes d−1 STAR edges (each doc joined to
    the window's min-doc representative) instead of d² pairs, so edge
    volume is bounded by the window index itself (Σ chars), never by
    duplication density. Star edges connect exactly the same
    components as the full clique — every co-occurring doc reaches the
    representative through its window — so the cluster labels (and
    hence the survivors) are IDENTICAL to what clique pairs would
    produce, which is what the SQL oracle verifies."""
    cc = connected_components(_char_span_edges(df, id_col, text_col, min_len))
    return cc.select(
        "doc", "cluster", (F.col("doc") == F.col("cluster")).alias("keep")
    )


def _split_by_docfreq(sh: DataFrame, max_df: int):
    """Partition the inverted index by shingle document-frequency:
    returns (cold, hot, any_hot) where cold/hot are (doc, shingle)
    frames with df ≤ / > ``max_df``. The df aggregate and the flagging
    join both reuse ``sh``'s shingle partitioning (no extra exchange).
    ``any_hot`` is a driver-side probe (one aggregation over the cached
    index) so the common no-boilerplate case can keep the exact
    single-join plan with zero guard overhead."""
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    any_hot = not dfreq.filter(F.col("df") > max_df).isEmpty()
    if not any_hot:
        return sh, None, False
    flagged = sh.join(dfreq, "shingle")
    cold = flagged.filter(F.col("df") <= max_df).select("doc", "shingle")
    hot = pin(flagged.filter(F.col("df") > max_df).select("doc", "shingle"))
    return cold, hot, True


def _hot_heavy_docs(
    sizes: DataFrame, hot: DataFrame, threshold: float
) -> DataFrame:
    """Docs whose hot-shingle count h reaches threshold·n (n = total
    shingles, from ``sizes``). These are the only docs that can form a
    qualifying pair through hot shingles ALONE: a pair scoring ≥ t
    needs c ≥ t·n_x common shingles on each constrained side x, so if
    every common shingle is hot then h_x ≥ c ≥ t·n_x — i.e. x is
    hot-heavy."""
    hot_counts = hot.groupBy("doc").agg(F.count(F.lit(1)).alias("h"))
    # the 1e-9 slack keeps a boundary doc (h == ceil(t·n)) classified
    # heavy under double rounding — erring inclusive costs a few extra
    # candidates, erring exclusive would cost exactness
    return (
        sizes.join(hot_counts, "doc")
        .filter(F.col("h") >= F.lit(threshold) * F.col("n") - F.lit(1e-9))
        .select("doc")
    )


def _hot_common_counts(
    cand: DataFrame, hot: DataFrame, a: str, b: str
) -> DataFrame:
    """Exact |hot(a) ∩ hot(b)| per candidate pair — a narrow add-back
    join over only the hot rows of only the candidate docs, never a
    hot-shingle self-join."""
    return (
        cand.select(a, b)
        .join(hot.withColumnRenamed("doc", a), a)
        .join(hot.select(F.col("doc").alias(b), "shingle"), [b, "shingle"])
        .groupBy(a, b)
        .agg(F.count(F.lit(1)).alias("c_hot"))
    )


def _overlap_counts(
    sh: DataFrame, threshold: float, max_df: int, a: str, b: str, ordered: bool
) -> tuple[DataFrame, DataFrame]:
    """The inverted-index candidate core of :func:`jaccard_pairs` and
    :func:`containment_pairs`: returns ``(common, sizes)`` — exact
    common-shingle counts (a, b, c) for every doc pair sharing a
    shingle, and per-doc shingle counts (doc, n).

    ``ordered=False`` pairs each unordered pair once (a < b) for a
    score that bounds BOTH sides (Jaccard: c ≥ t·max(n_a, n_b));
    ``ordered=True`` keeps both orders (a != b) for a score that bounds
    only the ``a`` side (containment of a in b: c ≥ t·n_a).

    The shingle self-join is CPU-bound (pair blow-up inside frequent
    shingles) while its input *bytes* are tiny, so AQE would coalesce it
    to one task; the explicit ``repartition(N, shingle)`` pins the
    parallelism (user repartitions are exempt from AQE coalescing) and
    the join reuses that partitioning with no extra exchange. The
    repartitioned frame feeds three consumers (sizes and both join
    sides) and is persisted so the shingle explode runs once.

    Hot-shingle guard (exact, not approximate): one boilerplate shingle
    shared by d docs fans the self-join out to d² rows in a single key,
    so shingles with document frequency > ``max_df`` are excluded from
    the pair-generating join and their contribution is restored by
    exact arithmetic instead:

      * common counts come from COLD shingles only (join fan-out ≤
        max_df² per key), then |hot(a) ∩ hot(b)| is added back per
        candidate pair via a narrow join over only the candidates' hot
        rows — so every reported count is the full exact overlap;
      * a pair whose common shingles are ALL hot has no cold join row.
        Such a pair scoring ≥ t forces c ≥ t·n on every bounded side,
        hence each bounded side is hot-heavy (h ≥ t·n) — so joining
        hot shingles of hot-heavy docs (against hot-heavy docs when
        both sides are bounded, against ALL hot rows when only ``a``
        is) recovers exactly the missing candidates. Lossless for the
        threshold, with the quadratic confined to boilerplate-dominated
        docs.

    When no shingle exceeds ``max_df`` (probed against the cached
    index) the plan is the unguarded single join, byte-for-byte."""
    n_part = sh.sparkSession.sparkContext.defaultParallelism
    sh = pin(sh.repartition(n_part, "shingle"))
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("n"))
    cold, hot, any_hot = _split_by_docfreq(sh, max_df)

    def self_join(left: DataFrame, right: DataFrame) -> DataFrame:
        keep = F.col(a) != F.col(b) if ordered else F.col(a) < F.col(b)
        return (
            left.select(F.col("doc").alias(a), "shingle")
            .join(right.select(F.col("doc").alias(b), "shingle"), "shingle")
            .filter(keep)
        )

    common = self_join(cold, cold).groupBy(a, b).agg(F.count(F.lit(1)).alias("c"))
    if any_hot:
        heavy = hot.join(_hot_heavy_docs(sizes, hot, threshold), "doc")
        hot_pairs = self_join(heavy, hot if ordered else heavy).select(a, b).distinct()
        cand = (
            common.unionByName(
                hot_pairs.withColumn("c", F.lit(0).cast("long"))
            )
            .groupBy(a, b)
            .agg(F.max("c").alias("c"))
        )
        c_hot = _hot_common_counts(cand, hot, a, b)
        common = cand.join(c_hot, [a, b], "left").select(
            a, b, (F.col("c") + F.coalesce("c_hot", F.lit(0))).alias("c")
        )
    return common, sizes


def _jaccard(common: DataFrame, sizes: DataFrame, threshold: float) -> DataFrame:
    """(doc_a, doc_b, jaccard ≥ threshold) from common-shingle counts
    (doc_a, doc_b, c) and per-doc shingle counts (doc, n):
    c / (n_a + n_b − c)."""
    sa = sizes.select(F.col("doc").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc").alias("doc_b"), F.col("n").alias("nb"))
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("c").cast("double")
                / (F.col("na") + F.col("nb") - F.col("c"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def jaccard_pairs(
    sh: DataFrame, threshold: float, max_df: int = 4096
) -> DataFrame:
    """Exact Jaccard over shingle sets via inverted index:
    (doc_a, doc_b, jaccard) for pairs ≥ threshold. Candidates and
    their exact common counts come from :func:`_overlap_counts`
    (repartitioned shingle self-join with the exact hot-shingle guard
    for shingles in more than ``max_df`` docs); Jaccard bounds both
    docs of a pair."""
    common, sizes = _overlap_counts(
        sh, threshold, max_df, "doc_a", "doc_b", ordered=False
    )
    return _jaccard(common, sizes, threshold)


def containment_pairs(
    sh: DataFrame, threshold: float, max_df: int = 4096
) -> DataFrame:
    """Asymmetric containment C(sub ⊆ super) = |sub ∩ super| / |sub|
    over shingle sets: (doc_sub, doc_super, containment) for ORDERED
    pairs ≥ threshold. The asymmetric score is what catches
    subset-duplicates that Jaccard misses — a short doc fully embedded
    in a long one has high containment but low Jaccard (the union is
    dominated by the long doc), so a Jaccard-threshold dedup never
    pairs them.

    Same inverted-index core and hot-shingle guard as
    ``jaccard_pairs`` (:func:`_overlap_counts`), with one asymmetry:
    containment ≥ t only bounds the SUB side (c ≥ t·n_sub ⇒ sub is
    hot-heavy; the super side is unconstrained), so the hot-only
    candidate recovery joins hot shingles of hot-heavy subs against
    hot shingles of ALL docs — the fan-out per hot shingle is
    |hot-heavy subs| · df, quadratic only when boilerplate-dominated
    docs are themselves numerous."""
    common, sizes = _overlap_counts(
        sh, threshold, max_df, "doc_sub", "doc_super", ordered=True
    )
    ssub = sizes.select(F.col("doc").alias("doc_sub"), F.col("n").alias("n_sub"))
    return (
        common.join(ssub, "doc_sub")
        .select(
            "doc_sub",
            "doc_super",
            (F.col("c").cast("double") / F.col("n_sub")).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


def subsequence_containments(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """Exact word-aligned substring dedup: (doc_sub, doc_super) where
    doc_sub's normalized word sequence occurs contiguously inside
    doc_super's. Equal texts pair once, ordered by id.

    Candidate generation is pigeonhole-complete without an all-pairs
    scan: if sub's words occur contiguously in super, every word
    ``n``-gram of sub is a shingle of super — so joining each doc's
    single MIN shingle (one representative row per doc) against the
    full inverted shingle index finds every true containment among
    docs with ≥ ``n`` words. The candidate side is |docs| rows, not
    |docs|² — the join fans out only inside docs sharing that one
    shingle. Verification is a space-guarded substring test on the
    normalized text, so mid-word matches don't false-positive."""
    norm = df.select(
        F.col(id_col).alias("doc"), normalized_text(F.col(text_col)).alias("t")
    )
    sh = shingles(df, id_col, text_col, n)
    rep = sh.groupBy("doc").agg(F.min("shingle").alias("shingle"))
    cand = (
        rep.withColumnRenamed("doc", "doc_sub")
        .join(sh.withColumnRenamed("doc", "doc_super"), "shingle")
        .filter(F.col("doc_sub") != F.col("doc_super"))
        .select("doc_sub", "doc_super")
        .distinct()
    )
    a = norm.select(F.col("doc").alias("doc_sub"), F.col("t").alias("t_sub"))
    b = norm.select(F.col("doc").alias("doc_super"), F.col("t").alias("t_super"))
    guarded_sub = F.concat(F.lit(" "), F.col("t_sub"), F.lit(" "))
    guarded_super = F.concat(F.lit(" "), F.col("t_super"), F.lit(" "))
    return (
        cand.join(a, "doc_sub")
        .join(b, "doc_super")
        .filter(F.instr(guarded_super, guarded_sub) > 0)
        .filter(
            (F.length("t_sub") < F.length("t_super"))
            | (
                (F.length("t_sub") == F.length("t_super"))
                & (F.col("doc_sub") < F.col("doc_super"))
            )
        )
        .select("doc_sub", "doc_super")
    )


def char_span_pairs(
    df: DataFrame, id_col: str, text_col: str, min_len: int = 50
) -> DataFrame:
    """Character-exact substring dedup: (doc_a, doc_b, n_shared) for
    every unordered doc pair whose NORMALIZED texts share a common
    substring of length ≥ ``min_len`` characters — matches may cross
    word boundaries (the deduplicate-text-datasets semantic at fixed
    match length, which q79's word-aligned containment cannot see).

    Exact with no verification pass, by construction: a shared
    substring of length ≥ L exists IFF some length-L window of one
    text equals a length-L window of the other, so the operator is
    one distinct-window index (``char_shingles`` at n = L) self-joined
    on the window — suffix-array answer, inverted-index plan shape.
    ``n_shared`` counts the distinct shared windows (a shared run of
    length M ≥ L contributes M − L + 1 of them, so longer overlaps
    score higher).

    Scale: index rows = Σ chars (the same O(total corpus characters)
    a suffix array costs). The join key is the 16-byte binary md5 of
    the window, not the window text (16 vs ``min_len`` bytes per
    shuffled row; md5 is already the engine's portable digest family,
    so the SQL oracle hashes the same windows to keys with identical
    equality — unhex is injective — and the comparison stays
    value-exact, collisions included). The self-join is hinted
    SHUFFLE_HASH: both sides are the Σ-chars index, and sort-merge
    would sort them twice (the q157 lesson). Boilerplate windows
    shared by d docs legitimately produce d² pairs — that IS the
    answer here (pair-level semantics), unlike jaccard_pairs where
    hot shingles only mediate a score."""
    # the window explode is Σ-chars work hiding behind a small doc
    # row count — a single-partition parquet would serialize it into
    # one task; spread the docs first so explode+digest parallelize
    g = char_shingles(df, id_col, text_col, n=min_len).select(
        "doc", F.unhex(F.md5("shingle")).alias("h")
    )
    a = g.select(F.col("doc").alias("doc_a"), "h")
    b = g.select(F.col("doc").alias("doc_b"), "h")
    return (
        a.join(b.hint("shuffle_hash"), "h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


def minhash_signatures(sh: DataFrame, num_hashes: int = 16) -> DataFrame:
    """Per-doc MinHash signature from ONE digest per shingle row:
    member i = MIN over shingles of md5(shingle) rotated left by 2·i
    hex chars (rotation 0 = the digest itself).

    One md5 pass instead of ``num_hashes`` independent
    ``md5(seed:shingle)`` passes — measured as the q76 cost center at
    16 hashes. The rotations stay a valid min-wise family: every
    rotation of a uniform 128-bit digest is uniform, and member i's
    minimum is decided by the digest chars from position 2·i+1 on —
    disjoint leading positions per member, so the 16 mins are driven by
    (near-)independent bits, the one-permutation-hashing construction.
    String rotation (substr ‖ substr) is engine-portable, so DuckDB
    oracles still reproduce signatures bit-for-bit."""
    if num_hashes > 16:
        raise ValueError("rotation family supports at most 16 members (32 hex chars / 2)")
    staged = sh.select("doc", F.md5(F.col("shingle")).alias("h"))

    def rot(i: int):
        if i == 0:
            return F.col("h")
        return F.concat(
            F.substring("h", 2 * i + 1, 32 - 2 * i), F.substring("h", 1, 2 * i)
        )

    return staged.groupBy("doc").agg(
        *[F.min(rot(i)).alias(f"h{i}") for i in range(num_hashes)]
    )


def lsh_candidates(
    sig: DataFrame,
    bands: int = 4,
    rows: int = 4,
    max_bucket: int | None = 1024,
) -> DataFrame:
    """Band the signature; docs sharing any band bucket are candidates.
    Bucket join only touches colliding docs — never all pairs.

    All bands are exploded out of ONE signature row (posexplode of the
    band-signature array) rather than unioning per-band branches — a
    union would re-execute the signature aggregation once per band.
    The banded frame itself feeds both self-join sides, so it is
    persisted (``bands`` rows per doc — the LSH index you'd
    materialize at corpus scale) instead of re-aggregating the
    signatures per side.

    Hot-bucket guard (the band-join sibling of ``jaccard_pairs``'
    hot-shingle guard): a bucket of d docs fans the self-join out to
    d² rows in ONE join key, so a boilerplate-heavy corpus (masses of
    near-identical documents landing in the same band bucket) turns
    the candidate join quadratic. Buckets larger than ``max_bucket``
    therefore leave the pair join and emit a STAR instead — every
    member paired with the bucket's min-doc representative (d−1 rows,
    linear). Documented semantics of the cap, precisely: within a hot
    bucket, pair-level recall degrades from clique to star, and
    connectivity is preserved exactly on the CANDIDATE graph
    (pre-verification) — a downstream Jaccard verify can DROP star
    edges whose representative happens to be dissimilar, losing those
    members' verified connectivity. ``minhash_lsh_dedup`` restores
    verified connectivity exactly with a residual failed×bucket verify
    round; callers verifying ``lsh_candidates`` output themselves
    should do the same (or pass ``max_bucket=None``). When no bucket
    exceeds the cap (probed with one aggregation over the cached band
    index — the common case, and true for every testdata scale) the
    plan and output are byte-identical to the unguarded join.
    ``max_bucket=None`` disables the guard."""
    banded = pin(_banded(sig, bands, rows))
    cold_pairs, hot = _cold_hot_split(banded, max_bucket)
    if hot is None:
        return cold_pairs.distinct()
    star = _star_edges(hot)
    return (
        cold_pairs.unionByName(
            star.select(
                F.col("rep").alias("doc_a"), F.col("doc").alias("doc_b")
            )
        ).distinct()
    )


def _cold_hot_split(
    banded: DataFrame, max_bucket: int | None
) -> tuple[DataFrame, DataFrame | None]:
    """Split the banded index into cold-bucket candidate pairs and hot
    bucket members. Returns (cold_pairs, hot) where ``hot`` is None
    when no bucket exceeds the cap — in that case ``cold_pairs`` is
    byte-identical to the unguarded self-join."""

    def self_join(idx: DataFrame) -> DataFrame:
        x = idx.select(F.col("doc").alias("doc_a"), "band", "sig")
        y = idx.select(F.col("doc").alias("doc_b"), "band", "sig")
        return (
            x.join(y, ["band", "sig"])
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b")
        )

    any_hot = False
    if max_bucket is not None:
        bsize = banded.groupBy("band", "sig").agg(
            F.count(F.lit(1)).alias("bn")
        )
        any_hot = not bsize.filter(F.col("bn") > max_bucket).isEmpty()
    if not any_hot:
        return self_join(banded), None
    flagged = banded.join(bsize, ["band", "sig"])
    hot = flagged.filter(F.col("bn") > max_bucket).select("doc", "band", "sig")
    return self_join(flagged.filter(F.col("bn") <= max_bucket)), hot


def _star_edges(hot: DataFrame) -> DataFrame:
    """Per hot bucket: every member paired with the bucket's min-doc
    representative — (band, sig, rep, doc), d−1 rows per bucket."""
    reps = hot.groupBy("band", "sig").agg(F.min("doc").alias("rep"))
    return (
        hot.join(reps, ["band", "sig"])
        .filter(F.col("doc") != F.col("rep"))
        .select("band", "sig", "rep", "doc")
    )


def _banded(sig: DataFrame, bands: int, rows: int) -> DataFrame:
    """(doc, band, sig) — one posexplode of the band-signature array
    (the same single-pass banding as ``lsh_candidates``)."""
    band_sigs = F.array(
        *[
            F.concat_ws("|", *[F.col(f"h{b * rows + r}") for r in range(rows)])
            for b in range(bands)
        ]
    )
    return sig.select("doc", F.posexplode(band_sigs).alias("band", "sig"))


def band_index(sig: DataFrame, bands: int = 4, rows: int = 4) -> DataFrame:
    """The persisted corpus-side LSH index: banded signatures
    (``bands`` rows per doc, columns (doc, band, sig)) pinned in
    MEMORY_AND_DISK. At ingest time this is written once; every
    subsequent batch (or micro-batch — streaming/ingest.
    stream_lsh_dedup) joins its own bands against it, so dedup cost is
    proportional to the batch, never the corpus."""
    return pin(_banded(sig, bands, rows))


def lsh_matches_against_index(
    sig_new: DataFrame, index: DataFrame, bands: int = 4, rows: int = 4
) -> DataFrame:
    """Band only the NEW side and probe a pre-banded corpus index (see
    ``band_index``): (doc_new, doc_corpus) distinct candidate pairs.

    Cost is ∝ |batch| + collision volume. On a boilerplate-heavy
    corpus a hot index bucket multiplies every colliding batch doc by
    the bucket's corpus population — run ``exact_dedup`` before
    indexing (identical docs are the usual cause of oversized
    buckets), or cluster-level screening via ``stream_dedup_clusters``
    whose in-batch side carries the ``lsh_candidates`` hot-bucket
    guard."""
    x = _banded(sig_new, bands, rows).select(
        F.col("doc").alias("doc_new"), "band", "sig"
    )
    y = index.select(F.col("doc").alias("doc_corpus"), "band", "sig")
    return x.join(y, ["band", "sig"]).select("doc_new", "doc_corpus").distinct()


def lsh_matches_between(
    sig_new: DataFrame, sig_corpus: DataFrame, bands: int = 4, rows: int = 4
) -> DataFrame:
    """Incremental-ingest LSH: for each NEW doc, the distinct CORPUS
    docs sharing any minhash band bucket — the candidate generator for
    deduplicating a fresh batch *against* an already-ingested corpus
    without ever re-pairing the corpus with itself.

    This is the shape that matters operationally at 100 TB: the corpus
    side's banded signatures are a persisted index (n_bands rows per
    doc, written once at ingest), and each new batch joins only its own
    bands against that index — cost proportional to |batch| + collision
    volume, never |corpus|². Returns (doc_new, doc_corpus) distinct
    pairs: :func:`lsh_matches_against_index` over the corpus bands."""
    return lsh_matches_against_index(
        sig_new, _banded(sig_corpus, bands, rows), bands, rows
    )


def minhash_lsh_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.6,
    max_bucket: int | None = 1024,
) -> DataFrame:
    """Full pipeline: shingle → minhash → band → bucket-join →
    exact-Jaccard verify. Returns (doc_a, doc_b, jaccard ≥ threshold).

    Hot-bucket semantics under ``max_bucket``: the candidate star
    alone is not enough after verification — if a hot bucket's min-doc
    representative fails the Jaccard check against members that are
    mutual near-dups, their verified connectivity would be silently
    lost. So when star edges fail verification, a RESIDUAL round pairs
    each failed member against every member of its bucket and verifies
    those. That restores verified connectivity EXACTLY: for any true
    edge (x, y) in the would-be clique graph, either both endpoints
    pass the representative (connected through it) or one failed and
    the (x, y) pair is in the residual join. Cost is |failed| ×
    bucket-size per bucket — linear when verification mostly succeeds
    (the boilerplate case that makes buckets hot in the first place)
    and degrading toward the unguarded quadratic only when most of a
    hot bucket fails verification, i.e. signature collision without
    similarity, rare at ≥4 rows per band; running ``exact_dedup``
    first removes the usual cause entirely."""
    # shingles feed three consumers (signatures, candidate join, verify
    # join) — persist once instead of re-exploding per consumer;
    # MEMORY_AND_DISK so the cache degrades gracefully at corpus scale.
    # (shingles() itself spreads the docs, so the Σ-chars explode and
    # the 16 string-min signature aggregates — a SortAggregate, no
    # hash-agg form for var-length strings — parallelize even off a
    # few-file parquet scan; that serialization measured as the whole
    # q76 scale slope before the spread.)
    sh = pin(shingles(df, id_col, text_col, n))
    banded = pin(
        _banded(minhash_signatures(sh, num_hashes), bands, num_hashes // bands)
    )
    cold_pairs, hot = _cold_hot_split(banded, max_bucket)
    if hot is None:
        return verify_jaccard(cold_pairs.distinct(), sh, threshold)
    hot = pin(hot)
    star = _star_edges(hot)
    star_ab = star.select(
        "band", "sig", F.col("rep").alias("doc_a"), F.col("doc").alias("doc_b")
    )
    v1 = pin(
        verify_jaccard(
            cold_pairs.unionByName(star_ab.select("doc_a", "doc_b")).distinct(),
            sh,
            threshold,
        )
    )
    failed = star_ab.join(
        v1.select("doc_a", "doc_b"), ["doc_a", "doc_b"], "left_anti"
    ).select("band", "sig", F.col("doc_b").alias("f"))
    if failed.isEmpty():
        return v1
    residual = (
        failed.join(hot, ["band", "sig"])
        .filter(F.col("f") != F.col("doc"))
        .select(
            F.least("f", "doc").alias("doc_a"),
            F.greatest("f", "doc").alias("doc_b"),
        )
        .distinct()
        # the (rep, failed) pairs were already verified (and failed) —
        # don't pay the verify join for them again
        .join(star_ab.select("doc_a", "doc_b"), ["doc_a", "doc_b"], "left_anti")
    )
    v2 = verify_jaccard(residual, sh, threshold)
    return v1.unionByName(v2).dropDuplicates(["doc_a", "doc_b"])


def verify_jaccard(pairs: DataFrame, sh: DataFrame, threshold: float) -> DataFrame:
    """Exact Jaccard for a *given* candidate pair set — the LSH verify
    step. Work is O(|candidates| · shingles-per-doc), NOT the full
    inverted-index sweep: attach doc_a's shingles to each pair, then
    count which also exist for doc_b."""
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("n"))
    a_sh = pairs.join(sh.withColumnRenamed("doc", "doc_a"), "doc_a")
    common = (
        a_sh.join(
            sh.select(F.col("doc").alias("doc_b"), "shingle"), ["doc_b", "shingle"]
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return _jaccard(common, sizes, threshold)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def _nibble(md5col, k: int):
    """k-th hex nibble (1-based) of an md5 hex string as 0..15."""
    return F.conv(F.substring(md5col, k, 1), 16, 10).cast("int")


def simhash_fingerprints(
    df: DataFrame, id_col: str, text_col: str, bits: int = 32
) -> DataFrame:
    """SimHash over distinct words: bit j of md5(word) votes ±1;
    fingerprint bit j = (vote sum > 0). 32 bits by default — enough to
    separate a shared-vocabulary corpus."""
    tok = spread(df).select(
        F.col(id_col).alias("doc"),
        F.explode(F.array_distinct(words(F.col(text_col)))).alias("w"),
    )
    h = F.md5(F.col("w"))
    votes = [
        F.sum(
            (F.shiftright(_nibble(h, 1 + j // 4), j % 4).bitwiseAND(F.lit(1)) * 2 - 1)
        ).alias(f"s{j}")
        for j in range(bits)
    ]
    sums = tok.groupBy("doc").agg(*votes)
    fp = None
    for j in range(bits):
        bit = F.when(F.col(f"s{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        fp = bit if fp is None else fp + bit
    return sums.select("doc", fp.cast("bigint").alias("fingerprint"))


def _simhash_banded(fp: DataFrame, max_distance: int, bits: int) -> DataFrame:
    """(doc, fingerprint, band, chunk): the fingerprint split into
    ``max_distance + 1`` pigeonhole bit-chunks of ceil(bits / bands)
    bits, one row per chunk. Two fingerprints within Hamming distance
    d agree EXACTLY on at least one chunk (≤ d differing bits can
    dirty at most d chunks)."""
    n_bands = max_distance + 1
    width = -(-bits // n_bands)  # ceil
    chunks = F.array(
        *[
            F.shiftright(F.col("fingerprint"), b * width).bitwiseAND(
                F.lit((1 << width) - 1)
            )
            for b in range(n_bands)
        ]
    )
    return fp.select("doc", "fingerprint", F.posexplode(chunks).alias("band", "chunk"))


def _hamming_join(
    x: DataFrame, y: DataFrame, a: str, b: str, max_distance: int
) -> DataFrame:
    """(a, b, hamming ≤ max_distance) over two :func:`_simhash_banded`
    frames: equi-join on (band, chunk), one row per distinct doc pair,
    exact-distance filter. When ``x`` and ``y`` are the same frame (a
    self-join) each unordered pair is kept once, a < b."""
    left = x.select(
        F.col("doc").alias(a), F.col("fingerprint").alias("fa"), "band", "chunk"
    )
    right = y.select(
        F.col("doc").alias(b), F.col("fingerprint").alias("fb"), "band", "chunk"
    )
    joined = left.join(right, ["band", "chunk"])
    if x is y:
        joined = joined.filter(F.col(a) < F.col(b))
    return (
        joined.select(a, b, "fa", "fb")
        .distinct()
        .select(
            a, b, F.bit_count(F.col("fa").bitwiseXOR(F.col("fb"))).alias("hamming")
        )
        .filter(F.col("hamming") <= max_distance)
    )


def simhash_pairs(
    fp: DataFrame, max_distance: int = 3, bits: int = 32
) -> DataFrame:
    """Pairs within Hamming distance ≤ d — via pigeonhole banding, not
    an all-pairs scan: split the fingerprint into d+1 bit-chunks; two
    fingerprints within distance d must agree EXACTLY on at least one
    chunk (≤ d differing bits can dirty at most d chunks). Candidates
    come from equi-joins on (chunk index, chunk value) — the same
    bucket-join shape as MinHash LSH — then the exact Hamming check
    filters. Results are identical to the quadratic scan, guaranteed."""
    # both self-join sides scan the banded fingerprints: persist so the
    # fingerprint aggregation (a groupBy over every token) runs once
    banded = pin(_simhash_banded(fp, max_distance, bits))
    return _hamming_join(banded, banded, "doc_a", "doc_b", max_distance)


def simhash_matches_between(
    new_fp: DataFrame,
    corpus_fp: DataFrame,
    max_distance: int = 3,
    bits: int = 32,
) -> DataFrame:
    """Hamming-≤d matches BETWEEN two fingerprint frames (the probe
    form of :func:`simhash_pairs`, mirroring ``lsh_matches_between``
    for the MinHash family): band both sides into the same pigeonhole
    chunks, equi-join on (band, chunk), exact-distance filter. Returns
    ``(doc_new, doc_corpus, hamming)`` — complete by the pigeonhole
    argument, never an all-pairs scan; per-batch probe cost is
    O(|new| · bands) plus collision volume, independent of corpus
    size."""
    return _hamming_join(
        _simhash_banded(new_fp, max_distance, bits),
        _simhash_banded(corpus_fp, max_distance, bits),
        "doc_new",
        "doc_corpus",
        max_distance,
    )


def clip_vote_pairs(
    frame_fp: DataFrame,
    max_distance: int = 3,
    min_frames: int = 2,
    bits: int = 64,
    frame_stride: int = 1024,
) -> DataFrame:
    """Clip-level (video) near-dup pairs from per-frame fingerprints
    ``(clip, frame_no, fingerprint)`` — a FRAME-OFFSET-TOLERANT vote
    over the same pigeonhole band join every other modality uses: two
    clips are near-dups when ≥ ``min_frames`` of their frames match
    within Hamming ``max_distance`` AT A CONSISTENT TEMPORAL OFFSET
    (a re-encode matches at offset 0; a head-trimmed clip at offset
    ±k — per-offset counting is what makes the vote survive
    frame-boundary shifts without trying all alignments).

    Plan shape: frames re-enter :func:`simhash_pairs` under the
    composite id ``clip · frame_stride + frame_no`` (zero new join
    machinery — the banded equi-join is pigeonhole-complete, never
    all-pairs), intra-clip matches drop, surviving frame pairs
    aggregate to ≤|matching frame pairs| rows keyed (clip_a, clip_b,
    offset), and one more map-side-combinable aggregation picks each
    pair's best offset deterministically (max frame count, ties → the
    smallest offset). Returns ``(clip_a, clip_b, offset,
    n_matching_frames)`` with ``clip_a < clip_b``."""
    enc = frame_fp.select(
        (
            F.col("clip") * F.lit(frame_stride) + F.col("frame_no")
        ).alias("doc"),
        "fingerprint",
    )
    p = simhash_pairs(enc, max_distance=max_distance, bits=bits)
    ca = F.expr(f"doc_a div {frame_stride}")
    cb = F.expr(f"doc_b div {frame_stride}")
    per_off = (
        p.filter(ca != cb)  # doc_a < doc_b already implies ca <= cb
        .groupBy(
            ca.cast("bigint").alias("clip_a"),
            cb.cast("bigint").alias("clip_b"),
            (
                F.expr(f"doc_a % {frame_stride}") - F.expr(f"doc_b % {frame_stride}")
            )
            .cast("bigint")
            .alias("offset"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("nf"))
    )
    best = per_off.groupBy("clip_a", "clip_b").agg(
        F.max(F.struct(F.col("nf"), (-F.col("offset")).alias("no"))).alias("b")
    )
    return best.select(
        "clip_a",
        "clip_b",
        (-F.col("b.no")).cast("bigint").alias("offset"),
        F.col("b.nf").cast("bigint").alias("n_matching_frames"),
    ).filter(F.col("n_matching_frames") >= min_frames)


def shingle_contamination(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    split_col: str = "split",
    train: str = "train",
    test: str = "test",
    n: int = 3,
) -> DataFrame:
    """Benchmark-contamination check: for each ``test``-split document,
    how many of its distinct word n-gram shingles occur in ANY
    ``train``-split document (the standard n-gram-overlap screen run
    before evaluating on held-out data).

    The train shingle set is deduplicated before the probe, so the plan
    is one shuffle on the shingle key (hash-join shape, never doc×doc);
    at corpus scale the train set is the big side and the test probe
    streams against it. Returns (doc, n_shingles, n_contaminated)."""
    train_sh = (
        shingles(docs.filter(F.col(split_col) == train), id_col, text_col, n=n)
        .select("shingle")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    test_sh = shingles(docs.filter(F.col(split_col) == test), id_col, text_col, n=n)
    return (
        test_sh.join(train_sh, "shingle", "left")
        .groupBy("doc")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0))).cast("bigint").alias("n_contaminated"),
        )
    )


def connected_components(
    pairs: DataFrame, a: str = "doc_a", b: str = "doc_b", max_iter: int = 20
) -> DataFrame:
    """Transitive closure of a duplicate-pair graph: (doc, cluster)
    where cluster = the minimum doc id reachable from ``doc`` (so each
    duplicate CLUSTER gets one deterministic representative — the step
    that turns pairwise near-dup output into actual dedup decisions).

    Iterative min-label propagation with pointer jumping AND per-round
    edge CONTRACTION, the scalable CC formulation: each round every
    node takes the min of its own label, its neighbors' labels (one
    shuffle on the edge key), and its label's label (the
    pointer-jumping shortcut join, which collapses chains
    geometrically — O(log diameter) rounds instead of O(diameter)).
    After each round the edge set is rewritten into label space
    (endpoint → its current label) and settled edges — both endpoints
    already sharing a label — are dropped, with parallel edges
    collapsed by ``distinct``: merged clusters contract to single
    nodes, so the per-round join cost shrinks geometrically with
    convergence instead of paying round-count × the FULL edge set
    (the profile that made the un-contracted version trend linear at
    the 30× scale check). Total join work is O(|E|) summed over the
    geometric series, not O(rounds × |E|). Members of a contracted
    cluster leave the edge set but keep tracking their representative
    through the pointer-jump join, one round behind — the convergence
    probe (a driver-side count of changed labels, never a data
    collect) only reads zero once every member has caught up.
    Per-round ``localCheckpoint`` cuts the plan lineage — it
    materializes only the (node, label) frame and the contracted edge
    list (2 columns each, bounded by duplicate volume, the latter
    shrinking), never a corpus-sized table.

    Round-16 fixed-job fold (the group_rank discipline): the label
    frame and every per-round contracted edge list are LAZY
    checkpoints — the per-round convergence count is the materializing
    action for the round's pending checkpoints, so the loop runs ONE
    job per round instead of two, and the two up-front eager jobs
    shrink to one. The edge list itself stays EAGER on purpose: round
    1 references it through two independent stage trees (the
    propagation join and the label build), and a lazy checkpoint would
    race two concurrent computations of the possibly-expensive pair
    pipeline behind ``pairs``; one eager job pins it exactly once.
    Every later lineage reads stored checkpoint blocks only, where a
    duplicate concurrent compute is a cheap local re-read. A round's
    count also supersedes the previous label frame and the edge list
    before the one it materialized, so each is released there: the
    loop holds at most two iterates of each."""
    edges = checkpoint(
        pairs.select(F.col(a).alias("src"), F.col(b).alias("dst"))
        .unionByName(pairs.select(F.col(b).alias("src"), F.col(a).alias("dst")))
        .distinct(),
        # materialized once: every propagation round joins the edge
        # list, and without the eager checkpoint round 1's two stage
        # trees would each re-execute the (potentially expensive)
        # pair-generation pipeline behind ``pairs``
        eager=True,
    )
    labels = held_labels = checkpoint(
        edges.select(F.col("src").alias("doc"))
        .distinct()
        .withColumn("label", F.col("doc")),
        eager=False,
    )
    held_edges = [edges]
    for _ in range(max_iter):
        # shuffle-hash, not sort-merge: the probe side is the full
        # edge list and a SMJ would re-SORT it every round (the
        # checkpoint drops any ordering); the build side is the
        # node-label frame, bounded by |nodes|
        prop = (
            edges.join(labels.hint("shuffle_hash"), edges.src == labels.doc)
            .groupBy(F.col("dst").alias("doc"))
            .agg(F.min("label").alias("nbr_min"))
        )
        stepped = labels.join(prop, "doc", "left").select(
            "doc",
            F.least(F.col("label"), F.coalesce("nbr_min", F.col("label"))).alias(
                "mid_label"
            ),
            "label",
        )
        # pointer jumping: follow the new label one hop (label's label)
        hop = labels.select(
            F.col("doc").alias("mid_label"), F.col("label").alias("hop_label")
        )
        updated = checkpoint(
            stepped.join(hop, "mid_label", "left").select(
                "doc",
                F.least(
                    F.col("mid_label"), F.coalesce("hop_label", F.col("mid_label"))
                ).alias("new_label"),
                "label",
            ),
            eager=False,
        )
        changed = updated.filter(F.col("new_label") < F.col("label")).count()
        # the count materialized ``updated`` and this round's edge list
        unpin(held_labels)
        while len(held_edges) > 1:
            unpin(held_edges.pop(0))
        held_labels = updated
        labels = updated.select("doc", F.col("new_label").alias("label"))
        if changed == 0:
            break
        # contract: endpoints → current labels, settled (intra-cluster)
        # edges dropped, parallel edges collapsed. Build sides are the
        # (node, label) frame — hash, never sort-merge, for the same
        # reason as the propagation join above.
        la = labels.select(F.col("doc").alias("src"), F.col("label").alias("src_l"))
        lb = labels.select(F.col("doc").alias("dst"), F.col("label").alias("dst_l"))
        edges = checkpoint(
            edges.join(la.hint("shuffle_hash"), "src")
            .join(lb.hint("shuffle_hash"), "dst")
            .select(F.col("src_l").alias("src"), F.col("dst_l").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .distinct(),
            # lazy: the NEXT round's convergence count materializes the
            # contracted list (and on the final round it is never built)
            eager=False,
        )
        held_edges.append(edges)
    # the returned labels read only ``updated``'s blocks
    for e in held_edges:
        unpin(e)
    return labels.select("doc", F.col("label").alias("cluster"))


def transitive_closure(
    pairs: DataFrame, a: str = "doc_a", b: str = "doc_b", max_depth: int = 8
) -> DataFrame:
    """Distinct reachable (src, dst) pairs over the symmetric closure
    of a duplicate-pair graph, by SEMI-NAIVE frontier iteration: each
    level joins only the pairs that were NEW at the previous level
    against the edge list, dedups the step, and anti-joins it against
    everything already seen before unioning it in.

    Level i therefore holds each reachable pair exactly once (at its
    shortest path length), so on a dense k-clique the visited set tops
    out at k² rows and the frontier empties after two levels. A
    ``UNION ALL`` recursion that dedups only at the end — the shape
    Spark's recursive CTE forces, since per-level ``UNION`` is
    unsupported ([UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE] as of 4.1) —
    instead multiplies the frontier by cluster degree each level:
    O(degree^depth) intermediate path rows before the final DISTINCT
    sees any of them, a scale-killer on exactly the dense near-dup
    clusters dedup exists to find.

    The edge list is localCheckpoint-ed once (2 columns, bounded by
    duplicate volume) so the possibly-expensive pair pipeline behind
    ``pairs`` never re-executes per level; each level's step frame is
    checkpointed lazily with the emptiness probe (a driver-side count,
    never a data collect) as its materializing action — one job per
    level. Each level's step stays registered until the caller's
    ``evict_caches``: the returned union reads every one of them.
    Levels are O(diameter) capped at ``max_depth`` (each level
    joins the frontier against the STATIC edge list, extending reach
    one hop per level — max_depth=8 covers 9-edge paths); a
    frontier-against-visited join would double paths per level
    (O(log diameter)) at the cost of a growing join target —
    ``connected_components`` is the pointer-jumping variant that takes
    that trade."""
    sym = checkpoint(
        pairs.select(F.col(a).alias("src"), F.col(b).alias("dst"))
        .unionByName(pairs.select(F.col(b).alias("src"), F.col(a).alias("dst")))
        .distinct(),
        # eager ON PURPOSE (round-16 fold review): level 1 references
        # sym THREE times (frontier, edge list, anti-join target) in
        # one job — a lazy checkpoint would race three concurrent
        # stage computations of the expensive pair pipeline behind it
        eager=True,
    )
    visited = sym
    frontier = sym
    # the first level joins the SAME checkpointed frame on all three
    # sides (frontier, edge list, anti-join target) — re-aliasing each
    # side through a select mints fresh expression ids, which Spark's
    # self-join deduplication does not reliably do for checkpointed
    # LogicalRDD relations (NoSuchElementException: key not found)
    for _ in range(max_depth):
        f = frontier.select(F.col("src").alias("f_src"), F.col("dst").alias("f_dst"))
        s = sym.select(F.col("src").alias("s_src"), F.col("dst").alias("s_dst"))
        v = visited.select(F.col("src").alias("v_src"), F.col("dst").alias("v_dst"))
        grown = (
            # hash the static edge side — a sort-merge would re-sort
            # both the frontier and the edge list at every level
            f.join(s.hint("shuffle_hash"), F.col("f_dst") == F.col("s_src"))
            .select(F.col("f_src").alias("src"), F.col("s_dst").alias("dst"))
            .distinct()
        )
        step = checkpoint(
            grown.join(
                v,
                (grown["src"] == v["v_src"]) & (grown["dst"] == v["v_dst"]),
                "left_anti",
            ),
            eager=False,
        )
        if step.count() == 0:
            unpin(step)  # empty, and not part of the result
            break
        visited = visited.unionByName(step)
        frontier = step
    return visited


def edit1_pairs(df: DataFrame, id_col: str, str_col: str) -> DataFrame:
    """Approximate string join at edit distance ≤ 1 (SymSpell
    delete-variant blocking): returns (id_a, id_b, dist) for every
    unordered row pair whose strings are within Levenshtein distance 1
    — without an all-pairs scan.

    Candidate completeness is the SymSpell delete-neighborhood
    theorem: if lev(s, t) ≤ 1 then D(s) ∩ D(t) ≠ ∅ where
    D(x) = {x} ∪ {x with one character deleted} — a substitution pair
    shares the string with the differing position deleted, an
    insert/delete pair has one side inside the other's D, equal
    strings share themselves. Sharing a variant does NOT imply
    lev ≤ 1 (e.g. 'ab'/'ba' share 'a'), so candidates are verified
    with the real ``levenshtein`` — but only candidates, never the
    n² cross product.

    Plan shape — POSITIONAL delete blocking: the variant index is
    Σ (len) delete rows per string carried as (id, 64-bit variant
    hash, deletion position) plus one full-string row at position 0 —
    never the strings. The deletion position joins as part of the
    key, which makes same-length blocking JUNK-FREE: two equal-length
    strings whose position-i deletions are equal differ at most at
    position i, i.e. lev ≤ 1 by construction (deleting any j ≠ i
    keeps the differing position, so only j = i can collide) — each
    substitution pair collides on exactly one (v, i), and equal
    strings collide at position 0. The position-free formulation
    admitted every "shift" pair (delete '0' at 1 of '012' = delete
    '0' at 3 of '120' = '12', lev 2) — measured 29.0M candidates for
    7.9M true pairs at the 30× scale check, vs ~8M junk-free
    positional candidates (9.1s → 6.1s, identical output). Cross-
    length insert/delete pairs come from a second join — full-string
    rows against delete rows on the hash alone (t = delete_i(s) ⇒
    lev = 1 exactly, also junk-free) — so verification only ever
    rejects 64-bit hash collisions; it stays because a collision
    would otherwise be a wrong pair, not for blocking slack.
    Candidates are id-only, deduplicated to UNIQUE pairs, and the
    strings re-attach through two joins against the input (AQE
    broadcasts while the table is small; at corpus scale they
    hash-join). Both candidate joins are hinted SHUFFLE_HASH: the
    probe sides are Σ-chars-shaped and a sort-merge would sort
    them."""
    s = F.col("s")
    dels_arr = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(s), F.lit(1))),
        lambda i: F.concat(
            F.substring(s, F.lit(1), i - 1),
            s.substr(i + 1, F.length(s)),
        ),
    )
    base = df.select(F.col(id_col).alias("id"), F.col(str_col).alias("s"))
    # variant generation is per-row len(s) substring builds — spread a
    # small-file single-partition source before the explode
    base = base.repartition(base.sparkSession.sparkContext.defaultParallelism)
    dels = base.select(
        "id", F.posexplode(dels_arr).alias("p0", "vs")
    ).select("id", F.xxhash64("vs").alias("v"), (F.col("p0") + 1).alias("p"))
    fulls = base.select(
        "id", F.xxhash64("s").alias("v"), F.lit(0).alias("p")
    )
    idx = dels.unionByName(fulls)
    a = idx.select(F.col("id").alias("id_a"), "v", "p")
    b = idx.select(F.col("id").alias("id_b"), "v", "p")
    cand_sub = (
        a.join(b.hint("shuffle_hash"), ["v", "p"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    fa = fulls.select(F.col("id").alias("f_id"), "v")
    db = dels.select(F.col("id").alias("d_id"), "v")
    cand_indel = (
        fa.join(db.hint("shuffle_hash"), "v")
        .filter(F.col("f_id") != F.col("d_id"))
        .select(
            F.least("f_id", "d_id").alias("id_a"),
            F.greatest("f_id", "d_id").alias("id_b"),
        )
    )
    cand = cand_sub.unionByName(cand_indel).dropDuplicates(["id_a", "id_b"])
    na = base.select(F.col("id").alias("id_a"), F.col("s").alias("s_a"))
    nb = base.select(F.col("id").alias("id_b"), F.col("s").alias("s_b"))
    return (
        cand.join(na, "id_a")
        .join(nb, "id_b")
        .select("id_a", "id_b", F.levenshtein("s_a", "s_b").alias("dist"))
        .filter(F.col("dist") <= 1)
    )


def build_lsh_text_index(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    path: str,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    rows: int = 4,
) -> None:
    """Persist the text-dedup LSH index on disk — the text twin of the
    IVF-PQ index lifecycle (similarity.build_ivf_pq_index): banded
    minhash signatures land as one parquet table under
    ``<path>/bands`` plus a 1-row meta table, so the index survives
    sessions and every later batch/stream probes it by equi-join
    instead of re-shingling the corpus. The hash family is stateless
    (md5 rotations), so appends need NO trained artifacts — only the
    parameters recorded in meta, which append/probe re-read to stay
    consistent with the build."""
    sig = minhash_signatures(shingles(docs, id_col, text_col, n), num_hashes)
    _banded(sig, bands, rows).write.mode("overwrite").parquet(f"{path}/bands")
    spark = docs.sparkSession
    n_docs = spark.read.parquet(f"{path}/bands").select("doc").distinct().count()
    local_frame(
        spark,
        [(n, num_hashes, bands, rows, n_docs)],
        "n int, num_hashes int, bands int, rows int, n_docs bigint",
    ).write.mode("overwrite").parquet(f"{path}/meta")


def lsh_text_index_append(
    spark, path: str, new_docs: DataFrame, id_col: str, text_col: str
) -> int:
    """Incremental maintenance: shingle + sign the new batch with the
    parameters recorded in the index meta and append its band rows —
    |batch|-proportional, no corpus rescan. Returns the docs appended,
    counted as the build counts them: a doc shorter than ``n`` words
    has no shingles, so no signature and no band rows, and is not
    counted."""
    meta = spark.read.parquet(f"{path}/meta").collect()[0].asDict()
    sig = minhash_signatures(
        shingles(new_docs, id_col, text_col, int(meta["n"])),
        int(meta["num_hashes"]),
    )
    with pinned(sig) as sig:
        _banded(sig, int(meta["bands"]), int(meta["rows"])).write.mode(
            "append"
        ).parquet(f"{path}/bands")
        n_new = sig.count()  # one signature row per doc with band rows
    local_frame(
        spark,
        [
            (
                int(meta["n"]),
                int(meta["num_hashes"]),
                int(meta["bands"]),
                int(meta["rows"]),
                int(meta["n_docs"]) + n_new,
            )
        ],
        "n int, num_hashes int, bands int, rows int, n_docs bigint",
    ).write.mode("overwrite").parquet(f"{path}/meta")
    return n_new


def lsh_text_index_probe(
    spark, path: str, probe_docs: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Probe the persisted index with a batch of documents: bands the
    probe side with the INDEX's own parameters and equi-joins —
    (doc_new, doc_corpus) distinct candidates, cost ∝ |batch|."""
    meta = spark.read.parquet(f"{path}/meta").collect()[0].asDict()
    sig = minhash_signatures(
        shingles(probe_docs, id_col, text_col, int(meta["n"])),
        int(meta["num_hashes"]),
    )
    index = spark.read.parquet(f"{path}/bands")
    return lsh_matches_against_index(
        sig, index, int(meta["bands"]), int(meta["rows"])
    )


# ---------------------------------------------------------------------------
# Incrementally maintained duplicate-cluster labels
# ---------------------------------------------------------------------------


class _UnionFind:
    """Driver-side union-find with path compression; canonical root is
    the MINIMUM member label, matching connected_components' min-label
    contract so incremental and batch labels agree exactly."""

    def __init__(self):
        self.parent: dict = {}

    def find(self, x):
        p = self.parent
        root = x
        while p.get(root, root) != root:
            root = p[root]
        while p.get(x, x) != x:
            p[x], x = root, p[x]
        return root

    def union(self, a, b):
        ra, rb = self.find(a), self.find(b)
        if ra == rb:
            return
        lo, hi = (ra, rb) if ra < rb else (rb, ra)
        self.parent[hi] = lo


def dedup_cluster_update(
    spark,
    path: str,
    new_ids: DataFrame,
    pairs: DataFrame,
    frontier_cap: int = 100_000,
) -> None:
    """Incrementally maintain persisted duplicate-cluster labels — the
    q100 connected-components contract without ever recomputing from
    scratch: each batch appends its docs and merges components touched
    by its pairs. State layout under ``path``:

      * ``labels`` — (doc, label): one APPEND-ONLY row per doc, the
        component label resolved at insert time;
      * ``canon``  — (label, canon): the union-find forest as an
        APPEND-ONLY delta log. A label that has lost merges may hold
        several rows; because the canonical root is always the MINIMUM
        member, the newest row is the smallest value, so readers (and
        this updater) resolve with ``min(canon)`` — 1-hop, exact.
        ``dedup_cluster_compact`` folds superseded rows away.

    Per-batch cost: one distributed join resolving the pair endpoints'
    labels (new docs default to themselves), a join resolving the
    ≤cap frontier through canon (the historical forest is NEVER
    collected to the driver — its size is merge-bounded but can grow
    toward O(docs) under adversarial duplication), a driver-side
    union-find over the RESOLVED frontier pairs only, an append of
    the merge DELTA rows to canon, and a |batch|-row append to
    labels. A later merge of two grown clusters appends one delta row
    per superseded forest row, not the clusters' member rows — labels
    resolve through canon at read time (``dedup_cluster_labels``),
    which is what keeps maintenance batch-proportional at 100 TB.

    ``new_ids``: one-column frame of this batch's doc ids. ``pairs``:
    (doc_a, doc_b) duplicate pairs with at least one endpoint in the
    batch (new↔new and new↔corpus).

    Frontier routing: the label-pair frontier size is probed with a
    bounded ``limit(cap+1).count()``. At or under ``frontier_cap``
    (the steady-state incremental case) the merge runs through the
    driver union-find. Over the cap — a corpus-sized FIRST batch,
    where every duplicate pair is a label pair — the label graph
    (frontier ∪ existing canon edges) is routed through the
    distributed ``connected_components`` (the q100 plan) and the
    resulting canon mapping is written and applied as a JOIN, so the
    driver never materializes the duplicate graph. Both paths produce
    identical canon content (min-label roots over the same closure),
    which ``tests`` assert on a shared fixture."""
    canon = _maybe_read_parquet(spark, f"{path}/canon")
    labels = _maybe_read_parquet(spark, f"{path}/labels")

    new0 = new_ids.toDF("doc").select(
        "doc", F.col("doc").alias("label")
    )
    # derive the label dtype from the id frame — doc ids need not be
    # integral (string ids flow through min-label semantics unchanged)
    id_type = new0.schema["doc"].dataType.simpleString()
    lab = new0 if labels is None else labels.unionByName(new0)
    la = lab.select(F.col("doc").alias("doc_a"), F.col("label").alias("la"))
    lb = lab.select(F.col("doc").alias("doc_b"), F.col("label").alias("lb"))
    lpairs_df = checkpoint(
        pairs.select("doc_a", "doc_b")
        .join(la, "doc_a")
        .join(lb, "doc_b")
        .select("la", "lb")
        .filter(F.col("la") != F.col("lb"))
        .distinct(),
        # both the routing probe and the chosen path consume this —
        # without the checkpoint the (possibly expensive) pair
        # pipeline would re-execute per consumer
        eager=True,
    )
    over_cap = lpairs_df.limit(frontier_cap + 1).count() > frontier_cap

    if over_cap:
        # distributed path: closure over frontier ∪ historical merges
        graph = lpairs_df
        if canon is not None:
            graph = graph.unionByName(
                canon.select(
                    F.col("label").alias("la"), F.col("canon").alias("lb")
                )
            )
        cc = connected_components(graph, "la", "lb")
        new_canon = checkpoint(
            cc.filter(F.col("doc") != F.col("cluster")).select(
                F.col("doc").alias("label"), F.col("cluster").alias("canon")
            ),
            # lineage through connected_components is already cut by
            # its per-round checkpoints; this one guarantees the
            # overwrite below never reads the files it replaces
            eager=True,
        )
        new_canon.write.mode("overwrite").parquet(f"{path}/canon")
        forest = spark.read.parquet(f"{path}/canon")
        resolve = new0.join(forest, "label", "left")  # AQE picks the strategy
    else:
        # steady-state path: the historical canon forest is NEVER
        # collected (it is merge-count-bounded, but adversarial
        # duplication can grow it toward O(docs)). Instead the ≤cap
        # frontier's endpoints are resolved THROUGH canon with one
        # join (min-resolution — superseded delta rows collapse to
        # the smallest, i.e. newest, root), the driver union-find
        # runs over the resolved frontier only, and the merges are
        # appended to canon as DELTA rows:
        #   * (loser_root → winner_root) for each merge, plus
        #   * superseding rows for every canon row whose root lost —
        #     computed distributed via a broadcast of the driver-small
        #     merge map — so the forest stays 1-hop-resolvable under
        #     the reader's min aggregation.
        if canon is not None:
            cmin = canon.groupBy("label").agg(F.min("canon").alias("_c"))
            lpairs_res = (
                lpairs_df.join(
                    cmin.select(F.col("label").alias("la"), F.col("_c").alias("ca")),
                    "la",
                    "left",
                )
                .join(
                    cmin.select(F.col("label").alias("lb"), F.col("_c").alias("cb")),
                    "lb",
                    "left",
                )
                .select(
                    F.coalesce("ca", "la").alias("la"),
                    F.coalesce("cb", "lb").alias("lb"),
                )
                .filter(F.col("la") != F.col("lb"))
                .distinct()
            )
        else:
            lpairs_res = lpairs_df
        uf = _UnionFind()
        for r in lpairs_res.collect():  # ≤ cap label pairs by routing
            uf.union(r["la"], r["lb"])
        merges = [(x, uf.find(x)) for x in list(uf.parent)]
        merges = [(x, c) for x, c in merges if x != c]
        if merges:
            mdf = local_frame(spark, merges, f"label {id_type}, canon {id_type}")
            delta = mdf
            if canon is not None:
                # canon rows pointing at a losing root are superseded
                # by rows pointing at its new root; the min-label
                # contract (winner < loser) makes the reader's
                # min(cluster) pick the new row exactly
                remap = mdf.select(
                    F.col("label").alias("canon"), F.col("canon").alias("_nc")
                )
                touched = canon.join(F.broadcast(remap), "canon").select(
                    "label", F.col("_nc").alias("canon")
                )
                delta = mdf.unionByName(touched)
            # append-only: the delta scan reads existing canon files
            # while new files land beside them — nothing is replaced
            delta.write.mode("append").parquet(f"{path}/canon")
        forest = local_frame(spark, merges, f"label {id_type}, canon {id_type}")
        resolve = new0.join(F.broadcast(forest), "label", "left")

    # resolve the batch's own labels through the merged forest before
    # appending (insert-time resolution; later merges go through
    # canon). The batch itself never collects.
    (
        resolve.select("doc", F.coalesce("canon", "label").alias("label"))
        .write.mode("append")
        .parquet(f"{path}/labels")
    )


def dedup_cluster_labels(spark, path: str) -> DataFrame:
    """Current cluster label per doc: labels resolved through the
    canon forest with one join (AQE picks broadcast while canon is
    small; it is merge-bounded but may approach O(docs) under
    adversarial duplication, where a shuffled join is the right
    plan). The per-doc min aggregation is load-bearing twice over:
    it collapses duplicate label rows a replayed micro-batch may have
    appended (foreachBatch is at-least-once), and it resolves the
    append-only canon delta log — a superseded label holds several
    canon rows, and because the canonical root is always the MINIMUM
    member, min picks the newest mapping exactly."""
    labels = spark.read.parquet(f"{path}/labels")
    canon = _maybe_read_parquet(spark, f"{path}/canon")
    if canon is not None:
        labels = labels.join(canon, "label", "left").select(
            "doc", F.coalesce("canon", "label").alias("cluster")
        )
    else:
        labels = labels.select("doc", F.col("label").alias("cluster"))
    return labels.groupBy("doc").agg(F.min("cluster").alias("cluster"))


def soft_dedup_weights(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str,
    tokens_col: str,
    a: str = "doc_a",
    b: str = "doc_b",
) -> DataFrame:
    """Soft dedup: DOWN-WEIGHT near-duplicates instead of dropping
    them — every document's sampling weight is 1 / |its duplicate
    cluster| (SoftDeDup-style; removing all-but-one copy loses the
    mild quality signal duplication carries, while equal weights
    over-train on it; 1/n makes each cluster contribute one
    document's worth of expected tokens to the training mixture).

    ``docs`` is one row per document (``id_col``, ``tokens_col``);
    ``pairs`` is any near-dup pair frame (minhash/jaccard/simhash
    output). Clusters come from :func:`connected_components`
    (contracted min-label propagation); documents in no pair form
    singleton clusters via the left join + coalesce — never an
    O(corpus) closure. Returns (doc, cluster, cluster_size BIGINT,
    n_tokens BIGINT, weight DOUBLE, eff_tokens DOUBLE); both doubles
    are single IEEE divisions of exact integers, so the whole frame
    is value-exact against a recursive-CTE SQL oracle. Scale shape:
    the cluster-size frame is bounded by #clusters and every join is
    an equi-join on doc or cluster (AQE broadcasts while duplicate
    volume is small)."""
    cc = connected_components(pairs, a, b)
    # cluster sizes from the BOUNDED cc frame alone: every member of a
    # multi-doc cluster appears in cc exactly once, and a doc absent
    # from cc is definitionally a singleton (size 1) — so sizing off
    # the labeled corpus frame (the round-11..15 shape) re-ran the
    # docs⋈cc join, i.e. a SECOND corpus scan, to learn sizes the
    # duplicate-bounded frame already determines (round-16, guide
    # §2.2: shuffle/scan corpus-sized data only once)
    sizes = cc.groupBy("cluster").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        docs.select(
            F.col(id_col).alias("doc"),
            F.col(tokens_col).cast("bigint").alias("n_tokens"),
        )
        .join(cc, "doc", "left")
        # a NULL cluster (singleton) matches nothing; coalesce to 1
        .join(sizes, "cluster", "left")
        .select(
            "doc",
            F.coalesce("cluster", F.col("doc")).alias("cluster"),
            F.coalesce("cluster_size", F.lit(1).cast("bigint")).alias(
                "cluster_size"
            ),
            "n_tokens",
        )
        .select(
            "doc",
            "cluster",
            "cluster_size",
            "n_tokens",
            (F.lit(1.0) / F.col("cluster_size")).alias("weight"),
            (F.col("n_tokens").cast("double") / F.col("cluster_size")).alias(
                "eff_tokens"
            ),
        )
    )


def decontaminate(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    split_col: str = "split",
    corpus: str = "train",
    benchmark: str = "test",
    n: int = 3,
    max_rate: float = 0.2,
) -> DataFrame:
    """Decontamination DECISION form (:func:`shingle_contamination`
    probes the other direction — test docs vs the train set — and
    only reports): for every ``corpus``-split document, the share of
    its distinct word n-gram shingles that occur in ANY
    ``benchmark``-split document, and the keep/drop verdict at
    ``max_rate`` — what a pretraining pipeline actually executes
    before training on web data that may embed eval benchmarks.

    The keep decision compares INTEGERS (n_contaminated · 1/max_rate
    ≤ n_shingles, with max_rate a dyadic/decimal constant), so the
    verdict is engine-exact even where a float ratio would sit on the
    boundary; shingle-less documents (< n words) are trivially clean
    and keep a NULL rate. Returns (doc, n_shingles, n_contaminated,
    contamination_rate, keep). Plan: the deduplicated benchmark
    shingle set builds once (two-phase hash agg), the corpus side
    probes it with one equi-join on the shingle key — never doc×doc;
    the join-back attaching shingle-less docs is on the doc key."""
    per = shingle_contamination(
        docs, id_col, text_col, split_col, train=benchmark, test=corpus, n=n
    )
    base = docs.filter(F.col(split_col) == corpus).select(
        F.col(id_col).alias("doc")
    )
    # max_rate as an exact rational: keep iff n_cont <= max_rate * n_sh
    # <=> n_cont * denom <= num * n_sh with max_rate = num/denom
    from fractions import Fraction

    fr = Fraction(max_rate).limit_denominator(1_000_000)
    num, den = fr.numerator, fr.denominator
    out = base.join(per, "doc", "left")
    n_sh = F.coalesce(F.col("n_shingles"), F.lit(0)).cast("bigint")
    n_ct = F.coalesce(F.col("n_contaminated"), F.lit(0)).cast("bigint")
    return out.select(
        "doc",
        n_sh.alias("n_shingles"),
        n_ct.alias("n_contaminated"),
        F.when(n_sh > 0, n_ct.cast("double") / n_sh).alias(
            "contamination_rate"
        ),
        (n_ct * F.lit(den) <= F.lit(num) * n_sh).alias("keep"),
    )


def source_overlap(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    group_col: str,
    n: int = 3,
    num_hashes: int = 16,
) -> DataFrame:
    """Corpus overlap matrix: for every pair of GROUPS (sources,
    snapshots, whole corpora) the exact Jaccard of their distinct word
    n-gram shingle sets, next to the MinHash UNION-sketch estimate —
    'how much does crawl X overlap wiki?', the corpus-comparison
    question asked before adding a source to a mixture. The union
    sketch is the point at scale: each group's signature is the
    per-member MIN over ALL its shingles (set-union semantics — the
    same ``minhash_signatures`` family as document LSH, fed group
    rows), so two corpora compare through 2·num_hashes hex strings
    instead of their shingle sets, and signatures of disjoint corpus
    shards union by taking mins again.

    Returns (grp_a, grp_b, n_a, n_b, n_common, jaccard,
    est_jaccard) for grp_a < grp_b. Exact side: deduplicated
    (group, shingle) inverted-index join — pair volume is bounded by
    shared shingle types × groups-per-shingle, never |corpus|². Both
    emitted doubles are single IEEE divisions of exact integers, and
    the sketch itself is deterministic (md5 rotations), so even the
    ESTIMATE is value-exact against the SQL oracle."""
    src = docs.select(
        F.col(id_col).alias("doc"), F.col(group_col).alias("grp")
    )
    gs = pin(
        shingles(docs, id_col, text_col, n)
        .join(src, "doc")
        .select("grp", "shingle")
        .distinct()
    )
    sizes = gs.groupBy("grp").agg(F.count(F.lit(1)).alias("n_sh"))
    a = gs.select(F.col("grp").alias("grp_a"), "shingle")
    b = gs.select(F.col("grp").alias("grp_b"), "shingle")
    common = (
        a.join(b, "shingle")
        .filter(F.col("grp_a") < F.col("grp_b"))
        .groupBy("grp_a", "grp_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sig = minhash_signatures(
        gs.select(F.col("grp").alias("doc"), "shingle"), num_hashes
    )
    siga = sig.select(
        F.col("doc").alias("grp_a"),
        *[F.col(f"h{i}").alias(f"_ha{i}") for i in range(num_hashes)],
    )
    sigb = sig.select(
        F.col("doc").alias("grp_b"),
        *[F.col(f"h{i}").alias(f"_hb{i}") for i in range(num_hashes)],
    )
    pairs = (
        sizes.select(F.col("grp").alias("grp_a"), F.col("n_sh").alias("n_a"))
        .crossJoin(
            sizes.select(
                F.col("grp").alias("grp_b"), F.col("n_sh").alias("n_b")
            )
        )
        .filter(F.col("grp_a") < F.col("grp_b"))
    )
    matches = sum(
        (F.col(f"_ha{i}") == F.col(f"_hb{i}")).cast("int")
        for i in range(num_hashes)
    )
    out = (
        pairs.join(common, ["grp_a", "grp_b"], "left")
        .join(F.broadcast(siga), "grp_a")
        .join(F.broadcast(sigb), "grp_b")
        .withColumn("n_common", F.coalesce("n_common", F.lit(0)).cast("bigint"))
    )
    return out.select(
        "grp_a",
        "grp_b",
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        "n_common",
        (
            F.col("n_common").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
        ).alias("jaccard"),
        (matches.cast("double") / F.lit(num_hashes)).alias("est_jaccard"),
    )


#: default (bands, rows) grid for :func:`lsh_tune` — spans the LSH
#: S-curve from the most selective single 16-row band to the most
#: permissive sixteen 1-row bands, all within the 16-member rotation
#: signature family
LSH_TUNE_GRID: tuple[tuple[int, int], ...] = (
    (1, 16),
    (2, 8),
    (4, 4),
    (8, 2),
    (16, 1),
)


def lsh_tune(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 16,
    grid: tuple[tuple[int, int], ...] = LSH_TUNE_GRID,
    threshold: float = 0.6,
) -> DataFrame:
    """LSH parameter TUNER: sweep ``grid`` of (bands, rows) settings
    over one corpus sample, score each against the exact-Jaccard truth
    pairs, and mark the recall/precision Pareto frontier — the
    decision loop on top of the q178-style audit measurement (run the
    sweep on a sample, pick a frontier point, deploy the sketch on the
    corpus where the exact join is unaffordable).

    One row per grid point: (bands, rows_per_band, n_true,
    n_candidates, n_hit, lsh_recall, lsh_precision, on_frontier).
    Shingles, the 16-member rotation signature, and the truth pairs
    are computed ONCE (pinned), and the WHOLE grid shares ONE
    candidate self-join: every grid point's bands are exploded out of
    the same signature row tagged with the grid index (Σ bands = 31
    rows per doc for the default grid), the self-join keys on
    (grid, band, sig), and per-point counts are one groupBy — the
    round-11 shape ran |grid| separate self-joins and, because the
    per-point candidate frame fed two independent aggregates, executed
    each of them TWICE (10 self-joins for a 5-point grid). Candidates
    run unguarded (``max_bucket=None``): the tuner must measure the
    raw sketch operating point, not the hot-bucket fallback's star
    edges.

    Determinism/exactness: counts are integers; recall/precision are
    single IEEE divisions (defined as 0.0 when the denominator is 0,
    so the frontier is total); frontier dominance is evaluated on
    INTEGER cross-products, never on the derived doubles — recall
    ordering reduces to ``n_hit`` (shared ``n_true``), and precision
    ordering is ``n_hit_o·n_cand_m ≥ n_hit_m·n_cand_o`` with the
    zero-candidate cases split out — so the on_frontier verdict is
    bit-identical in any engine. A point is ON the frontier iff no
    other grid point weakly dominates it with at least one strict
    improvement (duplicate operating points therefore stay on the
    frontier together)."""
    for b, r in grid:
        if b * r > num_hashes:
            raise ValueError(
                f"grid point {(b, r)} needs {b * r} signature members "
                f"but only {num_hashes} are available"
            )
    sh = pin(shingles(docs, id_col, text_col, n))
    sig = pin(minhash_signatures(sh, num_hashes))
    truth = pin(jaccard_pairs(sh, threshold=threshold).select("doc_a", "doc_b"))
    n_true = truth.agg(F.count(F.lit(1)).cast("bigint").alias("n_true"))

    # one tagged banded frame for the WHOLE grid (gp = grid index):
    # Σ bands rows per doc, one explode, one self-join, one hit join
    entries = [
        F.struct(
            F.lit(gi).alias("gp"),
            F.lit(band).alias("band"),
            F.concat_ws(
                "|", *[F.col(f"h{band * r + k}") for k in range(r)]
            ).alias("sig"),
        )
        for gi, (b, r) in enumerate(grid)
        for band in range(b)
    ]
    banded_all = pin(
        sig.select("doc", F.explode(F.array(*entries)).alias("e")).select(
            "doc", "e.gp", "e.band", "e.sig"
        )
    )
    cand = pin(
        banded_all.select(F.col("doc").alias("doc_a"), "gp", "band", "sig")
        .join(
            banded_all.select(F.col("doc").alias("doc_b"), "gp", "band", "sig"),
            ["gp", "band", "sig"],
        )
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("gp", "doc_a", "doc_b")
        .distinct()
    )
    # ONE pass over the candidate set for BOTH counts: a left join
    # tags each candidate with truth membership and a single groupBy
    # emits n_candidates and n_hit together (round-16, the q178
    # fusion: the previous shape read the pinned cand twice and ran a
    # separate inner hit join + aggregate)
    met = (
        cand.join(
            truth.withColumn("_t", F.lit(1).cast("long")),
            ["doc_a", "doc_b"],
            "left",
        )
        .groupBy("gp")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_candidates"),
            F.coalesce(F.sum("_t"), F.lit(0)).cast("bigint").alias("n_hit"),
        )
    )
    # left join off a literal grid frame: a grid point with ZERO
    # candidates must still emit its row (n_candidates = n_hit = 0)
    gp_col = F.col("id").cast("int")
    bands_expr, rows_expr = F.lit(None), F.lit(None)
    for gi, (b, r) in enumerate(grid):
        bands_expr = F.when(gp_col == gi, b).otherwise(bands_expr)
        rows_expr = F.when(gp_col == gi, r).otherwise(rows_expr)
    base = docs.sparkSession.range(len(grid)).select(
        gp_col.alias("gp"),
        bands_expr.cast("int").alias("bands"),
        rows_expr.cast("int").alias("rows_per_band"),
    )
    per_point = (
        base.join(F.broadcast(met), "gp", "left")
        .select(
            "bands",
            "rows_per_band",
            F.coalesce("n_candidates", F.lit(0)).cast("bigint").alias("n_candidates"),
            F.coalesce("n_hit", F.lit(0)).cast("bigint").alias("n_hit"),
        )
    )

    res = per_point.crossJoin(F.broadcast(n_true)).select(
        "bands",
        "rows_per_band",
        "n_true",
        "n_candidates",
        "n_hit",
        F.when(
            F.col("n_true") > 0,
            F.col("n_hit").cast("double") / F.col("n_true"),
        )
        .otherwise(F.lit(0.0))
        .alias("lsh_recall"),
        F.when(
            F.col("n_candidates") > 0,
            F.col("n_hit").cast("double") / F.col("n_candidates"),
        )
        .otherwise(F.lit(0.0))
        .alias("lsh_precision"),
    )
    res = pin(res)  # |grid| rows; both frontier join sides read it

    o = res.select(
        F.col("bands").alias("_ob"),
        F.col("rows_per_band").alias("_or"),
        F.col("n_candidates").alias("_oc"),
        F.col("n_hit").alias("_oh"),
    )
    # integer precision comparison p(o) ? p(m), total under the
    # 0-candidates ⇒ 0.0 convention (n_cand = 0 forces n_hit = 0)
    p_geq = (
        F.when(F.col("n_candidates") == 0, F.lit(True))  # p(m) = 0
        .when(F.col("_oc") == 0, F.col("n_hit") == 0)  # p(o) = 0
        .otherwise(
            F.col("_oh") * F.col("n_candidates") >= F.col("n_hit") * F.col("_oc")
        )
    )
    p_gt = (
        F.when(F.col("_oc") == 0, F.lit(False))  # p(o) = 0 ≤ p(m)
        .when(F.col("n_candidates") == 0, F.col("_oh") > 0)  # p(m)=0 < p(o)
        .otherwise(
            F.col("_oh") * F.col("n_candidates") > F.col("n_hit") * F.col("_oc")
        )
    )
    not_self = (F.col("_ob") != F.col("bands")) | (
        F.col("_or") != F.col("rows_per_band")
    )
    dominates = (
        not_self
        & (F.col("_oh") >= F.col("n_hit"))  # recall: shared n_true
        & p_geq
        & ((F.col("_oh") > F.col("n_hit")) | p_gt)
    )
    dom_cnt = (
        res.join(F.broadcast(o), dominates, "left")
        .groupBy(
            "bands",
            "rows_per_band",
            "n_true",
            "n_candidates",
            "n_hit",
            "lsh_recall",
            "lsh_precision",
        )
        .agg(F.count("_ob").alias("_ndom"))
    )
    return dom_cnt.select(
        "bands",
        "rows_per_band",
        "n_true",
        "n_candidates",
        "n_hit",
        "lsh_recall",
        "lsh_precision",
        (F.col("_ndom") == 0).alias("on_frontier"),
    )


def leakage_safe_split(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    fractions: dict[str, float] | None = None,
    threshold: float = 0.6,
    n: int = 3,
    salt: str = "split",
) -> DataFrame:
    """CLUSTER-aware train/val/test split: every near-dup cluster goes
    to exactly one split, so no near-duplicate pair ever crosses a
    split boundary — the guard against self-contamination that a
    doc-level split cannot give (a train document's near-duplicate in
    the test set leaks the answer). This is the split a training
    pipeline should run AFTER near-dup detection and BEFORE sharding.

    Mechanics: near-dup pairs (word-n-gram Jaccard ≥ ``threshold``) →
    min-label connected components → every doc labeled with its
    cluster (singletons are their own cluster) → the deterministic
    md5 ``hash_split`` applied to the CLUSTER id instead of the doc
    id. Same-cluster docs therefore share a split by construction.

    Returns one row per split: (split, n_docs, n_clusters,
    leaked_pairs_cluster_split, leaked_pairs_doc_split). The two
    global audit columns (repeated per row) count near-dup pairs whose
    endpoints land in different splits — 0 by construction for the
    cluster split, while the doc-level counterfactual (same salt, same
    fractions, keyed on doc_id) shows what a naive split would have
    leaked. Both audits are computed, not asserted: the output PROVES
    the property on this corpus.

    100 TB shape: one shingle pass, the bounded inverted-index pair
    join, the contracted CC loop (the q100 plan), two md5 expressions,
    and ONE pair⋈label equi-join pass — both audit counters (cluster
    split and doc-level counterfactual) ride the same joined frame as
    two conditional sums (round-16: the two audits previously ran two
    independent pair⋈label⋈label join trees and two crossJoined
    1-row aggregates); the per-split aggregate is three rows."""
    from excel_to_database_spark.operators.text import hash_split

    fractions = fractions or {"train": 0.8, "val": 0.1, "test": 0.1}
    sh = pin(shingles(docs, id_col, text_col, n))
    prs = pin(
        jaccard_pairs(sh, threshold=threshold).select("doc_a", "doc_b")
    )
    cc = connected_components(prs)
    labeled = (
        docs.select(F.col(id_col).alias("doc"))
        .join(cc, "doc", "left")
        .select("doc", F.coalesce("cluster", F.col("doc")).alias("cluster"))
    )
    # BOTH split labelings on one frame: the cluster-keyed split (the
    # real assignment) and the doc-keyed counterfactual — same md5
    # bucketing expressions hash_split always used, just side by side
    both = hash_split(labeled, "cluster", fractions, salt=salt).withColumnRenamed(
        "split", "_cs"
    )
    lab = pin(
        hash_split(both, "doc", fractions, salt=salt).withColumnRenamed(
            "split", "_ds"
        )
    )
    a = lab.select(
        F.col("doc").alias("doc_a"),
        F.col("_cs").alias("_ca"),
        F.col("_ds").alias("_da"),
    )
    b = lab.select(
        F.col("doc").alias("doc_b"),
        F.col("_cs").alias("_cb"),
        F.col("_ds").alias("_db"),
    )
    leaks = (
        prs.join(a, "doc_a")
        .join(b, "doc_b")
        .agg(
            F.sum((F.col("_ca") != F.col("_cb")).cast("long"))
            .cast("bigint")
            .alias("leaked_pairs_cluster_split"),
            F.sum((F.col("_da") != F.col("_db")).cast("long"))
            .cast("bigint")
            .alias("leaked_pairs_doc_split"),
        )
        # a pair frame with ZERO rows must still report 0, not null
        .select(
            F.coalesce("leaked_pairs_cluster_split", F.lit(0))
            .cast("bigint")
            .alias("leaked_pairs_cluster_split"),
            F.coalesce("leaked_pairs_doc_split", F.lit(0))
            .cast("bigint")
            .alias("leaked_pairs_doc_split"),
        )
    )
    return (
        lab.groupBy(F.col("_cs").alias("split"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.countDistinct("cluster").cast("bigint").alias("n_clusters"),
        )
        .crossJoin(F.broadcast(leaks))
    )
