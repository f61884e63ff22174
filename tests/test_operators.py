import datetime as dt

from pyspark.sql import functions as F

from excel_to_database_spark.operators.asof import asof_join
from excel_to_database_spark.operators.sessionize import sessionize


def _ts(s):
    return dt.datetime.fromisoformat(s)


def test_asof_backward(spark):
    left = spark.createDataFrame(
        [(1, _ts("2024-01-01T10:00"), "e1"), (1, _ts("2024-01-01T12:00"), "e2"),
         (2, _ts("2024-01-01T09:00"), "e3")],
        "key long, ts timestamp, name string",
    )
    right = spark.createDataFrame(
        [(1, _ts("2024-01-01T09:30"), 100), (1, _ts("2024-01-01T11:00"), 200),
         (1, _ts("2024-01-01T12:00"), 300), (3, _ts("2024-01-01T00:00"), 999)],
        "key long, ts timestamp, val int",
    )
    out = asof_join(
        left, right, left_on="key", right_on="key", left_ts="ts", right_ts="ts",
        payload=["val"], tiebreak="val",
    )
    got = {r["name"]: r["val"] for r in out.collect()}
    # e1@10:00 → 09:30 row; e2@12:00 → inclusive equal-ts 12:00 row; e3 → no match
    assert got == {"e1": 100, "e2": 300, "e3": None}


def test_gapfill_locf_semantics(spark):
    """Gap fill: missing buckets appear with is_observed=False and
    values carried forward from the last real row; each key fills only
    its own [min, max] span; leading rows are observed by construction
    (the grid starts at the key's first real bucket)."""
    from excel_to_database_spark.operators.rollup import gapfill_locf

    rows = [
        ("a", 0, 10), ("a", 30, 13),   # gap at 10, 20
        ("b", 20, 7),                  # single bucket: no fills
    ]
    df = spark.createDataFrame(rows, "k string, bucket long, n long")
    got = {
        (r["k"], r["bucket"]): (r["n"], r["is_observed"])
        for r in gapfill_locf(df, ("k",), "bucket", ("n",), 10).collect()
    }
    assert got == {
        ("a", 0): (10, True),
        ("a", 10): (10, False),
        ("a", 20): (10, False),
        ("a", 30): (13, True),
        ("b", 20): (7, True),
    }


def test_interval_overlap_pairs_semantics(spark):
    """Half-open overlap: touching endpoints ([0,5) vs [5,9)) do NOT
    pair; containment and partial overlap do; pairs never cross keys;
    an interval spanning many grid buckets pairs each partner exactly
    once (DISTINCT collapses multi-cell collisions)."""
    from excel_to_database_spark.operators.asof import interval_overlap_pairs

    rows = [
        (1, 10, 0, 5),
        (1, 11, 5, 9),     # touches 10 at t=5 → no overlap (half-open)
        (1, 12, 3, 6),     # overlaps 10 and 11
        (1, 13, 0, 100),   # spans many buckets; contains 10, 11, 12
        (2, 20, 0, 5),     # other key: pairs with nobody above
    ]
    df = spark.createDataFrame(rows, "k long, id long, s long, e long")
    got = {
        (r["k"], r["id_a"], r["id_b"])
        for r in interval_overlap_pairs(df, "k", "id", "s", "e", bucket_width=4).collect()
    }
    assert got == {
        (1, 10, 12), (1, 11, 12),
        (1, 10, 13), (1, 11, 13), (1, 12, 13),
    }


def test_asof_strict_excludes_equal_ts(spark):
    left = spark.createDataFrame([(1, _ts("2024-01-01T12:00"), "e")], "key long, ts timestamp, name string")
    right = spark.createDataFrame(
        [(1, _ts("2024-01-01T12:00"), 1), (1, _ts("2024-01-01T11:00"), 2)],
        "key long, ts timestamp, val int",
    )
    out = asof_join(left, right, "key", "key", "ts", "ts", ["val"], tiebreak="val", strict=True)
    assert out.collect()[0]["val"] == 2


def test_asof_forward(spark):
    left = spark.createDataFrame([(1, _ts("2024-01-01T10:00"), "e")], "key long, ts timestamp, name string")
    right = spark.createDataFrame(
        [(1, _ts("2024-01-01T09:00"), 1), (1, _ts("2024-01-01T10:30"), 2),
         (1, _ts("2024-01-01T11:00"), 3)],
        "key long, ts timestamp, val int",
    )
    out = asof_join(left, right, "key", "key", "ts", "ts", ["val"], tiebreak="val", direction="forward")
    assert out.collect()[0]["val"] == 2


def test_asof_tiebreak_picks_greatest(spark):
    left = spark.createDataFrame([(1, _ts("2024-01-01T12:00"), "e")], "key long, ts timestamp, name string")
    right = spark.createDataFrame(
        [(1, _ts("2024-01-01T11:00"), 5), (1, _ts("2024-01-01T11:00"), 9)],
        "key long, ts timestamp, val int",
    )
    out = asof_join(left, right, "key", "key", "ts", "ts", ["val"], tiebreak="val")
    assert out.collect()[0]["val"] == 9


def test_sessionize_gap(spark):
    df = spark.createDataFrame(
        [(1, _ts("2024-01-01T10:00"), 1), (1, _ts("2024-01-01T10:10"), 2),
         (1, _ts("2024-01-01T11:30"), 3), (2, _ts("2024-01-01T10:00"), 4)],
        "user long, ts timestamp, eid long",
    )
    out = sessionize(df, key="user", ts="ts", gap_seconds=1800, order_tiebreak="eid")
    got = {r["eid"]: r["session_id"] for r in out.collect()}
    assert got == {1: 1, 2: 1, 3: 2, 4: 1}


def test_sessionize_single_shuffle(spark):
    """Both window passes must reuse one partitioning — exactly one
    Exchange in the plan (scale guard: sessionize is one shuffle)."""
    df = spark.createDataFrame([(1, _ts("2024-01-01T10:00"), 1)], "user long, ts timestamp, eid long")
    plan = sessionize(df, "user", "ts", 60, "eid")._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan


def test_asof_duplicate_left_timestamps(spark):
    """Two left rows at the identical timestamp each get the same
    as-of match (no cross-contamination)."""
    left = spark.createDataFrame(
        [(1, _ts("2024-01-01T12:00"), "e1"), (1, _ts("2024-01-01T12:00"), "e2")],
        "key long, ts timestamp, name string",
    )
    right = spark.createDataFrame(
        [(1, _ts("2024-01-01T11:00"), 7)], "key long, ts timestamp, val int"
    )
    out = asof_join(left, right, "key", "key", "ts", "ts", ["val"], tiebreak="val")
    assert {r["name"]: r["val"] for r in out.collect()} == {"e1": 7, "e2": 7}


def test_salted_join_left_semi(spark):
    from excel_to_database_spark.operators.skew import salted_join
    from pyspark.sql import functions as F

    left = spark.range(100).select((F.col("id") % 5).alias("k"), "id")
    right = spark.createDataFrame([(0,), (1,)], "k long")
    plain = left.join(right, "k", "left_semi")
    salted = salted_join(left, right, "k", "left_semi", salt=4)
    assert sorted(r["id"] for r in plain.collect()) == sorted(
        r["id"] for r in salted.collect()
    )


def test_sessionize_tie_timestamps(spark):
    """Events at the same instant stay in one session, counted once
    each, in tiebreak order."""
    df = spark.createDataFrame(
        [(1, _ts("2024-01-01T10:00"), 1), (1, _ts("2024-01-01T10:00"), 2)],
        "user long, ts timestamp, eid long",
    )
    out = sessionize(df, "user", "ts", 60, "eid").collect()
    assert sorted((r["eid"], r["session_id"]) for r in out) == [(1, 1), (2, 1)]


def test_cms_never_undercounts_and_error_bounded(spark, sf_dir):
    """Count-min invariants on real data: estimate >= exact for every
    probed key (collisions only inflate), and the depth-4 x width-256
    sketch's overestimate stays within eps*N (eps ~ e/width)."""
    import pyspark.sql.functions as F

    from excel_to_database_spark.operators.sketch import cms_build, cms_estimate

    l = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    n_total = l.count()
    sketch = cms_build(l, "l_partkey", depth=4, width=256)
    est = cms_estimate(sketch, l, "l_partkey", depth=4, width=256)
    exact = l.groupBy(F.col("l_partkey").alias("item")).agg(
        F.count(F.lit(1)).alias("exact_cnt")
    )
    rows = exact.join(est, "item").collect()
    assert len(rows) > 0
    eps_n = (2.718 / 256) * n_total
    for r in rows:
        assert r["cms_est"] >= r["exact_cnt"]
        assert r["cms_est"] - r["exact_cnt"] <= eps_n


def test_bloom_no_false_negatives(spark, sf_dir):
    """Every true member passes the bloom probe; false-positive rate of
    the 3x4096 filter stays under 20% on the non-member probes."""
    import pyspark.sql.functions as F

    from excel_to_database_spark.operators.sketch import bloom_build, bloom_probe

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    bloom = bloom_build(o, "o_custkey", n_hashes=3, n_bits=4096)
    hits = {r["item"]: r["bloom_hit"] for r in bloom_probe(bloom, c, "c_custkey").collect()}
    members = {r[0] for r in o.select("o_custkey").distinct().collect()}
    non_members = set(hits) - members
    assert all(hits[m] for m in members if m in hits)
    fp = sum(1 for x in non_members if hits[x])
    assert len(non_members) == 0 or fp / len(non_members) < 0.2


def test_rollup_partials_merge_exactly(spark, sf_dir):
    """Continuous-aggregate mergeability: daily answers computed ONLY
    from hourly partials equal a direct daily aggregation of raw data
    for every additive measure, and the HLL distinct estimate lands
    within 5% of exact. Merges compose: hour → day → week equals
    hour → week directly."""
    from excel_to_database_spark.operators.rollup import (
        merge_partials,
        time_bucket_partials,
    )

    e = spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    hourly = time_bucket_partials(e, bucket_seconds=3600)
    daily = merge_partials(hourly, bucket_seconds=86400)

    raw_daily = e.groupBy(
        (F.floor(F.unix_timestamp("ts") / 86400) * 86400)
        .cast("bigint")
        .alias("bucket_start"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(12,2)")).alias("sum_value"),
        F.countDistinct("user_id").alias("exact_users"),
    )
    got = {
        (r["bucket_start"], r["event_type"]): r
        for r in daily.collect()
    }
    for r in raw_daily.collect():
        g = got[(r["bucket_start"], r["event_type"])]
        assert g["n_events"] == r["n_events"]
        assert g["sum_value"] == r["sum_value"]  # decimal-exact merge
        assert abs(g["approx_distinct"] - r["exact_users"]) <= max(
            1, 0.05 * r["exact_users"]
        )
    assert len(got) == raw_daily.count()

    # composition: (hour → day) → week == hour → week
    week_via_day = merge_partials(daily, bucket_seconds=7 * 86400)
    week_direct = merge_partials(hourly, bucket_seconds=7 * 86400)
    a = {
        (r["bucket_start"], r["event_type"]): (r["n_events"], r["sum_value"], r["approx_distinct"])
        for r in week_via_day.collect()
    }
    b = {
        (r["bucket_start"], r["event_type"]): (r["n_events"], r["sum_value"], r["approx_distinct"])
        for r in week_direct.collect()
    }
    assert a == b  # sketch unions are associative, sums exact


def test_rollup_incremental_refresh(spark, sf_dir):
    """The partial table updates incrementally: partials of (old ∪ new)
    == union of per-batch partials re-merged — appending a batch never
    requires rescanning old raw data."""
    from excel_to_database_spark.operators.rollup import (
        merge_partials,
        time_bucket_partials,
    )

    e = spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    old = e.filter(F.col("event_id") % 2 == 0)
    new = e.filter(F.col("event_id") % 2 == 1)
    # incremental: per-batch hourly partials appended, then re-merged
    # AT THE SAME GRAIN (a merge of partials is itself a valid partial)
    incr_hourly = merge_partials(
        time_bucket_partials(old, 3600).unionByName(
            time_bucket_partials(new, 3600)
        ),
        bucket_seconds=3600,
    ).drop("approx_distinct")
    full_daily = merge_partials(time_bucket_partials(e, 3600), 86400)
    incr_daily = merge_partials(incr_hourly, 86400)
    a = {
        (r["bucket_start"], r["event_type"]): (r["n_events"], r["sum_value"], r["approx_distinct"])
        for r in full_daily.collect()
    }
    b = {
        (r["bucket_start"], r["event_type"]): (r["n_events"], r["sum_value"], r["approx_distinct"])
        for r in incr_daily.collect()
    }
    assert a == b


def test_overlap_builds_order_fallback_and_errors(spark):
    """operators/concurrency.overlap_builds (guide §2.6): results come
    back in argument order, a single thunk runs inline, and a failing
    thunk propagates loudly instead of vanishing — after every thunk
    ran, as the first failure in argument order."""
    import pytest

    from excel_to_database_spark.operators.concurrency import overlap_builds

    def boom(msg):
        def thunk():
            raise ValueError(msg)

        return thunk

    assert overlap_builds(lambda: 1) == [1]
    assert overlap_builds(lambda: 1, lambda: 2, lambda: 3) == [1, 2, 3]
    ran = []
    with pytest.raises(ValueError, match="first failed"):
        overlap_builds(lambda: 1, boom("first failed"), boom("second failed"), lambda: ran.append(4))
    assert ran == [4]


def test_overlap_builds_jobs_carry_the_callers_group(spark):
    """Jobs issued inside overlap_builds' worker threads carry the
    caller's job group and job tags, so a per-query or per-sync group
    sees them, and PySpark does not warn that tags were dropped."""
    import warnings

    from excel_to_database_spark.operators.concurrency import overlap_builds

    def run(n):
        return lambda: (spark.range(n).count(), spark.getTags())

    sc = spark.sparkContext
    sc.setJobGroup("overlap_group", "overlap test")
    spark.addTag("overlap_tag")
    try:
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            outcomes = overlap_builds(run(10), run(20))
    finally:
        spark.removeTag("overlap_tag")
        sc.setJobGroup(None, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert [n for n, _ in outcomes] == [10, 20]
    assert all("overlap_tag" in tags for _, tags in outcomes)
    assert not [w for w in caught if "Tags will not be inherited" in str(w.message)]
    assert len(sc.statusTracker().getJobIdsForGroup("overlap_group")) >= 2


def test_shingles_from_words_matches_shingles(spark):
    """shingles_from_words over a pre-tokenized frame emits exactly
    the (doc, shingle) rows shingles() emits from raw text — the
    q168 single-tokenize-pass contract (round-16)."""
    from excel_to_database_spark.operators import dedup as D
    from excel_to_database_spark.operators.text import words

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps"),
            (2, "the quick brown fox jumps"),
            (3, "too short"),
            (4, ""),
            (5, "a  b\tc   d"),
        ],
        ["id", "txt"],
    )
    a = sorted(map(tuple, D.shingles(df, "id", "txt", 3).collect()))
    staged = df.select(F.col("id").alias("doc"), words(F.col("txt")).alias("w"))
    b = sorted(
        map(tuple, D.shingles_from_words(staged, "doc", "w", 3).collect())
    )
    assert a == b and len(a) > 0
