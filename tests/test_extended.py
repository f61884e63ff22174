"""Round-2 extension tests: typed-state streaming fold, incremental
LSH matching, and the weighted sampling / winsorize invariants that
the oracle hash alone doesn't spell out."""

import pyspark.sql.functions as F
import pytest


def test_pbshim_roundtrips_state_messages():
    """The clean-room protobuf runtime must round-trip the actual
    generated StateMessage module: construct the request shapes the
    state client builds, serialize, re-parse, compare — including
    oneofs, nested messages, repeated bytes, enums."""
    from excel_to_database_spark.streaming.tws import ensure_protobuf

    # with the vendored minimal runtime the typed-state path activates
    # even without the protobuf distribution
    assert ensure_protobuf() is True
    import google.protobuf  # noqa: F401  (importable after ensure)
    import pyspark.sql.streaming.proto.StateMessage_pb2 as sm

    req = sm.StateRequest(
        stateVariableRequest=sm.StateVariableRequest(
            valueStateCall=sm.ValueStateCall(
                stateName="stats",
                valueStateUpdate=sm.ValueStateUpdate(value=b"\x00\x01\xff"),
            )
        )
    )
    back = sm.StateRequest()
    back.ParseFromString(req.SerializeToString())
    call = back.stateVariableRequest.valueStateCall
    assert call.stateName == "stats"
    assert call.valueStateUpdate.value == b"\x00\x01\xff"
    assert back.WhichOneof("method") == "stateVariableRequest"

    # wire bytes must follow the public encoding: field 2 (oneof),
    # nested lengths, tag wire-type 2
    shs = sm.StateRequest(
        statefulProcessorCall=sm.StatefulProcessorCall(
            setHandleState=sm.SetHandleState(state=sm.CREATED)
        )
    )
    assert shs.SerializeToString() == bytes.fromhex("12040a020801")

    lg = sm.StateResponseWithListGet(
        statusCode=0, value=[b"a", b"bb"], requireNextFetch=True
    )
    l2 = sm.StateResponseWithListGet()
    l2.ParseFromString(lg.SerializeToString())
    assert l2.value == [b"a", b"bb"] and l2.requireNextFetch is True


def test_stream_typed_state_matches_batch(spark, sf_dir):
    from excel_to_database_spark.queries import QUERIES

    got = {
        r["user_id"]: r
        for r in QUERIES["q137_stream_typed_state"](spark, sf_dir).collect()
    }
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    exact = {
        r["user_id"]: r
        for r in events.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max("value").alias("max_value"),
        )
        .collect()
    }
    assert set(got) == set(exact)
    for uid, row in exact.items():
        assert got[uid]["n_events"] == row["n_events"]
        assert got[uid]["max_value"] == row["max_value"]


def test_lsh_matches_between_never_pairs_within_side(spark, sf_dir):
    from excel_to_database_spark.operators import dedup as D

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sig = D.minhash_signatures(D.shingles(d, "doc_id", "text", 3), 16)
    half = sig.filter(F.col("doc") % 2 == 0)
    other = sig.filter(F.col("doc") % 2 == 1)
    pairs = D.lsh_matches_between(half, other, bands=4, rows=4).collect()
    for r in pairs:
        assert r["doc_new"] % 2 == 0
        assert r["doc_corpus"] % 2 == 1


def test_weighted_sample_is_deterministic_and_weight_biased(spark, sf_dir):
    from excel_to_database_spark.queries import QUERIES

    a = QUERIES["q132_weighted_sample"](spark, sf_dir).collect()
    b = QUERIES["q132_weighted_sample"](spark, sf_dir).collect()
    assert [r["doc_id"] for r in a] == [r["doc_id"] for r in b]
    # priorities are sorted descending with doc_id tiebreak
    pris = [(r["priority"], -r["doc_id"]) for r in a]
    assert pris == sorted(pris, reverse=True)
    # the winners' mean weight should exceed the corpus mean (weight
    # bias of priority sampling); deterministic data → deterministic
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus_mean = docs.agg(F.avg("n_chars")).collect()[0][0]
    winner_mean = sum(r["weight"] for r in a) / len(a)
    assert winner_mean > corpus_mean


def test_winsorized_bounds(spark, sf_dir):
    from excel_to_database_spark.queries import QUERIES

    rows = QUERIES["q135_winsorized_stats"](spark, sf_dir).collect()
    for r in rows:
        assert r["p10"] <= r["p90"]
        # winsorized sum is within [n*p10, n*p90]
        assert r["n_docs"] * r["p10"] <= r["winsorized_sum"] <= r["n_docs"] * r["p90"]


def test_regression_r2_in_unit_interval(spark, sf_dir):
    from excel_to_database_spark.queries import QUERIES

    for r in QUERIES["q136_regression_by_group"](spark, sf_dir).collect():
        assert 0.0 <= r["r2"] <= 1.0
