"""operators/caching owns every materialized intermediate: only it
persists, checkpoints or releases a frame, loops hold a bounded number
of iterates, and ``evict_caches`` releases pins and checkpoints alike."""

import ast
import pathlib
from collections import Counter

import pytest

from excel_to_database_spark.operators import caching

PKG = pathlib.Path(__file__).resolve().parent.parent / "excel_to_database_spark"
OWNED_CALLS = {"localCheckpoint", "persist", "cache", "unpersist"}


def test_only_caching_materializes_or_releases():
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        if rel == "operators/caching.py":
            continue
        for node in ast.walk(ast.parse(path.read_text(), rel)):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in OWNED_CALLS
            ):
                offenders.append(f"{rel}:{node.lineno} .{node.func.attr}(")
    assert offenders == []


def _persistent_ids(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_checkpoint_is_registered_released_and_then_unreadable(spark):
    """A registered checkpoint is yielded as-is by ``pinned``; a frame
    from ``createDataFrame`` (a LogicalRDD too, but not registered) is
    pinned there. ``unpin`` frees the checkpoint's blocks, and reading
    it afterwards raises: there is no lineage to recompute from."""
    before = _persistent_ids(spark)
    ck = caching.checkpoint(spark.range(100).selectExpr("id", "id * 2 AS v"), eager=True)
    assert len(_persistent_ids(spark) - before) == 1
    with caching.pinned(ck) as same:
        assert same is ck
    local = spark.createDataFrame([(1,), (2,)], "x long")
    with caching.pinned(local):
        assert local.storageLevel.useMemory
    assert not local.storageLevel.useMemory
    caching.unpin(ck)
    assert not any(df is ck for df, _ in caching._ACTIVE)
    assert _persistent_ids(spark) - before == set()
    with pytest.raises(Exception, match="CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"):
        ck.count()


@pytest.mark.parametrize(
    "name", ["q141_bigram_novelty", "q210_exact_group_quantiles", "q217_hybrid_rrf_search"]
)
def test_evict_releases_everything_a_query_materialized(spark, sf_dir, name):
    from excel_to_database_spark.queries import QUERIES

    caching.evict_caches()
    before = _persistent_ids(spark)
    QUERIES[name](spark, sf_dir).collect()
    caching.evict_caches()
    assert _persistent_ids(spark) - before == set()


class _PeakRegistry(list):
    """A stand-in for the registry that records the most frames of
    each kind (``key(frame)``) registered at once."""

    def __init__(self, key):
        super().__init__()
        self.key = key
        self.peak = Counter()

    def append(self, entry):
        super().append(entry)
        for kind, n in Counter(self.key(df) for df, _ in self).items():
            self.peak[kind] = max(self.peak[kind], n)


def test_bpe_train_merges_holds_at_most_two_states(spark, monkeypatch):
    from excel_to_database_spark.operators import text as T

    docs = spark.createDataFrame(
        [(1, "low lower lowest"), (2, "newer newest wider"), (3, "low new wide")],
        "id long, text string",
    )
    expected = [tuple(r) for r in T.bpe_train_merges_local(docs, "id", "text", 3).collect()]
    probe = _PeakRegistry(lambda df: "state")
    monkeypatch.setattr(caching, "_ACTIVE", probe)
    got = [tuple(r) for r in T.bpe_train_merges(docs, "id", "text", n_merges=3).collect()]
    assert got == expected and len(got) == 3
    assert probe.peak == {"state": 2}
    assert len(probe) == 0  # every state released: the table is driver literals


def test_connected_components_holds_at_most_two_iterates_of_each(spark, monkeypatch):
    """A 40-node chain takes several pointer-jumping rounds; at any time
    the loop holds at most two label frames and two edge lists, and
    after it returns only the final label frame stays registered."""
    from excel_to_database_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame([(i, i + 1) for i in range(39)], "doc_a long, doc_b long")
    probe = _PeakRegistry(lambda df: "edges" if "src" in df.columns else "labels")
    monkeypatch.setattr(caching, "_ACTIVE", probe)
    try:
        rows = connected_components(pairs).collect()
        assert sorted((r["doc"], r["cluster"]) for r in rows) == [(i, 0) for i in range(40)]
        assert probe.peak == {"labels": 2, "edges": 2}
        assert len(probe) == 1
    finally:
        caching.evict_caches()
