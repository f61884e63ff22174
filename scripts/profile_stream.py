"""Micro-batch lifecycle profile (round-17 verdict #4): decompose ONE
streaming replay query's wall clock into the structured-streaming
progress shares — queryPlanning / latestOffset / getBatch / addBatch /
walCommit / commitOffsets per micro-batch, plus state-operator commit
times and the unaccounted remainder (scheduling + session overhead the
progress events cannot see). The committed output is the
numbers-backed answer to "what is the streaming block's floor".

Usage: python scripts/profile_stream.py [query ...] [--reps N]
Env: CHECK_SF_DIR (default /root/testdata/sf0.1).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DEFAULT_QUERIES = ["q137_stream_typed_state"]


def main() -> None:
    argv = sys.argv[1:]
    reps = 3
    if "--reps" in argv:
        i = argv.index("--reps")
        reps = int(argv[i + 1])
        del argv[i : i + 2]
    names = argv or DEFAULT_QUERIES
    sf = os.environ.get("CHECK_SF_DIR", "/root/testdata/sf0.1")

    import tempfile

    from excel_to_database_spark.operators import deep_evict
    from excel_to_database_spark.queries import QUERIES
    from excel_to_database_spark.session import get_session
    from excel_to_database_spark.streaming import ingest

    spark = get_session(
        "stream-profile",
        extra_conf={"spark.sql.warehouse.dir": tempfile.mkdtemp(prefix="etds_sp_wh_")},
    )
    spark.sparkContext.setLogLevel("ERROR")
    # StreamingQuery.recentProgress keeps only this many events: a
    # replay with more micro-batches reports a truncated decomposition
    progress_cap = int(
        spark.conf.get("spark.sql.streaming.numRecentProgressUpdates", "100")
    )

    for name in names:
        fn = QUERIES[name]
        fn(spark, sf).count()  # warm-up (codegen, worker pool)
        deep_evict(spark)
        for rep in range(reps):
            t0 = time.perf_counter()
            n = fn(spark, sf).count()
            wall = time.perf_counter() - t0
            events = [json.loads(p) for p in ingest._LAST_PROGRESS]
            dur_keys = [
                "triggerExecution",
                "queryPlanning",
                "latestOffset",
                "getBatch",
                "addBatch",
                "walCommit",
                "commitOffsets",
            ]
            totals = {k: 0.0 for k in dur_keys}
            state = {"commit_ms": 0.0, "instances": 0, "rows_total": 0}
            for ev in events:
                for k in dur_keys:
                    totals[k] += ev.get("durationMs", {}).get(k, 0) / 1000.0
                for op in ev.get("stateOperators", []):
                    state["commit_ms"] += op.get("allUpdatesTimeMs", 0) + op.get(
                        "commitTimeMs", 0
                    )
                    state["instances"] = max(
                        state["instances"], op.get("numStateStoreInstances", 0)
                    )
                    state["rows_total"] += op.get("numRowsUpdated", 0)
            trig = totals.pop("triggerExecution")
            accounted = sum(totals.values())
            out = {
                "query": name,
                "rep": rep,
                "rows": n,
                "wall_s": round(wall, 3),
                "n_batches": len(events),
                "progress_truncated": len(events) >= progress_cap,
                "trigger_s": round(trig, 3),
                "shares_s": {k: round(v, 3) for k, v in totals.items()},
                "in_trigger_unaccounted_s": round(trig - accounted, 3),
                "outside_trigger_s": round(wall - trig, 3),
                "state_commit_s": round(state["commit_ms"] / 1000.0, 3),
                "state_instances": state["instances"],
            }
            print(json.dumps(out), flush=True)
            deep_evict(spark)
    spark.stop()


if __name__ == "__main__":
    main()
