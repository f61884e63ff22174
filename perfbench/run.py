"""Per-change benchmark of the excel_to_database_spark engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload upload_small --seed 1 --seconds 20 --trace 0

Workloads: ``upload_small``, ``ingest_bulk``, ``analytics_mix`` (see
README.md). One process, one SparkSession, one client issuing one
operation at a time. Inputs are generated from ``--seed`` under
``.perfbench_work/``; spans of a traced run go to ``.perfbench_out/``.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` follows each
untraced pass with the same pass traced, and prints the per-layer
metrics with the tracing overhead.
Human-readable report lines come first; the last line of standard
output is one JSON object: ``{"correct", "attempted", "failed",
"metrics"}``. ``--smoke`` shrinks every input for a quick self-test.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys
import time
from types import SimpleNamespace

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def declared(kind: str) -> list[str]:
    """Names of the ``end_to_end`` or ``per_layer`` metrics in BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [m["name"] for m in json.load(f)[kind]]


def unit(name: str) -> str:
    """A metric's unit, from its name: ``*_s`` seconds, ``*_frac`` a
    ratio, ``*bytes*`` bytes, anything else a count."""
    last = name.rsplit(".", 1)[-1]
    if last.endswith("_s"):
        return "s"
    if last.endswith("_frac"):
        return "ratio"
    return "bytes" if "bytes" in last else "count"


def host_resources() -> tuple[int, int]:
    """(cores this process may use, heap in GiB that leaves room for the
    Python workers and other tenants of the host: a quarter of RAM,
    between 1 and 4 GiB)."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_kib = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return cores, max(1, min(4, total_kib // (4 * 1024 * 1024)))


def start_session(work: str, cores: int, heap_gb: int):
    from excel_to_database_spark import get_session

    return get_session(
        "perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": f"{heap_gb}g",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp",
            "spark.local.dir": f"{work}/spark-local",
            "spark.sql.warehouse.dir": f"{work}/warehouse",
            "spark.ui.showConsoleProgress": "false",
            # the tracer reads every job and stage of a run from the store
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        line = next(line for line in f if line.startswith("VmHWM"))
    return int(line.split()[1]) / 1024


def code_tree() -> str:
    """Content hash of the package sources (the checkout is not a git
    repository, so this stands in for the git tree id)."""
    h = hashlib.sha1()
    pkg = os.path.join(ROOT, "excel_to_database_spark")
    for base, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for n in sorted(files):
            if n.endswith(".py"):
                path = os.path.join(base, n)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:12]


def end_to_end(passes, setup_s: float) -> dict[str, float]:
    from perfbench.workloads import geomean_of_medians, median

    return {
        "setup_s": setup_s,
        "pass_s": median([sum(op.latency_s for op in p) for p in passes]),
        "op_geomean_s": geomean_of_medians(passes),
    }


def per_layer(spans, passes, get_session_s: float, overhead: float) -> dict[str, float]:
    """Per-layer metrics from the traced passes' spans."""
    from perfbench.workloads import QUERY_SET, short

    n_pass = len(passes)
    ops = [s for s in spans if s["parent"] is None and s["name"].startswith("op.")]

    def named(name):
        return [s for s in spans if s["name"] == name]

    def mean(xs):
        return sum(xs) / len(xs) if xs else 0.0

    def per_pass(xs):
        return sum(xs) / n_pass

    syncs = named("sync.sync_table")
    sync_ops = [op for p in passes for op in p if "tables" in op.detail]
    n_tables = sum(op.detail["tables"] for op in sync_ops)
    decode = {k: named(f"sources.{k}") for k in ("csv_parse", "xlsx_decode")}
    decode_s = [s["dur"] for k in ("csv_parse", "xlsx_decode") for s in decode[k]]
    ingest_syncs = [s for s in syncs if spans[s["parent"]]["name"].startswith("op.ingest_")]
    construct = [s for s in spans if s["name"].endswith(".construct")]
    action = [s for s in spans if s["name"].endswith(".action")]
    query_spans = construct + action
    out = {
        "session.get_session_s": get_session_s,
        "api.upload_self_s": mean([s["self_s"] for s in named("api.upload")]),
        "sources.load_payload_s": (
            sum(s["dur"] for s in named("sources.load_workbook_payload"))
            / max(1, len(named("api.upload")))
        ),
        "sources.read_csv_path_s": mean([s["dur"] for s in named("sources.read_csv_path")]),
        "sources.read_excel_s": mean([s["dur"] for s in named("sources.read_excel")]),
        "sources.csv_parse_s": mean([s["dur"] for s in decode["csv_parse"]]),
        "sources.xlsx_decode_s": mean([s["dur"] for s in decode["xlsx_decode"]]),
        "sync.sync_table_s": mean([s["dur"] for s in syncs]),
        "sync.write_s": (
            mean([s["dur"] for s in ingest_syncs]) - mean(decode_s) if ingest_syncs else 0.0
        ),
        "sync.jobs_per_sync": mean([s["incl_jobs"] for s in syncs]),
        "sync.stages_per_sync": mean([s["incl_stages"] for s in syncs]),
        "sync.tasks_per_sync": mean([s["incl_tasks"] for s in syncs]),
        "sync.exec_cpu_frac": (
            sum(s["incl_cpu_s"] for s in syncs) / sum(s["dur"] for s in syncs) if syncs else 0.0
        ),
        "sync.files_written": sum(op.detail["files"] for op in sync_ops) / max(1, n_tables),
        "sync.bytes_written": sum(op.detail["bytes"] for op in sync_ops) / max(1, n_tables),
        "spark.jobs_per_op": mean([s["incl_jobs"] for s in ops]),
        "spark.stages_per_op": mean([s["incl_stages"] for s in ops]),
        "spark.tasks_per_op": mean([s["incl_tasks"] for s in ops]),
        "spark.exec_cpu_frac": sum(s["incl_cpu_s"] for s in ops) / sum(s["dur"] for s in ops),
        "spark.input_bytes": mean([s["incl_input_bytes"] for s in ops]),
        "spark.shuffle_write_bytes": mean([s["incl_shuffle_write_bytes"] for s in ops]),
        "spark.spill_bytes": mean([s["incl_spill_bytes"] for s in ops]),
        "queries.construct_s": per_pass([s["dur"] for s in construct]),
        "queries.action_s": per_pass([s["dur"] for s in action]),
        "queries.construct_frac": (
            sum(s["dur"] for s in construct) / sum(s["dur"] for s in query_spans)
            if query_spans else 0.0
        ),
        "queries.jobs_per_pass": per_pass([s["incl_jobs"] for s in query_spans]),
        "queries.stages_per_pass": per_pass([s["incl_stages"] for s in query_spans]),
        "queries.tasks_per_pass": per_pass([s["incl_tasks"] for s in query_spans]),
    }
    for q in QUERY_SET:
        name = short(q)
        c, a = named(f"queries.{name}.construct"), named(f"queries.{name}.action")
        out[f"queries.{name}.construct_s"] = mean([s["dur"] for s in c])
        out[f"queries.{name}.action_s"] = mean([s["dur"] for s in a])
        calls = max(1, len(c))
        out[f"queries.{name}.jobs"] = sum(s["incl_jobs"] for s in c + a) / calls
        out[f"queries.{name}.exec_cpu_s"] = sum(s["incl_cpu_s"] for s in c + a) / calls
    out.update({
        "queries.q217.worker_jobs": mean(
            [s["incl_worker_jobs"] for s in named("queries.q217.construct")]
        ),
        "operators.caching.evict_caches_s": mean(
            [s["dur"] for s in named("operators.caching.evict_caches")]
        ),
        "operators.caching.deep_evict_s": mean([s["dur"] for s in named("operators.caching.deep_evict")]),
        "operators.caching.pins_left": mean(
            [op.detail["pins_left"] for p in passes for op in p if "pins_left" in op.detail]
        ),
        "trace.overhead_frac": overhead,
        "trace.spans_per_op": len(spans) / len(ops),
    })
    return out


def instrument(tracer):
    """Wrap the layer calls ``api.upload`` makes in spans; returns the
    undo function."""
    from excel_to_database_spark import api

    saved = {n: getattr(api, n) for n in ("load_workbook_payload", "sync_table")}
    api.load_workbook_payload = tracer.wrap("sources.load_workbook_payload", saved["load_workbook_payload"])
    api.sync_table = tracer.wrap("sync.sync_table", saved["sync_table"])

    def undo():
        for n, fn in saved.items():
            setattr(api, n, fn)

    return undo


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, default=1)
    parser.add_argument("--seconds", type=float, default=20)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    parser.add_argument("--smoke", action="store_true")
    args = parser.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import excel_to_database_spark  # noqa: F401

        from perfbench.trace import Tracer, finish
        from perfbench.workloads import WORKLOADS, median, quantile
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"]
    cores, heap_gb = host_resources()
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)

    t_setup = time.perf_counter()
    spark = start_session(work, cores, heap_gb)
    get_session_s = time.perf_counter() - t_setup
    try:
        spark.sparkContext.setLogLevel("ERROR")
        ctx = SimpleNamespace(spark=spark, work=work, seed=args.seed, smoke=args.smoke)
        workload = WORKLOADS[args.workload](ctx)
        untraced = Tracer(spark, enabled=False)
        workload.setup()
        setup_s = time.perf_counter() - t_setup
        # the first pass is cold (JIT, codegen) and takes 2-3x longer;
        # set-up counts its operations, not the checks of their results
        warmup = workload.run_pass(untraced, 0)
        setup_s += sum(op.latency_s for op in warmup)

        # a fixed number of passes per --seconds, not a deadline: every
        # pass runs faster than the one before it (JIT), so a run that
        # fitted one pass more would report a lower median
        n_passes = max(1, round(args.seconds / workload.nominal_pass_s))
        if args.trace:
            tracer = Tracer(spark, enabled=True)
            undo = instrument(tracer)
            passes, traced = [], []
            try:
                # traced and untraced passes alternate, so the passes'
                # JIT speed-up does not count as (negative) tracing cost
                for i in range(n_passes):
                    for enabled, out in ((False, passes), (True, traced)):
                        tracer.enabled = enabled
                        out.append(workload.run_pass(tracer, i + 1))
            finally:
                undo()
        else:
            passes = [workload.run_pass(untraced, i + 1) for i in range(n_passes)]
        metrics = end_to_end(passes, setup_s)
        all_ops = [op for p in [warmup, *passes] for op in p]
        lat = [op.latency_s for p in passes for op in p]
        report = {
            **workload.report(passes),
            "op_p50_s": (median(lat), "s"),
            "op_p90_s": (quantile(lat, 0.9), "s"),
            "jvm_peak_rss_mb": (jvm_peak_rss_mb(spark), "MB"),
        }
        info = {
            "workload": args.workload, "seed": args.seed, "smoke": args.smoke,
            "cores": cores, "heap_gb": heap_gb, "code_tree": code_tree(),
            "passes": len(passes), "ops": len(lat),
            "pass_s_each": [round(sum(op.latency_s for op in p), 3) for p in [warmup, *passes]],
            "session_s": round(get_session_s, 3),
        }
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        ops_file = os.path.join(out_dir, f"ops_{args.workload}_seed{args.seed}.json")
        with open(ops_file, "w") as f:
            json.dump([[op.__dict__ for op in p] for p in [warmup, *passes]], f)
        info["ops_file"] = os.path.relpath(ops_file, ROOT)
        if args.trace:
            spans = finish(tracer.spans)
            all_ops += [op for p in traced for op in p]
            traced_e2e = end_to_end(traced, setup_s)
            overhead = traced_e2e["pass_s"] / metrics["pass_s"] - 1
            values = per_layer(spans, traced, get_session_s, overhead)
            names = declared("per_layer")
            import bench

            info["sandbox_calibration_s"] = bench.sandbox_calibration(spark)
            info["trace_overhead_s"] = {
                k: round(traced_e2e[k] - metrics[k], 4) for k in metrics if k != "setup_s"
            }
            span_file = os.path.join(out_dir, f"spans_{args.workload}_seed{args.seed}.json")
            with open(span_file, "w") as f:
                json.dump(spans, f)
            info["spans"] = os.path.relpath(span_file, ROOT)
        else:
            values, names = metrics, declared("end_to_end")
        # figures BENCHMARK.json does not gate go to report lines
        report.update({k: (v, unit(k)) for k, v in values.items() if k not in names})
        failed = [op for op in all_ops if op.error]
    finally:
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    for name, (value, u) in report.items():
        print(f"report {name} {value:.6g} {u}")
    print(f"report failed_frac {len(failed) / len(all_ops):.6g} fraction")
    for op in failed[:10]:
        print(f"failure {op.name}: {op.error}")
    print("info " + json.dumps(info, sort_keys=True))
    result = {
        "correct": not failed,
        "attempted": len(all_ops),
        "failed": len(failed),
        "metrics": {
            name: {"value": values[name], "unit": unit(name)} for name in names
        },
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
