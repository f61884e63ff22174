"""The three workloads, each a closed loop with one client.

A workload is a fixed, seeded list of operations run in passes. A pass
calls the package's public functions one operation at a time; each
operation is timed on the client side with ``perf_counter`` and its
result is checked after the timer stops. The tracer (a no-op when
tracing is off) wraps each call into a layer in a span.
"""

from __future__ import annotations

import os
import random
import time
from dataclasses import dataclass, field

from perfbench import check, gen

# analytics_mix: one or two queries from each query family, sized so a
# warm pass fits a run (see README.md for the families left out)
QUERY_SET = [
    "q01_pricing_summary",
    "q10_shipping_priority",
    "q30_running_customer_total",
    "q141_bigram_novelty",
    "q210_exact_group_quantiles",
    "q217_hybrid_rrf_search",
    "q65_stream_tumbling_window",
]


def short(query: str) -> str:
    return query.split("_")[0]


@dataclass
class Op:
    name: str
    latency_s: float
    error: str | None = None
    rows: int = 0
    detail: dict = field(default_factory=dict)


def failure(e: Exception) -> str:
    return f"{type(e).__name__}: {e}"[:300]


def dir_size(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, ignoring checksum and marker files."""
    files = size = 0
    for base, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(base, n))
    return files, size


def table_size(spark, table: str) -> tuple[int, int]:
    """(data files, bytes) of a catalog table, from its location."""
    info = {r.col_name: r.data_type for r in spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()}
    return dir_size(info["Location"].removeprefix("file:"))


class UploadSmall:
    """``api.upload`` over a stream of small multi-sheet payloads."""

    name = "upload_small"
    nominal_pass_s = 7.0  # at local[4]; sets the passes per --seconds

    def __init__(self, ctx):
        self.ctx = ctx
        self.stream: gen.UploadStream | None = None

    def setup(self) -> None:
        self.stream = gen.UploadStream(self.ctx.seed, self.ctx.smoke)

    def run_pass(self, tracer, index: int) -> list[Op]:
        from excel_to_database_spark import api
        from excel_to_database_spark.sync.sinks import tenant_schema

        spark = self.ctx.spark
        ops: list[Op] = []
        last: dict[str, tuple[int, list[list[str]]]] = {}
        for i, item in enumerate(self.stream.next_pass()):
            schema = tenant_schema(item["tenant"])
            with tracer.span("op.upload"):
                t0 = time.perf_counter()
                with tracer.span("api.upload"):
                    resp = api.upload(spark, item["payload"], path=item["tenant"])
                latency = time.perf_counter() - t0
            expected = [
                f"{action} and loaded into {schema}.{sheet}\n{n} records"
                for sheet, (action, n) in item["expect"].items()
            ]
            got = resp.get("messages", resp)
            error = None if got == expected else f"response {got!r} != {expected!r}"[:300]
            files = size = 0
            try:
                for sheet in item["matrices"]:
                    f, b = table_size(spark, f"{schema}.{sheet}")
                    files, size = files + f, size + b
            except Exception as e:  # a missing table fails its upload, not the run
                error = error or failure(e)
            ops.append(Op(f"upload{i}", latency, error, item["rows"], {
                "files": files, "bytes": size, "tables": len(item["matrices"]),
                "actions": [a for a, _ in item["expect"].values()],
            }))
            for sheet, matrix in item["matrices"].items():
                last[f"{schema}.{sheet}"] = (i, matrix)
        for table, (i, matrix) in last.items():
            try:
                df = spark.table(table)
                rows = df.collect()
            except Exception as e:  # a missing table fails its upload, not the run
                ops[i].error = ops[i].error or failure(e)
                continue
            wrong = check.mismatch(check.canonical(matrix[0], matrix[1:]), df.columns, rows)
            if wrong and ops[i].error is None:
                ops[i].error = f"table {table}: {wrong}"
        return ops

    def report(self, passes: list[list[Op]]) -> dict:
        ops = [op for p in passes for op in p]
        lat = [op.latency_s for op in ops]
        actions = [a for op in ops for a in op.detail["actions"]]
        return {
            "upload_p50_s": (median(lat), "s"),
            "upload_p90_s": (quantile(lat, 0.9), "s"),
            "uploads_per_s": (len(lat) / sum(lat), "1/s"),
            "upload_samples": (len(lat), "count"),
            **{
                f"share_{a.lower()}": (actions.count(a) / len(actions), "fraction")
                for a in ("Created", "Truncated", "Recreated")
            },
        }


class IngestBulk:
    """``sync_table`` over a large CSV file, one large workbook and a
    directory of workbooks."""

    name = "ingest_bulk"
    nominal_pass_s = 4.0

    def __init__(self, ctx):
        self.ctx = ctx
        self.inputs: list[dict] = []

    def setup(self) -> None:
        from excel_to_database_spark.sources import read_csv_path, read_excel

        spark, seed = self.ctx.spark, self.ctx.seed
        if self.ctx.smoke:
            n_csv, n_xlsx, n_files, per_file = 2_000, 200, 4, 20
        else:
            n_csv, n_xlsx, n_files, per_file = 600_000, 20_000, 120, 100
        base = os.path.join(self.ctx.work, "bulk")
        os.makedirs(base, exist_ok=True)
        csv_path = os.path.join(base, "lineitem.csv")
        xlsx_path = os.path.join(base, "orders.xlsx")
        dir_path = os.path.join(base, "orders_dir")
        self.inputs = [
            {
                "kind": "csv", "table": "lineitem_csv", "path": csv_path,
                "rows": gen.write_lineitem_csv(csv_path, seed, n_csv),
                "read": lambda: read_csv_path(spark, csv_path),
                "reader_span": "sources.read_csv_path", "decode_span": "sources.csv_parse",
            },
            {
                "kind": "xlsx", "table": "orders_xlsx", "path": xlsx_path,
                "rows": gen.write_workbook(xlsx_path, seed, 0, n_xlsx),
                "read": lambda: read_excel(spark, xlsx_path),
                "reader_span": "sources.read_excel", "decode_span": "sources.xlsx_decode",
            },
            {
                "kind": "xlsx_dir", "table": "orders_dir", "path": dir_path,
                "rows": gen.write_workbook_dir(dir_path, seed, n_files, per_file),
                "read": lambda: read_excel(spark, dir_path),
                "reader_span": "sources.read_excel", "decode_span": "sources.xlsx_decode",
            },
        ]
        for inp in self.inputs:
            inp["bytes"] = dir_size(inp["path"])[1] if os.path.isdir(inp["path"]) else (
                os.path.getsize(inp["path"])
            )

    def run_pass(self, tracer, index: int) -> list[Op]:
        from excel_to_database_spark.sync import sync_table
        from excel_to_database_spark.sync.sinks import tenant_schema

        ops = []
        for inp in self.inputs:
            t0 = time.perf_counter()
            try:
                with tracer.span(f"op.ingest_{inp['kind']}"):
                    with tracer.span(inp["reader_span"]):
                        df = inp["read"]()
                    with tracer.span("sync.sync_table"):
                        report = sync_table(df, inp["table"], path="bulk")
                    latency = time.perf_counter() - t0
            except Exception as e:  # an operation that raises counts as failed
                ops.append(Op(inp["kind"], time.perf_counter() - t0, failure(e)))
                continue
            error = None
            if report.n_records != inp["rows"]:
                error = f"{inp['table']}: {report.n_records} records != {inp['rows']}"
            files, size = table_size(self.ctx.spark, f"{tenant_schema('bulk')}.{inp['table']}")
            ops.append(Op(inp["kind"], latency, error, inp["rows"],
                          {"files": files, "bytes": size, "tables": 1}))
            if tracer.enabled:
                # decode alone: the reader's frame written nowhere, outside the op
                df = inp["read"]()
                with tracer.span(inp["decode_span"]):
                    df.write.format("noop").mode("overwrite").save()
        return ops

    def report(self, passes: list[list[Op]]) -> dict:
        med = {k: median([op.latency_s for p in passes for op in p if op.name == k])
               for k in ("csv", "xlsx", "xlsx_dir")}
        rows = {inp["kind"]: inp["rows"] for inp in self.inputs}
        stored = sum(op.detail.get("bytes", 0) for op in passes[-1])
        return {
            "ingest_csv_rows_per_s": (rows["csv"] / med["csv"], "1/s"),
            "ingest_xlsx_rows_per_s": (
                (rows["xlsx"] + rows["xlsx_dir"]) / (med["xlsx"] + med["xlsx_dir"]), "1/s"
            ),
            "stored_bytes_per_input_byte": (
                stored / sum(inp["bytes"] for inp in self.inputs), "ratio"
            ),
        }


class AnalyticsMix:
    """The registered queries over seeded parquet tables, in an order
    the seed shuffles per pass."""

    name = "analytics_mix"
    nominal_pass_s = 5.0

    def __init__(self, ctx):
        self.ctx = ctx
        self.expected: dict[str, tuple] = {}
        self.data_dir = ""

    def setup(self) -> None:
        sf = 0.001 if self.ctx.smoke else 0.01
        self.data_dir = gen.write_star_schema(
            os.path.join(self.ctx.work, "tables"), self.ctx.seed, sf
        )

    def oracle(self, query: str) -> tuple:
        """The query's DuckDB oracle result on the same files, computed on
        first use, after the first operation, so it stays out of set-up time."""
        if not self.expected:
            import duckdb

            from excel_to_database_spark.queries import ORACLES

            con = duckdb.connect()
            for t in gen.TABLES:
                path = os.path.join(self.data_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
            for q in QUERY_SET:
                cur = con.execute(ORACLES[q])
                self.expected[q] = check.canonical([d[0] for d in cur.description], cur.fetchall())
            con.close()
        return self.expected[query]

    def run_pass(self, tracer, index: int) -> list[Op]:
        from excel_to_database_spark.operators.caching import deep_evict, evict_caches
        from excel_to_database_spark.queries import QUERIES

        spark = self.ctx.spark
        order = list(QUERY_SET)
        random.Random(f"{self.ctx.seed}/{index}").shuffle(order)
        ops = []
        for q in order:
            name = short(q)
            t0 = time.perf_counter()
            try:
                with tracer.span(f"op.{name}"):
                    with tracer.span(f"queries.{name}.construct"):
                        df = QUERIES[q](spark, self.data_dir)
                    t1 = time.perf_counter()
                    with tracer.span(f"queries.{name}.action"):
                        rows = df.collect()
                    t2 = time.perf_counter()
                    pins = spark.sparkContext._jsc.getPersistentRDDs().size()
                    with tracer.span("operators.caching.evict_caches"):
                        evict_caches()
            except Exception as e:  # an operation that raises counts as failed
                ops.append(Op(name, time.perf_counter() - t0, f"{q}: {failure(e)}"))
                evict_caches()
                continue
            error = check.mismatch(self.oracle(q), df.columns, rows)
            ops.append(Op(name, t2 - t0, error and f"{q}: {error}", len(rows),
                          {"construct_s": t1 - t0, "action_s": t2 - t1, "pins_left": pins}))
        # the session-wide sweep (SQL cache, streaming state, JVM GC) once
        # per pass; it costs ~0.25 s, mostly the GC
        with tracer.span("operators.caching.deep_evict"):
            deep_evict(spark)
        return ops

    def report(self, passes: list[list[Op]]) -> dict:
        return {
            "analytics_pass_s": (median([sum(op.latency_s for op in p) for p in passes]), "s"),
            "analytics_geomean_s": (geomean_of_medians(passes), "s"),
        }


WORKLOADS = {w.name: w for w in (UploadSmall, IngestBulk, AnalyticsMix)}


# ---------------------------------------------------------------- statistics


def median(xs: list[float]) -> float:
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def quantile(xs: list[float], q: float) -> float:
    """Linear interpolation between order statistics (numpy's default)."""
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def geomean_of_medians(passes: list[list[Op]]) -> float:
    import math

    by_name: dict[str, list[float]] = {}
    for p in passes:
        for op in p:
            by_name.setdefault(op.name, []).append(op.latency_s)
    logs = [math.log(median(v)) for v in by_name.values()]
    return math.exp(sum(logs) / len(logs))
