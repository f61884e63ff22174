"""Seeded input generators for the three workloads.

Everything the program sees is made here from the ``--seed`` value: the
TPC-H-like star schema the analytics queries read, the stream of upload
payloads, and the CSV and .xlsx files of the bulk ingest. The same seed
always gives byte-identical inputs.
"""

from __future__ import annotations

import os
import zipfile
from xml.sax.saxutils import escape

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"]
PART_ADJ = ["red", "old", "cold", "hot", "new", "large", "small"]
PART_NOUN = ["bolt", "anvil", "plate", "widget", "gear", "ring", "rod", "gizmo"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "es", "zh", "de", "fr"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _ts(rng: np.random.Generator, n: int, start: str, days: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    offs = rng.integers(0, days * 86_400_000_000, n)
    return base + offs.astype("timedelta64[us]")


def _day_ts(rng: np.random.Generator, n: int, start: str, days: int) -> np.ndarray:
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, days, n).astype("timedelta64[D]")).astype("datetime64[us]")


def _choice(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)], pa.string())


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def lineitem_table(seed: int, n_lines: int, n_orders: int, n_parts: int, n_supp: int) -> pa.Table:
    rng = np.random.default_rng([seed, 7])
    qty = rng.integers(1, 51, n_lines).astype(float)
    return pa.table(
        {
            "l_orderkey": rng.integers(0, n_orders, n_lines),
            "l_partkey": rng.integers(0, n_parts, n_lines),
            "l_suppkey": rng.integers(0, n_supp, n_lines),
            "l_linenumber": rng.integers(1, 8, n_lines).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_lines), 2),
            "l_discount": rng.integers(0, 11, n_lines) / 100.0,
            "l_tax": rng.integers(0, 9, n_lines) / 100.0,
            "l_returnflag": _choice(rng, ["R", "A", "N"], n_lines),
            "l_linestatus": _choice(rng, ["F", "O"], n_lines),
            "l_shipdate": _day_ts(rng, n_lines, "1995-01-02", 2498),
        }
    )


def _document(rng: np.random.Generator) -> str:
    n = int(rng.integers(8, 90))
    return " ".join(WORDS[i] for i in rng.integers(0, len(WORDS), n))


def star_schema(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten tables the analytics queries read, sized like TPC-H at
    scale factor ``sf`` (lineitem = 6M x sf rows)."""
    rng = np.random.default_rng([seed, 1])
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_line = max(6000, int(6_000_000 * sf))
    n_events = max(1000, int(1_000_000 * sf))
    n_docs = 500 if sf <= 0.01 else 5000
    n_vecs = 500 if sf <= 0.01 else 2000

    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    tables["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _choice(rng, SEGMENTS, n_cust),
        }
    )
    tables["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    tables["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part),
            "p_name": _choice(rng, names, n_part),
            "p_brand": _choice(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
            "p_type": _choice(rng, PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
        }
    )
    tables["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": _choice(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _day_ts(rng, n_ord, "1995-01-01", 2404),
            "o_orderpriority": _choice(rng, PRIORITIES, n_ord),
        }
    )
    tables["lineitem"] = lineitem_table(seed, n_line, n_ord, n_part, n_supp)
    n_users = max(50, n_events // 67)
    ts = np.sort(_ts(rng, n_events, "2024-01-01", 30))
    tables["events"] = pa.table(
        {
            "event_id": np.arange(n_events),
            "ts": ts,
            "user_id": rng.integers(0, n_users, n_events),
            "event_type": _choice(rng, EVENT_TYPES, n_events),
            "value": _money(rng, 0.01, 490.0, n_events),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )
    # every tenth document is a near-copy of an earlier one, so the
    # dedup and similarity queries find pairs
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 10 and i % 10 == 0:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(words))
        else:
            texts.append(_document(rng))
    tables["documents"] = pa.table(
        {
            "doc_id": np.arange(n_docs),
            "text": texts,
            "lang": _choice(rng, LANGS, n_docs),
            "source": _choice(rng, [f"src{i}" for i in range(20)], n_docs),
            "n_chars": np.array([len(t) for t in texts]),
        }
    )
    labels = rng.integers(0, 10, n_vecs)
    centres = rng.normal(0.0, 1.0, (10, 64))
    vecs = centres[labels] + rng.normal(0.0, 0.6, (n_vecs, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_vecs),
            "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
            "label": labels.astype(np.int32),
        }
    )
    return tables


def write_star_schema(out_dir: str, seed: int, sf: float) -> str:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in star_schema(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


# ---------------------------------------------------------------- uploads

TENANTS = ["acme", "globex"]
SHEETS = ["sales", "stock", "leads"]
WIDTHS = [4, 12, 30]  # columns of the tables behind sheet index 0, 1, 2
# What a sheet write does once its tenant's tables exist: reload the
# table's unchanged layout (TRUNCATE), load a changed layout (RECREATE),
# or add a table not seen before (CREATE).
SAME, RENAMED, NEW = "same", "renamed", "new"
# One pass: each upload is (payload type, [(sheet index, data rows,
# plan)]), in this order, alternating between the tenants. The shapes
# are fixed so a pass costs the same for every seed; the seed picks the
# sheet names behind the indexes, the delimiters and the cells. No
# traffic record of the reference service exists, so the sizes and the
# 8/2/2 TRUNCATE/RECREATE/CREATE split of a pass are assumptions: most
# uploads refresh a sheet whose layout has not changed.
UPLOAD_SHAPES = [
    ("xlsx", [(0, 50, SAME)]),
    ("csv", [(1, 400, SAME)]),
    ("xlsx", [(2, 1500, NEW)]),
    ("csv", [(0, 5000, SAME)]),
    ("xlsx", [(1, 200, RENAMED), (2, 3000, SAME)]),
    ("csv", [(0, 100, SAME), (1, 800, SAME), (2, 20, NEW)]),
    ("xlsx", [(2, 2500, SAME), (0, 600, RENAMED), (1, 150, SAME)]),
]
SMOKE_SHAPES = [
    ("xlsx", [(0, 20, SAME), (1, 10, NEW)]),
    ("csv", [(0, 30, RENAMED), (1, 40, SAME)]),
]


def _column(rng: np.random.Generator, kind: int, n: int) -> list[str]:
    if kind == 0:
        return rng.integers(0, 100_000, n).astype(str).tolist()
    if kind == 1:
        return np.char.mod("%.2f", rng.uniform(0, 10_000, n)).tolist()
    if kind == 2:
        words = np.asarray(WORDS)[rng.integers(0, len(WORDS), n)]
        return np.char.add(words, (np.arange(n) % 97).astype(str)).tolist()
    return (np.datetime64("2020-01-01") + rng.integers(0, 1500, n)).astype(str).tolist()


def _matrix(rng: np.random.Generator, header: list[str], n_rows: int) -> list[list[str]]:
    cols = [_column(rng, int(k), n_rows) for k in rng.integers(0, 4, len(header))]
    return [list(header)] + [list(r) for r in zip(*cols)]


class UploadStream:
    """The upload traffic, one pass at a time. The stream remembers the
    layout of every table it has written, so it knows what each sheet
    write does: the first pass creates the tables later passes rewrite
    (2 tenants x 3 sheet names), and every later pass makes the planned
    TRUNCATE, RECREATE and CREATE writes. A CREATE goes to a sheet name
    new to that pass.

    Each item is ``{"tenant", "payload", "expect": {table: (action,
    n_records)}, "matrices": {table: header + rows}, "rows"}``."""

    def __init__(self, seed: int, smoke: bool = False):
        self.rng = np.random.default_rng([seed, 2])
        self.shapes = SMOKE_SHAPES if smoke else UPLOAD_SHAPES
        self.names = list(SHEETS)
        self.rng.shuffle(self.names)
        self.layout: dict[tuple[str, str], list[str]] = {}
        self.passes = 0

    def next_pass(self) -> list[dict]:
        k, rng = self.passes, self.rng
        self.passes += 1
        items = []
        for u, (kind, sheets) in enumerate(self.shapes):
            tenant = TENANTS[u % len(TENANTS)]
            data, expect, matrices = {}, {}, {}
            for index, n_rows, plan in sheets:
                sheet = f"{self.names[index]}_n{k}" if plan == NEW else self.names[index]
                prev = self.layout.get((tenant, sheet))
                if prev is None:
                    action = "Created"
                else:
                    action = "Truncated" if plan == SAME else "Recreated"
                if action == "Truncated":
                    cols = prev
                else:
                    cols = [f"c{j}_{WORDS[(j + u) % len(WORDS)]}_v{k}" for j in range(WIDTHS[index])]
                self.layout[(tenant, sheet)] = cols
                matrix = _matrix(rng, cols, n_rows)
                matrices[sheet] = matrix
                if kind == "csv":
                    sep = [",", ";", "\t"][int(rng.integers(0, 3))]
                    data[sheet] = "\n".join(sep.join(r) for r in matrix) + "\n"
                else:
                    data[sheet] = matrix
                expect[sheet] = (action, n_rows)
            items.append(
                {
                    "tenant": tenant,
                    "payload": {"type": kind, "data": data},
                    "expect": expect,
                    "matrices": matrices,
                    "rows": sum(n for _, n in expect.values()),
                }
            )
        return items


# ---------------------------------------------------------------- bulk files


def write_lineitem_csv(path: str, seed: int, n_rows: int) -> int:
    table = lineitem_table(seed, n_rows, max(1, n_rows // 4), 20_000, 1_000)
    pacsv.write_csv(
        table, path, pacsv.WriteOptions(include_header=True, quoting_style="none")
    )
    return n_rows


_CT = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
    '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
    '<Default Extension="xml" ContentType="application/xml"/>'
    '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
    '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
    "</Types>"
)
_RELS = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
    '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/{kind}" Target="{target}"/>'
    "</Relationships>"
)
_WORKBOOK = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
    'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
    '<sheets><sheet name="Orders" sheetId="1" r:id="rId1"/></sheets></workbook>'
)
XLSX_HEADER = ["order_id", "customer", "region", "product", "qty", "unit_price", "status", "note"]


def _xlsx_rows(rng: np.random.Generator, first_id: int, n_rows: int) -> list[str]:
    """Row XML: numbers as numeric cells, text as inline strings."""
    out = []
    ids = np.arange(first_id, first_id + n_rows)
    cust = rng.integers(0, 5000, n_rows)
    region = rng.integers(0, len(REGIONS), n_rows)
    prod = rng.integers(0, len(PART_NOUN), n_rows)
    qty = rng.integers(1, 100, n_rows)
    price = np.round(rng.uniform(1, 500, n_rows), 2)
    status = rng.integers(0, 3, n_rows)
    words = rng.integers(0, len(WORDS), (n_rows, 3))
    for i in range(n_rows):
        note = " ".join(WORDS[w] for w in words[i])
        out.append(
            f'<row r="{i + 2}"><c><v>{ids[i]}</v></c>'
            f'<c t="inlineStr"><is><t>Customer {cust[i]}</t></is></c>'
            f'<c t="inlineStr"><is><t>{escape(REGIONS[region[i]])}</t></is></c>'
            f'<c t="inlineStr"><is><t>{PART_NOUN[prod[i]]}</t></is></c>'
            f"<c><v>{qty[i]}</v></c><c><v>{price[i]}</v></c>"
            f'<c t="inlineStr"><is><t>{"OPF"[status[i]]}</t></is></c>'
            f'<c t="inlineStr"><is><t>{note}</t></is></c></row>'
        )
    return out


def write_workbook(path: str, seed: int, first_id: int, n_rows: int) -> int:
    rng = np.random.default_rng([seed, 3, first_id])
    header = "".join(f'<c t="inlineStr"><is><t>{h}</t></is></c>' for h in XLSX_HEADER)
    sheet = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        f'<sheetData><row r="1">{header}</row>{"".join(_xlsx_rows(rng, first_id, n_rows))}'
        "</sheetData></worksheet>"
    )
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("[Content_Types].xml", _CT)
        z.writestr("_rels/.rels", _RELS.format(kind="officeDocument", target="xl/workbook.xml"))
        z.writestr("xl/workbook.xml", _WORKBOOK)
        z.writestr(
            "xl/_rels/workbook.xml.rels",
            _RELS.format(kind="worksheet", target="worksheets/sheet1.xml"),
        )
        z.writestr("xl/worksheets/sheet1.xml", sheet)
    return n_rows


def write_workbook_dir(path: str, seed: int, n_files: int, rows_per_file: int) -> int:
    os.makedirs(path, exist_ok=True)
    for f in range(n_files):
        write_workbook(
            os.path.join(path, f"part_{f:04d}.xlsx"), seed, f * rows_per_file, rows_per_file
        )
    return n_files * rows_per_file
