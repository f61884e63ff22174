"""Pure-Python OOXML (.xlsx) decoding — no external dependencies.

A from-scratch implementation of the subset of ECMA-376 that the
reference's browser-side parser handles (SURVEY.md §2.1, reference
static/xlsparser.js), producing the same observable output: one dense
rectangular ``list[list[str]]`` per sheet, with

  * shared strings dereferenced (xlsparser.js:46-49, :165-166);
  * style-driven date detection — built-in numFmt ids {14,15,16,17,22,30}
    plus custom format codes containing an unescaped/unquoted m/d/y
    (xlsparser.js:51-77);
  * Excel 1900-epoch serial dates rendered as ISO ``YYYY-MM-DD`` strings
    (xlsparser.js:165-183). The engine uses the *correct* mapping around
    the fictitious 1900-02-29 by default; the reference's acknowledged
    leap-year bug (xlsparser.js:173-177) is available behind
    ``bug_compat_1900=True`` for byte-parity with the reference;
  * trailing empty rows dropped and rows truncated to the used width
    (xlsparser.js:189-214);
  * optional hidden row/column filtering — parity with the VBA
    "visible only" submission (VBA/Excel2Database.vb:66-68).

Everything here is per-file pure computation; the Spark reader invokes it
inside executor tasks (one task per workbook — xlsx is a zip and not
splittable, and is capped at ~1M rows by the format, so a file is always
a sane task granule).
"""

from __future__ import annotations

import datetime as _dt
import io
import re
import zipfile
from xml.etree import ElementTree as ET

_MAIN_NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
_REL_NS = "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}"
_PKG_REL_NS = "{http://schemas.openxmlformats.org/package/2006/relationships}"

# Built-in date number-format ids (ECMA-376 §18.8.30); same set the
# reference treats as dates (xlsparser.js:51-60). Times are not handled,
# matching the reference (xlsparser.js:52).
_BUILTIN_DATE_NUMFMT = {14, 15, 16, 17, 22, 30}

# Built-in TIME-of-day format ids (ECMA-376 §18.8.30: h:mm AM/PM,
# h:mm:ss AM/PM, h:mm, h:mm:ss, mm:ss, [h]:mm:ss, mmss.0). The
# reference explicitly skips times (xlsparser.js:52); the opt-in
# ``times=True`` reader mode serves them anyway — a documented
# divergence, off by default for byte-parity.
_BUILTIN_TIME_NUMFMT = {18, 19, 20, 21, 45, 46, 47}

_EPOCH_1900 = _dt.date(1899, 12, 30)  # Excel serial 1 == 1900-01-01


def _strip_literal_sections(fmt: str) -> str:
    """Remove quoted, bracketed and backslash-escaped parts of a number
    format code so literal text can't trigger date detection."""
    fmt = re.sub(r'"[^"]*"', "", fmt)
    fmt = re.sub(r"\[[^\]]*\]", "", fmt)
    fmt = re.sub(r"\\.", "", fmt)
    return fmt


def is_date_format(fmt_code: str) -> bool:
    """Custom-format date classifier: any unescaped m/d/y remaining after
    literal sections are stripped (reference rule, xlsparser.js:62-77)."""
    return bool(re.search(r"[mdyMDY]", _strip_literal_sections(fmt_code)))


def is_time_format(fmt_code: str) -> bool:
    """Custom-format TIME-ONLY classifier (``times=True`` mode):
    unescaped h or s with no unescaped d/y. A code with both time and
    d/y tokens is a DATETIME and stays with the date classifier ('m'
    alone is ambiguous — month vs minute — and resolves to date for
    reference parity, e.g. custom 'h:mm' is time only because h wins
    over the ambiguous m)."""
    stripped = _strip_literal_sections(fmt_code)
    return bool(re.search(r"[hsHS]", stripped)) and not re.search(
        r"[dyDY]", stripped
    )


def serial_to_time_str(serial: float) -> str:
    """Fraction-of-day of an Excel serial → ``HH:MM:SS`` (the time-of-
    day the cell displays; any whole-day part is discarded, as Excel's
    h:mm formats do)."""
    secs = min(round((serial - int(serial)) * 86400), 86399)
    h, rem = divmod(int(secs), 3600)
    m, s = divmod(rem, 60)
    return f"{h:02d}:{m:02d}:{s:02d}"


def a1_to_rowcol(ref: str) -> tuple[int, int]:
    """``'BC23'`` → (22, 54): 0-based (row, col). Base-26 letters
    (xlsparser.js:85-102 semantics)."""
    m = re.match(r"^([A-Z]+)(\d+)$", ref)
    if not m:
        raise ValueError(f"bad A1 reference: {ref!r}")
    col = 0
    for ch in m.group(1):
        col = col * 26 + (ord(ch) - 64)
    return int(m.group(2)) - 1, col - 1


def serial_to_iso(
    serial: float, bug_compat_1900: bool = False, keep_time: bool = False
) -> str:
    """Excel 1900-system serial number → ISO date string.

    Correct mode maps 1..59 → 1900-01-01..1900-02-28 and ≥61 with the
    1899-12-30 epoch (serial 60, the fictitious 1900-02-29, is rendered
    as 1900-03-01). ``bug_compat_1900`` reproduces the reference's
    arithmetic exactly (xlsparser.js:173-177: ``new Date(1900,0,1);
    dt.setDate(serial)`` — a uniform 1899-12-31 epoch with no fake
    Feb 29), which renders serials ≥ 60 one day LATE vs Excel
    (61 → 1900-03-02, 44197 → 2021-01-02).

    Fractional time-of-day is dropped by default (parity: times
    unsupported in the reference, xlsparser.js:52); ``keep_time=True``
    is the engine extension that renders the day fraction as
    ``YYYY-MM-DD HH:MM:SS`` (rounded to the nearest second, clamped
    inside the day)."""
    days = int(serial)
    if bug_compat_1900 or days < 61:
        day = _dt.date(1899, 12, 31) + _dt.timedelta(days=days)
    else:
        day = _EPOCH_1900 + _dt.timedelta(days=days)
    if not keep_time:
        return day.isoformat()
    secs = min(round((serial - days) * 86400), 86399)
    return (
        _dt.datetime.combine(day, _dt.time())
        + _dt.timedelta(seconds=secs)
    ).strftime("%Y-%m-%d %H:%M:%S")


def _cell_text(c: ET.Element, shared: list[str]) -> str:
    ctype = c.get("t", "n")
    if ctype == "inlineStr":
        is_el = c.find(f"{_MAIN_NS}is")
        return "".join(t.text or "" for t in is_el.iter(f"{_MAIN_NS}t")) if is_el is not None else ""
    v = c.find(f"{_MAIN_NS}v")
    if v is None or v.text is None:
        return ""
    if ctype == "s":
        return shared[int(v.text)]
    if ctype == "b":
        return "TRUE" if v.text.strip() == "1" else "FALSE"
    return v.text


def _elements(raw: bytes, chunk: int):
    """Each element of an XML part as its end tag is parsed, feeding the
    parser ``chunk`` bytes at a time: a reader that stops early has
    parsed at most one chunk past the element it stopped at
    (``ET.iterparse`` reads 16 KiB ahead, most of a small sheet)."""
    parser = ET.XMLPullParser()
    view = memoryview(raw)
    for i in range(0, len(raw), chunk):
        parser.feed(view[i : i + chunk])
        for _event, el in parser.read_events():
            yield el
    parser.close()
    for _event, el in parser.read_events():
        yield el


def _num_to_str(raw: str) -> str:
    """Render a numeric cell the way a spreadsheet shows it: integers
    without a trailing ``.0``."""
    try:
        f = float(raw)
    except ValueError:
        return raw
    if f == int(f) and abs(f) < 1e16:
        return str(int(f))  # integral (incl. 2.5e2 → 250): show as int
    return raw


class WorkbookReader:
    """Decode one .xlsx byte payload into ``{sheet_name: matrix}``."""

    def __init__(
        self,
        data: bytes,
        bug_compat_1900: bool = False,
        keep_time: bool = False,
        times: bool = False,
    ):
        self._zip = zipfile.ZipFile(io.BytesIO(data))
        self.bug_compat_1900 = bug_compat_1900
        self.keep_time = keep_time
        self.times = times
        self._shared = self._read_shared_strings()
        self._date_styles, self._time_styles = self._read_styles()
        self.sheet_paths = self._read_sheet_paths()
        self._sheet_parts: dict[str, bytes | None] = {}

    # -- package parts ------------------------------------------------
    def _read(self, name: str) -> bytes | None:
        try:
            return self._zip.read(name)
        except KeyError:
            return None

    def _read_shared_strings(self) -> list[str]:
        raw = self._read("xl/sharedStrings.xml")
        if raw is None:
            return []
        out = []
        for si in ET.fromstring(raw).iter(f"{_MAIN_NS}si"):
            out.append("".join(t.text or "" for t in si.iter(f"{_MAIN_NS}t")))
        return out

    def _read_styles(self) -> tuple[set[int], set[int]]:
        """Indices into cellXfs whose numFmt means 'date', and (``times``
        mode only) 'time of day' — one parse of ``styles.xml``. The
        reference skips times (xlsparser.js:52); the cell decode tests
        time styles first, so a custom 'h:mm' renders as time in
        ``times`` mode while remaining a date in parity mode."""
        raw = self._read("xl/styles.xml")
        root = None if raw is None else ET.fromstring(raw)
        cell_xfs = None if root is None else root.find(f"{_MAIN_NS}cellXfs")
        if cell_xfs is None:
            return set(), set()
        custom = [
            (int(nf.get("numFmtId")), nf.get("formatCode", ""))
            for nf in root.iter(f"{_MAIN_NS}numFmt")
        ]
        date_ids = _BUILTIN_DATE_NUMFMT | {i for i, f in custom if is_date_format(f)}
        time_ids = (
            _BUILTIN_TIME_NUMFMT | {i for i, f in custom if is_time_format(f)}
            if self.times
            else set()
        )
        fmt_ids = [int(xf.get("numFmtId", "0")) for xf in cell_xfs.findall(f"{_MAIN_NS}xf")]
        return (
            {i for i, f in enumerate(fmt_ids) if f in date_ids},
            {i for i, f in enumerate(fmt_ids) if f in time_ids},
        )

    def _read_sheet_paths(self) -> dict[str, str]:
        """sheet name → zip path, resolved through workbook rels
        (xlsparser.js:104-118 semantics)."""
        wb = self._read("xl/workbook.xml")
        rels = self._read("xl/_rels/workbook.xml.rels")
        if wb is None:
            return {}
        targets: dict[str, str] = {}
        if rels is not None:
            for rel in ET.fromstring(rels).iter(f"{_PKG_REL_NS}Relationship"):
                t = rel.get("Target", "")
                targets[rel.get("Id", "")] = t if t.startswith("xl/") else f"xl/{t.lstrip('/')}"
        out: dict[str, str] = {}
        for i, sh in enumerate(ET.fromstring(wb).iter(f"{_MAIN_NS}sheet")):
            rid = sh.get(f"{_REL_NS}id", "")
            out[sh.get("name", f"Sheet{i + 1}")] = targets.get(rid, f"xl/worksheets/sheet{i + 1}.xml")
        return out

    # -- sheet decode ---------------------------------------------------
    def sheet_names(self) -> list[str]:
        return list(self.sheet_paths)

    def read_sheet(
        self,
        name: str,
        visible_only: bool = False,
        max_rows: int | None = None,
        want_cols: set[int] | None = None,
    ) -> list[list[str]]:
        """Decode one sheet to a rectangular string matrix.

        ``max_rows`` bounds the number of (visible) XML rows parsed —
        the streaming parse stops as soon as that many rows are
        collected, so a header probe costs O(1) rows of work instead of
        the whole sheet. A bounded read derives the matrix width from
        the parsed rows only (an unbounded read uses the global widest
        row).

        ``want_cols`` (raw 0-based sheet column indices) is column
        pruning: cells outside the set skip value decoding entirely —
        no shared-string dereference, no date/number rendering — and
        surface as ``""``. Matrix positions of wanted columns are
        unchanged (the rectangle keeps every non-hidden column up to
        the widest *wanted* cell)."""
        return self._decode_sheet(name, visible_only, max_rows, want_cols)[0]

    def sheet_columns(
        self, name: str, visible_only: bool = False
    ) -> tuple[list[str], list[int]]:
        """Header probe with provenance: (first-row texts, raw sheet
        column index of each matrix position). Bounded to one XML row
        (falls back to a full parse only when the first row is empty);
        the raw indices are what ``read_sheet(want_cols=...)`` expects,
        so callers can map projected column NAMES to pruned cells even
        with hidden columns collapsed out of the matrix. Header texts
        render in parity mode (no time-of-day, no ``times`` formats),
        so a header's names do not depend on the read's time mode."""
        matrix, cols = self._decode_sheet(name, visible_only, max_rows=1, plain=True)
        if not matrix:
            matrix, cols = self._decode_sheet(name, visible_only, plain=True)
        if not matrix:
            return [], []
        return matrix[0], cols

    def _decode_sheet(
        self,
        name: str,
        visible_only: bool = False,
        max_rows: int | None = None,
        want_cols: set[int] | None = None,
        plain: bool = False,
    ) -> tuple[list[list[str]], list[int]]:
        if name not in self.sheet_paths:
            raise ValueError(
                f"no sheet named {name!r}; workbook has {self.sheet_names()}"
            )
        path = self.sheet_paths[name]
        if path not in self._sheet_parts:
            # kept for the reader's lifetime: a header probe followed by
            # the body read decompresses the sheet part once
            self._sheet_parts[path] = self._read(path)
        raw = self._sheet_parts[path]
        if raw is None:
            return [], []
        time_styles = set() if plain else self._time_styles
        keep_time = self.keep_time and not plain

        hidden_cols: set[int] = set()
        rows: list[tuple[int, dict[int, str]]] = []
        content_rows: set[int] = set()  # rows with content in ANY visible col
        max_col = -1
        # streaming parse: <cols> (column visibility) precedes
        # <sheetData> in the part, so hidden_cols is complete before
        # the first row is processed; early break keeps a bounded read
        # from ever touching the rest of the XML
        for el in _elements(raw, 2048 if max_rows is not None else 1 << 14):
            if el.tag == f"{_MAIN_NS}col":
                if visible_only and el.get("hidden") in ("1", "true"):
                    lo, hi = int(el.get("min")), int(el.get("max"))
                    hidden_cols.update(range(lo - 1, hi))
                continue
            if el.tag != f"{_MAIN_NS}row":
                continue
            row = el
            if visible_only and row.get("hidden") in ("1", "true"):
                row.clear()
                continue
            r_idx = int(row.get("r", len(rows) + 1)) - 1
            cells: dict[int, str] = {}
            next_col = 0
            has_content = False
            for c in row.findall(f"{_MAIN_NS}c"):
                ref = c.get("r")
                col_idx = a1_to_rowcol(ref)[1] if ref else next_col
                next_col = col_idx + 1
                if col_idx in hidden_cols:
                    continue
                if want_cols is not None and col_idx not in want_cols:
                    # pruned: skip the value FORMATTING (date/number
                    # rendering), but the row's extent must match the
                    # unpruned read — a truthy raw text marks the row
                    # non-empty even when every projected cell is blank
                    # (formatting never turns nonempty text empty, so
                    # this is the same emptiness the full decode sees)
                    if not has_content and _cell_text(c, self._shared):
                        has_content = True
                    continue
                text = _cell_text(c, self._shared)
                if text and c.get("t", "n") == "n":
                    style = int(c.get("s", "-1"))
                    if style in time_styles:
                        try:
                            text = serial_to_time_str(float(text))
                        except ValueError:
                            pass
                    elif style in self._date_styles:
                        try:
                            text = serial_to_iso(
                                float(text), self.bug_compat_1900, keep_time
                            )
                        except ValueError:
                            pass
                    else:
                        text = _num_to_str(text)
                if text:
                    cells[col_idx] = text
                    max_col = max(max_col, col_idx)
                    has_content = True
            if has_content:
                content_rows.add(r_idx)
            rows.append((r_idx, cells))
            row.clear()
            if max_rows is not None and len(rows) >= max_rows:
                break

        if max_col < 0 and (want_cols is None or not content_rows):
            # an all-empty PROJECTION of a sheet that has content still
            # yields one blank row per surviving row (kept_cols = [])
            return [], []
        # densify into a rectangle (xlsparser.js:126-142), dropping
        # hidden columns without leaving gaps
        kept_cols = [c for c in range(max_col + 1) if c not in hidden_cols]
        n_rows = max((r for r, _ in rows), default=-1) + 1
        present = {r: cells for r, cells in rows}
        matrix = [
            [present.get(r, {}).get(c, "") for c in kept_cols] for r in range(n_rows)
        ]
        row_ids = list(range(n_rows))
        if visible_only:
            # row indices with holes (hidden rows skipped) collapse
            matrix = [m for r, m in zip(row_ids, matrix) if r in present]
            row_ids = [r for r in row_ids if r in present]
        # trailing-empty-row trim, bottom-up early cut-off
        # (xlsparser.js:189-210). Under pruning, "empty" means the whole
        # ROW was empty across every visible column (content_rows), not
        # just the projected cells — so a pruned read keeps exactly the
        # rows the unpruned read keeps.
        if want_cols is None:
            while matrix and not any(cell for cell in matrix[-1]):
                matrix.pop()
        else:
            while matrix and row_ids[-1] not in content_rows:
                matrix.pop()
                row_ids.pop()
        return matrix, kept_cols
