"""Minimal stdlib xlsx reader (zipfile + ElementTree) — fallback for
the S1/S2 ingestion edge when openpyxl isn't installed.

Handles the cell types that occur in customs extracts: inline strings,
shared strings, and numbers.  Driver-side by design: xlsx inputs are
small batch extracts (10³ rows); bulk data arrives as Parquet/CSV.
"""

from __future__ import annotations

import re
import zipfile
import xml.etree.ElementTree as ET

_NS = {"m": "http://schemas.openxmlformats.org/spreadsheetml/2006/main"}
_COL_RE = re.compile(r"([A-Z]+)(\d+)")


def _col_index(ref: str) -> int:
    """'A'→0, 'AA'→26 …"""
    letters = _COL_RE.match(ref).group(1)
    idx = 0
    for ch in letters:
        idx = idx * 26 + (ord(ch) - 64)
    return idx - 1


def read_xlsx_rows(path: str, sheet: int = 1) -> list[list]:
    """Return the sheet as a list of rows (list of cell values; None for
    empty).  Numbers come back as float/int, strings as str."""
    z = zipfile.ZipFile(path)
    shared: list[str] = []
    if "xl/sharedStrings.xml" in z.namelist():
        root = ET.parse(z.open("xl/sharedStrings.xml")).getroot()
        for si in root.findall("m:si", _NS):
            shared.append("".join(t.text or "" for t in si.findall(".//m:t", _NS)))

    root = ET.parse(z.open(f"xl/worksheets/sheet{sheet}.xml")).getroot()
    out: list[list] = []
    width = 0
    for row in root.findall(".//m:sheetData/m:row", _NS):
        cells: dict[int, object] = {}
        for c in row.findall("m:c", _NS):
            ref = c.get("r")
            i = _col_index(ref) if ref else len(cells)
            t = c.get("t", "n")
            if t == "inlineStr":
                el = c.find("m:is", _NS)
                v = "".join(x.text or "" for x in el.findall(".//m:t", _NS)) if el is not None else None
                v = v if v != "" else None
            else:
                vel = c.find("m:v", _NS)
                raw = vel.text if vel is not None else None
                if raw is None:
                    v = None
                elif t == "s":
                    v = shared[int(raw)]
                elif t == "str":
                    v = raw
                elif t == "b":
                    v = raw == "1"
                else:  # numeric
                    f = float(raw)
                    v = int(f) if f.is_integer() and abs(f) < 2**53 else f
            cells[i] = v
            width = max(width, i + 1)
        out.append([cells.get(i) for i in range(width)])
    # normalize ragged rows to full width
    return [r + [None] * (width - len(r)) for r in out]


def read_xlsx_records(path: str) -> list[dict]:
    """Rows of the first sheet as dicts keyed by the header row."""
    rows = read_xlsx_rows(path)
    if not rows:
        return []
    header = [str(h) if h is not None else f"col_{i}" for i, h in enumerate(rows[0])]
    return [dict(zip(header, r)) for r in rows[1:]]


# ---------------------------------------------------------------------------
# Minimal writer (S4 xlsx export edge without openpyxl): numbers as
# numeric cells, booleans as b-cells, everything else inline strings.
# ---------------------------------------------------------------------------

_CONTENT_TYPES = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
    '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
    '<Default Extension="xml" ContentType="application/xml"/>'
    '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
    '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
    "</Types>"
)
_ROOT_RELS = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
    '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>'
    "</Relationships>"
)
_WORKBOOK = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
    'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
    '<sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets></workbook>'
)
_WORKBOOK_RELS = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
    '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>'
    "</Relationships>"
)


def _cell_ref(row: int, col: int) -> str:
    letters = ""
    c = col
    while True:
        letters = chr(ord("A") + c % 26) + letters
        c = c // 26 - 1
        if c < 0:
            break
    return f"{letters}{row + 1}"


def _esc(s: str) -> str:
    return (
        s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    )


def write_xlsx_rows(path: str, rows: list[list]) -> None:
    """Write rows (header included by the caller) as a minimal valid
    xlsx.  Inverse of ``read_xlsx_rows`` for the export edge and test
    fixtures; not a styling/formula engine."""
    body: list[str] = []
    for ri, row in enumerate(rows):
        cells = []
        for ci, v in enumerate(row):
            ref = _cell_ref(ri, ci)
            if v is None:
                continue
            if isinstance(v, bool):
                cells.append(f'<c r="{ref}" t="b"><v>{int(v)}</v></c>')
            elif isinstance(v, (int, float)):
                cells.append(f'<c r="{ref}"><v>{v!r}</v></c>')
            else:
                cells.append(
                    f'<c r="{ref}" t="inlineStr"><is><t xml:space="preserve">'
                    f"{_esc(str(v))}</t></is></c>"
                )
        body.append(f'<row r="{ri + 1}">{"".join(cells)}</row>')
    sheet = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        f'<sheetData>{"".join(body)}</sheetData></worksheet>'
    )
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("[Content_Types].xml", _CONTENT_TYPES)
        z.writestr("_rels/.rels", _ROOT_RELS)
        z.writestr("xl/workbook.xml", _WORKBOOK)
        z.writestr("xl/_rels/workbook.xml.rels", _WORKBOOK_RELS)
        z.writestr("xl/worksheets/sheet1.xml", sheet)
