"""Minimal XLSX (ECMA-376 SpreadsheetML) sheet reader/writer — stdlib only.

XLSX is a zip: xl/workbook.xml lists sheets, xl/sharedStrings.xml holds
the shared-string table, xl/worksheets/sheetN.xml holds rows of cells with
A1-style references. Covers inline/shared strings, numbers and booleans —
the surface the reference's POI-based parse-as-excel exercises.
"""

from __future__ import annotations

import io
import re
import zipfile
import xml.etree.ElementTree as ET

_NS = {"m": "http://schemas.openxmlformats.org/spreadsheetml/2006/main"}
_CELL_RE = re.compile(r"([A-Z]+)(\d+)")


def sheet_exists(payload: bytes, sheet: str | int = 0) -> bool:
    """Cheap readability probe: open the zip, resolve the sheet from
    workbook.xml, and XML-parse the worksheet entry — but skip the
    shared-string table and all cell extraction (the bulk of read_sheet's
    work). For the error-channel routing predicate that runs over EVERY
    payload; read_sheet's remaining failure modes past this probe
    (e.g. an out-of-range shared-string index) are guarded at the caller."""
    try:
        zf = zipfile.ZipFile(io.BytesIO(payload))
        wb = ET.fromstring(zf.read("xl/workbook.xml"))
        sheets = [(s.get("name"), i + 1) for i, s in enumerate(wb.find("m:sheets", _NS) or [])]
        if isinstance(sheet, int) or (isinstance(sheet, str) and sheet.isdigit()):
            target = int(sheet) + 1
        else:
            target = next((idx for name, idx in sheets if name == sheet), None)
            if target is None:
                return False
        sheet_path = f"xl/worksheets/sheet{target}.xml"
        if sheet_path not in zf.namelist():
            return False
        ET.fromstring(zf.read(sheet_path))
        return True
    except Exception:  # noqa: BLE001 — any malformed container is unreadable
        return False


def read_sheet(payload: bytes, sheet: str | int = 0) -> list[dict[str, str]]:
    """Returns one dict per non-empty row: {column-letter: value-as-string}."""
    zf = zipfile.ZipFile(io.BytesIO(payload))

    shared: list[str] = []
    if "xl/sharedStrings.xml" in zf.namelist():
        root = ET.fromstring(zf.read("xl/sharedStrings.xml"))
        for si in root.findall("m:si", _NS):
            shared.append("".join(t.text or "" for t in si.iter(f"{{{_NS['m']}}}t")))

    wb = ET.fromstring(zf.read("xl/workbook.xml"))
    sheets = [(s.get("name"), i + 1) for i, s in enumerate(wb.find("m:sheets", _NS) or [])]
    if isinstance(sheet, int) or (isinstance(sheet, str) and sheet.isdigit()):
        target = int(sheet) + 1
    else:
        target = next((idx for name, idx in sheets if name == sheet), None)
        if target is None:
            raise ValueError(f"sheet {sheet!r} not found; sheets: {[n for n, _ in sheets]}")

    sheet_path = f"xl/worksheets/sheet{target}.xml"
    root = ET.fromstring(zf.read(sheet_path))
    rows: list[dict[str, str]] = []
    for row in root.iter(f"{{{_NS['m']}}}row"):
        out: dict[str, str] = {}
        for cell in row.findall("m:c", _NS):
            ref = cell.get("r", "")
            m = _CELL_RE.match(ref)
            letter = m.group(1) if m else "A"
            ctype = cell.get("t", "n")
            v = cell.find("m:v", _NS)
            if ctype == "s" and v is not None and v.text is not None:
                val = shared[int(v.text)]
            elif ctype == "inlineStr":
                is_el = cell.find("m:is", _NS)
                val = "".join(t.text or "" for t in is_el.iter(f"{{{_NS['m']}}}t")) if is_el is not None else ""
            elif ctype == "b" and v is not None:
                val = "true" if v.text == "1" else "false"
            else:
                val = v.text if v is not None and v.text is not None else ""
            if val != "":
                out[letter] = val
        if out:
            rows.append(out)
    return rows


def _xml_escape(s: str) -> str:
    return (
        s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
        .replace('"', "&quot;")
    )


def _index_to_col_letter(idx: int) -> str:
    letters = ""
    n = idx + 1
    while n:
        n, rem = divmod(n - 1, 26)
        letters = chr(ord("A") + rem) + letters
    return letters


def write_xlsx(rows: list[list], sheet_name: str = "Sheet1") -> bytes:
    """Serialize rows (lists of cell values; None skips the cell) into a
    minimal single-sheet XLSX — the inverse of :func:`read_sheet`.
    Strings become inline-string cells (no shared-string table — one
    less moving part and byte-for-byte deterministic), bools boolean
    cells, numbers numeric cells. Deterministic: fixed zip metadata
    (zeroed timestamps), stored (uncompressed) entries, fixed member
    order — identical input rows always produce identical bytes."""
    sheet = ['<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
             '<worksheet xmlns="http://schemas.openxmlformats.org/'
             'spreadsheetml/2006/main"><sheetData>']
    for r, row in enumerate(rows, start=1):
        sheet.append(f'<row r="{r}">')
        for ci, val in enumerate(row):
            if val is None:
                continue
            ref = f"{_index_to_col_letter(ci)}{r}"
            if isinstance(val, bool):
                sheet.append(
                    f'<c r="{ref}" t="b"><v>{1 if val else 0}</v></c>')
            elif isinstance(val, (int, float)):
                v = repr(val) if isinstance(val, float) else str(val)
                sheet.append(f'<c r="{ref}"><v>{v}</v></c>')
            else:
                sheet.append(
                    f'<c r="{ref}" t="inlineStr"><is><t xml:space='
                    f'"preserve">{_xml_escape(str(val))}</t></is></c>')
        sheet.append("</row>")
    sheet.append("</sheetData></worksheet>")

    content_types = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/'
        'content-types">'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Override PartName="/xl/workbook.xml" ContentType="application/'
        'vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
        '<Override PartName="/xl/worksheets/sheet1.xml" ContentType='
        '"application/vnd.openxmlformats-officedocument.spreadsheetml.'
        'worksheet+xml"/></Types>')
    rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/'
        '2006/relationships"><Relationship Id="rId1" Type="http://schemas.'
        'openxmlformats.org/officeDocument/2006/relationships/'
        'officeDocument" Target="xl/workbook.xml"/></Relationships>')
    wb_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/'
        '2006/relationships"><Relationship Id="rId1" Type="http://schemas.'
        'openxmlformats.org/officeDocument/2006/relationships/worksheet" '
        'Target="worksheets/sheet1.xml"/></Relationships>')
    workbook = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/'
        '2006/main" xmlns:r="http://schemas.openxmlformats.org/'
        'officeDocument/2006/relationships"><sheets>'
        f'<sheet name="{_xml_escape(sheet_name)}" sheetId="1" r:id="rId1"/>'
        "</sheets></workbook>")

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_STORED) as zf:
        for name, data in (
            ("[Content_Types].xml", content_types),
            ("_rels/.rels", rels),
            ("xl/workbook.xml", workbook),
            ("xl/_rels/workbook.xml.rels", wb_rels),
            ("xl/worksheets/sheet1.xml", "".join(sheet)),
        ):
            zi = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
            zf.writestr(zi, data)
    return buf.getvalue()
