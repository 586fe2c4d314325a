"""Dependency-free XLSX write/read (ECMA-376 / ISO 29500 SpreadsheetML).

The reference's XlsxFormatter (lwetl/formatter.py:442-525) and XlsxImport
(lwetl/table_import.py:378-480) require openpyxl.  This engine ships a
minimal, public-spec implementation — an .xlsx file is a zip container of
well-known XML parts — so the K4 sink and S5 source need no excel
library.  `formatter.write_xlsx*` and `sources.xlsx.xlsx_source` always
write and read through this module, so cell types never depend on which
packages are installed.

Scope (same envelope as the reference's report outputs):
- one or many worksheets, header row + data rows
- cell types: numbers (t="n"), booleans (t="b"), everything else as
  inline strings (t="inlineStr") — no sharedStrings table, so sheets
  stream independently
- datetimes/dates render as ISO strings (no 1900-epoch serials); the
  reader returns them as strings
- reader accepts inlineStr, sharedStrings and numeric cells, so it reads
  openpyxl/pandas output too
"""

from __future__ import annotations

import datetime
import io
import re
import zipfile
from collections.abc import Iterable, Iterator
from xml.etree import ElementTree as ET
from xml.sax.saxutils import escape

_NS = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
_NS_REL = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"

_CONTENT_TYPES = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
<Default Extension="xml" ContentType="application/xml"/>
<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>
{sheet_overrides}
</Types>
"""

_ROOT_RELS = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>
</Relationships>
"""


def _col_letter(i: int) -> str:
    """0-based column index -> A, B, ..., Z, AA, ..."""
    s = ""
    i += 1
    while i:
        i, r = divmod(i - 1, 26)
        s = chr(ord("A") + r) + s
    return s


def _cell_xml(ref: str, v: object) -> str:
    if v is None:
        return ""
    if isinstance(v, bool):
        return f'<c r="{ref}" t="b"><v>{1 if v else 0}</v></c>'
    if isinstance(v, (int, float)):
        # NaN/inf are not valid numeric cell content (<v>nan</v> renders
        # inconsistently across readers) — emit them as inline strings,
        # which is what openpyxl does for inf and Excel shows verbatim
        if isinstance(v, float) and (v != v or v in (float("inf"), float("-inf"))):
            s = "NaN" if v != v else ("inf" if v > 0 else "-inf")
            return (
                f'<c r="{ref}" t="inlineStr"><is>'
                f'<t xml:space="preserve">{s}</t></is></c>'
            )
        return f'<c r="{ref}" t="n"><v>{v!r}</v></c>'
    if isinstance(v, datetime.datetime):
        s = v.isoformat(sep=" ")
    elif isinstance(v, (datetime.date, datetime.time)):
        s = v.isoformat()
    else:
        s = str(v)
    return f'<c r="{ref}" t="inlineStr"><is><t xml:space="preserve">{escape(s)}</t></is></c>'


def _sheet_xml(columns: list[str], rows: Iterable[tuple]) -> str:
    out = io.StringIO()
    out.write(
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
        f'<worksheet xmlns="{_NS}"><sheetData>'
    )
    out.write(
        '<row r="1">'
        + "".join(_cell_xml(f"{_col_letter(i)}1", c) for i, c in enumerate(columns))
        + "</row>"
    )
    for r, row in enumerate(rows, start=2):
        out.write(
            f'<row r="{r}">'
            + "".join(_cell_xml(f"{_col_letter(i)}{r}", v) for i, v in enumerate(row))
            + "</row>"
        )
    out.write("</sheetData></worksheet>")
    return out.getvalue()


def write_workbook(
    sheets: list[tuple[str, list[str], Iterable[tuple]]], path: str
) -> None:
    """Write (sheet_name, columns, row_iterable) triples as one .xlsx."""
    overrides = []
    wb_sheets = []
    wb_rels = []
    for i, (name, _, _) in enumerate(sheets, start=1):
        overrides.append(
            f'<Override PartName="/xl/worksheets/sheet{i}.xml" ContentType='
            '"application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
        )
        wb_sheets.append(
            f'<sheet name="{escape(str(name))}" sheetId="{i}" r:id="rIdS{i}"/>'
        )
        wb_rels.append(
            f'<Relationship Id="rIdS{i}" Type="http://schemas.openxmlformats.org/'
            f'officeDocument/2006/relationships/worksheet" Target="worksheets/sheet{i}.xml"/>'
        )
    workbook = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
        f'<workbook xmlns="{_NS}" xmlns:r="{_NS_REL}"><sheets>'
        + "".join(wb_sheets)
        + "</sheets></workbook>"
    )
    workbook_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        + "".join(wb_rels)
        + "</Relationships>"
    )
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr(
            "[Content_Types].xml",
            _CONTENT_TYPES.format(sheet_overrides="\n".join(overrides)),
        )
        z.writestr("_rels/.rels", _ROOT_RELS)
        z.writestr("xl/workbook.xml", workbook)
        z.writestr("xl/_rels/workbook.xml.rels", workbook_rels)
        for i, (_, columns, rows) in enumerate(sheets, start=1):
            z.writestr(f"xl/worksheets/sheet{i}.xml", _sheet_xml(columns, rows))


_CELL_REF = re.compile(r"([A-Z]+)(\d+)")


def _ref_col(ref: str) -> int:
    m = _CELL_REF.match(ref)
    n = 0
    for ch in m.group(1):
        n = n * 26 + (ord(ch) - ord("A") + 1)
    return n - 1


def read_workbook(path: str) -> dict[str, list[list[object]]]:
    """Read every worksheet into {name: [[cell, ...], ...]} (row 0 is the
    header row as written).  Numbers come back as int/float, booleans as
    bool, strings (inline or shared) as str, empty cells as None."""
    with zipfile.ZipFile(path) as z:
        wb = ET.fromstring(z.read("xl/workbook.xml"))
        rels = ET.fromstring(z.read("xl/_rels/workbook.xml.rels"))
        rel_target = {
            r.get("Id"): r.get("Target")
            for r in rels.iter(
                "{http://schemas.openxmlformats.org/package/2006/relationships}Relationship"
            )
        }
        shared: list[str] = []
        if "xl/sharedStrings.xml" in z.namelist():
            ss = ET.fromstring(z.read("xl/sharedStrings.xml"))
            for si in ss.iter(f"{{{_NS}}}si"):
                shared.append("".join(t.text or "" for t in si.iter(f"{{{_NS}}}t")))
        out: dict[str, list[list[object]]] = {}
        for sheet in wb.iter(f"{{{_NS}}}sheet"):
            name = sheet.get("name")
            target = rel_target.get(sheet.get(f"{{{_NS_REL}}}id"))
            if target is None:
                raise ValueError(
                    f"workbook sheet {name!r} has no worksheet relationship "
                    "(missing or mismatched r:id in xl/_rels/workbook.xml.rels)"
                )
            target = target if target.startswith("xl/") else f"xl/{target}"
            ws = ET.fromstring(z.read(target))
            rows: list[list[object]] = []
            for row in ws.iter(f"{{{_NS}}}row"):
                cells: dict[int, object] = {}
                for c in row.iter(f"{{{_NS}}}c"):
                    ci = _ref_col(c.get("r", "A1"))
                    t = c.get("t", "n")
                    if t == "inlineStr":
                        cells[ci] = "".join(
                            x.text or "" for x in c.iter(f"{{{_NS}}}t")
                        )
                    else:
                        v = c.find(f"{{{_NS}}}v")
                        if v is None or v.text is None:
                            cells[ci] = None
                        elif t == "s":
                            cells[ci] = shared[int(v.text)]
                        elif t == "b":
                            cells[ci] = v.text == "1"
                        elif t == "str":
                            cells[ci] = v.text
                        else:
                            f = float(v.text)
                            cells[ci] = int(f) if f.is_integer() and "." not in v.text and "E" not in v.text.upper() else f
                width = max(cells) + 1 if cells else 0
                rows.append([cells.get(i) for i in range(width)])
            # pad ragged rows to the sheet's max width
            w = max((len(r) for r in rows), default=0)
            out[name] = [r + [None] * (w - len(r)) for r in rows]
    return out


def iter_df_rows(df, max_rows: int | None) -> Iterator[tuple]:
    """A DataFrame's rows, driver-side: one bounded collect with a cap,
    a stream without (same envelope as formatter.format_text_table)."""
    from lwetl_spark.sinks.formatter import _rows

    for row in _rows(df, max_rows):
        yield tuple(row)
