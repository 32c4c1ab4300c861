"""Excel dim ingest (SURVEY §2.1 S1; reference server.py:26-48).

Spark has no built-in Excel source. The dims are tiny (5-84 rows), so the
idiomatic move is an ingest-edge shim: a stdlib (zip + XML) reader turns
the sheet into rows on the driver, and the rows enter Spark as a
DataFrame. At cluster scale this is still correct — dimension ingest is a
driver-side bootstrap, the resulting DataFrame is broadcast into joins.
No Excel package (openpyxl/xlrd) is needed.
"""

from __future__ import annotations

import re
import xml.etree.ElementTree as ET
import zipfile

from pyspark.sql import DataFrame, SparkSession

_NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"


def _col_index(cell_ref: str) -> int:
    """'A1' → 0, 'AB3' → 27."""
    letters = re.match(r"[A-Z]+", cell_ref).group(0)
    idx = 0
    for ch in letters:
        idx = idx * 26 + (ord(ch) - ord("A") + 1)
    return idx - 1


def _shared_strings(zf: zipfile.ZipFile) -> list[str]:
    try:
        root = ET.fromstring(zf.read("xl/sharedStrings.xml"))
    except KeyError:
        return []
    out = []
    for si in root.findall(f"{_NS}si"):
        # plain <t> or rich-text <r><t> runs
        out.append("".join(t.text or "" for t in si.iter(f"{_NS}t")))
    return out


def read_xlsx_rows(path: str) -> list[dict]:
    """Minimal stdlib xlsx reader (zip + XML) of the first sheet: header
    row 1 → dict keys.

    Covers the cell types the reference workbooks use: shared strings,
    inline strings, numbers (ints stay int, unless a non-integral number
    shares their column: then the whole column is float), booleans,
    blank.
    Date cells surface as raw Excel serial numbers — conversion (epoch
    1899-12-30 + serial days) is the caller's, since xlsx stores dates as
    styled numbers and style resolution is out of scope for 84-row dims.
    """
    with zipfile.ZipFile(path) as zf:
        strings = _shared_strings(zf)
        root = ET.fromstring(zf.read("xl/worksheets/sheet1.xml"))
        raw_rows: list[dict[int, object]] = []
        for row in root.iter(f"{_NS}row"):
            vals: dict[int, object] = {}
            for c in row.findall(f"{_NS}c"):
                ref, ctype = c.get("r"), c.get("t", "n")
                v = c.find(f"{_NS}v")
                if ctype == "inlineStr":
                    is_el = c.find(f"{_NS}is")
                    val = "".join(t.text or "" for t in is_el.iter(f"{_NS}t")) if is_el is not None else None
                elif v is None or v.text is None:
                    val = None
                elif ctype == "s":
                    val = strings[int(v.text)]
                elif ctype == "b":
                    val = v.text == "1"
                elif ctype == "str":
                    val = v.text
                else:
                    num = float(v.text)
                    val = int(num) if num.is_integer() else num
                vals[_col_index(ref)] = val
            raw_rows.append(vals)
    if not raw_rows:
        return []
    header = raw_rows[0]
    ncols = max(header) + 1
    names = [str(header.get(i, f"col{i}")) for i in range(ncols)]
    body = [r for r in raw_rows[1:] if r]
    # A column holding 4 and 4.5 is a float column: one type per column,
    # as read_excel's schema inference needs (bool is an int subclass, so
    # match the exact type).
    for i in {i for r in body for i, v in r.items() if type(v) is float}:
        for r in body:
            if type(r.get(i)) is int:
                r[i] = float(r[i])
    return [{names[i]: r.get(i) for i in range(ncols)} for r in body]


def read_excel(spark: SparkSession, path: str) -> DataFrame:
    """Excel dim ingest: the first sheet through :func:`read_xlsx_rows`,
    column types inferred from the cell values (date cells stay day
    serials)."""
    rows = read_xlsx_rows(path)
    if not rows:
        raise ValueError(f"empty workbook: {path}")
    cols = list(rows[0].keys())
    return spark.createDataFrame([tuple(r[c] for c in cols) for r in rows], cols)
