"""Excel dim ingest (S1): ``sources/excel.py`` reads an xlsx written here
with stdlib ``zipfile``, so the reader is exercised without the
reference workbooks or any Excel package."""

from __future__ import annotations

import datetime as dt
import zipfile

from learn_etl_data_warehouse_spark.plans.warehouse import _excel_serial_to_date
from learn_etl_data_warehouse_spark.sources.excel import read_excel

_MAIN = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"

# Shared strings: the header names, one plain value and one rich-text
# value split over two runs.
_SHARED = f"""<?xml version="1.0" encoding="UTF-8"?>
<sst xmlns="{_MAIN}" count="9" uniqueCount="9">
<si><t>name</t></si><si><t>code</t></si><si><t>trips</t></si>
<si><t>rating</t></si><si><t>active</t></si><si><t>note</t></si>
<si><t>birthdate</t></si><si><t>Budi</t></si>
<si><r><t>Sa</t></r><r><t>ri</t></r></si>
</sst>"""

# Row 2: inline string, int, float, true, an empty cell, a date-styled
# day serial. Row 3: false and a formula string where row 2 is blank.
_SHEET = f"""<?xml version="1.0" encoding="UTF-8"?>
<worksheet xmlns="{_MAIN}"><sheetData>
<row r="1">
<c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c>
<c r="C1" t="s"><v>2</v></c><c r="D1" t="s"><v>3</v></c>
<c r="E1" t="s"><v>4</v></c><c r="F1" t="s"><v>5</v></c>
<c r="G1" t="s"><v>6</v></c>
</row>
<row r="2">
<c r="A2" t="s"><v>7</v></c><c r="B2" t="inlineStr"><is><t>K-01</t></is></c>
<c r="C2"><v>12</v></c><c r="D2"><v>4.5</v></c><c r="E2" t="b"><v>1</v></c>
<c r="F2"/><c r="G2" s="1"><v>33970</v></c>
</row>
<row r="3">
<c r="A3" t="s"><v>8</v></c><c r="B3" t="inlineStr"><is><t>K-02</t></is></c>
<c r="C3"><v>7</v></c><c r="D3"><v>3.25</v></c><c r="E3" t="b"><v>0</v></c>
<c r="F3" t="str"><v>late</v></c><c r="G3" s="1"><v>36526</v></c>
</row>
</sheetData></worksheet>"""


def _write_xlsx(path, sheet=_SHEET, shared=_SHARED):
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("xl/sharedStrings.xml", shared)
        zf.writestr("xl/worksheets/sheet1.xml", sheet)


def test_read_excel_values_and_types(spark, tmp_path):
    path = str(tmp_path / "master_test.xlsx")
    _write_xlsx(path)
    df = read_excel(spark, path)
    assert [(f.name, f.dataType.simpleString()) for f in df.schema.fields] == [
        ("name", "string"),
        ("code", "string"),
        ("trips", "bigint"),
        ("rating", "double"),
        ("active", "boolean"),
        ("note", "string"),
        ("birthdate", "bigint"),
    ]
    assert [tuple(r) for r in df.orderBy("code").collect()] == [
        ("Budi", "K-01", 12, 4.5, True, None, 33970),
        ("Sari", "K-02", 7, 3.25, False, "late", 36526),
    ]
    # Date cells arrive as day serials, the form the warehouse converts.
    dates = df.orderBy("code").select(
        _excel_serial_to_date("birthdate").alias("d")
    )
    assert [r["d"] for r in dates.collect()] == [
        dt.date(1993, 1, 1),
        dt.date(2000, 1, 1),
    ]


# One numeric column holding a whole number (4) and a fraction (4.5),
# next to an all-whole column and a boolean one.
_MIXED_SHEET = f"""<?xml version="1.0" encoding="UTF-8"?>
<worksheet xmlns="{_MAIN}"><sheetData>
<row r="1">
<c r="A1" t="inlineStr"><is><t>rating</t></is></c>
<c r="B1" t="inlineStr"><is><t>trips</t></is></c>
<c r="C1" t="inlineStr"><is><t>active</t></is></c>
</row>
<row r="2"><c r="A2"><v>4</v></c><c r="B2"><v>12</v></c><c r="C2" t="b"><v>1</v></c></row>
<row r="3"><c r="A3"><v>4.5</v></c><c r="B3"><v>7</v></c><c r="C3" t="b"><v>0</v></c></row>
<row r="4"><c r="A4"/><c r="B4"><v>3</v></c><c r="C4" t="b"><v>1</v></c></row>
</sheetData></worksheet>"""


def test_read_excel_mixed_whole_and_fractional_column_is_double(spark, tmp_path):
    path = str(tmp_path / "master_mixed.xlsx")
    _write_xlsx(path, sheet=_MIXED_SHEET, shared=f'<sst xmlns="{_MAIN}"/>')
    df = read_excel(spark, path)
    assert [(f.name, f.dataType.simpleString()) for f in df.schema.fields] == [
        ("rating", "double"),
        ("trips", "bigint"),
        ("active", "boolean"),
    ]
    assert [tuple(r) for r in df.collect()] == [
        (4.0, 12, True),
        (4.5, 7, False),
        (None, 3, True),
    ]
