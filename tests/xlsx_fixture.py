"""Minimal hand-rolled .xlsx builder for parser tests (the reference
ships binary mock/test.xlsx fixtures; we generate ours so the content
is visible in review)."""

import zipfile

_CT = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
<Default Extension="xml" ContentType="application/xml"/>
<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>
<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>
<Override PartName="/xl/worksheets/sheet2.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>
<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>
<Override PartName="/xl/styles.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.styles+xml"/>
</Types>"""

_RELS = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>
</Relationships>"""

_WORKBOOK = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
<sheets>
<sheet name="data" sheetId="1" r:id="rId1"/>
<sheet name="data_t" sheetId="2" r:id="rId2"/>
</sheets>
</workbook>"""

_WB_RELS = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>
<Relationship Id="rId2" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet2.xml"/>
</Relationships>"""

_SHARED = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="6" uniqueCount="6">
<si><t>id</t></si><si><t>name</t></si><si><t>when</t></si><si><t>flag</t></si>
<si><t>alice</t></si><si><r><t>bo</t></r><r><t>b</t></r></si>
</sst>"""

# style 0: general; style 1: builtin date (numFmtId 14); style 2:
# custom date-like format; style 3: custom non-date format
_STYLES = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
<numFmts count="2">
<numFmt numFmtId="164" formatCode="yyyy-mm-dd"/>
<numFmt numFmtId="165" formatCode="0.00%"/>
</numFmts>
<cellXfs count="4">
<xf numFmtId="0"/><xf numFmtId="14"/><xf numFmtId="164"/><xf numFmtId="165"/>
</cellXfs>
</styleSheet>"""

# headers; alice row (shared string, date serial 45000, bool true);
# bob row (rich-text shared string, datetime serial 45000.25, bool
# false); row 4 skipped entirely; row 5 sparse (A and D only, inline
# string in D)
_SHEET1 = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
<dimension ref="A1:D5"/>
<sheetData>
<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c><c r="C1" t="s"><v>2</v></c><c r="D1" t="s"><v>3</v></c></row>
<row r="2"><c r="A2"><v>1</v></c><c r="B2" t="s"><v>4</v></c><c r="C2" s="1"><v>45000</v></c><c r="D2" t="b"><v>1</v></c></row>
<row r="3"><c r="A3"><v>2</v></c><c r="B3" t="s"><v>5</v></c><c r="C3" s="2"><v>45000.25</v></c><c r="D3" t="b"><v>0</v></c></row>
<row r="5"><c r="A5"><v>3</v></c><c r="D5" t="inlineStr"><is><t>inline</t></is></c></row>
</sheetData>
</worksheet>"""

# transposed layout: each row is a column (id / val)
_SHEET2 = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
<dimension ref="A1:D2"/>
<sheetData>
<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1"><v>1</v></c><c r="C1"><v>2</v></c><c r="D1"><v>3</v></c></row>
<row r="2"><c r="A2" t="str"><v>val</v></c><c r="B2"><v>1.5</v></c><c r="C2"><v>2.5</v></c><c r="D2"><v>3.5</v></c></row>
</sheetData>
</worksheet>"""


def make_test_xlsx(path: str) -> str:
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("[Content_Types].xml", _CT)
        zf.writestr("_rels/.rels", _RELS)
        zf.writestr("xl/workbook.xml", _WORKBOOK)
        zf.writestr("xl/_rels/workbook.xml.rels", _WB_RELS)
        zf.writestr("xl/sharedStrings.xml", _SHARED)
        zf.writestr("xl/styles.xml", _STYLES)
        zf.writestr("xl/worksheets/sheet1.xml", _SHEET1)
        zf.writestr("xl/worksheets/sheet2.xml", _SHEET2)
    return path


def excel_to_db_run(spark, ex, path: str):
    """Write a 30-row sheet to ``path`` and feed it through
    ``consume_excel`` into ``ex`` in two 15-row batches: REPLACE, then
    UPSERT (keys 5-14 updated, 15-19 new, key 7's name set to NULL).
    Each save runs under its own Spark job group.

    Returns (Spark jobs per save, {key: (id, name, price, day, ts, flag)}
    with the last write per key)."""
    import datetime as dt
    import uuid

    from fabrix_spark.sources.excel import XlReadOptions, consume_excel
    from fabrix_spark.sources.sql import SaveStrategy
    from fabrix_spark.sources.xlsx import write_xlsx

    def row(key, batch):
        return [
            key,
            None if (batch, key) == (1, 7) else f"{'nu'[batch]}{key}",
            key + (0.25, 0.75)[batch],
            dt.date(2024, 1, 1) + dt.timedelta(days=key + 100 * batch),
            dt.datetime(2024, 1, 1, 8) + dt.timedelta(hours=key, seconds=7 * key, days=batch),
            (key + batch) % 2 == 0,
        ]

    rows = [row(k, 0) for k in range(15)] + [row(k, 1) for k in range(5, 20)]
    write_xlsx([["id", "name", "price", "day", "ts", "flag"]] + rows, path)
    expected = {r[0]: tuple(r) for r in rows}

    sc = spark.sparkContext
    jobs = []

    def consumer(fx, i):
        group = f"excel-save-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "excel save")
        try:
            strategy = SaveStrategy.REPLACE if i == 0 else SaveStrategy.UPSERT
            assert ex.save("sheet", fx, strategy) == 15
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))

    assert consume_excel(spark, path, consumer, XlReadOptions(index="id", batch_size=15)) == 2
    return jobs, expected
