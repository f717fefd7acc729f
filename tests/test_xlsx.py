"""xlsx source: stdlib SpreadsheetML reader/writer round-trip, openpyxl
value semantics, the reference's sheet→relationships pipeline end-to-end
(main.py:278-297 parity), and the distributed many-workbook path."""

from __future__ import annotations

import zipfile

import pytest

from ontology_graph_etl_spark.sources.tabular import (
    SheetConfig,
    extract_relationships,
)
from ontology_graph_etl_spark.sources.xlsx import (
    _row_schema,
    _stringify,
    parse_workbook,
    read_sheet_rows,
    read_sheets_distributed,
    sheet_names,
    write_xlsx,
)


@pytest.fixture()
def book_path(tmp_path):
    path = str(tmp_path / "book.xlsx")
    write_xlsx(
        path,
        {
            "concepts": [
                ["name", "id", "child", "child_id"],
                ["Lung Ca", "C01", "NSCLC", "C02"],
                ["Breast Ca", "C03", None, None],  # null dst
                [None, None, "orphan", "C99"],  # empty key -> stop
                ["After Stop", "C04", "x", "C05"],
            ],
            "numbers": [
                ["n", "x", "flag"],
                [1, 2.5, True],
                [-3, 1e300, False],
            ],
        },
    )
    return path


def test_round_trip_values(book_path):
    book = parse_workbook(open(book_path, "rb").read())
    assert list(book) == ["concepts", "numbers"]
    assert book["concepts"][1] == ["Lung Ca", "C01", "NSCLC", "C02"]
    assert book["concepts"][2] == ["Breast Ca", "C03", None, None]
    # numeric cells come back typed like openpyxl values_only
    assert book["numbers"][1] == [1, 2.5, True]
    assert book["numbers"][2] == [-3, 1e300, False]
    assert sheet_names(book_path) == ["concepts", "numbers"]


def test_rich_text_and_inline_strings(tmp_path):
    # handcrafted workbook exercising inlineStr, rich-text runs split
    # across <r><t> children, sparse cell refs, and a skipped row
    path = str(tmp_path / "inline.xlsx")
    ns = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
    sheet = f"""<?xml version="1.0"?><worksheet {ns}><sheetData>
<row r="1">
  <c r="A1" t="inlineStr"><is><r><t>He</t></r><r><t>llo</t></r></is></c>
  <c r="C1"><v>42</v></c>
</row>
<row r="3"><c r="B3" t="inlineStr"><is><t>world</t></is></c></row>
</sheetData></worksheet>"""
    wb = (
        f'<?xml version="1.0"?><workbook {ns} xmlns:r="http://schemas.'
        'openxmlformats.org/officeDocument/2006/relationships">'
        '<sheets><sheet name="s" sheetId="1" r:id="rId1"/></sheets></workbook>'
    )
    rels = (
        '<?xml version="1.0"?><Relationships xmlns="http://schemas.'
        'openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" Type="t" Target="worksheets/sheet1.xml"/>'
        "</Relationships>"
    )
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("xl/workbook.xml", wb)
        zf.writestr("xl/_rels/workbook.xml.rels", rels)
        zf.writestr("xl/worksheets/sheet1.xml", sheet)
    book = parse_workbook(open(path, "rb").read())
    assert book["s"] == [
        ["Hello", None, 42],
        [None, None, None],  # fully-empty row preserved (iter_rows parity)
        [None, "world", None],
    ]


def test_read_sheet_rows_dataframe(spark, book_path):
    df = read_sheet_rows(spark, book_path, sheet="concepts")
    rows = {r["line_no"]: r for r in df.collect()}
    # header (row 1) skipped, numbering preserved
    assert sorted(rows) == [2, 3, 4, 5]
    assert rows[2]["c0"] == "Lung Ca" and rows[2]["c3"] == "C02"
    assert rows[3]["c2"] is None
    # numeric sheet stringifies with Python str() (reference str(v) rule)
    num = read_sheet_rows(spark, book_path, sheet=1, header=False)
    vals = {r["line_no"]: (r["c0"], r["c1"], r["c2"]) for r in num.collect()}
    assert vals[2] == ("1", "2.5", "True")


def _read_sheet_rows_spec(spark, path, sheet=0, header=True, n_cols=None):
    """The value spec for read_sheet_rows: its former construction,
    a whole-workbook parse and a list of tuples handed to
    createDataFrame."""
    with open(path, "rb") as f:
        book = parse_workbook(f.read())
    if isinstance(sheet, str):
        rows = book[sheet]
    else:
        rows = list(book.values())[sheet]
    width = n_cols if n_cols is not None else max(
        (len(r) for r in rows), default=0
    )
    start = 1 if header else 0
    data = [
        tuple(
            [i]
            + [
                _stringify(r[c]) if c < len(r) else None
                for c in range(width)
            ]
        )
        for i, r in enumerate(rows, start=1)
        if i > start
    ]
    return spark.createDataFrame(data, _row_schema(width))


@pytest.fixture()
def mixed_book_path(tmp_path):
    path = str(tmp_path / "mixed.xlsx")
    write_xlsx(
        path,
        {
            # column 2 is NULL in every row; the None cells are omitted,
            # so refs are sparse, and row 3 has no <row> element at all
            "mixed": [
                ["name", "n", None, "flag", "x"],
                ["a", 1, None, True, 1e300],
                [None, None, None, None, None],
                ["b", -3, None, False, None],
                [None, 2.5, None, None, "tail"],
            ],
            "header_only": [["h1", "h2"]],
        },
    )
    return path


@pytest.mark.parametrize(
    "sheet,header,n_cols",
    [
        ("mixed", True, None),
        ("mixed", False, None),
        ("mixed", True, 2),  # narrower than the sheet
        ("mixed", False, 8),  # wider than the sheet
        (0, True, None),
        (-1, True, None),
        ("header_only", True, None),
        ("header_only", True, 3),
        (1, False, None),
    ],
)
def test_read_sheet_rows_matches_list_spec(
    spark, mixed_book_path, sheet, header, n_cols
):
    got = read_sheet_rows(
        spark, mixed_book_path, sheet=sheet, header=header, n_cols=n_cols
    )
    want = _read_sheet_rows_spec(
        spark, mixed_book_path, sheet=sheet, header=header, n_cols=n_cols
    )
    assert got.schema == want.schema
    assert got.collect() == want.collect()


def test_read_sheet_rows_spec_is_not_vacuous(spark, mixed_book_path):
    rows = read_sheet_rows(spark, mixed_book_path, sheet="mixed").collect()
    assert [tuple(r) for r in rows] == [
        (2, "a", "1", None, "True", "1e+300"),
        (3, None, None, None, None, None),
        (4, "b", "-3", None, "False", None),
        (5, None, "2.5", None, None, "tail"),
    ]


@pytest.mark.parametrize("sheet", ["mixed", "header_only"])
def test_read_sheet_rows_plans_local_table_scan(spark, mixed_book_path, sheet):
    df = read_sheet_rows(spark, mixed_book_path, sheet=sheet)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan, plan
    assert "ExistingRDD" not in plan, plan


def test_read_sheet_rows_missing_sheet_raises(spark, mixed_book_path):
    with pytest.raises(KeyError, match="'nope' not in"):
        read_sheet_rows(spark, mixed_book_path, sheet="nope")


def test_sheet_to_relationships_end_to_end(spark, book_path):
    # the reference's full entry-point-2 flow: xlsx -> ordered rows ->
    # header skip + stop-at-first-empty-key + null-dst filter -> edges
    raw = read_sheet_rows(spark, book_path, sheet="concepts")
    cfg = SheetConfig(1, "NeoplasmType", "NeoplasmType", "PARENT_OF")
    rels = extract_relationships(raw, cfg).collect()
    assert [(r["node1_id"], r["node2_id"], r["relationship"]) for r in rels] == [
        ("C01", "C02", "PARENT_OF")
    ]


def test_distributed_matches_driver_side(spark, tmp_path):
    d = tmp_path / "books"
    d.mkdir()
    for i in range(3):
        write_xlsx(
            str(d / f"b{i}.xlsx"),
            {
                "s": [
                    ["h1", "h2"],
                    [f"a{i}", i],
                    [f"b{i}", i * 10],
                ]
            },
        )
    dist = read_sheets_distributed(spark, str(d), n_cols=2).collect()
    assert len(dist) == 6
    by_file = {}
    for r in dist:
        by_file.setdefault(r["src_file"].split("/")[-1], []).append(r)
    for i in range(3):
        got = sorted(
            [(r["line_no"], r["c0"], r["c1"]) for r in by_file[f"b{i}.xlsx"]]
        )
        assert got == [(2, f"a{i}", str(i)), (3, f"b{i}", str(i * 10))]


def test_sheet_name_with_quotes_round_trips(tmp_path):
    """Sheet names containing quotes must survive write->parse: the
    attribute context in workbook.xml needs " escaped."""
    from ontology_graph_etl_spark.sources.xlsx import (
        parse_workbook,
        write_xlsx,
    )

    path = str(tmp_path / "quoted.xlsx")
    rows = [["a", 1], ["b", 2]]
    write_xlsx(path, {'she"et <&> \'x\'': rows})
    with open(path, "rb") as f:
        book = parse_workbook(f.read())
    assert list(book) == ['she"et <&> \'x\'']
    assert book['she"et <&> \'x\''] == [["a", 1], ["b", 2]]


def test_distributed_fleet_of_100_workbooks(spark, tmp_path):
    """Fleet-scale shape for read_sheets_distributed: ~100 workbooks in
    one binaryFile scan, each with its own row count and its own
    stop-marker row. line_no must restart per file and preserve sheet
    row order, so the reference's prefix-stop semantics (break at first
    empty key cell, main.py:285-289) can be applied per file by
    partitioning on src_file."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ontology_graph_etl_spark.sources.xlsx import (
        read_sheets_distributed,
        write_xlsx,
    )

    n_files = 100
    expect: dict[str, list[tuple[int, str]]] = {}
    for i in range(n_files):
        n_data = 2 + (i % 7)
        rows = [["key", "val"]]  # header
        rows += [[f"k{i}_{j}", str(j)] for j in range(n_data)]
        # stop marker (empty key cell), then rows the prefix scan drops
        rows += [[None, "stop"], [f"junk{i}", "x"], [f"junk{i}b", "y"]]
        write_xlsx(str(tmp_path / f"wb{i:03d}.xlsx"), {"s": rows})
        # line_no is 1-based over sheet rows; header row (line 1) skipped
        expect[f"wb{i:03d}.xlsx"] = [
            (j + 2, f"k{i}_{j}") for j in range(n_data)
        ]

    df = read_sheets_distributed(
        spark, str(tmp_path), sheet="s", n_cols=2, header=True
    )
    # per-file prefix stop: rows strictly before the first empty c0
    stop = F.min(F.when(F.col("c0").isNull(), F.col("line_no"))).over(
        Window.partitionBy("src_file")
    )
    kept = (
        df.withColumn("__stop", stop)
        .where(F.col("line_no") < F.coalesce(F.col("__stop"), F.lit(2**31)))
        .select("src_file", "line_no", "c0")
        .collect()
    )
    got: dict[str, list[tuple[int, str]]] = {}
    for r in kept:
        name = r.src_file.rsplit("/", 1)[-1]
        got.setdefault(name, []).append((r.line_no, r.c0))
    assert len(got) == n_files
    for name, want in expect.items():
        assert sorted(got[name]) == want, name
    # total rows across the fleet: sum of per-file data rows
    assert sum(len(v) for v in got.values()) == sum(
        len(v) for v in expect.values()
    )


def test_distributed_missing_sheet_gives_no_rows(spark, book_path):
    """A workbook without the requested sheet (unknown name or position
    past the last sheet) contributes no rows, not an error."""
    for sheet in ("nope", 5):
        df = read_sheets_distributed(spark, book_path, n_cols=2, sheet=sheet)
        assert df.collect() == []
    got = read_sheets_distributed(spark, book_path, n_cols=2, sheet=1)
    assert [(r.line_no, r.c0, r.c1) for r in got.collect()] == [
        (2, "1", "2.5"),
        (3, "-3", "1e+300"),
    ]
