"""Excel ``.xlsx`` source (SURVEY.md §2.1 S5/S6 — the reference's primary
relationship input, ``openpyxl.load_workbook`` + ``iter_rows(values_only
=True)``, main.py:278-297).

This environment has no openpyxl, and none is needed: ``.xlsx`` is a ZIP
of SpreadsheetML XML (ECMA-376), readable with stdlib ``zipfile`` +
``xml.etree``. The parser core works on bytes and parses one sheet at a
time (:func:`_parse_sheet`); both entry points parse only the sheet
they are asked for and build their rows with one Arrow column builder:

- :func:`read_sheet_rows` — driver-side read of ONE workbook (the
  reference's shape: a single metadata-driven spreadsheet, thousands of
  rows) → DataFrame with ``line_no`` preserving sheet row order, the
  order column ``extract_relationships``'s prefix-scan semantics need.
  The rows reach Spark as a ``pyarrow`` table, so the frame is a
  ``LocalTableScan``, not a Python-RDD scan.
- :func:`read_sheets_distributed` — the 100 TB shape for MANY workbooks:
  ``spark.read.format("binaryFile")`` → ``mapInArrow`` parsing each
  file on executors. One task per file, no driver bottleneck; column
  width comes from the caller's sheet config (the same ordinal-driven
  contract the reference uses), so the schema is fixed up front.

Cell-value semantics mirror ``iter_rows(values_only=True)``: shared
strings, inline strings, formula-cached strings, booleans, and numbers
(int when the stored lexical form has no fraction/exponent, else float);
empty/missing cells are None; rows pad to the sheet's max used column.

Known divergence: date/time-formatted numeric cells come back as the raw
Excel serial NUMBER (``styles.xml`` number formats are not interpreted),
where openpyxl would yield ``datetime`` objects. The reference workbooks
carry identifiers and names, not dates, so the ETL path never sees this;
callers feeding date-styled sheets should convert serials themselves
(days since 1899-12-30, Excel's leap-year-bug epoch).
"""

from __future__ import annotations

import re
import zipfile
from collections.abc import Iterator
from io import BytesIO
from xml.etree import ElementTree

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import LongType, StringType, StructField, StructType

_NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
_REL_NS = "{http://schemas.openxmlformats.org/package/2006/relationships}"
_DOC_REL_NS = (
    "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}id"
)
_CELL_REF = re.compile(r"([A-Z]+)(\d+)")


def _col_index(ref: str) -> int | None:
    """'B3' -> 1 (0-based column). None when the cell has no ref."""
    m = _CELL_REF.match(ref or "")
    if not m:
        return None
    idx = 0
    for ch in m.group(1):
        idx = idx * 26 + (ord(ch) - ord("A") + 1)
    return idx - 1


def _parse_number(text: str) -> int | float:
    if re.fullmatch(r"-?\d+", text):
        return int(text)
    return float(text)


def _shared_strings(zf: zipfile.ZipFile) -> list[str]:
    try:
        data = zf.read("xl/sharedStrings.xml")
    except KeyError:
        return []
    root = ElementTree.fromstring(data)
    out = []
    for si in root.iter(f"{_NS}si"):
        # rich-text runs split one logical string across several <t>
        out.append("".join(t.text or "" for t in si.iter(f"{_NS}t")))
    return out


def _sheet_paths(zf: zipfile.ZipFile) -> list[tuple[str, str]]:
    """Ordered (sheet_name, zip_member_path) pairs from workbook.xml +
    its relationships part."""
    rels = {}
    rel_root = ElementTree.fromstring(zf.read("xl/_rels/workbook.xml.rels"))
    for rel in rel_root.iter(f"{_REL_NS}Relationship"):
        target = rel.get("Target", "")
        if target.startswith("/"):
            target = target.lstrip("/")
        else:
            target = "xl/" + target
        rels[rel.get("Id")] = target
    wb_root = ElementTree.fromstring(zf.read("xl/workbook.xml"))
    sheets = []
    for sheet in wb_root.iter(f"{_NS}sheet"):
        rid = sheet.get(_DOC_REL_NS)
        if rid in rels:
            sheets.append((sheet.get("name", ""), rels[rid]))
    return sheets


def _cell_value(cell, shared: list[str]):
    ctype = cell.get("t", "n")
    if ctype == "inlineStr":
        is_el = cell.find(f"{_NS}is")
        if is_el is None:
            return None
        return "".join(t.text or "" for t in is_el.iter(f"{_NS}t"))
    v = cell.find(f"{_NS}v")
    if v is None or v.text is None:
        return None
    if ctype == "s":
        return shared[int(v.text)]
    if ctype == "str":  # formula's cached string result
        return v.text
    if ctype == "b":
        return v.text.strip() == "1"
    if ctype == "e":  # error cell — openpyxl yields the error literal
        return v.text
    return _parse_number(v.text)


def _parse_sheet(xml: bytes, shared: list[str]) -> list[list]:
    """One worksheet part's XML -> its rows, each a list of
    (None | bool | int | float | str) padded to the sheet's max used
    column, rows in sheet order with gaps (fully empty rows) preserved
    as all-None rows — exactly ``iter_rows(values_only=True)``."""
    root = ElementTree.fromstring(xml)
    rows: dict[int, dict[int, object]] = {}
    max_col = -1
    max_row = 0
    for rnum, row_el in enumerate(root.iter(f"{_NS}row"), start=1):
        r = int(row_el.get("r", rnum))
        cells: dict[int, object] = {}
        next_col = 0
        for cell in row_el:
            if cell.tag != f"{_NS}c":
                continue
            col = _col_index(cell.get("r", ""))
            if col is None:  # no ref attr: cells are sequential
                col = next_col
            next_col = col + 1
            val = _cell_value(cell, shared)
            if val is not None:
                cells[col] = val
                max_col = max(max_col, col)
        rows[r] = cells
        max_row = max(max_row, r)
    width = max_col + 1
    return [
        [rows.get(r, {}).get(c) for c in range(width)]
        for r in range(1, max_row + 1)
    ]


def parse_workbook(data: bytes) -> dict[str, list[list]]:
    """bytes of one .xlsx -> {sheet_name: rows}, rows as
    :func:`_parse_sheet` gives them."""
    zf = zipfile.ZipFile(BytesIO(data))
    shared = _shared_strings(zf)
    return {
        name: _parse_sheet(zf.read(member), shared)
        for name, member in _sheet_paths(zf)
    }


def sheet_names(path: str) -> list[str]:
    with open(path, "rb") as f:
        with zipfile.ZipFile(f) as zf:
            return [name for name, _ in _sheet_paths(zf)]


def _stringify(v) -> str | None:
    """The reference coerces cell values with ``str(...)`` before
    sanitizing/templating (main.py:45,60); same rule here, with bools
    spelled like Python's str() since that is what openpyxl fed it."""
    if v is None:
        return None
    return str(v)


def _row_schema(n_cols: int) -> StructType:
    return StructType(
        [StructField("line_no", LongType(), False)]
        + [StructField(f"c{i}", StringType(), True) for i in range(n_cols)]
    )


def _sheet_member(zf: zipfile.ZipFile, sheet: int | str) -> str:
    """Zip member of one sheet, by name or by position in workbook
    order: ``KeyError`` for an unknown name, ``IndexError`` for a
    position out of range."""
    members = dict(_sheet_paths(zf))
    if isinstance(sheet, str):
        if sheet not in members:
            raise KeyError(f"sheet {sheet!r} not in {sorted(members)}")
        return members[sheet]
    return list(members.values())[sheet]


def _rows_table(rows: list[list], width: int, header: bool) -> pa.Table:
    """Sheet rows -> the :func:`_row_schema` columns as Arrow:
    ``line_no`` is the 1-based sheet row (row 1 dropped under
    ``header``), ``c0..c{width-1}`` the :func:`_stringify`-ed cells,
    NULL past the end of a shorter row."""
    start = 1 if header else 0
    body = rows[start:]
    cols = {"line_no": pa.array(range(start + 1, len(rows) + 1), pa.int64())}
    for c in range(width):
        cols[f"c{c}"] = pa.array(
            [_stringify(r[c]) if c < len(r) else None for r in body],
            pa.string(),
        )
    return pa.table(cols)


def read_sheet_rows(
    spark: SparkSession,
    path: str,
    sheet: int | str = 0,
    header: bool = True,
    n_cols: int | None = None,
) -> DataFrame:
    """Driver-side read of one worksheet → DataFrame(``line_no``,
    ``c0..cN`` string columns) feeding :func:`~ontology_graph_etl_spark.
    sources.tabular.extract_relationships` unchanged (its ordinals index
    the ``c*`` columns in order).

    ``line_no`` is the 1-based sheet row number; with ``header=True``
    row 1 is dropped (P6 header skip, reference main.py:287-289) but
    numbering is preserved so order semantics (S5 stop-at-first-empty-
    key) survive. ``sheet`` is a name or a position in workbook order.

    Only the requested sheet's XML is parsed. The rows go to Spark as
    a ``pyarrow`` table, so the frame plans as a ``LocalTableScan``
    (empty sheets included): later jobs over it start no Python
    workers, where a list of tuples would plan as a Python-RDD scan
    (``Scan ExistingRDD``). Driver-side is the right scale call for ONE
    workbook — xlsx is not a big-data format; a single sheet caps at
    ~1M rows by spec. For many workbooks use
    :func:`read_sheets_distributed`.
    """
    with zipfile.ZipFile(path) as zf:
        rows = _parse_sheet(
            zf.read(_sheet_member(zf, sheet)), _shared_strings(zf)
        )
    width = n_cols if n_cols is not None else max(
        (len(r) for r in rows), default=0
    )
    return spark.createDataFrame(
        _rows_table(rows, width, header), _row_schema(width)
    )


def read_sheets_distributed(
    spark: SparkSession,
    path: str,
    n_cols: int,
    sheet: int | str = 0,
    header: bool = True,
) -> DataFrame:
    """Executor-side parse of MANY workbooks: ``binaryFile`` scan (one
    row per file: path + content bytes) → ``mapInArrow`` parsing the
    requested sheet of each file into the same Arrow columns as
    :func:`read_sheet_rows`. Embarrassingly parallel — one task
    per workbook, no shuffle, no driver state; at fleet scale the only
    knob is file listing parallelism. ``n_cols`` fixes the schema up
    front (the caller's sheet config knows its max ordinal — the same
    config-driven contract as the reference's worksheet_metadata).
    A workbook without the requested sheet contributes no rows.

    Output adds ``src_file`` so per-file order semantics (prefix scan)
    can partition by file.
    """
    schema = StructType(
        [StructField("src_file", StringType(), False)]
        + _row_schema(n_cols).fields
    )

    def parse(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            files = zip(
                batch.column("path").to_pylist(),
                batch.column("content").to_pylist(),
            )
            for src, content in files:
                with zipfile.ZipFile(BytesIO(content)) as zf:
                    try:
                        member = _sheet_member(zf, sheet)
                    except (KeyError, IndexError):
                        continue
                    rows = _parse_sheet(zf.read(member), _shared_strings(zf))
                table = _rows_table(rows, n_cols, header)
                src_col = pa.array([src] * table.num_rows, pa.string())
                yield from table.add_column(0, "src_file", src_col).to_batches()

    files = spark.read.format("binaryFile").load(path).select("path", "content")
    return files.mapInArrow(parse, schema=schema)


# ---------------------------------------------------------------------------
# Writer — fixture/interop helper (the engine's canonical sinks are
# parquet; this exists so round-trip tests and reference-shaped inputs
# can be produced without openpyxl).
# ---------------------------------------------------------------------------

_CONTENT_TYPES = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
<Default Extension="xml" ContentType="application/xml"/>
<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>
<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>
{sheet_overrides}
</Types>"""

_ROOT_RELS = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>
</Relationships>"""


def _xml_escape(s: str) -> str:
    # Used in both text and attribute-value contexts (sheet name="...");
    # quotes must be escaped or a sheet name containing one produces
    # malformed workbook.xml.
    return (
        s.replace("&", "&amp;")
        .replace("<", "&lt;")
        .replace(">", "&gt;")
        .replace('"', "&quot;")
        .replace("'", "&apos;")
    )


def _col_letter(idx: int) -> str:
    letters = ""
    idx += 1
    while idx:
        idx, rem = divmod(idx - 1, 26)
        letters = chr(ord("A") + rem) + letters
    return letters


def write_xlsx(path: str, sheets: dict[str, list[list]]) -> None:
    """Minimal valid .xlsx writer: strings go through sharedStrings
    (the standard producer path, so the reader's t="s" branch gets real
    coverage), numbers/bools as native cells, None as omitted cells."""
    shared: dict[str, int] = {}

    def sstr(s: str) -> int:
        if s not in shared:
            shared[s] = len(shared)
        return shared[s]

    sheet_xmls = []
    for rows in sheets.values():
        parts = ["<sheetData>"]
        for rnum, row in enumerate(rows, start=1):
            cells = []
            for cnum, val in enumerate(row):
                if val is None:
                    continue
                ref = f"{_col_letter(cnum)}{rnum}"
                if isinstance(val, bool):
                    cells.append(
                        f'<c r="{ref}" t="b"><v>{1 if val else 0}</v></c>'
                    )
                elif isinstance(val, (int, float)):
                    cells.append(f'<c r="{ref}"><v>{val!r}</v></c>')
                else:
                    cells.append(
                        f'<c r="{ref}" t="s"><v>{sstr(str(val))}</v></c>'
                    )
            if cells:
                parts.append(f'<row r="{rnum}">' + "".join(cells) + "</row>")
        parts.append("</sheetData>")
        sheet_xmls.append(
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<worksheet xmlns="http://schemas.openxmlformats.org/'
            'spreadsheetml/2006/main">' + "".join(parts) + "</worksheet>"
        )

    names = list(sheets)
    wb_sheets = "".join(
        f'<sheet name="{_xml_escape(n)}" sheetId="{i + 1}" r:id="rId{i + 1}"/>'
        for i, n in enumerate(names)
    )
    workbook = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
        'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
        f"<sheets>{wb_sheets}</sheets></workbook>"
    )
    wb_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        + "".join(
            f'<Relationship Id="rId{i + 1}" Type="http://schemas.openxml'
            "formats.org/officeDocument/2006/relationships/worksheet\" "
            f'Target="worksheets/sheet{i + 1}.xml"/>'
            for i in range(len(names))
        )
        + "</Relationships>"
    )
    ss_items = "".join(
        f"<si><t xml:space=\"preserve\">{_xml_escape(s)}</t></si>"
        for s in shared
    )
    shared_xml = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
        f'count="{len(shared)}" uniqueCount="{len(shared)}">{ss_items}</sst>'
    )
    overrides = "".join(
        f'<Override PartName="/xl/worksheets/sheet{i + 1}.xml" '
        'ContentType="application/vnd.openxmlformats-officedocument.'
        'spreadsheetml.worksheet+xml"/>'
        for i in range(len(names))
    )
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr(
            "[Content_Types].xml",
            _CONTENT_TYPES.format(sheet_overrides=overrides),
        )
        zf.writestr("_rels/.rels", _ROOT_RELS)
        zf.writestr("xl/workbook.xml", workbook)
        zf.writestr("xl/_rels/workbook.xml.rels", wb_rels)
        zf.writestr("xl/sharedStrings.xml", shared_xml)
        for i, xml in enumerate(sheet_xmls):
            zf.writestr(f"xl/worksheets/sheet{i + 1}.xml", xml)
