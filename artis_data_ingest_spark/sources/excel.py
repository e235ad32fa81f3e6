"""Excel ingestion (SURVEY.md §2.1 S9) — stdlib xlsx parser.

The reference ingests FAO snapshot workbooks with ``read_xlsx(file,
skip = 1)`` (assess_changes.qmd:131-132, 137-138).  Spark has no core
Excel reader and this container has no openpyxl, so the reader here
parses the OOXML container directly with ``zipfile`` + ``xml.etree``:
a .xlsx file is a zip holding ``xl/worksheets/sheet1.xml`` (cell grid),
``xl/sharedStrings.xml`` (string pool) — nothing more is needed for
the reference's tabular snapshots.

Scale shape: xlsx files are small config-like inputs in the reference's
world, so ``read_excel`` parses one workbook on the driver and hands
Spark the typed columns as one Arrow table, which becomes a
``LocalTableScan`` (no Python worker touches it downstream); for
directories of many workbooks, ``read_excel_fleet`` lists them with the
binaryFile source and moves ``parse_xlsx_bytes`` into a ``mapInPandas``
decode so each workbook parses inside an executor task (same pattern as
``sources/archives.py`` — the workbook, not the row, is the parallelism
unit for an unsplittable format).
"""

from __future__ import annotations

import io
import re
import zipfile
from collections.abc import Iterator
from xml.etree import ElementTree as ET

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type

_NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"


def _col_index(cell_ref: str) -> int:
    """'A1' → 0, 'B7' → 1, 'AA3' → 26."""
    idx = 0
    for ch in cell_ref:
        if not ch.isalpha():
            break
        idx = idx * 26 + (ord(ch.upper()) - ord("A") + 1)
    return idx - 1


def _shared_strings(zf: zipfile.ZipFile) -> list[str]:
    try:
        raw = zf.read("xl/sharedStrings.xml")
    except KeyError:
        return []
    root = ET.fromstring(raw)
    out = []
    for si in root.findall(f"{_NS}si"):
        # rich-text runs split one string across several <t> nodes
        out.append("".join(t.text or "" for t in si.iter(f"{_NS}t")))
    return out


def _cell_value(cell: ET.Element, shared: list[str]):
    """Decode one <c> element to a Python scalar (str/int/float/bool/None)."""
    ctype = cell.get("t", "n")
    if ctype == "inlineStr":
        return "".join(t.text or "" for t in cell.iter(f"{_NS}t")) or None
    v = cell.find(f"{_NS}v")
    if v is None or v.text is None:
        return None
    text = v.text
    if ctype == "s":
        return shared[int(text)]
    if ctype in ("str",):  # formula result stored as text
        return text
    if ctype == "b":
        return text == "1"
    try:
        return int(text)
    except ValueError:
        try:
            return float(text)
        except ValueError:
            return text


def _sheet_part(zf: zipfile.ZipFile, sheet: int | str) -> str:
    """Resolve ``sheet`` (0-based index into the workbook's sheet order,
    or a sheet name) to its worksheet part path.

    Uses ``xl/workbook.xml`` (authoritative sheet order + names) and the
    workbook rels (r:id → part target); falls back to numerically-sorted
    ``sheetN.xml`` names when either part is absent (minimal writers).
    """
    numbered = sorted(
        (n for n in zf.namelist()
         if re.fullmatch(r"xl/worksheets/sheet\d+\.xml", n)),
        key=lambda n: int(re.search(r"\d+", n.rsplit("/", 1)[1]).group()),
    )
    try:
        wb = ET.fromstring(zf.read("xl/workbook.xml"))
    except KeyError:
        wb = None
    try:
        rels_root = ET.fromstring(zf.read("xl/_rels/workbook.xml.rels"))
    except KeyError:
        rels_root = None
    rid_ns = ("{http://schemas.openxmlformats.org/officeDocument/2006/"
              "relationships}id")
    rel_ns = "{http://schemas.openxmlformats.org/package/2006/relationships}"
    targets = (
        {r.get("Id"): r.get("Target") for r in rels_root.iter(f"{rel_ns}Relationship")}
        if rels_root is not None else {}
    )
    ordered: list[tuple[str, str | None]] = []  # (name, part-or-None)
    if wb is not None:
        for el in wb.iter(f"{_NS}sheet"):
            target = targets.get(el.get(rid_ns))
            part = None
            if target:
                part = target if target.startswith("xl/") else "xl/" + target.lstrip("/")
            ordered.append((el.get("name") or "", part))
    if not ordered:
        ordered = [(f"Sheet{i + 1}", p) for i, p in enumerate(numbered)]
    if isinstance(sheet, str):
        names = [n for n, _ in ordered]
        if sheet not in names:
            raise ValueError(f"no sheet named {sheet!r}; workbook has {names}")
        idx = names.index(sheet)
    else:
        if sheet >= len(ordered) or sheet < 0:
            raise ValueError(
                f"sheet index {sheet} out of range; workbook has "
                f"{len(ordered)} sheet(s)"
            )
        idx = sheet
    part = ordered[idx][1]
    if part is None or part not in zf.namelist():
        if idx < len(numbered):  # rels missing/dangling — positional fallback
            return numbered[idx]
        raise ValueError(f"worksheet part for sheet {sheet!r} not found")
    return part


def parse_xlsx_bytes(
    raw: bytes, skip_rows: int = 0, sheet: int | str = 0
) -> tuple[list[str], list[list]]:
    """Parse one worksheet of an xlsx payload into ``(header, rows)``,
    skipping ``skip_rows`` leading rows before the header — the
    semantics of the reference's ``read_xlsx(file, skip = 1)``
    (assess_changes.qmd:131-138).  ``sheet`` selects by 0-based workbook
    order or by name (real FAO workbooks carry metadata sheets).

    Sparse rows are densified from cell references so a missing cell
    becomes ``None`` in its column position.  Width is the max over ALL
    rows: data rows wider than the header keep their cells under
    synthesized ``_c{i}`` names (mirrors readxl's ``...n`` columns)
    rather than being truncated.
    """
    with zipfile.ZipFile(io.BytesIO(raw)) as zf:
        part = _sheet_part(zf, sheet)
        shared = _shared_strings(zf)
        root = ET.fromstring(zf.read(part))

    grid: list[list] = []
    for row in root.iter(f"{_NS}row"):
        cells: dict[int, object] = {}
        for pos, cell in enumerate(row.findall(f"{_NS}c")):
            ref = cell.get("r")
            ci = _col_index(ref) if ref else pos
            cells[ci] = _cell_value(cell, shared)
        width = max(cells) + 1 if cells else 0
        grid.append([cells.get(i) for i in range(width)])

    grid = grid[skip_rows:]
    if not grid:
        raise ValueError("xlsx sheet has no rows after skip_rows")
    width = max(len(r) for r in grid)
    raw_header = grid[0] + [None] * (width - len(grid[0]))
    header = [str(h) if h is not None else f"_c{i}"
              for i, h in enumerate(raw_header)]
    rows = [r + [None] * (width - len(r)) for r in grid[1:]]
    return header, rows


def _column_type(values: list) -> T.DataType:
    """Infer a Spark type from observed Python scalars.  A {bool, int}
    or {bool, int, float} mix promotes bool→numeric (True→1) instead of
    falling to string, so a stray TRUE cell in a numeric column can't
    silently flip the column's rendering vs a CSV twin."""
    seen = {type(v) for v in values if v is not None}
    if not seen:
        return T.StringType()
    if seen <= {bool}:
        return T.BooleanType()
    if seen <= {bool, int}:
        return T.LongType()
    if seen <= {bool, int, float}:
        return T.DoubleType()
    return T.StringType()


def _coerce(v, dtype):
    if v is None:
        return None
    if isinstance(dtype, T.LongType):
        return int(v)  # promotes a bool in a numeric column
    if isinstance(dtype, T.DoubleType):
        return float(v)
    if isinstance(dtype, T.StringType):
        if isinstance(v, bool):  # match CSV 'true'/'false' rendering
            return "true" if v else "false"
        return str(v)
    return v


def _typed_schema(
    header: list[str], rows: list[list]
) -> tuple[T.StructType, list[T.DataType]]:
    cols = list(zip(*rows)) if rows else [()] * len(header)
    types = [_column_type(list(c)) for c in cols]
    schema = T.StructType(
        [T.StructField(n, t, True) for n, t in zip(header, types)]
    )
    return schema, types


def _local_frame(
    spark: SparkSession, header: list[str], rows: list[list]
) -> DataFrame:
    """One parsed sheet as a typed local relation (``LocalTableScan``,
    no Python-pickled RDD scan); shared by the xlsx and xls readers."""
    schema, types = _typed_schema(header, rows)
    # typed Arrow arrays straight from the coerced Python scalars: exact
    # for every long (no float64 detour through a pandas column) and
    # valid for a header-only sheet
    table = pa.Table.from_arrays(
        [
            pa.array([_coerce(r[j], t) for r in rows], type=to_arrow_type(t))
            for j, t in enumerate(types)
        ],
        names=header,
    )
    return spark.createDataFrame(table, schema=schema)


def _read_book(
    spark: SparkSession, path: str, parse, skip_rows: int,
    sheet: int | str,
) -> DataFrame:
    """One workbook file parsed by ``parse`` (:func:`parse_xlsx_bytes`
    or ``xls.parse_xls_bytes``) into a local frame — the body of
    :func:`read_excel` and ``xls.read_xls``.  Accepts plain paths or
    the ``file:`` URIs the binaryFile listing yields."""
    if path.startswith("file:"):
        path = re.sub("^file:/+", "/", path)
    with open(path, "rb") as f:
        raw = f.read()
    return _local_frame(
        spark, *parse(raw, skip_rows=skip_rows, sheet=sheet)
    )


def read_excel(
    spark: SparkSession, path: str, skip_rows: int = 1,
    sheet: int | str = 0,
) -> DataFrame:
    """S9 — ``read_xlsx(file, skip = 1)`` equivalent
    (assess_changes.qmd:131-132): skip ``skip_rows`` rows, treat the
    next as header, infer long/double/boolean/string per column.
    ``sheet`` selects a worksheet by 0-based order or name.

    Accepts plain paths or the ``file:`` URIs the binaryFile listing
    yields (changelog stage 5 feeds those straight in).
    """
    return _read_book(spark, path, parse_xlsx_bytes, skip_rows, sheet)


def _read_fleet(
    spark: SparkSession,
    dir_path: str,
    parse,
    ext: str,
    skip_rows: int,
    sheet: int | str,
    schema: T.StructType | None,
    workbook_col: str,
) -> DataFrame:
    """Every ``*.<ext>`` workbook under ``dir_path`` parsed by
    ``parse`` in one job — the body of :func:`read_excel_fleet` and
    ``xls.read_xls_fleet``: binaryFile scan → one mapInPandas decode
    task per workbook → union tagged with the workbook basename."""
    bins = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", f"*.{ext}")
        .load(dir_path)
        .select("path", "content")
    )
    if schema is None:
        first = bins.orderBy("path").limit(1).collect()
        if not first:
            raise FileNotFoundError(f"no .{ext} workbooks under {dir_path}")
        header, rows = parse(
            bytes(first[0]["content"]), skip_rows=skip_rows, sheet=sheet
        )
        schema, _ = _typed_schema(header, rows)
    fields = [f.name for f in schema.fields]
    out_schema = T.StructType(
        [T.StructField(workbook_col, T.StringType())] + list(schema.fields)
    )

    def _decode(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            for path, blob in zip(pdf["path"], pdf["content"]):
                name = str(path).rstrip("/").rsplit("/", 1)[-1]
                header, rows = parse(
                    bytes(blob), skip_rows=skip_rows, sheet=sheet
                )
                missing = [c for c in fields if c not in header]
                if missing:
                    raise ValueError(
                        f"workbook {name} is missing expected columns "
                        f"{missing}; has {header}"
                    )
                pos = [header.index(c) for c in fields]
                recs = [
                    [name] + [
                        _coerce(r[i], f.dataType)
                        for i, f in zip(pos, schema.fields)
                    ]
                    for r in rows
                ]
                yield pd.DataFrame(recs, columns=[workbook_col] + fields)

    return bins.mapInPandas(_decode, out_schema)


def read_excel_fleet(
    spark: SparkSession,
    dir_path: str,
    skip_rows: int = 1,
    sheet: int | str = 0,
    schema: T.StructType | None = None,
    workbook_col: str = "workbook",
) -> DataFrame:
    """S9 at fleet scale — ingest a DIRECTORY of workbooks in one job:

      binaryFile scan (one row per .xlsx) → mapInPandas decode (one
      task per workbook — the parallelism unit for an unsplittable
      format) → union of all sheets' rows, tagged with the workbook
      basename.

    Mirrors the reference's per-file ``read_xlsx`` dispatch
    (assess_changes.qmd:131-138) but parses inside executor tasks, the
    same shape as ``sources/archives.read_zipped_csv``.  When ``schema``
    is None it is inferred driver-side from the first workbook (the
    reference's inference-everywhere stance) then applied uniformly;
    workbooks whose header set diverges raise loudly rather than
    silently misalign.
    """
    return _read_fleet(
        spark, dir_path, parse_xlsx_bytes, "xlsx", skip_rows, sheet,
        schema, workbook_col,
    )


def write_minimal_xlsx(target, rows) -> None:
    """Fixture/test helper: write an xlsx using only the stdlib.
    ``rows`` is either a list of rows (single sheet named "Sheet1") or a
    dict ``{sheet_name: rows}`` written in order (multi-sheet fixtures
    for sheet-selection tests).  Cells are str/int/float/bool/None;
    strings go inline (no shared-string pool); numbers/booleans as
    native cells.  ``target`` is a path or binary file object.
    """

    def _cell(ref: str, v) -> str:
        if v is None:
            return ""
        if isinstance(v, bool):
            return f'<c r="{ref}" t="b"><v>{1 if v else 0}</v></c>'
        if isinstance(v, (int, float)):
            return f'<c r="{ref}"><v>{v}</v></c>'
        s = (str(v).replace("&", "&amp;").replace("<", "&lt;")
             .replace(">", "&gt;"))
        return f'<c r="{ref}" t="inlineStr"><is><t>{s}</t></is></c>'

    def _ref(ci: int, ri: int) -> str:
        letters = ""
        ci += 1
        while ci:
            ci, rem = divmod(ci - 1, 26)
            letters = chr(ord("A") + rem) + letters
        return f"{letters}{ri + 1}"

    sheets: dict[str, list] = (
        rows if isinstance(rows, dict) else {"Sheet1": rows}
    )

    def _sheet_xml(sheet_rows: list) -> str:
        body = "".join(
            f'<row r="{ri + 1}">'
            + "".join(_cell(_ref(ci, ri), v) for ci, v in enumerate(row))
            + "</row>"
            for ri, row in enumerate(sheet_rows)
        )
        return (f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
                f'<worksheet xmlns="{_NS[1:-1]}"><sheetData>{body}'
                f'</sheetData></worksheet>')

    ns = _NS[1:-1]
    sheet_entries = "".join(
        f'<sheet name="{name}" sheetId="{i + 1}" r:id="rId{i + 1}"/>'
        for i, name in enumerate(sheets)
    )
    workbook = (
        f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<workbook xmlns="{ns}" xmlns:r="http://schemas.openxmlformats.'
        f'org/officeDocument/2006/relationships"><sheets>'
        f'{sheet_entries}</sheets></workbook>'
    )
    rel_entries = "".join(
        f'<Relationship Id="rId{i + 1}" Type="http://schemas.'
        f'openxmlformats.org/officeDocument/2006/relationships/worksheet" '
        f'Target="worksheets/sheet{i + 1}.xml"/>'
        for i in range(len(sheets))
    )
    wb_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/'
        f'2006/relationships">{rel_entries}</Relationships>'
    )
    root_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/'
        '2006/relationships"><Relationship Id="rId1" Type="http://schemas.'
        'openxmlformats.org/officeDocument/2006/relationships/officeDocument"'
        ' Target="xl/workbook.xml"/></Relationships>'
    )
    sheet_overrides = "".join(
        f'<Override PartName="/xl/worksheets/sheet{i + 1}.xml" ContentType='
        '"application/vnd.openxmlformats-officedocument.spreadsheetml.'
        'worksheet+xml"/>'
        for i in range(len(sheets))
    )
    content_types = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/'
        'content-types"><Default Extension="rels" ContentType="application/'
        'vnd.openxmlformats-package.relationships+xml"/><Default Extension='
        '"xml" ContentType="application/xml"/><Override PartName='
        '"/xl/workbook.xml" ContentType="application/vnd.openxmlformats-'
        f'officedocument.spreadsheetml.sheet.main+xml"/>{sheet_overrides}'
        '</Types>'
    )
    close = False
    if isinstance(target, (str, bytes)):
        target = open(target, "wb")
        close = True
    def _entry(name: str) -> zipfile.ZipInfo:
        # fixed timestamp → byte-identical regeneration, no fixture churn
        info = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
        info.compress_type = zipfile.ZIP_DEFLATED
        return info

    try:
        with zipfile.ZipFile(target, "w", zipfile.ZIP_DEFLATED) as zf:
            zf.writestr(_entry("[Content_Types].xml"), content_types)
            zf.writestr(_entry("_rels/.rels"), root_rels)
            zf.writestr(_entry("xl/workbook.xml"), workbook)
            zf.writestr(_entry("xl/_rels/workbook.xml.rels"), wb_rels)
            for i, sheet_rows in enumerate(sheets.values()):
                zf.writestr(
                    _entry(f"xl/worksheets/sheet{i + 1}.xml"),
                    _sheet_xml(sheet_rows),
                )
    finally:
        if close:
            target.close()


def dataframe_from_pandas_bytes(
    spark: SparkSession, raw: bytes, reader
) -> DataFrame:
    """Bridge used by tests and by archive ingestion: parse bytes with a
    pandas reader callable and lift the result into a DataFrame."""
    pdf = reader(io.BytesIO(raw))
    return spark.createDataFrame(pdf)
