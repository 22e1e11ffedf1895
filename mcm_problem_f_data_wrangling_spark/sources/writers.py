"""Sinks (SURVEY.md §2.1, S5-S6).

- S5 CSV sink: the reference writes one file per output
  (``df.to_csv(path, index=False)``, ``bls_ces/prep_CES_pandas.py:183``).
  Single-file semantics require ``coalesce(1)`` — fine for the
  reference's ~1k-row parity outputs, documented as non-scalable
  (SURVEY.md §7 hard parts).  ``write_parquet`` is the scale path.
- S6 Excel sink (``EDA.ipynb cell 33``): no native distributed writer
  exists; small result sets are collected to pandas on the driver.
  Uses openpyxl when present, else a built-in minimal OOXML writer
  (xlsx = zip of SpreadsheetML XML parts, public ECMA-376 format) —
  S6 is fully functional without extra dependencies.
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import DataFrame


def write_parquet(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Scale-path sink: columnar, splittable."""
    df.write.mode(mode).parquet(path)


def write_csv_single(df: DataFrame, path: str, header: bool = True, sep: str = ",") -> str:
    """S5: single-file CSV with pandas ``to_csv`` semantics.

    Writes via a temp directory then renames the lone part file to
    ``path``.  Deliberately ``coalesce(1)`` — parity with the
    reference's one-file outputs; use :func:`write_parquet` for bulk.
    ``sep="\\t"`` produces the reference's tab-TSV flavor.
    """
    tmp = path + "._spark_tmp"
    (
        df.coalesce(1)
        .write.mode("overwrite")
        .option("header", str(header).lower())
        .option("sep", sep)
        .csv(tmp)
    )
    part = glob.glob(os.path.join(tmp, "part-*.csv"))[0]
    os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
    shutil.move(part, path)
    shutil.rmtree(tmp, ignore_errors=True)
    return path


def write_excel_sheets(frames: dict[str, DataFrame], path: str) -> str:
    """S6: multi-sheet Excel export (``EDA.ipynb cell 33``).

    Collects each (small) DataFrame to pandas on the driver — the same
    place the reference materializes them — one sheet per key.  Uses
    openpyxl when available; otherwise falls back to the built-in
    minimal OOXML writer (:func:`_write_xlsx_minimal` — xlsx is a zip
    of XML parts, stdlib-writable), so S6 works in this container too.
    """
    import pandas as pd

    pdfs = {}
    for sheet, df in frames.items():
        short = sheet[:31]  # the Excel sheet-name limit
        if short in pdfs:
            raise ValueError(
                f"sheet names collide after 31-char truncation: {short!r}"
            )
        pdfs[short] = df.toPandas()
    try:
        import openpyxl  # noqa: F401
    except ImportError:
        return _write_xlsx_minimal(pdfs, path)
    with pd.ExcelWriter(path, engine="openpyxl") as writer:  # pragma: no cover
        for sheet, pdf in pdfs.items():
            pdf.to_excel(writer, sheet_name=sheet, index=False)
    return path


def _xml_escape(s: str) -> str:
    return (
        s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
        .replace('"', "&quot;")
    )


def _write_xlsx_minimal(pdfs: dict, path: str) -> str:
    """Dependency-free multi-sheet .xlsx writer (SpreadsheetML subset).

    An xlsx file is a zip archive of XML parts (ECMA-376 / ISO 29500,
    the public OOXML spec): ``[Content_Types].xml``, the package rels,
    ``xl/workbook.xml`` (+ its rels) and one ``xl/worksheets/sheetN
    .xml`` per sheet.  Numbers are written as numeric cells, everything
    else as inline strings — the subset Excel/LibreOffice/pandas all
    read.  Driver-side by design: S6 outputs are small parity tables
    (the reference's EDA export), never bulk data.
    """
    import math
    import numbers
    import zipfile

    os.makedirs(os.path.dirname(os.path.abspath(path)) or ".", exist_ok=True)
    names = list(pdfs)

    def col_letter(i: int) -> str:
        out = ""
        i += 1
        while i:
            i, r = divmod(i - 1, 26)
            out = chr(65 + r) + out
        return out

    def sheet_xml(pdf) -> str:
        rows_xml = []
        header = [
            f'<c r="{col_letter(j)}1" t="inlineStr"><is><t>{_xml_escape(str(c))}</t></is></c>'
            for j, c in enumerate(pdf.columns)
        ]
        rows_xml.append(f'<row r="1">{"".join(header)}</row>')
        for i, (_, row) in enumerate(pdf.iterrows(), start=2):
            cells = []
            for j, v in enumerate(row):
                ref = f"{col_letter(j)}{i}"
                if v is None or (isinstance(v, float) and v != v):
                    continue  # blank cell
                if isinstance(v, numbers.Number) and not isinstance(v, bool):
                    # repr() of Decimal / numpy>=2 scalars is not a
                    # valid <v> payload — normalize through int/float;
                    # nan/inf (incl. Decimal('NaN')) are not valid
                    # OOXML numeric lexical forms → blank cell
                    num = int(v) if isinstance(v, numbers.Integral) else float(v)
                    if isinstance(num, float) and not math.isfinite(num):
                        continue
                    cells.append(f'<c r="{ref}"><v>{num!r}</v></c>')
                else:
                    cells.append(
                        f'<c r="{ref}" t="inlineStr"><is><t>{_xml_escape(str(v))}</t></is></c>'
                    )
            rows_xml.append(f'<row r="{i}">{"".join(cells)}</row>')
        return (
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
            f'<sheetData>{"".join(rows_xml)}</sheetData></worksheet>'
        )

    content_types = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
        '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
        + "".join(
            f'<Override PartName="/xl/worksheets/sheet{i + 1}.xml" '
            'ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
            for i in range(len(names))
        )
        + "</Types>"
    )
    root_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" '
        'Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" '
        'Target="xl/workbook.xml"/></Relationships>'
    )
    workbook = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
        'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
        "<sheets>"
        + "".join(
            f'<sheet name="{_xml_escape(nm)}" sheetId="{i + 1}" r:id="rId{i + 1}"/>'
            for i, nm in enumerate(names)
        )
        + "</sheets></workbook>"
    )
    wb_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        + "".join(
            f'<Relationship Id="rId{i + 1}" '
            'Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" '
            f'Target="worksheets/sheet{i + 1}.xml"/>'
            for i in range(len(names))
        )
        + "</Relationships>"
    )
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("[Content_Types].xml", content_types)
        z.writestr("_rels/.rels", root_rels)
        z.writestr("xl/workbook.xml", workbook)
        z.writestr("xl/_rels/workbook.xml.rels", wb_rels)
        for i, nm in enumerate(names):
            z.writestr(f"xl/worksheets/sheet{i + 1}.xml", sheet_xml(pdfs[nm]))
    return path


def write_orc(
    df: DataFrame, path: str, partition_by: list[str] | None = None
) -> None:
    """ORC sink, overwriting (second columnar interchange format, built into
    Spark).  Same layout levers as parquet: splittable stripes,
    Hive-style partition directories, predicate pushdown via
    min/max + optional bloom filters on read.
    """
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)
