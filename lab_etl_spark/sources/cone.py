"""Deatak cone calorimeter ``.XLSM`` source (SURVEY.md §2A ``src_cone_xlsm``).

Sheet layout (reference deatak_cone_parser.py:10-60; docs/cone.md):
  * sheet "Scalar Data"  — key/value metadata rows;
  * sheet "Scan Data"    — header row, then 4 acquisition rows
    (Chan Gain / Offset / Gain / Units — units live in the 4th), then a
    baseline row with *null time*, then the numbered data rows.

No Excel library is available in this environment, but XLSX/XLSM is a zip of
SpreadsheetML XML — the reader below parses ``xl/worksheets/sheetN.xml`` and
``xl/sharedStrings.xml`` with the stdlib.  This keeps executors
dependency-free, which matters more at cluster scale than driver-side
convenience.

Spark shape: whole-file operator (one instrument run per workbook) —
``binaryFile`` + ``mapInPandas`` for the multi-file scan.
"""

from __future__ import annotations

import re
import zipfile
from collections.abc import Iterator
from io import BytesIO
from typing import Any
from xml.etree import ElementTree as ET

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import DoubleType, StringType, StructField, StructType

from ..meta import attach_provenance, file_blake2b, with_units

_NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"

#: column renames (deatak_cone_parser.py:19-27)
COLUMN_RENAMES = {
    "Stack TC": "stack_temperature",
    "Smoke TC": "smoke_temperature",
    "Exh Press": "exhaust_pressure",
    "Ext Coeff": "extinction_coefficient",
    "Flame Verif": "flame_verification",
    "Smoke Comp": "smoke_laser_compensation",
    "Smoke Meas": "smoke_laser_measurement",
}
#: dropped columns: row label + derived quantity (deatak_cone_parser.py:42-45)
DROP_COLUMNS = {"Names", "Ext Coeff"}
#: unit canonicalization (deatak_cone_parser.py:72)
UNIT_RENAMES = {"C": "°C", "/m": "1/m", "sec": "s"}
#: metadata key renames (deatak_cone_parser.py:119-125)
META_RENAMES = {
    "test_ident": "test_id",
    "surf_area": "surface_area",
    "specimen_mass": "sample_mass",
    "pre_test_cmt": "comment",
    "post_test_cmt": "comment",
}


# ---------------------------------------------------------------------------
# Minimal stdlib SpreadsheetML reader
# ---------------------------------------------------------------------------


def _col_index(ref: str) -> int:
    """'BC12' → 0-based column index 54."""
    n = 0
    for ch in ref:
        if ch.isalpha():
            n = n * 26 + (ord(ch.upper()) - 64)
        else:
            break
    return n - 1


def read_xlsx_rows(blob: bytes, sheet_index: int) -> list[list[Any]]:
    """Rows of the ``sheet_index``-th (1-based) worksheet as python values.

    Shared strings resolved; numeric cells → float; blank cells → None.
    """
    with zipfile.ZipFile(BytesIO(blob)) as z:
        shared: list[str] = []
        if "xl/sharedStrings.xml" in z.namelist():
            root = ET.fromstring(z.read("xl/sharedStrings.xml"))
            for si in root.iter(f"{_NS}si"):
                shared.append("".join(t.text or "" for t in si.iter(f"{_NS}t")))
        sheet = ET.fromstring(z.read(f"xl/worksheets/sheet{sheet_index}.xml"))
        rows: list[list[Any]] = []
        for row in sheet.iter(f"{_NS}row"):
            cells: list[Any] = []
            for c in row.iter(f"{_NS}c"):
                idx = _col_index(c.get("r", ""))
                v = c.find(f"{_NS}v")
                if v is None or v.text is None:
                    val: Any = None
                elif c.get("t") == "s":
                    val = shared[int(v.text)]
                elif c.get("t") == "str":
                    val = v.text
                else:
                    try:
                        val = float(v.text)
                    except ValueError:
                        val = v.text
                while len(cells) < idx:
                    cells.append(None)
                cells.append(val)
            rows.append(cells)
        return rows


def _sheet_order(blob: bytes) -> dict[str, int]:
    """sheet name → 1-based worksheet file index, from workbook.xml order."""
    with zipfile.ZipFile(BytesIO(blob)) as z:
        wb = ET.fromstring(z.read("xl/workbook.xml"))
    return {
        s.get("name", f"sheet{i+1}"): i + 1
        for i, s in enumerate(wb.iter(f"{_NS}sheet"))
    }


# ---------------------------------------------------------------------------
# Cone semantics
# ---------------------------------------------------------------------------


def _std_name(raw: str) -> str:
    return COLUMN_RENAMES.get(raw, raw).lower().replace(" ", "_")


def parse_cone_bytes(blob: bytes) -> tuple[dict, pd.DataFrame, dict[str, str]]:
    """One workbook → (metadata, data frame, units).

    Data sheet semantics (docs/cone.md): header row 0; rows 1-3 acquisition
    settings; row 4 units; data rows from row 5 — the first being the
    baseline row whose ``Time`` cell is empty (kept, with null time).
    """
    sheets = _sheet_order(blob)
    scan_idx = sheets.get("Scan Data", 2)
    scalar_idx = sheets.get("Scalar Data", 1)

    rows = read_xlsx_rows(blob, scan_idx)
    header = [str(h) if h is not None else "" for h in rows[0]]
    units_row = rows[4] if len(rows) > 4 else []
    data_rows = rows[5:]

    keep = [i for i, h in enumerate(header) if h and h not in DROP_COLUMNS]
    names = [_std_name(header[i]) for i in keep]
    units = {}
    for i, name in zip(keep, names):
        u = units_row[i] if i < len(units_row) else None
        if u is not None and str(u).strip():
            units[name] = UNIT_RENAMES.get(str(u).strip(), str(u).strip())

    records = []
    for r in data_rows:
        if not any(v is not None for v in r):
            continue
        rec = {}
        for i, name in zip(keep, names):
            v = r[i] if i < len(r) else None
            if isinstance(v, str):
                try:
                    v = float(v)
                except ValueError:
                    v = None
            rec[name] = v
        records.append(rec)
    pdf = pd.DataFrame(records, columns=names)

    meta: dict[str, Any] = {}
    for row in read_xlsx_rows(blob, scalar_idx):
        if len(row) < 2 or row[0] is None:
            continue
        key = re.sub(r"\s+", "_", str(row[0]).strip().lower())
        key = META_RENAMES.get(key, key)
        val: Any = row[1]
        if isinstance(val, str):
            val = val.strip()
            try:
                val = int(val)
            except ValueError:
                try:
                    val = float(val)
                except ValueError:
                    pass  # non-numeric metadata stays a string
        if key in meta:  # dup keys → list (deatak_cone_parser.py:160-166)
            if not isinstance(meta[key], list):
                meta[key] = [meta[key]]
            meta[key].append(val)
        else:
            meta[key] = val
    return meta, pdf, units


def load_cone(spark: SparkSession, path: str) -> DataFrame:
    """Single-file load (reference call shape deatak_cone_parser.py:10-60)."""
    with open(path, "rb") as f:
        blob = f.read()
    meta, pdf, units = parse_cone_bytes(blob)
    if pdf.empty:
        # no data rows decoded → explicit-schema empty frame
        # (createDataFrame cannot infer a schema from an empty pandas frame)
        df = spark.createDataFrame(
            [], StructType([StructField(c, DoubleType()) for c in _SCAN_COLS])
        )
    else:
        df = spark.createDataFrame(pdf)
    df = with_units(df, units)
    return attach_provenance(df, "Cone", path, file_blake2b(path), meta)


#: standardized scan schema (FIXTURES.md A5)
_SCAN_COLS = [
    "time",
    "stack_temperature",
    "smoke_temperature",
    "exhaust_pressure",
    "smoke_laser_compensation",
    "smoke_laser_measurement",
    "co_meter",
    "co2_meter",
    "o2_meter",
    "sample_mass",
    "start_test",
    "flame_verification",
]


def scan_cone(spark: SparkSession, path_glob: str) -> DataFrame:
    """Distributed multi-file scan over a lake of cone workbooks."""
    schema = StructType(
        [StructField("source_file", StringType())]
        + [StructField(c, DoubleType()) for c in _SCAN_COLS]
    )
    names = [f.name for f in schema.fields]

    def parse_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for path, content in zip(pdf["path"], pdf["content"]):
                _, data, _ = parse_cone_bytes(bytes(content))
                if data.empty:
                    continue
                data = data.reindex(columns=_SCAN_COLS)
                data.insert(0, "source_file", path)
                yield data[names]

    binary = spark.read.format("binaryFile").load(path_glob)
    return binary.select("path", "content").mapInPandas(parse_batch, schema)
