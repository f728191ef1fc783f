"""Metadata carriage: the reference's load-bearing design fact is that data,
units, and provenance travel together (util.py:12-73 in the reference).

Spark mapping (SURVEY.md §1.5):
  * per-column units  → ``StructField.metadata["unit"]`` via
    ``Column.alias(name, metadata=...)`` — first-class, survives select/alias.
  * table metadata    → constant columns ``file_metadata`` (JSON string),
    ``instrument_type``, and ``file_hash`` — columns survive every transform
    and shuffle, unlike schema-level metadata.
  * provenance hash   → BLAKE2b of the raw file bytes (util.py:83-93); Spark
    has no BLAKE2b builtin so this is a (non-hot-path, once-per-file) UDF.
"""

from __future__ import annotations

import hashlib
import json

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def with_unit(col: Column | str, name: str, unit: str | None) -> Column:
    """Alias a column and attach ``{"unit": ...}`` field metadata
    (reference: util.py:38-54)."""
    c = F.col(col) if isinstance(col, str) else col
    return c.alias(name, metadata={"unit": unit} if unit else {})


def with_units(df: DataFrame, units: dict[str, str | None]) -> DataFrame:
    """Re-attach unit metadata on the named columns, preserving the rest.

    Centralized because Spark silently drops field metadata whenever an
    expression rebuilds a column — every source and operator funnels through
    here after its last reshaping step.
    """
    cols = [
        with_unit(name, name, units[name]) if name in units else F.col(name)
        for name in df.columns
    ]
    return df.select(*cols)


def units_of(df: DataFrame) -> dict[str, str | None]:
    """Read back the unit map from a DataFrame's schema."""
    return {
        f.name: (f.metadata or {}).get("unit")
        for f in df.schema.fields
        if (f.metadata or {}).get("unit") is not None
    }


class UnitMismatchError(ValueError):
    """Raised when an operation would combine columns of incompatible units."""


def require_same_unit(df: DataFrame, *cols: str) -> str | None:
    """Unit-consistency gate (SURVEY.md §4's analyzer nice-to-have): assert
    that the named columns carry the same ``unit`` field metadata before
    additive arithmetic (``temperature + mass`` is a bug the type system
    can't catch — the unit metadata can).

    Returns the shared unit (None if none of the columns declare one).
    Columns lacking metadata are treated as unit-less and only conflict with
    columns that declare a unit.
    """
    unknown = [c for c in cols if c not in df.columns]
    if unknown:
        # A typo'd gate must not silently validate nothing.
        raise UnitMismatchError(f"columns not in DataFrame: {unknown}")
    units = units_of(df)
    declared = {c: units[c] for c in cols if c in units}
    if len(set(declared.values())) > 1:
        raise UnitMismatchError(
            f"incompatible units in {sorted(declared.items())}"
        )
    if declared and len(declared) < len(cols):
        missing = [c for c in cols if c not in declared]
        raise UnitMismatchError(
            f"columns {missing} have no unit but {sorted(declared.items())} "
            "declare one"
        )
    return next(iter(declared.values()), None)


def add_with_units(df: DataFrame, out: str, *cols: str) -> DataFrame:
    """Sum the named columns into ``out``, enforcing and propagating units."""
    unit = require_same_unit(df, *cols)
    expr = sum((F.col(c) for c in cols[1:]), F.col(cols[0]))
    return df.withColumn(out, with_unit(expr, out, unit))


def attach_provenance(
    df: DataFrame,
    instrument_type: str,
    source_file: str,
    file_hash: str | None,
    file_metadata: dict | None = None,
) -> DataFrame:
    """Tag every row with the reference's table-level metadata triple
    (util.py:56-67): instrument type, source path + BLAKE2b provenance, and
    the nested file-metadata dict as a JSON string column.

    Constant columns compress to ~nothing in parquet (RLE/dictionary) and are
    usable as partition columns in a lake layout.
    """
    return (
        df.withColumn("instrument_type", F.lit(instrument_type))
        .withColumn("source_file", F.lit(source_file))
        .withColumn("file_hash", F.lit(file_hash))
        .withColumn(
            "file_metadata",
            F.lit(json.dumps(file_metadata, sort_keys=True) if file_metadata else None),
        )
    )


def file_blake2b(path: str) -> str:
    """Driver-side BLAKE2b for single-file loads (mirrors util.py:83-93)."""
    h = hashlib.blake2b()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def detect_encoding(path: str, sample_bytes: int = 1 << 16) -> str:
    """Best-effort encoding detection (reference util.py:76-80 used libmagic;
    charset_normalizer is the pure-Python equivalent available here).

    BOM checks come first — charset sniffing on UTF-16 without BOM is
    unreliable and the HFM format is UTF-16LE with BOM.
    """
    with open(path, "rb") as f:
        head = f.read(sample_bytes)
    return detect_encoding_bytes(head)


def detect_encoding_bytes(head: bytes) -> str:
    """Byte-buffer form of :func:`detect_encoding` for executor-side kernels
    that already hold the file content (binaryFile scans)."""
    if head.startswith(b"\xff\xfe"):
        return "utf-16le"
    if head.startswith(b"\xfe\xff"):
        return "utf-16be"
    if head.startswith(b"\xef\xbb\xbf"):
        return "utf-8"
    detected = None
    try:
        from charset_normalizer import from_bytes

        best = from_bytes(head).best()
        if best is not None:
            detected = best.encoding
    except ImportError:
        pass
    return _spark_charset(detected)


#: Spark's CSV reader accepts exactly these charsets; map detector aliases
_SPARK_CHARSETS = {
    "iso-8859-1",
    "us-ascii",
    "utf-16",
    "utf-16be",
    "utf-16le",
    "utf-32",
    "utf-8",
}
_CHARSET_ALIASES = {
    "ascii": "us-ascii",
    "latin-1": "iso-8859-1",
    "latin_1": "iso-8859-1",
    "cp1252": "iso-8859-1",
    "windows-1252": "iso-8859-1",
    "utf_8": "utf-8",
    "utf-16-le": "utf-16le",
    "utf_16_le": "utf-16le",
    "utf-16-be": "utf-16be",
    "utf_16_be": "utf-16be",
}


def _spark_charset(name: str | None) -> str:
    if not name:
        return "utf-8"
    n = name.lower().replace("_", "-")
    n = _CHARSET_ALIASES.get(n, n)
    return n if n in _SPARK_CHARSETS else "utf-8"


# --- automatic unit-consistency analyzer (SURVEY.md §4 nice-to-have) -------

#: additive/comparison expression classes where mixed units are a bug.
#: Multiplicative ops (Multiply/Divide) COMPOSE units and are excluded —
#: mW / mg is heat-flow normalization, not a mistake.
_ADDITIVE = {
    "Add", "Subtract",
    "LessThan", "LessThanOrEqual", "GreaterThan", "GreaterThanOrEqual",
    "EqualTo", "EqualNullSafe",
    "Least", "Greatest", "Coalesce",
}


def _expr_unit(expr, units_by_id) -> str | None:
    """Unit of an expression subtree, or None when it has none / stops
    being a single unit.  AttributeReference → its field metadata;
    transparent wrappers (Cast, Alias, UnaryMinus, Abs) → the child's
    unit; everything else → None (a composite has no single declared
    unit, so it can never conflict)."""
    cls = expr.getClass().getSimpleName()
    if cls == "AttributeReference":
        return units_by_id.get(expr.exprId().id())
    if cls in {"Cast", "Alias", "UnaryMinus", "Abs", "CheckOverflow"}:
        return _expr_unit(expr.children().apply(0), units_by_id)
    return None


def _walk_exprs(root, units_by_id, errors) -> None:
    # iterative (explicit stack): expression trees from long fold chains
    # can exceed Python's recursion limit
    stack = [root]
    while stack:
        expr = stack.pop()
        cls = expr.getClass().getSimpleName()
        kids = expr.children()
        n = kids.size()
        if cls in _ADDITIVE and n >= 2:
            seen: dict[str, str] = {}
            for i in range(n):
                child = kids.apply(i)
                u = _expr_unit(child, units_by_id)
                if u is not None:
                    seen[child.sql()] = u
            if len(set(seen.values())) > 1:
                errors.append(f"{cls}({expr.sql()}) mixes units {seen}")
        for i in range(n):
            stack.append(kids.apply(i))


def check_unit_consistency(df: DataFrame) -> None:
    """Analyzer-style unit gate: walk the ANALYZED logical plan and raise
    :class:`UnitMismatchError` if any additive arithmetic or comparison
    combines two attributes whose ``unit`` field metadata DIFFERS
    (``temperature_c + mass_mg`` — the bug the type system can't catch;
    reference util.py's unit carriage makes it catchable).

    Scope mirrors :func:`require_same_unit`'s philosophy but only flags
    two *declared*, *different* units — a declared unit plus a literal or
    unit-less expression is legitimate everywhere (``col + 1.0``), so the
    automatic gate stays false-positive-free on plans that never opted
    into units.  Cost is a driver-side plan walk (no Spark job):
    O(nodes × output attributes) py4j calls to harvest unit metadata,
    then — only if any unit was found anywhere in the lineage — the
    expression sweep.  For the instrument frames this guards (file-sized
    plans, a handful of nodes) that is low-ms; it is NOT free on
    thousand-node plans, which is why the hook lives on the
    instrument-lake egress and not inside the analytic query registry.
    Both walks are iterative (explicit stack) — deep fold lineages
    cannot blow Python's recursion limit.

    Runs automatically on the instrument-lake egress
    (:func:`lab_etl_spark.sources.sink.write_parquet`) and is callable as
    a pre-flight on any frame.
    """
    # cheap pre-filter: no unit metadata anywhere in the lineage worth
    # walking if the plan's attributes declare none.  Collect units per
    # exprId from every node's output attributes.
    jplan = df._jdf.queryExecution().analyzed()
    units_by_id: dict[int, str] = {}

    # subquery expressions / nested plans are out of scope: the
    # instrument API builds flat select/filter/write plans
    stack = [jplan]
    while stack:
        node = stack.pop()
        out = node.output()
        for i in range(out.size()):
            attr = out.apply(i)
            md = attr.metadata()
            if md.contains("unit"):
                units_by_id[attr.exprId().id()] = md.getString("unit")
        ch = node.children()
        for i in range(ch.size()):
            stack.append(ch.apply(i))

    if not units_by_id:
        return
    errors: list[str] = []

    stack = [jplan]
    while stack:
        node = stack.pop()
        exprs = node.expressions()
        for i in range(exprs.size()):
            _walk_exprs(exprs.apply(i), units_by_id, errors)
        ch = node.children()
        for i in range(ch.size()):
            stack.append(ch.apply(i))
    if errors:
        raise UnitMismatchError(
            "unit-inconsistent arithmetic in plan: " + "; ".join(errors)
        )
