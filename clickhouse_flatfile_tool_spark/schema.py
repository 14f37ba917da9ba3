"""ClickHouse ↔ Spark type system and flat-file schema resolution.

Reference behavior reproduced (and fixed) here:
  * ``mapClickHouseType`` — /root/reference/server/server.js:57-85 — is a
    whitelist of *unparametrized* type names with a silent fallback to String.
    Parametrized types (``Nullable(Int32)``, ``DateTime64(3)``,
    ``FixedString(16)``, ``Array(UInt32)``…) all fell through to String
    (SURVEY.md §2.11).  We parse the type grammar instead.
  * CSV schema resolution — three rules, in priority order
    (server.js:262-347):
      1. domain preset: filename contains ``pp-`` or ``price-paid`` →
         16 fixed String columns (UK_PROPERTY_COLUMNS, server.js:32-49)
      2. header sniff: first line split on ',' → column names
         (server.js:281-316)
      3. headerless: first record's field count → generic names
         (server.js:322-347; reference names them column_1..n, Spark's own
         convention is _c0.._cN — we expose both).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import types as T

from clickhouse_flatfile_tool_spark.dialect import _split_top_comma

# ---------------------------------------------------------------------------
# ClickHouse → Spark type mapping (SURVEY.md §1.2)
# ---------------------------------------------------------------------------

# Unsigned ints widen one size because Spark has no unsigned types;
# UInt64 needs DecimalType(20,0) (LongType overflows above 2**63-1).
_SIMPLE: dict[str, T.DataType] = {
    "UInt8": T.ShortType(),
    "UInt16": T.IntegerType(),
    "UInt32": T.LongType(),
    "UInt64": T.DecimalType(20, 0),
    "Int8": T.ByteType(),
    "Int16": T.ShortType(),
    "Int32": T.IntegerType(),
    "Int64": T.LongType(),
    "Float32": T.FloatType(),
    "Float64": T.DoubleType(),
    "String": T.StringType(),
    "Date": T.DateType(),
    "Date32": T.DateType(),
    "DateTime": T.TimestampType(),
    "UUID": T.StringType(),
    "IPv4": T.StringType(),
    "IPv6": T.StringType(),
    "Bool": T.BooleanType(),
}

_PAREN_RE = re.compile(r"^\s*([A-Za-z0-9_]+)\s*(?:\((.*)\))?\s*$", re.S)


def clickhouse_to_spark(ch_type: str) -> tuple[T.DataType, bool]:
    """Map a ClickHouse type string to (Spark DataType, nullable).

    Unlike the reference (server.js:84 falls back to String for anything it
    does not recognize), we parse wrappers and parameters.  Unknown base types
    still degrade to String — that is the reference's contract for flat-file
    interop — but the degradation is explicit here, not an accident of a
    dict lookup.
    """
    m = _PAREN_RE.match(ch_type)
    if not m:
        return T.StringType(), True
    base, args = m.group(1), m.group(2)

    if base == "Nullable":
        inner, _ = clickhouse_to_spark(args or "String")
        return inner, True
    if base == "LowCardinality":
        # storage hint only (SURVEY.md §1.2); type unchanged
        return clickhouse_to_spark(args or "String")
    if base == "FixedString":
        return T.StringType(), False
    if base in ("DateTime64", "DateTime"):
        return T.TimestampType(), False
    if base in ("Enum8", "Enum16"):
        return T.StringType(), False  # decode to label
    if base == "Decimal" and args:
        ps = _split_top_comma(args)
        if len(ps) == 2:
            return T.DecimalType(int(ps[0]), int(ps[1])), False
    if base in ("Decimal32", "Decimal64", "Decimal128") and args:
        scale = int(args)
        precision = {"Decimal32": 9, "Decimal64": 18, "Decimal128": 38}[base]
        return T.DecimalType(precision, scale), False
    if base == "Array":
        elem, elem_null = clickhouse_to_spark(args or "String")
        return T.ArrayType(elem, containsNull=elem_null), False
    if base == "Tuple" and args:
        fields = []
        for i, a in enumerate(_split_top_comma(args)):
            # named tuple element: "name Type"
            nm = re.match(r"^([A-Za-z_][A-Za-z0-9_]*)\s+(.+)$", a)
            name, atype = (nm.group(1), nm.group(2)) if nm else (f"_{i + 1}", a)
            ft, fn = clickhouse_to_spark(atype)
            fields.append(T.StructField(name, ft, fn))
        return T.StructType(fields), False
    if base == "Map" and args:
        ps = _split_top_comma(args)
        if len(ps) == 2:
            kt, _ = clickhouse_to_spark(ps[0])
            vt, vn = clickhouse_to_spark(ps[1])
            return T.MapType(kt, vt, valueContainsNull=vn), False
    if base in _SIMPLE:
        return _SIMPLE[base], False
    # reference fallback (server.js:84) — keep for flat-file interop
    return T.StringType(), True


def spark_to_clickhouse(dt: T.DataType, nullable: bool = False) -> str:
    """Inverse mapping, for the ClickHouse sink's CREATE TABLE DDL
    (reference emits its DDL at server.js:586-601, 671-678)."""
    if isinstance(dt, T.BooleanType):
        inner = "Bool"
    elif isinstance(dt, T.ByteType):
        inner = "Int8"
    elif isinstance(dt, T.ShortType):
        inner = "Int16"
    elif isinstance(dt, T.IntegerType):
        inner = "Int32"
    elif isinstance(dt, T.LongType):
        inner = "Int64"
    elif isinstance(dt, T.FloatType):
        inner = "Float32"
    elif isinstance(dt, T.DoubleType):
        inner = "Float64"
    elif isinstance(dt, T.DecimalType):
        inner = f"Decimal({dt.precision}, {dt.scale})"
    elif isinstance(dt, T.DateType):
        inner = "Date32"
    elif isinstance(dt, T.TimestampType):
        inner = "DateTime64(6)"
    elif isinstance(dt, T.ArrayType):
        inner = f"Array({spark_to_clickhouse(dt.elementType, dt.containsNull)})"
    elif isinstance(dt, T.MapType):
        inner = (
            f"Map({spark_to_clickhouse(dt.keyType)}, "
            f"{spark_to_clickhouse(dt.valueType, dt.valueContainsNull)})"
        )
    elif isinstance(dt, T.StructType):
        elems = ", ".join(
            f"{f.name} {spark_to_clickhouse(f.dataType, f.nullable)}" for f in dt.fields
        )
        inner = f"Tuple({elems})"
    else:
        inner = "String"
    # Nullable cannot wrap composite types in ClickHouse
    if nullable and not isinstance(dt, (T.ArrayType, T.MapType, T.StructType)):
        return f"Nullable({inner})"
    return inner


# ---------------------------------------------------------------------------
# Flat-file schema resolution (SURVEY.md §2.1 S2-S4)
# ---------------------------------------------------------------------------

# Domain preset: UK property price-paid files (server.js:32-49).  The files
# ship headerless, hence the hardcoded column list; all String per reference
# (server.js:271-277).
UK_PROPERTY_COLUMNS: list[str] = [
    "transaction_id",
    "price",
    "date_of_transfer",
    "postcode",
    "property_type",
    "old_new",
    "duration",
    "paon",
    "saon",
    "street",
    "locality",
    "town_city",
    "district",
    "county",
    "ppd_category_type",
    "record_status",
]

UK_PROPERTY_SCHEMA = T.StructType(
    [T.StructField(c, T.StringType(), True) for c in UK_PROPERTY_COLUMNS]
)


@dataclass(frozen=True)
class ResolvedSchema:
    """Outcome of CSV schema resolution: how the columns were determined."""

    schema: T.StructType
    origin: str  # "preset" | "header" | "headerless"
    has_header: bool


def matches_uk_property_preset(filename: str) -> bool:
    """Filename rule from server.js:263-266."""
    lower = filename.lower()
    return "pp-" in lower or "price-paid" in lower


def resolve_csv_schema(
    filename: str,
    first_line: str | None = None,
    has_header: bool | None = None,
    sep: str = ",",
) -> ResolvedSchema:
    """Apply the reference's three schema-resolution rules in priority order.

    ``first_line`` is the raw first line of the file (used for the header
    sniff, server.js:284-298, and the headerless column count,
    server.js:322-347).  ``has_header`` overrides sniffing when the caller
    knows — an explicit override also beats the UK-property filename
    preset (the caller's knowledge outranks a substring heuristic that
    also matches names like ``app-events.csv``).  All resolved columns are
    String — typing happens via explicit casts downstream, exactly like
    the reference (server.js:274, 312-314).

    The first line is split with a quote-aware RFC 4180 parser (stdlib
    ``csv``), matching the quoting the data reader itself honors — a
    naive ``split(sep)`` would shred ``id,"full, name",notes`` into four
    garbage columns while Spark parses three fields per data row.
    Duplicate header names are disambiguated with positional suffixes
    (``id``, ``id_2`` …) so the resolved schema is always selectable.
    """
    if matches_uk_property_preset(filename) and has_header is None:
        return ResolvedSchema(UK_PROPERTY_SCHEMA, "preset", False)
    if first_line is None:
        raise ValueError("need first_line for non-preset CSV schema resolution")
    import csv as _csv
    import io

    try:
        fields = [
            f.strip()
            for f in next(
                _csv.reader(io.StringIO(first_line.rstrip("\r\n")), delimiter=sep)
            )
        ]
    except StopIteration:
        fields = []
    header = has_header if has_header is not None else _looks_like_header(fields)
    if header:
        cols = [f or f"column_{i + 1}" for i, f in enumerate(fields)]
        seen: dict[str, int] = {}
        uniq = []
        for c in cols:
            seen[c] = seen.get(c, 0) + 1
            uniq.append(c if seen[c] == 1 else f"{c}_{seen[c]}")
        return ResolvedSchema(
            T.StructType([T.StructField(c, T.StringType(), True) for c in uniq]),
            "header",
            True,
        )
    cols = [f"column_{i + 1}" for i in range(len(fields))]
    return ResolvedSchema(
        T.StructType([T.StructField(c, T.StringType(), True) for c in cols]),
        "headerless",
        False,
    )


_NUM_RE = re.compile(r"^-?\d+(\.\d+)?$")


def _looks_like_header(fields: list[str]) -> bool:
    """Heuristic: a header row has no purely-numeric fields and no empties.

    The reference assumes header-presence by code path (csv-parse
    ``columns: true``, server.js:480) rather than detecting it; this
    heuristic closes that gap for the generic path.
    """
    return all(f and not _NUM_RE.match(f) for f in fields)


def validate_columns(columns: list[dict]) -> None:
    """Reference validation: every column entry must carry name and type
    (server.js:576-581)."""
    for c in columns:
        if not c.get("name") or not c.get("type"):
            raise ValueError(f"invalid column definition: {c!r} (name and type required)")


def cast_to_clickhouse_columns(df, columns: list[dict]):
    """Cast an all-String flat-file DataFrame to its declared ClickHouse
    column types (``[{name, type}]`` — the reference's universal currency,
    server.js:576-581).

    Fixes the reference defect at server.js:697, 711 (§2.11): file-side
    ingest there quotes every value as a string regardless of declared type;
    here the declared type drives a real cast, so a ``UInt32`` column lands
    as a Spark integral and bad cells become NULL (``try_cast`` — PERMISSIVE
    semantics even under ANSI mode) instead of silently storing text.
    """
    from pyspark.sql import functions as F

    validate_columns(columns)
    out = df
    for c in columns:
        dt, _nullable = clickhouse_to_spark(c["type"])
        out = out.withColumn(c["name"], F.col(c["name"]).try_cast(dt))
    return out


def schema_drift(old: T.StructType, new: T.StructType) -> dict:
    """Diff two schemas the way an ETL tool audits a source between loads
    (the reference re-DESCRIBEs on every request, server.js:230-233, but
    never compares): returns added / removed / type-changed /
    nullability-changed columns, keyed by name.  Pure metadata — no data
    scan; pair with read_parquet_evolved for the merge-on-read side."""
    o = {f.name: f for f in old.fields}
    n = {f.name: f for f in new.fields}
    return {
        "added": sorted(set(n) - set(o)),
        "removed": sorted(set(o) - set(n)),
        "type_changed": sorted(
            k for k in set(o) & set(n)
            if o[k].dataType.simpleString() != n[k].dataType.simpleString()
        ),
        "nullability_changed": sorted(
            k for k in set(o) & set(n)
            if o[k].dataType.simpleString() == n[k].dataType.simpleString()
            and o[k].nullable != n[k].nullable
        ),
        "compatible": all(
            o[k].dataType.simpleString() == n[k].dataType.simpleString()
            for k in set(o) & set(n)
        )
        and not (set(o) - set(n)),
    }
