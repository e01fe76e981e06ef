"""ClickHouse type name → Spark SQL type mapping (SURVEY.md §1.2).

Source of truth: the reference's type factory registrations
(``src/DataTypes/DataTypeFactory.cpp:197-217``) and the SQL-alias table
(``src/DataTypes/DataTypesNumber.cpp:59-90``). Fidelity policies:

- UInt64  → LongType (modulo-2^64; documented best-effort).
- Int128/256, UInt128/256 → Decimal(38,0) (lossy beyond 38 digits).
- DateTime64(p>6) → TimestampType truncates to microseconds.
- FixedString(N) → string (length check is a constraint, not a type).
- Enum8/16 → string.
- LowCardinality(T) → T (Parquet dictionary-encodes transparently).
"""

from __future__ import annotations

import re

_SIMPLE = {
    "int8": "tinyint", "int16": "smallint", "int32": "int", "int64": "long",
    "uint8": "smallint", "uint16": "int", "uint32": "long", "uint64": "long",
    "int128": "decimal(38,0)", "int256": "decimal(38,0)",
    "uint128": "decimal(38,0)", "uint256": "decimal(38,0)",
    "float32": "float", "float64": "double",
    "string": "string", "uuid": "string", "ipv4": "string", "ipv6": "string",
    "date": "date", "date32": "date", "datetime": "timestamp",
    "bool": "boolean", "boolean": "boolean", "nothing": "void",
    # SQL-standard aliases (DataTypesNumber.cpp:59-90)
    "tinyint": "tinyint", "smallint": "smallint", "int": "int",
    "integer": "int", "bigint": "long", "float": "float", "double": "double",
    "char": "string", "varchar": "string", "text": "string", "blob": "binary",
    "real": "float",
}


def ch_type_to_spark(ch: str) -> str:
    """Translate a ClickHouse type string to a Spark SQL type string."""
    t = ch.strip()
    low = t.lower()
    if low in _SIMPLE:
        return _SIMPLE[low]
    m = re.match(r"(?i)^nullable\((.*)\)$", t)
    if m:
        return ch_type_to_spark(m.group(1))
    m = re.match(r"(?i)^lowcardinality\((.*)\)$", t)
    if m:
        return ch_type_to_spark(m.group(1))
    m = re.match(r"(?i)^array\((.*)\)$", t)
    if m:
        return f"array<{ch_type_to_spark(m.group(1))}>"
    m = re.match(r"(?i)^map\((.*),\s*(.*)\)$", t)
    if m:
        return f"map<{ch_type_to_spark(m.group(1))},{ch_type_to_spark(m.group(2))}>"
    m = re.match(r"(?i)^tuple\((.*)\)$", t)
    if m:
        parts = _split_args(m.group(1))
        fields = []
        for i, p in enumerate(parts):
            nm = re.match(r"^(\w+)\s+(.+)$", p.strip())
            if nm:
                fields.append(f"{nm.group(1)}:{ch_type_to_spark(nm.group(2))}")
            else:
                fields.append(f"_{i+1}:{ch_type_to_spark(p)}")
        return f"struct<{','.join(fields)}>"
    m = re.match(r"(?i)^decimal\((\d+)\s*,\s*(\d+)\)$", t)
    if m:
        p, s = int(m.group(1)), int(m.group(2))
        return f"decimal({min(p,38)},{min(s,38)})"
    m = re.match(r"(?i)^decimal(32|64|128|256)\((\d+)\)$", t)
    if m:
        prec = {"32": 9, "64": 18, "128": 38, "256": 38}[m.group(1)]
        return f"decimal({prec},{m.group(2)})"
    m = re.match(r"(?i)^datetime64\((\d+)(?:\s*,\s*'(.*)')?\)$", t)
    if m:
        return "timestamp"
    m = re.match(r"(?i)^datetime\('(.*)'\)$", t)
    if m:
        return "timestamp"
    m = re.match(r"(?i)^fixedstring\((\d+)\)$", t)
    if m:
        return "string"
    m = re.match(r"(?i)^enum(8|16)?\(", t)
    if m:
        return "string"
    if t.lower() in ("json", "object('json')"):
        # the JSON column type stores the document text (the JSON
        # introspection functions operate on it directly)
        return "string"
    # AggregateFunction(fn, T): real sketch state columns for the uniq
    # family — HLL states are opaque binary (Spark DataSketches), exact
    # states are the distinct-value array. Other aggregate states have no
    # portable representation → unmapped (documented divergence).
    m = re.match(r"(?i)^aggregatefunction\((\w+)(?:\([^)]*\))?\s*,\s*(.*)\)$",
                 t)
    if m:
        fn = m.group(1).lower()
        if fn in ("uniq", "uniqhll12", "uniqcombined"):
            return "binary"
        if fn == "uniqexact":
            return f"array<{ch_type_to_spark(m.group(2))}>"
        if fn == "count":
            return "bigint"
        if fn in ("grouparray", "groupuniqarray"):
            inner = _split_args(m.group(2))[0]
            return f"array<{ch_type_to_spark(inner)}>"
        # everything else follows the engine's -State policy: value-
        # carrier states ARE the (partially aggregated) value, so the
        # column stores the first argument type (sum/min/max/any/avg/
        # argMin/quantile… finalize to it)
        inner = _split_args(m.group(2))[0]
        return ch_type_to_spark(inner)
    # SimpleAggregateFunction(fn, T) stores the plain value of T
    m = re.match(r"(?i)^simpleaggregatefunction\(\w+\s*,\s*(.*)\)$", t)
    if m:
        return ch_type_to_spark(m.group(1))
    # Variant(T1, …) / Dynamic: no Spark union type — the column is a
    # text carrier like JSON (values keep their literal rendering;
    # introspection functions parse on demand)
    if re.match(r"(?i)^variant\(", t) or low == "dynamic":
        return "string"
    # geo types are the documented tuple/array compositions
    # (Point = Tuple(Float64, Float64), Ring/LineString = Array(Point),
    # Polygon/MultiLineString = Array(Ring), MultiPolygon =
    # Array(Polygon))
    if low == "point":
        return "struct<_1:double,_2:double>"
    if low in ("ring", "linestring"):
        return "array<struct<_1:double,_2:double>>"
    if low in ("polygon", "multilinestring"):
        return "array<array<struct<_1:double,_2:double>>>"
    if low == "multipolygon":
        return "array<array<array<struct<_1:double,_2:double>>>>"
    raise ValueError(f"unmapped ClickHouse type: {ch}")


_SPARK_TO_CH = {
    "tinyint": "Int8", "smallint": "Int16", "int": "Int32",
    "bigint": "Int64", "float": "Float32", "double": "Float64",
    "string": "String", "binary": "String", "boolean": "Bool",
    "date": "Date", "timestamp": "DateTime", "timestamp_ntz": "DateTime",
}


def spark_type_to_ch(spark_type: str) -> str:
    """ClickHouse spelling of a Spark type name (``simpleString()``),
    the inverse of ch_type_to_spark: what DESCRIBE, system.columns,
    toTypeName and CREATE TABLE ... AS SELECT report. A type with no
    ClickHouse counterpart reads as String."""
    t = spark_type.strip()
    if t in _SPARK_TO_CH:
        return _SPARK_TO_CH[t]
    if t.startswith("array<") and t.endswith(">"):
        return f"Array({spark_type_to_ch(t[6:-1])})"
    m = re.match(r"decimal\((\d+),\s*(\d+)\)$", t)
    if m:
        return f"Decimal({m.group(1)}, {m.group(2)})"
    if t.startswith("struct<") and t.endswith(">"):
        elems = [spark_type_to_ch(p.split(":", 1)[1])
                 for p in _split_args(t[7:-1], "<>") if ":" in p]
        return f"Tuple({', '.join(elems)})"
    if t.startswith("map<") and t.endswith(">"):
        kv = _split_args(t[4:-1], "<>")
        if len(kv) == 2:
            return (f"Map({spark_type_to_ch(kv[0])}, "
                    f"{spark_type_to_ch(kv[1])})")
    return "String"


# --- ClickHouse numeric type algebra ---------------------------------------
#
# Two distinct rule-sets in the reference, both ported here:
#  * getLeastSupertype (src/DataTypes/getLeastSupertype.cpp:406-527) —
#    type unification for if/multiIf/arrays/UNION: bit-width maximization
#    with the signed+unsigned → one-more-bit rule.
#  * NumberTraits (src/DataTypes/NumberTraits.h:38-120) — arithmetic
#    result types for +,-,*,/,intDiv,%: Construct(signed, floating,
#    nextSize(max(size_a, size_b))).

# name → (kind, size_bytes); kind: 'u' unsigned int, 'i' signed int, 'f' float
CH_NUMERIC: dict[str, tuple[str, int]] = {
    "UInt8": ("u", 1), "UInt16": ("u", 2), "UInt32": ("u", 4),
    "UInt64": ("u", 8), "UInt128": ("u", 16), "UInt256": ("u", 32),
    "Int8": ("i", 1), "Int16": ("i", 2), "Int32": ("i", 4),
    "Int64": ("i", 8), "Int128": ("i", 16), "Int256": ("i", 32),
    "Float32": ("f", 4), "Float64": ("f", 8),
    "Bool": ("u", 1),   # CH Bool is UInt8 under the hood
}

# Spark result type → canonical CH numeric (the signed view: parquet and
# Spark have no unsigned types, so a bare Spark column is assumed signed;
# DDL-declared tables carry their true CH types through ctx instead)
_SPARK_TO_CH_NUM = {
    "tinyint": "Int8", "smallint": "Int16", "int": "Int32",
    "bigint": "Int64", "long": "Int64", "float": "Float32",
    "double": "Float64", "boolean": "Bool",
}


class NoCommonTypeError(ValueError):
    """CH NO_COMMON_TYPE (getLeastSupertype.cpp:459-471)."""


def spark_type_to_ch_numeric(spark_type: str) -> str | None:
    """Canonical CH numeric for a Spark type name (None if non-numeric)."""
    return _SPARK_TO_CH_NUM.get(spark_type.lower())


def ch_literal_type(value) -> str | None:
    """CH type of a bare literal (FieldToDataType: smallest fitting type;
    non-negative ints are unsigned — toTypeName(1) = UInt8)."""
    if isinstance(value, bool):
        return "UInt8"
    if isinstance(value, int):
        if value >= 0:
            for t, hi in (("UInt8", 1 << 8), ("UInt16", 1 << 16),
                          ("UInt32", 1 << 32), ("UInt64", 1 << 64)):
                if value < hi:
                    return t
            return "UInt128"
        for t, lo in (("Int8", -(1 << 7)), ("Int16", -(1 << 15)),
                      ("Int32", -(1 << 31)), ("Int64", -(1 << 63))):
            if value >= lo:
                return t
        return "Int128"
    if isinstance(value, float):
        return "Float64"
    return None


def _construct(signed: bool, floating: bool, size: int) -> str:
    """NumberTraits::Construct (NumberTraits.h:38-64)."""
    if floating:
        return "Float32" if size <= 4 else "Float64"
    return f"{'Int' if signed else 'UInt'}{size * 8}"


def _next_size(size: int) -> int:
    """NumberTraits::nextSize — no auto-widening past 64-bit
    ((U)Int64 compatibility; NumberTraits.h:31-36)."""
    return size * 2 if size < 8 else size


def arithmetic_result_type(op: str, a: str, b: str) -> str | None:
    """CH result type of a binary arithmetic op over numeric CH types.

    Port of NumberTraits.h: ResultOfAdditionMultiplication (:73-80),
    ResultOfSubtraction (:82-88), ResultOfFloatingPointDivision (:92-95),
    ResultOfIntegerDivision (:99-106), ResultOfModulo (:110-119).
    Returns None when an operand isn't CH-numeric (caller falls back to
    Spark coercion).
    """
    ka = CH_NUMERIC.get(a)
    kb = CH_NUMERIC.get(b)
    if ka is None or kb is None:
        return None
    (kind_a, size_a), (kind_b, size_b) = ka, kb
    floating = "f" in (kind_a, kind_b)
    signed = "i" in (kind_a, kind_b) or floating
    if op == "divide":
        return "Float64"
    if op in ("plus", "multiply"):
        return _construct(signed, floating, _next_size(max(size_a, size_b)))
    if op == "minus":
        return _construct(True, floating, _next_size(max(size_a, size_b)))
    if op == "intDiv":
        # same width as the dividend, sign of either
        return _construct(signed, False, size_a)
    if op == "modulo":
        if floating:
            return "Float64"
        # width of the divisor; one step wider when the dividend is
        # signed (toInt32(-199) % toUInt8(200) = -199 needs Int16)
        res_signed = kind_a == "i"
        size = _next_size(size_b) if res_signed else size_b
        return _construct(res_signed, False, size)
    return None


def negate_result_type(a: str) -> str | None:
    """NumberTraits::ResultOfNegate (NumberTraits.h:125-131): signed of
    the same width, one step wider when negating an unsigned."""
    info = CH_NUMERIC.get(a)
    if info is None:
        return None
    kind, size = info
    if kind == "f":
        return a
    return _construct(True, False, size if kind == "i" else _next_size(size))


def least_supertype(types: list[str]) -> str:
    """CH getLeastSupertype over numeric type names.

    Port of the number branch (getLeastSupertype.cpp:406-527): maximize
    bit widths per class; signed+unsigned of the same width promote to a
    signed type one step wider (Int32 ∪ UInt32 = Int64), raising
    NO_COMMON_TYPE when that step would pass 64 bits; any float forces a
    float wide enough for every integer's digits (24/53-bit mantissas).
    Non-numeric inputs unify only when identical.
    """
    uniq = list(dict.fromkeys(types))
    if not uniq:
        raise NoCommonTypeError("no types")
    if len(uniq) == 1:
        return uniq[0]
    max_signed = max_unsigned = max_mantissa = 0
    for t in uniq:
        info = CH_NUMERIC.get(t)
        if info is None:
            raise NoCommonTypeError(
                f"there is no supertype for types {', '.join(uniq)} "
                f"because some of them are numbers and some are not")
        kind, size = info
        bits = size * 8
        if kind == "u":
            max_unsigned = max(max_unsigned, bits)
        elif kind == "i":
            max_signed = max(max_signed, bits)
        else:
            max_mantissa = max(max_mantissa, 24 if size == 4 else 53)
    min_bits = max(max_signed, max_unsigned)
    if max_signed and max_unsigned >= max_signed:
        if min_bits != 64:
            min_bits += 1
        else:
            raise NoCommonTypeError(
                f"there is no supertype for types {', '.join(uniq)} "
                f"because some of them are signed integers and some are "
                f"unsigned integers, but there is no signed integer type "
                f"that can exactly represent all required unsigned "
                f"integer values")
    if max_mantissa:
        mant = max(min_bits, max_mantissa)
        if mant <= 24:
            return "Float32"
        if mant <= 53:
            return "Float64"
        raise NoCommonTypeError(
            f"there is no supertype for types {', '.join(uniq)} because "
            f"some of them are integers and some are floating point, but "
            f"there is no floating point type that can exactly represent "
            f"all required integers")
    for bits in (8, 16, 32, 64, 128, 256):
        if min_bits <= bits:
            return f"{'Int' if max_signed else 'UInt'}{bits}"
    raise NoCommonTypeError(
        f"there is no supertype for types {', '.join(uniq)}")


def _split_args(s: str, brackets: str = "()") -> list[str]:
    """Split on top-level commas (respects nested brackets)."""
    out, depth, cur = [], 0, []
    for ch_ in s:
        if ch_ == brackets[0]:
            depth += 1
        elif ch_ == brackets[1]:
            depth -= 1
        if ch_ == "," and depth == 0:
            out.append("".join(cur))
            cur = []
        else:
            cur.append(ch_)
    if cur:
        out.append("".join(cur))
    return out
