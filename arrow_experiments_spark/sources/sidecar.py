"""Arrow-schema fidelity sidecar (SURVEY.md §1.2 / §7 hard part 1).

Spark's type lattice is coarser than Arrow's: no unsigned ints, µs-only
timestamps, no date64, no dictionary type, no fixed-size binary.  The
sidecar records the original Arrow type per column when data enters
Spark, and the egress boundary uses it to reconstruct byte-faithful Arrow
schemas — so a reference client sees the exact types it expects
(e.g. the 21-type fixture of data/rand-many-types/generate.py:138-160).

Widening map (ingress)           Restore map (egress)
  uint8  → int16                   int16  → uint8
  uint16 → int32                   int32  → uint16
  uint32 → int64                   int64  → uint32
  uint64 → decimal(20,0)           decimal(20,0) → uint64
  timestamp[ns] → timestamp[us]    ...[us] → [ns]
  date64 → date32                  date32 → date64
  dictionary<i,v> → v              v → dictionary re-encode
  fixed_size_binary(k) → binary    binary → fixed_size_binary(k)
  null → null (passes through Spark as void)
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.compute as pc


def build_sidecar(schema: pa.Schema) -> dict[str, str]:
    """{column name: original Arrow type string} — JSON-serializable."""
    return {f.name: str(f.type) for f in schema}


def _widened_type(t: pa.DataType) -> pa.DataType:
    if pa.types.is_uint8(t):
        return pa.int16()
    if pa.types.is_uint16(t):
        return pa.int32()
    if pa.types.is_uint32(t):
        return pa.int64()
    if pa.types.is_uint64(t):
        return pa.decimal128(20, 0)
    if pa.types.is_timestamp(t) and t.unit == "ns":
        return pa.timestamp("us", tz=t.tz)
    if pa.types.is_date64(t):
        return pa.date32()
    if pa.types.is_dictionary(t):
        return t.value_type
    if pa.types.is_fixed_size_binary(t):
        return pa.binary()
    return t


def widen_for_spark(table: pa.Table) -> tuple[pa.Table, dict[str, str]]:
    """Cast an Arrow table to Spark-compatible types; returns the widened
    table plus the sidecar needed to restore the original schema."""
    sidecar = build_sidecar(table.schema)
    cols = []
    fields = []
    for field, col in zip(table.schema, table.columns):
        target = _widened_type(field.type)
        if target != field.type:
            if pa.types.is_dictionary(field.type):
                col = pc.cast(col.combine_chunks().dictionary_decode(), target)
            else:
                col = pc.cast(col, target)
        cols.append(col)
        fields.append(pa.field(field.name, target, field.nullable))
    return pa.Table.from_arrays(cols, schema=pa.schema(fields)), sidecar


def restore_from_sidecar(table: pa.Table, sidecar: dict[str, str]) -> pa.Table:
    """Cast a (widened) Arrow table back to its original schema."""
    cols = []
    fields = []
    for field, col in zip(table.schema, table.columns):
        orig_str = sidecar.get(field.name)
        if orig_str is None or orig_str == str(field.type):
            cols.append(col)
            fields.append(field)
            continue
        orig = _parse_type(orig_str)
        if pa.types.is_dictionary(orig):
            col = pc.dictionary_encode(col.combine_chunks())
            # dictionary_encode yields int32 indices / inferred value type;
            # cast only if the declared index/value types differ
            if col.type != orig:
                col = pc.cast(col, orig)
        elif pa.types.is_uint64(orig):
            # decimal(20,0) → uint64 has no direct cast; hop through string
            col = pc.cast(pc.cast(col, pa.string()), orig)
        else:
            col = pc.cast(col, orig)
        cols.append(col)
        fields.append(pa.field(field.name, orig, field.nullable))
    return pa.Table.from_arrays(cols, schema=pa.schema(fields))


_SIMPLE_TYPES: dict[str, pa.DataType] = {
    "int8": pa.int8(),
    "int16": pa.int16(),
    "int32": pa.int32(),
    "int64": pa.int64(),
    "uint8": pa.uint8(),
    "uint16": pa.uint16(),
    "uint32": pa.uint32(),
    "uint64": pa.uint64(),
    "float": pa.float32(),
    "double": pa.float64(),
    "string": pa.string(),
    "binary": pa.binary(),
    "bool": pa.bool_(),
    "date32[day]": pa.date32(),
    "date64[ms]": pa.date64(),
    "null": pa.null(),
}


def _parse_type(s: str) -> pa.DataType:
    """Parse the str(pa.DataType) forms the sidecar produces."""
    if s in _SIMPLE_TYPES:
        return _SIMPLE_TYPES[s]
    if s.startswith("timestamp["):
        inner = s[len("timestamp[") : -1]
        if "," in inner:
            unit, tz = inner.split(",", 1)
            return pa.timestamp(unit.strip(), tz.strip().removeprefix("tz=").strip())
        return pa.timestamp(inner.strip())
    if s.startswith("decimal128("):
        p, sc = s[len("decimal128(") : -1].split(",")
        return pa.decimal128(int(p), int(sc))
    if s.startswith("fixed_size_binary["):
        return pa.binary(int(s[len("fixed_size_binary[") : -1]))
    if s.startswith("dictionary<values=") and s.endswith(">"):
        inner = s[len("dictionary<") : -1]
        parts = dict(kv.split("=", 1) for kv in inner.split(", "))
        return pa.dictionary(
            _parse_type(parts["indices"]), _parse_type(parts["values"])
        )
    if s.startswith("list<") and s.endswith(">"):
        inner = s[len("list<") : -1]
        _, item = inner.split(": ", 1)
        return pa.list_(_parse_type(item))
    if s.startswith("struct<") and s.endswith(">"):
        inner = s[len("struct<") : -1]
        fields = []
        for kv in _split_struct_fields(inner):
            name, typ = kv.split(": ", 1)
            fields.append((name, _parse_type(typ)))
        return pa.struct(fields)
    raise ValueError(f"cannot parse Arrow type string: {s!r}")


def _split_struct_fields(s: str) -> list[str]:
    out, depth, cur = [], 0, ""
    for ch in s:
        if ch == "<":
            depth += 1
        elif ch == ">":
            depth -= 1
        if ch == "," and depth == 0:
            out.append(cur.strip())
            cur = ""
        else:
            cur += ch
    if cur.strip():
        out.append(cur.strip())
    return out
