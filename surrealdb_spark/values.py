"""Value/type layer: the SurrealQL data model on Spark columns.

Reference: surrealdb/types/src/value/mod.rs:84-122 (Value enum) and the
total cross-type Ord at :126-210 — ORDER BY and comparisons never error on
mixed types; values order first by type tag:

    None < Null < Bool < Number < String < Duration < Datetime < Uuid
         < Array < Set < Object < Geometry < Bytes < Table < RecordId
         < File < Range < Regex

Design decisions (SURVEY.md §1.4, written down here once):
  * None vs Null — the reference distinguishes absence (None) from explicit
    null.  Typed Spark columns collapse both to SQL NULL; where the
    distinction matters (schemaless/dynamic fields) values are carried as a
    VARIANT-style struct with an explicit type tag (TAG_NONE vs TAG_NULL).
  * Numbers — int64 | float64 | decimal(38,10) union; per-column narrowest
    type when schema is declared, tagged variant otherwise.
  * RecordId — canonical string ``table:key`` (operators/graph.py builds
    them); struct form available via record_parts().
  * Duration — struct{months, nanos}: day-time intervals fit nanos; year/
    week units need months (core/src/fnc/duration.rs).
  * Datetime — TimestampType (µs); the reference is ns.  Documented
    truncation; keep a raw int64-ns column where ns fidelity is required
    (catalog does this for events.ts).
"""

from __future__ import annotations

import datetime as _dt
import decimal as _dec

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Type tags — the cross-type sort order (types/src/value/mod.rs:165-210).
TAG_NONE = 0
TAG_NULL = 1
TAG_BOOL = 2
TAG_NUMBER = 3
TAG_STRING = 4
TAG_DURATION = 5
TAG_DATETIME = 6
TAG_UUID = 7
TAG_ARRAY = 8
TAG_SET = 9
TAG_OBJECT = 10
TAG_GEOMETRY = 11
TAG_BYTES = 12
TAG_TABLE = 13
TAG_RECORD_ID = 14
TAG_FILE = 15
TAG_RANGE = 16
TAG_REGEX = 17

# Variant encoding for dynamic (schemaless) values: a tag plus one slot per
# comparable family.  Slots unused by a tag stay NULL; struct comparison
# then yields exactly the reference's (tag, value) lexicographic order.
VARIANT_SCHEMA = T.StructType(
    [
        T.StructField("tag", T.IntegerType(), False),
        T.StructField("b", T.BooleanType(), True),
        T.StructField("n", T.DoubleType(), True),
        T.StructField("s", T.StringType(), True),
        T.StructField("j", T.StringType(), True),  # JSON for array/object/rest
    ]
)


def v_none() -> Column:
    return _variant(TAG_NONE)


def v_null() -> Column:
    return _variant(TAG_NULL)


def v_bool(c: Column) -> Column:
    return _variant(TAG_BOOL, b=c)


def v_number(c: Column) -> Column:
    return _variant(TAG_NUMBER, n=c.cast("double"))


def v_string(c: Column) -> Column:
    return _variant(TAG_STRING, s=c)


def _variant(tag: int, b: Column | None = None, n: Column | None = None,
             s: Column | None = None, j: Column | None = None) -> Column:
    return F.struct(
        F.lit(tag).alias("tag"),
        (b if b is not None else F.lit(None).cast("boolean")).alias("b"),
        (n if n is not None else F.lit(None).cast("double")).alias("n"),
        (s if s is not None else F.lit(None).cast("string")).alias("s"),
        (j if j is not None else F.lit(None).cast("string")).alias("j"),
    )


def sort_key(variant: Column) -> Column:
    """Total-order sort key for a variant column.

    Struct comparison is field-by-field; tag orders the families exactly as
    the reference's Ord, then the family's slot orders within it (booleans
    false<true, numbers numerically, strings lexicographically — matching
    bool::cmp / Number::cmp / String::cmp).
    """
    return F.struct(
        variant.getField("tag").alias("t"),
        variant.getField("b").alias("b"),
        variant.getField("n").alias("n"),
        variant.getField("s").alias("s"),
        variant.getField("j").alias("j"),
    )


def is_none(variant: Column) -> Column:
    return variant.getField("tag") == TAG_NONE


def is_null(variant: Column) -> Column:
    return variant.getField("tag") == TAG_NULL


def truthy(variant: Column) -> Column:
    """SurrealQL truthiness (Value::is_truthy): true bools, non-zero
    numbers, non-empty strings/arrays/objects; None/Null are falsy.
    """
    tag = variant.getField("tag")
    return (
        F.when(tag == TAG_BOOL, variant.getField("b"))
        .when(tag == TAG_NUMBER, variant.getField("n") != 0.0)
        .when(tag == TAG_STRING, F.length(variant.getField("s")) > 0)
        .when(
            tag.isin(TAG_ARRAY, TAG_OBJECT, TAG_SET),
            ~variant.getField("j").isin("[]", "{}"),
        )
        .otherwise(F.lit(False))
    )


def record_parts(rid: Column) -> Column:
    """RecordId string → struct{tb, key} (types/src/value/record_id/mod.rs:22)."""
    return F.struct(
        F.substring_index(rid, ":", 1).alias("tb"),
        F.substring_index(rid, ":", -1).alias("key"),
    )


def duration(months: Column | int = 0, nanos: Column | int = 0) -> Column:
    """Duration as struct{months, nanos} — see module docstring."""
    m = F.lit(months) if isinstance(months, int) else months
    n = F.lit(nanos) if isinstance(nanos, int) else nanos
    return F.struct(m.cast("long").alias("months"), n.cast("long").alias("nanos"))


class NanoDatetime(_dt.datetime):
    """A datetime literal whose source text has sub-microsecond precision
    (the reference stores nanosecond datetimes, val/datetime.rs; Python
    truncates to micros).  `raw` keeps the original literal body so
    EXPLAIN output prints the exact text (`d'…940183014Z'`)."""

    raw: str = ""

    @classmethod
    def wrap(cls, d: "_dt.datetime", raw: str) -> "NanoDatetime":
        out = cls(d.year, d.month, d.day, d.hour, d.minute, d.second,
                  d.microsecond, tzinfo=d.tzinfo, fold=d.fold)
        out.raw = raw
        return out

    def replace(self, *a, **k):  # keep raw through tz normalization
        out = super().replace(*a, **k)
        out.raw = self.raw
        return out

    def astimezone(self, tz=None):
        out = super().astimezone(tz)
        if isinstance(out, NanoDatetime):
            out.raw = self.raw
        return out


try:  # createDataFrame type inference looks types up by EXACT class
    from pyspark.sql import types as _pst

    _pst._type_mappings[NanoDatetime] = _pst.TimestampType
except Exception:  # pragma: no cover - internal mapping moved
    pass


def local_frame(spark, rows, schema: T.StructType | str | None = None):
    """A DataFrame over driver-side rows (tuples, dicts or Rows), shipped to
    the JVM as Arrow batches so the plan reads them as a ``LocalTableScan``.

    ``spark.createDataFrame(list)`` instead parallelizes a pickled Python
    RDD, and every job over the frame re-reads it through Python workers.
    The schema is ``schema`` (a ``StructType`` or DDL string) or PySpark's
    own list inference, and values take that schema's ``toInternal``
    encoding — both exactly what ``createDataFrame(rows[, schema])`` uses:
    naive datetimes are local time, aware ones shift to UTC, dates become
    day counts."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type
    from pyspark.sql.types import _create_converter

    rows = list(rows)
    if isinstance(schema, str):
        schema = spark._parse_ddl(schema)
    elif schema is None:
        schema = infer_schema(spark, rows)
    to_tuple = _create_converter(schema)
    cols = list(zip(*(schema.toInternal(to_tuple(r)) for r in rows))) \
        or [()] * len(schema.fields)
    table = pa.Table.from_arrays(
        [pa.array([_arrow_value(f.dataType, v) for v in col],
                  type=to_arrow_type(f.dataType))
         for f, col in zip(schema.fields, cols)],
        names=schema.names)
    return spark.createDataFrame(table, schema)


def infer_schema(spark, rows: list) -> T.StructType:
    """The ``StructType`` ``spark.createDataFrame(rows)`` infers."""
    return spark._inferSchemaFromList(rows)


def _arrow_value(dt, v):
    """An internal (``toInternal``) value in the form ``pyarrow.array``
    takes for ``dt``: decimals rounded half-up to the type's scale (as the
    JVM rounds a pickled decimal), maps as key/value pairs."""
    if v is None:
        return None
    if isinstance(dt, T.DecimalType):
        return v.quantize(_DEC_ONE.scaleb(-dt.scale), _dec.ROUND_HALF_UP,
                          _DEC_CTX)
    if isinstance(dt, T.ArrayType):
        return [_arrow_value(dt.elementType, x) for x in v]
    if isinstance(dt, T.MapType):
        return [(_arrow_value(dt.keyType, k), _arrow_value(dt.valueType, x))
                for k, x in v.items()]
    if isinstance(dt, T.StructType):
        return tuple(_arrow_value(f.dataType, x)
                     for f, x in zip(dt.fields, v))
    return v


_DEC_ONE = _dec.Decimal(1)
_DEC_CTX = _dec.Context(prec=_dec.MAX_PREC)


class ClosureValue:
    """A closure stored in a parameter (`LET $f = |$x: kind| -> kind body`):
    the AST plus captured bindings, invoked via `$f(args)` (expr/closure.rs
    — the reference stores the closure AST as a Value too).  Compilation
    happens at the call site (sql/compiler.py "pcall"): the body inlines as
    a column expression with the arguments bound, like fn:: macros."""

    __slots__ = ("names", "kinds", "ret", "body", "captured")

    def __init__(self, names, kinds, ret, body, captured=None):
        self.names = list(names)
        self.kinds = list(kinds) if kinds else [None] * len(self.names)
        self.ret = ret
        self.body = body
        self.captured = dict(captured or {})

    def __repr__(self) -> str:  # surfaced if a closure leaks into output
        return f"<closure({', '.join('$' + n for n in self.names)})>"


_NUM_DT_ORDER = {"tinyint": 0, "smallint": 1, "int": 2, "bigint": 3,
                 "float": 4, "double": 5}


def merge_union_dt(a: str, b: str) -> str | None:
    """Widest dtype for a union-slot mismatch: numeric family widens
    (decimal beats ints, double beats decimal-vs-float), void takes the
    other side, arrays merge element-wise.  None = not mergeable."""
    if a == b:
        return a
    if a == "void":
        return b
    if b == "void":
        return a
    ba, bb = a.split("(", 1)[0], b.split("(", 1)[0]
    if ba in _NUM_DT_ORDER and bb in _NUM_DT_ORDER:
        return a if _NUM_DT_ORDER[ba] >= _NUM_DT_ORDER[bb] else b
    if "decimal" in (ba, bb) and (ba in _NUM_DT_ORDER
                                  or bb in _NUM_DT_ORDER):
        other = ba if bb == "decimal" else bb
        if other in ("float", "double"):
            return "double"
        return a if ba == "decimal" else b
    if a.startswith("array<") and b.startswith("array<") \
            and a.endswith(">") and b.endswith(">"):
        inner = merge_union_dt(a[6:-1], b[6:-1])
        return f"array<{inner}>" if inner else None
    return None


def strip_absent(d):
    """Reference-shaped object from a stored row dict: fields NOT present
    on the record are omitted (types/src/value/mod.rs — objects have no
    entry for NONE; explicit NULL is stored and kept).

    Presence comes from the hidden `__present` column the DML layer writes
    (array of field names provided at CREATE/UPDATE time, including
    explicitly-NULL ones).  Rows without it (legacy/external) fall back to
    "non-null ⇒ present"."""
    if isinstance(d, list):
        return [strip_absent(x) for x in d]
    if not isinstance(d, dict):
        return d
    if set(d) == {"__emptyobj"}:
        return {}  # OMIT `.*` / empty-object marker struct
    if "__present" not in d:
        out = {}
        for k, v in d.items():
            if k.startswith("__k_"):
                continue
            kind = d.get("__k_" + k)
            if kind is not None and isinstance(v, str):
                # kinded-JSON cell carried through a projection without
                # the presence spine (grouped outputs) → decode
                v = decode_kinded_py(v, kind)
            out[k] = strip_absent(v)
        return out
    present = d.get("__present")
    out = {}
    for k, v in d.items():
        if k == "__present" or k.startswith("__k_"):
            continue
        kind = d.get("__k_" + k)
        if kind is not None and isinstance(v, str):
            # kinded-JSON cell (heterogeneous column) → real value
            v = decode_kinded_py(v, kind)
        if v is None and (present is None or k not in present):
            continue
        out[k] = strip_absent(v)
    return out


# -- record-id key ordering (types/src/value/record_id/key.rs Ord) -----------
#
# Array-keyed record ids (`knows:[person:tobie, NONE]`) need VALUE-order
# range scans.  Keys are stored as canonical text; ordering is element-wise
# over the parsed values.  `key_sort_text` maps a key's text to an
# order-preserving string (tag char + order-faithful payload, recursive for
# arrays), so any range filter lowers to plain string comparison — encoded
# distributed via an Arrow-batched pandas UDF, bounds encoded driver-side
# with the same function.  No driver loops; the UDF touches only the id
# column of the scanned table.

_KEYTAG = {  # offset keeps every tag printable and above the terminators
    "none": chr(0x20 + TAG_NONE), "null": chr(0x20 + TAG_NULL),
    "bool": chr(0x20 + TAG_BOOL), "number": chr(0x20 + TAG_NUMBER),
    "string": chr(0x20 + TAG_STRING), "uuid": chr(0x20 + TAG_UUID),
    "array": chr(0x20 + TAG_ARRAY), "object": chr(0x20 + TAG_OBJECT),
    "rid": chr(0x20 + TAG_RECORD_ID),
}
_END = "\x01"  # closes variable-length payloads: prefix sorts first


def _enc_num(x) -> str:
    """Order-preserving hex of a float's IEEE bits (sign-folded)."""
    import struct as _struct

    bits = _struct.unpack(">Q", _struct.pack(">d", float(x)))[0]
    bits = (bits ^ 0xFFFFFFFFFFFFFFFF) if bits >> 63 else (bits | 1 << 63)
    return f"{bits:016x}"


def encode_key_value(v) -> str:
    """Python value → order-preserving string (reference Value Ord)."""
    import re as _re

    if v is None:
        return _KEYTAG["none"]
    if isinstance(v, bool):
        return _KEYTAG["bool"] + ("1" if v else "0")
    if isinstance(v, (int, float)):
        return _KEYTAG["number"] + _enc_num(v)
    if isinstance(v, (list, tuple)):
        return _KEYTAG["array"] + "".join(encode_key_value(x) for x in v) + _END
    if isinstance(v, dict):
        return (_KEYTAG["object"]
                + "".join(k + _END + encode_key_value(v[k]) for k in sorted(v))
                + _END)
    s = str(v)
    m = _re.fullmatch(r"([A-Za-z_][A-Za-z0-9_]*):(.+)", s, _re.S)
    if m:
        return (_KEYTAG["rid"] + m.group(1) + _END
                + key_sort_text(m.group(2)) + _END)
    return _KEYTAG["string"] + s + _END


def key_sort_text(key_text: str) -> str:
    """Record-id KEY text → order-preserving string.  Array/object keys
    parse through the expression grammar (literal-only); bare words and
    anything unparseable order as plain strings."""
    t = key_text.strip()
    if t.startswith("[") or t.startswith("{"):
        try:
            from surrealdb_spark.sql.parser import parse_expr

            return encode_key_value(_key_literal(parse_expr(t)))
        except Exception:
            return _KEYTAG["string"] + t + _END
    if t in ("NONE", "none"):
        return _KEYTAG["none"]
    if t in ("NULL", "null"):
        return _KEYTAG["null"]
    if t in ("true", "false"):
        return _KEYTAG["bool"] + ("1" if t == "true" else "0")
    try:
        return _KEYTAG["number"] + _enc_num(float(t))
    except ValueError:
        pass
    if len(t) >= 2 and t[0] in "'\"" and t[-1] == t[0]:
        t = t[1:-1]
    return _KEYTAG["string"] + t + _END


def _key_literal(ast):
    """Literal-only AST → python value (key grammar subset)."""
    k = ast[0]
    if k in ("lit", "ulit"):
        return ast[1]
    if k == "nulllit":
        return None
    if k == "array":
        return [_key_literal(e) for e in ast[1]]
    if k == "object":
        return {key: _key_literal(v) for key, v in ast[1]}
    if k == "un" and ast[1] == "-":
        return -_key_literal(ast[2])
    raise ValueError(f"not a key literal: {k}")


def key_sort_udf():
    """Arrow-batched `id` → order key for the key part after `tb:`."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _enc(ids):
        return ids.map(
            lambda s: key_sort_text(s.split(":", 1)[1])
            if isinstance(s, str) and ":" in s else None)

    _enc.__annotations__ = {"ids": pd.Series, "return": pd.Series}
    return pandas_udf(_enc, "string")


def _rid_dt(v: "_dt.datetime") -> str:
    """datetime key element → `d'RFC3339Z'` (record_id/key.rs ToSql)."""
    if v.tzinfo is not None:
        v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
    iso = v.isoformat()
    if v.microsecond == 0 and len(iso) > 19:
        iso = iso[:19]
    return f"d'{iso}Z'"


def parse_rid_key(rid: str):
    """Record-id KEY as a Python value: `test:123` → 123, `test:abc` →
    'abc', `t:{ val: 456 }` → {'val': 456}, `t:[1, 2]` → [1, 2]
    (record_id/key.rs RecordIdKey variants)."""
    import re as _re

    key = rid.split(":", 1)[1]
    if key.lstrip("-").isdigit():
        return int(key)
    if _re.fullmatch(r"[A-Za-z_]\w*", key):
        return key
    if key.startswith("⟨") and key.endswith("⟩"):
        return key[1:-1]
    try:
        from surrealdb_spark import pyeval
        from surrealdb_spark.sql.parser import parse_expr

        ast = parse_expr(key)
        if ast[0] in ("object", "array", "lit", "ulit"):
            return pyeval.peval(ast, {})
    except Exception:
        pass
    return key


def render_rid_obj(obj_ast) -> str:
    """Canonical text of an OBJECT record-id key (`t:{ id: 4, r: o:2 }` —
    record_id/key.rs RecordIdKey::Object; BTreeMap ⇒ keys sorted)."""

    def one(e):
        if e[0] == "un" and e[1] == "-":
            return f"-{one(e[2])}"
        if e[0] == "array":
            return "[" + ", ".join(one(x) for x in e[1]) + "]"
        if e[0] == "object":
            return render_rid_obj(e)
        import re as _re

        v = e[1]
        if isinstance(v, bool):
            return "true" if v else "false"
        if isinstance(v, (int, float)):
            return str(v)
        if isinstance(v, _dt.datetime):
            return _rid_dt(v)
        s = str(v)
        if _re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*:.+", s):
            return s
        return f"'{s}'"

    pairs = sorted(obj_ast[1], key=lambda kv: kv[0])
    inner = ", ".join(f"{k}: {one(v)}" for k, v in pairs)
    return "{ " + inner + " }" if inner else "{  }"


def rid_obj_literal(obj_ast) -> bool:
    """Is the object AST a pure literal (renderable as a key)?"""

    def ok(e):
        if e[0] in ("lit", "ulit", "nulllit"):
            return True
        if e[0] == "un" and e[1] == "-":
            return ok(e[2])
        if e[0] == "array":
            return all(ok(x) for x in e[1])
        if e[0] == "object":
            return all(ok(v) for _k, v in e[1])
        return False

    return all(ok(v) for _k, v in obj_ast[1])


def render_rid_key(arr_ast) -> str:
    """Canonical text of an array record-id key (`tb:[1, 'a', b:2]` —
    types/src/value/record_id/key.rs RecordIdKey::Array ToSql): numbers
    bare, record ids bare, strings quoted."""
    import re as _re

    def one(e):
        if e[0] == "un" and e[1] == "-":
            return f"-{one(e[2])}"
        v = e[1]
        if isinstance(v, bool):
            return "true" if v else "false"
        if isinstance(v, (int, float)):
            return str(v)
        if isinstance(v, _dt.datetime):
            return _rid_dt(v)
        s = str(v)
        if _re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*:.+", s):
            return s
        return f"'{s}'"

    return "[" + ", ".join(one(e) for e in arr_ast[1]) + "]"


def render_rid_vals(vals: list) -> str:
    """Canonical `[v, ...]` key text from evaluated Python values."""
    import re as _re

    def one(v):
        if isinstance(v, bool):
            return "true" if v else "false"
        if isinstance(v, (int, float)):
            return str(v)
        if isinstance(v, _dt.datetime):
            return _rid_dt(v)
        s = str(v)
        if _re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*:.+", s):
            return s
        return f"'{s}'"

    return "[" + ", ".join(one(v) for v in vals) + "]"


# -- kinded (heterogeneous) stored columns ------------------------------------
#
# Parquet columns are single-typed; the reference stores Value per cell
# (types/src/value/mod.rs:84-122).  Where a stored column's rows span
# several kinds, the DML layer degrades it to a KINDED pair:
#     <c>       string  — JSON text of the value (to_json-compatible)
#     __k_<c>   string  — per-row SurrealQL kind name ('int', 'array',
#                         'geometry<point>', ...)
# The sidecar also rides along on HOMOGENEOUS columns whose kind is not
# derivable from the Spark dtype (uuid/record/regex/range-as-struct/file/
# table/set/...) so `type::of` answers exactly on stored reads.  Sidecar
# columns are engine-internal like `__present` and never surface in output.

KIND_SIDECAR_PREFIX = "__k_"

# static kinds the Spark dtype canNOT distinguish → stamp at write time
NONDERIVABLE_KINDS = {"uuid", "record", "regex", "table", "set", "file",
                      "range", "function"}


def is_hidden_col(name: str) -> bool:
    """Engine-internal columns excluded from user-facing output."""
    return name == "__present" or name.startswith(KIND_SIDECAR_PREFIX)


def kind_of_dtype(dtype: str) -> str | None:
    """SurrealQL kind name for a Spark dtype where unambiguous
    (types/src/kind.rs names)."""
    d = dtype.strip()
    base = d.split("(", 1)[0]
    if base in ("tinyint", "smallint", "int", "bigint"):
        return "int"
    if base in ("float", "double"):
        return "float"
    if base == "decimal":
        return "decimal"
    if base == "boolean":
        return "bool"
    if base == "string":
        return "string"
    if base in ("timestamp", "timestamp_ntz", "date"):
        return "datetime"
    if base == "binary":
        return "bytes"
    if d.startswith("array"):
        return "array"
    if d.startswith("map"):
        return "object"
    if d.startswith("struct"):
        if "months" in d and "nanos" in d:
            return "duration"
        if "start_incl" in d and "end_incl" in d:
            return "range"
        if "bucket" in d and "key" in d:
            return "file"
        if "coordinates" in d or "geometries" in d:
            return None  # geometry subkind is per-row (type field)
        return "object"
    return None


_GEOM_KIND_NAMES = {
    "point": "point", "linestring": "line", "polygon": "polygon",
    "multipoint": "multipoint", "multilinestring": "multiline",
    "multipolygon": "multipolygon", "geometrycollection": "collection",
}


def kind_col_of_dtype(col: Column, dtype: str) -> Column:
    """Per-row kind-name Column for a natively-typed column (NULL where the
    value is NULL; geometry structs read their `type` field)."""
    d = dtype.strip()
    if d.startswith("struct") and ("coordinates" in d or "geometries" in d) \
            and "type" in d:
        t = F.lower(col.getField("type"))
        name = F.lit(None).cast("string")
        for raw, nm in _GEOM_KIND_NAMES.items():
            name = F.when(t == raw, F.lit(nm)).otherwise(name)
        sub = F.concat(F.lit("geometry<"), name, F.lit(">"))
        return F.when(col.isNotNull() & name.isNotNull(), sub) \
            .when(col.isNotNull(), F.lit("object"))
    k = kind_of_dtype(d)
    if k is None:
        k = "object" if d.startswith("struct") else "string"
    if k == "string":
        # shape refinement: record links and uuids store as plain strings
        s = col.cast("string")
        return (
            F.when(col.isNull(), F.lit(None).cast("string"))
            .when(s.rlike(r"^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}"
                          r"-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$"),
                  F.lit("uuid"))
            .when(s.rlike(r"^[A-Za-z_][A-Za-z0-9_]*:[^\s]+$"),
                  F.lit("record"))
            .otherwise(F.lit("string")))
    return F.when(col.isNotNull(), F.lit(k))


def json_render_col(col: Column, dtype: str) -> Column:
    """JSON text of any column (NULL stays NULL): to_json over a 1-element
    array wrapper, unwrapped — works uniformly for scalars and complex."""
    j = F.to_json(F.array(col))
    body = j.substr(F.lit(2), F.length(j) - F.lit(2))
    return F.when(col.isNull(), F.lit(None).cast("string")).otherwise(body)


def kind_of_py(v, static_kind: str | None = None) -> str | None:
    """Kind name for a driver-side Python value (pyeval reprs)."""
    if static_kind is not None:
        return static_kind
    import datetime as _dtm
    import decimal as _dec

    if v is None:
        return None
    if isinstance(v, bool):
        return "bool"
    if isinstance(v, int):
        return "int"
    if isinstance(v, float):
        return "float"
    if isinstance(v, _dec.Decimal):
        return "decimal"
    if isinstance(v, _dtm.datetime):
        return "datetime"
    if isinstance(v, (bytes, bytearray)):
        return "bytes"
    try:
        from surrealdb_spark.pyeval import SetVal

        if isinstance(v, SetVal):
            return "set"
    except Exception:
        pass
    if isinstance(v, list):
        return "array"
    if isinstance(v, dict):
        if set(v) >= {"months", "nanos"} and len(v) == 2:
            return "duration"
        if "type" in v and ("coordinates" in v or "geometries" in v):
            nm = _GEOM_KIND_NAMES.get(str(v["type"]).lower())
            return f"geometry<{nm}>" if nm else "object"
        if set(v) >= {"start_incl", "end_incl"}:
            return "range"
        return "object"
    if isinstance(v, str):
        import re as _re

        if _re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*:[^\s]+", v):
            return "record"
        return "string"
    try:
        from surrealdb_spark.pyeval import RegexVal

        if isinstance(v, RegexVal):
            return "regex"
    except Exception:
        pass
    return None


def encode_kinded_py(v) -> str | None:
    """JSON text for a driver-side value (datetime → ISO, Decimal → str,
    bytes → base64 — mirrors Spark's to_json renderings)."""
    import base64
    import datetime as _dtm
    import decimal as _dec
    import json as _json

    def default(x):
        if isinstance(x, _dtm.datetime):
            return x.isoformat()
        if isinstance(x, _dec.Decimal):
            return float(x)
        if isinstance(x, (bytes, bytearray)):
            return base64.b64encode(bytes(x)).decode()
        try:
            from surrealdb_spark.pyeval import RegexVal

            if isinstance(x, RegexVal):
                return x.pattern
        except Exception:
            pass
        return str(x)

    if v is None:
        return None
    return _json.dumps(v, default=default)


def decode_kinded_py(txt, kind: str | None):
    """Driver-side decode of a kinded JSON cell back to a pyeval value.
    Falls back to the raw text when the cell isn't JSON (a native string
    column annotated with a sidecar, e.g. uuid/record)."""
    import base64
    import datetime as _dtm
    import decimal as _dec
    import json as _json

    if txt is None:
        return None
    try:
        v = _json.loads(txt)
    except Exception:
        return txt
    if kind == "decimal" and isinstance(v, (int, float, str)):
        return _dec.Decimal(str(v))
    if kind == "datetime" and isinstance(v, str):
        try:
            return _dtm.datetime.fromisoformat(v.replace("Z", "+00:00"))
        except Exception:
            return v
    if kind == "bytes" and isinstance(v, str):
        try:
            return base64.b64decode(v)
        except Exception:
            return v
    if kind == "set" and isinstance(v, list):
        from surrealdb_spark.pyeval import SetVal

        return SetVal(v)
    if kind == "regex" and isinstance(v, str):
        from surrealdb_spark.pyeval import RegexVal

        return RegexVal(v)
    return v
