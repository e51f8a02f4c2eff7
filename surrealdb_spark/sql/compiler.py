"""SELECT compiler: AST → DataFrame plan.

Pipeline order is the reference's authoritative one — source → filter →
split → aggregate → sort → limit → project → fetch
(core/src/exec/planner/select.rs:3-4,1238-1242) — with the aggregate
decomposition of core/src/catalog/aggregation.rs:19-39 / planner/
aggregate.rs: aggregate calls inside field expressions are extracted into
agg() aliases, the surrounding expression becomes a post-projection.

Everything lowers to declarative DataFrame ops; Catalyst then does
pushdown/pruning/top-k (subsuming the reference's index analysis,
SURVEY §4).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from surrealdb_spark.catalog import Catalog
from surrealdb_spark.expr import operators as O
from surrealdb_spark.expr.idiom import compile_idiom
from surrealdb_spark.functions import geometry as GEO
from surrealdb_spark.functions.registry import REGISTRY
from surrealdb_spark.sql.parser import Select, parse_select


def _ast_const(ast):
    """Python value of a constant AST (lit/array/object/neg), else None."""
    if ast[0] == "object":
        out = {}
        for k, v in ast[1]:
            pv = _ast_const(v)
            if pv is None:
                return None
            out[k] = pv
        return out
    if ast[0] == "lit":
        return ast[1]
    if ast[0] == "un" and ast[1] == "-":
        v = _ast_const(ast[2])
        return -v if isinstance(v, (int, float)) else None
    if ast[0] == "array":
        out = []
        for e in ast[1]:
            v = _ast_const(e)
            if v is None:
                return None
            out.append(v)
        return out
    return None


_GEOJSON_KINDS = {
    "point", "linestring", "line", "polygon", "multipoint",
    "multilinestring", "multiline", "multipolygon",
}


def _geom_literal_kind(ast):
    """(kind, coords) when an object literal is GeoJSON-shaped
    ({type: "...", coordinates: [...]}); the reference auto-converts such
    objects to Geometry values (types/src/value/geometry.rs)."""
    pairs = dict(ast[1])
    if set(pairs) == {"type", "geometries"}:
        tk = pairs["type"]
        if tk[0] == "lit" and str(tk[1]).lower() == "geometrycollection":
            return tk[1], None  # member kinds resolve at compile
        return None
    if set(pairs) != {"type", "coordinates"}:
        return None
    tk = pairs["type"]
    if tk[0] != "lit" or not isinstance(tk[1], str):
        return None
    if tk[1].lower() not in _GEOJSON_KINDS:
        return None
    coords = _ast_const(pairs["coordinates"])
    if coords is None:
        return None
    return tk[1], coords

# Aggregate functions recognized in SELECT context
# (core/src/exec/function/builtin/aggregates.rs:26-48).
# count(expr) counts TRUTHY values (CountFieldAccumulator, exec/function/
# builtin/aggregates/count.rs) — handled specially in _decompose, which
# knows the argument's inferred type; this entry is the zero-arg form.
_AGGREGATES = {
    "count": lambda args: F.count(F.lit(1)) if not args else F.count(args[0]),
    # sum of an empty/all-absent group is 0, not NULL (aggregates/math.rs
    # MathSum starts at Number::Int(0))
    "math::sum": lambda args: F.coalesce(F.sum(args[0]), F.lit(0)),
    # mean of an empty/all-absent group is NaN, not NULL (aggregates/
    # math.rs MeanAccumulator::finalize: count==0 → f64::NAN)
    "math::mean": lambda args: F.coalesce(
        F.avg(args[0]), F.lit(float("nan"))),
    "math::min": lambda args: F.min(args[0]),
    "math::max": lambda args: F.max(args[0]),
    # sample stddev/variance of a single value is 0 in the reference
    # (fnc/math.rs deviation/variance), not NULL like stddev_samp
    "math::stddev": lambda args: F.coalesce(
        F.stddev_samp(args[0]),
        F.when(F.count(args[0]) > 0, F.lit(0.0))),
    "math::variance": lambda args: F.coalesce(
        F.var_samp(args[0]),
        F.when(F.count(args[0]) > 0, F.lit(0.0))),
    "math::median": lambda args: F.median(args[0]),
    "time::min": lambda args: F.min(args[0]),
    "time::max": lambda args: F.max(args[0]),
    # plain ordered collect — duplicates kept, arrays NOT flattened
    # (exec/function/builtin/aggregates/array.rs ArrayGroupAccumulator
    # pushes each value as-is)
    "array::group": lambda args: _ocollect(args[0]),
    "array::distinct": lambda args: F.array_distinct(_ocollect(args[0])),
    "array::join": lambda args: F.array_join(
        F.transform(_ocollect(args[0]), lambda x: x.cast("string")),
        args[1] if len(args) > 1 and isinstance(args[1], str) else ", "),
}


def _ocollect(c):
    """collect_list ordered by record id — grouped array aggregates read
    record order in the reference (aggregates collect in scan order over
    the ordered KV store); Spark's collect_list is partition-ordered, so
    pin it."""
    key = F.substring_index(F.col("id").cast("string"), ":", -1)
    # numeric record keys order numerically BEFORE string keys
    # (record_id/key.rs Ord); string keys get the max sentinel and
    # tie-break on the full id text
    kn = F.coalesce(key.try_cast("bigint"),
                    F.lit(9223372036854775807).cast("bigint"))
    pairs = F.collect_list(F.struct(
        kn.alias("kn"), F.col("id").cast("string").alias("k"), c.alias("v")))
    return F.transform(F.array_sort(pairs), lambda s: s.getField("v"))

# Registry builders whose N-th parameter must be a Python literal (regex
# patterns, separators, sizes) rather than a Column.
_RAW_LITERAL_ARGS: dict[str, tuple[int, ...]] = {
    "array::join": (1,), "array::at": (1,), "array::slice": (1, 2),
    "array::repeat": (1,), "array::clump": (1,), "array::windows": (1,),
    "array::insert": (2,), "array::remove": (1,), "array::range": (0, 1),
    "array::sequence": (0, 1), "array::swap": (1, 2), "array::sort": (1,),
    "array::fill": (2, 3), "array::sort_lexical": (1,),
    "array::sort_natural": (1,), "array::sort_natural_lexical": (1,),
    "set::at": (1,), "set::slice": (1, 2), "set::join": (1,),
    "string::split": (1,), "string::repeat": (1,), "string::slice": (1, 2),
    "string::matches": (1,), "string::join": (0,),
    "math::round": (1,), "math::fixed": (1,), "math::percentile": (1,),
    "math::nearestrank": (1,), "math::top": (1,), "math::bottom": (1,),
    "math::log": (1,),
    "time::format": (1,), "time::floor": (1,), "time::ceil": (1,),
    "time::round": (1,), "time::group": (1,),
    "encoding::json::decode": (0, 1),
    "vector::distance::minkowski": (2,),
    "geo::hash::encode": (1,),
    "search::analyze": (0, 1), "sequence::nextval": (0,),
    "rand::id": (0,), "schema::table::exists": (0,),
    "rand::time": (0, 1), "rand::duration": (0, 1),
    # file:: I/O runs driver-side on pointer strings (pipeline/filebucket)
    **{f"file::{f}": (0, 1) for f in (
        "put", "put_if_not_exists", "get", "head", "exists", "delete",
        "copy", "copy_if_not_exists", "rename", "rename_if_not_exists",
        "list")},
}

_BINOPS = {
    "+": lambda a, b: a + b,
    "-": lambda a, b: a - b,
    "*": lambda a, b: a * b,
    "/": lambda a, b: a / b,
    "%": lambda a, b: a % b,
    "**": lambda a, b: F.pow(a, b),
    # `=` and `!=` are null-safe in SurrealQL: NONE = NONE is true
    # (language-tests equal/nullish.surql; expr/operate.rs equality).
    "=": lambda a, b: a.eqNullSafe(b),
    "==": lambda a, b: a.eqNullSafe(b),
    "!=": lambda a, b: ~a.eqNullSafe(b),
    "<": lambda a, b: a < b,
    "<=": lambda a, b: a <= b,
    ">": lambda a, b: a > b,
    ">=": lambda a, b: a >= b,
    "AND": lambda a, b: a & b,
    "&&": lambda a, b: a & b,
    "OR": lambda a, b: a | b,
    "||": lambda a, b: a | b,
    "??": O.nco,
    "?:": O.tco,
    "IN": O.inside,
    "INSIDE": O.inside,
    "NOTINSIDE": O.not_inside,
    "CONTAINS": O.contains,
    "CONTAINSNOT": O.contains_not,
    "CONTAINSALL": O.contains_all,
    "CONTAINSANY": O.contains_any,
    "CONTAINSNONE": O.contains_none,
    "ALLINSIDE": O.all_inside,
    "ANYINSIDE": O.any_inside,
    "NONEINSIDE": O.none_inside,
    "*=": O.all_eq,
    "?=": O.any_eq,
    "..": lambda a, b: O.range_struct(a, b, True, False),
    "..=": lambda a, b: O.range_struct(a, b, True, True),
    ">..": lambda a, b: O.range_struct(a, b, False, False),
    ">..=": lambda a, b: O.range_struct(a, b, False, True),
    "..=": lambda a, b: O.range_struct(a, b, True, True),
    "@@": O.matches,
    "OUTSIDE": GEO.outside,
    "INTERSECTS": GEO.intersects,
}

# `@N@` match-reference operators behave like `@@` outside the runner's
# analyzer-aware rewrite (statements._rewrite_search)
for _n_ in range(10):
    _BINOPS[f"@{_n_}@"] = O.matches


def _type_cat(simple: str) -> str | None:
    """Spark simpleString dtype → coarse SurrealQL Number/value category."""
    if simple in ("tinyint", "smallint", "int", "bigint", "long"):
        return "int"
    if simple in ("float", "double"):
        return "float"
    if simple.startswith("decimal"):
        return "decimal"
    if simple == "boolean":
        return "bool"
    if simple == "string":
        return "string"
    if simple.startswith("array"):
        return "array"
    if simple in ("timestamp", "timestamp_ntz", "date"):
        return "datetime"
    if simple == "binary":
        return "bytes"
    if simple.startswith("struct<kind:string,polys:array"):
        return "geometry"  # tagged geometry struct (functions/geometry.py)
    if simple.startswith(("struct", "map")):
        return "object"
    return None


from surrealdb_spark.values import local_frame
from surrealdb_spark.values import merge_union_dt as _union_merge_dt


def types_of(df: DataFrame) -> dict[str, str]:
    """Column name → coarse type category, for static operator dispatch."""
    out = {}
    simple = {}
    for f_ in df.schema.fields:
        s = f_.dataType.simpleString()
        simple[f_.name] = s
        cat = _type_cat(s)
        if cat:
            out[f_.name] = cat
    # exact Spark dtypes, for per-row kind derivation (type::of on stored
    # rows); keyed under a name no column can have
    out["__simple__"] = simple
    return out


_RANGE_OPS = ("..", "..=", ">..", ">..=")


_TO_KINDS = {
    "to_array": "array", "to_bool": "bool", "to_bytes": "bytes",
    "to_datetime": "datetime", "to_decimal": "decimal",
    "to_duration": "duration", "to_float": "float", "to_geometry": "geometry",
    "to_int": "int", "to_number": "number", "to_point": "point",
    "to_range": "range", "to_record": "record", "to_set": "set",
    "to_string": "string", "to_string_lossy": "string", "to_uuid": "uuid",
}

_METHOD_NS = {"string": "string", "array": "array", "object": "object",
              "duration": "duration", "datetime": "time", "int": "math",
              "float": "math", "decimal": "math"}


def _resolve_method(ast, types, params):
    """`value.fn(args)` method syntax → a namespaced call AST.

    The reference dispatches on the receiver's runtime type (fnc/mod.rs
    idiom(), per-type dispatch! tables plus generic type_of / is_* / to_*);
    here the receiver's static type picks the namespace, falling back to
    the first namespace that registers the name."""
    _, mname, recv, margs = ast
    if mname == "type_of":
        return ("call", "type::of", [recv])
    if mname in ("id", "tb") and not margs:
        # record-id methods: rid.id() → key, rid.tb() → table
        # (fnc/record.rs; idiom/recordid.surql)
        return ("call", f"record::{mname}", [recv])
    if mname.startswith("is_"):
        from surrealdb_spark.functions.registry import REGISTRY as _REG

        if f"type::{mname}" in _REG or mname in (
                "is_none", "is_null"):
            return ("call", f"type::{mname}", [recv])
        # not a type check: fall through to namespace dispatch
        # (record::is_edge, string::is::*, set::is_empty, ...)
    if mname in _TO_KINDS:
        k = _TO_KINDS[mname]
        if k == "set":
            return ("cast", ("set", []), recv)
        if k in ("array", "bytes", "range", "geometry", "point",
                 "number", "record", "uuid", "duration", "datetime"):
            return ("call", f"type::{k}", [recv])
        return ("cast", (k, []), recv)
    from surrealdb_spark.functions.registry import REGISTRY

    if ((recv[0] == "lit" and isinstance(recv[1], str)
         and recv[1].startswith("file:/"))
        or (recv[0] == "param" and isinstance(
            (params or {}).get(recv[1]), str)
            and params[recv[1]].startswith("file:/"))) \
            and f"file::{mname}" in REGISTRY:
        # file-pointer receivers dispatch file:: (fnc/file.rs), not
        # record:: — `f"bkt:/key"` matches the record-id shape otherwise
        return ("call", f"file::{mname}", [recv] + list(margs))
    cat = _infer(recv, types, params)
    if isinstance(recv, tuple) and (
            recv[0] == "setlit"
            or (recv[0] == "call" and recv[1] == "type::set")
            or (recv[0] == "param" and type(
                (params or {}).get(recv[1])).__name__ == "SetVal")):
        # set receivers dispatch to the set:: namespace first (val/set.rs)
        if f"set::{mname}" in REGISTRY:
            return ("call", f"set::{mname}", [recv] + list(margs))
    order = [
        _METHOD_NS[cat]
    ] if cat in _METHOD_NS else ["string", "array", "math", "time", "object",
                                 "duration", "parse", "vector", "geo",
                                 "encoding", "type"]
    for ns in order:
        if f"{ns}::{mname}" in REGISTRY:
            return ("call", f"{ns}::{mname}", [recv] + list(margs))
    # last resort: any registered namespace carrying this function name
    for full in REGISTRY:
        if full.endswith(f"::{mname}"):
            return ("call", full, [recv] + list(margs))
    raise ValueError(f"no such method {mname!r}")


def _compile_cast(kind_spec, operand, params, types) -> Column:
    """`<kind> expr` cast (expr/cast.rs; types/src/kind.rs coercions)."""
    name, args = kind_spec
    if name in ("litobj", "litarr"):
        # literal-kind casts validate driver-side (pyeval._cast)
        raise ValueError("literal kind casts evaluate driver-side")
    if name == "union":
        return _compile_union_cast(args, operand, params, types)
    if name == "lit":
        # literal kind `<123>` / `<"a">` / `<true>`: value must match
        if operand[0] == "lit" and operand[1] == args:
            return compile_expr(operand, params, types)
        raise ValueError(f"cannot coerce to literal kind {args!r}")
    # `<array> a..b` / `<array<T>> a..b` — range expansion (range_to_array
    # casts; value/range.rs). `>..` variants exclude the start.
    if name in ("array", "set") and operand[0] == "bin" and operand[1] in _RANGE_OPS:
        lo = compile_expr(operand[2], params, types).cast("bigint")
        hi = compile_expr(operand[3], params, types).cast("bigint")
        if operand[1].startswith(">"):
            lo = lo + 1
        seq = F.sequence(lo, hi if operand[1].endswith("=") else hi - 1)
        if args:
            seq = F.transform(seq, lambda x: _cast_scalar(x, args[0][0]))
        return F.array_distinct(seq) if name == "set" else seq
    if name == "geometry" and args:
        # `<geometry<point>>` behaves like `<point>`; a bare coordinate
        # array can't cast to the other geometry kinds (cast.rs)
        g = args[0][0].lower()
        if g == "point":
            return _compile_cast(("point", []), operand, params, types)
        if _infer(operand, types, params) == "array":
            raise ValueError(f"cannot cast array to geometry<{g}>")
    # static strictness (cast.rs errors): scalars don't cast to containers /
    # temporal / identity kinds
    src = _infer(operand, types, params)
    if name == "regex":
        if src == "regex":
            return compile_expr(operand, params, types)
        if src == "string":
            return F.struct(
                compile_expr(operand, params, types).alias("regex"))
        raise ValueError(f"Could not cast into `regex` using input ({src})")
    _SCALARS = ("int", "float", "decimal", "bool")
    if name in ("object", "duration", "point", "uuid", "record", "geometry",
                "function", "range", "bytes") and src in _SCALARS + ("string",) \
            and not (name in ("record", "uuid", "duration", "bytes") and src == "string"):
        raise ValueError(f"cannot cast {src} to {name}")
    if name in ("array", "set") and src in _SCALARS + ("string",):
        raise ValueError(f"cannot cast {src} to {name}")
    if name == "datetime" and src in _SCALARS:
        raise ValueError(f"cannot cast {src} to datetime")
    c = compile_expr(operand, params, types)
    if name in ("table", "record") and args:
        # `<table<a | b>>` / `<record<a | b>>`: the value's table must be
        # one of the named tables (types/src/kind/mod.rs coerce — cast.rs
        # errors otherwise)
        def _names(ms):
            out = []
            for m in ms:
                out.extend(_names(m[1]) if m[0] == "union" else [m[0]])
            return out

        allowed = _names(args)
        subj = (F.split(c.cast("string"), ":", 2).getItem(0)
                if name == "record" else c.cast("string"))
        chk = F.assert_true(
            subj.isin(allowed),
            F.lit(f"Expected `{name}<{' | '.join(allowed)}>` but the "
                  "value's table is not in the set"))
        c = F.when(chk.isNull(), c)
    if name == "string":
        if operand == ("lit", None):
            return F.lit("NONE")  # <string> none (val/value/cast.rs)
        if operand[0] == "nulllit":
            return F.lit("NULL")
        if _infer(operand, types, params) == "decimal":
            # decimal→string prints the mathematical value, not the padded
            # scale ('1', not '1.0000000000')
            s = c.cast("string")
            s = F.regexp_replace(s, r"(\.\d*?)0+$", r"$1")
            return F.regexp_replace(s, r"\.$", "")
        return c.cast("string")
    if name == "option":
        return _compile_cast(args[0], operand, params, types) if args else c
    if name in ("array", "set"):
        out = c
        if args:
            out = F.transform(out, lambda x: _cast_scalar(x, args[0][0]))
        # sets are BTree-ordered in the reference (val/set.rs) — sorted here
        out = F.array_sort(F.array_distinct(out)) if name == "set" else out
        if len(args) > 1 and args[1][0] == "lit":
            # sized kind `<array<int, 3>>`: length must match exactly
            # (types/src/kind.rs Kind::Array(_, Some(n)) coercion)
            n = int(args[1][1])
            chk = F.assert_true(
                F.size(out) == F.lit(n),
                F.lit(f"Expected `{name}<{args[0][0]}, {n}>` but the "
                      f"value's length is not {n}"))
            out = F.when(chk.isNull(), out)
        return out
    return _cast_scalar(c, name)


def _compile_union_cast(members, operand, params, types) -> Column:
    """`<A | B> v` — first member the operand statically satisfies wins."""
    src = _infer(operand, types, params)
    for m in members:
        if m[0] == "lit":
            if operand[0] == "lit" and operand[1] == m[1]:
                return compile_expr(operand, params, types)
        elif m[0] in ("int", "float", "decimal", "number") and src in (
            "int", "float", "decimal"
        ):
            return _compile_cast(m, operand, params, types)
        elif m[0] == "string" and src == "string":
            return compile_expr(operand, params, types)
        elif m[0] == "bool" and src == "bool":
            return compile_expr(operand, params, types)
    # no static match: fall back to the first non-literal member's cast
    for m in members:
        if m[0] != "lit":
            return _compile_cast(m, operand, params, types)
    raise ValueError("no union member matches operand")


def _cast_scalar(c: Column, name: str) -> Column:
    _SIMPLE = {
        "int": "bigint",
        "float": "double",
        "decimal": "decimal(38,10)",
        "bool": "boolean",
        "datetime": "timestamp",
    }
    if name in _SIMPLE:
        return c.cast(_SIMPLE[name])
    if name == "string":
        return c.cast("string")
    if name == "bytes":
        # string → UTF-8 bytes (cast.rs String→Bytes = into_bytes)
        return c.cast("binary")
    if name == "point":
        # <point>[lon, lat] — array (possibly of key-text strings) → the
        # geometry point struct (cast.rs Array→Point)
        return GEO.point(F.element_at(c, 1).cast("double"),
                         F.element_at(c, 2).cast("double"))
    # number / any / record / uuid / object / geometry / duration: identity
    # (number keeps the runtime variant; record ids are strings here)
    return c


def _infer(ast, types: dict[str, str], params: dict) -> str | None:
    """Best-effort static type of an expression AST (None = unknown).

    The reference evaluates dynamically (operate.rs dispatches on runtime
    Number variants); Spark columns are statically typed, so `/` truncation,
    `?:` truthiness, and count(expr) truthiness dispatch here instead.
    """
    kind = ast[0]
    if kind == "lit":
        v = ast[1]
        if isinstance(v, bool):
            return "bool"
        if isinstance(v, int):
            return "int"
        if isinstance(v, float):
            return "float"
        if isinstance(v, str):
            return "string"
        if isinstance(v, list):
            return "array"
        import decimal as _d

        if isinstance(v, _d.Decimal):
            return "decimal"
        import datetime as _dtm

        if isinstance(v, _dtm.datetime):
            return "datetime"
        return None
    if kind == "ulit":
        return "string"
    if kind == "dur":
        return "duration"
    if kind == "call" and (
        ast[1].startswith("duration::from") or ast[1] == "type::duration"
    ):
        return "duration"
    if kind == "array":
        return "array"
    if kind == "object":
        return "object"
    if kind == "block1":  # `{ expr }` value block
        return _infer(ast[1], types, params)
    if kind == "setlit":
        return "array"
    if kind == "regex":
        return "regex"
    if kind == "cast":
        n = ast[1][0]
        return {"int": "int", "float": "float", "decimal": "decimal",
                "string": "string", "bool": "bool", "array": "array",
                "set": "array", "regex": "regex"}.get(n)
    if kind == "ident":
        return types.get(ast[1])
    if kind == "param":
        th = params.get(f"__type:{ast[1]}")
        if th:
            # declared param type hint (DEFINE FUNCTION typed params)
            return th
        v = params.get(ast[1])
        if isinstance(v, bool):
            return "bool"
        if isinstance(v, int):
            return "int"
        if isinstance(v, float):
            return "float"
        if isinstance(v, str):
            return "string"
        if isinstance(v, (list, tuple)):
            return "array"
        return None
    if kind == "un":
        if ast[1] == "!":
            return "bool"
        return _infer(ast[2], types, params)
    if kind == "geom_point":
        return "geometry"
    if kind == "object" and _geom_literal_kind(ast) is not None:
        return "geometry"
    if kind == "bin":
        op = ast[1]
        if op in ("=", "==", "!=", "<", "<=", ">", ">=", "AND", "&&", "OR", "||",
                  "IN", "INSIDE", "NOTINSIDE", "CONTAINS", "CONTAINSNOT",
                  "CONTAINSALL", "CONTAINSANY", "CONTAINSNONE", "ALLINSIDE",
                  "ANYINSIDE", "NONEINSIDE", "*=", "?=", "OUTSIDE", "INTERSECTS"):
            return "bool"
        lt = _infer(ast[2], types, params)
        rt = _infer(ast[3], types, params)
        if op in ("+", "-", "*", "%"):
            if lt == "int" and rt == "int":
                return "int"
            if "decimal" in (lt, rt):
                return "decimal"
            if lt in ("int", "float") and rt in ("int", "float"):
                return "float"
            if op == "+" and lt == "string" and rt == "string":
                return "string"
            return None
        if op == "/":
            if lt == "int" and rt == "int":
                return "int"  # truncating division (number.rs:823-825)
            return "float" if lt in ("int", "float") and rt in ("int", "float") else None
        if op == "**":
            return "float"
        if op in ("??", "?:"):
            return lt or rt
    return None


def _truthy_col(col: Column, cat: str | None) -> Column:
    """SurrealQL truthiness predicate for a typed column (Value::is_truthy:
    non-false, non-zero, non-empty, non-null)."""
    if cat == "bool":
        return F.coalesce(col, F.lit(False))
    if cat == "regex":
        # regex values are always falsy (primitive/regex/truthiness.surql)
        return F.lit(False)
    if cat in ("int", "float", "decimal"):
        return O.truthy_number(col)
    if cat == "string":
        return O.truthy_string(col)
    if cat == "array":
        return O.truthy_array(col)
    # unknown static type: branch on the runtime Spark type (constant per
    # column, so Catalyst folds to the one live branch). The false/0
    # mapping only applies to genuinely boolean/numeric columns; string
    # columns follow Value::is_truthy (val/mod.rs:152) — any non-empty
    # string, including "false"/"0", is truthy.
    t = F.call_function("typeof", col)
    s = col.cast("string")
    falsy = (
        F.when(t == "boolean", s == "false")
        .when(
            t.isin("tinyint", "smallint", "int", "bigint", "float",
                   "double") | t.startswith("decimal"),
            F.coalesce(s.try_cast("double") == 0, F.lit(False)),
        )
        .when(t == "string", s == "")
        .when(t.startswith("struct<months:"),
              # durations: zero-length is falsy (val/mod.rs:146);
              # struct→string casts print "{0, 0}"
              s == "{0, 0}")
        .otherwise(s.isin("[]", "{}"))
    )
    return col.isNotNull() & ~F.coalesce(falsy, F.lit(False))


def _presence_col(e, types: dict) -> Column | None:
    """Per-row field PRESENCE for a stored-table column (None ≠ Null,
    types/src/value/mod.rs:84-144): a boolean Column that is true when the
    field was explicitly set on the record (possibly to NULL), false when
    absent (NONE).  Presence comes from the hidden ``__present`` array the
    DML layer maintains; legacy rows without it fall back to non-nullness.
    Returns None when presence can't be decided statically (not a plain
    stored column, or the frame carries no presence spine)."""
    if "__present" not in types:
        return None
    if not (isinstance(e, tuple) and e[0] == "ident"):
        return None
    name = e[1]
    if name == "id" or name == "__present":
        return None
    if name not in types:
        # unknown/void-typed column: no static presence decision (types_of
        # skips null-typed columns — e.g. COMPUTED NULL fields)
        return None
    return F.when(
        F.col("__present").isNotNull(),
        F.coalesce(F.array_contains(F.col("__present"), F.lit(name)),
                   F.lit(False)),
    ).otherwise(F.col(name).isNotNull())


def compile_expr(ast, params: dict | None = None, types: dict | None = None) -> Column:
    """Expression AST → Column (no aggregate handling — see _decompose)."""
    params = params or {}
    types = types or {}
    kind = ast[0]
    if kind == "lit":
        # SurrealQL integers are i64 (Number::Int) — keep literals BIGINT so
        # HOF accumulators and arithmetic don't downcast to INT.
        if isinstance(ast[1], int) and not isinstance(ast[1], bool):
            return F.lit(ast[1]).cast("bigint")
        return F.lit(ast[1])
    if kind == "nulllit":
        return F.lit(None)
    if kind == "regex":
        # `/pattern/` → tagged single-field struct (Value::Regex)
        return F.struct(F.lit(ast[1]).alias("regex"))
    if kind == "curr":
        # `@` / leading lookup receiver: the current record id
        # (syn Param::this shorthand; exec CurrentValueSource)
        return F.col("id")
    if kind == "ridexpr":
        # array-keyed record id with computed elements (`i:[$n - 5]`) —
        # canonical `tb:[v, ...]` string (record_id/key.rs Array)
        tb, arr = ast[1], ast[2]
        elems = [compile_expr(e, params, types).cast("string")
                 for e in arr[1]]
        return F.concat(F.lit(tb + ":["),
                        F.concat_ws(", ", *elems), F.lit("]"))
    if kind == "ulit":
        return F.lit(ast[1])
    if kind == "pval":
        # plan-time-bound Python value (explain._subst_params)
        return _py_lit(ast[1])
    if kind == "param":
        name = ast[1]
        if name not in params:
            if name in ("parent", "this", "self"):
                # $parent/$this/$self inside projections / idiom filters:
                # the enclosing row (exec CurrentValueSource bindings)
                return F.struct("*")
            if name == "session":
                # builtin $session object (fnc/session.rs; the reference
                # binds it from the live connection)
                from surrealdb_spark.functions.extra_fns import (
                    SessionContext as _SC)

                return F.struct(
                    *[F.lit(_SC.get(k)).cast("string").alias(k)
                      for k in ("ns", "db", "id", "ip", "ac", "rd")])
            raise KeyError(f"unbound parameter ${name}")
        v = params[name]
        if isinstance(v, Column):
            return v
        if isinstance(v, dict):
            # record/object bindings (LET $r = (CREATE ...)[0]) → struct
            return F.struct(*[F.lit(x).alias(k) for k, x in v.items()])
        return F.lit(v)
    if kind == "ident":
        from surrealdb_spark.functions.math_fns import CONSTANTS

        if ast[1].lower().startswith("math::") and ast[1][6:].upper() in CONSTANTS:
            return F.lit(CONSTANTS[ast[1][6:].upper()])
        if ast[1].lower() in ("time::epoch", "time::min", "time::max"):
            # TimeEpoch/TimeMin/TimeMax (constant.rs:29-31)
            import datetime as _dt

            v = {
                "time::epoch": _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc),
                "time::min": _dt.datetime(1, 1, 1, tzinfo=_dt.timezone.utc),
                "time::max": _dt.datetime(9999, 12, 31, 23, 59, 59, tzinfo=_dt.timezone.utc),
            }[ast[1].lower()]
            return F.lit(v)
        if ast[1].lower() == "duration::max":
            # DurationMax (constant.rs:32) — int64-nanos ceiling here
            # (the reference's u64-seconds MAX exceeds Spark's long)
            from surrealdb_spark.values import duration as _mkd

            return _mkd(0, 2 ** 63 - 1)
        if types and ast[1] not in types and "." not in ast[1]:
            # a field no row carries is NONE (doc field read of an absent
            # key) — types mirrors the frame's column set when provided
            return F.lit(None)
        return F.col(ast[1])
    if kind == "all":
        raise ValueError("* only valid as a projection")
    if kind == "array":
        return F.array(*[compile_expr(e, params, types) for e in ast[1]])
    if kind == "dur":
        # duration literal → struct{months, nanos} (values.py; y = 365 d so
        # months stays 0, matching val/duration.rs)
        from surrealdb_spark.values import duration as _mk_dur

        return _mk_dur(0, ast[1])
    if kind == "block1":
        # `{ expr }` — a value block returning its trailing expression
        # (expr/block.rs); sets need an explicit comma (`{1,}`)
        return compile_expr(ast[1], params, types)
    if kind == "setlit":
        # {1,2} set literal → sorted deduplicated array (types/kind.rs
        # Literal; sets are BTreeSet-ordered, val/set.rs)
        if not ast[1]:
            return F.array()
        return F.array_sort(
            F.array_distinct(F.array(*[compile_expr(e, params, types) for e in ast[1]]))
        )
    if kind == "cast":
        return _compile_cast(ast[1], ast[2], params, types)
    if kind == "object":
        gk = _geom_literal_kind(ast)
        if gk is not None:
            # GeoJSON-shaped object literal → geometry value (the reference
            # auto-detects {type, coordinates} objects; expr/geometry.rs)
            kind_name, coords = gk
            if coords is None:  # GeometryCollection: members array
                members = _ast_const(dict(ast[1])["geometries"])
                if members is not None:
                    return GEO.collection_from_geojson(members)
            else:
                return GEO.from_coords(kind_name, coords)
        # object literal → struct (expr/object.rs; typed-engine mapping)
        return F.struct(
            *[compile_expr(v, params, types).alias(k) for k, v in ast[1]]
        )
    if kind == "geom_point":
        # `(lon, lat)` point literal (syn/parser: geometry point shorthand)
        return GEO.point(
            compile_expr(ast[1], params, types), compile_expr(ast[2], params, types)
        )
    if kind == "path":
        if (ast[1][0] == "param" and ast[1][1] in params
                and not isinstance(params[ast[1][1]], Column)
                and isinstance(params[ast[1][1]], (dict, list))
                and all(isinstance(p, tuple)
                        and p[0] in ("field", "index", "optional", "all")
                        for p in ast[2])):
            # `$obj.field` over a driver-bound object/array: fold to the
            # extracted value so it stays a pushable literal — Catalyst
            # pushes `col = lit` to the index/scan, a struct getField
            # wouldn't (planner/param_value_index.surql)
            from surrealdb_spark import pyeval

            got = pyeval._walk_path(params[ast[1][1]], ast[2], params)
            return _py_lit(got)
        if (ast[1][0] in ("lit", "ulit") and isinstance(ast[1][1], str)
                and ":" in str(ast[1][1])
                and not str(ast[1][1]).startswith("file:")
                and ast[2] and all(
                    isinstance(p2, tuple)
                    and p2[0] in ("field", "index", "optional")
                    for p2 in ast[2])):
            # record-id LITERAL receiver inside a compiled expression
            # (`geo::distance(location:[..].point, ...)`): driver-side
            # point read + idiom walk, re-lit as a constant column
            # (value/idiom.rs over Thing values — OLTP point access)
            from surrealdb_spark import pyeval

            try:
                got = pyeval._walk_path(str(ast[1][1]), list(ast[2]),
                                        params or {})
                return _py_lit(got)
            except Exception:
                pass
        id_key_base = (
            ast[1] == ("ident", "id")
            or (ast[1][0] == "method" and ast[1][1] == "id"
                and ast[1][2] == ("ident", "id") and not ast[1][3])
            or (ast[1][0] == "call" and ast[1][1] == "record::id"
                and ast[1][2] == [("ident", "id")]))
        if (id_key_base and types and types.get("id") == "string"
                and ast[2] and isinstance(ast[2][0], tuple)
                and ast[2][0][0] in ("index", "field")
                and all(isinstance(p, tuple)
                        and p[0] in ("index", "field") for p in ast[2])):
            # `id[n]` / `id.f` / `id.id().f` over a stored record id: ids
            # are canonical `tb:[...]` / `tb:{ k: v }` strings, so key
            # element/field access parses the key TEXT (record_id/
            # key.rs:20-33) — pure column expressions, pushdown-friendly.
            # `id.f` with a plain key means record-deref .f ≡ the row's
            # own column f (id points at this row).
            if ast[1] == ("ident", "id") and ast[2][0][0] == "field" \
                    and ast[2][0][1] in types:
                return compile_expr(
                    ("path", ("ident", ast[2][0][1]), list(ast[2][1:])),
                    params, types)
            cur = F.expr("substring(id, instr(id, ':') + 1)")
            for p in ast[2]:
                if p[0] == "index":
                    inner = F.when(
                        cur.startswith("["),
                        F.regexp_replace(cur, r"^\[|\]$", ""))
                    cur = F.element_at(F.split(inner, ", "), int(p[1]) + 1)
                else:
                    got = F.trim(F.regexp_extract(
                        cur, r"[{,] ?" + p[1] + r": ([^,}]+)", 1))
                    cur = F.when(got != "", F.regexp_replace(
                        got, r"^'(.*)'$", r"$1"))
            return cur
        base = compile_expr(ast[1], params, types)
        parts = []
        for p in ast[2]:
            if p[0] == "where":
                parts.append(("where", (lambda cond: lambda el:
                              _compile_lambda(cond, el, params))(p[1])))
            elif p[0] == "slice":
                if parts and parts[-1] == ("all",):
                    # slice PER ELEMENT after `.*` (idiom continuity,
                    # idiom/array_range.surql `.*[0..1]`) — the driver
                    # evaluator carries the mapped context
                    raise ValueError("slice under .* needs driver eval")
                # arr[lo..hi] — range index lowers to array slicing, then
                # the remaining path continues over the sliced array
                rng = p[1]
                lo = rng[2][1] if rng[2] is not None else 0
                hi = rng[3][1] if rng[3] is not None else None
                if rng[1].startswith(">"):
                    lo += 1
                incl = rng[1].endswith("=")
                from surrealdb_spark.functions import array as _A

                base = _A.slice_(
                    compile_idiom(base, parts), lo,
                    None if hi is None else (hi + 1 if incl else hi))
                parts = []
            elif p[0] == "iexpr":
                # dynamic index: arr[$i] / arr[expr]; string keys are
                # field picks — obj['en'] ≡ obj.en (value/idiom.rs)
                ik = p[1]
                if ik[0] == "param" and isinstance(
                        params.get(ik[1]), str):
                    ik = ("lit", params[ik[1]])
                if ik[0] == "lit" and isinstance(ik[1], str):
                    parts.append(("field", ik[1]))
                else:
                    bt = (types.get("__simple__", {}).get(ast[1][1], "")
                          if isinstance(ast[1], tuple)
                          and ast[1][0] == "ident" and not parts else "")
                    if bt.startswith("struct<") \
                            and _infer(ik, types, params) == "string":
                        # obj[field] — a string-valued key picks the
                        # struct field dynamically (value/idiom.rs object
                        # index): chained whens over the known fields
                        parts.append((
                            "field_col",
                            (compile_expr(ik, params, types),
                             _struct_top_fields(bt))))
                    else:
                        parts.append(("index_col",
                                      compile_expr(ik, params, types)))
            else:
                parts.append(p)
        return compile_idiom(base, parts)
    if kind == "un":
        op, e = ast[1], ast[2]
        c = compile_expr(e, params, types)
        if op == "!":
            if _infer(e, types, params) == "duration":
                # truthy(duration) = non-zero (Value::is_truthy)
                return ~((c.getField("months") != 0) | (c.getField("nanos") != 0))
            # ! = NOT is_truthy (expr/operator.rs Not) — arrays/strings/
            # numbers negate their truthiness, and !NONE is true
            return ~_truthy_col(c, _infer(e, types, params))
        if op == "-":
            if _infer(e, types, params) == "duration":
                raise ValueError("cannot negate a duration")
            return -c
        return c
    if kind == "bin":
        _, op, l, r = ast
        # NONE comparisons follow the Value total order (val/mod.rs Ord):
        # NONE sorts below every other value, so `missing < 99` is true
        # and `missing > 0` is false
        lnone = l in (("lit", None), ("nulllit",))
        rnone = r in (("lit", None), ("nulllit",))
        if lnone and rnone and op in ("<", "<=", ">", ">=", "=", "==",
                                      "!="):
            # both literal: NONE < NULL, NONE = NONE, NULL = NULL
            lt = l == ("lit", None) and r == ("nulllit",)
            gt = l == ("nulllit",) and r == ("lit", None)
            eq = l == r
            return F.lit({"<": lt, "<=": lt or eq, ">": gt,
                          ">=": gt or eq, "=": eq, "==": eq,
                          "!=": not eq}[op])
        if (lnone or rnone) and op in ("<", "<=", ">", ">=", "=", "==",
                                       "!="):
            # x OP nullish — presence-aware when the subject is a stored
            # column (__present spine): `x = NONE` matches only absent
            # fields, `x = NULL` only explicit nulls, and ranges follow
            # the value total order NONE < NULL < everything
            # (planner/select_from_unique_index.surql,
            # planner/unique_index_reverse_range_none_upper_bound.surql)
            flip = {"<": ">", "<=": ">=", ">": "<", ">=": "<="}
            if lnone:
                op2, subj, nlit = flip.get(op, op), r, l
            else:
                op2, subj, nlit = op, l, r
            is_none = nlit == ("lit", None)
            pres = _presence_col(subj, types)
            sc = compile_expr(subj, params, types)
            if pres is not None:
                absent = ~pres
                isnull = pres & sc.isNull()
                if is_none:
                    return {"=": absent, "==": absent, "!=": ~absent,
                            "<": F.lit(False), "<=": absent,
                            ">": pres, ">=": F.lit(True)}[op2]
                return {"=": isnull, "==": isnull, "!=": ~isnull,
                        "<": absent, "<=": sc.isNull(),
                        ">": sc.isNotNull(), ">=": pres}[op2]
            if op2 in ("<", "<=", ">", ">="):
                # no presence spine: NONE ≡ NULL ≡ SQL NULL
                return {"<": F.lit(False), "<=": sc.isNull(),
                        ">": sc.isNotNull(), ">=": F.lit(True)}[op2]
            # =/!= without presence fall through to null-safe equality
        lc, rc = compile_expr(l, params, types), compile_expr(r, params, types)
        lreg = _infer(l, types, params) == "regex"
        rreg = _infer(r, types, params) == "regex"
        if (lreg or rreg) and op in ("=", "==", "!="):
            # regex equality (types Value::Regex PartialEq + operate.rs):
            # regex=regex compares patterns; regex=string is a partial
            # match; any other operand kind is false (uuid included —
            # only its <string> cast matches)
            if lreg and rreg:
                hit = lc.getField("regex") == rc.getField("regex")
            else:
                reg, other, oast = (lc, rc, r) if lreg else (rc, lc, l)
                ot = _infer(oast, types, params)
                if oast[0] == "ulit" or ot not in ("string", None):
                    hit = F.lit(False)
                elif ot == "string":
                    hit = F.coalesce(
                        F.regexp_like(other, reg.getField("regex")),
                        F.lit(False))
                else:  # dynamic: match only when the runtime type is string
                    hit = F.coalesce(
                        F.when(F.call_function("typeof", other) == "string",
                               F.regexp_like(other.cast("string"),
                                             reg.getField("regex")))
                        .otherwise(F.lit(False)), F.lit(False))
            return ~hit if op == "!=" else hit
        if _infer(l, types, params) == "duration" and _infer(r, types, params) == "duration":
            # duration ⊕ duration: field-wise arithmetic / nanos ordering
            # (val/duration.rs Add/Sub/Ord; months carries the calendar ext)
            lm, ln = lc.getField("months"), lc.getField("nanos")
            rm, rn = rc.getField("months"), rc.getField("nanos")
            if op in ("+", "-"):
                sign = 1 if op == "+" else -1
                out_m = (lm + sign * rm).cast("long")
                out_n = (ln + sign * rn).cast("long")
                if op == "-":
                    # durations are unsigned: underflow errors
                    # (val/duration.rs checked_sub)
                    chk = F.assert_true(
                        (out_m >= 0) & (out_n >= 0),
                        F.lit("Failed to compute: the operation results "
                              "in a negative duration"))
                    out_n = F.when(chk.isNull(), out_n)
                return F.struct(out_m.alias("months"),
                                out_n.alias("nanos"))
            if op in ("<", "<=", ">", ">=", "=", "==", "!="):
                key_l = lm * F.lit(2_630_016_000_000_000) + ln  # ~month in ns
                key_r = rm * F.lit(2_630_016_000_000_000) + rn
                return _BINOPS[op](key_l, key_r)
            if op == "/":
                # Duration / Duration is NaN (val/duration.rs try_div)
                return F.lit(float("nan"))
            if op == "%":
                # Duration % Duration is unsupported (val/duration.rs has
                # no Rem impl — try_rem errors)
                raise ValueError("cannot take the remainder of durations")
            if op in ("*", "**"):
                raise ValueError(f"cannot {op} two durations")
        lt0, rt0 = _infer(l, types, params), _infer(r, types, params)
        if lt0 == "datetime" and rt0 == "duration" and op in ("+", "-"):
            # datetime ± duration (val/datetime.rs Add<Duration>): months
            # as calendar interval, nanos as microsecond offset
            sign = 1 if op == "+" else -1
            months = (rc.getField("months") * sign).cast("int")
            us = (rc.getField("nanos") / 1000 * sign).cast("long")
            return (F.timestamp_add("MONTH", months, lc.cast("timestamp"))
                    + F.make_dt_interval(F.lit(0), F.lit(0), F.lit(0),
                                         us.cast("double") / 1e6))
        if lt0 == "datetime" and rt0 == "datetime" and op == "-":
            # datetime - datetime = duration (val/datetime.rs Sub)
            from surrealdb_spark.values import duration as _mkd

            ns = (lc.cast("timestamp").cast("double")
                  - rc.cast("timestamp").cast("double")) * 1e9
            return _mkd(0, ns.cast("long"))
        if lt0 == "duration" and rt0 in ("int", "float", "decimal") \
                and op in ("*", "/"):
            # duration scaled by a number stays a duration
            # (val/duration.rs mul/div by Number)
            d = compile_expr(l, params, types)
            n = compile_expr(r, params, types).cast("double")
            fn = (lambda a: a * n) if op == "*" else (lambda a: a / n)
            return F.struct(fn(d.getField("months").cast("double")).cast("long").alias("months"),
                            fn(d.getField("nanos").cast("double")).cast("long").alias("nanos"))
        if rt0 == "duration" and lt0 in ("int", "float", "decimal"):
            if op == "*":
                d = compile_expr(r, params, types)
                n = compile_expr(l, params, types).cast("double")
                return F.struct((d.getField("months").cast("double") * n).cast("long").alias("months"),
                                (d.getField("nanos").cast("double") * n).cast("long").alias("nanos"))
            if op == "/":
                return F.lit(float("nan"))
        if op in ("OR", "||", "AND", "&&"):
            lt, rt = _infer(l, types, params), _infer(r, types, params)
            if not (lt == "bool" and rt == "bool"):
                # SurrealQL logic returns the deciding VALUE (operate.rs
                # or/and: `a || b` is a when truthy else b).  Statically
                # boolean operands keep plain &&/|| so WHERE predicates stay
                # parquet-pushdown-able.
                t = _truthy_col(lc, lt)
                if op in ("OR", "||"):
                    return F.when(t, lc).otherwise(rc)
                return F.when(t, rc).otherwise(lc)
        if op in ("+", "-") and "set" in (
                _static_of_kind(l, params, types),
                _static_of_kind(r, params, types)):
            # set algebra (union / element removal) evaluates driver-side
            # so the result keeps its Set identity (val/set.rs;
            # primitive/set/set_array_common_behaviour.surql)
            raise ValueError("set algebra is driver-evaluated")
        if op == "+":
            lt, rt = _infer(l, types, params), _infer(r, types, params)
            # Strand + Strand → concatenation; one statically-known string
            # side concatenates too (operate.rs try_add Strand arm)
            if "string" in (lt, rt) and lt not in ("int", "float", "decimal") \
                    and rt not in ("int", "float", "decimal"):
                return F.concat(lc.cast("string"), rc.cast("string"))
            if lt == "array" and rt == "array":
                if _static_of_kind(l, params, types) == "set":
                    # set + value = sorted-set union (val/set.rs Add)
                    return F.array_sort(F.array_distinct(F.concat(lc, rc)))
                return F.concat(lc, rc)
        if op in ("<", "<=", ">", ">=") and "set" in (
                _static_of_kind(l, params, types),
                _static_of_kind(r, params, types)):
            # cross-type order: Set (tag 9) sorts after Array (tag 8)
            # (types/src/value/mod.rs:165-210)
            ltag = 9 if _static_of_kind(l, params, types) == "set" else 8
            rtag = 9 if _static_of_kind(r, params, types) == "set" else 8
            if ltag != rtag:
                return _BINOPS[op](F.lit(ltag), F.lit(rtag))
        if op == "/" and _infer(l, types, params) == "int" and _infer(r, types, params) == "int":
            # Int/Int truncates toward zero (operate.rs try_div; 5/4 == 1)
            return O.div(lc, rc, integer_operands=True)
        if op in ("+", "-", "*", "/") and "decimal" in (
            _infer(l, types, params), _infer(r, types, params)
        ):
            # Decimal ⊕ anything → Decimal (number.rs:818-846).  Spark's
            # native rule demotes decimal+double to double, so cast the
            # non-decimal side up explicitly (decimal(38,10) ≈ the
            # reference's 96-bit rust_decimal working precision).
            if _infer(l, types, params) != "decimal":
                lc = lc.cast("decimal(38,10)")
            if _infer(r, types, params) != "decimal":
                rc = rc.cast("decimal(38,10)")
        if op == "?:":
            # `?:` tests is_truthy, not is-not-null (expr TenaryCondition)
            return O.tco(lc, rc, truthy=_truthy_col(lc, _infer(l, types, params)))
        if (op in ("IN", "INSIDE", "NOTINSIDE") and r[0] == "object"
                and _geom_literal_kind(r) is None):
            # membership in an object tests its KEYS (operate.rs inside on
            # Value::Object); GeoJSON-shaped literals fall through to the
            # geometry containment branch below
            keys = F.array(*[F.lit(k) for k, _ in r[1]])
            # non-string subjects never match keys (1 IN {1:1} is false)
            if _infer(l, types, params) == "string":
                hit = F.array_contains(keys, lc)
            else:
                hit = F.lit(False)
            return ~hit if op == "NOTINSIDE" else hit
        if op in ("IN", "INSIDE", "NOTINSIDE") and r[0] == "bin" and r[1] in _RANGE_OPS:
            # membership in a range (value/range.rs contains)
            rng = O.range_struct(
                compile_expr(r[2], params, types),
                compile_expr(r[3], params, types),
                not r[1].startswith(">"),
                r[1].endswith("="),
            )
            hit = O.range_contains(rng, lc)
            return ~hit if op == "NOTINSIDE" else hit
        if op in ("IN", "INSIDE", "NOTINSIDE", "ALLINSIDE", "ANYINSIDE",
                  "NONEINSIDE") and _infer(r, types, params) == "string":
            # String-subject containment: `"in" INSIDE "inout"` is substring;
            # `["in","out"] ALLINSIDE "inout"` tests every element
            # (fnc/operate.rs inside dispatch on Value::Strand).
            lk = _infer(l, types, params)
            if op in ("IN", "INSIDE"):
                return F.contains(rc, lc)
            if op == "NOTINSIDE":
                return ~F.contains(rc, lc)
            arr = lc if lk == "array" else F.array(lc)
            if op == "ALLINSIDE":
                return F.forall(arr, lambda x: F.contains(rc, x))
            if op == "ANYINSIDE":
                return F.exists(arr, lambda x: F.contains(rc, x))
            return ~F.exists(arr, lambda x: F.contains(rc, x))
        if op in ("CONTAINS", "CONTAINSNOT") and \
                _infer(l, types, params) == "string":
            # String-subject CONTAINS is substring
            # (fnc/operate.rs contain dispatch on Value::Strand)
            hit = F.contains(lc, rc.cast("string"))
            return ~hit if op == "CONTAINSNOT" else hit
        if op in ("IN", "INSIDE", "NOTINSIDE", "CONTAINS", "CONTAINSNOT") and "geometry" in (
            _infer(l, types, params), _infer(r, types, params)
        ):
            # Geometry containment: INSIDE = b.contains(a), CONTAINS =
            # a.contains(b) (fnc/operate.rs:90-105 dispatching to
            # val/geometry.rs contains)
            return {
                "IN": GEO.g_inside,
                "INSIDE": GEO.g_inside,
                "NOTINSIDE": GEO.g_not_inside,
                "CONTAINS": lambda a, b: GEO.contains(a, b),
                "CONTAINSNOT": lambda a, b: ~GEO.contains(a, b),
            }[op](lc, rc)
        if op not in _BINOPS and op.startswith("@") and op.endswith("@"):
            # @N@/@AND@/@OR@ variants outside the runner
            return O.matches(lc, rc, any_mode="OR" in op.upper())
        if op in ("<", "<=", ">", ">="):
            # value TOTAL order (types/src/value/mod.rs Ord): NONE/NULL
            # sort below every value, so `missing <= 10` is true — SQL's
            # null-dropping three-valued logic is wrong here
            base = _BINOPS[op](lc, rc)
            if op == "<":
                return base | (lc.isNull() & rc.isNotNull())
            if op == "<=":
                return base | lc.isNull()
            if op == ">":
                return base | (rc.isNull() & lc.isNotNull())
            return base | rc.isNull()
        return _BINOPS[op](lc, rc)
    if kind == "method":
        cm = _closure_method(ast, params, types)
        if cm is not None:
            return cm
        out_m = compile_expr(_resolve_method(ast, types, params),
                             params, types)
        if (isinstance(ast[2], tuple) and ast[2][0] == "path"
                and ast[2][2] and ast[2][2][-1] == ("optional",)):
            # `x.?.method()` — the optional marker short-circuits the
            # method too (part.rs Optional: NONE stops the idiom)
            recv_c = compile_expr(ast[2], params, types)
            return F.when(recv_c.isNull(), F.lit(None)).otherwise(out_m)
        return out_m
    if kind == "call":
        name, args = ast[1], ast[2]
        if (
            name in ("array::range", "array::sequence")
            and len(args) == 1
            and args[0][0] == "bin"
            and args[0][1] in _RANGE_OPS
        ):
            # array::range(1..11) — range-argument form (fnc/array.rs range)
            lo = compile_expr(args[0][2], params, types).cast("bigint")
            hi = compile_expr(args[0][3], params, types).cast("bigint")
            if args[0][1].startswith(">"):
                lo = lo + 1
            return F.sequence(lo, hi if args[0][1].endswith("=") else hi - 1)
        if name == "count":
            # scalar count (fnc/count.rs): no arg = 1; arrays/sets count
            # truthy elements; scalars count their own truthiness.
            # (The aggregate form decomposes in SELECT context instead.)
            if not args:
                return F.lit(1).cast("bigint")
            a = args[0]
            if a[0] == "param" and a[1] not in params:
                return F.lit(0).cast("bigint")  # unbound params are NONE
            if a[0] == "bin" and a[1] in _RANGE_OPS:
                return F.lit(0).cast("bigint")  # ranges aren't truthy
            if a[0] == "mockv":
                # count(|t:n|) / count(|t:lo..hi|) — the mock's record
                # count (expr/mock.rs: ranges are lo..hi exclusive)
                spec = a[2]
                n = spec[1] if spec[0] == "count" else len(_mock_ids(spec))
                return F.lit(n).cast("bigint")
            cat = _infer(a, types, params)
            c = compile_expr(a, params, types)
            if cat == "array":
                return F.coalesce(
                    F.size(F.filter(c, lambda x: _truthy_col(x, None))),
                    F.lit(0)).cast("bigint")
            return _truthy_col(c, cat).cast("bigint")
        if name in ("record::is_edge", "record::exists") and args:
            a = args[0]
            # fold type::record('tb','key') constructors to the id literal
            if (a[0] == "call" and a[1] == "type::record" and len(a[2]) == 2
                    and all(x[0] == "lit" for x in a[2])):
                a = ("lit", f"{a[2][0][1]}:{a[2][1][1]}")
            if a[0] in ("ident", "path"):
                # row-context form: the current record is an edge iff it
                # carries non-null in/out (RELATE-created rows)
                if "in" in types and "out" in types:
                    return (F.col("in").isNotNull()
                            & F.col("out").isNotNull()) \
                        if name == "record::is_edge" else F.lit(True)
                return F.lit(False) if name == "record::is_edge" else F.lit(True)
            if a[0] == "lit" and isinstance(a[1], str) and _RID_RE.match(a[1]):
                return REGISTRY[name](a[1])
            raise ValueError(f"{name} expects a record id")
        if name.startswith("parse::") and args and _infer(
            args[0], types, params
        ) in ("int", "float", "bool", "decimal"):
            # fnc/parse.rs coerces to String strictly — numbers error
            raise ValueError(f"{name} argument 1 must be a string")
        if (
            name == "array::add"
            and len(args) == 2
            and _infer(args[1], types, params) == "array"
        ):
            # array::add with an array argument adds each missing element
            # (fnc/array.rs:33-44 Value::Array arm)
            a = compile_expr(args[0], params, types)
            v = compile_expr(args[1], params, types)
            return F.concat(
                a, F.filter(F.array_distinct(v), lambda x: ~F.exists(
                    a, lambda y: y.eqNullSafe(x))))
        if (
            name in ("set::add", "set::remove")
            and len(args) == 2
            and _infer(args[1], types, params) == "array"
        ):
            # array/set second argument inserts/removes each element
            # (fnc/set.rs add/remove match Value::Array | Value::Set arms)
            s = F.array_sort(
                F.array_distinct(compile_expr(args[0], params, types))
            )
            v = compile_expr(args[1], params, types)
            if name == "set::add":
                return F.array_sort(F.array_distinct(F.concat(s, v)))
            return F.array_except(s, v)
        _validate_fn_args(name, args, params, types)
        if name in ("math::top", "math::bottom") and _pure_literal(args[0]):
            # the reference returns BinaryHeap array order — replicated
            # driver-side and folded (fnc/util/math/{top,bottom}.rs)
            from surrealdb_spark import pyeval

            try:
                k = _py_const(args[1], params)
                return F.lit(pyeval.PY_FNS[name](
                    _py_const(args[0], params), k))
            except pyeval.EvalError as exc:
                raise ValueError(str(exc))
            except Exception:
                pass
        if name.startswith("duration::") and args and all(
                _pure_literal(a) for a in args):
            # u64-wrap construction/accessor semantics fold driver-side
            # (fnc/duration.rs `as u64`/`as i64` casts); out-of-int64
            # results can't be Spark values — raising routes the statement
            # to the driver-side evaluator
            from surrealdb_spark import pyeval

            fn = pyeval.PY_FNS_DURATION.get(name)
            if fn is not None:
                try:
                    vals = [_py_const(a, params) for a in args]
                except Exception:
                    vals = None
                if vals is not None:
                    try:
                        out = fn(*vals)
                    except pyeval.EvalError as exc:
                        raise ValueError(str(exc))
                    if isinstance(out, dict):
                        if out["nanos"] < 2 ** 63:
                            from surrealdb_spark.values import duration as _mkd

                            return _mkd(out["months"], out["nanos"])
                        raise ValueError("duration exceeds int64 nanos")
                    if isinstance(out, int):
                        return F.lit(out)
        if name in ("encoding::cbor::encode", "encoding::cbor::decode",
                    "encoding::json::decode") and args and all(
                _pure_literal(a) for a in args):
            # heterogeneous output values — fold driver-side: encode's
            # bytes stay a Spark literal; decode results route to the
            # driver evaluator (fnc/encoding.rs works on Value trees)
            from surrealdb_spark import pyeval

            folded = False
            out = None
            try:
                vals = [_py_const(a, params) for a in args]
                out = pyeval.PY_FNS[name](*vals)
                folded = True
            except pyeval.EvalError as exc:
                raise ValueError(str(exc))
            except pyeval.Unfoldable:
                pass  # not driver-computable: continue to the Spark path
            if folded:
                if isinstance(out, (bytes, bytearray)):
                    return F.lit(bytes(out))
                raise ValueError("decode result is a dynamic value")
        special = _compile_type_call(name, args, params, types)
        if special is not None:
            return special
        raw_idx = _RAW_LITERAL_ARGS.get(name, ())
        cols = []
        for i, a in enumerate(args):
            if a[0] == "closure":
                cols.append(_compile_closure(a, params, types))
            elif i in raw_idx and a[0] == "lit":
                cols.append(a[1])  # builder wants the Python literal
            elif i in raw_idx and a[0] == "dur":
                cols.append(a[1])  # duration literal → total nanoseconds
            elif (
                i in raw_idx
                and a[0] == "un"
                and a[1] == "-"
                and a[2][0] == "lit"
                and isinstance(a[2][1], (int, float))
            ):
                cols.append(-a[2][1])  # folded negative literal
            else:
                cols.append(compile_expr(a, params, types))
        if name in REGISTRY:
            return REGISTRY[name](*cols)
        raise KeyError(f"unknown function {name}")
    if kind == "closure":
        return _compile_closure(ast, params, types)
    if kind == "ifexpr":
        # IF/THEN/ELSE expression → CASE WHEN chain (truthiness per branch)
        out = None
        for cond, then in ast[1]:
            cc = _truthy_col(compile_expr(cond, params, types),
                             _infer(cond, types, params))
            tc = compile_expr(then, params, types)
            out = F.when(cc, tc) if out is None else out.when(cc, tc)
        if ast[2] is not None:
            out = out.otherwise(compile_expr(ast[2], params, types))
        return out
    if kind == "mockv":
        # mock value = its record-id list (expr/mock.rs IntoIter)
        spec = ast[2]
        if spec[0] == "count":
            raise ValueError("count-form mock has no literal id list")
        return F.lit([f"{ast[1]}:{k}" for k in _mock_ids(spec)])
    if kind == "pcall":
        return _invoke_closure(ast, params, types)
    if kind == "ccall":
        # `(||1)()` / `{||2}()` — call an inline closure expression
        from surrealdb_spark.values import ClosureValue

        tgt = ast[1]
        while isinstance(tgt, tuple) and tgt[0] in ("block1", "paren"):
            tgt = tgt[1]
        if isinstance(tgt, tuple) and tgt[0] == "path" \
                and tgt[1][0] == "param" \
                and all(p[0] == "field" for p in tgt[2]):
            # `($obj.fnc)()` — a path whose VALUE is a closure
            # (callable values, idiom/fallback_function.surql)
            v = (params or {}).get(tgt[1][1])
            for p in tgt[2]:
                v = v.get(p[1]) if isinstance(v, dict) else None
            from surrealdb_spark.values import ClosureValue as _CVx

            if isinstance(v, _CVx):
                return _invoke_closure_value(v, ast[2], params, types)
            raise ValueError("call target is not a closure")
        if not (isinstance(tgt, tuple) and tgt[0] == "closure"):
            raise ValueError("call target is not a closure")
        cv = ClosureValue(tgt[1], tgt[3] if len(tgt) > 3 else None,
                          tgt[4] if len(tgt) > 4 else None, tgt[2], params)
        return _invoke_closure_value(cv, ast[2], params, types)
    raise ValueError(f"bad AST node {ast!r}")


def _py_lit(v) -> Column:
    """Arbitrary driver-side Python value → Column literal (uuid/dict/
    list/Row included; F.lit alone rejects several of these)."""
    import uuid as _uuid

    from pyspark.sql import Row as _Row

    if isinstance(v, _Row):
        v = v.asDict()
    if isinstance(v, _uuid.UUID):
        return F.lit(str(v))
    if isinstance(v, dict):
        if not v:
            return F.struct(F.lit(None).alias("__empty__"))
        return F.struct(*[_py_lit(x).alias(k) for k, x in v.items()])
    if isinstance(v, (list, tuple)):
        return F.array(*[_py_lit(x) for x in v])
    return F.lit(v)


def _closure_method(ast, params: dict, types: dict | None):
    """`obj.f(args)` where the field holds a closure — object-literal
    receivers and param-bound dicts with ClosureValue members dispatch to
    the closure; a non-closure member raises (closure.rs as object
    methods — closure/field_as_method.surql)."""
    from surrealdb_spark.values import ClosureValue

    _, name, recv, margs = ast
    from surrealdb_spark.functions.registry import REGISTRY as _REG_CM

    if f"object::{name}" in _REG_CM:
        # a BUILTIN object:: function shadows a closure-valued field of
        # the same name ($obj.keys() lists keys; `($obj.keys)()` calls
        # the field — idiom/fallback_function.surql)
        return None
    if isinstance(recv, tuple) and recv[0] == "object":
        for k, v in recv[1]:
            if k != name:
                continue
            while isinstance(v, tuple) and v[0] in ("block1", "paren"):
                v = v[1]
            if isinstance(v, tuple) and v[0] == "closure":
                cv = ClosureValue(v[1], v[3] if len(v) > 3 else None,
                                  v[4] if len(v) > 4 else None, v[2], params)
                return _invoke_closure_value(cv, margs, params, types)
            raise ValueError(
                f"There was a problem running the {name}() function: "
                "no such method found for the object type")
    if isinstance(recv, tuple) and recv[0] == "param":
        v = (params or {}).get(recv[1])
        if isinstance(v, dict) and name in v:
            m = v[name]
            if isinstance(m, ClosureValue):
                return _invoke_closure_value(m, margs, params, types)
            raise ValueError(
                f"There was a problem running the {name}() function: "
                "no such method found for the object type")
    return None


def _invoke_closure(ast, params: dict, types: dict | None) -> Column:
    """`$f(args)` — invoke a ClosureValue bound to a param: inline the body
    with arguments bound (closure.rs invocation).  Declared argument /
    return kinds check statically where the arg is a literal — a mismatch
    raises, matching the reference's ANONYMOUS() coercion errors."""
    from surrealdb_spark.values import ClosureValue

    _, name, args = ast
    cv = (params or {}).get(name)
    if not isinstance(cv, ClosureValue):
        raise ValueError(f"${name} is not a function")
    return _invoke_closure_value(cv, args, params, types)


def _invoke_closure_value(cv, args, params: dict, types: dict | None) -> Column:
    env = dict(cv.captured)
    subst = {}
    for i, pname in enumerate(cv.names):
        a = args[i] if i < len(args) else ("lit", None)
        k = cv.kinds[i] if i < len(cv.kinds) else None
        if k is not None:
            got = _static_of_kind(a, params or {}, types or {})
            ok = _kind_accepts(k, got)
            if ok is False:
                raise ValueError(
                    f"Incorrect arguments for function ANONYMOUS(): "
                    f"argument ${pname} expects {k!r}, got {got}")
        env[pname] = compile_expr(a, params, types)
        subst[pname] = a
    if cv.ret is not None:
        got = _static_of_kind(_subst_params(cv.body, subst),
                              params or {}, types or {})
        if _kind_accepts(cv.ret, got) is False:
            raise ValueError(
                f"Couldn't coerce return value from function ANONYMOUS: "
                f"expected {cv.ret!r}, found {got}")
    return compile_expr(cv.body, env, types)


def _subst_params(ast, subst: dict):
    """Substitute ("param", name) nodes by their argument ASTs (static
    kind propagation through a closure body)."""
    if isinstance(ast, tuple):
        if ast[0] == "param" and ast[1] in subst:
            return subst[ast[1]]
        return tuple(_subst_params(x, subst) for x in ast)
    if isinstance(ast, list):
        return [_subst_params(x, subst) for x in ast]
    return ast


# static kind name → kind-AST families it satisfies (types/src/kind.rs
# coercion; numbers inter-coerce, set≈array)
_KIND_FAMILY = {
    "number": {"number", "int", "float", "decimal", "any"},
    "int": {"number", "int", "any"},
    "float": {"number", "float", "any"},
    "decimal": {"number", "decimal", "any"},
    "string": {"string", "any"},
    "bool": {"bool", "any"},
    "array": {"array", "set", "any"},
    "set": {"set", "array", "any"},
    "object": {"object", "any"},
    "record": {"record", "any"},
    "datetime": {"datetime", "any"},
    "duration": {"duration", "any"},
    "uuid": {"uuid", "any"},
    "bytes": {"bytes", "any"},
    "function": {"function", "any"},
    "range": {"range", "any"},
    "none": {"none", "any"},
    "null": {"null", "any"},
}


def litkind_ok(kast, v):
    """Does a python VALUE coerce to a declared kind AST?  Strict per
    types/src/kind/mod.rs:17-80: literal-object kinds require every
    non-optional member and reject extra members.  True/False when
    decidable, None = no check (undecidable cases stay permissive)."""
    from surrealdb_spark.pyeval import typeof

    k = kast[0]
    if k == "litobj":
        if not isinstance(v, dict):
            return False
        members = dict(kast[1])
        for key in v:
            if key not in members:
                return False
        for key, mk in members.items():
            if litkind_ok(mk, v.get(key)) is False:
                return False
        return True
    if k == "litarr":
        if not isinstance(v, list) or len(v) != len(kast[1]):
            return False
        for mk, x in zip(kast[1], v):
            if litkind_ok(mk, x) is False:
                return False
        return True
    if k == "option":
        if v is None:
            return True
        return litkind_ok(kast[1][0], v) if kast[1] else None
    if k == "union":
        rs = [litkind_ok(m, v) for m in kast[1]]
        if any(r is True for r in rs):
            return True
        if all(r is False for r in rs):
            return False
        return None
    if k == "lit":
        if isinstance(kast[1], bool) or isinstance(v, bool):
            return v is kast[1]
        return v == kast[1]
    if k in ("any", "none") and v is None:
        return True
    if v is None:
        return False  # absent member on a non-optional kind
    return _kind_accepts(kast, typeof(v))


def render_kind(kast) -> str:
    """Canonical kind text (types/src/kind.rs Display): literal objects
    alpha-sort members, option<x> prints `none | x`."""
    k = kast[0]
    if k == "litobj":
        if not kast[1]:
            return "{  }"
        inner = ", ".join(f"{key}: {render_kind(mk)}"
                          for key, mk in sorted(kast[1]))
        return "{ " + inner + " }"
    if k == "litarr":
        return "[" + ", ".join(render_kind(m) for m in kast[1]) + "]"
    if k == "option":
        return ("none | " + render_kind(kast[1][0])) if kast[1] else "none"
    if k == "union":
        return " | ".join(render_kind(m) for m in kast[1])
    if k == "lit":
        from surrealdb_spark.pyeval import render as _r

        return _r(kast[1])
    if kast[1]:
        return f"{k}<{', '.join(render_kind(a) for a in kast[1])}>"
    return k


def _kind_accepts(kind_ast, static: str | None):
    """Does a value of statically-known kind satisfy a declared kind AST?
    True/False when decidable, None (no check) when not."""
    if static is None or static.startswith("geometry"):
        return None
    k = kind_ast[0]
    if k in ("any",):
        return True
    if k == "litobj":
        return None if static == "object" else False
    if k == "option":
        if static in ("none", "null"):
            return True
        inner = kind_ast[1]
        return _kind_accepts(inner[0], static) if inner else None
    if k == "union":
        results = [_kind_accepts(m, static) for m in kind_ast[1]]
        if any(r is True for r in results):
            return True
        if all(r is False for r in results):
            return False
        return None
    if k == "lit":
        return None
    fam = _KIND_FAMILY.get(static)
    if fam is None:
        return None
    return k in fam


_RID_RE = __import__("re").compile(r"^[A-Za-z_]\w*:(?!//)[^\s]+$")


def _static_of_kind(ast, params: dict, types: dict) -> str | None:
    """AST-level kind name for type::of / .type_of() (fnc/type.rs kind_of;
    kind names types/src/kind.rs).  None = not statically decidable."""
    k = ast[0]
    if k == "nulllit":
        return "null"
    if k == "lit":
        v = ast[1]
        if v is None:
            return "none"
        if isinstance(v, bool):
            return "bool"
        if isinstance(v, str):
            # record-id literals share the string AST node; the tb:key shape
            # is unambiguous here because plain strings arrive quoted and
            # never re-enter type::of in record shape
            return "record" if _RID_RE.match(v) else "string"
        import datetime as _dtm
        import decimal as _d

        if isinstance(v, int):
            return "int"
        if isinstance(v, float):
            return "float"
        if isinstance(v, _d.Decimal):
            return "decimal"
        if isinstance(v, _dtm.datetime):
            return "datetime"
        return None
    if k == "ulit":
        return "uuid"
    if k == "param":
        v = (params or {}).get(ast[1])
        if type(v).__name__ == "SetVal":
            return "set"
        return None
    if k == "dur":
        return "duration"
    if k == "block1":
        return _static_of_kind(ast[1], params, types)
    if k == "setlit":
        return "set"
    if k == "array":
        return "array"
    if k == "geom_point":
        return "geometry<point>"
    if k == "object":
        gk = _geom_literal_kind(ast)
        if gk is not None:
            names = {"point": "point", "linestring": "line",
                     "polygon": "polygon", "multipoint": "multipoint",
                     "multilinestring": "multiline",
                     "multipolygon": "multipolygon",
                     "geometrycollection": "collection"}
            n = names.get(str(gk[0]).lower()) if isinstance(gk, tuple) else gk
            return f"geometry<{n}>" if n else None
        return "object"
    if k == "bin" and ast[1] in _RANGE_OPS:
        return "range"
    if k == "regex":
        return "regex"
    if k == "cast":
        n = ast[1][0]
        if n == "bytes":
            return "bytes"
        if n == "set":
            return "set"
        return None
    if k == "closure":
        return "function"
    if k == "call":
        if ast[1] == "type::file":
            return "file"
        if ast[1] == "type::table":
            return "table"
        if ast[1] == "type::set":
            return "set"
        return None
    if k == "method" and ast[1] == "to_set":
        return "set"
    return None


# argument-kind contracts the reference enforces with coerce_to errors
# (fnc/args.rs); checked statically when the kind is inferable.  "arrayish"
# accepts arrays/sets; "number" the numeric family.
_FN_ARG_KINDS: dict[str, dict[int, str]] = {
    "array::any": {0: "arrayish"}, "array::all": {0: "arrayish"},
    "array::distinct": {0: "arrayish"}, "array::flatten": {0: "arrayish"},
    "array::reverse": {0: "arrayish"}, "array::slice": {0: "arrayish"},
    "array::join": {0: "arrayish"}, "array::pop": {0: "arrayish"},
    "array::transpose": {0: "arrayish"}, "array::add": {0: "arrayish"},
    "array::concat": {0: "arrayish", 1: "arrayish", 2: "arrayish",
                      3: "arrayish"},
    "array::combine": {0: "arrayish", 1: "arrayish"},
    "array::union": {0: "arrayish", 1: "arrayish"},
    "array::intersect": {0: "arrayish", 1: "arrayish"},
    "array::difference": {0: "arrayish", 1: "arrayish"},
    "array::complement": {0: "arrayish", 1: "arrayish"},
    "set::contains": {0: "arrayish"}, "set::len": {0: "arrayish"},
    "set::all": {0: "arrayish"}, "set::any": {0: "arrayish"},
    "rand::int": {0: "number", 1: "number"},
    "rand::float": {0: "number", 1: "number"},
    "math::top": {0: "arrayish", 1: "number"},
    "math::bottom": {0: "arrayish", 1: "number"},
    "geo::area": {0: "geometry"}, "geo::centroid": {0: "geometry"},
    "geo::bearing": {0: "geometry", 1: "geometry"},
    "geo::distance": {0: "geometry", 1: "geometry"},
    "geo::is::valid": {0: "geometry"}, "geo::is_valid": {0: "geometry"},
    "geo::hash::encode": {0: "geometry"},
    "geo::hash::decode": {0: "string"},
    "rand::string": {0: "number", 1: "number"},
    "rand::id": {0: "number", 1: "number"},
    "type::set": {0: "arrayish"},
}

_KIND_SETS = {"arrayish": {"array", "set"},
              "number": {"int", "float", "decimal", "number"},
              "string": {"string"}}


def _lit_num(a, params):
    if a[0] == "lit" and isinstance(a[1], (int, float)) \
            and not isinstance(a[1], bool):
        return a[1]
    if a[0] == "un" and a[1] == "-":
        v = _lit_num(a[2], params)
        return None if v is None else -v
    if a[0] == "param":
        v = (params or {}).get(a[1])
        return v if isinstance(v, (int, float)) \
            and not isinstance(v, bool) else None
    return None


def _validate_fn_args(name: str, args, params: dict, types: dict) -> None:
    if name == "math::clamp" and len(args) == 3:
        lo, hi = _lit_num(args[1], params), _lit_num(args[2], params)
        if lo is not None and hi is not None and lo > hi:
            raise ValueError("Incorrect arguments for function "
                             "math::clamp(): min must not exceed max")
    if name == "math::pow" and len(args) == 2:
        x, p = _lit_num(args[0], params), _lit_num(args[1], params)
        if (isinstance(x, int) and isinstance(p, int) and p >= 0
                and abs(x) > 1 and abs(x ** p) >= 2 ** 63):
            # Int ** Int overflow errors (number.rs try_pow)
            raise ValueError(f"Cannot raise the value {x} with {p}: "
                             "integer overflow")
    rules = _FN_ARG_KINDS.get(name)
    if not rules:
        return
    for i, want in rules.items():
        if i >= len(args):
            continue
        a = args[i]
        if a[0] == "nulllit":
            raise ValueError(
                f"Incorrect arguments for function {name}(): argument "
                f"{i + 1} must be a {want}, got NULL")
        got = _infer(a, types, params)
        if got is None and a[0] == "lit" and a[1] is None:
            got = "none"
        if got is None:
            continue
        if want == "geometry":
            if not str(got).startswith("geometry") and got != "object":
                raise ValueError(
                    f"Incorrect arguments for function {name}(). Argument "
                    f"{i + 1} was the wrong type. Expected `geometry` "
                    f"but found `{got}`")
            continue
        if got not in _KIND_SETS[want]:
            raise ValueError(
                f"Incorrect arguments for function {name}(): argument "
                f"{i + 1} must be a {want}, got {got}")


_I64_MIN, _I64_MAX = -2 ** 63, 2 ** 63 - 1
_MOCK_LIMIT = 1_048_576


def _mock_ids(spec) -> list[int]:
    """Resolve a mock range spec to its integer keys (expr/mock.rs:
    lo..hi end-exclusive, `..=` inclusive, `>..` start-exclusive; open
    bounds clamp to i64 and must stay under the allocation limit)."""
    _, lo, hi, lo_excl, hi_incl = spec
    lo_i = (_I64_MIN if lo is None else lo + (1 if lo_excl else 0))
    hi_i = (_I64_MAX if hi is None else (hi if hi_incl else hi - 1))
    n = hi_i - lo_i + 1
    if n > _MOCK_LIMIT:
        raise ValueError("Mock range exceeds allocation limit")
    return list(range(lo_i, hi_i + 1)) if n > 0 else []


def _pure_literal(ast) -> bool:
    """True when the AST references no row/param context — safe to
    const-fold driver-side.  Nested calls are allowed (the evaluator
    raises Unfoldable for anything it can't compute)."""
    if isinstance(ast, tuple):
        if ast[0] in ("ident", "param", "path", "curr"):
            return False
        return all(_pure_literal(x) for x in ast[1:])
    if isinstance(ast, list):
        return all(_pure_literal(x) for x in ast)
    return True


def _py_const(ast, params):
    from surrealdb_spark import pyeval

    return pyeval.peval(ast, params or {})


def _compile_type_call(name: str, args, params: dict, types: dict) -> Column | None:
    """Static dispatch for the type:: calls that are compile-time facts on a
    typed engine (fnc/type.rs evaluates them against runtime Value variants;
    Spark columns carry their type in the plan).  Returns None for names
    handled by the plain registry path."""
    from surrealdb_spark.functions import type_fns as TY

    if not name.startswith("type::"):
        return None
    short = name[6:]
    if short in ("is_none", "is_null"):
        return compile_expr(args[0], params, types).isNull()
    if short in ("is_set", "is_array"):
        # sets and arrays share the Spark array type; the set-ness of a
        # value is a static fact of its constructor (setlit / <set> cast /
        # type::set) — types/src/value/mod.rs Set vs Array variants
        a = args[0]
        while isinstance(a, tuple) and a[0] in ("paren", "block1"):
            a = a[1]
        if (a[0] == "setlit" or (a[0] == "cast" and a[1][0] == "set")
                or (a[0] == "call" and a[1] == "type::set")
                or (a[0] == "method" and a[1] == "to_set")):
            return F.lit(short == "is_set")
    if short.startswith("is_") and short in TY.IS_KIND_CATS:
        col = compile_expr(args[0], params, types)
        cat = _infer(args[0], types, params)
        if cat is None:
            return TY.is_kind(short)(col)  # runtime heuristic fallback
        if cat not in TY.IS_KIND_CATS[short]:
            return F.lit(False)
        # category matches statically; refine where membership needs a
        # runtime test (record ids / uuids are strings with structure)
        refine = {"is_record": TY.is_record, "is_uuid": TY.is_uuid_str}
        if short in refine:
            return refine[short](col)
        return col.isNotNull()
    if short == "record" and len(args) == 2:
        # type::record(tb, key) — construct tb:key (fnc/type.rs:139-168:
        # the second argument is the record KEY: uuid/number/string, or
        # another record id contributing its key)
        tb = compile_expr(args[0], params, types).cast("string")
        a2 = args[1]
        if a2[0] == "ulit":
            key = F.lit(a2[1])
        elif a2[0] == "lit" and isinstance(a2[1], str) \
                and _RID_RE.match(a2[1]):
            key = F.lit(a2[1].partition(":")[2])
        else:
            key = compile_expr(a2, params, types).cast("string")
        return F.concat(tb, F.lit(":"), key)
    if short == "of":
        k = _static_of_kind(args[0], params, types)
        if k is not None:
            return F.lit(k)
        a0 = args[0]
        name = a0[1] if (isinstance(a0, tuple) and a0[0] == "ident"
                         and isinstance(a0[1], str)) else None
        simple = (types or {}).get("__simple__") or {}
        if name is not None and name not in simple and simple \
                and "__present" in simple and name not in ("id",):
            # stored-table read of a column no row ever carried: the field
            # is absent on every record → 'none'
            return F.lit("none")
        if name is not None and name in simple:
            # stored-column read: per-row kind from the __k_ sidecar when
            # present, else derived from the dtype (+ string-shape
            # refinement); NULL cells split none/null on the presence
            # spine (types/src/value/mod.rs:84-144)
            from surrealdb_spark.values import kind_col_of_dtype

            col = F.col(name)
            derived = kind_col_of_dtype(col, simple[name])
            sidecar = "__k_" + name
            kc = (F.coalesce(F.col(sidecar), derived)
                  if sidecar in simple else derived)
            pres = _presence_col(a0, types or {})
            nullname = (F.when(pres, F.lit("null")).otherwise(F.lit("none"))
                        if pres is not None else F.lit("none"))
            return F.when(col.isNull(), nullname).otherwise(kc)
        cat = _infer(args[0], types, params)
        if cat in TY.OF_NAMES:
            col = compile_expr(args[0], params, types)
            # a NULL slot reads back as 'none' (absent field; NONE vs NULL
            # conflate in typed storage — documented, values.py)
            return F.when(col.isNotNull(), F.lit(TY.OF_NAMES[cat])) \
                .otherwise(F.lit("none"))
        return None
    if short == "field":
        fld = _literal_str(args[0], params)
        if fld is not None:
            return F.col(fld)
        raise ValueError("type::field requires a literal/parameter field name")
    if short == "fields":
        names = None
        if args and args[0][0] == "array":
            names = [_literal_str(a, params) for a in args[0][1]]
        elif args and args[0][0] == "param" and isinstance(
                params.get(args[0][1]), list):
            # variable fields list (fnc/type.rs fields on a param value —
            # functions/type/field/variable_fields_projection.surql)
            names = [n if isinstance(n, str) else None
                     for n in params[args[0][1]]]
        if names is not None and all(n is not None for n in names):
            return F.array(*[F.col(n).cast("string") for n in names])
        raise ValueError("type::fields requires a literal array of field names")
    if short == "array":
        col = compile_expr(args[0], params, types)
        return col if _infer(args[0], types, params) == "array" else F.array(col)
    if short == "set":
        col = compile_expr(args[0], params, types)
        if _infer(args[0], types, params) == "array":
            return F.array_sort(F.array_distinct(col))
        return F.array(col)
    return None


def _literal_str(ast, params: dict) -> str | None:
    if ast[0] == "lit" and isinstance(ast[1], str):
        return ast[1]
    if ast[0] == "param" and isinstance(params.get(ast[1]), str):
        return params[ast[1]]
    return None


def _compile_closure(ast, params: dict, types: dict | None = None):
    """Closure literal → Python lambda over Columns (the reference compiles
    closure bodies to expressions the same way — closure.rs + HOF usage in
    array::map/filter/fold, SURVEY §2.11)."""
    _, cparams, body = ast[0], ast[1], ast[2]

    def apply(cols: tuple[Column, ...]) -> Column:
        bound = dict(params)
        for name, col in zip(cparams, cols):
            bound[name] = col
        return compile_expr(body, bound, types)

    # Spark's HOF binder inspects the signature — positional args only,
    # exact arity (no *args).
    if len(cparams) == 1:
        return lambda a: apply((a,))
    if len(cparams) == 2:
        return lambda a, b: apply((a, b))
    return lambda a, b, c: apply((a, b, c))


def _compile_lambda(cond_ast, element: Column, params: dict) -> Column:
    """[WHERE cond] inside a path: idents resolve against the array element
    (the reference's $this scoping, CurrentValueSource)."""

    def walk(ast) -> Column:
        k = ast[0]
        if k == "ident":
            return element.getField(ast[1])
        if k == "lit":
            return F.lit(ast[1])
        if k == "param":
            if ast[1] == "parent" and "parent" not in params:
                # $parent = the enclosing row (outer-column reference
                # inside the filter lambda)
                return F.struct("*")
            v = params[ast[1]]
            return v if isinstance(v, Column) else F.lit(v)
        if k == "path":
            c = walk(ast[1])
            for p in ast[2]:
                if p[0] == "field":
                    c = c.getField(p[1])
                elif p[0] == "optional":
                    pass
                else:
                    raise ValueError(f"unsupported in [WHERE]: {ast!r}")
            return c
        if k == "bin":
            return _BINOPS[ast[1]](walk(ast[2]), walk(ast[3]))
        if k == "un":
            c = walk(ast[2])
            return ~c if ast[1] == "!" else -c if ast[1] == "-" else c
        if k == "call":
            return REGISTRY[ast[1]](*[walk(a) for a in ast[2]])
        raise ValueError(f"unsupported in [WHERE]: {ast!r}")

    return walk(cond_ast)


def _decompose(ast, aggs: list, params: dict, types: dict | None = None):
    """Replace aggregate calls with placeholder idents; collect agg specs
    (catalog/aggregation.rs:19-39 decomposition)."""
    types = types or {}
    if ast[0] == "call" and ast[1] in _AGGREGATES \
            and any(_has_aggregate(a) for a in ast[2]):
        # aggregate-of-aggregate (`array::distinct(array::group(x))`) —
        # the OUTER call is a post-expression over the inner aggregate's
        # value (catalog/aggregation.rs post-expr evaluation)
        return ("call", ast[1],
                [_decompose(a, aggs, params, types) for a in ast[2]])
    if ast[0] == "call" and ast[1] in _AGGREGATES:
        alias = f"__agg{len(aggs)}"
        if ast[1] == "count" and ast[2]:
            # count(expr) counts truthy values, not non-null ones
            # (CountFieldAccumulator, aggregates/count.rs)
            t = _truthy_col(compile_expr(ast[2][0], params, types),
                            _infer(ast[2][0], types, params))
            aggs.append(F.coalesce(F.sum(t.cast("long")), F.lit(0)).alias(alias))
        else:
            args = [a[1] if ast[1] == "array::join" and i == 1
                    and a[0] == "lit" else compile_expr(a, params, types)
                    for i, a in enumerate(ast[2])]
            aggs.append(_AGGREGATES[ast[1]](args).alias(alias))
        return ("ident", alias)
    if ast[0] in ("bin",):
        return ("bin", ast[1], _decompose(ast[2], aggs, params, types),
                _decompose(ast[3], aggs, params, types))
    if ast[0] == "un":
        return ("un", ast[1], _decompose(ast[2], aggs, params, types))
    if ast[0] == "call":
        return ("call", ast[1], [_decompose(a, aggs, params, types) for a in ast[2]])
    if ast[0] == "path":
        return ("path", _decompose(ast[1], aggs, params, types), ast[2])
    if ast[0] == "array":
        return ("array", [_decompose(a, aggs, params, types) for a in ast[1]])
    return ast


def _has_aggregate(ast) -> bool:
    if ast[0] == "call":
        if ast[1] in _AGGREGATES:
            return True
        return any(_has_aggregate(a) for a in ast[2])
    if ast[0] == "bin":
        return _has_aggregate(ast[2]) or _has_aggregate(ast[3])
    if ast[0] == "un":
        return _has_aggregate(ast[2])
    if ast[0] == "path":
        return _has_aggregate(ast[1])
    if ast[0] == "array":
        return any(_has_aggregate(a) for a in ast[1])
    return False


def _apply_omit(df: DataFrame, omit: list) -> DataFrame:
    """OMIT application (part.rs omit semantics): plain names drop
    columns, dotted paths drop struct members, `.*` tails and last-member
    drops leave the empty-object marker struct."""
    df = df.drop(*[o for o in omit if isinstance(o, str)])
    empty_obj = F.struct(F.lit(None).alias("__emptyobj"))

    def _struct_at(segs):
        from pyspark.sql.types import StructType

        cur = df.schema
        for seg in segs:
            if not isinstance(cur, StructType) or seg not in \
                    cur.fieldNames():
                return None
            cur = cur[seg].dataType
        return cur if hasattr(cur, "fieldNames") else None

    for path in omit:
        if isinstance(path, str):
            continue
        base, rest = path[0], list(path[1:])
        if base not in df.columns:
            continue
        if rest and rest[-1] == "*":
            # `opts.nested.*` — empty the struct (part.rs All omit)
            inner = ".".join(rest[:-1])
            df = df.withColumn(
                base,
                F.col(base).withField(inner, empty_obj)
                if inner else empty_obj)
        elif rest:
            parent = _struct_at([base] + rest[:-1])
            if parent is not None and \
                    set(parent.fieldNames()) <= {rest[-1]}:
                # dropping the struct's only field → empty object
                inner = ".".join(rest[:-1])
                df = df.withColumn(
                    base,
                    F.col(base).withField(inner, empty_obj)
                    if inner else empty_obj)
            else:
                df = df.withColumn(
                    base, F.col(base).dropFields(".".join(rest)))
    return df


def _kv_order_sources(sources, params) -> list[str]:
    """Table names among the SELECT sources, resolving dynamic ones.

    The reference's DynamicScan (scan/dynamic.rs:53) iterates the same
    ordered KV range as a static TableScan, so `FROM $tb` and
    `FROM type::table(expr)` must page in record-id order under
    LIMIT/START exactly like a plain `FROM tb` — the KV-order gate keys
    on the RESOLVED table name, not the source's syntactic shape
    (dbs/iterator.rs:63-65 ordered scan guarantee).
    """
    names: list[str] = []
    _ident = __import__("re").compile(r"^[A-Za-z_]\w*$")

    def _tbl(v):
        return v if isinstance(v, str) and _ident.match(v) else None

    for s in sources:
        if isinstance(s, str):
            names.append(s)
            continue
        if isinstance(s, tuple) and s[0] == "paramsrc":
            t = _tbl(params.get(s[1]))
            if t:
                names.append(t)
            continue
        if isinstance(s, tuple) and s[0] == "exprsrc":
            ast = s[1]
            items = ast[1] if ast[0] == "array" else [ast]
            for it in items:
                if it[0] == "call" and it[1] == "type::table" and it[2]:
                    arg = it[2][0]
                    if arg[0] == "param":
                        t = _tbl(params.get(arg[1]))
                    elif arg[0] == "lit":
                        t = _tbl(arg[1])
                    else:
                        t = None
                    if t:
                        names.append(t)
    return names


def compile_select(spark: SparkSession, sel: Select, sf_dir: str | None = None,
                   catalog: Catalog | None = None, params: dict | None = None) -> DataFrame:
    cat = catalog or Catalog(spark, sf_dir)
    params = params or {}

    if sel.fields and any(
            f.expr[0] == "call" and f.expr[1] in ("type::field",
                                                  "type::fields")
            for f in sel.fields):
        # type::field('a.b') / type::fields([...]) projections rewrite to
        # the named idiom paths (fnc/type.rs field/fields are projection
        # macros in SELECT context)
        from dataclasses import replace as _repl

        from surrealdb_spark.sql.parser import Field as _Fld
        from surrealdb_spark.sql.parser import parse_expr as _pe

        newf = []
        for f in sel.fields:
            e = f.expr
            if e[0] == "call" and e[1] in ("type::field", "type::fields"):
                arg = e[2][0] if e[2] else None
                val = None
                if arg is not None and arg[0] == "lit":
                    val = arg[1]
                elif arg is not None and arg[0] == "param":
                    val = params.get(arg[1])
                elif arg is not None and arg[0] == "array" and all(
                        x[0] == "lit" for x in arg[1]):
                    val = [x[1] for x in arg[1]]
                if val is None:
                    raise ValueError(f"{e[1]} requires a literal/parameter "
                                     "field name")
                paths = val if isinstance(val, list) else [val]
                for pth in paths:
                    newf.append(_Fld(_pe(str(pth)), f.alias, str(pth)))
                continue
            newf.append(f)
        sel = _repl(sel, fields=newf)

    # source (multi-source FROM = Union, exec/operators/union.rs:19;
    # FROM-subquery = nested plan, SourceExpr/DynamicScan analogue)
    def resolve(src) -> DataFrame:
        if isinstance(src, Select):
            sub = compile_select(spark, src, sf_dir, cat, params)
            if sub.columns == ["value"]:
                # FROM (SELECT VALUE id FROM t) — record ids re-resolve to
                # their records (select.rs source iteration on Thing values)
                rec = _records_from_ids(sub, resolve)
                if rec is not None:
                    return rec
            return sub
        if isinstance(src, tuple) and src[0] == "emptysrc":
            # FROM NONE/NULL — zero iterations (value-shaped so $this binds)
            return spark.range(0).select(F.lit(None).alias("value"))
        if isinstance(src, tuple) and src[0] == "exprsrc":
            # FROM [values] / FROM <scalar expr>: NONE entries vanish,
            # record ids resolve to their records, plain values become
            # one-row-per-value frames (select.rs source exprs)
            ast = src[1]
            items = ast[1] if ast[0] == "array" else [ast]
            if len(items) == 1:
                it0 = items[0]
                if it0[0] == "object":
                    # an object SOURCE iterates as one document whose
                    # fields resolve directly — incl. geometry-shaped
                    # objects reading type/coordinates (value/idiom on
                    # Geometry; primitive/geometry/inner_access.surql)
                    return spark.range(1).select(
                        *[compile_expr(v, params).alias(k)
                          for k, v in it0[1]])
                if it0[0] == "geom_point" or (
                        it0[0] == "call" and it0[1] == "type::point"
                        and it0[2]):
                    if it0[0] == "geom_point":
                        coords = F.array(
                            compile_expr(it0[1], params).cast("double"),
                            compile_expr(it0[2], params).cast("double"))
                    else:
                        coords = compile_expr(it0[2][0], params)
                    return spark.range(1).select(
                        F.lit("Point").alias("type"),
                        coords.alias("coordinates"))
            rec_outs, val_cols = [], []
            for it in items:
                if it in (("lit", None), ("nulllit",)):
                    continue
                if it[0] == "call" and it[1] == "type::table" and it[2]:
                    # FROM type::table(expr) — DynamicScan on a runtime
                    # table name (scan/dynamic.rs:53): the name is a
                    # driver-scoped scalar (literal/param), so resolve it
                    # and scan the table
                    arg = it[2][0]
                    if arg[0] == "param":
                        name = params.get(arg[1])
                    elif arg[0] == "lit":
                        name = arg[1]
                    else:
                        name = spark.range(1).select(
                            compile_expr(arg, params).alias("v")
                        ).first()["v"]
                    rec_outs.append(resolve(str(name)))
                    continue
                if it[0] == "lit" and isinstance(it[1], str) \
                        and _RID_RE.match(it[1]):
                    tb, _, key = it[1].partition(":")
                    rec_outs.append(resolve(("idpoint", tb,
                                             int(key) if key.isdigit() else key)))
                elif _infer(it, {}, params) == "array":
                    # FROM <array>0..10 — array value iterates row-per-element
                    rec_outs.append(spark.range(1).select(
                        F.explode(compile_expr(it, params)).alias("value")))
                else:
                    val_cols.append(compile_expr(it, params))
            outs = list(rec_outs)
            if val_cols:
                outs.append(spark.range(1).select(
                    F.explode(F.array(*val_cols)).alias("value")))
            if not outs:
                return spark.range(0)
            out = outs[0]
            for o in outs[1:]:
                out = out.unionByName(o, allowMissingColumns=True)
            return out
        if isinstance(src, tuple) and src[0] == "pathsrc":
            # FROM rid->edge[:range]... — the walked edge/target ROWS
            # (SourceExpr over a GraphEdgeScan chain) through the same
            # join-based lookup engine, then exploded back to records
            specs: list = []
            new = _extract_lookups(src[1], specs, rows_hint=True)
            seed = spark.range(1).select(F.lit("__src__").alias("id"))
            if not specs:
                raise ValueError("path source without a graph lookup")
            attached = _attach_lookup_specs(spark, seed, cat, specs, params)
            col = compile_expr(new, params, types_of(attached))
            return attached.select(F.explode(col).alias("__row")) \
                .select("__row.*")
        if isinstance(src, tuple) and src[0] == "mocksrc":
            # |tb:n| / |tb:lo..hi| as a SELECT source reads the records with
            # those ids (expr/mock.rs) — an id-range scan, so absent records
            # simply don't match
            _, mtb, lo, hi = src
            if hi is None:
                lo, hi = 1, lo
            return resolve(("idrange", mtb, lo, hi, True))
        if isinstance(src, tuple) and src[0] == "paramsrc":
            # DynamicScan (scan/dynamic.rs:53): dispatch on the bound value —
            # a table name, a record id 'tb:key', or a list of either
            v = params.get(src[1])
            if v is None:
                raise KeyError(f"unbound source parameter ${src[1]}")
            vals = v if isinstance(v, list) else [v]
            outs = []
            plain: list = []
            for item in vals:
                s = str(item)
                if isinstance(item, str) and _RID_RE.match(s):
                    tb, _, key = s.partition(":")
                    outs.append(resolve(("idpoint", tb, int(key) if key.isdigit() else key)))
                elif isinstance(item, str) and item.replace("_", "").isalnum() \
                        and not isinstance(v, list):
                    outs.append(resolve(s))  # bare table name
                else:
                    plain.append(item)  # plain bound values become rows
            if plain:
                if all(isinstance(x, dict) and x for x in plain):
                    # object rows (writable-subquery results) scan as
                    # records with their own columns (scan/dynamic.rs)
                    from pyspark.sql import Row as _Row

                    def _rowify(x):
                        if isinstance(x, dict) and x:
                            return _Row(**{k: _rowify(v2)
                                           for k, v2 in x.items()})
                        if isinstance(x, list):
                            return [_rowify(e) for e in x]
                        return x

                    outs.append(local_frame(
                        spark, [_rowify(x) for x in plain]))
                else:
                    outs.append(local_frame(
                        spark, [(x,) for x in plain]).toDF("value"))
            out = outs[0]
            for o in outs[1:]:
                out = out.unionByName(o, allowMissingColumns=True)
            return out
        if isinstance(src, tuple) and src[0] in ("idpoint", "idrange"):
            # RecordIdScan / record-id RANGE scan (record_id/key.rs:31-32;
            # planner fast path select.rs:1346-1382).  Lowers to a key-column
            # predicate so parquet min/max pruning + PushedFilters apply —
            # Catalyst's answer to the reference's ordered-KV range seek.
            t = resolve(src[1])
            lo_excl = False
            if (src[0] == "idrange" and isinstance(src[2], tuple)
                    and src[2][0] == "xlo"):
                # `tb:lo>..hi` exclusive lower bound (record_id/key.rs)
                lo_excl = True
                src = (src[0], src[1], src[2][1], src[3], src[4])
            bounds = [b for b in (src[2], src[3] if src[0] == "idrange" else None)
                      if b is not None]
            if any(isinstance(b, tuple) and b[0] == "karr" for b in bounds):
                # array-key bounds (record_id/key.rs Array Ord): element-wise
                # VALUE order.  The bound's elements evaluate driver-side
                # (literals/params — one tiny job); rows compare via an
                # order-preserving key encoding (values.key_sort_text),
                # computed distributed by an Arrow-batched UDF over `id`.
                from surrealdb_spark.values import (
                    encode_key_value, key_sort_udf, render_rid_vals)

                def _bound(b):
                    if not (isinstance(b, tuple) and b[0] == "karr"):
                        return encode_key_value(b), str(b)
                    ast = b[1]
                    elems = ast[1] if ast[0] == "array" else [ast]
                    row = spark.range(1).select(*[
                        compile_expr(e, params).alias(f"v{i}")
                        for i, e in enumerate(elems)]).first()
                    vals = [row[f"v{i}"] for i in range(len(elems))]
                    return (encode_key_value([None if v == "NONE" else v
                                              for v in vals]),
                            render_rid_vals(vals))

                if src[0] == "idpoint":
                    _, txt = _bound(src[2])
                    return t.filter(
                        F.col("id") == F.lit(f"{src[1]}:{txt}"))
                _, _tb, lo, hi, incl = src
                enc = key_sort_udf()(F.col("id"))
                if lo is not None:
                    b1 = F.lit(_bound(lo)[0])
                    t = t.filter(enc > b1 if lo_excl else enc >= b1)
                if hi is not None:
                    b2 = F.lit(_bound(hi)[0])
                    t = t.filter(enc <= b2 if incl else enc < b2)
                return t
            numeric = all(isinstance(b, int) for b in bounds) and bool(bounds)
            kc = _id_key_col(t, src[1], numeric)
            if src[0] == "idpoint":
                return t.filter(kc == F.lit(src[2]))
            _, _tb, lo, hi, incl = src
            if lo is not None:
                t = t.filter(kc > F.lit(lo) if lo_excl else kc >= F.lit(lo))
            if hi is not None:
                t = t.filter(kc <= F.lit(hi) if incl else kc < F.lit(hi))
            return t
        t = cat.table(src)
        if "id" not in t.columns:
            # every record exposes its RecordId as `id` (types/src/value/
            # record_id) — synthesize the canonical tb:key form
            try:
                from surrealdb_spark.operators.graph import record_id

                t = t.withColumn("id", record_id(src, _guess_id_col(t, src)))
            except KeyError:
                pass
        # row-level SELECT permission: a plain filter BEFORE user clauses,
        # so Catalyst pushes it into the scan like any predicate
        # (exec/permission.rs; schema/mod.rs:42-47)
        perm = cat.permissions.get(src)
        if perm is not None:
            if perm is False:
                t = t.filter(F.lit(False))
            else:
                from surrealdb_spark.operators.misc import with_permissions

                t = with_permissions(t, perm, cat.auth)
        return t

    def _records_from_ids(vdf: DataFrame, resolve) -> DataFrame | None:
        """Value frame of record-id strings → the records themselves.
        Driver-bounded (10k ids) — this is the FROM-(SELECT VALUE) OLTP
        path, not an analytics scan."""
        vals = [r[0] for r in vdf.limit(10_001).collect()]
        if not vals or len(vals) > 10_000:
            return None
        if not all(isinstance(v, str) and _RID_RE.match(v) for v in vals):
            return None
        by_tab: dict[str, list] = {}
        for v in vals:
            tb, _, k = v.partition(":")
            by_tab.setdefault(tb, []).append(int(k) if k.isdigit() else k)
        outs = []
        for tb, keys in by_tab.items():
            try:
                t = resolve(tb)
            except Exception:
                return None
            numeric = all(isinstance(k, int) for k in keys)
            kc = _id_key_col(t, tb, numeric)
            outs.append(t.filter(kc.isin(keys)))
        out = outs[0]
        for o in outs[1:]:
            out = out.unionByName(o, allowMissingColumns=True)
        return out

    dfs = [resolve(s) for s in sel.sources]
    df = dfs[0]
    for other in dfs[1:]:
        # numeric-family slots widen before the union (FROM pts, pts2
        # where one table stored array<bigint> and the other
        # array<double> — Spark union has no implicit array widening)
        st, ot = dict(df.dtypes), dict(other.dtypes)
        for c in set(st) & set(ot):
            if st[c] == ot[c]:
                continue
            tgt = _union_merge_dt(st[c], ot[c])
            if tgt is None:
                continue
            if st[c] != tgt:
                df = df.withColumn(c, F.col(c).cast(tgt))
            if ot[c] != tgt:
                other = other.withColumn(c, F.col(c).cast(tgt))
        df = df.unionByName(other, allowMissingColumns=True)
    if df.columns == ["value"]:
        # bare-value source rows: $this denotes the row value
        params = {**params, "this": F.col("value")}
    types = types_of(df)  # static dispatch for /, ?:, count(expr)

    # `(SELECT $parent.x, ... FROM ONLY <scalar>)` projections inline into
    # the outer frame first: the scalar FROM is one row per outer row, so
    # the subquery is just an object of its fields evaluated in the outer
    # context (graph/parent_in_where.surql) — inlining before lookup
    # extraction lets embedded graph paths join-attach normally
    if sel.fields and sel.group is None:
        # (grouped outer selects keep the error path — $parent has no
        # per-row binding under GROUP BY, group/parent.surql)
        inl = [(i, _inline_scalar_subquery(f))
               for i, f in enumerate(sel.fields)]
        if any(e is not None for _i, e in inl):
            fields2 = list(sel.fields)
            for i, e in inl:
                if e is not None:
                    import dataclasses as _dc0

                    fields2[i] = _dc0.replace(fields2[i], expr=e)
            sel = _replace(sel, fields=fields2)

    # record-link (string) and array-of-record-link columns: dereferenced
    # below; lookup and deref slots only ever add `__`-named columns
    str_cols = {c for c, t in df.dtypes if t == "string" and c != "id"
                and not c.startswith("__")}
    arr_cols = {c for c, t in df.dtypes if t == "array<string>"
                and not c.startswith("__")}

    # WHERE first: conjuncts that need no lookup or deref slot filter the
    # source before any slot is attached.  Each attach ends in a left join
    # on `id`, and Catalyst pushes a filter above it into the outer side
    # only, so every lookup would otherwise run for all source records
    # (the reference filters records before computing projections).  KNN
    # and subquery conjuncts keep their place below.
    if sel.where is not None:
        rest, early = _pull_conjuncts(sel.where, lambda n: not (
            _has_lookup(n) or _has_deref(n, str_cols)
            or _has_array_deref(n, arr_cols)
            or _has_node(n, ("subquery", "knn"))))
        if early:
            known = {**{c: "void" for c in df.columns}, **types}
            cond = reduce(lambda a, b: ("bin", "AND", a, b), early)
            df = df.filter(compile_expr(_null_unknown_idents(cond, known),
                                        params, types))
            sel = _replace(sel, where=rest)

    # graph lookups anywhere in WHERE / fields / VALUE / ORDER are
    # extracted to hidden join-computed columns first (operators/lookup.py;
    # exec chains GraphEdgeScan per segment — here one equi-join per edge
    # segment, re-nested per source row)
    lookup_slots: list = []
    if (
        (sel.where is not None and _has_lookup(sel.where))
        or (sel.value_expr is not None and _has_lookup(sel.value_expr))
        or (sel.fields and any(_has_lookup(f.expr) for f in sel.fields))
        or any(_has_lookup(k.expr) for k in (sel.order or []))
    ):
        from surrealdb_spark.sql.parser import Field as _FieldCls

        specs: list = []
        new_where = (_extract_lookups(sel.where, specs, bool_ctx=True)
                     if sel.where is not None else None)
        new_value = (_extract_lookups(sel.value_expr, specs)
                     if sel.value_expr is not None else None)
        new_fields = None
        if sel.fields:
            # unaliased PLAIN graph-path projections nest per segment
            # (`->knows.when` → {"->knows": {when: [...]}} — Document::set
            # at the idiom path, expr/idiom.rs simplification); paths with
            # subquery/filtered segments keep their verbatim text as ONE
            # flat key (graph/subqueries.surql expected shape)
            chains = {}
            heads: dict = {}
            for fi, f in enumerate(sel.fields):
                if f.alias is None and _has_lookup(f.expr):
                    ch = _projection_chain(f.expr)
                    if ch and len(ch) > 1:
                        chains[fi] = ch
                        heads[ch[0]] = heads.get(ch[0], 0) + 1
            new_fields = []
            for fi, f in enumerate(sel.fields):
                if not _has_lookup(f.expr):
                    new_fields.append(f)
                    continue
                ext = _extract_lookups(f.expr, specs)
                ch = chains.get(fi)
                if ch and heads.get(ch[0], 0) == 1:
                    # nest: head key column, inner keys wrap as objects
                    for k in reversed(ch[1:]):
                        ext = ("object", [(k, ext)])
                    new_fields.append(_FieldCls(ext, ch[0]))
                else:
                    # duplicate heads need element-wise document merge
                    # (not expressible column-wise) — verbatim flat key
                    new_fields.append(
                        _FieldCls(ext, f.alias or getattr(f, "text", None)))
        new_order = [
            dataclasses_replace_order(k, _extract_lookups(k.expr, specs))
            if _has_lookup(k.expr) else k
            for k in (sel.order or [])
        ]
        if specs:
            df = _attach_lookup_specs(spark, df, cat, specs, params)
            lookup_slots = [s[0] for s in specs]
            types = types_of(df)
        sel = _replace(sel, where=new_where, value_expr=new_value,
                       fields=new_fields if sel.fields else sel.fields,
                       order=new_order)

    # record-link dereference: `link.field` over string record-id columns
    # → one left join each (value/idiom.rs deref; operators/lookup.py)
    if str_cols and (
        (sel.where is not None and _has_deref(sel.where, str_cols))
        or (sel.fields and any(_has_deref(f.expr, str_cols)
                               for f in sel.fields))
        or (sel.value_expr is not None
            and _has_deref(sel.value_expr, str_cols))
        or any(_has_deref(k.expr, str_cols) for k in (sel.order or []))
    ):
        from surrealdb_spark.operators import lookup as LK
        from surrealdb_spark.sql.parser import Field as _FieldCls2

        dspecs: list = []
        new_where = (_extract_derefs(sel.where, str_cols, dspecs)
                     if sel.where is not None else None)
        new_value = (_extract_derefs(sel.value_expr, str_cols, dspecs)
                     if sel.value_expr is not None else None)
        new_fields = sel.fields
        if sel.fields:
            # unaliased `link.field` projections nest (`brother.name` →
            # {brother: {name: v}}), replacing the star's flat column
            # (Document::set at the idiom path — value/idiom.rs)
            new_fields = []
            for f in sel.fields:
                if not _has_deref(f.expr, str_cols):
                    new_fields.append(f)
                    continue
                ext = _extract_derefs(f.expr, str_cols, dspecs)
                ch = None
                if (f.alias is None and f.expr[0] == "path"
                        and f.expr[1][0] == "ident"
                        and all(p[0] == "field" for p in f.expr[2])):
                    ch = [f.expr[1][1]] + [p[1] for p in f.expr[2]]
                if ch:
                    for k in reversed(ch[1:]):
                        ext = ("object", [(k, ext)])
                    new_fields.append(_FieldCls2(ext, ch[0]))
                else:
                    new_fields.append(
                        _FieldCls2(ext, f.alias or getattr(f, "text", None)))
        new_order = [
            dataclasses_replace_order(k, _extract_derefs(k.expr, str_cols,
                                                         dspecs))
            if _has_deref(k.expr, str_cols) else k
            for k in (sel.order or [])
        ]
        for slot, col_, chain in dspecs:
            df = LK.attach_deref(df, cat, slot, col_, chain)
        lookup_slots += [s[0] for s in dspecs]
        types = types_of(df)
        sel = _replace(sel, where=new_where, value_expr=new_value,
                       fields=new_fields, order=new_order)

    # array-of-record-link projections: `tags.name` / `tags.{id,name}` /
    # `tags.*.name` over array<string> record-id columns → posexplode +
    # join + ordered re-collect (expr/part.rs Field/Destructure over
    # arrays; operators/lookup.attach_array_deref)
    if arr_cols and (
        (sel.where is not None and _has_array_deref(sel.where, arr_cols))
        or (sel.fields and any(_has_array_deref(f.expr, arr_cols)
                               for f in sel.fields))
        or (sel.value_expr is not None
            and _has_array_deref(sel.value_expr, arr_cols))
        or any(_has_array_deref(k.expr, arr_cols)
               for k in (sel.order or []))
    ):
        from surrealdb_spark.operators import lookup as LK
        from surrealdb_spark.sql.parser import Field as _FieldCls3

        aspecs: list = []
        new_where = (_extract_array_derefs(sel.where, arr_cols, aspecs)
                     if sel.where is not None else None)
        new_value = (_extract_array_derefs(sel.value_expr, arr_cols,
                                           aspecs)
                     if sel.value_expr is not None else None)
        new_fields = sel.fields
        if sel.fields:
            # unaliased `tags.f` projections nest under the base field and
            # MERGE across projections (`tags.id, tags.name` →
            # {tags: {id: [...], name: [...]}}); destructure keeps the
            # base name whole (`tags.{id,name}` → tags: [{id,name}])
            new_fields = []
            merged: dict[str, tuple] = {}  # base -> (Field idx, pairs)
            for f in sel.fields:
                sq = _this_array_subquery(f.expr, arr_cols)
                if sq is not None:
                    # `(SELECT f, g FROM $this.<arr> WHERE ...)` — the
                    # same explode-join-recollect, with a per-element
                    # filter over the dereferenced record
                    col0, names, wast = sq
                    slot = f"__ar_s{len(aspecs)}"
                    aspecs.append((slot, col0, names, wast))
                    new_fields.append(_FieldCls3(
                        ("ident", slot),
                        f.alias or getattr(f, "text", None)))
                    continue
                shape = _array_deref_shape(f.expr, arr_cols) \
                    if f.alias is None else None
                if shape is None:
                    if not _has_array_deref(f.expr, arr_cols):
                        new_fields.append(f)
                    else:
                        ext = _extract_array_derefs(f.expr, arr_cols,
                                                    aspecs)
                        new_fields.append(_FieldCls3(
                            ext, f.alias or getattr(f, "text", None)))
                    continue
                base_col, kind_, payload = shape
                slot = f"__ar_s{len(aspecs)}"
                if kind_ == "destructure":
                    aspecs.append((slot, base_col, payload))
                    new_fields.append(_FieldCls3(("ident", slot),
                                                 base_col))
                else:  # single field under the base
                    aspecs.append((slot, base_col, [payload]))
                    if base_col in merged:
                        merged[base_col][1].append((payload,
                                                    ("ident", slot)))
                    else:
                        pairs = [(payload, ("ident", slot))]
                        merged[base_col] = (len(new_fields), pairs)
                        new_fields.append(None)  # placeholder
            for base_col, (idx, pairs) in merged.items():
                new_fields[idx] = _FieldCls3(("object", pairs), base_col)
            new_fields = [f for f in new_fields if f is not None]
        new_order = [
            dataclasses_replace_order(
                k, _extract_array_derefs(k.expr, arr_cols, aspecs))
            if _has_array_deref(k.expr, arr_cols) else k
            for k in (sel.order or [])
        ]
        for spec in aspecs:
            if len(spec) == 4:
                slot, col_, fields_, wast = spec
                df = LK.attach_array_deref(df, cat, slot, col_, fields_,
                                           wast, compile_expr, types_of,
                                           params)
            else:
                slot, col_, fields_ = spec
                df = LK.attach_array_deref(df, cat, slot, col_, fields_)
        lookup_slots += [s[0] for s in aspecs]
        types = types_of(df)
        sel = _replace(sel, where=new_where, value_expr=new_value,
                       fields=new_fields, order=new_order)

    # filter — IN/NOTINSIDE (subquery) conjuncts become semi/anti joins
    # (Catalyst decorrelation territory, SURVEY §4; here: explicit rewrite)
    knn_specs: list[tuple] = []
    if sel.where is not None:
        # fields no row carries are NONE, not an analysis error
        # (schemaless semantics: `identifier > 0` over a table without
        # the column filters everything out)
        known = {**{c: "void" for c in df.columns}, **types}
        sel = _replace(sel, where=_null_unknown_idents(sel.where, known))
    if sel.where is not None:
        sel_where, knn_specs = _split_knn_filters(sel.where)
        sel = _replace(sel, where=sel_where)
    if sel.where is not None:
        rest, sub_filters = _split_subquery_filters(sel.where)
        for lhs_ast, sub_sel, positive in sub_filters:
            sub_df = compile_select(spark, sub_sel, sf_dir, cat, params)
            key = sub_df.columns[0]
            lhs = compile_expr(lhs_ast, params, types)
            probe = sub_df.select(F.col(key).alias("__sq"))
            df = df.join(
                probe, lhs == probe.__sq, "left_semi" if positive else "left_anti"
            )
        if rest is not None:
            df = df.filter(compile_expr(rest, params, types))

    # KNN `<|k[,metric]|>` — global top-k by distance after the other
    # filters (operator.rs NearestNeighbor → KnnScan; brute-force path of
    # operators/knn.py: TakeOrderedAndProject, no full sort at scale)
    for k, metric, lhs_ast, rhs_ast in knn_specs:
        from surrealdb_spark.functions import vector as V

        lhs = compile_expr(lhs_ast, params, types)
        rhs = compile_expr(rhs_ast, params, types)
        mname = (metric or "euclidean").lower()
        use_f32 = False
        if mname.isdigit():
            # `<|k, ef|>`: the 2nd arg is the HNSW ef parameter — the
            # metric comes from the field's index DIST (scan/knn.rs);
            # vectors are stored at the index TYPE (F32 default —
            # schema/index.rs VectorType), so sums accumulate in f32
            mname = "euclidean"
            if isinstance(lhs_ast, tuple) and lhs_ast[0] == "ident":
                for (tb0, f0), (mm, vtype) in cat.hnsw.items():
                    if f0 == lhs_ast[1] and (
                            not sel.sources or tb0 in sel.sources):
                        mname = mm
                        use_f32 = vtype != "F64"
                        break
        f32 = {
            "cosine": V.cosine_distance_f32,
            "euclidean": V.euclidean_f32,
            "manhattan": V.manhattan_f32,
        } if use_f32 else {}
        dist_fn = f32.get(mname) or V.METRICS.get(mname)
        if dist_fn is None:
            raise ValueError(f"unsupported KNN distance: {mname.upper()}")
        dist = dist_fn(lhs, rhs)
        # keep the computed distance as `_distance` so
        # vector::distance::knn() (fnc/vector.rs knn) can reference it;
        # dropped again unless the query mentions the function
        df = df.withColumn("_distance", dist).orderBy("_distance").limit(k)
        if not _mentions_knn_fn(sel):
            df = df.drop("_distance")
        else:
            types = types_of(df)

    # split (explode, operators/split.rs:13-20; non-array fields pass
    # through as single-element)
    for f_ in sel.split:
        if f_ not in df.columns:
            continue  # SPLIT on an absent field passes rows through
        dt = dict(df.dtypes).get(f_, "")
        col = F.col(f_) if dt.startswith("array") else F.array(F.col(f_))
        df = df.withColumn(f_, F.explode(col))

    # aggregate
    is_grouped = sel.group is not None
    if is_grouped and sel.group and sel.fields:
        def _has_this(a):
            if isinstance(a, tuple):
                if a[0] == "param" and a[1] in ("this", "self"):
                    return True
                return any(_has_this(x) for x in a[1:])
            if isinstance(a, list):
                return any(_has_this(x) for x in a)
            return False

        for f in sel.fields:
            if _has_this(f.expr):
                # $this has no meaning for a grouped row
                # (statements/select/group/this.surql)
                raise ValueError("$this cannot be used in a GROUP BY query")
    post_fields: list[tuple] = []
    grouped_fields = sel.fields
    if is_grouped and sel.value_expr is not None:
        # SELECT VALUE <agg-expr> ... GROUP — single bare aggregate
        from surrealdb_spark.sql.parser import Field as _Field

        grouped_fields = [_Field(sel.value_expr, "value")]
    if is_grouped and sel.star:
        # `SELECT *, agg() ... GROUP BY` — * has no aggregate meaning
        # (exec/planner/aggregate.rs selector validation)
        raise ValueError(
            "Incorrect selector for aggregate selection, expression `*` "
            "within in selector cannot be aggregated in a group.")
    if is_grouped:
        aggs: list[Column] = []
        # a group key may name an output ALIAS (`SELECT target AS city_id
        # ... GROUP BY city_id`) — resolve to the aliased expression when
        # the name isn't a source column (group.rs groups the projection)
        galias = {f.alias: f.expr for f in (grouped_fields or [])
                  if f.alias and f.expr != ("ident", f.alias)}
        group_keys: list[tuple] = []   # duplicate keys collapse
        for g in sel.group:            # (GROUP BY field, field)
            if g not in group_keys:
                group_keys.append(g)
        gexprs = [galias[g[1]] if (g[0] == "ident" and g[1] in galias
                                   and g[1] not in types) else g
                  for g in group_keys]
        keys = []
        for g in gexprs:
            if g[0] == "ident" and g[1] not in types:
                # grouping by a field no row carries: one NULL group
                # (group/group_nonexistent_fields.surql)
                keys.append(F.lit(None).cast("string"))
            else:
                keys.append(compile_expr(g, params, types))
        key_names = []
        key_dotted: dict[int, str] = {}
        for i, g in enumerate(group_keys):
            if g[0] == "ident":
                key_names.append(g[1])
            elif (g[0] == "path" and g[1][0] == "ident"
                  and g[2] and all(p[0] == "field" for p in g[2])):
                # GROUP BY address.city: flat __k slot, re-nested to
                # { address: { city } } at projection (group.rs nests
                # the grouped projection by its idiom path)
                key_names.append(f"__k{i}")
                key_dotted[i] = ".".join(
                    [g[1][1]] + [p[1] for p in g[2]])
            else:
                key_names.append(f"__k{i}")
        # kinded (heterogeneous) group keys carry their kind sidecar
        # through the aggregation so the output decodes back to values
        # (values.py kinded columns; group_mixed_types.surql)
        kinded_keys: list[str] = []
        for g in gexprs:
            if g[0] == "ident" and "__k_" + g[1] in types:
                sc = "__k_" + g[1]
                keys.append(F.col(sc))
                key_names.append(sc)
                kinded_keys.append(g[1])
        assert grouped_fields is not None, "GROUP BY requires an explicit field list"
        out_names: set[str] = set(key_names)
        for fld in grouped_fields:
            name = fld.alias or _default_name(fld.expr)
            if fld.expr in group_keys and fld.expr[0] != "ident":
                # a non-ident projection that IS a group key (path keys:
                # `SELECT address.city ... GROUP BY address.city`)
                i = group_keys.index(fld.expr)
                post_fields.append((("ident", key_names[i]),
                                    fld.alias or key_dotted.get(i, name)))
                out_names.add(fld.alias or key_dotted.get(i, name))
                continue
            if (fld.expr[0] == "ident" and fld.expr[1] in key_names) \
                    or (fld.alias and fld.alias in key_names):
                # the key column itself (by name, or by its alias when the
                # GROUP BY names the projection alias)
                post_fields.append((("ident", fld.alias)
                                    if fld.alias in key_names
                                    else fld.expr, name))
                continue
            if _has_aggregate(fld.expr):
                post_fields.append((_decompose(fld.expr, aggs, params, types), name))
            else:
                # non-aggregate field under GROUP BY accumulates the group's
                # values into an array (language-tests group/accumulate:
                # SELECT v, g ... GROUP BY g → v: [1,2,3]) in SCAN order —
                # the reference collects over the id-ordered KV iterator
                # (fetch/group_by.surql wants [Bob, Alice] for user:1,
                # user:2); fall back to value sort without an id spine
                alias = f"__agg{len(aggs)}"
                c_ = compile_expr(fld.expr, params, types)
                aggs.append(
                    (_ocollect(c_) if "id" in types else
                     F.sort_array(F.collect_list(c_))).alias(alias)
                )
                post_fields.append((("ident", alias), name))
            out_names.add(name)
        if keys:
            gb = df.groupBy(*[c.alias(n)
                              for c, n in zip(keys, key_names)])
            df = gb.agg(*aggs) if aggs else gb.agg(
                F.count(F.lit(1)).alias("__n")).drop("__n")
        else:
            # GROUP ALL is a global aggregate: zero input rows still emit
            # the one all-group row (group/group_all_where.surql expects
            # `[{ count: 0 }]` when WHERE filters everything) — UNLESS
            # every source is permission-NONE: a denied table yields []
            # outright (exec/permission.rs; count_group_all_permissions)
            def _src_tbl(s):
                if isinstance(s, str):
                    return s
                if isinstance(s, tuple) and s[0] in ("idrange", "idpoint"):
                    return s[1]
                return None

            perms = cat.permissions
            denied = sel.sources and all(
                _src_tbl(s) is not None
                and perms.get(_src_tbl(s)) is False for s in sel.sources)
            if params.get("__compute_only"):
                # compute-only planner strategy streams the aggregate
                # per-record: zero input rows emit NO all-group row
                # (5581_select_count_with_index.surql) — groupBy over a
                # constant key gives exactly those semantics
                gb = df.groupBy(F.lit(1).alias("__g1"))
                df = (gb.agg(*aggs) if aggs else gb.agg(
                    F.count(F.lit(1)).alias("__n")).drop("__n"))
                df = df.drop("__g1")
            else:
                gb = df.groupBy()
                df = gb.agg(*aggs) if aggs else gb.agg(
                    F.count(F.lit(1)).alias("__n")).drop("__n")
            if denied:
                df = df.limit(0)

    # sort (Sort/SortTopK; with LIMIT Catalyst emits TakeOrderedAndProject)
    # grouped selects sort AFTER the aggregate projection — ORDER BY
    # references output aliases whose exprs contain aggregates, which the
    # scalar compile path can't re-express (order.rs sorts the projected
    # document); handled below the GROUP projection
    if sel.order and not is_grouped:
        # ORDER BY may reference an output alias (`... AS distance ORDER
        # BY distance`) — resolve to the aliased expression when the name
        # isn't a source column (order.rs sorts the projected document)
        alias_map = {f.alias: f.expr for f in (sel.fields or [])
                     if f.alias and f.expr != ("ident", f.alias)}
        order_cols = []
        for k in sel.order:
            if (k.expr[0] == "ident" and k.expr[1] in alias_map
                    and k.expr[1] not in types):
                k = dataclasses_replace_order(k, alias_map[k.expr[1]])
            c = compile_expr(k.expr, params, types)
            if k.expr == ("ident", "id"):
                # record ids order by KV key semantics: table, then
                # numeric keys before strings before arrays, numerically
                # (record_id/key.rs ord) — not lexicographically
                c = _rid_order_key(c)
            if k.numeric:
                # ORDER NUMERIC: natural sort by embedded number then text
                c = F.struct(
                    F.regexp_extract(c.cast("string"), r"(\d+)", 1).cast("bigint"),
                    c.cast("string"),
                )
            elif k.collate:
                # ORDER COLLATE: locale-aware unicode collation (order.rs
                # Ordering::collate) — Spark 4 ICU collations, JVM-side
                c = F.collate(c.cast("string"), "UNICODE")
            if (k.expr[0] == "ident"
                    and "__k_" + k.expr[1] in df.columns):
                # geometry kinds carry a TYPE rank ahead of the value:
                # Point < Line < Polygon < MultiPoint < MultiLine <
                # MultiPolygon < Collection (types/src/value/geometry.rs
                # PartialOrd; order_geometry_mixed.surql)
                kc2 = F.col("__k_" + k.expr[1])
                grank = F.lit(7)
                for rank_i, gk in enumerate(
                        ("point", "line", "polygon", "multipoint",
                         "multiline", "multipolygon", "collection")):
                    grank = F.when(kc2 == F.lit(f"geometry<{gk}>"),
                                   F.lit(rank_i)).otherwise(grank)
                has_geo = kc2.startswith("geometry<")
                gleg = F.when(has_geo, grank).otherwise(F.lit(None))
                order_cols.append(gleg.desc_nulls_last() if k.desc
                                  else gleg.asc_nulls_first())
            if ("__present" in df.columns and k.expr[0] == "ident"
                    and k.expr[1] in df.columns and k.expr[1] != "id"):
                # NONE < NULL < value rank ahead of the key itself
                # (value total order; unique_index_reverse_range_none_
                # upper_bound.surql: NONE rows before NULL rows ASC)
                pres = _presence_col(k.expr, types_of(df))
                if pres is not None:
                    rank = (F.when(~pres, 0)
                            .when(F.col(k.expr[1]).isNull(), 1)
                            .otherwise(2))
                    order_cols.append(rank.desc() if k.desc
                                      else rank.asc())
            order_cols.append(c.desc() if k.desc else c.asc())
        if ("__present" in df.columns and "id" in df.columns
                and not any(k.expr == ("ident", "id") for k in sel.order)):
            # deterministic tie-break: the reference's in-memory sort is
            # stable over the id-ordered KV scan, so ties come out in
            # record-id order (reversed under DESC)
            kc = _rid_order_key(F.col("id"))
            order_cols.append(kc.desc() if sel.order[-1].desc else kc.asc())
        df = df.orderBy(*order_cols)

    # limit/start (operators/limit.rs; Spark offset() is 3.4+).  Without an
    # ORDER BY the reference pages in record-id order (ordered KV scan);
    # Spark row order is partition-dependent, so pin it when paging.
    # (bare LIMIT keeps Spark's cheap any-N take — a global sort for every
    # LIMIT would be wrong at scale; START paging is where determinism pays)
    str_srcs = _kv_order_sources(sel.sources, params)
    # only table-name sources (plain strings, or dynamic sources that
    # resolve to one: FROM $tb / type::table(expr) — scan/dynamic.rs:53
    # scans the SAME ordered KV range as a static table scan, so LIMIT'd
    # dynamic scans page in id order too) get the KV-order sort; a
    # subquery source keeps its own (possibly ORDER BY'd) row order
    oltp_srcs = bool(str_srcs) and all(
        s in cat.registered for s in str_srcs)
    if (sel.start or oltp_srcs) and not sel.order and not is_grouped \
            and "id" in df.columns and "__present" in df.columns:
        # rows come out in KV key order — the reference's table scan is
        # id-ordered (record_id/key.rs).  Only db-written (OLTP) tables,
        # marked by the __present spine, get this: a global sort on every
        # bare SELECT over a 100 TB parquet scan would be a scale bug, so
        # lazy sf-dir scans keep Spark's cheap partition order.
        key = F.substring_index(F.col("id").cast("string"), ":", -1)
        df = df.orderBy(key.try_cast("bigint").asc_nulls_last(),
                        F.col("id").asc())
    elif sel.start and not sel.order and "id" in df.columns and str_srcs:
        # deterministic paging over lazily-scanned parquet tables; a
        # subquery source keeps its own (possibly ORDER BY'd) row order
        key = F.substring_index(F.col("id").cast("string"), ":", -1)
        df = df.orderBy(key.try_cast("bigint").asc_nulls_last(),
                        F.col("id").asc())
    if sel.start and not is_grouped:
        df = df.offset(sel.start)
    if sel.limit is not None and not is_grouped:
        df = df.limit(sel.limit)

    # project
    if sel.value_expr is not None and not is_grouped:
        # SELECT VALUE → single bare column (operators/project_value.rs:30).
        # OMIT strips the document BEFORE the VALUE expression reads it
        # (`SELECT VALUE name OMIT name` → NONE; `SELECT VALUE opts OMIT
        # opts.nested.data` drops the member — select_value_omit_
        # record_id.surql), so apply it here and null out now-absent
        # idents
        vexpr = sel.value_expr
        if sel.omit:
            df = _apply_omit(df, sel.omit)
            vexpr = _null_unknown_idents(vexpr, types_of(df))
        df = df.select(compile_expr(vexpr, params,
                                    types_of(df) if sel.omit else types)
                       .alias("value"))
    elif is_grouped:
        # post-aggregate exprs dispatch on the AGGREGATED frame's types
        # (int/int division must stay integer — number.rs Div)
        agg_types = types_of(df)
        sel_cols = [compile_expr(a, params, agg_types).alias(n)
                    for a, n in post_fields]
        out_set = {n for _a, n in post_fields}
        for kk in kinded_keys:
            if kk in out_set and "__k_" + kk in df.columns:
                sel_cols.append(F.col("__k_" + kk))
        df = df.select(*sel_cols)
        if any("." in n for _a, n in post_fields):
            # dotted group-key projections re-nest to objects
            # ({ address: { city } } — group.rs idiom-path projection)
            nests: dict[str, list[tuple[str, str]]] = {}
            flat: list[str] = []
            for c in df.columns:
                if "." in c:
                    base, sub = c.split(".", 1)
                    nests.setdefault(base, []).append((sub, c))
                else:
                    flat.append(c)
            cols = [F.col(c) for c in flat]
            for base, subs in nests.items():
                cols.append(F.struct(
                    *[F.col(f"`{c}`").alias(s) for s, c in subs])
                    .alias(base))
            df = df.select(*cols)
        # grouped output order: explicit ORDER BY compiles over the
        # PROJECTED columns (aggregates are plain values now); otherwise
        # rows come out in group-key order — the reference aggregates
        # into an ordered map (exec/operators/aggregate.rs)
        gtypes = types_of(df)
        if sel.order:
            ocols = []
            for k in sel.order:
                c = compile_expr(k.expr, params, gtypes)
                if k.numeric:
                    c = F.struct(
                        F.regexp_extract(c.cast("string"), r"(\d+)", 1)
                        .cast("bigint"), c.cast("string"))
                elif k.collate:
                    c = F.collate(c.cast("string"), "UNICODE")
                ocols.append(c.desc() if k.desc else c.asc())
            df = df.orderBy(*ocols)
        elif sel.group:
            ocols = []
            for g in sel.group:
                if g[0] == "ident" and g[1] in kinded_keys \
                        and "__k_" + g[1] in df.columns:
                    # heterogeneous key: value total order — kind rank
                    # (bool < number < string), then numerically, then
                    # by text (val/mod.rs Ord)
                    kc, vc = F.col("__k_" + g[1]), F.col(g[1])
                    rank = (F.when(kc == "none", 0)
                            .when(kc == "null", 1)
                            .when(kc == "bool", 2)
                            .when(kc.isin("int", "float", "decimal",
                                          "number"), 3)
                            .when(kc.isin("string", "strand"), 4)
                            .otherwise(5))
                    vdt = gtypes.get("__simple__", {}).get(g[1], "")
                    if vdt.startswith(("struct", "array", "map")):
                        # complex-typed key (geometry struct): no numeric
                        # leg — cast struct→double is an analysis error
                        ocols += [rank.asc(), vc.asc()]
                    else:
                        ocols += [rank.asc(),
                                  vc.try_cast("double").asc_nulls_last(),
                                  vc.asc()]
                    continue
                try:
                    ocols.append(compile_expr(g, params, gtypes).asc())
                except Exception:
                    pass
            if ocols:
                df = df.orderBy(*ocols)
        if sel.start:
            df = df.offset(sel.start)
        if sel.limit is not None:
            df = df.limit(sel.limit)
    elif sel.fields is not None and sel.fields:
        # dotted aliases nest the output path (`(SELECT ..) AS a.b` —
        # project.rs:118): rewrite to temp slots up front so EVERY
        # projection path (corr subqueries, lookups, plain exprs) works
        # unchanged, then re-embed after the select
        import dataclasses as _dc_f

        dotted_alias: list[tuple[str, str, str]] = []
        sel_fields = []
        for fld in sel.fields:
            if fld.alias and "." in fld.alias:
                slot = f"__da{len(dotted_alias)}"
                base_, rest_ = fld.alias.split(".", 1)
                dotted_alias.append((base_, rest_, slot))
                fld = _dc_f.replace(fld, alias=slot)
            sel_fields.append(fld)
        rec_fields = [f for f in sel_fields if _is_recurse_path(f.expr)]
        if rec_fields:
            df = _attach_recurse_fields(df, cat, rec_fields, params)
        corr_fields = [f for f in sel_fields if _is_corr_subquery(f.expr)]
        for f in corr_fields:
            df = _attach_corr_subquery(
                spark, df, cat, f, f.alias or _default_name(f.expr),
                params, sf_dir
            )
        for f in sel_fields:
            if (isinstance(f.expr, tuple) and f.expr[0] == "subquery"
                    and not _is_corr_subquery(f.expr)):
                df = _attach_uncorr_subquery(
                    spark, df, cat, f, f.alias or _default_name(f.expr),
                    params, sf_dir)
        # unaliased dotted field paths re-nest and merge by base object:
        # SELECT name.first, name.last → { name: { first, last } }
        # (the reference preserves idiom structure in output — see
        # statements/select/version_field_dereference_schema.surql)
        nested: dict[str, list] = {}
        plain_fields = []
        for fld in sel_fields:
            e = fld.expr
            if (fld.alias is None and isinstance(e, tuple)
                    and e[0] == "path" and e[1][0] == "ident" and e[2]
                    and all(p[0] == "field" for p in e[2])
                    and not _is_recurse_path(e)
                    and not _is_corr_subquery(e)):
                nested.setdefault(e[1][1], []).append(
                    ([p[1] for p in e[2]],
                     compile_expr(e, params, types)))
            elif (fld.alias is None and isinstance(e, tuple)
                    and e[0] == "path" and e[1][0] == "ident" and e[2]
                    and any(p[0] == "field" for p in e[2])
                    and e[2][-1][0] == "field"
                    and all(p[0] in ("field", "index", "where", "all",
                                     "optional", "first") for p in e[2])
                    and not _is_recurse_path(e)
                    and not _is_corr_subquery(e)):
                # mixed path `tags[WHERE ..][0].value` — output nests at
                # the SIMPLIFIED idiom (field parts only): {tags: {value:
                # v}} (expr/idiom.rs simplify; Document::set output path)
                nested.setdefault(e[1][1], []).append(
                    ([p[1] for p in e[2] if p[0] == "field"],
                     compile_expr(e, params, types)))
            else:
                plain_fields.append(fld)
        names = [fld.alias or _default_name(fld.expr)
                 for fld in plain_fields] + list(nested)
        if sel.star:
            # explicit projections SHADOW the star's same-named columns
            # (Document::set overwrites the field — `SELECT *, brother.name`)
            cols = [F.col(c) for c in df.columns if c not in set(names)]
        else:
            cols = []
        for fld, name in zip(plain_fields, names):
            if _is_recurse_path(fld.expr) or (
                    isinstance(fld.expr, tuple)
                    and fld.expr[0] == "subquery"):
                cols.append(F.col(name))  # attached column (corr/uncorr)
            else:
                cols.append(compile_expr(fld.expr, params, types).alias(name))
            e0 = fld.expr
            if (isinstance(e0, tuple) and e0[0] == "ident"
                    and "__k_" + e0[1] in df.columns
                    and not (sel.star and name == e0[1])):
                # kinded column projected bare: carry its kind sidecar so
                # the output decode keeps per-row kinds (values.py)
                cols.append(F.col("__k_" + e0[1]).alias("__k_" + name))
        for base, entries in nested.items():
            tree: dict = {}
            for segs, col in entries:
                node = tree
                for s in segs[:-1]:
                    node = node.setdefault(s, {})
                node[segs[-1]] = col

            def _build(n):
                return F.struct(*[
                    (_build(v) if isinstance(v, dict) else v).alias(k)
                    for k, v in n.items()])

            cols.append(_build(tree).alias(base))
        df = df.select(*cols)
        for base_, rest_, slot in dotted_alias:
            if base_ in df.columns:
                df = df.withColumn(
                    base_, F.col(base_).withField(rest_, F.col(slot)))
            else:
                c = F.col(slot)
                for seg in reversed(rest_.split(".")):
                    c = F.struct(c.alias(seg))
                df = df.withColumn(base_, c)
            df = df.drop(slot)
        if sel.star and lookup_slots:
            df = df.drop(*lookup_slots)
    elif lookup_slots:
        # SELECT * with WHERE/ORDER lookups: hidden slots must not leak
        df = df.drop(*lookup_slots)
    if sel.omit and not (sel.value_expr is not None and not is_grouped):
        df = _apply_omit(df, sel.omit)

    # fetch (operators/fetch.rs) — target table inferred from id prefix.
    # Each path expands to all of its prefixes (`FETCH author.company`
    # dereferences `author` on the way — fetch.rs:27 walks the idiom),
    # processed shallowest-first so later paths re-embed INSIDE the
    # already-fetched parent struct (dbs/iterator.rs:1125 output_fetch).
    # param / type::field(s) fetch targets resolve to path strings first
    # (fetch.rs Fetch::compute; non-idiom values are a FETCH error)
    def _resolve_fetch_entry(entry) -> list:
        if isinstance(entry, str):
            return [entry]
        from surrealdb_spark import pyeval as _pyf

        def _fetch_err(v):
            if isinstance(v, float):
                # Value::Float Display: `1f` (types/src/value)
                txt = (str(int(v)) if v.is_integer() else str(v)) + "f"
            else:
                txt = _pyf.render(v)
            raise ValueError(
                f"Found {txt} on FETCH CLAUSE, but FETCH expects an "
                f"idiom, a string or fields")

        if entry[0] == "param":
            v = params.get(entry[1])
        else:
            ast_f = entry[1]
            if ast_f[0] == "call" and ast_f[1] in ("type::field",
                                                   "type::fields"):
                try:
                    v = _pyf.peval(ast_f[2][0], dict(params))
                except Exception:
                    _fetch_err(None)
            else:
                _fetch_err(None)
        if isinstance(v, str):
            return [v]
        if isinstance(v, list) and all(isinstance(x, str) for x in v):
            return v
        _fetch_err(v)

    resolved_fetch: list[str] = []
    for f_ in sel.fetch:
        for pth in _resolve_fetch_entry(f_):
            if pth not in resolved_fetch:
                resolved_fetch.append(pth)
    fetch_paths: list[str] = []
    for f_ in resolved_fetch:
        parts = f_.split(".")
        for d in range(1, len(parts) + 1):
            pre = ".".join(parts[:d])
            if pre not in fetch_paths:
                fetch_paths.append(pre)
    fetch_paths.sort(key=lambda p: p.count("."))
    for f_ in fetch_paths:
        from surrealdb_spark.operators.fetch import fetch
        from surrealdb_spark.operators.graph import record_id

        try:
            sample = df.select(F.col(f_).alias("__fv")) \
                .filter(F.col(f_).isNotNull()).first()
        except Exception:
            continue  # path doesn't resolve on this frame (e.g. non-struct)
        if sample is None:
            continue
        sv = sample[0]
        if isinstance(sv, list):  # array-of-ids field (FETCH tags)
            sv = next((x for x in sv if x is not None), None)
            if sv is None:
                continue
        is_arr = isinstance(sample[0], list)
        if not isinstance(sv, str) or ":" not in sv:
            # the projection already replaced this field with a non-id
            # value (array-deref object / plain field leaf) — nothing
            # left to fetch at this level
            continue
        tbl = str(sv).split(":", 1)[0]
        target = cat.table(tbl)
        id_col = _guess_id_col(target, tbl)
        # db-written tables already store full `tb:key` ids — only bare
        # keys (sf parquet) get prefixed
        idc = F.col(id_col).cast("string")
        rid_c = F.when(idc.contains(":"), idc).otherwise(
            record_id(tbl, idc))
        target = target.withColumn("id", rid_c)
        target = target.drop(id_col) if id_col != "id" else target
        if "." in f_ and f_.split(".", 1)[0] in df.columns and \
                dict(df.dtypes).get(f_.split(".", 1)[0], "").startswith(
                    "array<struct"):
            # path into an already-fetched ARRAY of structs
            # (`FETCH purchases.out`): re-embed inside each element
            from surrealdb_spark.operators.fetch import fetch_array_nested

            head, rest = f_.split(".", 1)
            keys = [c for c in df.columns if c == "id"] or df.columns[:1]
            df = fetch_array_nested(df, head, rest, keys, target, "id")
        elif is_arr:
            from surrealdb_spark.operators.fetch import fetch_array

            keys = [c for c in df.columns if c == "id"] or df.columns[:1]
            df = fetch_array(df, f_, keys, target, "id")
        elif "." in f_:
            # nested path: left-join on the nested id, re-embed the
            # fetched struct inside the parent via withField
            head, rest = f_.split(".", 1)
            t = F.broadcast(target.select(
                F.col("id").alias("__fetch_id"),
                F.struct(*[F.col(c) for c in target.columns])
                .alias("__fetched")))
            df = df.join(t, F.col(f_) == F.col("__fetch_id"), "left")
            # unconditional withField keeps one struct type; an unmatched
            # (dangling) id nulls the nested field, NULL parents stay NULL
            df = df.withColumn(
                head, F.col(head).withField(rest, F.col("__fetched"))
            ).drop("__fetch_id", "__fetched")
        else:
            df = fetch(df, f_, target, "id")

    if sel.only:
        head = df.limit(2).collect()
        if len(head) != 1:
            raise ValueError(f"ONLY expects exactly one record, got {len(head)}")

    # tag whether a single `value` column means BARE values (SELECT VALUE,
    # or a scalar FROM source passed through star projection) vs a projected
    # field that happens to be NAMED `value` (stays an object) — consumers
    # (golden._df_value) read this instead of re-parsing the statement
    try:
        df._surql_bare = bool(
            sel.value_expr is not None
            or (df.columns == ["value"] and not sel.fields)
        )
        # whether THIS statement is `SELECT ... FROM ONLY` (consumers
        # unwrap the single row; a nested `FROM ONLY` subquery must not
        # trigger the statement-level unwrap)
        df._surql_only = bool(sel.only)
    except Exception:
        pass
    return df


def _refs_parent(ast) -> bool:
    """Does the expression reference the outer row ($parent / $this)?"""
    if not isinstance(ast, tuple):
        return False
    if ast[0] == "param" and ast[1] in ("parent", "this"):
        return True
    return any(
        _refs_parent(x) or (isinstance(x, list) and any(_refs_parent(e) for e in x))
        for x in ast[1:]
    )


def _inline_scalar_subquery(fld):
    """`(SELECT fields... FROM ONLY <scalar>)` referencing $parent → an
    object-literal expression over the OUTER row (the scalar source is one
    row, so per-outer-row evaluation degenerates to plain projection;
    exec/operators/current_value_source.rs binds $parent the same way).
    Returns the replacement AST or None."""
    e = fld.expr
    if not (isinstance(e, tuple) and e[0] == "subquery"):
        return None
    sub = e[1]
    if not sub.fields or sub.where is not None or sub.group is not None:
        return None
    def _scalar_src(s) -> bool:
        if isinstance(s, str):
            return s in ("true", "false")  # parsed as a bare name
        return (isinstance(s, tuple) and s[0] == "exprsrc"
                and s[1][0] == "lit" and not isinstance(s[1][1], str))

    if not sub.sources or not all(_scalar_src(s) for s in sub.sources):
        return None
    if not any(_refs_parent(f.expr) for f in sub.fields):
        return None
    src0 = sub.sources[0]
    scalar = (src0 == "true") if isinstance(src0, str) else src0[1][1]

    def _bind_inner(ast, in_filter=False):
        # inside [WHERE …] lookup filters $parent is the SUBQUERY's row
        # (the scalar), one level down from the projection's $parent
        if not isinstance(ast, tuple):
            return ast
        if in_filter and ast[0] == "path" and ast[1] == ("param", "parent") \
                and not isinstance(scalar, dict):
            return ("lit", None)  # field access on a non-object → NONE
        if in_filter and ast[0] == "param" and ast[1] == "parent":
            return ("lit", scalar)
        nf = in_filter or ast[0] == "where"
        return tuple(
            _bind_inner(x, nf) if isinstance(x, tuple)
            else ([_bind_inner(e, nf) for e in x]
                  if isinstance(x, list) else x)
            for x in ast)

    pairs = [(f.alias or _default_name(f.expr), _bind_inner(f.expr))
             for f in sub.fields]
    obj = ("object", pairs)
    return obj if sub.only else ("array", [obj])


def _is_corr_subquery(expr) -> bool:
    return (
        isinstance(expr, tuple)
        and expr[0] == "subquery"
        and expr[1].where is not None
        and _refs_parent(expr[1].where)
    )


def _split_conjuncts(ast):
    if isinstance(ast, tuple) and ast[0] == "bin" and ast[1] in ("AND", "&&"):
        return _split_conjuncts(ast[2]) + _split_conjuncts(ast[3])
    return [ast]


def _attach_uncorr_subquery(spark, df, cat: Catalog, fld, name: str,
                            params: dict, sf_dir):
    """Uncorrelated subquery projection (`(SELECT a, b FROM t LIMIT n)
    AS x`): the inner plan runs ONCE, its rows collect into an array,
    and a broadcast cross join attaches the single-row result to every
    outer row (planner.rs subquery evaluation — constant per outer row)."""
    sub = compile_select(spark, fld.expr[1], sf_dir, cat, params)
    keep = [c for c in sub.columns if not c.startswith("__")]
    if sub.columns == ["value"] and getattr(sub, "_surql_bare", True):
        arr = F.collect_list(F.col("value"))
    else:
        arr = F.collect_list(F.struct(*[F.col(c) for c in keep]))
    # collect_list never returns NULL (empty list for zero rows) — no
    # coalesce; a typed empty-array default wouldn't unify with the
    # struct element type anyway
    one = sub.agg(arr.alias(name))
    return df.crossJoin(F.broadcast(one))


def _attach_corr_subquery(spark, df, cat: Catalog, fld, name: str,
                          params: dict, sf_dir):
    """Correlated subquery in a projection → decorrelated grouped left join
    (exec/operators/current_value_source.rs:31 evaluates the inner plan per
    outer row; Spark-first this is ONE aggregation + ONE join, no per-row
    re-execution).

    Supported correlation: equality conjuncts `inner_expr = $parent.col`
    (either side).  The inner result is an array per outer row — VALUE
    subqueries collect bare values, field subqueries collect structs —
    canonically sorted ascending (deterministic across engines) and
    truncated to the subquery LIMIT."""
    sub = fld.expr[1]
    conjs = _split_conjuncts(sub.where)
    corr: list[tuple] = []     # (inner_key_ast, parent_col)
    rest: list[tuple] = []
    for c in conjs:
        if not _refs_parent(c):
            rest.append(c)
            continue
        if not (c[0] == "bin" and c[1] in ("=", "==")):
            raise ValueError("correlated subqueries support equality predicates only")
        l, r = c[2], c[3]
        inner, outer = (l, r) if _refs_parent(r) else (r, l)
        if outer[0] == "path" and outer[1][0] == "param" and \
                outer[2] and outer[2][0][0] == "field":
            corr.append((inner, outer[2][0][1]))
        else:
            raise ValueError("correlated side must be $parent.<field>")
    src = sub.sources[0]
    inner_df = cat.table(src) if isinstance(src, str) else compile_select(
        spark, src, sf_dir, cat, params
    )
    itypes = types_of(inner_df)
    where = None
    for c in rest:
        col = compile_expr(c, params, itypes)
        where = col if where is None else (where & col)
    if where is not None:
        inner_df = inner_df.filter(where)
    keys = [compile_expr(k, params, itypes).alias(f"__ck{i}")
            for i, (k, _) in enumerate(corr)]
    if sub.value_expr is not None:
        payload = compile_expr(sub.value_expr, params, itypes)
    else:
        payload = F.struct(*[
            compile_expr(f.expr, params, itypes).alias(
                f.alias or _default_name(f.expr))
            for f in (sub.fields or [])
        ])
    grouped = (
        inner_df.select(*keys, payload.alias("__v"))
        .groupBy(*[f"__ck{i}" for i in range(len(corr))])
        .agg(F.sort_array(F.collect_list("__v")).alias("__arr"))
    )
    if sub.limit is not None:
        grouped = grouped.withColumn("__arr", F.slice("__arr", 1, sub.limit))
    cond = None
    for i, (_, pcol) in enumerate(corr):
        c = df[pcol] == grouped[f"__ck{i}"]
        cond = c if cond is None else (cond & c)
    joined = df.join(grouped, cond, "left")
    empty = F.array().cast(joined.schema["__arr"].dataType)
    return joined.withColumn(name, F.coalesce(F.col("__arr"), empty)).drop(
        "__arr", *[f"__ck{i}" for i in range(len(corr))]
    )


def _pair_steps(singles):
    """Pair consecutive single lookups into (dir, edge, target) triples for
    the recursion engine (recursion repeats an edge+target pair)."""
    steps = []
    for k in range(0, len(singles) - 1, 2):
        (d1, s1, _), (_, s2, _) = singles[k], singles[k + 1]
        steps.append((d1, (s1 or ["?"])[0], (s2 or ["?"])[0]))
    if len(singles) % 2:
        d1, s1, _ = singles[-1]
        steps.append((d1, (s1 or ["?"])[0], "?"))
    return steps


def _norm_recurse_parts(parts):
    """Merge `.{min..max}` + following unparenthesized `->e->t` parts into
    the recurse part (syn: both `.{..3}(->e->t)` and `.{..3}->e->t` parse;
    reference recursion syntax, exec/operators/recursion.rs)."""
    out, i = [], 0
    while i < len(parts):
        p = parts[i]
        if p[0] == "recurse" and not p[3]:
            singles, j = [], i + 1
            while j < len(parts) and parts[j][0] == "graph":
                singles.append(parts[j][1])
                j += 1
            if singles:
                out.append(("recurse", p[1], p[2], _pair_steps(singles)))
                i = j
                continue
            if i + 1 < len(parts) and parts[i + 1][0] == "field":
                chain, j = [], i + 1
                while j < len(parts) and parts[j][0] == "field":
                    chain.append(parts[j][1])
                    j += 1
                if j < len(parts) and parts[j] == ("repeat",):
                    # `.{n}.contains.@` — the field chain up to the
                    # RepeatRecurse marker is the repeated link step
                    # (idiom/recursion_record_links.surql)
                    out.append(("recurse", p[1], p[2], [("link", chain)]))
                    i = j + 1
                    continue
                # `.{n}.parent` — record-link recursion step
                out.append(("recurse", p[1], p[2],
                            [("link", [parts[i + 1][1]])]))
                i += 2
                continue
        out.append(p)
        i += 1
    return out


def _has_lookup(ast) -> bool:
    """Any graph/recurse part anywhere in the expression (not descending
    into subquery Selects — they compile recursively)?"""
    if not isinstance(ast, (tuple, list)):
        return False
    if isinstance(ast, tuple):
        if ast[0] == "subquery":
            return False
        if ast[0] == "path" and any(
            isinstance(p, tuple) and p[0] in ("graph", "recurse")
            for p in ast[2]
        ):
            return True
        if ast[0] == "curr":
            return True
    return any(_has_lookup(x) for x in ast if isinstance(x, (tuple, list)))


def _extract_lookups(ast, specs: list, bool_ctx: bool = False,
                     rows_hint: bool = False):
    """Rewrite pass: replace graph-lookup subtrees with hidden-slot idents
    and record (slot, base, steps, mode) specs for the join-based attach
    (operators/lookup.py).  Recursion parts are normalized but left for
    _attach_recurse_fields.  ``rows_hint`` forces row-shaped output for
    bare paths (used when a wrapping call's result gets field access:
    `array::first(->knows->person).name`)."""
    if not isinstance(ast, tuple):
        return ast
    if ast[0] == "subquery":
        return ast
    if ast[0] == "path":
        hint = (
            ast[1][0] in ("call", "method")
            and ast[2] and isinstance(ast[2][0], tuple)
            and ast[2][0][0] in ("field", "destructure")
        )
        base = _extract_lookups(ast[1], specs, rows_hint=hint)
        parts = _norm_recurse_parts(list(ast[2]))
        gidx = [i for i, p in enumerate(parts) if p[0] == "graph"]
        if any(p[0] == "recurse" for p in parts):
            return ("path", base, parts)
        if not gidx:
            return ("path", base, parts)
        if gidx[0] != 0:
            raise ValueError(
                "graph lookups are supported from the row's record id, a "
                "record-id literal, or a record-valued field")
        steps: list = []
        k = 0
        while k < len(parts):
            p = parts[k]
            if p[0] == "graph":
                steps.append(p[1])
            elif (p[0] == "where" and steps and k + 1 < len(parts)
                  and parts[k + 1][0] == "graph"):
                # `[WHERE cond]` between segments filters the previous
                # segment's records before the traversal continues —
                # same lowering as `->(tb WHERE cond)`
                d, tb, o = steps[-1]
                cond = p[1] if "where" not in o else \
                    ("bin", "AND", o["where"], p[1])
                steps[-1] = (d, tb, {**o, "where": cond})
            else:
                break
            k += 1
        trailing = list(parts[k:])
        mode: tuple = ("rows",) if rows_hint else ("id",)
        if trailing:
            t0 = trailing[0]
            if t0[0] == "destructure":
                mode, trailing = ("destructure", t0[1]), trailing[1:]
            elif t0[0] == "field":
                if t0[1] == "id":
                    mode, trailing = ("id",), trailing[1:]
                elif t0[1] in ("in", "out") and len(trailing) > 1 \
                        and trailing[1] == ("all",):
                    # `->e.out.*` — Part::All on a Thing dereferences the
                    # endpoint record (expr/lookup.rs; equivalent to a
                    # wildcard second hop `->e->?` row projection)
                    steps.append((t0[1], None, {}))
                    mode, trailing = ("rows",), trailing[2:]
                else:
                    mode = ("rows",)
            elif t0[0] == "where":
                # `[WHERE cond]` evaluates cond against the dereferenced
                # records but keeps id elements (value/idiom.rs over
                # Thing values) — filter row structs, then re-project ids
                # unless the path reads fields afterwards
                mode = ("rows",)
                j = 0
                while j < len(trailing) and trailing[j][0] == "where":
                    j += 1
                if j >= len(trailing) or trailing[j][0] not in (
                        "field", "destructure", "all"):
                    trailing = (trailing[:j] + [("all",), ("field", "id")]
                                + trailing[j:])
            elif t0[0] == "all":
                mode = ("rows",)
        slot = f"__gp{len(specs)}"
        specs.append((slot, base, steps, mode))
        if steps[-1][2].get("only"):
            # `->(SELECT .. FROM ONLY ..)` unwraps to the bare object
            trailing = [("first",)] + trailing
        new = ("ident", slot) if not trailing else \
            ("path", ("ident", slot), trailing)
        if bool_ctx and new[0] == "ident":
            # traversal truthiness in WHERE: non-empty result
            return ("bin", ">", ("call", "array::len", [new]), ("lit", 0))
        return new
    if ast[0] == "bin" and ast[1] in ("AND", "OR", "&&", "||"):
        return ("bin", ast[1],
                _extract_lookups(ast[2], specs, bool_ctx),
                _extract_lookups(ast[3], specs, bool_ctx))
    if ast[0] == "un" and ast[1] in ("!", "NOT"):
        return ("un", ast[1], _extract_lookups(ast[2], specs, bool_ctx))
    return tuple(
        _extract_lookups(x, specs, rows_hint=rows_hint)
        if isinstance(x, tuple)
        else ([_extract_lookups(e, specs, rows_hint=rows_hint) for e in x]
              if isinstance(x, list) else x)
        for x in ast
    )


_DIR_SYM = {"out": "->", "in": "<-", "both": "<->"}


def _projection_chain(ast):
    """Per-segment key chain of a PLAIN unaliased graph-path projection
    (`->knows.when` → ["->knows", "when"]), or None when any segment
    carries clauses (subquery/WHERE/slice) — those keep a verbatim flat
    key.  The leaf (trailing destructure) is the value, not a key."""
    if not (isinstance(ast, tuple) and ast[0] == "path"):
        return None
    chain: list[str] = []
    parts = list(ast[2])
    for i, p in enumerate(parts):
        if not isinstance(p, tuple):
            return None
        if p[0] == "graph":
            dirn, tables, opts = p[1]
            if opts:
                return None
            if tables is None:
                chain.append(f"{_DIR_SYM[dirn]}?")
            elif len(tables) == 1:
                chain.append(f"{_DIR_SYM[dirn]}{tables[0]}")
            else:
                return None
        elif p[0] == "field":
            chain.append(p[1])
        elif p[0] == "destructure":
            return chain if i == len(parts) - 1 and chain else None
        else:
            return None
    return chain if any(s.startswith(("->", "<-")) for s in chain) else None


def _attach_lookup_specs(spark, df, cat, specs, params):
    from surrealdb_spark.operators import lookup as LK

    return LK.attach_lookups(spark, df, cat, specs, params,
                             compile_expr, types_of)


def _has_deref(ast, str_cols: set) -> bool:
    if not isinstance(ast, (tuple, list)):
        return False
    if isinstance(ast, tuple) and ast[0] == "path" \
            and ast[1][0] == "ident" and ast[1][1] in str_cols \
            and ast[2] and all(isinstance(p, tuple) and p[0] == "field"
                               for p in ast[2]):
        return True
    return any(_has_deref(x, str_cols) for x in ast
               if isinstance(x, (tuple, list)))


def _extract_derefs(ast, str_cols: set, specs: list):
    """`link.field` paths over string (record-id) columns → hidden
    join-dereferenced columns (value/idiom.rs record deref)."""
    if not isinstance(ast, tuple):
        return ast
    if ast[0] == "subquery":
        return ast
    if ast[0] == "path" and ast[1][0] == "ident" \
            and ast[1][1] in str_cols \
            and ast[2] and all(isinstance(p, tuple) and p[0] == "field"
                               for p in ast[2]):
        slot = f"__dr_s{len(specs)}"
        specs.append((slot, ast[1][1], [p[1] for p in ast[2]]))
        return ("ident", slot)
    return tuple(
        _extract_derefs(x, str_cols, specs) if isinstance(x, tuple)
        else ([_extract_derefs(e, str_cols, specs) for e in x]
              if isinstance(x, list) else x)
        for x in ast)


def _array_deref_shape(ast, arr_cols: set):
    """(base_col, 'destructure', [names]) | (base_col, 'field', name) for
    a bare path projection over an array-of-record column; None when the
    shape doesn't apply."""
    if not (isinstance(ast, tuple) and ast[0] == "path"
            and ast[1][0] == "ident" and ast[1][1] in arr_cols and ast[2]):
        return None
    parts = list(ast[2])
    if parts and parts[0] == ("all",):
        parts = parts[1:]
    if len(parts) != 1 or not isinstance(parts[0], tuple):
        return None
    p = parts[0]
    if p[0] == "destructure" and all(not sub for _n, sub in p[1]):
        return (ast[1][1], "destructure", [n for n, _s in p[1]])
    if p[0] == "field" and isinstance(p[1], str):
        return (ast[1][1], "field", p[1])
    return None


def _this_array_subquery(expr, arr_cols: set):
    """(col, field_names, where_ast) for a projection-position
    `(SELECT plain, fields FROM $this.<arrcol> [WHERE cond])`
    (exec/operators/current_value_source.rs binds $this to the outer row;
    the array source iterates its dereferenced elements)."""
    if not (isinstance(expr, tuple) and expr[0] == "subquery"):
        return None
    sub = expr[1]
    if (not sub.fields or sub.group is not None or sub.order
            or sub.limit is not None or sub.start or sub.split
            or sub.fetch or getattr(sub, "value_expr", None) is not None):
        return None
    if len(sub.sources) != 1:
        return None
    s = sub.sources[0]
    if not (isinstance(s, tuple) and s[0] == "exprsrc"
            and isinstance(s[1], tuple) and s[1][0] == "path"
            and s[1][1] == ("param", "this") and len(s[1][2]) == 1
            and s[1][2][0][0] == "field"
            and s[1][2][0][1] in arr_cols):
        return None
    names = []
    for f in sub.fields:
        if f.alias is not None or f.expr[0] != "ident":
            return None
        names.append(f.expr[1])
    if sub.where is not None and _refs_parent(sub.where):
        return None
    return (s[1][2][0][1], names, sub.where)


def _has_array_deref(ast, arr_cols: set) -> bool:
    if not isinstance(ast, (tuple, list)):
        return False
    if _array_deref_shape(ast, arr_cols) is not None:
        return True
    if isinstance(ast, tuple) and ast[0] == "subquery":
        return _this_array_subquery(ast, arr_cols) is not None
    return any(_has_array_deref(x, arr_cols) for x in ast
               if isinstance(x, (tuple, list)))


def _extract_array_derefs(ast, arr_cols: set, specs: list):
    """Array-link deref paths → hidden attach_array_deref slots."""
    if not isinstance(ast, tuple):
        return ast
    if ast[0] == "subquery":
        return ast
    shape = _array_deref_shape(ast, arr_cols)
    if shape is not None:
        base_col, kind_, payload = shape
        slot = f"__ar_s{len(specs)}"
        specs.append((slot, base_col,
                      payload if kind_ == "destructure" else [payload]))
        return ("ident", slot)
    return tuple(
        _extract_array_derefs(x, arr_cols, specs) if isinstance(x, tuple)
        else ([_extract_array_derefs(e, arr_cols, specs) for e in x]
              if isinstance(x, list) else x)
        for x in ast)


def eval_lookup_value(spark, cat, ast, params: dict):
    """Scalar evaluation of an expression containing graph lookups from
    literal record-id receivers (`person:alice->knows->person`) — a
    one-row frame through the same join-based attach, so scalar and SELECT
    traversals share one engine (OLTP point lookup; the frontier seeds
    from the literal)."""
    if (ast[0] == "path" and isinstance(ast[1], tuple)
            and ast[1][0] == "array"):
        # array base (`[person:1][?true]->likes->person`): each element
        # traverses independently; the result nests per element
        # (exec/physical_expr/idiom.rs maps Parts over arrays)
        parts = list(ast[2])
        gi = next((i for i, p in enumerate(parts)
                   if isinstance(p, tuple) and p[0] == "graph"), None)
        if gi is not None:
            from surrealdb_spark import pyeval

            try:
                seeds = pyeval.peval(
                    ("path", ast[1], parts[:gi]) if gi else ast[1],
                    params)
            except Exception:
                seeds = None
            if isinstance(seeds, list):
                out = []
                for s in seeds:
                    if isinstance(s, str) and ":" in s:
                        out.append(eval_lookup_value(
                            spark, cat,
                            ("path", ("lit", s), parts[gi:]), params))
                    else:
                        out.append(None)
                return out
    if (ast[0] == "path" and ast[1][0] in ("lit", "ulit")
            and isinstance(ast[1][1], str) and ":" in str(ast[1][1])
            and len(ast[2]) == 2 and ast[2][0][0] == "recurse"
            and not ast[2][0][3] and ast[2][1][0] == "destructure"
            and any(sub and sub[0][0] == "aliased"
                    and ((sub[0][1][0] == "path"
                          and sub[0][1][2]
                          and sub[0][1][2][-1] == ("repeat",))
                         # `.chain(closure)` post-map over the repeat
                         or (sub[0][1][0] == "method"
                             and sub[0][1][1] == "chain"
                             and isinstance(sub[0][1][2], tuple)
                             and sub[0][1][2][0] == "path"
                             and sub[0][1][2][2]
                             and sub[0][1][2][2][-1] == ("repeat",)))
                    # nested `links.{ a: a.@ }` repeat inside a
                    # sub-destructure (recursion_nested_destructure)
                    or (sub and sub[0][0] == "destructure"
                        and any(isub and isub[0][0] == "aliased"
                                and isinstance(isub[0][1], tuple)
                                and isub[0][1][0] == "path"
                                and isub[0][1][2]
                                and isub[0][1][2][-1] == ("repeat",)
                                for _in, isub in sub[0][1]))
                    for _n, sub in ast[2][1][1])):
        # `rid.{..max}.{f, kids: ->e->t.@}` — recursive destructure tree
        # (recursion.rs RepeatRecurse); recursively-typed result → the
        # driver-side OLTP assembly in operators/lookup.py
        from surrealdb_spark.operators.lookup import (
            recursive_destructure_value)

        return recursive_destructure_value(
            spark, cat, str(ast[1][1]), ast[2][0][1], ast[2][1][1])
    specs: list = []
    new = _extract_lookups(ast, specs)
    df = spark.range(1).select(F.lit("__scalar__").alias("id"))
    if specs:
        df = _attach_lookup_specs(spark, df, cat, specs, params)
    if isinstance(new, tuple) and new[0] == "path" and any(
            p[0] == "recurse" for p in new[2]):
        from surrealdb_spark.sql.parser import Field as _F2

        df = _attach_recurse_fields(df, cat,
                                    [_F2(new, "__rv")], params)
        new = ("ident", "__rv")
    if (specs and isinstance(new, tuple) and new[0] == "path"
            and new[1][0] == "ident" and str(new[1][1]).startswith("__")
            and any(p[0] == "all" for p in new[2])):
        # `rid->edge.out.*` — `.*` over looked-up record ids derefs each
        # to its record (value/idiom.rs All over Thing values); collect
        # the slot and walk the tail driver-side where deref is possible
        from surrealdb_spark import pyeval as _pyl

        row = df.select(F.col(new[1][1]).alias("v")).first()
        return _pyl._walk_path(row["v"], list(new[2]),
                               dict(params or {}))
    row = df.select(
        compile_expr(new, params, types_of(df)).alias("v")).first()
    return row["v"]


def _null_unknown_idents(ast, types: dict):
    """Replace bare idents (and path bases) naming columns the frame
    doesn't carry with NONE (value/idiom.rs missing-field semantics)."""
    if not isinstance(ast, tuple):
        return ast
    k = ast[0]
    if k == "subquery":
        return ast
    if k == "ident":
        return ast if ast[1] in types else ("lit", None)
    if k == "path" and ast[1][0] == "ident" and ast[1][1] not in types:
        return ("lit", None)
    return tuple(
        _null_unknown_idents(x, types) if isinstance(x, tuple)
        else ([_null_unknown_idents(e, types) for e in x]
              if isinstance(x, list) else x)
        for x in ast)


def _mentions_knn_fn(sel) -> bool:
    """Does any output/order expression call vector::distance::knn?"""
    def walk(ast):
        if not isinstance(ast, (tuple, list)):
            return False
        if isinstance(ast, tuple) and ast[0] == "call" \
                and ast[1] == "vector::distance::knn":
            return True
        return any(walk(x) for x in ast if isinstance(x, (tuple, list)))

    exprs = [f.expr for f in (sel.fields or [])]
    if sel.value_expr is not None:
        exprs.append(sel.value_expr)
    exprs += [k.expr for k in (sel.order or [])]
    return any(walk(e) for e in exprs)


def _rid_order_key(c: Column) -> Column:
    """KV-order sort key for a record-id column: (table, kind, numeric
    value, key text) — numbers sort numerically before strings before
    array keys (types/src/value/record_id/key.rs ordering)."""
    key = F.regexp_replace(c, "^[^:]*:", "")
    tbl = F.substring_index(c, ":", 1)
    isnum = key.rlike("^-?[0-9]+$")
    isarr = key.startswith("[")
    cat = F.when(isnum, F.lit(0)).when(isarr, F.lit(2)).otherwise(F.lit(1))
    num = F.coalesce(
        F.when(isnum, key.try_cast("bigint"))
        .when(isarr, F.regexp_extract(key, r"^\[(-?\d+)", 1)
              .try_cast("bigint")),
        F.lit(0),
    )
    return F.struct(tbl, cat, num, key)


def _replace(sel: Select, **kw) -> Select:
    import dataclasses

    return dataclasses.replace(sel, **kw)


def dataclasses_replace_order(k, expr):
    import dataclasses

    return dataclasses.replace(k, expr=expr)


def _pull_conjuncts(ast, take):
    """Split a WHERE tree's top-level AND conjuncts: the ones ``take``
    accepts, in order, and the rest rebuilt as an AND tree.  Returns
    (remaining_ast|None, [conjunct])."""
    taken: list = []

    def walk(node):
        if node[0] == "bin" and node[1] in ("AND", "&&"):
            l, r = walk(node[2]), walk(node[3])
            if l is None:
                return r
            if r is None:
                return l
            return ("bin", "AND", l, r)
        if take(node):
            taken.append(node)
            return None
        return node

    return walk(ast), taken


def _has_node(ast, kinds: tuple) -> bool:
    """Any node of one of ``kinds`` anywhere in the expression?"""
    if isinstance(ast, tuple) and ast and ast[0] in kinds:
        return True
    return isinstance(ast, (tuple, list)) and any(
        _has_node(x, kinds) for x in ast if isinstance(x, (tuple, list)))


def _split_knn_filters(ast):
    """Pull `field <|k[,metric]|> vec` conjuncts out of a WHERE tree
    (top-level ANDs).  Returns (remaining_ast|None, [(k, metric, lhs, rhs)])."""
    rest, knn = _pull_conjuncts(ast, lambda n: n[0] == "knn")
    return rest, [n[1:] for n in knn]


def _is_recurse_path(expr) -> bool:
    return expr[0] == "path" and any(p[0] == "recurse" for p in expr[2])


def _attach_recurse_fields(df: DataFrame, cat: Catalog, fields,
                           params: dict | None = None) -> DataFrame:
    """`recv.{min..max}[+instr](->edge->tbl)[.field]` projections →
    operators/lookup.py recurse_value, which runs on graph._traverse's
    one plan choice (reference exec/operators/recursion.rs).  The receiver
    may be the row's id column, `@`, or a record-id literal."""
    from surrealdb_spark.operators import lookup as LK

    params = params or {}
    rows = df  # every field's answer keys off the rows, not earlier fields
    for fld in fields:
        base, parts = fld.expr[1], fld.expr[2]
        parts = _norm_recurse_parts(list(parts))
        recs = [p for p in parts if p[0] == "recurse"]
        if len(recs) != 1 or parts[0][0] != "recurse":
            raise ValueError("a recursion part must lead the path")
        _, (lo, hi), instr, steps = recs[0]
        if not steps:
            raise ValueError("recursion needs a ->edge->target step")
        trailing = parts[1:]
        tspec = None
        if trailing and trailing[0][0] in ("field", "destructure"):
            tspec = trailing[0]
            trailing = trailing[1:]
        if trailing:
            raise ValueError("unsupported parts after a recursion")
        name = fld.alias or "recurse"
        ans = LK.recurse_value(rows, cat, name, base, (lo, hi), instr, steps,
                               tspec, params, compile_expr)
        df = df.join(ans, df["id"] == ans["__rk"], "left").drop("__rk")
    return df


def _split_subquery_filters(ast):
    """Pull `x IN (SELECT ...)` / `x NOTINSIDE (SELECT ...)` conjuncts out of
    a WHERE tree (top-level ANDs only).  Returns (remaining_ast|None,
    [(lhs_ast, Select, positive)])."""
    rest, subs = _pull_conjuncts(ast, lambda n: (
        n[0] == "bin" and n[1] in ("IN", "INSIDE", "NOTINSIDE")
        and n[3][0] == "subquery"))
    return rest, [(n[2], n[3][1], n[1] != "NOTINSIDE") for n in subs]


def _ast_text(ast) -> str | None:
    """Canonical source text of simple expressions — the reference names
    unaliased output columns by their printed form ("math::mean(v) + 1",
    statements/select/group/basic.surql)."""
    k = ast[0]
    if k == "ident":
        return ast[1]
    if k == "lit":
        v = ast[1]
        if isinstance(v, str):
            return f"'{v}'"
        if isinstance(v, bool):
            return "true" if v else "false"
        if v is None:
            return "NONE"
        return str(v)
    if k == "call":
        args = [_ast_text(a) for a in ast[2]]
        if any(a is None for a in args):
            return None
        return f"{ast[1]}({', '.join(args)})"
    if k == "bin":
        l, r = _ast_text(ast[2]), _ast_text(ast[3])
        return None if l is None or r is None else f"{l} {ast[1]} {r}"
    if k == "un":
        e = _ast_text(ast[2])
        return None if e is None else f"{ast[1]}{e}"
    return None


def _struct_top_fields(dtype: str) -> list[str]:
    """Top-level field names of a `struct<...>` simpleString dtype."""
    inner = dtype[len("struct<"):-1]
    names, depth, start = [], 0, 0
    i = 0
    while i < len(inner):
        ch = inner[i]
        if ch in "<([":
            depth += 1
        elif ch in ">)]":
            depth -= 1
        elif ch == "," and depth == 0:
            seg = inner[start:i]
            names.append(seg.split(":", 1)[0].strip())
            start = i + 1
        i += 1
    if inner[start:].strip():
        names.append(inner[start:].split(":", 1)[0].strip())
    return names


def _default_name(ast) -> str:
    if ast[0] == "ident":
        return ast[1]
    if ast[0] == "param":
        return ast[1]  # SELECT $this → column `this` (select.rs aliasing)
    if ast[0] == "call":
        # the verbatim function name is the output column (group/basic.surql
        # expects "math::mean"); Spark column names may contain '::'
        return ast[1]
    if ast[0] == "path" and ast[1][0] == "ident":
        return ast[1][1]
    if ast[0] in ("bin", "un"):
        t = _ast_text(ast)
        if t is not None:
            return t
    return "value"


def _id_key_col(df: DataFrame, tbl: str, numeric: bool) -> Column:
    """The comparable KEY of a record id for point/range scans.

    Numeric-keyed catalog tables (o_orderkey, ...) compare natively —
    the predicate pushes to the parquet scan.  DML tables carry `id`
    strings 'tb:key'; the key part casts to bigint for numeric bounds,
    else compares as text (record_id/key.rs orders Number keys numerically,
    String keys lexically)."""
    from pyspark.sql.types import StringType

    # prefer the table's NATIVE key column (o_orderkey, ...) over the
    # synthesized `id` string — the native column is a plain parquet column,
    # so the range predicate reaches the scan (PushedFilters)
    native = [c for c in df.columns
              if c != "id" and (c.endswith("key") or c == f"{tbl}_id")]
    if native:
        return F.col(native[0])  # the table's own key column comes first
    name = _guess_id_col(df, tbl)
    if name != "id" or not isinstance(df.schema["id"].dataType, StringType):
        return F.col(name)
    # key = text after the FIRST colon (array/object keys and uuid keys
    # contain ':' themselves — substring_index(-1) would truncate them)
    part = F.expr("substring(id, instr(id, ':') + 1)")
    return part.try_cast("bigint") if numeric else part


def _guess_id_col(df: DataFrame, tbl: str) -> str:
    for cand in ("id", f"{tbl[0]}_{tbl}key", f"{tbl}_id"):
        if cand in df.columns:
            return cand
    prefixed = [c for c in df.columns if c.endswith("key")]
    if prefixed:
        return prefixed[0]
    raise KeyError(f"cannot infer id column for {tbl}")


def surql(spark: SparkSession, text: str, sf_dir: str | None = None,
          catalog: Catalog | None = None, params: dict | None = None) -> DataFrame:
    """Run a SurrealQL SELECT against the parquet catalog."""
    return compile_select(spark, parse_select(text), sf_dir, catalog, params)
