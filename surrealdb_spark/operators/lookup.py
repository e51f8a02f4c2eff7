"""Graph-lookup attach engine: join-based multi-hop traversal columns.

Reference semantics (surrealdb/surrealdb):
  - each ``->seg`` / ``<-seg`` / ``<->seg`` is ONE Lookup part applied to
    the current value (core/src/expr/lookup.rs; exec chains one
    GraphEdgeScan per segment, core/src/exec/operators/scan/graph.rs:43);
  - applied to a *record*, a segment scans that record's graph keys —
    output order is the KV key order ``(dir, edge_table, edge_key)`` with
    In before Out for ``<->`` (core/src/key/graph/mod.rs:124-137: fields
    eg, ft, fk);
  - applied to an *edge record*, a segment reads the edge's pointer —
    ``out`` for ``->``, ``in`` for ``<-``, both (in first) for ``<->`` —
    filtered to the segment's table (scan/graph.rs:28-36 TargetId);
  - duplicates are kept, per-source subquery clauses
    ``->(tb WHERE .. ORDER .. LIMIT n)`` apply per source record.

Spark mapping: the frontier is a DataFrame keyed by the source row's
record id.  An edge segment is one equi-join against the edge table
(broadcastable when small); a target segment is a pure projection on the
joined edge row — zero extra joins.  Results re-nest per source row with
``collect_list`` + ``array_sort`` over an accumulated KV-order key, so a
pair ``->knows->person`` costs exactly one join + one aggregation.  At
100 TB nothing touches the driver: per-source LIMIT/ORDER lower to a
window over (source, path-prefix) and the KV-order key is a plain string
column.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from surrealdb_spark.operators import graph as G
from surrealdb_spark.operators.graph import RECURSION_LIMIT, SEP
from surrealdb_spark.values import local_frame



def _rid_table(c: Column) -> Column:
    return F.regexp_extract(c, "^([^:]*):", 1)


def _rid_key(c: Column) -> Column:
    return F.regexp_replace(c, "^[^:]*:", "")


def _kv_key(c: Column) -> Column:
    """Record-id key part, tagged so numeric keys order before strings
    (types/src/value/record_id/key.rs ordering: Number < String)."""
    k = _rid_key(c)
    return F.when(
        k.rlike("^[0-9]+$"), F.concat(F.lit("\x02"), F.lpad(k, 20, "0"))
    ).otherwise(F.concat(F.lit("\x03"), k))


def edge_df(cat, name: str) -> DataFrame | None:
    """Resolve an edge table by name; None when it isn't RELATE-shaped."""
    df = None
    if name in cat.edges:
        df = cat.edges[name]
    else:
        try:
            df = cat.table(name)
        except Exception:
            return None
    if df is None or "in" not in df.columns or "out" not in df.columns:
        return None
    if "id" not in df.columns:
        df = df.withColumn(
            "id", F.concat(F.lit(name), F.lit(":"), F.md5(F.concat_ws("|", "in", "out")))
        )
    return df


class LookupError_(ValueError):
    """A lookup shape this engine doesn't support (falls back to error)."""


# driver-side cap for the recursive-destructure tree assembler (an OLTP
# point-query path): loud failure beats a silent OOM on a celebrity node
_DESTRUCTURE_CAP = 10_000
# distinct record-id tables a frontier or a record-link chain may span
_LINK_TABLE_CAP = 32
# a step of a recursion level (graph.hop)
_HOP = "__here string, __there string, __piece string"


def attach_lookups(spark: SparkSession, df: DataFrame, cat, specs: list,
                   params: dict, compile_expr, types_of) -> DataFrame:
    """Attach one hidden array column per lookup spec.

    specs: list of ``(slot, base_ast, steps, mode)`` where steps is a list
    of ``(dir, tables|None, opts)`` single lookups and mode is ``("id",)``,
    ``("rows",)`` or ``("destructure", fields)``.
    """
    if "id" not in df.columns:
        raise LookupError_("graph lookups need record sources (no id column)")
    for spec in specs:
        df = _attach_one(spark, df, cat, spec, params, compile_expr, types_of)
    return df


def _seed_col(base, params, compile_expr) -> Column:
    if base == ("curr",) or base == ("ident", "id"):
        return F.col("id")
    return compile_expr(base, params, {})


def _has_parent(ast) -> bool:
    if not isinstance(ast, (tuple, list)):
        return False
    if isinstance(ast, tuple) and ast[0] == "param" and ast[1] == "parent":
        return True
    return any(_has_parent(x) for x in ast if isinstance(x, (tuple, list)))


def _opts_have_parent(steps) -> bool:
    for _, _, o in steps:
        if _has_parent(o.get("where")):
            return True
        if any(_has_parent(a) for a, _ in o.get("order", [])):
            return True
    return False


def _attach_one(spark, df, cat, spec, params, compile_expr, types_of):
    slot, base, steps, mode = spec
    sel_cols = [
        F.col("id").alias("__rk"),
        _seed_col(base, params, compile_expr).alias("__node"),
        F.lit("").alias("__ord"),
    ]
    if _opts_have_parent(steps):
        # $parent in a lookup subquery: carry the source row through the
        # hops (exec CurrentValueSource $parent binding)
        sel_cols.append(F.struct(*[F.col(c) for c in df.columns])
                        .alias("__parent"))
        params = {**params, "parent": F.col("__parent")}
    fr = df.select(*sel_cols)
    state = "node"
    last_tables = None
    want_row_at = len(steps) - 1 if mode[0] != "id" else None
    for i, (dirn, tables, opts) in enumerate(steps):
        want_row = (i == want_row_at) or bool(
            opts.get("fields") or opts.get("star") or opts.get("order")
        )
        if state == "node":
            fr = _edge_segment(fr, cat, dirn, tables, opts, params,
                               want_row, compile_expr, types_of)
            state = "edge"
        else:
            fr = _target_segment(fr, cat, dirn, tables, opts, params,
                                 want_row, compile_expr, types_of)
            state = "node"
        last_tables = tables
    if "__grpv" in fr.columns:
        val = fr["__grpv"]  # grouped subquery: per-group struct rows
    else:
        fr, val = _final_value(fr, cat, state, mode, steps[-1],
                               last_tables, params, compile_expr, types_of)
    agg = (
        fr.select("__rk", F.struct(F.col("__ord").alias("o"),
                                   val.alias("v")).alias("__s"))
        .groupBy("__rk")
        .agg(F.transform(F.array_sort(F.collect_list("__s")),
                         lambda x: x["v"]).alias(slot))
    )
    out = df.join(agg, df["id"] == agg["__rk"], "left").drop("__rk")
    empty = F.array().cast(dict(agg.dtypes)[slot])
    return out.withColumn(slot, F.coalesce(F.col(slot), empty))


def _edge_segment(fr, cat, dirn, tables, opts, params, want_row,
                  compile_expr, types_of):
    """One node→edges hop: equi-join frontier against the edge table(s)."""
    fr = fr.drop(*[c for c in fr.columns if c.startswith("__c_")])
    dirs = [("in", "0"), ("out", "1")] if dirn == "both" else [(dirn, "")]
    names = tables if tables is not None else sorted(cat.edge_names())
    hops = []
    carry_cols: list[str] | None = None
    parent_where = _has_parent(opts.get("where"))
    if parent_where:
        want_row = True  # correlated filter needs the edge fields post-join
    for ti, t in enumerate(names):
        e = edge_df(cat, t)
        if e is None:
            continue
        if "range" in opts:
            # edge-id range bounds (scan/graph.rs EdgeTableSpec) — a plain
            # key predicate, pushdown-able into the edge scan.  Array-key
            # bounds (`->edge:[6]..=[$n]`) compare in element-wise VALUE
            # order via the order-preserving key encoding (values.py).
            lo, hi, incl = opts["range"]
            if any(isinstance(b, tuple) and b[0] == "karr"
                   for b in (lo, hi) if b is not None):
                from surrealdb_spark.values import (
                    encode_key_value, key_sort_udf)

                def _kb(b):
                    if not (isinstance(b, tuple) and b[0] == "karr"):
                        return encode_key_value(b)
                    ast = b[1]
                    elems = ast[1] if ast[0] == "array" else [ast]
                    row = e.sparkSession.range(1).select(*[
                        compile_expr(el, params, {}).alias(f"v{i}")
                        for i, el in enumerate(elems)]).first()
                    return encode_key_value(
                        [row[f"v{i}"] for i in range(len(elems))])

                enc = key_sort_udf()(F.col("id"))
                if lo is not None:
                    e = e.filter(enc >= F.lit(_kb(lo)))
                if hi is not None:
                    b2 = F.lit(_kb(hi))
                    e = e.filter(enc <= b2 if incl else enc < b2)
            else:
                k = _rid_key(F.col("id"))
                if isinstance(lo, int) or isinstance(hi, int):
                    k = k.try_cast("bigint")
                if lo is not None:
                    e = e.filter(k >= F.lit(lo))
                if hi is not None:
                    e = e.filter(k <= F.lit(hi) if incl else k < F.lit(hi))
        if "where" in opts and not parent_where:
            e = e.filter(_truthy_guard(
                compile_expr(opts["where"], params, types_of(e))))
        # explicit lists scan in specification order; the `?` wildcard
        # scans KV order = table-name order (key/graph/mod.rs ft field)
        tkey = f"{ti:03d}" if tables is not None else t
        for d, rank in dirs:
            here = "in" if d == "out" else "out"
            sel = [
                F.col("id").alias("__eid"),
                F.col("in").alias("__ein"),
                F.col("out").alias("__eout"),
                F.col(here).alias("__mt"),
                F.concat(F.lit(rank), F.lit(SEP), F.lit(tkey), F.lit(SEP),
                         _kv_key(F.col("id"))).alias("__piece"),
            ]
            if want_row:
                cols = [c for c in e.columns]
                if carry_cols is None:
                    carry_cols = cols
                elif carry_cols != cols:
                    raise LookupError_(
                        "row-shaped lookup over heterogeneous edge tables")
                sel += [F.col(c).alias(f"__c_{c}") for c in cols]
            hops.append(e.select(*sel))
    if not hops:
        sc = fr.sparkSession
        schema = "__rk string, __ord string, __eid string, __ein string, __eout string"
        return local_frame(sc, [], schema)
    hop = hops[0]
    for h in hops[1:]:
        hop = hop.unionByName(h)
    joined = fr.join(hop, fr["__node"] == hop["__mt"]).drop("__mt", "__node")
    if parent_where:
        joined = joined.filter(_truthy_guard(
            _row_expr(opts["where"], params, compile_expr)))
    joined = joined.withColumn("__prevord", F.col("__ord"))
    joined = joined.withColumn(
        "__ord", F.concat(F.col("__prevord"), F.lit(SEP), F.col("__piece"))
    ).drop("__piece")
    if opts.get("group") is not None:
        return _apply_group(joined, opts, params, compile_expr)
    joined = _apply_subquery_opts(joined, opts, params, compile_expr)
    return joined.drop("__prevord")


def _apply_subquery_opts(joined, opts, params, compile_expr):
    """Per-source ORDER/LIMIT/START from a lookup subquery — one window
    over (source row, path prefix), no driver round-trips."""
    if not (opts.get("order") or opts.get("limit") is not None
            or opts.get("start") is not None):
        return joined
    if opts.get("order"):
        sort_cols = []
        for ast, desc in opts["order"]:
            c = _row_expr(ast, params, compile_expr)
            sort_cols.append(c.desc() if desc else c.asc())
        sort_cols.append(F.col("__ord").asc())
    else:
        sort_cols = [F.col("__ord").asc()]
    w = Window.partitionBy("__rk", "__prevord").orderBy(*sort_cols)
    joined = joined.withColumn("__rn", F.row_number().over(w))
    lo = opts.get("start") or 0
    joined = joined.filter(F.col("__rn") > lo)
    if opts.get("limit") is not None:
        joined = joined.filter(F.col("__rn") <= lo + opts["limit"])
    if opts.get("order"):
        # subquery ORDER replaces KV order for this segment's output
        joined = joined.withColumn(
            "__ord",
            F.concat(F.col("__prevord"), F.lit(SEP),
                     F.lpad(F.col("__rn").cast("string"), 12, "0")),
        )
    return joined.drop("__rn")


def _apply_group(joined, opts, params, compile_expr):
    """`->(SELECT aggs, key FROM edge GROUP BY key)` — per-source grouped
    aggregation over the joined edge rows (graph/subqueries.surql): ONE
    groupBy on (source, keys), partial-aggregated map-side; group objects
    order by their key text.  Emits `__grpv` (the per-group struct) which
    short-circuits _final_value."""
    from surrealdb_spark.sql.compiler import (
        _decompose, _default_name, _has_aggregate, types_of)

    keys = opts["group"]
    types = types_of(joined)
    key_aliases = []
    key_cols = []
    for i, k in enumerate(keys):
        rk = _remap_idents(k)
        alias = rk[1] if rk[0] == "ident" else f"__gk{i}"
        key_aliases.append(alias)
        key_cols.append(compile_expr(rk, params, types).alias(alias))
    aggs: list = []
    post: list = []
    for fld in opts.get("fields") or []:
        name = fld.alias or _default_name(fld.expr)
        e = _remap_idents(fld.expr)
        if _has_aggregate(e):
            post.append((_decompose(e, aggs, params, types), name))
        else:
            post.append((e, name))
    # _ocollect orders grouped arrays by `id` — surface the edge's id
    if "__c_id" in joined.columns and "id" not in joined.columns:
        joined = joined.withColumn("id", F.col("__c_id"))
    g = joined.groupBy(F.col("__rk"), F.col("__prevord"), *key_cols)
    out = g.agg(*aggs) if aggs else g.agg(F.count(F.lit(1)).alias("__n"))
    ptypes = dict(out.dtypes)
    struct_col = F.struct(*[
        compile_expr(a, params, ptypes).alias(n) for a, n in post])
    ordc = F.concat_ws(SEP, F.col("__prevord"),
                       *[F.col(a).cast("string") for a in key_aliases])
    return out.select(F.col("__rk"), ordc.alias("__ord"),
                      struct_col.alias("__grpv"))


def _row_expr(ast, params, compile_expr) -> Column:
    """Compile an expression over the carried row columns (__c_<name>)."""
    remapped = _remap_idents(ast)
    return compile_expr(remapped, params, {})


def _remap_idents(ast):
    if not isinstance(ast, tuple):
        return ast
    if ast[0] == "ident":
        return ("ident", f"__c_{ast[1]}")
    return tuple(
        [_remap_idents(x) if isinstance(x, tuple)
         else ([_remap_idents(e) for e in x] if isinstance(x, list) else x)
         for x in ast]
    )


def _truthy_guard(c: Column) -> Column:
    return c.cast("boolean")


def _target_segment(fr, cat, dirn, tables, opts, params, want_row,
                    compile_expr, types_of):
    """One edge→record hop: read the edge's pointer(s) — a projection."""
    drop = [c for c in fr.columns if c.startswith("__c_")] + \
        ["__eid", "__ein", "__eout"]
    if dirn == "both":
        ptrs = F.array(
            F.struct(F.lit("0").alias("r"), F.col("__ein").alias("p")),
            F.struct(F.lit("1").alias("r"), F.col("__eout").alias("p")),
        )
        fr = fr.withColumn("__pt", F.explode(ptrs))
        fr = fr.withColumn("__node", F.col("__pt.p")).withColumn(
            "__ord", F.concat(F.col("__ord"), F.lit(SEP), F.col("__pt.r"))
        ).drop("__pt", *drop)
    else:
        ptr = F.col("__eout") if dirn == "out" else F.col("__ein")
        fr = fr.withColumn("__node", ptr).drop(*drop)
    if tables is not None:
        fr = fr.filter(_rid_table(F.col("__node")).isin(tables))
    if "where" in opts or opts.get("order") or opts.get("limit") is not None \
            or opts.get("start") is not None or want_row:
        # target-record predicates/projections need the target rows
        fr = _join_target_rows(fr, cat, tables)
        if "where" in opts:
            fr = fr.filter(_truthy_guard(
                _row_expr(opts["where"], params, compile_expr)))
        if opts.get("order") or opts.get("limit") is not None \
                or opts.get("start") is not None:
            fr = fr.withColumn("__prevord", F.col("__ord"))
            fr = _apply_subquery_opts(fr, opts, params, compile_expr)
            fr = fr.drop("__prevord")
    return fr


def _join_target_rows(fr, cat, tables):
    """Attach the target records' columns as __c_<name>.  A `?` wildcard
    (or multi-table list) resolves the candidate tables from the pointers'
    prefixes (scan/graph.rs TargetId: any-table target) — one bounded
    driver action over DISTINCT table names, then per-table joins merged
    with schema-aligning unions."""
    if tables is not None and len(tables) == 1:
        t = cat.table(tables[0])
        if "id" not in t.columns:
            raise LookupError_(f"target table {tables[0]!r} has no id column")
        tgt = t.select(F.col("id").alias("__tid"),
                       *[F.col(c).alias(f"__c_{c}") for c in t.columns])
        return fr.join(tgt, fr["__node"] == tgt["__tid"], "inner").drop("__tid")
    if tables is None:
        tables = [r[0] for r in fr.select(
            _rid_table(F.col("__node")).alias("t")).distinct().collect()
            if r[0]]
    outs = []
    for tb in sorted(tables):
        try:
            t = cat.table(tb)
        except Exception:
            continue
        if "id" not in t.columns:
            continue
        tgt = t.select(F.col("id").alias("__tid"),
                       *[F.col(c).alias(f"__c_{c}") for c in t.columns])
        outs.append(fr.join(tgt, fr["__node"] == tgt["__tid"], "inner")
                    .drop("__tid"))
    if not outs:
        raise LookupError_("row-shaped lookup found no resolvable target")
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o, allowMissingColumns=True)
    return out


def _final_value(fr, cat, state, mode, last_step, last_tables, params,
                 compile_expr, types_of):
    """The per-result value column for the collect, per output mode."""
    _, _, opts = last_step
    if mode[0] == "id" and not (opts.get("fields") or opts.get("star")):
        return fr, (F.col("__eid") if state == "edge" else F.col("__node"))
    # row-shaped output: carried columns must be present
    if not any(c.startswith("__c_") for c in fr.columns):
        raise LookupError_("internal: row mode without carried row columns")
    row_cols = [c[4:] for c in fr.columns if c.startswith("__c_")]
    if opts.get("fields"):
        parts = []
        for fld in opts["fields"]:
            name = fld.alias or _field_default_name(fld.expr)
            parts.append(_row_expr(fld.expr, params, compile_expr).alias(name))
        return fr, F.struct(*parts)
    if mode[0] == "destructure":
        parts = []
        for name, sub in mode[1]:
            if sub and sub[0][0] == "aliased":
                fr, c = _deref_expr(fr, cat, sub[0][1], params, compile_expr)
            elif name in row_cols:
                c = F.col(f"__c_{name}")
            else:
                c = F.lit(None)
            parts.append(c.alias(name))
        return fr, F.struct(*parts)
    # full row (star / field-chain handled by idiom getField downstream)
    return fr, F.struct(*[F.col(f"__c_{c}").alias(c) for c in row_cols])


_DEREF_N = [0]


def _deref_expr(fr, cat, expr, params, compile_expr):
    """Evaluate an aliased-destructure expression over the carried row,
    dereferencing one level of record links (`team.name` — team holds a
    record id).  The link's table comes from sampling one value, the FETCH
    precedent (compiler fetch attach) — an OLTP-bounded driver action."""
    if expr[0] == "ident":
        return fr, F.col(f"__c_{expr[1]}")
    if not (expr[0] == "path" and expr[1][0] == "ident"
            and all(p[0] == "field" for p in expr[2])):
        return fr, _row_expr(expr, params, compile_expr)
    colname = f"__c_{expr[1][1]}"
    chain = [p[1] for p in expr[2]]
    if colname not in fr.columns:
        return fr, F.lit(None)
    sample = fr.select(colname).filter(F.col(colname).isNotNull()).first()
    if sample is None:
        return fr, F.lit(None)
    v = sample[0]
    if not (isinstance(v, str) and ":" in v):
        c = F.col(colname)
        for f_ in chain:
            c = c.getField(f_)
        return fr, c
    tbl = v.split(":", 1)[0]
    t = cat.table(tbl)
    _DEREF_N[0] += 1
    a = f"__dl{_DEREF_N[0]}"
    pick = t.select(F.col("id").alias(f"{a}_id"),
                    F.col(chain[0]).alias(f"{a}_v"))
    fr = fr.join(pick, fr[colname] == pick[f"{a}_id"], "left") \
        .drop(f"{a}_id")
    c = F.col(f"{a}_v")
    for f_ in chain[1:]:
        c = c.getField(f_)
    return fr, c


def _field_default_name(expr) -> str:
    if isinstance(expr, tuple) and expr[0] == "ident":
        return expr[1]
    return "value"


def attach_deref(df: DataFrame, cat, slot: str, col: str,
                 chain: list[str]) -> DataFrame:
    """Record-link dereference: `t.name` where `t` holds a record id —
    one left join against the link's table (value/idiom.rs record deref;
    planner/record_link_index.surql).  The table comes from sampling one
    value (FETCH precedent); rows whose value isn't a record id (or with
    no target row) yield NULL, matching `.field` on a non-record."""
    sample = df.select(col).filter(
        F.col(col).isNotNull() & F.col(col).contains(":")).first()
    if sample is None:
        return df.withColumn(slot, F.lit(None).cast("string"))
    tbl = str(sample[0]).split(":", 1)[0]
    try:
        t = cat.table(tbl)
    except Exception:
        return df.withColumn(slot, F.lit(None).cast("string"))
    if "id" not in t.columns or chain[0] not in t.columns:
        return df.withColumn(slot, F.lit(None).cast("string"))
    c = F.col(chain[0])
    for f_ in chain[1:]:
        c = c.getField(f_)
    _DEREF_N[0] += 1
    a = f"__dr{_DEREF_N[0]}"
    tgt = t.select(F.col("id").alias(f"{a}_id"), c.alias(slot))
    return df.join(tgt, df[col] == tgt[f"{a}_id"], "left").drop(f"{a}_id")


def attach_array_deref(df: DataFrame, cat, slot: str, col: str,
                       fields: list[str], where_ast=None,
                       compile_expr=None, types_of=None,
                       params=None) -> DataFrame:
    """Array-of-record-link projection: `tags.name` / `tags.{id,name}`
    over an `array<string>` record-id column (expr/part.rs Field/
    Destructure over arrays; also `(SELECT f FROM $this.tags WHERE ...)`
    correlated subqueries).  posexplode → one left join against the
    sampled link table → ordered re-collect, so element order survives.
    `fields` of length 1 yields an array of values; longer yields an array
    of `{field: value}` structs.  `where_ast` filters elements against the
    dereferenced record.  Elements that aren't record ids (or have no
    target row) contribute NULL field values, like `.f` on a non-record."""
    if fields == ["id"] and where_ast is None:
        return df.withColumn(slot, F.col(col))
    sample = df.select(F.explode(col).alias("e")) \
        .filter(F.col("e").isNotNull() & F.col("e").contains(":")).first()
    if sample is None:
        return df.withColumn(slot, F.lit(None).cast("array<string>"))
    tbl = str(sample[0]).split(":", 1)[0]
    try:
        t = cat.table(tbl)
    except Exception:
        return df.withColumn(slot, F.lit(None).cast("array<string>"))
    _DEREF_N[0] += 1
    a = f"__adr{_DEREF_N[0]}"
    key, pos, el = f"{a}k", f"{a}p", f"{a}e"
    base = df.withColumn(key, F.monotonically_increasing_id())
    ex = base.select(F.col(key),
                     F.posexplode_outer(F.col(col)).alias(pos, el))
    tgt = t
    for f_ in fields:
        if f_ not in tgt.columns:
            tgt = tgt.withColumn(f_, F.lit(None).cast("string"))
    # string-qualified join keys: repeated derefs against the same table
    # would otherwise trip Spark's ambiguous-self-join detection
    exa, ta = f"{a}x", f"{a}t"
    j = ex.alias(exa).join(tgt.alias(ta),
                           F.col(f"{exa}.{el}") == F.col(f"{ta}.id"),
                           "left")
    if len(fields) == 1:
        val = F.col(f"{ta}.{fields[0]}")
    else:
        val = F.struct(*[F.col(f"{ta}.{f_}").alias(f_) for f_ in fields])
    keep = F.col(pos).isNotNull()
    if where_ast is not None and compile_expr is not None:
        cond = compile_expr(where_ast, params or {}, types_of(tgt))
        keep = keep & F.coalesce(cond, F.lit(False))
    arr = F.transform(
        F.array_sort(F.collect_list(F.when(
            keep, F.struct(F.col(pos).alias("p"), val.alias("v"))))),
        lambda x: x["v"])
    packed = j.groupBy(key).agg(
        arr.alias(f"{a}v"),
        F.max(F.col(pos).isNotNull()).alias(f"{a}has"))
    out = base.join(packed, key, "left") \
        .withColumn(slot, F.when(F.col(f"{a}has"), F.col(f"{a}v"))) \
        .drop(key, f"{a}v", f"{a}has")
    return out


# -- recursive destructure `.{min..max}.{f, g: ->e->t.@}` ---------------------


def recursive_destructure_value(spark, cat, start_rid: str, bounds,
                                destr_fields: list):
    """`rid.{..max}.{name, kids: ->edge->tbl.@}` — nested-tree assembly
    for ONE root record (recursion.rs Part::RepeatRecurse;
    graph/destructure_recursive.surql)."""
    return recursive_destructure_trees(
        spark, cat, [start_rid], bounds, destr_fields).get(start_rid)


def recursive_destructure_trees(spark, cat, start_rids: list, bounds,
                                destr_fields: list) -> dict:
    """Nested-tree assembly for a SET of root records sharing ONE BFS
    (recursion.rs Part::RepeatRecurse; idiom/recursion_graph.surql
    `SELECT VALUE @{..}.{...} FROM person` recurses every row).

    The result is a recursively-typed document (unbounded nesting), which
    no static Spark schema can carry — so this is the OLTP point-query
    path: a level-wise driver BFS collects the reachable closure (one
    filtered edge scan per level, shared across ALL roots, so N roots
    cost the same scans as one), then each tree assembles driver-side
    from the collected maps.  Work is bounded by the roots' reachable subgraph,
    not the table size; every materialization is loudly capped."""
    from surrealdb_spark.values import key_sort_text, strip_absent

    lo, hi = bounds
    hi_eff = RECURSION_LIMIT if hi is None else min(hi, RECURSION_LIMIT)

    # per-field traversal steps: (name, [(dir, edge, target), ...])
    trav: dict[str, list] = {}
    posts: dict[str, tuple] = {}  # per-field value post-closure (.chain)
    plain: list[str] = []
    for name, sub in destr_fields:
        if sub and sub[0][0] == "aliased":
            path = sub[0][1]
            if (isinstance(path, tuple) and path[0] == "method"
                    and path[1] == "chain" and path[3]
                    and isinstance(path[3][0], tuple)
                    and path[3][0][0] == "closure"):
                # `contains.@.chain(|$v| ...)` — post-map each recursion
                # value through the closure (driver tree assembly)
                posts[name] = path[3][0]
                path = path[2]
            if not (path[0] == "path" and path[2]
                    and path[2][-1] == ("repeat",)):
                raise LookupError_(
                    "recursive destructure supports plain fields and "
                    "`->edge->tbl.@` / `linkfield.@` traversal fields")
            if (path[1][0] == "ident" and len(path[2]) == 1):
                # `children.@` — record-link recursion (idiom.rs Recurse
                # over a link field holding record id(s))
                trav[name] = ("link", path[1][1])
                continue
            singles = [p[1] for p in path[2][:-1] if p[0] == "graph"]
            if len(singles) != len(path[2]) - 1 or len(singles) > 2:
                raise LookupError_(
                    "traversal field must be ONE ->edge->tbl pair")
            d1, s1, _ = singles[0]
            tgt = "?"
            if len(singles) == 2:
                _, s2, _ = singles[1]
                tgt = (s2 or ["?"])[0]
            trav[name] = ("edge", d1, (s1 or ["?"])[0], tgt)
        elif sub and sub[0][0] == "destructure":
            # nested destructure whose entries are `x: x.@` link
            # recursions (`links.{ a: a.@ }` —
            # idiom/recursion_nested_destructure.surql; recursion.rs
            # RepeatRecurse inside Part::Destructure)
            inners: list[str] | None = []
            for iname, isub in sub[0][1]:
                p = isub and isub[0][0] == "aliased" and isub[0][1]
                if (isinstance(p, tuple) and p[0] == "path"
                        and p[1] == ("ident", iname)
                        and list(p[2]) == [("repeat",)]):
                    inners.append(iname)
                else:
                    inners = None
                    break
            if inners is None:
                raise LookupError_(
                    "nested recursive destructure supports `x: x.@` "
                    "entries only")
            trav[name] = ("nested", inners)
        else:
            plain.append(name)

    # BFS: collect children maps per traversal field, level by level
    # (one filtered scan per level per field, bounded by the root's
    # reachable subgraph; its own loop, not graph._traverse).  This is an
    # OLTP point-query path (one root record's tree); a celebrity node
    # would blow the driver, so every materialization is LOUDLY capped —
    # same contract as statements._bounded_collect.
    def _capped(df, what: str) -> list:
        rows = df.limit(_DESTRUCTURE_CAP + 1).collect()
        if len(rows) > _DESTRUCTURE_CAP:
            raise LookupError_(
                f"recursive destructure {what} exceeds the "
                f"{_DESTRUCTURE_CAP}-row driver cap — the reachable "
                "subgraph is too large for a point-query tree assembly"
            )
        return rows

    def _fetch_rows(ids: set) -> dict:
        got: dict = {}
        by_tb: dict[str, list] = {}
        for rid in ids:
            by_tb.setdefault(str(rid).split(":", 1)[0], []).append(rid)
        for tb, tids in by_tb.items():
            try:
                t = cat.table(tb)
            except Exception:
                continue
            if "id" not in t.columns:
                continue
            for r in _capped(t.filter(F.col("id").isin(tids)),
                             f"row fetch ({tb})"):
                got[r["id"]] = strip_absent(r.asDict(recursive=True))
        return got

    children: dict[str, dict[str, list]] = {n: {} for n in trav}
    rowmap: dict[str, dict] = _fetch_rows(set(start_rids))
    frontier = set(start_rids)
    seen = set(start_rids)
    depth_reached = 1
    for _depth in range(hi_eff):
        if not frontier:
            break
        nxt: set = set()
        for name, spec in trav.items():
            if spec[0] == "link":
                fldname = spec[1]
                for rid in frontier:
                    row0 = rowmap.get(rid, {})
                    if fldname not in row0:
                        # absent link field: the leaf renders NONE, not []
                        children[name][rid] = None
                        continue
                    v = row0.get(fldname)
                    kids = v if isinstance(v, list) else (
                        [v] if v is not None else [])
                    kids = [k for k in kids
                            if isinstance(k, str) and ":" in k]
                    children[name][rid] = kids
                    nxt.update(kids)
                continue
            if spec[0] == "nested":
                for rid in frontier:
                    row0 = rowmap.get(rid, {})
                    node = row0.get(name)
                    if not isinstance(node, dict):
                        children[name][rid] = None
                        continue
                    got: dict = {}
                    for iname in spec[1]:
                        v = node.get(iname)
                        kids = v if isinstance(v, list) else (
                            [v] if v is not None else [])
                        kids = [k for k in kids
                                if isinstance(k, str) and ":" in k]
                        got[iname] = kids
                        nxt.update(kids)
                    children[name][rid] = got
                continue
            _, dirn, edge, target = spec
            ids = sorted(frontier)
            e = edge_df(cat, edge)
            if e is None:
                continue
            here, there = ("in", "out") if dirn == "out" else ("out", "in")
            hop = (e.filter(F.col(here).isin(ids))
                   .select(F.col(here).alias("src"),
                           F.col(there).alias("dst"),
                           F.col("id").alias("eid")))
            if target != "?":
                hop = hop.filter(_rid_table(F.col("dst")) == target)
            for r in sorted(
                    _capped(hop, f"edge frontier ({edge})"),
                    key=lambda r: key_sort_text(
                        str(r["eid"]).split(":", 1)[1])):
                children[name].setdefault(r["src"], []).append(r["dst"])
                nxt.add(r["dst"])
        frontier = nxt - seen
        seen |= nxt
        if frontier:
            depth_reached += 1
        rowmap.update(_fetch_rows(frontier))

    def assemble(rid: str, depth: int, path: tuple):
        """(tree, deepest-node-depth on any simple path through rid).
        Branches whose subtree can't reach the MIN depth are pruned
        (recursion.rs min-depth pruning — `a:1.{3}` drops dead ends)."""
        row = rowmap.get(rid, {})
        out = {}
        deepest = depth

        def _kids_out(ikids):
            nonlocal deepest
            kids = [k for k in ikids if k not in path]
            if depth >= hi_eff:
                return kids  # bound reached: bare ids
            pairs = [assemble(k, depth + 1, path + (rid,)) for k in kids]
            for _t, dd in pairs:
                deepest = max(deepest, dd)
            if lo is not None:
                pairs = [(t, dd) for t, dd in pairs if dd >= lo]
            return [t for t, _dd in pairs]

        for name, sub in destr_fields:
            if name in trav:
                got = children[name].get(rid, [])
                if got is None:
                    out[name] = None
                elif isinstance(got, dict):
                    # nested `links.{ a: a.@ }` — per-inner-field lists
                    out[name] = {iname: _kids_out(ikids)
                                 for iname, ikids in got.items()}
                else:
                    out[name] = _kids_out(got)
            elif name in row:
                out[name] = row[name]
            if name in posts and name in out:
                from surrealdb_spark import pyeval as _PE

                cl = posts[name]
                out[name] = _PE.peval(cl[2], {cl[1][0]: out[name]})
        return out, deepest

    out: dict = {}
    for rid in start_rids:
        result, dd = assemble(rid, 1, ())
        if lo is not None and lo > max(dd, depth_reached):
            # the tree is shallower than the minimum depth: no result
            # (recursion.rs min bound; recursion_record_links `{5..}`)
            out[rid] = None
        else:
            out[rid] = result
    return out


# -- bounded recursion `.{min..max}[+instr](->edge->tbl)` ---------------------
#
# Reference semantics (core/src/exec/operators/recursion.rs; verified
# against language-tests/tests/language/graph/{depth_*,path_*,cycles_*,
# collect_min_depth,range_simple}.surql):
#   - no instruction → the frontier at the FINAL depth (max, or the last
#     non-empty level on dead end), traversal-ordered, duplicates kept;
#   - +collect → all nodes over depths [min..max], deduplicated, ordered
#     by proximity (first-reach depth, then traversal order);
#   - +path → every terminated path (dead end or max depth) as an array
#     of record ids excluding the start (+inclusive prepends it), ordered
#     by (termination depth, traversal order);
#   - +shortest=<rid> → the shortest path to the target as an id array
#     (NONE when unreachable);
#   - unbounded `..` applies the per-path no-revisit cycle rule
#     (recursion.rs:8-15) and the depth cap 256 (cnf/mod.rs:53).
# Every kind runs on graph._traverse: one plan choice from the edge count
# (LOCAL_EDGE_MAX_ROWS), then the per-kind grouping below, per row.


def validate_recursion_bounds(lo, hi) -> None:
    """Reference bound checks (cnf/mod.rs IDIOM_RECURSION_LIMIT;
    idiom/recursion_limits.surql error shapes)."""
    if lo is not None and lo < 1:
        raise LookupError_(
            f"Found {lo} for bound but expected at least 1.")
    if hi is not None and hi > RECURSION_LIMIT:
        raise LookupError_(
            f"Found {hi} for bound but expected {RECURSION_LIMIT} at most.")


def recurse_value(df: DataFrame, cat, slot: str, base, rng, instr, steps,
                  trailing_field: str | None, params, compile_expr):
    """The recursion result for each row of ``df``: ``(__rk, slot)``, one
    row per record id, to join back to ``df``.

    Each step of a level becomes one hop projection (``_edge_hop`` or
    ``_link_hop``), and ``graph._traverse`` enumerates every path of each
    distinct seed once, on its one plan choice.  The rows at every depth
    join back to the row keys ``__rk``; the per-kind post-processing below
    groups per ``__rk``, so each row's answer is its own.
    """
    lo, hi = rng
    validate_recursion_bounds(lo, hi)
    lo = 1 if lo is None else lo
    unbounded = hi is None
    kind = "shortest" if "shortest" in instr else instr.get("kind", "last")
    inclusive = bool(instr.get("inclusive"))
    # A plain `{..}` must stop by itself: a path alive one level past the
    # cap is the recursion limit error (cnf/mod.rs:53), and a revisit
    # under TIMEOUT is the timeout error — the reference spins on a cycle
    # until TIMEOUT fires (graph/timeout.surql), so raise it up front.
    strict = unbounded and kind == "last"
    hi_eff = RECURSION_LIMIT + strict if unbounded else hi

    spark = df.sparkSession
    seed = _seed_col(base, params, compile_expr)
    keys = df.select(F.col("id").alias("__rk"), seed.cast("string").alias("start")).distinct()
    rks = keys.select("__rk")
    scalar_chain = False
    if steps[0][0] == "link":
        hops, scalar_chain = _link_hop(keys, cat, steps[0][1])
    else:
        hops = [_edge_hop(spark, cat, *st) for st in steps]
    found = G._traverse(keys, hops, 1, hi_eff, **G._paths(
        no_revisit=unbounded, flag_cycles=strict and bool(params.get("__timeout_ns__"))))
    if strict:
        found = found.localCheckpoint(eager=False)
        deepest, cycles = found.agg(
            F.max("depth"), F.count(F.when(F.col("node").isNull(), 1))).first()
        if cycles:
            raise LookupError_(
                "The query was not executed because it exceeded the timeout")
        if (deepest or 0) > RECURSION_LIMIT:
            raise LookupError_(
                f"Exceeded the idiom recursion limit of {RECURSION_LIMIT}.")
    levels = found.select(
        "__rk", F.col("node").alias("__node"), "__ord", "__path",
        F.col("depth").alias("__depth"))
    per_rk = Window.partitionBy("__rk")
    # each row's frontier at its last non-empty level
    last = levels.withColumn("__mx", F.max("__depth").over(per_rk)) \
        .filter(F.col("__depth") == F.col("__mx"))

    if kind == "last":
        rows = last.filter(F.col("__mx") >= lo)  # gated on the min bound
        out = _nest_nodes(rks, cat, slot, rows, steps, trailing_field,
                          sort_by_depth=False)
        if scalar_chain:
            # a scalar record-link chain repeats to a VALUE, not an array
            # (idiom repeat over non-array values; graph/
            # recursion_record_links.surql `.{..}.parent` → org:company)
            out = out.withColumn(slot, F.try_element_at(F.col(slot),
                                                        F.lit(1)))
        return out
    if kind == "collect":
        # min-depth gate: `.{2..+collect}` collects depths >= 2 only
        # (graph/collect_min_depth.surql)
        rows = levels.filter(F.col("__depth") >= lo).select(
            "__rk", "__node", "__ord", "__depth")
        if inclusive:
            rows = keys.select(
                "__rk", F.col("start").alias("__node"),
                F.lit("").alias("__ord"), F.lit(0).alias("__depth"),
            ).unionByName(rows)
        # dedup: keep each node's first reach (min depth, then order)
        w = Window.partitionBy("__rk", "__node").orderBy(
            F.col("__depth").asc(), F.col("__ord").asc())
        rows = rows.withColumn("__rn", F.row_number().over(w)) \
            .filter(F.col("__rn") == 1).drop("__rn")
        return _nest_nodes(rks, cat, slot, rows, steps, trailing_field,
                           sort_by_depth=True)
    val = F.col("__path") if inclusive else F.slice(
        F.col("__path"), 2, F.greatest(F.size(F.col("__path")) - 1, F.lit(0)))
    if kind == "path":
        leaves = _terminated_paths(levels)
        if trailing_field is not None and trailing_field[0] == "field":
            # `.{n+path}(...).name` — each path element derefs through
            # its record's field (multi-table union map;
            # idiom/recursion_record_links.surql)
            leaves = _map_path_field(leaves, cat, trailing_field[1])
        agg = _nest_paths(leaves, slot, val, F.col("__depth"))
        out = rks.join(agg, "__rk", "left")
        return out.withColumn(slot, F.coalesce(
            F.col(slot), F.array().cast("array<array<string>>")))
    if kind == "shortest":
        tgt = instr["shortest"]
        if tgt[0] == "param":
            # `+shortest=$rid` — the target resolves from the bound
            # parameter (recursion_shortest_path.surql)
            tgt_val = str(params.get(tgt[1]))
        else:
            tgt_val = tgt[1] if tgt[0] in ("lit", "ulit") else str(tgt[1])
        hits = levels.filter(F.col("__node") == F.lit(tgt_val))
        if not unbounded and hits.isEmpty():
            # target unreached within the bound: the recursion stops at the
            # bound and yields the frontier PATHS, nested like +path
            # (golden: graph/path_shortest.surql `.{..3+shortest=...}`).
            # A column holds one type, so only a SELECT where no row
            # reaches the target takes this form.
            return rks.join(_nest_paths(last, slot, val), "__rk", "left")
        w = per_rk.orderBy(F.col("__depth").asc(), F.col("__ord").asc())
        best = hits.withColumn("__rn", F.row_number().over(w)) \
            .filter(F.col("__rn") == 1)
        return rks.join(best.select("__rk", val.alias(slot)), "__rk", "left")
    raise LookupError_(f"unknown recursion kind {kind!r}")


def _nest_paths(leaves, slot: str, val: Column, *order: Column) -> DataFrame:
    """(__rk, slot): each row's path values ``val``, ordered by ``order``
    then traversal order."""
    keys = [o.alias(f"k{i}") for i, o in enumerate(order)]
    return (
        leaves.select("__rk", F.struct(
            *keys, F.col("__ord").alias("o"), val.alias("v")).alias("__s"))
        .groupBy("__rk")
        .agg(F.transform(F.array_sort(F.collect_list("__s")),
                         lambda x: x["v"]).alias(slot))
    )


def _edge_hop(spark, cat, dirn: str, edge: str, target: str) -> DataFrame:
    """An edge step as a hop projection: the piece is the edge's KV-order
    key; a named target keeps only the far ends in that table."""
    e = edge_df(cat, edge)
    if e is None:
        return local_frame(spark, [], _HOP)
    h = G.hop(e, dirn, F.concat(F.lit(edge), F.lit(SEP), _kv_key(F.col("id"))))
    if target != "?":
        h = h.filter(_rid_table(F.col("__there")) == target)
    return h


def _terminated_paths(levels: DataFrame) -> DataFrame:
    """Paths that ended: no child at the next level (dead end) or at the
    depth bound.  Linked by parent path (child path minus its last node)."""
    child_parents = levels.select(
        F.col("__rk").alias("__crk"),
        F.slice(F.col("__path"), 1, F.size(F.col("__path")) - 1).alias("__ppath"),
    ).distinct()
    return levels.join(
        child_parents,
        (levels["__rk"] == child_parents["__crk"])
        & (levels["__path"] == child_parents["__ppath"]),
        "left_anti",
    ).select("__rk", "__ord", "__path", "__depth")


def _map_path_field(leaves, cat, field: str):
    """Replace every record id in ``__path`` with that record's ``field``
    value (order-preserving; ids may span tables)."""
    ex = leaves.select(
        "__rk", "__ord", "__depth",
        F.posexplode("__path").alias("__pp", "__pe"))
    frames = []
    for tbl in _frontier_tables(ex, col="__pe"):
        try:
            t = cat.table(tbl)
        except Exception:
            continue
        tv = (F.col(field) if field in t.columns else F.lit(None)) \
            .cast("string")
        frames.append(t.select(F.col("id").alias("__tid"),
                               tv.alias("__tv")))
    if not frames:
        return leaves
    tgt = frames[0]
    for f2 in frames[1:]:
        tgt = tgt.unionByName(f2)
    mapped = (ex.join(tgt, ex["__pe"] == tgt["__tid"], "left")
              .groupBy("__rk", "__ord", "__depth")
              .agg(F.transform(
                  F.array_sort(F.collect_list(
                      F.struct(F.col("__pp").alias("p"),
                               F.col("__tv").alias("v")))),
                  lambda x: x["v"]).alias("__path")))
    return mapped


def _frontier_tables(fr, col="__node", cap=_LINK_TABLE_CAP) -> list[str]:
    """Distinct record-id tables present in a frontier column (a
    bounded-cardinality driver peek — tables, not rows)."""
    rows = fr.select(
        F.split(F.col(col).cast("string"), ":", 2).getItem(0).alias("t")
    ).filter(F.col("t").isNotNull() & F.contains(
        F.col(col).cast("string"), F.lit(":"))).distinct() \
        .limit(cap + 1).collect()
    tables = [r["t"] for r in rows if r["t"]]
    if len(tables) > cap:
        raise ValueError(
            f"graph frontier spans more than {cap} distinct tables; "
            "refusing to truncate traversal branches")
    return tables


def _link_hop(keys, cat, chain: list[str]):
    """A record-link step as ONE hop projection over every table the chain
    can reach from the seeds: each table's link field (the field chain;
    nested structs) from its ``id``.  The reachable tables are found once,
    one driver peek per newly reached set of tables, under the
    ``_frontier_tables`` cap (mixed-table link trees —
    idiom/recursion_record_links.surql).  Array-valued links flatten with
    positional order.  Returns ([projection], scalar)."""
    from pyspark.sql.types import ArrayType

    parts: dict = {}
    new = _frontier_tables(keys, col="start")
    while new:
        peek = []
        for tbl in new:
            parts[tbl] = None
            try:
                t = cat.table(tbl)
            except Exception:
                continue
            if chain[0] not in t.columns or "id" not in t.columns:
                continue
            c = F.col(chain[0])
            for f_ in chain[1:]:
                c = c.getField(f_)
            part = t.select(F.col("id").alias("__here"), c.alias("__lv"))
            arr = isinstance(part.schema["__lv"].dataType, ArrayType)
            parts[tbl] = (part, arr)
            lv = F.col("__lv").cast("array<string>" if arr else "string")
            peek.append(part.select((F.explode(lv) if arr else lv).alias("__node")))
        if not peek:
            break
        new = [t for t in _frontier_tables(reduce(DataFrame.unionByName, peek))
               if t not in parts]
        if len(parts) + len(new) > _LINK_TABLE_CAP:
            raise ValueError(
                f"record links span more than {_LINK_TABLE_CAP} distinct tables; "
                "refusing to truncate traversal branches")
    frames = [p for p in parts.values() if p is not None]
    if not frames:
        return [local_frame(keys.sparkSession, [], _HOP)], True
    is_array = any(arr for _, arr in frames)
    norm = []
    for part, arr in frames:
        lv = F.col("__lv")
        if not is_array:
            lv = lv.cast("string")
        elif arr:
            lv = lv.cast("array<string>")
        else:
            lv = F.when(lv.isNotNull(), F.array(lv.cast("string")))
        norm.append(part.select("__here", lv.alias("__lv")))
    tgt = reduce(DataFrame.unionByName, norm)
    if is_array:
        tgt = tgt.select("__here", F.posexplode("__lv").alias("__lp", "__there"))
        piece = F.lpad(F.col("__lp").cast("string"), 8, "0")
    else:
        tgt = tgt.withColumnRenamed("__lv", "__there")
        piece = _kv_key(F.col("__there"))
    tgt = tgt.filter(F.col("__there").isNotNull())
    return [tgt.select("__here", "__there", piece.alias("__piece"))], not is_array


def _nest_nodes(rks, cat, slot, rows, steps, trailing, sort_by_depth):
    """Group per-source node rows into an ordered array per row key.
    ``trailing`` is None, ("field", f), or ("destructure", entries) —
    applied to the reached records (a target-table join)."""
    order = [F.col("__depth").alias("d"), F.col("__ord").alias("o")] \
        if sort_by_depth else [F.col("__ord").alias("o")]
    if trailing is not None:
        if steps[-1][0] == "link":
            targets = _frontier_tables(rows)
        else:
            targets = [steps[-1][2]] if steps[-1][2] else []
        def _frame(target, force_str):
            t = cat.table(target)
            if trailing[0] == "field":
                tv = (F.col(trailing[1]) if trailing[1] in t.columns
                      else F.lit(None))
                if force_str:
                    tv = tv.cast("string")
                return t.select(F.col("id").alias("__tid"),
                                tv.alias("__tv"))
            picks = []
            for n, _sub in trailing[1]:
                c2 = F.col(n) if n in t.columns else F.lit(None)
                if force_str:
                    c2 = c2.cast("string")
                picks.append(c2.alias(n))
            return t.select(F.col("id").alias("__tid"),
                            F.struct(*picks).alias("__tv"))

        frames = []
        for target in targets:
            try:
                frames.append(_frame(target, len(targets) > 1))
            except Exception:
                continue
        if not frames:
            val = F.lit(None)
        else:
            tgt = frames[0]
            for f2 in frames[1:]:
                tgt = tgt.unionByName(f2)
            val = F.col("__tv")
            rows = rows.join(tgt, rows["__node"] == tgt["__tid"], "left")
    else:
        val = F.col("__node")
    agg = (
        rows.select("__rk", F.struct(*order, val.alias("v")).alias("__s"))
        .groupBy("__rk")
        .agg(F.transform(F.array_sort(F.collect_list("__s")),
                         lambda x: x["v"]).alias(slot))
    )
    out = rks.join(agg, "__rk", "left")
    empty = F.array().cast(dict(agg.dtypes).get(slot, "array<string>"))
    return out.withColumn(slot, F.coalesce(F.col(slot), empty))
