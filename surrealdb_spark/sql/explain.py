"""EXPLAIN / EXPLAIN ANALYZE — reference-parity plan descriptions.

The reference has two explain surfaces the language tests assert:

  * legacy ``SELECT ... EXPLAIN [FULL]`` — an array of
    ``{detail, operation}`` rows describing the old planner's access path
    (core/src/idx/planner, core/src/dbs/iterators.rs);
  * new-executor ``EXPLAIN [ANALYZE] <stmt>`` — an indented operator-tree
    text (core/src/exec/operators/explain.rs:30,103; 4-space indent,
    ``Name [ctx: Db] [attr: v, ...]`` lines, ANALYZE appends
    ``{rows: N}`` per operator plus a ``Total rows: N`` footer).

This module DESCRIBES the plan the reference would choose — index
selection from the defined indexes and WHERE conjuncts, sort elimination,
limit pushdown — while the actual Spark execution stays Catalyst-planned
(predicate pushdown subsumes these index scans).  ANALYZE row counts are
measured by executing the equivalent stages against the engine's tables
(OLTP-scoped: explain analyze is interactive, never a 100 TB path).
"""

from __future__ import annotations

import re

from dataclasses import dataclass, field


# -- SurrealQL expression printer (ToSql parity) ------------------------------


_BIN_PRINT = {
    "=": "=", "==": "==", "!=": "!=", ">": ">", ">=": ">=", "<": "<",
    "<=": "<=", "AND": "AND", "&&": "AND", "OR": "OR", "||": "OR",
    "IN": "INSIDE", "INSIDE": "INSIDE", "NOTINSIDE": "NOTINSIDE",
    "CONTAINS": "CONTAINS", "CONTAINSALL": "CONTAINSALL",
    "CONTAINSANY": "CONTAINSANY", "CONTAINSNONE": "CONTAINSNONE",
    "+": "+", "-": "-", "*": "*", "/": "/",
}


def _esc_kw_ident(name: str) -> str:
    """Backtick an identifier that is a reserved keyword or not a plain
    ident (sql EscapeKwFreeIdent — CountScan prints `source: \\`table\\``)."""
    from surrealdb_spark.sql.parser import KEYWORDS

    if name.upper() in KEYWORDS \
            or not re.match(r"^[A-Za-z_][A-Za-z0-9_]*$", name):
        return f"`{name}`"
    return name


def to_sql(ast) -> str:
    """Printed form of an expression AST (types ToSql; used for Filter
    predicates and TableScan predicate attrs)."""
    if ast is None:
        return ""
    k = ast[0]
    if k == "lit":
        v = ast[1]
        if isinstance(v, bool):
            return "true" if v else "false"
        if v is None:
            return "NONE"
        if isinstance(v, str):
            return v if _is_record_id(v) else f"'{v}'"
        if isinstance(v, float):
            # ToSql prints the float marker on every float literal
            return (str(int(v)) if v == int(v) else str(v)) + "f"
        import datetime as _dt

        if isinstance(v, _dt.datetime):
            return _dt_sql(v)
        return str(v)
    if k == "pval":
        return _pv_sql(ast[1])
    if k == "ulit":
        return f"u'{ast[1]}'"
    if k == "nulllit":
        return "NULL"
    if k == "ident":
        return ast[1]
    if k == "param":
        return f"${ast[1]}"
    if k == "all":
        return "*"
    if k == "array":
        return "[" + ", ".join(to_sql(e) for e in ast[1]) + "]"
    if k == "curr":
        return "@"
    if k == "block1":
        return to_sql(ast[1])
    if k == "cast":
        return f"<{ast[1][0]}> {to_sql(ast[2])}"
    if k == "path":
        base = to_sql(ast[1])
        outp = base
        for p in ast[2]:
            if p[0] == "field":
                outp += f".{p[1]}"
            elif p[0] == "all":
                outp += ".*"
            elif p[0] == "index":
                outp += f"[{p[1]}]"
            elif p[0] == "optional":
                outp += "?"
            elif p[0] == "graph":
                outp += _lookup_seg_sql(("graph", p[1]))
            elif p[0] == "repeat":
                outp += ".@"
            elif p[0] == "recurse":
                outp += f".{{{_depth_sql(p[1])}}}"
                if p[3]:
                    outp += "(" + "".join(
                        _lookup_seg_sql(("graph", (d, [e], {})))
                        + (f"->{t}" if t and t != "?" else "")
                        for d, e, t in p[3]) + ")"
            elif p[0] == "destructure":
                outp += "." + _destructure_sql(p[1])
            else:
                outp += "..."
        return outp
    if k == "bin":
        return f"{to_sql(ast[2])} {_BIN_PRINT.get(ast[1], ast[1])} " \
               f"{to_sql(ast[3])}"
    if k == "un":
        return f"{ast[1]} {to_sql(ast[2])}"
    if k == "call":
        return f"{ast[1]}({', '.join(to_sql(a) for a in ast[2])})"
    if k == "matches":
        return f"{to_sql(ast[1])} @@ {to_sql(ast[2])}"
    if k == "closure":
        return _closure_sql(ast)
    return "?"


def _is_record_id(s: str) -> bool:
    import re

    return bool(re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*:[A-Za-z0-9_]+", s))


_UUID_RE = None


def _dt_sql(v) -> str:
    """datetime → `d'RFC3339Z'` (val::Datetime ToSql); literals carrying
    sub-microsecond source text print it exactly (values.NanoDatetime)."""
    import datetime as _dt

    raw = getattr(v, "raw", "")
    if raw:
        return f"d'{raw}'"
    if v.tzinfo is not None:
        v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
    iso = v.isoformat()
    if v.microsecond == 0 and len(iso) > 19:
        iso = iso[:19]
    return f"d'{iso}Z'"


def _pv_sql(v) -> str:
    """Printed surql form of a driver-side Python VALUE (plan-time-bound
    params in predicates: `predicate: name = { name: 'Tobie' }.name`)."""
    import datetime as _dt
    import re as _re
    import uuid as _uuid

    global _UUID_RE
    if _UUID_RE is None:
        _UUID_RE = _re.compile(
            r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}")
    if v is None:
        return "NONE"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, _uuid.UUID):
        return f"u'{v}'"
    if isinstance(v, _dt.datetime):
        return _dt_sql(v)
    if isinstance(v, str):
        if _is_record_id(v):
            return v
        if _UUID_RE.fullmatch(v):
            return f"u'{v}'"
        return f"'{v}'"
    if isinstance(v, float) and v == int(v):
        return str(int(v)) + "f"
    if isinstance(v, dict):
        inner = ", ".join(f"{k}: {_pv_sql(x)}" for k, x in v.items())
        return "{ " + inner + " }" if inner else "{  }"
    if isinstance(v, (list, tuple)):
        return "[" + ", ".join(_pv_sql(x) for x in v) + "]"
    return str(v)


def _lit_value(ast):
    """Python value of a literal-ish AST (for legacy detail dicts)."""
    import datetime as _dt

    if ast is None:
        return None
    if ast[0] in ("lit", "ulit"):
        v = ast[1]
        if isinstance(v, _dt.datetime) and v.tzinfo is not None:
            # collected Spark timestamps are tz-naive (session tz UTC)
            return v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return v
    if ast[0] == "nulllit":
        return None
    if ast[0] == "pval":
        v = ast[1]
        if isinstance(v, _dt.datetime) and v.tzinfo is not None:
            return v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return v
    if ast[0] == "array":
        return [_lit_value(e) for e in ast[1]]
    if ast[0] == "un" and ast[1] == "-" and ast[2][0] == "lit":
        return -ast[2][1]
    return _Opaque(to_sql(ast))


class _Opaque(str):
    pass


# -- WHERE analysis -----------------------------------------------------------


def _subst_params(ast, params: dict, fold_paths: bool = False):
    """Plan-time param binding in a WHERE AST: ("param", p) becomes
    ("pval", value) so the planner sees the bound constant (the reference
    binds params before planning — scan/index.rs access shows the value,
    TableScan predicates print `{ … }.field`).  With ``fold_paths`` a
    whole `$obj.path` chain folds to the walked literal (the LEGACY
    planner index-matches through param field access; the new executor
    keeps the path and falls back to a TableScan)."""
    if not isinstance(ast, tuple):
        return ast
    k = ast[0]
    if k == "param":
        name = ast[1]
        if name in ("parent", "this", "self") or name not in params:
            return ast
        v = params[name]
        from pyspark.sql import Column as _Col

        from surrealdb_spark.values import ClosureValue as _CV

        if isinstance(v, (_Col, _CV)):
            return ast
        return ("pval", v)
    if k == "path" and ast[1][0] == "param" and fold_paths:
        name = ast[1][1]
        v = params.get(name)
        if isinstance(v, (dict, list)) and all(
                isinstance(p, tuple)
                and p[0] in ("field", "index", "optional", "all")
                for p in ast[2]):
            from surrealdb_spark import pyeval

            return ("pval", pyeval._walk_path(v, ast[2], params))
    return tuple(
        _subst_params(x, params, fold_paths) if isinstance(x, tuple)
        else ([_subst_params(e, params, fold_paths) for e in x]
              if isinstance(x, list) else x)
        for x in ast)


def _conjuncts(ast) -> list:
    if ast is None:
        return []
    if ast[0] == "bin" and ast[1] in ("AND", "&&"):
        return _conjuncts(ast[2]) + _conjuncts(ast[3])
    return [ast]


def _disjuncts(ast) -> list:
    if ast is None:
        return []
    if ast[0] == "bin" and ast[1] in ("OR", "||"):
        return _disjuncts(ast[2]) + _disjuncts(ast[3])
    return [ast]


def _field_of(ast) -> str | None:
    """Printed field path of the lhs of a conjunct (ident or path;
    `.id()`-method chains print like index column text — key.rs access
    columns such as `id.id().r`)."""
    if ast[0] == "path" and isinstance(ast[1], tuple) \
            and ast[1][0] == "method" and not ast[1][3]:
        inner = _field_of(ast[1][2])
        if inner is None:
            return None
        tail = "".join(
            f".{p[1]}" if p[0] == "field" else f"[{p[1]}]"
            for p in ast[2]
            if isinstance(p, tuple) and p[0] in ("field", "index"))
        return f"{inner}.{ast[1][1]}(){tail}"
    if ast[0] in ("ident", "path"):
        return to_sql(ast)
    return None


@dataclass
class Access:
    """The access path chosen for one table source."""
    kind: str                 # table|index|unionidx|ft|knn|knnbrute|multi
    index: str | None = None
    # equality prefix values (ASTs) for compound access
    eq_values: list = field(default_factory=list)
    # single range bound: (op, value_ast) or None
    range_: tuple | None = None
    # union branch values (ASTs)
    union_values: list = field(default_factory=list)
    # matches / knn specifics
    op_text: str = ""
    query: object = None
    knn: tuple | None = None  # (k, second, field_ast)
    # conjuncts still checked after the scan
    residual: list = field(default_factory=list)
    # conjunct folded into the scan predicate (table scans)
    predicate: object = None
    direction: str = "Forward"
    limit: int | None = None
    offset: int | None = None
    order_eliminated: bool = False
    reverse_order: bool = False  # legacy ReverseOrder plan
    fallback: str | None = None
    # the matched conjuncts' combined predicate (kept as Filter for
    # CONTAINS*/IN accesses)
    keep_pred: list = field(default_factory=list)
    # single-value access rendered `= v` (IN [v] / CONTAINS v)
    _single: bool = False
    # resolved KNN query vector (plan `value`)
    knn_vec: object = None
    # original conjunct for ANALYZE row counting (CONTAINS accesses)
    count_pred: object = None


def _index_defs(runner, tbl):
    # ALTER INDEX ... PREPARE REMOVE decommissions the index: the planner
    # must stop using it (alter_index_prepare_remove.surql)
    return [d for d in runner.index_defs.values()
            if d.table == tbl and not getattr(d, "prepare_remove", False)]


def analyze_access(runner, sel, tbl, params=None, new_exec=False) -> Access:
    """Reference planner emulation for one table source.  ``new_exec``
    switches index-choice heuristics to the new executor's selectivity
    ranking (exec/planner/select.rs vs idx/planner/plan.rs)."""
    params = params or {}
    conj = _conjuncts(sel.where)
    # `[v, ...] ANYINSIDE field` is the reversed-operand form of
    # `field CONTAINSANY [v, ...]` — normalize so the union-access
    # matcher sees it (planner/select_std_index_with_record_id.surql)
    conj = [("bin", "CONTAINSANY", c[3], c[2])
            if (c[0] == "bin" and str(c[1]) == "ANYINSIDE"
                and isinstance(c[2], tuple) and c[2][0] == "array"
                and isinstance(c[3], tuple) and c[3][0] == "ident")
            else c for c in conj]
    noindex = sel.with_hint == ("noindex",)
    forced = (sel.with_hint[1] if sel.with_hint
              and sel.with_hint[0] == "index" else None)
    defs = _index_defs(runner, tbl)
    if forced is not None:
        defs = [d for d in defs if d.name in forced]

    acc = Access(kind="table")
    order1 = sel.order[0] if sel.order else None
    order_field = (order1.expr[1] if order1 and order1.expr[0] == "ident"
                   else None)

    # KNN conjunct?
    knn_c = next((c for c in conj if c[0] == "knn"), None)
    rest = [c for c in conj if c is not knn_c]
    if knn_c is not None:
        _, k, metric, lhs, rhs = knn_c
        dim = _knn_dim(rhs, params)
        hnsw = next((d for d in defs if getattr(d, "kind", "") == "hnsw"
                     and d.fields and d.fields[0] == _field_of(lhs)), None)
        # a metric NAME routes to the HNSW index when it matches the
        # index's DIST; ef then defaults to the index EFC (idx/planner)
        # the new executor (all-ro) brute-forces name-metric KNN; the
        # legacy planner routes it to a DIST-matching HNSW index
        name_match = (hnsw is not None and isinstance(metric, str)
                      and not str(metric).isdigit()
                      and "all-ro" not in getattr(runner,
                                                  "planner_strategy", ())
                      and metric.upper() == str(
                          getattr(hnsw, "dist", None) or "EUCLIDEAN").upper())
        if hnsw is not None and not noindex and str(metric).isdigit():
            acc = Access(kind="knn", index=hnsw.name,
                         knn=(k, int(metric), lhs), residual=rest,
                         op_text=f"<|{k},{metric}|>", query=dim)
            acc.knn_vec = _knn_vec(rhs, params)
        elif name_match and not noindex:
            ef = getattr(hnsw, "efc", None) or 500
            acc = Access(kind="knn", index=hnsw.name,
                         knn=(k, int(ef), lhs), residual=rest,
                         op_text=f"<|{k},{ef}|>", query=dim)
            acc.knn_vec = _knn_vec(rhs, params)
        else:
            met = (metric or "euclidean")
            met = met.capitalize() if isinstance(met, str) else "Euclidean"
            acc = Access(kind="knnbrute", knn=(k, met, lhs),
                         residual=rest, query=dim)
        acc.direction = "Forward"
        return _finish(acc, sel, order_field, order1)

    if noindex:
        acc.fallback = "WITH NOINDEX"
        acc.predicate = sel.where
        return _finish(acc, sel, order_field, order1, noindex=True)

    # full-text matches conjunct
    ft_c = None
    for c in conj:
        if c[0] == "matches" or (c[0] == "bin" and str(c[1]).startswith("@")):
            ft_c = c
            break

    disj = _disjuncts(sel.where)
    if len(disj) > 1 and all(_branch_index(runner, d, defs) for d in disj):
        branches = [_branch_index(runner, d, defs) for d in disj]
        acc = Access(kind="multi")
        acc.union_values = branches  # list of (idx, op, value_ast)
        return _finish(acc, sel, order_field, order1)

    # mixed AND/OR tree where EVERY boolean leaf is index-backed → the
    # legacy MultiIndex plan: all non-range index options plus every
    # range, each printed as its own Iterate Index row
    # (idx/planner/plan.rs:177 Plan::MultiIndex;
    # planner/select_with_in_operator_multiple_indexes.surql)
    if _has_or(sel.where) and not new_exec:
        mix = _multiindex_leaves(runner, sel.where, defs)
        if mix is not None:
            acc = Access(kind="multimix")
            acc.mix_nonrange, acc.mix_ranges = mix
            return _finish(acc, sel, order_field, order1)

    # score indexes against the AND conjuncts (prefer the longest
    # equality-prefix match; ties go to the later conjunct — observed
    # planner behavior in planner/multi_index_or_and.surql).  The new
    # executor instead ranks by selectivity: a UNIQUE equality beats a
    # full-text match beats any other access
    # (multi_index_or_and_new_executor.surql)
    best = None
    for d in defs:
        kind = getattr(d, "kind", "idx")
        if kind == "fulltext":
            if ft_c is not None and d.fields and \
                    d.fields[0] == _field_of(ft_c[2]):
                best = ("ft", d, None, None, (3_000, 0, 0))
            continue
        if kind in ("hnsw", "count"):
            continue
        m = _match_compound(d, conj)
        if m is None:
            continue
        eqs, rng, used, last_pos = m
        # longest prefix wins; ties go to the LATER conjunct (the
        # reference pops the last-pushed non-range option,
        # plan.rs:148 non_range_indexes.pop()); uniqueness only breaks
        # exact ties on the SAME conjunct (idx_email vs idx_email_uniq,
        # statements/explain/select_index.surql)
        if new_exec and kind == "uniq" and eqs:
            score = (4_000 + len(eqs), last_pos, 0)
        else:
            score = (len(eqs) + (0.5 if rng else 0), last_pos,
                     0.25 if kind == "uniq" else 0)
        if best is None or score > best[4]:
            best = ("idx", d, m, None, score)
    if best is None and ft_c is None:
        acc.predicate = sel.where
        if any(c[0] == "un" and c[1] in ("!", "NOT") for c in conj):
            acc.fallback = f"Unsupported expression: {_bang(sel.where)}"
        return _finish(acc, sel, order_field, order1, defs=defs)
    if best is not None and best[0] == "ft":
        d = best[1]
        acc = Access(kind="ft", index=d.name, op_text=str(ft_c[1]),
                     query=_lit_value(ft_c[3]),
                     residual=[c for c in conj if c is not ft_c])
        return _finish(acc, sel, order_field, order1)
    if best is not None:
        d, m = best[1], best[2]
        eqs, rng, used, _ = m
        residual = [c for c in conj if c not in used]
        # IN / CONTAINS family on the matched column
        unions = [c for c in used if c[0] == "bin" and
                  str(c[1]) in ("IN", "INSIDE", "CONTAINSALL", "CONTAINSANY")]
        contains = [c for c in used if c[0] == "bin"
                    and str(c[1]) == "CONTAINS"]
        setops = [c for c in (unions + contains)
                  if str(c[1]).startswith("CONTAINS")]
        if setops:
            # CONTAINS* on a plain string column is substring semantics —
            # the index stores whole values, no access path (planner/
            # delete_select_std_*_contains_inside.surql)
            fpath = _field_of(setops[0][2]) or ""
            base_col = fpath.split(".")[0].split("[")[0]
            dt = ""
            try:
                dt = dict(runner.catalog.table(tbl).dtypes).get(base_col, "")
            except Exception:
                pass
            if fpath == base_col and not dt.startswith("array"):
                acc = Access(kind="table")
                acc.predicate = sel.where
                return _finish(acc, sel, order_field, order1, defs=defs)
            rid_re = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*:.+$")

            def _setop_vals(c2):
                rhs = c2[3]
                return rhs[1] if rhs[0] == "array" else [rhs]

            def _is_rid(v):
                return (isinstance(v, tuple) and v[0] == "lit"
                        and isinstance(v[1], str) and rid_re.match(v[1]))

            rid_setop = any(
                all(_is_rid(v) for v in _setop_vals(c2)) and _setop_vals(c2)
                for c2 in setops)
            if rid_setop and (new_exec
                              or any(str(c2[1]) == "CONTAINS"
                                     for c2 in setops)):
                # record-id values aren't planned as index keys for the
                # CONTAINS family: the legacy planner still unions the
                # ANYINSIDE form, the new executor scans for all of them
                # (planner/select_std_index_with_record_id.surql vs
                # select_compound_unique_array_new_executor.surql)
                acc = Access(kind="table")
                acc.predicate = sel.where
                return _finish(acc, sel, order_field, order1, defs=defs)
        acc = Access(kind="index", index=d.name,
                     eq_values=[e for _, e in eqs], range_=rng,
                     residual=residual)
        acc.nfields = len(d.fields)
        if eqs and rng and len(rng) > 1:
            # compound access seeks only the FIRST bound; the other range
            # conjuncts re-filter above the scan (new-executor Filter
            # node — select_compound_index_object_new_executor.surql)
            rf = d.fields[len(eqs)]
            from surrealdb_spark.sql.parser import parse_expr as _pe

            for op, v in rng[1:]:
                acc.residual.append(("bin", op, _pe(rf), v))
        if unions:
            c = unions[0]
            vals = c[3][1] if c[3][0] == "array" else [c[3]]
            if len(vals) > 32:
                # MAX_IN_EXPANSION_SIZE (exec/index/analysis.rs:133):
                # larger IN lists are not expanded into per-value union
                # branches — full scan with the predicate
                acc2 = Access(kind="table")
                acc2.predicate = sel.where
                return _finish(acc2, sel, order_field, order1, defs=defs)

            def _qorder(preds):
                # Filter predicates print in QUERY order (conj order)
                inp = list(preds)
                return [c2 for c2 in conj if c2 in inp] + \
                    [c2 for c2 in inp if c2 not in conj]

            first_field = _field_of(c[2]) == d.fields[0] and not eqs
            if first_field:
                # IN on the index's FIRST column → union of eq branches;
                # the FULL predicate re-filters above (a 1-value IN is
                # still a union — in_operator_index.surql)
                acc.kind = "unionidx"
                acc.union_values = list(vals)
                acc.union_op = str(c[1])
                acc.eq_values = []
                acc.keep_pred = _qorder(list(used) + residual)
            elif len(d.fields) == 1:
                acc.eq_values = [vals[0]]
                acc._single = True
                acc.count_pred = c
                acc.keep_pred = _qorder(list(used) + residual)
            else:
                # IN on the LAST column after an eq prefix: the prefix is
                # the access; only the IN conjunct (+ leftovers) filters.
                # The legacy plan unions the full key COMBINATIONS
                # (plan.rs equal_combinations)
                acc.in_values = list(vals)
                acc.count_pred = None
                acc.keep_pred = _qorder([c] + residual)
            acc.residual = []
        elif contains:
            c = contains[0]
            if len(d.fields) == 1:
                acc.eq_values = [c[3]]
                acc._single = True
                acc.count_pred = c
            acc.keep_pred = list(used) + residual
            acc.residual = []
        return _finish(acc, sel, order_field, order1, idx_def=d)
    return _finish(acc, sel, order_field, order1, defs=defs)


def _bang(ast) -> str:
    # legacy Fallback prints the raw expression without the added space
    s = to_sql(ast)
    return s.replace("! ", "!")


def _knn_dim(rhs, params):
    if rhs[0] == "array":
        return len(rhs[1])
    if rhs[0] == "pval":
        try:
            return len(rhs[1])
        except Exception:
            return None
    if rhs[0] == "param":
        v = params.get(rhs[1])
        try:
            return len(v)
        except Exception:
            return None
    return None


def _knn_vec(rhs, params):
    """Resolved KNN query vector for the plan's `value` field."""
    if rhs[0] == "array":
        try:
            return [_lit_value(e) for e in rhs[1]]
        except Exception:
            return None
    if rhs[0] == "pval":
        return rhs[1]
    if rhs[0] == "param":
        return params.get(rhs[1])
    return None


def _has_or(ast) -> bool:
    if not isinstance(ast, tuple):
        return False
    if ast[0] == "bin" and ast[1] in ("OR", "||"):
        return True
    if ast[0] == "bin" and ast[1] in ("AND", "&&"):
        return _has_or(ast[2]) or _has_or(ast[3])
    return False


def _bool_leaves(ast) -> list:
    """Boolean leaves of an AND/OR tree in evaluation (left-to-right)
    order — the order the reference's eval_node pushes index options
    (idx/planner/plan.rs eval_node)."""
    if isinstance(ast, tuple) and ast[0] == "bin" \
            and ast[1] in ("AND", "&&", "OR", "||"):
        return _bool_leaves(ast[2]) + _bool_leaves(ast[3])
    return [ast]


def _multiindex_leaves(runner, where, defs):
    """(non_range_options, range_options) when every boolean leaf of the
    WHERE tree is backed by a single-column index, else None.  Non-range
    entries are (idx, op, value_ast) with op '=', 'union' or a matches
    operator; range entries are (idx, op, value_ast)."""
    nonrange, ranges = [], []
    for leaf in _bool_leaves(where):
        b = _branch_index(runner, leaf, defs)
        if b is not None:
            nonrange.append(b)
            continue
        if leaf[0] == "bin" and str(leaf[1]) in ("IN", "INSIDE") \
                and isinstance(leaf[3], tuple) and leaf[3][0] == "array":
            f = _field_of(leaf[2])
            d = next((d for d in defs
                      if getattr(d, "kind", "idx") in ("idx", "uniq")
                      and len(d.fields) == 1 and d.fields[0] == f), None)
            if d is not None:
                nonrange.append((d.name, "union", leaf[3]))
                continue
        if leaf[0] == "bin" and str(leaf[1]) in ("<", "<=", ">", ">="):
            f = _field_of(leaf[2])
            d = next((d for d in defs
                      if getattr(d, "kind", "idx") in ("idx", "uniq")
                      and len(d.fields) == 1 and d.fields[0] == f), None)
            if d is not None:
                ranges.append((d.name, str(leaf[1]), leaf[3]))
                continue
        return None
    return nonrange, ranges


def _branch_index(runner, d_ast, defs):
    """OR branch → (idx_name, op, value_ast) if index-matchable."""
    if d_ast[0] == "matches" or (
            d_ast[0] == "bin" and str(d_ast[1]).startswith("@")):
        f = _field_of(d_ast[2] if d_ast[0] == "bin" else d_ast[1])
        for d in defs:
            if getattr(d, "kind", "") == "fulltext" and d.fields \
                    and d.fields[0] == f:
                q = d_ast[3] if d_ast[0] == "bin" else d_ast[2]
                return (d.name, str(d_ast[1]) if d_ast[0] == "bin"
                        else "@@", q)
        return None
    if d_ast[0] == "bin" and d_ast[1] in ("=", "=="):
        f = _field_of(d_ast[2])
        for d in defs:
            if getattr(d, "kind", "idx") in ("idx", "uniq") and \
                    len(d.fields) == 1 and d.fields[0] == f:
                return (d.name, "=", d_ast[3])
    return None


def _fold_const(ast):
    """Constant-fold a parameter-free expression AST to a literal for
    plan-time index bounds (`v > math::max([0, 1])` plans as `v > 1` —
    exec/index/analysis.rs constant analysis; statements/define/index/
    with_non_boolean_expression.surql)."""
    if not isinstance(ast, tuple) or ast[0] in ("lit", "nulllit", "ulit",
                                                "dur"):
        return ast

    def has_free(a):
        if not isinstance(a, (tuple, list)):
            return False
        if isinstance(a, tuple) and a[0] in ("ident", "param", "path",
                                             "curr", "subquery", "idiom"):
            return True
        return any(has_free(x) for x in a if isinstance(x, (tuple, list)))

    def unpv(a):
        # bound-param values (`pval`, _subst_params) are plan-time
        # literals for the folder
        if not isinstance(a, tuple):
            return a
        if a[0] == "pval":
            return ("lit", a[1])
        return tuple(unpv(x) if isinstance(x, tuple)
                     else ([unpv(e) for e in x] if isinstance(x, list)
                           else x)
                     for x in a)

    ast = unpv(ast)
    if has_free(ast):
        return ast
    try:
        from surrealdb_spark.pyeval import peval

        return ("lit", peval(ast, {}))
    except Exception:
        return ast


def _match_compound(d, conj):
    """Match a (possibly compound) index against AND conjuncts.

    Returns (eq_prefix [(field, value_ast)], range|None, used_conjuncts,
    last_conjunct_position) or None."""
    eqs, used = [], []
    last_pos = -1
    for fi, f in enumerate(d.fields):
        hit = None
        for pos, c in enumerate(conj):
            if c[0] != "bin":
                continue
            op = str(c[1])
            if _field_of(c[2]) != f:
                continue
            if isinstance(c[3], tuple) and c[3][0] == "path":
                # rhs with a residual path part (`= $obj.field` in the new
                # executor, `= other.field`) is not a plan-time constant —
                # no index access (param_value_index_new_executor.surql)
                continue
            if op in ("=", "=="):
                hit = (pos, c, ("eq", _fold_const(c[3])))
                break
            if op in ("IN", "INSIDE", "CONTAINS", "CONTAINSALL",
                      "CONTAINSANY") and fi in (0, len(d.fields) - 1):
                # IN/CONTAINS matches the first column (union access) or
                # the last column after an eq prefix (plan.rs
                # equal_combinations)
                hit = (pos, c, ("set", c[3]))
                break
            if op in (">", ">=", "<", "<="):
                hit = (pos, c, ("range", op, _fold_const(c[3])))
                break
        if hit is None:
            break
        pos, c, spec = hit
        used.append(c)
        last_pos = max(last_pos, pos)
        if spec[0] == "eq":
            eqs.append((f, spec[1]))
        elif spec[0] == "set":
            eqs.append((f, spec[1]))
            return eqs[:-1], None, used, last_pos
        elif eqs:
            # compound eq-prefix + range: ALL range conjuncts on the
            # field enter the plan's `ranges` list in query order
            # (idx/planner/plan.rs IndexOperator::Range; the executor
            # seeks the FIRST bound and re-filters the rest)
            bounds = []
            for pos2, c2 in enumerate(conj):
                if c2[0] != "bin" or str(c2[1]) not in (">", ">=",
                                                        "<", "<="):
                    continue
                if _field_of(c2[2]) != f:
                    continue
                bounds.append((str(c2[1]), _fold_const(c2[3])))
                if c2 is not c:
                    used.append(c2)
                last_pos = max(last_pos, pos2)
            return eqs, bounds, used, last_pos
        else:
            # two-sided range: pick up the complementary bound on the
            # same field (`> lo AND < hi` → one IndexScan range access)
            bounds = [(spec[1], spec[2])]
            want = ("<", "<=") if spec[1][0] == ">" else (">", ">=")
            for pos2, c2 in enumerate(conj):
                if c2 is c or c2[0] != "bin":
                    continue
                if str(c2[1]) in want and _field_of(c2[2]) == f:
                    bounds.append((str(c2[1]), _fold_const(c2[3])))
                    used.append(c2)
                    last_pos = max(last_pos, pos2)
                    break
            bounds.sort(key=lambda b: b[0][0] != ">")  # lo first
            return eqs, bounds, used, last_pos
    if not used:
        return None
    return eqs, None, used, last_pos


_RANGE_OPS = {">": "MoreThan", ">=": "MoreThanEqual",
              "<": "LessThan", "<=": "LessThanEqual"}


def _finish(acc: Access, sel, order_field, order1, noindex=False,
            idx_def=None, defs=()):
    # sort elimination: ORDER BY id → table order; ORDER BY <indexed col>
    # → index order (Backward for DESC); KNN ORDER BY distance → TopK
    if order1 is not None:
        if order_field == "id" and acc.kind == "table":
            acc.order_eliminated = True
            if order1.desc:
                # ORDER BY id DESC = a backward KV scan
                # (sort_elimination_order_by_id_new_executor.surql)
                acc.direction = "Backward"
        elif acc.kind in ("index", "unionidx") and idx_def is not None \
                and idx_def.fields and order_field == idx_def.fields[-1] \
                and acc.kind == "index":
            acc.order_eliminated = True
            if order1.desc:
                acc.direction = "Backward"
        elif acc.kind == "table" and not noindex and acc.predicate is None \
                and not acc.fallback and len(sel.order) == 1:
            # no WHERE: an index on the sort column eliminates the sort
            # (idx/planner: IndexOrder / ReverseOrder iteration)
            od = next((d for d in defs
                       if getattr(d, "kind", "idx") in ("idx", "uniq")
                       and len(d.fields) == 1
                       and d.fields[0] == order_field), None)
            if od is not None:
                acc.kind = "index"
                acc.index = od.name
                acc.order_eliminated = True
                acc.reverse_order = True  # legacy Order/ReverseOrder plan
                if order1.desc:
                    acc.direction = "Backward"
    if sel.limit is not None and (acc.order_eliminated or order1 is None):
        acc.limit = sel.limit
        acc.offset = sel.start
    return acc


# -- new-executor tree --------------------------------------------------------


@dataclass
class Node:
    name: str
    attrs: str            # rendered "[a: x, b: y]" tail (may be "")
    children: list = field(default_factory=list)
    rows: int | None = None
    ctx: str = "Db"       # execution context (Db | Rt)
    # labeled sub-trees: [("expr.lookup", Node), ...] — render at +2
    # indent with the label prefix (exec/operators/explain.rs named slots)
    labeled: list = field(default_factory=list)


def _scan_nodes(runner, sel, tbl, acc: Access, params) -> Node:
    cnt = _counter(runner, tbl, params)
    if acc.kind == "table":
        a = [f"table: {tbl}", f"direction: {acc.direction}"]
        if acc.predicate is not None:
            a.append(f"predicate: {to_sql(acc.predicate)}")
        if acc.limit is not None:
            a.append(f"limit: {acc.limit}")
        if acc.offset:
            a.append(f"offset: {acc.offset}")
        n = Node("TableScan", "[" + ", ".join(a) + "]")
        n.rows = cnt(acc.predicate, acc.limit, acc.offset)
        return n
    if acc.kind == "index":
        a = [f"index: {acc.index}", f"access: {_access_text(acc)}",
             f"direction: {acc.direction}"]
        if acc.limit is not None:
            a.append(f"limit: {acc.limit}")
        n = Node("IndexScan", "[" + ", ".join(a) + "]")
        n.rows = cnt(_access_pred(runner, acc), acc.limit, acc.offset)
        return n
    if acc.kind == "unionidx":
        d = runner.index_defs[acc.index]
        f_ast = ("ident", d.fields[0])
        if len(acc.union_values) == 1:
            # a 1-branch union renders as the plain IndexScan in the
            # new-executor tree (the legacy plan still prints `union`)
            v = acc.union_values[0]
            atxt = f"= {to_sql(v)}" if len(d.fields) == 1 \
                else f"[{to_sql(v)}]"
            n = Node("IndexScan",
                     f"[index: {acc.index}, access: {atxt}, "
                     f"direction: Forward]")
            n.rows = cnt(_mk_contains_eq(d.fields[0], v), None, None)
            return n
        kids = []
        for v in acc.union_values:
            atxt = f"= {to_sql(v)}" if len(d.fields) == 1 \
                else f"[{to_sql(v)}]"
            k = Node("IndexScan",
                     f"[index: {acc.index}, access: {atxt}, "
                     f"direction: Forward]")
            k.rows = cnt(_mk_contains_eq(d.fields[0], v), None, None)
            kids.append(k)
        n = Node("UnionIndexScan",
                 f"[table: {tbl}, branches: {len(kids)}]", kids)
        from surrealdb_spark.sql.parser import parse_expr as _pe

        # union cardinality = rows matching ANY branch (dedup across
        # branches): CONTAINSANY for array-valued fields, INSIDE for
        # scalar IN unions (contains_operators_new_executor.surql)
        vals_txt = "[" + ", ".join(to_sql(v)
                                   for v in acc.union_values) + "]"
        uop = ("CONTAINSANY"
               if str(getattr(acc, "union_op", "")).startswith("CONTAINS")
               else "INSIDE")
        n.rows = cnt(_pe(f"{d.fields[0]} {uop} {vals_txt}"), None, None)
        if n.rows is None:
            n.rows = sum(k.rows or 0 for k in kids)
        return n
    if acc.kind == "ft":
        q = acc.query if isinstance(acc.query, str) else to_sql(acc.query)
        n = Node("FullTextScan", f"[index: {acc.index}, query: {q}]")
        n.rows = cnt(("matchpred", acc), None, None)
        return n
    if acc.kind == "knn":
        k, ef, lhs = acc.knn
        n = Node("KnnScan", f"[index: {acc.index}, k: {k}, ef: {ef}, "
                            f"dimension: {acc.query}]")
        base = cnt(None, None, None) or 0
        n.rows = min(int(k), base)
        return n
    raise ValueError(acc.kind)


def _mk_contains_eq(fpath, v):
    # field path may be 'marks.*.subject'; evaluated via engine WHERE —
    # build a CONTAINS predicate AST textually
    from surrealdb_spark.sql.parser import parse_expr

    return parse_expr(f"{fpath} CONTAINS {to_sql(v)}")


def _access_text(acc: Access) -> str:
    if acc.range_ is not None and not acc.eq_values:
        return " ".join(f"{op}{to_sql(v)}" for op, v in acc.range_)
    parts = "[" + ", ".join(to_sql(v) for v in acc.eq_values) + "]" \
        if acc.eq_values else ""
    if acc.range_ is not None:
        # compound access seeks the first bound only (extras re-filter)
        bounds = acc.range_[:1] if acc.eq_values else acc.range_
        rng = " ".join(f"{_RANGE_OPS[op]} {to_sql(v)}"
                       for op, v in bounds)
        return f"{parts} {rng}"
    if not acc.eq_values:
        return ""
    if len(acc.eq_values) == 1 and getattr(acc, "nfields", 1) == 1:
        # single-column index equality prints `= {value}`
        # (scan/index.rs:131 BTreeAccess::Equality); a one-column PREFIX
        # of a compound index keeps the array form `[v]`
        # (in_operator_index_new_executor.surql)
        return f"= {to_sql(acc.eq_values[0])}"
    return parts


def _access_pred(runner, acc: Access):
    """Equality/range access as a WHERE AST for row counting."""
    if acc.count_pred is not None:
        return acc.count_pred
    d = runner.index_defs[acc.index]
    node = None

    def conj(a, b):
        return b if a is None else ("bin", "AND", a, b)

    for f, v in zip(d.fields, acc.eq_values):
        from surrealdb_spark.sql.parser import parse_expr

        node = conj(node, parse_expr(f"{f} = {to_sql(v)}")
                    if not isinstance(v, tuple)
                    else ("bin", "=", parse_expr(f), v))
    if acc.range_ is not None:
        fld = d.fields[len(acc.eq_values)]
        from surrealdb_spark.sql.parser import parse_expr

        bounds = acc.range_[:1] if acc.eq_values else acc.range_
        for op, v in bounds:
            node = conj(node, ("bin", op, parse_expr(fld), v))
    return node


def _counter(runner, tbl, params):
    """Row counter: engine-side count of rows matching a predicate
    (measured ANALYZE metrics — OLTP-scoped)."""

    def cnt(pred, limit, offset):
        try:
            if pred is not None and isinstance(pred, tuple) \
                    and pred[0] == "matchpred":
                sel2 = _mk_matches_select(runner, tbl, pred[1])
                df = runner.run_select(sel2, params or {})
            elif pred is not None:
                # count through the full engine (deref/search rewrites)
                from surrealdb_spark.sql.parser import Select as _Sel

                df = runner.run_select(
                    _Sel(fields=None, value_expr=None, sources=[tbl],
                         where=pred), params or {})
            else:
                df = runner.catalog.table(tbl)
            n = df.count()
            if offset:
                n = max(0, n - offset)
            if limit is not None:
                n = min(n, limit)
            return n
        except Exception:
            return None

    return cnt


def _union_ft_branches(runner, sel, tbl):
    """When every OR branch carries an index-matchable conjunct (FT
    matches or single-column equality): [(kind, index, query_ast,
    access)] for a UnionIndexScan plan; else None (exec/planner
    union-of-branches strategy).  Requires ≥1 FT branch — pure-equality
    unions go through the `multi` access path."""
    if sel.where is None:
        return None
    disj = _disjuncts(sel.where)
    if len(disj) < 2:
        return None
    defs = _index_defs(runner, tbl)
    if sel.with_hint == ("noindex",):
        return None
    if sel.with_hint and sel.with_hint[0] == "index":
        # WITH INDEX restricts usable indexes; branches whose index isn't
        # allowed fall back to a full scan
        # (multi_index_or_and_new_executor.surql WITH INDEX ft_company)
        defs = [d for d in defs if d.name in sel.with_hint[1]]
    out = []
    saw_ft = False
    for d_ast in disj:
        hit = None
        for c in _conjuncts(d_ast):
            bi = _branch_index(runner, c, defs)
            if bi is not None:
                hit = (c, bi)
                break
        if hit is None:
            return None
        c, (idx, op, qast) = hit
        is_ft = c[0] == "matches" or (c[0] == "bin"
                                      and str(c[1]).startswith("@"))
        saw_ft = saw_ft or is_ft
        if is_ft:
            # numbered refs (@1@) collapse to plain @@ in the scan
            fa = Access(kind="ft", index=idx, op_text="@@",
                        query=_lit_value(qast))
        else:
            fa = Access(kind="index", index=idx, eq_values=[qast])
            fa._single = True
        fa.count_pred = c
        out.append(("ft" if is_ft else "eq", idx, qast, fa))
    return out if saw_ft else None


def _union_branches_new(runner, sel, tbl):
    """New-executor per-disjunct union: every top-level OR branch picks
    its own best single access — unique equality, then equality (a
    1-value IN reduces to it), then a full-text match, then a range —
    and the full predicate re-filters above the UnionIndexScan
    (exec/index/analysis.rs try_or_union;
    planner/select_with_in_operator_multiple_indexes_new_executor.surql).
    None when any branch has no index-backed conjunct."""
    if sel.where is None:
        return None
    disj = _disjuncts(sel.where)
    if len(disj) < 2:
        return None
    defs = _index_defs(runner, tbl)
    out = []
    for d_ast in disj:
        cands = []  # (priority, entry)
        for c in _conjuncts(d_ast):
            if not isinstance(c, tuple) or c[0] != "bin":
                continue
            op = str(c[1])
            f = _field_of(c[2])
            d = next((dd for dd in defs
                      if getattr(dd, "kind", "idx") in ("idx", "uniq")
                      and len(dd.fields) == 1 and dd.fields[0] == f),
                     None)
            if d is None:
                continue
            uniq = getattr(d, "kind", "idx") == "uniq"
            if op in ("=", "=="):
                fa = Access(kind="index", index=d.name, eq_values=[c[3]])
                fa._single = True
                fa.count_pred = c
                cands.append((4 if uniq else 3, ("eq", d.name, c[3], fa)))
            elif op in ("IN", "INSIDE") and isinstance(c[3], tuple) \
                    and c[3][0] == "array" and len(c[3][1]) == 1:
                v = c[3][1][0]
                fa = Access(kind="index", index=d.name, eq_values=[v])
                fa._single = True
                fa.count_pred = ("bin", "=", c[2], v)
                cands.append((4 if uniq else 3, ("eq", d.name, v, fa)))
            elif op in ("<", "<=", ">", ">="):
                fa = Access(kind="index", index=d.name)
                fa.count_pred = c
                cands.append((1, ("range", d.name, (op, c[3]), fa)))
        if not cands:
            return None
        cands.sort(key=lambda x: -x[0])
        out.append(cands[0][1])
    return out


def _mk_matches_select(runner, tbl, acc: Access):
    from surrealdb_spark.sql.parser import parse_select

    q = acc.query if isinstance(acc.query, str) else ""
    op = acc.op_text or "@@"
    d = runner.index_defs[acc.index]
    return parse_select(
        f"SELECT * FROM {tbl} WHERE {d.fields[0]} {op} '{q}'")


def plan_new(runner, sel, params=None) -> Node:
    """New-executor operator tree for a SELECT (exec/planner/select.rs)."""
    params = params or {}
    if sel.where is not None:
        import dataclasses as _dc

        sel = _dc.replace(sel, where=_subst_params(sel.where, params))
    tbls = [s for s in sel.sources if isinstance(s, str)]
    for s in sel.sources:
        # params/`type::table(..)` holding a table name get full plan-time
        # index resolution, same as a literal table (scan/dynamic.rs;
        # planner/param_table_plan_resolution.surql)
        if isinstance(s, tuple) and s[0] == "paramsrc":
            v = params.get(s[1])
            if isinstance(v, str) and ":" not in v \
                    and v.replace("_", "").isalnum():
                tbls.append(v)
        elif isinstance(s, tuple) and s[0] == "exprsrc" \
                and isinstance(s[1], tuple) and s[1][0] == "call" \
                and s[1][1] == "type::table" and s[1][2]:
            arg = s[1][2][0]
            v = params.get(arg[1]) if arg[0] == "param" else (
                arg[1] if arg[0] == "lit" else None)
            if isinstance(v, str):
                tbls.append(v)
    conj = _conjuncts(sel.where)
    order1 = sel.order[0] if sel.order else None

    if tbls and "all-ro" in getattr(runner, "planner_strategy", ()):
        # the new executor rejects MATCHES over a record-link path — no
        # index-join FT strategy (idx/planner/mod.rs;
        # planner/record_link_index_new_executor.surql expects an error)
        for c in conj:
            if c[0] == "bin" and str(c[1]).startswith("@") \
                    and isinstance(c[2], tuple) and c[2][0] == "path" \
                    and c[2][1][0] == "ident":
                try:
                    dt = dict(runner.catalog.table(tbls[0]).dtypes) \
                        .get(c[2][1][1], "")
                except Exception:
                    dt = ""
                if dt == "string":
                    raise ValueError(
                        "@@ on a record link needs a direct index")

    # count() GROUP ALL family
    if sel.group == [] and sel.fields and len(sel.fields) == 1 \
            and sel.fields[0].expr[0] == "call" \
            and sel.fields[0].expr[1] == "count" and len(tbls) == 1:
        tbl = tbls[0]
        defs = _index_defs(runner, tbl)
        noindex = sel.with_hint == ("noindex",)
        has_count = any(getattr(d, "kind", "") == "count" for d in defs)
        cnt = _counter(runner, tbl, params)
        if sel.fields[0].expr[2]:
            # count(expr) computes per row — no key-count fast path
            noindex = True
        if not noindex and sel.where is None:
            # a bare count() over the whole table is always a CountScan
            # in the new executor (exec/operators/scan/count.rs — the
            # source renders via to_sql, which backticks reserved words)
            n = Node("CountScan", f"[source: {_esc_kw_ident(tbl)}]")
            n.rows = 1
            return n
        def _cfield(c):
            if isinstance(c, tuple) and c[0] == "bin":
                for side in (c[2], c[3]):
                    if isinstance(side, tuple) and side[0] == "ident":
                        return side[1]
            return None

        def _full_cover(d):
            # IndexCountScan streams the count off the index ONLY when
            # every conjunct is on the index's fields; a residual
            # predicate filters per record (select.rs:1269-1293)
            if not _match_compound(d, conj):
                return False
            flds = {str(f) for f in getattr(d, "fields", [])}
            return all((_cfield(c) or "\x00") in flds for c in conj)

        if not noindex and sel.where is not None and any(
                _full_cover(d) for d in defs
                if getattr(d, "kind", "idx") in ("idx", "uniq")):
            n = Node("IndexCountScan",
                     f"[source: {tbl}, condition: {to_sql(sel.where)}]")
            n.rows = 1
            return n
        acc = analyze_access(runner, sel, tbl, params, new_exec=True)
        if acc.kind == "multimix":
            acc = Access(kind="table")
            acc.direction = "Forward"
        acc.predicate = sel.where if acc.kind == "table" else acc.predicate
        scan = _scan_nodes(runner, sel, tbl, acc, params)
        if acc.kind in ("index", "unionidx") and sel.where is not None:
            # residual conjuncts filter per record above the index scan
            # (select.rs:1269-1293 — Filter node between Aggregate and
            # IndexScan)
            d0 = next((d for d in defs
                       if getattr(d, "name", None) == acc.index), None)
            flds = {str(f) for f in getattr(d0, "fields", [])} \
                if d0 is not None else set()
            resid = [c for c in conj if (_cfield(c) or "\x00") not in flds]
            if resid:
                pred_ast = resid[0]
                for c in resid[1:]:
                    pred_ast = ("bin", "AND", pred_ast, c)
                flt = Node("Filter",
                           f"[predicate: {to_sql(pred_ast)}]", [scan])
                flt.rows = cnt(sel.where, None, None)
                scan = flt
        agg = Node("Aggregate", "[mode: GROUP ALL]", [scan])
        agg.rows = 1
        return agg

    # non-table sources: record-id points and value expressions
    if not tbls and sel.sources:
        src0 = sel.sources[0]
        if isinstance(src0, tuple) and src0[0] == "idpoint":
            rid = f"{src0[1]}:{src0[2]}"
            scan = Node("RecordIdScan", f"[record_id: {rid}]")
            scan.rows = 1
            p0 = Node("Project", "", [scan])
            p0.rows = 1
            return p0
        if isinstance(src0, tuple) and src0[0] == "idrange":
            # record-id RANGE scan plan (exec/operators/scan/record_id.rs;
            # planner/reverse_iterator_range_new_executor.surql): the scan
            # prints the source range verbatim, sorts/limits stack on top
            _, rtb, lo, hi, incl = src0

            def _btxt(b):
                if b is None:
                    return ""
                if isinstance(b, tuple) and b[0] == "karr":
                    return to_sql(b[1])
                return str(b)

            rid = f"{rtb}:{_btxt(lo)}{'..=' if incl else '..'}{_btxt(hi)}"
            bare_cnt = (sel.fields and len(sel.fields) == 1
                        and not sel.star and sel.where is None
                        and sel.fields[0].expr == ("call", "count", []))
            if bare_cnt and sel.group == []:
                # count() over a range: key-count scan, no record fetch
                # (exec/operators/scan/count.rs range source)
                n = Node("CountScan", f"[source: {rid}]")
                n.rows = 1
                return n
            scan = Node("RecordIdScan", f"[record_id: {rid}]")
            if bare_cnt and sel.group is None:
                # ungrouped count(): per-row value, keys-only projection
                p0 = Node("Project", "", [scan])
                return p0
            try:
                import dataclasses as _dc

                base = _dc.replace(sel, order=[], limit=None, start=None,
                                   fields=None, value_expr=None, group=None,
                                   fetch=[], split=[], explain=None)
                scan.rows = runner.run_select(base, params or {}).count()
            except Exception:
                scan.rows = None
            node = scan
            if sel.order:
                ktxt = ", ".join(
                    f"{to_sql(k.expr)} {'DESC' if k.desc else 'ASC'}"
                    for k in sel.order)
                if sel.limit is not None:
                    k = sel.limit + (sel.start or 0)
                    s = Node("SortTopKByKey",
                             f"[sort_keys: {ktxt}, limit: {k}]", [node])
                    s.rows = min(node.rows or 0, k) \
                        if node.rows is not None else None
                    node = Node("Limit", f"[limit: {sel.limit}"
                                + (f", offset: {sel.start}]"
                                   if sel.start is not None else "]"), [s])
                    node.rows = min(s.rows or 0, sel.limit) \
                        if s.rows is not None else None
                else:
                    s = Node("SortByKey", f"[sort_keys: {ktxt}]", [node])
                    s.rows = node.rows
                    node = s
            elif sel.limit is not None:
                lim = Node("Limit", f"[limit: {sel.limit}"
                           + (f", offset: {sel.start}]"
                              if sel.start is not None else "]"), [node])
                lim.rows = min(node.rows or 0, sel.limit) \
                    if node.rows is not None else None
                node = lim
            p0 = Node("SelectProject", "[projections: *]"
                      if sel.star or sel.fields is None else
                      "[projections: " + ", ".join(
                          f.alias or to_sql(f.expr)
                          for f in sel.fields) + "]", [node])
            p0.rows = node.rows
            return p0
        if isinstance(src0, tuple) and src0[0] == "exprsrc":
            e = src0[1]
            etxt = to_sql(e)
            if e[0] == "cast":
                # `<array> 0..5` ToSql: cast then the range with its own
                # leading space (syn Display quirks the corpus pins)
                etxt = f"<{e[1][0]}>  {to_sql(e[2])}"
            scan = Node("SourceExpr", f"[expr: {etxt}]")
            p0 = Node("SelectProject", "[projections: *]"
                      if sel.star or sel.fields is None else
                      "[projections: " + ", ".join(
                          f.alias or to_sql(f.expr)
                          for f in sel.fields) + "]", [scan])
            return p0

    # subquery sources: FROM (SELECT ...) — nested plans, unioned with
    # any sibling table scans, outer WHERE re-filtering above
    # (statements/explain/complex.surql query 8)
    if any(hasattr(s2, "sources") for s2 in sel.sources):
        kids = []
        for s2 in sel.sources:
            if hasattr(s2, "sources"):
                kids.append(plan_new(runner, s2, params))
            elif isinstance(s2, str):
                a2 = Access(kind="table")
                a2.direction = "Forward"
                kids.append(_scan_nodes(runner, sel, s2, a2, params))
        node = kids[0] if len(kids) == 1 else Node("Union", "", kids)
        if sel.where is not None:
            node = Node("Filter",
                        f"[predicate: {to_sql(sel.where)}]", [node])
        if sel.value_expr is not None:
            return Node("ProjectValue",
                        f"[expr: {to_sql(sel.value_expr)}]", [node])
        projs2 = ["*"] if sel.star or sel.fields is None else [
            f.alias or to_sql(f.expr) for f in sel.fields]
        return Node("SelectProject",
                    "[projections: " + ", ".join(projs2) + "]", [node])

    # scans per source
    scans = []
    accs = []
    for tbl in tbls:
        acc = analyze_access(runner, sel, tbl, params, new_exec=True)
        if acc.kind == "multimix":
            # the legacy MultiIndex shape; the new executor plans mixed
            # AND/OR trees differently (per-disjunct branches) — keep the
            # prior table-scan shape here
            acc = Access(kind="table")
            acc.direction = "Forward"
        if acc.kind == "table" and sel.where is not None \
                and len(tbls) == 1 and not acc.residual:
            acc.predicate = sel.where
        accs.append((tbl, acc))
    multi = len(tbls) > 1
    for tbl, acc in accs:
        if multi:
            a2 = Access(kind="table")
            a2.direction = "Forward"
            scans.append(_scan_nodes(runner, sel, tbl, a2, params))
        elif acc.kind in ("knnbrute", "multi"):
            scans.append(None)  # built in the dedicated branch below
        else:
            scans.append(_scan_nodes(runner, sel, tbl, acc, params))
    if multi:
        node = Node("Union", "", scans)
        node.rows = sum(s.rows or 0 for s in scans)
        acc = Access(kind="table")
        knn_c = next((c for c in conj if c[0] == "knn"), None)
        rest = [c for c in conj if c is not knn_c]
        if rest:
            pred = _and_all(rest)
            node = _filter_node(runner, node, pred, tbls, params)
        if knn_c is not None:
            node = _knn_topk_node(runner, node, knn_c, params)
    else:
        tbl, acc = accs[0]
        node = scans[0]
        knn_c = next((c for c in conj if c[0] == "knn"), None)
        uft = _union_ft_branches(runner, sel, tbl) \
            if acc.kind in ("table", "multi") else None
        if acc.kind == "multi" and uft is None:
            # pure-equality OR union: same tree, IndexScan branches
            uft = []
            for idx, op, v in acc.union_values:
                fa = Access(kind="index", index=idx, eq_values=[v])
                fa._single = True
                d = runner.index_defs[idx]
                fa.count_pred = ("bin", "=", ("ident", d.fields[0]), v)
                uft.append(("eq", idx, v, fa))
        if uft is None and acc.kind == "table" and not acc.fallback \
                and sel.with_hint is None:
            uft = _union_branches_new(runner, sel, tbl)
        if uft is not None:
            # every OR branch carries an FT conjunct: UnionIndexScan of
            # FullTextScans, full predicate re-filtered above
            # (exec/planner: union of index-driven branches)
            kids = []
            for bkind, idx, qast, b_acc in uft:
                if bkind == "ft":
                    k = Node("FullTextScan",
                             f"[index: {idx}, query: {b_acc.query}]")
                    k.rows = _counter(runner, tbl, params)(
                        ("matchpred", b_acc), None, None)
                elif bkind == "range":
                    op, v = qast
                    k = Node("IndexScan",
                             f"[index: {idx}, access: {op}{to_sql(v)}, "
                             f"direction: Forward]")
                    k.rows = _counter(runner, tbl, params)(
                        b_acc.count_pred, None, None)
                else:
                    k = Node("IndexScan",
                             f"[index: {idx}, access: = {to_sql(qast)}, "
                             f"direction: Forward]")
                    k.rows = _counter(runner, tbl, params)(
                        b_acc.count_pred, None, None)
                kids.append(k)
            node = Node("UnionIndexScan",
                        f"[table: {tbl}, branches: {len(kids)}]", kids)
            or_pred = None
            for _k, _idx, _q, fa in uft:
                m = fa.count_pred
                or_pred = m if or_pred is None \
                    else ("bin", "OR", or_pred, m)
            node.rows = _counter(runner, tbl, params)(or_pred, None, None)
            if node.rows is None:
                node.rows = sum(k.rows or 0 for k in kids)
            node = _filter_node(runner, node, sel.where, tbls, params)
        elif acc.kind == "knnbrute":
            # predicate folded into the scan, TopK on top
            base = Access(kind="table")
            base.predicate = _and_all(acc.residual) if acc.residual else None
            node = _scan_nodes(runner, sel, tbl, base, params)
            node2 = _knn_topk_node(runner, node, knn_c, params)
            node = node2
        else:
            fpred = None
            if acc.keep_pred:
                fpred = _and_all(acc.keep_pred)
            elif acc.residual and acc.kind != "table":
                fpred = _and_all(acc.residual)
            if fpred is not None:
                # count the filter through the FULL predicate (scan access
                # included) so ANALYZE reflects the rows that actually
                # leave this operator, not the residual alone
                cw = sel.where if acc.kind in ("knn", "index") else None
                node = _filter_node(runner, node, fpred, tbls, params,
                                    count_where=cw)

    # Compute for computed AS fields (function-call projections);
    # grouped plans aggregate expressions inside the Aggregate node
    computed = []
    if sel.fields and sel.group is None:
        for f in sel.fields:
            al = f.alias or ("count" if f.expr[0] == "call"
                             and f.expr[1] == "count" and not f.expr[2]
                             else None)
            if al and f.expr[0] in ("call", "method"):
                computed.append(f"{al} = {f.expr[1]}(...)")
    if computed:
        c = Node("Compute", "[fields: " + ", ".join(computed) + "]", [node])
        c.rows = node.rows
        node = c

    # SPLIT explodes between the scan and any sort (operators/split.rs)
    if sel.split:
        sp = Node("Split", "[on: " + ", ".join(sel.split) + "]", [node])
        sp.rows = node.rows
        node = sp

    acc0 = accs[0][1] if accs else Access(kind="table")
    keys_txt = ", ".join(
        f"{to_sql(k.expr)} {'DESC' if k.desc else 'ASC'}"
        for k in (sel.order or []))

    if sel.group is not None:
        # grouped plans: Aggregate (no SelectProject), sorts by ORDER_BY
        # over the grouped output (Sort/SortTopK), then Limit
        agg = Node("Aggregate", "[mode: GROUP ALL]" if sel.group == []
                   else "[by: " + ", ".join(
                       to_sql(g) for g in sel.group) + "]", [node])
        agg.rows = 1 if sel.group == [] else None
        node = agg
        if order1 is not None:
            if sel.limit is not None:
                k = sel.limit + (sel.start or 0)
                st = Node("SortTopK",
                          f"[order_by: {keys_txt}, limit: {k}]", [node])
                node = Node("Limit", f"[limit: {sel.limit}"
                            + (f", offset: {sel.start}]"
                               if sel.start is not None else "]"), [st])
            else:
                node = Node("Sort", f"[order_by: {keys_txt}]", [node])
        elif sel.limit is not None:
            node = Node("Limit", f"[limit: {sel.limit}"
                        + (f", offset: {sel.start}]"
                           if sel.start is not None else "]"), [node])
        if sel.fetch:
            node = Node("Fetch",
                        "[fields: " + ", ".join(f if isinstance(f, str) else ("$" + f[1] if f[0] == "param" else "<expr>") for f in sel.fetch) + "]", [node])
        return node

    # Sort — with a LIMIT this is a TopK (SortTopKByKey under a Limit);
    # START raises the TopK bound and prints as the Limit's offset
    if order1 is not None and (len(tbls) > 1
                               or not acc0.order_eliminated):
        if sel.limit is not None:
            k = sel.limit + (sel.start or 0)
            s = Node("SortTopKByKey",
                     f"[sort_keys: {keys_txt}, limit: {k}]", [node])
            s.rows = min(node.rows or 0, k) \
                if node.rows is not None else None
            node = Node("Limit", f"[limit: {sel.limit}"
                        + (f", offset: {sel.start}]"
                           if sel.start is not None else "]"), [s])
            node.rows = min(s.rows or 0, sel.limit) \
                if s.rows is not None else None
        else:
            s = Node("SortByKey", f"[sort_keys: {keys_txt}]", [node])
            s.rows = node.rows
            node = s

    def _parts_of(e):
        return e[2] if isinstance(e, tuple) and e[0] == "path" else []

    def _recurse_part(e):
        return next((pp for pp in _parts_of(e)
                     if isinstance(pp, tuple) and pp[0] == "recurse"),
                    None)

    def _graph_parts(e):
        return [pp for pp in _parts_of(e)
                if isinstance(pp, tuple) and pp[0] == "graph"]

    def _recurse_node(e):
        rp = _recurse_part(e)
        rng = rp[1]
        lo = rng[0] if rng[0] is not None else 1
        depth = str(lo) if rng[0] is not None and rng[0] == rng[1] \
            else f"{lo}.." + ("" if rng[1] is None else str(rng[1]))
        a = f"[depth: {depth}, instruction: default"
        if any(isinstance(pp, tuple) and pp[0] == "destructure"
               for pp in _parts_of(e)):
            a += ", pattern: tree"
        a += "]"
        kids = []
        if rp[3]:
            chain = _lookup_chain_node(
                [("graph", (d, [t2] if t2 and t2 != "?" else None, {}))
                 for st in rp[3] for d, t2 in
                 ((st[0], st[1]), (st[0], st[2]))])
            kids = [chain]
        return Node("Recurse", a, kids)

    # unaliased pure graph-lookup projections → bare Project root with
    # per-field lookup chains (exec/planner field lookups)
    pure_lookups = [f for f in (sel.fields or [])
                    if f.alias is None and _graph_parts(f.expr)
                    and not _recurse_part(f.expr)]
    if pure_lookups and sel.value_expr is None and sel.group is None \
            and len(pure_lookups) == len(sel.fields or []):
        pr = Node("Project", "", [node])
        for f in pure_lookups:
            pr.labeled.append(
                ("field.lookup", _lookup_chain_node(_parts_of(f.expr))))
        pr.rows = node.rows
        return pr

    # Compute for computed AS fields (full expression text; calls keep
    # the reference's elided `fn(...)` form); aliased recursion fields
    # carry a labeled `<alias>.recurse` Recurse sub-tree
    computed2 = []
    rec_labels = []
    for f in (sel.fields or []):
        if f.alias and isinstance(f.expr, tuple) \
                and f.expr[0] not in ("ident", "call", "method"):
            try:
                computed2.append(f"{f.alias} = {to_sql(f.expr)}")
            except Exception:
                continue
            if _recurse_part(f.expr) is not None:
                rec_labels.append((f"{f.alias}.recurse",
                                   _recurse_node(f.expr)))
    if computed2:
        c2 = Node("Compute", "[fields: " + ", ".join(computed2) + "]",
                  [node])
        c2.labeled = rec_labels
        c2.rows = node.rows
        node = c2

    # projections
    projs = []
    if sel.value_expr is not None:
        p = Node("ProjectValue",
                 f"[expr: {to_sql(sel.value_expr)}]", [node])
        if _recurse_part(sel.value_expr) is not None:
            p.labeled.append(("expr.recurse",
                              _recurse_node(sel.value_expr)))
    else:
        if sel.star or sel.fields is None:
            projs.append("*")
        for f in (sel.fields or []):
            nm = f.alias or ("count" if f.expr == ("call", "count", [])
                             else to_sql(f.expr))
            if nm != "*":
                projs.append(nm)
        p = Node("SelectProject",
                 "[projections: " + ", ".join(projs) + "]", [node])
    p.rows = node.rows
    if sel.limit is not None and acc0.limit is None:
        p.rows = min(p.rows or 0, sel.limit)
    if sel.fetch:
        fch = Node("Fetch", "[fields: " + ", ".join(f if isinstance(f, str) else ("$" + f[1] if f[0] == "param" else "<expr>") for f in sel.fetch) + "]", [p])
        fch.rows = p.rows
        p = fch
    return p


def _and_all(conjs):
    node = None
    for c in conjs:
        node = c if node is None else ("bin", "AND", node, c)
    return node


def _filter_node(runner, child, pred, tbls, params, count_where=None):
    """Filter node; ANALYZE rows counted via the engine.  count_where
    overrides the counted predicate (e.g. include the KNN conjunct so the
    count reflects rows that survived the child scan)."""
    n = Node("Filter", f"[predicate: {to_sql(pred)}]", [child])
    if len(tbls) >= 1:
        total = 0
        ok = True
        for t in tbls:
            c = _counter(runner, t, params)(count_where or pred, None, None)
            if c is None:
                ok = False
                break
            total += c
        n.rows = total if ok else None
        if n.rows is not None and child.rows is not None:
            n.rows = min(n.rows, child.rows)
    return n


def _knn_topk_node(runner, child, knn_c, params):
    _, k, metric, lhs, rhs = knn_c
    met = (metric or "euclidean")
    met = met.capitalize() if isinstance(met, str) and not str(
        met).isdigit() else "Euclidean"
    dim = _knn_dim(rhs, params)
    n = Node("KnnTopK", f"[field: {to_sql(lhs)}, k: {k}, distance: {met}, "
                        f"dimension: {dim}]", [child])
    n.rows = min(int(k), child.rows or 0) if child.rows is not None \
        else None
    return n


def render_text(node: Node, analyze: bool) -> str:
    lines: list[str] = []

    def walk(n: Node, indent: int, label: str = ""):
        tail = f" {{rows: {n.rows if n.rows is not None else 0}}}" \
            if analyze else ""
        attrs = f" {n.attrs}" if n.attrs else ""
        pre = f"{label}: " if label else ""
        lines.append(" " * indent
                     + f"{pre}{n.name} [ctx: {n.ctx}]{attrs}{tail}")
        for lb, c in n.labeled:
            walk(c, indent + 2, lb)
        for c in n.children:
            walk(c, indent + 4)

    walk(node, 0)
    body = "\n".join(lines)
    if analyze:
        total = getattr(node, "total", None)
        if total is None:
            total = node.rows if node.rows is not None else 0
        return body + f"\n\nTotal rows: {total}"
    return body + "\n"


def render_json(node: Node, analyze: bool, root: bool = True):
    """FORMAT JSON tree — {operator, context, attributes, children[,
    metrics][, total_rows]} (exec/operators/explain.rs json rendering)."""
    import re as _re

    out: dict = {"operator": node.name, "context": node.ctx}
    attrs: dict = {}
    body = node.attrs.strip()
    if body.startswith("[") and body.endswith("]"):
        for part in _re.split(r", (?=\w+: )", body[1:-1]):
            k, _, v = part.partition(": ")
            if k:
                attrs[k] = v.strip("'")
    out["attributes"] = attrs
    if node.children:
        out["children"] = [render_json(c, analyze, root=False)
                           for c in node.children]
    if analyze:
        out["metrics"] = {"output_rows": node.rows or 0}
        if root:
            out["total_rows"] = node.rows or 0
    return out


# -- legacy array format ------------------------------------------------------


def plan_legacy(runner, sel, params=None) -> list:
    """``SELECT ... EXPLAIN [FULL]`` rows (old planner description)."""
    params = params or {}
    if sel.where is not None:
        import dataclasses as _dc

        sel = _dc.replace(
            sel, where=_subst_params(sel.where, params, fold_paths=True))
    tbls = [s for s in sel.sources if isinstance(s, str)]
    tbl = tbls[0] if tbls else None
    ranges = [s for s in sel.sources
              if isinstance(s, tuple) and s[0] == "idrange"]
    out: list = []
    if ranges and not tbls:
        # record-id range source: Iterate Range rows (dbs/iterators.rs)
        _, rtb, lo, hi, incl = ranges[0]

        def bval(b):
            if isinstance(b, tuple) and b[0] == "karr":
                return _lit_value(b[1])
            return b

        desc = bool(sel.order and sel.order[0].desc)
        rng = {"start": bval(lo), "end": bval(hi),
               "start_incl": True, "end_incl": bool(incl)}
        # bare count() over a range: keys-only / count-only iteration
        # (dbs/iterators.rs RecordStrategy::Count|KeysOnly)
        bare_cnt = (sel.fields and len(sel.fields) == 1 and not sel.star
                    and sel.fields[0].expr == ("call", "count", [])
                    and sel.where is None)
        rop = ("Iterate Range Count" if bare_cnt and sel.group == []
               else "Iterate Range Keys" if bare_cnt and sel.group is None
               else "Iterate Range")
        out.append({"detail": {
            "direction": "backward" if desc else "forward",
            "range": rng, "table": rtb}, "operation": rop})
        if sel.group is not None and sel.fields \
                and len(sel.fields) == 1 \
                and sel.fields[0].expr[0] == "call" \
                and sel.fields[0].expr[1] == "count":
            cargs = sel.fields[0].expr[2]
            detail = ({"Aggregate expressions":
                       {"expr0": to_sql(cargs[0])},
                       "Aggregations": {"_a0": "CountValue(expr0)"}}
                      if cargs else
                      {"Aggregate expressions": {},
                       "Aggregations": {"_a0": "Count"}})
            out.append({"detail": {
                **detail, "Group expressions": {},
                "Select expression": {"count": "_a0"}, "type": "Group"},
                "operation": "Collector"})
        elif sel.order and sel.limit is not None:
            out.append({"detail": {"limit": sel.limit + (sel.start or 0),
                                   "type": "MemoryOrderedLimit"},
                        "operation": "Collector"})
        elif sel.order:
            out.append({"detail": {"type": "MemoryOrdered"},
                        "operation": "Collector"})
        else:
            out.append({"detail": {"type": "Memory"},
                        "operation": "Collector"})
        if sel.explain == "full":
            # range iteration is key-driven: no start/limit strategy row,
            # zero record fetches (dbs/iterators.rs Iterable::Range)
            out.append({"detail": {"type": "KeysAndValues"},
                        "operation": "RecordStrategy"})
            out.append({"detail": {"count": 0}, "operation": "Fetch"})
        return out
    acc = analyze_access(runner, sel, tbl, params) if tbl else \
        Access(kind="table")
    conj = _conjuncts(sel.where)
    is_count = (sel.group == [] and sel.fields and len(sel.fields) == 1
                and sel.fields[0].expr[0] == "call"
                and sel.fields[0].expr[1] == "count")

    def iterate_index_detail(a: Access):
        if a.reverse_order and not a.eq_values and a.range_ is None:
            # sort-eliminating ordered index iteration
            return {"index": a.index,
                    "operator": "ReverseOrder"
                    if a.direction == "Backward" else "Order"}
        if a.range_ is not None and a.eq_values:
            # compound eq-prefix + range → IndexOperator::Range explain
            # `{prefix: [...], ranges: [{operator, value}]}`
            # (idx/planner/plan.rs:498-500)
            return {
                "index": a.index,
                "prefix": [_lit_value(v) for v in a.eq_values],
                "ranges": [{"operator": op, "value": _lit_value(v)}
                           for op, v in a.range_],
            }
        if a.range_ is not None:
            lo = hi = None
            for op, v in a.range_:
                if op in (">", ">="):
                    lo = (v, op == ">=")
                else:
                    hi = (v, op == "<=")
            plan = {
                "direction": "backward" if a.direction == "Backward"
                else "forward",
                "from": {"inclusive": bool(lo and lo[1]),
                         "value": _lit_value(lo[0]) if lo else None},
                "index": a.index,
                "to": {"inclusive": bool(hi and hi[1]),
                       "value": _lit_value(hi[0]) if hi else None},
            }
            return plan
        if a.kind == "unionidx":
            return {"index": a.index, "operator": "union",
                    "value": [_lit_value(v) for v in a.union_values]}
        if getattr(a, "in_values", None):
            # compound prefix + IN: union of the full key combinations
            # (plan.rs equal_combinations)
            pre = [_lit_value(v) for v in a.eq_values]
            return {"index": a.index, "operator": "union",
                    "value": [pre + [_lit_value(v)]
                              for v in a.in_values]}
        if a.kind == "ft":
            return {"index": a.index, "operator": a.op_text,
                    "value": a.query}
        if a.kind == "knn":
            k, ef, _ = a.knn
            return {"index": a.index, "operator": f"<|{k},{ef}|>",
                    "value": a.knn_vec}
        vals = [_lit_value(v) for v in a.eq_values]
        # 1-element equality arrays print as the bare element — the
        # reference reduces them in explain (idx/planner/plan.rs:461
        # reduce_array), so a composite-index prefix match on one column
        # shows `value: true`, not `value: [true]`
        value = vals[0] if len(vals) == 1 else vals
        return {"index": a.index, "operator": "=", "value": value}

    jp = None
    if acc.kind == "table" and sel.with_hint != ("noindex",):
        jp = _link_join_plan(runner, tbl, conj)
        if jp is not None:
            out.append({"detail": {"plan": jp, "table": tbl},
                        "operation": "Iterate Index"})
    used_index = acc.kind in ("index", "unionidx", "ft", "knn", "multi",
                              "multimix") \
        or acc.reverse_order or jp is not None
    if is_count and sel.where is None and not used_index \
            and sel.with_hint != ("noindex",):
        cdef = next((d for d in _index_defs(runner, tbl)
                     if getattr(d, "kind", "") == "count"), None)
        if cdef is not None:
            out.append({"detail": {"plan": {"index": cdef.name,
                                            "operator": "Count"},
                                   "table": tbl},
                        "operation": "Iterate Index Count"})
            used_index = True
            acc = Access(kind="count", index=cdef.name)
    if acc.kind == "multi":
        for idx, op, v in acc.union_values:
            out.append({"detail": {"plan": {
                "index": idx, "operator": op if op != "IN" else "union",
                "value": _lit_value(v)}, "table": tbl},
                "operation": "Iterate Index"})
    elif acc.kind == "multimix":
        # MultiIndex plan: non-range options first, then each range as a
        # one-sided from/to row (plan.rs:177; EXPLAIN prints options in
        # eval order)
        for idx, op, v in acc.mix_nonrange:
            out.append({"detail": {"plan": {
                "index": idx, "operator": op, "value": _lit_value(v)},
                "table": tbl}, "operation": "Iterate Index"})
        for idx, op, v in acc.mix_ranges:
            lo = (v, op == ">=") if op in (">", ">=") else None
            hi = (v, op == "<=") if op in ("<", "<=") else None
            out.append({"detail": {"plan": {
                "direction": "forward",
                "from": {"inclusive": bool(lo and lo[1]),
                         "value": _lit_value(lo[0]) if lo else None},
                "index": idx,
                "to": {"inclusive": bool(hi and hi[1]),
                       "value": _lit_value(hi[0]) if hi else None}},
                "table": tbl}, "operation": "Iterate Index"})
    elif used_index and acc.kind != "count" and jp is None:
        # a residual (non-index) conjunct forces per-record filtering:
        # the count can't stream off the index alone
        # (5581_select_count_with_index.surql)
        covered = len(getattr(acc, "eq_values", []) or [])
        if getattr(acc, "range_", None) is not None:
            covered += 1
        residual = len(conj or []) > covered
        op_name = ("Iterate Index Count"
                   if is_count and not residual else "Iterate Index")
        out.append({"detail": {"plan": iterate_index_detail(acc),
                               "table": tbl},
                    "operation": op_name})
    elif not used_index:
        # the table-count fast path only engages when no WHERE forces a
        # full iterate AND count() has no argument (operators/
        # explain.rs:30,103): NOINDEX + WHERE prints plain
        # `Iterate Table`; a bare UNGROUPED count() only needs the keys
        cargs = sel.fields[0].expr[2] if is_count else None
        tbl_count = is_count and sel.where is None and not cargs
        keys_only = (sel.group is None and not sel.star and sel.fields
                     and len(sel.fields) == 1
                     and sel.fields[0].expr == ("call", "count", [])
                     and sel.where is None)
        op = ("Iterate Table Count" if tbl_count
              else "Iterate Table Keys" if keys_only else "Iterate Table")
        for t in tbls:
            out.append({"detail": {"direction": "forward", "table": t},
                        "operation": op})
        if acc.fallback:
            out.append({"detail": {"reason": acc.fallback},
                        "operation": "Fallback"})
    # collector
    if sel.group is not None and is_count:
        cargs = sel.fields[0].expr[2]
        if cargs:
            # count(expr): the aggregation counts the computed expr0
            # (catalog/aggregation.rs CountValue)
            detail = {"Aggregate expressions": {"expr0": to_sql(cargs[0])},
                      "Aggregations": {"_a0": "CountValue(expr0)"}}
        else:
            detail = {"Aggregate expressions": {},
                      "Aggregations": {"_a0": "Count"}}
        out.append({"detail": {
            **detail, "Group expressions": {},
            "Select expression": {"count": "_a0"}, "type": "Group"},
            "operation": "Collector"})
    else:
        if sel.order and sel.limit is not None:
            out.append({"detail": {"limit": sel.limit + (sel.start or 0),
                                   "type": "MemoryOrderedLimit"},
                        "operation": "Collector"})
        elif sel.order:
            out.append({"detail": {"type": "MemoryOrdered"},
                        "operation": "Collector"})
        else:
            out.append({"detail": {"type": "Memory"},
                        "operation": "Collector"})
    if sel.explain == "full":
        out.append({"detail": {"type": "KeysAndValues"},
                    "operation": "RecordStrategy"})
        if sel.limit is not None and (acc.order_eliminated
                                      or not sel.order):
            # the start/limit cancel strategy only engages when the
            # iteration order already matches the ORDER BY (or there is
            # none) — a memory sort re-orders rows, so cancelling the
            # scan early would be wrong (dbs/iterators.rs;
            # planner/select_compound_order_limit.surql has no
            # StartLimitStrategy row)
            d = {"CancelOnLimit": sel.limit}
            if sel.start:
                d["SkipStart"] = sel.start
            out.append({"detail": d, "operation": "StartLimitStrategy"})
        # count of record fetches: 0 when an index-driven iteration is
        # cut short by a LIMIT (keys only; dbs/iterators.rs)
        covered = used_index and sel.limit is not None
        n = 0
        if not covered:
            try:
                df = runner.run_select(_strip_explain(sel), params)
                n = df.count()
            except Exception:
                n = 0
        out.append({"detail": {"count": n}, "operation": "Fetch"})
    return out


def _strip_explain(sel):
    import dataclasses

    return dataclasses.replace(sel, explain=None)


def _link_join_plan(runner, tbl, conj):
    """`WHERE link.field <op> v` with an index on `link` (this table) and
    on `field` (the link's table, from its `record<t>` field type) → the
    legacy planner's join plan (idx/planner record-link joins)."""
    import re as _re

    for c in conj:
        if c[0] != "bin":
            continue
        lhs = c[2]
        if not (isinstance(lhs, tuple) and lhs[0] == "path"
                and lhs[1][0] == "ident" and len(lhs[2]) == 1
                and lhs[2][0][0] == "field"):
            continue
        link, fld = lhs[1][1], lhs[2][0][1]
        li = next((d for d in _index_defs(runner, tbl)
                   if list(d.fields) == [link]
                   and getattr(d, "kind", "idx") in ("idx", "uniq")), None)
        if li is None:
            continue
        ftext = runner.table_meta.get(tbl, {}).get("fields", {}).get(link, "")
        m = _re.search(r"record<\s*(\w+)", str(ftext))
        if m is None:
            continue
        ttbl = m.group(1)
        op = str(c[1])
        want_ft = op.startswith("@")
        ti = next(
            (d for d in _index_defs(runner, ttbl)
             if list(d.fields) == [fld]
             and ((getattr(d, "kind", "idx") in ("idx", "uniq")
                   and not want_ft)
                  or (getattr(d, "kind", "") == "fulltext" and want_ft))),
            None)
        if ti is None:
            continue
        if op in ("=", "=="):
            jop, val = "=", _lit_value(c[3])
        elif op in ("IN", "INSIDE"):
            jop, val = "union", _lit_value(c[3])
        elif want_ft:
            jop, val = op, _lit_value(c[3])
        else:
            continue
        return {"index": li.name,
                "joins": [{"index": ti.name, "operator": jop, "value": val}],
                "operator": "join"}
    return None


# -- EXPLAIN of non-SELECT statements / bare expressions ----------------------


def _closure_sql(ast) -> str:
    """Closure ToSql: `|$x: any| { $x * 2 }` / `|| -> int { 42 }`
    (expr/closure.rs Display; kinds default to any, body braced)."""
    _, names, body, kinds, ret = (ast + (None, None))[:5]
    ps = ", ".join(
        f"${n}: {_kind_sql(k) if k else 'any'}"
        for n, k in zip(names, kinds or [None] * len(names)))
    head = f"|{ps}|"
    if ret:
        head += f" -> {_kind_sql(ret)}"
    return f"{head} {{ {to_sql(body)} }}"


def _kind_sql(k) -> str:
    if isinstance(k, tuple):
        name, args = k[0], (k[1] if len(k) > 1 else [])
        if args:
            return f"{name}<{', '.join(_kind_sql(a) for a in args)}>"
        return name
    return str(k)


def _dur_sql(ns: int) -> str:
    """Duration ToSql (val/duration.rs): largest whole units."""
    units = [("w", 7 * 86400 * 10**9), ("d", 86400 * 10**9),
             ("h", 3600 * 10**9), ("m", 60 * 10**9), ("s", 10**9),
             ("ms", 10**6), ("µs", 10**3), ("ns", 1)]
    out = []
    rest = int(ns)
    for u, size in units:
        if rest >= size:
            out.append(f"{rest // size}{u}")
            rest %= size
    return "".join(out) or "0ns"


def _lookup_chain_node(parts, base_label: str = "") -> Node:
    """GraphEdgeScan chain for a lookup path — outermost node is the LAST
    segment, innermost child is CurrentValueSource; SELECT-form segments
    wrap their scan with Filter/Aggregate/SelectProject
    (exec/operators/scan/graph.rs chains one scan per segment)."""
    cur = Node("CurrentValueSource", "", ctx="Rt")
    for p in parts:
        if not (isinstance(p, tuple) and p[0] == "graph"):
            continue
        dirn, tables, opts = p[1]
        arrow = {"out": "->", "in": "<-", "both": "<->"}.get(dirn, dirn)
        names = ", ".join(tables) if tables else "?"
        clauses = isinstance(opts, dict) and (
            opts.get("where") is not None or opts.get("order")
            or opts.get("limit") is not None or opts.get("select"))
        out_kind = "FullEdge" if clauses else "TargetId"
        cur = Node("GraphEdgeScan",
                   f"[direction: {arrow}, tables: {names}, "
                   f"output: {out_kind}]", [cur])
        if isinstance(opts, dict):
            if opts.get("where") is not None:
                cur = Node("Filter",
                           f"[predicate: {to_sql(opts['where'])}]", [cur])
            if opts.get("group"):
                cur = Node("Aggregate", "[by: " + ", ".join(
                    to_sql(g) for g in opts["group"]) + "]", [cur])
            elif opts.get("select"):
                fl = opts.get("fields")
                projs = "*" if not fl else ", ".join(
                    f.alias or to_sql(f.expr) for f in fl)
                cur = Node("SelectProject",
                           f"[projections: {projs}]", [cur])
    return cur


def plan_value(runner, text: str, params=None, analyze: bool = False):
    """EXPLAIN <non-SELECT statement or expression> — the new-executor
    operator tree for value statements (exec/operators/explain.rs over
    Expr/Return/IfElse/Foreach/Sleep plans)."""
    import re as _re

    txt = text.strip().rstrip(";").strip()
    up = txt.upper()
    if up.startswith("RETURN"):
        inner = plan_value(runner, txt[6:].strip(), params, analyze)
        n = Node("Return", "", [inner], ctx="Rt")
        n.rows = 0
        return n
    if up.startswith("IF"):
        # ELSE IF chains: each IF is a branch; a trailing plain ELSE sets
        # has_else (expr/statements/ifelse.rs)
        branches = len(_re.findall(r"\bIF\b", up))
        has_else = bool(_re.search(r"\bELSE\b(?!\s+IF\b)", txt, _re.I))
        a = f"[branches: {branches}"
        if has_else:
            a += ", has_else: true"
        a += "]"
        n = Node("IfElse", a, ctx="Rt")
        n.rows = 0
        return n
    if up.startswith("FOR"):
        m = _re.match(r"FOR\s+\$(\w+)\s+IN\b(.*)$", txt,
                      _re.I | _re.S)
        stmts = 0
        body = _re.search(r"\{(.*)\}", txt, _re.S)
        if body:
            from surrealdb_spark.sql.parser import split_statements

            stmts = len([x for x in split_statements(body.group(1))
                         if x.strip()])
        n = Node("Foreach",
                 f"[param: {m.group(1)}, statements: {stmts}]", ctx="Rt")
        n.rows = 0
        return n
    if up.startswith("SLEEP"):
        from surrealdb_spark.sql.parser import parse_expr

        d = parse_expr(txt[5:].strip())
        ns = d[1] if d[0] == "dur" else 0
        n = Node("Sleep", f"[duration: {_dur_sql(ns)}]", ctx="Rt")
        n.rows = 0
        return n
    if up.startswith("THROW"):
        from surrealdb_spark.sql.parser import parse_expr as _pe2

        n = Node("Expr",
                 f"[expr: THROW {to_sql(_pe2(txt[5:].strip()))}]",
                 ctx="Rt")
        n.rows = 0
        return n
    if up.startswith(("BREAK", "CONTINUE")):
        n = Node("Expr", f"[expr: {txt}]", ctx="Rt")
        n.rows = 0
        return n
    from surrealdb_spark.sql.parser import parse_expr

    ast = parse_expr(txt)
    if ast[0] == "closure":
        n = Node("Expr", f"[expr: {_closure_sql(ast)}]", ctx="Rt")
        n.rows = 0
        return n
    if ast[0] == "path" and any(
            isinstance(pp, tuple) and pp[0] == "graph" for pp in ast[2]):
        # idiom with graph lookups: Expr [ctx: Db] + expr.lookup chain
        base_txt = to_sql(ast[1])
        if ast[1][0] in ("lit", "ulit"):
            base_txt = f"({base_txt})"
        tail = "".join(_lookup_seg_sql(pp) for pp in ast[2])
        n = Node("Expr", f"[expr: {base_txt}{tail}]", ctx="Db")
        n.labeled.append(("expr.lookup", _lookup_chain_node(ast[2])))
        n.rows = 0
        return n
    n = Node("Expr", f"[expr: {to_sql(ast)}]", ctx="Rt")
    n.rows = 0
    n.total = 1  # the statement yields one value (ANALYZE total)
    return n


def _lookup_seg_sql(p) -> str:
    if not (isinstance(p, tuple) and p[0] == "graph"):
        return ""
    dirn, tables, opts = p[1]
    arrow = {"out": "->", "in": "<-", "both": "<->"}.get(dirn, dirn)
    if isinstance(opts, dict) and opts.get("select"):
        fl = opts.get("fields")
        projs = "*" if not fl else ", ".join(
            f.alias or to_sql(f.expr) for f in fl)
        inner = f"SELECT {projs} FROM {', '.join(tables or ['?'])}"
        if opts.get("where") is not None:
            inner += f" WHERE {to_sql(opts['where'])}"
        if opts.get("group"):
            inner += " GROUP BY " + ", ".join(
                to_sql(g) for g in opts["group"])
        return f"{arrow}({inner})"
    return arrow + (tables[0] if tables else "?")


def _depth_sql(rng) -> str:
    lo, hi = rng
    if lo is not None and lo == hi:
        return str(lo)
    lo_s = "" if lo in (None, 1) else str(lo)
    hi_s = "" if hi is None else str(hi)
    return f"{lo_s}..{hi_s}"


def _destructure_sql(entries) -> str:
    parts = []
    for name, sub in entries:
        if not sub:
            parts.append(name)
        elif sub and sub[0][0] == "aliased":
            parts.append(f"{name}: {to_sql(sub[0][1])}")
        else:
            parts.append(name)
    return "{ " + ", ".join(parts) + " }"
