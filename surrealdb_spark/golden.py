"""Reference golden-corpus runner for SurrealQL language tests.

The reference ships 1,100+ `.surql` test files, each carrying a TOML config
inside a `/** ... */` (or `//!`) test comment with `[[test.results]]`
entries, followed by the tested statements (reference:
language-tests/README.md:1-26, language-tests/src/).  This module parses
that format and executes each statement through THIS engine's
parser/compiler, comparing against the expected values — which are
themselves SurrealQL literals, evaluated through the same compiler, so the
comparison is value-level, not string-level.

Execution model: every statement in a file compiles to one Column and all
statements evaluate in a single `spark.range(1).select(...)` job (one
Spark job per file, not per statement); files where any column fails
analysis fall back to per-statement evaluation so the remaining
statements still get results.
"""

from __future__ import annotations

import math
import os
import re
import tomllib
from dataclasses import dataclass, field
from decimal import Decimal

from pyspark.sql import SparkSession

from surrealdb_spark.sql.parser import split_statements


# -- test-file parsing --------------------------------------------------------


def parse_test_file(text: str) -> tuple[dict, list[str]]:
    """Split a language-test file into (toml config, statements)."""
    toml_parts: list[str] = []
    m = re.search(r"/\*\*(.*?)\*/", text, re.S)
    if m:
        toml_parts.append(m.group(1))
        text = text[: m.start()] + text[m.end() :]
    lines = []
    for line in text.splitlines():
        if line.lstrip().startswith("//!"):
            toml_parts.append(line.lstrip()[3:])
        else:
            lines.append(line)
    config = tomllib.loads("\n".join(toml_parts)) if toml_parts else {}
    return config, split_statements("\n".join(lines))


# -- value comparison ---------------------------------------------------------


_GEO_KINDS = {"point", "line", "polygon", "multipoint", "multiline",
              "multipolygon", "collection"}

_GEO_NAMES = {"point": "Point", "line": "LineString", "polygon": "Polygon",
              "multipoint": "MultiPoint", "multiline": "MultiLineString",
              "multipolygon": "MultiPolygon"}


def _geo_display(v, kind: str):
    """Internal geometry ({kind, polys} struct / collection array) →
    GeoJSON display dict (types/src/value/geometry.rs Display)."""
    def _pt(p):
        if isinstance(p, dict):
            return [p.get("lon"), p.get("lat")]
        try:
            return [p["lon"], p["lat"]]
        except Exception:
            return p

    if hasattr(v, "asDict"):
        v = v.asDict(recursive=True)
    try:
        if kind == "collection":
            return {"type": "GeometryCollection",
                    "geometries": [_geo_display(m, m.get("kind"))
                                   for m in (v or [])]}
        if isinstance(v, dict) and hasattr(v.get("polys"), "__iter__"):
            polys = [[[_pt(p) for p in ring] for ring in poly]
                     for poly in v["polys"]]
            if kind == "point":
                coords = polys[0][0][0]
            elif kind in ("line", "multipoint"):
                coords = polys[0][0]
            elif kind in ("polygon", "multiline"):
                coords = polys[0]
            else:  # multipolygon
                coords = polys
            return {"type": _GEO_NAMES[kind], "coordinates": coords}
    except Exception:
        pass
    return v


def _norm(v):
    """Normalize a collected Spark value for comparison.  Row dicts pass
    through the absent-field filter (values.strip_absent): fields not
    present on the record are omitted, like the reference's objects."""
    try:  # Row → dict
        from pyspark.sql import Row

        if isinstance(v, Row):
            v = v.asDict()
    except Exception:
        pass
    if isinstance(v, dict):
        if set(v) == {"__emptyobj"}:
            return {}  # OMIT `.*` empty-object marker struct
        if "__present" in v or any(k.startswith("__k_") for k in v):
            from surrealdb_spark.values import strip_absent

            sidecars = {k[4:]: kv for k, kv in v.items()
                        if k.startswith("__k_") and isinstance(kv, str)}
            v = strip_absent(v)
            for f, kd in sidecars.items():
                # kinded geometry columns normalize to GeoJSON display
                # (types/src/value/geometry.rs Display) for comparison
                if kd.startswith("geometry<") and f in v:
                    v = {**v, f: _geo_display(v[f], kd[9:-1])}
        if set(v) == {"kind", "polys"} and v.get("kind") in _GEO_KINDS:
            return _geo_display(v, v["kind"])
        return {k: _norm(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [_norm(x) for x in v]
    import datetime as _dt

    if isinstance(v, _dt.datetime) and v.tzinfo is not None:
        # collected Spark timestamps are tz-naive (session tz UTC):
        # normalize aware literals the same way for comparison
        return v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
    return v


def values_equal(expected, actual) -> bool:
    expected, actual = _norm(expected), _norm(actual)
    if isinstance(expected, bool) or isinstance(actual, bool):
        return expected is actual or expected == actual
    if isinstance(expected, (int, float, Decimal)) and isinstance(
        actual, (int, float, Decimal)
    ):
        if isinstance(expected, float) or isinstance(actual, float):
            fe, fa = float(expected), float(actual)
            if math.isnan(fe) or math.isnan(fa):
                return math.isnan(fe) and math.isnan(fa)
            if math.isinf(fe) or math.isinf(fa):
                return fe == fa
            return math.isclose(fe, fa, rel_tol=1e-9, abs_tol=1e-12)
        return Decimal(expected) == Decimal(actual)
    if isinstance(expected, list) and isinstance(actual, list):
        return len(expected) == len(actual) and all(
            values_equal(e, a) for e, a in zip(expected, actual)
        )
    if isinstance(expected, dict) and isinstance(actual, dict):
        return set(expected) == set(actual) and all(
            values_equal(expected[k], actual[k]) for k in expected
        )
    return expected == actual


# -- runner -------------------------------------------------------------------


@dataclass
class CaseResult:
    statement: str
    expected: object  # ("value", v) | ("error",) | ("any",)
    actual: object
    ok: bool
    detail: str = ""


@dataclass
class FileResult:
    path: str
    skipped: str | None = None  # reason, if whole file skipped
    cases: list[CaseResult] = field(default_factory=list)

    @property
    def passed(self) -> int:
        return sum(1 for c in self.cases if c.ok)

    @property
    def total(self) -> int:
        return len(self.cases)

    @property
    def all_ok(self) -> bool:
        return self.skipped is None and self.cases != [] and self.passed == self.total


_ERR = object()  # sentinel: statement evaluation raised
_LAST_ERR = ""  # last engine exception text (report bucketing aid)


def _py_literal(ast):
    """Pure-python evaluation of a literal-only expression AST — used for
    EXPECTED values whose arrays/objects are heterogeneous (Spark columns
    can't type them; the reference is dynamically typed).  Raises on any
    non-literal node."""
    k = ast[0]
    if k == "lit":
        import datetime as _dt

        v = ast[1]
        if isinstance(v, _dt.datetime) and v.tzinfo is not None:
            # collected Spark timestamps are tz-naive (session tz UTC)
            return v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return v
    if k == "nulllit":
        return None
    if k == "ulit":
        return ast[1]
    if k == "dur":
        return {"months": 0, "nanos": ast[1]}
    if k == "array":
        return [_py_literal(e) for e in ast[1]]
    if k == "block1":
        return _py_literal(ast[1])
    if k == "setlit":
        vals = [_py_literal(e) for e in ast[1]]
        uniq: list = []
        for v in vals:
            if v not in uniq:
                uniq.append(v)
        return sorted(uniq, key=_canon)
    if k == "object":
        return {key: _py_literal(v) for key, v in ast[1]}
    if k == "un" and ast[1] == "-":
        return -_py_literal(ast[2])
    raise ValueError(f"not a literal: {k}")


def _try_py_literal(text: str):
    """(ok, value) — parse+evaluate an expected-value literal in python."""
    from surrealdb_spark.sql.parser import parse_expr

    try:
        return True, _py_literal(parse_expr(text))
    except Exception:
        pass
    # a couple of corpus files carry unbalanced trailing closers in the
    # expected literal (fetch/group_by.surql `}]]`); drop surplus ones
    t = text.rstrip()
    depth = 0
    in_s: str | None = None
    for ch in t:
        if in_s:
            if ch == in_s:
                in_s = None
            continue
        if ch in "'\"":
            in_s = ch
        elif ch in "[{(":
            depth += 1
        elif ch in "]})":
            depth -= 1
    if depth < 0:
        t2 = t
        while depth < 0 and t2 and t2[-1] in "]})":
            t2, depth = t2[:-1].rstrip(), depth + 1
        try:
            return True, _py_literal(parse_expr(t2))
        except Exception:
            pass
    return False, None


def _closure_rhs(rhs: str, bindings: dict):
    """LET $f = |$x| ... — a closure VALUE binding (closure.rs): store the
    AST + captured bindings instead of evaluating.  Also: object literals
    with closure members (`{ func: (|$a| $a), n: 1 }`) become Python dicts
    holding ClosureValues (closure/field_as_method.surql)."""
    s = rhs.lstrip()
    if not (s.startswith("|") or (s.startswith("{") and "|" in s)):
        return None
    try:
        from surrealdb_spark.sql.parser import parse_expr

        ast = parse_expr(rhs)
    except Exception:
        return None
    return _closure_of_ast(ast, bindings)


def _closure_of_ast(ast, bindings: dict):
    from surrealdb_spark.values import ClosureValue

    if not isinstance(ast, tuple):
        return None
    if ast[0] == "closure":
        return ClosureValue(ast[1], ast[3] if len(ast) > 3 else None,
                            ast[4] if len(ast) > 4 else None, ast[2],
                            bindings)
    if ast[0] == "object":
        members = {}
        any_closure = False
        for k, v in ast[1]:
            while isinstance(v, tuple) and v[0] in ("block1", "paren"):
                v = v[1]
            cv = _closure_of_ast(v, bindings)
            if cv is not None and not isinstance(cv, dict):
                members[k] = cv
                any_closure = True
            else:
                try:
                    members[k] = _py_literal(v)
                except Exception:
                    return None
        return members if any_closure else None
    return None


def _eval_statements(spark: SparkSession, stmts: list[str], bindings: dict) -> list:
    """Evaluate expression statements; one Spark job for the whole batch
    when everything parses/analyzes, per-statement fallback otherwise.
    Returns one entry per statement: a Python value or _ERR."""
    from surrealdb_spark.sql.compiler import compile_expr
    from surrealdb_spark.sql.parser import parse_expr

    bodies = [re.sub(r"^RETURN\s+", "", s, flags=re.I).strip()
              for s in stmts]
    cols = []
    pre: dict[int, object] = {}
    for bi, body in enumerate(bodies):
        try:
            ast = parse_expr(body)
            if ast[0] in ("lit", "ulit"):
                # pure literal: skip the Spark roundtrip (it would drop
                # subtypes — NanoDatetime's raw nanosecond text); _norm
                # tz-normalizes like collected timestamps
                pre[bi] = _norm(ast[1])
                cols.append(None)
                continue
            cols.append(compile_expr(ast, bindings))
        except Exception as exc:
            global _LAST_ERR
            _LAST_ERR = f"{type(exc).__name__}: {exc}"
            cols.append(None)
    results: list = [None] * len(stmts)
    live = [i for i, c in enumerate(cols) if c is not None]
    for i, c in enumerate(cols):
        if c is None:
            results[i] = pre[i] if i in pre \
                else _py_fallback(bodies[i], bindings)
    if live:
        try:
            row = (
                spark.range(1)
                .select(*[cols[i].alias(f"c{i}") for i in live])
                .first()
            )
            for i in live:
                results[i] = row[f"c{i}"]
            return results
        except Exception:
            pass  # fall back per-statement
        for i in live:
            try:
                results[i] = spark.range(1).select(cols[i].alias("v")).first()["v"]
            except Exception as exc:
                _LAST_ERR = f"{type(exc).__name__}: {exc}"
                results[i] = _py_fallback(bodies[i], bindings)
    return results


def _set_tag(rhs: str, v):
    """LET $s = {1,2} / type::set(...): tag the bound list as a SetVal so
    method dispatch picks the set:: namespace (val/set.rs BTreeSet)."""
    if not isinstance(v, list):
        return v
    from surrealdb_spark.pyeval import SetVal

    if isinstance(v, SetVal):
        return v
    try:
        from surrealdb_spark.sql.parser import parse_expr

        ast = parse_expr(rhs)
        while isinstance(ast, tuple) and ast[0] in ("paren", "block1"):
            ast = ast[1]
        if ast[0] == "setlit" or (ast[0] == "cast" and ast[1][0] == "set") \
                or (ast[0] == "call" and ast[1] == "type::set"):
            return SetVal(v)
    except Exception:
        pass
    return v


def _py_fallback(body: str, bindings: dict):
    """Spark compile/analyze failed: try the driver-side variant
    evaluator (pyeval) — heterogeneous literals, closures over mixed
    values.  Unfoldable keeps the original _ERR."""
    from surrealdb_spark import pyeval
    from surrealdb_spark.functions.extra_fns import SessionContext

    if SessionContext.get("db") is None or SessionContext.get("ns") is None:
        return _ERR  # no database selected: queries error (outside_database)

    def _to_py(v):
        # compile-flavored ClosureValue → pyeval PyClosure so closures
        # survive the fallback boundary ($obj.b($fnc) — idiom/
        # function_argument_computation.surql)
        from surrealdb_spark.values import ClosureValue

        if isinstance(v, ClosureValue):
            return pyeval.PyClosure(
                v.names, v.body,
                {k: _to_py(x) for k, x in (v.captured or {}).items()},
                kinds=v.kinds, ret=v.ret)
        if isinstance(v, dict):
            return {k: _to_py(x) for k, x in v.items()}
        if isinstance(v, list):
            return type(v)(_to_py(x) for x in v)
        return v

    try:
        return pyeval.eval_text(body, {k: _to_py(v)
                                       for k, v in bindings.items()})
    except pyeval.Unfoldable:
        return _ERR
    except pyeval.EvalError as exc:
        global _LAST_ERR
        _LAST_ERR = f"EvalError: {exc}"
        return _ERR
    except Exception:
        return _ERR


_STMT_WORDS = {
    "CREATE", "INSERT", "UPDATE", "UPSERT", "DELETE", "RELATE", "DEFINE",
    "REMOVE", "ALTER", "REBUILD", "INFO", "SELECT", "LIVE", "SHOW", "KILL",
    "SLEEP", "USE", "BEGIN", "COMMIT", "CANCEL", "EXPLAIN",
}


def _stmt_word(s: str) -> str:
    m = re.match(r"\s*([A-Za-z]+)", s)
    return m.group(1).upper() if m else ""


def _df_value(df, stmt_text: str = "") -> object:
    """DataFrame result → reference-shaped value: array of objects, or
    bare values when the compiler tagged the single `value` column as a
    bare result (SELECT VALUE / scalar FROM sources). A projected field
    that happens to be NAMED `value` keeps its object shape — the
    compiler tags that `_surql_bare=False`."""
    if df is None:
        return None
    if isinstance(df, (dict, list, str)):
        return df  # INFO / EXPLAIN return the reference-shaped value
    rows = [_norm(r) for r in df.limit(10_001).collect()]
    if len(rows) > 10_000:
        raise RuntimeError("golden result exceeds the 10k comparison cap")
    bare = getattr(df, "_surql_bare", None)
    if df.columns == ["value"] and (bare or bare is None):
        return [r["value"] for r in rows]
    return rows


def _auto_define(db, s: str) -> None:
    """Auto-register mutation targets (the reference is schemaless by
    default; our Database wants the TableDef up front)."""
    from surrealdb_spark.dml import TableDef

    m = re.match(
        r"(?:CREATE|UPDATE|UPSERT|DELETE)\s+(?:ONLY\s+)?([A-Za-z_]\w*)"
        r"|INSERT\s+(?:INTO\s+)?([A-Za-z_]\w*)",
        s.strip(), flags=re.I,
    )
    if m:
        tbl = m.group(1) or m.group(2)
        if tbl and tbl not in db.tables:
            db.define_table(TableDef(tbl))


# -- [env] imports support ---------------------------------------------------
#
# Reference test files may declare `[env] imports = [...]` — .surql files
# (datasets, harness functions, permission fixtures) that run BEFORE the
# test statements, against the same database (language-tests/src/cli/run.rs
# import handling).  Data-heavy datasets (graph.surql: 46 CREATE +
# 63 RELATE) are materialized ONCE per session into a cached parquet
# directory; read-only test files share it, mutating ones get a copytree
# clone.  DDL (DEFINE ...) is replayed per-file into the fresh
# StatementRunner — it is metadata-only and restores ref_fields /
# table_meta / functions that live on the runner, not on disk.

_DS_CACHE: dict[str, dict] = {}

_MUTATING_RE = re.compile(
    r"\b(CREATE|INSERT|UPDATE|UPSERT|DELETE|RELATE|REMOVE|ALTER|REBUILD"
    r"|DEFINE)\b", re.I)


_ENGINE_VERSION = (3, 1, 0)  # tracks the reference 3.1.0-alpha


def _version_applies(spec: str) -> bool:
    """Does a `[test] version` range include the engine version?
    Comma-separated comparators, semver-ish (`<3.0.0`, `>=2.0.0`)."""
    import re as _rv

    for part in spec.split(","):
        m = _rv.match(r"\s*(<=|>=|<|>|=|\^)?\s*(\d+)(?:\.(\d+))?"
                      r"(?:\.(\d+))?", part.strip())
        if not m:
            continue
        op = m.group(1) or "="
        v = (int(m.group(2)), int(m.group(3) or 0), int(m.group(4) or 0))
        e = _ENGINE_VERSION
        ok = {"<": e < v, "<=": e <= v, ">": e > v, ">=": e >= v,
              "=": e[:1] == v[:1] if op == "^" else e == v,
              "^": e[0] == v[0] and e >= v}[op]
        if not ok:
            return False
    return True


def _resolve_import(test_path: str, imp: str) -> str:
    from pathlib import Path

    p = Path(test_path).resolve()
    if imp.startswith("./"):
        return str((p.parent / imp[2:]).resolve())
    for anc in p.parents:
        if anc.name == "tests" and anc.parent.name == "language-tests":
            return str(anc / imp)
    return str(p.parent / imp)


def _import_statements(path: str) -> list[str]:
    """Statements of an imported file, with a single top-level `{ ... }`
    wrapper block flattened (datasets wrap their whole body in one)."""
    _, stmts = parse_test_file(open(path).read())
    out: list[str] = []
    for s in stmts:
        st = s.strip()
        if st.startswith("{") and st.endswith("}"):
            out.extend(x for x in split_statements(st[1:-1]) if x.strip())
        else:
            out.append(st)
    return out


def _materialize_dataset(spark: SparkSession, ds_path: str) -> dict:
    """Run a data-heavy import once; cache its parquet root + statements."""
    entry = _DS_CACHE.get(ds_path)
    if entry is not None:
        return entry
    import tempfile

    from surrealdb_spark.dml import Database
    from surrealdb_spark.sql.statements import StatementRunner

    stmts = _import_statements(ds_path)
    n_data = sum(1 for s in stmts if _stmt_word(s) in
                 ("CREATE", "INSERT", "RELATE", "UPDATE", "UPSERT"))
    entry = {"stmts": stmts, "heavy": n_data > 5, "root": None,
             "ddl": [s for s in stmts if _stmt_word(s) in
                     ("DEFINE", "REMOVE", "ALTER", "REBUILD")]}
    if entry["heavy"]:
        root = tempfile.mkdtemp(prefix="golden_ds_")
        db = Database(spark, root)
        runner = StatementRunner(spark, db)
        _replay_dataset(spark, db, runner, stmts)
        entry["root"] = root
    _DS_CACHE[ds_path] = entry
    return entry


def _replay_dataset(spark, db, runner, stmts: list[str]) -> None:
    """Run a dataset's statements for materialization.  A bare
    `RETURN NONE/NULL` is value-only noise and skipped; any other RETURN
    (e.g. `RETURN { ...mutations... }`) runs for its side effects."""
    for s in stmts:
        if _stmt_word(s) == "RETURN":
            body = re.sub(r"^RETURN\s+", "", s, flags=re.I).strip()
            if body.rstrip(";").strip().upper() in ("NONE", "NULL"):
                continue
            if body.startswith("{") and _MUTATING_RE.search(body):
                for inner in split_statements(body.strip()[1:-1]):
                    if _stmt_word(inner) in _STMT_WORDS:
                        _auto_define(db, inner)
                        runner.run(inner)
            continue
        if _stmt_word(s) not in _STMT_WORDS \
                and _stmt_word(s) not in ("LET", "FOR", "IF", "THROW"):
            continue  # bare assertion expression — value-only noise
        _auto_define(db, s)
        runner.run(s)


def _attach_tables(db, root: str) -> None:
    """Register every on-disk table dir of a materialized dataset (the
    dataset may have created tables — incl. RELATE edge tables — without
    DEFINE)."""
    from surrealdb_spark.dml import TableDef

    for name in sorted(os.listdir(root)):
        if os.path.isdir(os.path.join(root, name, "data")) \
                and name not in db.tables:
            db.define_table(TableDef(name))


def _prepare_imports(spark: SparkSession, test_path: str,
                     imports: list[str], test_stmts: list[str]):
    """Build the (db, runner) pair a test file's imports require."""
    import shutil
    import tempfile

    from surrealdb_spark.dml import Database
    from surrealdb_spark.sql.statements import StatementRunner

    entries = [(_resolve_import(test_path, i),) for i in imports]
    heavy = [e[0] for e in entries
             if _materialize_dataset(spark, e[0])["heavy"]]
    # mutation scan covers the test's own statements AND the light
    # imports replayed into the db (a mutating co-import — or a DEFINE
    # FUNCTION body the test may call via fn:: — must not write into the
    # session-wide cached dataset root)
    light_stmts = [s for ds_path, in entries
                   for s in _materialize_dataset(spark, ds_path)["stmts"]
                   if ds_path not in heavy]
    mutates = (any(_MUTATING_RE.search(s) for s in test_stmts)
               or any(_stmt_word(s) in ("CREATE", "INSERT", "UPDATE",
                                        "UPSERT", "DELETE", "RELATE")
                      for s in light_stmts)
               or (any("fn::" in s for s in test_stmts)
                   and any(_stmt_word(s) == "DEFINE"
                           and _MUTATING_RE.search(s[6:])
                           for s in light_stmts)))
    if heavy:
        src = _materialize_dataset(spark, heavy[0])["root"]
        if mutates or len(heavy) > 1:
            # >1 heavy import: the extra datasets replay their data into
            # this root, so it must be a private copy of the cached one
            root = tempfile.mkdtemp(prefix="golden_mut_")
            shutil.rmtree(root)
            shutil.copytree(src, root)
        else:
            root = src
    else:
        root = tempfile.mkdtemp(prefix="golden_")
    db = Database(spark, root)
    _attach_tables(db, root)
    runner = StatementRunner(spark, db)
    for ds_path, in entries:
        entry = _materialize_dataset(spark, ds_path)
        if entry["heavy"] and heavy and ds_path != heavy[0]:
            # secondary heavy dataset: full replay (data + DDL) into the
            # private root
            _replay_dataset(spark, db, runner, entry["stmts"])
            continue
        # primary heavy dataset: data already on disk, replay
        # metadata-only DDL; light imports (harness fns, DEFINE PARAM
        # fixtures): replay all
        for s in (entry["ddl"] if entry["heavy"] else entry["stmts"]):
            w = _stmt_word(s)
            if w not in _STMT_WORDS and w not in ("LET", "FOR", "IF",
                                                  "THROW", "RETURN"):
                continue  # bare assertion expression — value-only noise
            _auto_define(db, s)
            runner.run(s)
    return db, runner


def _fetch_deref(val, path: list[str]):
    """Replace record-id strings at ``path`` inside ``val`` with the full
    record (RETURN ... FETCH semantics, fetch.rs over plain values)."""
    from surrealdb_spark.functions.misc_fns import _lookup_record

    if isinstance(val, list):
        return [_fetch_deref(v, path) for v in val]
    if not path:
        if isinstance(val, str) and ":" in val:
            rec = _lookup_record(val)
            return rec if rec is not None else val
        return val
    if isinstance(val, dict) and path[0] in val:
        out = dict(val)
        out[path[0]] = _fetch_deref(out[path[0]], path[1:])
        return out
    return val


def _absorb_txn_commit(stmts: list[str], expected: list):
    """Insert a ("noresult",) expectation slot at the COMMIT of a
    RETURN-terminated transaction (the reference emits no separate COMMIT
    result there — return/breaks_nested_execution.surql).  Returns the
    repaired expected list, or None when the shape doesn't match."""
    in_tx = False
    saw_return = False
    commit_idx = None
    for i, s in enumerate(stmts):
        w = _stmt_word(s)
        if w == "BEGIN":
            in_tx, saw_return = True, False
        elif w == "RETURN" and in_tx:
            saw_return = True
        elif w in ("COMMIT", "CANCEL"):
            if in_tx and saw_return and w == "COMMIT":
                if commit_idx is not None:
                    return None  # more than one — can't repair by +1
                commit_idx = i
            in_tx = False
    if commit_idx is None:
        return None
    out = list(expected)
    out.insert(commit_idx, ("noresult",))
    return out


def _run_parsing_error_file(spark: SparkSession, stmts: list[str],
                            fr: "FileResult", raw: dict, env) -> "FileResult":
    """`[test.results] parsing-error = ...` files: the whole script is
    parsed once by the reference and must produce (or not produce) a
    single parse error (language-tests/README.md:185-232).  Our engine
    parses per-statement: the file passes when SOME statement raises
    (truthy expectation) / NONE raises (parsing-error = false)."""
    import tempfile

    from surrealdb_spark.dml import Database
    from surrealdb_spark.sql.statements import StatementRunner

    want_error = bool(raw.get("parsing-error"))
    db = Database(spark, tempfile.mkdtemp(prefix="golden_"))
    runner = StatementRunner(spark, db)
    runner.planner_strategy = list((env or {}).get("planner-strategy", []))
    runner.backend = list((env or {}).get("backend", []))
    err: str | None = None
    for s in stmts:
        try:
            _auto_define(db, s)
            runner.run(s, params={})
        except Exception as exc:
            err = f"{type(exc).__name__}: {exc}"
            break
    ok = (err is not None) if want_error else (err is None)
    fr.cases.append(CaseResult(
        statement=stmts[0][:80] if stmts else "<empty>",
        expected=("error",) if want_error else ("any",),
        actual=err, ok=ok,
        detail="" if ok else (
            f"expected a parse/semantic error, none raised" if want_error
            else f"unexpected error: {err}")))
    return fr


def _run_statement_file(spark: SparkSession, stmts: list[str],
                        fr: "FileResult", expected: list,
                        db=None, runner=None, env=None) -> "FileResult":
    """Sequential mode for files containing DML/DDL statements: each
    statement runs in order against a throwaway Database through
    StatementRunner; SELECT-style outputs become arrays of objects."""
    import tempfile

    from surrealdb_spark.dml import Database, TableDef
    from surrealdb_spark.sql.statements import StatementRunner

    if db is None:
        db = Database(spark, tempfile.mkdtemp(prefix="golden_"))
    if runner is None:
        runner = StatementRunner(spark, db)
    # new-executor behavioral switches ([env] planner-strategy)
    runner.planner_strategy = list((env or {}).get("planner-strategy", []))
    runner.backend = list((env or {}).get("backend", []))
    if (env or {}).get("versioned"):
        # [test] versioned = true: tables snapshot pre-mutation state
        # so VERSION clauses can time-travel (version_scope.rs)
        db.versioned_default = True
    script = None  # lazy ScriptRunner for FOR/IF/THROW statements
    bindings: dict = {}
    txbuf: list = []  # statements inside an open BEGIN..COMMIT
    tx_returned = False  # a top-level RETURN ended the open transaction
    for s, e in zip(stmts, expected):
        word = _stmt_word(s)
        a: object
        if word in ("BEGIN", "COMMIT", "CANCEL"):
            pass  # tx boundaries always execute; flag resets below
        elif getattr(runner, "_tx_open", False) and tx_returned:
            # RETURN inside a transaction stops execution of the
            # remaining statements; they report NONE
            # (return/breaks_nested_execution.surql)
            txbuf.append((s, e, None))
            continue
        try:
            if s.strip().startswith("{"):
                # a leading `{` may be a SET LITERAL expression, not a
                # block (`{1, 2} + [3, 3]` — set_array_common_behaviour);
                # a full-statement expression parse that is not a block
                # wins
                from surrealdb_spark.sql.parser import parse_expr as _pe

                expr_ok = False
                try:
                    east = _pe(s)
                    expr_ok = not (isinstance(east, tuple)
                                   and east[0] == "block1")
                except Exception:
                    expr_ok = False
                if expr_ok:
                    v = _eval_statements(spark, [s], bindings)[0]
                    a = _ERR if v is _ERR else v
                    _record_case(fr, s, e, a, spark)
                    continue
                # top-level block: inner statements run in a LOCAL scope
                # (expr/block.rs); the block's value is the RETURN payload
                # or the final expression statement's value
                body = s.strip()[1:-1]
                a = None
                # LETs inside stay block-local; DEFINE PARAM bindings are
                # in scope
                env = {**runner.params_defined, **bindings}
                inners = split_statements(body, lenient_keywords=True)
                for idx, inner in enumerate(inners):
                    iw = _stmt_word(inner)
                    lm = re.match(r"LET\s+\$(\w+)\s*=\s*(.*)$", inner,
                                  flags=re.I | re.S)
                    if lm:
                        rhs = lm.group(2).strip()
                        if _stmt_word(rhs) in _STMT_WORDS:
                            # DML/SELECT rhs: LET $x = CREATE ONLY t ...
                            _auto_define(db, rhs)
                            out = _df_value(runner.run(rhs, params=env),
                                            rhs)
                            if re.search(r"\bONLY\s", rhs, flags=re.I) \
                                    and isinstance(out, list):
                                out = out[0] if out else None
                            env[lm.group(1)] = out
                            continue
                        v = _eval_statements(spark, [rhs], env)[0]
                        if v is _ERR:
                            raise ValueError("LET binding failed")
                        env[lm.group(1)] = _set_tag(rhs, _norm(v))
                    elif iw in ("FOR", "THROW") or (
                            iw == "IF" and ("{" in inner
                                            or re.search(r"\bTHEN\b", inner,
                                                         re.I))):
                        from surrealdb_spark.script import ScriptRunner

                        if script is None:
                            script = ScriptRunner(spark, db=db,
                                                  catalog=runner.catalog,
                                                  stmts=runner)
                        res = script.run(
                            inner, **{**runner.params_defined, **env})
                        if res.returned:
                            # RETURN inside IF/FOR ends the whole block
                            # with its value (exec ControlFlow::Return)
                            a = res.value
                            break
                    elif iw in _STMT_WORDS:
                        _auto_define(db, inner)
                        out_df = runner.run(inner, params=env)
                        if idx == len(inners) - 1:
                            # a trailing statement is the block's value
                            # (expr/block.rs: last expression)
                            a = _df_value(out_df, inner)
                            if getattr(out_df, "_surql_only", False) \
                                    and isinstance(a, list):
                                a = a[0] if a else None
                    elif iw == "RETURN":
                        expr = re.sub(r"^RETURN\s+", "", inner, flags=re.I)
                        try:
                            # runner-backed eval first: subqueries in the
                            # RETURN read the block's created records
                            a = _norm(runner._scalar_text(expr, env))
                        except Exception:
                            v = _eval_statements(spark, [expr], env)[0]
                            a = None if v is _ERR else v
                    else:
                        v = _eval_statements(spark, [inner], env)[0]
                        if idx == len(inners) - 1:
                            a = None if v is _ERR else v
            elif word == "LET":
                m = re.match(r"LET\s+\$(\w+)\s*=\s*(.*)$", s, flags=re.I | re.S)
                rhs = m.group(2).strip()
                ms = re.match(r"^\((.*)\)\s*(\[\s*0\s*\]|(?:\.\w+|"
                              r"\[\s*\d+\s*\])+)?$", rhs, flags=re.S)
                if not ms and _stmt_word(rhs) in _STMT_WORDS:
                    # unparenthesized DML binding: LET $x = CREATE ONLY t:1
                    ms = re.match(r"^(.*)$", rhs, flags=re.S)
                if ms and _stmt_word(ms.group(1)) in _STMT_WORDS:
                    _auto_define(db, ms.group(1))
                    out = _df_value(runner.run(ms.group(1).strip(),
                                               params=bindings),
                                    ms.group(1))
                    only = re.search(r"\bONLY\s", ms.group(1), flags=re.I)
                    suffix = (ms.lastindex or 0) >= 2 and ms.group(2)
                    if suffix and re.fullmatch(r"\[\s*0\s*\]",
                                               suffix.strip()):
                        bindings[m.group(1)] = out[0] if out else None
                    elif suffix:
                        # idiom suffix over the statement's rows:
                        # `(UPSERT t).id` (exec/planner.rs writable
                        # subquery + Part walk)
                        from surrealdb_spark import pyeval
                        from surrealdb_spark.sql.parser import parse_expr

                        past = parse_expr("x" + suffix)
                        val = out[0] if (only and out) else \
                            (None if only else out)
                        bindings[m.group(1)] = pyeval._walk_path(
                            val, past[2], bindings) \
                            if past[0] == "path" else val
                    else:
                        bindings[m.group(1)] = (out[0] if out else None) \
                            if only else out
                else:
                    cv = _closure_rhs(rhs, bindings)
                    if cv is not None:
                        bindings[m.group(1)] = cv
                    else:
                        v = _eval_statements(
                            spark, [rhs],
                            {**runner.params_defined, **bindings})[0]
                        if v is _ERR:
                            raise ValueError("LET binding failed")
                        # Rows → dicts: bound objects must walk/compare/
                        # re-lit as plain Python ($obj.field predicates)
                        bindings[m.group(1)] = _set_tag(rhs, _norm(v))
                a = None
            elif word in ("FOR", "THROW") or (
                    word == "IF" and ("{" in s
                                      or re.search(r"\bTHEN\b", s, re.I))):
                # control-flow statements (both IF forms — bracketed and
                # worded THEN..END) run through the script engine sharing
                # this file's runner/bindings (exec/mod.rs ControlFlow)
                from surrealdb_spark.script import ScriptRunner

                if script is None:
                    script = ScriptRunner(spark, db=db,
                                          catalog=runner.catalog,
                                          stmts=runner)
                # each statement is atomic in the reference: a failing
                # FOR/IF rolls its writes back (exec statement atomicity)
                bk = runner._snapshot_root()
                try:
                    # DEFINE PARAM bindings are in scope for scripts too
                    a = script.run(
                        s, **{**runner.params_defined, **bindings}).value
                except Exception:
                    runner._restore_root(bk)
                    raise
                runner._drop_backup(bk)
                if hasattr(a, "columns"):  # DataFrame statement result
                    a = _df_value(a, s)
            elif word in _STMT_WORDS:
                _auto_define(db, s)
                out_df = runner.run(s, params=bindings)
                a = _df_value(out_df, s)
                only = getattr(out_df, "_surql_only", None)
                if only is None:  # non-SELECT paths: textual fallback —
                    # strip parenthesized groups first so an ONLY inside a
                    # writable subquery (`SET x = (CREATE ONLY t).id`)
                    # doesn't unwrap the OUTER statement's array result
                    outer = re.sub(r"\([^()]*\)", "", s)
                    while re.search(r"\([^()]*\)", outer):
                        outer = re.sub(r"\([^()]*\)", "", outer)
                    only = bool(re.search(r"\bONLY\s", outer, flags=re.I))
                if only and isinstance(a, list):
                    # CREATE/UPDATE ONLY / FROM ONLY return the bare object
                    a = a[0] if a else None
            else:
                body = re.sub(r"^RETURN\s+", "", s, flags=re.I).strip()
                mf = re.search(r"\bFETCH\s+([\w.\s,]+)$", body, re.I)
                fetches = []
                if mf:
                    # RETURN <expr> FETCH a.b, c — deref record-id values
                    # at the given paths (statements/return/
                    # object_recordid_fetch_destructuring.surql)
                    fetches = [f.strip().split(".")
                               for f in mf.group(1).split(",")
                               if f.strip()]
                    body = body[:mf.start()].strip()
                try:
                    a = _norm(runner._scalar_text(body, bindings))
                except Exception:
                    # merge DEFINE PARAM bindings — the fallback
                    # evaluator sees the same scope _scalar_text did
                    v = _eval_statements(
                        spark, [body],
                        {**runner.params_defined, **bindings})[0]
                    a = _ERR if v is _ERR else v
                if fetches and a is not _ERR:
                    for fp in fetches:
                        a = _fetch_deref(a, fp)
        except Exception as exc:
            a = _ERR
            global _LAST_ERR
            _LAST_ERR = f"{type(exc).__name__}: {exc}"
            if getattr(runner, "_tx_open", False) and \
                    not getattr(runner, "_tx_failed", None):
                # a failing statement poisons the open transaction even on
                # paths outside runner.run (THROW via the script engine)
                runner._tx_failed = _LAST_ERR
        in_tx = getattr(runner, "_tx_open", False)
        if in_tx and word == "RETURN" and a is not _ERR:
            tx_returned = True
        if word in ("BEGIN", "COMMIT", "CANCEL") and not in_tx:
            tx_returned = False
        if in_tx and word != "BEGIN":
            txbuf.append((s, e, a))  # judged when the tx resolves
            continue
        if txbuf:
            # transaction resolved (COMMIT/CANCEL/abort): a failed tx
            # retroactively errors every buffered statement
            # (control_flow/transaction corpus)
            # CANCELled transactions also error their statements ("The
            # query was not executed due to a cancelled transaction")
            failed = getattr(runner, "_tx_failed", None) is not None \
                or word == "CANCEL"
            for bs, be, ba in txbuf:
                _record_case(fr, bs, be, _ERR if failed else ba, spark)
            txbuf = []
            runner._tx_failed = None
        if e == ("noresult",):
            continue  # absorbed COMMIT of a RETURN-terminated txn
        _record_case(fr, s, e, a, spark)
    for bs, be, ba in txbuf:  # unterminated transaction: record as-is
        _record_case(fr, bs, be, ba, spark)
    return fr


def _split_top_commas(s: str) -> list[str]:
    out, depth, cur, i = [], 0, [], 0
    while i < len(s):
        ch = s[i]
        if ch in "'\"":
            q = ch
            cur.append(ch)
            i += 1
            while i < len(s):
                cur.append(s[i])
                if s[i] == "\\":
                    i += 1
                    if i < len(s):
                        cur.append(s[i])
                elif s[i] == q:
                    break
                i += 1
        elif ch in "([{":
            depth += 1
            cur.append(ch)
        elif ch in ")]}":
            depth -= 1
            cur.append(ch)
        elif ch == "," and depth == 0:
            out.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
        i += 1
    if cur:
        out.append("".join(cur))
    return out


def _eval_literal(spark: SparkSession, text: str):
    """Expected-value literal → Python value; heterogeneous arrays
    (differently-shaped objects) evaluate element-wise — Spark's array()
    needs one type, the reference's Values don't."""
    v = _eval_statements(spark, [text], {})[0]
    if v is not _ERR:
        return v
    t = text.strip()
    if t.startswith("[") and t.endswith("]") and len(t) > 2:
        parts = [p for p in _split_top_commas(t[1:-1]) if p.strip()]
        vals = [_eval_literal(spark, p) for p in parts]
        if all(x is not _ERR for x in vals):
            return vals
    return _ERR


def _record_case(fr: "FileResult", s: str, e, a, spark) -> None:
    if e[0] == "error":
        ok = a is _ERR
        fr.cases.append(CaseResult(s, e, "ERROR" if ok else a, ok,
                                   "" if ok else "expected error, got value"))
        return
    if e[0] == "any":
        fr.cases.append(CaseResult(s, e, a, True))
        return
    want = _eval_literal(spark, e[1])
    if want is _ERR:
        ok_py, want = _try_py_literal(e[1])
        if not ok_py:
            want = _ERR
    if want is _ERR:
        fr.cases.append(CaseResult(s, e, a, False,
                                   f"expected literal unsupported: {e[1]!r}"))
    elif a is _ERR:
        fr.cases.append(CaseResult(
            s, e, "ERROR", False,
            f"engine errored: {_LAST_ERR[:160]}" if _LAST_ERR
            else "engine errored"))
    else:
        if len(e) > 2 and e[2].get("skip-record-id-key"):
            want, a = _strip_rid_keys(want), _strip_rid_keys(a)
        if len(e) > 2 and e[2].get("skip-datetime"):
            want, a = _mask_datetimes(want), _mask_datetimes(a)
        if len(e) > 2 and e[2].get("skip-uuid"):
            want, a = _mask_uuids(want), _mask_uuids(a)
        ok = values_equal(want, a) or _multiset_equal(want, a)
        if not ok:
            # Spark's array() coerces heterogeneous object elements to one
            # struct type, corrupting the expected side ([{b:'2'},{b:2}]);
            # the pure-python parse keeps exact per-element types
            ok_py, want2 = _try_py_literal(e[1])
            if ok_py:
                ok = values_equal(want2, a) or _multiset_equal(want2, a)
        fr.cases.append(CaseResult(s, e, a, ok,
                                   "" if ok else f"want {want!r} got {a!r}"))


_RIDISH = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*:.+$")


def _strip_rid_keys(v):
    """`skip-record-id-key` result flag (language-tests config): record-id
    KEYS are generated, compare only the table part."""
    if isinstance(v, str) and _RIDISH.match(v):
        return v.split(":", 1)[0] + ":*"
    if isinstance(v, dict):
        return {k: _strip_rid_keys(x) for k, x in v.items()}
    if hasattr(v, "asDict"):
        return _strip_rid_keys(v.asDict(recursive=True))
    if isinstance(v, (list, tuple)):
        return [_strip_rid_keys(x) for x in v]
    return v


_UUIDISH = re.compile(
    r"^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-"
    r"[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$")


def _mask_datetimes(v):
    """`skip-datetime` result flag (language-tests README Rough equality):
    datetime values are indeterministic (time::now()) — mask them."""
    import datetime as _dt

    if isinstance(v, (_dt.datetime, _dt.date)):
        return "<datetime>"
    if isinstance(v, dict):
        return {k: _mask_datetimes(x) for k, x in v.items()}
    if hasattr(v, "asDict"):
        return _mask_datetimes(v.asDict(recursive=True))
    if isinstance(v, (list, tuple)):
        return [_mask_datetimes(x) for x in v]
    return v


def _mask_uuids(v):
    """`skip-uuid` result flag: generated uuids differ per run."""
    if isinstance(v, str) and _UUIDISH.match(v):
        return "<uuid>"
    if isinstance(v, dict):
        return {k: _mask_uuids(x) for k, x in v.items()}
    if hasattr(v, "asDict"):
        return _mask_uuids(v.asDict(recursive=True))
    if isinstance(v, (list, tuple)):
        return [_mask_uuids(x) for x in v]
    return v


def _canon(v) -> str:
    """Canonical serialization: dict keys sorted, so field order and row
    order never matter."""
    v = _norm(v)
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(v[k])}" for k in sorted(v)) + "}"
    if isinstance(v, list):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, float) and math.isfinite(v) and v == int(v) \
            and abs(v) < 1e15:
        return repr(int(v))  # 2.5f vs Decimal/int printing
    return repr(v)


def _multiset_equal(want, got) -> bool:
    """Order-insensitive list compare: reference SELECTs return record-id
    order, Spark frames are unordered — canonical dict/row serialization."""
    want, got = _norm(want), _norm(got)
    if not (isinstance(want, list) and isinstance(got, list)):
        return False
    if len(want) != len(got):
        return False
    return sorted(map(_canon, want)) == sorted(map(_canon, got))


def run_file(spark: SparkSession, path: str) -> FileResult:
    """Run one reference language-test file against this engine."""
    # the reference harness runs every file as ns=test db=test unless
    # `[env] namespace/database = false` opts out
    # (language-tests/src/runner) — session fns and USE report against that
    from surrealdb_spark.functions.extra_fns import SessionContext

    # relative analyzer-mapper paths resolve against the reference
    # runner's cwd (the language-tests crate dir above tests/)
    if "/tests/" in path:
        from surrealdb_spark.pipeline import analyzer as _an

        _an.MAPPER_BASE = path.split("/tests/")[0]

    text = open(path).read()
    config, stmts = parse_test_file(text)
    test = config.get("test", {})
    env = config.get("env", {})
    # behavioral switches may sit in [test] instead of [env]
    # (version_clauses.surql: `versioned = true`, `backend = [...]`)
    for key in ("versioned", "backend", "planner-strategy"):
        if key not in env and key in config.get("test", {}):
            env[key] = config["test"][key]
    SessionContext.configure(
        ns=None if env.get("namespace") is False else "test",
        db=None if env.get("database") is False else "test")
    fr = FileResult(path=path)
    if test.get("run") is False:
        fr.skipped = "run=false"
        return fr
    if test.get("wip"):
        fr.skipped = "wip"
        return fr
    ver = test.get("version")
    if isinstance(ver, str) and not _version_applies(ver):
        # `[test] version = "<3.0.0"`: the test targets other engine
        # versions (language-tests runner version gating)
        fr.skipped = f"version {ver!r} excludes 3.1.0"
        return fr
    raw = test.get("results", [])
    if isinstance(raw, dict):
        # `[test.results]` single-table form (language-tests/README.md:185-
        # 232): `parsing-error = <str|true>` expects the WHOLE script to
        # fail parsing once; `parsing-error = false` expects it to parse.
        return _run_parsing_error_file(spark, stmts, fr, raw, env)
    expected = []
    for r in raw:
        if isinstance(r, dict) and "value" in r:
            flags = {k: v for k, v in r.items() if k != "value"}
            expected.append(("value", r["value"], flags))
        elif isinstance(r, dict) and ("error" in r and r["error"]):
            expected.append(("error",))
        else:
            expected.append(("any",))
    if expected and len(stmts) == len(expected) + 1:
        # a RETURN-terminated transaction's COMMIT emits no result slot
        # (return/breaks_nested_execution.surql: the txn's output IS the
        # RETURN value; the trailing COMMIT is absorbed) — mark it so the
        # runner executes it without consuming an expectation
        fixed = _absorb_txn_commit(stmts, expected)
        if fixed is not None:
            expected = fixed
    if not expected or len(expected) != len(stmts):
        # align-or-fail: a count mismatch is a FAILURE of this harness or
        # the splitter, never a silent out-of-denominator skip
        fr.cases.append(CaseResult(
            statement="<alignment>", expected=("any",), actual=_ERR,
            ok=False,
            detail=f"results/statements mismatch ({len(expected)}/"
                   f"{len(stmts)}) — splitter or harness bug"))
        return fr
    if env.get("imports"):
        # imported state (datasets / harness fns) → always sequential mode
        try:
            db, runner = _prepare_imports(spark, path, env["imports"], stmts)
        except Exception as exc:
            fr.skipped = f"imports failed: {exc!r:.200}"
            return fr
        return _run_statement_file(spark, stmts, fr, expected,
                                   db=db, runner=runner, env=env)
    if any(_stmt_word(s) in _STMT_WORDS or _stmt_word(s) in ("FOR", "THROW")
           or (s.lstrip().startswith("{")
               and re.search(r"\b(LET|RETURN|CREATE|UPDATE|DELETE|INSERT"
                             r"|UPSERT|RELATE|DEFINE|REMOVE)\b", s, re.I))
           # IF statements with LET/RETURN bodies are script-engine work
           # (basic_execution.surql), not batchable expressions
           or (_stmt_word(s) == "IF"
               and re.search(r"\b(LET|RETURN)\b", s, re.I))
           # writable subqueries (`LET $x = (UPSERT ...)`) need the
           # sequential runner (exec/planner.rs:309-336)
           or re.search(r"\(\s*(CREATE|UPDATE|UPSERT|DELETE|INSERT"
                        r"|RELATE)\b", s, re.I)
           for s in stmts):
        return _run_statement_file(spark, stmts, fr, expected, env=env)
    # LET statements bind into scope for later statements; their result is
    # NONE in the reference.
    bindings: dict = {}
    eval_idx, eval_stmts = [], []
    pre_resolved: dict[int, object] = {}
    let_names = [m.group(1) for s in stmts
                 for m in [re.match(r"LET\s+\$(\w+)", s, flags=re.I)] if m]
    if len(let_names) != len(set(let_names)):
        # a param is REBOUND mid-file: batch evaluation would use the
        # final binding everywhere — evaluate strictly in order instead
        actuals: dict[int, object] = {}
        for i, s in enumerate(stmts):
            m = re.match(r"LET\s+\$(\w+)\s*=\s*(.*)$", s, flags=re.I | re.S)
            if m:
                cv = _closure_rhs(m.group(2).strip(), bindings)
                if cv is not None:
                    bindings[m.group(1)] = cv
                    actuals[i] = None
                    continue
                v = _eval_statements(spark, [m.group(2)], bindings)[0]
                bindings[m.group(1)] = None if v is _ERR else _set_tag(
                    m.group(2), v)
                actuals[i] = _ERR if v is _ERR else None
            else:
                actuals[i] = _eval_statements(spark, [s], bindings)[0]
        return _finish_expr_file(spark, stmts, expected, actuals, fr)
    for i, s in enumerate(stmts):
        m = re.match(r"LET\s+\$(\w+)\s*=\s*(.*)$", s, flags=re.I | re.S)
        if m:
            cv = _closure_rhs(m.group(2).strip(), bindings)
            if cv is not None:
                bindings[m.group(1)] = cv
                pre_resolved[i] = None
                continue
            vals = _eval_statements(spark, [m.group(2)], bindings)
            if vals[0] is not _ERR:
                bindings[m.group(1)] = _set_tag(m.group(2), vals[0])
                pre_resolved[i] = None
            else:
                pre_resolved[i] = _ERR
        else:
            eval_idx.append(i)
            eval_stmts.append(s)
    got = _eval_statements(spark, eval_stmts, bindings)
    actuals = dict(pre_resolved)
    for i, v in zip(eval_idx, got):
        actuals[i] = v
    return _finish_expr_file(spark, stmts, expected, actuals, fr)


def _finish_expr_file(spark, stmts, expected, actuals: dict,
                      fr: "FileResult") -> "FileResult":
    # expected values evaluate through the same compiler (batched too)
    exp_literals = [e[1] for e in expected if e[0] == "value"]
    exp_vals = _eval_statements(spark, exp_literals, {})
    it = iter(exp_vals)
    for i, (s, e) in enumerate(zip(stmts, expected)):
        a = actuals[i]
        if e[0] == "error":
            ok = a is _ERR
            fr.cases.append(
                CaseResult(s, e, "ERROR" if a is _ERR else a, ok,
                           "" if ok else "expected error, got value")
            )
        elif e[0] == "any":
            fr.cases.append(CaseResult(s, e, a, True))
        else:
            want = next(it)
            if want is _ERR:
                want = _eval_literal(spark, e[1])
            if want is _ERR:
                ok_py, wp = _try_py_literal(e[1])
                if ok_py:
                    want = wp
            if want is _ERR:
                fr.cases.append(
                    CaseResult(s, e, a, False, f"expected literal unsupported: {e[1]!r}")
                )
            elif a is _ERR:
                fr.cases.append(CaseResult(s, e, "ERROR", False, "engine errored"))
            else:
                if len(e) > 2 and e[2].get("skip-record-id-key"):
                    want, a = _strip_rid_keys(want), _strip_rid_keys(a)
                ok = values_equal(want, a)
                fr.cases.append(
                    CaseResult(s, e, a, ok, "" if ok else f"want {want!r} got {a!r}")
                )
    return fr


def run_corpus(spark: SparkSession, paths: list[str]) -> list[FileResult]:
    return [run_file(spark, p) for p in paths]
