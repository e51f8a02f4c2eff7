"""DML as batch jobs: CREATE / INSERT / UPDATE / UPSERT / DELETE / RELATE.

Reference: the per-record document pipeline (core/src/doc/create.rs:17-33
stage order: input → id → permissions → table checks → field checks →
defaults → computed → store → indexes → views → lives → events →
changefeed) re-expressed as set-oriented DataFrame writes:

  * id generation         → uuid/monotonic expressions
  * field type/ASSERT     → schema casts + validation predicates (errors
                            collected set-wide, matching SCHEMAFULL writes)
  * DEFAULT / VALUE       → coalesce / computed columns
  * store                 → parquet append/overwrite (Delta-less MERGE
                            emulation: anti-join + union)
  * changefeed            → per-mutation change rows under <table>/_changes
                            (consumed by streaming.changefeed — the
                            Delta-CDF stand-in)
  * events (DEFINE EVENT) → post-write Python hooks

Tables live under <root>/<table>/data (parquet) so the change log can sit
beside them.  At scale both dirs are partitioned parquet; the id-collision
anti-joins shuffle on the id column only.
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from surrealdb_spark.values import local_frame


@dataclass
class FieldDef:
    """DEFINE FIELD ... TYPE kind [DEFAULT expr] [ASSERT expr] [READONLY]
    (core/src/catalog/schema/field.rs)."""

    name: str
    dtype: str | None = None
    default: Callable[[], Column] | None = None
    assert_fn: Callable[[Column], Column] | None = None
    readonly: bool = False
    # VALUE <expr>: recomputed on every write from ($value, $this)
    # (define/field.rs value clause)
    value_fn: Callable[[Column], Column] | None = None
    # raw declared kind text ('number', 'array<int>', ...) — union kinds
    # carry no single Spark dtype but still drive member checks
    kind: str | None = None
    # DEFAULT expression AST — write-time kind checks evaluate literal
    # defaults driver-side (doc/field.rs default-then-coerce order)
    default_ast: tuple | None = None
    # ASSERT expression AST — literal writes assert driver-side so the
    # error carries the reference's message shape and ordering
    assert_ast: tuple | None = None
    # VALUE expression AST — driver-side asserts check the post-VALUE
    # value ($value after the VALUE clause, doc/field.rs stage order)
    value_ast: tuple | None = None
    # frame-level VALUE transformer for bodies a column expr can't build
    # (graph lookups `VALUE ->contains->product` need a join —
    # define/field/value_reference.surql); takes and returns the
    # being-written frame
    frame_value_fn: Callable[[DataFrame], DataFrame] | None = None
    # TYPE FLEXIBLE — nested members of an object kind may be undeclared
    flexible: bool = False


@dataclass
class TableDef:
    """DEFINE TABLE (core/src/catalog/table.rs:45-65): SCHEMAFULL fields,
    optional changefeed, event hooks."""

    name: str
    id_col: str = "id"
    fields: list[FieldDef] = field(default_factory=list)
    changefeed: bool = False
    # SELECT ... VERSION <ts> support: snapshot the table before every
    # mutation (the Delta-less stand-in for versioned reads — the reference
    # needs its SurrealKV backend for this too, exec/operators/
    # version_scope.rs).  Off by default: full-copy snapshots are only
    # sane for modest tables; the scale path is Delta/Iceberg time travel.
    versioned: bool = False
    # DEFINE EVENT hooks: fn(action, affected rows, before-image or None)
    # — core/src/doc/event.rs
    events: list[Callable[[str, DataFrame, DataFrame | None], None]] = field(
        default_factory=list)
    # DEFINE INDEX ... UNIQUE: each entry is the column list of one unique
    # index, enforced on CREATE/INSERT/UPSERT (catalog/schema/index.rs Uniq)
    unique_indexes: list[list[str]] = field(default_factory=list)
    # columns degraded to kinded-JSON storage (heterogeneous kinds across
    # rows — values.py "kinded columns"; the reference stores Value per
    # cell, types/src/value/mod.rs:84-122)
    kinded: set[str] = field(default_factory=set)
    # TYPE RELATION (or implicitly defined by RELATE): edge records keep
    # their in/out pointers under CONTENT/REPLACE (doc/relate.rs)
    is_edge: bool = False


class MutationError(Exception):
    pass


class Database:
    """A database directory: one subdir per table (<root>/<tbl>/data)."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root.rstrip("/")
        self.tables: dict[str, TableDef] = {}

    # -- catalog ------------------------------------------------------------

    def define_table(self, td: TableDef) -> None:
        if getattr(self, "versioned_default", False):
            # harness/session opted into versioned reads ([test]
            # versioned = true — VERSION clause snapshots)
            td.versioned = True
        self.tables[td.name] = td
        os.makedirs(self._data(td.name), exist_ok=True)

    # written last into every `data_g<N>` by `_overwrite`: a generation
    # without it is a write that never finished (crash, kill) and is skipped
    _COMMITTED = "_SUCCESS"

    def _data(self, tbl: str) -> str:
        """Current-generation data dir.

        Mutations rewrite the table into a FRESH ``data_g<N>`` dir (see
        `_overwrite`) instead of truncating the dir readers hold lazy plans
        over — so no full-table localCheckpoint is needed to guard the
        self-overwrite, and a reader of generation N stays valid across
        later mutations (MVCC-style; old generations are retained for the
        Database's lifetime — these are short-lived per-connection dirs).
        The pointer is the highest-numbered COMMITTED dir ON DISK (one
        holding the `_COMMITTED` marker), never in-memory state, so
        transaction backup/restore (copytree of the db root) and REMOVE
        TABLE (rmtree) carry it for free, and a half-written generation
        left by a killed process is never read.  The initial ``data`` dir
        takes in-place appends (CREATE / INSERT into an unchanged schema).

        The dir plus its parquet files' (name, size, mtime_ns) are the
        table's `stamp`."""
        base = f"{self.root}/{tbl}"
        for n in sorted(self._generations(tbl), reverse=True):
            gen = f"{base}/data_g{n}"
            if os.path.exists(f"{gen}/{self._COMMITTED}"):
                return gen
        return f"{base}/data"

    def _generations(self, tbl: str) -> list[int]:
        try:
            names = os.listdir(f"{self.root}/{tbl}")
        except FileNotFoundError:
            return []
        return [int(d[6:]) for d in names
                if d.startswith("data_g") and d[6:].isdigit()]

    def _next_data(self, tbl: str) -> str:
        # past every generation dir, committed or not: a crashed write's
        # leftovers are never reused
        return f"{self.root}/{tbl}/data_g{max(self._generations(tbl), default=0) + 1}"

    def _changes(self, tbl: str) -> str:
        return f"{self.root}/{tbl}/_changes"

    def _versions(self, tbl: str) -> str:
        return f"{self.root}/{tbl}/_versions"

    def _snapshot(self, tbl: str) -> None:
        """Archive the current table state under a versionstamp."""
        td = self.tables[tbl]
        if not td.versioned or not self._exists(tbl):
            return
        import shutil

        vs = time.time_ns() // 1_000_000
        dst = f"{self._versions(tbl)}/{vs}"
        while os.path.exists(dst):  # same-ms mutations
            vs += 1
            dst = f"{self._versions(tbl)}/{vs}"
        shutil.copytree(self._data(tbl), dst)

    def table_at(self, tbl: str, versionstamp: int) -> DataFrame:
        """SELECT ... VERSION — the table as of ``versionstamp`` (ms).

        Reads the newest snapshot taken AFTER that instant (snapshots
        capture the pre-mutation state); if none, the live table."""
        vdir = self._versions(tbl)
        if os.path.isdir(vdir):
            stamps = sorted(int(d) for d in os.listdir(vdir))
            later = [v for v in stamps if v > versionstamp]
            if later:
                return self.spark.read.parquet(f"{vdir}/{later[0]}")
        return self.table(tbl)

    def stamp(self, tbl: str) -> tuple:
        """``(generation dir, parquet files' (name, size, mtime_ns))``:
        equal stamps mean the same table state.  Sound because:

        * Spark part-file names carry a per-write UUID, so an in-place
          append (`_append`) changes the stamp;
        * every other rewrite lands in a fresh ``data_g<N>`` dir;
        * a transaction restore (copytree) keeps names, sizes and mtimes,
          so an equal stamp means byte-identical files at the same
          paths."""
        path = self._data(tbl)
        return path, self._parquet_files(path)

    def table(self, tbl: str) -> DataFrame:
        """The table's current generation as a lazy DataFrame.

        Returns the SAME DataFrame for as long as the generation is
        unchanged, so statements that re-read a table skip Spark's file
        listing and schema resolution; a new generation resolves once,
        from a footer read on the driver (`_read`).  Cached (via the shared
        `catalog.SCANS`, one entry per table) under the table's `stamp`.
        The entry holds the schema and file index only, never rows."""
        from surrealdb_spark.catalog import SCANS

        path, files = self.stamp(tbl)
        if not files:
            raise MutationError(f"table {tbl} is empty — no schema to read")
        return SCANS.get(self.spark, f"{self.root}/{tbl}", (path, files),
                         lambda: self._read(path, files[0][0]))

    # Spark writes the frame's schema into every parquet footer it writes;
    # schema inference would run a Spark job just to read it back.
    _SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"

    def _read(self, path: str, first: str) -> DataFrame:
        """Resolve one generation dir, taking the schema from a footer on
        the driver.  Any file's footer serves: a generation is written by
        one job, and in-place appends keep the stored column order
        (`_append`).  Spark makes a supplied schema nullable exactly as it
        does an inferred one."""
        import pyarrow.parquet as pq
        from pyspark.sql.types import StructType

        meta = pq.read_metadata(f"{path}/{first}").metadata or {}
        reader = self.spark.read
        if self._SPARK_SCHEMA_KEY in meta:
            reader = reader.schema(
                StructType.fromJson(json.loads(meta[self._SPARK_SCHEMA_KEY])))
        return reader.parquet(path)

    @staticmethod
    def _parquet_files(path: str) -> tuple:
        try:
            with os.scandir(path) as it:
                return tuple(sorted(
                    (e.name, e.stat().st_size, e.stat().st_mtime_ns)
                    for e in it if e.name.endswith(".parquet")))
        except FileNotFoundError:
            return ()

    def _exists(self, tbl: str) -> bool:
        return bool(self._parquet_files(self._data(tbl)))

    # -- field pipeline (doc/field.rs process_table_fields) ------------------

    def _apply_fields(self, tbl: str, df: DataFrame, existing: bool,
                      touched: set | None = None) -> DataFrame:
        td = self.tables[tbl]

        def _input_col(name: str) -> Column:
            # $input = what THIS statement provided for the field; an
            # update that didn't touch it binds NONE (doc/field.rs)
            if touched is not None and name not in touched:
                return F.lit(None)
            return F.col(name) if name in df.columns else F.lit(None)

        # stash raw inputs BEFORE value transforms overwrite the columns —
        # ASSERT clauses bind $input to the statement's original value
        inp_stash: dict[str, str] = {}
        for fd in td.fields:
            if fd.assert_fn is not None and "." not in fd.name:
                nm = "__inp_" + fd.name
                df = df.withColumn(nm, _input_col(fd.name))
                inp_stash[fd.name] = nm
        for fd in td.fields:
            if fd.name.endswith(".*"):
                # wildcard member kind (`DEFINE FIELD obj.* TYPE number`,
                # define/field.rs): every member of the base struct must
                # coerce — a static check on the typed engine
                base = fd.name[:-2]
                if (fd.dtype or fd.kind) and base in df.columns:
                    from pyspark.sql import types as T

                    bt = df.schema[base].dataType
                    num = (fd.dtype in ("bigint", "double",
                                        "decimal(38,10)")
                           or fd.kind in ("int", "float", "number",
                                          "decimal"))
                    bad_ts = (T.StringType, T.BooleanType, T.ArrayType,
                              T.StructType, T.MapType)
                    members = (bt.fields if isinstance(bt, T.StructType)
                               else [])
                    if isinstance(bt, T.MapType) and num \
                            and isinstance(bt.valueType, bad_ts):
                        raise MutationError(
                            f"Couldn't coerce value for field `{fd.name}`: "
                            f"Expected `{fd.dtype}` member values")
                    for m in members:
                        if num and isinstance(m.dataType, bad_ts):
                            raise MutationError(
                                f"Couldn't coerce value for field "
                                f"`{fd.name}`: Expected `{fd.dtype}` "
                                f"but found `{m.name}`")
                continue
            if ".*." in fd.name:
                # `base.*.sub` member clause over an array-of-objects
                # field: defaults fill missing members per element;
                # VALUE clauses recompute per element with $this bound to
                # the element object (define/field.rs member defaults /
                # values — nested_computed_fields.surql)
                base, sub = fd.name.split(".*.", 1)
                if (fd.default is None and fd.value_ast is None) \
                        or base not in df.columns or "." in sub:
                    continue
                dt = dict(df.dtypes).get(base, "")
                if not dt.startswith("array<struct"):
                    continue
                if fd.value_ast is not None:
                    from surrealdb_spark.sql.compiler import compile_expr

                    def _mk_fill(s, a, dtx, root):
                        # single-arg lambda: F.transform dispatches on
                        # the callable's arity.  $this binds the ROOT
                        # document, not the element (doc/field.rs $this
                        # context — nested_computed_fields expects
                        # 'NONENONE' from root-level lookups)
                        def fill(x):
                            cur = (x.getField(s) if f"{s}:" in dtx
                                   else F.lit(None))
                            return x.withField(s, compile_expr(
                                a, {"this": root, "value": cur,
                                    "input": cur}))
                        return fill

                    def _this_fields(a, acc):
                        # `$this.<f>` references — absent root fields
                        # resolve to NONE, so pad them as NULL slots
                        if isinstance(a, tuple):
                            if (a[0] == "path"
                                    and a[1] == ("param", "this")
                                    and a[2] and a[2][0][0] == "field"):
                                acc.add(a[2][0][1])
                            for x in a:
                                _this_fields(x, acc)
                        elif isinstance(a, list):
                            for x in a:
                                _this_fields(x, acc)
                        return acc

                    refs = _this_fields(fd.value_ast, set())
                    parts = [F.col(c) for c in df.columns
                             if not c.startswith("__")]
                    parts += [F.lit(None).alias(n)
                              for n in sorted(refs - set(df.columns))]
                    fill = _mk_fill(sub, fd.value_ast, dt,
                                    F.struct(*parts))
                elif f"{sub}:" in dt:
                    fill = (lambda s: lambda x: x.withField(
                        s, F.coalesce(x.getField(s), fd.default())))(sub)
                else:
                    fill = (lambda s: lambda x: x.withField(
                        s, fd.default()))(sub)
                df = df.withColumn(base, F.transform(F.col(base), fill))
                continue
            if "." in fd.name:
                # nested object member (`obj.a`): validated driver-side at
                # literal-row build; a flat withColumn would just leak a
                # bogus `obj.a`-named column
                continue
            if "__k_" + fd.name in df.columns and fd.name in td.kinded:
                # kinded-JSON column (values.py): casts/defaults were
                # applied when the JSON was produced; a typed default
                # would not unify with the string slot
                continue
            if fd.frame_value_fn is not None:
                # join-backed VALUE body (graph lookup): the transformer
                # attaches the column itself
                df = fd.frame_value_fn(df)
                continue
            col = F.col(fd.name) if fd.name in df.columns else F.lit(None)
            if fd.default is not None:
                col = F.coalesce(col, fd.default())
            if fd.value_fn is not None:
                try:
                    col = fd.value_fn(col, _input_col(fd.name))
                except TypeError:
                    col = fd.value_fn(col)
            if fd.dtype:
                col = col.cast(fd.dtype)
            df = df.withColumn(fd.name, col)
        for fd in td.fields:
            if fd.assert_fn is not None:
                inp = (F.col(inp_stash[fd.name])
                       if fd.name in inp_stash else F.lit(None))
                try:
                    cond = fd.assert_fn(F.col(fd.name), inp)
                except TypeError:
                    cond = fd.assert_fn(F.col(fd.name))
                bad = df.filter(~F.coalesce(cond, F.lit(False)))
                if (fd.kind or "").strip().lower().startswith("option<"):
                    # option kinds assert only when a value is present
                    # (doc/field.rs: NONE skips the ASSERT clause)
                    bad = bad.filter(F.col(fd.name).isNotNull())
                n = bad.count()
                if n:
                    sample = bad.limit(3).collect()
                    raise MutationError(
                        f"ASSERT failed for field {fd.name} on {n} records, e.g. {sample}"
                    )
        if inp_stash:
            df = df.drop(*inp_stash.values())
        return df

    # -- changefeed + events -------------------------------------------------

    def _post_write(
        self, tbl: str, action: str, rows: DataFrame, before: DataFrame | None = None
    ) -> None:
        td = self.tables[tbl]
        if td.changefeed:
            vs = int(time.time() * 1000)
            change = rows.select(
                F.lit(vs).alias("versionstamp"),
                F.lit(action).alias("action"),
                F.col(td.id_col).cast("string").alias("record_id"),
                F.to_json(F.struct(*[F.col(c) for c in rows.columns])).alias("after"),
            )
            if before is not None:
                b = before.select(
                    F.col(td.id_col).cast("string").alias("record_id"),
                    F.to_json(F.struct(*[F.col(c) for c in before.columns])).alias(
                        "before"
                    ),
                )
                change = change.join(b, "record_id", "left").select(
                    "versionstamp", "action", "record_id", "before", "after"
                )
            else:
                change = change.select(
                    "versionstamp",
                    "action",
                    "record_id",
                    F.lit(None).cast("string").alias("before"),
                    "after",
                )
            change.write.mode("append").parquet(self._changes(tbl))
        for hook in td.events:
            hook(action, rows, before)

    # -- statements ----------------------------------------------------------

    @staticmethod
    def _uniq_entries(df: DataFrame, cols: list[str],
                      extra: list[str] | None = None) -> DataFrame | None:
        """Index-entry tuples for a unique index (idx/index.rs Indexable/
        Combinator): a PLAIN column holding an array unrolls one entry
        per element; a `...`-suffixed (Part::Flatten) column keeps the
        whole (mapped) array as a single entry value.  None when a column
        is absent from the frame (nothing to check)."""
        names: list[str] = []
        out = df
        for i, c in enumerate(cols):
            slot = f"__ux{i}"
            if c.endswith("..."):
                base = c[:-3]
                if ".*." in base:
                    b0, sub = base.split(".*.", 1)
                    if b0 not in out.columns:
                        return None
                    col = F.transform(
                        F.col(b0),
                        (lambda s: lambda x: x.getField(s))(sub))
                else:
                    if base not in out.columns:
                        return None
                    col = F.col(base)
                # whole-array entry value: hash to a comparable scalar
                out = out.withColumn(slot, F.to_json(F.struct(col)))
            else:
                if c not in out.columns:
                    return None
                if dict(df.dtypes).get(c, "").startswith("array"):
                    # plain array column: one entry per element
                    out = out.withColumn(slot, F.explode(F.col(c)))
                else:
                    out = out.withColumn(slot, F.col(c))
            names.append(slot)
        return out.select(*(names + list(extra or [])))

    def _check_unique(self, tbl: str, records: DataFrame) -> None:
        """Uniq index enforcement (catalog/schema/index.rs Uniq): one
        semi-join per index against stored rows + an intra-batch groupBy."""
        td = self.tables[tbl]
        for cols in td.unique_indexes:
            ent = self._uniq_entries(records, cols)
            if ent is None:
                continue
            keys = ent.columns
            dup_batch = (
                ent.groupBy(*keys).count().filter(F.col("count") > 1).count()
            )
            if dup_batch:
                raise MutationError(
                    f"unique index on {cols} violated within the batch"
                )
            if self._exists(tbl):
                stored = self._uniq_entries(self.table(tbl), cols)
                if stored is None:
                    continue
                n = ent.join(stored, keys, "left_semi").count()
                if n:
                    raise MutationError(
                        f"unique index on {cols}: {n} clashing value(s) in {tbl}"
                    )

    def _check_unique_final(self, tbl: str, merged: DataFrame) -> None:
        """Uniq enforcement for update/upsert paths (index.rs Uniq on
        update): one groupBy per index over the post-mutation table catches
        both intra-batch and updated-vs-existing collisions before the
        overwrite lands."""
        td = self.tables[tbl]
        for cols in td.unique_indexes:
            ent = self._uniq_entries(merged, cols)
            if ent is None:
                continue
            keys = ent.columns
            n = ent.groupBy(*keys).count().filter(F.col("count") > 1).count()
            if n:
                raise MutationError(
                    f"unique index on {cols}: mutation violates uniqueness in {tbl}"
                )

    @staticmethod
    def _is_numeric_dt(dt: str) -> bool:
        return dt.split("(", 1)[0] in ("tinyint", "smallint", "int",
                                       "bigint", "float", "double",
                                       "decimal")


    def _kindify_col(self, df: DataFrame, c: str) -> DataFrame:
        """Convert one natively-typed column to kinded-JSON storage:
        value → JSON text, __k_<c> → per-row kind name (values.py)."""
        from surrealdb_spark.values import (KIND_SIDECAR_PREFIX,
                                            json_render_col,
                                            kind_col_of_dtype)

        dt = dict(df.dtypes)[c]
        sc = KIND_SIDECAR_PREFIX + c
        kex = F.col(sc) if sc in df.columns else F.lit(None).cast("string")
        kcol = F.coalesce(kex, kind_col_of_dtype(F.col(c), dt))
        # sidecar FIRST: it reads the native value (string-shape/geometry
        # refinements) and must not see the JSON-rendered text
        return df.withColumn(sc, kcol) \
            .withColumn(c, json_render_col(F.col(c), dt))

    def _harmonize(self, tbl: str, stored: DataFrame,
                   incoming: DataFrame) -> tuple[DataFrame, DataFrame]:
        """Make a stored frame and an incoming batch union-compatible.
        Same-family numeric conflicts widen (union coercion); any other
        kind conflict degrades the column to kinded-JSON on both sides
        and registers it in TableDef.kinded (values.py kinded columns)."""
        from surrealdb_spark.values import merge_union_dt

        td = self.tables[tbl]
        st, it = dict(stored.dtypes), dict(incoming.dtypes)
        for c in sorted(set(st) & set(it)):
            if c.startswith("__"):
                continue
            if c in td.kinded:
                # stored side already JSON+sidecar; convert the batch
                if not (it[c] == "string" and
                        "__k_" + c in incoming.columns):
                    incoming = self._kindify_col(incoming, c)
                continue
            if st[c] == it[c]:
                continue
            if self._is_numeric_dt(st[c]) and self._is_numeric_dt(it[c]):
                continue  # number family widens in place
            if st[c] == "string" and it[c] != "string" \
                    and not stored.filter(F.col(c).isNotNull()).take(1):
                # stored side is an all-NULL slot that was devoided to
                # string at write time — it takes the incoming type
                # (CREATE t SET v = null, then v = d'...')
                stored = stored.withColumn(c, F.lit(None).cast(it[c]))
                continue
            tgt = merge_union_dt(st[c], it[c])
            if tgt is not None:
                # void (all-NULL) slots take the other side's type — a
                # NONE first write must not degrade the column to JSON
                # (CREATE org SET parent = NONE, then parent = org:x) —
                # and numeric arrays widen element-wise
                if st[c] != tgt:
                    stored = stored.withColumn(c, F.col(c).cast(tgt))
                if it[c] != tgt:
                    incoming = incoming.withColumn(c, F.col(c).cast(tgt))
                continue
            stored = self._kindify_col(stored, c)
            incoming = self._kindify_col(incoming, c)
            td.kinded.add(c)
        # columns only the incoming batch carries, on an already-kinded name
        for c in sorted(td.kinded & set(it) - set(st)):
            if not (it[c] == "string" and "__k_" + c in incoming.columns):
                incoming = self._kindify_col(incoming, c)
        return stored, incoming

    def _append(self, tbl: str, records: DataFrame) -> None:
        """Append rows, rewriting the table when the incoming schema
        differs (schemaless tables accept new fields and numeric widening;
        kind conflicts degrade to kinded-JSON columns — values.py;
        one parquet dir must stay self-consistent)."""
        td = self.tables[tbl]
        if self._exists(tbl):
            cur = self.table(tbl)
            if td.kinded & set(records.columns) \
                    or dict(cur.dtypes) != dict(records.dtypes):
                cur, records = self._harmonize(tbl, cur, records)
                merged = cur.unionByName(records, allowMissingColumns=True)
                self._overwrite(tbl, merged)
                return
            # same fields, stored order: every file of the dir then carries
            # one schema (`_read` takes it from any footer)
            records = records.select(*cur.columns)
        self._devoid(records).write.mode("append").parquet(self._data(tbl))

    def create(self, tbl: str, records: DataFrame) -> DataFrame:
        """CREATE — insert new records, ERROR if an id already exists
        (expr/statements/create.rs; Iterable::GenerateRecordId)."""
        td = self.tables[tbl]
        records = self._apply_fields(tbl, records, existing=False)
        if self._exists(tbl):
            clash = records.join(
                self.table(tbl).select(td.id_col), td.id_col, "left_semi"
            )
            n = clash.count()
            if n:
                raise MutationError(f"CREATE: {n} record id(s) already exist in {tbl}")
        self._check_unique(tbl, records)
        self._snapshot(tbl)
        records = records.localCheckpoint(eager=True)
        self._append(tbl, records)
        self._post_write(tbl, "CREATE", records)
        return records

    def insert(self, tbl: str, records: DataFrame, on_duplicate: dict[str, Column] | None = None) -> DataFrame:
        """INSERT — bulk load; ON DUPLICATE KEY UPDATE applies SET exprs to
        clashing ids (expr/data.rs Data::UpdateExpression, Iterable::Mergeable).
        MERGE emulation: existing⟕new anti-join + resolved duplicates + fresh.
        The write reads the checkpointed batch (``touched``), so the batch's
        anti-join against the table runs once, not again in the write job.
        """
        td = self.tables[tbl]
        records = self._apply_fields(tbl, records, existing=False)
        if not self._exists(tbl):
            self._check_unique(tbl, records)
            records = records.localCheckpoint(eager=True)
            self._append(tbl, records)
            self._post_write(tbl, "CREATE", records)
            return records
        current = self.table(tbl)
        current, records = self._harmonize(tbl, current, records)
        fresh = records.join(current.select(td.id_col), td.id_col, "left_anti")
        self._check_unique(tbl, fresh)
        if on_duplicate is None:
            # allowMissingColumns: the stored rows and the batch may carry
            # different field sets — e.g. record literals bring the
            # `__present` marker a table filled by INSERT … SELECT lacks
            # (a NULL marker reads as "derive presence from the values")
            touched = fresh.localCheckpoint(eager=True)
            merged = current.unionByName(touched, allowMissingColumns=True)
            dup_before = None
        else:
            dup_ids = records.select(td.id_col)
            updated = current.join(dup_ids, td.id_col, "left_semi")
            dup_before = None
            if td.events or td.changefeed:
                dup_before = updated.localCheckpoint(eager=True)
            for k, v in on_duplicate.items():
                updated = updated.withColumn(k, v)
            untouched = current.join(dup_ids, td.id_col, "left_anti")
            touched = updated.unionByName(
                fresh, allowMissingColumns=True).localCheckpoint(eager=True)
            merged = untouched.unionByName(touched, allowMissingColumns=True)
            self._check_unique_final(tbl, merged)
        self._overwrite(tbl, merged)
        self._post_write(tbl, "UPDATE", touched, before=dup_before)
        return touched

    def update(
        self,
        tbl: str,
        set_exprs: dict[str, Column],
        where: Column | None = None,
        return_: str = "AFTER",
        capture: dict | None = None,
    ) -> DataFrame:
        """UPDATE ... SET ... WHERE — RETURN NONE/BEFORE/AFTER/DIFF
        (expr/output.rs:7-15; diff via value::diff)."""
        td = self.tables[tbl]
        if not self._exists(tbl):
            # UPDATE only touches existing records (update.rs; UPSERT is
            # the create-if-absent verb) — empty table is a no-op
            empty = local_frame(self.spark, [], "id string")
            if capture is not None:
                capture["before"], capture["after"] = empty, empty
            return empty
        current = self.table(tbl)
        cond = where if where is not None else F.lit(True)
        before = current.filter(cond).localCheckpoint(eager=True)
        after = before
        for k, v in set_exprs.items():
            after = after.withColumn(k, v)
        touched = {k for k in set_exprs if not k.startswith("__")}
        after = self._apply_fields(
            tbl, after, existing=True, touched=touched,
        ).localCheckpoint(eager=True)
        for fd in td.fields:
            # READONLY fields may be re-set to the SAME value only
            # (doc/field.rs readonly check)
            if not fd.readonly or fd.name not in touched \
                    or fd.name not in before.columns:
                continue
            ch = (before.select(td.id_col, F.col(fd.name).alias("__b"))
                  .join(after.select(td.id_col,
                                     F.col(fd.name).alias("__a")),
                        td.id_col)
                  .filter(~F.col("__b").eqNullSafe(F.col("__a")))
                  .limit(1).collect())
            if ch:
                raise MutationError(
                    f"Found changed value for field `{fd.name}`, with "
                    f"record `{ch[0][td.id_col]}`, but field is readonly")
        untouched = current.filter(~F.coalesce(cond, F.lit(False)))
        # allowMissingColumns: SET may introduce a new field (schemaless
        # semantics — untouched records get NULL for it)
        untouched, after_m = self._harmonize(tbl, untouched, after)
        merged = untouched.unionByName(after_m, allowMissingColumns=True)
        self._check_unique_final(tbl, merged)
        self._overwrite(tbl, merged)
        self._post_write(tbl, "UPDATE", after, before=before)
        if capture is not None:
            capture["before"], capture["after"] = before, after
        return self._returning(td, before, after, return_)

    def upsert(
        self, tbl: str, records: DataFrame, set_exprs: dict[str, Column] | None = None
    ) -> DataFrame:
        """UPSERT — update matching ids, create the rest."""
        td = self.tables[tbl]
        if not self._exists(tbl):
            return self.create(tbl, records)
        records = self._apply_fields(tbl, records, existing=False)
        current = self.table(tbl)
        current, records = self._harmonize(tbl, current, records)
        fresh = records.join(current.select(td.id_col), td.id_col, "left_anti")
        replaced = records.join(current.select(td.id_col), td.id_col, "left_semi")
        rep_before = None
        if td.events or td.changefeed:
            # pre-images of the replaced ids — events bind the real
            # $before (doc/event.rs self.initial); checkpointed before the
            # overwrite invalidates the lazy read
            rep_before = current.join(
                records.select(td.id_col), td.id_col, "left_semi"
            ).localCheckpoint(eager=True)
        if set_exprs:
            for k, v in set_exprs.items():
                replaced = replaced.withColumn(k, v)
        untouched = current.join(records.select(td.id_col), td.id_col, "left_anti")
        replaced = replaced.localCheckpoint(eager=True)
        fresh = fresh.localCheckpoint(eager=True)
        # allowMissingColumns: a whole-row replace may DROP fields the
        # table still carries for other rows (CONTENT removes keys)
        merged = untouched.unionByName(
            replaced, allowMissingColumns=True
        ).unionByName(fresh, allowMissingColumns=True)
        self._check_unique_final(tbl, merged)
        self._overwrite(tbl, merged)
        self._post_write(tbl, "UPDATE", replaced, before=rep_before)
        self._post_write(tbl, "CREATE", fresh)
        return replaced.unionByName(fresh)

    def delete(self, tbl: str, where: Column | None = None,
               return_: str = "NONE", capture: dict | None = None) -> DataFrame:
        """DELETE ... WHERE — anti-join rewrite (+ edge purge analogue:
        callers drop edges referencing deleted ids, doc/purge.rs)."""
        td = self.tables[tbl]
        if not self._exists(tbl):
            # deleting from an empty table is a no-op (doc/delete.rs)
            empty = local_frame(self.spark, [], "id string")
            if capture is not None:
                capture["before"] = empty
            return empty
        current = self.table(tbl)
        cond = where if where is not None else F.lit(True)
        doomed = current.filter(cond).localCheckpoint(eager=True)
        kept = current.filter(~F.coalesce(cond, F.lit(False)))
        self._overwrite(tbl, kept)
        self._post_write(tbl, "DELETE", doomed, before=doomed)
        if capture is not None:
            capture["before"] = doomed
        return doomed if return_ == "BEFORE" else doomed.limit(0)

    def relate(self, edge_tbl: str, edges: DataFrame) -> DataFrame:
        """RELATE a->e->b — append edge records carrying in/out
        (doc/relate.rs; operators/graph.relate builds the rows)."""
        if edge_tbl not in self.tables:
            self.define_table(TableDef(edge_tbl, id_col="id", is_edge=True))
        self.tables[edge_tbl].is_edge = True
        td = self.tables[edge_tbl]
        if td.id_col not in edges.columns:
            edges = edges.withColumn(
                td.id_col, F.concat(F.lit(edge_tbl), F.lit(":"), F.md5(F.concat_ws("|", "in", "out")))
            )
        edges = edges.localCheckpoint(eager=True)
        if self._exists(edge_tbl):
            clash = edges.join(
                self.table(edge_tbl).select(td.id_col), td.id_col,
                "left_semi").count()
            if clash:
                # RELATE with an existing edge id replaces the edge
                # (doc/relate.rs — the edge key is an upsert key)
                return self.upsert(edge_tbl, edges)
        self._append(edge_tbl, edges)
        self._post_write(edge_tbl, "CREATE", edges)
        return edges

    # -- helpers -------------------------------------------------------------

    @staticmethod
    def _devoid(df: DataFrame) -> DataFrame:
        """Parquet can't store void (all-NULL) columns — cast them to
        string at write time (recursively through arrays).  Semantics are
        unchanged: every cell is NULL either way."""
        def fix(dt: str) -> str | None:
            if dt == "void":
                return "string"
            if dt.startswith("array<") and dt.endswith(">"):
                inner = fix(dt[6:-1])
                return f"array<{inner}>" if inner else None
            return None

        for c, dt in df.dtypes:
            tgt = fix(dt)
            if tgt:
                df = df.withColumn(c, F.col(c).cast(tgt))
        return df

    def _overwrite(self, tbl: str, df: DataFrame) -> None:
        # Write the new state into a FRESH generation dir and let _data's
        # dir scan advance the pointer (r13).  The plan may read the current
        # generation lazily while writing the next one — no self-overwrite,
        # so the old full-table localCheckpoint staging is gone (at scale it
        # materialized the ENTIRE table in executor memory per mutation;
        # now a mutation costs exactly one parquet write of the new state).
        self._snapshot(tbl)
        dst = self._next_data(tbl)
        try:
            self._devoid(df).write.mode("overwrite").parquet(dst)
            # commit point: only now does `_data` see the new generation
            # (Spark's own _SUCCESS marker is config-dependent, so the
            # engine writes its own)
            open(f"{dst}/{self._COMMITTED}", "a").close()
        except BaseException:
            # never leave a half-written dir as the newest generation
            import shutil

            shutil.rmtree(dst, ignore_errors=True)
            raise

    @staticmethod
    def _returning(td: TableDef, before: DataFrame, after: DataFrame, mode: str) -> DataFrame:
        if mode == "NONE":
            return after.limit(0)
        if mode == "BEFORE":
            return before
        if mode == "AFTER":
            return after
        if mode == "DIFF":
            b = before.select(
                F.col(td.id_col),
                F.to_json(F.struct(*[F.col(c) for c in before.columns])).alias("before"),
            )
            a = after.select(
                F.col(td.id_col),
                F.to_json(F.struct(*[F.col(c) for c in after.columns])).alias("after"),
            )
            return b.join(a, td.id_col)
        raise ValueError(mode)


def diff_patch(before: dict, after: dict) -> list[dict]:
    """value::diff — JSON-Patch ops between two records
    (core/src/expr/operation.rs; used by RETURN DIFF / LIVE DIFF)."""
    ops: list[dict] = []
    for k in sorted(set(before) | set(after)):
        if k not in after:
            ops.append({"op": "remove", "path": f"/{k}"})
        elif k not in before:
            ops.append({"op": "add", "path": f"/{k}", "value": after[k]})
        elif before[k] != after[k]:
            ops.append({"op": "replace", "path": f"/{k}", "value": after[k]})
    return ops


def apply_patch(doc: dict, ops: list[dict]) -> dict:
    """value::patch — apply JSON-Patch ops."""
    out = dict(doc)
    for op in ops:
        key = op["path"].lstrip("/")
        if op["op"] == "remove":
            out.pop(key, None)
        else:
            out[key] = op["value"]
    return out
