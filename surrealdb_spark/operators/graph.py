"""Graph layer: RELATE-shaped edge tables, hop traversal, bounded recursion.

Reference semantics (surrealdb/surrealdb):
  - edges are ordinary records with ``in``/``out`` RecordId fields created by
    RELATE (core/src/doc/edges.rs, core/src/doc/relate.rs);
  - traversal ``->edge->target`` / ``<-edge<-`` / ``<->`` expands via
    GraphEdgeScan (core/src/exec/operators/scan/graph.rs:43,64) with
    direction enum Dir::{In,Out,Both} (core/src/expr/dir.rs:18-26);
  - reverse-reference lookup ``<~`` (core/src/exec/operators/scan/reference.rs:48);
  - bounded recursion ``@{min..max}`` with +collect/+path/+shortest
    instructions (core/src/exec/operators/recursion.rs:1-44; depth cap
    IDIOM_RECURSION_LIMIT core/src/cnf/mod.rs:53).

Spark mapping: an edge table is a DataFrame with string record-id columns
``in``/``out`` (canonical form ``table:key``); one hop is one equi-join.
``_traverse`` is the one core of bounded graph recursion: ``recurse`` and
``recurse_paths`` here, and SurrealQL's ``{min..max}`` recursion
(``lookup.recurse_value``).  It takes one hop projection
``(__here, __there, __piece)`` per step of a level and picks its plan once,
from the edge count (Pregelix's in-memory vs dataflow choice): at or under
``LOCAL_EDGE_MAX_ROWS`` edges the whole traversal is one ``mapInPandas``
job over a broadcast adjacency dict; above it a driver loop runs one
checkpointed level per round.  Cycle handling follows recursion.rs:8-15:
BFS never re-expands a visited node, and a path never revisits a node of
its own path.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from surrealdb_spark.values import local_frame

IN, OUT = "in", "out"
# Reference default recursion cap (core/src/cnf/mod.rs:53-54).
RECURSION_LIMIT = 256
# At or under this many edges the whole bounded traversal runs as ONE job:
# the edge projection is collected once, broadcast as an adjacency dict,
# and each task expands its partition's start nodes in-process
# (mapInPandas).  A driver-round loop costs ~0.25 s of job/broadcast/plan
# machinery PER ROUND no matter how small the frontier is; one job costs it
# once.  Same budget idea as a broadcast join: past it, the level loop in
# _traverse is the shape that scales.
LOCAL_EDGE_MAX_ROWS = 1_000_000
SEP = "\x01"  # joins __ord pieces; sorts below every printable char
_NODES = "start string, node string, depth int"


def record_id(table: str, key: Column | str) -> Column:
    """Canonical string form of a RecordId: ``table:key``
    (types/src/value/record_id/mod.rs:22 — Struct{tb, key} rendered as tb:key).
    """
    k = F.col(key) if isinstance(key, str) else key
    return F.concat(F.lit(table), F.lit(":"), k.cast("string"))


def record_table(rid: Column | str) -> Column:
    """record::tb() — table part of a record id."""
    c = F.col(rid) if isinstance(rid, str) else rid
    return F.substring_index(c, ":", 1)


def record_key(rid: Column | str) -> Column:
    """record::id() — key part of a record id."""
    c = F.col(rid) if isinstance(rid, str) else rid
    return F.substring_index(c, ":", -1)


def relate(
    src: DataFrame,
    src_table: str,
    src_key: str,
    dst_table: str,
    dst_key: str,
    payload: list[str] | None = None,
) -> DataFrame:
    """RELATE src->edge->dst over a DataFrame of (src_key, dst_key[, payload]).

    Returns the edge table: ``in``, ``out`` + payload columns
    (core/src/doc/relate.rs — edge records carry in/out plus user fields).
    """
    cols = [
        record_id(src_table, src_key).alias(IN),
        record_id(dst_table, dst_key).alias(OUT),
    ]
    cols += [F.col(c) for c in (payload or [])]
    return src.select(*cols)


def graph_hop(
    start: DataFrame,
    edges: DataFrame,
    direction: str = "out",
    edge_filter: Column | None = None,
    start_id: str = "id",
    broadcast_start: bool = False,
) -> DataFrame:
    """One traversal hop: expand each start record id along the edge table.

    Returns the start DataFrame's columns plus ``nbr`` (neighbor record id).
    direction 'out' = ``->``, 'in' = ``<-``, 'both' = ``<->``
    (core/src/expr/dir.rs:18-26).  ``edge_filter`` is the
    ``->(edge WHERE ...)->`` predicate (core/src/expr/lookup.rs:63).

    ``broadcast_start``: hint that the frontier is the small side.  The
    edge side's size estimate comes from compressed parquet bytes of the
    pruned key columns, which badly UNDER-estimates the record-id strings
    the edge projection expands them into — at the 10x-scaled layout the
    planner broadcast a 6M-row edge table (a multi-hundred-MB hash
    relation rebuilt every run) under a seeded frontier of 30k rows
    (guide §3.1: hint when a side is KNOWN small; r13).  Callers set it
    when the frontier is a seeded/filtered set they know stays bounded.
    """
    if edge_filter is not None:
        edges = edges.filter(edge_filter)
    if direction == "both":
        return graph_hop(start, edges, "out", None, start_id, broadcast_start).unionByName(
            graph_hop(start, edges, "in", None, start_id, broadcast_start)
        )
    here, there = (IN, OUT) if direction == "out" else (OUT, IN)
    e = edges.select(F.col(here).alias("__here"), F.col(there).alias("nbr"))
    if broadcast_start:
        start = F.broadcast(start)
    return start.join(e, start[start_id] == e.__here).drop("__here")


def reference_lookup(
    start: DataFrame, referrers: DataFrame, ref_field: str, start_id: str = "id"
) -> DataFrame:
    """``<~`` reverse-reference lookup: who references me
    (core/src/exec/operators/scan/reference.rs:48) — an equi-join with the
    sides swapped: referrers.ref_field == start.id.
    """
    return start.join(referrers, referrers[ref_field] == start[start_id], "inner")


def hop(edges: DataFrame, direction: str = "out", piece: Column | None = None) -> DataFrame:
    """One step of a traversal level as a hop projection
    ``(__here, __there, __piece)``: the edge's near and far ends for
    ``direction``, and the step's ``__ord`` piece (empty when the caller
    orders nothing)."""
    here, there = (IN, OUT) if direction == "out" else (OUT, IN)
    return edges.select(
        F.col(here).alias("__here"), F.col(there).alias("__there"),
        (F.lit("") if piece is None else piece).alias("__piece"),
    )


def _traverse(
    starts: DataFrame,
    hops: list[DataFrame],
    min_depth: int,
    max_depth: int,
    schema: str,
    expand,
    step,
    init: tuple[Column, ...] = (),
    out: tuple[str, ...] = (),
) -> DataFrame:
    """Bounded level-wise traversal, the one core of graph recursion.

    ``starts`` has a ``start`` column, and its other columns ride along:
    each output row carries its input row's columns, so a caller's row
    keys come back with their answers.  ``hops`` holds one hop projection
    per step of a level.  Returns ``schema`` (start, node, depth, *out)
    plus the carried columns, for every level in [min_depth, max_depth].
    The plan is chosen once, from the edge count of all steps together:
    ONE job collects up to LOCAL_EDGE_MAX_ROWS + 1 projection rows.

    - local (≤ LOCAL_EDGE_MAX_ROWS): those rows (Arrow) are broadcast as
      one adjacency dict per step, ``here -> [(there, piece)]``;
      ``expand(adjs, s, max_depth)`` yields start ``s``'s rows (node,
      depth, ...) in-process, every start in ONE mapInPandas job.  A start
      repeated within a batch expands once.
    - distributed: the projections are checkpointed once; level 0 is
      (start, node = start, *init) for each distinct start, and
      ``step(frontier, hops, seen)`` builds the next level from the
      current one and every level so far.  Each level is lazily
      localCheckpointed, and ONE count job per level both materializes it
      and probes for emptiness.  The levels join back to ``starts``.
    """
    carry = [f for f in starts.schema.fields if f.name != "start"]
    e = reduce(DataFrame.unionByName, [
        h.select("__here", "__there", "__piece", F.lit(i).alias("__step"))
        for i, h in enumerate(hops)
    ])

    pairs = e.limit(LOCAL_EDGE_MAX_ROWS + 1).toPandas()
    if len(pairs) <= LOCAL_EDGE_MAX_ROWS:
        adjs: list[dict] = [{} for _ in hops]
        for i, h, t, p in zip(pairs["__step"].values, pairs["__here"].values,
                              pairs["__there"].values, pairs["__piece"].values):
            adjs[i].setdefault(h, []).append((t, p))
        bc = starts.sparkSession.sparkContext.broadcast(adjs)
        schema += "".join(f", {f.name} {f.dataType.simpleString()}" for f in carry)
        names = [c.split()[0] for c in schema.split(",")]
        cols = ["start"] + [f.name for f in carry]

        def run(batches):
            import pandas as pd

            a = bc.value
            for b in batches:
                memo: dict = {}
                rows = []
                for s, *kept in zip(*(b[c].values for c in cols)):
                    if s is None:
                        continue
                    if s not in memo:
                        memo[s] = [r for r in expand(a, s, max_depth) if r[1] >= min_depth]
                    rows.extend((s, *r, *kept) for r in memo[s])
                yield pd.DataFrame.from_records(rows, columns=names).astype(
                    {"depth": "int32"}
                )

        return starts.mapInPandas(run, schema)

    # Materialize the projections once: every level's join would otherwise
    # re-resolve and re-scan the edge sources.
    e = e.localCheckpoint(eager=True)
    hops = [e.filter(F.col("__step") == i).drop("__step") for i in range(len(hops))]
    seed = starts.select("start").where(F.col("start").isNotNull()).distinct()
    seen = [seed.select("start", F.col("start").alias("node"), *init).localCheckpoint(eager=True)]
    levels: list[DataFrame] = []
    for depth in range(1, max_depth + 1):
        nxt = step(seen[-1], hops, seen).localCheckpoint(eager=False)
        if not nxt.count():
            break
        if depth >= min_depth:
            levels.append(nxt.select("start", "node", F.lit(depth).alias("depth"), *out))
        seen.append(nxt)
    found = reduce(DataFrame.unionByName, levels) if levels else \
        local_frame(starts.sparkSession, [], schema)
    return found.join(starts, "start")


def _paths(no_revisit: bool, flag_cycles: bool = False) -> dict:
    """Path enumeration for ``_traverse``: every walk of each start, one
    row per (path, depth) as (start, node, depth, __ord, __path).

    Each level applies every step in turn; ``__ord`` appends
    ``SEP + piece`` per step and ``__path`` each step's node.  With
    ``no_revisit`` a path never revisits one of its own nodes
    (recursion.rs:8-15); ``flag_cycles`` turns such a revisit into one
    marker row with a null node, for the caller to raise on.
    """

    def expand(adjs, s, max_depth):
        frontier = [(s, "", (s,))]
        for d in range(1, max_depth + 1):
            for adj in adjs:
                frontier = [(v, o + SEP + pc, p + (v,))
                            for u, o, p in frontier for v, pc in adj.get(u, ())]
            if no_revisit:
                kept = [f for f in frontier if f[0] not in f[2][:-1]]
                if flag_cycles and len(kept) < len(frontier):
                    yield None, d, None, None
                    return
                frontier = kept
            if not frontier:
                return
            for v, o, p in frontier:
                yield v, d, o, list(p)

    def step(frontier, hops, seen):
        nxt = frontier
        for h in hops:
            nxt = nxt.join(h, F.col("node") == F.col("__here")).select(
                "start", F.col("__there").alias("node"),
                F.concat("__ord", F.lit(SEP), "__piece").alias("__ord"),
                F.array_append("__path", F.col("__there")).alias("__path"),
            )
        if not no_revisit:
            return nxt
        rev = F.array_contains(F.slice("__path", 1, F.size("__path") - 1), F.col("node"))
        if flag_cycles:
            return nxt.withColumn("node", F.when(~rev, F.col("node")))
        return nxt.filter(~rev)

    return dict(
        schema=_NODES + ", __ord string, __path array<string>",
        expand=expand, step=step,
        init=(F.lit("").alias("__ord"), F.array("start").alias("__path")),
        out=("__ord", "__path"),
    )


def _check_depth(max_depth: int) -> None:
    if max_depth > RECURSION_LIMIT:
        raise ValueError(f"max_depth {max_depth} exceeds IDIOM_RECURSION_LIMIT {RECURSION_LIMIT}")


def recurse(
    start: DataFrame,
    edges: DataFrame,
    min_depth: int = 1,
    max_depth: int = 1,
    direction: str = "out",
    start_id: str = "id",
) -> DataFrame:
    """Bounded-depth traversal ``@{min..max}`` (+collect semantics).

    Returns (start, node, depth): every node reachable from each distinct
    start at its minimum depth in [min_depth, max_depth].  BFS with a
    per-start visited set — matches the reference's cycle rule of not
    re-expanding a node already reached (recursion.rs:8-15; BFS min-depth
    is the +collect reading).  Duplicate start rows traverse once.
    """

    def bfs(adjs, s, max_depth):
        adj = adjs[0]
        visited, frontier = {s}, [s]
        for d in range(1, max_depth + 1):
            nxt = []
            for u in frontier:
                for v, _ in adj.get(u, ()):
                    if v not in visited:
                        visited.add(v)
                        nxt.append(v)
            if not nxt:
                return
            for v in nxt:
                yield v, d
            frontier = nxt

    def step(frontier, hops, seen):
        # distinct ∘ anti-join against every earlier level ≡ the visited set
        return (
            frontier.join(hops[0], F.col("node") == F.col("__here"))
            .select("start", F.col("__there").alias("node"))
            .distinct()
            .join(reduce(DataFrame.unionByName, seen), ["start", "node"], "left_anti")
        )

    _check_depth(max_depth)
    return _traverse(
        start.select(F.col(start_id).alias("start")).distinct(), [hop(edges, direction)],
        min_depth, max_depth, _NODES, bfs, step,
    )


def shortest_depth(
    start: DataFrame,
    edges: DataFrame,
    target: Column,
    max_depth: int,
    direction: str = "out",
    start_id: str = "id",
) -> DataFrame:
    """``@{..max}+shortest=<target>``: length of the shortest path from each
    start to the target node (recursion instruction in recursion.rs).
    Returns (start, depth) for starts that reach the target within max_depth.
    recurse emits each (start, node) once, at its BFS depth — the shortest.
    """
    reach = recurse(start, edges, 1, max_depth, direction, start_id)
    return reach.filter(F.col("node") == target).select("start", "depth")


def recurse_paths(
    start: DataFrame,
    edges: DataFrame,
    min_depth: int = 1,
    max_depth: int = 1,
    direction: str = "out",
    start_id: str = "id",
) -> DataFrame:
    """``@{min..max}+path`` — collect every path, not just reached nodes
    (recursion.rs path instruction).  Returns (start, node, depth, path)
    where path is '->'-joined record ids including the start.

    Cycle rule: a path never revisits one of its own nodes
    (recursion.rs:8-15).  No cross-path visited set: distinct paths to the
    same node are all kept (that's the +path semantics), and every input
    row — duplicates included — gets its own result set.
    """
    _check_depth(max_depth)
    found = _traverse(start.select(F.col(start_id).alias("start")), [hop(edges, direction)],
                      min_depth, max_depth, **_paths(no_revisit=True))
    return found.select("start", "node", "depth", F.array_join("__path", "->").alias("path"))
