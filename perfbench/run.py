"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root.  Builds the input layout on first use (under
`.bench_build/perfbench/`), sets up the engine several times (the median is
`setup_s`), runs the workload's closed loop for ``--seconds``, checks every
result, and prints one JSON object as the last line of stdout.  Spark's
own logging goes to a per-run log file beside the data, not to stdout.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` re-runs the
same loop with spans and status-store counters around every layer call and
reports the per-layer metrics (the spans go to a JSON file in the log dir).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
SETUP_REPS = 3
SCALE = 0.1

LAYER = (
    "session.start_ms", "setup.index_ms", "parser.ms", "build.ms", "build.jobs",
    "plan.ms", "exec.ms", "exec.jobs", "exec.stages", "exec.tasks",
    "exec.executor_run_ms", "exec.executor_cpu_ms", "exec.gc_ms",
    "exec.shuffle_read_bytes", "exec.shuffle_write_bytes", "exec.spill_bytes",
    "exec.rows_out", "pyworker.cpu_ms", "driver.cpu_ms", "jvm.cpu_ms", "dml.ms",
    "dml.bytes_written", "dml.files_written", "dml.generations",
    "dml.disk_bytes_per_live_byte", "trace.overhead_pct",
)
READ_LAYERS = ("parser", "build", "plan", "exec")
WRITE_LAYERS = ("parser", "dml")


def _parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=SCALE,
                    help="input scale factor (0.1 = 17 MB; smaller for smoke runs)")
    return ap.parse_args(argv)


def _env_hygiene() -> None:
    """Pin cores and heap, and keep every scratch file inside the checkout."""
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "4g"
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp


def _redirect_stderr(log_path: str):
    """Send fd 2 (and so the JVM's and workers' logs) to ``log_path``;
    return a file on the original stderr for the benchmark's own errors."""
    saved = os.fdopen(os.dup(2), "w")
    fd = os.open(log_path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
    os.dup2(fd, 2)
    os.close(fd)
    sys.stderr = os.fdopen(2, "w", buffering=1)
    return saved


def _start_session():
    from surrealdb_spark import get_spark

    tmp = os.path.join(BUILD, "tmp")
    return get_spark("perfbench", extra_conf={
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
    })


def _engine_warmup(spark) -> None:
    """One tiny job through shuffle join, window and higher-order fold;
    touches no benchmark table."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    t = spark.range(64).withColumn("v", F.array(F.lit(1.0), F.lit(2.0)))
    (t.join(t.selectExpr("id AS id2", "v AS v2"), F.col("id") == F.col("id2"))
     .withColumn("s", F.aggregate("v", F.lit(0.0), lambda a, x: a + x))
     .withColumn("rn", F.row_number().over(Window.partitionBy("id").orderBy("s")))
     .groupBy("rn").count().write.mode("overwrite").format("noop").save())


def _python_warmup(spark) -> None:
    """One tiny job through the Arrow pandas-UDF lane, which starts a Python
    worker per core.  Both workloads cross into Python, and the first
    statement to do so would otherwise pay the worker start-up.  It runs
    once, after the set-ups: every session restart would start the
    workers again, tripling the cost in every run."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    udf = F.pandas_udf(lambda x: x * 1.0, T.DoubleType())
    spark.range(64).select(udf(F.col("id").cast("double"))).write.mode(
        "overwrite").format("noop").save()


class Runner:
    """Set-up repetitions, the timed loop, and metric aggregation."""

    def __init__(self, workload, seed: int, seconds: float, trace: bool):
        from probes import Tracer

        self.w = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.spark = None
        self.tracer = Tracer(enabled=trace)
        self.setup = {"total": [], "session": [], "index": []}
        self.lat: dict[str, list[float]] = defaultdict(list)
        self.layers: dict[str, list[float]] = defaultdict(list)
        self.cpu_ms = 0.0  # driver + JVM + Python workers, summed over ops
        self.host: dict[str, list[float]] = defaultdict(list)
        self.attempted = self.failed = 0
        self.errors: list[str] = []

    # -- set-up -------------------------------------------------------------

    def set_up(self) -> None:
        from probes import host_ms

        for _ in range(SETUP_REPS):
            if self.spark is not None:
                self.spark.stop()
            self.host["setup"].append(host_ms())
            t0 = time.perf_counter()
            self.spark = _start_session()
            t1 = time.perf_counter()
            self.w.prepare(self.spark)
            t2 = time.perf_counter()
            _engine_warmup(self.spark)
            t3 = time.perf_counter()
            self.setup["total"].append(t3 - t0)
            self.setup["session"].append((t1 - t0) * 1000)
            self.setup["index"].append((t2 - t1) * 1000)
        _python_warmup(self.spark)
        self.w.load()
        self.tracer.spark = self.spark

    @property
    def jvm_pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    # -- the loop -----------------------------------------------------------

    def loop(self) -> float:
        """Run whole passes (every operation kind in its share) until
        ``seconds`` have passed, so each run measures the same mix."""
        ops = self.w.ops(self.seed)
        t_start = time.perf_counter()
        t_end = t_start + self.seconds
        n = 0
        while n % self.w.PASS or time.perf_counter() < t_end:
            op = next(ops)
            n += 1
            self.attempted += 1
            err = self._run_op(op, self.attempted)
            if err:
                self.failed += 1
                if len(self.errors) < 5:
                    self.errors.append(f"{op.kind}: {err}"[:300])
        return time.perf_counter() - t_start

    def _run_op(self, op, op_id: int) -> str | None:
        from probes import cpu_ms, host_ms

        self.host["loop"].append(host_ms())
        if self.trace:
            return self._run_traced(op, op_id)
        c0 = cpu_ms(self.jvm_pid)
        t0 = time.perf_counter()
        try:
            df = op.build()
            rows = None if op.write else df.collect()
        except Exception as exc:  # noqa: BLE001 — a failed op is counted, not fatal
            return f"{type(exc).__name__}: {exc}"
        self.lat[op.kind].append(time.perf_counter() - t0)
        c1 = cpu_ms(self.jvm_pid)
        self.cpu_ms += sum(c1.values()) - sum(c0.values())
        return self._check(op, rows)

    def _check(self, op, rows) -> str | None:
        if op.after is not None:
            op.after()
        return op.check(rows) if op.check is not None else None

    def _run_traced(self, op, op_id: int) -> str | None:
        from probes import cpu_ms, dir_usage

        from surrealdb_spark.sql.statements import parse_statement

        tr = self.tracer
        kind = self._layer_kind(op.kind)
        o0 = time.perf_counter()
        c0 = cpu_ms(self.jvm_pid)
        parse_s = 0.0
        if op.text is not None:
            p0 = time.perf_counter()
            parse_statement(op.text)
            parse_s = time.perf_counter() - p0
            tr.span("parser", p0, p0 + parse_s, op_id, parent="op")
        if op.write:
            disk0, gens0 = dir_usage(self.w.root), self.w.disk_usage()[2]
        tr.overhead_s += time.perf_counter() - o0
        g = tr.group(op_id, "build")
        t0 = time.perf_counter()
        try:
            df = op.build()
            t1 = time.perf_counter()
            sb = tr.stats(g)
            rows = None
            if not op.write:
                g = tr.group(op_id, "exec")
                t2 = time.perf_counter()
                df._jdf.queryExecution().executedPlan()
                t3 = time.perf_counter()
                rows = df.collect()
                t4 = time.perf_counter()
                se = tr.stats(g)
        except Exception as exc:  # noqa: BLE001 — a failed op is counted, not fatal
            return f"{type(exc).__name__}: {exc}"
        o1 = time.perf_counter()
        c1 = cpu_ms(self.jvm_pid)
        L = self.layers
        for who in ("driver", "jvm", "pyworker"):
            L[f"{who}.cpu_ms"].append(c1[who] - c0[who])
        L["parser.ms"].append(parse_s * 1000)
        L[f"{kind}.parser.ms"].append(parse_s * 1000)
        build_ms = max(0.0, (t1 - t0 - parse_s) * 1000)
        if op.write:
            disk1, gens1 = dir_usage(self.w.root), self.w.disk_usage()[2]
            L["dml.ms"].append(build_ms)
            L[f"{kind}.dml.ms"].append(build_ms)
            L["dml.bytes_written"].append(max(0, disk1[0] - disk0[0]))
            L["dml.files_written"].append(max(0, disk1[1] - disk0[1]))
            L["dml.generations"].append(gens1 - gens0)
            tr.span("dml", t0, t1, op_id, parent="op", kind=op.kind)
        else:
            L["build.ms"].append(build_ms)
            L[f"{kind}.build.ms"].append(build_ms)
            L["build.jobs"].append(sb["jobs"])
            L["plan.ms"].append((t3 - t2) * 1000)
            L[f"{kind}.plan.ms"].append((t3 - t2) * 1000)
            L["exec.ms"].append((t4 - t3) * 1000)
            L[f"{kind}.exec.ms"].append((t4 - t3) * 1000)
            for k, v in se.items():
                L[f"exec.{k}"].append(v)
            L["exec.rows_out"].append(op.rows_out(rows))
            tr.span("build", t0, t1, op_id, parent="op", jobs=sb["jobs"])
            tr.span("plan", t2, t3, op_id, parent="op")
            tr.span("exec", t3, t4, op_id, parent="op", **se)
        tr.span("op", t0, time.perf_counter(), op_id, kind=op.kind)
        self.lat[op.kind].append(t1 - t0 if op.write else t4 - t0)
        tr.overhead_s += time.perf_counter() - o1
        return self._check(op, rows)

    def _layer_kind(self, kind: str) -> str:
        from workloads import FAMILIES

        for fam, names in FAMILIES.items():
            if kind in names:
                return fam
        return kind

    # -- results ------------------------------------------------------------

    def end_checks(self) -> None:
        for err in self.w.finish():
            self.failed += 1
            self.errors.append(err[:300])
        self.attempted += getattr(self.w, "N_END_CHECKS", 0)

    def end_to_end(self) -> dict[str, tuple[float, str]]:
        per_kind = [min(v) for v in self.lat.values()]
        n_ops = sum(len(v) for v in self.lat.values())
        return {
            "setup_s": (statistics.median(self.setup["total"]), "s"),
            "op_gmean_ms": (statistics.geometric_mean(per_kind) * 1000, "ms"),
            "pass_s": (sum(per_kind), "s"),
            "cpu_ms_per_op": (self.cpu_ms / n_ops, "ms"),
        }

    def per_layer(self, wall: float, kinds: list[str], write_kinds: set[str]):
        def mean(name):
            v = self.layers.get(name)
            return statistics.fmean(v) if v else 0.0

        units = {"jobs": "count", "stages": "count", "tasks": "count",
                 "rows_out": "count", "files_written": "count", "generations": "count"}
        out = {}
        for name in LAYER:
            unit = "ms" if name.endswith("ms") else units.get(name.split(".")[-1], "bytes")
            out[name] = (mean(name), unit)
        out["session.start_ms"] = (statistics.median(self.setup["session"]), "ms")
        out["setup.index_ms"] = (statistics.median(self.setup["index"]), "ms")
        out["dml.disk_bytes_per_live_byte"] = (self._disk_ratio(), "ratio")
        out["trace.overhead_pct"] = (100.0 * self.tracer.overhead_s / wall, "%")
        for kind in kinds:
            for layer in (WRITE_LAYERS if kind in write_kinds else READ_LAYERS):
                name = f"{kind}.{layer}.ms"
                out[name] = (mean(name), "ms")
        return out

    def _disk_ratio(self) -> float:
        if not hasattr(self.w, "disk_usage"):
            return 0.0
        total, live, _ = self.w.disk_usage()
        return total / live if live else 0.0

    def stop(self) -> None:
        """Stop Spark and wait for the JVM and its Python workers to exit."""
        from probes import descendants

        from pyspark import SparkContext

        gw = SparkContext._gateway
        pids = descendants(gw.proc.pid) if gw is not None else []
        if self.spark is not None:
            self.spark.stop()
        if gw is not None:
            gw.shutdown()
            gw.proc.terminate()
            gw.proc.wait(60)
        deadline = time.time() + 30
        while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in pids):
            time.sleep(0.1)


def layer_kinds() -> tuple[list[str], set[str]]:
    from workloads import FAMILIES, Surql

    return list(Surql.CYCLE) + list(FAMILIES), set(Surql.WRITE_KINDS)


def main(argv=None) -> int:
    args = _parse_args(argv)
    sys.path[:0] = [ROOT, HERE]
    import datagen
    import workloads
    from probes import steal_share_reader

    names = {cls.name: cls for cls in (workloads.Surql, workloads.Analytics)}
    if args.workload not in names:
        print(f"unknown workload {args.workload!r}; one of {sorted(names)}", file=sys.stderr)
        return 2
    _env_hygiene()
    logs = os.path.join(BUILD, "logs")
    os.makedirs(logs, exist_ok=True)
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    err = _redirect_stderr(os.path.join(logs, f"{tag}.log"))
    with open(os.path.join(HERE, "expected.json")) as f:
        expected = json.load(f)
    key = f"sf{args.scale:g}"
    sf_dir = datagen.ensure_layout(os.path.join(BUILD, "data"), args.scale,
                                   expected["data"].get(key))
    work = os.path.join(BUILD, "work", tag)
    os.makedirs(work, exist_ok=True)
    cls = names[args.workload]
    if cls is workloads.Analytics:
        w = cls(sf_dir, work, expected["digests"].get(key))
    else:
        w = cls(sf_dir, work)
    steal = steal_share_reader()
    r = Runner(w, args.seed, args.seconds, bool(args.trace))
    try:
        r.set_up()
        wall = r.loop()
        r.end_checks()
        if args.trace:
            kinds, write_kinds = layer_kinds()
            metrics = r.per_layer(wall, kinds, write_kinds)
            r.tracer.write(os.path.join(logs, f"{tag}.spans.json"))
        else:
            metrics = r.end_to_end()
    except Exception:
        import traceback

        traceback.print_exc(file=err)
        return 1
    finally:
        r.stop()
    samples = {k: [len(v), round(statistics.median(v) * 1000, 1)]
               for k, v in sorted(r.lat.items())}
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "loop": "closed, 1 client", "input": sf_dir, "loop_s": round(wall, 3),
        "setup_reps": {k: [round(x, 3) for x in v] for k, v in r.setup.items()},
        "samples": samples,
        "host_ms": {k: round(statistics.median(v), 3) for k, v in r.host.items()},
        "failed_ops_share": {"failed": r.failed, "attempted": r.attempted,
                             "value": r.failed / max(1, r.attempted)},
        "errors": r.errors,
        "env": {"cpus": len(os.sched_getaffinity(0)), "mem_gb": round(mem_kb / 2**20, 1),
                "steal_share": round(steal(), 4)},
    }))
    print(json.dumps({
        "correct": r.failed == 0,
        "attempted": r.attempted,
        "failed": r.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
