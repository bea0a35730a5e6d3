#!/usr/bin/env python3
"""Closed-loop benchmark of the jema_js_spark validation engine.

Run from the repository root::

    python3 perfbench/run.py --workload json_mixed --seed 3 --seconds 16 --trace 0

One caller in this process issues each call only after the previous one
returned, on ``local[N]`` with N = min(4, nproc).  A run:

1. starts the Spark application, then sets up ``SETUPS`` times -- the
   seeded inputs generated and written to parquet, and a first bulk
   verdict call on them -- and reports the session start plus the
   median set-up as ``setup_s`` (the first set-up also pays JIT warm-up
   and Python worker start, so the median is a set-up in a running
   application);
2. makes untimed calls until ``WARM_SECONDS`` of them have run;
3. runs rounds of cycles (see ``workloads.py``) while the next round is
   expected to end within ``--seconds`` of calls, timing each call from
   the contract dict to its collected count and checking that count
   against a reference computed, untimed, before each round (see
   ``inputs.py``).

``--trace 0`` prints the end-to-end metrics (set-up time and bulk
throughput); ``--trace 1`` alternates traced and untraced cycles, probes
single layers, writes the spans to ``.perfbench_work/trace/`` and prints
the per-layer metrics, among them the contract latencies
``contract_cold_p50_ms`` / ``contract_warm_p50_ms`` (the median time from
a new or seen contract dict to its collected verdict count).  The last
stdout line is the result JSON; the line before it stamps the
environment.

Layer metric -> the metric it should move (workload):
  runtime.session_s, sources.generate_s -> setup_s (both; generation
      mostly pages_typed)
  schema.build_ms, json_plane.analyze_ms, compiler.compile_ms,
      cold.build_ms, cold.plan_ms -> contract_cold_p50_ms (json_mixed)
  warm.build_ms, warm.plan_ms, warm.jobs, warm.tasks
      -> contract_warm_p50_ms (json_mixed)
  verdict.build_ms, verdict.plan_ms, verdict.jobs -> verdict_docs_per_s
      (json_mixed, where the call's fixed cost is a large share)
  compiler.plane_a_pct, verdict.exec_s -> verdict_docs_per_s (pages_typed)
  json_plane.route_rate, verdict.python_*, verdict.arrow_*,
      kernel.validate_us -> verdict_docs_per_s (json_mixed)
  violations.exec_s, violations.shuffle_bytes, violations.python_*,
      kernel.errors_us -> violations_docs_per_s (json_mixed)
"""

from __future__ import annotations

import argparse
import copy
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from contextlib import nullcontext

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
SETUPS = 3
KINDS = ("cold", "warm", "verdict", "violations")
WARM_SECONDS = 6        # untimed: the first calls after set-up run slow
KERNEL_SAMPLE_DOCS = 2000
KERNEL_PASSES = 5


def _isolate(run_dir: str) -> None:
    """Keep every file Spark, the JVM and Python workers write inside
    the checkout, and let the workers import the engine."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    # every JVM, the launcher's too, would otherwise write /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                  if p])
    os.environ.setdefault("SPARK_DRIVER_MEM", "3g")
    sys.path.insert(0, ROOT)


def _cores() -> int:
    return min(4, os.cpu_count() or 1)


def _start_session(run_dir: str):
    from jema_js_spark.runtime.session import build_session

    n = _cores()
    spark = build_session(
        app_name="perfbench", master=f"local[{n}]", shuffle_partitions=n,
        extra_conf={
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} "
                f"-Dderby.system.home={os.path.join(run_dir, 'derby')}",
            "spark.ui.showConsoleProgress": "false",
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _shutdown(spark) -> None:
    """Stop the application, then the gateway JVM, and wait for it."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _median(xs):
    return statistics.median(xs) if xs else float("nan")


class Runner:
    """One workload's closed loop over one Spark application."""

    def __init__(self, workload, seed: int, scale: float, run_dir: str,
                 tracer=None) -> None:
        self.w = workload
        self.seed = seed
        self.scale = scale
        self.run_dir = run_dir
        self.tracer = tracer
        self.spark = None
        self.dfs: dict = {}
        self.refs: dict = {}
        self.attempted = 0
        self.failed = 0
        self.errors: list = []
        self.samples = {k: [] for k in KINDS}
        self.walls = {True: [], False: []}      # (kind, wall) by traced
        self.layer = {k: [] for k in KINDS}     # traced calls only
        self.last_counts: dict = {}

    # -- set-up ----------------------------------------------------------
    def start(self) -> float:
        t0 = time.perf_counter()
        self.spark = _start_session(self.run_dir)
        return time.perf_counter() - t0

    def setup(self, rep: int) -> dict:
        t0 = time.perf_counter()
        paths = self.w.materialize(self.spark, self.seed, self.scale,
                                   os.path.join(self.run_dir, f"input{rep}"))
        self.dfs = {k: self.spark.read.parquet(p) for k, p in paths.items()}
        t1 = time.perf_counter()
        first = next(c for c in self.w.cycle(self.seed, f"s{rep}", rep)
                     if c.kind == "verdict")
        self.call(first, f"s{rep}.verdict", timed=False, traced=False)
        return {"setup_s": time.perf_counter() - t0, "generate_s": t1 - t0}

    def ensure_refs(self, calls: list) -> None:
        todo = [c for c in calls if c.ref_key not in self.refs]
        if todo:
            self.refs.update(self.w.references(self.dfs, todo))

    # -- calls -----------------------------------------------------------
    def cycle(self, i: int, tag: str, timed: bool,
              traced: bool = False) -> float:
        """Run cycle ``i``'s calls; returns their summed wall time."""
        return sum(self.call(c, f"{tag}.{k}.{c.kind}", timed, traced)
                   for k, c in enumerate(self.w.cycle(self.seed, tag, i)))

    def call(self, c, call_id: str, timed: bool, traced: bool) -> float:
        from perfbench.workloads import count_frame

        # the engine adds "$schema" to a contract dict it is given, so
        # each call gets its own copy, as a caller loading it would
        contract = copy.deepcopy(c.contract)
        df = self.dfs[c.input]
        tr = self.tracer if traced else None
        span = tr.span if tr else (lambda name: nullcontext())
        if self.tracer is not None:
            self.spark.sparkContext.setJobGroup(
                f"pb-{call_id}" if traced else "pb-untraced", c.kind)
        row, err = None, None
        t0 = time.perf_counter()
        try:
            with (tr.call(call_id, c.kind) if tr else nullcontext()):
                with span("build"):
                    q = count_frame(c.kind, self.w.run(c.kind, df, contract))
                if tr:
                    with span("plan"):
                        q._jdf.queryExecution().executedPlan()
                with span("exec"):
                    row = q.collect()[0]
        except Exception as exc:  # a failed call is counted, not fatal
            err = f"{call_id}: {type(exc).__name__}: {str(exc)[:300]}"
        dt = time.perf_counter() - t0
        if not timed:
            if err:
                raise RuntimeError(f"warm-up call failed: {err}")
            return dt
        self.attempted += 1
        if err is None:
            err = self.check(c, row, call_id)
        if err is not None:
            self.failed += 1
            self.errors.append(err)
            return dt
        self.samples[c.kind].append(dt)
        self.walls[traced].append((c.kind, dt))
        if traced:
            self.record_layers(c.kind, q, call_id)
        return dt

    def check(self, c, row, call_id: str):
        n, valid, rows = self.refs[c.ref_key]
        if c.kind == "violations":
            got, want = (row["rows"],), (rows,)
            self.last_counts["violations.rows"] = row["rows"]
        else:
            got, want = (row["n"], row["valid"]), (n, valid)
            if c.kind == "verdict":
                self.last_counts["verdict.invalid"] = row["n"] - row["valid"]
        if got != want:
            return f"{call_id}: output {got} != reference {want}"
        return None

    def record_layers(self, kind: str, q, call_id: str) -> None:
        from perfbench.trace import job_counts, plan_metrics

        tr = self.tracer
        by_name, root, covered = {}, None, 0.0
        for s, self_s in zip(tr.spans, tr.self_times()):
            if s["call"] != call_id:
                continue
            if s["parent"] is None:
                root = s
            else:
                by_name[s["name"]] = self_s
                covered += s["end"] - s["start"]
        root_dt = root["end"] - root["start"]
        rec = {"build_ms": by_name["build"] * 1e3,
               "plan_ms": by_name["plan"] * 1e3,
               "exec_s": by_name["exec"],
               "coverage_pct": 100.0 * covered / root_dt}
        rec.update(plan_metrics(q._jdf.queryExecution().executedPlan()))
        rec.update(job_counts(self.spark.sparkContext, f"pb-{call_id}"))
        self.layer[kind].append(rec)

    def warm_up(self) -> None:
        """Untimed calls, in cycle order, until ``WARM_SECONDS`` of them
        have run and every call kind has run once."""
        kinds = {c.kind for c in self.w.cycle(self.seed, "w", 0)}
        spent, seen, i = 0.0, set(), 0
        while True:
            for k, c in enumerate(self.w.cycle(self.seed, f"w{i}", i)):
                spent += self.call(c, f"w{i}.{k}.{c.kind}", timed=False,
                                   traced=False)
                seen.add(c.kind)
                if spent >= WARM_SECONDS and seen == kinds:
                    return
            i += 1

    # -- timed loop ------------------------------------------------------
    def timed_loop(self, seconds: float) -> int:
        """Run whole rounds of cycles while the next round is expected
        to end within ``seconds`` of calls (at least one round).  In a
        traced run even cycles are traced and odd ones are not, and at
        least one of each runs.  References for the coming cycles are
        computed outside the timed calls.  Returns the cycle count."""
        n = self.w.round_cycles
        min_cycles = 2 if self.tracer is not None else 1
        i = 0
        elapsed = 0.0
        while i < min_cycles or elapsed + elapsed / (i // n) <= seconds:
            self.ensure_refs([c for j in range(i, i + n)
                              for c in self.w.cycle(self.seed, f"t{j}", j)])
            for _ in range(n):
                traced = self.tracer is not None and i % 2 == 0
                elapsed += self.cycle(i, f"t{i}", timed=True, traced=traced)
                i += 1
        return i


# -- traced-run layer probes ----------------------------------------------

def _probe_layers(r: Runner, n_probe: int = 3) -> dict:
    """Time single layers outside the timed calls, on contracts no call
    has used: ``Schema``, contract analysis, ``compile_for`` (a memo
    miss), the route rate, and the kernel on one thread."""
    from pyspark.sql import functions as F

    from jema_js_spark.schema.frontend import Schema
    from jema_js_spark.validation.engine import compile_for
    from jema_js_spark.validation.json_plane import (analyze_json_contract,
                                                     with_valid_json)

    tr = r.tracer
    bulk = r.dfs["bulk"]
    schema_ms, analyze_ms, compile_ms, plane_a = [], [], [], []
    j = 0
    while len(compile_ms) < n_probe and j < 4 * n_probe:
        tag = f"probe{j}"
        c = r.w.probe_contract(r.seed, tag, j)
        j += 1
        with tr.call(tag, "probe"):
            with tr.span("schema") as s:
                schema = Schema(copy.deepcopy(c))
            schema_ms.append((s["end"] - s["start"]) * 1e3)
            with tr.span("analyze") as s:
                plan = analyze_json_contract(schema)
            analyze_ms.append((s["end"] - s["start"]) * 1e3)
            typed = bulk
            if r.w.json_input:
                if not plan.routable:
                    continue        # no typed view to compile against
                typed = bulk.select(F.from_json(
                    "doc", plan.struct_type()).alias("p")).select("p.*")
            with tr.span("compile") as s:
                compiled = compile_for(typed, copy.deepcopy(c))
            compile_ms.append((s["end"] - s["start"]) * 1e3)
            plane_a.append(100.0 * compiled.coverage()["plane_a_fraction"])
    out = {"schema.build_ms": _median(schema_ms),
           "json_plane.analyze_ms": _median(analyze_ms),
           "compiler.compile_ms": _median(compile_ms),
           "compiler.plane_a_pct": _median(plane_a),
           "json_plane.route_rate": 0.0}     # no JSON input: nothing routed
    if r.w.json_input:
        with tr.call("probe.route", "probe"), tr.span("route"):
            row = with_valid_json(bulk, "doc", copy.deepcopy(r.w.base),
                                  route_col="route").agg(
                F.count(F.lit(1)).alias("n"),
                F.sum((F.col("route") == "columnar").cast("long"))
                .alias("routed")).collect()[0]
        out["json_plane.route_rate"] = row["routed"] / row["n"]
    out.update(_kernel_probe(r))
    return out


def _kernel_probe(r: Runner) -> dict:
    """Single-thread, in-process kernel timing over a fixed seeded
    sample of ``json_mixed`` documents: parse, validate, iter_errors."""
    from jema_js_spark.kernel.kernel import Validator
    from jema_js_spark.validation.kernel_udf import loads_doc
    from perfbench.inputs import REPRESENTATIVE_KERNEL_CONTRACT, mixed_docs

    docs = [row["doc"] for row in mixed_docs(
        r.spark, KERNEL_SAMPLE_DOCS, r.seed).orderBy("id").collect()]
    v = Validator(copy.deepcopy(REPRESENTATIVE_KERNEL_CONTRACT))
    parse, val, errs = [], [], []
    n_err = 0
    tr = r.tracer
    with tr.call("probe.kernel", "probe"):
        for _ in range(KERNEL_PASSES):
            with tr.span("kernel.parse"):
                t0 = time.perf_counter()
                values = []
                for d in docs:
                    try:
                        values.append(loads_doc(d))
                    except ValueError:
                        pass
                parse.append((time.perf_counter() - t0) / len(docs))
            with tr.span("kernel.validate"):
                t0 = time.perf_counter()
                for x in values:
                    v.validate(x)
                val.append((time.perf_counter() - t0) / len(values))
            with tr.span("kernel.iter_errors"):
                t0 = time.perf_counter()
                n_err = 0
                for x in values:
                    n_err += sum(1 for _ in v.iter_errors(x))
                errs.append((time.perf_counter() - t0) / len(values))
    return {"kernel.parse_us": _median(parse) * 1e6,
            "kernel.validate_us": _median(val) * 1e6,
            "kernel.errors_us": _median(errs) * 1e6,
            "kernel.errors_per_doc": n_err / len(values)}


def _layer_metrics(r: Runner, setups: list) -> dict:
    out = {"sources.generate_s": _median([s["generate_s"] for s in setups]),
           # contract latency: too jittery on a shared box for a bound
           "contract_cold_p50_ms": 1e3 * _median(r.samples["cold"]),
           "contract_warm_p50_ms": 1e3 * _median(r.samples[r.w.warm_kind])}
    for kind in KINDS:
        recs = r.layer[r.w.warm_kind if kind == "warm" else kind]

        def med(key, scale=1.0):
            return _median([x[key] * scale for x in recs])
        out[f"{kind}.build_ms"] = med("build_ms")
        out[f"{kind}.plan_ms"] = med("plan_ms")
        out[f"{kind}.exec_s"] = med("exec_s")
        out[f"{kind}.jobs"] = med("jobs")
        out[f"{kind}.tasks"] = med("tasks")
        if kind in ("cold", "warm"):
            continue
        out[f"{kind}.shuffle_bytes"] = med("shuffle_bytes")
        out[f"{kind}.python_boot_ms"] = med("python_boot_ms")
        out[f"{kind}.python_init_ms"] = med("python_init_ms")
        out[f"{kind}.python_total_s"] = med("python_total_ms", 1e-3)
        out[f"{kind}.arrow_bytes_sent"] = med("arrow_bytes_sent")
        out[f"{kind}.arrow_bytes_received"] = med("arrow_bytes_received")
        out[f"{kind}.python_rows"] = med("python_rows")
    out["verdict.invalid"] = r.last_counts.get("verdict.invalid", -1)
    out["violations.rows"] = r.last_counts.get("violations.rows", -1)
    # bulk calls repeat one contract, so traced and untraced ones compare
    bulk = ("verdict", "violations")
    traced, untraced = (
        sum(_median([dt for k, dt in r.walls[t] if k == kind])
            for kind in bulk) for t in (True, False))
    out["trace.overhead_pct"] = 100.0 * (traced - untraced) / untraced
    out["trace.span_coverage_pct"] = min(
        (x["coverage_pct"] for k in KINDS for x in r.layer[k]),
        default=float("nan"))
    out["fail_ratio"] = r.failed / max(r.attempted, 1)
    return out


# -- environment stamp ----------------------------------------------------

def _git_commit() -> str:
    try:
        res = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return res.stdout.strip() if res.returncode == 0 else "unknown"


def _env_stamp(spark, load_before) -> dict:
    import pyspark

    return {"nproc": os.cpu_count(), "master": f"local[{_cores()}]",
            "loadavg_before": load_before, "loadavg_after": os.getloadavg(),
            "spark": pyspark.__version__,
            "python": sys.version.split()[0],
            "java": spark.sparkContext._jvm.java.lang.System.getProperty(
                "java.version"),
            "commit": _git_commit()}


# -- main -----------------------------------------------------------------

def _units() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


def run(workload_name: str, seed: int, seconds: float, trace: bool,
        scale: float, run_dir: str) -> dict:
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    load_before = os.getloadavg()
    r = Runner(WORKLOADS[workload_name], seed, scale, run_dir,
               Tracer() if trace else None)
    try:
        session_s = r.start()
        _log(f"session start {session_s:.2f} s")
        setups = []
        for rep in range(SETUPS):
            setups.append(r.setup(rep))
            _log(f"set-up {rep}: " + ", ".join(
                f"{k} {v:.2f}" for k, v in setups[-1].items()))
        t0 = time.perf_counter()
        r.warm_up()
        probes = _probe_layers(r) if trace else {}
        _log(f"warm-up, probes {time.perf_counter() - t0:.2f} s")
        cycles = r.timed_loop(seconds)
        _log(f"{cycles} timed cycles: " + ", ".join(
            f"{k} " + " ".join(f"{x:.2f}" for x in v)
            for k, v in r.samples.items()))
        env = _env_stamp(r.spark, load_before)
    finally:
        _shutdown(r.spark)

    if trace:
        metrics = dict(probes, **_layer_metrics(r, setups))
        metrics["runtime.session_s"] = session_s
        os.makedirs(os.path.join(WORK, "trace"), exist_ok=True)
        r.tracer.write(
            os.path.join(WORK, "trace", f"{workload_name}-seed{seed}.json"),
            {"workload": workload_name, "seed": seed, "env": env,
             "metrics": metrics})
    else:
        bulk_docs = r.refs[("bulk", "base")][0]
        metrics = {
            "setup_s": session_s + _median([s["setup_s"] for s in setups]),
            "verdict_docs_per_s": bulk_docs / _median(r.samples["verdict"]),
            "violations_docs_per_s":
                bulk_docs / _median(r.samples["violations"]),
        }
    units = _units()
    return {"env": env, "errors": r.errors[:5], "result": {
        "correct": r.failed == 0, "attempted": r.attempted,
        "failed": r.failed,
        "metrics": {k: {"value": None if v != v else v, "unit": units[k]}
                    for k, v in metrics.items()}}}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor; below 1 only for smoke tests")
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "jema_js_spark", "__init__.py")):
        print("perfbench: no jema_js_spark package next to perfbench/; "
              "run from a repository checkout", file=sys.stderr)
        return 2
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    _isolate(run_dir)
    from perfbench.workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    try:
        out = run(args.workload, args.seed, args.seconds, bool(args.trace),
                  args.scale, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    for e in out["errors"]:
        print(f"perfbench: failed call: {e}", file=sys.stderr)
    print(json.dumps({"env": out["env"]}))
    print(json.dumps(out["result"]), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
