#!/usr/bin/env python3
"""Benchmark of the reference's daily sync and of the engine's
registered queries (the dashboard endpoints among them).

Run from the repository root:

    python3 perfbench/run.py --workload {etl,analytics} \\
        --seed N --seconds S --trace {0,1}

The sync's inputs are generated from ``--seed`` under ``.perfbench/work``
(removed at exit); the queries read the test data copy in
``perfbench/data``. Spark runs on ``local[<usable cores>]`` with the
program's own session settings, its local, temporary and warehouse
directories under ``.perfbench/work`` too. The run sets up (session,
inputs, a warm-up whose outputs are checked), then measures for
about ``--seconds`` with one closed-loop client. It prints a summary
line, then as the last line one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``
(the event log is turned on for that run only). Every run also leaves
a record and its spans under ``.perfbench/runs``; ``report.py`` reads
them.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shlex
import shutil
import subprocess
import sys
import time
import traceback

import spans as tracing
import workloads
from workloads import median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "epl_cas_etl_2026_spark"

END_TO_END = {"setup_s": "s", "op_geomean_s": "s", "unit_s": "s", "unit_cpu_s": "s"}

ETL_KINDS = ("backfill", "daily", "noop")
ETL_FIELDS = (
    "jobs", "stages", "tasks", "driver_only_s", "exec_cpu_s", "gc_s",
    "input_bytes", "input_records", "output_rows", "output_bytes",
    "shuffle_bytes", "spill_bytes",
)
OPERATOR_MODULES = (
    "dedup", "similarity", "graph", "ranking", "windows", "reshape",
    "spark-internal",
)


def per_layer_names(queries) -> list[str]:
    names = ["session.start_s", "sources.input_bytes"]
    names += [f"etl.{k}.{f}" for k in ETL_KINDS for f in ETL_FIELDS]
    names += ["etl.daily.parsed", "etl.daily.loaded", "etl.daily.parsed_per_loaded"]
    names += [f"api.{m}" for m in (
        "build_s", "exec_s", "jobs_per_req", "build_jobs_per_req", "driver_only_share"
    )]
    names += [f"plans.{q}.{m}" for q in queries for m in ("build_s", "exec_s", "jobs")]
    names += [f"plans.{m}" for m in (
        "exec_cpu_s", "gc_s", "shuffle_bytes", "spill_bytes", "driver_only_s"
    )]
    names += [f"operators.{m}.{f}" for m in OPERATOR_MODULES for f in ("jobs", "job_s")]
    names += ["cpu.jvm_s", "cpu.pyworker_s", "cpu.driver_s"]
    names += ["storage.cached_rdds", "storage.cached_mb"]
    return names


def per_layer_unit(name: str) -> str:
    last = name.rsplit(".", 1)[-1]
    if last.endswith("_s"):
        return "s"
    if last.endswith("_bytes"):
        return "bytes"
    if last.endswith("_mb"):
        return "MB"
    if last.endswith("_share") or last.endswith("_per_loaded") or last.endswith("_per_req"):
        return "ratio"
    return "count"


def configure(work: str, trace: bool) -> None:
    """Environment for the Spark JVM and its Python workers; must run
    before pyspark is imported. Every file Spark writes lands in
    ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        # no hsperfdata files in the system temp directory, from the
        # launcher JVM or the driver
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    })
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.epl.scratch.dir": os.path.join(work, "scratch"),
    }
    if trace:
        logs = os.path.join(work, "eventlog")
        os.makedirs(logs)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": logs,
            # the stdlib fold cannot read the default zstd compression
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    args = " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"


class Bench:
    """One run: the session, the tracer, the operation counters."""

    def __init__(self, args, work: str):
        self.args = args
        self.seed = args.seed
        self.work = work
        self.run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
        self.tracer = tracing.Tracer(self.run_id)
        self.phase = "setup"
        self.setup_parts: dict[str, float] = {}
        self.inputs: dict = {}
        self.attempted = self.failed = 0
        self.failures: list[str] = []
        self._duck = None
        self.spark = None

    # -- operations -------------------------------------------------------
    def op(self, kind: str, name: str, fn, **attrs):
        """Run one operation in its own span; returns ``(span, result)``,
        the result None when it raised."""
        self.attempted += 1
        result = None
        steal0 = tracing.host_cpu()["steal_s"]
        with self.tracer.span(name, kind=kind, phase=self.phase, **attrs) as rec:
            try:
                result = fn()
            except Exception:  # counted as a failed operation; the run goes on
                rec["error"] = traceback.format_exc(limit=3)
        # CPU time the hypervisor gave to other machines meanwhile
        rec["steal_s"] = tracing.host_cpu()["steal_s"] - steal0
        rec["ok"] = True
        self.tracer.storage(rec)
        if "error" in rec:
            self.verdict(rec, False, rec["error"].strip().splitlines()[-1])
        return rec, result

    def verdict(self, rec: dict, ok: bool, why: str) -> None:
        """Fail ``rec`` if ``ok`` is false (each operation counts once)."""
        if ok or not rec["ok"]:
            return
        rec["ok"] = False
        self.failed += 1
        self.failures.append(f"{rec['kind']} {rec['name']}: {why}")

    def build_exec(self, call, collect: bool):
        """``build``: the call that returns the DataFrame (jobs it runs
        eagerly count there); ``exec``: the action — ``toPandas`` when
        ``collect``, else a write to the ``noop`` sink. Returns the
        pandas frame or True."""
        with self.tracer.span("build", kind="build"):
            df = call()
        with self.tracer.span("exec", kind="exec"):
            if collect:
                return df.toPandas()
            df.write.format("noop").mode("overwrite").save()
            return True

    def measured_ops(self) -> list[dict]:
        return [
            s for s in self.tracer.spans
            if s.get("phase") == "measure" and s["kind"] in ("sync", "query")
        ]

    def measure_units(self, fn, seconds: float, minimum: int) -> list[dict]:
        """The closed loop: run ``fn(i)``, one unit of work (a sync
        cycle, a query batch) returning its operations' summed wall
        time, while fewer than ``minimum`` units have run within
        ``seconds`` or one more would still end within it. So a slow
        host runs fewer units, not a longer phase. Each unit records
        that sum (``ops_s``), the host's stolen CPU and the
        process-tree CPU."""
        t0 = time.perf_counter()
        units: list[dict] = []
        while not units or (
            (len(units) < minimum and time.perf_counter() - t0 < seconds)
            or time.perf_counter() - t0 + units[-1]["wall_s"] <= seconds
        ):
            steal0, cpu0 = tracing.host_cpu()["steal_s"], tracing.process_cpu()
            with self.tracer.span("unit", kind="unit") as rec:
                rec["ops_s"] = fn(len(units))
            cpu1 = tracing.process_cpu()
            rec["steal_s"] = tracing.host_cpu()["steal_s"] - steal0
            rec["cpu_s"] = sum(cpu1.values()) - sum(cpu0.values())
            units.append(rec)
        return units

    def setup_part(self, name: str, fn, repeat: int = 1) -> None:
        walls = []
        for _ in range(repeat):
            with self.tracer.span(f"setup.{name}", kind="setup") as rec:
                fn()
            walls.append(rec["wall_s"])
        self.setup_parts[name] = median(walls)

    def duck(self):
        if self._duck is None:
            import duckdb

            self._duck = duckdb.connect()
            # the checks are small; one thread leaves the cores to the
            # Spark JVM, which is still compiling during the warm-up
            self._duck.execute("SET threads TO 1")
        return self._duck

    def compare(self, df, con, sql: str):
        from tests.oracle_utils import compare

        try:
            return compare(df, con, sql)
        except Exception as e:  # a broken result or oracle is a failed check
            return False, f"{type(e).__name__}: {e}"

    # -- the run ------------------------------------------------------------
    def run(self, workload) -> dict:
        from epl_cas_etl_2026_spark import get_spark

        with self.tracer.span("session.start", kind="setup") as rec:
            self.spark = get_spark(app_name="perfbench")
        self.session_start_s = rec["wall_s"]
        try:
            if self.args.trace:
                self.tracer.enable(self.spark.sparkContext)
            workload.setup(self)
            self.phase = "measure"
            # host-wide and process-tree CPU over the measured phase: how
            # busy the machine was (and how much was stolen) while we
            # measured, and where our own CPU went
            host0, proc0 = tracing.host_cpu(), tracing.process_cpu()
            with self.tracer.span("measure", kind="phase") as self.measure_span:
                e2e = workload.measure(self, self.args.seconds)
            host1, proc1 = tracing.host_cpu(), tracing.process_cpu()
            self.host = {
                "host": {k: host1[k] - host0[k] for k in host0},
                "proc": {k: proc1[k] - proc0[k] for k in proc0},
            }
            e2e["setup_s"] = self.session_start_s + sum(self.setup_parts.values())
            e2e["ops_failed_share"] = self.failed / max(1, self.attempted)
            if self.args.trace:
                self.tracer.storage(self.measure_span)
            stamp = self.stamp()
        finally:
            stop(self.spark)
        return {"end_to_end": e2e, "stamp": stamp}

    def stamp(self) -> dict:
        import duckdb
        import pyspark

        import bench

        head = None
        try:
            with open(os.path.join(ROOT, ".git", "HEAD")) as f:
                ref = f.read().strip()
            if ref.startswith("ref: "):
                with open(os.path.join(ROOT, ".git", ref[5:])) as f:
                    ref = f.read().strip()
            head = ref
        except OSError:
            pass  # a checkout without git metadata
        return {
            "workload": self.args.workload,
            "seed": self.seed,
            "seconds": self.args.seconds,
            "trace": self.args.trace,
            "nproc": os.cpu_count(),
            "cores_usable": len(os.sched_getaffinity(0)),
            "master": self.spark.sparkContext.master,
            "spark": pyspark.__version__,
            "python": platform.python_version(),
            "duckdb": duckdb.__version__,
            "git_commit": head,
            "cpu_calibration": bench.cpu_calibration(),
            "host": platform.node(),
            "driver_memory": self.spark.sparkContext.getConf().get("spark.driver.memory"),
            "setup_parts_s": self.setup_parts,
            "session_start_s": self.session_start_s,
            "inputs": self.inputs,
            "measure_cpu_s": self.host,
            "time": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }

    # -- per-layer metrics ---------------------------------------------------
    def per_layer(self, workload, jobs: list[dict]) -> dict:
        """Every per-layer metric (0 where this workload does not reach
        the layer). Medians are per operation; sums and CPU are per unit
        of work (a sync cycle, a query batch)."""
        units = max(1, workload.units)
        m = {n: 0.0 for n in per_layer_names(workloads.Analytics.QUERIES)}
        m["session.start_s"] = self.session_start_s
        ops = self.measured_ops()
        children = {}
        for s in self.tracer.spans:
            children.setdefault(s["parent"], []).append(s)
        child = lambda s, k: next(c for c in children.get(s["id"], []) if c["kind"] == k)
        m["sources.input_bytes"] = sum(s["tree"]["input_bytes"] for s in ops) / units

        for kind in ETL_KINDS:
            syncs = [s for s in ops if s["kind"] == "sync" and s["name"] == kind]
            for f in ETL_FIELDS:
                m[f"etl.{kind}.{f}"] = median(s["tree"][f] for s in syncs)
        daily = [s for s in ops if s["kind"] == "sync" and s["name"] == "daily"]
        if daily:
            # records the daily sync's text scans read (each scan of
            # the landing set counts), against the rows it reported loaded
            m["etl.daily.parsed"] = median(s["tree"]["text_records"] for s in daily)
            m["etl.daily.loaded"] = median(s["loaded"] or 0 for s in daily)
            m["etl.daily.parsed_per_loaded"] = m["etl.daily.parsed"] / max(1, m["etl.daily.loaded"])

        queries = [s for s in ops if s["kind"] == "query" and "error" not in s]
        # the dashboard endpoints, reached through their registered
        # api_* queries
        reqs = [s for s in queries if s["name"].startswith("api_")]
        if reqs:
            m["api.build_s"] = median(child(s, "build")["wall_s"] for s in reqs)
            m["api.exec_s"] = median(child(s, "exec")["wall_s"] for s in reqs)
            m["api.jobs_per_req"] = median(s["tree"]["jobs"] for s in reqs)
            m["api.build_jobs_per_req"] = median(child(s, "build")["tree"]["jobs"] for s in reqs)
            m["api.driver_only_share"] = median(
                s["tree"]["driver_only_s"] / max(s["wall_s"], 1e-9) for s in reqs
            )
        for q in {s["name"] for s in queries}:
            mine = [s for s in queries if s["name"] == q]
            m[f"plans.{q}.build_s"] = median(child(s, "build")["wall_s"] for s in mine)
            m[f"plans.{q}.exec_s"] = median(child(s, "exec")["wall_s"] for s in mine)
            m[f"plans.{q}.jobs"] = median(s["tree"]["jobs"] for s in mine)
        for f in ("exec_cpu_s", "gc_s", "shuffle_bytes", "spill_bytes", "driver_only_s"):
            m[f"plans.{f}"] = sum(s["tree"][f] for s in queries) / units

        measured = {s["id"] for s in self.tracer.subtree(self.measure_span["id"])}
        by_id = {j["job"]: j for j in jobs}
        for s in self.tracer.spans:
            if s["id"] not in measured:
                continue
            for j in (by_id[i] for i in s["jobs"]):
                key = tracing.callsite_module(j["site"]).split(".", 1)[-1]
                if key in OPERATOR_MODULES:
                    m[f"operators.{key}.jobs"] += 1 / units
                    m[f"operators.{key}.job_s"] += (j["end"] - j["start"]) / units

        for k in ("jvm_s", "pyworker_s", "driver_s"):
            m[f"cpu.{k}"] = self.host["proc"][k] / units
        m["storage.cached_rdds"] = self.measure_span["cached_rdds"]
        m["storage.cached_mb"] = self.measure_span["cached_mb"]
        return m


def stop(spark, timeout: float = 60.0) -> None:
    """Stop Spark, end the JVM, and wait until no process this run
    started (the JVM, the PySpark daemon, its workers) is left."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout)
    deadline = time.monotonic() + timeout
    while tracing.descendants() and time.monotonic() < deadline:
        time.sleep(0.1)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE!r} not found under {ROOT}", file=sys.stderr)
        return 2
    runs = os.path.join(ROOT, ".perfbench", "runs")
    work = os.path.join(ROOT, ".perfbench", "work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(runs, exist_ok=True)
    configure(work, bool(args.trace))
    sys.path.insert(0, ROOT)

    b = Bench(args, work)
    wl = workloads.WORKLOADS[args.workload]()
    try:
        out = b.run(wl)
        layers, jobs = None, []
        if args.trace:
            logs = os.path.join(work, "eventlog")
            (log,) = os.listdir(logs)
            jobs = tracing.fold_event_log(os.path.join(logs, log))
            b.tracer.attach_jobs(jobs)
            layers = b.per_layer(wl, jobs)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    e2e = out["end_to_end"]
    record = {
        "stamp": out["stamp"],
        "end_to_end": e2e,
        "per_layer": layers,
        "attempted": b.attempted,
        "failed": b.failed,
        "failures": b.failures[:20],
    }
    base = os.path.join(runs, b.run_id)
    with open(base + ".json", "w") as f:
        json.dump(record, f, indent=1, default=str)
    b.tracer.write(base + ".spans.jsonl", out["stamp"], jobs)

    shown = " ".join(
        f"{k}={v:.4g}" if isinstance(v, float) else f"{k}={v}" for k, v in sorted(e2e.items())
    )
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace}: {shown} "
          f"(ops {b.failed}/{b.attempted} failed)")
    for msg in b.failures[:5]:
        print(f"  failed: {msg}")
    if layers is None:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    else:
        metrics = {k: {"value": v, "unit": per_layer_unit(k)} for k, v in layers.items()}
    print(json.dumps({
        "correct": b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
