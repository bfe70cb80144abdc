"""Spans, process-tree CPU, storage counters and the event-log fold.

Spans are recorded by the benchmark around its own calls into the
program: one per operation (a sync or a query) and
one per phase inside it (``build``: the call that returns the
DataFrame, ``exec``: the action that runs it). They live in memory and
are written out once, when the run ends.

With tracing on, each span also carries a Spark job group, so the
event log ties every job to the span that started it, plus CPU read
from ``/proc`` at its edges and, for operations, the number and size of
cached RDDs after it. :func:`fold_event_log` turns the log into
per-job records; :meth:`Tracer.attach_jobs` hangs them on the spans.
"""

from __future__ import annotations

import json
import os
import re
import time
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")


def _read_stat(pid: str):
    """(ppid, own CPU ticks, reaped children's CPU ticks) or None."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            data = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    fields = data[data.rindex(")") + 2 :].split()
    return int(fields[1]), int(fields[11]) + int(fields[12]), int(fields[13]) + int(fields[14])


def _cmdline(pid: str) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def _process_table() -> dict:
    stats = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            st = _read_stat(pid)
            if st is not None:
                stats[pid] = st
    return stats


def _below(stats: dict, pid: str) -> list[str]:
    children: dict[str, list[str]] = {}
    for p, (ppid, _, _) in stats.items():
        children.setdefault(str(ppid), []).append(p)
    out, todo = [], list(children.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def descendants() -> list[str]:
    """Live processes below this one."""
    return _below(_process_table(), str(os.getpid()))


def host_cpu() -> dict:
    """Host-wide CPU seconds from ``/proc/stat``: busy, idle and stolen
    (time the hypervisor gave this machine's CPUs to someone else)."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return {
        "busy_s": (v[0] + v[1] + v[2] + v[5] + v[6]) / _TICK,
        "idle_s": (v[3] + v[4]) / _TICK,
        "steal_s": v[7] / _TICK,
    }


def process_cpu() -> dict:
    """CPU seconds of this process (the driver), the JVM it launched, and
    the Python workers under that JVM (the PySpark daemon and its forks;
    a worker that has exited is counted through the daemon that reaped
    it)."""
    root = str(os.getpid())
    stats = _process_table()
    jvm = py = 0
    for pid in _below(stats, root):
        if "java" not in _cmdline(pid).split(" ")[0]:
            continue
        jvm += stats[pid][1]
        for w in _below(stats, pid):
            py += stats[w][1] + stats[w][2]
    own = stats.get(root, (0, 0, 0))[1]
    return {"driver_s": own / _TICK, "jvm_s": jvm / _TICK, "pyworker_s": py / _TICK}


class Tracer:
    """In-memory span recorder.

    Only a traced run calls :meth:`enable`; spans then set a Spark job
    group and sample process CPU at their edges.
    """

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.sc = None
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def enable(self, spark_context) -> None:
        """Turn on job groups, CPU samples and storage counters."""
        self.sc = spark_context

    def group(self, span_id: int) -> str:
        return f"{self.run_id}/{span_id}"

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        if self.sc is not None:
            self.sc.setJobGroup(self.group(rec["id"]), name)
            rec["cpu_start"] = process_cpu()
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            rec["end"] = time.time()
            self._stack.pop()
            if self.sc is not None:
                rec["cpu_end"] = process_cpu()
                if self._stack:
                    self.sc.setJobGroup(self.group(self._stack[-1]), "")
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)

    def storage(self, rec: dict) -> None:
        """Record persisted RDDs and their cached size on ``rec``."""
        if self.sc is None:
            return
        jsc = self.sc._jsc
        infos = jsc.sc().getRDDStorageInfo()
        rec["cached_rdds"] = int(jsc.getPersistentRDDs().size())
        rec["cached_mb"] = sum(i.memSize() + i.diskSize() for i in infos) / 1e6

    def subtree(self, span_id: int) -> list[dict]:
        ids = {span_id}
        out = []
        for s in self.spans[span_id:]:
            if s["id"] in ids or s["parent"] in ids:
                ids.add(s["id"])
                out.append(s)
        return out

    def attach_jobs(self, jobs: list[dict]) -> None:
        """Hang each job on the span whose group started it, then roll
        the job totals up each span's subtree (its ``tree`` key)."""
        prefix = self.run_id + "/"
        by_span: dict[int, list[dict]] = {}
        for j in jobs:
            g = j.get("group") or ""
            if g.startswith(prefix):
                by_span.setdefault(int(g[len(prefix):]), []).append(j)
        for s in self.spans:
            s["jobs"] = [j["job"] for j in by_span.get(s["id"], [])]
        for s in self.spans:
            tree = [j for t in self.subtree(s["id"]) for j in by_span.get(t["id"], [])]
            s["tree"] = job_totals(tree)
            busy = union_length(
                [(j["start"], j["end"]) for j in tree], s["start"], s["end"]
            )
            s["tree"]["driver_only_s"] = max(0.0, (s["end"] - s["start"]) - busy)

    def write(self, path: str, stamp: dict, jobs=()) -> None:
        """One JSON line each: the stamp, every span, every job."""
        with open(path, "w") as f:
            f.write(json.dumps({"stamp": stamp}) + "\n")
            for s in self.spans:
                f.write(json.dumps(s, default=str) + "\n")
            for j in jobs:
                f.write(json.dumps(j) + "\n")


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


JOB_SUMS = (
    "stages", "tasks", "exec_run_s", "exec_cpu_s", "gc_s", "input_bytes",
    "input_records", "text_records", "output_rows", "output_bytes",
    "shuffle_bytes", "spill_bytes",
)


def job_totals(jobs: list[dict]) -> dict:
    out = {k: 0 for k in JOB_SUMS}
    out["jobs"] = len(jobs)
    out["job_s"] = 0.0
    for j in jobs:
        out["job_s"] += j["end"] - j["start"]
        for k in JOB_SUMS:
            out[k] += j[k]
    return out


_SITE = re.compile(r" at (.+?):\d+$")


def callsite_module(short: str) -> str:
    """Layer bucket of a job's Spark call site: ``operators.<module>``
    for the operator modules, the package's top-level module or
    subpackage otherwise, ``bench`` for the benchmark's own actions,
    ``spark-internal`` for jobs Spark starts from JVM code."""
    m = _SITE.search(short or "")
    if not m or not m.group(1).endswith(".py"):
        return "spark-internal"
    path = m.group(1).replace(os.sep, "/")
    if "/epl_cas_etl_2026_spark/" in path:
        rel = path.split("/epl_cas_etl_2026_spark/", 1)[1][: -len(".py")]
        head, _, rest = rel.partition("/")
        return f"operators.{rest}" if head == "operators" else head
    if "/perfbench/" in path:
        return "bench"
    return "other"


def fold_event_log(path: str) -> list[dict]:
    """Fold a Spark JSON event log into one record per job: its group,
    call site, interval (epoch seconds) and summed task metrics.

    Tasks are assigned to the first job that lists their stage; a
    stage reused by a later job is skipped there and runs no tasks.
    ``text_records`` are the input records of stages that scan text
    files (an RDD scope ``Scan text``), e.g. a sync's landing JSONL.
    """
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stage_records: dict[int, int] = {}
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                jid = e["Job ID"]
                jobs[jid] = {
                    "job": jid,
                    "group": props.get("spark.jobGroup.id"),
                    "site": props.get("callSite.short", ""),
                    "start": e["Submission Time"] / 1000.0,
                    "end": e["Submission Time"] / 1000.0,
                    **{k: 0 for k in JOB_SUMS},
                }
                for sid in e.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
            elif ev == "SparkListenerJobEnd":
                if e["Job ID"] in jobs:
                    jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
            elif ev == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                jid = stage_job.get(info["Stage ID"])
                if jid is not None and info.get("Submission Time") is not None:
                    jobs[jid]["stages"] += 1
                    if any(
                        json.loads(r.get("Scope") or "{}").get("name", "").startswith("Scan text")
                        for r in info.get("RDD Info", [])
                    ):
                        jobs[jid]["text_records"] += stage_records.get(info["Stage ID"], 0)
            elif ev == "SparkListenerTaskEnd":
                jid = stage_job.get(e["Stage ID"])
                m = e.get("Task Metrics")
                if jid is None or not m:
                    continue
                j = jobs[jid]
                j["tasks"] += 1
                j["exec_run_s"] += m.get("Executor Run Time", 0) / 1000.0
                j["exec_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                j["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                inp = m.get("Input Metrics") or {}
                j["input_bytes"] += inp.get("Bytes Read", 0)
                j["input_records"] += inp.get("Records Read", 0)
                stage_records[e["Stage ID"]] = stage_records.get(e["Stage ID"], 0) + inp.get(
                    "Records Read", 0
                )
                out = m.get("Output Metrics") or {}
                j["output_bytes"] += out.get("Bytes Written", 0)
                j["output_rows"] += out.get("Records Written", 0)
                sw = m.get("Shuffle Write Metrics") or {}
                j["shuffle_bytes"] += sw.get("Shuffle Bytes Written", 0)
                j["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
    return [jobs[k] for k in sorted(jobs)]
