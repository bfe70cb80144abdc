"""Self-test of the benchmark: the span recorder, the event-log fold and
the metric list in BENCHMARK.json.

Run from the repository root with either of

    python3 perfbench/test_perfbench.py
    python3 -m pytest perfbench/test_perfbench.py -o addopts="" -p no:cacheprovider

The Spark test runs a two-stage query (a shuffle map stage and its
result stage) with the event log on, folds the log and checks the job,
stage and task counts and the shuffle bytes it attributes to the span;
then a text-file scan, whose lines it must count as ``text_records``.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import spans  # noqa: E402


def test_union_length_merges_and_clips():
    assert spans.union_length([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert spans.union_length([(0, 2), (1, 3), (5, 6)], 2.5, 5.5) == 1.0
    assert spans.union_length([], 0, 1) == 0


def test_callsite_module():
    pkg = "/x/epl_cas_etl_2026_spark"
    assert spans.callsite_module(f"collect at {pkg}/operators/similarity.py:120") == "operators.similarity"
    assert spans.callsite_module(f"count at {pkg}/plans/extensions.py:9") == "plans"
    assert spans.callsite_module(f"collect at {pkg}/api.py:9") == "api"
    assert spans.callsite_module("save at /x/perfbench/run.py:181") == "bench"
    assert spans.callsite_module("$anonfun$run$1 at SQLExecution.scala:72") == "spark-internal"


def test_steady_median_keeps_the_faster_half():
    import workloads

    rec = lambda name, wall: {"name": name, "wall_s": wall}
    # the faster half, rounded up, then its median
    assert workloads.steady([rec("q", 5.0), rec("q", 2.0), rec("q", 2.2)]) == 2.1
    assert workloads.steady([rec("q", 9.0), rec("q", 3.0), rec("q", 4.0), rec("q", 2.0)]) == 2.5
    assert workloads.steady([rec("q", 3.0)]) == 3.0
    ops = [rec("a", 1.0), rec("a", 8.0), rec("b", 4.0)]
    assert abs(workloads.op_geomean(ops) - 2.0) < 1e-12


def test_benchmark_json_lists_what_run_prints():
    """The per-layer names in BENCHMARK.json are exactly the ones a
    traced run prints; the end-to-end names exactly the untraced ones."""
    import run
    import workloads

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = run.per_layer_names(workloads.Analytics.QUERIES)
    assert [m["name"] for m in spec["per_layer"]] == names
    assert [m["unit"] for m in spec["per_layer"]] == [run.per_layer_unit(n) for n in names]
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(workloads.WORKLOADS)
    assert len(names) <= 128


def test_fold_synthetic_log():
    """Two jobs: the second re-lists the first's stage (skipped there),
    so its tasks stay with the first job."""
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0], "Properties": {"spark.jobGroup.id": "r/1",
                                          "callSite.short": "collect at /p/perfbench/run.py:1"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor CPU Time": 2_000_000_000, "Executor Run Time": 2500,
            "JVM GC Time": 100, "Input Metrics": {"Bytes Read": 10, "Records Read": 2},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 7},
            "Memory Bytes Spilled": 1, "Disk Bytes Spilled": 2}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 0, "Submission Time": 1001,
            "RDD Info": [{"Name": "FileScanRDD", "Scope": '{"id":"6","name":"Scan text "}'}]}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 3000},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 3500,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "r/1"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
            "Output Metrics": {"Bytes Written": 5, "Records Written": 3}}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1, "Submission Time": 3501}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 4000},
    ]
    path = _scratch("synthetic") + "/log"
    with open(path, "w") as f:
        f.write("\n".join(json.dumps(e) for e in events) + "\n")
    jobs = spans.fold_event_log(path)
    assert [j["job"] for j in jobs] == [0, 1]
    a, b = jobs
    assert (a["stages"], a["tasks"], a["exec_cpu_s"], a["gc_s"]) == (1, 1, 2.0, 0.1)
    assert (a["input_bytes"], a["shuffle_bytes"], a["spill_bytes"]) == (10, 7, 3)
    assert (a["input_records"], a["text_records"]) == (2, 2)
    assert (b["stages"], b["tasks"], b["output_rows"], b["output_bytes"]) == (1, 1, 3, 5)
    assert b["text_records"] == 0
    assert spans.callsite_module(a["site"]) == "bench"

    t = spans.Tracer("r")
    t.spans = [
        {"id": 0, "name": "op", "parent": None, "start": 0.5, "end": 5.0},
        {"id": 1, "name": "build", "parent": 0, "start": 0.5, "end": 4.5},
    ]
    t.attach_jobs(jobs)
    assert t.spans[1]["jobs"] == [0, 1] and t.spans[0]["jobs"] == []
    tree = t.spans[0]["tree"]
    assert (tree["jobs"], tree["stages"], tree["tasks"]) == (2, 2, 2)
    # jobs busy 1.0-3.0 and 3.5-4.0 of the op's 0.5-5.0
    assert abs(tree["driver_only_s"] - 2.0) < 1e-9


def test_two_stage_query_through_spark():
    work = _scratch("spark")
    logs = os.path.join(work, "eventlog")
    os.makedirs(logs)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # no hsperfdata files in the system temp directory
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.driver.extraJavaOptions=-XX:-UsePerfData "
        f"--conf spark.eventLog.enabled=true --conf spark.eventLog.dir={logs} "
        "--conf spark.eventLog.compress=false --conf spark.eventLog.rolling.enabled=false "
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={work}/warehouse pyspark-shell"
    )
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.sql.shuffle.partitions", "3")
        .config("spark.sql.adaptive.enabled", "false")
        .getOrCreate()
    )
    t = spans.Tracer("selftest")
    t.enable(spark.sparkContext)
    try:
        with t.span("outside"):
            pass
        with t.span("two-stage", kind="query") as rec:
            rows = (
                spark.range(0, 10_000, numPartitions=4)
                .selectExpr("id % 7 AS k")
                .groupBy("k").count()
                .collect()
            )
            t.storage(rec)
        assert len(rows) == 7
        text = os.path.join(work, "lines.txt")
        with open(text, "w") as f:
            f.write("".join(f"{i}\n" for i in range(500)))
        with t.span("text-scan", kind="query"):
            assert spark.read.text(text).filter("value LIKE '1%'").count() == 111
    finally:
        import run

        run.stop(spark)
    (log,) = os.listdir(logs)
    jobs = spans.fold_event_log(os.path.join(logs, log))
    t.attach_jobs(jobs)
    tree = t.spans[1]["tree"]
    # one job: 4 map tasks writing the shuffle, 3 reduce tasks reading it
    assert (tree["jobs"], tree["stages"], tree["tasks"]) == (1, 2, 7), tree
    assert tree["shuffle_bytes"] > 0 and tree["exec_cpu_s"] > 0
    assert 0 <= tree["driver_only_s"] <= t.spans[1]["wall_s"] + 0.01
    assert t.spans[0]["tree"]["jobs"] == 0
    assert tree["text_records"] == 0
    # every line of the file is read by the text scan, not just the matches
    assert t.spans[2]["tree"]["text_records"] == 500, t.spans[2]["tree"]
    assert rec["cached_rdds"] == 0
    cpu = rec["cpu_end"]["jvm_s"] - rec["cpu_start"]["jvm_s"]
    assert cpu > 0, rec


_SCRATCH: list[str] = []


def _scratch(name: str) -> str:
    path = os.path.join(ROOT, ".perfbench", "work", f"selftest-{name}-{os.getpid()}")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    _SCRATCH.append(path)
    return path


def teardown_module(module=None):
    for path in _SCRATCH:
        shutil.rmtree(path, ignore_errors=True)


if __name__ == "__main__":
    try:
        for fn in (
            test_union_length_merges_and_clips,
            test_callsite_module,
            test_steady_median_keeps_the_faster_half,
            test_benchmark_json_lists_what_run_prints,
            test_fold_synthetic_log,
            test_two_stage_query_through_spark,
        ):
            fn()
            print(f"ok {fn.__name__}")
    finally:
        teardown_module()
