"""The workloads. Each drives the program only through its public entry
points and times those calls:

* ``etl``: ``etl.sync_job.run_incremental_sync`` — a backfill into an
  empty warehouse, a one-day incremental sync, and a re-delivery sync
  that finds nothing new;
* ``analytics``: registered queries (``plans.QUERIES[name]``), among
  them the dashboard endpoints' ``api_*`` queries, run once per batch
  through the ``noop`` sink.

A workload has ``setup`` (inputs, preload and a checked warm-up pass)
and ``measure`` (the timed, closed-loop phase: the next operation
starts when the previous one returns). Every operation goes through
:meth:`Bench.op`, which records its span and counts it as attempted.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics

import pyarrow.parquet as pq

import gen

ETL_HISTORY_DAYS = 730  # 1995-01-01 .. 1996-12-31, history before 1997


def median(xs):
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def geomean(xs):
    """Geometric mean: every operation weighs the same, whatever its
    size (the summary TPC-H's power metric uses)."""
    xs = list(xs)
    return math.exp(sum(map(math.log, xs)) / len(xs)) if xs else 0.0


def steady(recs, key: str = "wall_s") -> float:
    """Median of ``key`` over the faster half (rounded up) of ``recs``.
    On a shared host, other machines' load slows whatever runs through
    it, by up to 2x and never the other way; so do the last steps of
    warming up. Both only add time, so the faster samples are the ones
    that measure the program's own cost."""
    return median(sorted(r[key] for r in recs)[: (len(recs) + 1) // 2])


def op_geomean(ops) -> float:
    """Geometric mean over operation names of each name's steady wall
    time, so every name weighs the same however often it ran."""
    by = {}
    for r in ops:
        by.setdefault(r["name"], []).append(r)
    return geomean(steady(v) for v in by.values())


def unit_metrics(units) -> dict:
    return {"unit_s": steady(units, "ops_s"), "unit_cpu_s": steady(units, "cpu_s")}


class _Collected:
    """A collected result in the shape ``oracle_utils.compare`` reads."""

    def __init__(self, pdf):
        self.pdf = pdf

    def toPandas(self):
        return self.pdf


def _parquet_count(con, path: str) -> int:
    return con.sql(f"SELECT COUNT(*) FROM read_parquet('{path}/*.parquet')").fetchone()[0]


class Etl:
    """Backfill, a one-day sync and a re-delivery, into a fresh warehouse
    per cycle, ``MIN_CYCLES`` measured cycles a run unless the host is
    slow. The warm-up is one whole cycle on the same inputs, so every
    sync code path is compiled and warm before timing."""

    name = "etl"
    MIN_CYCLES = 2
    BACKFILL = 1000  # submissions dated before 1997-01-01
    DAILY = 60  # submissions per one-day sync

    def generate(self, b) -> None:
        dom = gen.Domain(b.seed, ETL_HISTORY_DAYS + 1)
        feed = gen.Feed(b.seed, dom)
        self.backfill = feed.slice(0, ETL_HISTORY_DAYS, self.BACKFILL / ETL_HISTORY_DAYS)
        self.daily = feed.slice(ETL_HISTORY_DAYS, 1, self.DAILY)
        self.dims_dir = os.path.join(b.work, "dims")
        dom.write(self.dims_dir)

    def setup(self, b) -> None:
        b.setup_part("generate", lambda: self.generate(b), repeat=3)
        # the dimensions come from files, as the program reads a
        # warehouse's dimension tables
        self.dims = tuple(
            b.spark.read.parquet(os.path.join(self.dims_dir, f"{n}.parquet"))
            for n in ("sucursales", "periodos_cas", "catalogo_areas")
        )
        b.setup_part("warmup", lambda: self.cycle(b, "warm"))
        b.inputs.update({
            "landing_files": 3,
            "landing_records": len(self.backfill[0]) + 2 * len(self.daily[0]),
            "backfill_records": len(self.backfill[0]),
        })

    def cycle(self, b, tag: str) -> float:
        """One cycle in a fresh landing directory and warehouse; returns
        the summed sync time. Each sync's loaded-row count is checked,
        then the warehouse totals and the checkpoint. Landing files sit
        directly in the landing directory: ``spark.read.text`` does not
        recurse."""
        from epl_cas_etl_2026_spark.etl.sync_job import run_incremental_sync

        root = os.path.join(b.work, f"etl-{tag}")
        shutil.rmtree(root, ignore_errors=True)
        landing, wh = os.path.join(root, "landing"), os.path.join(root, "wh")
        os.makedirs(landing)
        landed = size = 0
        recs = []

        def sync(kind, fname, lines, expected):
            nonlocal landed, size
            size += gen.write_lines(os.path.join(landing, fname), lines)
            landed += len(lines)
            rec, n = b.op(
                "sync", kind,
                lambda: run_incremental_sync(b.spark, landing, wh, *self.dims),
                landing_records=landed,
            )
            rec["loaded"] = n  # rows newly loaded, as the sync reports it
            b.verdict(rec, n == expected, f"loaded {n}, expected {expected}")
            recs.append(rec)

        backfill, daily = self.backfill, self.daily
        sync("backfill", "backfill.jsonl", backfill[0], backfill[1]["master"])
        sync("daily", "day_0001.jsonl", daily[0], daily[1]["master"])
        sync("noop", "redelivery.jsonl", daily[0], 0)
        b.inputs["landing_mb"] = size / 1e6

        batches = (backfill, daily)
        want_master = sum(x[1]["master"] for x in batches)
        want_detail = sum(x[1]["detail"] for x in batches)
        newest = max(x[1]["newest"] for x in batches)
        con = b.duck()
        try:
            got_master = _parquet_count(con, f"{wh}/supervisiones_operativas")
            got_detail = _parquet_count(con, f"{wh}/detalle_operativas")
            ckpt = con.sql(
                "SELECT strftime(MAX(ultima_fecha), '%Y-%m-%d %H:%M:%S') "
                f"FROM read_parquet('{wh}/sync_checkpoints/*.parquet')"
            ).fetchone()[0]
        except Exception as e:  # e.g. a failed backfill left no warehouse
            b.verdict(recs[-1], False, f"warehouse unreadable: {type(e).__name__}: {e}")
            return sum(r["wall_s"] for r in recs)
        b.verdict(
            recs[-1],
            (got_master, got_detail, ckpt) == (want_master, want_detail, newest),
            f"warehouse master={got_master}/{want_master} "
            f"detail={got_detail}/{want_detail} checkpoint={ckpt}/{newest}",
        )
        b.inputs["warehouse_rows"] = got_master + got_detail
        return sum(r["wall_s"] for r in recs)

    def measure(self, b, seconds: float) -> dict:
        units = b.measure_units(lambda i: self.cycle(b, f"c{i}"), seconds, self.MIN_CYCLES)
        self.units = len(units)
        ops = b.measured_ops()
        by = lambda k: [r for r in ops if r["name"] == k]
        return {
            "op_geomean_s": op_geomean(ops),
            **unit_metrics(units),
            "sync_backfill_s": steady(by("backfill")),
            "sync_daily_s": steady(by("daily")),
            "sync_noop_s": steady(by("noop")),
        }


class Analytics:
    """Registered queries through the ``noop`` sink, the set run once
    per batch, ``MIN_BATCHES`` measured batches a run unless the host is
    slow. The warm-up runs the set once, collected and compared with each
    query's DuckDB oracle, then ``WARM_BATCHES`` more times."""

    name = "analytics"
    SF = 0.01
    MIN_BATCHES = 3
    WARM_BATCHES = 2
    QUERIES = (
        "api_heatmap_wide",
        "embedding_lsh_estimate_error",
        "api_kpis_card",
        "docs_exact_substring_dedup",
    )

    def inputs(self, b) -> None:
        """The repository's test data at sf0.01 (the same for every
        seed), checked against its recorded checksums."""
        self.dir = gen.TABLES_DIR
        self.sizes = gen.check_tables(self.dir)

    def setup(self, b) -> None:
        b.setup_part("inputs", lambda: self.inputs(b), repeat=3)
        from epl_cas_etl_2026_spark.plans import ORACLES, QUERIES

        self.fns, self.oracles = QUERIES, ORACLES
        b.inputs.update({
            "sf": self.SF,
            "tables_mb": sum(self.sizes.values()) / 1e6,
            "table_rows": {
                t: pq.ParquetFile(os.path.join(self.dir, f"{t}.parquet")).metadata.num_rows
                for t in gen.TABLES
            },
        })
        b.setup_part("warmup", lambda: self.warmup(b))
        # the batches keep getting faster for a few more runs, while the
        # JIT compiler still works (a batch's process CPU fell from about
        # 20 to 12 s over the first four); those runs are set-up too
        b.setup_part("warm_batches", lambda: [self.batch(b) for _ in range(self.WARM_BATCHES)])

    def warmup(self, b) -> None:
        con = b.duck()
        for t in gen.TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.dir}/{t}.parquet')"
            )
        for q in self.QUERIES:
            fn = self.fns[q]
            rec, out = b.op("query", q, lambda: b.build_exec(lambda: fn(b.spark, self.dir), collect=True))
            if out is None:
                b.verdict(rec, False, "query failed")
                continue
            ok, msg = b.compare(_Collected(out), con, self.oracles[q])
            b.verdict(rec, ok, f"{q}: {msg}")

    def batch(self, b) -> float:
        wall = 0.0
        for q in self.QUERIES:
            fn = self.fns[q]
            rec, done = b.op("query", q, lambda: b.build_exec(lambda: fn(b.spark, self.dir), collect=False))
            b.verdict(rec, done is not None, "query failed")
            wall += rec["wall_s"]
        return wall

    def measure(self, b, seconds: float) -> dict:
        units = b.measure_units(lambda i: self.batch(b), seconds, self.MIN_BATCHES)
        self.units = len(units)
        e2e = {"op_geomean_s": op_geomean(b.measured_ops()), **unit_metrics(units)}
        e2e["analytics_batch_s"] = e2e["unit_s"]
        return e2e


WORKLOADS = {w.name: w for w in (Etl, Analytics)}
