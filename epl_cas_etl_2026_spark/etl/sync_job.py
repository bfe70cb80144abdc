"""End-to-end incremental sync job (SURVEY.md §3.2 — the reference's
``run_sync()`` entry point, etl_sync.py:341-404, rebuilt set-wise).

One call = one sync run:

  1. read the checkpoint high-water mark (T1)
  2. scan and parse the landing JSONL ONCE (S9): keep records newer
     than the watermark, compute the overall score in the row (F11)
     and pin that batch; the new watermark, the dedup and the detail
     explode all read the pin
  3. an empty batch over existing sinks loads nothing: skip to step 8
  4. dedup against the master sink on the natural key (J6/T2) — the
     sync's ONE sink anti-join
  5. resolve the branch FK via broadcast lookup (J5)
  6. recover missing locations from sibling rows (J8) when a donor
     frame is given (the security-form flow)
  7. assign the calendar period via the range join (J7/T4), then
     append master + exploded detail rows (S4/S5); no write when
     nothing is new and the sinks exist, schema-only sinks on a first
     run
  8. advance the checkpoint, write the audit row (T7); on error the
     audit records 'error' and the exception re-raises so an external
     scheduler alerts (reference etl_sync.py:397-404)

Every step is a set operation over the whole batch — where the
reference paid one Postgres round-trip per record, this pays one Spark
job per sink. At 100 TB of landed JSON, the landing read partitions by
file and everything downstream shuffles only at the dedup anti-join
and detail groupBys.
"""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from epl_cas_etl_2026_spark.etl.pipeline import (
    advance_checkpoint,
    assign_periodo,
    audit_log,
    dedup_against_sink,
    read_checkpoint,
    recover_location,
    resolve_sucursal_fk,
    surrogate_id,
)
from epl_cas_etl_2026_spark.etl.zenput import (
    calificacion_general,
    extract_detail_items,
    parse_submissions,
)

_KEY = "zenput_submission_id"


def run_incremental_sync(
    spark: SparkSession,
    landing_dir: str,
    warehouse_dir: str,
    sucursales: DataFrame,
    periodos: DataFrame,
    catalog: DataFrame,
    formulario: str = "operativas",
    donor_master: DataFrame | None = None,
) -> int:
    """Run one incremental sync; returns rows newly loaded.

    ``donor_master`` enables the J8 location-recovery pass (security
    submissions borrowing a location from same-day same-supervisor
    operative rows).
    """
    master_path = os.path.join(warehouse_dir, f"supervisiones_{formulario}")
    detail_path = os.path.join(warehouse_dir, f"detalle_{formulario}")
    ckpt_path = os.path.join(warehouse_dir, "sync_checkpoints")
    audit_path = os.path.join(warehouse_dir, "sync_log")

    inicio = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
    batch = None
    try:
        watermark = read_checkpoint(spark, ckpt_path, formulario)

        subs = parse_submissions(spark.read.text(landing_dir))
        if watermark is not None:
            subs = subs.filter(F.col("fecha_supervision") > F.lit(watermark))
        # persist() is safe for this pin: its lineage reads only the
        # landing dir, which the sync never writes (contrast `fresh`).
        # The `finally` must release it: a later sync with the same
        # watermark builds the same plan, and the cache would serve it
        # this batch, blind to files landed since.
        batch = subs.withColumn(
            "calificacion_general", calificacion_general(F.col("answers"))
        ).persist()
        n_batch, new_wm = batch.agg(
            F.count(F.lit(1)), F.max("fecha_supervision")
        ).first()

        sinks_exist = os.path.exists(master_path) and os.path.exists(detail_path)
        if n_batch == 0 and sinks_exist:
            n_new = 0
        else:
            n_new = _load(
                spark, batch, master_path, detail_path,
                sucursales, periodos, catalog, donor_master,
            )

        if new_wm is not None:
            advance_checkpoint(spark, ckpt_path, formulario, new_wm)

        fin = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
        audit_log(spark, audit_path, formulario, inicio, fin, n_new, "success")
        return n_new
    except Exception:
        fin = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
        audit_log(spark, audit_path, formulario, inicio, fin, 0, "error")
        raise
    finally:
        if batch is not None:
            batch.unpersist()


def _load(
    spark: SparkSession,
    batch: DataFrame,
    master_path: str,
    detail_path: str,
    sucursales: DataFrame,
    periodos: DataFrame,
    catalog: DataFrame,
    donor_master: DataFrame | None,
) -> int:
    """Steps 4-7: dedup ``batch`` against the master sink, resolve its
    keys and append what is new to both sinks; returns rows loaded.

    The one anti-join is the dedup: every key already in the master
    sink is gone from ``fresh``, and detail rows come only from
    ``fresh``'s ids, so neither append needs an anti-join of its own.
    Only the key column of the master sink is read, with the type
    :func:`parse_submissions` writes it in, so no footer-inference job
    runs.
    """
    existing = (
        spark.read.schema(f"{_KEY} string").parquet(master_path)
        if os.path.exists(master_path)
        else None
    )
    fresh = dedup_against_sink(batch, existing)

    if donor_master is not None:
        fresh = recover_location(fresh, donor_master)
    fresh = resolve_sucursal_fk(fresh, sucursales)
    fresh = assign_periodo(fresh, periodos)

    # Pin the batch BEFORE mutating the sink. A plain persist() is
    # NOT enough: Spark's append command refreshes the file-status
    # cache for master_path and invalidates every cached plan that
    # reads it — including `fresh`, whose dedup anti-join scans the
    # master sink. The post-append recompute would then see the
    # batch's own keys already in the sink (read-your-own-writes)
    # and silently drop every detail row. localCheckpoint truncates
    # the lineage so downstream stages reuse the materialized batch
    # regardless of sink mutations. At production scale the
    # equivalent is a staging write or Delta MERGE, which snapshots
    # the sink version instead.
    fresh = fresh.localCheckpoint(eager=True)
    n_new = fresh.count()

    master = fresh.select(
        surrogate_id(F.col(_KEY)).alias("id"),
        _KEY,
        "sucursal_id",
        "periodo_id",
        "supervisor",
        "fecha_supervision",
        "calificacion_general",
        F.col("lat_entrega"),
        F.col("lon_entrega"),
    )
    # __detail_key keeps the detail sink's schema as earlier loads
    # wrote it
    details = extract_detail_items(fresh, catalog).select(
        surrogate_id(F.col(_KEY)).alias("supervision_id"),
        "item_id",
        "porcentaje",
        F.concat_ws("|", _KEY, F.col("item_id").cast("string")).alias(
            "__detail_key"
        ),
    )
    # A zero-row first run still materializes each sink (schema-only
    # parquet), so readers see an empty table, not PATH_NOT_FOUND.
    for df, path in ((master, master_path), (details, detail_path)):
        if n_new or not os.path.exists(path):
            df.write.mode("append").parquet(path)
    return n_new
