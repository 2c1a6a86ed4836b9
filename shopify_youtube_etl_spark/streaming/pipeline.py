"""Incremental micro-batch ETL pipeline (SURVEY §3.1 lifecycle).

Composes the engine's operators into the reference's 7-step run
(shopify-etl/shopify_etl.py:620-707):

1. ensure control + final tables                (:628-629)
2. resolve watermark (force_full_load override) (:632-635)
3. ingest raw orders ≥ watermark                 (:647 → :271-461)
4. normalize → 6 key-deduped DataFrames          (:350-426, 483-556)
5. MERGE each DataFrame straight into its final  (:558-590)
6. append success row to sync_control            (:684 → :207-235)
7. verify uniqueness + FK integrity              (:690-691 → :709-744)

with per-stage timing (:639-681) and error-status rows on failure
(:693-707).

Documented deviation: the reference stamps the new watermark with
``datetime.now()`` (:209) because it fetches from a LIVE API whose
``updated_at_min`` compares against server time.  A file-drop source
must use DATA time — we stamp ``max(updated_at)`` of the processed
batch, otherwise the next run's watermark would skip data landed late.
An EMPTY batch re-records the previous watermark (never ``now()`` —
that would advance the watermark past data time and silently skip
files landed late after an empty run; ADVICE round 1).  Re-recording
an older value is safe because the watermark read is ORDER BY
last_sync_timestamp DESC LIMIT 1 — monotonic by construction.  The
1-hour overlap rewind (:191-198 intended semantics) still applies on
read.

Documented deviation: the reference lands each batch in ``*_staging``
tables because BigQuery MERGEs only from a loaded table (:558-590).
``upsert_matching`` merges from a DataFrame, so each normalized table
goes straight into its final.  With no second landing copy, a failed
run leaves no rows behind for the next run to merge beside newer
versions of the same keys; the retry re-reads the source from the
unadvanced watermark.

Scale: one cached raw DF fans out to six write branches (vs the
reference's six driver-memory row lists); every stage is a DataFrame
plan — nothing driver-side except the tiny control-table read.
"""

from __future__ import annotations

import datetime as dt
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from shopify_youtube_etl_spark.normalize import normalize_orders, read_raw_orders
from shopify_youtube_etl_spark.operators.upsert import ParquetTable, upsert
from shopify_youtube_etl_spark.operators.verify import fk_report, uniqueness_report
from shopify_youtube_etl_spark.operators.watermark import FALLBACK_START, OVERLAP, SyncControl
from shopify_youtube_etl_spark.schemas import (
    FINAL_TABLE_SCHEMAS,
    UNIQUE_KEYS,
    YOUTUBE_ANALYTICS_RAW,
)


class IncrementalPipeline:
    """Parquet-backed equivalent of ShopifyETLPipeline (:269, :620)."""

    def __init__(self, spark: SparkSession, base_path: str):
        self.spark = spark
        self.base_path = base_path
        self.control = SyncControl(spark, os.path.join(base_path, "sync_control"))
        self.finals = {
            name: ParquetTable(spark, os.path.join(base_path, "final", name))
            for name in FINAL_TABLE_SCHEMAS
        }
        # ensure_tables_exist (:152-169, :237-267): idempotent empty init.
        for name, schema in FINAL_TABLE_SCHEMAS.items():
            if not self.finals[name].exists():
                self.finals[name].overwrite(spark.createDataFrame([], schema))

    def _merge_batch(self, raw: DataFrame) -> None:
        """Normalize ``raw`` and MERGE each table into its final
        (J3): one segment-pruned keyed upsert per table, then release
        the cached raw frame."""
        for name, df in normalize_orders(raw).items():
            self.finals[name].upsert_matching(df, UNIQUE_KEYS[name])
        raw.unpersist()

    def execute(
        self,
        source_path: str,
        force_full_load: bool = False,
        test_mode: bool = False,
    ) -> dict:
        timings: dict[str, float] = {}
        try:
            # 2. watermark resolution (:632-635).
            start_date = self.control.start_date("orders", force_full_load=force_full_load)

            # 3. ingest + incremental predicate (S2): the filter is on the
            # scan column so Catalyst pushes it into the source read.
            t0 = time.perf_counter()
            raw = read_raw_orders(self.spark, source_path).where(
                F.col("updated_at").cast("timestamp") >= F.lit(start_date.replace(tzinfo=None))
            )
            if test_mode:
                raw = raw.limit(500)  # test-mode cap (:431-433)
            raw = raw.persist()
            n_orders = raw.count()
            max_upd_row = raw.agg(F.max(F.col("updated_at").cast("timestamp"))).first()[0]
            timings["fetch_sec"] = round(time.perf_counter() - t0, 3)

            # 4-5. normalize + MERGE into the finals.
            t0 = time.perf_counter()
            self._merge_batch(raw)
            timings["merge_sec"] = round(time.perf_counter() - t0, 3)

            # 6. success ledger row (:684).  Empty batch → re-record the
            # prior watermark (data-time stamping; see module doc).
            if max_upd_row is not None:
                new_wm = max_upd_row
            else:
                # Symmetric fallback (ADVICE r2): +OVERLAP in BOTH empty-batch
                # cases, so the next read's −OVERLAP rewind lands exactly on
                # the prior watermark (or the documented FALLBACK_START
                # floor) — never an hour before it.
                prev = self.control.last_sync_timestamp("orders")
                new_wm = (prev if prev is not None else FALLBACK_START) + OVERLAP
            if new_wm.tzinfo is None:
                new_wm = new_wm.replace(tzinfo=dt.timezone.utc)
            run_id = self.control.record_run(
                "orders", new_wm, n_orders, "success", notes=str(timings)
            )

            # 7. verification unless test_mode (:690-691).
            verification = None
            if not test_mode:
                verification = self.verify_table_data()
            return {
                "status": "success",
                "records_processed": n_orders,
                "run_id": run_id,
                "timings": timings,
                "verification": verification,
            }
        except Exception as exc:  # :693-707
            self.control.record_error("orders", notes=str(exc)[:500])
            raise

    def reprocess(self, source_path: str, order_ids: list) -> dict:
        """Targeted reload — the monitoring-guide.md:89-101 recovery
        runbook ('create a temp table with problematic IDs … trigger a
        targeted reload') as an engine method: re-ingest ONLY the
        listed order_ids through the SAME normalize→merge path a
        normal run uses.  The id list becomes a broadcast left-semi
        join against the raw source (no watermark filter — the broken
        rows may predate it), so the fix costs one pruned scan plus
        key-sized merges, never a force_full_load.

        The watermark is NOT advanced: a reprocess of old rows must
        not make the next incremental run skip newer data, so the
        ledger row re-records the prior watermark (same +OVERLAP
        symmetry as the empty-batch path) with status 'reprocess' —
        the run is auditable in sync_control without perturbing
        incremental progress."""
        ids_df = self.spark.createDataFrame(
            [(str(i),) for i in order_ids], "order_id string"
        )
        raw = (
            read_raw_orders(self.spark, source_path)
            .join(
                F.broadcast(ids_df),
                F.col("id").cast("string") == F.col("order_id"),
                "left_semi",
            )
            .persist()
        )
        n = raw.count()
        self._merge_batch(raw)
        prev = self.control.last_sync_timestamp("orders")
        wm = (prev if prev is not None else FALLBACK_START) + OVERLAP
        if wm.tzinfo is None:
            wm = wm.replace(tzinfo=dt.timezone.utc)
        run_id = self.control.record_run(
            "orders",
            wm,
            n,
            "reprocess",
            notes=f"targeted reload of {len(order_ids)} order_ids",
        )
        return {"status": "reprocess", "records_processed": n, "run_id": run_id}

    def verify_table_data(self) -> dict:
        """verify_table_data (:709-744): uniqueness per table + FK
        anti-join orphan counts; returns the reports as plain dicts."""
        uniq = uniqueness_report(
            {
                name: (self.finals[name].read(), UNIQUE_KEYS[name])
                for name in FINAL_TABLE_SCHEMAS
            }
        ).collect()
        fks = fk_report(
            {
                "line_items->orders": (
                    self.finals["line_items"].read(),
                    self.finals["orders"].read(),
                    "order_id",
                    "order_id",
                ),
                "shipping_addresses->orders": (
                    self.finals["shipping_addresses"].read(),
                    self.finals["orders"].read(),
                    "order_id",
                    "order_id",
                ),
            }
        ).collect()
        return {
            "uniqueness": {r["table_name"]: r.asDict() for r in uniq},
            "foreign_keys": {r["check_name"]: r["orphan_count"] for r in fks},
        }


def upsert_youtube_metrics(table: ParquetTable, new_rows: DataFrame) -> None:
    """Idempotent day-keyed append for the YouTube metrics feed.

    The reference's ``insert_rows_json`` plain-append duplicates rows on
    re-run (fetch_youtube_data.py:48-55; SURVEY §3.3 notes the fix):
    here re-runs upsert on the ``date`` day key instead."""
    if table.exists():
        merged = upsert(table.read(), new_rows, keys=["date"])
    else:
        merged = upsert(
            new_rows.sparkSession.createDataFrame([], YOUTUBE_ANALYTICS_RAW), new_rows, keys=["date"]
        )
    table.overwrite(merged)
