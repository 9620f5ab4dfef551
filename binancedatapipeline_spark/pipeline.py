"""Pipeline orchestration: the reference's scheduled update lifecycle.

Mirrors ``CryptoDataPipeline.update_all`` ordering (symbols tables
first — kline fetches read them — then klines, then derived tables;
crypto_data_pipline_clickhouse.py:1862-1890) and
``update_market_data``'s incremental window computation
(ch:1795-1860) on top of the Warehouse + source connectors. The tiers
run in that order; the tables within one tier run concurrently, one
thread each, so their Spark jobs overlap instead of queueing behind
each other's scheduling floor.

``run_forever`` is the scheduler shell (APScheduler cron minute=58
with an immediate catch-up run when started past the minute,
scheduler_clickhouse.py:120-133; update_minute=58, config.py:8);
``notify`` is the alerting seam (≙ Telegram,
scheduler_clickhouse.py:25-64). For the long-lived streaming form use
streaming.stream_upsert with a processing-time trigger instead.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone

from pyspark import InheritableThread
from pyspark.sql import DataFrame, SparkSession

from binancedatapipeline_spark import catalog
from binancedatapipeline_spark.catalog import TableSpec
from binancedatapipeline_spark.plans.premium import WMA_WINDOW, premium_wma
from binancedatapipeline_spark.plans.validate import validate_klines
from binancedatapipeline_spark.warehouse import Warehouse

FetchFn = Callable[[SparkSession, datetime, datetime], DataFrame]
TIERS = ("dim", "fact", "derived")  # update_all's dependency order


@dataclass
class TableJob:
    spec: TableSpec
    fetch: FetchFn  # (spark, start, end) -> rows to upsert
    order_col: str | None = None  # keep-last tiebreak within a batch


def _utcnow() -> datetime:
    # tz-naive UTC, the storage convention (duckdb:1616)
    return datetime.now(timezone.utc).replace(tzinfo=None)


class Pipeline:
    def __init__(self, spark: SparkSession, warehouse_root: str,
                 notify: Callable[[str], None] | None = None):
        self.spark = spark
        self.warehouse = Warehouse(spark, warehouse_root)
        self.notify = notify or (lambda msg: None)
        self.jobs: dict[str, TableJob] = {}

    def register(self, job: TableJob) -> None:
        self.jobs[job.spec.name] = job
        self.warehouse.init_table(job.spec)

    def update_table(self, name: str, now: datetime | None = None,
                     backfill_start: datetime | None = None) -> int:
        """One incremental tick for one table: window = [watermark −
        lookback, now] (full backfill window when the table is
        empty), fetch, PK-upsert. Returns rows upserted (after the
        upsert's keep-last dedup); an empty fetch leaves the table
        untouched. The fetch is cached for the length of the call so
        the upsert's count and its write call the source once."""
        job = self.jobs[name]
        now = now or _utcnow()
        start = now
        if job.spec.needs_incremental:
            start = (self.warehouse.incremental_start(job.spec, now)
                     or backfill_start or now - timedelta(days=30))
        rows = job.fetch(self.spark, start, now).cache()
        try:
            if job.spec.needs_incremental:
                n = self.warehouse.upsert(job.spec, rows, order_col=job.order_col)
            else:
                n = rows.count()
                if n:
                    self.warehouse.overwrite(job.spec, rows)
        finally:
            rows.unpersist()
        self.notify(f"updated {name}: {n} rows")
        return n

    def update_all(self, now: datetime | None = None) -> dict[str, int]:
        """Dims first, then facts, then derived — the reference's
        dependency order (ch:1862-1890). The tables of one tier run
        concurrently, one ``InheritableThread`` each (so the caller's
        job group and scheduler pool carry over); the next tier starts
        when the whole tier is done. ``now`` is taken once for the
        tick. A table that raises reports -1 and the others still run.

        The threads share this pipeline's ``Warehouse``: each mutates
        a different table, so no writer lease is shared. Do not call
        this inside a ``Warehouse.transaction()`` — the threads would
        all join that one transaction."""
        now = now or _utcnow()
        results: dict[str, int] = {}

        def run(name: str) -> None:
            try:
                results[name] = self.update_table(name, now)
            except Exception as e:  # keep going, like the reference's per-table try
                self.notify(f"failed to update {name}: {e}")
                results[name] = -1

        tiers = [[n for n, j in self.jobs.items() if j.spec.kind == kind] for kind in TIERS]
        for names in tiers:
            threads = [InheritableThread(run, args=(name,)) for name in names]
            for t in threads:
                t.start()
            for t in threads:
                t.join()
        return {name: results[name] for names in tiers for name in names}

    # ----------------------------------------------------- scheduler

    def run_forever(
        self,
        update_minute: int = 58,
        clock: Callable[[], datetime] | None = None,
        sleep: Callable[[float], None] | None = None,
        max_ticks: int | None = None,
    ) -> int:
        """Hourly scheduler shell: run ``update_all`` at
        ``update_minute`` of every hour, and — the reference's
        catch-up rule (scheduler_clickhouse.py:123-125) — run
        IMMEDIATELY on startup when the current hour's tick is
        already past due (now.minute >= update_minute).

        ``clock``/``sleep`` are injectable for tests; ``max_ticks``
        bounds the loop (None = forever). Returns ticks executed.
        """
        import time as _time

        clock = clock or _utcnow
        sleep = sleep or _time.sleep
        ticks = 0
        now = clock()
        if now.minute >= update_minute:  # past due → catch up now
            self.update_all(now)
            ticks += 1
        while max_ticks is None or ticks < max_ticks:
            now = clock()
            nxt = now.replace(minute=update_minute, second=0, microsecond=0)
            if nxt <= now:
                nxt += timedelta(hours=1)
            sleep((nxt - now).total_seconds())
            self.update_all(clock())
            ticks += 1
        return ticks

    # ------------------------------------------------------- derived

    def refresh_premium(self, start: datetime, end: datetime) -> int:
        """Materialize bn_premium from the stored kline tables
        (§3.2) and upsert it.

        The kline reads are manifest-stat-pruned to [start − WMA
        warm-up, end]: the hourly tick's window touches a handful of
        files, not the table's history — partition pruning can't do
        this (premium_wma filters the raw timestamp, not ``ds``), and
        premium_wma's own row filter keeps the result exact."""
        warmup = start - timedelta(minutes=WMA_WINDOW)
        perp = self.warehouse.read_between(
            catalog.BN_PERP_KLINES, since=warmup, until=end
        )
        spot = self.warehouse.read_between(
            catalog.BN_SPOT_KLINES, since=warmup, until=end
        )
        prem = premium_wma(perp, spot, str(start), str(end))
        return self.warehouse.upsert(catalog.BN_PREMIUM, prem, order_col=None)

    def validate(self, table: str = "bn_spot_klines", interval_hours: int = 1) -> DataFrame:
        """The recurring gap audit (validate_data, ch:1920-1953)."""
        spec = catalog.TABLES[table]
        return validate_klines(self.warehouse.read(spec), interval_hours)
