"""The workloads. Each is a closed loop: one client in one process
issues its next operation only when the previous one has finished.

A workload sets up its inputs (`setup`, timed and repeated for
`setup_s`), runs untimed warm-up operations that also produce the
outputs to check (`warm`), then runs timed operations (`op`) until the
run's time is spent, and checks what the program produced (`check`).
`op` returns the operation's step times and the moment its output
reached the user. Failed checks are recorded in `failures`; every
check counts once in `attempted`.
"""

from __future__ import annotations

import os
import random
import shutil
import sys
import time
from datetime import timedelta

import duckdb
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod
from binancedatapipeline_spark import catalog
from binancedatapipeline_spark.pipeline import Pipeline
from binancedatapipeline_spark.plans import premium
from binancedatapipeline_spark.streaming import jobs as streaming_jobs
from binancedatapipeline_spark.warehouse import Warehouse
from perfbench import data, market
from perfbench.trace import Attribution, dir_bytes


class Workload:
    name = ""
    setup_repeats = 3
    # per-layer metric -> the end-to-end metric it is predicted to move here
    predicts: dict[str, str] = {}
    # which rounds of a traced run's cycle are traced
    trace_pattern: tuple[bool, ...] = (False, True, True, False)

    def __init__(self, spark, work: str, seed: int, tracer, cpus: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.tracer, self.cpus = tracer, cpus
        self.attempted = 0
        self.failures: list[str] = []
        self.next_op = 0

    def expect(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failures.append(what)

    def run_op(self):
        """The next operation; an exception counts as a failure."""
        i = self.next_op
        self.next_op += 1
        self.tracer.run = i
        try:
            return self.op(i)
        except Exception as e:  # noqa: BLE001 - every failure is counted
            self.expect(False, f"op {i}: {type(e).__name__}: {str(e)[:300]}")
            return None

    def round_ops(self) -> int:
        return 1

    def ops_left(self) -> float:
        return float("inf")

    def warm(self) -> None:
        pass

    def check(self) -> None:
        pass

    def trace_on(self, tr) -> None:
        """Wrap the package's entry points for one traced round."""

    def trace_off(self) -> None:
        """Called after a traced round, once the wrappers are undone."""


class MarketTick(Workload):
    """Backfill, then hourly ticks on a simulated clock: update_all,
    premium/WMA-120 for the new hour, one alert micro-batch, gap audit.

    The tick's premium step does not call `Pipeline.refresh_premium`,
    so this workload does not measure it. `refresh_premium` warms the
    WMA up over `WMA_WINDOW` minutes before its start; on hourly bars a
    one-hour window then has too few bars, `wma120_premium` is NULL and
    the detector never fires. The tick instead reads the 119 earlier
    bars itself (`Warehouse.read_between`) and runs `plans.premium_wma`
    on them, so its premium step reads ~120 hours where
    `refresh_premium` reads ~2. The backfill does call
    `refresh_premium`, over the whole history, where the warm-up
    does not matter.

    There is no warm-up tick: the backfill has run every fetch and
    upsert path, and a run times (or traces) the first tick after it.
    """

    name = "market_tick"
    setup_repeats = 1  # a backfill takes ~40 s on 4 cores
    # one tick takes ~20 s on 4 cores, so a traced run traces one tick
    trace_pattern = (True,)
    predicts = {
        "sources.fetch_s": "op_p50_s", "sources.rows": "op_p50_s",
        "warehouse.upsert_s": "result_p50_s", "warehouse.upsert_calls": "op_p50_s",
        "warehouse.overwrite_s": "op_p50_s", "warehouse.read_between_s": "result_p50_s",
        "warehouse.incremental_start_s": "op_p50_s",
        "warehouse.latest_timestamp_s": "result_p50_s",
        "warehouse.bytes_written": "op_p50_s", "warehouse.bytes_per_row": "op_p50_s",
        "warehouse.files_live": "setup_s",
        "pipeline.update_all_s": "op_p50_s", "plans.premium_s": "op_p50_s",
        "plans.validate_s": "op_p50_s", "plans.extreme_s": "result_p50_s",
        "streaming.batch_s": "result_p50_s", "streaming.alerts_sent": "result_p50_s",
        "spark.jobs": "op_p50_s", "spark.stages": "op_p50_s", "spark.tasks": "op_p50_s",
        "spark.sched_s": "op_p50_s",
    }

    def setup(self, k: int) -> None:
        plan = market.MarketPlan.from_seed(self.seed)
        root = os.path.join(self.work, f"market{k}")
        pipe = Pipeline(self.spark, os.path.join(root, "wh"), notify=lambda msg: None)
        for job in market.table_jobs(plan, parallelism=self.cpus):
            pipe.register(job)
        for spec in (catalog.BN_PREMIUM, catalog.BN_EXTREME_ALERTS):
            pipe.warehouse.init_table(spec)
        now = plan.tick_now(-1)
        for name in sorted(pipe.jobs, key=lambda n: pipe.jobs[n].spec.kind != "dim"):
            pipe.update_table(name, now=now, backfill_start=plan.backfill_start)
        pipe.refresh_premium(plan.backfill_start, now)
        if k == 0:
            self.plan, self.pipe, self.root = plan, pipe, root
            self.alerts: list[tuple[float, str]] = []
            self.ticks: dict[int, dict] = {}
            self.bytes_written = 0
        else:
            shutil.rmtree(root)

    def ops_left(self) -> float:
        return market.MAX_TICKS - self.next_op

    def notify(self, msg: str) -> None:
        self.alerts.append((time.perf_counter(), msg))

    def op(self, j: int) -> dict:
        if j >= market.MAX_TICKS:
            raise RuntimeError("tick schedule exhausted")
        plan, wh, tr = self.plan, self.pipe.warehouse, self.tracer
        hour, now = plan.tick_hour(j), plan.tick_now(j)
        sent_before = len(self.alerts)
        t0 = time.perf_counter()
        steps = {}
        with tr.span("op"):
            with tr.span("tick.update_all") as sp:
                counts = self.pipe.update_all(now)
            steps["update_all"] = sp.duration
            with tr.span("tick.premium") as sp:
                # WMA-120 over hourly bars needs 119 earlier bars: read
                # and join them, keep only the new hour's rows
                since = hour - timedelta(hours=premium.WMA_WINDOW - 1)
                perp = wh.read_between(catalog.BN_PERP_KLINES, since=since, until=now)
                spot = wh.read_between(catalog.BN_SPOT_KLINES, since=since, until=now)
                rows = premium.premium_wma(
                    perp, spot, str(since + timedelta(minutes=premium.WMA_WINDOW)), str(now)
                ).filter(F.col("timestamp") >= F.lit(hour))
                with tr.span("sink.write"):
                    rows.write.mode("append").parquet(os.path.join(self.root, "premium_in"))
            steps["premium"] = sp.duration
            with tr.span("tick.stream") as sp:
                stream = self.spark.readStream.schema(catalog.BN_PREMIUM.schema).parquet(
                    os.path.join(self.root, "premium_in")
                )
                q = streaming_jobs.stream_extreme_alerts(
                    stream, wh.read(catalog.BN_PERP_SYMBOLS), wh,
                    catalog.BN_PREMIUM, catalog.BN_EXTREME_ALERTS,
                    os.path.join(self.root, "ckpt"), notify=self.notify, available_now=True,
                )
                q.awaitTermination()
            steps["stream"] = sp.duration
            with tr.span("tick.validate") as sp:
                gaps = self.pipe.validate().collect()
            steps["validate"] = sp.duration
        end = time.perf_counter()
        sent = self.alerts[sent_before:]
        self.ticks[j] = {
            "counts": counts, "gaps": gaps, "sent": [m for _, m in sent],
            "progress": q.recentProgress,
        }
        # a tick whose alert never came is a failed check; its output
        # time is then the tick's end
        result = (sent[0][0] if sent else end) - t0
        return {"latency": end - t0, "steps": steps, "result": result}

    def check(self) -> None:
        plan, wh = self.plan, self.pipe.warehouse
        for j, tick in self.ticks.items():
            want = plan.expected_tick(j)
            for table, n in tick["counts"].items():
                # update_all reports a table that raised as -1
                self.expect(n == want[table], f"tick {j} {table}: {n} rows, expected {want[table]}")
            got = {(r.symbol, r.gap_start, r.gap_end) for r in tick["gaps"]}
            self.expect(got == plan.expected_gaps(j), f"tick {j} gap audit: {sorted(got)}")
            sym = plan.squeeze_symbol(j)
            self.expect(len(tick["sent"]) == 1 and sym in tick["sent"][0],
                        f"tick {j}: {len(tick['sent'])} alerts, expected one for {sym}")
        for spec in (catalog.BN_SPOT_KLINES, catalog.BN_PERP_KLINES, catalog.BN_FUNDING_RATES,
                     catalog.BN_PREMIUM, catalog.BN_EXTREME_ALERTS):
            dups = wh.read(spec).groupBy(*spec.primary_keys).count().filter("count > 1").count()
            self.expect(dups == 0, f"{spec.name}: {dups} duplicate primary keys")
        ledger = wh.read(catalog.BN_EXTREME_ALERTS).collect()
        got = {(r.symbol, r.fundingTime) for r in ledger}
        self.expect(got == plan.expected_alerts(self.ticks)
                    and all(r.notified for r in ledger),
                    f"alert ledger holds {len(got)} rows, expected {len(self.ticks)}")

    def trace_on(self, tr) -> None:
        from binancedatapipeline_spark.plans import extreme

        self.bytes_before = dir_bytes(os.path.join(self.root, "wh"))
        for attr in ("update_all", "update_table", "validate"):
            tr.wrap(Pipeline, attr, f"pipeline.{attr}")
        for attr in ("upsert", "overwrite", "read_between", "incremental_start",
                     "latest_timestamp"):
            tr.wrap(Warehouse, attr, f"warehouse.{attr}")
        tr.wrap(premium, "premium_wma", "plans.premium_wma")
        tr.wrap(extreme, "extreme_cases", "plans.extreme_cases")
        tr.wrap(streaming_jobs, "stream_extreme_alerts", "streaming.stream_extreme_alerts")

    def trace_off(self) -> None:
        self.bytes_written += dir_bytes(os.path.join(self.root, "wh")) - self.bytes_before

    def layers(self, a: Attribution, runs: list[int]) -> dict[str, float]:
        n = a.n_ops()
        ticks = [self.ticks[r] for r in runs]
        rows = sum(v for t in ticks for v in t["counts"].values() if v > 0)
        written = self.bytes_written
        batches = [p for t in ticks for p in t["progress"]]
        batch_s = sum(p.durationMs.get("triggerExecution", 0) for p in batches) / 1000.0
        add_batch = sum(p.durationMs.get("addBatch", 0) for p in batches) / 1000.0
        stream_wh = sum(
            s.duration for s in a.spans if not s.main and s.name.startswith("warehouse.")
            and not a.is_within(a.by_id.get(s.parent), s.name)
        )
        files = sum(
            c for spec in catalog.TABLES.values() if self.pipe.warehouse.exists(spec.name)
            for c, _ in self.pipe.warehouse.partition_files(spec.name).values()
        )
        return {
            "sources.fetch_s": a.self_time("pipeline.update_table") / n,
            "sources.rows": rows / n,
            "warehouse.upsert_s": a.total("warehouse.upsert") / n,
            "warehouse.upsert_calls": a.count("warehouse.upsert") / n,
            "warehouse.overwrite_s": a.total("warehouse.overwrite") / n,
            "warehouse.read_between_s": a.total("warehouse.read_between") / n,
            "warehouse.incremental_start_s": a.total("warehouse.incremental_start") / n,
            "warehouse.latest_timestamp_s": a.total("warehouse.latest_timestamp") / n,
            "warehouse.bytes_written": written / n,
            "warehouse.bytes_per_row": written / max(rows, 1),
            "warehouse.files_live": files,
            "pipeline.update_all_s": a.total("pipeline.update_all") / n,
            "plans.premium_s": a.total("tick.premium") / n,
            "plans.validate_s": a.total("tick.validate") / n,
            "plans.extreme_s": max(add_batch - stream_wh, 0.0) / n,
            "streaming.batch_s": batch_s / n,
            "streaming.alerts_sent": sum(len(t["sent"]) for t in ticks) / n,
        }


# The registry rows timed by query_suite: the three named perf
# candidates (pagerank's eager driver loop, tf-idf's job count, the
# decontamination scan), the quantized vector top-k, LSH near-duplicate
# pairs, and the as-of join.
QUERY_ROWS = (
    "host_pagerank", "tfidf_top_terms", "doc_decontaminate", "sq8_topk",
    "doc_lsh_pairs", "asof_join",
)
QUERY_SF = 0.01


class QuerySuite(Workload):
    """Round-robin passes over registry rows, each through the noop sink."""

    name = "query_suite"
    predicts = {
        "query.build_s": "op_p50_s", "query.run_s": "op_p50_s",
        "query.host_pagerank.build_s": "pass_s", "query.host_pagerank.jobs": "pass_s",
        "query.tfidf_top_terms.jobs": "pass_s", "query.doc_decontaminate.task_s": "pass_s",
        "driver.self_s": "pass_s", "catalyst.plan_s": "op_p50_s",
        "spark.jobs": "pass_s", "spark.sched_s": "pass_s", "sink.write_s": "op_p50_s",
    }

    def setup(self, k: int) -> None:
        out = os.path.join(self.work, f"tables{k}")
        data.write_tables(out, QUERY_SF)
        if k == 0:
            self.dir = out
            self.rows = dict(entry_mod.queries())
            order = list(QUERY_ROWS)
            random.Random(self.seed).shuffle(order)
            self.order = order
            self.labels: list[str] = []

    def warm(self) -> None:
        """One pass that collects every row and diffs it against the
        DuckDB oracle by the rule of tools/compare_entry.py."""
        saved = list(sys.path)
        from tools import compare_entry

        sys.path[:] = saved  # the tool adds its own checkout path on import
        con = duckdb.connect()
        for t in compare_entry.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.dir}/{t}.parquet'")
        sql = entry_mod.oracle_sql()
        for name in self.order:
            try:
                got = self.rows[name](self.spark, self.dir).toPandas()
                problems = compare_entry.compare(name, got, con.execute(sql[name]).df())
            except Exception as e:  # noqa: BLE001
                problems = [f"{type(e).__name__}: {str(e)[:300]}"]
            self.expect(not problems, f"{name}: {'; '.join(problems[:3])}")
        con.close()

    def op(self, i: int) -> dict:
        name = self.order[i % len(self.order)]
        tr = self.tracer
        self.labels.append(name)
        self.spark.catalog.clearCache()
        t0 = time.perf_counter()
        with tr.span("op"):
            with tr.span("query.build"):
                df = self.rows[name](self.spark, self.dir)
            with tr.span("sink.write"):
                df.write.format("noop").mode("overwrite").save()
        took = time.perf_counter() - t0
        return {"latency": took, "steps": {name: took}, "result": took}

    def round_ops(self) -> int:
        return len(self.order)

    def layers(self, a: Attribution, runs: list[int]) -> dict[str, float]:
        n = a.n_ops()

        def per(label: str, what) -> float:
            mine = [r for r in runs if self.labels[r] == label]
            return what(mine) / max(len(mine), 1)

        def build(rs):
            return sum(s.duration for s in a.spans if s.name == "query.build" and s.run in rs)

        return {
            "query.build_s": a.total("query.build") / n,
            "query.run_s": a.total("sink.write") / n,
            "query.host_pagerank.build_s": per("host_pagerank", build),
            "query.host_pagerank.jobs": per("host_pagerank", lambda rs: len(a.jobs_of(rs))),
            "query.tfidf_top_terms.jobs": per("tfidf_top_terms", lambda rs: len(a.jobs_of(rs))),
            "query.doc_decontaminate.task_s": per(
                "doc_decontaminate",
                lambda rs: sum(
                    t["Task Metrics"].get("Executor Run Time", 0) / 1000.0
                    for j in a.jobs_of(rs) for t in j.tasks if t.get("Task Metrics")
                ),
            ),
        }


WORKLOADS = {w.name: w for w in (MarketTick, QuerySuite)}
