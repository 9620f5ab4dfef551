"""The hourly tick's action budget: tier-concurrent ``update_all``,
one-aggregate ``upsert``, the shuffle-free symbol fan-out, the one-select
``align`` and the released fetch cache."""

from __future__ import annotations

import threading
import time
from datetime import datetime, timedelta

import pytest
from pyspark.sql import types as T

from binancedatapipeline_spark import catalog
from binancedatapipeline_spark.cli import standard_jobs
from binancedatapipeline_spark.pipeline import Pipeline, TableJob
from binancedatapipeline_spark.sources.binance import _symbol_fanout
from binancedatapipeline_spark.warehouse import Warehouse

SYMBOLS = [f"S{i:02d}USDT" for i in range(20)]
T0 = datetime(2024, 3, 1)
# Spark jobs one incremental hourly update_table of a 20-symbol kline
# table runs, measured: 4 for the upsert's groupBy(ds).count() collect
# (it also fills the fetch cache) and 4 for the partition rewrite (AQE
# runs each shuffle and broadcast stage as its own job). A separate
# fetch count and a touched-partition collect made it 13.
UPDATE_TABLE_JOB_BUDGET = 8


def _pipeline(spark, root, jobs) -> Pipeline:
    pipe = Pipeline(spark, str(root))
    for job in jobs:
        pipe.register(job)
    return pipe


def _jobs_in_group(spark, group: str, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_incremental_update_table_job_budget(spark, tmp_path):
    job = next(j for j in standard_jobs(SYMBOLS, parallelism=4)
               if j.spec is catalog.BN_SPOT_KLINES)
    pipe = _pipeline(spark, tmp_path / "wh", [job])
    name = catalog.BN_SPOT_KLINES.name
    n0 = pipe.update_table(name, now=T0 + timedelta(hours=24), backfill_start=T0)
    assert n0 == 25 * len(SYMBOLS)
    n, jobs = _jobs_in_group(
        spark, "tick_budget", lambda: pipe.update_table(name, now=T0 + timedelta(hours=25))
    )
    # window = watermark (hour 24) − 2 h lookback .. hour 25
    assert n == 4 * len(SYMBOLS)
    assert 0 < jobs <= UPDATE_TABLE_JOB_BUDGET, jobs


def test_update_table_releases_fetch_cache(spark, tmp_path):
    spark.catalog.clearCache()
    jobs = [j for j in standard_jobs(SYMBOLS[:3], parallelism=2)
            if j.spec in (catalog.BN_SPOT_SYMBOLS, catalog.BN_SPOT_KLINES)]
    pipe = _pipeline(spark, tmp_path / "wh", jobs)
    for hours in (5, 6):
        for job in jobs:
            pipe.update_table(job.spec.name, now=T0 + timedelta(hours=hours), backfill_start=T0)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_empty_fetch_leaves_table_untouched(spark, tmp_path):
    spec = catalog.BN_SPOT_KLINES
    pipe = _pipeline(spark, tmp_path / "wh", [TableJob(spec, lambda s, a, b: spec.empty(s))])
    before = pipe.warehouse._load_manifest(spec.name)
    assert pipe.update_table(spec.name, now=T0) == 0
    assert pipe.warehouse._load_manifest(spec.name) == before


def test_update_all_runs_dims_before_facts_and_each_tier_concurrently(spark, tmp_path):
    times: dict[str, tuple[float, float]] = {}

    def timed(job: TableJob) -> TableJob:
        def fetch(s, start, end):
            t = time.monotonic()
            time.sleep(0.5)
            df = job.fetch(s, start, end)
            times[job.spec.name] = (t, time.monotonic())
            return df

        return TableJob(job.spec, fetch, job.order_col)

    jobs = standard_jobs(SYMBOLS[:2], parallelism=2)
    # facts registered before dims: order is by kind, not insertion
    pipe = _pipeline(spark, tmp_path / "wh", [timed(j) for j in reversed(jobs)])
    results, n_jobs = _jobs_in_group(spark, "tick_tiers", lambda: pipe.update_all(T0))
    assert all(v > 0 for v in results.values()), results
    assert list(results) == [j.spec.name for j in reversed(jobs) if j.spec.kind == "dim"] + [
        j.spec.name for j in reversed(jobs) if j.spec.kind == "fact"
    ]
    dims = [times[j.spec.name] for j in jobs if j.spec.kind == "dim"]
    facts = [times[j.spec.name] for j in jobs if j.spec.kind == "fact"]
    assert max(end for _, end in dims) <= min(start for start, _ in facts)
    # the tables of one tier overlap
    assert max(start for start, _ in dims) < min(end for _, end in dims)
    assert max(start for start, _ in facts) < min(end for _, end in facts)
    # the table threads inherit the caller's job group
    assert n_jobs > 0


def test_update_all_isolates_a_failing_fetch(spark, tmp_path):
    def boom(s, start, end):
        raise RuntimeError("exchange down")

    jobs = standard_jobs(SYMBOLS[:2], parallelism=2)
    failing = catalog.BN_FUNDING_RATES.name
    jobs = [TableJob(j.spec, boom) if j.spec.name == failing else j for j in jobs]
    sent = []
    pipe = Pipeline(spark, str(tmp_path / "wh"), notify=sent.append)
    for job in jobs:
        pipe.register(job)
    results = pipe.update_all(T0 + timedelta(hours=3))
    assert results[failing] == -1
    assert all(v > 0 for k, v in results.items() if k != failing), results
    assert any("failed to update bn_funding_rates" in m for m in sent)


def test_update_all_tier_wider_than_the_cores(spark, tmp_path):
    """More tables in one tier than cores, with frequent thread
    switches: every table reports its rows, lands them, and no writer
    lease is left held."""
    import dataclasses
    import sys

    specs = [dataclasses.replace(catalog.BN_FUNDING_RATES, name=f"funding_{i}") for i in range(6)]

    def fetch(i):
        def f(s, start, end):
            rows = [("A", "binance", "PERPETUAL", datetime(2024, 1, 1, h), float(i), 1.0)
                    for h in range(i + 1)]
            return s.createDataFrame(rows, catalog.BN_FUNDING_RATES.schema)

        return f

    pipe = _pipeline(spark, tmp_path / "wh", [TableJob(sp, fetch(i)) for i, sp in enumerate(specs)])
    out = {}
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        t = threading.Thread(target=lambda: out.update(pipe.update_all(T0)))
        t.start()
        t.join(timeout=600)
    finally:
        sys.setswitchinterval(interval)
    assert not t.is_alive()
    assert out == {sp.name: i + 1 for i, sp in enumerate(specs)}
    assert pipe.warehouse._held == {}
    for i, sp in enumerate(specs):
        assert {r.fundingRate for r in pipe.warehouse.read(sp).collect()} == {float(i)}


def test_update_all_captures_now_once(spark, tmp_path, monkeypatch):
    from binancedatapipeline_spark import pipeline as pipeline_mod

    calls = []
    monkeypatch.setattr(pipeline_mod, "_utcnow", lambda: calls.append(1) or T0)
    seen = []
    lock = threading.Lock()

    def fetch(spec):
        def f(s, start, end):
            with lock:
                seen.append(end)
            return spec.empty(s)

        return f

    specs = [catalog.BN_SPOT_SYMBOLS, catalog.BN_SPOT_KLINES, catalog.BN_PERP_KLINES]
    pipe = _pipeline(spark, tmp_path / "wh", [TableJob(s, fetch(s)) for s in specs])
    assert pipe.update_all() == {s.name: 0 for s in specs}
    assert calls == [1] and seen == [T0] * 3


def test_upsert_returns_deduped_batch_count(spark, tmp_path):
    spec = catalog.BN_FUNDING_RATES
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.init_table(spec)
    rows = [
        ("A", "binance", "PERPETUAL", datetime(2024, 1, 1, 0), 0.1, 1.0, 1),
        ("A", "binance", "PERPETUAL", datetime(2024, 1, 1, 0), 0.2, 1.0, 2),
        ("A", "binance", "PERPETUAL", datetime(2024, 1, 2, 8), 0.3, 1.0, 1),
    ]
    schema = T.StructType([*spec.schema.fields, T.StructField("seq", T.IntegerType())])
    batch = spark.createDataFrame(rows, schema)
    assert wh.upsert(spec, batch, order_col="seq") == 2
    got = {(r.fundingTime, r.fundingRate) for r in wh.read(spec).collect()}
    assert got == {(datetime(2024, 1, 1, 0), 0.2), (datetime(2024, 1, 2, 8), 0.3)}
    before = wh._load_manifest(spec.name)
    assert wh.upsert(spec, batch.limit(0), order_col="seq") == 0
    assert wh._load_manifest(spec.name) == before
    # unpartitioned branch: plain dropDuplicates on the PK
    dim = catalog.BN_SPOT_SYMBOLS
    wh.init_table(dim)
    sym = spark.createDataFrame([("A", "binance"), ("A", "binance"), ("B", "binance")],
                                "symbol string, exchange string")
    assert wh.upsert(dim, sym) == 2


@pytest.mark.parametrize("n", [0, 1, 3, 20])
def test_symbol_fanout_partitions_and_rows(spark, n):
    symbols = SYMBOLS[:n]
    out = _symbol_fanout(spark, symbols, 8)
    assert out.rdd.getNumPartitions() == min(8, n)
    assert out.schema.simpleString() == "struct<symbol:string>"
    assert sorted(r.symbol for r in out.collect()) == sorted(symbols)


def test_symbol_fanout_keeps_dataframe_input(spark):
    df = spark.createDataFrame([(s,) for s in SYMBOLS[:5]], "sym string")
    out = _symbol_fanout(spark, df, 3)
    assert out.rdd.getNumPartitions() == 3
    assert sorted(r.symbol for r in out.collect()) == SYMBOLS[:5]


def test_align_gives_exactly_the_spec_schema(spark):
    spec = catalog.BN_FUNDING_RATES
    df = spark.createDataFrame(
        [("A", "2024-01-01 08:00:00", 1, "x")],
        "symbol string, fundingTime string, fundingRate int, junk string",
    )
    out = spec.align(df)
    assert out.schema == spec.schema
    row = out.first()
    assert row.symbol == "A" and row.fundingRate == 1.0
    assert row.fundingTime == datetime(2024, 1, 1, 8)
    assert row.exchange is None and row.type is None and row.markPrice is None
    assert spec.align(out).collect() == [row]
