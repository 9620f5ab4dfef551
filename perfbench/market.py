"""Seeded Binance feeds and the expected-result model for `market_tick`.

The package's `SyntheticBinanceApi` derives every bar from a hash of
(symbol, timestamp, field), so a perp feed built from it equals the
spot feed bar for bar and the premium is always zero. The feeds here
keep those spot bars, then:

* `SpotFeed` drops planted bars, the gaps the hourly audit must find;
* `PerpFeed` prices each perp bar at spot x (1 + premium), where the
  premium is small seeded noise plus planted squeezes.

A squeeze holds the premium at -`SQUEEZE_DEPTH` for `SQUEEZE_HOURS`
bars. With the detector's defaults (trailing WMA-120 of the premium,
a drop below -0.006 against the value 30 rows earlier) its fourth bar
is the first to fire: the WMA has moved by -0.00516 after three bars
and by -0.00686 after four, while the noise moves it by ~1e-4. Every
tick gets its own squeeze symbol, so each tick must send exactly one
alert, and no symbol squeezes twice within one WMA window. The other
symbols carry the planted gaps.

The market has `SYMBOLS` = 20 symbols, the size of the sizing probe in
the benchmark's design (20 symbols x 30 days, backfill 12.7 s and
`update_all` 4.5-6.4 s a tick on 4 cores). The backfill is 7 days, the
shortest history that holds the detector's WMA-120 warm-up and its
30-row lag (150 bars) with room. A run makes at most `MAX_TICKS` ticks:
at ~20 s a tick on 4 cores a run makes one, and eight leaves room for
faster ticks.

`MarketPlan.expected_tick` mirrors the incremental window rule of
`Warehouse.incremental_start` (watermark minus the table's lookback)
to predict each tick's fetched rows without reading the warehouse.
"""

from __future__ import annotations

import functools
import random
import string
import zlib
from dataclasses import dataclass
from datetime import datetime, timedelta

from binancedatapipeline_spark import catalog
from binancedatapipeline_spark.cli import standard_jobs
from binancedatapipeline_spark.pipeline import TableJob
from binancedatapipeline_spark.sources.binance import SyntheticBinanceApi

HOUR = timedelta(hours=1)
HOUR_MS = 3_600_000
FUNDING_MS = 8 * HOUR_MS
SYMBOLS = 20
MAX_TICKS = 8  # one squeeze symbol per tick
BACKFILL_HOURS = 168  # WMA-120 warm-up plus the 30-row lag, with room
SQUEEZE_DEPTH = 0.105
SQUEEZE_HOURS = 6
DETECT_BAR = 3  # 0-based bar of a squeeze on which the detector fires
TICK_MINUTE = 58  # the reference scheduler's update minute
KLINE_LOOKBACK = 2 * HOUR  # catalog lookback of the hourly kline tables
FUNDING_LOOKBACK = 8 * HOUR


def _ms(dt: datetime) -> int:
    return int((dt - datetime(1970, 1, 1)).total_seconds() * 1000)


@dataclass(frozen=True)
class MarketPlan:
    """Everything `market_tick` plants, derived from one seed."""

    seed: int
    symbols: tuple[str, ...]  # squeeze symbols first, then gap symbols
    backfill_start: datetime  # first backfilled bar
    gaps: frozenset[tuple[str, int]]  # (symbol, bar ms) missing from spot

    @classmethod
    def from_seed(cls, seed: int) -> MarketPlan:
        rng = random.Random(seed)
        names: set[str] = set()
        while len(names) < SYMBOLS:
            names.add("".join(rng.choices(string.ascii_uppercase, k=4)) + "USDT")
        symbols = tuple(rng.sample(sorted(names), len(names)))
        start = datetime(2024, 1, 1) + rng.randrange(300 * 24) * HOUR
        plan = cls(seed, symbols, start, frozenset())
        gap_syms = symbols[MAX_TICKS:]
        # one gap per gap symbol inside the backfill, then one every
        # third tick hour, each gap symbol in turn
        gaps = {
            (s, _ms(start + rng.randrange(2, BACKFILL_HOURS - 2) * HOUR))
            for s in gap_syms
        }
        gaps |= {
            (gap_syms[(j // 3) % len(gap_syms)], _ms(plan.tick_hour(j)))
            for j in range(2, MAX_TICKS, 3)
        }
        return cls(seed, symbols, start, frozenset(gaps))

    @property
    def backfill_end(self) -> datetime:
        return self.backfill_start + BACKFILL_HOURS * HOUR

    def tick_hour(self, j: int) -> datetime:
        return self.backfill_end + (j + 1) * HOUR

    def tick_now(self, j: int) -> datetime:
        return self.tick_hour(j) + timedelta(minutes=TICK_MINUTE)

    def squeeze_symbol(self, j: int) -> str:
        return self.symbols[j]

    def premium(self, symbol: str, ts_ms: int) -> float:
        noise = (zlib.crc32(f"{self.seed}|{symbol}|{ts_ms}".encode()) % 2001 - 1000) / 1e6
        j = self.symbols.index(symbol)
        if j < MAX_TICKS:
            first = _ms(self.tick_hour(j)) - DETECT_BAR * HOUR_MS
            if first <= ts_ms < first + SQUEEZE_HOURS * HOUR_MS:
                return noise - SQUEEZE_DEPTH
        return noise

    # ------------------------------------------------ expected results

    def _bars(self, lo: datetime, hi: datetime) -> int:
        """Hourly bars in [lo, hi], summed over the symbols."""
        first = -(-_ms(lo) // HOUR_MS) * HOUR_MS
        hours = range(first, _ms(hi) + 1, HOUR_MS)
        return len(hours) * len(self.symbols)

    def expected_tick(self, j: int) -> dict[str, int]:
        """Rows `Pipeline.update_all` should fetch on tick ``j``."""
        prev = self.tick_now(j - 1)  # tick -1 is the backfill
        now = self.tick_now(j)
        watermark = prev.replace(minute=0)
        lo = watermark - KLINE_LOOKBACK
        first = _ms(lo)
        perp = self._bars(lo, now)
        spot = perp - sum(1 for _, t in self.gaps if first <= t <= _ms(now))
        f_mark = _ms(prev) // FUNDING_MS * FUNDING_MS
        f_first = f_mark - FUNDING_LOOKBACK.total_seconds() * 1000
        funding = len(range(int(f_first), _ms(now) + 1, FUNDING_MS)) * len(self.symbols)
        n = len(self.symbols)
        return {
            "bn_spot_symbols": n,
            "bn_perp_symbols": n,
            "bn_spot_klines": spot,
            "bn_perp_klines": perp,
            "bn_funding_rates": funding,
        }

    def expected_gaps(self, j: int) -> set[tuple[str, datetime, datetime]]:
        """Gap-audit rows after tick ``j``: a planted gap shows once the
        bars on both sides of it are stored."""
        lo, hi = _ms(self.backfill_start), _ms(self.tick_hour(j))
        epoch = datetime(1970, 1, 1)
        return {
            (s, epoch + timedelta(milliseconds=t - HOUR_MS), epoch + timedelta(milliseconds=t + HOUR_MS))
            for s, t in self.gaps
            if lo < t < hi
        }

    def expected_alerts(self, ticks) -> set[tuple[str, datetime]]:
        """Ledger rows after the given ticks: each tick's squeeze symbol
        at the tick's own hour."""
        return {(self.squeeze_symbol(j), self.tick_hour(j)) for j in ticks}


class SpotFeed(SyntheticBinanceApi):
    """Synthetic spot bars with the plan's gaps left out."""

    def __init__(self, plan: MarketPlan):
        super().__init__()
        self.plan = plan

    def klines(self, symbol, interval, start_ms, end_ms):
        bars = super().klines(symbol, interval, start_ms, end_ms)
        return [b for b in bars if (symbol, b[0]) not in self.plan.gaps]


class PerpFeed(SyntheticBinanceApi):
    """Perp bars priced at spot x (1 + the plan's premium)."""

    def __init__(self, plan: MarketPlan):
        super().__init__()
        self.plan = plan

    def klines(self, symbol, interval, start_ms, end_ms):
        out = []
        for bar in super().klines(symbol, interval, start_ms, end_ms):
            f = 1.0 + self.plan.premium(symbol, bar[0])
            out.append([bar[0], *(f"{float(p) * f:.2f}" for p in bar[1:5]), *bar[5:]])
        return out


def table_jobs(plan: MarketPlan, parallelism: int) -> list[TableJob]:
    """The reference's five tables: dims and funding from the package's
    `standard_jobs`, spot and perp klines each from their own feed."""
    symbols = list(plan.symbols)
    spot = standard_jobs(symbols, api_factory=functools.partial(SpotFeed, plan),
                         parallelism=parallelism)
    perp = standard_jobs(symbols, api_factory=functools.partial(PerpFeed, plan),
                         parallelism=parallelism)
    pick = {j.spec.name: j for j in spot}
    pick[catalog.BN_PERP_KLINES.name] = next(
        j for j in perp if j.spec is catalog.BN_PERP_KLINES
    )
    return list(pick.values())
