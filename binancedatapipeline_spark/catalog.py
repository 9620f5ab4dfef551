"""Table catalog: declared schemas + primary keys for every table.

Mirrors the reference's ``TableConfig`` registry
(crypto_data_pipeline_duckdb.py:1270-1480 and the ClickHouse superset
crypto_data_pipline_clickhouse.py:1390-1694) as a Spark-native
``TableSpec``: explicit ``StructType`` (never inferSchema on the
storage path), primary-key column list (enforced by the keep-last
upsert writer, since Spark has no PK constraint), an event-time
column for incremental/watermark logic, and a lookback duration for
late-data re-fetch (crypto_data_pipeline_duckdb.py:1612-1629).

Storage layout decisions are made here because they are the scale
story: fact tables are partitioned by a low-cardinality derived date
column (`ds`) so time-range predicates become partition pruning at
100 TB, and bucketed-by-symbol sorted-by-time layout keeps the
premium join and all per-symbol windows shuffle-light.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

_TYPES = {
    "string": T.StringType(),
    "double": T.DoubleType(),
    "int": T.IntegerType(),
    "bigint": T.LongType(),
    "boolean": T.BooleanType(),
    "timestamp": T.TimestampType(),
}


def _schema(cols: dict[str, str]) -> T.StructType:
    return T.StructType([T.StructField(name, _TYPES[t], True) for name, t in cols.items()])


# The reference's update-frequency-aware late-data lookback matrix:
# 1m-cadence tables re-fetch 2 minutes behind the watermark
# (crypto_data_pipeline_duckdb.py:1623-1624), hourly kline tables 2
# hours (crypto_data_pipline_clickhouse.py:1823-1825), and the
# 8h-cadence funding/margin/exercise tables 8 hours (ch:1821-1822).
LOOKBACK_BY_FREQUENCY: dict[str, str] = {
    "1m": "2 minutes",
    "1h": "2 hours",
    "8h": "8 hours",
}


def lookback_for(update_frequency: str) -> str:
    """Late-data re-fetch buffer for a table's update cadence."""
    return LOOKBACK_BY_FREQUENCY[update_frequency]


@dataclass(frozen=True)
class TableSpec:
    """Declared schema + keys + incremental policy for one table."""

    name: str
    primary_keys: tuple[str, ...]
    schema: T.StructType
    kind: str  # 'dim' | 'fact' | 'derived'
    needs_incremental: bool = True
    time_column: str | None = None  # watermark column for incremental fetch
    lookback: str | None = None  # e.g. '8 hours' — late-data re-fetch buffer
    # columns whose date partitions prune time-range scans at scale
    partition_date_source: str | None = None
    # update cadence ('1m' | '1h' | '8h' | 'daily'), reference's
    # update_frequency (duckdb:1278); drives the lookback default
    update_frequency: str | None = None
    # extra columns whose per-file min/max bounds are recorded in the
    # warehouse manifest (beyond time_column) so value-bounded reads
    # can file-prune on them — e.g. the alert ledger's ``notified``
    # flag: after a healthy tick every file's bounds are True/True and
    # the unsent re-send scan lists ZERO files. Fact tables list their
    # leading PK (symbol) here: after maintain()'s (ds, PK)
    # range-compaction each file covers a narrow key range, so a
    # read_between(column=...) single-key scan prunes to ~1 file per
    # partition — the ClickHouse ORDER BY primary index, recreated on
    # the plain-parquet manifest.
    stats_columns: tuple[str, ...] = ()
    # parquet BLOOM FILTERS per column: {column: expected distinct
    # values per row group}. Complements stats_columns for EQUALITY
    # point reads where min/max bounds can't help — a high-cardinality
    # key (user id, doc id, trade id) in partitions that aren't (yet)
    # PK-clustered: footer stats of an unsorted file span the whole
    # key domain, but its bloom filter still excludes absent keys, so
    # the reader skips the row group (parquet-mr applies blooms under
    # the same filter pushdown as stats). ndv sizes the filter
    # (~1.2 bytes/key at the parquet default fpp); parquet caps a
    # filter at parquet.bloom.filter.max.bytes (1 MiB). A chunk whose
    # key set still fits the 1 MiB dictionary page gets NO bloom by
    # design — the dictionary itself filters row groups exactly, and
    # parquet-mr omits the redundant filter — so blooms materialize
    # precisely on the chunks that fell back to plain encoding, i.e.
    # the high-cardinality ones that need them. Blooms cost write-side
    # bytes only — declare them on tables with real point-read
    # traffic, not on every fact table.
    bloom_filters: dict[str, int] | None = None

    @property
    def columns(self) -> list[str]:
        return [f.name for f in self.schema.fields]

    def empty(self, spark: SparkSession) -> DataFrame:
        return spark.createDataFrame([], self.schema)

    def align(self, df: DataFrame) -> DataFrame:
        """Pad missing columns with NULL, cast, and reorder to the declared
        schema — the write-side contract of the reference
        (crypto_data_pipeline_duckdb.py:1553-1559)."""
        from pyspark.sql import functions as F

        existing = set(df.columns)
        return df.select(*[
            (F.col(f.name) if f.name in existing else F.lit(None))
            .cast(f.dataType).alias(f.name)
            for f in self.schema.fields
        ])


_OHLCV = {
    "symbol": "string",
    "exchange": "string",
    "type": "string",
    "interval": "string",
    "timestamp": "timestamp",
    "close_time": "timestamp",
    "open": "double",
    "high": "double",
    "low": "double",
    "close": "double",
    "volume": "double",
    "quote_volume": "double",
    "taker_buy_volume": "double",
    "taker_buy_quote_volume": "double",
    "trades_count": "int",
}

_SYMBOL_FILTER_COLS = {
    "min_price": "double",
    "max_price": "double",
    "tick_size": "double",
    "min_qty": "double",
    "max_qty": "double",
    "step_size": "double",
}

TABLES: dict[str, TableSpec] = {}


def _register(spec: TableSpec) -> TableSpec:
    TABLES[spec.name] = spec
    return spec


BN_SPOT_SYMBOLS = _register(
    TableSpec(
        name="bn_spot_symbols",
        primary_keys=("symbol", "exchange"),
        schema=_schema(
            {
                "symbol": "string",
                "base_asset": "string",
                "quote_asset": "string",
                "exchange": "string",
                "type": "string",
                "status": "string",
                "is_spot_trading_allowed": "boolean",
                "is_margin_trading_allowed": "boolean",
                "base_precision": "int",
                "quote_precision": "int",
                **_SYMBOL_FILTER_COLS,
            }
        ),
        kind="dim",
        needs_incremental=False,
    )
)

BN_PERP_SYMBOLS = _register(
    TableSpec(
        name="bn_perp_symbols",
        primary_keys=("symbol", "exchange"),
        schema=_schema(
            {
                "symbol": "string",
                "base_asset": "string",
                "quote_asset": "string",
                "margin_asset": "string",
                "exchange": "string",
                "type": "string",
                "underlyingSubType": "string",
                "status": "string",
                "onboard_date": "timestamp",
                "delivery_date": "timestamp",
                "price_precision": "int",
                "quantity_precision": "int",
                **_SYMBOL_FILTER_COLS,
            }
        ),
        kind="dim",
        needs_incremental=False,
    )
)

BN_OPTION_SYMBOLS_ACTIVE = _register(
    TableSpec(
        name="bn_option_symbols_active",
        primary_keys=("symbol", "exchange"),
        schema=_schema(
            {
                "symbol": "string",
                "underlying": "string",
                "quoteAsset": "string",
                "unit": "int",
                "exchange": "string",
                "type": "string",
                "expiryDate": "timestamp",
                "strikePrice": "double",
                "side": "string",
                "minPrice": "double",
                "maxPrice": "double",
                "tickSize": "double",
                "priceScale": "int",
                "minQty": "double",
                "maxQty": "double",
                "stepSize": "double",
                "quantityScale": "int",
                "makerFeeRate": "double",
                "takerFeeRate": "double",
                "liquidationFeeRate": "double",
                "initialMargin": "double",
                "maintenanceMargin": "double",
                "minInitialMargin": "double",
                "minMaintenanceMargin": "double",
            }
        ),
        kind="dim",
        needs_incremental=False,
    )
)

BN_OPTION_SYMBOLS_EXERCISED = _register(
    TableSpec(
        name="bn_option_symbols_exercised",
        primary_keys=("symbol", "exchange"),
        schema=_schema(
            {
                "symbol": "string",
                "exchange": "string",
                "type": "string",
                "underlying": "string",
                "expiryDate": "timestamp",
                "strikePrice": "double",
                "realStrikePrice": "double",
                "strikeResult": "string",
            }
        ),
        kind="fact",
        needs_incremental=True,
        time_column="expiryDate",
        lookback=lookback_for("8h"),
        update_frequency="8h",
        partition_date_source="expiryDate",
        # the one unbounded-cardinality PK in the registry: every
        # expired contract ever (BTC-240628-50000-C, ...) accumulates
        # here, and "look up this contract's strike result" is an
        # equality point read min/max bounds can't serve on unsorted
        # partitions. Kline/premium tables keep NO blooms on purpose:
        # their ~10³ symbols stay dictionary-encoded, where parquet
        # omits the bloom anyway (see TableSpec.bloom_filters).
        bloom_filters={"symbol": 200_000},
    )
)

BN_SPOT_KLINES = _register(
    TableSpec(
        name="bn_spot_klines",
        primary_keys=("symbol", "exchange", "interval", "timestamp"),
        schema=_schema(_OHLCV),
        kind="fact",
        needs_incremental=True,
        time_column="timestamp",
        lookback=lookback_for("1h"),
        update_frequency="1h",
        partition_date_source="timestamp",
        # leading-PK file bounds (mechanism: see TableSpec.stats_columns)
        stats_columns=("symbol",),
    )
)

# The reference's `klines_interval='1m'` deployment mode (config.py:1):
# the same kline schema fetched at 1-minute cadence, whose incremental
# window is watermark − 2 minutes (crypto_data_pipeline_duckdb.py:
# 1623-1624) instead of the hourly table's watermark − 2 hours.
BN_SPOT_KLINES_1M = _register(
    TableSpec(
        name="bn_spot_klines_1m",
        primary_keys=("symbol", "exchange", "interval", "timestamp"),
        schema=_schema(_OHLCV),
        kind="fact",
        needs_incremental=True,
        time_column="timestamp",
        lookback=lookback_for("1m"),
        update_frequency="1m",
        partition_date_source="timestamp",
        # leading-PK file bounds (mechanism: see TableSpec.stats_columns)
        stats_columns=("symbol",),
    )
)

BN_PERP_KLINES = _register(
    TableSpec(
        name="bn_perp_klines",
        primary_keys=("symbol", "exchange", "interval", "timestamp"),
        schema=_schema(_OHLCV),
        kind="fact",
        needs_incremental=True,
        time_column="timestamp",
        lookback=lookback_for("1h"),
        update_frequency="1h",
        partition_date_source="timestamp",
        # leading-PK file bounds (mechanism: see TableSpec.stats_columns)
        stats_columns=("symbol",),
    )
)

BN_OPTION_KLINES = _register(
    TableSpec(
        name="bn_option_klines",
        primary_keys=("symbol", "exchange", "interval", "timestamp"),
        schema=_schema(_OHLCV),
        kind="fact",
        needs_incremental=True,
        time_column="timestamp",
        lookback=lookback_for("1h"),
        update_frequency="1h",
        partition_date_source="timestamp",
        # leading-PK file bounds (mechanism: see TableSpec.stats_columns)
        stats_columns=("symbol",),
    )
)

BN_PREMIUM = _register(
    TableSpec(
        name="bn_premium",
        primary_keys=("symbol", "exchange", "timestamp"),
        schema=_schema(
            {
                "symbol": "string",
                "exchange": "string",
                "timestamp": "timestamp",
                "close_time": "timestamp",
                "premium": "double",
                "wma120_premium": "double",
            }
        ),
        kind="derived",
        needs_incremental=True,
        time_column="timestamp",
        lookback=lookback_for("1h"),
        update_frequency="1h",
        partition_date_source="timestamp",
        # leading-PK file bounds (mechanism: see TableSpec.stats_columns)
        stats_columns=("symbol",),
    )
)

BN_EXTREME_ALERTS = _register(
    TableSpec(
        name="bn_extreme_alerts",
        primary_keys=("symbol", "fundingTime"),
        schema=_schema(
            {
                "symbol": "string",
                "fundingTime": "timestamp",
                "fundingRate": "double",
                "fundingRate_change": "double",
                "batch_id": "bigint",
                # delivery flag: written False with the ledger row,
                # flipped True after the notify succeeds — a crash
                # between the two re-sends on the next tick instead of
                # dropping the alert forever (NULL = legacy row,
                # treated as sent)
                "notified": "boolean",
            }
        ),
        kind="derived",
        needs_incremental=False,
        time_column="fundingTime",
        lookback=lookback_for("1h"),
        update_frequency="1h",
        partition_date_source="fundingTime",
        # per-file notified bounds → the alert loop's unsent re-send
        # scan file-prunes to only files that can hold an undelivered
        # row (none, after a healthy tick)
        stats_columns=("notified",),
    )
)

BN_FUNDING_RATES = _register(
    TableSpec(
        name="bn_funding_rates",
        primary_keys=("symbol", "exchange", "fundingTime"),
        schema=_schema(
            {
                "symbol": "string",
                "exchange": "string",
                "type": "string",
                "fundingTime": "timestamp",
                "fundingRate": "double",
                "markPrice": "double",
            }
        ),
        kind="fact",
        needs_incremental=True,
        time_column="fundingTime",
        lookback=lookback_for("8h"),
        update_frequency="8h",
        partition_date_source="fundingTime",
        # leading-PK file bounds (mechanism: see TableSpec.stats_columns)
        stats_columns=("symbol",),
    )
)

BN_MARGIN_INTEREST_RATES = _register(
    TableSpec(
        name="bn_margin_interest_rates",
        primary_keys=("asset", "exchange", "timestamp"),
        schema=_schema(
            {
                "asset": "string",
                "exchange": "string",
                "type": "string",
                "timestamp": "timestamp",
                "dailyInterestRate": "double",
                "vipLevel": "int",
            }
        ),
        kind="fact",
        needs_incremental=True,
        time_column="timestamp",
        lookback=lookback_for("8h"),
        update_frequency="8h",
        partition_date_source="timestamp",
        # per-file bounds of the leading PK: after maintain()'s
        # (ds, PK) range-compaction each file covers a narrow key
        # range, so a read_between(column=...) single-key scan prunes
        # to ~1 file per partition — the ClickHouse ORDER BY primary
        # index, recreated on the plain-parquet manifest
        stats_columns=("asset",),
    )
)

MODEL_REGISTRY = _register(
    TableSpec(
        name="model_registry",
        primary_keys=("model_name", "version"),
        schema=_schema(
            {
                "model_name": "string",
                "version": "bigint",
                "path": "string",
                "model_kind": "string",
                "params_json": "string",
                "registered_at": "timestamp",
            }
        ),
        kind="derived",
        needs_incremental=False,
    )
)
