"""Table catalog for the driver-generated test data (TESTDATA.md).

At 100 TB scale these reads would point at a partitioned data lake; the
important property preserved here is that each table is an independent
parquet scan so Catalyst gets per-table column pruning and filter pushdown
(verify with ``df.explain``: ``PushedFilters`` / ``ReadSchema``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one named table from an sf directory.

    Some testdata vintages store timestamps as TIMESTAMP(NANOS), which
    Spark's parquet reader rejects by default; ``nanosAsLong`` is a runtime
    SQL conf, set here (not only in our session factory) so the operators
    also work under an externally-provided SparkSession (e.g. the driver
    harness). Whatever the physical type (nanos-long or TIMESTAMP_NTZ),
    normalize event time through ``event_ts_us`` / ``event_ts``."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Pin the session TZ so instant<->wall-clock conversions (event_ts_us on
    # a TIMESTAMP_NTZ column, date_format on TimestampType) are UTC-stable
    # under externally-provided sessions too — DuckDB oracles are TZ-naive.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def event_ts_us(df: DataFrame, col: str = "ts"):
    """Epoch-MICROseconds long for an event-time column, dispatching on the
    column's surfaced dtype. The driver testdata has shipped ``events.ts``
    in two physical forms across rounds: TIMESTAMP(NANOS) (surfaced as an
    epoch-nanos long under ``nanosAsLong``) and TIMESTAMP_NTZ micros. All
    event-time code goes through this normalizer so a format flip cannot
    silently mis-scale time units again.

    - ``bigint`` → epoch integer in ONE of nanos / micros / millis /
      seconds, disambiguated by magnitude: the four units are ≥3 decimal
      orders apart for any date after 1973 (nanos ~1e18, micros ~1e15,
      millis ~1e12, seconds ~1e9), so the per-row CASE is unambiguous
      for every plausible vintage and stays inside codegen. The nanos
      arm uses EXACT decimal integer division to µs (a double widen has
      ulp ≈ 256 ns at ~1.7e18 and can land on the wrong microsecond vs
      DuckDB's integer ``epoch_us``).
    - ``timestamp`` (incl. TIMESTAMP_LTZ) / ``timestamp_ntz`` →
      ``unix_micros`` (NTZ wall clock interpreted as UTC; session TZ is
      pinned UTC in ``table()``)."""
    from pyspark.sql import functions as F

    dt = dict(df.dtypes)[col]
    c = F.col(col)
    if dt == "bigint":
        nanos = (c.cast("decimal(38,0)") / F.lit(1000)).cast("long")
        return (
            F.when(c >= F.lit(10**17), nanos)
            .when(c >= F.lit(10**14), c)
            .when(c >= F.lit(10**11), c * F.lit(1000))
            .otherwise(c * F.lit(1_000_000))
        )
    return F.unix_micros(c.cast("timestamp"))


def event_ts(df: DataFrame, col: str = "ts"):
    """Timestamp-typed event-time column for date/window functions,
    same dtype dispatch as :func:`event_ts_us`. A TIMESTAMP_NTZ input is
    returned as-is (date_trunc/date_format/year on NTZ are TZ-independent,
    matching the TZ-naive DuckDB oracles exactly); a nanos-long becomes a
    TimestampType instant (UTC session, exact µs division)."""
    from pyspark.sql import functions as F

    dt = dict(df.dtypes)[col]
    if dt == "bigint":
        return F.timestamp_micros(event_ts_us(df, col))
    return F.col(col)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Read every table; lazy — nothing is scanned until an action runs."""
    return {name: table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so ``spark.sql`` mirrors the
    DuckDB oracle environment (same table names)."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
