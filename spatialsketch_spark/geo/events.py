"""Geo-event stream derivation — the engine's ⟨ts, item, x, y, value⟩
tuple model (reference ``input_data``, Postgres.h:8-13).

The sandbox testdata has no native lon/lat stream, so geo events are
derived *deterministically, with pure integer arithmetic* from the
``events`` table. The same SQL text runs in Spark SQL and in DuckDB,
which is what lets the driver's oracle gate compare the full sketch
pipeline bit-for-bit against exact SQL.

The (x, y) mixing mirrors the reference's data prep, which quantizes
lon/lat onto the [0, N-1] grid outside the engine
(repository/datasets/RealWorld.ipynb; Technical Report §3 "Updating") —
here the "sensor coordinates" are a deterministic function of event_id.
Multipliers are odd (2654435761 = Knuth's 2^32/phi; 2246822519 from
xxHash's prime table — both public constants), so low bits cycle fully
mod a power-of-two grid.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# Item domain: user_id < 256 in the synthetic testdata (checked in tests).
ITEM_DOMAIN = 256

# event_id is reduced mod {n} BEFORE the multiply: (e % n) * k ≡ e * k
# (mod n), and the product then stays < n * k << 2^63 for ANY event_id —
# the unreduced form would wrap silently in Spark (non-ANSI) but raise in
# DuckDB past event_id ~3.5e9, breaking the shared-SQL-text parity.
GEO_EVENTS_SQL_TMPL = """
SELECT
  event_id                                               AS ts,
  user_id                                                AS item,
  ((event_id % {n}) * 2654435761) % {n}                  AS x,
  ((event_id % {n}) * 2246822519 + user_id * 97) % {n}   AS y,
  CAST(1 AS BIGINT)                                      AS value
FROM events
"""


def geo_events_sql(n: int) -> str:
    """The derivation as ANSI SQL (valid in both Spark SQL and DuckDB)."""
    return GEO_EVENTS_SQL_TMPL.format(n=n)


def register_events_view(spark: SparkSession, sf_dir: str) -> None:
    spark.read.parquet(f"{sf_dir}/events.parquet").createOrReplaceTempView("events")


def derive_geo_events(spark: SparkSession, sf_dir: str, n: int,
                      spread: bool = True) -> DataFrame:
    """events parquet -> geo-event DataFrame (ts, item, x, y, value).

    Column-pruned scan: only event_id and user_id are read
    (verify with .explain: ReadSchema should list exactly those two).

    spread=True repartitions the single-file parquet to the session's
    parallelism: every downstream shuffle's map side would otherwise run
    as ONE task (a 1-partition source serializes the whole shuffle
    write). On a real cluster the source is already parallel and this
    is a no-op cost-wise.
    """
    register_events_view(spark, sf_dir)
    df = spark.sql(geo_events_sql(n))
    if spread:
        df = df.repartition(int(spark.conf.get("spark.sql.shuffle.partitions")))
    return df
