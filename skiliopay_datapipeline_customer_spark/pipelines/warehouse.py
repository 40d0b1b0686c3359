"""Star-schema warehouse build (J1 surface; FIXTURES.md §3).

Reference parity: the dims/facts DDL + FK graph of
src/storage/data_warehouse.py:421-530 (dim_user/dim_date/... ↔
fact_orders/fact_sessions), realized over the test star schema: dim_user
from customer⋈nation⋈region, dim_date spanning the fact date range,
fact_orders at order grain, fact_sessions from sessionized events (the same
session_window transform the streaming layer runs).

Key discipline: surrogate keys are DERIVED, not sequential — date_key =
yyyyMMdd int, user_key = the natural key. Sequence surrogates
(monotonically_increasing_id) are partition-dependent and force a global
coordination point at 100 TB; derived keys are map-side, idempotent across
rebuilds, and joinable without lookup tables. Postgres FK constraints become
build-time anti-join integrity checks (`fk_violations`).

Scale: dims are small → broadcast at query time; facts write partitioned by
date_key prefix (year) so BI queries prune partitions.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import read_written, table
from ..parallel import run_all


def build_dim_date(spark: SparkSession, start: str, end: str) -> DataFrame:
    """Calendar dimension (data_warehouse.py:443-461 column set)."""
    days = spark.sql(
        f"SELECT explode(sequence(DATE'{start}', DATE'{end}')) AS date_value"
    )
    d = F.col("date_value")
    return days.select(
        F.date_format(d, "yyyyMMdd").cast("int").alias("date_key"),
        d,
        F.year(d).alias("year"),
        F.quarter(d).alias("quarter"),
        F.month(d).alias("month"),
        F.dayofmonth(d).alias("day"),
        F.weekofyear(d).alias("week"),
        F.dayofweek(d).alias("day_of_week"),
        F.dayofweek(d).isin(1, 7).alias("is_weekend"),
        (F.dayofmonth(d) >= 25).alias("is_month_end"),
    )


def build_dim_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer ⋈ nation ⋈ region — the dim_user analogue."""
    customer = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region")
    return (
        customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select(
            F.col("c_custkey").alias("user_key"),
            F.col("c_name").alias("user_name"),
            F.col("c_mktsegment").alias("segment"),
            F.col("n_name").alias("nation"),
            F.col("r_name").alias("region"),
            F.col("c_acctbal").alias("acctbal"),
        )
    )


def build_fact_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    return orders.select(
        F.col("o_orderkey").alias("order_id"),
        F.col("o_custkey").alias("user_key"),
        F.date_format("o_orderdate", "yyyyMMdd").cast("int").alias("date_key"),
        F.col("o_totalprice").alias("gmv"),
        F.col("o_orderstatus").alias("status"),
    )


def build_fact_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionized events → fact_sessions grain (data_warehouse.py:509-527),
    via the same session_window transform the streaming layer uses."""
    from ..streaming.transforms import session_stats

    sess = session_stats(table(spark, sf_dir, "events"), gap="30 minutes")
    return sess.select(
        F.xxhash64("user_id", F.col("session_start").cast("long")).alias("session_id"),
        F.col("user_id").alias("user_key"),
        F.date_format("session_start", "yyyyMMdd").cast("int").alias("date_key"),
        "n_events",
    )


def fk_violations(fact: DataFrame, dim: DataFrame, key: str) -> int:
    """FK constraint as a build gate: orphan fact keys (left-anti count)."""
    return fact.select(key).distinct().join(dim.select(key), key, "left_anti").count()


def build_star_schema(spark: SparkSession, sf_dir: str, base_dir: str) -> dict:
    """Materialize dims + facts; facts partitioned by year for pruning.
    Returns {table: path} plus FK check results.

    Critical path: the ``dim_date`` bounds job runs first (the dimension's
    range depends on it); then the four tables are written concurrently,
    and the two FK counts run concurrently over the tables just written
    (``parallel.run_all``). A failed write surfaces after its sibling
    writes have finished. The FK inputs are read back with the schemas the
    writes used, so no read starts a schema-inference job; the partition
    column ``year`` keeps its written int type.
    """
    fact_orders = build_fact_orders(spark, sf_dir)
    bounds = fact_orders.agg(
        F.min("date_key").alias("lo"), F.max("date_key").alias("hi")
    ).first()
    if bounds["lo"] is None:
        # str(None) would otherwise slice into a bogus DATE'None…' literal
        # and die with an unrelated parse error deep in build_dim_date
        raise ValueError(
            "build_star_schema: fact_orders has no dated rows — cannot "
            "derive the dim_date range from an empty/all-NULL o_orderdate"
        )
    lo, hi = str(bounds["lo"]), str(bounds["hi"])
    dim_date = build_dim_date(
        spark, f"{lo[:4]}-{lo[4:6]}-{lo[6:]}", f"{hi[:4]}-{hi[4:6]}-{hi[6:]}"
    )
    dim_user = build_dim_user(spark, sf_dir)
    fact_sessions = build_fact_sessions(spark, sf_dir)

    tables = {
        "dim_date": (dim_date, None),
        "dim_user": (dim_user, None),
        "fact_orders": (
            fact_orders.withColumn("year", (F.col("date_key") / 10000).cast("int")),
            ["year"],
        ),
        "fact_sessions": (fact_sessions, None),
    }
    out: dict = {
        "paths": {name: os.path.join(base_dir, name) for name in tables},
        "fk": {},
    }

    def write(name: str):
        df, part = tables[name]
        writer = df.write.mode("overwrite")
        if part:
            writer = writer.partitionBy(*part)
        return lambda: writer.parquet(out["paths"][name])

    run_all(spark, [write(name) for name in tables])

    fo, dd, du = (
        read_written(spark, tables[name][0], out["paths"][name])
        for name in ("fact_orders", "dim_date", "dim_user")
    )
    out["fk"]["fact_orders.user_key"], out["fk"]["fact_orders.date_key"] = run_all(
        spark,
        [
            lambda: fk_violations(fo, du, "user_key"),
            lambda: fk_violations(fo, dd, "date_key"),
        ],
    )
    return out


def scd2_merge(
    current: DataFrame | None,
    updates: DataFrame,
    key_col: str,
    tracked_cols: list[str],
    batch_ts,
    end_of_time: str = "9999-12-31 00:00:00",
) -> DataFrame:
    """Slowly-Changing-Dimension Type 2 merge: apply a batch of dimension
    updates to a history table, preserving full change history.

    ``current`` rows carry (key, tracked..., valid_from, valid_to,
    is_current); ``None`` bootstraps an empty history. For each incoming
    key: unchanged rows pass through; a changed tracked value CLOSES the
    open row (valid_to = batch_ts, is_current = false) and INSERTS a new
    open version; unseen keys insert their first version. Updates for a key
    must be one row per batch (latest-wins upstream compaction —
    `latest_event_per_user` — is the feeder).

    Scale: one full-outer-shaped join on the key between the OPEN slice and
    the batch (closed history passes through untouched — at 100 TB it's the
    bulk of the table and never shuffles), null-safe change predicate in
    codegen, output is history + batch sized. The same protocol is Delta's
    ``MERGE INTO`` with a whenMatched-close / whenNotMatched-insert pair.
    """
    ts = F.lit(batch_ts).cast("timestamp")
    open_end = F.lit(end_of_time).cast("timestamp")
    upd = updates.select(key_col, *tracked_cols)
    if current is None:
        return upd.select(
            key_col,
            *tracked_cols,
            ts.alias("valid_from"),
            open_end.alias("valid_to"),
            F.lit(True).alias("is_current"),
        )
    closed = current.filter(~F.col("is_current"))
    # presence LITERALS, not key nullness, decide which side a joined row
    # came from: a NULL-keyed open row or update would otherwise match no
    # branch and silently vanish from the history (the exact hazard
    # sources/snapshots.py documents). eqNullSafe pairs NULL keys up like
    # any other key value.
    open_rows = current.filter(F.col("is_current")).withColumn(
        "_have_cur", F.lit(True)
    )
    u = upd.select(
        F.col(key_col).alias("_uk"),
        *[F.col(c).alias(f"_u_{c}") for c in tracked_cols],
        F.lit(True).alias("_have_upd"),
    )
    joined = open_rows.join(
        u, open_rows[key_col].eqNullSafe(u["_uk"]), "full_outer"
    )
    have_cur = F.col("_have_cur").eqNullSafe(F.lit(True))
    have_upd = F.col("_have_upd").eqNullSafe(F.lit(True))
    changed = F.lit(False)
    for c in tracked_cols:
        changed = changed | ~F.col(c).eqNullSafe(F.col(f"_u_{c}"))
    # open rows: keep (no update for the key), keep (update identical),
    # or close at batch_ts (update differs)
    kept_open = joined.filter(have_cur).select(
        key_col,
        *tracked_cols,
        F.col("valid_from"),
        F.when(have_upd & changed, ts)
        .otherwise(F.col("valid_to"))
        .alias("valid_to"),
        F.when(have_upd & changed, F.lit(False))
        .otherwise(F.col("is_current"))
        .alias("is_current"),
    )
    # inserts: brand-new keys + new versions of changed keys
    inserts = joined.filter(have_upd & (~have_cur | changed)).select(
        F.col("_uk").alias(key_col),
        *[F.col(f"_u_{c}").alias(c) for c in tracked_cols],
        ts.alias("valid_from"),
        open_end.alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    return closed.unionByName(kept_open).unionByName(inserts)


def snapshot_at(history: DataFrame, as_of) -> DataFrame:
    """Point-in-time dimension view from an SCD2 history: the version of
    each key whose [valid_from, valid_to) interval covers ``as_of`` — the
    time-travel read the history exists for (joins facts to the dimension
    AS IT WAS on the fact's date)."""
    ts = F.lit(as_of).cast("timestamp")
    return history.filter(
        (F.col("valid_from") <= ts) & (ts < F.col("valid_to"))
    ).drop("is_current")
