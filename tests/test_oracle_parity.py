"""Every declared query with an oracle must hash-match it (driver's t2 gate)."""

from __future__ import annotations

import pytest

from skiliopay_datapipeline_customer_spark.parity import run_parity
from skiliopay_datapipeline_customer_spark.queries import all_oracles, all_queries

QUERIES = all_queries()
ORACLES = all_oracles()


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_parity(spark, sf_dir, name):
    problems = run_parity(spark, sf_dir, name, QUERIES[name], ORACLES[name])
    assert not problems, f"{name}: " + "; ".join(problems)


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only_queries_run(spark, sf_dir, name):
    df = QUERIES[name](spark, sf_dir)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


@pytest.fixture(scope="module")
def built(spark, sf_dir):
    """``built(name)``: the declared query's frame, built once for this
    module's schema and plan checks (eager queries run jobs while they
    are built)."""
    frames: dict = {}

    def get(name):
        if name not in frames:
            frames[name] = QUERIES[name](spark, sf_dir)
        return frames[name]

    yield get
    frames.clear()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_no_container_columns_in_any_declared_query(built, name):
    """Driver contract, registry-wide: the driver canonicalizes EVERY
    declared query's output (rows-only included) with a pandas
    sort_values(), which raises TypeError on list/dict cells. The r7 fix
    asserted this only for oracle queries, and the rows-only
    ``pca_projected_embeddings`` slipped through in r8 — so assert it on
    the schema of every declared query, oracle or not. Schema-only (no
    execution): ArrayType/MapType/StructType in any output field is a
    contract violation regardless of row values.
    """
    from pyspark.sql.types import ArrayType, MapType, StructType

    schema = built(name).schema
    bad = [
        f.name
        for f in schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]
    assert not bad, (
        f"{name}: container-typed output columns {bad} would crash the "
        "driver canonicalizer — flatten to scalar columns or a joined string"
    )


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_no_declared_query_plans_a_cartesian_product(built, name):
    """Repo-wide anti-pattern sweep: no declared query may plan a
    CartesianProduct (an unconditioned shuffle-side cross join — the
    O(n·m) cliff at scale). Broadcast nested-loop joins against
    scalar/metadata-sized frames are legitimate and NOT flagged."""
    plan = built(name)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, name


def test_compare_frames_rejects_list_columns():
    """Driver contract: its canonicalizer sort_values() raises TypeError on
    list/map cells, so no declared oracle query may return one — even when
    BOTH sides agree (the r7 ``bpe_encoded_docs`` failure mode: selfcheck
    green at three SFs, driver errored). compare_frames must reject the
    column outright; with it enforced there, ``test_oracle_parity`` above
    asserts the contract registry-wide on every oracle query's real output.
    """
    import pandas as pd

    from skiliopay_datapipeline_customer_spark.parity import compare_frames

    pdf = pd.DataFrame({"a": [1, 2], "toks": [["x"], ["y", "z"]]})
    problems = compare_frames(pdf, pdf.copy())
    assert any("list" in p and "toks" in p for p in problems)
    # the fixed projection (joined string) passes clean
    ok = pd.DataFrame({"a": [1, 2], "toks": ["x", "y z"]})
    assert compare_frames(ok, ok.copy()) == []


def test_duckdb_xxhash64_replay_bit_parity(spark):
    """The churn-fixture oracle's foundation: DuckDB's UBIGINT/HUGEINT
    limb replay of Spark's XxHash64 over (BIGINT id, INT lit, INT lit)
    fields must be BIT-IDENTICAL — exhaustive over 100k ids and two salt
    chains (functions/fixtures_oracle.py)."""
    import duckdb
    from pyspark.sql import functions as F

    from skiliopay_datapipeline_customer_spark.functions.fixtures_oracle import (
        xxhash64_id_chain_sql,
    )

    n = 100_000
    rows = (
        spark.range(n)
        .select(
            "id",
            F.xxhash64(F.col("id"), F.lit(42), F.lit(7)).alias("h7"),
            F.xxhash64(F.col("id"), F.lit(42), F.lit(30)).alias("h30"),
        )
        .collect()
    )
    sp = {r["id"]: (r["h7"], r["h30"]) for r in rows}
    ctes, final, h = xxhash64_id_chain_sql(
        f"SELECT i, CAST(i AS UBIGINT) AS iu FROM range(0, {n}) t(i)",
        [7, 30],
    )
    got = duckdb.connect().execute(
        f"WITH {ctes} SELECT i, {h[7]}, {h[30]} FROM {final}"
    ).fetchall()
    du = {i: (a, b) for i, a, b in got}
    mismatches = [i for i in range(n) if sp[i] != du[i]]
    assert not mismatches, f"{len(mismatches)} hash mismatches, first: {mismatches[:3]}"


def test_duckdb_xxhash64_short_string_bit_parity(spark, sf_dir):
    """The simhash_fingerprints oracle's foundation: DuckDB's replay of
    Spark's xxhash64 over ASCII strings UNDER 32 BYTES (the XXH64 tail
    cascade — no stripe loop) must be bit-identical. Covers every length
    0..31 with varied bytes, the guard cases (32 bytes → NULL, non-ASCII
    → NULL), and the actual corpus 2-gram shingle vocabulary at sf0.01."""
    import duckdb
    from pyspark.sql import functions as F

    from skiliopay_datapipeline_customer_spark.functions.fixtures_oracle import (
        xxhash64_ascii_short_sql,
    )
    from skiliopay_datapipeline_customer_spark.operators.dedup import (
        shingles_from_tokens,
        tokens,
    )

    synth = [
        "".join(chr(33 + (i * 7 + j * 13) % 94) for j in range(i))
        for i in range(32)
    ]
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = [
        r["g"]
        for r in docs.select(tokens(F.col("text")).alias("_t"))
        .select(F.explode(shingles_from_tokens(F.col("_t"), 2)).alias("g"))
        .distinct()
        .collect()
    ]
    cases = synth + corpus
    sp = {
        r["g"]: r["h"]
        for r in spark.createDataFrame([(c,) for c in cases], "g string")
        .select("g", F.xxhash64("g").alias("h"))
        .collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t (g VARCHAR); INSERT INTO t VALUES "
        + ",".join("(?)" for _ in cases),
        cases,
    )
    ctes, final, col = xxhash64_ascii_short_sql("SELECT g FROM t", "g")
    du = dict(
        con.execute(f"WITH {ctes} SELECT g, {col} FROM {final}").fetchall()
    )
    mismatches = [c for c in cases if sp[c] != du[c]]
    assert not mismatches, f"{len(mismatches)} mismatches, first: {mismatches[:3]!r}"
    # guard cases: >=32 bytes and non-ASCII must be NULL (loud in the
    # oracle via error()), never a silently wrong hash
    guards = ["x" * 32, "café", "a" * 100]
    con.execute("DELETE FROM t")
    con.execute(
        "INSERT INTO t VALUES " + ",".join("(?)" for _ in guards), guards
    )
    nulls = con.execute(
        f"WITH {ctes} SELECT {col} FROM {final}"
    ).fetchall()
    assert all(v[0] is None for v in nulls)


def test_spark_round_sql_matches_f_round(spark):
    """spark_round_sql must replay F.round(double, d) exactly — including
    the shortest-repr HALF_UP semantics where DuckDB's native round and a
    direct DECIMAL cast each disagree on measured inputs (26.0649…98 and
    a printed 98.235). Checked over the fixture's real aov/gmv/refund
    expressions for all 1000 ids."""
    import duckdb
    from pyspark.sql import functions as F

    from skiliopay_datapipeline_customer_spark.functions.fixtures import _u
    from skiliopay_datapipeline_customer_spark.functions.fixtures_oracle import (
        _u_expr,
        spark_round_sql,
        xxhash64_id_chain_sql,
    )

    rows = (
        spark.range(1000)
        .select(
            "id",
            F.round(_u(16, 42) * 200, 2).alias("aov"),
            F.round(
                F.round(_u(16, 42) * 200, 2) * F.floor(_u(15, 42) * 100).cast("int"),
                2,
            ).alias("gmv"),
            F.round(_u(21, 42) * 0.3, 4).alias("rr"),
        )
        .collect()
    )
    sp = {r["id"]: (r["aov"], r["gmv"], r["rr"]) for r in rows}
    ctes, final, h = xxhash64_id_chain_sql(
        "SELECT i, CAST(i AS UBIGINT) AS iu FROM range(0, 1000) t(i)", [15, 16, 21]
    )
    u15, u16, u21 = _u_expr(h[15]), _u_expr(h[16]), _u_expr(h[21])
    aov = spark_round_sql(f"{u16} * CAST(200 AS DOUBLE)", 2)
    gmv = spark_round_sql(f"{aov} * CAST(floor({u15}*100) AS INT)", 2)
    rr = spark_round_sql(f"{u21} * CAST(0.3 AS DOUBLE)", 4)
    got = duckdb.connect().execute(
        f"WITH {ctes} SELECT i, {aov}, {gmv}, {rr} FROM {final}"
    ).fetchall()
    du = {i: (a, g, r) for i, a, g, r in got}
    bad = [i for i in range(1000) if sp[i] != du[i]]
    assert not bad, f"round parity broke on ids {bad[:5]}"
