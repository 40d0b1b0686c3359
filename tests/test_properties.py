"""Property-based tests (SURVEY §5.2) for the semantics-critical operators:
the rank(method='first')+qcut ≡ ntile equivalence (W1/W2, the §7.4 hard
part), right-closed pd.cut bins, and median imputation — each checked
against the pandas behavior the reference relies on."""

from __future__ import annotations

import math

import pandas as pd
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from skiliopay_datapipeline_customer_spark.operators.ranks import (
    quantile_bucket_distributed,
)

VALUES = st.lists(
    st.floats(min_value=-1e6, max_value=1e6, allow_nan=False, width=32),
    min_size=1,
    max_size=60,
)

SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _pandas_quantile_bucket(series: pd.Series, labels, ascending: bool):
    """The reference's _quantile_bucket (feature_engineering.py:89-98)."""
    q = 5
    unique_values = series.nunique()
    effective_q = min(q, unique_values)
    if effective_q < 2:
        fill = labels[0] if ascending else labels[-1]
        return pd.Series([fill] * len(series), index=series.index)
    ranks = series.rank(method="first", ascending=ascending)
    return pd.qcut(ranks, effective_q, labels=labels[:effective_q])


@pytest.mark.parametrize(
    "labels,ascending",
    [([1, 2, 3, 4, 5], True), ([5, 4, 3, 2, 1], False)],
)
@given(values=VALUES)
# 3 distinct values, n = 4: pandas' qcut edge for rank 2 is
# 1.9999999999999998, not 2.0, so rank 2 lands in bucket 2
@example(values=[0.0, 0.0, 1.0, 2.0])
@SETTINGS
def test_quantile_bucket_matches_pandas(spark, labels, ascending, values):
    # user_id encodes original row order → our tiebreak == pandas row position
    pdf = pd.DataFrame({"user_id": range(len(values)), "v": values})
    sdf = spark.createDataFrame(pdf)
    got = {
        r["user_id"]: r["q"]
        for r in quantile_bucket_distributed(
            sdf, "v", labels, ascending=ascending, out="q"
        ).collect()
    }
    want = _pandas_quantile_bucket(pdf["v"], labels, ascending)
    for i in pdf["user_id"]:
        assert got[i] == int(want.iloc[i]), (i, values)


@given(values=VALUES)
@SETTINGS
def test_right_closed_bins_match_pd_cut(spark, values):
    bins = [0, 25, 50, 75, 100]
    labels = ["Low", "Medium", "High", "Very High"]
    pdf = pd.DataFrame({"i": range(len(values)), "v": values})
    sdf = spark.createDataFrame(pdf)
    v = F.col("v")
    expr = (
        F.when(v <= 0, F.lit(None).cast("string"))
        .when(v <= 25, "Low")
        .when(v <= 50, "Medium")
        .when(v <= 75, "High")
        .when(v <= 100, "Very High")
        .otherwise(F.lit(None).cast("string"))
    )
    got = {r["i"]: r["c"] for r in sdf.select("i", expr.alias("c")).collect()}
    want = pd.cut(pdf["v"], bins=bins, labels=labels)
    for i in pdf["i"]:
        w = want.iloc[i]
        w = None if (isinstance(w, float) and math.isnan(w)) else str(w)
        assert got[i] == w, (i, pdf["v"].iloc[i])


@given(
    values=st.lists(
        st.one_of(
            st.none(),
            st.floats(min_value=-1e6, max_value=1e6, allow_nan=False, width=32),
        ),
        min_size=2,
        max_size=40,
    )
)
@SETTINGS
def test_median_impute_matches_pandas(spark, values):
    from skiliopay_datapipeline_customer_spark.pipelines import clean_frame

    if all(v is None for v in values):
        return  # no median defined; reference path fills nothing either
    pdf = pd.DataFrame({"k": range(len(values)), "v": values})
    sdf = spark.createDataFrame(pdf).withColumn("v", F.col("v").cast("double"))
    out = clean_frame(sdf, key_cols=["k"], numeric_impute=["v"])
    got = {r["k"]: r["v"] for r in out.collect()}
    med = pdf["v"].median()  # pandas: exact interpolated median
    for i, v in enumerate(values):
        if v is None:
            assert math.isclose(got[i], med, rel_tol=1e-9), (i, med, got[i])
        else:
            assert math.isclose(got[i], v, rel_tol=1e-6)


@given(
    lefts=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 1000)), min_size=1, max_size=25
    ),
    rights=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 1000), st.integers(0, 100)),
        min_size=1,
        max_size=25,
    ),
)
@SETTINGS
def test_asof_join_matches_merge_asof(spark, lefts, rights):
    """Custom union+window as-of join ≡ pandas merge_asof(backward) per key."""
    from skiliopay_datapipeline_customer_spark.operators.joins import asof_join

    left_pdf = pd.DataFrame(
        [{"k": k, "lt": t, "lid": i} for i, (k, t) in enumerate(lefts)]
    )
    # merge_asof needs unique right times per key for a well-defined answer:
    # keep the max payload per (k, rt), like the declared asof query does
    right_pdf = (
        pd.DataFrame([{"k": k, "rt": t, "payload": p} for k, t, p in rights])
        .groupby(["k", "rt"], as_index=False)["payload"]
        .max()
    )
    ldf = spark.createDataFrame(left_pdf)
    rdf = spark.createDataFrame(right_pdf)
    got = {
        r["lid"]: r["_asof"]["payload"] if r["_asof"] is not None else None
        for r in asof_join(
            ldf, rdf, key="k", left_time="lt", right_time="rt", right_payload=["payload"]
        ).collect()
    }
    want_df = pd.merge_asof(
        left_pdf.sort_values(["lt", "lid"]),
        right_pdf.sort_values("rt").rename(columns={"rt": "lt"}),
        on="lt",
        by="k",
        direction="backward",
    )
    for _, row in want_df.iterrows():
        w = None if pd.isna(row["payload"]) else int(row["payload"])
        assert got[row["lid"]] == w, (row["lid"], got[row["lid"]], w)


# --- corpus sampling properties -------------------------------------------

GROUPS = st.lists(
    st.tuples(st.sampled_from(["en", "de", "fr"]), st.integers(0, 10**6)),
    min_size=1,
    max_size=40,
    unique_by=lambda t: t[1],
)


@given(rows=GROUPS, num=st.integers(0, 4), den=st.just(4))
@SETTINGS
def test_group_top_fraction_matches_pandas(spark, rows, num, den):
    from skiliopay_datapipeline_customer_spark.operators.sampling import (
        group_top_fraction,
    )

    df = spark.createDataFrame(
        [(g, i, float(i % 97)) for g, i in rows], "g string, id long, s double"
    )
    kept = {
        r.id for r in group_top_fraction(df, "g", "s", "id", num, den).collect()
    }
    pdf = pd.DataFrame(rows, columns=["g", "id"])
    pdf["s"] = (pdf["id"] % 97).astype(float)
    want = set()
    for _, grp in pdf.groupby("g"):
        grp = grp.sort_values(["s", "id"], ascending=[False, True])
        n = len(grp)
        # (rank-1)*den <= (n-1)*num  =>  keep floor((n-1)*num/den) + 1 rows
        want |= set(grp.head((n - 1) * num // den + 1).id)
    assert kept == want


@given(
    ids=st.lists(st.integers(0, 10**6), min_size=1, max_size=50, unique=True),
    r1=st.integers(0, 100),
    r2=st.integers(0, 100),
)
@SETTINGS
def test_stratified_sample_monotone_in_rate(spark, ids, r1, r2):
    from skiliopay_datapipeline_customer_spark.operators.sampling import (
        stratified_sample,
    )

    lo, hi = sorted([r1, r2])
    df = spark.createDataFrame([("en", i) for i in ids], "lang string, doc_id long")
    a = {r.doc_id for r in stratified_sample(df, "lang", {"en": lo}).collect()}
    b = {r.doc_id for r in stratified_sample(df, "lang", {"en": hi}).collect()}
    assert a <= b
    if lo == hi:
        assert a == b
    if hi == 100:
        assert b == set(ids)
    if lo == 0:
        assert a == set()


# --- interval-containment join vs brute force ------------------------------

INTERVALS = st.lists(
    st.tuples(
        st.integers(1, 3),                      # key
        st.integers(0, 10**7),                  # start
        st.integers(0, 4 * 86_400_000_000),     # length
    ),
    min_size=1,
    max_size=12,
)
POINTS = st.lists(
    st.tuples(st.integers(1, 4), st.integers(0, 5 * 86_400_000_000)),
    min_size=1,
    max_size=25,
)


@given(ivs=INTERVALS, pts=POINTS)
@SETTINGS
def test_interval_join_matches_brute_force(spark, ivs, pts):
    from skiliopay_datapipeline_customer_spark.operators.joins import (
        interval_containment_join,
    )

    intervals = spark.createDataFrame(
        [(k, i, s, s + ln) for i, (k, s, ln) in enumerate(ivs)],
        "k long, iv_id long, s long, e long",
    )
    points = spark.createDataFrame(
        [(k, i, t) for i, (k, t) in enumerate(pts)],
        "k long, pt_id long, t long",
    )
    got = {
        (r.pt_id, r.iv_id)
        for r in interval_containment_join(
            points, intervals, "k", "t", "s", "e"
        ).collect()
    }
    want = {
        (pi, ii)
        for ii, (ik, s, ln) in enumerate(ivs)
        for pi, (pk, t) in enumerate(pts)
        if pk == ik and s <= t <= s + ln
    }
    assert got == want


# --- snapshot diff vs a pandas reference -----------------------------------

SNAP = st.lists(
    st.tuples(
        st.integers(0, 15),                       # key
        st.sampled_from(["a", "b", None]),        # t
        st.sampled_from([1.0, 2.0, None]),        # v
    ),
    min_size=0,
    max_size=12,
    unique_by=lambda r: r[0],
)


@given(old=SNAP, new=SNAP)
@SETTINGS
def test_snapshot_diff_matches_reference(spark, old, new):
    from skiliopay_datapipeline_customer_spark.sources.snapshots import (
        snapshot_diff,
    )

    schema = "k long, t string, v double"
    odf = spark.createDataFrame(old, schema)
    ndf = spark.createDataFrame(new, schema)
    got = {
        r.k: r.status for r in snapshot_diff(odf, ndf, ["k"], ["t", "v"]).collect()
    }
    om = {k: (t, v) for k, t, v in old}
    nm = {k: (t, v) for k, t, v in new}
    want = {}
    for k in om.keys() | nm.keys():
        if k not in om:
            want[k] = "added"
        elif k not in nm:
            want[k] = "removed"
        elif om[k] != nm[k]:
            want[k] = "changed"
    assert got == want


# --- distributed EWM vs pandas ewm(adjust=True) ----------------------------

EWM_SERIES = st.lists(
    st.floats(min_value=-1e4, max_value=1e4, allow_nan=False, width=32),
    min_size=1,
    max_size=40,
)


@given(xs=EWM_SERIES)
@SETTINGS
def test_ewm_prefix_sum_form_matches_pandas(spark, xs):
    """The two-prefix-sum EWM re-expression (queries/analytics.py) is exactly
    pandas ewm(alpha=.5, adjust=True).mean() — alpha=.5 keeps every decay
    weight an exact power of two, so equality holds to float tolerance."""
    from pyspark.sql import Window

    df = spark.createDataFrame(
        [(i, float(x)) for i, x in enumerate(xs)], "t long, x double"
    )
    w = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    decay = F.pow(F.lit(0.5), F.col("t"))
    inv = F.pow(F.lit(0.5), -F.col("t"))
    got = [
        r.e
        for r in df.select(
            "t",
            ((decay * F.sum(F.col("x") * inv).over(w))
             / (decay * F.sum(inv).over(w))).alias("e"),
        )
        .orderBy("t")
        .collect()
    ]
    want = pd.Series(xs, dtype="float64").ewm(alpha=0.5, adjust=True).mean()
    for g, wv in zip(got, want):
        assert math.isclose(g, wv, rel_tol=1e-9, abs_tol=1e-9)


# --- corpus span dedup (line_dedup) vs a pure-Python reference ------------

DOCS = st.lists(
    st.lists(st.sampled_from(["a", "b", "c", "d"]), min_size=1, max_size=20).map(
        " ".join
    ),
    min_size=1,
    max_size=8,
)


def _py_line_dedup(texts, L=3):
    """First-corpus-occurrence span dedup, sequential reference."""
    seen = set()
    out = []
    for i, text in enumerate(texts):
        toks = text.split()
        spans = [
            " ".join(toks[s : s + L]) for s in range(0, max(len(toks), 1), L)
        ]
        kept = []
        for sp in spans:  # within-doc repeats also keep only the first
            if sp not in seen:
                kept.append(sp)
                seen.add(sp)
        out.append((i, " ".join(kept), len(kept), len(spans) - len(kept)))
    return out


@SETTINGS
@given(texts=DOCS)
def test_line_dedup_matches_sequential_reference(spark, texts):
    from skiliopay_datapipeline_customer_spark.operators.textops import line_dedup

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = sorted(
        (r["doc_id"], r["text"], r["lines_kept"], r["lines_removed"])
        for r in line_dedup(df, line_tokens=3).collect()
    )
    assert got == _py_line_dedup(texts, L=3)


# --- SCD2 merge vs a sequential dict reference ----------------------------

BATCHES = st.lists(
    st.lists(
        st.tuples(st.integers(1, 5), st.sampled_from(["a", "b", "c"])),
        min_size=1,
        max_size=5,
        unique_by=lambda kv: kv[0],  # one row per key per batch
    ),
    min_size=1,
    max_size=4,
)


def _py_scd2(batches):
    """Sequential reference: history as (key, value, from_i, to_i, current)."""
    hist = []  # list of [key, val, from, to, open]
    for i, batch in enumerate(batches):
        for k, v in batch:
            open_rows = [r for r in hist if r[0] == k and r[4]]
            if not open_rows:
                hist.append([k, v, i, None, True])
            elif open_rows[0][1] != v:
                open_rows[0][3] = i
                open_rows[0][4] = False
                hist.append([k, v, i, None, True])
    return sorted((r[0], r[1], r[2], r[3], r[4]) for r in hist)


@SETTINGS
@given(batches=BATCHES)
def test_scd2_merge_matches_sequential_reference(spark, batches):
    from skiliopay_datapipeline_customer_spark.pipelines.warehouse import scd2_merge

    h = None
    for i, batch in enumerate(batches):
        df = spark.createDataFrame(batch, "k long, v string")
        h = scd2_merge(h, df, "k", ["v"], f"2024-01-{i + 1:02d} 00:00:00")
    got = sorted(
        (
            r["k"],
            r["v"],
            int(str(r["valid_from"])[8:10]) - 1,
            None
            if str(r["valid_to"]).startswith("9999")
            else int(str(r["valid_to"])[8:10]) - 1,
            r["is_current"],
        )
        for r in h.collect()
    )
    assert got == _py_scd2(batches)


# --- leave-one-out target encoding vs pandas ------------------------------

LOO_ROWS = st.lists(
    st.tuples(st.sampled_from(["a", "b", "c"]), st.integers(0, 1)),
    min_size=2,
    max_size=30,
)


@SETTINGS
@given(rows=LOO_ROWS)
def test_target_encode_loo_matches_pandas(spark, rows):
    import pandas as pd

    from skiliopay_datapipeline_customer_spark.functions.encoding import (
        target_encode_loo,
    )

    df = spark.createDataFrame(
        [(i, c, y) for i, (c, y) in enumerate(rows)], "id long, cat string, y long"
    )
    got = {
        r["id"]: r["te"] for r in target_encode_loo(df, "cat", "y").collect()
    }
    pdf = pd.DataFrame(rows, columns=["cat", "y"])
    g = pdf.groupby("cat")["y"]
    s, n = g.transform("sum"), g.transform("count")
    want = (s - pdf["y"]) / (n - 1)
    for i in range(len(rows)):
        if n[i] == 1:
            assert got[i] is None
        else:
            assert abs(got[i] - want[i]) < 1e-12
