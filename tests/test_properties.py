"""Property-based tests (hypothesis): operator invariants on random inputs —
the engine-level guarantees that hold for ANY data, not just the fixtures."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

import pyspark.sql.functions as F

from wheels_in_motion_analytics_spark.operators.dedup import dedup_by_key
from wheels_in_motion_analytics_spark.operators.joins import anti_join, asof_join, semi_join

SETTINGS = dict(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

rows_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5),  # key
        st.integers(min_value=-100, max_value=100),  # value
    ),
    min_size=0,
    max_size=30,
)

keys_strategy = st.lists(
    st.one_of(st.integers(min_value=0, max_value=5), st.none()),
    min_size=0,
    max_size=10,
)


@given(rows=rows_strategy, keys=keys_strategy)
@settings(**SETTINGS)
def test_anti_semi_partition_property(spark, rows, keys):
    """anti(df, K) ∪ semi(df, K) == df and they are disjoint — for any data,
    including NULLs in the key set (the NOT-IN trap can't happen)."""
    df = spark.createDataFrame(rows, "k int, v int") if rows else spark.createDataFrame([], "k int, v int")
    kdf = spark.createDataFrame([(k,) for k in keys], "k int") if keys else spark.createDataFrame([], "k int")
    anti = anti_join(df, kdf, ["k"]).collect()
    semi = semi_join(df, kdf, ["k"]).collect()
    assert len(anti) + len(semi) == len(rows)
    key_set = {k for k in keys if k is not None}
    assert all(r.k not in key_set for r in anti)
    assert all(r.k in key_set for r in semi)


@given(rows=rows_strategy)
@settings(**SETTINGS)
def test_dedup_by_key_property(spark, rows):
    """dedup keeps exactly one row per key, and it is the minimum under the
    declared order."""
    if not rows:
        return
    df = spark.createDataFrame(rows, "k int, v int")
    out = dedup_by_key(df, ["k"], [F.col("v").asc(), F.col("k").asc()]).collect()
    expected = {}
    for k, v in rows:
        if k not in expected or v < expected[k]:
            expected[k] = v
    assert {(r.k, r.v) for r in out} == set(expected.items())


@given(
    left=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 50)), min_size=0, max_size=15
    ),
    right=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 50), st.integers(0, 9)),
        min_size=0,
        max_size=15,
    ),
)
@settings(**SETTINGS)
def test_asof_join_property(spark, left, right):
    """asof result == brute-force 'latest right row with rt <= t per key'
    computed in Python (value ties broken identically by taking max rt's
    value set membership)."""
    ldf = (
        spark.createDataFrame(left, "k int, t int")
        if left
        else spark.createDataFrame([], "k int, t int")
    )
    rdf = (
        spark.createDataFrame(right, "k int, rt int, val int")
        if right
        else spark.createDataFrame([], "k int, rt int, val int")
    )
    out = asof_join(ldf, rdf, on="k", left_ts="t", right_ts="rt", right_cols=["val"]).collect()
    assert len(out) == len(left)
    for r in out:
        cands = [(rt, val) for (k, rt, val) in right if k == r.k and rt <= r.t]
        if not cands:
            assert r.val is None
        else:
            best_rt = max(rt for rt, _ in cands)
            vals_at_best = {val for rt, val in cands if rt == best_rt}
            assert r.val in vals_at_best


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=-50, max_value=50),
            st.integers(min_value=0, max_value=10),
        ),
        min_size=1,
        max_size=40,
    ),
    parts=st.integers(min_value=1, max_value=7),
    tiles=st.integers(min_value=1, max_value=5),
)
@settings(**SETTINGS)
def test_two_phase_rank_family_matches_global_window(spark, rows, parts, tiles):
    """global_row_number / global_ntile / global_prefix_sums equal the
    single-partition window forms for ANY data, tie pattern, and partition
    count — the exactness contract the rank-statistic rewrites rely on."""
    from pyspark.sql import Window
    from wheels_in_motion_analytics_spark.operators.windows import (
        global_ntile,
        global_prefix_sums,
        global_row_number,
    )

    # unique tiebreak via index; heavy ties on k and weights on w
    data = [(k, w, i) for i, (k, w) in enumerate(rows)]
    df = spark.createDataFrame(data, "k int, w long, i int")
    order = ["k", "i"]
    w_all = Window.orderBy(*order)

    got_rn = {r["i"]: r["rn"] for r in global_row_number(df, order, partitions=parts).collect()}
    want_rn = {r["i"]: r["rn"] for r in df.withColumn("rn", F.row_number().over(w_all)).collect()}
    assert got_rn == want_rn

    got_t = {r["i"]: r["tile"] for r in global_ntile(df, tiles, order, partitions=parts).collect()}
    want_t = {r["i"]: r["tile"] for r in df.withColumn("tile", F.ntile(tiles).over(w_all)).collect()}
    assert got_t == want_t

    wr = w_all.rowsBetween(Window.unboundedPreceding, 0)
    got_ps = {r["i"]: r["w_cum"] for r in global_prefix_sums(df, order, ["w"], partitions=parts).collect()}
    want_ps = {r["i"]: r["w_cum"] for r in df.withColumn("w_cum", F.sum("w").over(wr)).collect()}
    assert got_ps == want_ps


# Hostile inputs for the selection core, each checked against the
# sorted-index reference: NULL values, all-NULL and empty input, a single
# distinct value, negative values, and spans past 2^62 (up to the full
# 64-bit range), which force several narrowing rounds.
_WIDE = [-(2**63), 2**63 - 1, 0, -1, 1, 2**62 + 5, -(2**62) - 5, 2**63 - 2]


@given(
    vals=st.lists(
        st.integers(min_value=-(2**52), max_value=2**52), min_size=1, max_size=60
    ),
    kfrac=st.integers(min_value=0, max_value=100),
)
@example(vals=[], kfrac=0)
@example(vals=[None, None], kfrac=50)
@example(vals=[None, 5, None, -3, 5, -(2**40)], kfrac=50)
@example(vals=[-7] * 9, kfrac=30)
@example(vals=_WIDE, kfrac=40)
@settings(**SETTINGS)
def test_global_kth_smallest_matches_sorted_index(spark, vals, kfrac):
    """Single-rank global selection == sorted()[k-1] for any integer
    multiset (negative values, duplicates, NULLs, the full 64-bit range)
    and any valid rank; an empty or all-NULL relation raises."""
    from wheels_in_motion_analytics_spark.operators.windows import rank_values
    from wheels_in_motion_analytics_spark.tables import local_frame

    df = local_frame(spark, [(v,) for v in vals], "x long")
    ordered = sorted(v for v in vals if v is not None)
    if not ordered:
        with pytest.raises(ValueError, match="empty relation"):
            rank_values(df, "x", [1])
        return
    k = 1 + (kfrac * (len(ordered) - 1)) // 100
    got, n = rank_values(df, "x", [k])
    assert n == len(ordered)
    assert got == {k: ordered[k - 1]}


@given(
    vals=st.lists(
        st.integers(min_value=-(2**52), max_value=2**52), min_size=1, max_size=60
    ),
    kfracs=st.lists(st.integers(min_value=0, max_value=100), min_size=1, max_size=6),
)
@example(vals=[None, 4, 4, None, -2], kfracs=[0, 50, 100])
@example(vals=[3] * 5, kfracs=[0, 100])
@example(vals=_WIDE * 4, kfracs=list(range(0, 101, 4)))
@settings(**SETTINGS)
def test_global_rank_values_matches_sorted_index(spark, vals, kfracs):
    """Shared-round multi-rank selection == sorted()[k-1] for every target
    at once (negative values, duplicates, NULLs, the full 64-bit range,
    coincident and adjacent ranks)."""
    from wheels_in_motion_analytics_spark.operators.windows import rank_values
    from wheels_in_motion_analytics_spark.tables import local_frame

    ordered = sorted(v for v in vals if v is not None)
    ks = sorted({1 + (kf * (len(ordered) - 1)) // 100 for kf in kfracs})
    df = local_frame(spark, [(v,) for v in vals], "x long")
    got, n = rank_values(df, "x", ks)
    assert n == len(ordered)
    assert got == {k: ordered[k - 1] for k in ks}


# five groups x six targets = 30 live ranges over a span past 2^62; the
# keys include a NULL group and the characters SQL text must escape
_HOSTILE_GROUPS = {
    g: [(i * 7919 + j * 104729) % 1000 * (2**53) - 2**62 - j for i in range(40)]
    for j, g in enumerate([None, "it's", "back\\slash", "", "A"])
}


@given(
    groups=st.dictionaries(
        st.sampled_from(["A", "B", "C", "D"]),
        st.lists(
            st.integers(min_value=-(2**52), max_value=2**52),
            min_size=1,
            max_size=40,
        ),
        min_size=1,
        max_size=4,
    ),
    kfracs=st.lists(st.integers(min_value=0, max_value=100), min_size=1, max_size=4),
)
@example(groups={"A": [None, 2, 1], None: [5, -5, 0], "B": [None]}, kfracs=[0, 50])
@example(groups={"o'k": [1, -1, 1], "a\\b": [9], "\\'": [4, 4]}, kfracs=[100])
@example(groups={}, kfracs=[0])
@example(groups=_HOSTILE_GROUPS, kfracs=[0, 20, 40, 60, 80, 100])
@settings(**SETTINGS)
def test_grouped_rank_values_matches_sorted_index(spark, groups, kfracs):
    """Group-keyed shared-round selection == per-group sorted()[k-1] for
    every (group, target) at once, including a NULL group, keys with
    quotes and backslashes, NULL values (an all-NULL group has no rows to
    rank and is absent) and 30 live ranges over a span past 2^62."""
    from wheels_in_motion_analytics_spark.operators.windows import rank_values
    from wheels_in_motion_analytics_spark.tables import local_frame

    def want(n):
        return sorted({1 + (kf * (n - 1)) // 100 for kf in kfracs})

    rows = [(g, v) for g, vs in groups.items() for v in vs]
    df = local_frame(spark, rows, "g string, x long")
    got = rank_values(df, "x", want, group_col="g")
    ref = {g: sorted(v for v in vs if v is not None) for g, vs in groups.items()}
    ref = {g: vs for g, vs in ref.items() if vs}
    assert set(got) == set(ref)
    for g, ordered in ref.items():
        n = len(ordered)
        assert got[g] == ({k: ordered[k - 1] for k in want(n)}, n), g


@given(
    ppm=st.integers(min_value=-2_000_000, max_value=2_000_000),
    dxx=st.integers(min_value=1, max_value=10**26),
    dyy=st.integers(min_value=1, max_value=10**26),
)
@settings(**SETTINGS)
def test_with_corr_ppm_matches_python_isqrt(spark, ppm, dxx, dyy):
    """The in-plan corrected floor-isqrt ppm must equal math.isqrt-based
    exact arithmetic for arbitrary moment magnitudes up to ~1e26 (the
    sf1 envelope). num is drawn within 2x the Cauchy-Schwarz envelope
    (|num| <= 2*sqrt(dxx*dyy)) — the helper's BIGINT output column only
    holds in-contract ratios; wildly larger num would overflow int64 by
    construction (callers always satisfy Cauchy-Schwarz)."""
    import math

    from wheels_in_motion_analytics_spark.functions.stats import with_corr_ppm

    num = ppm * math.isqrt(dxx * dyy) // 10**6
    df = spark.createDataFrame(
        [(str(num), str(dxx), str(dyy))], "num string, dxx string, dyy string"
    ).select(
        F.col("num").cast("decimal(38,0)").alias("num"),
        F.col("dxx").cast("decimal(38,0)").alias("dxx"),
        F.col("dyy").cast("decimal(38,0)").alias("dyy"),
    )
    got = with_corr_ppm(df).collect()[0].rho_ppm
    a, b = math.isqrt(dxx), math.isqrt(dyy)
    expect = (1 if num >= 0 else -1) * (
        (2 * abs(num) * 10**6 + a * b) // (2 * a * b)
    )
    assert got == expect


# ---------------------------------------------------------------------------
# Round-5 session-3 cores: histogram stump and Kaplan-Meier
# ---------------------------------------------------------------------------


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=-1000, max_value=1000),  # cents
            st.integers(min_value=0, max_value=1),  # pos
        ),
        min_size=2,
        max_size=40,
    ),
    bins=st.sampled_from([2, 4, 16]),
)
@settings(**SETTINGS)
def test_stump_best_split_matches_exhaustive(spark, rows, bins):
    """The histogram stump equals the exhaustive integer-Gini argmax for
    ANY (value, label) data and any bin count — including all-one-class,
    duplicate values, and negative values."""
    from wheels_in_motion_analytics_spark.functions.ml import stump_best_split

    df = spark.createDataFrame(rows, "cents long, pos int")
    got = stump_best_split(df, bins=bins).collect()
    lo = min(c for c, _ in rows)
    hi = max(c for c, _ in rows)
    hist = {}
    for c, p in rows:
        b = (c - lo) * bins // (hi - lo + 1)
        n0, p0 = hist.get(b, (0, 0))
        hist[b] = (n0 + 1, p0 + p)
    nt = len(rows)
    pt = sum(p for _, p in rows)
    best = None
    nl = pl = 0
    for b in sorted(hist):
        n, p = hist[b]
        nl, pl = nl + n, pl + p
        if nl == 0 or nt == nl:
            continue
        nr, pr = nt - nl, pt - pl
        a = (pl * pl + (nl - pl) ** 2) * nr + (pr * pr + (nr - pr) ** 2) * nl
        score = a * 1_000_000 // (nl * nr)
        key = (-score, b)
        if best is None or key < best[0]:
            best = (key, b, nl, pl, nr, pr, score)
    if best is None:
        # single occupied bin: no valid split — the operator returns no row
        assert got == []
        return
    _, b, nl, pl, nr, pr, score = best
    r = got[0]
    assert (r.split_bin, r.n_left, r.pos_left, r.n_right, r.pos_right,
            r.score_micro) == (b, nl, pl, nr, pr, score)


@given(
    subjects=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=8),  # duration
            st.integers(min_value=0, max_value=1),  # event flag
        ),
        min_size=1,
        max_size=25,
    )
)
@settings(**SETTINGS)
def test_kaplan_meier_matches_python_product_limit(spark, subjects):
    """KM core vs a direct Python product-limit walk: risk sets, event
    counts, and the 9dp log-survival agree for ANY censored sample; rows
    at/after a full-death time are NULL."""
    import math
    from decimal import Decimal

    from wheels_in_motion_analytics_spark.functions.stats import (
        kaplan_meier_curve,
    )

    df = spark.createDataFrame(subjects, "dur int, ev int")
    got = {r.dur_days: r for r in kaplan_meier_curve(df).collect()}
    from collections import Counter

    d = Counter()
    m = Counter()
    for dur, ev in subjects:
        m[dur] += 1
        d[dur] += ev
    n_total = len(subjects)
    seen = 0
    acc = Decimal(0)
    dead = False
    for dur in sorted(m):
        n_risk = n_total - seen
        seen += m[dur]
        r = got[dur]
        assert (r.n_risk, r.d_events, r.c_censored) == (
            n_risk, d[dur], m[dur] - d[dur],
        )
        if not dead and d[dur] > 0 and d[dur] < n_risk:
            acc += Decimal(str(round(math.log(1 - d[dur] / n_risk), 9)))
        if d[dur] >= n_risk:
            dead = True
        if dead:
            assert r.log_survival is None
        else:
            assert r.log_survival == round(float(acc), 6)
    assert set(got) == set(m)
