"""Property-based checks (hypothesis) for the engine-portable hash
primitives — pure Python mirrors of the SQL formulas, so they run
without a SparkSession."""

from __future__ import annotations

import hashlib

from hypothesis import given, settings
from hypothesis import strategies as st

VOCAB = ["the", "a", "data", "spark", "join", "merge", "row", "value",
         "filter", "sort", "vector", "table", "scan", "hash", "key"]


def _md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


_MINHASH_PRIME = 4294967291


def _minhash_sig(shingles: set[str], k: int = 64) -> list[int]:
    """Pure-Python mirror of texthash.md5_word + affine_minhash_aggs:
    h_j = (b1 + j*b2) mod p over the two 32-bit words of one md5."""
    bases = [(int(_md5(s)[:8], 16), int(_md5(s)[8:16], 16)) for s in shingles]
    return [
        min((b1 + j * b2) % _MINHASH_PRIME for b1, b2 in bases) for j in range(k)
    ]


def _true_jaccard(a: set[str], b: set[str]) -> float:
    return len(a & b) / len(a | b)


@settings(max_examples=30, deadline=None)
@given(
    st.sets(st.sampled_from(VOCAB), min_size=3, max_size=12),
    st.sets(st.sampled_from(VOCAB), min_size=3, max_size=12),
)
def test_minhash_estimates_jaccard(a, b):
    """P(minhash_j(A) == minhash_j(B)) = J(A,B); with k=64 hashes the
    estimate must land within a generous binomial bound."""
    sig_a, sig_b = _minhash_sig(a), _minhash_sig(b)
    est = sum(x == y for x, y in zip(sig_a, sig_b)) / len(sig_a)
    true = _true_jaccard(a, b)
    assert abs(est - true) <= 0.35  # ~5+ sigma for k=64
    if true == 1.0:
        assert est == 1.0  # identical sets always collide
    if true == 0.0:
        assert est <= 0.15


@settings(max_examples=30, deadline=None)
@given(st.sets(st.sampled_from(VOCAB), min_size=1, max_size=15))
def test_minhash_identity(a):
    assert _minhash_sig(a, 16) == _minhash_sig(set(a), 16)


@settings(max_examples=50, deadline=None)
@given(
    st.lists(st.sampled_from(VOCAB), min_size=3, max_size=30),
    st.integers(min_value=0, max_value=10),
)
def test_simhash_formula_is_order_invariant(words, rot):
    """The simhash bit-vote formula (operators/dedup.py oracle) depends
    only on token multiset, not order."""
    def simhash(ws):
        votes = [0] * 64
        for w in ws:
            hx = _md5(w)
            for p in range(16):
                d = int(hx[p], 16)
                for b in range(4):
                    bit = (d >> (3 - b)) & 1
                    votes[p * 4 + b] += 1 if bit else -1
        return sum(1 << i for i, v in enumerate(votes) if v > 0)

    rotated = words[rot % len(words):] + words[: rot % len(words)]
    assert simhash(words) == simhash(rotated)


def _largest_remainder(avail: list[int], budget: int) -> list[int]:
    """Pure-Python mirror of token_budget_allocation's SQL formula
    (operators/packing.py): floor quotas + one extra token to the
    largest fractional remainders, ties broken by position (the SQL
    breaks them by lang, source)."""
    t = sum(avail)
    base = [(budget * a) // t for a in avail]
    rem = [(budget * a) % t for a in avail]
    r = budget - sum(base)
    order = sorted(range(len(avail)), key=lambda i: (-rem[i], i))
    for i in order[:r]:
        base[i] += 1
    return base


@settings(max_examples=200, deadline=None)
@given(
    st.lists(st.integers(min_value=1, max_value=10**9), min_size=1, max_size=50),
    st.integers(min_value=0, max_value=10**7),
)
def test_largest_remainder_allocation_invariants(avail, budget):
    """Exact-sum + quota-rule + near-monotonicity — the properties that
    make the allocation usable as a sampling plan."""
    alloc = _largest_remainder(avail, budget)
    t = sum(avail)
    # allocations spend the budget EXACTLY (no drift from rounding)
    assert sum(alloc) == budget
    # quota rule: every shard gets floor or ceil of its exact share
    for a, x in zip(avail, alloc):
        lo = (budget * a) // t
        assert x in (lo, lo + 1)
    # near-monotonicity: a shard with more data never trails a smaller
    # shard by more than the 1-token remainder bonus
    for i in range(len(avail)):
        for j in range(len(avail)):
            if avail[i] >= avail[j]:
                assert alloc[i] >= alloc[j] - 1


# ---------------------------------------------------------------------------
# Skyline local filter (operators/advanced.py::_pareto_filter_pandas)
# ---------------------------------------------------------------------------


def _brute_pareto(points: list[tuple[float, int]]) -> set[tuple[float, int]]:
    """Reference skyline: p survives iff no q dominates it on
    (min price, max size) with at least one strict inequality."""
    out = set()
    for i, (pp, ps) in enumerate(points):
        dominated = any(
            qp <= pp and qs >= ps and (qp < pp or qs > ps)
            for j, (qp, qs) in enumerate(points)
            if j != i
        )
        if not dominated:
            out.add((pp, ps))
    return out


@settings(max_examples=50, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.sampled_from([1.0, 2.0, 2.5, 3.0, 5.0]),
            st.integers(min_value=1, max_value=6),
        ),
        min_size=1,
        max_size=25,
    )
)
def test_pareto_filter_matches_brute_force(points):
    """The vectorized per-partition filter must equal the quadratic
    reference front, including duplicate points and frontier ties
    (equal (price,size) pairs all survive — neither dominates)."""
    import pandas as pd

    from data_warehouse_data_mining_spark.operators.advanced import (
        _pareto_filter_pandas,
    )

    pdf = pd.DataFrame(
        {
            "p_partkey": range(len(points)),
            "p_retailprice": [p for p, _ in points],
            "p_size": [s for _, s in points],
        }
    )
    got = list(_pareto_filter_pandas(iter([pdf])))[0]
    got_set = set(zip(got["p_retailprice"], got["p_size"]))
    assert got_set == _brute_pareto(points)
    # every surviving ROW (not just value) must be undominated: a
    # frontier value duplicated k times keeps all k rows
    expect_rows = sum(
        1 for p in points if p in _brute_pareto(points)
    )
    assert len(got) == expect_rows


@settings(max_examples=100, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=10_000), min_size=1,
             max_size=60),
    st.integers(min_value=1, max_value=500),
)
def test_session_walk_invariants(deltas, gap):
    """The recurrence shared by the streaming custom_sessionizer and
    its batch replay twin: sessions partition the event stream in
    order, no intra-session gap reaches the threshold, consecutive
    sessions are separated by >= gap, and the walk is
    batch-split-invariant (splitting the stream anywhere and carrying
    the open state yields identical sessions — the stream≡batch
    identity in pure form)."""
    from data_warehouse_data_mining_spark.streaming.stateful import (
        session_walk,
    )

    ts = []
    t = 0
    for d in deltas:
        t += d
        ts.append(t)

    closed, open_s = session_walk(ts, gap)
    sessions = closed + [open_s]
    # partition: event counts sum to n, boundaries ordered
    assert sum(s[2] for s in sessions) == len(ts)
    for start, last, n in sessions:
        assert start <= last and n >= 1
    for (s1, l1, _), (s2, _, _) in zip(sessions, sessions[1:]):
        assert l1 <= s2 and s2 - l1 >= gap
    # intra-session gaps all < gap (check against the raw stream)
    i = 0
    for start, last, n in sessions:
        seg = ts[i : i + n]
        assert seg[0] == start and seg[-1] == last
        assert all(b - a < gap for a, b in zip(seg, seg[1:]))
        i += n
    # batch-split invariance at every cut point
    for cut in range(1, len(ts)):
        c1, st1 = session_walk(ts[:cut], gap)
        c2, st2 = session_walk(ts[cut:], gap, st1)
        assert c1 + c2 + [st2] == sessions


def test_session_walk_cross_batch_disorder_merges_like_session_window():
    """r6 review fix: a late event admitted by a watermark longer than
    the gap must MERGE the open session (start extends backward, last
    never regresses) — the exact scenario that previously corrupted
    state: (10:00 open), next batch [09:50, 10:25], gap 30 min used to
    regress last to 09:50 and close a bogus session with
    last_event < session_start."""
    from data_warehouse_data_mining_spark.streaming.stateful import (
        session_walk,
    )

    m = 60  # minutes as integer ticks
    gap = 30 * m
    closed, open_s = session_walk([600 * m], gap)  # event at 10:00
    assert closed == [] and open_s == (600 * m, 600 * m, 1)
    closed, open_s = session_walk([590 * m, 625 * m], gap, open_s)
    # native session_window: ONE open session 09:50-10:25 with 3 events
    assert closed == []
    assert open_s == (590 * m, 625 * m, 3)

    # an event >= gap BEFORE the open start is its own earlier session,
    # finalized in this walk; two such events within gap merge together
    closed, open_s = session_walk([540 * m, 550 * m], gap, open_s)
    assert closed == [(540 * m, 550 * m, 2)]
    assert open_s == (590 * m, 625 * m, 3)

    # a late event inside the open interval only bumps the count
    closed, open_s = session_walk([600 * m], gap, open_s)
    assert closed == [] and open_s == (590 * m, 625 * m, 4)


def test_dp_noisy_counts_mechanism(spark):
    """dp_noisy_group_counts: the release must actually perturb (no
    group's released_count equals its true count — Laplace noise is
    continuous, a zero draw means the mechanism silently vanished),
    the noise must respect the seeded-uniform's worst-case bound
    b·ln(2^32/0.5) (u is quantized to (k+0.5)/2^32, so |noise| is
    capped by the tail at the smallest representable offset), and the
    micro/double columns must agree."""
    import math

    from data_warehouse_data_mining_spark.catalog import load
    from data_warehouse_data_mining_spark.operators.privacy import (
        DP_SCALE,
        dp_noisy_group_counts,
    )
    from .conftest import SF_SMALL

    rows = dp_noisy_group_counts(spark, SF_SMALL).collect()
    true = {
        r["o_orderpriority"]: r["n"]
        for r in load(spark, SF_SMALL)
        .orders.groupBy("o_orderpriority")
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    assert len(rows) == len(true)
    bound = DP_SCALE * math.log(2**32 / 0.5) + 1e-6
    for r in rows:
        noise = r["released_count_micro"] / 1e6 - true[r["o_orderpriority"]]
        assert noise != 0.0, r
        assert abs(noise) <= bound, (r, noise)
        assert abs(r["released_count"] - r["released_count_micro"] / 1e6) < 1e-9
        assert r["epsilon"] == 0.5 and r["sensitivity"] == 1


def test_welch_ttest_matches_independent_computation(spark, duck):
    """ab_welch_ttest's t and df recomputed independently in Python
    from DuckDB's per-user exact cent sums (textbook Welch formulas,
    no shared code path) must agree to 1e-9 — and df must sit in the
    classical [min(n)-1, n_a+n_b-2] Welch-Satterthwaite envelope."""
    import math

    from data_warehouse_data_mining_spark.operators.mining_stats import ab_welch_ttest
    from .conftest import SF_SMALL

    row = ab_welch_ttest(spark, SF_SMALL).collect()[0]
    per = duck.execute(
        """
        SELECT CASE WHEN md5(CAST(user_id AS VARCHAR)) < '8'
                    THEN 'A' ELSE 'B' END AS arm,
               CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS c
        FROM events GROUP BY user_id
        """
    ).fetchall()
    a = [c for arm, c in per if arm == "A"]
    b = [c for arm, c in per if arm == "B"]
    na, nb = len(a), len(b)
    mean = lambda xs: sum(xs) / len(xs) / 100.0
    var = lambda xs: (
        (len(xs) * sum(x * x for x in xs) - sum(xs) ** 2)
        / (len(xs) * (len(xs) - 1))
        / 10000.0
    )
    sq_a, sq_b = var(a) / na, var(b) / nb
    t = (mean(a) - mean(b)) / math.sqrt(sq_a + sq_b)
    df = (sq_a + sq_b) ** 2 / (sq_a**2 / (na - 1) + sq_b**2 / (nb - 1))
    assert row["n_a"] == na and row["n_b"] == nb
    assert abs(row["t_stat"] - t) < 1e-6
    assert abs(row["welch_df"] - df) < 1e-4
    assert min(na, nb) - 1 <= row["welch_df"] <= na + nb - 2


def test_mutual_information_matches_python_mirror(spark, duck):
    """MI/entropies recomputed in Python from DuckDB's exact cell
    counts with the same fixed-point floors must agree exactly, and
    the information-theory sandwich 0 <= MI <= min(H) must hold."""
    import math

    from data_warehouse_data_mining_spark.operators.quality import (
        mutual_information_lang_source,
    )
    from .conftest import SF_SMALL

    row = mutual_information_lang_source(spark, SF_SMALL).collect()[0]
    cells = duck.execute(
        "SELECT source, lang, count(*) FROM documents GROUP BY 1, 2"
    ).fetchall()
    n = sum(c for _, _, c in cells)
    n_s, n_l = {}, {}
    for s, l, c in cells:
        n_s[s] = n_s.get(s, 0) + c
        n_l[l] = n_l.get(l, 0) + c
    micro = lambda x: math.floor(x * 1_000_000 + 1e-3)
    mi = sum(
        micro((c / n) * math.log((n * c) / (n_s[s] * n_l[l])))
        for s, l, c in cells
    )
    hs = sum(micro((v / n) * math.log(n / v)) for v in n_s.values())
    hl = sum(micro((v / n) * math.log(n / v)) for v in n_l.values())
    assert row["n_docs"] == n and row["n_cells"] == len(cells)
    assert row["mi_nats"] == round(mi / 1e6, 6)
    assert row["h_source_nats"] == round(hs / 1e6, 6)
    assert row["h_lang_nats"] == round(hl / 1e6, 6)
    assert -1e-4 <= row["mi_nats"] <= min(row["h_lang_nats"], row["h_source_nats"]) + 1e-4
    assert row["normalized_mi"] <= 1.0 + 1e-6


def test_qte_quartiles_monotone_and_match_duckdb(spark, duck):
    """Each arm's quartiles are nondecreasing in p, and the p=0.5 row
    equals DuckDB's percentile_cont medians computed directly."""
    from data_warehouse_data_mining_spark.operators.mining_stats import (
        quantile_treatment_effects,
    )
    from .conftest import SF_SMALL

    rows = quantile_treatment_effects(spark, SF_SMALL).collect()
    assert [r["p"] for r in rows] == [0.25, 0.5, 0.75]
    assert rows[0]["q_a"] <= rows[1]["q_a"] <= rows[2]["q_a"]
    assert rows[0]["q_b"] <= rows[1]["q_b"] <= rows[2]["q_b"]
    med = dict(
        duck.execute(
            """
            SELECT CASE WHEN md5(CAST(user_id AS VARCHAR)) < '8'
                        THEN 'A' ELSE 'B' END AS arm,
                   round(percentile_cont(0.5) WITHIN GROUP (
                     ORDER BY CAST(sum_c AS BIGINT)) / 100.0, 6)
            FROM (SELECT user_id,
                         sum(CAST(round(value * 100, 0) AS BIGINT)) AS sum_c
                  FROM events GROUP BY user_id) GROUP BY arm
            """
        ).fetchall()
    )
    assert rows[1]["q_a"] == med["A"] and rows[1]["q_b"] == med["B"]


def test_poisson_bootstrap_ci_brackets_mean_and_weights_are_poisson(spark):
    """The ~94% min/max replicate envelope brackets the point estimate
    on this corpus, and the deterministic md5-driven weights average ~1
    (Poisson(1) mean)."""
    from data_warehouse_data_mining_spark.operators.mining_stats import (
        poisson_bootstrap_ci,
    )
    from .conftest import SF_SMALL

    row = poisson_bootstrap_ci(spark, SF_SMALL).collect()[0]
    assert row["b_replicates"] == 32
    assert row["env_lo"] < row["env_hi"]
    assert row["env_lo"] <= row["mean_spend"] <= row["env_hi"]


def test_hill_tail_index_matches_python_mirror(spark, duck):
    """Hill estimator recomputed in Python from DuckDB's exact top-65
    cent values with the same fixed-point floors must agree exactly,
    and the plan's only data-sized step must be a TakeOrdered top-k,
    never a global sort."""
    import math

    from data_warehouse_data_mining_spark.operators.mining_stats import (
        HILL_K,
        hill_tail_index,
    )
    from .conftest import SF_SMALL

    row = hill_tail_index(spark, SF_SMALL).collect()[0]
    vals = [
        v
        for (v,) in duck.execute(
            f"""SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) AS c
                FROM orders ORDER BY 1 DESC LIMIT {HILL_K + 1}"""
        ).fetchall()
    ]
    xk = vals[HILL_K]
    s = sum(
        math.floor(math.log(v / xk) * 1_000_000 + 1e-3) for v in vals[:HILL_K]
    )
    assert row["threshold"] == round(xk / 100.0, 2)
    assert row["hill_mean_log_excess"] == round(s / (HILL_K * 1e6), 6)
    assert row["tail_index_alpha"] == round(HILL_K * 1e6 / s, 6)
    assert row["tail_index_alpha"] > 0
    # the registered builder localCheckpoints the 65-row top-k table, so
    # probe the selection shape on an equivalent un-checkpointed plan
    from pyspark.sql import functions as F2

    from data_warehouse_data_mining_spark.catalog import load as _load

    sel = (
        _load(spark, SF_SMALL)
        .orders.select(
            F2.expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)").alias("c")
        )
        .orderBy(F2.col("c").desc())
        .limit(HILL_K + 1)
    )
    plan = sel._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def _arm_cents(duck):
    return duck.execute(
        """
        SELECT CASE WHEN md5(CAST(user_id AS VARCHAR)) < '8'
                    THEN 'A' ELSE 'B' END AS arm,
               CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS c
        FROM events GROUP BY user_id
        """
    ).fetchall()


def test_mann_whitney_matches_python_mirror(spark, duck):
    """U statistics and tie-corrected z recomputed with textbook
    midrank formulas in Python must agree, and U_A + U_B == n_a*n_b."""
    import math

    from data_warehouse_data_mining_spark.operators.mining_stats import mann_whitney_u
    from .conftest import SF_SMALL

    row = mann_whitney_u(spark, SF_SMALL).collect()[0]
    per = _arm_cents(duck)
    xs = sorted(c for _, c in per)
    # midrank per value (1-based average rank of the tie block)
    first = {}
    for i, v in enumerate(xs):
        first.setdefault(v, i + 1)
    cnt = {}
    for v in xs:
        cnt[v] = cnt.get(v, 0) + 1
    midrank = {v: first[v] + (cnt[v] - 1) / 2 for v in cnt}
    a = [c for arm, c in per if arm == "A"]
    na, nb = len(a), len(per) - len(a)
    r_a = sum(midrank[v] for v in a)
    u_a = r_a - na * (na + 1) / 2
    assert row["n_a"] == na and row["n_b"] == nb
    assert row["u_a"] == round(u_a, 1)
    assert row["u_a"] + row["u_b"] == na * nb
    n = na + nb
    tie = sum(t**3 - t for t in cnt.values())
    assert row["tie_term"] == tie
    var_u = na * nb / 12.0 * ((n + 1) - tie / (n * (n - 1)))
    z = (u_a - na * nb / 2.0) / math.sqrt(var_u)
    assert abs(row["z_score"] - z) < 1e-6


def test_ks_two_sample_matches_python_mirror(spark, duck):
    """KS D recomputed from raw ECDFs in Python must agree exactly and
    obey 0 <= D <= 1; the attained value must realize the max gap."""
    from data_warehouse_data_mining_spark.operators.mining_stats import ks_two_sample
    from .conftest import SF_SMALL

    row = ks_two_sample(spark, SF_SMALL).collect()[0]
    per = _arm_cents(duck)
    a = sorted(c for arm, c in per if arm == "A")
    b = sorted(c for arm, c in per if arm == "B")
    na, nb = len(a), len(b)
    import bisect

    best = 0
    for v in sorted(set(a) | set(b)):
        gap = abs(bisect.bisect_right(a, v) * nb - bisect.bisect_right(b, v) * na)
        best = max(best, gap)
    assert 0.0 <= row["ks_d"] <= 1.0
    assert row["ks_d"] == round(best / (na * nb), 6)


def test_theil_sen_matches_python_mirror(spark, duck):
    """Per-nation lower-median pairwise slope recomputed in Python from
    DuckDB's exact daily cent totals must agree for every nation."""
    from data_warehouse_data_mining_spark.operators.mining_stats import theil_sen_trend
    from .conftest import SF_SMALL

    rows = {r["nation"]: r for r in theil_sen_trend(spark, SF_SMALL).collect()}
    daily = duck.execute(
        """
        SELECT n.n_name,
               date_diff('day', DATE '1996-01-01', CAST(o.o_orderdate AS DATE)),
               CAST(sum(CAST(round(o.o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
          AND o.o_orderdate < TIMESTAMP '1997-01-01'
        GROUP BY 1, 2
        """
    ).fetchall()
    by_nation = {}
    for name, d, rev in daily:
        by_nation.setdefault(name, []).append((d, rev))
    for name, pts in by_nation.items():
        pts.sort()
        slopes = sorted(
            ((r2 - r1) / float(d2 - d1), d1, d2)
            for i, (d1, r1) in enumerate(pts)
            for d2, r2 in pts[i + 1:]
        )
        if not slopes:
            assert name not in rows
            continue
        k = (len(slopes) + 1) // 2
        want = round(slopes[k - 1][0] / 100.0, 6)
        assert rows[name]["theil_sen_slope"] == want
        assert rows[name]["n_pairs"] == len(slopes)
        assert rows[name]["n_days"] == len(pts)


def test_randomized_response_debias_identity(spark):
    """The debiased estimate must satisfy the exact algebraic identity
    pi_hat = (r_hat - 0.25) / 0.5 on the emitted counts, and the
    mechanism's epsilon must be ln 3."""
    import math

    from data_warehouse_data_mining_spark.operators.privacy import (
        randomized_response_freq,
    )
    from .conftest import SF_SMALL

    row = randomized_response_freq(spark, SF_SMALL).collect()[0]
    r_hat = row["n_reported"] / row["n_users"]
    assert row["pi_hat"] == round((r_hat - 0.25) / 0.5, 6)
    assert row["epsilon"] == round(math.log(3), 6)
    assert 0 <= row["n_true"] <= row["n_users"]
    # with n in the hundreds the debiased estimate should land near
    # the true rate (variance of RR at p=.75 is 3/n)
    assert row["abs_error"] <= 0.25


def test_conformal_coverage_guarantee(spark):
    """Split-conformal's defining property: with the ceil((n+1)*0.9)-th
    smallest calibration residual as the radius, calibration coverage
    is >= 90% (integer inequality) for EVERY nation — by construction,
    so a single violation means the order statistic is miscomputed."""
    from data_warehouse_data_mining_spark.operators.mining_stats import (
        conformal_interval_calibration,
    )
    from .conftest import SF_SMALL

    rows = conformal_interval_calibration(spark, SF_SMALL).collect()
    assert rows, "no nations calibrated"
    import math

    for r in rows:
        k = min(math.ceil((r["n_cal"] + 1) * 0.9), r["n_cal"])
        assert r["n_covered"] >= k  # at least the order statistic itself
        if math.ceil((r["n_cal"] + 1) * 0.9) <= r["n_cal"]:
            assert r["covers_target"] == 1
            assert r["n_covered"] * 10 >= r["n_cal"] * 9
        assert r["q90_resid"] >= 0


def test_modularity_bounds_and_consistency(spark):
    """Newman modularity lives in [-0.5, 1); sum of per-community
    intra-edges can't exceed total edges; with min-label communities
    (near-connected-components) intra edges dominate, so Q >= 0 here."""
    from data_warehouse_data_mining_spark.operators.graph import graph_modularity
    from .conftest import SF_SMALL

    row = graph_modularity(spark, SF_SMALL).collect()[0]
    assert -0.5 <= row["modularity"] < 1.0
    assert 0 <= row["intra_edges"] <= row["n_edges"]
    assert row["n_communities"] >= 1
    assert row["modularity"] == round(
        row["q_num"] / (4.0 * row["n_edges"] * row["n_edges"]), 6
    )
    assert row["modularity"] >= 0.0


def test_min_labels_on_a_chain_and_a_pair(spark):
    """graph.min_labels on a hand-built graph, a 6-node chain 1-2-…-6
    plus a separate pair 10-11: run to its fixpoint it equals a Python
    union-find's min-id components; one fixed superstep gives each node
    the minimum over itself and its 1-hop neighbours; fixed supersteps
    reach the fixpoint once they cover the chain's diameter (5)."""
    from data_warehouse_data_mining_spark.operators.graph import min_labels

    undirected = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (10, 11)]
    directed = undirected + [(b, a) for a, b in undirected]
    edges = spark.createDataFrame(directed, "src long, dst long")

    root: dict[int, int] = {}

    def find(x: int) -> int:
        while root.setdefault(x, x) != x:
            x = root[x]
        return x

    for a, b in undirected:
        ra, rb = find(a), find(b)
        root[max(ra, rb)] = min(ra, rb)
    components = {n: find(n) for n in root}

    def labels(max_iters: int, **kw) -> dict[int, int]:
        out = min_labels(edges, max_iters, **kw).collect()
        return {r["node"]: r["label"] for r in out}

    assert labels(20, to_fixpoint=True) == components
    one_hop = {n: min([n] + [d for s, d in directed if s == n]) for n in root}
    assert labels(1) == one_hop
    assert labels(5) == components
    assert labels(4)[6] == 2  # one hop short of the diameter


def test_binseg_changepoint_matches_python_mirror(spark, duck):
    """The argmax split recomputed in Python over DuckDB's exact daily
    counts must agree (same f(t)=SL²/nL+SR²/nR objective, earlier-day
    tie-break), and SSE reduction must be nonnegative."""
    from data_warehouse_data_mining_spark.operators.mining_stats import (
        binseg_changepoint,
    )
    from .conftest import SF_SMALL

    row = binseg_changepoint(spark, SF_SMALL).collect()[0]
    daily = duck.execute(
        "SELECT CAST(o_orderdate AS DATE), count(*) FROM orders GROUP BY 1 ORDER BY 1"
    ).fetchall()
    ys = [c for _, c in daily]
    s, n = sum(ys), len(ys)
    best_f, best_t = -1.0, None
    sl = 0
    for t in range(n - 1):
        sl += ys[t]
        f = sl * sl / (t + 1) + (s - sl) * (s - sl) / (n - t - 1)
        if f > best_f:
            best_f, best_t = f, t
    assert row["split_after_day"] == str(daily[best_t][0])
    assert row["n_left"] == best_t + 1 and row["n_right"] == n - best_t - 1
    assert row["sse_reduction"] >= 0


def test_newsvendor_qstar_is_cost_optimal(spark, duck):
    """q* must beat (or tie) BOTH every other empirical demand level
    and the naive round-the-mean policy on exact empirical cost —
    the defining optimality of the critical-ratio quantile."""
    from data_warehouse_data_mining_spark.operators.mining_stats import (
        NV_CO,
        NV_CU,
        newsvendor_order_quantity,
    )
    from .conftest import SF_SMALL

    rows = newsvendor_order_quantity(spark, SF_SMALL).collect()
    assert rows
    weekly = {}
    for brand, d in duck.execute(
        """SELECT p.p_brand, CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT)
           FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
           GROUP BY p.p_brand, date_trunc('week', l.l_shipdate)"""
    ).fetchall():
        weekly.setdefault(brand, []).append(d)

    def cost(q, ds):
        return sum(NV_CO * max(q - d, 0) + NV_CU * max(d - q, 0) for d in ds)

    for r in rows:
        ds = weekly[r["brand"]]
        assert r["cost_qstar"] == cost(r["q_star"], ds)
        assert r["cost_naive"] == cost(r["q_naive"], ds)
        best = min(cost(q, ds) for q in set(ds))
        assert r["cost_qstar"] == best  # quantile optimality
        assert r["cost_qstar"] <= r["cost_naive"]


def test_diff_in_diff_identity_and_mirror(spark, duck):
    """DiD must equal the four reported means' double difference, and
    the t statistic must match a textbook Python recomputation from the
    exact per-user cent panel."""
    import math

    from data_warehouse_data_mining_spark.operators.mining_stats import diff_in_diff
    from .conftest import SF_SMALL

    row = diff_in_diff(spark, SF_SMALL).collect()[0]
    assert abs(
        row["did_estimate"]
        - ((row["post_b"] - row["pre_b"]) - (row["post_a"] - row["pre_a"]))
    ) < 5e-6  # independently rounded means
    panel = duck.execute(
        """
        SELECT CASE WHEN md5(CAST(user_id AS VARCHAR)) < '8'
                    THEN 'A' ELSE 'B' END AS arm,
               CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-15'
                    THEN CAST(round(value*100,0) AS BIGINT) ELSE 0 END) AS BIGINT),
               CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-15'
                    THEN CAST(round(value*100,0) AS BIGINT) ELSE 0 END) AS BIGINT)
        FROM events GROUP BY user_id
        """
    ).fetchall()
    deltas = {"A": [], "B": []}
    for arm, pre, post in panel:
        deltas[arm].append((post - pre) / 100.0)
    mean = lambda xs: sum(xs) / len(xs)
    var = lambda xs: sum((x - mean(xs)) ** 2 for x in xs) / (len(xs) - 1)
    did = mean(deltas["B"]) - mean(deltas["A"])
    se = math.sqrt(
        var(deltas["A"]) / len(deltas["A"]) + var(deltas["B"]) / len(deltas["B"])
    )
    assert abs(row["did_estimate"] - did) < 1e-6
    assert abs(row["t_stat"] - did / se) < 1e-5


def test_kendall_tau_matches_python_mirror(spark, duck):
    """tau-b recomputed with the textbook pair classification in
    Python must agree exactly, and |tau_b| <= 1 with consistent pair
    accounting (c + d + ties <= n_pairs)."""
    import math

    from data_warehouse_data_mining_spark.operators.mining_stats import (
        kendall_tau_daily,
    )
    from .conftest import SF_SMALL

    row = kendall_tau_daily(spark, SF_SMALL).collect()[0]
    daily = duck.execute(
        """SELECT count(*), CAST(sum(CAST(round(o_totalprice*100,0) AS BIGINT)) AS BIGINT)
           FROM orders
           WHERE o_orderdate >= TIMESTAMP '1996-01-01'
             AND o_orderdate < TIMESTAMP '1997-01-01'
           GROUP BY CAST(o_orderdate AS DATE)"""
    ).fetchall()
    nc = nd = tx = ty = 0
    for i, (n1, r1) in enumerate(daily):
        for n2, r2 in daily[i + 1:]:
            p = (n1 - n2) * (r1 - r2)
            if p > 0:
                nc += 1
            elif p < 0:
                nd += 1
            elif n1 == n2 and r1 != r2:
                tx += 1
            elif r1 == r2 and n1 != n2:
                ty += 1
    np_ = len(daily) * (len(daily) - 1) // 2
    assert (row["concordant"], row["discordant"]) == (nc, nd)
    assert (row["ties_x_only"], row["ties_y_only"]) == (tx, ty)
    assert row["n_pairs"] == np_
    want = round((nc - nd) / math.sqrt((np_ - tx) * (np_ - ty)), 6)
    assert row["tau_b"] == want
    assert -1.0 <= row["tau_b"] <= 1.0


def test_durbin_watson_in_valid_range(spark):
    """DW always lies in [0, 4]; on revenue data with a fitted trend it
    should sit in the interior (not exactly 0 or 4)."""
    from data_warehouse_data_mining_spark.operators.mining_stats import (
        durbin_watson_residuals,
    )
    from .conftest import SF_SMALL

    row = durbin_watson_residuals(spark, SF_SMALL).collect()[0]
    assert 0.0 < row["durbin_watson"] < 4.0
    assert row["n_days"] > 100


def test_lorenz_curve_convexity_and_terminal(spark):
    """Lorenz invariants: shares strictly ordered and convex (decile
    increments nondecreasing — poorer deciles add less), final share
    exactly 1.0, customer counts partition into near-equal deciles."""
    from data_warehouse_data_mining_spark.operators.mining_stats import (
        lorenz_curve_deciles,
    )
    from .conftest import SF_SMALL

    rows = lorenz_curve_deciles(spark, SF_SMALL).collect()
    assert [r["decile"] for r in rows] == list(range(1, 11))
    shares = [r["cum_share"] for r in rows]
    assert shares == sorted(shares)
    assert shares[-1] == 1.0
    incr = [shares[0]] + [b - a for a, b in zip(shares, shares[1:])]
    assert all(b >= a - 1e-9 for a, b in zip(incr, incr[1:]))
    sizes = [rows[0]["n_customers"]] + [
        b["n_customers"] - a["n_customers"] for a, b in zip(rows, rows[1:])
    ]
    assert max(sizes) - min(sizes) <= 1


def test_simpson_identity_on_small_frame(spark):
    """Inverse Simpson of a uniform k-type distribution equals ~k, and
    lambda for a single repeated type equals exactly 1."""
    from data_warehouse_data_mining_spark.operators import mining  # noqa: F401
    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM (VALUES"
        " ('d1', 'a b c d a b c d', 'en', 'u', 15),"
        " ('d2', 'x x x x x', 'en', 'mono', 9)"
        ") t(doc_id, text, lang, source, n_chars)"
    )
    from data_warehouse_data_mining_spark.registry import all_queries

    sql = all_queries()["simpson_diversity_by_source"].oracle
    got = {r[0]: r for r in con.execute(sql).fetchall()}
    assert got["mono"][3] == 1.0  # lambda of x^5 is exactly 1
    # uniform 4 types x 2: lambda = 4*2*1/(8*7) = 1/7
    assert got["u"][3] == round(8 * 1 / (8 * 7.0), 6)


def test_hurst_exponent_plausible_and_mirrored(spark, duck):
    """H recomputed in Python with the identical integer R/S pipeline
    must agree exactly; H of a real-ish daily series lies in (0, 1)."""
    import math

    from data_warehouse_data_mining_spark.operators.mining_stats import (
        HURST_WINDOWS,
        _HURST_LNW,
        hurst_rescaled_range,
    )
    from .conftest import SF_SMALL

    rows = hurst_rescaled_range(spark, SF_SMALL).collect()
    ys = [
        c
        for (c,) in duck.execute(
            "SELECT count(*) FROM orders GROUP BY CAST(o_orderdate AS DATE)"
            " ORDER BY CAST(o_orderdate AS DATE)"
        ).fetchall()
    ]
    pts = []
    for w in HURST_WINDOWS:
        micros = []
        for b in range(len(ys) // w):
            blk = ys[b * w : (b + 1) * w]
            s, ss = sum(blk), sum(v * v for v in blk)
            pk, wzs = 0, []
            for k, v in enumerate(blk, 1):
                pk += v
                wzs.append(w * pk - k * s)
            rng = max(max(wzs), 0) - min(min(wzs), 0)
            varw = w * ss - s * s
            if varw > 0 and rng > 0:
                micros.append(
                    math.floor(math.log(rng / math.sqrt(varw)) * 1e6 + 1e-3)
                )
        if micros:
            pts.append((_HURST_LNW[w], sum(micros) / (1e6 * len(micros)), len(micros)))
    k = len(pts)
    sx = sum(x for x, _, _ in pts)
    sy = sum(y for _, y, _ in pts)
    sxx = sum(x * x for x, _, _ in pts)
    sxy = sum(x * y for x, y, _ in pts)
    h = round((k * sxy - sx * sy) / (k * sxx - sx * sx), 6)
    got = {r["w"]: r for r in rows}
    for (x, y, nb), w in zip(pts, HURST_WINDOWS):
        assert got[w]["mean_log_rs"] == round(y, 6)
        assert got[w]["n_blocks"] == nb
        assert got[w]["hurst_exponent"] == h
    assert 0.0 < h < 1.0


def test_shapley_mta_efficiency_axiom(spark, duck):
    """Sum of channel Shapley values (in exact 24ths) must equal
    24 * (v(N) - v(empty)): total conversions attributable to touches."""
    from data_warehouse_data_mining_spark.operators.mining_policy import (
        shapley_touch_attribution,
    )
    from .conftest import SF_SMALL

    rows = shapley_touch_attribution(spark, SF_SMALL).collect()
    assert len(rows) == 4
    vals = duck.execute(
        """
        WITH first_p AS (
          SELECT user_id, min(ts) AS pts FROM events
          WHERE event_type = 'purchase' GROUP BY user_id
        ),
        masks AS (
          SELECT f.user_id,
                 CAST(coalesce(sum(DISTINCT CASE e.event_type
                        WHEN 'click' THEN 1 WHEN 'error' THEN 2
                        WHEN 'signup' THEN 4 WHEN 'view' THEN 8 END), 0)
                      AS BIGINT) AS m
          FROM first_p f
          LEFT JOIN events e ON e.user_id = f.user_id AND e.ts < f.pts
                            AND e.event_type <> 'purchase'
          GROUP BY f.user_id
        )
        SELECT count(*) AS vn, sum(CASE WHEN m = 0 THEN 1 ELSE 0 END) AS v0
        FROM masks
        """
    ).fetchone()
    gain = vals[0] - vals[1]
    assert sum(r["phi_24ths"] for r in rows) == 24 * gain
    for r in rows:
        assert 0 <= r["phi_24ths"] <= 24 * gain


def test_markov_removal_monotone_and_bounded(spark):
    """Removing a channel can only LOWER absorption into conversion
    (edges redirect to null), so every removal effect is in [0, 1];
    base conversion probability is shared across rows and in (0, 1]."""
    from data_warehouse_data_mining_spark.operators.mining_policy import (
        markov_removal_attribution,
    )
    from .conftest import SF_SMALL

    rows = markov_removal_attribution(spark, SF_SMALL).collect()
    assert len(rows) == 4
    bases = {r["p_conv_base"] for r in rows}
    assert len(bases) == 1
    b = bases.pop()
    assert 0.0 < b <= 1.0
    for r in rows:
        assert 0.0 <= r["p_conv_removed"] <= b + 1e-6
        assert 0.0 <= r["removal_effect"] <= 1.0


def test_qini_endpoint_is_overall_uplift(spark, duck):
    """The curve's final point must equal the full-population uplift
    conv_T - conv_C * N_T/N_C, and cumulative counts must partition
    all users."""
    from data_warehouse_data_mining_spark.operators.mining_policy import (
        qini_uplift_curve,
    )
    from .conftest import SF_SMALL

    rows = qini_uplift_curve(spark, SF_SMALL).collect()
    assert [r["decile"] for r in rows] == list(range(1, 11))
    last = rows[-1]
    nt, nc, ct, cc = duck.execute(
        """
        SELECT sum(treated), sum(1 - treated),
               sum(treated * conv), sum((1 - treated) * conv)
        FROM (
          SELECT CASE WHEN md5(CAST(user_id AS VARCHAR)) < '8'
                      THEN 0 ELSE 1 END AS treated,
                 max(CASE WHEN event_type = 'purchase'
                          AND ts >= TIMESTAMP '2024-01-15'
                          THEN 1 ELSE 0 END) AS conv
          FROM events GROUP BY user_id)
        """
    ).fetchone()
    assert last["n_treated_cum"] == nt and last["n_control_cum"] == nc
    assert last["conv_treated_cum"] == ct and last["conv_control_cum"] == cc
    assert last["qini"] == round(ct - cc * (nt / nc), 6)


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=50),   # inter-demand interval
            st.integers(min_value=1, max_value=10**6)  # demand size
        ),
        min_size=1,
        max_size=40,
    ),
    st.integers(min_value=0, max_value=40),
)
def test_croston_walk_is_batch_split_invariant(events, cut):
    """Folding croston_step over the whole occurrence list equals
    folding the prefix, carrying (z, p), then folding the suffix — the
    stream≡batch identity that makes the walker restartable from
    checkpointed state; state also stays within the observed ranges."""
    from data_warehouse_data_mining_spark.operators.udfs import croston_step

    def fold(state, evs):
        z, p = state
        for q, x in evs:
            z, p = croston_step(z, p, x, q)
        return z, p

    q0, x0 = events[0]
    init = (x0, q0)
    rest = events[1:]
    cut = cut % (len(rest) + 1)
    whole = fold(init, rest)
    split = fold(fold(init, rest[:cut]), rest[cut:])
    assert whole == split
    zs = [x for _, x in events]
    qs = [q for q, _ in events]
    assert min(zs) <= whole[0] <= max(zs)
    assert min(qs) <= whole[1] <= max(qs)


def test_nelson_aalen_dominates_km(spark):
    """Fleming-Harrington survival exp(-H) >= Kaplan-Meier at every
    lifetime (e^-x >= 1-x per term), H is nondecreasing, and both
    estimators share the identical risk-set table."""
    from data_warehouse_data_mining_spark.operators.mining import survival_km_curve
    from data_warehouse_data_mining_spark.operators.mining_policy import (
        nelson_aalen_hazard,
    )
    from .conftest import SF_SMALL

    na = {r["t_days"]: r for r in nelson_aalen_hazard(spark, SF_SMALL).collect()}
    km = {r["t_days"]: r for r in survival_km_curve(spark, SF_SMALL).collect()}
    assert set(na) == set(km)
    prev_h = 0.0
    for t in sorted(na):
        assert na[t]["n_risk"] == km[t]["n_risk"]
        assert na[t]["cum_hazard"] >= prev_h - 1e-9
        prev_h = na[t]["cum_hazard"]
        assert na[t]["na_survival"] >= km[t]["km_survival"] - 1e-6
        assert na[t]["hazard_variance"] >= 0


def test_mcnemar_cells_partition_users(spark, duck):
    """The four contingency cells must partition all users, and the
    continuity-corrected statistic never exceeds the raw chi2."""
    from data_warehouse_data_mining_spark.operators.mining_policy import (
        mcnemar_paired_conversion,
    )
    from .conftest import SF_SMALL

    r = mcnemar_paired_conversion(spark, SF_SMALL).collect()[0]
    n = duck.execute("SELECT count(DISTINCT user_id) FROM events").fetchone()[0]
    assert (
        r["converted_both"] + r["pre_only"] + r["post_only"] + r["neither"]
        == n == r["n_users"]
    )
    assert r["mcnemar_chi2_cc"] <= r["mcnemar_chi2"] + 1e-9
    assert r["mcnemar_chi2"] >= 0


def test_cramers_v_bounded_and_consistent_with_mi(spark):
    """0 <= V <= 1; dof == (r-1)(k-1); and with MI also computed on
    the same pair, both dependence measures must agree on direction
    (V ~ 0 iff MI ~ 0)."""
    from data_warehouse_data_mining_spark.operators.quality import (
        cramers_v_lang_source,
        mutual_information_lang_source,
    )
    from .conftest import SF_SMALL

    v = cramers_v_lang_source(spark, SF_SMALL).collect()[0]
    mi = mutual_information_lang_source(spark, SF_SMALL).collect()[0]
    assert 0.0 <= v["cramers_v"] <= 1.0
    assert v["n_docs"] == mi["n_docs"]
    near_zero_v = v["cramers_v"] < 0.05
    near_zero_mi = abs(mi["mi_nats"]) < 0.01
    assert near_zero_v == near_zero_mi


def test_woe_iv_identities(spark):
    """IV must equal the sum of per-segment contributions, every
    contribution is nonnegative (dpct and WoE share sign), and the
    shared iv_total is identical on every row."""
    from data_warehouse_data_mining_spark.operators.mining_policy import (
        woe_information_value,
    )
    from .conftest import SF_SMALL

    rows = woe_information_value(spark, SF_SMALL).collect()
    assert rows
    totals = {r["iv_total"] for r in rows}
    assert len(totals) == 1
    iv = totals.pop()
    assert abs(iv - sum(r["iv_contribution"] for r in rows)) < 5e-6
    for r in rows:
        assert r["iv_contribution"] >= -1e-9


def test_mix_rate_decomposition_identity(spark, duck):
    """The decomposition must be exact: sum(mix + rate) equals the
    actual change in overall mean order value between the two years."""
    from data_warehouse_data_mining_spark.operators.mining_policy import (
        mix_rate_decomposition,
    )
    from .conftest import SF_SMALL

    rows = mix_rate_decomposition(spark, SF_SMALL).collect()
    deltas = {r["delta_total_mean"] for r in rows}
    assert len(deltas) == 1
    got = deltas.pop()
    m96, m97 = duck.execute(
        """
        SELECT
          sum(CASE WHEN year(o_orderdate)=1996
              THEN CAST(round(o_totalprice*100,0) AS BIGINT) END) * 1.0
            / (100 * count(*) FILTER (year(o_orderdate)=1996)),
          sum(CASE WHEN year(o_orderdate)=1997
              THEN CAST(round(o_totalprice*100,0) AS BIGINT) END) * 1.0
            / (100 * count(*) FILTER (year(o_orderdate)=1997))
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1998-01-01'
        """
    ).fetchone()
    assert abs(got - (m97 - m96)) < 5e-6
    assert abs(got - sum(r["mix_effect"] + r["rate_effect"] for r in rows)) < 5e-5


def test_brown_forsythe_matches_python_mirror(spark, duck):
    """The F statistic recomputed in Python from the exact half-cent
    deviations (textbook two-group ANOVA on |x - median|) must agree,
    and F must be nonnegative."""
    from data_warehouse_data_mining_spark.operators.mining_policy import (
        brown_forsythe_variance,
    )
    from .conftest import SF_SMALL

    row = brown_forsythe_variance(spark, SF_SMALL).collect()[0]
    per = _arm_cents(duck)
    arms = {"A": [], "B": []}
    for arm, c in per:
        arms[arm].append(c)

    def median2(xs):
        xs = sorted(xs)
        n = len(xs)
        if n % 2:
            return 2 * xs[n // 2]
        return xs[n // 2 - 1] + xs[n // 2]

    z = {a: [abs(2 * c - median2(v)) for c in v] for a, v in arms.items() for v in [v]}
    na, nb = len(z["A"]), len(z["B"])
    sa, sb = sum(z["A"]), sum(z["B"])
    ssa = sum(x * x for x in z["A"])
    ssb = sum(x * x for x in z["B"])
    ssw = (ssa - sa * sa / na) + (ssb - sb * sb / nb)
    d = sa / na - sb / nb
    ssb_g = na * nb / (na + nb) * d * d
    f = (na + nb - 2) * ssb_g / ssw
    assert row["n_a"] == na and row["n_b"] == nb
    assert abs(row["bf_f_statistic"] - f) < 1e-4
    assert row["bf_f_statistic"] >= 0
    assert row["mean_absdev_a"] == round(sa / (na * 200), 6)


def test_cooks_distance_properties(spark):
    """Top-10 Cook's distances are nonnegative, sorted descending with
    day tie-breaks, and every leverage lies in (0, 1)."""
    from data_warehouse_data_mining_spark.operators.mining_policy import (
        cooks_distance_trend,
    )
    from .conftest import SF_SMALL

    rows = cooks_distance_trend(spark, SF_SMALL).collect()
    assert len(rows) == 10
    ds = [r["cooks_d"] for r in rows]
    assert ds == sorted(ds, reverse=True)
    for r in rows:
        assert r["cooks_d"] >= 0
        assert 0.0 < r["leverage"] < 1.0


def test_weekday_seasonality_r2_bounds(spark):
    """ANOVA R² lies in [0, 1] by construction; total variance > 0 on
    real data; exactly 7 weekday groups."""
    from data_warehouse_data_mining_spark.operators.mining_policy import (
        weekday_seasonality_strength,
    )
    from .conftest import SF_SMALL

    r = weekday_seasonality_strength(spark, SF_SMALL).collect()[0]
    assert 0.0 <= r["seasonal_r2"] <= 1.0
    assert r["total_variance"] > 0
    assert r["n_groups"] == 7


def test_mann_kendall_consistency(spark):
    """S is bounded by the pair count, Var(S) is positive, and the 5%
    flag agrees with |Z| >= 1.959964 recomputed from the row's own
    columns (continuity correction folded in)."""
    import math

    from data_warehouse_data_mining_spark.operators.mining_policy import (
        mann_kendall_trend,
    )
    from .conftest import SF_SMALL

    rows = mann_kendall_trend(spark, SF_SMALL).collect()
    assert len(rows) > 0
    for r in rows:
        n = r["n_days"]
        assert abs(r["s_stat"]) <= n * (n - 1) // 2
        assert r["var_s"] > 0
        z = r["z_score"]
        assert (abs(z) > 1.959964 - 1e-6) == bool(r["significant_5pct"]) or (
            abs(abs(z) - 1.959964) < 1e-3
        )
        # z recomputation within rounding tolerance
        s_adj = r["s_stat"] - (1 if r["s_stat"] > 0 else -1 if r["s_stat"] < 0 else 0)
        assert abs(z - s_adj / math.sqrt(r["var_s"])) < 1e-4


def test_page_hinkley_invariants(spark):
    """PH_t is nonnegative, alarms agree with the λ comparison, and the
    running-min identity holds when replayed in Python over the emitted
    m_micro walk."""
    from data_warehouse_data_mining_spark.operators.mining_policy import (
        PH_LAMBDA_MICRO,
        page_hinkley_drift,
    )
    from .conftest import SF_SMALL

    rows = page_hinkley_drift(spark, SF_SMALL).collect()
    assert len(rows) > 100
    run_min = None
    for r in rows:
        run_min = r["m_micro"] if run_min is None else min(run_min, r["m_micro"])
        assert r["ph_micro"] == r["m_micro"] - run_min
        assert r["ph_micro"] >= 0
        assert bool(r["alarm"]) == (r["ph_micro"] > PH_LAMBDA_MICRO)


def test_dyadic_quantile_sketch_bound_and_merge(spark):
    """The sketch's rank->value bound holds (within_bound all 1, and the
    exact value really is the type-1 quantile recomputed in Python),
    and the summary MERGES: bucket counts built on two disjoint halves
    of orders add cell-wise to the whole-table sketch."""
    from pyspark.sql import functions as F

    from data_warehouse_data_mining_spark.catalog import load
    from data_warehouse_data_mining_spark.operators.sketches import (
        QD_WIDTH,
        dyadic_quantile_sketch,
    )
    from .conftest import SF_SMALL

    rows = dyadic_quantile_sketch(spark, SF_SMALL).collect()
    assert [r["q_label"] for r in rows] == ["p50", "p90", "p99"]
    o = load(spark, SF_SMALL).orders
    cents = sorted(
        r["v"]
        for r in o.select(
            F.expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)").alias("v")
        ).collect()
    )
    for r in rows:
        assert r["within_bound"] == 1
        assert r["est_hi_cents"] - r["est_lo_cents"] == QD_WIDTH - 1
        assert r["n_total"] == len(cents)
        assert r["exact_cents"] == cents[r["target_rank"] - 1]
        assert r["est_lo_cents"] <= r["exact_cents"] <= r["est_hi_cents"]

    def sketch_of(df):
        out = (
            df.select(F.expr(f"CAST(round(o_totalprice * 100, 0) AS BIGINT) div {QD_WIDTH}").alias("b"))
            .groupBy("b")
            .count()
            .collect()
        )
        return {r["b"]: r["count"] for r in out}

    whole = sketch_of(o)
    lo = sketch_of(o.filter(F.col("o_orderkey") % 2 == 0))
    hi = sketch_of(o.filter(F.col("o_orderkey") % 2 == 1))
    merged: dict = {}
    for part in (lo, hi):
        for b, n in part.items():
            merged[b] = merged.get(b, 0) + n
    assert merged == whole


def test_ams_f2_sketch_merge_and_error(spark):
    """Per-seed signed sums built on disjoint halves of the corpus add
    to the whole-corpus sums (the mergeable state), and the registered
    query's estimate reproduces from those sums."""
    from pyspark.sql import functions as F

    from data_warehouse_data_mining_spark.catalog import load
    from data_warehouse_data_mining_spark.operators.sketches import (
        AMS_SEEDS,
        ams_f2_sketch,
    )
    from .conftest import SF_SMALL

    d = load(spark, SF_SMALL).documents

    def signed_sums(df):
        tok = df.select(F.explode(F.split("text", " ")).alias("w"))
        counts = tok.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
        seeds = F.explode(F.array(*[F.lit(s) for s in AMS_SEEDS])).alias("s")
        sign = F.when(
            F.substring(
                F.md5(F.concat(F.col("w"), F.lit(":"), F.col("s").cast("string"))),
                1,
                1,
            ).isin(*"02468ace"),
            F.col("c"),
        ).otherwise(-F.col("c"))
        out = counts.select("w", "c", seeds).groupBy("s").agg(
            F.sum(sign).alias("sgn_sum")
        ).collect()
        return {r["s"]: r["sgn_sum"] for r in out}

    whole = signed_sums(d)
    lo = signed_sums(d.filter(F.col("doc_id") % 2 == 0))
    hi = signed_sums(d.filter(F.col("doc_id") % 2 == 1))
    assert {s: lo.get(s, 0) + hi.get(s, 0) for s in AMS_SEEDS} == whole

    row = ams_f2_sketch(spark, SF_SMALL).collect()[0]
    est_from_sums = sum(float(v) * v for v in whole.values()) / len(AMS_SEEDS)
    assert abs(row["f2_est"] - round(est_from_sums, 2)) < 1e-9
    assert row["f2_exact"] > 0 and row["rel_err"] >= 0


def test_isotonic_calibration_pav_properties(spark):
    """The minimax fit is monotone non-decreasing, stays inside the raw
    rate range, preserves the weighted mean (the PAV invariant), and
    matches a sequential pool-adjacent-violators replay in Python."""
    from data_warehouse_data_mining_spark.operators.mining_policy import (
        isotonic_calibration,
    )
    from .conftest import SF_SMALL

    rows = isotonic_calibration(spark, SF_SMALL).collect()
    assert len(rows) == 11
    fits = [r["fitted_rate"] for r in rows]
    assert fits == sorted(fits)
    assert min(r["raw_rate"] for r in rows) <= fits[0]
    assert fits[-1] <= max(r["raw_rate"] for r in rows)
    w_raw = sum(r["n"] * r["raw_rate"] for r in rows)
    w_fit = sum(r["n"] * r["fitted_rate"] for r in rows)
    assert abs(w_raw - w_fit) / w_raw < 1e-4  # 6-dp rounding slack

    # sequential PAV replay
    blocks = [[r["n"] * r["raw_rate"], r["n"]] for r in rows]
    pooled: list = []
    for y, w in blocks:
        pooled.append([y, w])
        while len(pooled) > 1 and (
            pooled[-2][0] / pooled[-2][1] >= pooled[-1][0] / pooled[-1][1]
        ):
            y2, w2 = pooled.pop()
            pooled[-1][0] += y2
            pooled[-1][1] += w2
    # expand pooled blocks back to 11 fitted values by weight
    replay = []
    i = 0
    for y, w in pooled:
        acc = 0
        while i < len(rows) and acc < w - 1e-9:
            acc += rows[i]["n"]
            replay.append(y / w)
            i += 1
    assert len(replay) == 11
    for got, exp in zip(fits, replay):
        assert abs(got - exp) < 1e-5


def test_join_cardinality_formula_is_exact(spark):
    """sum(cnt^2) from per-key counts equals the materialized self-join
    count — the formula the advisor sells — and skew_ratio >= 1
    (Cauchy-Schwarz: sum cnt^2 >= n^2/ndv)."""
    from data_warehouse_data_mining_spark.operators.quality import (
        join_cardinality_advisor,
    )
    from .conftest import SF_SMALL

    r = join_cardinality_advisor(spark, SF_SMALL).collect()[0]
    assert r["predicted_join_rows"] == r["actual_join_rows"]
    assert r["skew_ratio"] >= 1.0
    assert r["max_key_multiplicity"] >= r["n_rows"] / r["ndv_keys"] - 1e-9


def test_ips_policy_eval_invariants(spark):
    """SNIPS >= ... relationships and a pure-Python replay of the
    estimator over the exact (hour, action) cells: IPS/SNIPS totals,
    greedy-policy match rate, and the self-normalization identity
    (SNIPS denominator = sum of matched contexts' n_h)."""
    from pyspark.sql import functions as F

    from data_warehouse_data_mining_spark.catalog import load
    from data_warehouse_data_mining_spark.operators.mining_policy import (
        ips_offline_policy_eval,
    )
    from .conftest import SF_SMALL

    row = ips_offline_policy_eval(spark, SF_SMALL).collect()[0]
    cells = (
        load(spark, SF_SMALL)
        .events.select(
            F.hour("ts").alias("h"),
            F.col("event_type").alias("a"),
            F.expr("CAST(round(value * 100, 0) AS BIGINT)").alias("r"),
        )
        .groupBy("h", "a")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("r").alias("s"))
        .collect()
    )
    by_h: dict = {}
    for c in cells:
        by_h.setdefault(c["h"], []).append((c["a"], c["n"], c["s"]))
    n_rounds = sum(c["n"] for c in cells)
    ips_micro = 0
    snips_denom = 0
    n_matched = 0
    for h, acts in by_h.items():
        n_h = sum(n for _, n, _ in acts)
        pi_a = max(acts, key=lambda t: (t[2] / t[1], ""))  # avg desc
        # tie-break min action among equal avgs
        best_avg = max(t[2] / t[1] for t in acts)
        pi_a = min(t[0] for t in acts if t[2] / t[1] == best_avg)
        for a, n, s in acts:
            if a == pi_a:
                ips_micro += (s * 1000 * n_h) // n
                snips_denom += n_h
                n_matched += n
    assert row["n_rounds"] == n_rounds
    assert abs(row["ips_value_dollars"] - round(ips_micro / (100000.0 * n_rounds), 6)) < 1e-9
    assert abs(row["snips_value_dollars"] - round(ips_micro / (100000.0 * snips_denom), 6)) < 1e-9
    assert abs(row["match_rate"] - round(n_matched / n_rounds, 6)) < 1e-9
    # the greedy policy must look at least as good as the behavior
    # policy under SNIPS (it was picked greedily from the same data)
    assert row["snips_value_dollars"] >= row["direct_avg_dollars"] - 1e-6


def test_brier_murphy_identity(spark):
    """Brier = REL - RES + UNC holds to fixed-point truncation, every
    component is in its valid range, and shrinkage makes reliability
    strictly positive."""
    from data_warehouse_data_mining_spark.operators.mining_policy import (
        brier_decomposition,
    )
    from .conftest import SF_SMALL

    r = brier_decomposition(spark, SF_SMALL).collect()[0]
    assert 0 < r["base_rate"] < 1
    assert abs(r["uncertainty"] - r["base_rate"] * (1 - r["base_rate"])) < 1e-6
    assert r["reliability"] > 0  # quantized forecaster is miscalibrated
    assert 0 <= r["resolution"] <= r["uncertainty"] + 1e-9
    # Murphy identity with slack for the 1e-9 fixed-point floors (11
    # buckets x 1e-9 each) plus the 6-dp output rounding
    assert abs(r["brier_score"] - (r["reliability"] - r["resolution"] + r["uncertainty"])) < 5e-6


def test_stratified_att_sums_and_confounding(spark):
    """ATT contributions are weight x diff per stratum, weights sum to
    1, and the adjusted ATT differs from the naive pooled difference
    (the confounder is real in this panel)."""
    from data_warehouse_data_mining_spark.operators.mining_policy import (
        stratified_att_adjustment,
    )
    from .conftest import SF_MEDIUM

    rows = stratified_att_adjustment(spark, SF_MEDIUM).collect()
    assert len(rows) == 3
    assert abs(sum(r["att_weight"] for r in rows) - 1.0) < 1e-4
    for r in rows:
        assert r["n_treated"] > 0 and r["n_control"] > 0
        assert (
            abs(r["att_contrib_dollars"] - r["diff_dollars"] * r["att_weight"])
            < 0.02
        )
    att = sum(r["att_contrib_dollars"] for r in rows)
    sy_t = sum(r["mean_treated_dollars"] * r["n_treated"] for r in rows)
    sy_c = sum(r["mean_control_dollars"] * r["n_control"] for r in rows)
    n_t = sum(r["n_treated"] for r in rows)
    n_c = sum(r["n_control"] for r in rows)
    naive = sy_t / n_t - sy_c / n_c
    assert abs(att - naive) > 1.0  # dollars: adjustment moves the answer


def test_grouped_split_zero_leakage(spark):
    """Group assignment never straddles an entity; row-level assignment
    on the same data does; per-split counts partition the table."""
    from data_warehouse_data_mining_spark.catalog import load
    from data_warehouse_data_mining_spark.operators.relational import (
        grouped_holdout_split,
    )
    from .conftest import SF_SMALL

    rows = grouped_holdout_split(spark, SF_SMALL).collect()
    assert [r["split"] for r in rows] == ["test", "train"]
    assert all(r["group_leak_customers"] == 0 for r in rows)
    assert all(r["rowlevel_leak_customers"] > 0 for r in rows)
    o = load(spark, SF_SMALL).orders
    assert sum(r["n_orders"] for r in rows) == o.count()
    assert sum(r["n_customers"] for r in rows) == o.select("o_custkey").distinct().count()


def test_dr_policy_eval_crossfit_replay(spark):
    """Python replay of the cross-fitted DR estimator over the exact
    fold cells matches, and the in-sample correction telescopes to
    zero (the degeneracy cross-fitting exists to avoid)."""
    from pyspark.sql import functions as F

    from data_warehouse_data_mining_spark.catalog import load
    from data_warehouse_data_mining_spark.operators.mining_policy import (
        dr_policy_eval_crossfit,
    )
    from .conftest import SF_SMALL

    row = dr_policy_eval_crossfit(spark, SF_SMALL).collect()[0]
    cells = (
        load(spark, SF_SMALL)
        .events.select(
            F.hour("ts").alias("h"),
            F.col("event_type").alias("a"),
            F.expr("CAST(round(value * 100, 0) AS BIGINT)").alias("r"),
            (F.col("event_id") % 2).cast("int").alias("fold"),
        )
        .groupBy("h", "a", "fold")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("r").alias("s"))
        .collect()
    )
    A: dict = {}
    B: dict = {}
    for c in cells:
        (A if c["fold"] == 0 else B)[(c["h"], c["a"])] = (c["n"], c["s"])
    hours = sorted({h for h, _ in A})
    pi = {}
    for h in hours:
        acts = [(a, n, s) for (hh, a), (n, s) in A.items() if hh == h]
        best = max(s / n for _, n, s in acts)
        pi[h] = min(a for a, n, s in acts if s / n == best)
    n_eval = sum(n for (h, a), (n, s) in B.items())
    n_h = {h: sum(n for (hh, _), (n, _) in B.items() if hh == h) for h in hours}
    dm = sum((n_h[h] * A[(h, pi[h])][1] * 1000) // A[(h, pi[h])][0] for h in hours)
    corr = 0
    matched = 0
    for (h, a), (nb, sb) in B.items():
        if a == pi[h]:
            npi, spi = A[(h, pi[h])]
            corr += ((sb * npi - nb * spi) * 1000 * n_h[h]) // (npi * nb)
            matched += nb
    assert row["n_eval_rounds"] == n_eval
    assert abs(row["dm_value_dollars"] - round(dm / (100000.0 * n_eval), 6)) < 1e-9
    assert (
        abs(row["dr_value_dollars"] - round((dm + corr) / (100000.0 * n_eval), 6))
        < 1e-9
    )
    assert abs(row["match_rate"] - round(matched / n_eval, 6)) < 1e-9
    # in-sample degeneracy: with Q fitted on the SAME cells it
    # corrects, every matched-cell numerator s*n - n*s vanishes and
    # DR collapses to DM — the degeneracy the fold split avoids
    in_sample_corr = sum(
        ((sb * nb - nb * sb) * 1000 * n_h[h]) // (nb * nb)
        for (h, a), (nb, sb) in B.items()
        if a == pi[h]
    )
    assert in_sample_corr == 0


def test_bh_fdr_stepup_properties(spark):
    """BH structure: the threshold ladder strictly decreases with
    rank, the rejection set is exactly the prefix 1..k_max, and k_max
    replays correctly from the emitted (abs_z, threshold) pairs."""
    from data_warehouse_data_mining_spark.operators.mining_policy import (
        BH_Z_LADDER,
        bh_fdr_nation_tests,
    )
    from .conftest import SF_MEDIUM

    rows = bh_fdr_nation_tests(spark, SF_MEDIUM).collect()
    assert len(rows) == 25
    assert [r["rank"] for r in rows] == list(range(1, 26))
    thr = [r["z_threshold"] for r in rows]
    assert thr == sorted(thr, reverse=True)
    assert thr == list(BH_Z_LADDER)
    zs = [r["abs_z"] for r in rows]
    assert zs == sorted(zs, reverse=True)
    k_max = max((r["rank"] for r in rows if r["abs_z"] >= r["z_threshold"]), default=0)
    for r in rows:
        assert r["rejected"] == (1 if r["rank"] <= k_max else 0)
    # step-up can reject tests whose own |z| is below their threshold
    # (that's the point) but every rejected test has rank <= k_max
    assert sum(r["rejected"] for r in rows) == k_max


def test_msprt_always_valid_properties(spark):
    """The running-max ln(Lambda) is non-decreasing (so the always-
    valid p is non-increasing), p_micro = exp(-max) within the micro
    guard, and the rejection flag replays from the baked ln(1/alpha)
    literal."""
    import math

    from data_warehouse_data_mining_spark.operators.mining_policy import (
        MSPRT_LN_INV_ALPHA_MICRO,
        msprt_always_valid_monitor,
    )
    from .conftest import SF_MEDIUM

    rows = msprt_always_valid_monitor(spark, SF_MEDIUM).collect()
    assert [r["month"] for r in rows] == list(range(1, 13))
    maxes = [r["ln_lambda_max_micro"] for r in rows]
    assert maxes == sorted(maxes)
    ps = [r["always_valid_p_micro"] for r in rows]
    assert ps == sorted(ps, reverse=True)
    run = None
    for r in rows:
        run = r["ln_lambda_micro"] if run is None else max(run, r["ln_lambda_micro"])
        assert r["ln_lambda_max_micro"] == run
        expect_p = math.floor(
            min(1e6, math.exp(-run / 1e6) * 1e6) + 1e-3
        )
        assert abs(r["always_valid_p_micro"] - expect_p) <= 1
        assert r["reject_5pct"] == (1 if run >= MSPRT_LN_INV_ALPHA_MICRO else 0)
        # arms accumulate monotonically
    ns = [(r["n_a"], r["n_b"]) for r in rows]
    assert ns == sorted(ns)


def test_power_analysis_scaling_laws(spark):
    """n scales inversely with MDE^2 (1% needs ~4x the 2% size, ~25x
    the 5% size, exactly up to ceil), and the formula replays from the
    emitted mean/sigma."""
    import math

    from data_warehouse_data_mining_spark.operators.mining_policy import (
        PWR_Z_SUM,
        sample_size_power_analysis,
    )
    from .conftest import SF_MEDIUM

    rows = sample_size_power_analysis(spark, SF_MEDIUM).collect()
    assert len(rows) == 75
    by_nation: dict = {}
    for r in rows:
        by_nation.setdefault(r["nation"], {})[r["mde_pct"]] = r
    for nation, d in by_nation.items():
        assert set(d) == {1, 2, 5}
        n1, n2, n5 = d[1]["n_per_arm"], d[2]["n_per_arm"], d[5]["n_per_arm"]
        assert n1 > n2 > n5 > 0
        # inverse-square law up to ceil rounding
        assert abs(n1 - 4 * n2) <= 4
        assert abs(n1 - 25 * n5) <= 25
        r = d[2]
        sigma, mean = r["sigma_dollars"], r["baseline_mean_dollars"]
        delta = mean * 0.02
        expect = math.ceil(2 * sigma * sigma * PWR_Z_SUM**2 / delta**2)
        # 4-dp rounding of sigma/mean vs exact internal values
        assert abs(r["n_per_arm"] - expect) / expect < 0.01


def test_jl_projection_replay(spark):
    """Numpy replay of the baked ±1 projection and the expansion-form
    distances reproduces every emitted statistic (within the fixed-
    point guard), and distortion concentrates in a sane band."""
    import math

    import numpy as np

    from data_warehouse_data_mining_spark.catalog import load
    from data_warehouse_data_mining_spark.functions import vectors as V  # noqa: F401
    from data_warehouse_data_mining_spark.operators.similarity import (
        _JL_SIGNS,
        JL_K,
        JL_PAIR_IDS,
        jl_projection_distortion_audit,
    )
    from .conftest import SF_SMALL

    row = jl_projection_distortion_audit(spark, SF_SMALL).collect()[0]
    vecs = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in load(spark, SF_SMALL)
        .embeddings.filter(f"vec_id < {JL_PAIR_IDS}")
        .collect()
    }
    S = np.array(_JL_SIGNS)
    micro = []
    ids = sorted(vecs)
    for i, ia in enumerate(ids):
        for ib in ids[i + 1 :]:
            va, vb = vecs[ia], vecs[ib]
            pa, pb = S @ va, S @ vb
            d2o = va @ va - 2 * (va @ vb) + vb @ vb
            d2p = pa @ pa - 2 * (pa @ pb) + pb @ pb
            micro.append(math.floor(d2p / (JL_K * d2o) * 1e6 + 1e-3))
    assert row["n_pairs"] == len(micro)
    # numpy dot associates differently from the left-to-right fold, so
    # allow the fixed-point cell to move by a few micro units
    assert abs(row["min_distortion_micro"] - min(micro)) <= 5
    assert abs(row["max_distortion_micro"] - max(micro)) <= 5
    assert abs(row["mean_distortion"] - sum(micro) / len(micro) / 1e6) < 1e-4
    assert row["min_distortion_micro"] > 0
    assert 0.5 < row["mean_distortion"] < 1.5
    assert 0 < row["share_within_30pct"] <= 1


def test_dp_user_bounding_properties(spark):
    """The clip is real (capped <= raw, capped <= users*C total), the
    clipped histogram replays from a per-user first-C selection in
    Python, and noise replays from the seeded md5-dyadic Laplace."""
    import hashlib
    import math

    from data_warehouse_data_mining_spark.catalog import load
    from data_warehouse_data_mining_spark.operators.privacy import (
        DPU_CAP,
        DPU_SCALE,
        dp_user_bounded_event_counts,
    )
    from .conftest import SF_SMALL

    rows = dp_user_bounded_event_counts(spark, SF_SMALL).collect()
    ev = load(spark, SF_SMALL).events.select(
        "user_id", "ts", "event_id", "event_type"
    ).collect()
    by_user: dict = {}
    for r in ev:
        by_user.setdefault(r["user_id"], []).append(r)
    capped_hist: dict = {}
    for u, items in by_user.items():
        items.sort(key=lambda r: (r["ts"], r["event_id"]))
        for r in items[:DPU_CAP]:
            capped_hist[r["event_type"]] = capped_hist.get(r["event_type"], 0) + 1
    n_users = len(by_user)
    assert sum(capped_hist.values()) <= n_users * DPU_CAP
    for r in rows:
        assert r["capped_n"] == capped_hist.get(r["event_type"], 0)
        assert r["capped_n"] <= r["raw_n"]
        m = hashlib.md5(f"dpu|{r['event_type']}".encode()).hexdigest()
        b1 = int(m[:8], 16)
        c = (b1 + 0.5) / 4294967296.0 - 0.5
        noise = -DPU_SCALE * math.copysign(1.0, c) * math.log(1 - 2 * abs(c))
        noise_micro = math.floor(noise * 1e6 + 1e-3)
        assert r["released_count_micro"] == r["capped_n"] * 1_000_000 + noise_micro


def test_ipf_raking_convergence(spark):
    """After the final source scaling, source marginals equal the
    target exactly up to cumulative floor loss, lang marginals are
    within IPF's convergence gap, weights are nonnegative, and a pure-
    Python integer replay walks the identical trajectory."""
    from data_warehouse_data_mining_spark.operators.curation import (
        _IPF_PPM,
        IPF_ROUNDS,
        ipf_raking_weights,
    )
    from .conftest import SF_MEDIUM

    rows = ipf_raking_weights(spark, SF_MEDIUM).collect()
    langs = sorted({r["lang"] for r in rows})
    sources = sorted({r["source"] for r in rows})
    t_lang = _IPF_PPM // len(langs)
    t_source = _IPF_PPM // len(sources)
    # integer replay
    w = {(r["lang"], r["source"]): None for r in rows}
    n = {(r["lang"], r["source"]): r["n_docs"] for r in rows}
    total = sum(n.values())
    w = {k: (v * _IPF_PPM) // total for k, v in n.items()}
    for _ in range(IPF_ROUNDS):
        for dim, target in ((0, t_lang), (1, t_source)):
            sums: dict = {}
            for k, v in w.items():
                sums[k[dim]] = sums.get(k[dim], 0) + v
            w = {k: (v * target) // sums[k[dim]] for k, v in w.items()}
    for r in rows:
        assert r["weight_ppm"] == w[(r["lang"], r["source"])]
        assert r["weight_ppm"] >= 0
    for sname in sources:
        got = sum(v for k, v in w.items() if k[1] == sname)
        assert t_source - len(langs) <= got <= t_source
        assert any(
            r["source_total_ppm"] == got for r in rows if r["source"] == sname
        )
    for lname in langs:
        got = sum(v for k, v in w.items() if k[0] == lname)
        # round-3 convergence: within 1% of the lang target
        assert abs(got - t_lang) < t_lang * 0.01


def test_rake_keyphrases_replay(spark):
    """Pure-Python RAKE replay (stopword-split phrases, deg/freq word
    scores at 1e-6 fixed point, integer phrase sums) reproduces the
    emitted top-20 exactly."""
    from data_warehouse_data_mining_spark.catalog import load
    from data_warehouse_data_mining_spark.operators.text import (
        RAKE_TOP_K,
        STOPWORDS,
        rake_keyphrases,
    )
    from .conftest import SF_SMALL

    rows = rake_keyphrases(spark, SF_SMALL).collect()
    docs = load(spark, SF_SMALL).documents.select("doc_id", "text").collect()
    freq: dict = {}
    deg: dict = {}
    occurrences: dict = {}
    phrase_words: dict = {}
    for r in docs:
        phrase: list = []
        phrases_here = []
        for w in r["text"].split(" ") + [STOPWORDS[0]]:
            if w in STOPWORDS:
                if phrase:
                    phrases_here.append(tuple(phrase))
                phrase = []
            else:
                phrase.append(w)
        for p in phrases_here:
            occurrences[" ".join(p)] = occurrences.get(" ".join(p), 0) + 1
            phrase_words[" ".join(p)] = p
            for w in p:
                freq[w] = freq.get(w, 0) + 1
                deg[w] = deg.get(w, 0) + len(p)
    wscore = {w: (deg[w] * 1_000_000) // freq[w] for w in freq}
    pscore = {
        t: sum(wscore[w] for w in ws) for t, ws in phrase_words.items()
    }
    expect = sorted(pscore.items(), key=lambda kv: (-kv[1], kv[0]))[:RAKE_TOP_K]
    assert [(r["phrase"], r["score_micro"]) for r in rows] == expect
    for r in rows:
        assert r["n_occurrences"] == occurrences[r["phrase"]]
    assert [r["rank"] for r in rows] == list(range(1, RAKE_TOP_K + 1))


def test_wand_pruning_safety(spark):
    """The max-score bound is safe: every exact top-10 document
    survives the prune (flag pinned 1), the candidate set is a strict
    subset when any document misses a term, and theta is the 10th
    exact score."""
    from data_warehouse_data_mining_spark.operators.text import (
        bm25_keyword_search,
        wand_topk_pruning,
    )
    from .conftest import SF_SMALL

    r = wand_topk_pruning(spark, SF_SMALL).collect()[0]
    assert r["top10_all_candidates"] == 1
    assert 0 < r["n_candidates"] <= r["n_docs"]
    assert 0 < r["candidate_frac"] <= 1
    top = bm25_keyword_search(spark, SF_SMALL).collect()
    assert abs(r["theta"] - top[9]["bm25"]) < 1e-6


def test_ucb1_replay_matches_python(spark):
    """Pure-Python UCB1 replay over the exact (day, arm) ppm reward
    cells walks the identical choice sequence, rewards, and regret."""
    import math

    from pyspark.sql import functions as F

    from data_warehouse_data_mining_spark.catalog import load
    from data_warehouse_data_mining_spark.operators.mining_policy import (
        _UCB_LN,
        UCB_ARMS,
        UCB_MONTHS,
        ucb1_bandit_replay,
    )
    from .conftest import SF_SMALL

    rows = ucb1_bandit_replay(spark, SF_SMALL).collect()
    cells = (
        load(spark, SF_SMALL)
        .events.filter(F.dayofmonth("ts") <= UCB_MONTHS)
        .select(
            F.dayofmonth("ts").alias("m"),
            F.col("event_type").alias("a"),
            F.expr("CAST(round(value * 100, 0) AS BIGINT)").alias("r"),
        )
        .groupBy("m", "a")
        .agg(F.expr("(sum(r) * 20) div count(*)").alias("r_ppm"))
        .collect()
    )
    r = {(c["m"], c["a"]): c["r_ppm"] for c in cells}
    n = {a: 0 for a in UCB_ARMS}
    s = {a: 0 for a in UCB_ARMS}
    trace = []
    for t in range(1, UCB_MONTHS + 1):
        if t <= len(UCB_ARMS):
            chosen = UCB_ARMS[t - 1]
        else:
            idx = {
                a: s[a] // n[a]
                + math.floor(math.sqrt(2 * _UCB_LN[t - 1] / n[a]) * 1e6)
                for a in UCB_ARMS
            }
            best = max(idx.values())
            chosen = next(a for a in UCB_ARMS if idx[a] == best)
        rw = r[(t, chosen)]
        n[chosen] += 1
        s[chosen] += rw
        trace.append((t, chosen, rw))
    totals = {
        a: sum(r[(t, a)] for t in range(1, UCB_MONTHS + 1)) for a in UCB_ARMS
    }
    best_total = max(totals.values())
    best_arm = next(a for a in UCB_ARMS if totals[a] == best_total)
    cum_rw = 0
    cum_rg = 0
    for row, (t, chosen, rw) in zip(rows, trace):
        cum_rw += rw
        cum_rg += r[(t, best_arm)] - rw
        assert row["day"] == t
        assert row["chosen_arm"] == chosen
        assert row["reward_ppm"] == rw
        assert row["cum_reward_ppm"] == cum_rw
        assert row["cum_regret_ppm"] == cum_rg


def test_hll_rolling_merge_law(spark):
    """Merging per-day HLL sketches gives the IDENTICAL estimate to
    sketching the pooled window directly (the union-closure law that
    makes the daily sketch table sufficient for any window), and the
    registered query's flags hold."""
    from pyspark.sql import functions as F

    from data_warehouse_data_mining_spark.catalog import load
    from data_warehouse_data_mining_spark.operators.sketches import (
        hll_rolling_distinct,
    )
    from .conftest import SF_SMALL

    rows = hll_rolling_distinct(spark, SF_SMALL).collect()
    assert len(rows) == 30
    assert all(r["within_5pct"] == 1 for r in rows)
    assert all(1 <= r["n_days_merged"] <= 7 for r in rows)
    widths = [r["n_days_merged"] for r in rows]
    assert widths[:7] == [1, 2, 3, 4, 5, 6, 7] and set(widths[7:]) == {7}

    e = load(spark, SF_SMALL).events
    merged = (
        e.groupBy(F.date_trunc("day", "ts").alias("d"))
        .agg(F.hll_sketch_agg("user_id", 12).alias("sk"))
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"))
        .collect()[0]["est"]
    )
    direct = (
        e.agg(
            F.hll_sketch_estimate(F.hll_sketch_agg("user_id", 12)).alias("est")
        ).collect()[0]["est"]
    )
    assert merged == direct


def test_l_moments_hockey_stick_equals_direct(spark):
    """The hockey-stick distinct-value formulation equals the textbook
    per-rank computation over the fully sorted sample, and the ratios
    sit in their theoretical ranges (|t3|,|t4| <= 1; near-uniform data
    gives L-CV ~ 1/3, t3 ~ 0)."""
    from math import comb

    from pyspark.sql import functions as F

    from data_warehouse_data_mining_spark.catalog import load
    from data_warehouse_data_mining_spark.operators.mining_policy import (
        l_moments_order_values,
    )
    from .conftest import SF_SMALL

    row = l_moments_order_values(spark, SF_SMALL).collect()[0]
    cents = sorted(
        r["v"]
        for r in load(spark, SF_SMALL)
        .orders.select(
            F.expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)").alias("v")
        )
        .collect()
    )
    n = len(cents)
    N = [sum(comb(i, r) * x for i, x in enumerate(cents)) for r in range(4)]
    b = [N[r] / (n * comb(n - 1, r)) for r in range(4)]
    lam1 = b[0]
    lam2 = 2 * b[1] - b[0]
    lam3 = 6 * b[2] - 6 * b[1] + b[0]
    lam4 = 20 * b[3] - 30 * b[2] + 12 * b[1] - b[0]
    assert row["n"] == n
    assert abs(row["lambda1_dollars"] - round(lam1 / 100, 4)) < 1e-6
    assert abs(row["lambda2_dollars"] - round(lam2 / 100, 4)) < 2e-4
    assert abs(row["l_cv"] - lam2 / lam1) < 1e-6
    assert abs(row["l_skew"] - lam3 / lam2) < 1e-5
    assert abs(row["l_kurt"] - lam4 / lam2) < 1e-5
    assert abs(row["l_skew"]) <= 1 and abs(row["l_kurt"]) <= 1
    assert 0.25 < row["l_cv"] < 0.4  # near-uniform prices


def test_haar_energy_parseval_and_replay(spark):
    """Python Haar replay over the exact 256-day spine reproduces every
    level's energy share; the integer Parseval identity holds (flag=1)
    and the shares sum to exactly 1 up to output rounding."""
    from pyspark.sql import functions as F

    from data_warehouse_data_mining_spark.catalog import load
    from data_warehouse_data_mining_spark.operators.mining_policy import (
        HAAR_LEVELS,
        HAAR_N,
        haar_wavelet_energy,
    )
    from .conftest import SF_SMALL

    rows = haar_wavelet_energy(spark, SF_SMALL).collect()
    assert [r["level"] for r in rows] == list(range(1, HAAR_LEVELS + 1))
    assert all(r["parseval_ok"] == 1 for r in rows)
    assert abs(sum(r["energy_share"] for r in rows) - 1.0) < 1e-4

    daily = {
        r["d"]: r["x"]
        for r in load(spark, SF_SMALL)
        .orders.filter(
            (F.col("o_orderdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
            & (
                F.col("o_orderdate")
                < F.expr(f"TIMESTAMP '1995-01-01 00:00:00' + INTERVAL {HAAR_N} DAY")
            )
        )
        .groupBy(
            F.datediff(
                F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date")
            ).alias("d")
        )
        .agg(F.sum(F.expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)")).alias("x"))
        .collect()
    }
    x = [daily.get(d, 0) for d in range(HAAR_N)]
    denom = HAAR_N * sum(v * v for v in x) - sum(x) ** 2
    series = x
    total_scaled = 0
    for r in rows:
        k = r["level"]
        pairs = [
            (series[2 * j], series[2 * j + 1])
            for j in range(len(series) // 2)
        ]
        dsq = sum((b - a) ** 2 for a, b in pairs)
        e_scaled = dsq * (1 << (HAAR_LEVELS - k))
        total_scaled += e_scaled
        assert r["n_coeffs"] == len(pairs)
        assert abs(r["energy_share"] - round(e_scaled / denom, 6)) < 1e-9
        series = [a + b for a, b in pairs]
    assert total_scaled == denom  # exact integer Parseval


def test_knapsack_greedy_certificate(spark):
    """Python replay of the greedy density selection matches; the LP
    bound dominates the greedy value; greedy is within one frontier
    item of the bound (the 1/2-approximation certificate); budget is
    respected."""
    from pyspark.sql import functions as F

    from data_warehouse_data_mining_spark.catalog import load
    from data_warehouse_data_mining_spark.operators.curation import (
        KNAP_BUDGET_SHARE,
        knapsack_doc_selection,
    )
    from .conftest import SF_SMALL

    r = knapsack_doc_selection(spark, SF_SMALL).collect()[0]
    docs = (
        load(spark, SF_SMALL)
        .documents.select(
            "doc_id",
            F.size(F.split("text", " ")).alias("cost"),
            F.size(F.array_distinct(F.split("text", " "))).alias("val"),
        )
        .collect()
    )
    # explicit (density desc, doc_id asc) ordering, as in the query
    ordered = sorted(
        docs,
        key=lambda d: (-((d["val"] * 1_000_000) // d["cost"]), d["doc_id"]),
    )
    budget = sum(d["cost"] for d in docs) // KNAP_BUDGET_SHARE
    used = 0
    value = 0
    n_sel = 0
    frontier = None
    for d in ordered:
        if used + d["cost"] <= budget:
            used += d["cost"]
            value += d["val"]
            n_sel += 1
        else:
            frontier = d
            break
    assert r["budget"] == budget
    assert r["n_selected"] == n_sel
    assert r["tokens_used"] == used and used <= budget
    assert r["value_selected"] == value
    lp_scaled = value * frontier["cost"] + (budget - used) * frontier["val"]
    assert r["lp_bound_scaled"] == lp_scaled
    assert r["lp_scale"] == frontier["cost"]
    assert value * frontier["cost"] <= lp_scaled  # bound dominates
    assert r["within_one_item_of_opt"] == 1


def test_chao1_estimator_bounds(spark):
    """Chao1 >= observed richness, coverage in (0,1], and a direct
    per-lang replay from the word counts matches."""
    from pyspark.sql import functions as F

    from data_warehouse_data_mining_spark.catalog import load
    from data_warehouse_data_mining_spark.operators.text import (
        chao1_vocab_richness,
    )
    from .conftest import SF_SMALL

    rows = chao1_vocab_richness(spark, SF_SMALL).collect()
    assert len(rows) == 5
    counts = (
        load(spark, SF_SMALL)
        .documents.select("lang", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("lang", "w")
        .count()
        .collect()
    )
    per: dict = {}
    for c in counts:
        d = per.setdefault(c["lang"], {"D": 0, "N": 0, "f1": 0, "f2": 0})
        d["D"] += 1
        d["N"] += c["count"]
        d["f1"] += c["count"] == 1
        d["f2"] += c["count"] == 2
    for r in rows:
        d = per[r["lang"]]
        assert (r["d_observed"], r["n_tokens"], r["f1"], r["f2"]) == (
            d["D"], d["N"], d["f1"], d["f2"],
        )
        expect = d["D"] + d["f1"] * (d["f1"] - 1) / (2 * (d["f2"] + 1))
        assert abs(r["chao1_est"] - round(expect, 2)) < 1e-9
        assert r["chao1_est"] >= r["d_observed"]
        assert 0 < r["good_turing_coverage"] <= 1


def test_rerandomization_p_replay(spark):
    """Python replay over per-user sums reproduces the observed diff,
    every replicate diff, the extreme count, and the add-one p; p is a
    valid probability on the (1..B+1)/(B+1) grid."""
    import hashlib

    from pyspark.sql import functions as F

    from data_warehouse_data_mining_spark.catalog import load
    from data_warehouse_data_mining_spark.operators.mining_policy import (
        RERAND_REPS,
        rerandomization_test_ab,
    )
    from .conftest import SF_SMALL

    row = rerandomization_test_ab(spark, SF_SMALL).collect()[0]
    users = (
        load(spark, SF_SMALL)
        .orders.filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
        )
        .groupBy("o_custkey")
        .agg(F.sum(F.expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)")).alias("y"))
        .collect()
    )

    def diff(assign):
        s = {0: 0, 1: 0}
        n = {0: 0, 1: 0}
        for u in users:
            a = assign(u["o_custkey"])
            s[a] += u["y"]
            n[a] += 1
        return s[1] / n[1] - s[0] / n[0]

    def h(key):
        return hashlib.md5(str(key).encode()).hexdigest()

    d_obs = diff(lambda uid: 0 if h(uid) < "8" else 1)
    assert row["n_users"] == len(users)
    assert abs(row["diff_obs_dollars"] - round(d_obs / 100, 4)) < 1e-9
    n_extreme = sum(
        abs(diff(lambda uid, r=r: 0 if h(f"{uid}:{r}") < "8" else 1)) >= abs(d_obs)
        for r in range(1, RERAND_REPS + 1)
    )
    assert row["n_extreme"] == n_extreme
    assert row["p_value"] == round((1 + n_extreme) / (1 + RERAND_REPS), 6)
    assert 1 / (RERAND_REPS + 1) <= row["p_value"] <= 1


def test_theil_decomposition_identity(spark):
    """T_total >= 0, and the decomposition T = T_between + sum_g s_g
    T_within_g holds: the sum of contributions equals the total, and
    rebuilding between/within from the emitted pieces closes to the
    total within cumulative-floor tolerance."""
    from pyspark.sql import functions as F

    from data_warehouse_data_mining_spark.catalog import load
    from data_warehouse_data_mining_spark.operators.mining_policy import (
        theil_index_decomposition,
    )
    from .conftest import SF_SMALL

    rows = theil_index_decomposition(spark, SF_SMALL).collect()
    assert len(rows) == 25
    total = rows[0]["theil_total"]
    assert all(r["theil_total"] == total for r in rows)
    assert total >= 0
    assert abs(sum(r["spend_share"] for r in rows) - 1.0) < 1e-4
    assert abs(sum(r["theil_contrib"] for r in rows) - total) < 1e-4
    # identity: contributions split into between + within pieces; the
    # within part per group is contrib - s_g*ln-mean piece, so
    # T_between + (T - T_between) = T trivially -- the informative pin
    # is that the between terms alone never exceed the total
    t_between = sum(r["between_term"] for r in rows)
    assert -1e-4 <= t_between <= total + 1e-4
    # exact mirror of the between computation from raw data
    cust = (
        load(spark, SF_SMALL)
        .orders.join(
            load(spark, SF_SMALL).customer.select("c_custkey", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("o_custkey", "c_nationkey")
        .agg(F.sum(F.expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)")).alias("x"))
        .collect()
    )
    import math

    n = len(cust)
    sx = sum(r["x"] for r in cust)
    by_g: dict = {}
    for r in cust:
        g = by_g.setdefault(r["c_nationkey"], [0, 0])
        g[0] += 1
        g[1] += r["x"]
    t_between_replay = sum(
        math.floor(
            (sxg / sx) * math.log((sxg * n) / (sx * ng)) * 1e6 + 1e-3
        )
        / 1e6
        for ng, sxg in by_g.values()
    )
    assert abs(t_between - round(t_between_replay, 4)) < 1e-3


def test_gpd_tail_fit_uniform_excess_identities(spark, duck):
    """o_totalprice's upper tail is ~uniform, so the GPD PWM fit must
    recover k ~= 1 (uniform excess: tau2 = 1/3 exactly => k = 1) and
    alpha ~= the excess range; return levels are the excess quantiles
    x_p = (alpha/k)(1-(1-p)^k) and must be ordered below the k>0
    upper endpoint alpha/k. lambda1 must equal the exact mean excess
    (direct DuckDB computation, not the hockey-stick path)."""
    from data_warehouse_data_mining_spark.operators.mining_policy import (
        GPD_THRESHOLD_CENTS,
        gpd_tail_fit,
    )

    from .conftest import SF_SMALL

    r = gpd_tail_fit(spark, SF_SMALL).collect()[0]
    assert 0.7 < r["shape_k"] < 1.3  # uniform-ish excess
    assert (
        0
        < r["ret_level90_dollars"]
        < r["ret_level99_dollars"]
        < r["scale_alpha_dollars"] / r["shape_k"] + 1e-6
    )
    mean_excess = duck.execute(
        f"""
        SELECT avg(CAST(round(o_totalprice * 100, 0) AS BIGINT)
                   - {GPD_THRESHOLD_CENTS}) / 100
        FROM '{SF_SMALL}/orders.parquet'
        WHERE CAST(round(o_totalprice * 100, 0) AS BIGINT)
              > {GPD_THRESHOLD_CENTS}
        """
    ).fetchone()[0]
    assert abs(r["lambda1_dollars"] - mean_excess) < 0.01


def test_fellegi_sunter_band_histogram_consistency(spark, duck):
    """The weight-band histogram must partition the exact blocked-pair
    count (computed independently here from block sizes), and every
    band's weight range must lie inside [sum of disagreement weights,
    sum of agreement weights] — the LLR bounds for a 4-field
    comparison vector."""
    import math

    from data_warehouse_data_mining_spark.operators.quality import (
        FS_FIELDS,
        _FS_EXPRS,
        fellegi_sunter_linkage,
    )

    from .conftest import SF_SMALL

    rows = fellegi_sunter_linkage(spark, SF_SMALL).collect()
    assert rows, "histogram must be non-empty"
    n_pairs_expected = duck.execute(
        f"""
        SELECT CAST(sum(c * (c - 1) / 2) AS BIGINT) FROM (
          SELECT count(*) AS c
          FROM '{SF_SMALL}/customer.parquet'
          GROUP BY c_nationkey, c_mktsegment)
        """
    ).fetchone()[0]
    assert sum(r["n_pairs"] for r in rows) == n_pairs_expected
    # recompute the 8 weights in Python from exact counts
    nn = duck.execute(
        f"SELECT count(*) FROM '{SF_SMALL}/customer.parquet'"
    ).fetchone()[0]
    den = nn * (nn - 1)
    lo_sum = hi_sum = 0
    for f, m in FS_FIELDS:
        num = duck.execute(
            f"""
            SELECT CAST(sum(c * (c - 1)) AS DOUBLE) FROM (
              SELECT count(*) AS c
              FROM '{SF_SMALL}/customer.parquet' GROUP BY {_FS_EXPRS[f]})
            """
        ).fetchone()[0]
        num = max(num or 0.0, 1.0)
        a = math.floor(math.log(m * den / num) / math.log(2.0) * 1e6 + 1e-3)
        d = math.floor(
            math.log((1 - m) * den / max(den - num, 1.0)) / math.log(2.0)
            * 1e6
            + 1e-3
        )
        if num < den:  # non-constant field: agreeing must raise the LLR
            assert m * den / num > 1.0
            lo_sum += min(a, d)
            hi_sum += max(a, d)
        else:  # constant field: every pair agrees, only `a` is reachable
            lo_sum += a
            hi_sum += a
    for r in rows:
        assert lo_sum / 1e6 - 1e-6 <= r["min_weight"] <= r["max_weight"]
        assert r["max_weight"] <= hi_sum / 1e6 + 1e-6
        assert r["weight_band"] == math.floor(r["min_weight"] / 2)


def test_ljung_box_monotone_and_white_on_poisson_arrivals(spark):
    """Q(h) is a cumulative sum of nonnegative terms, so it must be
    nondecreasing in h; acf bounded in [-1, 1]; and on the synthetic
    Poisson-like arrival series the test must ACCEPT whiteness at
    every horizon (the data's own pin)."""
    from data_warehouse_data_mining_spark.operators.mining_stats import (
        ljung_box_whiteness,
    )

    from .conftest import SF_SMALL

    rows = ljung_box_whiteness(spark, SF_SMALL).collect()
    assert [r["lag"] for r in rows] == list(range(1, 11))
    qs = [r["q_stat"] for r in rows]
    assert all(q >= 0 for q in qs)
    assert qs == sorted(qs)
    for r in rows:
        assert -1.0 <= r["acf"] <= 1.0
        assert r["reject_white"] in (0, 1)
    assert all(r["reject_white"] == 0 for r in rows)


def test_adamic_adar_scores_match_common_neighbor_counts(spark, duck):
    """Every emitted pair must be a NON-edge with n_common >= 1, scores
    sorted desc with full tie-breaks, and aa_micro consistent with
    n_common bounds: n_common/ln(d_max) <= aa <= n_common/ln(2)."""
    import math

    from data_warehouse_data_mining_spark.operators.graph import (
        adamic_adar_link_prediction,
    )

    from .conftest import SF_SMALL

    rows = adamic_adar_link_prediction(spark, SF_SMALL).collect()
    assert rows
    keys = [(-r["aa_micro"], r["item_a"], r["item_b"]) for r in rows]
    assert keys == sorted(keys)
    for r in rows:
        assert r["item_a"] < r["item_b"]
        assert r["n_common"] >= 1
        aa = r["aa_micro"] / 1e6
        assert aa <= r["n_common"] / math.log(2.0) + 1e-6
        assert abs(r["aa_score"] - aa) <= 5e-7


def test_good_turing_mass_identities(spark, duck):
    """Good-Turing internals: r* must equal (r+1)N_{r+1}/N_r from the
    independently-computed DuckDB frequency-of-frequencies, P0 = N1/N,
    and on a Zipfian tail r*(1) < 1 (mass is shaved off singletons to
    fund the unseen)."""
    from data_warehouse_data_mining_spark.operators.text import (
        good_turing_estimates,
    )

    from .conftest import SF_SMALL

    rows = {r["r"]: r for r in good_turing_estimates(spark, SF_SMALL).collect()}
    fof = dict(
        duck.execute(
            f"""
            WITH ws AS (SELECT string_split(text, ' ') AS ws
                        FROM '{SF_SMALL}/documents.parquet'),
            tok AS (SELECT ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS w
                    FROM ws, unnest(range(1, len(ws) - 1)) AS t(i)
                    WHERE len(ws) >= 3),
            c AS (SELECT w, count(*) AS c FROM tok GROUP BY w)
            SELECT c, count(*) FROM c GROUP BY c
            """
        ).fetchall()
    )
    n_tokens = sum(r * n for r, n in fof.items())
    assert rows[1]["n_tokens"] == n_tokens
    assert abs(rows[1]["p0_unseen"] - fof.get(1, 0) / n_tokens) <= 5e-7
    assert 0 < rows[1]["r_star"] < 1  # singleton discount
    for r in range(1, 11):
        nr, nr1 = fof.get(r, 0), fof.get(r + 1, 0)
        want = (r + 1) * nr1 / nr if nr else 0.0
        assert abs(rows[r]["r_star"] - want) <= 5e-7, (r, want)


def test_horvitz_thompson_unbiasedness_envelope(spark):
    """The HT estimate must land within 4 SE of the exact total (the
    hash draw is fixed, so this is a deterministic pin, not a flaky
    statistical one), the realized sample size near its expectation,
    and SE > 0."""
    from data_warehouse_data_mining_spark.operators.mining_stats import (
        HT_N_TARGET,
        horvitz_thompson_total,
    )

    from .conftest import SF_SMALL

    r = horvitz_thompson_total(spark, SF_SMALL).collect()[0]
    assert r["se_dollars"] > 0
    assert (
        abs(r["ht_total_dollars"] - r["exact_total_dollars"])
        <= 4 * r["se_dollars"]
    )
    n_expected = min(HT_N_TARGET, r["n_pop"])
    assert (
        abs(r["n_cert"] + r["n_samp"] - n_expected)
        <= 5 * max(n_expected, 1) ** 0.5
    )


def test_rdd_placebo_and_ols_parity(spark, duck):
    """The balances are independent of spend, so the sharp RD at the
    arbitrary $5k cutoff must be a PLACEBO: non-significant at 95%.
    The left-side intercept/slope must match an independent numpy-free
    OLS on the same rows pulled through DuckDB."""
    from data_warehouse_data_mining_spark.operators.mining_causal import (
        RDD_BANDWIDTH_CENTS,
        RDD_CUTOFF_CENTS,
        regression_discontinuity_effect,
    )

    from .conftest import SF_SMALL

    r = regression_discontinuity_effect(spark, SF_SMALL).collect()[0]
    assert r["significant_95"] == 0
    assert r["n_left"] > 2 and r["n_right"] > 2
    assert r["se_effect_dollars"] > 0
    rows = duck.execute(
        f"""
        WITH spend AS (
          SELECT o_custkey,
                 sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS y
          FROM '{SF_SMALL}/orders.parquet' GROUP BY 1)
        SELECT CAST(round(c_acctbal * 100, 0) AS BIGINT)
                 - {RDD_CUTOFF_CENTS} AS x,
               coalesce(s.y, 0) AS y
        FROM '{SF_SMALL}/customer.parquet' c
        LEFT JOIN spend s ON s.o_custkey = c.c_custkey
        WHERE CAST(round(c_acctbal * 100, 0) AS BIGINT)
              BETWEEN {RDD_CUTOFF_CENTS - RDD_BANDWIDTH_CENTS}
                  AND {RDD_CUTOFF_CENTS - 1}
        """
    ).fetchall()
    n = len(rows)
    sx = sum(x for x, _ in rows)
    sy = sum(y for _, y in rows)
    sxy = sum(x * y for x, y in rows)
    sxx = sum(x * x for x, _ in rows)
    den = n * sxx - sx * sx
    slope = (n * sxy - sx * sy) / den
    intercept = (sy * sxx - sx * sxy) / den
    assert abs(r["slope_left_per_dollar"] - slope) <= 1e-4
    assert abs(r["intercept_left_dollars"] - intercept / 100) <= 0.5


def test_psm_match_is_true_nearest_control(spark, duck):
    """The bucketed two-phase match must equal the brute-force nearest
    control computed in Python from the same panel (with the <=
    prev-on-tie rule), and the registered aggregates must equal the
    brute-force ATT."""
    from data_warehouse_data_mining_spark.operators.mining_causal import psm_att_matched

    from .conftest import SF_SMALL

    panel = duck.execute(
        f"""
        WITH pre AS (
          SELECT o_custkey,
                 sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS x,
                 max(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                          THEN 1 ELSE 0 END) AS treated
          FROM '{SF_SMALL}/orders.parquet'
          WHERE o_orderdate >= TIMESTAMP '1995-01-01'
            AND o_orderdate < TIMESTAMP '1996-01-01'
          GROUP BY 1),
        outcome AS (
          SELECT o_custkey,
                 sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS y
          FROM '{SF_SMALL}/orders.parquet'
          WHERE o_orderdate >= TIMESTAMP '1996-01-01'
            AND o_orderdate < TIMESTAMP '1997-01-01'
          GROUP BY 1)
        SELECT p.o_custkey, p.x, p.treated, coalesce(o.y, 0)
        FROM pre p LEFT JOIN outcome o USING (o_custkey)
        """
    ).fetchall()
    rows = sorted(panel, key=lambda r: (r[1], r[2], r[0]))
    controls = [(x, y) for _, x, t, y in panel if t == 0]
    controls.sort()
    import bisect

    diffs = []
    dxs = []
    for _, x, t, y in panel:
        if t != 1:
            continue
        i = bisect.bisect_right([c[0] for c in controls], x)
        # emulate the window rule: prev = last control with sort key
        # strictly before the treated row; controls sort before treated
        # at equal x (treated flag 0 < 1), so prev includes x-ties
        cand = []
        if i > 0:
            cand.append((x - controls[i - 1][0], 0, controls[i - 1][1]))
        if i < len(controls):
            cand.append((controls[i][0] - x, 1, controls[i][1]))
        dx, _, yc = min(cand)
        diffs.append(y - yc)
        dxs.append(dx)
    r = psm_att_matched(spark, SF_SMALL).collect()[0]
    assert r["n_treated"] == len(diffs)
    assert abs(r["att_matched_dollars"] - sum(diffs) / 100 / len(diffs)) <= 0.01
    assert (
        abs(r["mean_match_distance_dollars"] - sum(dxs) / 100 / len(dxs))
        <= 0.01
    )


def test_spearman_matches_python_midranks(spark, duck):
    """Spearman via the 2x-midrank integer identity must equal a plain
    Python midrank Pearson on the same daily table; count and revenue
    co-move, so rho is strongly positive."""
    from data_warehouse_data_mining_spark.operators.mining_stats import (
        spearman_rho_daily,
    )

    from .conftest import SF_SMALL

    r = spearman_rho_daily(spark, SF_SMALL).collect()[0]
    daily = duck.execute(
        f"""
        SELECT count(*) AS x,
               sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS y
        FROM '{SF_SMALL}/orders.parquet'
        GROUP BY date_trunc('day', o_orderdate)
        """
    ).fetchall()

    def midranks(vals):
        order = sorted(range(len(vals)), key=lambda i: vals[i])
        out = [0.0] * len(vals)
        i = 0
        while i < len(order):
            j = i
            while j < len(order) and vals[order[j]] == vals[order[i]]:
                j += 1
            mr = (i + 1 + j) / 2
            for k in range(i, j):
                out[order[k]] = mr
            i = j
        return out

    rx = midranks([x for x, _ in daily])
    ry = midranks([y for _, y in daily])
    n = len(daily)
    mx, my = sum(rx) / n, sum(ry) / n
    num = sum((a - mx) * (b - my) for a, b in zip(rx, ry))
    den = (
        sum((a - mx) ** 2 for a in rx) * sum((b - my) ** 2 for b in ry)
    ) ** 0.5
    assert abs(r["spearman_rho"] - num / den) <= 1e-5
    assert r["spearman_rho"] > 0.5
    assert r["n_days"] == n


def test_mantel_haenszel_matches_python_cells(spark, duck):
    """OR_MH and the CMH statistic recomputed in Python from the exact
    per-nation 2x2 cells must match the registered output (to the
    1e-6 fixed-point floor)."""
    from data_warehouse_data_mining_spark.operators.mining_causal import (
        mantel_haenszel_odds,
    )

    from .conftest import SF_SMALL

    cells = duck.execute(
        f"""
        WITH pre AS (
          SELECT o.o_custkey, c.c_nationkey AS nk,
                 max(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                          THEN 1 ELSE 0 END) AS tr
          FROM '{SF_SMALL}/orders.parquet' o
          JOIN '{SF_SMALL}/customer.parquet' c ON c.c_custkey = o.o_custkey
          WHERE o.o_orderdate >= TIMESTAMP '1995-01-01'
            AND o.o_orderdate < TIMESTAMP '1996-01-01'
          GROUP BY 1, 2),
        conv AS (
          SELECT DISTINCT o_custkey FROM '{SF_SMALL}/orders.parquet'
          WHERE o_orderdate >= TIMESTAMP '1996-01-01'
            AND o_orderdate < TIMESTAMP '1997-01-01')
        SELECT nk,
               sum(CASE WHEN tr = 1 AND cv.o_custkey IS NOT NULL
                        THEN 1 ELSE 0 END) AS a,
               sum(CASE WHEN tr = 1 AND cv.o_custkey IS NULL
                        THEN 1 ELSE 0 END) AS b,
               sum(CASE WHEN tr = 0 AND cv.o_custkey IS NOT NULL
                        THEN 1 ELSE 0 END) AS c,
               sum(CASE WHEN tr = 0 AND cv.o_custkey IS NULL
                        THEN 1 ELSE 0 END) AS d
        FROM pre LEFT JOIN conv cv ON cv.o_custkey = pre.o_custkey
        GROUP BY nk
        """
    ).fetchall()
    import math

    sr = ss = sea = sva = sum_a = 0
    n_strata = 0
    for _, a, b, c, d in cells:
        n = a + b + c + d
        if n <= 1:
            continue
        n_strata += 1
        sum_a += a
        sr += math.floor(a * d * 1e6 / n + 1e-3)
        ss += math.floor(b * c * 1e6 / n + 1e-3)
        sea += math.floor((a + b) * (a + c) * 1e6 / n + 1e-3)
        sva += math.floor(
            (a + b) * (c + d) * 1.0 * (a + c) * (b + d) * 1e6
            / (n * 1.0 * n * (n - 1))
            + 1e-3
        )
    r = mantel_haenszel_odds(spark, SF_SMALL).collect()[0]
    assert r["n_strata"] == n_strata and r["sum_a"] == sum_a
    assert abs(r["mh_odds_ratio"] - sr / ss) <= 1e-5
    chi2 = (abs(sum_a * 1e6 - sea) - 5e5) ** 2 / (sva * 1e6)
    assert abs(r["cmh_chi2"] - chi2) <= 1e-4
    assert r["significant_95"] == int(chi2 > 3.8415)


def test_cochran_armitage_exact_integer_replica(spark, duck):
    """chi2_trend recomputed in exact Python integers from the group
    table must match; rates and counts must partition the panel."""
    from data_warehouse_data_mining_spark.operators.mining_stats import (
        cochran_armitage_trend,
    )

    from .conftest import SF_SMALL

    rows = cochran_armitage_trend(spark, SF_SMALL).collect()
    assert [r["stratum"] for r in rows] == [1, 2, 3]
    g = duck.execute(
        f"""
        WITH pre AS (
          SELECT o_custkey, count(*) AS n95
          FROM '{SF_SMALL}/orders.parquet'
          WHERE o_orderdate >= TIMESTAMP '1995-01-01'
            AND o_orderdate < TIMESTAMP '1996-01-01'
          GROUP BY 1),
        conv AS (
          SELECT DISTINCT o_custkey FROM '{SF_SMALL}/orders.parquet'
          WHERE o_orderdate >= TIMESTAMP '1996-01-01'
            AND o_orderdate < TIMESTAMP '1997-01-01')
        SELECT CASE WHEN n95 >= 3 THEN 3 ELSE n95 END AS s,
               count(*) AS n,
               sum(CASE WHEN cv.o_custkey IS NULL THEN 0 ELSE 1 END) AS r
        FROM pre LEFT JOIN conv cv USING (o_custkey) GROUP BY 1
        """
    ).fetchall()
    N = sum(n for _, n, _ in g)
    R = sum(r for _, _, r in g)
    ssr = sum(s * r for s, _, r in g)
    ssn = sum(s * n for s, n, _ in g)
    sssn = sum(s * s * n for s, n, _ in g)
    A = N * ssr - R * ssn
    C = N * sssn - ssn * ssn
    chi2 = A * A * N / (R * (N - R) * C)
    for r in rows:
        assert abs(r["chi2_trend"] - chi2) <= 1e-5
        assert r["significant_95"] == int(chi2 > 3.8415)
    assert sum(r["n_customers"] for r in rows) == N


def test_gumbel_fit_on_synthetic_gumbel_identity(spark):
    """On the registered data the fitted mu/alpha must reproduce
    lambda1/lambda2 through the exact inverse identities (a round-trip
    algebra check), and return levels must be ordered above mu."""
    from data_warehouse_data_mining_spark.operators.mining_policy import (
        gumbel_block_maxima,
    )

    from .conftest import SF_SMALL

    r = gumbel_block_maxima(spark, SF_SMALL).collect()[0]
    mu, alpha = r["location_mu_dollars"], r["scale_alpha_dollars"]
    assert alpha > 0
    assert abs((r["lambda2_dollars"] / 0.693147181) - alpha) <= 0.02
    assert abs((mu + 0.577215665 * alpha) - r["lambda1_dollars"]) <= 0.02
    assert mu < r["ret_level_1y_dollars"] < r["ret_level_10y_dollars"]


def test_textrank_rank_mass_and_ordering(spark):
    """Total rank mass stays near n_nodes * UNIT (PageRank mass
    conservation, minus integer-floor leakage), output is sorted with
    full tie-breaks, and scores are the exact unit ratio."""
    from data_warehouse_data_mining_spark.operators.text import (
        TR_TOP,
        TR_UNIT,
        textrank_keywords,
    )

    from .conftest import SF_SMALL

    rows = textrank_keywords(spark, SF_SMALL).collect()
    assert len(rows) == TR_TOP
    keys = [(-r["rank_units"], r["word"]) for r in rows]
    assert keys == sorted(keys)
    for r in rows:
        assert r["rank_units"] > 0
        assert abs(r["rank_score"] - r["rank_units"] / TR_UNIT) <= 5e-7
    # the top word must carry more than uniform mass
    assert rows[0]["rank_units"] > TR_UNIT


def test_kruskal_wallis_python_replica(spark, duck):
    """H (tie-corrected) recomputed in Python with scipy-free midranks
    from the exact per-customer panel must match to the 1e-6 floor."""
    from data_warehouse_data_mining_spark.operators.mining_stats import (
        kruskal_wallis_nations,
    )

    from .conftest import SF_SMALL

    panel = duck.execute(
        f"""
        SELECT c.c_nationkey,
               sum(CAST(round(o.o_totalprice * 100, 0) AS BIGINT)) AS c
        FROM '{SF_SMALL}/orders.parquet' o
        JOIN '{SF_SMALL}/customer.parquet' c ON c.c_custkey = o.o_custkey
        GROUP BY o.o_custkey, c.c_nationkey
        """
    ).fetchall()
    vals = sorted(c for _, c in panel)
    # midranks
    rank = {}
    i = 0
    while i < len(vals):
        j = i
        while j < len(vals) and vals[j] == vals[i]:
            j += 1
        rank[vals[i]] = (i + 1 + j) / 2
        i = j
    groups: dict = {}
    for nk, c in panel:
        groups.setdefault(nk, []).append(rank[c])
    n = len(panel)
    srq = sum(sum(rs) ** 2 / len(rs) for rs in groups.values())
    h_raw = 12 / (n * (n + 1)) * srq - 3 * (n + 1)
    from collections import Counter

    tcnt = Counter(vals)
    tie = 1 - sum(t**3 - t for t in tcnt.values()) / (n**3 - n)
    r = kruskal_wallis_nations(spark, SF_SMALL).collect()[0]
    assert r["n_customers"] == n
    assert r["n_groups"] == len(groups)
    assert abs(r["h_stat"] - h_raw) <= 1e-4
    assert abs(r["h_tie_corrected"] - h_raw / tie) <= 1e-4
    assert r["significant_95"] == int(h_raw / tie > r["chi2_crit_95"])


def test_rmst_bounds_and_km_consistency(spark):
    """RMST must lie in [tau * S_floor, tau], and integrating the
    registered survival_km_curve step function up to tau (in Python,
    with the same 1e-6 floors) must reproduce it exactly."""
    import math

    from data_warehouse_data_mining_spark.operators.mining import (
        RMST_TAU_DAYS,
        rmst_restricted_mean,
        survival_km_curve,
    )

    from .conftest import SF_SMALL

    r = rmst_restricted_mean(spark, SF_SMALL).collect()[0]
    assert 0 < r["rmst_days"] <= RMST_TAU_DAYS
    assert r["rmst_days"] >= RMST_TAU_DAYS * r["km_floor_in_window"] - 1e-3
    curve = sorted(
        (row["t_days"], row["km_survival"])
        for row in survival_km_curve(spark, SF_SMALL).collect()
    )
    area = min(curve[0][0], RMST_TAU_DAYS)  # S=1 head segment
    for i, (t, s) in enumerate(curve):
        if t >= RMST_TAU_DAYS:
            break
        nxt = curve[i + 1][0] if i + 1 < len(curve) else RMST_TAU_DAYS
        width = max(min(nxt, RMST_TAU_DAYS) - t, 0)
        area += math.floor(s * 1e6 + 0.5) / 1e6 * width
    # km_survival is rounded to 6dp (vs the floor in rmst): allow the
    # rounding-vs-floor gap across <=60 one-day segments
    assert abs(r["rmst_days"] - area) <= 60 * 1e-6 + 1e-4


def test_weighted_reservoir_is_length_biased(spark, duck):
    """The A-ES sample must be biased toward longer documents (mean
    sampled weight > corpus mean weight), keys strictly ordered with
    doc_id tie-breaks, and every key must equal the Python replica
    floor(ln(u)/w * 1e9 + 1e-3) for its doc."""
    import hashlib
    import math

    from data_warehouse_data_mining_spark.operators.curation import (
        WRS_K,
        weighted_reservoir_sample,
    )

    from .conftest import SF_SMALL

    rows = weighted_reservoir_sample(spark, SF_SMALL).collect()
    assert len(rows) == WRS_K
    keys = [(-r["key_nano"], r["doc_id"]) for r in rows]
    assert keys == sorted(keys)
    corpus = duck.execute(
        f"""SELECT doc_id, len(string_split(text, ' '))
            FROM '{SF_SMALL}/documents.parquet'"""
    ).fetchall()
    wmap = dict(corpus)
    for r in rows:
        assert r["weight_tokens"] == wmap[r["doc_id"]]
        b = int(
            hashlib.md5(f"wrs|{r['doc_id']}".encode()).hexdigest()[:8], 16
        )
        u = (b + 0.5) / 4294967296.0
        want = math.floor(
            math.log(u) / r["weight_tokens"] * 1e9 + 1e-3
        )
        assert r["key_nano"] == want
    mean_corpus = sum(w for _, w in corpus) / len(corpus)
    mean_sample = sum(r["weight_tokens"] for r in rows) / len(rows)
    assert mean_sample > mean_corpus


def test_cohens_kappa_identity_and_bounds(spark):
    """kappa must equal (po - pe)/(1 - pe) from its own reported
    agreement numbers, and lie in [-1, 1]."""
    from data_warehouse_data_mining_spark.operators.text import (
        cohens_kappa_langid,
    )

    from .conftest import SF_SMALL

    r = cohens_kappa_langid(spark, SF_SMALL).collect()[0]
    po, pe = float(r["observed_agreement"]), r["chance_agreement"]
    assert -1.0 <= r["cohens_kappa"] <= 1.0
    assert abs(r["cohens_kappa"] - (po - pe) / (1 - pe)) <= 2e-5
    assert 0 <= r["n_agree"] <= r["n_docs"]


def test_deming_quadratic_and_attenuation(spark, duck):
    """The Deming slope must satisfy its defining quadratic
    cxy*b^2 + (cxx - cyy)*b - cxy = 0 on moments recomputed
    independently, share OLS's sign (the root construction), and
    dominate OLS in magnitude (|ols| <= |deming|, ratio in (0, 1]).
    At sf0.001 the two years are nearly uncorrelated, so the slope may
    legitimately be negative — the test must not assume a sign."""
    from data_warehouse_data_mining_spark.operators.mining_stats import (
        deming_regression,
    )

    from .conftest import SF_SMALL

    r = deming_regression(spark, SF_SMALL).collect()[0]
    b = r["slope_deming"]
    assert r["n_customers"] > 10
    assert 0 < r["attenuation_ratio"] <= 1.0 + 1e-9
    assert abs(r["attenuation_ratio"] - r["slope_ols"] / b) <= 1e-5
    assert abs(r["slope_ols"]) <= abs(b) + 1e-9
    assert (b > 0) == (r["slope_ols"] > 0)
    n, sx, sy, sxy, sxx, syy = duck.execute(
        f"""
        WITH panel AS (
          SELECT sum(CASE WHEN o_orderdate >= TIMESTAMP '1995-01-01'
                           AND o_orderdate < TIMESTAMP '1996-01-01'
                          THEN CAST(round(o_totalprice * 100, 0) AS BIGINT)
                          ELSE 0 END) AS x,
                 sum(CASE WHEN o_orderdate >= TIMESTAMP '1996-01-01'
                           AND o_orderdate < TIMESTAMP '1997-01-01'
                          THEN CAST(round(o_totalprice * 100, 0) AS BIGINT)
                          ELSE 0 END) AS y
          FROM '{SF_SMALL}/orders.parquet' GROUP BY o_custkey
          HAVING x > 0 AND y > 0)
        SELECT count(*), sum(x), sum(y),
               sum(CAST(x AS DOUBLE) * y), sum(CAST(x AS DOUBLE) * x),
               sum(CAST(y AS DOUBLE) * y)
        FROM panel
        """
    ).fetchone()
    cxy = n * sxy - float(sx) * float(sy)
    cxx = n * sxx - float(sx) * float(sx)
    cyy = n * syy - float(sy) * float(sy)
    # defining quadratic, scale-normalized
    resid = (cxy * b * b + (cxx - cyy) * b - cxy) / abs(cxy)
    assert abs(resid) <= 1e-3  # b rounded to 6dp upstream


def test_ewma_chart_python_replica(spark, duck):
    """Replay each nation's chart in pure Python (ewma_step + the
    variance-ramp limits) from the DuckDB monthly series; counts and
    final levels must match exactly."""
    import math

    from data_warehouse_data_mining_spark.operators.udfs import (
        EWMA_D2,
        EWMA_L,
        ewma_control_chart,
        ewma_step,
    )

    from .conftest import SF_SMALL

    series = duck.execute(
        f"""
        SELECT n_name, strftime(o_orderdate, '%Y-%m') AS m,
               sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS x
        FROM '{SF_SMALL}/orders.parquet'
        JOIN '{SF_SMALL}/customer.parquet' ON o_custkey = c_custkey
        JOIN '{SF_SMALL}/nation.parquet' ON c_nationkey = n_nationkey
        GROUP BY 1, 2 ORDER BY 1, 2
        """
    ).fetchall()
    by_nation: dict = {}
    for nat, _m, x in series:
        by_nation.setdefault(nat, []).append(int(x))
    rows = {r["nation"]: r for r in ewma_control_chart(spark, SF_SMALL).collect()}
    assert set(rows) == set(by_nation)
    for nat, xs in by_nation.items():
        n = len(xs)
        sumx, smr = sum(xs), sum(abs(b - a) for a, b in zip(xs, xs[1:]))
        center = sumx / n
        sigma = (smr / (n - 1)) / EWMA_D2 if n > 1 else 0.0
        s, q, ooc = sumx // n, 1.0, 0
        for x in xs:
            s = ewma_step(s, x)
            q *= 0.25
            if abs(s - center) > EWMA_L * sigma * math.sqrt((1 - q) / 3):
                ooc += 1
        r = rows[nat]
        assert r["n_months"] == n
        assert r["n_out_of_control"] == ooc
        assert abs(r["last_ewma_dollars"] - round(s / 100, 2)) < 1e-9


def test_bradley_terry_fixed_point_and_mass(spark, duck):
    """Strengths must sum to ~1 (integer-floor slack), be positive, and
    approximately satisfy the BT stationarity condition
    W_i = p_i * sum_j n_ij/(p_i + p_j) after the 8 MM iterations."""
    from data_warehouse_data_mining_spark.operators.mining_ratings import (
        bradley_terry_event_strengths,
    )

    from .conftest import SF_SMALL

    rows = bradley_terry_event_strengths(spark, SF_SMALL).collect()
    assert len(rows) == 5
    total = sum(r["bt_strength"] for r in rows)
    assert abs(total - 1.0) <= 1e-4
    p = {r["event_type"]: r["strength_units"] for r in rows}
    wins = duck.execute(
        f"""
        WITH cells AS (
          SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type AS i,
                 sum(CAST(round(value * 100, 0) AS BIGINT)) AS rev
          FROM '{SF_SMALL}/events.parquet' GROUP BY 1, 2)
        SELECT a.i, b.i, count(*) FROM cells a
        JOIN cells b ON b.day = a.day AND a.i <> b.i AND a.rev > b.rev
        GROUP BY 1, 2
        """
    ).fetchall()
    w = {}
    n = {}
    for wi, li, c in wins:
        w[wi] = w.get(wi, 0) + c
        n[(wi, li)] = n.get((wi, li), 0) + c
        n[(li, wi)] = n.get((li, wi), 0) + c
    for i, pi in p.items():
        denom = sum(
            n.get((i, j), 0) / (pi + pj) for j, pj in p.items() if j != i
        )
        residual = abs(w.get(i, 0) - pi * denom) / max(w.get(i, 0), 1)
        assert residual < 0.05, (i, residual)


def test_elo_replay_python_replica_and_conservation(spark, duck):
    """Replay the duel sequence in pure Python (elo_expected_micro +
    the integer K-updates) — final ratings must match exactly; the
    rating exchange is zero-sum up to one floor unit per duel; and the
    clearly-weakest arm agrees with Bradley-Terry's bottom rank."""
    from data_warehouse_data_mining_spark.operators.mining_ratings import (
        ELO_K_MILLI,
        ELO_START_MILLI,
        _ELO_TYPES,
        bradley_terry_event_strengths,
        elo_expected_micro,
        elo_rating_replay,
    )

    from .conftest import SF_SMALL

    duels = duck.execute(
        f"""
        WITH cells AS (
          SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                 event_type AS i,
                 sum(CAST(round(value * 100, 0) AS BIGINT)) AS rev
          FROM '{SF_SMALL}/events.parquet' GROUP BY 1, 2)
        SELECT a.day, a.i, b.i FROM cells a
        JOIN cells b ON b.day = a.day AND a.i <> b.i AND a.rev > b.rev
        ORDER BY a.day, a.i, b.i
        """
    ).fetchall()
    r = {t: ELO_START_MILLI for t in _ELO_TYPES}
    for _day, wi, li in duels:
        ew = elo_expected_micro(r[li] - r[wi])
        el = elo_expected_micro(r[wi] - r[li])
        r[wi] += ELO_K_MILLI * (1_000_000 - ew) // 1_000_000
        r[li] -= ELO_K_MILLI * el // 1_000_000
    rows = {x["event_type"]: x for x in elo_rating_replay(spark, SF_SMALL).collect()}
    for t in _ELO_TYPES:
        assert rows[t]["elo_milli"] == r[t], t
    total = sum(r.values())
    assert abs(total - 5 * ELO_START_MILLI) <= len(duels) + 5
    bt = bradley_terry_event_strengths(spark, SF_SMALL).collect()
    elo_last = min(rows.values(), key=lambda x: x["elo_milli"])["event_type"]
    assert bt[-1]["event_type"] == elo_last


def test_dunning_llr_python_replica(spark, duck):
    """Top-20 LLR scores must match a pure-Python replica (same 1e-6
    term floors) computed from exact bigram contingency tables."""
    import math

    from data_warehouse_data_mining_spark.operators.text import (
        dunning_llr_collocations,
    )

    from .conftest import SF_SMALL

    rows = dunning_llr_collocations(spark, SF_SMALL).collect()
    assert len(rows) == 20
    pairs = duck.execute(
        f"""
        WITH ws AS (SELECT string_split(text, ' ') AS ws
                    FROM '{SF_SMALL}/documents.parquet'),
        bg AS (SELECT ws[i] AS w1, ws[i+1] AS w2
               FROM ws, unnest(range(1, len(ws))) AS t(i)
               WHERE len(ws) >= 2)
        SELECT w1, w2, count(*) FROM bg GROUP BY 1, 2
        """
    ).fetchall()
    rowm: dict = {}
    colm: dict = {}
    n = 0
    k = {}
    for w1, w2, c in pairs:
        k[(w1, w2)] = c
        rowm[w1] = rowm.get(w1, 0) + c
        colm[w2] = colm.get(w2, 0) + c
        n += c

    def xlnx(x):
        return math.floor(x * math.log(x) * 1e6 + 1e-3) if x > 0 else 0

    for rrow in rows:
        w1, w2 = rrow["bigram"].split(" ", 1)
        k11 = k[(w1, w2)]
        r, c = rowm[w1], colm[w2]
        k12, k21, k22 = r - k11, c - k11, n - r - c + k11
        llr2 = 2 * (
            xlnx(k11) + xlnx(k12) + xlnx(k21) + xlnx(k22) + xlnx(n)
            - xlnx(r) - xlnx(n - r) - xlnx(c) - xlnx(n - c)
        )
        assert rrow["llr_micro2"] == llr2, rrow["bigram"]
        assert rrow["n_cooccur"] == k11
        assert rrow["llr"] >= -0.001  # G^2 >= 0 up to floor residue


def test_kulldorff_scan_python_replica(spark, duck):
    """Top-10 windows and scores must match a brute-force Python scan
    over all contiguous windows (same 1e-6 floors)."""
    import math

    from data_warehouse_data_mining_spark.operators.mining_stats import (
        kulldorff_temporal_scan,
    )

    from .conftest import SF_SMALL

    months = duck.execute(
        f"""
        SELECT strftime(o_orderdate, '%Y-%m'), count(*)
        FROM '{SF_SMALL}/orders.parquet' GROUP BY 1 ORDER BY 1
        """
    ).fetchall()
    cs = [c for _, c in months]
    names = [mth for mth, _ in months]
    ctot, m = sum(cs), len(cs)
    best = []
    for i in range(m):
        cw = 0
        for j in range(i, m):
            cw += cs[j]
            width = j - i + 1
            ew = ctot * width / m
            if cw * m > ctot * width:
                llr = math.floor(cw * math.log(cw / ew) * 1e6 + 1e-3) + \
                    math.floor(
                        (ctot - cw) * math.log((ctot - cw) / (ctot - ew))
                        * 1e6 + 1e-3
                    )
            else:
                llr = 0
            best.append((-llr, names[i], names[j], cw))
    best.sort()
    rows = kulldorff_temporal_scan(spark, SF_SMALL).collect()
    for r, (negllr, sm, em, cw) in zip(rows, best[:10]):
        assert (r["start_month"], r["end_month"]) == (sm, em)
        assert r["llr_micro"] == -negllr
        assert r["n_orders"] == cw


def test_wasserstein_drift_python_replica(spark, duck):
    """W1 per nation must equal the exact Python CDF-difference sum,
    and be bounded by the series length in months."""
    from data_warehouse_data_mining_spark.operators.mining_stats import (
        wasserstein_drift_by_nation,
    )

    from .conftest import SF_SMALL

    rows = {r["nation"]: r for r in
            wasserstein_drift_by_nation(spark, SF_SMALL).collect()}
    base = duck.execute(
        f"""
        SELECT n_name, strftime(o_orderdate, '%Y-%m') AS m, count(*)
        FROM '{SF_SMALL}/orders.parquet'
        JOIN '{SF_SMALL}/customer.parquet' ON c_custkey = o_custkey
        JOIN '{SF_SMALL}/nation.parquet' ON n_nationkey = c_nationkey
        GROUP BY 1, 2
        """
    ).fetchall()
    months = sorted({m for _, m, _ in base})
    glob = {m: 0 for m in months}
    per: dict = {}
    for nat, m, c in base:
        per.setdefault(nat, {m2: 0 for m2 in months})[m] = c
        glob[m] += c
    tg = sum(glob.values())
    for nat, series in per.items():
        tn = sum(series.values())
        cn = cg = 0
        num = 0
        for m in months:
            cn += series[m]
            cg += glob[m]
            num += abs(cn * tg - cg * tn)
        w1 = num / (tn * tg)
        assert abs(rows[nat]["w1_months"] - w1) <= 5e-7, nat
        assert 0 <= rows[nat]["w1_months"] <= len(months)
        assert rows[nat]["n_orders"] == tn


def test_logrank_python_replica_and_placebo(spark, duck):
    """chi2 recomputed in Python from the exact per-time risk tables
    must match to the 1e-6 floor; the hash-split arms are a placebo,
    so the test must not reject."""
    import math

    from data_warehouse_data_mining_spark.operators.mining import (
        logrank_test_arms,
    )

    from .conftest import SF_SMALL

    lives = duck.execute(
        f"""
        WITH spans AS (
          SELECT user_id,
                 CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
                           < '8' THEN 'A' ELSE 'B' END AS arm,
                 CAST(date_trunc('day', min(ts)) AS DATE) AS f,
                 CAST(date_trunc('day', max(ts)) AS DATE) AS l,
                 CAST(date_trunc('day', min(CASE WHEN event_type =
                     'purchase' THEN ts END)) AS DATE) AS p
          FROM '{SF_SMALL}/events.parquet' GROUP BY 1)
        SELECT arm, date_diff('day', f, coalesce(p, l)),
               CASE WHEN p IS NULL THEN 0 ELSE 1 END
        FROM spans
        """
    ).fetchall()
    per_t: dict = {}
    for arm, t, ev in lives:
        rec = per_t.setdefault(t, [0, 0, 0, 0])  # d, d_a, total, total_a
        rec[0] += ev
        rec[2] += 1
        if arm == "A":
            rec[1] += ev
            rec[3] += 1
    times = sorted(per_t)
    o_a = se = sv = 0
    n = sum(per_t[t][2] for t in times)
    n_a = sum(per_t[t][3] for t in times)
    for t in times:
        d, d_a, total, total_a = per_t[t]
        if d > 0:
            o_a += d_a
            se += math.floor(d * (n_a / n) * 1e6 + 1e-3)
            if n > 1:
                sv += math.floor(
                    d * (n_a / n) * (1 - n_a / n) * (n - d) / (n - 1)
                    * 1e6 + 1e-3
                )
        n -= total
        n_a -= total_a
    chi2 = (o_a - se / 1e6) ** 2 / (sv / 1e6)
    r = logrank_test_arms(spark, SF_SMALL).collect()[0]
    assert r["observed_a"] == o_a
    assert abs(r["expected_a"] - se / 1e6) <= 1e-3
    assert abs(r["chi2_logrank"] - chi2) <= 1e-4
    assert r["significant_95"] == 0  # placebo split


def test_weibull_fit_python_replica(spark, duck):
    """Shape/scale recomputed in Python with the same 1e-6 floors must
    match; shape must be positive and the median below the scale for
    any k (ln2 < 1)."""
    import math

    from data_warehouse_data_mining_spark.operators.mining import (
        weibull_lifetime_fit,
    )

    from .conftest import SF_SMALL

    ts = [
        t for (t,) in duck.execute(
            f"""
            WITH spans AS (
              SELECT user_id, CAST(date_trunc('day', min(ts)) AS DATE) AS f,
                     CAST(date_trunc('day', min(CASE WHEN event_type =
                         'purchase' THEN ts END)) AS DATE) AS p
              FROM '{SF_SMALL}/events.parquet' GROUP BY 1)
            SELECT date_diff('day', f, p) + 1 FROM spans
            WHERE p IS NOT NULL ORDER BY 1
            """
        ).fetchall()
    ]
    n = len(ts)
    xs = [math.floor(math.log(t) * 1e6 + 1e-3) for t in ts]
    ys = [
        math.floor(
            math.log(-math.log(1.0 - (i - 0.3) / (n + 0.4))) * 1e6 + 1e-3
        )
        for i in range(1, n + 1)
    ]
    sx, sy = sum(xs), sum(ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    sxx = sum(x * x for x in xs)
    k = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    mx, my = sx / (n * 1e6), sy / (n * 1e6)
    scale = math.exp(mx - my / k)
    r = weibull_lifetime_fit(spark, SF_SMALL).collect()[0]
    assert r["n_events"] == n
    assert abs(r["shape_k"] - k) <= 1e-5
    assert abs(r["scale_days"] - scale) <= 1e-3
    assert r["shape_k"] > 0
    assert r["median_days"] < r["scale_days"]


def test_markov_entropy_rate_bounds_and_replica(spark, duck):
    """Row entropies recomputed in Python from the exact bigram table
    must match; the rate must lie in [0, log2(5)] and be a pi-weighted
    average of the row entropies."""
    import math

    from data_warehouse_data_mining_spark.operators.udfs import (
        markov_entropy_rate,
    )

    from .conftest import SF_SMALL

    rows = {r["state"]: r for r in markov_entropy_rate(spark, SF_SMALL).collect()}
    big = duck.execute(
        f"""
        SELECT prev_type, event_type, count(*) FROM (
          SELECT event_type,
                 lag(event_type) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS prev_type
          FROM '{SF_SMALL}/events.parquet') t
        WHERE prev_type IS NOT NULL GROUP BY 1, 2
        """
    ).fetchall()
    per: dict = {}
    for pt, _nt, n in big:
        per[pt] = per.get(pt, 0) + n
    hrow: dict = {}
    for pt, _nt, n in big:
        p = n / per[pt]
        hrow[pt] = hrow.get(pt, 0) - math.floor(
            p * math.log(p) * 1e6 - 1e-3
        )
    maxbits = math.log2(5)
    wsum = 0.0
    psum = 0.0
    for st, r in rows.items():
        want = hrow[st] / (1e6 * 0.693147181)
        assert abs(r["state_entropy_bits"] - want) <= 5e-6, st
        assert 0 <= r["state_entropy_bits"] <= maxbits + 1e-6
        wsum += r["stationary_prob"] * r["state_entropy_bits"]
        psum += r["stationary_prob"]
    assert abs(psum - 1.0) <= 1e-4
    rate = next(iter(rows.values()))["entropy_rate_bits"]
    assert 0 <= rate <= maxbits + 1e-6
    assert abs(rate - wsum) <= 1e-3


def test_markov_power_iteration_empty_and_hand_computed(spark):
    """An empty transition table yields no rows (the oracle's answer;
    a uniform start of 1/0 used to raise ZeroDivisionError). On
    A→B 1, B→B ½, B→C ½, C→C 1 from the uniform (⅓, ⅓, ⅓): A has no
    in-edge and leaves the support after one superstep, B halves every
    superstep after reaching ½, and C absorbs the rest, so after 12
    supersteps prob = {B: 2⁻¹², C: 1 − 2⁻¹²}."""
    from data_warehouse_data_mining_spark.operators.udfs import (
        _MARKOV_ITERS,
        _power_iteration,
    )

    schema = "prev_type string, next_type string, p double"
    assert _power_iteration(spark.createDataFrame([], schema)).collect() == []

    trans = spark.createDataFrame(
        [("A", "B", 1.0), ("B", "B", 0.5), ("B", "C", 0.5), ("C", "C", 1.0)],
        schema,
    )
    got = {r["state"]: r["prob"] for r in _power_iteration(trans).collect()}
    assert _MARKOV_ITERS == 12
    want = {"B": 2.0**-12, "C": 1 - 2.0**-12}
    assert got.keys() == want.keys()
    for s, v in want.items():
        assert abs(got[s] - v) <= 1e-12, (s, got[s], v)


def test_fisher_index_geometric_mean_and_bounds(spark, duck):
    """Fisher must be the geometric mean of Laspeyres and Paasche and
    lie between them; all three recomputed from an exact Python
    replica of the per-part baskets."""
    import math

    from data_warehouse_data_mining_spark.operators.tpch import (
        price_index_fisher,
    )

    from .conftest import SF_SMALL

    r = price_index_fisher(spark, SF_SMALL).collect()[0]
    lo, hi = sorted([r["laspeyres"], r["paasche"]])
    assert lo - 1e-9 <= r["fisher"] <= hi + 1e-9
    assert abs(r["fisher"] - math.sqrt(r["laspeyres"] * r["paasche"])) <= 2e-6
    rows = duck.execute(
        f"""
        WITH per AS (
          SELECT l_partkey AS pk, CAST(strftime(o_orderdate, '%Y') AS INT)
                   AS yr,
                 sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS s,
                 sum(CAST(l_quantity AS BIGINT)) AS q
          FROM '{SF_SMALL}/lineitem.parquet'
          JOIN '{SF_SMALL}/orders.parquet' ON o_orderkey = l_orderkey
          WHERE o_orderdate >= TIMESTAMP '1995-01-01'
            AND o_orderdate < TIMESTAMP '1997-01-01'
          GROUP BY 1, 2)
        SELECT a.s, a.q, b.s, b.q
        FROM per a JOIN per b ON b.pk = a.pk AND a.yr = 1995 AND b.yr = 1996
        WHERE a.q > 0 AND b.q > 0
        """
    ).fetchall()
    l_num = sum(math.floor(s1 * q0 / q1 * 1000 + 1e-3) for s0, q0, s1, q1 in rows)
    l_den = sum(s0 for s0, _q0, _s1, _q1 in rows)
    p_num = sum(s1 for _s0, _q0, s1, _q1 in rows)
    p_den = sum(math.floor(s0 * q1 / q0 * 1000 + 1e-3) for s0, q0, s1, q1 in rows)
    assert r["n_parts"] == len(rows)
    assert abs(r["laspeyres"] - l_num / (1000.0 * l_den)) <= 1e-5
    assert abs(r["paasche"] - p_num * 1000.0 / p_den) <= 1e-5


def test_newey_west_near_white_ratio_and_replica(spark, duck):
    """On the near-white arrival series the inflation ratio must sit
    near 1; the variance terms must match an exact Python replica of
    the scaled-integer autocovariances with Bartlett weights."""
    import math

    from data_warehouse_data_mining_spark.operators.mining_stats import (
        NW_LAGS,
        newey_west_robust_se,
    )

    from .conftest import SF_SMALL

    r = newey_west_robust_se(spark, SF_SMALL).collect()[0]
    assert 0.5 < r["se_inflation_ratio"] < 1.5  # near-white arrivals
    daily = dict(
        duck.execute(
            f"""
            SELECT CAST(date_trunc('day', o_orderdate) AS DATE),
                   sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
            FROM '{SF_SMALL}/orders.parquet' GROUP BY 1
            """
        ).fetchall()
    )
    days = sorted(daily)
    n = len(days)
    s = sum(daily.values())
    av = {d: n * daily[d] - s for d in days}
    d0 = sum(v * v for v in av.values())
    wsum = 0
    import datetime

    for d in days:
        for k in range(1, NW_LAGS + 1):
            d2 = d + datetime.timedelta(days=k)
            if d2 in av:
                wsum += (NW_LAGS + 1 - k) * av[d] * av[d2]
    var_n = d0 / (n**4)
    var_nw = (d0 * (NW_LAGS + 1) + 2 * wsum) / ((NW_LAGS + 1) * n**4)
    assert r["n_days"] == n
    assert abs(r["naive_se_dollars"] - math.sqrt(var_n) / 100) <= 1e-3
    assert (
        abs(r["nw_se_dollars"] - math.sqrt(max(var_nw, 0.0)) / 100) <= 1e-3
    )


def test_cvm_python_replica_and_placebo(spark, duck):
    """T recomputed exactly in Python integers from the pooled CDFs
    must match; the hash-split placebo must not reject."""
    from data_warehouse_data_mining_spark.operators.mining_stats import (
        cramer_von_mises_arms,
    )

    from .conftest import SF_SMALL

    per = duck.execute(
        f"""
        SELECT CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8'
                    THEN 'A' ELSE 'B' END,
               sum(CAST(round(value * 100, 0) AS BIGINT))
        FROM '{SF_SMALL}/events.parquet' GROUP BY user_id
        """
    ).fetchall()
    from collections import Counter

    cnt = Counter(c for _, c in per)
    cnt_a = Counter(c for arm, c in per if arm == "A")
    n = sum(cnt_a.values())
    m = sum(cnt.values()) - n
    cum_a = cum_b = 0
    q = 0
    for c in sorted(cnt):
        ca = cnt_a.get(c, 0)
        cum_a += ca
        cum_b += cnt[c] - ca
        q += cnt[c] * (cum_a * m - cum_b * n) ** 2
    t = q / (n * m * (n + m) ** 2)
    r = cramer_von_mises_arms(spark, SF_SMALL).collect()[0]
    assert (r["n_a"], r["n_b"]) == (n, m)
    assert abs(r["cvm_t"] - t) <= 5e-7
    assert r["significant_95"] == 0  # placebo


def test_kendalls_w_python_replica_and_identity(spark, duck):
    """W and Friedman chi2 recomputed from exact Python ranks must
    match; chi2 must equal m(n-1)W; W in [0, 1]."""
    from data_warehouse_data_mining_spark.operators.mining_stats import (
        KW_YEARS,
        kendalls_w_nation_ranks,
    )

    from .conftest import SF_SMALL

    rows = duck.execute(
        f"""
        SELECT n_name, CAST(strftime(o_orderdate, '%Y') AS INT) AS yr,
               sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS rev
        FROM '{SF_SMALL}/orders.parquet'
        JOIN '{SF_SMALL}/customer.parquet' ON c_custkey = o_custkey
        JOIN '{SF_SMALL}/nation.parquet' ON n_nationkey = c_nationkey
        WHERE CAST(strftime(o_orderdate, '%Y') AS INT)
              BETWEEN {KW_YEARS[0]} AND {KW_YEARS[-1]}
        GROUP BY 1, 2
        """
    ).fetchall()
    by_year: dict = {}
    for nat, yr, rev in rows:
        by_year.setdefault(yr, []).append((-rev, nat))
    rsum: dict = {}
    for yr, lst in by_year.items():
        for rk, (_negrev, nat) in enumerate(sorted(lst), start=1):
            rsum[nat] = rsum.get(nat, 0) + rk
    n, m = len(rsum), len(by_year)
    s4 = sum((2 * r - m * (n + 1)) ** 2 for r in rsum.values())
    w = 3.0 * s4 / (m * m * (n**3 - n))
    r = kendalls_w_nation_ranks(spark, SF_SMALL).collect()[0]
    assert (r["n_nations"], r["m_years"]) == (n, m)
    assert abs(r["w_concordance"] - w) <= 1e-5
    assert abs(r["friedman_chi2"] - m * (n - 1) * w) <= 1e-3
    assert 0 <= r["w_concordance"] <= 1


def test_moran_i_pair_sum_identity(spark, duck):
    """The telescoped region-sum computation must equal the explicit
    O(n^2) double sum over same-region pairs computed in Python, and
    I must be >= -1/(n-1)-ish bounded in a sane band."""
    from data_warehouse_data_mining_spark.operators.mining_stats import (
        moran_i_regional,
    )

    from .conftest import SF_SMALL

    rows = duck.execute(
        f"""
        SELECT n_regionkey,
               sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        FROM '{SF_SMALL}/orders.parquet'
        JOIN '{SF_SMALL}/customer.parquet' ON c_custkey = o_custkey
        JOIN '{SF_SMALL}/nation.parquet' ON n_nationkey = c_nationkey
        GROUP BY n_nationkey, n_regionkey
        """
    ).fetchall()
    n = len(rows)
    s = sum(v for _, v in rows)
    zs = [(rk, n * v - s) for rk, v in rows]
    num = sum(
        zi * zj
        for i, (ri, zi) in enumerate(zs)
        for j, (rj, zj) in enumerate(zs)
        if i != j and ri == rj
    )
    den = sum(z * z for _, z in zs)
    from collections import Counter

    nr = Counter(rk for rk, _ in zs)
    w_tot = sum(c * (c - 1) for c in nr.values())
    want = n * num / (w_tot * den)
    r = moran_i_regional(spark, SF_SMALL).collect()[0]
    assert r["n_nations"] == n and r["n_neighbor_pairs"] == w_tot
    assert abs(r["moran_i"] - want) <= 1e-5
    assert -1.5 <= r["moran_i"] <= 1.5
    assert r["positive_autocorrelation"] == int(want > -1 / (n - 1))


def test_cart_split_python_replica(spark, duck):
    """Top-5 split gains must match a brute-force Python scan over all
    candidate thresholds (same 1e-9 floors); gains nonnegative-ish up
    to floor residue; each row's rates consistent with its counts."""
    import math

    from data_warehouse_data_mining_spark.operators.mining_stats import (
        cart_best_split,
    )

    from .conftest import SF_SMALL

    panel = duck.execute(
        f"""
        SELECT CAST(round(c.c_acctbal * 100, 0) AS BIGINT) AS x,
               CASE WHEN cv.o_custkey IS NULL THEN 0 ELSE 1 END AS y
        FROM '{SF_SMALL}/customer.parquet' c
        LEFT JOIN (SELECT DISTINCT o_custkey FROM
                   '{SF_SMALL}/orders.parquet'
                   WHERE o_orderdate >= TIMESTAMP '1996-01-01'
                     AND o_orderdate < TIMESTAMP '1997-01-01') cv
          ON cv.o_custkey = c.c_custkey
        """
    ).fetchall()
    from collections import Counter

    cnt = Counter()
    pos = Counter()
    for x, y in panel:
        cnt[x] += 1
        pos[x] += y
    n = sum(cnt.values())
    p = sum(pos.values())
    best = []
    nl = pl = 0
    for x in sorted(cnt):
        nl += cnt[x]
        pl += pos[x]
        if 0 < nl < n:
            nr, pr = n - nl, p - pl
            gain = (
                (pl * pl + (nl - pl) * (nl - pl)) / nl
                + (pr * pr + (nr - pr) * (nr - pr)) / nr
                - (p * p + (n - p) * (n - p)) / n
            ) / n
            best.append((-math.floor(gain * 1e9 + 1e-3), x))
    best.sort()
    rows = cart_best_split(spark, SF_SMALL).collect()
    for r, (neg, x) in zip(rows, best[:5]):
        assert r["gain_nano"] == -neg
        assert abs(r["threshold_dollars"] - x / 100) < 0.005
        assert r["gini_gain"] >= -1e-6
        assert (
            abs(r["conv_rate_left"] * r["n_left"]
                + r["conv_rate_right"] * r["n_right"] - p) < 1.0
        )


def test_partial_correlation_weekday_replica(spark, duck):
    """Raw and weekday-partial correlations must match a Python
    replica; both near-1 here (count drives revenue beyond the weekly
    cycle) and bounded in [-1, 1]."""
    from data_warehouse_data_mining_spark.operators.mining_stats import (
        partial_correlation_weekday,
    )

    from .conftest import SF_SMALL

    daily = duck.execute(
        f"""
        SELECT dayofweek(CAST(date_trunc('day', o_orderdate) AS DATE)),
               count(*),
               sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        FROM '{SF_SMALL}/orders.parquet'
        GROUP BY date_trunc('day', o_orderdate)
        """
    ).fetchall()
    groups: dict = {}
    for dow, x, y in daily:
        groups.setdefault(dow, []).append((x, y))
    n = len(daily)
    gx = sum(x for _, x, _ in daily)
    gy = sum(y for _, _, y in daily)
    gxy = sum(x * y for _, x, y in daily)
    gxx = sum(x * x for _, x, _ in daily)
    gyy = sum(y * y for _, _, y in daily)
    raw = (n * gxy - gx * gy) / (
        ((n * gxx - gx * gx) * (n * gyy - gy * gy)) ** 0.5
    )
    pxy = pxx = pyy = 0.0
    for pts in groups.values():
        ng = len(pts)
        sx = sum(x for x, _ in pts)
        sy = sum(y for _, y in pts)
        pxy += (ng * sum(x * y for x, y in pts) - sx * sy) / ng
        pxx += (ng * sum(x * x for x, _ in pts) - sx * sx) / ng
        pyy += (ng * sum(y * y for _, y in pts) - sy * sy) / ng
    part = pxy / (pxx * pyy) ** 0.5
    r = partial_correlation_weekday(spark, SF_SMALL).collect()[0]
    assert r["n_days"] == n
    assert abs(r["raw_pearson"] - raw) <= 1e-5
    assert abs(r["weekday_partial_r"] - part) <= 1e-5
    assert -1 <= r["weekday_partial_r"] <= 1
