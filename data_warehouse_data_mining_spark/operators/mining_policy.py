"""Attribution / policy-evaluation / sequential-experimentation mining
tier (split from mining.py, r11): Shapley and Markov-removal multitouch
attribution, uplift (Qini), survival hazards, paired tests (McNemar),
scorecard measures (WoE/IV), variance/mix decompositions, drift and
trend monitors (Mann-Kendall, Page-Hinkley), calibration (isotonic,
Brier), offline policy evaluation (IPS, doubly-robust cross-fit),
multiple-testing control (BH-FDR), always-valid monitoring (mSPRT),
bandit replay (UCB1), and the distribution-fingerprint tail
(L-moments, Haar energy, rerandomization, Theil index).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from data_warehouse_data_mining_spark.catalog import load
from data_warehouse_data_mining_spark.operators.mining_common import (
    _CUPED_SPLIT,
    _EV_CENTS,
)
from data_warehouse_data_mining_spark.registry import register

# Shapley MTA channels, alphabetical bit order (4 channels -> exact
# 24ths). s!(3-s)! marginal weights by |S| for C=4: 6, 2, 2, 6.
_MTA_CHANNELS = ["click", "error", "signup", "view"]
_MTA_W = {0: 6, 1: 2, 2: 2, 3: 6}


@register(
    "shapley_touch_attribution",
    oracle=f"""
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
    ),
    nm AS (SELECT m, CAST(count(*) AS BIGINT) AS n FROM masks GROUP BY m),
    subsets AS (SELECT unnest(range(0, 16)) AS s),
    v AS (
      SELECT s.s, CAST(coalesce(sum(CASE WHEN (nm.m & s.s) = nm.m
                                          THEN nm.n ELSE 0 END), 0)
                       AS BIGINT) AS v
      FROM subsets s CROSS JOIN nm GROUP BY s.s
    ),
    phis AS (
      {" UNION ALL ".join(f'''
      SELECT '{ch}' AS channel,
             CAST(sum(CASE bit_count(a.s) WHEN 0 THEN 6 WHEN 1 THEN 2
                           WHEN 2 THEN 2 ELSE 6 END * (b.v - a.v))
                  AS BIGINT) AS phi_24ths
      FROM v a JOIN v b ON b.s = a.s | {1 << i}
      WHERE (a.s & {1 << i}) = 0''' for i, ch in enumerate(_MTA_CHANNELS))}
    ),
    tot AS (
      SELECT (SELECT v FROM v WHERE s = 15) - (SELECT v FROM v WHERE s = 0)
               AS gain
    )
    SELECT channel, phi_24ths,
           round(phi_24ths / 24.0, 6) AS phi_users,
           round(phi_24ths * 100.0 / (24 * greatest(t.gain, 1)), 6)
             AS share_pct
    FROM phis CROSS JOIN tot t
    ORDER BY channel
    """,
)
def shapley_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shapley-value multi-touch attribution (the game-theoretic MTA of
    Zhao et al. 2018 / Google Ads' data-driven attribution): coalition
    value v(S) = converted users whose pre-purchase touch-set needs only
    channels in S, and each channel's credit is its exact Shapley value
    — the principled split that first/last/linear (multitouch_
    attribution) can't give when channels overlap.

    Exactness: with 4 channels every weight s!(3−s)! is an integer over
    4! = 24, so φ is an exact BIGINT in 24ths; touch-sets are 4-bit
    masks, the 16 coalition values come from one zeta transform
    (subset-sum join over the 16-row mask-count table), and the
    efficiency axiom Σφ = v(N) − v(∅) is test-pinned. Scale shape: one
    events pass builds per-user masks (first-purchase anti-window via a
    broadcast of the tiny converted-user table... the user-keyed join
    IS the fact shuffle), everything after is 16-row algebra."""
    e = load(spark, sf_dir).events
    first_p = e.filter(F.col("event_type") == "purchase").groupBy(
        "user_id"
    ).agg(F.min("ts").alias("pts"))
    bit = (
        F.when(F.col("event_type") == "click", 1)
        .when(F.col("event_type") == "error", 2)
        .when(F.col("event_type") == "signup", 4)
        .when(F.col("event_type") == "view", 8)
    )
    touches = e.filter(F.col("event_type") != "purchase").select(
        F.col("user_id").alias("tu"), "ts", bit.alias("b")
    )
    masks = (
        first_p.join(
            touches,
            (F.col("tu") == F.col("user_id")) & (F.col("ts") < F.col("pts")),
            "left",
        )
        .groupBy("user_id")
        .agg(
            F.coalesce(F.sum_distinct(F.col("b")), F.lit(0))
            .cast("long")
            .alias("m")
        )
    )
    nm = masks.groupBy("m").agg(F.count(F.lit(1)).cast("long").alias("n"))
    subsets = spark.range(16).select(F.col("id").cast("long").alias("s"))
    v = (
        subsets.crossJoin(nm)
        .groupBy("s")
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("m").bitwiseAND(F.col("s")) == F.col("m"),
                        F.col("n"),
                    ).otherwise(0)
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("v")
        )
        # 16 rows; self-joined once per channel + two scalar lookups
        .localCheckpoint(eager=True)
    )
    wcase = (
        F.when(F.bit_count(F.col("s")) == 0, 6)
        .when(F.bit_count(F.col("s")) == 1, 2)
        .when(F.bit_count(F.col("s")) == 2, 2)
        .otherwise(6)
    )
    vb = v.select(F.col("s").alias("s2"), F.col("v").alias("v2"))
    phis = []
    for i, ch in enumerate(_MTA_CHANNELS):
        bitv = 1 << i
        phi = (
            v.filter(F.col("s").bitwiseAND(F.lit(bitv)) == 0)
            .join(vb, F.col("s2") == F.col("s").bitwiseOR(F.lit(bitv)))
            .agg(
                F.sum(wcase * (F.col("v2") - F.col("v")))
                .cast("long")
                .alias("phi_24ths")
            )
            .select(F.lit(ch).alias("channel"), "phi_24ths")
        )
        phis.append(phi)
    allphi = phis[0]
    for ph in phis[1:]:
        allphi = allphi.unionByName(ph)
    vn = v.filter(F.col("s") == 15).select(F.col("v").alias("vn"))
    v0 = v.filter(F.col("s") == 0).select(F.col("v").alias("v0"))
    return (
        allphi.crossJoin(F.broadcast(vn))
        .crossJoin(F.broadcast(v0))
        .select(
            "channel",
            "phi_24ths",
            F.round(F.col("phi_24ths") / 24.0, 6).alias("phi_users"),
            F.round(
                F.col("phi_24ths")
                * 100.0
                / (24 * F.greatest(F.col("vn") - F.col("v0"), F.lit(1))),
                6,
            ).alias("share_pct"),
        )
        .orderBy("channel")
    )


# Markov MTA: absorption-probability iteration in exact integer micro
# units — v'(s) = (Σ_t c_st·v(t)) // n_s — so every engine computes the
# identical vector at every step (floor-div drift is mirrored).
MARKOV_ITERS = 16
_MARKOV_SCEN = ["base", "click", "error", "signup", "view"]


def _markov_oracle() -> str:
    scen = ", ".join(f"'{s}'" for s in _MARKOV_SCEN)
    steps = []
    for i in range(MARKOV_ITERS):
        steps.append(
            f"""v{i + 1} AS MATERIALIZED (
      SELECT s.scenario, s.state,
             CAST(CASE WHEN s.state = 'conv' THEN 1000000
                       WHEN s.state = 'null' THEN 0
                       ELSE coalesce(
                         (SELECT sum(t.c * pv.v) // any_value(t.n)
                          FROM trans t JOIN v{i} pv
                            ON pv.scenario = s.scenario AND pv.state = t.dst
                          WHERE t.scenario = s.scenario AND t.src = s.state),
                         0) END AS BIGINT) AS v
      FROM states s
    )"""
        )
    unrolled = ",\n    ".join(steps)
    return f"""
    WITH first_p AS (
      SELECT user_id, min(ts) AS pts FROM events
      WHERE event_type = 'purchase' GROUP BY user_id
    ),
    touches AS (
      SELECT e.user_id, e.ts, e.event_id, e.event_type,
             f.user_id IS NOT NULL AS converts
      FROM events e LEFT JOIN first_p f ON f.user_id = e.user_id
      WHERE e.event_type <> 'purchase'
        AND (f.user_id IS NULL OR e.ts < f.pts)
    ),
    hops AS (
      SELECT user_id, converts, event_type AS dst,
             coalesce(lag(event_type) OVER (PARTITION BY user_id
                        ORDER BY ts, event_id), 'start') AS src,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rev
      FROM touches
    ),
    raw_edges AS (
      SELECT src, dst FROM hops
      UNION ALL
      SELECT dst AS src, CASE WHEN converts THEN 'conv' ELSE 'null' END AS dst
      FROM hops WHERE rev = 1
      UNION ALL
      SELECT 'start' AS src, CASE WHEN f.n_touch THEN NULL
                                  ELSE 'conv' END AS dst
      FROM (SELECT u.user_id,
                   max(CASE WHEN t.user_id IS NOT NULL THEN TRUE
                            ELSE FALSE END) AS n_touch
            FROM first_p u LEFT JOIN touches t ON t.user_id = u.user_id
            GROUP BY u.user_id) f
      WHERE NOT f.n_touch
    ),
    edges AS (SELECT src, dst FROM raw_edges WHERE dst IS NOT NULL),
    scens AS (SELECT unnest([{scen}]) AS scenario),
    trans0 AS (
      SELECT s.scenario, e.src,
             CASE WHEN e.dst = s.scenario THEN 'null' ELSE e.dst END AS dst,
             CAST(count(*) AS BIGINT) AS c
      FROM edges e CROSS JOIN scens s
      WHERE e.src <> s.scenario
      GROUP BY 1, 2, 3
    ),
    trans AS MATERIALIZED (
      SELECT scenario, src, dst, c,
             CAST(sum(c) OVER (PARTITION BY scenario, src) AS BIGINT) AS n
      FROM trans0
    ),
    states AS MATERIALIZED (
      SELECT DISTINCT scenario, src AS state FROM trans
      UNION
      SELECT scenario, 'conv' FROM scens
      UNION
      SELECT scenario, 'null' FROM scens
    ),
    v0 AS MATERIALIZED (
      SELECT scenario, state,
             CAST(CASE WHEN state = 'conv' THEN 1000000 ELSE 0 END AS BIGINT)
               AS v
      FROM states
    ),
    {unrolled},
    pconv AS (
      SELECT scenario, v FROM v{MARKOV_ITERS} WHERE state = 'start'
    )
    SELECT r.scenario AS removed_channel,
           round(b.v / 1000000.0, 6) AS p_conv_base,
           round(r.v / 1000000.0, 6) AS p_conv_removed,
           round((b.v - r.v) / CAST(b.v AS DOUBLE), 6) AS removal_effect
    FROM pconv r CROSS JOIN (SELECT v FROM pconv WHERE scenario = 'base') b
    WHERE r.scenario <> 'base'
    ORDER BY removed_channel
    """


@register("markov_removal_attribution", oracle=_markov_oracle())
def markov_removal_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov-chain removal-effect attribution (Anderl et al. 2016 —
    the OTHER principled MTA next to shapley_touch_attribution): build
    the first-order channel transition graph from pre-purchase touch
    paths (start → touches → conv/null), then each channel's credit is
    how much the absorption probability P(start→conv) DROPS when that
    channel's inbound edges are redirected to null — captures sequence
    effects Shapley's set-based view ignores.

    Determinism: transition counts are exact BIGINTs; the absorption
    vector iterates in 1e-6 fixed point with v'(s) = (Σ c_st·v(t)) //
    n_s — integer products, integer floor-div — so all 16 supersteps
    are bit-identical cross-engine (the graph_pagerank discipline), and
    the ≤1-micro-per-step floor drift is mirrored exactly. Removal
    monotonicity (effect >= 0) is test-pinned. Scale shape: one events
    pass with per-user lag windows builds edges; everything after runs
    on the (scenario × states²) table — ≤ 5·7² rows — whose 16
    supersteps execute inside one applyInPandas task per scenario
    (bounded model state, the elo_rating_replay discipline), not as 16
    scheduled join rounds."""
    e = load(spark, sf_dir).events
    first_p = e.filter(F.col("event_type") == "purchase").groupBy(
        "user_id"
    ).agg(F.min("ts").alias("pts"))
    # first_p is user-proportional (one row per converted user) — NO
    # broadcast hint; a plain user_id equi-join lets AQE broadcast only
    # when the converted-user side is actually small at the given scale.
    touches = (
        e.filter(F.col("event_type") != "purchase")
        .join(first_p, "user_id", "left")
        .filter(F.col("pts").isNull() | (F.col("ts") < F.col("pts")))
        .select(
            "user_id",
            "ts",
            "event_id",
            "event_type",
            F.col("pts").isNotNull().alias("converts"),
        )
    )
    wlag = W.partitionBy("user_id").orderBy("ts", "event_id")
    wrev = W.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    hops = touches.select(
        "user_id",
        "converts",
        F.col("event_type").alias("dst"),
        F.coalesce(F.lag("event_type").over(wlag), F.lit("start")).alias("src"),
        F.row_number().over(wrev).alias("rev"),
    )
    tails = hops.filter(F.col("rev") == 1).select(
        F.col("dst").alias("src"),
        F.when(F.col("converts"), "conv").otherwise("null").alias("dst"),
    )
    # converted users with zero pre-purchase touches: start -> conv
    no_touch = (
        first_p.join(
            touches.select(F.col("user_id").alias("tu")).distinct(),
            F.col("tu") == F.col("user_id"),
            "left_anti",
        )
        .select(F.lit("start").alias("src"), F.lit("conv").alias("dst"))
    )
    edges = (
        hops.select("src", "dst").unionByName(tails).unionByName(no_touch)
    )
    scens = F.explode(F.array(*[F.lit(x) for x in _MARKOV_SCEN])).alias(
        "scenario"
    )
    trans0 = (
        edges.select("src", "dst", scens)
        .filter(F.col("src") != F.col("scenario"))
        .select(
            "scenario",
            "src",
            F.when(F.col("dst") == F.col("scenario"), "null")
            .otherwise(F.col("dst"))
            .alias("dst"),
        )
        .groupBy("scenario", "src", "dst")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    wn = W.partitionBy("scenario", "src")
    # eager checkpoint (kept from the pre-r14 shape): the walk output
    # is consumed TWICE downstream (the removed-channel rows and the
    # broadcast 'base' row), so without the truncation the whole
    # events->edges pipeline re-expands under both references (the
    # static plan grew to 28 events scans when this was dropped).
    trans = trans0.withColumn(
        "n", F.sum("c").over(wn).cast("long")
    ).localCheckpoint(eager=True)

    # The {MARKOV_ITERS} value-iteration supersteps run INSIDE one
    # applyInPandas task per scenario (r14, guide §1.2 — change the
    # algorithm first; the elo_rating_replay precedent): the absorption
    # recurrence operates on the (scenario × states²) transition table,
    # ≤ 5·7² literal-bounded rows, never on data-sized state, and each
    # scenario's walk is independent. The former DataFrame loop paid
    # 16 × (join + groupBy + left join) in stage scheduling — ~5 s warm
    # at sf0.01 on 245 rows — plus an eager checkpoint every 4 steps;
    # this shape pays ONE tiny shuffle. Arithmetic is the identical
    # integer fixed point: nv(s) = sum(c·v(dst)) // n over Python ints
    # (non-negative, so SQL div ≡ //); a dst absent from the state set
    # contributed nothing via the former inner join and contributes
    # v.get(dst, 0) = 0 here; states never in flow got coalesce(nv, 0)
    # and get 0 here the same way.
    import pandas as pd

    def value_iterate(pdf: "pd.DataFrame") -> "pd.DataFrame":
        scen = pdf["scenario"].iloc[0]
        by_src: dict[str, tuple[int, list[tuple[str, int]]]] = {}
        for src, dst, c, n in zip(pdf["src"], pdf["dst"], pdf["c"], pdf["n"]):
            ent = by_src.setdefault(src, (int(n), []))
            ent[1].append((dst, int(c)))
        states = set(by_src) | {"conv", "null"}
        v = {s: (1_000_000 if s == "conv" else 0) for s in states}
        for _ in range(MARKOV_ITERS):
            nv = {}
            for s in states:
                if s == "conv":
                    nv[s] = 1_000_000
                elif s == "null":
                    nv[s] = 0
                else:
                    n_s, rows = by_src[s]
                    nv[s] = sum(c * v.get(dst, 0) for dst, c in rows) // n_s
            v = nv
        return pd.DataFrame(
            {"scenario": scen, "state": sorted(v), "v": [v[s] for s in sorted(v)]}
        )

    v = trans.groupBy("scenario").applyInPandas(
        value_iterate, "scenario string, state string, v long"
    )
    pconv = v.filter(F.col("state") == "start").select("scenario", "v")
    base = pconv.filter(F.col("scenario") == "base").select(
        F.col("v").alias("bv")
    )
    return (
        pconv.filter(F.col("scenario") != "base")
        .crossJoin(F.broadcast(base))
        .select(
            F.col("scenario").alias("removed_channel"),
            F.round(F.col("bv") / 1_000_000.0, 6).alias("p_conv_base"),
            F.round(F.col("v") / 1_000_000.0, 6).alias("p_conv_removed"),
            F.round(
                (F.col("bv") - F.col("v")) / F.col("bv").cast("double"), 6
            ).alias("removal_effect"),
        )
        .orderBy("removed_channel")
    )


@register(
    "qini_uplift_curve",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id,
             CASE WHEN md5(CAST(user_id AS VARCHAR)) < '8'
                  THEN 0 ELSE 1 END AS treated,
             CAST(sum(CASE WHEN ts < TIMESTAMP '{_CUPED_SPLIT}'
                           THEN {_EV_CENTS} ELSE 0 END) AS BIGINT) AS score,
             max(CASE WHEN event_type = 'purchase'
                      AND ts >= TIMESTAMP '{_CUPED_SPLIT}'
                      THEN 1 ELSE 0 END) AS conv
      FROM events GROUP BY user_id
    ),
    ranked AS (
      SELECT treated, conv,
             row_number() OVER (ORDER BY score DESC, user_id) AS rn,
             count(*) OVER () AS n
      FROM per_user
    ),
    deciled AS (
      SELECT (rn * 10 - 1) // n + 1 AS decile, treated, conv FROM ranked
    ),
    per_dec AS (
      SELECT decile,
             CAST(sum(treated) AS BIGINT) AS n_t,
             CAST(sum(1 - treated) AS BIGINT) AS n_c,
             CAST(sum(treated * conv) AS BIGINT) AS conv_t,
             CAST(sum((1 - treated) * conv) AS BIGINT) AS conv_c
      FROM deciled GROUP BY decile
    ),
    cum AS (
      SELECT decile,
             CAST(sum(n_t) OVER w AS BIGINT) AS ct_n,
             CAST(sum(n_c) OVER w AS BIGINT) AS cc_n,
             CAST(sum(conv_t) OVER w AS BIGINT) AS ct_conv,
             CAST(sum(conv_c) OVER w AS BIGINT) AS cc_conv
      FROM per_dec
      WINDOW w AS (ORDER BY decile ROWS UNBOUNDED PRECEDING)
    )
    SELECT CAST(decile AS BIGINT) AS decile, ct_n AS n_treated_cum,
           cc_n AS n_control_cum, ct_conv AS conv_treated_cum,
           cc_conv AS conv_control_cum,
           CASE WHEN cc_n = 0 THEN CAST(NULL AS DOUBLE)
                ELSE round(ct_conv - cc_conv * (ct_n / CAST(cc_n AS DOUBLE)), 6)
           END AS qini
    FROM cum ORDER BY decile
    """,
)
def qini_uplift_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Qini curve for uplift targeting (Radcliffe 2007): users ranked
    by a targeting score (pre-period spend, descending — "contact the
    big spenders first"), and at each cumulative decile the incremental
    conversions Qini(k) = conv_T(k) − conv_C(k)·N_T(k)/N_C(k) — the
    uplift-model evaluation that shows whether targeting beats
    contacting everyone (the curve's endpoint is the overall
    treatment-control conversion gap, test-pinned).

    Exactness: treatment arm (md5 split), conversions, and the
    targeting score are exact integers from ONE per-user pass; decile
    assignment uses the integer identity (rn·10−1)//n + 1 over the
    two-phase distributed ranking (no single-partition window over the
    user table); cumulative counts are exact BIGINTs over the 10-row
    decile table and Qini is one double expression per row (NULL until
    the cumulative prefix contains a control user, mirrored on both
    engines)."""
    from data_warehouse_data_mining_spark.operators.ranking import (
        global_order_stats,
    )

    e = load(spark, sf_dir).events
    split = F.lit(_CUPED_SPLIT).cast("timestamp")
    cents = F.expr(_EV_CENTS)
    per_user = e.groupBy("user_id").agg(
        F.sum(F.when(F.col("ts") < split, cents).otherwise(0))
        .cast("long")
        .alias("score"),
        F.max(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("ts") >= split),
                1,
            ).otherwise(0)
        ).alias("conv"),
    ).select(
        "user_id",
        "score",
        "conv",
        F.when(F.md5(F.col("user_id").cast("string")) < "8", 0)
        .otherwise(1)
        .alias("treated"),
    )
    ranked = global_order_stats(
        per_user, "score", "user_id", ascending=False
    ).select("treated", "conv", F.col("global_rank").alias("rn"))
    n = per_user.agg(F.count(F.lit(1)).cast("long").alias("n"))
    per_dec = (
        ranked.crossJoin(F.broadcast(n))
        .select(
            F.expr("(rn * 10 - 1) div n + 1").cast("long").alias("decile"),
            "treated",
            "conv",
        )
        .groupBy("decile")
        .agg(
            F.sum("treated").cast("long").alias("n_t"),
            F.sum(1 - F.col("treated")).cast("long").alias("n_c"),
            F.sum(F.col("treated") * F.col("conv")).cast("long").alias("conv_t"),
            F.sum((1 - F.col("treated")) * F.col("conv"))
            .cast("long")
            .alias("conv_c"),
        )
    )
    wc = W.orderBy("decile").rowsBetween(W.unboundedPreceding, 0)
    cum = per_dec.select(
        "decile",
        F.sum("n_t").over(wc).cast("long").alias("n_treated_cum"),
        F.sum("n_c").over(wc).cast("long").alias("n_control_cum"),
        F.sum("conv_t").over(wc).cast("long").alias("conv_treated_cum"),
        F.sum("conv_c").over(wc).cast("long").alias("conv_control_cum"),
    )
    return cum.select(
        "decile",
        "n_treated_cum",
        "n_control_cum",
        "conv_treated_cum",
        "conv_control_cum",
        F.when(F.col("n_control_cum") == 0, F.lit(None).cast("double"))
        .otherwise(
            F.round(
                F.col("conv_treated_cum")
                - F.col("conv_control_cum")
                * (
                    F.col("n_treated_cum")
                    / F.col("n_control_cum").cast("double")
                ),
                6,
            )
        )
        .alias("qini"),
    ).orderBy("decile")


@register(
    "nelson_aalen_hazard",
    oracle="""
    WITH spans AS (
      SELECT user_id,
             CAST(date_trunc('day', min(ts)) AS DATE) AS first_day,
             CAST(date_trunc('day', max(ts)) AS DATE) AS last_day
      FROM events GROUP BY user_id
    ),
    bounds AS (SELECT CAST(date_trunc('day', max(ts)) AS DATE) AS end_day
               FROM events),
    lives AS (
      SELECT CAST(date_diff('day', first_day, last_day) AS BIGINT) AS t_days,
             CASE WHEN date_diff('day', last_day, end_day) < 14 THEN 0 ELSE 1
             END AS churned
      FROM spans CROSS JOIN bounds
    ),
    per_t AS (
      SELECT t_days,
             CAST(sum(churned) AS BIGINT) AS n_churned,
             CAST(count(*) AS BIGINT) AS n_total
      FROM lives GROUP BY t_days
    ),
    risk AS (
      SELECT t_days, n_churned,
             CAST(sum(n_total) OVER (ORDER BY t_days ROWS BETWEEN CURRENT ROW
                    AND UNBOUNDED FOLLOWING) AS BIGINT) AS n_risk
      FROM per_t
    )
    SELECT t_days, n_risk, n_churned,
           round(sum(n_churned * 1.0 / n_risk)
                 OVER (ORDER BY t_days ROWS UNBOUNDED PRECEDING), 6)
             AS cum_hazard,
           round(sum(n_churned * 1.0 / (CAST(n_risk AS DOUBLE) * n_risk))
                 OVER (ORDER BY t_days ROWS UNBOUNDED PRECEDING), 6)
             AS hazard_variance,
           round(exp(-sum(n_churned * 1.0 / n_risk)
                     OVER (ORDER BY t_days ROWS UNBOUNDED PRECEDING)), 6)
             AS na_survival
    FROM risk ORDER BY t_days
    """,
)
def nelson_aalen_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson-Aalen cumulative-hazard estimator over the same censored
    user lifetimes as survival_km_curve: H(t) = Σ_{s≤t} d_s/n_s with
    Aalen's variance Σ d_s/n_s², plus the Fleming-Harrington survival
    exp(−H) — the hazard-scale view KM's product-limit doesn't give
    (additive, so hazards of disjoint segments of the timeline sum).

    Same shape and determinism argument as the KM query: the stream
    collapses to one row per user then per distinct lifetime-day, both
    windows run over a bounded table in an ORDER-defined sequential
    accumulation, and the terms are exact integer ratios — any
    window-tree ulp noise sits far below 6-decimal rounding. The
    identity exp(−H(t)) >= KM(t) (term-wise e^{-x} >= 1−x) is
    test-pinned."""
    e = load(spark, sf_dir).events
    spans = e.groupBy("user_id").agg(
        F.to_date(F.min("ts")).alias("first_day"),
        F.to_date(F.max("ts")).alias("last_day"),
    )
    bounds = e.agg(F.to_date(F.max("ts")).alias("end_day"))
    lives = spans.crossJoin(F.broadcast(bounds)).select(
        F.datediff("last_day", "first_day").cast("long").alias("t_days"),
        F.when(F.datediff("end_day", "last_day") < 14, 0)
        .otherwise(1)
        .alias("churned"),
    )
    per_t = (
        lives.groupBy("t_days")
        .agg(
            F.sum("churned").cast("long").alias("n_churned"),
            F.count(F.lit(1)).cast("long").alias("n_total"),
        )
    )
    w_risk = W.orderBy("t_days").rowsBetween(W.currentRow, W.unboundedFollowing)
    w_cum = W.orderBy("t_days").rowsBetween(W.unboundedPreceding, 0)
    risk = per_t.select(
        "t_days",
        "n_churned",
        F.sum("n_total").over(w_risk).cast("long").alias("n_risk"),
    )
    h = F.sum(F.col("n_churned") * 1.0 / F.col("n_risk")).over(w_cum)
    hv = F.sum(
        F.col("n_churned") * 1.0 / (F.col("n_risk").cast("double") * F.col("n_risk"))
    ).over(w_cum)
    return risk.select(
        "t_days",
        "n_risk",
        "n_churned",
        F.round(h, 6).alias("cum_hazard"),
        F.round(hv, 6).alias("hazard_variance"),
        F.round(F.exp(-h), 6).alias("na_survival"),
    ).orderBy("t_days")


@register(
    "mcnemar_paired_conversion",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id,
             max(CASE WHEN event_type = 'purchase'
                      AND ts < TIMESTAMP '{_CUPED_SPLIT}'
                      THEN 1 ELSE 0 END) AS pre,
             max(CASE WHEN event_type = 'purchase'
                      AND ts >= TIMESTAMP '{_CUPED_SPLIT}'
                      THEN 1 ELSE 0 END) AS post
      FROM events GROUP BY user_id
    ),
    m AS (
      SELECT CAST(sum(pre * post) AS BIGINT) AS both_c,
             CAST(sum(pre * (1 - post)) AS BIGINT) AS pre_only,
             CAST(sum((1 - pre) * post) AS BIGINT) AS post_only,
             CAST(sum((1 - pre) * (1 - post)) AS BIGINT) AS neither,
             CAST(count(*) AS BIGINT) AS n_users
      FROM per_user
    )
    SELECT n_users, both_c AS converted_both, pre_only, post_only, neither,
           round(CASE WHEN pre_only + post_only = 0 THEN 0.0
                      ELSE (CAST(pre_only AS DOUBLE) - post_only)
                           * (pre_only - post_only)
                           / (pre_only + post_only) END, 6)
             AS mcnemar_chi2,
           round(CASE WHEN pre_only + post_only = 0 THEN 0.0
                      ELSE (abs(CAST(pre_only AS DOUBLE) - post_only) - 1)
                           * (abs(CAST(pre_only AS DOUBLE) - post_only) - 1)
                           / (pre_only + post_only) END, 6)
             AS mcnemar_chi2_cc
    FROM m
    """,
)
def mcnemar_paired_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test on the paired pre/post conversion panel: the same
    user observed in both periods, so only the DISCORDANT pairs carry
    information — χ² = (b−c)²/(b+c) over pre-only (b) vs post-only (c)
    converters, with Edwards' continuity-corrected variant — the paired
    counterpart to ab_test_conversion's independent-proportions z
    (McNemar 1947).

    All four contingency cells are exact integer sums from ONE per-user
    pass; both statistics are single double expressions of them, with
    the degenerate b+c=0 case guarded to 0 by an exact integer CASE on
    both engines."""
    e = load(spark, sf_dir).events
    split = F.lit(_CUPED_SPLIT).cast("timestamp")
    conv = lambda cond: F.max(
        F.when((F.col("event_type") == "purchase") & cond, 1).otherwise(0)
    )
    per_user = e.groupBy("user_id").agg(
        conv(F.col("ts") < split).alias("pre"),
        conv(F.col("ts") >= split).alias("post"),
    )
    m = per_user.agg(
        F.sum(F.col("pre") * F.col("post")).cast("long").alias("both_c"),
        F.sum(F.col("pre") * (1 - F.col("post"))).cast("long").alias("pre_only"),
        F.sum((1 - F.col("pre")) * F.col("post")).cast("long").alias("post_only"),
        F.sum((1 - F.col("pre")) * (1 - F.col("post")))
        .cast("long")
        .alias("neither"),
        F.count(F.lit(1)).cast("long").alias("n_users"),
    )
    b, c = F.col("pre_only"), F.col("post_only")
    disc = b + c
    diff = b.cast("double") - c
    chi2 = F.when(disc == 0, 0.0).otherwise(diff * (b - c) / disc)
    adiff = F.abs(diff) - 1
    chi2cc = F.when(disc == 0, 0.0).otherwise(adiff * adiff / disc)
    return m.select(
        "n_users",
        F.col("both_c").alias("converted_both"),
        "pre_only",
        "post_only",
        "neither",
        F.round(chi2, 6).alias("mcnemar_chi2"),
        F.round(chi2cc, 6).alias("mcnemar_chi2_cc"),
    )


@register(
    "woe_information_value",
    oracle="""
    WITH tgt AS (
      SELECT c.c_custkey, c.c_mktsegment,
             CAST(CASE WHEN max(o.o_orderdate) >= TIMESTAMP '1997-01-01'
                  THEN 1 ELSE 0 END AS BIGINT) AS active
      FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY c.c_custkey, c.c_mktsegment
    ),
    cells AS (
      SELECT c_mktsegment AS segment,
             CAST(sum(active) AS BIGINT) AS n_good,
             CAST(sum(1 - active) AS BIGINT) AS n_bad
      FROM tgt GROUP BY c_mktsegment
    ),
    tot AS (SELECT CAST(sum(n_good) AS BIGINT) AS g,
                   CAST(sum(n_bad) AS BIGINT) AS b FROM cells),
    woe AS (
      SELECT segment, n_good, n_bad,
             CAST(floor(ln(((2 * n_good + 1) / (2.0 * t.g + 1))
                           / ((2 * n_bad + 1) / (2.0 * t.b + 1)))
                        * 1000000 + 1e-3) AS BIGINT) AS woe_micro,
             (2 * n_good + 1) / (2.0 * t.g + 1)
               - (2 * n_bad + 1) / (2.0 * t.b + 1) AS dpct
      FROM cells CROSS JOIN tot t
    )
    SELECT segment, n_good AS n_active, n_bad AS n_inactive,
           round(woe_micro / 1000000.0, 6) AS woe,
           round(dpct * woe_micro / 1000000.0, 6) AS iv_contribution,
           round(sum(dpct * woe_micro / 1000000.0) OVER (), 6)
             AS iv_total
    FROM woe ORDER BY segment
    """,
)
def woe_information_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-Evidence and Information Value of the market segment
    against customer activity (any 1997+ order) — the credit-scoring
    feature screen (Siddiqi): WoE = ln(good%/bad%) per category with
    add-½ smoothing, IV = Σ (good% − bad%)·WoE; rule-of-thumb IV < 0.02
    means the feature is useless, > 0.3 strong.

    Fixed-point discipline: distribution ratios are deterministic
    doubles from exact integer counts, ONE ln per category floored to
    micro units; the IV sum runs over the bounded segment table (the
    ≤5-term double sum sits far below 6-decimal rounding — the KM
    argument). One customer⋈orders pass, bounded algebra after."""
    t = load(spark, sf_dir)
    tgt = (
        t.customer.join(
            t.orders, F.col("o_custkey") == F.col("c_custkey"), "left"
        )
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
            F.max(
                F.when(
                    F.col("o_orderdate")
                    >= F.lit("1997-01-01 00:00:00").cast("timestamp"),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("active")
        )
    )
    cells = tgt.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.sum("active").cast("long").alias("n_good"),
        F.sum(1 - F.col("active")).cast("long").alias("n_bad"),
    )
    tot = cells.agg(
        F.sum("n_good").cast("long").alias("g"),
        F.sum("n_bad").cast("long").alias("b"),
    )
    gpct = (2 * F.col("n_good") + 1) / (2.0 * F.col("g") + 1)
    bpct = (2 * F.col("n_bad") + 1) / (2.0 * F.col("b") + 1)
    woe = cells.crossJoin(F.broadcast(tot)).select(
        "segment",
        "n_good",
        "n_bad",
        F.floor(F.log(gpct / bpct) * 1_000_000 + 1e-3)
        .cast("bigint")
        .alias("woe_micro"),
        (gpct - bpct).alias("dpct"),
    )
    wall = W.partitionBy()
    return woe.select(
        "segment",
        F.col("n_good").alias("n_active"),
        F.col("n_bad").alias("n_inactive"),
        F.round(F.col("woe_micro") / 1_000_000.0, 6).alias("woe"),
        F.round(F.col("dpct") * F.col("woe_micro") / 1_000_000.0, 6).alias(
            "iv_contribution"
        ),
        F.round(
            F.sum(F.col("dpct") * F.col("woe_micro") / 1_000_000.0).over(wall),
            6,
        ).alias("iv_total"),
    ).orderBy("segment")


@register(
    "mix_rate_decomposition",
    oracle="""
    WITH cells AS (
      SELECT o_orderpriority AS seg,
             CAST(year(o_orderdate) AS BIGINT) AS yr,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
               AS s
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      GROUP BY 1, 2
    ),
    tot AS (
      SELECT CAST(sum(CASE WHEN yr = 1996 THEN n ELSE 0 END) AS BIGINT) AS n96,
             CAST(sum(CASE WHEN yr = 1997 THEN n ELSE 0 END) AS BIGINT) AS n97
      FROM cells
    ),
    wide AS (
      SELECT seg,
             CAST(sum(CASE WHEN yr = 1996 THEN n ELSE 0 END) AS BIGINT) AS a_n,
             CAST(sum(CASE WHEN yr = 1996 THEN s ELSE 0 END) AS BIGINT) AS a_s,
             CAST(sum(CASE WHEN yr = 1997 THEN n ELSE 0 END) AS BIGINT) AS b_n,
             CAST(sum(CASE WHEN yr = 1997 THEN s ELSE 0 END) AS BIGINT) AS b_s
      FROM cells GROUP BY seg
    ),
    eff AS (
      SELECT w.seg, w.a_n, w.b_n,
             w.a_s / (CAST(w.a_n AS DOUBLE) * 100) AS m_a,
             w.b_s / (CAST(w.b_n AS DOUBLE) * 100) AS m_b,
             (w.b_n / CAST(t.n97 AS DOUBLE) - w.a_n / CAST(t.n96 AS DOUBLE))
               * (w.a_s / (CAST(w.a_n AS DOUBLE) * 100)) AS mix_eff,
             (w.b_n / CAST(t.n97 AS DOUBLE))
               * (w.b_s / (CAST(w.b_n AS DOUBLE) * 100)
                  - w.a_s / (CAST(w.a_n AS DOUBLE) * 100)) AS rate_eff
      FROM wide w CROSS JOIN tot t
    )
    SELECT seg AS priority, a_n AS n_1996, b_n AS n_1997,
           round(m_a, 6) AS mean_1996, round(m_b, 6) AS mean_1997,
           round(mix_eff, 6) AS mix_effect,
           round(rate_eff, 6) AS rate_effect,
           round(sum(mix_eff + rate_eff) OVER (), 6) AS delta_total_mean
    FROM eff ORDER BY priority
    """,
)
def mix_rate_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mix/rate (Oaxaca-Blinder-style) decomposition of the 1996→1997
    change in mean order value by order priority: Δmean splits EXACTLY
    into a MIX effect Σ(Δshare·mean₉₆) — the segments got re-weighted —
    and a RATE effect Σ(share₉₇·Δmean) — values moved within segments;
    the mix-shift analysis behind every "is revenue/order down because
    of WHAT we sell or HOW MUCH each sells for" BI question. The
    identity Σ(mix+rate) = Δmean is algebraic and test-pinned.

    One orders scan to the (priority, year) cell table; shares and
    means are deterministic doubles of exact integer counts/cent sums;
    the decomposition identity holds exactly in real arithmetic and to
    double rounding here. Window over the 5-row effect table only."""
    o = load(spark, sf_dir).orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    cells = o.groupBy(
        F.col("o_orderpriority").alias("seg"),
        F.year("o_orderdate").cast("long").alias("yr"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)"))
        .cast("long")
        .alias("s"),
    ).localCheckpoint(eager=True)
    yif = lambda y, c: F.sum(F.when(F.col("yr") == y, F.col(c)).otherwise(0)).cast("long")
    tot = cells.agg(
        yif(1996, "n").alias("n96"), yif(1997, "n").alias("n97")
    )
    wide = cells.groupBy("seg").agg(
        yif(1996, "n").alias("a_n"),
        yif(1996, "s").alias("a_s"),
        yif(1997, "n").alias("b_n"),
        yif(1997, "s").alias("b_s"),
    )
    m_a = F.col("a_s") / (F.col("a_n").cast("double") * 100)
    m_b = F.col("b_s") / (F.col("b_n").cast("double") * 100)
    w_a = F.col("a_n") / F.col("n96").cast("double")
    w_b = F.col("b_n") / F.col("n97").cast("double")
    eff = wide.crossJoin(F.broadcast(tot)).select(
        "seg",
        "a_n",
        "b_n",
        m_a.alias("m_a"),
        m_b.alias("m_b"),
        ((w_b - w_a) * m_a).alias("mix_eff"),
        (w_b * (m_b - m_a)).alias("rate_eff"),
    )
    wall = W.partitionBy()
    return eff.select(
        F.col("seg").alias("priority"),
        F.col("a_n").alias("n_1996"),
        F.col("b_n").alias("n_1997"),
        F.round("m_a", 6).alias("mean_1996"),
        F.round("m_b", 6).alias("mean_1997"),
        F.round("mix_eff", 6).alias("mix_effect"),
        F.round("rate_eff", 6).alias("rate_effect"),
        F.round(
            F.sum(F.col("mix_eff") + F.col("rate_eff")).over(wall), 6
        ).alias("delta_total_mean"),
    ).orderBy("priority")


@register(
    "brown_forsythe_variance",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id,
             CASE WHEN md5(CAST(user_id AS VARCHAR)) < '8'
                  THEN 'A' ELSE 'B' END AS arm,
             CAST(sum({_EV_CENTS}) AS BIGINT) AS c
      FROM events GROUP BY user_id
    ),
    med AS (
      SELECT arm,
             CAST(2 * percentile_cont(0.5) WITHIN GROUP (ORDER BY c)
                  AS BIGINT) AS med2
      FROM per_user GROUP BY arm
    ),
    z AS (
      SELECT p.arm, abs(2 * p.c - m.med2) AS z2
      FROM per_user p JOIN med m ON m.arm = p.arm
    ),
    m2 AS (
      SELECT CAST(sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS na,
             CAST(sum(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS nb,
             CAST(sum(CASE WHEN arm = 'A' THEN z2 ELSE 0 END) AS BIGINT) AS sa,
             CAST(sum(CASE WHEN arm = 'B' THEN z2 ELSE 0 END) AS BIGINT) AS sb,
             CAST(sum(CASE WHEN arm = 'A' THEN z2 * z2 ELSE 0 END) AS BIGINT)
               AS ssa,
             CAST(sum(CASE WHEN arm = 'B' THEN z2 * z2 ELSE 0 END) AS BIGINT)
               AS ssb
      FROM z
    ),
    f AS (
      SELECT na, nb,
             sa / (CAST(na AS DOUBLE) * 200) AS mz_a,
             sb / (CAST(nb AS DOUBLE) * 200) AS mz_b,
             (ssa - CAST(sa AS DOUBLE) * sa / na)
               + (ssb - CAST(sb AS DOUBLE) * sb / nb) AS ssw,
             CAST(na AS DOUBLE) * nb / (na + nb)
               * (sa / CAST(na AS DOUBLE) - sb / CAST(nb AS DOUBLE))
               * (sa / CAST(na AS DOUBLE) - sb / CAST(nb AS DOUBLE)) AS ssb_g
      FROM m2
    )
    SELECT na AS n_a, nb AS n_b,
           round(mz_a, 6) AS mean_absdev_a, round(mz_b, 6) AS mean_absdev_b,
           round(CASE WHEN ssw = 0 THEN 0.0
                      ELSE (na + nb - 2) * ssb_g / ssw END, 6)
             AS bf_f_statistic
    FROM f
    """,
)
def brown_forsythe_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe test for equal variances between the hash-split
    arms: a one-way ANOVA F on the absolute deviations from each arm's
    MEDIAN (the robust Levene variant, Brown & Forsythe 1974) — the
    assumption check run before trusting a pooled-variance t, and the
    robust alternative to an F-ratio of raw variances.

    Exactness: medians come from percentile_cont over exact cents and
    are DOUBLED to stay integral (the .5-cent interpolation case), so
    every |2x − 2·med| deviation is an exact BIGINT; the F assembles
    from exact per-arm moment sums of those deviations in one identical
    double expression (between-group SS uses the two-group closed form
    n_a·n_b/(n_a+n_b)·(z̄_a−z̄_b)²); zero within-group variation guards
    to 0. One per-user pass, one bounded median per arm, one rollup."""
    e = load(spark, sf_dir).events
    cents = F.expr(_EV_CENTS)
    per_user = e.groupBy("user_id").agg(
        F.sum(cents).cast("long").alias("c")
    ).select(
        F.when(F.md5(F.col("user_id").cast("string")) < "8", "A")
        .otherwise("B")
        .alias("arm"),
        "c",
    )
    from data_warehouse_data_mining_spark.operators.relational import (
        exact_group_percentiles,
    )

    med = exact_group_percentiles(per_user, "arm", "c", [0.5]).select(
        F.col("arm").alias("m_arm"),
        (2 * F.col("val")).cast("long").alias("med2"),
    )
    z = per_user.join(
        F.broadcast(med), F.col("m_arm") == F.col("arm")
    ).select("arm", F.abs(2 * F.col("c") - F.col("med2")).alias("z2"))
    s_if = lambda a, c: F.sum(
        F.when(F.col("arm") == a, c).otherwise(0)
    ).cast("long")
    m2 = z.agg(
        s_if("A", F.lit(1)).alias("na"),
        s_if("B", F.lit(1)).alias("nb"),
        s_if("A", F.col("z2")).alias("sa"),
        s_if("B", F.col("z2")).alias("sb"),
        s_if("A", F.col("z2") * F.col("z2")).alias("ssa"),
        s_if("B", F.col("z2") * F.col("z2")).alias("ssb"),
    )
    nad, nbd = F.col("na").cast("double"), F.col("nb").cast("double")
    ssw = (F.col("ssa") - F.col("sa").cast("double") * F.col("sa") / F.col("na")) + (
        F.col("ssb") - F.col("sb").cast("double") * F.col("sb") / F.col("nb")
    )
    dmean = F.col("sa") / nad - F.col("sb") / nbd
    ssb_g = nad * F.col("nb") / (F.col("na") + F.col("nb")) * dmean * dmean
    return m2.select(
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        F.round(F.col("sa") / (nad * 200), 6).alias("mean_absdev_a"),
        F.round(F.col("sb") / (nbd * 200), 6).alias("mean_absdev_b"),
        F.round(
            F.when(ssw == 0, 0.0).otherwise(
                (F.col("na") + F.col("nb") - 2) * ssb_g / ssw
            ),
            6,
        ).alias("bf_f_statistic"),
    )


@register(
    "cooks_distance_trend",
    oracle="""
    WITH daily AS (
      SELECT date_diff('day', DATE '1996-01-01', CAST(o_orderdate AS DATE))
               AS d,
             CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
               AS y
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY 1
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(d) AS BIGINT) AS sx,
             CAST(sum(y) AS BIGINT) AS sy, CAST(sum(d * d) AS BIGINT) AS sxx,
             CAST(sum(d * y) AS BIGINT) AS sxy
      FROM daily
    ),
    coef AS (
      SELECT n, sx, sxx,
             (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
               / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) AS b,
             (sy - (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                   / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                   * sx) / n AS a,
             CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n AS sxx_c
      FROM m
    ),
    resid AS (
      SELECT dd.d, dd.y, c.n,
             dd.y - (c.a + c.b * dd.d) AS e,
             1.0 / c.n + (dd.d - CAST(c.sx AS DOUBLE) / c.n)
                         * (dd.d - CAST(c.sx AS DOUBLE) / c.n) / c.sxx_c AS h
      FROM daily dd CROSS JOIN coef c
    ),
    mse AS (
      SELECT CAST(any_value(n) AS BIGINT) AS n,
             sum(e * e) / (any_value(n) - 2) AS s2
      FROM resid
    )
    SELECT d AS day_index, round(e / 100.0, 2) AS residual,
           round(h, 6) AS leverage,
           round(e * e * h / (2 * s.s2 * (1 - h) * (1 - h)), 6)
             AS cooks_d
    FROM resid CROSS JOIN mse s
    ORDER BY e * e * h / (2 * s.s2 * (1 - h) * (1 - h)) DESC, d
    LIMIT 10
    """,
)
def cooks_distance_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cook's distance for the 1996 daily-revenue OLS trend: per day,
    leverage h = 1/n + (x−x̄)²/Sxx and D = e²·h / (p·s²·(1−h)²) with
    p = 2 — the influence diagnostic that names WHICH days are bending
    the fitted line (Cook 1977), completing the regression-diagnostics
    kit beside durbin_watson_residuals (serial correlation) and
    conformal_interval_calibration (uncertainty). Top-10 most
    influential days.

    Determinism: coefficients, leverages, and residuals are identical
    double expressions of exact bigint moment sums; s² is one
    order-stable bounded sum (the KM argument); the top-10 cut orders
    by the raw D with a day tie-break so both engines pick identical
    rows. One fact rollup, O(#days) algebra, TakeOrdered cut."""
    o = load(spark, sf_dir).orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    daily = (
        o.groupBy(
            F.datediff(
                F.col("o_orderdate").cast("date"),
                F.lit("1996-01-01").cast("date"),
            ).alias("d")
        )
        .agg(
            F.sum(F.expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)"))
            .cast("long")
            .alias("y")
        )
        .localCheckpoint(eager=True)
    )
    m = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("d").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("d") * F.col("d")).cast("long").alias("sxx"),
        F.sum(F.col("d") * F.col("y")).cast("long").alias("sxy"),
    )
    ndb = F.col("n").cast("double")
    sxd = F.col("sx").cast("double")
    b = (ndb * F.col("sxy") - sxd * F.col("sy")) / (
        ndb * F.col("sxx") - sxd * F.col("sx")
    )
    coef = m.select(
        "n",
        "sx",
        b.alias("b"),
        ((F.col("sy") - b * F.col("sx")) / F.col("n")).alias("a"),
        (F.col("sxx").cast("double") - sxd * F.col("sx") / F.col("n")).alias(
            "sxx_c"
        ),
    )
    resid = daily.crossJoin(F.broadcast(coef)).select(
        "d",
        "n",
        (F.col("y") - (F.col("a") + F.col("b") * F.col("d"))).alias("e"),
        (
            1.0 / F.col("n")
            + (F.col("d") - F.col("sx").cast("double") / F.col("n"))
            * (F.col("d") - F.col("sx").cast("double") / F.col("n"))
            / F.col("sxx_c")
        ).alias("h"),
    ).localCheckpoint(eager=True)
    mse = resid.agg(
        (F.sum(F.col("e") * F.col("e")) / (F.first("n") - 2)).alias("s2")
    )
    dcook = (
        F.col("e")
        * F.col("e")
        * F.col("h")
        / (2 * F.col("s2") * (1 - F.col("h")) * (1 - F.col("h")))
    )
    return (
        resid.crossJoin(F.broadcast(mse))
        .orderBy(dcook.desc(), "d")
        .limit(10)
        .select(
            F.col("d").alias("day_index"),
            F.round(F.col("e") / 100.0, 2).alias("residual"),
            F.round("h", 6).alias("leverage"),
            F.round(dcook, 6).alias("cooks_d"),
        )
    )


@register(
    "weekday_seasonality_strength",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(dayofweek(CAST(o_orderdate AS DATE)) AS BIGINT) AS dow,
             CAST(count(*) AS BIGINT) AS y
      FROM orders GROUP BY 1, 2
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS s,
             CAST(sum(y * y) AS BIGINT) AS ss
      FROM daily
    ),
    grp AS (
      SELECT dow, CAST(count(*) AS BIGINT) AS ng, CAST(sum(y) AS BIGINT) AS sg
      FROM daily GROUP BY dow
    ),
    parts AS (
      SELECT t.n, t.s, t.ss,
             sum(CAST(g.sg AS DOUBLE) * g.sg / g.ng) AS sum_gsq
      FROM grp g CROSS JOIN tot t
      GROUP BY t.n, t.s, t.ss
    )
    SELECT n AS n_days,
           round((sum_gsq - CAST(s AS DOUBLE) * s / n)
                 / (ss - CAST(s AS DOUBLE) * s / n), 6) AS seasonal_r2,
           round((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / (n - 1),
                 6) AS total_variance,
           CAST(7 AS BIGINT) AS n_groups
    FROM parts
    """,
)
def weekday_seasonality_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strength of weekly seasonality in the daily order-count series:
    the one-way-ANOVA R² of day-of-week group means — SSB/SST, the
    fraction of daily variance a weekday profile explains — the
    cheap go/no-go before fitting a weekly seasonal component
    (seasonal_decompose_daily) or blaming the trend's Durbin-Watson.

    Everything assembles from exact integer sums (Σy, Σy², per-weekday
    Σ) in one identical double expression; the only ≥7-term double sum
    (Σ s_g²/n_g) runs over the seven weekday groups — far below
    rounding. One fact rollup to the calendar-bounded daily table, one
    7-row regroup."""
    o = load(spark, sf_dir).orders
    daily = o.groupBy(
        F.col("o_orderdate").cast("date").alias("day"),
        F.dayofweek(F.col("o_orderdate").cast("date")).cast("long").alias("dow"),
    ).agg(F.count(F.lit(1)).cast("long").alias("y")).localCheckpoint(
        eager=True
    )
    tot = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("s"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("ss"),
    )
    grp = daily.groupBy("dow").agg(
        F.count(F.lit(1)).cast("long").alias("ng"),
        F.sum("y").cast("long").alias("sg"),
    )
    parts = (
        grp.crossJoin(F.broadcast(tot))
        .groupBy("n", "s", "ss")
        .agg(
            F.sum(F.col("sg").cast("double") * F.col("sg") / F.col("ng")).alias(
                "sum_gsq"
            )
        )
    )
    sd = F.col("s").cast("double")
    sst = F.col("ss") - sd * F.col("s") / F.col("n")
    ssb = F.col("sum_gsq") - sd * F.col("s") / F.col("n")
    return parts.select(
        F.col("n").alias("n_days"),
        F.round(ssb / sst, 6).alias("seasonal_r2"),
        F.round(
            (F.col("ss").cast("double") - sd * F.col("s") / F.col("n"))
            / (F.col("n") - 1),
            6,
        ).alias("total_variance"),
        F.lit(7).cast("long").alias("n_groups"),
    )


@register(
    "mann_kendall_trend",
    oracle="""
    WITH daily AS (
      SELECT n.n_name,
             date_diff('day', DATE '1996-01-01', CAST(o.o_orderdate AS DATE))
               AS d,
             CAST(sum(CAST(round(o.o_totalprice * 100, 0) AS BIGINT))
                  AS BIGINT) AS rev_c
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY 1, 2
    ),
    s AS (
      SELECT a.n_name,
             CAST(sum(CASE WHEN b.rev_c > a.rev_c THEN 1
                           WHEN b.rev_c < a.rev_c THEN -1 ELSE 0 END)
                  AS BIGINT) AS s_stat
      FROM daily a JOIN daily b ON b.n_name = a.n_name AND b.d > a.d
      GROUP BY 1
    ),
    ties AS (
      SELECT n_name,
             CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
               AS tie_term
      FROM (SELECT n_name, CAST(count(*) AS BIGINT) AS t
            FROM daily GROUP BY n_name, rev_c)
      WHERE t > 1
      GROUP BY 1
    ),
    meta AS (
      SELECT n_name, CAST(count(*) AS BIGINT) AS n_days FROM daily GROUP BY 1
    )
    SELECT m.n_name AS nation, m.n_days, s.s_stat,
           round((m.n_days * (m.n_days - 1) * (2 * m.n_days + 5)
                  - coalesce(t.tie_term, 0)) / 18.0, 6) AS var_s,
           round((s.s_stat - CASE WHEN s.s_stat > 0 THEN 1
                                  WHEN s.s_stat < 0 THEN -1 ELSE 0 END)
                 / sqrt((m.n_days * (m.n_days - 1) * (2 * m.n_days + 5)
                         - coalesce(t.tie_term, 0)) / 18.0), 6) AS z_score,
           CAST(abs(s.s_stat - CASE WHEN s.s_stat > 0 THEN 1
                                    WHEN s.s_stat < 0 THEN -1 ELSE 0 END)
                > 1.959964
                  * sqrt((m.n_days * (m.n_days - 1) * (2 * m.n_days + 5)
                          - coalesce(t.tie_term, 0)) / 18.0) AS INT)
             AS significant_5pct
    FROM meta m JOIN s ON s.n_name = m.n_name
    LEFT JOIN ties t ON t.n_name = m.n_name
    ORDER BY nation
    """,
)
def mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend TEST on 1996 daily revenue per nation — the
    significance companion to theil_sen_trend (the classic pairing:
    MK decides WHETHER a monotone trend exists, Theil-Sen estimates
    its slope; Mann 1945 / Kendall 1975): S = Σ_{i<j} sign(x_j − x_i)
    over day-ordered values, Var(S) = [n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)]
    / 18 with the tie correction over tied revenue values, and the
    continuity-corrected normal Z = (S ∓ 1)/√Var(S).

    Exactness: S and every tie term are exact BIGINT sums of sign
    tests; Var(S) is one integer expression divided by 18.0 and Z one
    fixed-order double expression — bit-identical cross-engine. The
    5% two-sided flag compares |S ∓ 1| against 1.959964·√Var with both
    sides exact-int-derived doubles and the same literal. Scale shape:
    one fact pass to the bounded (nation × ≤366-day) table (the
    theil_sen localCheckpoint discipline), then the pair join runs
    over that bounded table only — SF-independent pairwise work."""
    t = load(spark, sf_dir)
    orders = t.orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    daily = (
        orders.join(t.customer, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(t.nation), F.col("n_nationkey") == F.col("c_nationkey"))
        .groupBy(
            "n_name",
            F.datediff(
                F.col("o_orderdate").cast("date"),
                F.lit("1996-01-01").cast("date"),
            ).alias("d"),
        )
        .agg(
            F.sum(F.expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)"))
            .cast("long")
            .alias("rev_c")
        )
        # bounded: <= nations x 366 rows; consumed by self-join + ties + meta
        .localCheckpoint(eager=True)
    )
    b = daily.select(
        F.col("n_name").alias("n2"),
        F.col("d").alias("d2"),
        F.col("rev_c").alias("r2"),
    )
    s = (
        daily.join(
            b, (F.col("n2") == F.col("n_name")) & (F.col("d2") > F.col("d"))
        )
        .groupBy("n_name")
        .agg(
            F.sum(
                F.when(F.col("r2") > F.col("rev_c"), 1)
                .when(F.col("r2") < F.col("rev_c"), -1)
                .otherwise(0)
            )
            .cast("long")
            .alias("s_stat")
        )
    )
    ties = (
        daily.groupBy("n_name", "rev_c")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
        .filter(F.col("t") > 1)
        .groupBy("n_name")
        .agg(
            F.coalesce(
                F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)), F.lit(0)
            )
            .cast("long")
            .alias("tie_term")
        )
    )
    meta = daily.groupBy("n_name").agg(
        F.count(F.lit(1)).cast("long").alias("n_days")
    )
    n = F.col("n_days")
    tie = F.coalesce(F.col("tie_term"), F.lit(0).cast("long"))
    var_s = (n * (n - 1) * (2 * n + 5) - tie) / 18.0
    s_adj = F.col("s_stat") - F.when(F.col("s_stat") > 0, 1).when(
        F.col("s_stat") < 0, -1
    ).otherwise(0)
    return (
        meta.join(s, "n_name")
        .join(ties, "n_name", "left")
        .select(
            F.col("n_name").alias("nation"),
            "n_days",
            "s_stat",
            F.round(var_s, 6).alias("var_s"),
            F.round(s_adj / F.sqrt(var_s), 6).alias("z_score"),
            (F.abs(s_adj) > 1.959964 * F.sqrt(var_s))
            .cast("int")
            .alias("significant_5pct"),
        )
        .orderBy("nation")
    )


PH_LAMBDA_MICRO = 50_000_000_000  # λ = 5e8 cents·100 (micro-cent units)


@register(
    "page_hinkley_drift",
    oracle=f"""
    WITH daily AS (
      SELECT date_diff('day', DATE '1996-01-01', CAST(o_orderdate AS DATE))
               AS d,
             CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                  AS BIGINT) AS x
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY 1
    ),
    terms AS (
      SELECT d, x,
             CAST(floor((x - sum(x) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)
                             / CAST(row_number() OVER (ORDER BY d) AS DOUBLE))
                        * 100) AS BIGINT) AS term_micro
      FROM daily
    ),
    walk AS (
      SELECT d, x, term_micro,
             CAST(sum(term_micro) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS m_micro
      FROM terms
    )
    SELECT d, x AS revenue_cents, m_micro,
           CAST(m_micro - min(m_micro) OVER (ORDER BY d ROWS UNBOUNDED
                PRECEDING) AS BIGINT) AS ph_micro,
           CAST(m_micro - min(m_micro) OVER (ORDER BY d ROWS UNBOUNDED
                PRECEDING) > {PH_LAMBDA_MICRO} AS INT) AS alarm
    FROM walk ORDER BY d
    """,
)
def page_hinkley_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-Hinkley upward mean-shift detection over 1996 daily revenue
    — the sequential drift test (Page 1954; the streaming-standard
    variant with the RUNNING mean, as in MOA/river): per day t,
    term_t = x_t − mean(x_1..x_t), m_t = Σ term, and the statistic
    PH_t = m_t − min_{s≤t} m_s alarms when it exceeds λ. Unlike
    cusum_changepoint's fixed reference mean, the running mean adapts
    — the detector is parameter-free except λ and usable online.

    Exactness: x and its prefix sums are exact BIGINT cents; the only
    division is S_t/t (one IEEE op of exact ints — identical both
    engines, no libm); terms are floored to exact micro-cent BIGINTs
    BEFORE any accumulation, so m_t, the running min, and PH_t are
    exact integers and the λ comparison is integer-exact. Scale shape:
    one fact pass to the ≤366-row day spine; every window runs over
    that bounded table (the cusum/moving_average discipline)."""
    t = load(spark, sf_dir)
    daily = (
        t.orders.filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
        )
        .groupBy(
            F.datediff(
                F.col("o_orderdate").cast("date"),
                F.lit("1996-01-01").cast("date"),
            ).alias("d")
        )
        .agg(
            F.sum(F.expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)"))
            .cast("long")
            .alias("x")
        )
    )
    wseq = W.orderBy("d").rowsBetween(W.unboundedPreceding, 0)
    term_micro = F.floor(
        (
            F.col("x")
            - F.sum("x").over(wseq) / F.row_number().over(W.orderBy("d")).cast("double")
        )
        * 100
    ).cast("long")
    walk = daily.select("d", "x", term_micro.alias("term_micro")).select(
        "d",
        "x",
        F.sum("term_micro").over(wseq).cast("long").alias("m_micro"),
    )
    ph = (F.col("m_micro") - F.min("m_micro").over(wseq)).cast("long")
    return walk.select(
        "d",
        F.col("x").alias("revenue_cents"),
        "m_micro",
        ph.alias("ph_micro"),
        (ph > PH_LAMBDA_MICRO).cast("int").alias("alarm"),
    ).orderBy("d")

@register(
    "isotonic_calibration",
    oracle="""
    WITH buckets AS (
      SELECT CAST(round(l_discount * 100, 0) AS INT) AS b,
             CAST(count(*) AS BIGINT) AS cnt,
             CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                  AS BIGINT) AS ret
      FROM lineitem GROUP BY 1
    ),
    cum AS (
      SELECT b, cnt, ret,
             CAST(sum(cnt) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS w,
             CAST(sum(ret) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS c
      FROM buckets
    ),
    segs AS (
      SELECT j.b AS jb, k.b AS kb,
             (k.c - (j.c - j.ret)) * 1.0 / (k.w - (j.w - j.cnt)) AS seg_avg
      FROM cum j JOIN cum k ON j.b <= k.b
    )
    SELECT b AS discount_cents, cnt AS n,
           round(ret * 1.0 / cnt, 6) AS raw_rate,
           round(fitted, 6) AS fitted_rate
    FROM (
      SELECT i.b, any_value(i.cnt) AS cnt, any_value(i.ret) AS ret,
             max(m.mn) AS fitted
      FROM cum i JOIN (
        SELECT s.jb, i2.b AS ib, min(s.seg_avg) AS mn
        FROM segs s JOIN cum i2 ON s.jb <= i2.b AND i2.b <= s.kb
        GROUP BY s.jb, i2.b
      ) m ON m.ib = i.b AND m.jb <= i.b
      GROUP BY i.b
    )
    ORDER BY discount_cents
    """,
)
def isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (monotone non-decreasing) calibration of the return
    rate against the discount level — pool-adjacent-violators computed
    in closed form via the lower-set/upper-set minimax identity
    (Ayer et al. 1955; Robertson-Wright-Dykstra 1988):
    fitted(i) = max_{j<=i} min_{k>=i} wavg(y, j..k) — the formula PAV
    converges to, expressed as joins so no sequential pooling loop is
    needed. This is the calibration step every score-to-probability
    pipeline (Platt-vs-isotonic) runs after model training.

    Exactness: segment averages are single divisions of exact integer
    cumulative sums (returned count / item count over [j..k]); the
    minimax over those identical doubles is engine-identical. Scale:
    one fact scan -> 11-bucket agg; the (j,i,k) triple join runs over
    the 11-row cumulative table (<=1331 combinations) — the
    theil_sen_trend bounded-quadratic discipline."""
    li = load(spark, sf_dir).lineitem
    buckets = (
        li.select(
            F.expr("CAST(round(l_discount * 100, 0) AS INT)").alias("b"),
            F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("is_r"),
        )
        .groupBy("b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("cnt"),
            F.sum("is_r").cast("long").alias("ret"),
        )
    )
    wseq = W.orderBy("b").rowsBetween(W.unboundedPreceding, 0)
    # stage the 11-row cumulative table: four downstream consumers
    # (j, k, i2, fitted) would otherwise EACH re-scan lineitem
    # (plan-audit r10 caught 4 scans)
    cum = buckets.select(
        "b",
        "cnt",
        "ret",
        F.sum("cnt").over(wseq).cast("long").alias("w"),
        F.sum("ret").over(wseq).cast("long").alias("c"),
    ).localCheckpoint(eager=True)
    j = cum.select(
        F.col("b").alias("jb"),
        (F.col("c") - F.col("ret")).alias("c_prev"),
        (F.col("w") - F.col("cnt")).alias("w_prev"),
    )
    k = cum.select(F.col("b").alias("kb"), "c", "w")
    segs = j.join(k, F.col("jb") <= F.col("kb")).select(
        "jb",
        "kb",
        (
            (F.col("c") - F.col("c_prev"))
            * 1.0
            / (F.col("w") - F.col("w_prev"))
        ).alias("seg_avg"),
    )
    i2 = cum.select(F.col("b").alias("ib"))
    lower_env = (
        segs.join(
            i2,
            (F.col("jb") <= F.col("ib")) & (F.col("ib") <= F.col("kb")),
        )
        .groupBy("jb", "ib")
        .agg(F.min("seg_avg").alias("mn"))
    )
    fitted = (
        cum.join(
            lower_env,
            (F.col("ib") == F.col("b")) & (F.col("jb") <= F.col("b")),
        )
        .groupBy("b")
        .agg(
            F.expr("any_value(cnt)").alias("cnt"),
            F.expr("any_value(ret)").alias("ret"),
            F.max("mn").alias("fitted"),
        )
    )
    return fitted.select(
        F.col("b").alias("discount_cents"),
        F.col("cnt").alias("n"),
        F.round(F.col("ret") * 1.0 / F.col("cnt"), 6).alias("raw_rate"),
        F.round("fitted", 6).alias("fitted_rate"),
    ).orderBy("discount_cents")


@register(
    "ips_offline_policy_eval",
    oracle="""
    WITH logged AS (
      SELECT EXTRACT(hour FROM ts) AS h, event_type AS a,
             CAST(round(value * 100, 0) AS BIGINT) AS r
      FROM events
    ),
    cells AS (
      SELECT h, a, CAST(count(*) AS BIGINT) AS n_ah,
             CAST(sum(r) AS BIGINT) AS sum_r
      FROM logged GROUP BY h, a
    ),
    ctx AS (
      SELECT h, CAST(sum(n_ah) AS BIGINT) AS n_h FROM cells GROUP BY h
    ),
    greedy AS (
      SELECT h, a AS pi_a FROM (
        SELECT h, a, row_number() OVER (
          PARTITION BY h ORDER BY sum_r * 1.0 / n_ah DESC, a) AS rn
        FROM cells
      ) WHERE rn = 1
    ),
    matched AS (
      SELECT c.h, c.n_ah, c.sum_r, x.n_h,
             (c.sum_r * 1000 * x.n_h) // c.n_ah AS term_micro
      FROM cells c
      JOIN greedy g ON g.h = c.h AND g.pi_a = c.a
      JOIN ctx x ON x.h = c.h
    ),
    tot AS (
      SELECT CAST(sum(n_ah) AS BIGINT) AS n_rounds,
             CAST(sum(sum_r) AS BIGINT) AS sum_r_all,
             CAST(count(DISTINCT h) AS BIGINT) AS n_contexts
      FROM cells
    ),
    est AS (
      SELECT CAST(sum(term_micro) AS BIGINT) AS ips_micro,
             CAST(sum(n_h) AS BIGINT) AS snips_denom,
             CAST(sum(n_ah) AS BIGINT) AS n_matched
      FROM matched
    )
    SELECT n_rounds, n_contexts,
           round(sum_r_all * 1.0 / (100 * n_rounds), 6) AS direct_avg_dollars,
           round(ips_micro * 1.0 / (100000.0 * n_rounds), 6)
             AS ips_value_dollars,
           round(ips_micro * 1.0 / (100000.0 * snips_denom), 6)
             AS snips_value_dollars,
           round(n_matched * 1.0 / n_rounds, 6) AS match_rate
    FROM tot CROSS JOIN est
    """,
)
def ips_offline_policy_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline (counterfactual) policy evaluation on the logged event
    stream — inverse-propensity scoring (Horvitz-Thompson 1952; Li et
    al. 2011 'Unbiased Offline Evaluation of Contextual-Bandit
    Algorithms') plus the self-normalized SNIPS variant (Swaminathan &
    Joachims 2015): treat every event as one logged bandit round with
    context h = hour-of-day, action a = event_type, reward r = value;
    estimate what the GREEDY target policy pi(h) = argmax_a
    avg-reward(a|h) would earn, without ever deploying it:
    V_IPS = (1/N) sum_i 1{a_i = pi(h_i)} * r_i / p(a_i|h_i) with
    empirical logging propensities p(a|h) = n_ah/n_h.

    Every accumulation is integer-exact: events sharing a (h, a) cell
    share one weight n_h/n_ah, so the IPS sum collapses to per-cell
    terms floor(sum_r*1000*n_h / n_ah) summed as BIGINT micro-cents
    (order-insensitive — no double accumulation; at extreme scale the
    product term moves to DECIMAL, the formula is unchanged), and the
    SNIPS denominator sum_i w_i telescopes to sum over matched cells
    of n_h — exactly integer. The greedy argmax tie-breaks
    (avg DESC, action ASC) on identical-double averages of exact ints.

    Scale shape: one fact scan -> 24x5-cell hash agg; everything
    downstream runs on that bounded table. The estimator itself is the
    point: training-data pipelines for interaction models gate on
    exactly this counterfactual check before a policy ships."""
    e = load(spark, sf_dir).events
    logged = e.select(
        F.hour("ts").alias("h"),
        F.col("event_type").alias("a"),
        F.expr("CAST(round(value * 100, 0) AS BIGINT)").alias("r"),
    )
    # stage the <=24x5-cell table: ctx/greedy/matched/tot would each
    # re-scan events otherwise (plan-audit r10: 4 scans -> 1)
    cells = logged.groupBy("h", "a").agg(
        F.count(F.lit(1)).cast("long").alias("n_ah"),
        F.sum("r").cast("long").alias("sum_r"),
    ).localCheckpoint(eager=True)
    ctx = cells.groupBy("h").agg(F.sum("n_ah").cast("long").alias("n_h"))
    wg = W.partitionBy("h").orderBy(
        (F.col("sum_r") * 1.0 / F.col("n_ah")).desc(), "a"
    )
    greedy = (
        cells.withColumn("rn", F.row_number().over(wg))
        .filter(F.col("rn") == 1)
        .select("h", F.col("a").alias("pi_a"))
    )
    matched = (
        cells.join(greedy, (cells.h == greedy.h) & (cells.a == greedy.pi_a))
        .drop(greedy.h)
        .join(ctx, "h")
        .select(
            "n_ah",
            "n_h",
            F.expr("(sum_r * 1000 * n_h) div n_ah").alias("term_micro"),
        )
    )
    tot = cells.agg(
        F.sum("n_ah").cast("long").alias("n_rounds"),
        F.sum("sum_r").cast("long").alias("sum_r_all"),
        F.countDistinct("h").cast("long").alias("n_contexts"),
    )
    est = matched.agg(
        F.sum("term_micro").cast("long").alias("ips_micro"),
        F.sum("n_h").cast("long").alias("snips_denom"),
        F.sum("n_ah").cast("long").alias("n_matched"),
    )
    return tot.crossJoin(F.broadcast(est)).select(
        "n_rounds",
        "n_contexts",
        F.round(F.col("sum_r_all") * 1.0 / (100 * F.col("n_rounds")), 6).alias(
            "direct_avg_dollars"
        ),
        F.round(
            F.col("ips_micro") * 1.0 / (100000.0 * F.col("n_rounds")), 6
        ).alias("ips_value_dollars"),
        F.round(
            F.col("ips_micro") * 1.0 / (100000.0 * F.col("snips_denom")), 6
        ).alias("snips_value_dollars"),
        F.round(F.col("n_matched") * 1.0 / F.col("n_rounds"), 6).alias(
            "match_rate"
        ),
    )


_BRIER_FP = 1_000_000_000  # 1e-9 fixed point for cross-cell sums


@register(
    "brier_decomposition",
    oracle=f"""
    WITH items AS (
      SELECT CAST(round(l_discount * 100, 0) AS INT) AS b,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
      FROM lineitem
    ),
    buckets AS (
      SELECT b, CAST(count(*) AS BIGINT) AS n_b,
             CAST(sum(y) AS BIGINT) AS ret_b
      FROM items GROUP BY b
    ),
    tot AS (
      SELECT CAST(sum(n_b) AS BIGINT) AS n,
             CAST(sum(ret_b) AS BIGINT) AS r
      FROM buckets
    ),
    scored AS (
      SELECT b, n_b, ret_b, n, r,
             ((20 * ret_b + n_b) // (2 * n_b)) / 10.0 AS f_b,
             ret_b * 1.0 / n_b AS ybar_b
      FROM buckets CROSS JOIN tot
    ),
    terms AS (
      SELECT n, r,
             CAST(floor(n_b * (f_b - ybar_b) * (f_b - ybar_b)
                        * {_BRIER_FP}) AS BIGINT) AS rel_fp,
             CAST(floor(n_b * (ybar_b - r * 1.0 / n) * (ybar_b - r * 1.0 / n)
                        * {_BRIER_FP}) AS BIGINT) AS res_fp,
             -- per-bucket Brier sum: sum_i (f_b - y_i)^2 expands to
             -- n_b*f^2 - 2*f*ret_b + ret_b (y is 0/1 so y^2 = y)
             CAST(floor((n_b * f_b * f_b - 2 * f_b * ret_b + ret_b)
                        * {_BRIER_FP}) AS BIGINT) AS brier_fp
      FROM scored
    )
    SELECT CAST(any_value(n) AS BIGINT) AS n,
           round(any_value(r) * 1.0 / any_value(n), 6) AS base_rate,
           round(sum(brier_fp) * 1.0 / {_BRIER_FP} / any_value(n), 6)
             AS brier_score,
           round(sum(rel_fp) * 1.0 / {_BRIER_FP} / any_value(n), 6)
             AS reliability,
           round(sum(res_fp) * 1.0 / {_BRIER_FP} / any_value(n), 6)
             AS resolution,
           round((any_value(r) * 1.0 / any_value(n))
                 * (1 - any_value(r) * 1.0 / any_value(n)), 6)
             AS uncertainty
    FROM terms
    """,
)
def brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy (1973) decomposition of the Brier score for the quantized
    discount-bucket return-probability forecaster:
    Brier = REL - RES + UNC, where reliability penalizes calibration
    error (forecast vs conditional outcome rate), resolution rewards
    discrimination (conditional rates vs base rate), and uncertainty
    is the irreducible base-rate variance — the standard eval that
    tells you whether a probability model needs recalibration
    (pair with isotonic_calibration) or simply can't discriminate.
    The forecaster is the bucket rate QUANTIZED to one decimal
    (f_b = round-half-up(10*ybar_b)/10, the exact integer
    (20*ret+n) div (2n) over 10) — a coarse probability model whose
    quantization error makes reliability non-trivially positive; an
    unquantized in-sample forecaster is perfectly calibrated by
    construction, and the Murphy identity holds for ANY partition on
    which the forecast is constant, so per-bucket conditioning is
    exact.

    Exactness: per-bucket terms are identical-double expressions of
    exact integer counts, floored to 1e-9 fixed point BEFORE the
    cross-bucket sum (the mutual_information discipline) so
    accumulation is BIGINT and order-insensitive; the per-bucket
    Brier sum uses the y^2=y expansion n*f^2 - 2*f*ret + ret, never
    touching per-row doubles. Scale: one fact scan -> 11-bucket agg;
    everything downstream is bounded. The Murphy identity
    Brier ~= REL - RES + UNC (to fixed-point truncation) is pinned in
    tests."""
    li = load(spark, sf_dir).lineitem
    items = li.select(
        F.expr("CAST(round(l_discount * 100, 0) AS INT)").alias("b"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
    )
    buckets = items.groupBy("b").agg(
        F.count(F.lit(1)).cast("long").alias("n_b"),
        F.sum("y").cast("long").alias("ret_b"),
    )
    tot = buckets.agg(
        F.sum("n_b").cast("long").alias("n"),
        F.sum("ret_b").cast("long").alias("r"),
    )
    fp = _BRIER_FP
    scored = buckets.crossJoin(F.broadcast(tot)).select(
        "n_b",
        "ret_b",
        "n",
        "r",
        (F.expr("(20 * ret_b + n_b) div (2 * n_b)") / 10.0).alias("f_b"),
        (F.col("ret_b") * 1.0 / F.col("n_b")).alias("ybar_b"),
    )
    base = F.col("r") * 1.0 / F.col("n")
    terms = scored.select(
        "n",
        "r",
        F.floor(
            F.col("n_b")
            * (F.col("f_b") - F.col("ybar_b"))
            * (F.col("f_b") - F.col("ybar_b"))
            * fp
        ).cast("long").alias("rel_fp"),
        F.floor(
            F.col("n_b") * (F.col("ybar_b") - base) * (F.col("ybar_b") - base) * fp
        ).cast("long").alias("res_fp"),
        F.floor(
            (
                F.col("n_b") * F.col("f_b") * F.col("f_b")
                - 2 * F.col("f_b") * F.col("ret_b")
                + F.col("ret_b")
            )
            * fp
        ).cast("long").alias("brier_fp"),
    )
    anyn = F.expr("any_value(n)")
    anyr = F.expr("any_value(r)")
    rate = anyr * 1.0 / anyn
    return terms.agg(
        anyn.cast("long").alias("n"),
        F.round(rate, 6).alias("base_rate"),
        F.round(F.sum("brier_fp") * 1.0 / fp / anyn, 6).alias("brier_score"),
        F.round(F.sum("rel_fp") * 1.0 / fp / anyn, 6).alias("reliability"),
        F.round(F.sum("res_fp") * 1.0 / fp / anyn, 6).alias("resolution"),
        F.round(rate * (1 - rate), 6).alias("uncertainty"),
    )


@register(
    "stratified_att_adjustment",
    oracle="""
    WITH pre AS (
      SELECT o_custkey, CAST(count(*) AS BIGINT) AS n95,
             max(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                      THEN 1 ELSE 0 END) AS treated
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
      GROUP BY 1
    ),
    outcome AS (
      SELECT o_custkey,
             CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                  AS BIGINT) AS y96
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY 1
    ),
    panel AS (
      SELECT CASE WHEN n95 = 1 THEN '1' WHEN n95 = 2 THEN '2'
                  ELSE '3+' END AS stratum,
             treated, coalesce(y96, 0) AS y
      FROM pre LEFT JOIN outcome USING (o_custkey)
    ),
    cells AS (
      SELECT stratum,
             CAST(sum(treated) AS BIGINT) AS n_t,
             CAST(sum(1 - treated) AS BIGINT) AS n_c,
             CAST(sum(CASE WHEN treated = 1 THEN y ELSE 0 END)
                  AS BIGINT) AS sy_t,
             CAST(sum(CASE WHEN treated = 0 THEN y ELSE 0 END)
                  AS BIGINT) AS sy_c
      FROM panel GROUP BY stratum
    ),
    tot AS (SELECT CAST(sum(n_t) AS BIGINT) AS nt_all FROM cells)
    SELECT stratum,
           n_t AS n_treated, n_c AS n_control,
           round(sy_t * 1.0 / (100 * n_t), 4) AS mean_treated_dollars,
           round(sy_c * 1.0 / (100 * n_c), 4) AS mean_control_dollars,
           round(sy_t * 1.0 / (100 * n_t)
                 - sy_c * 1.0 / (100 * n_c), 4) AS diff_dollars,
           round(n_t * 1.0 / nt_all, 6) AS att_weight,
           round((sy_t * 1.0 / (100 * n_t) - sy_c * 1.0 / (100 * n_c))
                 * n_t / nt_all, 4) AS att_contrib_dollars
    FROM cells CROSS JOIN tot
    ORDER BY stratum
    """,
)
def stratified_att_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified treatment-effect adjustment (Cochran 1968 subclass-
    ification — the ancestor of propensity-score stratification): the
    ATT of 'placed a high-priority 1995 order' on 1996 spend, adjusted
    for the pre-treatment confounder (1995 order count) that drives
    BOTH treatment propensity (40%->63%->85% across strata at sf0.01)
    and the outcome. Per stratum: arm sizes, arm means, the stratum
    effect, and its ATT contribution weighted by the treated
    distribution n_t/N_t — their sum is the adjusted ATT the naive
    treated-minus-control difference over-states under confounding
    (the identity the property test pins).

    Exactness: arm totals are exact BIGINT cents; every mean/diff/
    weight is an identical-double division of exact integers, rounded
    at the edge. Scale shape: two date-pruned fact scans -> per-
    customer aggs co-partitioned on o_custkey (one shuffle each) ->
    3-row stratum rollup; everything after is bounded."""
    o = load(spark, sf_dir).orders
    pre = (
        o.filter(
            (F.col("o_orderdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1996-01-01 00:00:00").cast("timestamp"))
        )
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n95"),
            F.max(
                F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").cast("int")
            ).alias("treated"),
        )
    )
    outcome = (
        o.filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
        )
        .groupBy("o_custkey")
        .agg(
            F.sum(F.expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)"))
            .cast("long")
            .alias("y96")
        )
    )
    panel = pre.join(outcome, "o_custkey", "left").select(
        F.when(F.col("n95") == 1, "1")
        .when(F.col("n95") == 2, "2")
        .otherwise("3+")
        .alias("stratum"),
        "treated",
        F.coalesce(F.col("y96"), F.lit(0)).alias("y"),
    )
    # 3-row stratum table staged: the grand-total rollup would rerun
    # the two fact scans + customer join otherwise
    cells = panel.groupBy("stratum").agg(
        F.sum("treated").cast("long").alias("n_t"),
        F.sum(1 - F.col("treated")).cast("long").alias("n_c"),
        F.sum(F.when(F.col("treated") == 1, F.col("y")).otherwise(0))
        .cast("long")
        .alias("sy_t"),
        F.sum(F.when(F.col("treated") == 0, F.col("y")).otherwise(0))
        .cast("long")
        .alias("sy_c"),
    ).localCheckpoint(eager=True)
    tot = cells.agg(F.sum("n_t").cast("long").alias("nt_all"))
    mt = F.col("sy_t") * 1.0 / (100 * F.col("n_t"))
    mc = F.col("sy_c") * 1.0 / (100 * F.col("n_c"))
    return (
        cells.crossJoin(F.broadcast(tot))
        .select(
            "stratum",
            F.col("n_t").alias("n_treated"),
            F.col("n_c").alias("n_control"),
            F.round(mt, 4).alias("mean_treated_dollars"),
            F.round(mc, 4).alias("mean_control_dollars"),
            F.round(mt - mc, 4).alias("diff_dollars"),
            F.round(F.col("n_t") * 1.0 / F.col("nt_all"), 6).alias("att_weight"),
            F.round((mt - mc) * F.col("n_t") / F.col("nt_all"), 4).alias(
                "att_contrib_dollars"
            ),
        )
        .orderBy("stratum")
    )


@register(
    "dr_policy_eval_crossfit",
    oracle="""
    WITH logged AS (
      SELECT EXTRACT(hour FROM ts) AS h, event_type AS a,
             CAST(round(value * 100, 0) AS BIGINT) AS r,
             CAST(event_id % 2 AS INT) AS fold
      FROM events
    ),
    a_cells AS (
      SELECT h, a, CAST(count(*) AS BIGINT) AS n_a,
             CAST(sum(r) AS BIGINT) AS s_a
      FROM logged WHERE fold = 0 GROUP BY h, a
    ),
    greedy AS (
      SELECT h, a AS pi_a, n_a AS n_pi, s_a AS s_pi FROM (
        SELECT h, a, n_a, s_a, row_number() OVER (
          PARTITION BY h ORDER BY s_a * 1.0 / n_a DESC, a) AS rn
        FROM a_cells
      ) WHERE rn = 1
    ),
    b_cells AS (
      SELECT h, a, CAST(count(*) AS BIGINT) AS n_b,
             CAST(sum(r) AS BIGINT) AS s_b
      FROM logged WHERE fold = 1 GROUP BY h, a
    ),
    b_ctx AS (
      SELECT h, CAST(sum(n_b) AS BIGINT) AS n_h FROM b_cells GROUP BY h
    ),
    dm AS (
      SELECT CAST(sum((x.n_h * g.s_pi * 1000) // g.n_pi) AS BIGINT)
               AS dm_micro
      FROM b_ctx x JOIN greedy g ON g.h = x.h
    ),
    corr AS (
      SELECT CAST(sum(((b.s_b * g.n_pi - b.n_b * g.s_pi) * 1000 * x.n_h)
                      // (g.n_pi * b.n_b)) AS BIGINT) AS corr_micro,
             CAST(sum(b.n_b) AS BIGINT) AS n_matched
      FROM b_cells b
      JOIN greedy g ON g.h = b.h AND g.pi_a = b.a
      JOIN b_ctx x ON x.h = b.h
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n_eval FROM logged WHERE fold = 1
    )
    SELECT n_eval AS n_eval_rounds,
           round(dm_micro * 1.0 / (100000.0 * n_eval), 6) AS dm_value_dollars,
           round(corr_micro * 1.0 / (100000.0 * n_eval), 6)
             AS ips_correction_dollars,
           round((dm_micro + corr_micro) * 1.0 / (100000.0 * n_eval), 6)
             AS dr_value_dollars,
           round(n_matched * 1.0 / n_eval, 6) AS match_rate
    FROM tot CROSS JOIN dm CROSS JOIN corr
    """,
)
def dr_policy_eval_crossfit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doubly-robust off-policy evaluation with cross-fitting (Dudík,
    Langford & Li 2011; Chernozhukov et al. 2018 cross-fitting): fit
    the reward model Q(h,a) = cell mean on fold A (even event_ids),
    pick the greedy policy pi(h) from fold A, then evaluate on the
    DISJOINT fold B:
    V_DR = (1/N_B) sum_i [Q(h_i, pi(h_i))
           + 1{a_i = pi(h_i)} (r_i - Q(h_i, a_i)) / p(a_i|h_i)].
    The direct-model term is unbiased when Q is right, the IPS
    correction repairs it when Q is wrong — consistent if EITHER is
    correct. In-sample (no cross-fit) the correction telescopes to
    exactly zero and DR degenerates to DM — the reason ips_offline_
    policy_eval's sibling needs the fold split to be an honest demo.

    Exactness: both folds' cells are exact BIGINT (count, cents-sum)
    pairs; Q is carried as the rational s/n, never a rounded double —
    each per-context/per-cell term is ONE integer floor-division at
    1e-3-cent fixed point (micro = (n_h*s*1000) div n etc.), so all
    accumulation is BIGINT and order-insensitive (at extreme SF the
    products move to DECIMAL; the formula is unchanged). Scale: one
    fact scan fans into two fold-filtered 24x5-cell aggs; everything
    downstream is bounded by contexts x actions."""
    e = load(spark, sf_dir).events
    logged = e.select(
        F.hour("ts").alias("h"),
        F.col("event_type").alias("a"),
        F.expr("CAST(round(value * 100, 0) AS BIGINT)").alias("r"),
        (F.col("event_id") % 2).cast("int").alias("fold"),
    )
    # both fold-cell tables are <=24x5 rows — staged so the policy,
    # DM, correction, and totals don't each re-scan events
    a_cells = (
        logged.filter(F.col("fold") == 0)
        .groupBy("h", "a")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_a"),
            F.sum("r").cast("long").alias("s_a"),
        )
        .localCheckpoint(eager=True)
    )
    wg = W.partitionBy("h").orderBy(
        (F.col("s_a") * 1.0 / F.col("n_a")).desc(), "a"
    )
    greedy = (
        a_cells.withColumn("rn", F.row_number().over(wg))
        .filter(F.col("rn") == 1)
        .select(
            "h",
            F.col("a").alias("pi_a"),
            F.col("n_a").alias("n_pi"),
            F.col("s_a").alias("s_pi"),
        )
    )
    b_cells = (
        logged.filter(F.col("fold") == 1)
        .groupBy("h", "a")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_b"),
            F.sum("r").cast("long").alias("s_b"),
        )
        .localCheckpoint(eager=True)
    )
    b_ctx = b_cells.groupBy("h").agg(F.sum("n_b").cast("long").alias("n_h"))
    dm = (
        b_ctx.join(greedy, "h")
        .select(F.expr("(n_h * s_pi * 1000) div n_pi").alias("t"))
        .agg(F.sum("t").cast("long").alias("dm_micro"))
    )
    corr = (
        b_cells.join(
            greedy,
            (b_cells.h == greedy.h) & (b_cells.a == greedy.pi_a),
        )
        .drop(greedy.h)
        .join(b_ctx, "h")
        .select(
            "n_b",
            F.expr(
                "((s_b * n_pi - n_b * s_pi) * 1000 * n_h) div (n_pi * n_b)"
            ).alias("t"),
        )
        .agg(
            F.sum("t").cast("long").alias("corr_micro"),
            F.sum("n_b").cast("long").alias("n_matched"),
        )
    )
    tot = logged.filter(F.col("fold") == 1).agg(
        F.count(F.lit(1)).cast("long").alias("n_eval")
    )
    return (
        tot.crossJoin(F.broadcast(dm))
        .crossJoin(F.broadcast(corr))
        .select(
            F.col("n_eval").alias("n_eval_rounds"),
            F.round(F.col("dm_micro") * 1.0 / (100000.0 * F.col("n_eval")), 6)
            .alias("dm_value_dollars"),
            F.round(
                F.col("corr_micro") * 1.0 / (100000.0 * F.col("n_eval")), 6
            ).alias("ips_correction_dollars"),
            F.round(
                (F.col("dm_micro") + F.col("corr_micro"))
                * 1.0
                / (100000.0 * F.col("n_eval")),
                6,
            ).alias("dr_value_dollars"),
            F.round(F.col("n_matched") * 1.0 / F.col("n_eval"), 6).alias(
                "match_rate"
            ),
        )
    )


# Benjamini-Hochberg step-up ladder: two-sided |z| thresholds for
# p_(i) <= i*q/m at q = 0.10, m = 25 nations — inverse-normal values
# baked as shared literals (the engines have no erf^-1; the Benford/
# critical-value discipline), computed once with
# statistics.NormalDist().inv_cdf(1 - (i*q/m)/2).
BH_Q_PCT = 10
BH_M = 25
BH_Z_LADDER = (
    2.878162, 2.65207, 2.512144, 2.408916, 2.326348, 2.257129,
    2.197286, 2.144411, 2.096927, 2.053749, 2.014091, 1.977368,
    1.943134, 1.911036, 1.880794, 1.85218, 1.825007, 1.799118,
    1.774382, 1.750686, 1.727934, 1.706043, 1.684941, 1.664563,
    1.644854,
)
_BH_VALUES = ", ".join(f"({i + 1}, {z})" for i, z in enumerate(BH_Z_LADDER))


@register(
    "bh_fdr_nation_tests",
    oracle=f"""
    WITH moments AS (
      SELECT n.n_name AS nation,
             CASE WHEN o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
                  THEN 1 ELSE 0 END AS era,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(round(o.o_totalprice * 100, 0) AS BIGINT))
                  AS BIGINT) AS s,
             CAST(sum(CAST(round(o.o_totalprice * 100, 0) AS BIGINT)
                      * CAST(round(o.o_totalprice * 100, 0) AS BIGINT))
                  AS BIGINT) AS ss
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      WHERE o.o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY 1, 2
    ),
    z AS (
      SELECT a.nation,
             abs(a.s * 1.0 / a.n - b.s * 1.0 / b.n)
               / sqrt((a.ss * 1.0 / a.n - (a.s * 1.0 / a.n) * (a.s * 1.0 / a.n))
                        / a.n
                      + (b.ss * 1.0 / b.n - (b.s * 1.0 / b.n) * (b.s * 1.0 / b.n))
                        / b.n) AS abs_z
      FROM moments a JOIN moments b ON a.nation = b.nation
      WHERE a.era = 1 AND b.era = 0
    ),
    ladder(rk, z_thr) AS (VALUES {_BH_VALUES}),
    ranked AS (
      SELECT nation, abs_z,
             CAST(row_number() OVER (ORDER BY abs_z DESC, nation)
                  AS BIGINT) AS rk
      FROM z
    ),
    cut AS (
      SELECT coalesce(max(r.rk), 0) AS k_max
      FROM ranked r JOIN ladder l ON l.rk = r.rk
      WHERE r.abs_z >= CAST(l.z_thr AS DOUBLE)
    )
    SELECT r.nation, round(r.abs_z, 6) AS abs_z, r.rk AS rank,
           CAST(l.z_thr AS DOUBLE) AS z_threshold,
           CAST(r.rk <= (SELECT k_max FROM cut) AS INT) AS rejected
    FROM ranked r JOIN ladder l ON l.rk = r.rk
    ORDER BY r.rk
    """,
)
def bh_fdr_nation_tests(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg (1995) false-discovery-rate control over the
    25 per-nation 'did mean order value shift 1995->1996' two-sample
    z tests — the multiple-testing discipline every per-segment
    screening query needs: testing 25 segments at alpha=5% expects a
    false positive; BH's step-up rule (reject all tests ranked at or
    below the LARGEST i with p_(i) <= i*q/m) bounds the expected
    false-discovery share at q=10% instead.

    The engines have no inverse normal CDF, so the p-value comparison
    runs in z space against a 25-literal threshold ladder baked from
    statistics.NormalDist (the Benford shared-literal discipline) —
    p_(i) <= i*q/m  <=>  |z|_(i) >= z_thr(i) exactly, and the step-up
    cut k_max = max qualifying rank is an integer comparison. Welch z
    per nation assembles from exact BIGINT cents moment sums; sqrt is
    IEEE-correctly-rounded so both engines produce identical doubles.

    Scale shape: one date-pruned fact scan (broadcast dim joins) ->
    25x2 moment cells; ranking, ladder join, and the step-up cut all
    run on <=25-row tables."""
    t = load(spark, sf_dir)
    cents = F.expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)")
    moments = (
        t.orders.filter(
            (F.col("o_orderdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
        )
        .join(t.customer.select("c_custkey", "c_nationkey"),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t.nation.select("n_nationkey", "n_name")),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("n_name").alias("nation"),
            (
                F.col("o_orderdate")
                >= F.lit("1996-01-01 00:00:00").cast("timestamp")
            ).cast("int").alias("era"),
            cents.alias("r"),
        )
        .groupBy("nation", "era")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("r").cast("long").alias("s"),
            F.sum(F.col("r") * F.col("r")).cast("long").alias("ss"),
        )
        # 25x2-row moment table staged: the era branches, ladder join,
        # and step-up cut drove 12 re-scans of the three-table join
        # (plan-audit r10)
        .localCheckpoint(eager=True)
    )
    a = moments.filter(F.col("era") == 1).select(
        "nation", F.col("n").alias("n1"), F.col("s").alias("s1"),
        F.col("ss").alias("ss1"),
    )
    b = moments.filter(F.col("era") == 0).select(
        F.col("nation").alias("nation_b"), F.col("n").alias("n0"),
        F.col("s").alias("s0"), F.col("ss").alias("ss0"),
    )
    m1 = F.col("s1") * 1.0 / F.col("n1")
    m0 = F.col("s0") * 1.0 / F.col("n0")
    v1 = F.col("ss1") * 1.0 / F.col("n1") - m1 * m1
    v0 = F.col("ss0") * 1.0 / F.col("n0") - m0 * m0
    z = a.join(b, F.col("nation") == F.col("nation_b")).select(
        "nation",
        (F.abs(m1 - m0) / F.sqrt(v1 / F.col("n1") + v0 / F.col("n0"))).alias(
            "abs_z"
        ),
    )
    ranked = z.withColumn(
        "rank", F.row_number().over(W.orderBy(F.col("abs_z").desc(), "nation")).cast("long")
    )
    ladder = (
        spark.range(1)
        .select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i + 1).cast("long").alias("rank"),
                            F.lit(zt).alias("z_threshold"),
                        )
                        for i, zt in enumerate(BH_Z_LADDER)
                    ]
                )
            ).alias("l")
        )
        .select("l.rank", "l.z_threshold")
    )
    joined = ranked.join(F.broadcast(ladder), "rank")
    cut = joined.filter(F.col("abs_z") >= F.col("z_threshold")).agg(
        F.coalesce(F.max("rank"), F.lit(0)).cast("long").alias("k_max")
    )
    return (
        joined.crossJoin(F.broadcast(cut))
        .select(
            "nation",
            F.round("abs_z", 6).alias("abs_z"),
            "rank",
            "z_threshold",
            (F.col("rank") <= F.col("k_max")).cast("int").alias("rejected"),
        )
        .orderBy("rank")
    )


MSPRT_TAU_SQ = 100.0  # mixture prior variance, dollars^2 (tuning const)
MSPRT_LN_INV_ALPHA_MICRO = 2995732  # floor(ln(1/0.05)*1e6): alpha = 5%


@register(
    "msprt_always_valid_monitor",
    oracle=f"""
    WITH panel AS (
      SELECT EXTRACT(month FROM o_orderdate) AS m,
             CASE WHEN md5(CAST(o_custkey AS VARCHAR)) < '8'
                  THEN 0 ELSE 1 END AS arm,
             CAST(round(o_totalprice * 100, 0) AS BIGINT) AS r
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
    ),
    monthly AS (
      -- ss stays HUGEINT: the cumulative second moment crosses BIGINT
      -- at sf0.1 already (cents^2 ~ 2.5e15/row; 12-month cumsum > 9e18)
      SELECT m, arm, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(r) AS BIGINT) AS s,
             sum(r * r) AS ss
      FROM panel GROUP BY m, arm
    ),
    looks AS (
      SELECT m, arm,
             CAST(sum(n) OVER w AS BIGINT) AS cn,
             CAST(sum(s) OVER w AS BIGINT) AS cs,
             sum(ss) OVER w AS css
      FROM monthly
      WINDOW w AS (PARTITION BY arm ORDER BY m ROWS UNBOUNDED PRECEDING)
    ),
    wide AS (
      SELECT a.m, a.cn AS n_a, b.cn AS n_b,
             a.cs * 1.0 / (100 * a.cn) AS mean_a,
             b.cs * 1.0 / (100 * b.cn) AS mean_b,
             ((a.css + b.css) * 1.0 / (a.cn + b.cn)
              - ((a.cs + b.cs) * 1.0 / (a.cn + b.cn))
                * ((a.cs + b.cs) * 1.0 / (a.cn + b.cn))) / 10000.0 AS var_pool
      FROM looks a JOIN looks b ON a.m = b.m AND a.arm = 0 AND b.arm = 1
    ),
    lam AS (
      SELECT m, n_a, n_b, mean_b - mean_a AS diff,
             var_pool * (1.0 / n_a + 1.0 / n_b) AS v_n
      FROM wide
    ),
    scored AS (
      SELECT m, n_a, n_b, diff,
             CAST(floor((0.5 * ln(v_n / (v_n + {MSPRT_TAU_SQ}))
                         + diff * diff * {MSPRT_TAU_SQ}
                           / (2 * v_n * (v_n + {MSPRT_TAU_SQ})))
                        * 1000000 + 1e-3) AS BIGINT) AS ln_lambda_micro
      FROM lam
    ),
    walked AS (
      SELECT m, n_a, n_b, diff, ln_lambda_micro,
             CAST(max(ln_lambda_micro) OVER (ORDER BY m ROWS UNBOUNDED
                  PRECEDING) AS BIGINT) AS ln_lambda_max_micro
      FROM scored
    )
    SELECT m AS month, n_a, n_b, round(diff, 4) AS diff_dollars,
           ln_lambda_micro, ln_lambda_max_micro,
           CAST(floor(least(1000000.0,
                exp(-ln_lambda_max_micro / 1000000.0) * 1000000) + 1e-3)
                AS BIGINT) AS always_valid_p_micro,
           CAST(ln_lambda_max_micro >= {MSPRT_LN_INV_ALPHA_MICRO} AS INT)
             AS reject_5pct
    FROM walked ORDER BY m
    """,
)
def msprt_always_valid_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Always-valid sequential A/B monitoring via the mixture SPRT
    (Robbins 1970; Johari, Koomen, Pekelis & Walsh 2017/2022 — the
    'peeking problem' solution deployed industry-wide): at every
    monthly look over 1996, the two-sample normal-mixture likelihood
    ratio Lambda_n = sqrt(V_n/(V_n+tau^2)) * exp(d^2 tau^2 /
    (2 V_n (V_n+tau^2))) with V_n = var_pool*(1/n_A+1/n_B); the
    always-valid p-value min(1, 1/max_looks Lambda) is monotone
    non-increasing, so ANY stopping rule keeps the 5% guarantee —
    unlike the fixed-horizon z test ab_interim_monitoring protects
    with pre-committed O'Brien-Fleming looks.

    Determinism: cumulative moments are exact BIGINT cents windows per
    arm; V_n and d are identical-double expressions of those integers;
    the single ln/exp per look lands behind the floor(x*1e6 + 1e-3)
    micro-unit guard (the woe/hurst fixed-point discipline) so a
    last-ulp libm difference cannot move any output; the rejection
    rule compares BIGINT micro-units to the baked ln(1/alpha) literal.
    Scale: one date-pruned fact scan -> 12x2 monthly cells; all
    windows run over that bounded table."""
    o = load(spark, sf_dir).orders
    panel = o.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    ).select(
        F.month("o_orderdate").alias("m"),
        F.when(
            F.md5(F.col("o_custkey").cast("string")) < "8", 0
        ).otherwise(1).alias("arm"),
        F.expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)").alias("r"),
    )
    # 12x2-row monthly moments staged: the a/b arm branches would
    # each re-scan orders otherwise
    monthly = panel.groupBy("m", "arm").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("r").cast("long").alias("s"),
        # DECIMAL(38,0) second moment (exact, the oracle's HUGEINT
        # twin): the cumulative css crosses BIGINT at sf0.1 already —
        # r12, found by the off-gate sf0.1 robustness sweep
        F.sum((F.col("r") * F.col("r")).cast("decimal(38,0)")).alias("ss"),
    ).localCheckpoint(eager=True)
    wc = W.partitionBy("arm").orderBy("m").rowsBetween(W.unboundedPreceding, 0)
    looks = monthly.select(
        "m",
        "arm",
        F.sum("n").over(wc).cast("long").alias("cn"),
        F.sum("s").over(wc).cast("long").alias("cs"),
        F.sum("ss").over(wc).cast("decimal(38,0)").alias("css"),
    )
    a = looks.filter(F.col("arm") == 0).select(
        "m", F.col("cn").alias("n_a"), F.col("cs").alias("cs_a"),
        F.col("css").alias("css_a"),
    )
    b = looks.filter(F.col("arm") == 1).select(
        F.col("m").alias("m_b"), F.col("cn").alias("n_b"),
        F.col("cs").alias("cs_b"), F.col("css").alias("css_b"),
    )
    tau = MSPRT_TAU_SQ
    pooled_mean = (F.col("cs_a") + F.col("cs_b")) * 1.0 / (
        F.col("n_a") + F.col("n_b")
    )
    var_pool = (
        (F.col("css_a") + F.col("css_b")) * 1.0 / (F.col("n_a") + F.col("n_b"))
        - pooled_mean * pooled_mean
    ) / 10000.0
    diff = (
        F.col("cs_b") * 1.0 / (100 * F.col("n_b"))
        - F.col("cs_a") * 1.0 / (100 * F.col("n_a"))
    )
    v_n = var_pool * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))
    lam = a.join(b, F.col("m") == F.col("m_b")).select(
        "m", "n_a", "n_b", diff.alias("diff"), v_n.alias("v_n")
    )
    scored = lam.select(
        "m",
        "n_a",
        "n_b",
        "diff",
        F.floor(
            (
                0.5 * F.log(F.col("v_n") / (F.col("v_n") + tau))
                + F.col("diff")
                * F.col("diff")
                * tau
                / (2 * F.col("v_n") * (F.col("v_n") + tau))
            )
            * 1_000_000
            + 1e-3
        ).cast("long").alias("ln_lambda_micro"),
    )
    wm = W.orderBy("m").rowsBetween(W.unboundedPreceding, 0)
    walked = scored.withColumn(
        "ln_lambda_max_micro",
        F.max("ln_lambda_micro").over(wm).cast("long"),
    )
    return walked.select(
        F.col("m").alias("month"),
        "n_a",
        "n_b",
        F.round("diff", 4).alias("diff_dollars"),
        "ln_lambda_micro",
        "ln_lambda_max_micro",
        F.floor(
            F.least(
                F.lit(1000000.0),
                F.exp(-F.col("ln_lambda_max_micro") / 1000000.0) * 1000000,
            )
            + 1e-3
        ).cast("long").alias("always_valid_p_micro"),
        (F.col("ln_lambda_max_micro") >= MSPRT_LN_INV_ALPHA_MICRO)
        .cast("int")
        .alias("reject_5pct"),
    ).orderBy("month")


# (z_{alpha/2} + z_beta)^2 for alpha=5% two-sided, power=80% — the
# standard 7.849 design constant, baked from statistics.NormalDist
# literals 1.959964 + 0.841621 (the engines have no inverse CDF)
PWR_Z_SUM = 1.959964 + 0.841621
PWR_MDE_PCTS = (1, 2, 5)


@register(
    "sample_size_power_analysis",
    oracle=f"""
    WITH pilot AS (
      SELECT n.n_name AS nation,
             CAST(count(*) AS BIGINT) AS n_pilot,
             CAST(sum(CAST(round(o.o_totalprice * 100, 0) AS BIGINT))
                  AS BIGINT) AS s,
             CAST(sum(CAST(round(o.o_totalprice * 100, 0) AS BIGINT)
                      * CAST(round(o.o_totalprice * 100, 0) AS BIGINT))
                  AS BIGINT) AS ss
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      WHERE o.o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        AND o.o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
      GROUP BY 1
    ),
    mdes(mde_pct) AS (VALUES {", ".join(f"({p})" for p in PWR_MDE_PCTS)}),
    scored AS (
      SELECT nation, mde_pct, n_pilot,
             s * 1.0 / (100 * n_pilot) AS mean_dollars,
             (ss * 1.0 / n_pilot - (s * 1.0 / n_pilot) * (s * 1.0 / n_pilot))
               / 10000.0 AS var_dollars,
             (s * 1.0 / (100 * n_pilot)) * mde_pct / 100.0 AS delta
      FROM pilot CROSS JOIN mdes
    )
    SELECT nation, mde_pct, n_pilot,
           round(mean_dollars, 4) AS baseline_mean_dollars,
           round(sqrt(var_dollars), 4) AS sigma_dollars,
           CAST(ceil(2 * var_dollars * {PWR_Z_SUM} * {PWR_Z_SUM}
                     / (delta * delta)) AS BIGINT) AS n_per_arm
    FROM scored
    ORDER BY nation, mde_pct
    """,
)
def sample_size_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment design: required per-arm sample size
    n = 2 sigma^2 (z_a/2 + z_b)^2 / Delta^2 (the classic two-sample
    normal power formula at 5%/80%) for each nation and each relative
    MDE in {1%, 2%, 5%} of that nation's baseline mean order value,
    with variance estimated from the 1995 pilot year — the step that
    comes BEFORE ab_test_conversion / msprt_always_valid_monitor /
    ab_interim_monitoring in the experimentation toolkit (design ->
    monitor -> analyze -> bh_fdr correct).

    Determinism: pilot moments are exact BIGINT cents; mean, variance,
    Delta, and the n formula are identical-double expressions of those
    integers with the (z_a/2+z_b)^2 design constant baked as shared
    literals (no inverse CDF in either engine); sqrt is correctly
    rounded and ceil acts on identical doubles. Scale: one date-pruned
    fact scan with broadcast dims -> 25-row pilot table x 3 literals."""
    t = load(spark, sf_dir)
    cents = F.expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)")
    pilot = (
        t.orders.filter(
            (F.col("o_orderdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1996-01-01 00:00:00").cast("timestamp"))
        )
        .join(
            t.customer.select("c_custkey", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(t.nation.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select(F.col("n_name").alias("nation"), cents.alias("r"))
        .groupBy("nation")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pilot"),
            F.sum("r").cast("long").alias("s"),
            F.sum(F.col("r") * F.col("r")).cast("long").alias("ss"),
        )
    )
    mdes = F.explode(F.array(*[F.lit(p) for p in PWR_MDE_PCTS])).alias("mde_pct")
    mean_d = F.col("s") * 1.0 / (100 * F.col("n_pilot"))
    var_d = (
        F.col("ss") * 1.0 / F.col("n_pilot")
        - (F.col("s") * 1.0 / F.col("n_pilot"))
        * (F.col("s") * 1.0 / F.col("n_pilot"))
    ) / 10000.0
    delta = mean_d * F.col("mde_pct") / 100.0
    k = PWR_Z_SUM
    return (
        pilot.select("nation", "n_pilot", "s", "ss", mdes)
        .select(
            "nation",
            "mde_pct",
            "n_pilot",
            F.round(mean_d, 4).alias("baseline_mean_dollars"),
            F.round(F.sqrt(var_d), 4).alias("sigma_dollars"),
            F.ceil(2 * var_d * k * k / (delta * delta))
            .cast("long")
            .alias("n_per_arm"),
        )
        .orderBy("nation", "mde_pct")
    )




UCB_ARMS = ("click", "error", "purchase", "signup", "view")
UCB_MONTHS = 12
# ln(t) baked to 9 dp — neither engine's libm ln is trusted at the ulp
_UCB_LN = (
    0.0, 0.693147181, 1.098612289, 1.386294361, 1.609437912,
    1.791759469, 1.945910149, 2.079441542, 2.197224577, 2.302585093,
    2.397895273, 2.48490665,
)


def _ucb_stage_exprs(t: int) -> tuple[str, list[str]]:
    """Stage t of the unrolled UCB1 replay: the chosen-arm CASE (refers
    only to stage t-1 state columns) and the update expressions (refer
    only to stage t-1 state plus ch{t}). Keeping each stage a SEPARATE
    projection layer is load-bearing: expressed as lateral aliases in
    one projection, every stage inlines the full expression of every
    prior stage and the tree grows exponentially (the first draft hung
    both engines)."""
    arms = UCB_ARMS
    prev = t - 1
    if t <= len(arms):
        chosen = f"'{arms[t - 1]}' AS ch{t}"
    else:
        ln_t = _UCB_LN[t - 1]
        idx = {
            a: (
                # the mean is an exact-in-double ratio floored to a
                # BIGINT (shared text: DuckDB's // and Spark's div
                # spell differently, floor(x/y) is engine-common)
                f"(CAST(floor(s{prev}_{a} * 1.0 / n{prev}_{a}) AS BIGINT)"
                f" + CAST(floor(sqrt(2 * {ln_t} / n{prev}_{a}) * 1000000)"
                f" AS BIGINT))"
            )
            for a in arms
        }
        cases = []
        for a in arms:  # ties: first arm in name order wins
            cond = " AND ".join(f"{idx[a]} >= {idx[b]}" for b in arms if b != a)
            cases.append(f"WHEN {cond} THEN '{a}'")
        chosen = "CASE " + " ".join(cases) + f" END AS ch{t}"
    updates = [
        "CASE "
        + " ".join(f"WHEN ch{t} = '{a}' THEN r{t}_{a}" for a in arms)
        + f" END AS rw{t}"
    ]
    for a in arms:
        base_n = "0" if t == 1 else f"n{prev}_{a}"
        base_s = "0" if t == 1 else f"s{prev}_{a}"
        updates.append(
            f"{base_n} + CASE WHEN ch{t} = '{a}' THEN 1 ELSE 0 END AS n{t}_{a}"
        )
        updates.append(
            f"{base_s} + CASE WHEN ch{t} = '{a}' THEN r{t}_{a} ELSE 0 END"
            f" AS s{t}_{a}"
        )
    return chosen, updates


def _ucb_best_case(t: int) -> str:
    return (
        "CASE "
        + " ".join(f"WHEN best_arm = '{a}' THEN r{t}_{a}" for a in UCB_ARMS)
        + " END"
    )


def _ucb_best_arm_sql() -> str:
    tot = {
        a: " + ".join(f"r{t}_{a}" for t in range(1, UCB_MONTHS + 1))
        for a in UCB_ARMS
    }
    cases = []
    for a in UCB_ARMS:
        cond = " AND ".join(f"({tot[a]}) >= ({tot[b]})" for b in UCB_ARMS if b != a)
        cases.append(f"WHEN {cond} THEN '{a}'")
    return "CASE " + " ".join(cases) + " END AS best_arm"


def _ucb_oracle() -> str:
    """12x2 MATERIALIZED CTE stages — DuckDB must not inline them or
    the same exponential blow-up returns."""
    # coalesce(., 0): an empty (day, arm) cell reads as 0-ppm reward
    # instead of a NULL that would silently propagate through every
    # later stage of the replay (ADVICE r10) — populated at sf0.01,
    # load-bearing on sparser slices
    pivot_cols = ",\n".join(
        f"        coalesce(max(CASE WHEN m = {t} AND a = '{a}'"
        f" THEN r_ppm END), 0) AS r{t}_{a}"
        for t in range(1, UCB_MONTHS + 1)
        for a in UCB_ARMS
    )
    stages = []
    prev = "pivoted"
    for t in range(1, UCB_MONTHS + 1):
        chosen, updates = _ucb_stage_exprs(t)
        stages.append(
            f"c{t} AS MATERIALIZED (SELECT *, {chosen} FROM {prev})"
        )
        stages.append(
            f"u{t} AS MATERIALIZED (SELECT *, "
            + ", ".join(updates)
            + f" FROM c{t})"
        )
        prev = f"u{t}"
    trace = ", ".join(
        f"{{'month': {t}, 'chosen_arm': ch{t}, 'reward_ppm': rw{t}, "
        f"'best_reward_ppm': " + _ucb_best_case(t) + "}"
        for t in range(1, UCB_MONTHS + 1)
    )
    stages_sql = ",\n    ".join(stages)
    return f"""
    WITH cells AS (
      SELECT EXTRACT(day FROM ts) AS m, event_type AS a,
             (CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
              * 20) // CAST(count(*) AS BIGINT) AS r_ppm
      FROM events WHERE EXTRACT(day FROM ts) <= {UCB_MONTHS}
      GROUP BY 1, 2
    ),
    pivoted AS MATERIALIZED (
      SELECT
{pivot_cols}
      FROM cells
    ),
    {stages_sql},
    walk AS (SELECT *, {_ucb_best_arm_sql()} FROM {prev}),
    trace AS (
      SELECT unnest([{trace}], recursive := true) FROM walk
    )
    SELECT month AS day, chosen_arm,
           CAST(reward_ppm AS BIGINT) AS reward_ppm,
           CAST(sum(reward_ppm) OVER (ORDER BY month ROWS UNBOUNDED
                PRECEDING) AS BIGINT) AS cum_reward_ppm,
           CAST(sum(best_reward_ppm - reward_ppm) OVER (ORDER BY month
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_regret_ppm
    FROM trace ORDER BY month
    """


@register("ucb1_bandit_replay", oracle=_ucb_oracle())
def ucb1_bandit_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UCB1 bandit replay (Auer, Cesa-Bianchi & Fischer 2002) over the
    logged event stream aggregated to 12 daily rounds x 5 action arms:
    play each arm once, then at every round choose
    argmax(mean + sqrt(2 ln t / n)) on [0,1]-normalized rewards
    (value/500 in exact ppm integers) and earn that day's observed
    cell mean; cumulative regret is reported against the hindsight-
    best fixed arm. The ONLINE-learning complement to the offline
    counterfactual trio (ips/dr/qini): those evaluate a FIXED policy
    from logs, this replays an adaptive one.

    Both engines evaluate the SAME arithmetic over the same pivoted
    60-column row — state stays in exact ppm BIGINTs, ln(t) is baked
    as 9-dp literals, and the one sqrt per (arm, step) is correctly
    rounded then floored to ppm before entering the integer index, so
    the walk's choice sequence is bit-identical including ties (first
    arm in name order wins). DuckDB unrolls the stages as MATERIALIZED
    CTEs (inlined as lateral aliases the expression tree grows
    exponentially — the first draft hung both engines); Spark runs the
    whole walk inside ONE applyInPandas task over the 1-row pivot
    (r14; previously 12 stages × 2 eager localCheckpoints ≈ 24
    scheduled jobs of pure stage latency — the _ucb_stage_exprs SQL
    mirrors CPython float semantics op for op: floor(s*1.0/n),
    floor(sqrt(2*ln_t/n)*1e6), integer comparisons with
    first-in-name-order ties — both are IEEE doubles with correctly
    rounded ops, proven by oracle hash equality at three SFs).

    The one-row pivot is ONE ``selectExpr`` of 60
    ``coalesce(max(CASE WHEN ...))`` aggregates, parsed in the JVM in one
    call rather than built node by node over py4j (the simhash/texthash
    precedent), so building the query stays cheap driver work.

    Scale shape: one fact scan -> 60-cell hash agg -> one-row pivot;
    the replay is O(arms x months) scalar work on that row."""
    e = load(spark, sf_dir).events
    cells = (
        e.filter(F.dayofmonth("ts") <= UCB_MONTHS)
        .select(
            F.dayofmonth("ts").alias("m"),
            F.col("event_type").alias("a"),
            F.expr("CAST(round(value * 100, 0) AS BIGINT)").alias("r"),
        )
        .groupBy("m", "a")
        .agg(F.expr("(sum(r) * 20) div count(*)").cast("long").alias("r_ppm"))
    )
    # empty (day, arm) cells coalesce to 0 ppm, mirroring the oracle
    # (ADVICE r10: a NULL here nulls the entire replay downstream)
    state = cells.selectExpr(
        *[
            f"coalesce(max(CASE WHEN m = {t} AND a = '{a}' THEN r_ppm END),"
            f" CAST(0 AS BIGINT)) AS r{t}_{a}"
            for t in range(1, UCB_MONTHS + 1)
            for a in UCB_ARMS
        ]
    )

    import math

    import pandas as pd

    def replay(pdf: "pd.DataFrame") -> "pd.DataFrame":
        row = pdf.iloc[0]
        r = {
            (t, a): int(row[f"r{t}_{a}"])
            for t in range(1, UCB_MONTHS + 1)
            for a in UCB_ARMS
        }
        tot = {
            a: sum(r[(t, a)] for t in range(1, UCB_MONTHS + 1))
            for a in UCB_ARMS
        }
        best_arm = next(
            a
            for a in UCB_ARMS
            if all(tot[a] >= tot[b] for b in UCB_ARMS if b != a)
        )
        n = {a: 0 for a in UCB_ARMS}
        s = {a: 0 for a in UCB_ARMS}
        out = []
        cum_rw = cum_rg = 0
        for t in range(1, UCB_MONTHS + 1):
            if t <= len(UCB_ARMS):
                ch = UCB_ARMS[t - 1]
            else:
                ln_t = _UCB_LN[t - 1]
                idx = {
                    a: math.floor(s[a] * 1.0 / n[a])
                    + math.floor(math.sqrt(2 * ln_t / n[a]) * 1000000)
                    for a in UCB_ARMS
                }
                # ties: first arm in name order wins (the CASE order)
                ch = next(
                    a
                    for a in UCB_ARMS
                    if all(idx[a] >= idx[b] for b in UCB_ARMS if b != a)
                )
            rw = r[(t, ch)]
            n[ch] += 1
            s[ch] += rw
            cum_rw += rw
            cum_rg += r[(t, best_arm)] - rw
            out.append((t, ch, rw, cum_rw, cum_rg))
        return pd.DataFrame(
            out,
            columns=[
                "day", "chosen_arm", "reward_ppm",
                "cum_reward_ppm", "cum_regret_ppm",
            ],
        )

    return (
        state.withColumn("g", F.lit(1))
        .groupBy("g")
        .applyInPandas(
            replay,
            "day int, chosen_arm string, reward_ppm long, "
            "cum_reward_ppm long, cum_regret_ppm long",
        )
        .orderBy("day")
    )


def _lmom_c(m: str, k: int, cast: str, div: str = "/") -> str:
    """C(m, k) as exact big-integer SQL; `cast` wraps m into the
    engine's wide type (DECIMAL(38,0) / HUGEINT) BEFORE the products
    so nothing overflows BIGINT at large n. `div` is the engine's
    EXACT division operator for that wide type: DuckDB's `/` on
    HUGEINT returns DOUBLE (ADVICE r10 — order-dependent rounding at
    term magnitudes ~1e23), so the DuckDB path passes `//`, which
    stays HUGEINT; the k consecutive-integer factors make the product
    exactly divisible by k!, so integer division is lossless. Spark's
    `/` on DECIMAL is exact decimal arithmetic and stays as-is."""
    mm = cast.format(x=m)
    if k == 1:
        return mm
    num = " * ".join(f"({mm} - {j})" for j in range(k))
    den = {2: 2, 3: 6, 4: 24}[k]
    return f"(({num}) {div} {den})"


def _lmom_terms(cast: str, div: str = "/") -> str:
    """Per-value hockey-stick weights: the ranks of a value-block
    (B+1..B+c) contribute sum_{i} C(i-1, r) = C(B+c, r+1) - C(B, r+1)
    exactly, so L-moment numerators need only the distinct-value
    cumulative table — no per-row ranks."""
    parts = []
    for r in range(4):
        hi = _lmom_c("(b + c)", r + 1, cast, div)
        lo = _lmom_c("b", r + 1, cast, div)
        v = cast.format(x="v")
        parts.append(f"sum({v} * ({hi} - {lo})) AS n{r}")
    return ", ".join(parts)


_LMOM_DUCK_CAST = "CAST({x} AS HUGEINT)"
_LMOM_SPARK_CAST = "CAST({x} AS DECIMAL(38,0))"


@register(
    "l_moments_order_values",
    oracle=f"""
    WITH vals AS (
      SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) AS v,
             CAST(count(*) AS BIGINT) AS c
      FROM orders GROUP BY 1
    ),
    cum AS (
      SELECT v, c,
             CAST(sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) - c
                  AS BIGINT) AS b,
             CAST(sum(c) OVER () AS BIGINT) AS n
      FROM vals
    ),
    sums AS (
      SELECT any_value(n) AS n, {_lmom_terms(_LMOM_DUCK_CAST, "//")}
      FROM cum
    ),
    bs AS (
      SELECT n,
             CAST(n0 AS DOUBLE) / n AS b0,
             CAST(n1 AS DOUBLE) / (n * (CAST(n AS DOUBLE) - 1)) AS b1,
             CAST(n2 AS DOUBLE)
               / (n * ((CAST(n AS DOUBLE) - 1) * (n - 2) / 2)) AS b2,
             CAST(n3 AS DOUBLE)
               / (n * ((CAST(n AS DOUBLE) - 1) * (n - 2) * (n - 3) / 6))
               AS b3
      FROM sums
    )
    SELECT n,
           round(b0 / 100, 4) AS lambda1_dollars,
           round((2 * b1 - b0) / 100, 4) AS lambda2_dollars,
           round((2 * b1 - b0) / b0, 6) AS l_cv,
           round((6 * b2 - 6 * b1 + b0) / (2 * b1 - b0), 6) AS l_skew,
           round((20 * b3 - 30 * b2 + 12 * b1 - b0) / (2 * b1 - b0), 6)
             AS l_kurt
    FROM bs
    """,
)
def l_moments_order_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L-moments of the order-value distribution (Hosking 1990) —
    the order-statistic alternative to classical moments whose ratios
    (L-CV, L-skewness, L-kurtosis) are bounded, outlier-robust, and
    the standard distribution fingerprint in hydrology/risk — next to
    the classical summary_stats and the quantile views.

    The scale trick: a sorted sample's weights C(i-1, r) summed over a
    tied-value block of ranks B+1..B+c telescope by the hockey-stick
    identity to C(B+c, r+1) - C(B, r+1), so the numerators assemble
    EXACTLY from the distinct-value cumulative table — no per-row
    global ranking ever exists. Products run in DECIMAL(38,0)/HUGEINT
    (C(n,4)*cents overflows BIGINT past sf0.01) and every division
    happens once, in double, on exactly-representable big integers via
    the engines' correctly-rounded wide->double casts; b_r denominators
    are written as one shared expression order. Scale: one fact scan ->
    value-cardinality-bounded table; windows only over that table."""
    o = load(spark, sf_dir).orders
    vals = (
        o.select(F.expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)").alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    wseq = W.orderBy("v").rowsBetween(W.unboundedPreceding, 0)
    wall = W.orderBy("v").rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    cum = vals.select(
        "v",
        "c",
        (F.sum("c").over(wseq) - F.col("c")).cast("long").alias("b"),
        F.sum("c").over(wall).cast("long").alias("n"),
    )
    def _term(r: int) -> str:
        hi = _lmom_c("(b + c)", r + 1, _LMOM_SPARK_CAST)
        lo = _lmom_c("b", r + 1, _LMOM_SPARK_CAST)
        v = _LMOM_SPARK_CAST.format(x="v")
        return f"sum({v} * ({hi} - {lo}))"

    sums = cum.agg(
        F.expr("any_value(n)").alias("n"),
        *[F.expr(_term(r)).alias(f"n{r}") for r in range(4)],
    )
    b0 = F.expr("CAST(n0 AS DOUBLE) / n")
    b1 = F.expr("CAST(n1 AS DOUBLE) / (n * (CAST(n AS DOUBLE) - 1))")
    b2 = F.expr(
        "CAST(n2 AS DOUBLE) / (n * ((CAST(n AS DOUBLE) - 1) * (n - 2) / 2))"
    )
    b3 = F.expr(
        "CAST(n3 AS DOUBLE)"
        " / (n * ((CAST(n AS DOUBLE) - 1) * (n - 2) * (n - 3) / 6))"
    )
    bs = sums.select(
        "n",
        b0.alias("b0"),
        b1.alias("b1"),
        b2.alias("b2"),
        b3.alias("b3"),
    )
    lam2 = 2 * F.col("b1") - F.col("b0")
    return bs.select(
        "n",
        F.round(F.col("b0") / 100, 4).alias("lambda1_dollars"),
        F.round(lam2 / 100, 4).alias("lambda2_dollars"),
        F.round(lam2 / F.col("b0"), 6).alias("l_cv"),
        F.round(
            (6 * F.col("b2") - 6 * F.col("b1") + F.col("b0")) / lam2, 6
        ).alias("l_skew"),
        F.round(
            (20 * F.col("b3") - 30 * F.col("b2") + 12 * F.col("b1") - F.col("b0"))
            / lam2,
            6,
        ).alias("l_kurt"),
    )


GPD_THRESHOLD_CENTS = 40_000_000  # $400k peaks-over-threshold cutoff


@register(
    "gpd_tail_fit",
    oracle=f"""
    WITH vals AS (
      SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT)
               - {GPD_THRESHOLD_CENTS} AS v,
             CAST(count(*) AS BIGINT) AS c
      FROM orders
      WHERE CAST(round(o_totalprice * 100, 0) AS BIGINT)
            > {GPD_THRESHOLD_CENTS}
      GROUP BY 1
    ),
    cum AS (
      SELECT v, c,
             CAST(sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) - c
                  AS BIGINT) AS b,
             CAST(sum(c) OVER () AS BIGINT) AS n
      FROM vals
    ),
    sums AS (
      SELECT any_value(n) AS n,
             sum(CAST(v AS HUGEINT) * CAST(c AS HUGEINT)) AS n0,
             sum(CAST(v AS HUGEINT)
                 * ((CAST((b + c) AS HUGEINT) * (CAST((b + c) AS HUGEINT) - 1)
                     - CAST(b AS HUGEINT) * (CAST(b AS HUGEINT) - 1)) // 2))
               AS n1
      FROM cum
    ),
    bs AS (
      SELECT n,
             CAST(n0 AS DOUBLE) / n AS b0,
             CAST(n1 AS DOUBLE) / (n * (CAST(n AS DOUBLE) - 1)) AS b1
      FROM sums
    ),
    fit AS (
      SELECT n, b0, 2 * b1 - b0 AS l2,
             b0 / (2 * b1 - b0) - 2 AS k
      FROM bs
    ),
    scal AS (
      SELECT n, b0, l2, k, b0 * (1 + k) AS alpha,
             CAST(floor(exp(k * ln(0.01)) * 1000000 + 0.001) AS BIGINT)
               AS pow99_micro,
             CAST(floor(exp(k * ln(0.1)) * 1000000 + 0.001) AS BIGINT)
               AS pow90_micro
      FROM fit
    )
    SELECT n AS n_exceed,
           CAST({GPD_THRESHOLD_CENTS / 100} AS DOUBLE) AS threshold_dollars,
           round(b0 / 100, 4) AS lambda1_dollars,
           round(l2 / 100, 4) AS lambda2_dollars,
           round(k, 6) AS shape_k,
           round(alpha / 100, 4) AS scale_alpha_dollars,
           round((alpha / k) * (1 - pow90_micro / 1000000.0) / 100, 4)
             AS ret_level90_dollars,
           round((alpha / k) * (1 - pow99_micro / 1000000.0) / 100, 4)
             AS ret_level99_dollars
    FROM scal
    """,
)
def gpd_tail_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generalized-Pareto peaks-over-threshold tail fit via
    probability-weighted moments (Hosking & Wallis 1987) — the EVT
    companion to hill_tail_index: where Hill assumes a pure power law,
    the GPD's L-moment estimators k = lambda1/lambda2 - 2,
    alpha = lambda1(1+k) (Hosking's sign: k>0 is a BOUNDED tail,
    k = -xi) recover shape AND scale of the excess distribution over a
    fixed threshold, giving return levels (the 90%/99% excess
    quantiles x_p = (alpha/k)(1-(1-p)^k)) — the risk-quantile output
    an ops/finance warehouse actually publishes.

    Reuses the l_moments_order_values hockey-stick identity: lambda1,
    lambda2 need only n0 = sum(v*c) and n1 = sum(v*(C(b+c,2)-C(b,2)))
    over the distinct-exceedance cumulative table, all exact wide
    integers (HUGEINT `//` / DECIMAL division by 2 — exactly
    divisible), so both engines see bit-identical moment sums; the
    single wide->double cast per moment is correctly rounded and the
    downstream scalar algebra is one identical expression tree. The
    two engine-divergent pow() calls are spelled exp(k*ln p) behind
    the floor(x*1e6+1e-3) micro guard. On this near-uniform upper
    tail k fits ~1 (uniform excess: tau2=1/3 exactly); the estimator
    degenerates only at k->0 (exponential tail), away from this data.

    Scale: one fact scan with the threshold pushed to parquet ->
    value-cardinality-bounded cumulative table; no global sort of raw
    rows (docstring of l_moments_order_values for the identity)."""
    o = load(spark, sf_dir).orders
    cents = F.expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)")
    vals = (
        o.select(cents.alias("cents"))
        .filter(F.col("cents") > GPD_THRESHOLD_CENTS)
        .select((F.col("cents") - GPD_THRESHOLD_CENTS).alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    wseq = W.orderBy("v").rowsBetween(W.unboundedPreceding, 0)
    wall = W.orderBy("v").rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    cum = vals.select(
        "v",
        "c",
        (F.sum("c").over(wseq) - F.col("c")).cast("long").alias("b"),
        F.sum("c").over(wall).cast("long").alias("n"),
    )
    sums = cum.agg(
        F.expr("any_value(n)").alias("n"),
        F.expr(
            "sum(CAST(v AS DECIMAL(38,0)) * CAST(c AS DECIMAL(38,0)))"
        ).alias("n0"),
        F.expr(
            "sum(CAST(v AS DECIMAL(38,0))"
            " * ((CAST((b + c) AS DECIMAL(38,0))"
            "     * (CAST((b + c) AS DECIMAL(38,0)) - 1)"
            "     - CAST(b AS DECIMAL(38,0))"
            "     * (CAST(b AS DECIMAL(38,0)) - 1)) / 2))"
        ).alias("n1"),
    )
    bs = sums.select(
        "n",
        F.expr("CAST(n0 AS DOUBLE) / n").alias("b0"),
        F.expr(
            "CAST(n1 AS DOUBLE) / (n * (CAST(n AS DOUBLE) - 1))"
        ).alias("b1"),
    )
    fit = bs.select(
        "n",
        "b0",
        (2 * F.col("b1") - F.col("b0")).alias("l2"),
        (F.col("b0") / (2 * F.col("b1") - F.col("b0")) - 2).alias("k"),
    )
    scal = fit.select(
        "n",
        "b0",
        "l2",
        "k",
        (F.col("b0") * (1 + F.col("k"))).alias("alpha"),
        F.expr(
            "CAST(floor(exp(k * ln(0.01)) * 1000000 + 0.001) AS BIGINT)"
        ).alias("pow99_micro"),
        F.expr(
            "CAST(floor(exp(k * ln(0.1)) * 1000000 + 0.001) AS BIGINT)"
        ).alias("pow90_micro"),
    )
    ret = lambda pm: F.round(  # noqa: E731
        (F.col("alpha") / F.col("k"))
        * (1 - F.col(pm) / 1_000_000.0)
        / 100,
        4,
    )
    return scal.select(
        F.col("n").alias("n_exceed"),
        F.lit(GPD_THRESHOLD_CENTS / 100).alias("threshold_dollars"),
        F.round(F.col("b0") / 100, 4).alias("lambda1_dollars"),
        F.round(F.col("l2") / 100, 4).alias("lambda2_dollars"),
        F.round(F.col("k"), 6).alias("shape_k"),
        F.round(F.col("alpha") / 100, 4).alias("scale_alpha_dollars"),
        ret("pow90_micro").alias("ret_level90_dollars"),
        ret("pow99_micro").alias("ret_level99_dollars"),
    )


HAAR_N = 256  # 2^8 days from 1995-01-01
HAAR_LEVELS = 8


@register(
    "haar_wavelet_energy",
    oracle=f"""
    WITH daily AS (
      SELECT date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
               AS d,
             CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                  AS BIGINT) AS x
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1995-01-01 00:00:00'
                          + INTERVAL {HAAR_N} DAY
      GROUP BY 1
    ),
    spine AS (
      SELECT g.d, coalesce(daily.x, 0) AS x
      FROM (SELECT unnest(range(0, {HAAR_N})) AS d) g
      LEFT JOIN daily ON daily.d = g.d
    ),
    pref AS (  -- P[i] = sum of x over d < i, for i = 0..N
      SELECT i,
             CAST(coalesce(sum(x) FILTER (WHERE d < i), 0) AS HUGEINT) AS p
      FROM (SELECT unnest(range(0, {HAAR_N} + 1)) AS i) CROSS JOIN spine
      GROUP BY i
    ),
    coeffs AS (
      SELECT k.k, j.j,
             (pe.p - pm.p) - (pm.p - ps.p) AS dcoef
      FROM (SELECT unnest(range(1, {HAAR_LEVELS} + 1)) AS k) k
      JOIN (SELECT unnest(range(0, {HAAR_N})) AS j) j
        ON j.j < {HAAR_N} / (1 << k.k)
      JOIN pref ps ON ps.i = (2 * j.j) * (1 << (k.k - 1))
      JOIN pref pm ON pm.i = (2 * j.j + 1) * (1 << (k.k - 1))
      JOIN pref pe ON pe.i = (2 * j.j + 2) * (1 << (k.k - 1))
    ),
    lev AS (
      SELECT k, CAST(count(*) AS BIGINT) AS n_coeffs,
             sum(dcoef * dcoef) * (1 << ({HAAR_LEVELS} - k)) AS e_scaled
      FROM coeffs GROUP BY k
    ),
    tot AS (
      SELECT CAST({HAAR_N} AS HUGEINT) * sum(CAST(x AS HUGEINT)
                 * CAST(x AS HUGEINT))
               - CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT)
                 * CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS denom
      FROM spine
    ),
    pars AS (SELECT CAST(sum(e_scaled) AS HUGEINT) AS e_all FROM lev)
    SELECT k AS level, n_coeffs,
           round(CAST(e_scaled AS DOUBLE) / CAST(denom AS DOUBLE), 6)
             AS energy_share,
           CAST((SELECT e_all FROM pars) = (SELECT denom FROM tot) AS INT)
             AS parseval_ok
    FROM lev CROSS JOIN tot
    ORDER BY level
    """,
)
def haar_wavelet_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unnormalized Haar wavelet energy decomposition of the first 256
    days of 1995 daily revenue (Haar 1910; the multiresolution view of
    a series): detail coefficient d_k,j = (right-half sum) - (left-
    half sum) of each 2^k-day block, energy share per level — which
    TIME SCALE carries the variance; the multiresolution complement
    to seasonal_decompose_daily (fixed weekly period) and
    hurst_rescaled_range (one global exponent).

    Exactness is total: coefficients are integer differences of three
    prefix-sum lookups (the 257-row prefix table built once), level
    energies are HUGEINT/DECIMAL sums of d^2 scaled by 2^(8-k), and
    the PARSEVAL IDENTITY holds as an exact big-integer equation
    256*sum(x^2) - (sum x)^2 = sum_k 2^(8-k)*sum_j d_k,j^2
    — emitted as the parseval_ok flag (an exact integer comparison,
    not a tolerance). The only doubles are the final share ratios of
    correctly-rounded wide->double casts. Scale: one date-pruned fact
    scan -> <=256-row spine; every join is against the 257-row prefix
    table."""
    t = load(spark, sf_dir)
    daily = (
        t.orders.filter(
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
        .agg(
            F.sum(F.expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)"))
            .cast("long")
            .alias("x")
        )
    )
    spark_sess = spark
    spine = (
        spark_sess.range(HAAR_N)
        .select(F.col("id").cast("int").alias("d"))
        .join(daily, "d", "left")
        .select("d", F.coalesce(F.col("x"), F.lit(0)).alias("x"))
        .localCheckpoint(eager=True)  # 256 rows; five consumers below
    )
    pref = (
        spark_sess.range(HAAR_N + 1)
        .select(F.col("id").cast("int").alias("i"))
        .join(spine, F.col("d") < F.col("i"), "left")
        .groupBy("i")
        .agg(
            F.coalesce(F.sum("x"), F.lit(0))
            .cast("decimal(38,0)")
            .alias("p")
        )
        .localCheckpoint(eager=True)  # 257 rows; three joins below
    )
    levels = (
        spark_sess.range(1, HAAR_LEVELS + 1)
        .select(F.col("id").cast("int").alias("k"))
        .join(
            spark_sess.range(HAAR_N).select(F.col("id").cast("int").alias("j")),
            F.col("j") < HAAR_N / F.pow(F.lit(2.0), F.col("k")),
        )
    )
    ps = pref.select(F.col("i").alias("i_s"), F.col("p").alias("p_s"))
    pm = pref.select(F.col("i").alias("i_m"), F.col("p").alias("p_m"))
    pe = pref.select(F.col("i").alias("i_e"), F.col("p").alias("p_e"))
    half = F.expr("CAST(pow(2, k - 1) AS INT)")
    coeffs = (
        levels.withColumn("half", half)
        .join(ps, F.col("i_s") == (2 * F.col("j")) * F.col("half"))
        .join(pm, F.col("i_m") == (2 * F.col("j") + 1) * F.col("half"))
        .join(pe, F.col("i_e") == (2 * F.col("j") + 2) * F.col("half"))
        .select(
            "k",
            ((F.col("p_e") - F.col("p_m")) - (F.col("p_m") - F.col("p_s"))).alias(
                "dcoef"
            ),
        )
    )
    lev = coeffs.groupBy("k").agg(
        F.count(F.lit(1)).cast("long").alias("n_coeffs"),
        (
            F.sum(F.col("dcoef") * F.col("dcoef"))
            * F.expr(f"CAST(pow(2, {HAAR_LEVELS} - k) AS DECIMAL(38,0))")
        ).alias("e_scaled"),
    )
    xd = F.col("x").cast("decimal(38,0)")
    tot = spine.agg(
        (
            F.lit(HAAR_N).cast("decimal(38,0)") * F.sum(xd * xd)
            - F.sum(xd) * F.sum(xd)
        ).alias("denom")
    )
    pars = lev.agg(F.sum("e_scaled").alias("e_all"))
    return (
        lev.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(pars))
        .select(
            F.col("k").alias("level"),
            "n_coeffs",
            F.round(
                F.col("e_scaled").cast("double") / F.col("denom").cast("double"),
                6,
            ).alias("energy_share"),
            (F.col("e_all") == F.col("denom")).cast("int").alias("parseval_ok"),
        )
        .orderBy("level")
    )


RERAND_REPS = 32


@register(
    "rerandomization_test_ab",
    oracle=f"""
    WITH per_user AS (
      SELECT o_custkey AS uid,
             CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                  AS BIGINT) AS y,
             CASE WHEN md5(CAST(o_custkey AS VARCHAR)) < '8'
                  THEN 0 ELSE 1 END AS arm
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY 1
    ),
    obs AS (
      SELECT sum(CASE WHEN arm = 1 THEN y ELSE 0 END) * 1.0
               / sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)
             - sum(CASE WHEN arm = 0 THEN y ELSE 0 END) * 1.0
               / sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS d_obs,
             CAST(count(*) AS BIGINT) AS n_users
      FROM per_user
    ),
    reps AS (
      SELECT r.r, u.y,
             CASE WHEN md5(CAST(u.uid AS VARCHAR) || ':' ||
                           CAST(r.r AS VARCHAR)) < '8'
                  THEN 0 ELSE 1 END AS arm
      FROM per_user u
      CROSS JOIN (SELECT unnest(range(1, {RERAND_REPS} + 1)) AS r) r
    ),
    rep_diffs AS (
      SELECT r,
             sum(CASE WHEN arm = 1 THEN y ELSE 0 END) * 1.0
               / sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)
             - sum(CASE WHEN arm = 0 THEN y ELSE 0 END) * 1.0
               / sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS d_r
      FROM reps GROUP BY r
    )
    SELECT o.n_users,
           round(o.d_obs / 100, 4) AS diff_obs_dollars,
           {RERAND_REPS} AS n_reps,
           CAST(sum(CASE WHEN abs(rd.d_r) >= abs(o.d_obs)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme,
           round((1.0 + sum(CASE WHEN abs(rd.d_r) >= abs(o.d_obs)
                                 THEN 1 ELSE 0 END))
                 / (1 + {RERAND_REPS}), 6) AS p_value
    FROM rep_diffs rd CROSS JOIN obs o
    GROUP BY o.n_users, o.d_obs
    """,
)
def rerandomization_test_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-randomization (Monte-Carlo permutation-style) test for the
    hash-split A/B arms (Fisher 1935 randomization inference; the
    add-one p of Davison & Hinkley 1997): under the sharp null the arm
    labels are exchangeable, so re-drawing {RERAND_REPS} independent
    deterministic assignments (md5(user:rep) — each its own fair coin)
    and recomputing the mean-spend difference samples the null
    distribution; p = (1 + #extreme)/(1 + B). No normality, variance
    pooling, or CLT assumption — the nonparametric companion to
    ab_welch_ttest, whose own z relies on moments.

    Determinism: per-(user, rep) assignments are pure md5 predicates;
    rep sums are exact BIGINT cents accumulated per rep; each rep's
    diff is the same two-division expression of exact integers in both
    engines, so the extreme-count and the exact rational p agree
    bit-for-bit. Scale: one date-pruned scan -> per-user agg -> x32
    rep fan-out of the per-user table (the poisson_bootstrap shape:
    dimension-sized, never the fact table) -> 32-row rollup."""
    o = load(spark, sf_dir).orders
    per_user = (
        o.filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
        )
        .groupBy(F.col("o_custkey").alias("uid"))
        .agg(
            F.sum(F.expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)"))
            .cast("long")
            .alias("y")
        )
        .withColumn(
            "arm",
            F.when(F.md5(F.col("uid").cast("string")) < "8", 0).otherwise(1),
        )
        # dimension-sized (one row per 1996 customer) — staged: the
        # observed diff and the 32-rep fan-out share it
        .localCheckpoint(eager=True)
    )
    d_expr = (
        F.sum(F.when(F.col("arm") == 1, F.col("y")).otherwise(0)) * 1.0
        / F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        - F.sum(F.when(F.col("arm") == 0, F.col("y")).otherwise(0)) * 1.0
        / F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
    )
    obs = per_user.agg(
        d_expr.alias("d_obs"), F.count(F.lit(1)).cast("long").alias("n_users")
    )
    reps = per_user.select(
        "uid",
        "y",
        F.explode(F.array(*[F.lit(r) for r in range(1, RERAND_REPS + 1)])).alias(
            "r"
        ),
    ).withColumn(
        "arm",
        F.when(
            F.md5(
                F.concat(
                    F.col("uid").cast("string"),
                    F.lit(":"),
                    F.col("r").cast("string"),
                )
            )
            < "8",
            0,
        ).otherwise(1),
    )
    rep_diffs = reps.groupBy("r").agg(d_expr.alias("d_r"))
    extreme = (F.abs(F.col("d_r")) >= F.abs(F.col("d_obs"))).cast("int")
    return (
        rep_diffs.crossJoin(F.broadcast(obs))
        .agg(
            F.expr("any_value(n_users)").cast("long").alias("n_users"),
            F.round(F.expr("any_value(d_obs)") / 100, 4).alias(
                "diff_obs_dollars"
            ),
            F.lit(RERAND_REPS).alias("n_reps"),
            F.sum(extreme).cast("long").alias("n_extreme"),
            F.round(
                (1.0 + F.sum(extreme)) / (1 + RERAND_REPS), 6
            ).alias("p_value"),
        )
    )


@register(
    "theil_index_decomposition",
    oracle="""
    WITH cust AS (
      SELECT c.c_nationkey AS nk,
             CAST(sum(CAST(round(o.o_totalprice * 100, 0) AS BIGINT))
                  AS BIGINT) AS x
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY o.o_custkey, c.c_nationkey
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx
      FROM cust
    ),
    terms AS (
      -- per-customer Theil term (x/mu)*ln(x/mu) floored to 1e-6: with
      -- mu = sx/n, term = (x*n/sx) * ln(x*n/sx)
      SELECT nk,
             CAST(floor((x * 1.0 * n / sx) * ln(x * 1.0 * n / sx)
                        * 1000000 + 1e-3) AS BIGINT) AS t_micro,
             x
      FROM cust CROSS JOIN tot
    ),
    groups AS (
      SELECT nk,
             CAST(count(*) AS BIGINT) AS n_g,
             CAST(sum(x) AS BIGINT) AS sx_g,
             CAST(sum(t_micro) AS BIGINT) AS sum_t_micro
      FROM terms GROUP BY nk
    ),
    scored AS (
      SELECT n.n_name AS nation, g.n_g, g.sx_g, g.sum_t_micro,
             t.n, t.sx,
             -- between-group term: s_g * ln(mean_g/mu) in 1e-6 units,
             -- s_g = sx_g/sx, mean_g/mu = (sx_g*n)/(sx*n_g)
             CAST(floor((g.sx_g * 1.0 / t.sx)
                        * ln((g.sx_g * 1.0 * t.n) / (t.sx * 1.0 * g.n_g))
                        * 1000000 + 1e-3) AS BIGINT) AS between_micro
      FROM groups g
      JOIN nation n ON n.n_nationkey = g.nk
      CROSS JOIN tot t
    )
    SELECT nation, n_g AS n_customers,
           round(sx_g * 1.0 / sx, 6) AS spend_share,
           round(sum_t_micro * 1.0 / (1000000.0 * n), 6) AS theil_contrib,
           round(between_micro / 1000000.0, 6) AS between_term,
           round((SELECT sum(sum_t_micro) FROM scored)
                 * 1.0 / (1000000.0 * n), 6) AS theil_total
    FROM scored
    ORDER BY nation
    """,
)
def theil_index_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T inequality index of per-customer spend with its
    between-nation decomposition (Theil 1967): T = (1/n) sum
    (x/mu) ln(x/mu), and unlike Gini (gini_customer_spend) T splits
    EXACTLY into T_between + sum_g s_g T_within_g — the property that
    makes it the inequality measure you can attribute to segments.
    Per-nation rows carry the group's customer count, spend share,
    its contribution to total T, and the between-group term; the
    additive identity is pinned in tests to cumulative-floor
    tolerance.

    Determinism: the one engine-divergent ln per customer (and per
    group) sits behind the floor(x*1e6 + 1e-3) micro guard (the
    woe/hurst discipline), so every cross-row accumulation is a BIGINT
    sum of identical integers. Scale: one fact scan -> per-customer
    agg (one o_custkey shuffle) -> 25-group rollup; the ln is map-side
    codegen compute, never state."""
    t = load(spark, sf_dir)
    cust = (
        t.orders.join(
            # customer is SF-proportional: no forced broadcast — AQE/static
            # stats pick BHJ when it fits, SMJ when it doesn't.
            t.customer.select("c_custkey", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("o_custkey", "c_nationkey")
        .agg(
            F.sum(F.expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)"))
            .cast("long")
            .alias("x")
        )
        .select(F.col("c_nationkey").alias("nk"), "x")
    )
    tot = cust.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
    )
    ratio = F.col("x") * 1.0 * F.col("n") / F.col("sx")
    terms = cust.crossJoin(F.broadcast(tot)).select(
        "nk",
        "x",
        "n",
        "sx",
        F.floor(ratio * F.log(ratio) * 1_000_000 + 1e-3)
        .cast("long")
        .alias("t_micro"),
    )
    groups = terms.groupBy("nk").agg(
        F.count(F.lit(1)).cast("long").alias("n_g"),
        F.sum("x").cast("long").alias("sx_g"),
        F.sum("t_micro").cast("long").alias("sum_t_micro"),
    )
    gratio = (
        F.col("sx_g") * 1.0 * F.col("n") / (F.col("sx") * 1.0 * F.col("n_g"))
    )
    scored = (
        groups.join(
            F.broadcast(t.nation.select("n_nationkey", "n_name")),
            F.col("nk") == F.col("n_nationkey"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("n_name").alias("nation"),
            "n_g",
            "sx_g",
            "sum_t_micro",
            "n",
            "sx",
            F.floor(
                (F.col("sx_g") * 1.0 / F.col("sx"))
                * F.log(gratio)
                * 1_000_000
                + 1e-3
            )
            .cast("long")
            .alias("between_micro"),
        )
        .localCheckpoint(eager=True)  # 25 rows; total re-used below
    )
    total_t = scored.agg(
        F.sum("sum_t_micro").cast("long").alias("all_t_micro")
    )
    return (
        scored.crossJoin(F.broadcast(total_t))
        .select(
            "nation",
            F.col("n_g").alias("n_customers"),
            F.round(F.col("sx_g") * 1.0 / F.col("sx"), 6).alias("spend_share"),
            F.round(
                F.col("sum_t_micro") * 1.0 / (1_000_000.0 * F.col("n")), 6
            ).alias("theil_contrib"),
            F.round(F.col("between_micro") / 1_000_000.0, 6).alias(
                "between_term"
            ),
            F.round(
                F.col("all_t_micro") * 1.0 / (1_000_000.0 * F.col("n")), 6
            ).alias("theil_total"),
        )
        .orderBy("nation")
    )




# Gumbel return-level constants, baked to 9 dp (no engine evaluates a
# double-ln at runtime): c_T = -ln(-ln(1 - 1/T)); Euler-Mascheroni and
# ln 2 likewise literals.
GUMBEL_C12 = 2.441716399
GUMBEL_C120 = 4.783310536
_GUMBEL_EULER = 0.577215665
_GUMBEL_LN2 = 0.693147181


@register(
    "gumbel_block_maxima",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
             CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                  AS BIGINT) AS rev
      FROM orders GROUP BY 1
    ),
    blocks AS (
      SELECT CAST(date_trunc('month', day) AS DATE) AS month,
             CAST(max(rev) AS BIGINT) AS x
      FROM daily GROUP BY 1
    ),
    ranked AS (
      SELECT x,
             CAST(row_number() OVER (ORDER BY x, month) AS BIGINT) AS i,
             CAST(count(*) OVER () AS BIGINT) AS n
      FROM blocks
    ),
    sums AS (
      SELECT any_value(n) AS n,
             CAST(sum(x) AS BIGINT) AS s0,
             CAST(sum((i - 1) * x) AS BIGINT) AS s1
      FROM ranked
    ),
    lmom AS (
      SELECT n,
             CAST(s0 AS DOUBLE) / n AS l1,
             2.0 * CAST(s1 AS DOUBLE) / (n * (CAST(n AS DOUBLE) - 1))
               - CAST(s0 AS DOUBLE) / n AS l2
      FROM sums
    ),
    fit AS (
      SELECT n, l1, l2,
             l2 / {_GUMBEL_LN2} AS alpha,
             l1 - {_GUMBEL_EULER} * (l2 / {_GUMBEL_LN2}) AS mu
      FROM lmom
    )
    SELECT n AS n_blocks,
           round(l1 / 100, 2) AS lambda1_dollars,
           round(l2 / 100, 2) AS lambda2_dollars,
           round(mu / 100, 2) AS location_mu_dollars,
           round(alpha / 100, 2) AS scale_alpha_dollars,
           round((mu + alpha * {GUMBEL_C12}) / 100, 2)
             AS ret_level_1y_dollars,
           round((mu + alpha * {GUMBEL_C120}) / 100, 2)
             AS ret_level_10y_dollars
    FROM fit
    """,
)
def gumbel_block_maxima(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gumbel (EV-I) block-maxima fit via L-moments (Hosking 1990):
    monthly maxima of daily revenue, location/scale from the exact
    identities alpha = lambda2/ln2, mu = lambda1 - gamma*alpha, and
    the 1-year / 10-year return levels mu - alpha*ln(-ln(1-1/T)) with
    the T-constants baked as literals. The block-maxima complement to
    gpd_tail_fit's peaks-over-threshold view — together the two
    classical EVT routes to 'how big is the worst month we should
    plan for'.

    Exactness: the block table is months-sized, so lambda1/lambda2
    come from the direct order-statistic sums sum(x), sum((i-1)x)
    (exact BIGINTs off a row_number window with a total tie-break);
    every constant (Euler-Mascheroni, ln2, c_T) is a baked literal, so
    the whole fit is one identical double expression tree — no
    engine-side transcendentals at all.

    Scale: one fact scan -> day agg -> month agg; the ranking window
    runs on the months-bounded block table."""
    o = load(spark, sf_dir).orders
    daily = o.groupBy(
        F.date_trunc("day", "o_orderdate").cast("date").alias("day")
    ).agg(
        F.expr(
            "CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))"
            " AS BIGINT)"
        ).alias("rev")
    )
    blocks = daily.groupBy(
        F.date_trunc("month", "day").cast("date").alias("month")
    ).agg(F.max("rev").cast("long").alias("x"))
    ranked = blocks.select(
        "x",
        F.row_number()
        .over(W.orderBy("x", "month"))
        .cast("long")
        .alias("i"),
        F.count(F.lit(1))
        .over(W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing))
        .cast("long")
        .alias("n"),
    )
    sums = ranked.agg(
        F.expr("any_value(n)").alias("n"),
        F.sum("x").cast("long").alias("s0"),
        F.sum((F.col("i") - 1) * F.col("x")).cast("long").alias("s1"),
    )
    lmom = sums.selectExpr(
        "n",
        "CAST(s0 AS DOUBLE) / n AS l1",
        "2.0 * CAST(s1 AS DOUBLE) / (n * (CAST(n AS DOUBLE) - 1))"
        " - CAST(s0 AS DOUBLE) / n AS l2",
    )
    fit = lmom.select(
        "n",
        "l1",
        "l2",
        (F.col("l2") / _GUMBEL_LN2).alias("alpha"),
        (F.col("l1") - _GUMBEL_EULER * (F.col("l2") / _GUMBEL_LN2)).alias(
            "mu"
        ),
    )
    return fit.select(
        F.col("n").alias("n_blocks"),
        F.round(F.col("l1") / 100, 2).alias("lambda1_dollars"),
        F.round(F.col("l2") / 100, 2).alias("lambda2_dollars"),
        F.round(F.col("mu") / 100, 2).alias("location_mu_dollars"),
        F.round(F.col("alpha") / 100, 2).alias("scale_alpha_dollars"),
        F.round((F.col("mu") + F.col("alpha") * GUMBEL_C12) / 100, 2).alias(
            "ret_level_1y_dollars"
        ),
        F.round(
            (F.col("mu") + F.col("alpha") * GUMBEL_C120) / 100, 2
        ).alias("ret_level_10y_dollars"),
    )
