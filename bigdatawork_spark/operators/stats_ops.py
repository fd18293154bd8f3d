"""Statistical modeling operators — per-group OLS regression, A/B-test
lift with a z-statistic, time-weighted averages, and Pareto-skyline
extraction.  REF:∅ (reference snapshot empty — SURVEY.md §0); widens the
§2 analytics family with the model-ish aggregates a warehouse user runs
before reaching for an ML library.

Determinism discipline (SURVEY.md §5.3): every operator reduces to EXACT
integer/decimal moment sums first (order-independent), then applies one
fixed IEEE-double formula and ROUND(…, 6) on both engines.  No
`regr_slope`-style built-ins: their internal accumulation order is
engine-specific, while explicit decimal moments are bit-stable.

Scale notes: all four are single-shuffle keyed aggregations (the skyline
adds a broadcast self-join over group-level aggregates, |groups| ≪ |rows|);
no UDFs, no driver loops.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..io import load
from ..registry import register


@register(
    "stats_linear_regression",
    oracle="""
WITH s AS (
  SELECT l_returnflag,
         CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(28,4)))
              AS DOUBLE) AS sxy,
         CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(18,2)))
              AS DOUBLE) AS sxx,
         CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(30,4)))
              AS DOUBLE) AS syy
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag,
       CAST(n AS BIGINT) AS n_rows,
       ROUND((n*sxy - sx*sy) / (n*sxx - sx*sx), 6) AS slope,
       ROUND((sy*sxx - sx*sxy) / (n*sxx - sx*sx), 6) AS intercept,
       ROUND(((n*sxy - sx*sy) * (n*sxy - sx*sy))
             / ((n*sxx - sx*sx) * (n*syy - sy*sy)), 6) AS r2
FROM s ORDER BY l_returnflag
""",
)
def stats_linear_regression(spark, sf_dir):
    """Per-group closed-form OLS (extendedprice ~ quantity per
    returnflag): slope, intercept and r² from the five decimal-exact
    moment sums (n, Σx, Σy, Σxy, Σx², Σy²).  The per-row products are
    exactly representable doubles (quantity ≤ 50 integral, price has two
    decimals), so the decimal casts lose nothing and the sums are
    order-independent — the only floating-point work is the final fixed
    formula, identical on both engines.  One map-side-combined shuffle on
    the group key; the formula runs on |groups| rows."""
    li = load(spark, sf_dir, "lineitem")
    x, y = F.col("l_quantity"), F.col("l_extendedprice")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x.cast("decimal(18,2)")).cast("double").alias("sx"),
        F.sum(y.cast("decimal(18,2)")).cast("double").alias("sy"),
        F.sum((x * y).cast("decimal(28,4)")).cast("double").alias("sxy"),
        F.sum((x * x).cast("decimal(18,2)")).cast("double").alias("sxx"),
        F.sum((y * y).cast("decimal(30,4)")).cast("double").alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    cov, varx = n * sxy - sx * sy, n * sxx - sx * sx
    return s.select(
        "l_returnflag",
        n.cast("bigint").alias("n_rows"),
        F.round(cov / varx, 6).alias("slope"),
        F.round((sy * sxx - sx * sxy) / varx, 6).alias("intercept"),
        F.round((cov * cov) / (varx * (n * syy - sy * sy)), 6).alias("r2"),
    ).orderBy("l_returnflag")


@register(
    "ab_test_lift",
    oracle="""
WITH u AS (
  SELECT user_id,
         CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
                   BETWEEN '0' AND '7'
              THEN 'A' ELSE 'B' END AS variant,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
  FROM events GROUP BY user_id
),
v AS (
  SELECT variant, CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(conv) AS DOUBLE) AS c
  FROM u GROUP BY variant
),
w AS (
  SELECT MAX(CASE WHEN variant = 'A' THEN n END) AS na,
         MAX(CASE WHEN variant = 'A' THEN c END) AS ca,
         MAX(CASE WHEN variant = 'B' THEN n END) AS nb,
         MAX(CASE WHEN variant = 'B' THEN c END) AS cb
  FROM v
)
SELECT CAST(na AS BIGINT) AS n_users_a, CAST(ca AS BIGINT) AS n_conv_a,
       CAST(nb AS BIGINT) AS n_users_b, CAST(cb AS BIGINT) AS n_conv_b,
       ROUND(ca/na, 6) AS rate_a,
       ROUND(cb/nb, 6) AS rate_b,
       ROUND(cb/nb - ca/na, 6) AS abs_lift,
       ROUND((cb/nb - ca/na)
             / sqrt(((ca+cb)/(na+nb)) * (1.0 - (ca+cb)/(na+nb))
                    * (1.0/na + 1.0/nb)), 6) AS z_score
FROM w
""",
)
def ab_test_lift(spark, sf_dir):
    """Deterministic A/B experiment readout: users hash-assigned to
    variants by the first hex digit of md5(user_id) (0–7 → A, ~50/50 —
    the salt-free version of the standard bucketing hash), conversion =
    "ever purchased", then rates, absolute lift, and the two-proportion
    pooled z-statistic.  Everything derives from four integer counts, so
    the doubles are a fixed formula on exact inputs.  Two shuffles:
    per-user conversion (map-side combine), then a 2-row rollup that a
    single reducer folds into the one-row readout."""
    ev = load(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "conv"
        )
    ).select(
        F.when(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 1).between(
                "0", "7"
            ),
            "A",
        )
        .otherwise("B")
        .alias("variant"),
        "conv",
    )
    v = u.groupBy("variant").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("conv").cast("double").alias("c"),
    )
    w = v.agg(
        F.max(F.when(F.col("variant") == "A", F.col("n"))).alias("na"),
        F.max(F.when(F.col("variant") == "A", F.col("c"))).alias("ca"),
        F.max(F.when(F.col("variant") == "B", F.col("n"))).alias("nb"),
        F.max(F.when(F.col("variant") == "B", F.col("c"))).alias("cb"),
    )
    na, ca, nb, cb = F.col("na"), F.col("ca"), F.col("nb"), F.col("cb")
    pool = (ca + cb) / (na + nb)
    return w.select(
        na.cast("bigint").alias("n_users_a"),
        ca.cast("bigint").alias("n_conv_a"),
        nb.cast("bigint").alias("n_users_b"),
        cb.cast("bigint").alias("n_conv_b"),
        F.round(ca / na, 6).alias("rate_a"),
        F.round(cb / nb, 6).alias("rate_b"),
        F.round(cb / nb - ca / na, 6).alias("abs_lift"),
        F.round(
            # try_divide: a degenerate split (pool rate 0 or 1) zeroes the
            # pooled variance; DuckDB's double x/0 is NULL, so match it.
            F.try_divide(
                cb / nb - ca / na,
                F.sqrt(
                    pool * (F.lit(1.0) - pool) * (F.lit(1.0) / na + F.lit(1.0) / nb)
                ),
            ),
            6,
        ).alias("z_score"),
    )


@register(
    "ts_time_weighted_avg",
    oracle="""
WITH seq AS (
  SELECT event_type,
         CAST(value AS DECIMAL(18,4)) AS v,
         epoch_us(lead(ts) OVER (PARTITION BY event_type ORDER BY ts, event_id))
           - epoch_us(ts) AS dt_us
  FROM events
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_segments,
       ROUND(CAST(SUM(v * dt_us) AS DOUBLE) / CAST(SUM(dt_us) AS DOUBLE), 6)
         AS twa_value
FROM seq WHERE dt_us IS NOT NULL
GROUP BY event_type ORDER BY event_type
""",
)
def ts_time_weighted_avg(spark, sf_dir):
    """Time-weighted average per series (step-function / last-observation
    semantics): each reading holds until the next one, so its weight is
    the microsecond gap to the successor (lead over the (ts, event_id)
    total order); TWA = Σ(v·Δt) / ΣΔt.  The value is decimal-cast BEFORE
    the multiply, so v·Δt is exact decimal arithmetic and the sums are
    order-independent — the irregular-sampling average the plain AVG gets
    wrong.  One shuffle on event_type shared by the window and the
    aggregate."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        F.col("value").cast("decimal(18,4)").alias("v"),
        (F.unix_micros(F.lead("ts").over(w)) - F.unix_micros(F.col("ts"))).alias(
            "dt_us"
        ),
    ).filter(F.col("dt_us").isNotNull())
    return (
        seq.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.round(
                F.sum(F.col("v") * F.col("dt_us")).cast("double")
                / F.sum("dt_us").cast("double"),
                6,
            ).alias("twa_value"),
        )
        .orderBy("event_type")
    )


@register(
    "skyline_pareto",
    oracle="""
WITH g AS (
  SELECT p_brand, p_type,
         CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE)
           / COUNT(*) AS avg_price,
         CAST(CAST(SUM(p_size) AS BIGINT) AS DOUBLE) / COUNT(*) AS avg_size,
         CAST(COUNT(*) AS BIGINT) AS n_parts
  FROM part GROUP BY p_brand, p_type
)
SELECT p_brand, p_type,
       ROUND(avg_price, 6) AS avg_price,
       ROUND(avg_size, 6) AS avg_size,
       n_parts
FROM g a
WHERE NOT EXISTS (
  SELECT 1 FROM g b
  WHERE b.avg_price <= a.avg_price AND b.avg_size >= a.avg_size
    AND (b.avg_price < a.avg_price OR b.avg_size > a.avg_size)
)
ORDER BY p_brand, p_type
""",
)
def skyline_pareto(spark, sf_dir):
    """Pareto skyline over (brand, container) groups: keep groups no
    other group dominates (cheaper-or-equal average price AND
    bigger-or-equal average size, strictly better in one).  The dominance
    test is a LEFT ANTI self-theta-join over the aggregated groups — the
    O(|groups|²) comparison runs on ~1k aggregate rows, never on the raw
    table, and the right side broadcasts.  Averages are exact decimal
    sums over single IEEE divisions, so both engines compare identical
    doubles; rounding happens only on output.  At 100 TB the aggregation
    is the usual one-shuffle rollup and the skyline cost stays bounded by
    the group-domain size, not the data."""
    p = load(spark, sf_dir, "part")
    g = (
        p.groupBy("p_brand", "p_type")
        .agg(
            (
                F.sum(F.col("p_retailprice").cast("decimal(18,2)")).cast("double")
                / F.count(F.lit(1))
            ).alias("avg_price"),
            (
                F.sum("p_size").cast("bigint").cast("double") / F.count(F.lit(1))
            ).alias("avg_size"),
            F.count(F.lit(1)).alias("n_parts"),
        )
        .localCheckpoint()  # reused twice (probe + dominator side)
    )
    dom = g.select(
        F.col("avg_price").alias("b_price"), F.col("avg_size").alias("b_size")
    )
    kept = g.join(
        F.broadcast(dom),
        (F.col("b_price") <= F.col("avg_price"))
        & (F.col("b_size") >= F.col("avg_size"))
        & (
            (F.col("b_price") < F.col("avg_price"))
            | (F.col("b_size") > F.col("avg_size"))
        ),
        "left_anti",
    )
    return kept.select(
        "p_brand",
        "p_type",
        F.round("avg_price", 6).alias("avg_price"),
        F.round("avg_size", 6).alias("avg_size"),
        "n_parts",
    ).orderBy("p_brand", "p_type")


@register(
    "ks_test_drift",
    oracle="""
WITH a AS (SELECT n_chars FROM documents WHERE doc_id % 2 = 0),
b AS (SELECT n_chars FROM documents WHERE doc_id % 2 = 1),
na AS (SELECT COUNT(*) AS n FROM a),
nb AS (SELECT COUNT(*) AS n FROM b),
grid AS (
  SELECT n_chars AS v,
         SUM(CASE WHEN side = 'a' THEN 1 ELSE 0 END) AS ca,
         SUM(CASE WHEN side = 'b' THEN 1 ELSE 0 END) AS cb
  FROM (SELECT n_chars, 'a' AS side FROM a
        UNION ALL SELECT n_chars, 'b' AS side FROM b)
  GROUP BY n_chars
),
cdf AS (
  SELECT v,
         CAST(SUM(ca) OVER (ORDER BY v) AS DOUBLE) / (SELECT n FROM na) AS fa,
         CAST(SUM(cb) OVER (ORDER BY v) AS DOUBLE) / (SELECT n FROM nb) AS fb
  FROM grid
)
SELECT CAST((SELECT n FROM na) AS BIGINT) AS n_a,
       CAST((SELECT n FROM nb) AS BIGINT) AS n_b,
       ROUND(MAX(ABS(fa - fb)), 6) AS ks_stat,
       ROUND(1.358 * sqrt((CAST((SELECT n FROM na) AS DOUBLE)
                           + (SELECT n FROM nb))
                          / ((SELECT n FROM na)
                             * CAST((SELECT n FROM nb) AS DOUBLE))), 6)
         AS ks_crit,
       CAST(CASE WHEN MAX(ABS(fa - fb)) >
              1.358 * sqrt((CAST((SELECT n FROM na) AS DOUBLE)
                            + (SELECT n FROM nb))
                           / ((SELECT n FROM na)
                              * CAST((SELECT n FROM nb) AS DOUBLE)))
            THEN 1 ELSE 0 END AS INTEGER) AS drifted
FROM cdf
""",
)
def ks_test_drift(spark, sf_dir):
    """Two-sample Kolmogorov-Smirnov drift test — the distribution-shift
    gate a training pipeline runs between corpus snapshots or between a
    train split and fresh data (here: even- vs odd-doc_id halves over
    ``n_chars``, which should NOT drift — the statistic doubles as a
    fixture sanity check).  KS = max |ECDF_a - ECDF_b| evaluated on the
    merged value grid.

    Plan: one keyed aggregation builds per-value side counts (|distinct
    values| rows — the working set is the VALUE GRID, not the corpus),
    one ordered window computes both cumulative ECDFs in a single pass,
    one global max reduces to a 1-row report.  The rejection threshold
    is the proper two-sample Kolmogorov critical value at alpha=0.05,
    c(alpha)*sqrt((n_a+n_b)/(n_a*n_b)) with c(0.05)=1.358 — a fixed
    cutoff would misfire at small n (the r04 test caught exactly that).
    ECDF ratios are exact integer ratios in IEEE doubles (bit-identical
    across engines); only the published values are rounded.  The ECDF
    window is GLOBAL by necessity (lint allowlisted) but runs over the
    value grid, not the corpus; at 100 TB: histogram the variable first
    (bounded grid) — same shape, bounded state."""
    d = load(spark, sf_dir, "documents")
    grid = (
        d.selectExpr(
            "n_chars as v",
            "case when doc_id % 2 = 0 then 1 else 0 end as ia",
            "case when doc_id % 2 = 1 then 1 else 0 end as ib",
        )
        .groupBy("v")
        .agg(F.expr("sum(ia) as ca"), F.expr("sum(ib) as cb"))
    )
    totals = grid.selectExpr(
        "cast(sum(ca) as double) as n_a", "cast(sum(cb) as double) as n_b"
    ).selectExpr(
        # An empty side makes the n_a*n_b divisions yield null ks_stat
        # silently; a degenerate fixture should fail loudly instead
        # (ADVICE r04).
        "case when n_a > 0 and n_b > 0 then n_a"
        " else raise_error('ks_test_drift: empty sample side"
        " (n_a or n_b = 0) — KS statistic undefined') end as n_a",
        "n_b",
    )
    cdf = grid.crossJoin(F.broadcast(totals)).selectExpr(
        "n_a",
        "n_b",
        "sum(ca) over (order by v) / n_a as fa",
        "sum(cb) over (order by v) / n_b as fb",
    )
    return (
        cdf.selectExpr("n_a", "n_b", "abs(fa - fb) as d")
        .groupBy("n_a", "n_b")
        .agg(F.expr("max(d) as ks_max"))
        .selectExpr(
            "cast(n_a as bigint) as n_a",
            "cast(n_b as bigint) as n_b",
            "round(ks_max, 6) as ks_stat",
            "round(1.358 * sqrt((n_a + n_b) / (n_a * n_b)), 6) as ks_crit",
            "cast(case when ks_max > 1.358 * sqrt((n_a + n_b) / (n_a * n_b))"
            " then 1 else 0 end as int) as drifted",
        )
    )


@register(
    "ts_outlier_mad",
    oracle="""
WITH med AS (
  SELECT event_type, median(value) AS med
  FROM events GROUP BY event_type
),
dev AS (
  SELECT e.event_type, e.value, m.med, abs(e.value - m.med) AS adev
  FROM events e JOIN med m ON m.event_type = e.event_type
),
mad AS (
  SELECT event_type, median(adev) AS mad FROM dev GROUP BY event_type
)
SELECT d.event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(d.med, 6) AS med,
       ROUND(m.mad, 6) AS mad,
       CAST(SUM(CASE WHEN d.adev > 3.0 * 1.4826 * m.mad THEN 1 ELSE 0 END)
            AS BIGINT) AS n_outliers
FROM dev d JOIN mad m ON m.event_type = d.event_type
GROUP BY d.event_type, d.med, m.mad
ORDER BY d.event_type
""",
)
def ts_outlier_mad(spark, sf_dir):
    """Robust outlier detection via MEDIAN ABSOLUTE DEVIATION — the
    breakdown-resistant sibling of anomaly_zscore: mean/stddev move with
    the outliers they are supposed to find (a single extreme value drags
    the z-score threshold toward itself), while the median and the MAD
    have a 50% breakdown point.  Per event_type: med = median(value),
    MAD = median(|value − med|), outlier when |value − med| >
    3·1.4826·MAD (1.4826 scales MAD to σ under normality — the standard
    consistency constant).

    Plan: two exact-median aggregates (each a sort-based percentile per
    group — Spark's percentile; at 100 TB swap for approx_percentile and
    accept the documented error band) with the tiny per-type med/MAD
    tables broadcast back; the flag pass is map-only.  Three scans total,
    all narrow (event_type, value)."""
    ev = load(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(adev, 0.5)").alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type", "med", "mad")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.when(F.col("adev") > 3.0 * 1.4826 * F.col("mad"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
        .select(
            "event_type",
            "n_events",
            F.round("med", 6).alias("med"),
            F.round("mad", 6).alias("mad"),
            "n_outliers",
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# quantile_bin_assign
# ---------------------------------------------------------------------------

_BIN_QS = [i / 10.0 for i in range(1, 10)]


@register(
    "quantile_bin_assign",
    oracle="""
WITH b AS (
  SELECT """
    + ",\n         ".join(
        f"round(quantile_cont(l_quantity, {q}), 6) AS b{i}"
        for i, q in enumerate(_BIN_QS, start=1)
    )
    + """
  FROM lineitem
),
a AS (
  SELECT l_quantity AS v,
         ("""
    + " + ".join(
        f"CASE WHEN l_quantity > b{i} THEN 1 ELSE 0 END"
        for i in range(1, 10)
    )
    + """) AS bin
  FROM lineitem, b
)
SELECT CAST(bin AS INTEGER) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       MIN(v) AS min_v, MAX(v) AS max_v
FROM a GROUP BY bin ORDER BY bin
""",
)
def quantile_bin_assign(spark, sf_dir):
    """Equal-frequency (decile) binning of a numeric feature.

    Plan shape: ONE aggregate computes all nine boundary quantiles
    (9 doubles of driver state — bounded regardless of table size),
    then bin assignment is a pure map-side expression counting how many
    boundaries each value exceeds; the per-bin rollup shuffles 10 groups.

    Exact ``percentile`` gives cross-engine parity with DuckDB's
    ``quantile_cont`` (identical (n-1)·q interpolation; boundaries
    rounded to 6 dp on both sides before comparison so the assignment
    rule is ulp-robust).  At 100 TB the only change is swapping the
    boundary pass to ``approx_percentile`` (t-digest sketch, bounded
    executor memory, same plan shape) — the engine-side test pins the
    approx path's bins against this exact twin."""
    li = load(spark, sf_dir, "lineitem")
    brow = li.agg(
        *[
            F.round(F.percentile("l_quantity", F.lit(q)), 6).alias(f"b{i}")
            for i, q in enumerate(_BIN_QS, start=1)
        ]
    ).collect()[0]
    bin_expr = sum(
        F.when(F.col("l_quantity") > F.lit(float(brow[f"b{i}"])), 1).otherwise(0)
        for i in range(1, 10)
    )
    return (
        li.select(F.col("l_quantity").alias("v"), bin_expr.alias("bin"))
        .groupBy(F.col("bin").cast("int").alias("bin"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.min("v").alias("min_v"),
            F.max("v").alias("max_v"),
        )
        .orderBy("bin")
    )


def quantile_bin_assign_approx(spark, sf_dir, accuracy: int = 10000):
    """Sketch-boundary variant (the 100 TB path): identical plan with
    ``approx_percentile`` supplying the boundaries.  Not registered —
    the exact twin above is the oracle-checkable key; the test asserts
    this path's per-bin counts stay within the sketch's error bound."""
    li = load(spark, sf_dir, "lineitem")
    brow = li.agg(
        F.percentile_approx(
            "l_quantity", F.array(*[F.lit(q) for q in _BIN_QS]), F.lit(accuracy)
        ).alias("bs")
    ).collect()[0]
    bs = [round(float(b), 6) for b in brow["bs"]]
    bin_expr = sum(
        F.when(F.col("l_quantity") > F.lit(b), 1).otherwise(0) for b in bs
    )
    return (
        li.select(F.col("l_quantity").alias("v"), bin_expr.alias("bin"))
        .groupBy(F.col("bin").cast("int").alias("bin"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# corr_matrix
# ---------------------------------------------------------------------------

_CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


@register(
    "corr_matrix",
    oracle="""
WITH m AS (
  SELECT """
    + ",\n         ".join(
        f"round(corr({x}, {y}), 6) AS c_{x}__{y}"
        for i, x in enumerate(_CORR_COLS)
        for y in _CORR_COLS[i + 1 :]
    )
    + """
  FROM lineitem
)
"""
    + "\nUNION ALL\n".join(
        f"SELECT '{x}' AS var_x, '{y}' AS var_y, c_{x}__{y} AS corr_xy FROM m"
        for i, x in enumerate(_CORR_COLS)
        for y in _CORR_COLS[i + 1 :]
    )
    + "\nORDER BY var_x, var_y",
)
def corr_matrix(spark, sf_dir):
    """Pairwise Pearson correlation matrix (upper triangle, long form).

    All C(4,2)=6 coefficients come out of ONE aggregate over ONE scan:
    ``F.corr`` is a streaming co-moment aggregate with map-side partial
    combine, so the shuffle carries 6 moment tuples per task — nothing
    scales with rows.  The wide 1-row result is unpivoted to long form
    with a JVM ``stack`` expression (no second scan).  Rounded to 6 dp
    on both engines (SURVEY §5.3.2) — co-moment accumulation order
    differs across engines only below that."""
    li = load(spark, sf_dir, "lineitem")
    pairs = [
        (x, y)
        for i, x in enumerate(_CORR_COLS)
        for y in _CORR_COLS[i + 1 :]
    ]
    agg = li.agg(
        *[
            F.round(F.corr(x, y), 6).alias(f"c_{x}__{y}")
            for x, y in pairs
        ]
    )
    stack_args = ", ".join(
        f"'{x}', '{y}', c_{x}__{y}" for x, y in pairs
    )
    return agg.selectExpr(
        f"stack({len(pairs)}, {stack_args}) AS (var_x, var_y, corr_xy)"
    ).orderBy("var_x", "var_y")


# ---------------------------------------------------------------------------
# ngram_pmi


# ---------------------------------------------------------------------------
# ts_downsample_lttb — parallel LTTB-mean downsampling (hash-green)

_LTTB_BUCKETS = 20


@register(
    "ts_downsample_lttb",
    oracle=f"""
WITH pts AS (
  SELECT event_type, event_id, ts, value,
         CAST(row_number() OVER (PARTITION BY event_type
                                 ORDER BY ts, event_id) AS DOUBLE) AS x,
         ntile({_LTTB_BUCKETS}) OVER (PARTITION BY event_type
                                      ORDER BY ts, event_id) AS bkt
  FROM events
),
bmeans AS (
  SELECT event_type, bkt, AVG(x) AS mx, AVG(value) AS my
  FROM pts GROUP BY event_type, bkt
),
ctx AS (
  SELECT event_type, bkt,
         lag(mx)  OVER (PARTITION BY event_type ORDER BY bkt) AS px,
         lag(my)  OVER (PARTITION BY event_type ORDER BY bkt) AS py,
         lead(mx) OVER (PARTITION BY event_type ORDER BY bkt) AS nx,
         lead(my) OVER (PARTITION BY event_type ORDER BY bkt) AS ny
  FROM bmeans
),
scored AS (
  SELECT p.event_type, p.event_id, p.ts, p.value, p.bkt,
         CASE WHEN c.px IS NULL OR c.nx IS NULL THEN NULL
              ELSE abs((c.px - c.nx) * (p.value - c.py)
                       - (c.px - p.x) * (c.ny - c.py)) / 2.0 END AS area
  FROM pts p JOIN ctx c ON p.event_type = c.event_type AND p.bkt = c.bkt
),
picked AS (
  SELECT event_type, event_id, ts, value, bkt, area,
         row_number() OVER (PARTITION BY event_type, bkt
                            ORDER BY area DESC, ts ASC, event_id ASC) AS pk
  FROM scored
)
SELECT event_type, event_id, ts, CAST(bkt AS INTEGER) AS bkt,
       ROUND(value, 6) AS value,
       ROUND(COALESCE(area, -1.0), 6) AS area
FROM picked WHERE pk = 1
ORDER BY event_type, bkt
""",
)
def ts_downsample_lttb(spark, sf_dir):
    """Series downsampling for plotting/sketching — LTTB-mean, the
    parallelizable variant of Largest-Triangle-Three-Buckets (Steinarsson
    2013): split each event_type series into equal-count buckets
    (20 buckets; ntile over ts, event_id), score every interior point by
    the triangle area it forms with the NEIGHBOR BUCKETS' MEAN points, keep the
    max-area point per bucket.  Classic LTTB anchors the triangle on the
    previously SELECTED point, a sequential chain; substituting the
    neighbor-bucket mean (which classic LTTB already uses on the right
    side) removes the chain so all buckets resolve independently —
    the map-reduce-able formulation.  Edge buckets (no left/right
    neighbor) keep their first point (area column = -1 sentinel).
    Deterministic: total order (ts, event_id) everywhere; tiebreak
    area DESC, ts ASC, event_id ASC.  Null-ordering note: within any one
    (event_type, bkt) partition the area column is homogeneous (edge
    buckets all-NULL, interior buckets no-NULL), so the pick never
    compares NULL against non-NULL and Spark's nulls-first-on-asc vs
    DuckDB's nulls-last default cannot diverge.

    100 TB: one shuffle per series partition (the ntile window), one tiny
    bucket-means aggregate joined back (broadcast at any scale — bucket
    count is constant), argmax per bucket via the same partitioning."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    pts = e.select(
        "event_type",
        "event_id",
        "ts",
        "value",
        F.row_number().over(w).cast("double").alias("x"),
        F.ntile(_LTTB_BUCKETS).over(w).alias("bkt"),
    )
    bmeans = pts.groupBy("event_type", "bkt").agg(
        F.avg("x").alias("mx"), F.avg("value").alias("my")
    )
    wb = Window.partitionBy("event_type").orderBy("bkt")
    ctx = bmeans.select(
        "event_type",
        "bkt",
        F.lag("mx").over(wb).alias("px"),
        F.lag("my").over(wb).alias("py"),
        F.lead("mx").over(wb).alias("nx"),
        F.lead("my").over(wb).alias("ny"),
    )
    scored = pts.join(F.broadcast(ctx), ["event_type", "bkt"]).withColumn(
        "area",
        F.when(
            F.col("px").isNull() | F.col("nx").isNull(), F.lit(None)
        ).otherwise(
            F.abs(
                (F.col("px") - F.col("nx")) * (F.col("value") - F.col("py"))
                - (F.col("px") - F.col("x")) * (F.col("ny") - F.col("py"))
            )
            / 2.0
        ),
    )
    # Edge buckets (area all-NULL): area desc ties for every row and the
    # (ts, event_id) tiebreak keeps the first point.  Interior buckets
    # (area no-NULL): plain max-area argmax.
    wp = Window.partitionBy("event_type", "bkt").orderBy(
        F.col("area").desc(),
        F.col("ts").asc(),
        F.col("event_id").asc(),
    )
    return (
        scored.withColumn("pk", F.row_number().over(wp))
        .filter(F.col("pk") == 1)
        .select(
            "event_type",
            "event_id",
            "ts",
            F.col("bkt").cast("int").alias("bkt"),
            F.round("value", 6).alias("value"),
            F.round(F.coalesce("area", F.lit(-1.0)), 6).alias("area"),
        )
        .orderBy("event_type", "bkt")
    )


# ---------------------------------------------------------------------------
# ts_seasonal_decompose — hour-of-day seasonal baseline + residual energy


@register(
    "ts_seasonal_decompose",
    oracle="""
WITH means AS (
  SELECT event_type, CAST(hour(ts) AS INTEGER) AS hr,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
           AS seasonal_mean
  FROM events GROUP BY event_type, hour(ts)
)
SELECT m.event_type, m.hr, m.n_events,
       ROUND(m.seasonal_mean, 6) AS seasonal_mean,
       ROUND(sqrt(CAST(SUM(CAST((e.value - m.seasonal_mean)
                               * (e.value - m.seasonal_mean)
                               AS DECIMAL(28,12))) AS DOUBLE)
                  / m.n_events), 6) AS resid_rms
FROM events e
JOIN means m ON m.event_type = e.event_type
            AND m.hr = CAST(hour(e.ts) AS INTEGER)
GROUP BY m.event_type, m.hr, m.n_events, m.seasonal_mean
ORDER BY m.event_type, m.hr
""",
)
def ts_seasonal_decompose(spark, sf_dir):
    """Seasonal-naive decomposition of the event stream: value =
    seasonal(hour-of-day, event_type) + residual, reporting the seasonal
    baseline and the residual RMS per (event_type, hour) cell — the
    additive-decomposition building block behind seasonal anomaly
    detection (anomaly_zscore is the global-stats cousin; this one
    removes the diurnal cycle first).  Two passes: a 120-cell means
    aggregate, then a broadcast join back to score residuals.

    Determinism: cell means use decimal-exact sums divided once;
    residual squares are cast to DECIMAL(28,12) per row before summing
    (the repo's standard defense against partition-order double folds).

    100 TB: the means table is |event_types|×24 rows — broadcast at any
    scale; both aggregations are map-side combinable; one shuffle each."""
    e = load(spark, sf_dir, "events")
    means = e.groupBy(
        "event_type", F.hour("ts").cast("int").alias("hr")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        (
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("seasonal_mean"),
    )
    resid_sq = (
        (F.col("value") - F.col("seasonal_mean"))
        * (F.col("value") - F.col("seasonal_mean"))
    ).cast("decimal(28,12)")
    return (
        e.select("event_type", F.hour("ts").cast("int").alias("hr"), "value")
        .join(F.broadcast(means), ["event_type", "hr"])
        .groupBy("event_type", "hr", "n_events", "seasonal_mean")
        .agg(
            F.round(
                F.sqrt(F.sum(resid_sq).cast("double") / F.col("n_events").cast("double")),
                6,
            ).alias("resid_rms")
        )
        .select(
            "event_type",
            "hr",
            "n_events",
            F.round("seasonal_mean", 6).alias("seasonal_mean"),
            "resid_rms",
        )
        .orderBy("event_type", "hr")
    )
