"""§2-C joins (SURVEY.md).  REF:∅.

Scale strategy: dimension tables (region/nation/supplier/customer at test SF)
ride broadcast hash joins — pinned with ``F.broadcast`` where the plan must
not regress; the two fact tables (orders⋈lineitem) shuffle on the join key
(SortMergeJoin), which AQE converts/splits at runtime on skew.  At 100 TB the
same code holds: bucket orders+lineitem by orderkey to pre-shuffle (§7.5).
"""

from __future__ import annotations

import os

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..io import load
from ..registry import register
from ..sources.io_ops import _tmp
from .aggregations import _dsum


@register(
    "join_inner_broadcast",
    oracle="""
SELECT n_nationkey, n_name, r_name
FROM nation JOIN region ON n_regionkey = r_regionkey
""",
)
def join_inner_broadcast(spark, sf_dir):
    """Equi inner join, small dimension → BroadcastHashJoin (pinned)."""
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    return n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
        "n_nationkey", "n_name", "r_name"
    )


@register(
    "join_inner_shuffle",
    oracle="""
SELECT o_orderkey, l_linenumber, o_totalprice, l_quantity
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
""",
)
def join_inner_shuffle(spark, sf_dir):
    """Two large tables → shuffle join on the key, pinned to
    ShuffledHashJoin via the ``shuffle_hash`` hint (round 8): the honest-
    materialization bench exposed the planner's picks as the slow paths at
    sf1.0 — BroadcastHashJoin pays a driver-side build of the 1.5 M-row
    orders side (1.24 s) and SortMergeJoin pays two sorts (0.98 s), while
    SHJ shuffles both sides once and hash-probes unsorted (0.68 s).  The
    hint also makes the key's name TRUE at every SF: the plan never
    silently flips to broadcast at test scale.  At 100 TB the build side
    must fit per-partition memory — AQE skew splitting plus partition
    sizing (~2-3× cores) keeps it bounded; flip to SMJ where a skewed
    build partition could exceed executor memory (SMJ is the spill-safe
    fallback)."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    return o.hint("shuffle_hash").join(li, o.o_orderkey == li.l_orderkey).selectExpr(
        "o_orderkey", "l_linenumber", "o_totalprice", "l_quantity"
    )


@register(
    "join_multiway_q5",
    oracle="""
SELECT n_name,
       CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) / 10000.0 AS DOUBLE) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1997-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name
""",
)
def join_multiway_q5(spark, sf_dir):
    """TPC-H Q5 shape: 6-table join, revenue by nation.

    Join order (round-7 refinement): the supplier-side dimensions compose
    FIRST — supplier ⋈ nation ⋈ region with the region predicate applied —
    so only ASIA suppliers ever meet the fact stream (the star-schema
    dimension-pre-filter: the region cut removes ~4/5 of suppliers BEFORE
    the fact join instead of after it, and the facts cross one composite
    dim join instead of three).  Then facts first (orders⋈lineitem
    shuffle, date filter pushed to the orders scan), customer, composite
    dim.  Measured at synthetic sf1.0: median 0.82 s → 0.67 s.

    Broadcast hints are pinned ONLY on nation/region, which are
    constant-size regardless of scale factor.  customer (150k·SF) and
    supplier (10k·SF) grow with SF — a pinned hint on them OOMs at 100× —
    so their joins (including the composite dim, which is supplier-sized)
    are left to the size-threshold/AQE planner: broadcast at test scale,
    shuffle join with AQE skew handling at cluster scale (VERDICT r01
    item 4)."""
    for t in ("customer", "orders", "lineitem", "supplier", "nation", "region"):
        load(spark, sf_dir, t).createOrReplaceTempView("q5_" + t)
    # ONE spark.sql build (r08, same construction-cost finding as Q1/Q3:
    # the 10-step chained build paid ~0.1-0.2 s of py4j round trips per
    # timed run).  Scaled-long exact revenue (same rationale as Q1:
    # 2dp×2dp products are exactly 4dp → the long sum is exact and
    # cross-engine identical to the old decimal(18,4) cast, minus the
    # 128-bit decimal accumulator).
    #
    # EXPLICIT JOIN-ON chain, facts first (r08 plan audit): with comma
    # joins Catalyst's ReorderJoin chose sdim ⋈ lineitem as the FIRST
    # join, statically planned SMJ (sdim's size estimate is a multiplied
    # join product, far over the broadcast threshold) — so ALL of
    # lineitem was shuffle-WRITTEN (229 MiB at sf1.0) before AQE
    # converted the join to broadcast and read the shuffle locally.
    # Explicit JOIN-ON syntax is not reordered without CBO stats, so the
    # written order holds: lineitem ⋈ orders runs first as a
    # co-partitioned ShuffledHashJoin straight off the orderkey-clustered
    # cache (zero exchange on either 6M/1.5M-row side; SHUFFLE_HASH(o)
    # builds on the date-filtered 228k-row side), and the only exchange
    # left in the whole plan is the date-filtered join output meeting
    # sdim (914k rows / 35 MiB vs the old 6M / 229 MiB).  At 100 TB this
    # is exactly the bucketed-fact-table plan §7.5 prescribes; the sdim
    # and customer joins stay AQE-converted broadcasts at test scale and
    # degrade to shuffle joins with skew handling at cluster scale.
    # Interleaved sf1.0 A/B (7 runs, identical result hash): comma form
    # med 1.06 s / explicit+hint med 0.98 s, and the worst-case spread
    # tightened (max 1.31 → 1.06 s — no more 229 MiB shuffle stage to
    # hit host weather).
    #
    # Two further reorders were A/B'd and REJECTED on numbers (r08 cont.,
    # BASELINE.md): (a) dims-first (ASIA-customer pre-cut, orders⋈cdim
    # SHJ, then lineitem last) reaches the textbook-ideal plan — lineitem
    # never exchanged, probe side broadcast — but its four sequential
    # stage waves before the 6M-row probe cost more than the sorts it
    # removes (1.13 s vs 0.96 s); (b) SHUFFLE_HASH(c) on the customer
    # join (1.09 s vs 0.94 s).  At cluster scale, where the per-stage
    # floor amortizes, (a) becomes the right plan, and it is now a CODE
    # PATH, not prose (VERDICT r10 item 4): SPARK_GRAFT_Q5_SHAPE=
    # dims_first selects it; tests/test_invariants.py asserts both shapes
    # are result-identical at sf0.01 and sf0.1.  Local-mode numbers
    # adjudicate the default (facts_first).
    shape = os.environ.get("SPARK_GRAFT_Q5_SHAPE", "facts_first")
    if shape == "dims_first":
        # Cluster-scale form: the region cut reaches CUSTOMER before the
        # fact stream (ASIA removes ~4/5 of customers), orders meet the
        # pre-cut customer dim first, and lineitem — the 100 TB table —
        # joins LAST against an already date-and-region-reduced probe
        # side, so it is never exchanged.  n_name rides the customer
        # side; the supplier join's s_nationkey = c_nationkey equality
        # makes it identical to the supplier-side n_name of the default
        # shape.
        return spark.sql(
            """
SELECT n_name,
       CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 10000 + 0.5D) AS BIGINT))
         / 10000.0 AS DOUBLE) AS revenue
FROM q5_orders o
JOIN (SELECT /*+ BROADCAST(n, r) */ c_custkey, c_nationkey, n_name
        FROM q5_customer c JOIN q5_nation n ON c_nationkey = n_nationkey
        JOIN q5_region r ON n_regionkey = r_regionkey AND r_name = 'ASIA') cdim
  ON o_custkey = c_custkey
 AND o_orderdate >= TIMESTAMP '1996-01-01'
 AND o_orderdate < TIMESTAMP '1997-01-01'
JOIN q5_lineitem l ON l_orderkey = o_orderkey
JOIN q5_supplier s ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
GROUP BY n_name
"""
        )
    return spark.sql(
        """
SELECT /*+ SHUFFLE_HASH(o) */ n_name,
       CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 10000 + 0.5D) AS BIGINT))
         / 10000.0 AS DOUBLE) AS revenue
FROM q5_lineitem l
JOIN q5_orders o ON o_orderkey = l_orderkey
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
JOIN (SELECT /*+ BROADCAST(n, r) */ s_suppkey, s_nationkey, n_name
        FROM q5_supplier s JOIN q5_nation n ON s_nationkey = n_nationkey
        JOIN q5_region r ON n_regionkey = r_regionkey AND r_name = 'ASIA') sdim
  ON l_suppkey = s_suppkey
JOIN q5_customer c ON o_custkey = c_custkey AND c_nationkey = s_nationkey
GROUP BY n_name
"""
    )


@register(
    "join_left_outer",
    oracle="""
SELECT c_custkey, c_name, o_orderkey, o_totalprice
FROM customer LEFT JOIN orders ON c_custkey = o_custkey
""",
)
def join_left_outer(spark, sf_dir):
    """LEFT OUTER: all customers, nulls for the orderless.  Null-producing
    side disables some filter pushes past the join — predicates on the
    preserved side still reach its scan."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left").select(
        "c_custkey", "c_name", "o_orderkey", "o_totalprice"
    )


@register(
    "join_right_outer",
    oracle="""
SELECT c_custkey, c_name, o_orderkey, o_totalprice
FROM orders RIGHT JOIN customer ON c_custkey = o_custkey
""",
)
def join_right_outer(spark, sf_dir):
    """RIGHT OUTER — mirror of left outer (Catalyst canonicalizes to a
    left join with sides swapped; same scan pushes, same shuffle keys)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return o.join(c, c.c_custkey == o.o_custkey, "right").select(
        "c_custkey", "c_name", "o_orderkey", "o_totalprice"
    )


@register(
    "join_full_outer",
    oracle="""
SELECT c.c_custkey, o.o_orderkey
FROM (SELECT * FROM customer WHERE c_acctbal > 5000) c
FULL JOIN (SELECT * FROM orders WHERE o_orderstatus = 'F') o
  ON c.c_custkey = o.o_custkey
""",
)
def join_full_outer(spark, sf_dir):
    """Full outer over filtered slices so BOTH null directions appear
    (high-balance customers without F-orders; F-orders of low-balance
    customers)."""
    c = load(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 5000)
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return c.join(o, c.c_custkey == o.o_custkey, "full").select(
        "c_custkey", "o_orderkey"
    )


@register(
    "join_left_semi",
    oracle="""
SELECT c_custkey, c_name FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
              AND o.o_orderstatus = 'P')
""",
)
def join_left_semi(spark, sf_dir):
    """Customers WHERE EXISTS(P-status order) — semi join ships only the
    key column of the right side, never widening rows."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "P")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@register(
    "join_left_anti",
    oracle="""
SELECT c_custkey, c_name FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                  AND o.o_orderstatus = 'P')
""",
)
def join_left_anti(spark, sf_dir):
    """Customers WHERE NOT EXISTS — LEFT ANTI join: ships only the join
    keys of the right side; at scale AQE broadcasts the smaller side or
    falls back to a key-only shuffle — never materializes the negation."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "P")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@register(
    "join_cross",
    oracle="""
SELECT r_name, n_name FROM region CROSS JOIN nation
""",
)
def join_cross(spark, sf_dir):
    """Bounded Cartesian product (5×25).  Cross joins only ever on provably
    tiny inputs — at scale this shape is a broadcast nested loop."""
    r = load(spark, sf_dir, "region")
    n = load(spark, sf_dir, "nation")
    return r.crossJoin(n).select("r_name", "n_name")


@register(
    "join_theta_range",
    oracle="""
SELECT p_partkey, l_orderkey, l_linenumber, l_quantity, p_size
FROM lineitem JOIN part
  ON l_partkey = p_partkey
 AND l_quantity BETWEEN p_size - 5 AND p_size + 5
""",
)
def join_theta_range(spark, sf_dir):
    """Equi + theta mix: the equi key drives the hash/merge join, the range
    predicate is evaluated as a post-join filter on matched pairs — no
    nested-loop blowup."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    return li.join(
        p,
        (li.l_partkey == p.p_partkey)
        & li.l_quantity.between(p.p_size - 5, p.p_size + 5),
    ).select("p_partkey", "l_orderkey", "l_linenumber", "l_quantity", "p_size")


@register(
    "join_asof",
    oracle="""
WITH tagged AS (
  SELECT event_id, user_id, ts, event_type,
         CASE WHEN event_type = 'click' THEN ts END AS click_ts
  FROM events WHERE event_type IN ('click', 'purchase')
), enriched AS (
  SELECT event_id, user_id, ts, event_type,
         last_value(click_ts IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS prior_click_ts
  FROM tagged
)
SELECT event_id, user_id, ts, prior_click_ts
FROM enriched WHERE event_type = 'purchase'
""",
)
def join_asof(spark, sf_dir):
    """As-of join via the union+last(ignore nulls) window trick (SURVEY §2-C
    join_asof): one shuffle on user_id instead of a per-row range probe —
    the scalable formulation when Spark lacks a batch ASOF JOIN."""
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    tagged = ev.withColumn(
        "click_ts", F.when(F.col("event_type") == "click", F.col("ts"))
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        tagged.withColumn("prior_click_ts", F.last("click_ts", ignorenulls=True).over(w))
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts", "prior_click_ts")
    )


@register(
    "join_interval",
    oracle="""
SELECT a.event_id AS first_id, b.event_id AS second_id, a.user_id
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND b.ts > a.ts
 AND b.ts <= a.ts + INTERVAL 10 MINUTE
""",
)
def join_interval(spark, sf_dir):
    """Interval self-join: pairs of same-user events ≤10 min apart.

    r16 optimization (guide §2.5/§3.3; A/B in OPTIMIZATION_r16.md): the
    plain user_id equi-join buffered EVERY same-user pair
    (O(events_per_user²) per key — ~31 s at sf1.0) before the time band
    filtered; adding a coarse 10-minute bucket to the equi key — the
    scale path this key's own docstring prescribed, already proven
    hash-identical by the join_interval_bucketed twin — caps the pair
    space at O(events_per_bucket²)·2 (~3 s at sf1.0).  A match is ≤10 min
    after ts_a, so it lives in bucket(ts_a) or bucket(ts_a)+1: the LEFT
    row explodes into both candidate buckets (×2 of the slim 4-column
    side), the join is pure equi on (user_id, bk), and the exact band
    predicate filters matched pairs.  Result set identical by
    construction — the oracle IS the unbucketed join."""
    ev = load(spark, sf_dir, "events")
    bucket = (F.unix_timestamp("ts") / 600).cast("long")
    a = ev.select(
        F.col("event_id").alias("first_id"),
        F.col("user_id").alias("user_id"),
        F.col("ts").alias("ts_a"),
        bucket.alias("bk"),
    )
    b = ev.select(
        F.col("event_id").alias("second_id"),
        F.col("user_id").alias("user_id"),
        F.col("ts").alias("ts_b"),
        bucket.alias("bk"),
    )
    a2 = a.withColumn("bk", F.explode(F.array(F.col("bk"), F.col("bk") + 1)))
    return (
        a2.join(b, ["user_id", "bk"])
        .filter(
            (F.col("ts_b") > F.col("ts_a"))
            & (F.col("ts_b") <= F.col("ts_a") + F.expr("INTERVAL 10 MINUTES"))
        )
        .select("first_id", "second_id", "user_id")
    )


@register(
    "join_salted_skew",
    oracle="""
WITH lhs AS (
  SELECT CASE WHEN l_orderkey % 10 < 7 THEN 0
              ELSE l_orderkey % 97 END AS k,
         l_quantity
  FROM lineitem
),
dim AS (
  SELECT g.k AS k, g.k * 2 + 1 AS weight
  FROM (SELECT unnest(generate_series(0, 96)) AS k) g
)
SELECT lhs.k, CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(SUM(l_quantity * weight), 6) AS total
FROM lhs JOIN dim ON lhs.k = dim.k
GROUP BY lhs.k
ORDER BY lhs.k
""",
)
def join_salted_skew(spark, sf_dir):
    """Salted join for skewed keys: ~70% of lineitem rows collapse onto
    key 0 (synthesized skew), which would put 70% of the shuffle in ONE
    task.  The fact side appends salt = pmod(l_linenumber, 8); the dim side
    explodes ×8 so every (k, salt) pair exists; joining on (k, salt) fans
    the hot key across 8 tasks.  The salt never escapes: the post-join
    aggregate groups by k alone, so the result is hash-identical to the
    unsalted join (the oracle IS the unsalted join).  At 100 TB this is the
    manual fallback when AQE skew-join can't split (e.g. a single hot key
    inside one map output); salt width scales with observed skew."""
    li = load(spark, sf_dir, "lineitem")
    k = F.when(F.col("l_orderkey") % 10 < 7, F.lit(0)).otherwise(
        F.col("l_orderkey") % 97
    )
    lhs = li.select(
        k.cast("long").alias("k"),
        F.pmod(F.col("l_linenumber"), F.lit(8)).cast("int").alias("salt"),
        "l_quantity",
    )
    dim = (
        spark.range(0, 97)
        .select(
            F.col("id").alias("k"),
            (F.col("id") * 2 + 1).alias("weight"),
            F.explode(F.sequence(F.lit(0), F.lit(7))).alias("salt"),
        )
    )
    return (
        lhs.join(dim, ["k", "salt"])
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("l_quantity") * F.col("weight")), 6).alias("total"),
        )
        .orderBy("k")
    )


@register(
    "join_interval_left",
    oracle="""
SELECT a.event_id AS first_id, a.user_id AS user_id, b.event_id AS second_id
FROM events a
LEFT JOIN events b
  ON a.user_id = b.user_id
 AND b.event_type = 'purchase'
 AND b.ts > a.ts
 AND b.ts <= a.ts + INTERVAL 10 MINUTE
ORDER BY first_id, second_id
""",
)
def join_interval_left(spark, sf_dir):
    """Left-outer interval join: every event, paired with same-user
    purchases ≤10 min later — NULL second_id when none exists (the
    "did this event lead to a purchase?" attribution shape).  Batch twin
    of stream_stream_left_join: the streaming version must emit exactly
    these rows, including the NULL-extended ones."""
    ev = load(spark, sf_dir, "events")
    a = ev.alias("a")
    b = ev.filter(F.col("event_type") == "purchase").alias("b")
    return (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("b.ts") > F.col("a.ts"))
            & (F.col("b.ts") <= F.col("a.ts") + F.expr("INTERVAL 10 MINUTES")),
            "left",
        )
        .select(
            F.col("a.event_id").alias("first_id"),
            F.col("a.user_id").alias("user_id"),
            F.col("b.event_id").alias("second_id"),
        )
        .orderBy("first_id", "second_id")
    )


@register(
    "join_asof_nearest",
    oracle="""
WITH pairs AS (
  SELECT p.event_id AS purchase_id, p.user_id,
         c.event_id AS click_id,
         abs(epoch_us(p.ts) - epoch_us(c.ts)) AS dt_us,
         row_number() OVER (
           PARTITION BY p.event_id
           ORDER BY abs(epoch_us(p.ts) - epoch_us(c.ts)), c.event_id
         ) AS rn
  FROM (SELECT * FROM events WHERE event_type = 'purchase') p
  JOIN (SELECT * FROM events WHERE event_type = 'click') c
    ON p.user_id = c.user_id
   AND c.ts BETWEEN p.ts - INTERVAL 15 MINUTE AND p.ts + INTERVAL 15 MINUTE
)
SELECT purchase_id, user_id, click_id, dt_us
FROM pairs WHERE rn = 1 ORDER BY purchase_id
""",
)
def join_asof_nearest(spark, sf_dir):
    """Nearest-neighbor as-of join (BOTH directions, ±15 min tolerance):
    each purchase matches its closest click by absolute time distance —
    the variant plain backward-ASOF can't express.  Implementation is the
    bounded interval join (equi user key + time band, so the band prunes
    fan-out before the rank) followed by a row_number arg-min with a
    deterministic (distance, event_id) tie-break on exact integer
    microseconds.  At 100 TB: same shape; the user-key equi component
    makes it a shuffle join, and the tolerance bounds per-key candidate
    fan-out — widen the band and it degrades gracefully rather than
    cross-joining."""
    ev = load(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("p_ts"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    band = F.expr("INTERVAL 15 MINUTES")
    pairs = p.join(
        c,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - band)
        & (F.col("c_ts") <= F.col("p_ts") + band),
    ).withColumn(
        "dt_us",
        F.abs(F.unix_micros(F.col("p_ts")) - F.unix_micros(F.col("c_ts"))),
    )
    w = Window.partitionBy("purchase_id").orderBy("dt_us", "click_id")
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("purchase_id", "user_id", "click_id", "dt_us")
        .orderBy("purchase_id")
    )


_LATERAL_TOPN_SQL = """
SELECT o.o_orderkey, l.l_linenumber, l.l_extendedprice
FROM orders o,
LATERAL (
  SELECT l_linenumber, l_extendedprice
  FROM lineitem
  WHERE l_orderkey = o.o_orderkey
  ORDER BY l_extendedprice DESC, l_linenumber
  LIMIT 2
) l
WHERE o.o_orderkey % 100 = 0
ORDER BY o.o_orderkey, l.l_extendedprice DESC, l.l_linenumber
"""


@register("join_lateral_topn", oracle=_LATERAL_TOPN_SQL)
def join_lateral_topn(spark, sf_dir):
    """Correlated LATERAL subquery with per-row ORDER BY … LIMIT — the
    top-N-per-key join written the way SQL users write it; the SAME SQL
    text runs on both engines (the oracle IS the query).  Catalyst
    decorrelates the lateral into a window/rank plan rather than
    re-executing the subquery per order — DomainJoin rewrite — so the
    execution is the one shuffle a hand-written row_number() would cost.
    Deterministic by the (price DESC, linenumber) total order inside the
    LIMIT."""
    from ..sql_api import sql

    return sql(spark, sf_dir, _LATERAL_TOPN_SQL)


_BLOOM_BITS = 8192   # position domain per hash function (m)
_BLOOM_DIM_NATION = "NATION_7"


@register(
    "join_bloom_prefilter",
    oracle="""
SELECT l.l_suppkey AS s_suppkey, CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000)
                AS BIGINT)) / 10000.0 AS DOUBLE) AS revenue
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n   ON s.s_nationkey = n.n_nationkey
WHERE n.n_name = 'NATION_7'
GROUP BY l.l_suppkey
ORDER BY s_suppkey
""",
)
def join_bloom_prefilter(spark, sf_dir):
    """Selective fact⋈dim join behind a Bloom-style pre-shuffle filter:
    the NATION_7 suppliers' keys hash (xxhash64, two salts) into a
    fixed 8192-position domain; the occupied positions — at most m rows
    of ints, REGARDLESS of dim cardinality — broadcast, and lineitem is
    pruned by two broadcast LEFT SEMI probes (k=2 Bloom membership,
    O(1) hash probe per row, whole-stage codegen'd) before the exact
    broadcast join computes per-supplier revenue.  No false negatives
    by construction (every true key's positions are occupied), false
    positives die in the exact join — so the result is EXACTLY the
    plain join, which the oracle computes with no Bloom at all.

    Why not just broadcast the dim keys?  Here you would (and the final
    exact join does).  The Bloom shape matters when the build side is
    10⁷⁺ keys — too big to broadcast raw — yet the probe side is far
    bigger still: positions saturate at m (sized ~10 bits/key in
    production for ~1% FP; fixed here for determinism), so the filter
    stays broadcastable when the key set isn't, and the facts that
    would miss the join never enter the shuffle.  This is the manual,
    semantics-pinned form of what AQE's runtime Bloom-filter join
    injects; revenue uses the repo's scaled-long exact-sum discipline
    (2dp×2dp products are exactly 4dp)."""
    pruned, dim = _bloom_pruned_facts(
        spark, sf_dir, ["l_suppkey", "l_extendedprice", "l_discount"]
    )
    rev = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
    ).cast("bigint")
    return (
        pruned.join(F.broadcast(dim), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.col("l_suppkey").alias("s_suppkey"))
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            (F.sum(rev) / 10000.0).cast("double").alias("revenue"),
        )
        .orderBy("s_suppkey")
    )


def _bloom_pruned_facts(spark, sf_dir, fact_cols):
    """(pruned lineitem projection, NATION_7 supplier-key dim) — ONE
    construction shared by the registered key and the test diagnostic,
    so a salt/hash/probe change cannot diverge between what ships and
    what the no-false-negative test validates (r13 review)."""
    nat = load(spark, sf_dir, "nation").filter(
        F.col("n_name") == _BLOOM_DIM_NATION
    )
    dim = (
        load(spark, sf_dir, "supplier")
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey")
    )

    def pos(col, salt):
        return F.pmod(F.xxhash64(F.lit(salt), col), F.lit(_BLOOM_BITS))

    # occupied positions per hash: ≤ m distinct ints each — broadcastable
    # at ANY dim cardinality (the whole point of the shape)
    occ1 = dim.select(pos(F.col("s_suppkey"), 1).alias("p1")).distinct()
    occ2 = dim.select(pos(F.col("s_suppkey"), 2).alias("p2")).distinct()
    li = load(spark, sf_dir, "lineitem").select(*fact_cols)
    pruned = (
        li.withColumn("p1", pos(F.col("l_suppkey"), 1))
        .join(F.broadcast(occ1), "p1", "left_semi")
        .withColumn("p2", pos(F.col("l_suppkey"), 2))
        .join(F.broadcast(occ2), "p2", "left_semi")
    )
    return pruned, dim


def bloom_prefilter_pass_count(spark, sf_dir):
    """Diagnostic (non-registry): the lineitem rows surviving the
    two-probe Bloom prefilter alone — tests pin pass_count < total AND
    pass_set ⊇ true-match set (no false negatives), against the SAME
    construction the registered key joins from."""
    pruned, _dim = _bloom_pruned_facts(spark, sf_dir, ["l_suppkey"])
    return pruned.select("l_suppkey")


def _sf_tag(sf_dir: str) -> str:
    """Collision-free tmp-layout tag for a corpus directory: basename for
    readability plus a hash of the FULL normalized path (ADVICE r11 — two
    corpora sharing a basename, e.g. tmp fixtures both named ``sf0.01``,
    must not silently reuse each other's materialized fact/dim layout;
    the hashed-documents memo's sf_dir keying, applied to on-disk
    layouts)."""
    import hashlib

    norm = os.path.normpath(os.path.abspath(sf_dir))
    return (
        (os.path.basename(norm) or "sf")
        + "_"
        + hashlib.sha256(norm.encode()).hexdigest()[:12]
    )


def _partitioned_events_path(spark, sf_dir: str) -> str:
    """Write events Hive-partitioned by event_date once per (process, SF);
    later calls reuse the layout.  Mirrors the ``sink_partitioned_parquet``
    production layout (sources/io_ops.py) — 30 ``event_date=YYYY-MM-DD/``
    directories at every test SF."""
    tag = _sf_tag(sf_dir)
    path = _tmp(f"dpp_events_{tag}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        ev = load(spark, sf_dir, "events").withColumn(
            "event_date", F.to_date("ts")
        )
        (
            ev.select("event_id", "user_id", "event_type", "value", "event_date")
            .write.mode("overwrite")
            .partitionBy("event_date")
            .parquet(path)
        )
    return path


def _date_dim_path(spark, sf_dir: str) -> str:
    """Materialize the star-schema date dimension (one row per calendar
    date with descriptive attributes) once per (process, SF).  Materialized
    ON PURPOSE: read back from parquet, ``day_name`` is an opaque scan
    column, so a filter on it cannot be statically rewritten onto the join
    key — exactly the production star-schema situation where dynamic
    partition pruning is the only mechanism that prunes the fact scan."""
    tag = _sf_tag(sf_dir)
    path = _tmp(f"dpp_datedim_{tag}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        dim = (
            load(spark, sf_dir, "events")
            .select(F.to_date("ts").alias("d"))
            .distinct()
            .select(
                "d",
                F.date_format("d", "EEEE").alias("day_name"),
                F.dayofmonth("d").alias("day_of_month"),
            )
        )
        dim.coalesce(1).write.mode("overwrite").parquet(path)
    return path


@register(
    "join_dpp_partitioned",
    oracle="""
WITH dim AS (
  SELECT DISTINCT CAST(ts AS DATE) AS d
  FROM events
  WHERE dayname(CAST(ts AS DATE)) = 'Saturday'
)
SELECT CAST(CAST(e.ts AS DATE) AS VARCHAR) AS event_date,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users
FROM events e
JOIN dim ON CAST(e.ts AS DATE) = dim.d
GROUP BY 1
ORDER BY 1
""",
)
def join_dpp_partitioned(spark, sf_dir):
    """Dynamic-partition-pruned star-schema join over the Hive-partitioned
    events layout: per-Saturday event and unique-user counts.

    The dim is a MATERIALIZED date dimension (``_date_dim_path``) filtered
    on its ``day_name`` attribute.  Materialization matters: read from
    parquet, ``day_name`` is an opaque scan column, so Catalyst cannot
    statically rewrite the predicate onto the join key and push it into
    the fact's partition filters (it can — and does — when the attribute
    is derived inline as ``date_format(key)``, which would make DPP
    redundant; verified while building this key).  Here dynamic partition
    pruning is the ONLY mechanism that prunes: Spark broadcasts the
    filtered dim and reuses the broadcast as a
    ``dynamicpruningexpression`` on the fact scan's ``event_date``
    partition column, so 4 of the month's 30 date directories are listed
    and read.  tests/test_plans.py (``test_dpp_prunes_fact_partitions``)
    pins: the expression is in the scan's PartitionFilters, NO static
    date predicate is, and the executed scan's partitions-read metric
    equals 4 (of 30).

    100 TB: scan cost tracks dim selectivity, not fact size — the whole
    point of date-partitioned fact layouts (SCALE.md §1).  The dim
    broadcast is O(#distinct dates); the final aggregate is per-date
    with map-side partial aggregation.
    """
    fact = spark.read.parquet(_partitioned_events_path(spark, sf_dir))
    dim = (
        spark.read.parquet(_date_dim_path(spark, sf_dir))
        .filter(F.col("day_name") == "Saturday")
        .select("d")
    )
    joined = fact.join(F.broadcast(dim), fact.event_date == dim.d)
    return (
        joined.groupBy(fact.event_date.cast("string").alias("event_date"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("event_date")
    )


@register(
    "join_skew_aqe",
    oracle="""
WITH fact AS (
  SELECT CASE WHEN l_orderkey % 10 < 7 THEN 1 ELSE l_orderkey END AS jkey,
         l_extendedprice
  FROM lineitem
),
dim AS (
  SELECT o_orderkey AS jkey, 1 AS dim_tag FROM orders
  WHERE o_orderkey % 10 >= 7
  UNION ALL
  SELECT 1 AS jkey, 0 AS dim_tag
)
SELECT CAST(CASE WHEN f.jkey = 1 THEN 1 ELSE 0 END AS INTEGER) AS is_hot,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(d.dim_tag) AS BIGINT) AS sum_dim_tag,
       CAST(SUM(CAST(ROUND(f.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         AS cents
FROM fact f JOIN dim d ON f.jkey = d.jkey
GROUP BY 1
ORDER BY 1
""",
)
def join_skew_aqe(spark, sf_dir):
    """Skewed fact⋈dim join under AQE's automatic skew handling — the
    runtime counterpart of ``join_salted_skew`` (manual salting): a
    deterministic remap concentrates ~70% of lineitem onto one hot key,
    a unique-key dim (filtered orders + the literal hot row) joins back on it, and per-class totals are
    hash-checked cross-engine.

    SCALE.md §2's window/join rows say "skewed keys → AQE skew split";
    tests/test_plans.py::test_aqe_splits_skewed_join makes that claim a
    RUNTIME plan property: with the skew thresholds scaled to the test
    corpus (the defaults are sized for 256 MB cluster partitions) and
    SPARK_GRAFT_SKEW_FORCE_SMJ=1 pinning the sort-merge form (the same
    env-switch pattern as Q5's shape flip — at test scale AQE would
    otherwise broadcast the small dim and there would be nothing to
    split), the executed AQE plan shows ``skew=true`` on the join: the
    hot partition was split into parallel subtasks instead of straggling
    on one core.  The default registered path stays UNHINTED — AQE picks
    broadcast at test scale and skew-handled SMJ at cluster scale, the
    r01 doctrine.

    100 TB: this is the no-code-change answer to moderate key skew; the
    manual salt (``join_salted_skew``) remains for the extreme tail the
    splitter cannot fix (a single key larger than an executor)."""
    li = load(spark, sf_dir, "lineitem")
    fact = li.select(
        F.when(F.col("l_orderkey") % 10 < 7, F.lit(1))
        .otherwise(F.col("l_orderkey"))
        .alias("jkey"),
        "l_extendedprice",
    )
    # Widen a narrow (single-file) scan before the join: AQE splits a
    # skewed reduce partition at MAPPER-block granularity, so a 1-mapper
    # shuffle is unsplittable no matter how skewed (the §10e single-file
    # lesson again — at 100 TB the scan arrives in thousands of splits
    # and this repartition is skipped).
    n_par = max(
        spark.sparkContext.defaultParallelism, 8
    )
    if fact.rdd.getNumPartitions() < n_par:
        fact = fact.repartition(n_par)
    # Dim WITHOUT an aggregate on the join key: AQE's OptimizeSkewedJoin
    # only rewrites SMJ(Sort(shuffle), Sort(shuffle)) — an Aggregate
    # between the Sort and its shuffle stage blocks the pattern (verified
    # while building this key), so the dim is filtered orders (unique by
    # PK, all cold keys) unioned with the one literal hot-key row.
    cold = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 10 >= 7)
        .select(
            F.col("o_orderkey").alias("jkey"),
            F.lit(1).alias("dim_tag"),
        )
    )
    hot = spark.createDataFrame([(1, 0)], "jkey long, dim_tag int")
    dim = cold.unionByName(hot)
    if os.environ.get("SPARK_GRAFT_SKEW_FORCE_SMJ") == "1":
        dim = dim.hint("MERGE")
    joined = fact.join(dim, "jkey")
    return (
        joined.groupBy(
            F.when(F.col("jkey") == 1, 1).otherwise(0).alias("is_hot")
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("dim_tag").alias("sum_dim_tag"),
            F.sum(
                F.expr(
                    "cast(floor(l_extendedprice * 100 + 0.5d) as bigint)"
                )
            ).alias("cents"),
        )
        .orderBy("is_hot")
    )
