"""Randomized cross-engine differential (SURVEY §5.2 property layer, armed
with hypothesis): generate small frames with nulls/dup keys/edge values,
run the same relational fragment in Spark and DuckDB, compare canonically.

Catches expression-translation and null-semantics drift that the fixed
corpus can't reach.  Examples are bounded (Spark jobs cost ~0.2 s each).
"""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from .compare import assert_frames_match

# value strategies: ints, 2-dp doubles (exact in both engines), short strings,
# and None — the cross-engine danger zone
_keys = st.one_of(st.none(), st.integers(min_value=-3, max_value=3))
_vals = st.one_of(
    st.none(),
    st.integers(min_value=-100, max_value=100).map(lambda i: round(i * 0.25, 2)),
)
_tags = st.one_of(st.none(), st.sampled_from(["a", "b", "c"]))

_rows = st.lists(st.tuples(_keys, _vals, _tags), min_size=0, max_size=25)

_SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _frames(spark, rows):
    pdf = pd.DataFrame(rows, columns=["k", "v", "tag"]).astype(
        {"k": "Int64", "v": "float64", "tag": "object"}
    )
    sdf = spark.createDataFrame(
        [tuple(None if pd.isna(x) else x for x in r) for r in rows],
        "k int, v double, tag string",
    )
    con = duckdb.connect()
    con.register("t", pdf)
    return sdf, con


@given(rows=_rows)
@settings(**_SETTINGS)
def test_random_groupby_agg(spark, rows):
    from pyspark.sql import functions as F

    sdf, con = _frames(spark, rows)
    got = (
        sdf.groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count("v").alias("n_v"),
            F.round(F.sum("v"), 6).alias("s"),
            F.min("tag").alias("mn"),
        )
        .toPandas()
    )
    want = con.execute(
        """
        SELECT k, COUNT(*) AS n, COUNT(v) AS n_v,
               ROUND(SUM(v), 6) AS s, MIN(tag) AS mn
        FROM t GROUP BY k
        """
    ).df()
    assert_frames_match(got, want, "random_groupby")


@given(rows=_rows)
@settings(**_SETTINGS)
def test_random_filter_null_semantics(spark, rows):
    from pyspark.sql import functions as F

    sdf, con = _frames(spark, rows)
    got = sdf.filter((F.col("v") > 0) | F.col("tag").isNull()).toPandas()
    want = con.execute("SELECT * FROM t WHERE v > 0 OR tag IS NULL").df()
    assert_frames_match(got, want, "random_filter")


@given(rows=_rows, rows2=_rows)
@settings(**_SETTINGS)
def test_random_left_join(spark, rows, rows2):
    sdf, con = _frames(spark, rows)
    pdf2 = pd.DataFrame(rows2, columns=["k", "w", "tag2"]).astype(
        {"k": "Int64", "w": "float64", "tag2": "object"}
    )
    sdf2 = spark.createDataFrame(
        [tuple(None if pd.isna(x) else x for x in r) for r in rows2],
        "k int, w double, tag2 string",
    )
    con.register("u", pdf2)
    got = (
        sdf.join(sdf2.select("k", "w"), "k", "left")
        .select("k", "v", "w")
        .toPandas()
    )
    want = con.execute(
        "SELECT t.k, t.v, u.w FROM t LEFT JOIN (SELECT k, w FROM u) u USING (k)"
    ).df()
    assert_frames_match(got, want, "random_left_join")


@given(rows=_rows)
@settings(**_SETTINGS)
def test_random_distinct_and_window(spark, rows):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    sdf, con = _frames(spark, rows)
    w = Window.partitionBy("k").orderBy(
        F.col("v").asc_nulls_last(), F.col("tag").asc_nulls_last()
    )
    got = sdf.select("k", "v", "tag", F.row_number().over(w).alias("rn")).toPandas()
    want = con.execute(
        """
        SELECT k, v, tag,
               row_number() OVER (PARTITION BY k
                                  ORDER BY v ASC NULLS LAST, tag ASC NULLS LAST) AS rn
        FROM t
        """
    ).df()
    # rn can legitimately differ on full ties (v, tag) — make ties impossible
    # by comparing only the (k, v, tag) multiset + max rn per group
    got_m = got.groupby("k", dropna=False)["rn"].max().reset_index(name="mx")
    want_m = want.groupby("k", dropna=False)["rn"].max().reset_index(name="mx")
    assert_frames_match(got_m, want_m, "random_window_maxrn")


_strings = st.text(
    alphabet="abcdefghij XYZ019_-", min_size=0, max_size=30
)
_str_rows = st.lists(
    st.tuples(st.integers(0, 10**6), st.one_of(st.none(), _strings)),
    min_size=0,
    max_size=20,
)


@given(rows=_str_rows)
@settings(**_SETTINGS)
def test_random_string_functions(spark, rows):
    """String battery on random ASCII text incl. empties and NULLs —
    substring/lpad/replace/length cross-engine parity."""
    from pyspark.sql import functions as F

    pdf = pd.DataFrame(rows, columns=["id", "s"]).astype({"id": "int64", "s": "object"})
    sdf = spark.createDataFrame(rows, "id long, s string")
    con = duckdb.connect()
    con.register("t", pdf)
    got = sdf.select(
        "id",
        F.length("s").alias("n"),
        F.substring("s", 2, 3).alias("sub"),
        F.lpad("s", 8, ".").alias("pad"),
        F.replace(F.col("s"), F.lit(" "), F.lit("_")).alias("rep"),
        F.upper("s").alias("up"),
    ).toPandas()
    want = con.execute(
        """
        SELECT id, length(s) AS n, substring(s, 2, 3) AS sub,
               lpad(s, 8, '.') AS pad, replace(s, ' ', '_') AS rep,
               upper(s) AS up
        FROM t
        """
    ).df()
    assert_frames_match(got, want, "random_strings")


_dates = st.one_of(
    st.none(),
    st.dates(min_value=pd.Timestamp("2000-01-01").date(),
             max_value=pd.Timestamp("2030-12-28").date()).map(str),
)
_date_rows = st.lists(
    st.tuples(st.integers(0, 10**6), _dates, st.integers(-1000, 1000)),
    min_size=0,
    max_size=20,
)


@given(rows=_date_rows)
@settings(**_SETTINGS)
def test_random_date_functions(spark, rows):
    """Date battery on random ISO dates incl. NULLs — extraction, offset
    arithmetic, truncation, last_day cross-engine parity.  Dates travel as
    VARCHAR (the pandas DATE materialization trap) and dayofweek is
    emitted 0-based to bridge the Spark-1=Sunday / DuckDB-0=Sunday delta."""
    from pyspark.sql import functions as F

    pdf = pd.DataFrame(rows, columns=["id", "s", "off"]).astype(
        {"id": "int64", "s": "object", "off": "int64"}
    )
    sdf = spark.createDataFrame(rows, "id long, s string, off int")
    con = duckdb.connect()
    con.register("t", pdf)
    d = F.to_date("s")
    got = sdf.select(
        "id",
        F.year(d).alias("y"),
        F.month(d).alias("m"),
        F.dayofmonth(d).alias("dom"),
        (F.dayofweek(d) - 1).alias("dow0"),
        F.date_add(d, F.col("off")).cast("string").alias("shifted"),
        F.datediff(d, F.lit("2022-01-01").cast("date")).alias("days_since"),
        F.trunc(d, "month").cast("string").alias("month_start"),
        F.last_day(d).cast("string").alias("month_end"),
    ).toPandas()
    want = con.execute(
        """
        WITH b AS (SELECT id, CAST(s AS DATE) AS d, off FROM t)
        SELECT id, year(d) AS y, month(d) AS m, day(d) AS dom,
               dayofweek(d) AS dow0,
               CAST(CAST(d + to_days(CAST(off AS INTEGER)) AS DATE) AS VARCHAR) AS shifted,
               datediff('day', DATE '2022-01-01', d) AS days_since,
               CAST(CAST(date_trunc('month', d) AS DATE) AS VARCHAR) AS month_start,
               CAST(last_day(d) AS VARCHAR) AS month_end
        FROM b
        """
    ).df()
    assert_frames_match(got, want, "random_dates")


_arr_rows = st.lists(
    st.tuples(
        st.integers(0, 10**6),
        st.one_of(
            st.none(),
            st.lists(st.integers(-50, 50), min_size=0, max_size=8),
        ),
    ),
    min_size=0,
    max_size=15,
)


@given(rows=_arr_rows)
@settings(**_SETTINGS)
def test_random_array_functions(spark, rows):
    """Array battery on random int lists incl. NULL lists and empties —
    size/sort/distinct/higher-order transform/filter/aggregate parity.
    distinct is sorted on both sides (DuckDB list_distinct does not
    preserve first-occurrence order); aggregate sum goes via BIGINT cast
    (DuckDB list sum widens to HUGEINT → float64 in pandas)."""
    from pyspark.sql import functions as F

    pdf = pd.DataFrame(rows, columns=["id", "xs"]).astype({"id": "int64"})
    sdf = spark.createDataFrame(rows, "id long, xs array<long>")
    con = duckdb.connect()
    con.register("t", pdf)
    got = sdf.select(
        "id",
        F.size("xs").alias("n"),
        F.sort_array("xs").alias("sorted_xs"),
        F.sort_array(F.array_distinct("xs")).alias("uniq"),
        F.expr("transform(xs, x -> x * 2)").alias("doubled"),
        F.size(F.expr("filter(xs, x -> x > 0)")).alias("n_pos"),
        F.expr("aggregate(xs, 0L, (acc, x) -> acc + x)").alias("total"),
        F.array_contains("xs", 7).alias("has7"),
    ).toPandas()
    want = con.execute(
        """
        SELECT id, len(xs) AS n, list_sort(xs) AS sorted_xs,
               list_sort(list_distinct(xs)) AS uniq,
               list_transform(xs, x -> x * 2) AS doubled,
               len(list_filter(xs, x -> x > 0)) AS n_pos,
               CASE WHEN xs IS NULL THEN NULL
                    ELSE COALESCE(CAST(list_aggregate(xs, 'sum') AS BIGINT), 0)
               END AS total,
               list_contains(xs, 7) AS has7
        FROM t
        """
    ).df()
    assert_frames_match(got, want, "random_arrays")


_json_rows = st.lists(
    st.tuples(
        st.integers(0, 10**6),
        st.one_of(st.none(), st.integers(-100, 100)),
        st.one_of(st.none(), st.sampled_from(["x", "y z", "", "q\"r"])),
    ),
    min_size=0,
    max_size=20,
)


@given(rows=_json_rows)
@settings(**_SETTINGS)
def test_random_json_extraction(spark, rows):
    """JSON battery: build JSON objects from random scalars (incl. NULLs,
    empties, embedded quotes/spaces), extract typed fields back out —
    get_json_object vs json_extract parity, with the JSON built by each
    engine's own constructor so escaping is exercised too."""
    import json as _json

    from pyspark.sql import functions as F

    docs = [
        (i, _json.dumps({"k": k, "s": s}, separators=(",", ":")))
        for i, k, s in rows
    ]
    pdf = pd.DataFrame(docs, columns=["id", "j"]).astype({"id": "int64"})
    sdf = spark.createDataFrame(docs, "id long, j string")
    con = duckdb.connect()
    con.register("t", pdf)
    got = sdf.select(
        "id",
        F.get_json_object("j", "$.k").cast("int").alias("k"),
        F.get_json_object("j", "$.s").alias("s"),
    ).toPandas()
    want = con.execute(
        """
        SELECT id,
               CAST(json_extract(j, '$.k') AS INTEGER) AS k,
               json_extract_string(j, '$.s') AS s
        FROM t
        """
    ).df()
    assert_frames_match(got, want, "random_json")


def _second_frame(spark, con, rows2):
    pdf2 = pd.DataFrame(rows2, columns=["k", "v", "tag"]).astype(
        {"k": "Int64", "v": "float64", "tag": "object"}
    )
    sdf2 = spark.createDataFrame(
        [tuple(None if pd.isna(x) else x for x in r) for r in rows2],
        "k int, v double, tag string",
    )
    con.register("u", pdf2)
    return sdf2


@given(rows=_rows, rows2=_rows)
@settings(**_SETTINGS)
def test_random_set_operations(spark, rows, rows2):
    """UNION ALL / UNION DISTINCT / INTERSECT / EXCEPT with duplicate rows
    and nulls — cross-engine bag-vs-set semantics are a classic drift
    point (NULLs compare EQUAL in set ops, unlike joins)."""
    sdf, con = _frames(spark, rows)
    sdf2 = _second_frame(spark, con, rows2)
    cases = [
        (sdf.unionAll(sdf2), "SELECT * FROM t UNION ALL SELECT * FROM u"),
        (sdf.union(sdf2).distinct(), "SELECT * FROM t UNION SELECT * FROM u"),
        (sdf.intersect(sdf2), "SELECT * FROM t INTERSECT SELECT * FROM u"),
        (sdf.exceptAll(sdf2), "SELECT * FROM t EXCEPT ALL SELECT * FROM u"),
    ]
    for i, (sres, sql) in enumerate(cases):
        assert_frames_match(
            sres.toPandas(), con.execute(sql).df(), f"random_setop_{i}"
        )


@given(rows=_rows, rows2=_rows)
@settings(**_SETTINGS)
def test_random_semi_anti_join(spark, rows, rows2):
    """LEFT SEMI / LEFT ANTI with null keys: null keys never match in the
    semi side but DO survive in the anti side — both engines must agree."""
    sdf, con = _frames(spark, rows)
    sdf2 = _second_frame(spark, con, rows2)
    semi = sdf.join(sdf2.select("k"), "k", "left_semi").toPandas()
    want_semi = con.execute(
        "SELECT * FROM t WHERE k IN (SELECT k FROM u WHERE k IS NOT NULL)"
    ).df()
    assert_frames_match(semi, want_semi, "random_semi")
    anti = sdf.join(sdf2.select("k"), "k", "left_anti").toPandas()
    want_anti = con.execute(
        "SELECT * FROM t WHERE k IS NULL OR k NOT IN "
        "(SELECT k FROM u WHERE k IS NOT NULL)"
    ).df()
    assert_frames_match(anti, want_anti, "random_anti")


@given(rows=_rows.filter(lambda r: len(r) > 0))
@settings(**_SETTINGS)
def test_random_rollup(spark, rows):
    """ROLLUP over (k, tag): the super-aggregate null rows must be
    distinguishable from genuine null group keys the same way in both
    engines (GROUPING() disambiguates).

    Non-empty input only: this fuzzer FOUND a real divergence on empty
    input — DuckDB emits the SQL-standard grand-total row (n=0) while
    Spark's rollup returns zero rows; pinned explicitly in
    test_rollup_empty_input_divergence below."""
    from pyspark.sql import functions as F

    sdf, con = _frames(spark, rows)
    got = (
        sdf.rollup("k", "tag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("v"), 6).alias("s"),
            F.grouping("k").alias("gk"),
            F.grouping("tag").alias("gt"),
        )
        .toPandas()
    )
    # Spark emits grouping() as tinyint; DuckDB as int — align for compare
    got["gk"] = got["gk"].astype("int64")
    got["gt"] = got["gt"].astype("int64")
    want = con.execute(
        """
        SELECT k, tag, COUNT(*) AS n, ROUND(SUM(v), 6) AS s,
               CAST(GROUPING(k) AS BIGINT) AS gk,
               CAST(GROUPING(tag) AS BIGINT) AS gt
        FROM t GROUP BY ROLLUP (k, tag)
        """
    ).df()
    assert_frames_match(got, want, "random_rollup")


@given(rows=_rows)
@settings(**_SETTINGS)
def test_random_sort_limit_deterministic(spark, rows):
    """ORDER BY with a full tiebreak + LIMIT must return the identical
    prefix in both engines (the §5.3.3 determinism rule, fuzzed)."""
    sdf, con = _frames(spark, rows)
    got = (
        sdf.orderBy("k", "v", "tag")
        .limit(5)
        .toPandas()
    )
    want = con.execute(
        "SELECT * FROM t ORDER BY k NULLS FIRST, v NULLS FIRST, "
        "tag NULLS FIRST LIMIT 5"
    ).df()
    assert_frames_match(got, want, "random_sort_limit")


def test_rollup_empty_input_divergence(spark):
    """Pin the empty-input ROLLUP divergence the fuzzer found: the SQL
    standard (and DuckDB) emit the grand-total super-aggregate row even
    over zero rows — count 0, sums NULL — while Spark's rollup emits
    nothing.  Engine queries therefore must not rely on the grand-total
    row existing for empty partitions (agg_rollup runs on never-empty
    corpus tables)."""
    from pyspark.sql import functions as F

    sdf = spark.createDataFrame([], "k int, v double, tag string")
    got = sdf.rollup("k").agg(F.count(F.lit(1)).alias("n")).collect()
    assert got == []  # Spark: zero rows
    con = duckdb.connect()
    want = con.execute(
        "SELECT k, COUNT(*) AS n FROM (SELECT 1 AS k, 1.0 AS v WHERE false) "
        "GROUP BY ROLLUP (k)"
    ).fetchall()
    assert want == [(None, 0)]  # DuckDB: standard grand-total row


def test_round_half_boundary_divergence(spark):
    """Pin a second engine divergence found by probing: round(1.005, 2) is
    1.01 in Spark but 1.00 in DuckDB.  The double 1.005 is actually
    1.00499999999999989…; DuckDB rounds that binary value while Spark's
    round() goes through BigDecimal.valueOf (shortest decimal repr
    "1.005") and applies HALF_UP.  Consequence for the §5.3 hash
    discipline: round(x, n) is only cross-engine-stable when x carries
    FEWER than n intrinsic decimal digits (e.g. round-to-6dp of a
    decimal(18,4)-exact sum is an identity) or when x is not at a
    shortest-repr half boundary — which is why every oracled query
    rounds at strictly higher precision than its data's decimals."""
    got = spark.sql("SELECT round(CAST(1.005 AS DOUBLE), 2) AS r").first()["r"]
    assert got == 1.01  # Spark: shortest-repr HALF_UP
    want = duckdb.connect().execute(
        "SELECT round(CAST(1.005 AS DOUBLE), 2)"
    ).fetchone()[0]
    assert want == 1.0  # DuckDB: rounds the binary value
    # the safe pattern both engines agree on: exact decimal in, round out
    s2 = spark.sql(
        "SELECT round(CAST(CAST(1.005 AS DECIMAL(10,4)) AS DOUBLE), 6) AS r"
    ).first()["r"]
    d2 = duckdb.connect().execute(
        "SELECT round(CAST(CAST(1.005 AS DECIMAL(10,4)) AS DOUBLE), 6)"
    ).fetchone()[0]
    assert s2 == d2 == 1.005


@given(rows=_rows)
@settings(**_SETTINGS)
def test_random_running_sum_frame(spark, rows):
    """ROWS UNBOUNDED PRECEDING running sum per key with a deterministic
    total order — frame semantics and null accumulation must agree."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    sdf, con = _frames(spark, rows)
    w = (
        Window.partitionBy("k")
        .orderBy(F.col("v").asc_nulls_first(), F.col("tag").asc_nulls_first())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    got = sdf.select(
        "k", "v", "tag", F.round(F.sum("v").over(w), 6).alias("rs")
    ).toPandas()
    want = con.execute(
        """
        SELECT k, v, tag,
               ROUND(SUM(v) OVER (PARTITION BY k
                     ORDER BY v ASC NULLS FIRST, tag ASC NULLS FIRST
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS rs
        FROM t
        """
    ).df()
    # (v, tag) ties make per-row rs frame-order-dependent; compare the
    # multiset of full rows, which is identical iff the tie group's partial
    # sums agree — they do, because tied rows have equal v.
    assert_frames_match(got, want, "random_running_sum")


@given(rows=_rows, rows2=_rows)
@settings(**_SETTINGS)
def test_random_full_outer_join(spark, rows, rows2):
    """FULL OUTER with null keys: unmatched sides pad with nulls and null
    keys never match each other — the asymmetric padding must agree."""
    from pyspark.sql import functions as F

    sdf, con = _frames(spark, rows)
    sdf2 = _second_frame(spark, con, rows2)
    got = (
        sdf.select("k", "v")
        .join(sdf2.select(F.col("k").alias("k2"), "tag"),
              F.col("k") == F.col("k2"), "full_outer")
        .select("k", "v", "k2", "tag")
        .toPandas()
    )
    want = con.execute(
        """
        SELECT t.k AS k, t.v AS v, u.k AS k2, u.tag AS tag
        FROM (SELECT k, v FROM t) t
        FULL OUTER JOIN (SELECT k, tag FROM u) u ON t.k = u.k
        """
    ).df()
    assert_frames_match(got, want, "random_full_outer")


@given(rows=_rows)
@settings(**_SETTINGS)
def test_random_cube_and_grouping_sets(spark, rows):
    """CUBE and explicit GROUPING SETS over (k, tag) with nulls — the
    full super-aggregate lattice must agree row-for-row (GROUPING id
    disambiguates genuine nulls, as in the rollup fuzz)."""
    from pyspark.sql import functions as F

    sdf, con = _frames(spark, rows)
    if not rows:  # empty-input super-aggregate divergence pinned separately
        return
    got = (
        sdf.cube("k", "tag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.grouping("k").cast("long").alias("gk"),
            F.grouping("tag").cast("long").alias("gt"),
        )
        .toPandas()
    )
    want = con.execute(
        """
        SELECT k, tag, COUNT(*) AS n,
               CAST(GROUPING(k) AS BIGINT) AS gk,
               CAST(GROUPING(tag) AS BIGINT) AS gt
        FROM t GROUP BY CUBE (k, tag)
        """
    ).df()
    assert_frames_match(got, want, "random_cube")

    got2 = spark.sql(
        """
        SELECT k, tag, COUNT(1) AS n
        FROM {df}
        GROUP BY GROUPING SETS ((k), (tag), ())
        """,
        df=sdf,
    ).toPandas()
    want2 = con.execute(
        """
        SELECT k, tag, COUNT(*) AS n
        FROM t GROUP BY GROUPING SETS ((k), (tag), ())
        """
    ).df()
    assert_frames_match(got2, want2, "random_grouping_sets")


def test_strict_cast_and_try_cast_converge(spark):
    """Cast-strictness contract, restated for the round-8 non-ANSI session
    default (session.py flipped spark.sql.ansi.enabled=false for the +46%
    Q1 scaled-long-sum win): plain CAST on overflow (bigint→int) now
    NULL-wraps in Spark where DuckDB raises — a DOCUMENTED divergence no
    oracled key relies on (no registry query plain-casts a value that can
    overflow; the money sums are range-analyzed).  try_cast→NULL still
    agrees in both engines, so any future oracled cast-on-dirty-data key
    must use try_cast on both sides."""
    assert spark.conf.get("spark.sql.ansi.enabled") == "false"
    # Non-ANSI Spark: overflow wraps/NULLs instead of raising.
    assert spark.sql(
        "select cast(3000000000 as int) as x"
    ).first()["x"] is not None  # wraps (legacy) — does NOT raise
    assert spark.sql(
        "select try_cast(3000000000 as int) as x"
    ).first()["x"] is None
    con = duckdb.connect()
    with pytest.raises(Exception):
        con.execute("select cast(3000000000 as integer)").fetchone()
    assert con.execute(
        "select try_cast(3000000000 as integer)"
    ).fetchone()[0] is None


def test_strict_cast_malformed_string_converges(spark):
    """Malformed-string half of the cast contract under the non-ANSI
    session default: Spark plain CAST('abc' AS INT) yields NULL where
    DuckDB raises; try_cast yields NULL in BOTH engines.  Oracled keys
    therefore must never plain-cast possibly-malformed strings — use
    try_cast on both sides (none currently do; grep guard below would
    catch a mismatch as a driver hash failure anyway)."""
    assert spark.sql("select cast('abc' as int) as x").first()["x"] is None
    assert spark.sql("select try_cast('abc' as int) as x").first()["x"] is None
    con = duckdb.connect()
    with pytest.raises(Exception):
        con.execute("select cast('abc' as integer)").fetchone()
    assert con.execute(
        "select try_cast('abc' as integer)"
    ).fetchone()[0] is None


@given(rows=_rows)
@settings(**_SETTINGS)
def test_random_rolling_median_frame(spark, rows):
    """Exact median over a 4-row moving frame (the staged
    win_rolling_median formulation: collect_list over the frame +
    in-expression sort) vs DuckDB's native median window aggregate —
    including NULL values, where both sides must drop NULLs inside the
    frame and return NULL for an all-NULL frame (the r05 empty-frame
    guard: Spark's element_at(.., 0) raises where DuckDB yields NULL)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    idx_rows = [(i, k, v, tag) for i, (k, v, tag) in enumerate(rows)]
    sdf = spark.createDataFrame(
        [tuple(None if pd.isna(x) else x for x in r) for r in idx_rows],
        "idx int, k int, v double, tag string",
    )
    con = duckdb.connect()
    con.register(
        "t",
        pd.DataFrame(idx_rows, columns=["idx", "k", "v", "tag"]).astype(
            {"idx": "Int64", "k": "Int64", "v": "float64", "tag": "object"}
        ),
    )
    w = (
        Window.partitionBy("tag").orderBy("idx").rowsBetween(-3, Window.currentRow)
    )
    med = F.expr(
        "case when size(frame) = 0 then cast(null as double)"
        " when size(frame) % 2 = 1"
        " then element_at(array_sort(frame), cast(size(frame) div 2 + 1 as int))"
        " else (element_at(array_sort(frame), cast(size(frame) div 2 as int))"
        "     + element_at(array_sort(frame),"
        "                  cast(size(frame) div 2 + 1 as int))) / 2.0"
        " end"
    )
    got = (
        sdf.withColumn("frame", F.collect_list("v").over(w))
        .select("idx", "tag", F.round(med, 6).alias("med"))
        .toPandas()
    )
    want = con.execute(
        """
        SELECT idx, tag,
               ROUND(median(v) OVER (PARTITION BY tag ORDER BY idx
                     ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 6) AS med
        FROM t
        """
    ).df()
    assert_frames_match(got, want, "random_rolling_median")


@given(rows=_rows)
@settings(**_SETTINGS)
def test_random_dp_noise_formula(spark, rows):
    """privacy_dp_count's deterministic Laplace draw (md5-hex uniform →
    inverse CDF) on random group keys including NULLs — Spark's
    conv(hex)/greatest/concat-null semantics vs DuckDB's ::BIGINT hex
    cast must agree bit-for-bit after 6-decimal rounding (probed r05:
    greatest skips NULLs and concat/md5 propagate them identically on
    both engines)."""
    from pyspark.sql import functions as F

    sdf = spark.createDataFrame(
        [tuple(None if pd.isna(x) else x for x in r) for r in rows],
        "k int, v double, tag string",
    )
    con = duckdb.connect()
    con.register(
        "t",
        pd.DataFrame(rows, columns=["k", "v", "tag"]).astype(
            {"k": "Int64", "v": "float64", "tag": "object"}
        ),
    )
    g = sdf.groupBy("tag").agg(F.count(F.lit(1)).alias("true_n"))
    u = (
        F.expr("conv(substring(md5(concat(tag, '|', tag)), 1, 6), 16, 10)")
        .cast("double")
        / F.lit(16777216.0)
    )
    c = u - F.lit(0.5)
    noise = (
        F.lit(-1.0)
        * F.signum(c)
        * F.log(F.greatest(F.lit(1e-12), F.lit(1.0) - F.lit(2.0) * F.abs(c)))
    )
    got = g.select(
        "tag",
        F.col("true_n").cast("bigint").alias("true_n"),
        F.round(noise, 6).alias("noise"),
        F.greatest(
            F.lit(0).cast("bigint"),
            F.round(F.col("true_n") + noise, 0).cast("bigint"),
        ).alias("dp_n"),
    ).toPandas()
    want = con.execute(
        """
        WITH g AS (
          SELECT tag, COUNT(*) AS true_n,
                 ('0x' || substr(md5(tag || '|' || tag), 1, 6))::BIGINT
                   / 16777216.0 - 0.5 AS c
          FROM t GROUP BY tag
        )
        SELECT tag, CAST(true_n AS BIGINT) AS true_n,
               ROUND(-1.0 * sign(c) * ln(greatest(1e-12, 1 - 2 * abs(c))), 6)
                 AS noise,
               CAST(greatest(0, CAST(round(true_n
                   - 1.0 * sign(c) * ln(greatest(1e-12, 1 - 2 * abs(c))))
                   AS BIGINT)) AS BIGINT) AS dp_n
        FROM g
        """
    ).df()
    assert_frames_match(got, want, "random_dp_noise")


@given(rows=_rows)
@settings(**_SETTINGS)
def test_random_lttb_buckets(spark, rows):
    """ts_downsample_lttb's bucketed argmax on random series — ntile
    bucket-boundary semantics, neighbor-mean lag/lead, triangle-area
    ties, and partitions SMALLER than the bucket count (every bucket an
    edge bucket) must all agree with the DuckDB mirror."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    idx_rows = [
        (i, k, v, tag)
        for i, (k, v, tag) in enumerate(rows)
        if v is not None and tag is not None
    ]
    if not idx_rows:
        return
    sdf = spark.createDataFrame(idx_rows, "idx int, k int, v double, tag string")
    con = duckdb.connect()
    con.register(
        "t",
        pd.DataFrame(idx_rows, columns=["idx", "k", "v", "tag"]).astype(
            {"idx": "Int64", "k": "Int64", "v": "float64", "tag": "object"}
        ),
    )
    nb = 4
    w = Window.partitionBy("tag").orderBy("idx")
    pts = sdf.select(
        "tag",
        "idx",
        "v",
        F.row_number().over(w).cast("double").alias("x"),
        F.ntile(nb).over(w).alias("bkt"),
    )
    bmeans = pts.groupBy("tag", "bkt").agg(
        F.avg("x").alias("mx"), F.avg("v").alias("my")
    )
    wb = Window.partitionBy("tag").orderBy("bkt")
    ctx = bmeans.select(
        "tag",
        "bkt",
        F.lag("mx").over(wb).alias("px"),
        F.lag("my").over(wb).alias("py"),
        F.lead("mx").over(wb).alias("nx"),
        F.lead("my").over(wb).alias("ny"),
    )
    scored = pts.join(ctx, ["tag", "bkt"]).withColumn(
        "area",
        F.when(
            F.col("px").isNull() | F.col("nx").isNull(), F.lit(None)
        ).otherwise(
            F.abs(
                (F.col("px") - F.col("nx")) * (F.col("v") - F.col("py"))
                - (F.col("px") - F.col("x")) * (F.col("ny") - F.col("py"))
            )
            / 2.0
        ),
    )
    wp = Window.partitionBy("tag", "bkt").orderBy(
        F.col("area").desc(), F.col("idx").asc()
    )
    got = (
        scored.withColumn("pk", F.row_number().over(wp))
        .filter(F.col("pk") == 1)
        .select(
            "tag",
            "bkt",
            "idx",
            F.round("v", 6).alias("v"),
            F.round(F.coalesce("area", F.lit(-1.0)), 6).alias("area"),
        )
        .toPandas()
    )
    want = con.execute(
        f"""
        WITH pts AS (
          SELECT tag, idx, v,
                 CAST(row_number() OVER (PARTITION BY tag ORDER BY idx)
                      AS DOUBLE) AS x,
                 ntile({nb}) OVER (PARTITION BY tag ORDER BY idx) AS bkt
          FROM t
        ),
        bmeans AS (
          SELECT tag, bkt, AVG(x) AS mx, AVG(v) AS my
          FROM pts GROUP BY tag, bkt
        ),
        ctx AS (
          SELECT tag, bkt,
                 lag(mx)  OVER (PARTITION BY tag ORDER BY bkt) AS px,
                 lag(my)  OVER (PARTITION BY tag ORDER BY bkt) AS py,
                 lead(mx) OVER (PARTITION BY tag ORDER BY bkt) AS nx,
                 lead(my) OVER (PARTITION BY tag ORDER BY bkt) AS ny
          FROM bmeans
        ),
        scored AS (
          SELECT p.tag, p.idx, p.v, p.bkt,
                 CASE WHEN c.px IS NULL OR c.nx IS NULL THEN NULL
                      ELSE abs((c.px - c.nx) * (p.v - c.py)
                               - (c.px - p.x) * (c.ny - c.py)) / 2.0 END AS area
          FROM pts p JOIN ctx c ON p.tag = c.tag AND p.bkt = c.bkt
        )
        SELECT tag, bkt, idx, ROUND(v, 6) AS v,
               ROUND(COALESCE(area, -1.0), 6) AS area
        FROM (
          SELECT tag, bkt, idx, v, area,
                 row_number() OVER (PARTITION BY tag, bkt
                                    ORDER BY area DESC, idx ASC) AS pk
          FROM scored
        ) WHERE pk = 1
        """
    ).df()
    assert_frames_match(got, want, "random_lttb")


# --- as-of join: union+last(ignore nulls) window trick vs a pure walk ---

_asof_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),            # user_id
        st.integers(min_value=0, max_value=5),            # ts offset (ties!)
        st.sampled_from(["click", "purchase", "view"]),   # view = noise
    ),
    min_size=1,
    max_size=20,
)

@settings(**_SETTINGS)
@given(rows=_asof_rows)
def test_random_asof_join_vs_walk(spark, tmp_path_factory, rows):
    """join_asof's union+last(ignore nulls) formulation vs an independent
    chronological walk.  Tie-heavy timestamps (6 distinct values over up
    to 20 events) exercise the (ts, event_id) tie rule the fixed corpus
    rarely hits: a click at the SAME timestamp as a purchase counts only
    when its event_id sorts first.  'view' rows prove the event-type
    prefilter keeps noise out of the window state."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    base = datetime.datetime(2024, 1, 1)
    events = [
        (i, uid, base + datetime.timedelta(seconds=off), et)
        for i, (uid, off, et) in enumerate(rows)
    ]
    # mktemp numbers a fresh dir per example: io.load memoizes the
    # DataFrame handle per (sf_dir, table), so a reused dir would be stale
    d = tmp_path_factory.mktemp("asof")
    pq.write_table(
        pa.table({
            "event_id": pa.array([e[0] for e in events], pa.int64()),
            "ts": pa.array([e[2] for e in events], pa.timestamp("us")),
            "user_id": pa.array([e[1] for e in events], pa.int64()),
            "event_type": pa.array([e[3] for e in events], pa.string()),
            "value": pa.array([0.0] * len(events), pa.float64()),
            "props": pa.array(["{}"] * len(events), pa.string()),
        }),
        str(d / "events.parquet"),
    )

    from bigdatawork_spark.registry import QUERIES

    got = {
        r["event_id"]: r["prior_click_ts"]
        for r in QUERIES["join_asof"](spark, str(d)).collect()
    }

    # reference: one chronological walk in (ts, event_id) order
    last_click: dict[int, datetime.datetime] = {}
    want: dict[int, datetime.datetime | None] = {}
    for eid, uid, ts, et in sorted(events, key=lambda e: (e[2], e[0])):
        if et == "click":
            last_click[uid] = ts
        elif et == "purchase":
            want[eid] = last_click.get(uid)
    assert got == want, f"events={events!r}"


# --- session windows: F.session_window vs a pure gaps-and-islands walk ---

_sess_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),                   # user_id
        st.sampled_from([0, 10, 29, 30, 31, 60, 89, 90, 120]),   # minute offsets
    ),
    min_size=1,
    max_size=18,
)


@settings(**_SETTINGS)
@given(rows=_sess_rows)
def test_random_session_window_vs_walk(spark, tmp_path_factory, rows):
    """win_time_session's F.session_window vs an independent
    gaps-and-islands walk, with offsets chosen so EXACTLY-gap (30 min)
    differences are common: Spark extends a session when the next event
    is exactly gap after the previous (touching-inclusive), matching the
    oracle's strict '> gap starts a new session' rule — probed while
    building this test; this fuzz pins the boundary so engine drift in
    either formulation fails loudly.  Duplicate timestamps per user are
    also generated (offset ties)."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    base = datetime.datetime(2024, 1, 1)
    events = [
        (i, uid, base + datetime.timedelta(minutes=off))
        for i, (uid, off) in enumerate(rows)
    ]
    d = tmp_path_factory.mktemp("sess")
    pq.write_table(
        pa.table({
            "event_id": pa.array([e[0] for e in events], pa.int64()),
            "ts": pa.array([e[2] for e in events], pa.timestamp("us")),
            "user_id": pa.array([e[1] for e in events], pa.int64()),
            "event_type": pa.array(["view"] * len(events), pa.string()),
            "value": pa.array([0.0] * len(events), pa.float64()),
            "props": pa.array(["{}"] * len(events), pa.string()),
        }),
        str(d / "events.parquet"),
    )

    from bigdatawork_spark.registry import QUERIES

    got = sorted(
        (r["user_id"], r["session_start"], r["last_event"], r["n_events"])
        for r in QUERIES["win_time_session"](spark, str(d)).collect()
    )

    # reference walk: per user in ts order, diff > 30 min opens a session
    gap = datetime.timedelta(minutes=30)
    want = []
    by_user: dict[int, list] = {}
    for _, uid, ts in events:
        by_user.setdefault(uid, []).append(ts)
    for uid, tss in by_user.items():
        tss.sort()
        start, last, n = tss[0], tss[0], 1
        for ts in tss[1:]:
            if ts - last > gap:
                want.append((uid, start, last, n))
                start, last, n = ts, ts, 1
            else:
                last, n = ts, n + 1
        want.append((uid, start, last, n))
    assert got == sorted(want), f"events={events!r}"


# --- sliding windows: F.window(1h, 15m) assignment vs a direct expansion ---

_slide_rows = st.lists(
    st.tuples(
        st.sampled_from(["a", "b"]),                              # event_type
        # minute offsets chosen to sit ON window edges (multiples of 15),
        # one µs before/after them, and between
        st.sampled_from([0, 7, 14, 15, 16, 29, 30, 44, 45, 59, 60, 75]),
        st.sampled_from([0, 1]),                                  # extra second
    ),
    min_size=1,
    max_size=16,
)


@settings(**_SETTINGS)
@given(rows=_slide_rows)
def test_random_sliding_window_vs_expansion(spark, tmp_path_factory, rows):
    """win_time_sliding's F.window('1 hour', '15 minutes') assignment vs a
    direct pure-Python expansion (each event belongs to the 4 windows
    [start, start+1h) whose start is the preceding 15-min boundary minus
    k*15min).  Offsets sit exactly ON window edges: an event at a
    boundary belongs to the window STARTING there and not the one ENDING
    there ([start, end) half-open) — the classic off-by-one this pins."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    base = datetime.datetime(2024, 1, 1)
    events = [
        (i, et, base + datetime.timedelta(minutes=off, seconds=sec))
        for i, (et, off, sec) in enumerate(rows)
    ]
    d = tmp_path_factory.mktemp("slide")
    pq.write_table(
        pa.table({
            "event_id": pa.array([e[0] for e in events], pa.int64()),
            "ts": pa.array([e[2] for e in events], pa.timestamp("us")),
            "user_id": pa.array([0] * len(events), pa.int64()),
            "event_type": pa.array([e[1] for e in events], pa.string()),
            "value": pa.array([1.0] * len(events), pa.float64()),
            "props": pa.array(["{}"] * len(events), pa.string()),
        }),
        str(d / "events.parquet"),
    )

    from bigdatawork_spark.registry import QUERIES

    got = sorted(
        (r["window_start"], r["event_type"], r["n_events"], r["total_value"])
        for r in QUERIES["win_time_sliding"](spark, str(d)).collect()
    )

    slide = datetime.timedelta(minutes=15)
    size = datetime.timedelta(hours=1)
    agg: dict[tuple, int] = {}
    for _, et, ts in events:
        # preceding slide boundary, then the 4 windows covering ts
        secs = (ts - base).total_seconds()
        bucket = base + datetime.timedelta(
            seconds=(secs // slide.total_seconds()) * slide.total_seconds()
        )
        for k in range(4):
            ws = bucket - k * slide
            if ws <= ts < ws + size:
                agg[(ws, et)] = agg.get((ws, et), 0) + 1
    want = sorted(
        (ws, et, n, round(float(n), 6)) for (ws, et), n in agg.items()
    )
    assert got == want, f"events={events!r}"


# --- RANGE frame: peer/boundary inclusivity vs a direct O(n²) scan ---

_range_vals = st.lists(
    st.sampled_from([0.0, 1000.0, 2500.0, 5000.0, 6000.0, 7500.0,
                     10000.0, 10001.0, 12500.0]),
    min_size=1,
    max_size=16,
)


@settings(**_SETTINGS)
@given(vals=_range_vals)
def test_random_range_frame_vs_scan(spark, tmp_path_factory, vals):
    """win_range_frame's RANGE BETWEEN 5000 PRECEDING AND 5000 FOLLOWING
    vs a direct O(n²) value-window scan.  Values are drawn so EXACT
    ±5000 differences and duplicate order keys are common: the frame is
    inclusive on both boundaries and every PEER (equal value) is always
    in-frame regardless of row order — the two classic RANGE-vs-ROWS
    confusions this pins."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    base = datetime.datetime(1996, 6, 1)
    d = tmp_path_factory.mktemp("range")
    n = len(vals)
    pq.write_table(
        pa.table({
            "o_orderkey": pa.array(list(range(n)), pa.int64()),
            "o_custkey": pa.array([0] * n, pa.int64()),
            "o_orderstatus": pa.array(["O"] * n, pa.string()),
            "o_totalprice": pa.array(vals, pa.float64()),
            "o_orderdate": pa.array([base] * n, pa.timestamp("us")),
            "o_orderpriority": pa.array(["1-URGENT"] * n, pa.string()),
        }),
        str(d / "orders.parquet"),
    )

    from bigdatawork_spark.registry import QUERIES

    got = {
        r["o_orderkey"]: r["nearby_total"]
        for r in QUERIES["win_range_frame"](spark, str(d)).collect()
    }
    want = {
        i: sum(v2 for v2 in vals if abs(v2 - v) <= 5000.0)
        for i, v in enumerate(vals)
    }
    assert got == want, f"vals={vals!r}"


# --- merge_upsert vs a pure-Python dict merge --------------------------------

_cust_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=120),  # custkey pool: dense % 7/97 hits
        st.integers(min_value=-5000, max_value=5000),  # acctbal cents
    ),
    min_size=0,
    max_size=40,
    unique_by=lambda r: r[0],  # custkey is a key
)

@given(rows=_cust_rows)
@settings(**_SETTINGS)
def test_random_merge_upsert_vs_dict_merge(spark, tmp_path_factory, rows):
    """merge_upsert vs an independent dict-based MERGE walk: update /
    insert / keep classification, the coalesce column semantics, and the
    key-shifted insert branch — on random key sets where %7 and %97 hits
    (and the empty table) are common, unlike the fixed corpus where both
    branches always fire."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bigdatawork_spark.registry import QUERIES

    d = tmp_path_factory.mktemp("mu")
    pq.write_table(
        pa.table({
            "c_custkey": pa.array([r[0] for r in rows], pa.int64()),
            "c_name": pa.array([f"Customer#{r[0]}" for r in rows], pa.string()),
            "c_nationkey": pa.array([r[0] % 25 for r in rows], pa.int32()),
            "c_acctbal": pa.array([r[1] / 100.0 for r in rows], pa.float64()),
            "c_mktsegment": pa.array(["BUILDING"] * len(rows), pa.string()),
        }),
        str(d / "customer.parquet"),
    )
    got = {
        r.c_custkey: (r.c_name, r.c_acctbal, r.action)
        for r in QUERIES["merge_upsert"](spark, str(d)).collect()
    }
    want = {}
    for k, cents in rows:
        name, bal = f"Customer#{k}", cents / 100.0
        if k % 7 == 0:
            want[k] = (name, bal + 100.0, "update")
        else:
            want[k] = (name, bal, "keep")
        if k % 97 == 0:
            want[k + 1000000] = (f"new:{name}", 0.0, "insert")
    assert got == want, f"rows={rows!r}"
