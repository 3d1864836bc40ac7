"""Join operators (SURVEY.md §2.3) — full strategy + type surface.

Scale notes (100 TB):
  * dim joins (nation/region/part) are explicit ``broadcast()`` — no
    shuffle of the fact side;
  * fact-fact joins shuffle on the equi key (sort-merge; AQE may demote to
    shuffled-hash) — the key is the natural co-partitioning column, so a
    bucketed layout would eliminate the exchange entirely;
  * the theta/band join pre-filters BOTH sides with pushed-down range
    predicates before the nested-loop pairing, bounding the quadratic term;
  * the as-of join is equi-join + per-group window pick-latest — shuffle on
    the equi key once, no cross product.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..functions.numeric import dsum as _dsum
from ..functions.numeric import sql_dsum as _sql_dsum
from ..registry import query
from ..sources.tables import load


def _c_n_r(spark: SparkSession, sf_dir: str, use_broadcast: bool) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    if use_broadcast:
        n, r = F.broadcast(n), F.broadcast(r)
    return (
        c.join(n, c.c_nationkey == n.n_nationkey, "inner")
        .join(r, n.n_regionkey == r.r_regionkey, "inner")
        .select("c_custkey", "c_name", "n_name", "r_name")
    )


_CNR_SQL = """
    SELECT c_custkey, c_name, n_name, r_name
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
"""


@query("q_join_inner_hash", oracle=_CNR_SQL)
def q_join_inner_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi inner join customer ⋈ nation ⋈ region (planner/AQE-chosen)."""
    return _c_n_r(spark, sf_dir, use_broadcast=False)


@query("q_join_broadcast", oracle=_CNR_SQL)
def q_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same join with the dimension sides pinned broadcast (plan-invariant
    result; the 100-TB default for any dim that fits an executor)."""
    return _c_n_r(spark, sf_dir, use_broadcast=True)


@query(
    "q_join_sortmerge",
    oracle="""
    SELECT o_orderkey, o_totalprice, o_orderpriority,
           l_linenumber, l_extendedprice, l_quantity
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_totalprice > 250000
    """,
)
def q_join_sortmerge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-large orders ⋈ lineitem pinned to sort-merge via hint."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 250000)
    l = load(spark, sf_dir, "lineitem")
    return (
        o.hint("merge")
        .join(l, o.o_orderkey == l.l_orderkey, "inner")
        .select(
            "o_orderkey", "o_totalprice", "o_orderpriority",
            "l_linenumber", "l_extendedprice", "l_quantity",
        )
    )


# Outer joins: the right side is a filtered slice so unmatched rows exist
# (every sf0.001 customer has orders — FIXTURES.md), exercising NULL fill.
_BIG = 300000


@query(
    "q_join_left",
    oracle=f"""
    SELECT c_custkey, c_mktsegment, o.o_orderkey, o.o_totalprice
    FROM customer c
    LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > {_BIG}) o
      ON c.c_custkey = o.o_custkey
    """,
)
def q_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > _BIG)
    return c.join(o, c.c_custkey == o.o_custkey, "left").select(
        "c_custkey", "c_mktsegment", "o_orderkey", "o_totalprice"
    )


@query(
    "q_join_right",
    oracle=f"""
    SELECT c_custkey, c_mktsegment, o.o_orderkey, o.o_totalprice
    FROM (SELECT * FROM orders WHERE o_totalprice > {_BIG}) o
    RIGHT JOIN customer c ON c.c_custkey = o.o_custkey
    """,
)
def q_join_right(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > _BIG)
    return o.join(c, c.c_custkey == o.o_custkey, "right").select(
        "c_custkey", "c_mktsegment", "o_orderkey", "o_totalprice"
    )


@query(
    "q_join_full",
    oracle=f"""
    SELECT c.c_custkey, c.c_acctbal, o.o_orderkey, o.o_totalprice
    FROM (SELECT * FROM customer WHERE c_acctbal < 0) c
    FULL JOIN (SELECT * FROM orders WHERE o_totalprice > {_BIG}) o
      ON c.c_custkey = o.o_custkey
    """,
)
def q_join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join preserving both unmatched sides."""
    c = load(spark, sf_dir, "customer").filter(F.col("c_acctbal") < 0)
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > _BIG)
    return c.join(o, c.c_custkey == o.o_custkey, "full").select(
        "c_custkey", "c_acctbal", "o_orderkey", "o_totalprice"
    )


@query(
    "q_join_semi",
    oracle=f"""
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > {_BIG})
    """,
)
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers having ≥1 big order — left semi (no right columns)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > _BIG)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


@query(
    "q_join_anti",
    oracle=f"""
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > {_BIG})
    """,
)
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no big orders — left anti."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > _BIG)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


@query(
    "q_join_cross",
    oracle="""
    SELECT r_name, n_name, n_nationkey + r_regionkey AS key_sum
    FROM region CROSS JOIN nation
    """,
)
def q_join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cartesian product of the two smallest dims + projection."""
    r = load(spark, sf_dir, "region")
    n = load(spark, sf_dir, "nation")
    return r.crossJoin(n).select(
        "r_name",
        "n_name",
        (F.col("n_nationkey") + F.col("r_regionkey")).alias("key_sum"),
    )


@query(
    "q_join_theta_range",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_extendedprice, p_partkey, p_retailprice
    FROM lineitem JOIN part
      ON p_retailprice >= l_extendedprice * 0.9
     AND p_retailprice <= l_extendedprice * 1.1
    WHERE l_extendedprice < 3300
    """,
)
def q_join_theta_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi band join: parts priced within ±10% of a line's price.

    The pushed-down ``l_extendedprice < 3300`` bound (retail prices top out
    ~3 k) shrinks the nested-loop left side before the quadratic pairing —
    this broadcast-BNLJ form is the small-dim fast path. When the build
    side outgrows broadcast, use q_join_theta_bucketed: the same band
    predicate as an equi-join on geometric price buckets.
    """
    l = load(spark, sf_dir, "lineitem").filter(F.col("l_extendedprice") < 3300)
    p = load(spark, sf_dir, "part")
    band = (F.col("p_retailprice") >= F.col("l_extendedprice") * 0.9) & (
        F.col("p_retailprice") <= F.col("l_extendedprice") * 1.1
    )
    return l.join(F.broadcast(p), band, "inner").select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "p_partkey", "p_retailprice"
    )


@query(
    "q_join_theta_bucketed",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_extendedprice, p_partkey, p_retailprice
    FROM lineitem JOIN part
      ON p_retailprice >= l_extendedprice * 0.9
     AND p_retailprice <= l_extendedprice * 1.1
    WHERE l_extendedprice < 3300
    """,
)
def q_join_theta_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale-safe form of q_join_theta_range: equi-join on geometric
    price buckets + residual band filter — NO broadcast, NO nested loop.

    A ±10% relative band maps to geometric buckets g(x) =
    floor(ln x / ln 1.1): for any p in [0.9·l, 1.1·l] the bucket offset
    g(p) - g(l) lies in {-2,-1,0,1} (ln 0.9 / ln 1.1 ≈ -1.105, and
    floor(x)-floor(y) stays inside the open interval (Δ-1, Δ+1)), so the
    probe side explodes ×4 over those offsets and the join is a plain
    shuffled equi-join on the bucket key — hash-partitionable, AQE-skew-
    splittable, and independent of either side's size. The band predicate
    stays as the exact residual filter. Bucket count grows with the log of
    the price range; at heavy per-bucket skew, salt the bucket key.
    """
    import math

    inv_ln = 1.0 / math.log(1.1)
    l = load(spark, sf_dir, "lineitem").filter(F.col("l_extendedprice") < 3300)
    p = load(spark, sf_dir, "part")
    l_b = l.withColumn(
        "g", F.floor(F.log(F.col("l_extendedprice")) * inv_ln)
    ).withColumn(
        "bucket",
        F.explode(F.array(*[F.col("g") + d for d in (-2, -1, 0, 1)])),
    )
    p_b = p.withColumn(
        "bucket", F.floor(F.log(F.col("p_retailprice")) * inv_ln)
    )
    band = (F.col("p_retailprice") >= F.col("l_extendedprice") * 0.9) & (
        F.col("p_retailprice") <= F.col("l_extendedprice") * 1.1
    )
    return (
        l_b.join(p_b, on="bucket", how="inner")
        .filter(band)
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_extendedprice",
            "p_partkey",
            "p_retailprice",
        )
    )


@query(
    "q_join_interval",
    oracle="""
    SELECT o_orderkey, o_orderdate, l_linenumber, l_shipdate
    FROM orders JOIN lineitem
      ON o_orderkey = l_orderkey
     AND l_shipdate >= o_orderdate
     AND l_shipdate < o_orderdate + INTERVAL 30 DAY
    """,
)
def q_join_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-containment join: lines shipped within 30 days of the order.

    Equi key carries the shuffle; the interval predicate is a residual
    filter — no range-partitioning machinery needed.
    """
    o = load(spark, sf_dir, "orders")
    l = load(spark, sf_dir, "lineitem")
    return (
        o.join(l, on=[o.o_orderkey == l.l_orderkey], how="inner")
        .filter(
            (F.col("l_shipdate") >= F.col("o_orderdate"))
            & (F.col("l_shipdate") < F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"))
        )
        .select("o_orderkey", "o_orderdate", "l_linenumber", "l_shipdate")
    )


@query(
    "q_join_asof",
    oracle="""
    SELECT event_id, ts, user_id, o_orderkey AS last_orderkey,
           o_orderdate AS last_orderdate
    FROM (
        SELECT e.event_id, e.ts, e.user_id, o.o_orderkey, o.o_orderdate,
               row_number() OVER (PARTITION BY e.event_id
                                  ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
        FROM events e JOIN orders o
          ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
    ) WHERE rn = 1
    """,
)
def q_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each event, the latest order of that customer with
    o_orderdate <= ts (ties prefer the larger o_orderkey), events with no
    qualifying order dropped (inner as-of semantics).

    Spark has no native ASOF JOIN. This is the union-merge LOCF form
    (same family as q_join_asof_tolerance / q_join_point_in_time): tag
    orders as state rows (side 0) and events as probe rows (side 1),
    union them into ONE stream keyed by user, sort each key by
    (t, side, tiebreak), and carry the last order forward with
    last(ignorenulls). There is NO join operator in the plan — one
    exchange on user_id plus one per-key sort, so cost is O(|L|+|R|)
    per key regardless of how many orders precede each event. The
    previous equi-join + row_number()=1 form materialized, per event,
    every (event, earlier-order) pair into the shuffle before the
    window pruned them — per-hot-user quadratic, the classic 100-TB
    skew killer (VERDICT r4 perf flag). The oracle keeps the window
    form, proving the two shapes equivalent.

    Tie-handling matches the oracle's ORDER BY o_orderdate DESC,
    o_orderkey DESC pick exactly: state rows sort before probes at the
    same timestamp (side 0 < 1, so an order dated exactly at ts IS
    visible, `<=`), and among equal-date orders the ascending
    o_orderkey tiebreak makes the LAST row carried forward the max
    key. Plan contract: tests/test_plans.py asserts no join operator
    appears (mirror of test_asof_tolerance_is_merge_scan_not_join).
    """
    e = load(spark, sf_dir, "events")
    o = load(spark, sf_dir, "orders")
    ntz = "timestamp_ntz"
    o_side = o.select(
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderdate").alias("t"),
        F.lit(0).alias("side"),
        F.col("o_orderkey").alias("tb"),
        F.col("o_orderkey").alias("orderkey"),
        F.col("o_orderdate").alias("orderdate"),
        F.lit(None).cast("bigint").alias("event_id"),
        F.lit(None).cast(ntz).alias("ts"),
    )
    e_side = e.select(
        "user_id",
        F.col("ts").cast(ntz).alias("t"),
        F.lit(1).alias("side"),
        F.col("event_id").alias("tb"),
        F.lit(None).cast("bigint").alias("orderkey"),
        F.lit(None).cast(ntz).alias("orderdate"),
        "event_id",
        "ts",
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("t", "side", "tb")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        o_side.unionByName(e_side)
        .withColumn(
            "last_orderkey", F.last("orderkey", ignorenulls=True).over(w)
        )
        .withColumn(
            "last_orderdate", F.last("orderdate", ignorenulls=True).over(w)
        )
        .filter((F.col("side") == 1) & F.col("last_orderkey").isNotNull())
        .select("event_id", "ts", "user_id", "last_orderkey", "last_orderdate")
    )


@query(
    "q_join_asof_forward",
    oracle="""
    SELECT view_id, user_id, view_ts, purchase_id, purchase_ts,
           epoch_us(purchase_ts) - epoch_us(view_ts) AS gap_us
    FROM (
        SELECT v.event_id AS view_id, v.user_id, v.ts AS view_ts,
               p.event_id AS purchase_id, p.ts AS purchase_ts,
               row_number() OVER (PARTITION BY v.event_id
                                  ORDER BY p.ts ASC, p.event_id ASC) AS rn
        FROM events v JOIN events p
          ON v.user_id = p.user_id AND p.ts >= v.ts
         AND v.event_type = 'view' AND p.event_type = 'purchase'
    ) WHERE rn = 1
    """,
)
def q_join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join: each view matched to the user's NEXT purchase
    at or after it (ties prefer the smaller event_id) plus the gap in
    whole seconds — time-to-conversion, the mirror of q_join_asof's
    look-back. Views never followed by a purchase drop (inner as-of).

    Same union-merge LOCF machinery as q_join_asof with the merged
    stream sorted DESCENDING by time, so the carried state is the
    nearest FUTURE purchase. A purchase at exactly the view's ts must
    be visible (`>=`), so state rows still sort before probe rows at
    equal t (side 0 < 1); among equal-ts purchases the descending
    event_id tiebreak leaves the MIN id as the last row carried,
    matching the oracle's ASC pick. One exchange on user_id, no join
    operator — O(|L|+|R|) per key however hot the key, where the
    oracle's window form pairs every view with every later purchase
    first. gap_us is exact integer µs arithmetic (timestampdiff against
    the NTZ value, DuckDB epoch_us — the analytics.py idiom), so no
    float parity question exists.
    """
    e = load(spark, sf_dir, "events")
    ntz = "timestamp_ntz"
    p_side = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("t"),
        F.lit(0).alias("side"),
        F.col("event_id").alias("tb"),
        F.col("event_id").alias("p_id"),
        F.col("ts").alias("p_ts"),
        F.lit(None).cast("bigint").alias("view_id"),
        F.lit(None).cast(ntz).alias("view_ts"),
    )
    v_side = e.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("ts").alias("t"),
        F.lit(1).alias("side"),
        F.col("event_id").alias("tb"),
        F.lit(None).cast("bigint").alias("p_id"),
        F.lit(None).cast(ntz).alias("p_ts"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.desc("t"), F.asc("side"), F.desc("tb"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        p_side.unionByName(v_side)
        .withColumn("purchase_id", F.last("p_id", ignorenulls=True).over(w))
        .withColumn("purchase_ts", F.last("p_ts", ignorenulls=True).over(w))
        .filter((F.col("side") == 1) & F.col("purchase_id").isNotNull())
        .select(
            "view_id",
            "user_id",
            "view_ts",
            "purchase_id",
            "purchase_ts",
            F.expr(
                "timestampdiff(MICROSECOND, view_ts, purchase_ts)"
            ).alias("gap_us"),
        )
    )


@query(
    "q_join_salted_skew",
    oracle="""
    SELECT e.user_id, c.c_mktsegment,
           count(*) AS n_events,
           count(DISTINCT e.event_type) AS n_types
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY e.user_id, c.c_mktsegment
    """,
)
def q_join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated join via key salting, proven equivalent to the
    plain join by its oracle.

    events.user_id is a hot-key column (every user id maps to ~1/10th of
    the customer key space, so each surviving key carries many rows). The
    salting pattern: the skewed (big) side gets a deterministic salt in
    [0, S); the small side is exploded S× with every salt value; the join
    key becomes (key, salt), splitting each hot key's rows across S
    shuffle partitions. AQE's skew-join handles moderate skew
    automatically — explicit salting is the tool for the pathological
    keys AQE can't split (single-key hot spots inside one partition).
    The salt derives from xxhash64(event_id): deterministic, uniform,
    and independent of the join key.
    """
    n_salts = 8
    e = load(spark, sf_dir, "events").withColumn(
        "salt", F.pmod(F.xxhash64("event_id"), F.lit(n_salts)).cast("int")
    )
    c = load(spark, sf_dir, "customer").withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    joined = e.join(
        c, (e.user_id == c.c_custkey) & (e.salt == c.salt), "inner"
    )
    return joined.groupBy("user_id", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("event_type").alias("n_types"),
    )


@query(
    "q_join_null_safe",
    oracle="""
    WITH k AS (
        SELECT n_nationkey, nullif(n_regionkey, 2) AS rk FROM nation
    )
    SELECT a.rk AS region_key,
           count(*) AS n_pairs,
           min(a.n_nationkey) AS min_left,
           max(b.n_nationkey) AS max_right
    FROM k a JOIN k b ON a.rk IS NOT DISTINCT FROM b.rk
    GROUP BY a.rk
    """,
)
def q_join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (<=>): NULL keys match each other instead of
    vanishing.

    Fixtures carry no NULLs, so a nullable key is derived with nullif
    (region 2 → NULL). eqNullSafe compiles to a hash-joinable equality
    (EqualNullSafe is an equi-key, NOT a theta residual — the plan is
    still BroadcastHashJoin/SMJ), unlike `a = b OR (a IS NULL AND b IS
    NULL)` which degrades to a nested-loop join. The NULL group's pair
    count proves the matching semantics.
    """
    n = load(spark, sf_dir, "nation").select(
        "n_nationkey", F.nullif(F.col("n_regionkey"), F.lit(2)).alias("rk")
    )
    a = n.select(F.col("n_nationkey").alias("lk"), F.col("rk").alias("ark"))
    b = n.select(F.col("n_nationkey").alias("rkey"), F.col("rk").alias("brk"))
    return (
        a.join(b, F.col("ark").eqNullSafe(F.col("brk")))
        .groupBy(F.col("ark").alias("region_key"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.min("lk").alias("min_left"),
            F.max("rkey").alias("max_right"),
        )
    )


@query(
    "q_join_asof_tolerance",
    oracle="""
    WITH u AS (
        SELECT user_id, ts, event_id,
               CASE WHEN event_type = 'view' THEN 0 ELSE 1 END AS side
        FROM events WHERE event_type IN ('view', 'purchase')
    ), l AS (
        SELECT user_id, ts, event_id, side,
               last_value(CASE WHEN side = 0 THEN event_id END IGNORE NULLS)
                   OVER w AS v_id,
               last_value(CASE WHEN side = 0 THEN ts END IGNORE NULLS)
                   OVER w AS v_ts
        FROM u
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, side, event_id
                     ROWS UNBOUNDED PRECEDING)
    )
    SELECT event_id AS purchase_id, user_id, ts,
           CASE WHEN v_ts >= ts - INTERVAL 30 MINUTE THEN v_id END AS view_id,
           CASE WHEN v_ts >= ts - INTERVAL 30 MINUTE THEN v_ts END AS view_ts
    FROM l WHERE side = 1
    """,
)
def q_join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-style as-of join with tolerance: each purchase matched to the
    user's most recent view at most 30 minutes earlier (else NULL).

    The SECOND as-of strategy in the engine, complementing q_join_asof's
    equi-join + pick-latest: union both sides into one stream, sort per
    key by (ts, side, event_id), and carry the last left-side row
    forward with last_value(ignorenulls). There is NO join at all — one
    exchange on user_id and one per-key sort, so cost is O(|L|+|R|)
    regardless of how many right rows precede each probe (the equi-join
    form materializes every (probe, earlier-build) pair before its
    window prunes them — quadratic per hot key). This is the shape to
    reach for when both sides are huge and keys are hot; pandas
    merge_asof / kdb aj re-expressed as a distributed prefix scan.
    Ties: a view at exactly the purchase ts sorts first (side 0 < 1)
    and therefore matches, on both engines.
    """
    e = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "purchase")
    )
    u = e.select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "view", 0).otherwise(1).alias("side"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    v_id = F.last(
        F.when(F.col("side") == 0, F.col("event_id")), ignorenulls=True
    ).over(w)
    v_ts = F.last(
        F.when(F.col("side") == 0, F.col("ts")), ignorenulls=True
    ).over(w)
    in_tol = F.col("v_ts") >= F.col("ts") - F.expr("INTERVAL 30 MINUTES")
    return (
        u.withColumn("v_id", v_id)
        .withColumn("v_ts", v_ts)
        .filter(F.col("side") == 1)
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            "ts",
            F.when(in_tol, F.col("v_id")).alias("view_id"),
            F.when(in_tol, F.col("v_ts")).alias("view_ts"),
        )
    )


@query(
    "q_join_point_in_time",
    oracle="""
    WITH changes AS (
        SELECT user_id, event_type, ts, event_id
        FROM (
            SELECT user_id, event_type, ts, event_id,
                   lag(event_type) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS prev_type
            FROM events
            WHERE event_type <> 'purchase'
        )
        WHERE prev_type IS NULL OR event_type <> prev_type
    ),
    scd AS (
        SELECT user_id, event_type,
               ts AS valid_from,
               lead(ts) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS valid_to,
               cast(row_number() OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) as bigint)
                   AS version
        FROM changes
    )
    SELECT p.event_id AS purchase_id, p.user_id,
           d.event_type AS state_at_purchase,
           d.version AS version_at_purchase
    FROM (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'purchase') p
    LEFT JOIN scd d
      ON p.user_id = d.user_id
     AND d.valid_from <= p.ts
     AND (d.valid_to IS NULL OR p.ts < d.valid_to)
    """,
)
def q_join_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (feature-store) join: each fact sees the dimension
    version that was current AT ITS OWN timestamp — no leakage from the
    future, no stale state. Purchases probe the SCD2 history of the
    user's non-purchase activity (q_etl_scd2's construction over the
    same interleaved event stream, so temporal selectivity is real:
    different purchases by one user land in different versions, and a
    purchase before the user's first tracked event keeps NULLs).

    Scale: deliberately NOT the oracle's validity-window range join — a
    range predicate on a hot user degenerates to per-key quadratic
    pairing. Instead the union-merge LOCF shape (same family as
    q_join_asof_tolerance): version-change rows and fact probes union
    into one stream keyed by user, one window sorted by (t, probe-flag,
    tiebreak) carries the last seen state forward onto each probe. ONE
    shuffle on the dimension key, no join operator at all; change rows
    sort before same-timestamp probes, matching the oracle's
    valid_from <= t < valid_to convention (empty [t,t) windows
    unmatchable on both sides).
    """
    e = load(spark, sf_dir, "events")
    tracked = e.filter(F.col("event_type") != "purchase")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        tracked.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(
            F.col("prev_type").isNull()
            | (F.col("event_type") != F.col("prev_type"))
        )
        .select("user_id", "event_type", "ts", "event_id")
    )
    dim = changes.withColumn("version", F.row_number().over(w).cast("bigint"))
    d_side = dim.select(
        "user_id",
        F.col("ts").alias("t"),
        F.lit(0).alias("is_probe"),
        F.col("event_id").alias("tb"),
        "event_type",
        "version",
        F.lit(None).cast("bigint").alias("purchase_id"),
    )
    p_side = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("t"),
        F.lit(1).alias("is_probe"),
        F.col("event_id").alias("tb"),
        F.lit(None).cast("string").alias("event_type"),
        F.lit(None).cast("bigint").alias("version"),
        F.col("event_id").alias("purchase_id"),
    )
    wl = (
        Window.partitionBy("user_id")
        .orderBy("t", "is_probe", "tb")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        d_side.unionByName(p_side)
        .select(
            "user_id",
            "is_probe",
            "purchase_id",
            F.last("event_type", ignorenulls=True).over(wl).alias(
                "state_at_purchase"
            ),
            F.last("version", ignorenulls=True).over(wl).alias(
                "version_at_purchase"
            ),
        )
        .filter(F.col("is_probe") == 1)
        .select(
            "purchase_id",
            "user_id",
            "state_at_purchase",
            "version_at_purchase",
        )
    )


@query(
    "q_join_bloom_pruned",
    oracle=f"""
    SELECT o_orderpriority,
           count(*) AS n_items,
           {_sql_dsum("l_extendedprice * (1 - l_discount)", "revenue")}
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    WHERE o_totalprice > 400000
    GROUP BY o_orderpriority
    """,
)
def q_join_bloom_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selective fact-dim shuffle join — the runtime BLOOM-FILTER
    pruning shape (SURVEY §4's last untouched built-in 100-TB lever).

    orders filtered to whale orders (o_totalprice > 400000, a few
    percent of keys) joins lineitem on the orderkey. At 100 TB neither
    side broadcasts, so the join shuffles both — and most lineitem
    rows shuffle only to be discarded at the join. Catalyst's runtime
    Bloom-filter optimization (spark.sql.optimizer.runtime.
    bloomFilter.enabled) builds a bloom_filter_agg over the filtered
    creation side and injects might_contain(l_orderkey) into the
    lineitem scan side BEFORE its shuffle, pruning the dead rows at
    map time. The MERGE hint pins the sort-merge strategy the 100-TB
    planner would pick (the toy-scale planner would broadcast and
    bypass the demonstration).

    tests/test_plans.py::test_bloom_filter_join_pruning_fires enables
    the feature (the 10-GB application-side scan threshold blocks it
    at toy scale), asserts might_contain lands in the plan, and that
    results are identical with it on and off — a pure perf rewrite.
    Oracle: plain selective join (Bloom pruning is result-invariant).
    """
    l = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    o = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 400000)
        .select("o_orderkey", "o_orderpriority")
    )
    return (
        l.hint("merge")
        .join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            _dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"
            ),
        )
    )


@query(
    "q_join_lateral_topk",
    oracle="""
    SELECT r.r_name AS r_name, t.n_name AS n_name,
           t.n_customers AS n_customers
    FROM region r,
    LATERAL (
        SELECT n.n_name AS n_name,
               CAST(count(*) AS BIGINT) AS n_customers
        FROM nation n JOIN customer c ON c.c_nationkey = n.n_nationkey
        WHERE n.n_regionkey = r.r_regionkey
        GROUP BY n.n_name
        ORDER BY n_customers DESC, n_name
        LIMIT 2
    ) t
    """,
)
def q_join_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL (correlated table) join — the SQL-standard form of
    "for each row of the driving table, run this parameterized
    subquery": each region picks its top-2 nations by customer count.

    The lateral subquery references the OUTER row (r.r_regionkey) in
    its WHERE, aggregates, orders, and LIMITs — the shape analysts
    write naturally and engines must DECORRELATE: Spark rewrites the
    correlated LIMIT into a window-rank over a single grouped join
    (DomainJoin elimination), never a per-row re-execution loop — the
    same guarantee the EXISTS/scalar-subquery plan contracts pin for
    their shapes. Semantically identical to q_topk_per_group's
    window form; shipping both, hash-equal against the same oracle
    family, is API-surface parity (a reference-engine user migrating
    LATERAL queries keeps their syntax). Scale note: the driving side
    here is a dimension table; driving a LATERAL from a fact table is
    fine too AFTER decorrelation (it becomes one join + one window),
    which is exactly why the no-nested-loop audit covers this key.
    """
    for t in ("region", "nation", "customer"):
        load(spark, sf_dir, t).createOrReplaceTempView(f"lat_{t}")
    return spark.sql(
        """
        SELECT r.r_name AS r_name, t.n_name AS n_name,
               t.n_customers AS n_customers
        FROM lat_region r,
        LATERAL (
            SELECT n.n_name AS n_name,
                   CAST(count(*) AS BIGINT) AS n_customers
            FROM lat_nation n
            JOIN lat_customer c ON c.c_nationkey = n.n_nationkey
            WHERE n.n_regionkey = r.r_regionkey
            GROUP BY n.n_name
            ORDER BY n_customers DESC, n_name
            LIMIT 2
        ) t
        """
    )


@query(
    "q_join_shuffled_hash",
    oracle=f"""
    SELECT c_mktsegment,
           count(*) AS n_orders,
           {_sql_dsum('o_totalprice', 'sum_price')}
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def q_join_shuffled_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The THIRD equi-join strategy, pinned: SHUFFLE_HASH — completing
    the strategy triad with q_join_broadcast (no shuffle, dim fits
    everywhere) and q_join_sortmerge (shuffle + sort both sides).

    Shuffled-hash shuffles both sides on the key like sort-merge but
    then BUILDS an in-memory hash table from the smaller side per
    partition instead of sorting either side — the middle regime's
    win: the build side is too big to broadcast (it would have to fit
    on the driver AND in every executor), yet each of its shuffle
    partitions fits in one task's memory, so both sort passes are
    skipped. At 100 TB this is the fact ⋈ mid-size-dimension shape
    (e.g. 10^8-row customer dim): broadcast is impossible, sort-merge
    pays two O(n log n) sorts, shuffled-hash pays one hash build of
    fact_rows/num_partitions. The trade is memory discipline — the
    per-partition build must fit (size shuffle.partitions to the
    build side; AQE's OptimizeShuffledHashJoin makes the same call
    from runtime sizes). Plan contract
    (tests/test_plans.py::test_shuffled_hash_join_pinned): the hint
    yields ShuffledHashJoin — no SortMergeJoin, no sort operators on
    the join inputs, and no broadcast of a side the planner was told
    to treat as too big.
    """
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer").hint("SHUFFLE_HASH")
    return (
        o.join(c, o.o_custkey == c.c_custkey, "inner")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _dsum(F.col("o_totalprice"), "sum_price"),
        )
    )


@query(
    "q_join_dpp_prune",
    oracle=f"""
    WITH caldim AS (
        SELECT ship_year,
               date_diff('day', make_date(ship_year, 1, 1),
                         make_date(ship_year + 1, 1, 1)) AS n_days
        FROM (SELECT DISTINCT year(l_shipdate) AS ship_year FROM lineitem)
    )
    SELECT year(l_shipdate) AS ship_year,
           count(*) AS n_rows,
           {_sql_dsum('l_extendedprice', 'sum_revenue')}
    FROM lineitem
    JOIN caldim ON year(l_shipdate) = caldim.ship_year
    WHERE caldim.n_days = 366
    GROUP BY 1
    """,
)
def q_join_dpp_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic Partition Pruning — the star-schema scan killer and the
    one built-in 100-TB lever the join block didn't yet demonstrate:
    when a fact table is PARTITIONED on the join key and the dimension
    side carries a selective filter, Spark injects the dim's surviving
    join keys into the fact scan's PartitionFilters AT RUNTIME
    (dynamicpruningexpression over the reused broadcast), so pruned
    partitions are never read — not "filtered after read": never
    listed, never opened. On a date-partitioned 100-TB fact, a dim
    predicate selecting 2 of 2,500 day-partitions turns a full scan
    into ~0.1% I/O with zero query rewrite.

    Setup mirrors the TPC-DS date-dim shape on the fixture: lineitem
    is landed partitioned by ship_year (the hive layout a production
    fact would already have), the calendar dimension is derived with
    one attribute per year (its day count), and the query filters the
    DIM on that attribute (n_days = 366 → leap years) rather than on
    the partition column. Because the fixture attribute happens to be
    a deterministic function of the join key, constraint propagation
    ALSO folds a static twin of the predicate into the fact scan (a
    free bonus, visible in PartitionFilters); the contract pins the
    RUNTIME dynamicpruningexpression, which is the mechanism that
    remains when the dim attribute is genuinely external (is_holiday,
    fiscal-period flags, d_year = 2000 in a surrogate-keyed date dim)
    and no static fold exists. The dim is pinned broadcast, satisfying
    the default reuseBroadcastOnly contract (the pruning subquery
    reuses the join's own broadcast exchange — no second dim scan, no
    extra job). Plan contract (tests/test_plans.py::
    test_dpp_injects_runtime_partition_filter): the fact scan's
    PartitionFilters must carry a dynamicpruningexpression, and the
    result must equal the unpartitioned-join answer (the oracle joins
    raw lineitem — parity itself proves pruning lost no rows).
    """
    from .scans import _sink_dir

    out = _sink_dir("lineitem_by_shipyear")
    li = load(spark, sf_dir, "lineitem").select(
        F.year("l_shipdate").alias("ship_year"),
        "l_shipdate",
        "l_extendedprice",
    )
    li.write.mode("overwrite").partitionBy("ship_year").parquet(out)

    fact = spark.read.parquet(out)
    dim = (
        load(spark, sf_dir, "lineitem")
        .select(F.year("l_shipdate").alias("ship_year"))
        .distinct()
        .withColumn(
            "n_days",
            F.datediff(
                F.make_date(F.col("ship_year") + 1, F.lit(1), F.lit(1)),
                F.make_date(F.col("ship_year"), F.lit(1), F.lit(1)),
            ),
        )
        .filter(F.col("n_days") == 366)
    )
    return (
        fact.join(F.broadcast(dim), "ship_year", "inner")
        .groupBy("ship_year")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            _dsum(F.col("l_extendedprice"), "sum_revenue"),
        )
    )


def _skew_aqe_confs() -> dict[str, str]:
    """AQE skew-join thresholds scaled DOWN to fire on the toy fixture.

    At real scale the defaults (factor 5, 256 MB threshold) are right;
    here the hot partition is only ~hundreds of KB, so the detector
    thresholds shrink with the data. Shared by the query and its plan
    contract (tests/test_plans.py::test_join_skew_aqe_plan).

    The join's shuffle width is pinned too, not left to the session's
    cores: over N reduce partitions the hot one holds 0.3 + 0.7/N of the
    rows against 0.7/N for the others, which clears factor 2 only from
    N = 3 on, so a 2-core session would hide the skew."""
    return {
        "spark.sql.shuffle.partitions": "8",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "4KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "2KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }


def _skew_aqe_joined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skewed fact-dim join q_join_skew_aqe executes under AQE.

    orders gets a synthetic hot key (30% of rows collapse onto custkey
    42 — same distribution as the salting stress test, so the two
    mitigation paths are measured on identical skew). The md5 pad makes
    the hot partition's COMPRESSED shuffle bytes clear the scaled-down
    detector threshold; repartition(8) gives the join shuffle multiple
    map tasks so a skewed reduce partition has mapper ranges to split
    along."""
    pad = F.concat(
        *[
            F.md5(F.concat(F.col("o_orderkey").cast("string"), F.lit(str(i))))
            for i in range(4)
        ]
    )
    fact = (
        load(spark, sf_dir, "orders")
        .repartition(8)
        .select(
            F.when(F.col("o_orderkey") % 10 < 3, F.lit(42))
            .otherwise(F.col("o_custkey"))
            .alias("custkey"),
            "o_orderkey",
            "o_totalprice",
            pad.alias("pad"),
        )
    )
    dim = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_mktsegment"
    )
    return fact.join(dim, "custkey")


@query(
    "q_join_skew_aqe",
    oracle="""
    WITH fact AS (
        SELECT CASE WHEN o_orderkey % 10 < 3 THEN 42 ELSE o_custkey END
                   AS custkey,
               o_orderkey, o_totalprice
        FROM orders
    )
    SELECT c.c_mktsegment,
           count(*) AS n_orders,
           count(DISTINCT f.custkey) AS n_custs,
           min(f.o_totalprice) AS min_price,
           max(f.o_totalprice) AS max_price
    FROM fact f JOIN customer c ON f.custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def q_join_skew_aqe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated join via AQE's OptimizeSkewedJoin — the AUTOMATIC
    twin of q_join_salted_skew (explicit salting) on the same synthetic
    hot-key distribution (one customer owning ~30% of orders). AQE reads
    the map-output statistics at the shuffle boundary, detects the
    oversized reduce partition, and splits it along mapper-index ranges,
    replicating the matching dim rows — no query rewrite, no salt column.
    This is the production-default path for moderate skew at 100 TB
    (defaults: factor 5 / 256 MB); explicit salting remains the tool for
    single-key hot spots AQE cannot subdivide further.

    The skew confs are runtime-read, so the join is EXECUTED inside the
    scoped-conf block and the 5-row aggregate is localized before the
    confs are restored (returning a lazy plan would execute after
    restore, silently dropping the skew handling — same eager-execute
    discipline as scans.py's dynamic-overwrite sink). Driver data is
    O(groups): 5 rows. Aggregates are count/distinct/min/max — exact,
    no float-sum parity caveats.
    """
    confs = _skew_aqe_confs()
    old: dict[str, str | None] = {}
    for k in confs:
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        agg = (
            _skew_aqe_joined(spark, sf_dir)
            .groupBy("c_mktsegment")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.countDistinct("custkey").alias("n_custs"),
                F.min("o_totalprice").alias("min_price"),
                F.max("o_totalprice").alias("max_price"),
            )
        )
        rows = agg.collect()
        schema = agg.schema
    finally:
        for k, v in old.items():
            if v is None:
                try:
                    spark.conf.unset(k)
                except Exception:
                    pass
            else:
                spark.conf.set(k, v)
    return spark.createDataFrame(rows, schema)


@query(
    "q_join_null_skew",
    oracle="""
    SELECT coalesce(c.c_mktsegment, '<no-key>') AS seg,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT f.o_orderkey) AS BIGINT) AS n_orders,
           max(f.o_totalprice) AS max_price
    FROM (SELECT CASE WHEN o_orderkey % 5 = 0 THEN NULL
                      ELSE o_custkey END AS k,
                 o_orderkey, o_totalprice
          FROM orders) f
    LEFT JOIN customer c ON f.k = c.c_custkey
    GROUP BY seg
    """,
)
def q_join_null_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-key bypass for outer joins — the third skew-mitigation tool
    next to salting (q_join_salted_skew) and AQE splitting
    (q_join_skew_aqe), for the skew AQE cannot fix: NULL join keys. A
    null key can never match, but a plain LEFT JOIN still shuffles every
    null-key row, and they all hash to ONE reduce partition — in
    real fact tables (optional foreign keys, unparseable IDs) nulls are
    routinely 10-50% of rows, so that partition becomes the straggler.
    The rewrite splits map-side: null-key rows bypass the shuffle
    entirely (a map-only branch appending the dim columns as typed
    nulls), only non-null keys join, and UNION reassembles — same
    semantics, proven by the oracle being the PLAIN left join. 20% of
    keys are nulled by modulus here (deterministic), and the aggregate
    keeps the output O(segments).
    """
    o = load(spark, sf_dir, "orders").select(
        F.when(F.col("o_orderkey") % 5 == 0, F.lit(None).cast("long"))
        .otherwise(F.col("o_custkey"))
        .alias("k"),
        "o_orderkey",
        "o_totalprice",
    )
    dim = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"), "c_mktsegment"
    )
    matched = o.filter(F.col("k").isNotNull()).join(dim, "k", "left")
    bypassed = o.filter(F.col("k").isNull()).withColumn(
        "c_mktsegment", F.lit(None).cast("string")
    )
    return (
        matched.unionByName(bypassed)
        .groupBy(F.coalesce("c_mktsegment", F.lit("<no-key>")).alias("seg"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("o_orderkey").alias("n_orders"),
            F.max("o_totalprice").alias("max_price"),
        )
    )


@query(
    "q_join_geo_grid",
    oracle="""
    WITH c AS (SELECT c_custkey, c_mktsegment,
                      (c_custkey * 7919) % 200000 AS x,
                      (c_custkey * 104729) % 200000 AS y
               FROM customer),
         s AS (SELECT s_suppkey,
                      (s_suppkey * 7919 + 131) % 200000 AS sx,
                      (s_suppkey * 104729 + 257) % 200000 AS sy
               FROM supplier)
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(count(DISTINCT c_custkey) AS BIGINT) AS n_matched_customers,
           CAST(min((x-sx)*(x-sx) + (y-sy)*(y-sy)) AS BIGINT) AS min_d2
    FROM c, s
    WHERE (x-sx)*(x-sx) + (y-sy)*(y-sy) <= 25000000
    GROUP BY c_mktsegment
    """,
)
def q_join_geo_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial radius join via GRID-CELL bucketing — the geohash family
    of the LSH/band tricks this repo uses for similarity: points in a
    2-D plane (deterministic integer-meter coordinates synthesized from
    keys), find all (customer, supplier) pairs within radius R. The
    scale shape: bucket each point into an R-sized grid cell, replicate
    the SMALL side into its 3x3 neighborhood (any pair within R spans
    adjacent cells at most — cell size == R guarantees losslessness),
    equi-join on cell, then apply the exact distance predicate. The
    cross product never materializes: candidates are O(points x
    density), not O(n*m) — exactly how production engines (and Sedona /
    PostGIS grid strategies) execute distance joins. Each supplier's 9
    expanded cells are DISTINCT, and a customer has ONE cell, so no
    pair can match twice — no dedup pass needed. The distance filter is
    INTEGER arithmetic (squared meters vs R^2) so the boundary decision
    is exact in both engines — no transcendental in any predicate (the
    haversine form lives in the trig batteries; a float boundary could
    flip on a ulp). The oracle is the brute-force cross join — lossless
    bucketing must return identical pairs.
    """
    R2 = 25_000_000  # R = 5,000 m, squared
    CELL = 5_000     # cell size == R => 3x3 neighborhood is lossless
    c = load(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        ((F.col("c_custkey") * 7919) % 200000).alias("x"),
        ((F.col("c_custkey") * 104729) % 200000).alias("y"),
    )
    s = load(spark, sf_dir, "supplier").select(
        "s_suppkey",
        ((F.col("s_suppkey") * 7919 + 131) % 200000).alias("sx"),
        ((F.col("s_suppkey") * 104729 + 257) % 200000).alias("sy"),
    )
    s_exp = (
        s.select("*", F.explode(F.expr("sequence(-1, 1)")).alias("dx"))
        .select("*", F.explode(F.expr("sequence(-1, 1)")).alias("dy"))
        .select(
            "s_suppkey",
            "sx",
            "sy",
            (F.floor(F.col("sx") / CELL) + F.col("dx")).alias("cx"),
            (F.floor(F.col("sy") / CELL) + F.col("dy")).alias("cy"),
        )
    )
    cc = c.select(
        "*",
        F.floor(F.col("x") / CELL).alias("cx"),
        F.floor(F.col("y") / CELL).alias("cy"),
    )
    d2 = (F.col("x") - F.col("sx")) * (F.col("x") - F.col("sx")) + (
        F.col("y") - F.col("sy")
    ) * (F.col("y") - F.col("sy"))
    pairs = cc.join(s_exp, ["cx", "cy"]).filter(d2 <= R2)
    return pairs.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.countDistinct("c_custkey").alias("n_matched_customers"),
        F.min(d2).alias("min_d2"),
    )


@query(
    "q_join_nearest_value",
    oracle="""
    WITH refs AS (
        SELECT s_suppkey, (s_suppkey * 4799) % 500000 AS price_point
        FROM supplier
    ),
    ranked AS (
        SELECT o_orderkey, s_suppkey,
               abs(o_totalprice - price_point) AS dist,
               row_number() OVER (
                   PARTITION BY o_orderkey
                   ORDER BY abs(o_totalprice - price_point), s_suppkey) AS rn
        FROM orders, refs
    )
    SELECT o_orderkey, s_suppkey AS nearest_supp, dist
    FROM ranked WHERE rn = 1
    """,
)
def q_join_nearest_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-VALUE 1-D join: every order matched to the reference row
    whose (synthesized) price point is numerically closest — the
    price-matching / sensor-calibration shape that as-of joins don't
    cover (as-of picks the latest BEFORE; nearest picks the MIN
    DISTANCE in either direction). Scale shape for a dimension-sized
    reference side: collect the refs ONCE driver-side (O(dim) — same
    class as the broadcast-centroid keys), sort them, and run a
    vectorized np.searchsorted per Arrow batch — O(n log m) map-only
    with the scan, ZERO shuffles, one row out per probe. A first cut
    used broadcast-cross-join + struct-argmin: correct, but it
    materializes n x m rows through a row-at-a-time
    BroadcastNestedLoopJoin (45 s at sf0.1 vs 0.4 s for this kernel —
    the bench caught it); binary search is the honest algorithm when
    one side fits in memory. The left/right neighbors from searchsorted
    are compared exactly (|double - exact-integer-double| — IEEE
    subtraction of exactly-representable values), equidistant ties
    break on the smaller ref key, matching the oracle's ORDER BY
    (dist, s_suppkey). The oracle is the full cross product, ranked —
    proving the search lossless. When BOTH sides are fact-scale the
    play becomes the sorted union-merge (q_join_asof family) with
    forward+backward candidates — documented, not needed at dim scale.
    """
    import numpy as np

    refs = (
        load(spark, sf_dir, "supplier")
        .select(
            "s_suppkey",
            ((F.col("s_suppkey") * 4799) % 500000).alias("price_point"),
        )
        .orderBy("price_point", "s_suppkey")
        .collect()
    )  # O(dim): the ref side is a dimension table (same class as centroids)
    points = np.array([r.price_point for r in refs], dtype="float64")
    keys = np.array([r.s_suppkey for r in refs], dtype="int64")

    @pandas_udf("nearest_supp long, dist double")
    def nearest(prices: pd.Series) -> pd.DataFrame:
        v = prices.to_numpy(dtype="float64")
        idx = np.searchsorted(points, v)
        left = np.clip(idx - 1, 0, len(points) - 1)
        right = np.clip(idx, 0, len(points) - 1)
        dl = np.abs(v - points[left])
        dr = np.abs(v - points[right])
        kl, kr = keys[left], keys[right]
        pick_left = (dl < dr) | ((dl == dr) & (kl <= kr))
        return pd.DataFrame(
            {
                "nearest_supp": np.where(pick_left, kl, kr),
                "dist": np.where(pick_left, dl, dr),
            }
        )

    probes = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    return probes.select(
        "o_orderkey", nearest("o_totalprice").alias("m")
    ).select("o_orderkey", "m.nearest_supp", "m.dist")


@query(
    "q_join_spatial_knn",
    oracle="""
    WITH c AS (SELECT c_custkey,
                      (c_custkey * 7919) % 200000 AS x,
                      (c_custkey * 104729) % 200000 AS y
               FROM customer),
         s AS (SELECT s_suppkey,
                      (s_suppkey * 7919 + 131) % 200000 AS sx,
                      (s_suppkey * 104729 + 257) % 200000 AS sy
               FROM supplier),
         r AS (
             SELECT c_custkey, s_suppkey,
                    (x-sx)*(x-sx) + (y-sy)*(y-sy) AS d2,
                    row_number() OVER (
                        PARTITION BY c_custkey
                        ORDER BY (x-sx)*(x-sx) + (y-sy)*(y-sy), s_suppkey
                    ) AS rnk
             FROM c, s
         )
    SELECT c_custkey, cast(rnk AS bigint) AS rnk, s_suppkey, d2
    FROM r WHERE rnk <= 3
    """,
)
def q_join_spatial_knn(
    spark: SparkSession, sf_dir: str, cell: int | None = None
) -> DataFrame:
    """EXACT spatial k-nearest-neighbors join (k=3): every customer point
    matched to its 3 nearest supplier points in the same deterministic
    integer plane as q_join_geo_grid, ties broken by s_suppkey.

    Two-phase grid-pruned plan — the production shape for exact spatial
    KNN (Sedona/PostGIS "KNN with distance browsing" family):

      1. CANDIDATES: suppliers grid-bucketed at a DENSITY-ADAPTIVE cell
         size and replicated into their 3x3 neighborhood, equi-joined
         on cell, ranked per customer by (d2, s_suppkey). Any point
         OUTSIDE the 3x3 neighborhood differs by > CELL in x or y
         (integer coords: d2 >= (CELL+1)^2), so a customer whose 3rd
         candidate has d2 <= CELL^2 provably has its true top-3 inside
         the neighborhood — the EXACTNESS GUARANTEE, decided in integer
         arithmetic (no float boundary to flip on a ulp).
      2. FALLBACK: customers with < 3 candidates or 3rd-candidate
         d2 > CELL^2 re-rank against the full (broadcast) supplier dim.
         In a dense corpus the fallback fraction is the sparse-region
         tail; at 100 TB with a non-broadcastable point set it becomes
         the next ring expansion (5x5, 7x7, ...) of the same grid join
         — the plan shape is unchanged.

    CELL SIZING is where the 100-TB story lives: for a Poisson point
    field the kth-NN distance concentrates at sqrt(k/(pi*rho)), so a
    fixed cell is wrong at every other density — too small floods the
    fallback, too big floods the candidate join. CELL = D*sqrt(1.5/n)
    puts ~85% of points inside the guarantee (pi*rho*d_k^2 ~ Gamma(k):
    the 85th percentile of Gamma(3) is ~4.7 ~= 1.5*pi) while keeping
    EXPECTED CANDIDATES PER POINT CONSTANT (~13.5 = 9*1.5, independent
    of n) — the property that makes the join linear at any scale. The
    index-side count n is the one driver-side scalar (same class as a
    broadcast dim's size; at 100 TB it comes from table stats). The
    RESULT is cell-size-invariant — both phases are exact — which
    tests/test_invariants.py pins by re-running with a deliberately
    tiny cell.

    The candidate join never materializes the cross product —
    O(points x density), not O(n x m) — and both rank windows partition
    by c_custkey (cardinality grows with data; no global window). The
    oracle is the brute-force cross-join rank: lossless pruning must
    return identical rows.
    """
    s_raw = load(spark, sf_dir, "supplier")
    if cell is None:
        # density-adaptive: D * sqrt(1.5/n), clamped to the domain
        n_sup = max(1, s_raw.count())
        cell = max(1, min(200_000, int(200_000 * (1.5 / n_sup) ** 0.5)))
    CELL = cell
    c = load(spark, sf_dir, "customer").select(
        "c_custkey",
        ((F.col("c_custkey") * 7919) % 200000).alias("x"),
        ((F.col("c_custkey") * 104729) % 200000).alias("y"),
    )
    s = s_raw.select(
        "s_suppkey",
        ((F.col("s_suppkey") * 7919 + 131) % 200000).alias("sx"),
        ((F.col("s_suppkey") * 104729 + 257) % 200000).alias("sy"),
    )
    s_exp = (
        s.select("*", F.explode(F.expr("sequence(-1, 1)")).alias("dx"))
        .select("*", F.explode(F.expr("sequence(-1, 1)")).alias("dy"))
        .select(
            "s_suppkey",
            "sx",
            "sy",
            (F.floor(F.col("sx") / CELL) + F.col("dx")).alias("cx"),
            (F.floor(F.col("sy") / CELL) + F.col("dy")).alias("cy"),
        )
    )
    cc = c.select(
        "*",
        F.floor(F.col("x") / CELL).alias("cx"),
        F.floor(F.col("y") / CELL).alias("cy"),
    )
    d2 = (F.col("x") - F.col("sx")) * (F.col("x") - F.col("sx")) + (
        F.col("y") - F.col("sy")
    ) * (F.col("y") - F.col("sy"))
    wk = Window.partitionBy("c_custkey").orderBy("d2", "s_suppkey")
    cand = (
        cc.join(s_exp, ["cx", "cy"])
        .select("c_custkey", "x", "y", "s_suppkey", d2.alias("d2"))
        .withColumn("rnk", F.row_number().over(wk))
        .filter(F.col("rnk") <= 3)
    )
    # exactness guarantee: 3 candidates AND 3rd-best d2 <= CELL^2 —
    # decided with whole-partition window aggregates over the SAME
    # c_custkey partitioning as the rank (shuffle reused, no extra
    # exchange; the guarantee set is O(customers), so it is NEVER
    # broadcast — the fallback anti-join shuffles on the key).
    wc = Window.partitionBy("c_custkey")
    cand_g = cand.withColumn("n_cand", F.count(F.lit(1)).over(wc)).withColumn(
        "kth_d2", F.max("d2").over(wc)
    )
    exact = cand_g.filter(
        (F.col("n_cand") == 3) & (F.col("kth_d2") <= CELL * CELL)
    )
    exact_keys = exact.select("c_custkey").distinct()
    fallback_pts = cc.join(exact_keys, "c_custkey", "left_anti")
    fallback = (
        fallback_pts.crossJoin(F.broadcast(s))
        .select("c_custkey", "s_suppkey", d2.alias("d2"))
        .withColumn("rnk", F.row_number().over(wk))
        .filter(F.col("rnk") <= 3)
    )
    cols = ["c_custkey", F.col("rnk").cast("bigint").alias("rnk"), "s_suppkey", "d2"]
    return exact.select(*cols).unionAll(fallback.select(*cols))
