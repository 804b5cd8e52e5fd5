"""Decision-support relational suite (TPC-H-shaped, adapted to the driver
schema).

The reference engine's relational surface (scan → filter → join → group →
order, see ``/root/reference/src/data/data_loader.py`` and the aggregation
paths in ``/root/reference/src/features/feature_engineering.py``) is
exercised here against the classic decision-support query shapes: semi- and
anti-joins, scalar-subquery comparisons, share-of-total, argmin-per-group,
histogram-of-counts and multi-branch OR join predicates. The driver tables
omit ``partsupp`` and the ship/commit/receipt date triple, so queries that
need them are re-based on ``lineitem`` history (noted per function).

Scale posture (shared by every builder here):
- dimension tables (``nation``, ``region``, filtered ``supplier`` /
  ``customer`` / ``part``) are broadcast — the fact-side scan never
  shuffles for them;
- filters are applied BEFORE joins so they reach the parquet scan
  (predicate pushdown + column pruning);
- money sums go through ``decimal`` casts so results are
  reduction-order-invariant (bit-exact across partitionings — the property
  that makes a 1000-executor run hash-identical to local[32]);
- per-group argmin/top-k use window-rank or ``TakeOrderedAndProject``,
  never a global sort of the fact table.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.lineage import reuse

__all__ = [
    "abc_classification",
    "customer_distribution",
    "fulfillment_latency",
    "order_backlog",
    "price_dispersion_screen",
    "supplier_concentration",
    "discounted_revenue",
    "idle_customers",
    "market_share",
    "min_cost_supplier",
    "order_priority_check",
    "part_concentration",
    "parts_supplier_counts",
    "product_profit",
    "promo_revenue",
    "returned_items_report",
    "small_qty_revenue",
    "top_supplier",
    "trade_volume",
]

D = "decimal(18,2)"


def _rev(price: str = "l_extendedprice", disc: str = "l_discount") -> Column:
    """Order-invariant revenue term: decimal price × (1 − decimal discount)."""
    return F.col(price).cast(D) * (F.lit(1) - F.col(disc).cast(D))


def order_priority_check(
    orders: DataFrame,
    lineitem: DataFrame,
    start: str,
    end: str,
    late_days: int = 30,
) -> DataFrame:
    """Q4 shape: orders per priority with ≥1 line shipped late.

    The lateness predicate references both sides (l_shipdate vs
    o_orderdate), so it rides the equi-join as a residual condition; the
    LEFT SEMI join form means a multi-line late order counts once without
    a distinct. The date filter prunes the orders scan before the join.
    """
    o = orders.where(
        (F.col("o_orderdate") >= F.lit(start).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(end).cast("timestamp"))
    )
    late = (
        lineitem["l_orderkey"] == o["o_orderkey"]
    ) & (
        lineitem["l_shipdate"]
        > o["o_orderdate"] + F.expr(f"INTERVAL {late_days} DAYS")
    )
    return (
        o.join(lineitem, late, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


def trade_volume(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    nation_a: str,
    nation_b: str,
) -> DataFrame:
    """Q7 shape: shipped revenue between two nations, by direction × year.

    Both endpoint dims are pre-filtered to the two nations (2/25 of rows)
    and broadcast, so the only shuffle is the lineitem⋈orders equi-join.
    The direction predicate (supp_nation ≠ cust_nation) is applied after
    both broadcasts, fact-side.
    """
    nat = nation.where(F.col("n_name").isin(nation_a, nation_b)).select(
        "n_nationkey", "n_name"
    )
    supp = supplier.join(
        F.broadcast(nat), supplier["s_nationkey"] == nat["n_nationkey"]
    ).select("s_suppkey", F.col("n_name").alias("supp_nation"))
    cust = customer.join(
        F.broadcast(nat), customer["c_nationkey"] == nat["n_nationkey"]
    ).select("c_custkey", F.col("n_name").alias("cust_nation"))
    return (
        lineitem.join(F.broadcast(supp), lineitem["l_suppkey"] == supp["s_suppkey"])
        .join(orders, lineitem["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .where(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("ship_year"),
        )
        .agg(F.sum(_rev()).cast("double").alias("volume"))
        .orderBy("supp_nation", "cust_nation", "ship_year")
    )


def market_share(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    part: DataFrame,
    target_nation: str,
    region_name: str,
    p_type: str,
) -> DataFrame:
    """Q8 shape: target nation's share of a part-type market in a region.

    Share-of-total inside one aggregate: sum(CASE supp_nation) / sum(rev)
    per order year — a single groupBy, no second pass over the fact. The
    part filter is the most selective predicate and broadcasts.
    """
    pt = part.where(F.col("p_type") == p_type).select("p_partkey")
    reg_nat = (
        nation.join(
            F.broadcast(region.where(F.col("r_name") == region_name)),
            nation["n_regionkey"] == region["r_regionkey"],
        ).select("n_nationkey")
    )
    cust = customer.join(
        F.broadcast(reg_nat), customer["c_nationkey"] == reg_nat["n_nationkey"]
    ).select("c_custkey")
    supp = supplier.join(
        F.broadcast(nation.select("n_nationkey", "n_name")),
        supplier["s_nationkey"] == nation["n_nationkey"],
    ).select("s_suppkey", F.col("n_name").alias("supp_nation"))
    rev = _rev()
    return (
        lineitem.join(F.broadcast(pt), lineitem["l_partkey"] == pt["p_partkey"])
        .join(F.broadcast(supp), lineitem["l_suppkey"] == supp["s_suppkey"])
        .join(orders, lineitem["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .groupBy(F.year("o_orderdate").alias("order_year"))
        .agg(
            F.sum(
                F.when(F.col("supp_nation") == target_nation, rev).otherwise(
                    F.lit(0).cast(D)
                )
            ).alias("_target"),
            F.sum(rev).alias("_total"),
        )
        .select(
            "order_year",
            (
                F.col("_target").cast("double") / F.col("_total").cast("double")
            ).alias("mkt_share"),
        )
        .orderBy("order_year")
    )


def product_profit(
    lineitem: DataFrame,
    orders: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    part: DataFrame,
    name_contains: str,
    cost_factor_pct: int = 60,
) -> DataFrame:
    """Q9 shape: profit by supplier nation × year for a part-name family.

    No ``partsupp`` in the driver schema, so supply cost is modeled as
    ``cost_factor_pct/100 × p_retailprice`` (the classic query's
    ps_supplycost role). All arithmetic stays ×100 integer-scaled decimal
    until the final division, so the sum is reduction-order exact.
    """
    pt = part.where(F.col("p_name").contains(name_contains)).select(
        "p_partkey", "p_retailprice"
    )
    supp = supplier.join(
        F.broadcast(nation.select("n_nationkey", "n_name")),
        supplier["s_nationkey"] == nation["n_nationkey"],
    ).select("s_suppkey", F.col("n_name").alias("supp_nation"))
    profit100 = F.lit(100) * _rev() - F.lit(cost_factor_pct) * F.col(
        "p_retailprice"
    ).cast(D) * F.col("l_quantity").cast(D)
    return (
        lineitem.join(F.broadcast(pt), lineitem["l_partkey"] == pt["p_partkey"])
        .join(F.broadcast(supp), lineitem["l_suppkey"] == supp["s_suppkey"])
        .join(orders, lineitem["l_orderkey"] == orders["o_orderkey"])
        .groupBy("supp_nation", F.year("o_orderdate").alias("order_year"))
        .agg((F.sum(profit100).cast("double") / F.lit(100.0)).alias("profit"))
        .orderBy("supp_nation", F.desc("order_year"))
    )


def returned_items_report(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    nation: DataFrame,
    start: str,
    end: str,
    k: int = 20,
) -> DataFrame:
    """Q10 shape: top-k customers by revenue lost to returns in a quarter.

    Orders are date-pruned before the join; the returnflag filter prunes
    lineitem at the scan. Customer cardinality after the groupBy is small,
    so top-k compiles to TakeOrderedAndProject — no global sort.
    """
    o = orders.where(
        (F.col("o_orderdate") >= F.lit(start).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(end).cast("timestamp"))
    )
    li = lineitem.where(F.col("l_returnflag") == "R")
    cust = customer.join(
        F.broadcast(nation.select("n_nationkey", "n_name")),
        customer["c_nationkey"] == nation["n_nationkey"],
    ).select("c_custkey", "c_name", "c_acctbal", "n_name")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(cust), o["o_custkey"] == cust["c_custkey"])
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum(_rev()).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(k)
    )


def part_concentration(
    lineitem: DataFrame, over_uniform: float = 1.5
) -> DataFrame:
    """Q11 shape: parts whose revenue share exceeds ``over_uniform`` times
    the uniform share (1/|parts|) — the classic query's scalar-subquery
    floor, made scale-invariant so the screen stays meaningful as the
    part universe grows. Per-part aggregate × broadcast (Σ, n) scalar;
    one shuffle on l_partkey, then a map-side broadcast compare. Both
    sums are decimal-exact; the compare is the cross-multiplication
    ``pv·n > k·Σ`` on doubles derived from exact decimals, so it is
    bit-identical across engines and partitionings.
    """
    per_part = lineitem.groupBy("l_partkey").agg(
        F.sum(_rev()).alias("part_value")
    )
    total = per_part.agg(
        F.sum("part_value").alias("total_value"),
        F.count(F.lit(1)).alias("n_parts"),
    )
    return (
        per_part.crossJoin(F.broadcast(total))
        .where(
            F.col("part_value").cast("double") * F.col("n_parts")
            > F.lit(over_uniform) * F.col("total_value").cast("double")
        )
        .select(
            "l_partkey",
            F.col("part_value").cast("double").alias("part_value"),
            (
                F.col("part_value").cast("double")
                / F.col("total_value").cast("double")
            ).alias("share"),
        )
        .orderBy(F.desc("part_value"), "l_partkey")
    )


def customer_distribution(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """Q13 shape: histogram of orders-per-customer, zero-order customers
    included. Left join keeps silent customers; counting a right-side
    column (not *) makes the null rows count 0. Two shuffles total, the
    second on the tiny (count)-keyed aggregate.
    """
    per_cust = (
        customer.join(
            orders, customer["c_custkey"] == orders["o_custkey"], "left"
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


def promo_revenue(
    lineitem: DataFrame, part: DataFrame, year: int
) -> DataFrame:
    """Q14 shape: monthly % of revenue from promotional parts.

    The part dim broadcasts; numerator/denominator land in one aggregate
    pass (conditional sum), ×100 at the final double stage.
    """
    li = lineitem.where(F.year("l_shipdate") == year)
    pt = part.select("p_partkey", "p_type")
    rev = _rev()
    return (
        li.join(F.broadcast(pt), li["l_partkey"] == pt["p_partkey"])
        .groupBy(F.month("l_shipdate").alias("ship_month"))
        .agg(
            F.sum(
                F.when(F.col("p_type") == "PROMO", rev).otherwise(
                    F.lit(0).cast(D)
                )
            ).alias("_promo"),
            F.sum(rev).alias("_total"),
        )
        .select(
            "ship_month",
            (
                F.lit(100.0)
                * F.col("_promo").cast("double")
                / F.col("_total").cast("double")
            ).alias("promo_pct"),
        )
        .orderBy("ship_month")
    )


def top_supplier(
    lineitem: DataFrame, supplier: DataFrame, start: str, end: str
) -> DataFrame:
    """Q15 shape: the supplier(s) achieving max quarterly revenue (ties
    kept, as the classic query demands). The max is a broadcast scalar
    over the already-aggregated |suppliers| rows; equality on the DECIMAL
    sums is exact, so ties are deterministic across engines and
    partitionings — comparing doubles here would be a flake.
    """
    li = lineitem.where(
        (F.col("l_shipdate") >= F.lit(start).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(end).cast("timestamp"))
    )
    per_supp = li.groupBy("l_suppkey").agg(F.sum(_rev()).alias("total_rev"))
    best = per_supp.agg(F.max("total_rev").alias("max_rev"))
    return (
        per_supp.crossJoin(F.broadcast(best))
        .where(F.col("total_rev") == F.col("max_rev"))
        .join(
            F.broadcast(supplier.select("s_suppkey", "s_name")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .select(
            "s_suppkey",
            "s_name",
            F.col("total_rev").cast("double").alias("total_rev"),
        )
        .orderBy("s_suppkey")
    )


def parts_supplier_counts(
    lineitem: DataFrame,
    part: DataFrame,
    supplier: DataFrame,
    excl_brand: str,
    excl_type: str,
) -> DataFrame:
    """Q16 shape: distinct supplier count per (brand, type, size bucket),
    with a part-attribute exclusion and a supplier blacklist (negative
    account balance stands in for the classic complaints LIKE).

    ``partsupp`` is absent, so the supplier×part relation is derived from
    observed lineitem pairs. The pair-distinct happens BEFORE the part
    join (smaller shuffle key set), the blacklist is a broadcast
    LEFT ANTI, and the final distinct-count is the only wide aggregate.
    """
    pairs = lineitem.select("l_partkey", "l_suppkey").distinct()
    bad_supp = supplier.where(F.col("s_acctbal") < 0).select("s_suppkey")
    pt = part.where(
        (F.col("p_brand") != excl_brand) & (~F.col("p_type").startswith(excl_type))
    ).select(
        "p_partkey",
        "p_brand",
        "p_type",
        (F.col("p_size") - F.col("p_size") % 10).alias("size_bucket"),
    )
    return (
        pairs.join(
            F.broadcast(bad_supp),
            pairs["l_suppkey"] == bad_supp["s_suppkey"],
            "left_anti",
        )
        .join(F.broadcast(pt), pairs["l_partkey"] == pt["p_partkey"])
        .groupBy("p_brand", "p_type", "size_bucket")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "size_bucket")
    )


def small_qty_revenue(
    lineitem: DataFrame, part: DataFrame, brand: str
) -> DataFrame:
    """Q17 shape: yearly revenue opportunity in small-quantity orders —
    lines whose quantity is below half the part's average quantity.

    The correlated AVG is a per-part aggregate joined back (broadcast:
    one row per brand part). The below-half-average predicate is the
    integer-scaled cross-multiplication ``2·qty·n < Σqty`` — decimal
    exact on both engines, immune to double-division boundary flips.
    """
    pt = part.where(F.col("p_brand") == brand).select("p_partkey")
    li = lineitem.join(
        F.broadcast(pt), lineitem["l_partkey"] == pt["p_partkey"]
    ).select("l_partkey", "l_quantity", "l_extendedprice")
    per_part = li.groupBy("l_partkey").agg(
        F.sum(F.col("l_quantity").cast(D)).alias("sum_qty"),
        F.count(F.lit(1)).alias("n_lines"),
    )
    return (
        li.join(F.broadcast(per_part), "l_partkey")
        .where(
            F.lit(2) * F.col("l_quantity").cast(D) * F.col("n_lines")
            < F.col("sum_qty")
        )
        .agg(
            (
                F.sum(F.col("l_extendedprice").cast(D)).cast("double")
                / F.lit(7.0)
            ).alias("avg_yearly")
        )
    )


def discounted_revenue(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """Q19 shape: revenue from three OR'd (brand × size-range × qty-range)
    branches. One broadcast equi-join on partkey carries all three
    branches as a residual disjunction — Catalyst keeps the partkey
    equality as the join key instead of degenerating to a cross product.
    """
    pt = part.select("p_partkey", "p_brand", "p_size")
    j = lineitem.join(F.broadcast(pt), lineitem["l_partkey"] == pt["p_partkey"])
    q = F.col("l_quantity")
    branch = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15) & q.between(1, 11))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 10) & q.between(10, 20))
        | ((F.col("p_brand") == "Brand#5") & F.col("p_size").between(1, 5) & q.between(20, 30))
    )
    return j.where(branch).agg(F.sum(_rev()).cast("double").alias("revenue"))


def idle_customers(
    customer: DataFrame, orders: DataFrame, since: str
) -> DataFrame:
    """Q22 shape: per-nation count + balance of above-average-balance
    customers with no orders since a cutoff. The positive-balance average
    is a broadcast scalar kept as (Σ, n) so the comparison is the exact
    cross-multiplication ``bal·n > Σ``; the dormancy test is a LEFT ANTI
    join against the date-pruned orders key projection (the date filter
    reaches the orders scan, so the anti-join side shrinks before any
    shuffle).
    """
    bal = F.col("c_acctbal").cast(D)
    pos = customer.where(F.col("c_acctbal") > 0).agg(
        F.sum(bal).alias("sum_pos"), F.count(F.lit(1)).alias("n_pos")
    )
    recent = orders.where(
        F.col("o_orderdate") >= F.lit(since).cast("timestamp")
    ).select("o_custkey")
    return (
        customer.crossJoin(F.broadcast(pos))
        .where(bal * F.col("n_pos") > F.col("sum_pos"))
        .join(
            recent,
            customer["c_custkey"] == recent["o_custkey"],
            "left_anti",
        )
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(bal).cast("double").alias("totacctbal"),
        )
        .orderBy("c_nationkey")
    )


def min_cost_supplier(
    lineitem: DataFrame,
    part: DataFrame,
    supplier: DataFrame,
    p_type: str,
    size_min: int,
    size_max: int,
) -> DataFrame:
    """Q2 shape: for each part in a (type, size-range) family, the
    supplier with the lowest observed total supply cost. ``partsupp`` is
    absent, so cost is the decimal sum of discounted lineitem price per
    (part, supplier). Argmin = row_number over the per-part window
    ordered by (exact decimal cost, suppkey) — deterministic ties, and
    the window runs on the post-aggregate (part×supplier) rows, never on
    the raw fact.
    """
    pt = part.where(
        (F.col("p_type") == p_type)
        & F.col("p_size").between(size_min, size_max)
    ).select("p_partkey", "p_name")
    per = (
        lineitem.join(F.broadcast(pt), lineitem["l_partkey"] == pt["p_partkey"])
        .groupBy("p_partkey", "p_name", "l_suppkey")
        .agg(F.sum(_rev()).alias("supply_cost"))
    )
    w = Window.partitionBy("p_partkey").orderBy("supply_cost", "l_suppkey")
    return (
        per.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .join(
            F.broadcast(supplier.select("s_suppkey", "s_name")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .select(
            "p_partkey",
            "p_name",
            "s_suppkey",
            "s_name",
            F.col("supply_cost").cast("double").alias("supply_cost"),
        )
        .orderBy("p_partkey")
    )


def fulfillment_latency(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Order-to-first-ship latency distribution per order priority —
    the operational-SLA readout of the orders⋈lineitem relation.
    Latency is an exact integer day count, so the per-priority
    quantiles (linear interpolation, quantile_cont semantics) and mean
    are bit-deterministic. Two shuffles: the per-order min-shipdate
    aggregate and the priority rollup; orders join the |orders|-row
    aggregate on the same key.
    """
    first_ship = lineitem.groupBy("l_orderkey").agg(
        F.min("l_shipdate").alias("__fs")
    )
    lat = orders.join(
        first_ship, orders["o_orderkey"] == first_ship["l_orderkey"]
    ).select(
        "o_orderpriority",
        F.datediff(F.col("__fs"), F.col("o_orderdate")).alias("__d"),
    )
    return (
        lat.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (
                F.sum(F.col("__d").cast("long")).cast("double")
                / F.count(F.lit(1))
            ).alias("mean_days"),
            F.percentile(F.col("__d"), F.lit(0.5)).alias("p50_days"),
            F.percentile(F.col("__d"), F.lit(0.9)).alias("p90_days"),
            F.max("__d").cast("long").alias("max_days"),
        )
        .orderBy("o_orderpriority")
    )


def order_backlog(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Open-order backlog per day (sweep line): +1 at order placement,
    −1 the day after the last line ships; the running sum is the number
    of orders in flight. Never-shipped orders stay open forever (left
    join keeps them as +1-only). The corpus collapses to ≤2 deltas per
    order, then to |days| rows before the cumulative window — the
    window frame is calendar-bounded regardless of corpus size.
    """
    last_ship = lineitem.groupBy("l_orderkey").agg(
        F.max("l_shipdate").alias("__ls")
    )
    o = orders.join(
        last_ship, orders["o_orderkey"] == last_ship["l_orderkey"], "left"
    )
    opens = o.select(
        F.date_trunc("day", F.col("o_orderdate")).alias("day"),
        F.lit(1).alias("delta"),
    )
    closes = o.where(F.col("__ls").isNotNull()).select(
        F.date_trunc(
            "day", F.col("__ls") + F.expr("INTERVAL 1 DAY")
        ).alias("day"),
        F.lit(-1).alias("delta"),
    )
    daily = (
        opens.unionByName(closes)
        .groupBy("day")
        .agg(F.sum("delta").alias("net"))
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        "day",
        F.col("net").cast("long").alias("net_change"),
        F.sum("net").over(w).cast("long").alias("backlog"),
    ).orderBy("day")


def supplier_concentration(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """Supply-concentration risk per part type: Herfindahl–Hirschman
    index of supplier revenue shares plus the top supplier's share —
    the procurement screen for single-source exposure. Revenue sums
    are decimal-exact; the share-square sum folds integer micro-units
    over the ≤|suppliers| rows per type (order-invariant).
    """
    pt = part.select("p_partkey", "p_type")
    per = (
        lineitem.join(F.broadcast(pt), lineitem["l_partkey"] == pt["p_partkey"])
        .groupBy("p_type", "l_suppkey")
        .agg(F.sum(_rev()).alias("rev"))
    )
    tot = per.groupBy("p_type").agg(
        F.sum("rev").alias("tot"), F.count(F.lit(1)).alias("n_suppliers")
    )
    j = per.join(F.broadcast(tot), "p_type")
    share = F.col("rev").cast("double") / F.col("tot").cast("double")
    return (
        j.groupBy("p_type")
        .agg(
            F.first("n_suppliers").alias("n_suppliers"),
            (
                F.sum(
                    F.floor(share * share * F.lit(1e12) + F.lit(0.5)).cast(
                        "decimal(38,0)"
                    )
                ).cast("double")
                / F.lit(1e12)
            ).alias("hhi"),
            F.max(share).alias("top_share"),
        )
        .select(
            "p_type",
            F.col("n_suppliers").cast("long").alias("n_suppliers"),
            "hhi",
            "top_share",
        )
        .orderBy("p_type")
    )


def price_dispersion_screen(
    lineitem: DataFrame,
    part: DataFrame,
    min_lines: int = 5,
    min_cv: float = 0.3,
) -> DataFrame:
    """Unit-price dispersion screen: parts whose observed per-line unit
    price varies wildly (coefficient of variation ≥ min_cv) — the
    procurement-fraud / data-quality tell (same part billed at very
    different unit rates). Unit price is a per-row double over exact
    inputs; the moment sums fold integer micro-units, so mean/std/cv
    are bit-deterministic. One partkey shuffle + broadcast part dim.
    """
    up = F.col("l_extendedprice") / F.col("l_quantity")
    micro = lambda c: F.sum(  # noqa: E731
        F.floor(c * F.lit(1e6) + F.lit(0.5)).cast("decimal(38,0)")
    )
    per = lineitem.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("n_lines"),
        micro(up).alias("s1"),
        micro(up * up).alias("s2"),
    )
    mean = F.col("s1").cast("double") / F.lit(1e6) / F.col("n_lines")
    var = F.col("s2").cast("double") / F.lit(1e6) / F.col("n_lines") - mean * mean
    std = F.sqrt(F.greatest(var, F.lit(0.0)))
    cv = std / mean
    pt = part.select("p_partkey", "p_name", "p_brand")
    return (
        per.where(F.col("n_lines") >= min_lines)
        .select(
            "l_partkey",
            F.col("n_lines").cast("long").alias("n_lines"),
            mean.alias("mean_unit_price"),
            std.alias("std_unit_price"),
            cv.alias("cv"),
        )
        .where(F.col("cv") >= F.lit(min_cv))
        .join(F.broadcast(pt), F.col("l_partkey") == pt["p_partkey"])
        .select(
            "l_partkey", "p_name", "p_brand", "n_lines",
            "mean_unit_price", "std_unit_price", "cv",
        )
        .orderBy(F.desc("cv"), "l_partkey")
    )


def abc_classification(
    lineitem: DataFrame,
    a_share: float = 0.7,
    b_share: float = 0.9,
    n_chunks: int = 32,
) -> DataFrame:
    """ABC (Pareto) classification of parts by revenue contribution:
    class A = parts covering the top ``a_share`` of revenue, B up to
    ``b_share``, C the tail — the inventory-policy segmentation every
    ops team keeps pinned.

    The cumulative share needs a revenue-descending prefix sum over the
    parts dim; that is the classic partitionless-window trap at dim
    scale, so it runs on the chunked primitives (range chunks + exact
    offset fold — the `_pr_points`/`gini` discipline). Revenue sums are
    decimal-exact; the class boundary compares the exact cumulative
    against share × exact total, both as doubles of exact decimals —
    deterministic cross-engine.
    """
    from .chunked import chunk_offsets, range_chunk

    # the per-part revenue feeds the cut and the chunk assignment
    per = lineitem.groupBy("l_partkey").agg(F.sum(_rev()).alias("__r"))
    per = per.select(
        "l_partkey", F.col("__r").cast("double").alias("__rd"), "__r"
    ).transform(reuse)
    chunked = range_chunk(per, "__rd", n_chunks, descending=True)
    w_in = (
        Window.partitionBy("__chunk")
        .orderBy(F.col("__rd").desc(), F.col("l_partkey"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    within = chunked.select(
        "l_partkey",
        "__rd",
        "__chunk",
        F.sum("__r").over(w_in).alias("__cum_in"),
    )
    totals = within.groupBy("__chunk").agg(F.max("__cum_in").alias("__ct"))
    offsets = chunk_offsets(totals, ["__ct"])
    tot = totals.agg(F.sum("__ct").alias("__tot"))
    cum = (
        within.join(F.broadcast(offsets), "__chunk")
        .crossJoin(F.broadcast(tot))
        .select(
            "l_partkey",
            "__rd",
            (
                (F.col("__ct_off") + F.col("__cum_in")).cast("double")
                / F.col("__tot").cast("double")
            ).alias("cum_share"),
        )
    )
    cls = (
        F.when(F.col("cum_share") <= F.lit(a_share), "A")
        .when(F.col("cum_share") <= F.lit(b_share), "B")
        .otherwise("C")
    )
    return cum.select(
        "l_partkey",
        F.col("__rd").alias("revenue"),
        "cum_share",
        cls.alias("abc_class"),
    ).orderBy(F.desc("revenue"), "l_partkey")


def forecast_revenue_change(
    lineitem: DataFrame,
    year: int = 1994,
    discount_mid: float = 0.06,
    discount_band: float = 0.01,
    max_qty: float = 24.0,
) -> DataFrame:
    """Q6 shape: revenue that would be recovered by eliminating a
    discount band on small-quantity lines in one year — the simplest
    TPC-H query and the purest pushdown test: ALL predicates (year
    range, discount band, quantity cap) must reach the parquet scan,
    and the answer is one decimal-exact Σ(extendedprice · discount).

    Discount-band comparison is on integer basis points (discount is a
    2-decimal fraction; float ± on 0.05/0.07 literals risks boundary
    rows), matching the oracle bit-for-bit. The year filter is an
    explicit [Jan 1, Jan 1) range — a `year()` wrapper would defeat
    parquet predicate pushdown (pin: l_shipdate appears in
    PushedFilters). One filter + one 1-row map-side-combined aggregate
    — zero shuffles beyond the final fold.
    """
    bp = F.floor(F.col("l_discount") * F.lit(10000.0) + F.lit(0.5))
    lo = int(round((discount_mid - discount_band) * 10000))
    hi = int(round((discount_mid + discount_band) * 10000))
    picked = lineitem.where(
        (F.col("l_shipdate") >= F.lit(f"{int(year)}-01-01").cast("timestamp"))
        & (
            F.col("l_shipdate")
            < F.lit(f"{int(year) + 1}-01-01").cast("timestamp")
        )
        & (bp >= lo)
        & (bp <= hi)
        & (F.col("l_quantity") < max_qty)
    )
    rev = F.col("l_extendedprice").cast(D) * F.col("l_discount").cast(D)
    return picked.agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum(rev.cast("decimal(38,4)")).cast("double").alias("revenue"),
    )


def waiting_supplier(
    lineitem: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    min_lag_days: int = 60,
    top_n: int = 20,
) -> DataFrame:
    """Q21 shape (adapted to this schema — no commit/receipt dates):
    suppliers who were the LAST to ship in a multi-supplier order,
    lagging the order's first shipment by ≥ ``min_lag_days`` — the
    "who keeps everyone waiting" report a fulfillment review reads.

    Per-order extremes fold in ONE map-side-combined aggregate
    (max/min shipdate + distinct-supplier count via a two-phase
    distinct), then a broadcast-able join flags each order's laggard
    lines; one supplier-level count with the nation dim broadcast on
    top. A multi-line laggard in one order counts once (distinct
    order×supplier). Output: top-N suppliers by wait count.
    """
    per_order = (
        lineitem.select("l_orderkey", "l_suppkey", "l_shipdate")
        .distinct()
        .groupBy("l_orderkey")
        .agg(
            F.max("l_shipdate").alias("__last"),
            F.min("l_shipdate").alias("__first"),
            F.countDistinct("l_suppkey").alias("__nsupp"),
        )
        .where(
            (F.col("__nsupp") >= 2)
            & (
                F.col("__last")
                >= F.col("__first")
                + F.expr(f"INTERVAL {int(min_lag_days)} DAYS")
            )
        )
    )
    laggards = (
        lineitem.join(per_order, "l_orderkey")
        .where(F.col("l_shipdate") == F.col("__last"))
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    counts = laggards.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).cast("long").alias("wait_count")
    )
    dim = supplier.join(
        nation, supplier["s_nationkey"] == nation["n_nationkey"]
    ).select("s_suppkey", "s_name", "n_name")
    out = counts.join(F.broadcast(dim), counts["l_suppkey"] == dim["s_suppkey"])
    # deterministic top-N via orderBy+limit -> TakeOrderedAndProject
    # (per-partition heaps + a k-row driver merge, never a global sort
    # or a partitionless rank window)
    return (
        out.select(
            "s_suppkey",
            "s_name",
            F.col("n_name").alias("nation"),
            "wait_count",
        )
        .orderBy(F.col("wait_count").desc(), F.col("s_suppkey").asc())
        .limit(int(top_n))
    )


def discount_elasticity(
    lineitem: DataFrame,
) -> DataFrame:
    """Discount elasticity of demand: the OLS slope of ln(mean quantity
    per discount band) on ln(1 − discount) across the observed discount
    levels — the pricing-analytics regression a revenue team runs on
    exactly this schema (elasticity < 0 means discounts actually move
    volume; ≈ 0 means the discounts are pure margin giveaway).

    The corpus collapses to one row per DISTINCT discount level (basis-
    point key, exact integer quantity sums — one map-side-combined
    aggregate); the regression folds ln-coordinates quantized to the
    1e-9 grid over that ≤|levels| frame (bounded terms, magnitude-safe).
    Returns one row: (n_bands, n_lines, elasticity, r2).
    """
    bp = F.floor(F.col("l_discount") * F.lit(10000.0) + F.lit(0.5)).cast(
        "long"
    )
    per = lineitem.groupBy(bp.alias("__bp")).agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(F.col("l_quantity").cast("decimal(25,2)")).alias("__q"),
    )
    x = F.log(F.lit(1.0) - F.col("__bp").cast("double") / F.lit(10000.0))
    y = F.log(
        F.col("__q").cast("double") / F.col("__n").cast("double")
    )
    d38 = "decimal(38,0)"
    qx = F.floor(x * F.lit(1e9) + F.lit(0.5)).cast(d38)
    qy = F.floor(y * F.lit(1e9) + F.lit(0.5)).cast(d38)
    agg = per.agg(
        F.count(F.lit(1)).alias("__k"),
        F.sum("__n").cast("long").alias("n_lines"),
        F.sum(qx).alias("__sx"),
        F.sum(qy).alias("__sy"),
        F.sum(qx * qy).alias("__sxy"),
        F.sum(qx * qx).alias("__sxx"),
        F.sum(qy * qy).alias("__syy"),
    )
    k = F.col("__k").cast("double")
    sx = F.col("__sx").cast("double") / F.lit(1e9)
    sy = F.col("__sy").cast("double") / F.lit(1e9)
    sxy = F.col("__sxy").cast("double") / F.lit(1e18)
    sxx = F.col("__sxx").cast("double") / F.lit(1e18)
    syy = F.col("__syy").cast("double") / F.lit(1e18)
    vx = k * sxx - sx * sx
    vy = k * syy - sy * sy
    cov = k * sxy - sx * sy
    ok = (k > 1) & (vx > 0)
    r6_ = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    return agg.select(
        F.col("__k").cast("long").alias("n_bands"),
        "n_lines",
        r6_(
            F.when(ok, cov / F.when(vx > 0, vx).otherwise(F.lit(1.0)))
        ).alias("elasticity"),
        r6_(
            F.when(
                ok & (vy > 0),
                cov * cov
                / F.when((vx > 0) & (vy > 0), vx * vy).otherwise(F.lit(1.0)),
            )
        ).alias("r2"),
    )
