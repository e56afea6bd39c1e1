"""Join surface.

The reference's join-shaped logic is key-value lookup composition
(Redis-tier coalesce, document_storage.py:116-140) and the anti-join
"compute only missing" cache pattern (embedding_service.py:148-170).
The engine exposes those plus the full relational join surface the
bench tables need.

Scale stance:
- dimension tables (region/nation/supplier, a batch of query vectors)
  are broadcast — `F.broadcast` pins it, AQE converts dynamically too;
- fact-fact joins shuffle on the join key; AQE skew-join splits hot
  keys; for repeated pipelines, bucket both sides on the key to delete
  the shuffle entirely;
- semi/anti joins express EXISTS / NOT EXISTS without materializing the
  right side.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def join_lookup(
    facts: DataFrame, dim: DataFrame, on, how: str = "inner", broadcast_dim: bool = True
) -> DataFrame:
    """Fact⋈dim equi-join with the dim broadcast (hash join, no shuffle
    of the fact side)."""
    right = F.broadcast(dim) if broadcast_dim else dim
    return facts.join(right, on=on, how=how)


def join_anti_incremental(
    pending: DataFrame, done: DataFrame, keys: list[str]
) -> DataFrame:
    """Rows in `pending` with no match in `done` — the incremental
    "compute only what's missing" pattern.

    Reference: embedding cache-aside — probe `embedding:{provider}:{chunk_id}`,
    compute only on miss (embedding_service.py:148-170, embedding_cache.py:16-34).
    At 100 TB this left_anti against the materialized result table is
    what turns a full recompute into an incremental batch.
    """
    return pending.join(done, on=keys, how="left_anti")


def revenue_by_nation(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    region_name: str | None,
    date_lo: str,
    date_hi: str,
) -> DataFrame:
    """TPC-H Q5-shaped local-supplier-volume join chain.

    customer⋈orders⋈lineitem⋈supplier⋈nation⋈region with the
    supplier-nation = customer-nation co-location condition. Dims
    (region, nation, supplier at bench SF) broadcast; the orders⋈lineitem
    join shuffles on orderkey — at 100 TB both sides bucketed on
    orderkey makes it shuffle-free.

    region_name=None parameterizes by the min region name IN-PLAN (the
    1-row aggregate broadcasts into a hash join) — no driver-side
    collect, so the whole query stays one Spark job.
    """
    revenue = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(25,4)"
    )
    o = orders.filter(
        (F.col("o_orderdate") >= F.lit(date_lo).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(date_hi).cast("timestamp"))
    )
    if region_name is None:
        r = region.join(
            F.broadcast(region.agg(F.min("r_name").alias("r_name"))), "r_name"
        )
    else:
        r = region.filter(F.col("r_name") == region_name)
    n_r = nation.join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    )
    return (
        customer.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(lineitem, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(
            F.broadcast(supplier),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("s_nationkey") == F.col("c_nationkey")),
        )
        .join(F.broadcast(n_r), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


def shipping_priority(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    segment: str,
    order_date_cut: str,
    ship_date_cut: str,
    k: int = 10,
) -> DataFrame:
    """TPC-H Q3-shaped: unshipped-order revenue top-k.

    Partial-aggregation pushdown below the join (a rewrite Catalyst
    does not apply automatically): the grouping key is the join key, so
    lineitem collapses to one row per orderkey BEFORE joining — the
    join and top-k then move ~40x fewer rows. Equivalent because every
    output group is exactly one orderkey.
    """
    revenue = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(25,4)"
    )
    li_agg = (
        lineitem.filter(
            F.col("l_shipdate") > F.lit(ship_date_cut).cast("timestamp")
        )
        .groupBy("l_orderkey")
        .agg(F.sum(revenue).alias("__rev"))
    )
    return (
        customer.filter(F.col("c_mktsegment") == segment)
        .join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .filter(F.col("o_orderdate") < F.lit(order_date_cut).cast("timestamp"))
        .join(li_agg, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            "o_orderkey",
            "o_orderdate",
            "o_orderpriority",
            F.col("__rev").cast("double").alias("revenue"),
        )
        .orderBy(F.desc("revenue"), "o_orderkey")
        .limit(k)
    )


def _rev() -> Column:
    """The TPC-H revenue expression under the exact-decimal rule
    (price×(1-disc) has 4 decimal digits; see aggregates.exact_sum)."""
    return (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(25,4)"
    )


def volume_shipping(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    date_lo: str = "1996-01-01",
    date_hi: str = "1998-01-01",
) -> DataFrame:
    """TPC-H Q7-shaped: shipped revenue between DIFFERENT nations, by
    (supplier nation, customer nation, ship year).

    nation joins broadcast twice under different aliases; supplier
    broadcasts at dim scale. The fact-fact joins (lineitem⋈orders on
    orderkey, ⋈customer on custkey) shuffle on their keys — bucketed
    layouts delete both at 100 TB.
    """
    n1 = nation.select(
        F.col("n_nationkey").alias("__sn_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("__cn_key"), F.col("n_name").alias("cust_nation")
    )
    li = lineitem.filter(
        (F.col("l_shipdate") >= F.lit(date_lo).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(date_hi).cast("timestamp"))
    )
    return (
        li.join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("__sn_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("__cn_key"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(F.sum(_rev()).cast("double").alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


def market_share(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    part: DataFrame,
    region_name: str | None,
    nation_name: str | None,
    type_name: str,
) -> DataFrame:
    """TPC-H Q8-shaped: share of a region's revenue (for one part type)
    supplied by one nation, per order year.

    Numerator and denominator come from the SAME aggregation pass
    (conditional sum) — one plan, no self-join. part is filtered then
    broadcast, so the lineitem scan prunes to matching parts via the
    broadcast hash join before anything shuffles.

    region_name / nation_name = None derive the min name IN-PLAN
    (broadcast 1-row aggregates: a hash join for the region filter, a
    cross join for the nation parameter column) — zero driver collects.
    """
    p = part.filter(F.col("p_type") == type_name).select("p_partkey")
    n2 = nation.select(
        F.col("n_nationkey").alias("__cn_key"), F.col("n_regionkey").alias("__cr_key")
    )
    if region_name is None:
        r = region.join(
            F.broadcast(region.agg(F.min("r_name").alias("r_name"))), "r_name"
        )
    else:
        r = region.filter(F.col("r_name") == region_name)
    n1 = nation.select(
        F.col("n_nationkey").alias("__sn_key"), F.col("n_name").alias("supp_nation")
    )
    zero = F.lit(0).cast("decimal(25,4)")
    chain = lineitem.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
    if nation_name is None:
        chain = chain.crossJoin(
            F.broadcast(nation.agg(F.min("n_name").alias("__param_nation")))
        )
        nat_pred = F.col("supp_nation") == F.col("__param_nation")
    else:
        nat_pred = F.col("supp_nation") == nation_name
    nat_rev = F.when(nat_pred, _rev()).otherwise(zero)
    return (
        chain
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("__cn_key"))
        .join(F.broadcast(r), F.col("__cr_key") == F.col("r_regionkey"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("__sn_key"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(nat_rev).cast("double") / F.sum(_rev()).cast("double"), 6
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


def profit_by_nation_year(
    lineitem: DataFrame,
    orders: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    part: DataFrame,
    name_like: str = "%red%",
) -> DataFrame:
    """TPC-H Q9-shaped product-profit rollup by (supplier nation, order
    year) for parts matching a name pattern.

    Adapted: the testdata schema has no partsupp/ps_supplycost, so
    profit = revenue (the join/agg shape is Q9's; the cost subtraction
    is a column-arithmetic detail the schema cannot express).
    """
    p = part.filter(F.col("p_name").like(name_like)).select("p_partkey")
    return (
        lineitem.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year"))
        .agg(F.sum(_rev()).cast("double").alias("profit"))
        .orderBy("nation", F.desc("o_year"))
    )


def customer_order_distribution(
    customer: DataFrame, orders: DataFrame
) -> DataFrame:
    """TPC-H Q13-shaped: how many customers placed N orders, including
    N = 0 (the left join is the point — an inner join silently drops
    order-less customers).

    Two aggregations: per-customer count shuffles on custkey (the same
    key the join shuffled on, so AQE/co-partitioning reuses it), then
    the tiny histogram agg.
    """
    per_cust = (
        customer.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


def top_supplier(
    lineitem: DataFrame,
    supplier: DataFrame,
    date_lo: str = "1997-01-01",
    date_hi: str = "1997-04-01",
) -> DataFrame:
    """TPC-H Q15-shaped: supplier(s) with the maximum revenue in a
    quarter. The max is joined back via a broadcast single-row agg —
    no collect(), no second scan of lineitem (the per-supplier revenue
    aggregate is reused for both sides; double equality is safe because
    both values come from the identical decimal-exact sum).
    """
    rev = (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit(date_lo).cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(date_hi).cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(F.sum(_rev()).cast("double").alias("total_revenue"))
    )
    top = rev.agg(F.max("total_revenue").alias("__max_rev"))
    return (
        rev.join(F.broadcast(top), F.col("total_revenue") == F.col("__max_rev"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


def small_quantity_revenue(
    lineitem: DataFrame, part: DataFrame, brand: str
) -> DataFrame:
    """TPC-H Q17-shaped: yearly revenue lost if sub-20%-of-average
    quantity orders for one brand were dropped.

    The per-part average-quantity aggregate joins back to lineitem on
    partkey (both sides cluster on partkey; the brand-filtered part dim
    broadcasts and prunes BEFORE the heavy per-part aggregate, so the
    avg is computed only for the brand's parts).
    """
    from data_pipeline2_spark.operators.aggregates import exact_avg, exact_sum

    p = part.filter(F.col("p_brand") == brand).select("p_partkey")
    li_p = lineitem.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
    qlim = (
        li_p.groupBy(F.col("l_partkey").alias("__pk"))
        .agg((exact_avg(F.col("l_quantity")) * F.lit(0.2)).alias("__qlim"))
    )
    return (
        li_p.join(qlim, F.col("l_partkey") == F.col("__pk"))
        .filter(F.col("l_quantity") < F.col("__qlim"))
        .agg(
            (
                exact_sum(F.col("l_extendedprice")) / F.lit(7.0)
            ).alias("avg_yearly")
        )
    )


def banded_revenue(
    lineitem: DataFrame,
    part: DataFrame,
    bands: list[tuple[str, float, float, int, int]],
) -> DataFrame:
    """TPC-H Q19-shaped: revenue for an OR of (brand, quantity-range,
    size-range) bands — the disjunctive-predicate pushdown showcase.

    Adapted to the testdata schema: p_size ranges stand in for the
    container/shipmode attributes it lacks. The whole predicate stays
    in the scan/join stage (no UDF), so Catalyst pushes the band
    filters into the broadcast hash join.
    """
    cond = None
    for brand, q_lo, q_hi, s_lo, s_hi in bands:
        c = (
            (F.col("p_brand") == brand)
            & F.col("l_quantity").between(q_lo, q_hi)
            & F.col("p_size").between(s_lo, s_hi)
        )
        cond = c if cond is None else cond | c
    return (
        lineitem.join(
            F.broadcast(part.select("p_partkey", "p_brand", "p_size")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .filter(cond)
        .agg(F.sum(_rev()).cast("double").alias("revenue"))
    )


def dormant_high_balance(
    customer: DataFrame, orders: DataFrame, since: str = "1998-05-01"
) -> DataFrame:
    """TPC-H Q22-shaped: customers with above-average positive balance
    and no orders SINCE a cutoff, rolled up by nation.

    Adapted twice for the testdata: nationkey stands in for the phone
    country code the schema lacks, and dormancy is "no recent orders"
    (the synthetic key space is dense — every customer has SOME order,
    so the literal Q22 NOT EXISTS would be vacuous). The global
    threshold is a broadcast single-row aggregate (cross join of a
    scalar — no collect), and NOT EXISTS is a left_anti join on custkey
    with the date filter pushed below it.
    """
    from data_pipeline2_spark.operators.aggregates import exact_avg, exact_sum

    thr = (
        customer.filter(F.col("c_acctbal") > 0)
        .agg(exact_avg(F.col("c_acctbal")).alias("__thr"))
    )
    recent = orders.filter(
        F.col("o_orderdate") >= F.lit(since).cast("timestamp")
    ).select("o_custkey")
    return (
        customer.crossJoin(F.broadcast(thr))
        .filter(F.col("c_acctbal") > F.col("__thr"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            exact_sum(F.col("c_acctbal")).alias("totacctbal"),
        )
        .orderBy("c_nationkey")
    )


def join_asof(
    left: DataFrame,
    right: DataFrame,
    key_cols: list[str],
    left_ts: str,
    right_ts: str,
    right_payload: list[str],
) -> DataFrame:
    """As-of (backward) join: each left row gets the right row with the
    greatest right_ts <= left_ts for the same key, or NULL payload if
    none. Output = all left columns + right_payload columns.

    Spark has no ASOF JOIN (DuckDB/Pandas do; the oracle uses DuckDB's),
    and the naive formulation — inequality join + argmax — explodes to a
    range join. This is the shuffle-minimal formulation: UNION both
    sides tagged, ONE hash shuffle on the key, and a running
    last(payload, ignorenulls) window fills each left row with the most
    recent right payload. Cost is a single sort per key partition —
    the same shape as a windowed dedup, independent of time-range
    overlap, so it survives 100 TB where a range join would not.

    Ties: right rows sort BEFORE left rows at equal ts (<= semantics).
    Like DuckDB's ASOF JOIN, `right` should be unique per (key, ts) —
    among same-ts right rows the winner is otherwise unspecified.

    NULL keys follow JOIN EQUALITY semantics (a NULL key matches
    nothing — left rows keep NULL payload): right rows with any NULL
    key are dropped before the union, because the window partition
    would otherwise group NULL with NULL and "match" them — the
    dirty-lake differential gate caught exactly that divergence from
    DuckDB's native ASOF JOIN on anonymous (NULL user_id) traffic.
    """
    from pyspark.sql.window import Window

    for k in key_cols:
        right = right.filter(F.col(k).isNotNull())
    r_struct = F.struct(*[F.col(c) for c in right_payload])
    l_tagged = left.select(
        *key_cols,
        F.col(left_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        F.struct(*[F.col(c) for c in left.columns]).alias("__l"),
        F.lit(None).cast(
            right.select(r_struct.alias("__r")).schema["__r"].dataType
        ).alias("__r"),
    )
    r_tagged = right.select(
        *key_cols,
        F.col(right_ts).alias("__ts"),
        F.lit(1).alias("__side"),
        F.lit(None).cast(
            left.select(
                F.struct(*[F.col(c) for c in left.columns]).alias("__l")
            ).schema["__l"].dataType
        ).alias("__l"),
        r_struct.alias("__r"),
    )
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(F.col("__ts").asc(), F.col("__side").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = (
        l_tagged.unionByName(r_tagged)
        .withColumn("__rv", F.last("__r", ignorenulls=True).over(w))
        .filter(F.col("__side") == 0)
    )
    return filled.select(
        *[F.col(f"__l.{c}").alias(c) for c in left.columns],
        *[F.col(f"__rv.{c}").alias(c) for c in right_payload],
    )


def join_range(
    probe: DataFrame,
    intervals: DataFrame,
    key_cols: list[str],
    probe_ts: str,
    start_col: str,
    end_col: str,
    bucket_width_us: int,
) -> DataFrame:
    """Scalable interval join: probe rows matched to [start, end) windows
    on the same key, as an EQUI-join on (key, time-bucket) + residual
    range predicate — the banded-join rewrite of the O(n*m) nested loop.

    Each interval explodes to ceil(span/width)+1 bucket rows; each probe
    row maps to exactly one bucket; the join shuffles on (key, bucket)
    like any hash join. Choose bucket_width_us ~ the typical window span
    so intervals land in O(1) buckets. Timestamps are compared at
    microsecond precision (Spark's native timestamp resolution).
    """
    # integer `div`, not double `/` + cast: epoch-µs values (~1e15) lose
    # low bits in a double quotient, mis-bucketing boundary rows
    iv = (
        intervals.withColumn("__s_us", F.unix_micros(F.col(start_col)))
        .withColumn("__e_us", F.unix_micros(F.col(end_col)))
        .withColumn(
            "__bucket",
            F.explode(
                F.sequence(
                    F.expr(f"__s_us div {bucket_width_us}"),
                    # end is exclusive: the last covered bucket holds end-1µs
                    F.expr(f"(__e_us - 1) div {bucket_width_us}"),
                )
            ),
        )
        .drop("__s_us", "__e_us")
    )
    pr = probe.withColumn(
        "__p_us", F.unix_micros(F.col(probe_ts))
    ).withColumn("__bucket", F.expr(f"__p_us div {bucket_width_us}")).drop("__p_us")
    return (
        pr.join(iv, [*key_cols, "__bucket"])
        .filter(
            (F.col(probe_ts) >= F.col(start_col))
            & (F.col(probe_ts) < F.col(end_col))
        )
        .drop("__bucket")
    )


# --------------------------------------------------- derived PARTSUPP
# The testdata ships no partsupp table (COVERAGE.md §"TPC-H gaps"), so
# the q2/q11/q16/q20 family runs over a DETERMINISTIC derivation that
# the engine and the SQL oracle both materialize identically from the
# part/supplier tables: 4 suppliers per part via the dbgen assignment
# formula (TPC-H spec §4.2.3, 0-based keys), integer availability and
# integer-CENTS supply cost (no float arithmetic anywhere in the
# derivation, so cross-engine sums are exact). Reference parity: the
# reference's TPC-H-family joins (BASELINE.md) cover q2/q11/q16/q20
# only where partsupp exists; this derivation keeps the join surface
# complete without synthesizing new testdata files.


def derived_partsupp(part: DataFrame, supplier: DataFrame) -> DataFrame:
    """(ps_partkey, ps_suppkey, ps_availqty, ps_supplycost_cents) —
    4 rows per part. The supplier count S enters as a broadcast
    single-row aggregate (scalar-subquery pattern, no collect), so the
    same plan works when supplier is a table of any size."""
    s_count = supplier.agg(F.count(F.lit(1)).alias("__S"))
    return (
        part.select("p_partkey")
        .crossJoin(F.broadcast(s_count))
        .withColumn("__i", F.explode(F.array(*[F.lit(i) for i in range(4)])))
        .select(
            F.col("p_partkey").alias("ps_partkey"),
            F.expr(
                "pmod(p_partkey + __i * (__S div 4 + p_partkey div __S), __S)"
            ).cast("long").alias("ps_suppkey"),
            (
                F.pmod(F.col("p_partkey") * 7 + F.col("__i") * 11, F.lit(9998))
                + 1
            ).cast("long").alias("ps_availqty"),
            (
                F.pmod(F.col("p_partkey") * 13 + F.col("__i") * 17, F.lit(99900))
                + 100
            ).cast("long").alias("ps_supplycost_cents"),
        )
    )


def min_cost_supplier(
    part: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    region_name: str = "EUROPE",
    size: int | None = None,
    ptype: str = "STANDARD",
) -> DataFrame:
    """TPC-H Q2-shaped: for each qualifying part, the supplier(s) in a
    region offering the minimum supply cost.

    Adapted to the testdata: p_type is a single word (equality, not
    LIKE '%BRASS'), and the output keeps the columns the schema has
    (no s_address/s_phone/s_comment). `size=None` skips the p_size
    equality (the default: the synthetic part table is small enough
    that both filters together leave almost nothing to verify). The
    per-part minimum joins back via a per-key aggregate (exact integer
    cents — double-equality hazards don't exist here); all dimension
    joins broadcast."""
    ps = derived_partsupp(part, supplier)
    p = part.filter(F.col("p_type") == ptype)
    if size is not None:
        p = p.filter(F.col("p_size") == size)
    p = p.select("p_partkey", "p_type")
    eu = (
        supplier.join(
            F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
        )
        .join(
            F.broadcast(
                region.filter(F.col("r_name") == region_name)
            ),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    cand = (
        ps.join(F.broadcast(p), F.col("ps_partkey") == F.col("p_partkey"))
        .join(F.broadcast(eu), F.col("ps_suppkey") == F.col("s_suppkey"))
    )
    # per-part minimum as a window, not an agg + self-join: one hash
    # exchange on ps_partkey instead of shuffling the fact side twice
    # into a SortMergeJoin (plan-asserted in tests/test_plans.py)
    from pyspark.sql.window import Window

    min_w = Window.partitionBy("ps_partkey")
    return (
        cand.withColumn(
            "__min_cents", F.min("ps_supplycost_cents").over(min_w)
        )
        .filter(F.col("ps_supplycost_cents") == F.col("__min_cents"))
        .select(
            "s_acctbal", "s_name", "n_name", "p_partkey", "p_type",
            F.col("ps_supplycost_cents").alias("supplycost_cents"),
        )
        .orderBy(
            F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey"
        )
        .limit(100)
    )


def important_stock(
    part: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    nation_name: str = "NATION_7",
) -> DataFrame:
    """TPC-H Q11-shaped: parts whose stock value at one nation's
    suppliers exceeds 1/10000 of that nation's total stock value.

    All value arithmetic is integer cents (availqty × cost_cents sums
    as BIGINT — exact, order-independent), and the threshold compare
    is integer-exact: part_value × 10000 > total. The national total
    enters as a broadcast single-row aggregate (no collect)."""
    ps = derived_partsupp(part, supplier)
    supp_n = supplier.join(
        F.broadcast(nation.filter(F.col("n_name") == nation_name)),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select("s_suppkey")
    values = (
        ps.join(F.broadcast(supp_n), F.col("ps_suppkey") == F.col("s_suppkey"))
        .groupBy("ps_partkey")
        .agg(
            F.sum(
                F.col("ps_supplycost_cents") * F.col("ps_availqty")
            ).alias("value_cents")
        )
    )
    total = values.agg(F.sum("value_cents").alias("__total_cents"))
    return (
        values.crossJoin(F.broadcast(total))
        .filter(F.col("value_cents") * 10000 > F.col("__total_cents"))
        .select("ps_partkey", "value_cents")
        .orderBy(F.col("value_cents").desc(), "ps_partkey")
    )


def parts_supplier_relationship(
    part: DataFrame,
    supplier: DataFrame,
    excl_brand: str = "Brand#9",
    excl_type: str = "PROMO",
    sizes: tuple = (1, 3, 9, 15, 23, 33, 41, 49),
) -> DataFrame:
    """TPC-H Q16-shaped: distinct supplier count per (brand, type,
    size) for non-excluded parts, skipping flagged suppliers.

    Adapted: the spec excludes suppliers whose s_comment matches
    '%Customer%Complaints%'; the testdata has no s_comment column, so
    the flagged set is s_acctbal < 0 (the schema's only supplier
    quality signal) — documented in COVERAGE.md. The exclusion is a
    broadcast anti-join; the distinct count shuffles once on the
    3-column group key."""
    p = part.filter(
        (F.col("p_brand") != excl_brand)
        & (F.col("p_type") != excl_type)
        & F.col("p_size").isin(list(sizes))
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    flagged = supplier.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    ps = derived_partsupp(part, supplier)
    return (
        ps.join(F.broadcast(p), F.col("ps_partkey") == F.col("p_partkey"))
        .join(
            F.broadcast(flagged),
            F.col("ps_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("ps_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size"
        )
    )


def potential_promotion(
    part: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    lineitem: DataFrame,
    name_prefix: str = "red",
    nation_name: str = "NATION_3",
    date_lo: str = "1996-01-01",
    date_hi: str = "1997-01-01",
) -> DataFrame:
    """TPC-H Q20-shaped: suppliers in one nation whose available stock
    of name-matched parts exceeds half of what they shipped in a year.

    The heavy side (lineitem) is filtered by the broadcast part dim
    BEFORE its (partkey, suppkey) aggregate; quantities are
    integer-valued doubles, so the sum is exact in either engine. The
    half-of-shipped compare stays integral: 2 × availqty > sum_qty."""
    red = part.filter(F.col("p_name").startswith(name_prefix)).select(
        "p_partkey"
    )
    shipped = (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit(date_lo).cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(date_hi).cast("timestamp"))
        )
        .join(F.broadcast(red), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("__qty"))
    )
    ps = derived_partsupp(part, supplier)
    qualifying = ps.join(
        shipped,
        (F.col("ps_partkey") == F.col("l_partkey"))
        & (F.col("ps_suppkey") == F.col("l_suppkey")),
    ).filter(F.col("ps_availqty") * 2 > F.col("__qty"))
    supp_n = supplier.join(
        F.broadcast(nation.filter(F.col("n_name") == nation_name)),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select("s_suppkey", "s_name")
    return (
        qualifying.select("ps_suppkey")
        .distinct()
        .join(F.broadcast(supp_n), F.col("ps_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


def merge_upsert(
    base: DataFrame,
    changes: DataFrame,
    key_cols: list[str],
    ts_col: str = "change_ts",
    op_col: str = "op",
) -> DataFrame:
    """Apply a CDC changeset to a base table (MERGE semantics): the
    latest change per key wins (max ts, deterministic op tie-break),
    'D' removes the row, 'U'/'I' replace/insert the payload, untouched
    base rows pass through.

    The lake-maintenance primitive behind incremental ingestion — the
    batch equivalent of Delta/Iceberg MERGE INTO, expressed as one
    per-key window over the (usually small) changeset plus one
    full-outer join against base. KEY COLUMNS MUST BE NON-NULL: the
    join equality is null-unsafe (matching standard SQL MERGE), so a
    NULL key inserts a new row next to its stale one instead of
    replacing it — coalesce nullable keys to a sentinel first
    (stream_tumbling_upsert shows the idiom). Scale shape: base never rewrites
    more than once, the changeset shuffles by key (broadcast when it
    fits), and payload columns resolve with coalesce-style whens, so
    column count — not row count — bounds the expression tree.
    """
    from pyspark.sql.window import Window

    payload = [c for c in base.columns if c not in key_cols]
    # total order: ts, then op, then every payload column — two changes
    # identical in (key, ts, op) but differing in payload must still
    # pick the SAME winner under any partitioning (the engine-wide
    # determinism contract); nulls_first keeps the order total
    w = Window.partitionBy(*key_cols).orderBy(
        F.col(ts_col).desc(),
        F.col(op_col).desc(),
        *[F.col(p).asc_nulls_first() for p in payload],
    )
    latest = (
        changes.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", ts_col)
    )
    joined = base.alias("b").join(latest.alias("c"), on=key_cols, how="full_outer")
    applied = joined.filter(
        F.col(f"c.{op_col}").isNull() | (F.col(f"c.{op_col}") != "D")
    )
    return applied.select(
        *key_cols,
        *[
            F.when(
                F.col(f"c.{op_col}").isNotNull(), F.col(f"c.{p}")
            ).otherwise(F.col(f"b.{p}")).alias(p)
            for p in payload
        ],
    )


def market_basket(
    lineitem: DataFrame,
    min_support: int = 2,
    top: int = 100,
) -> DataFrame:
    """Frequent co-purchased part pairs → (part_a, part_b, pair_orders,
    orders_a, orders_b, lift), the top `top` by support with a total
    deterministic order (count desc, part_a, part_b).

    Association mining over order baskets: support = orders containing
    both parts; lift = N·c_ab / (c_a·c_b) — a single IEEE division of
    exact integer products, rounded for hash stability.

    Scale shape: ONE exchange on the order key builds sorted distinct
    baskets (collect_set is bounded by max basket size — TPC-H baskets
    are <= 7 lines; guard the assumption upstream for pathological
    feeds); pairs then generate MAP-SIDE from each basket array (no
    self-join, no second pass over the fact table) and aggregate by
    pair. Per-part counts explode from the same basket relation —
    linear in orders, never corpus-quadratic. The join of pair counts
    with per-part counts keys on the part (the catalog scales with the
    corpus, so no broadcast hint); the order total is a broadcast
    single-row aggregate.
    """
    baskets = (
        lineitem.groupBy(F.col("l_orderkey").alias("okey"))
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("parts"))
    )
    from data_pipeline2_spark.functions.text import array_pairs

    pair_col = array_pairs(F.col("parts"), "part_a", "part_b")
    pairs = (
        baskets.select(F.explode(pair_col).alias("pr"))
        .groupBy(
            F.col("pr.part_a").alias("part_a"), F.col("pr.part_b").alias("part_b")
        )
        .agg(F.count(F.lit(1)).alias("pair_orders"))
        .filter(F.col("pair_orders") >= min_support)
    )
    per_part = (
        baskets.select(F.explode("parts").alias("part"))
        .groupBy("part")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    n_total = baskets.agg(F.count(F.lit(1)).alias("__N"))
    return (
        pairs.join(
            per_part.withColumnRenamed("part", "part_a")
            .withColumnRenamed("n_orders", "orders_a"),
            "part_a",
        )
        .join(
            per_part.withColumnRenamed("part", "part_b")
            .withColumnRenamed("n_orders", "orders_b"),
            "part_b",
        )
        .crossJoin(F.broadcast(n_total))
        .select(
            "part_a",
            "part_b",
            F.col("pair_orders").cast("long").alias("pair_orders"),
            F.col("orders_a").cast("long").alias("orders_a"),
            F.col("orders_b").cast("long").alias("orders_b"),
            F.round(
                (F.col("__N") * F.col("pair_orders"))
                / (F.col("orders_a") * F.col("orders_b")),
                6,
            ).alias("lift"),
        )
        .orderBy(F.col("pair_orders").desc(), "part_a", "part_b")
        .limit(top)
    )


def ivm_group_agg(
    base: DataFrame,
    changes: DataFrame,
    key_cols: list[str],
    group_col: str,
    value_col: str,
    ts_col: str = "change_ts",
    op_col: str = "op",
) -> DataFrame:
    """Incremental view maintenance of a per-group (count, sum) over a
    CDC changeset → (grp, n_rows, val_sum, consistent).

    The maintained aggregate is computed WITHOUT rescanning base rows:
    base contributes only its existing per-group aggregate; the
    changeset contributes retraction/insertion deltas (the Flink
    retract-stream algebra / materialized-view delta rule): each
    touched key retracts its old row's (+1, value) from the old group
    and, unless deleted, inserts the new row's into the new group.
    `consistent` compares the maintained aggregate against a full
    recompute over merge_upsert(base, changes) per group — true
    everywhere iff the delta algebra is exact (integers, so no
    epsilon), making the IVM invariant hash-checkable in-plan.

    `group_col` must be a column of base that change rows also carry
    (key-derived groups satisfy this trivially). Scale shape: the only
    base-sized work is the ONE existing aggregate (which a lake
    maintains as the materialized view itself) plus a key semi-join of
    base against the (small) changed-key set; everything else is
    changeset-sized. The recompute arm exists for the self-check and
    drops in production (it IS what IVM avoids).
    """
    from pyspark.sql.window import Window

    payload = [c for c in base.columns if c not in key_cols]
    w = Window.partitionBy(*key_cols).orderBy(
        F.col(ts_col).desc(),
        F.col(op_col).desc(),
        *[F.col(p).asc_nulls_first() for p in payload],
    )
    latest = (
        changes.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    old = base.join(latest.select(*key_cols), key_cols, "left_semi")
    neg = old.select(
        F.col(group_col).alias("grp"),
        F.lit(-1).cast("long").alias("dn"),
        (-F.col(value_col)).cast("long").alias("dv"),
    )
    pos = latest.filter(F.col(op_col) != "D").select(
        F.col(group_col).alias("grp"),
        F.lit(1).cast("long").alias("dn"),
        F.col(value_col).cast("long").alias("dv"),
    )
    delta = (
        neg.unionByName(pos)
        .groupBy("grp")
        .agg(F.sum("dn").alias("dn"), F.sum("dv").alias("dv"))
    )
    base_agg = base.groupBy(F.col(group_col).alias("grp")).agg(
        F.count(F.lit(1)).cast("long").alias("n0"),
        F.sum(value_col).cast("long").alias("s0"),
    )
    maintained = (
        base_agg.join(delta, "grp", "full_outer")
        .select(
            "grp",
            (F.coalesce("n0", F.lit(0)) + F.coalesce("dn", F.lit(0)))
            .cast("long")
            .alias("n_rows"),
            (F.coalesce("s0", F.lit(0)) + F.coalesce("dv", F.lit(0)))
            .cast("long")
            .alias("val_sum"),
        )
        .filter(F.col("n_rows") > 0)
    )
    recompute = (
        merge_upsert(base, changes, key_cols, ts_col, op_col)
        .groupBy(F.col(group_col).alias("grp"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("rn"),
            F.sum(value_col).cast("long").alias("rs"),
        )
    )
    return (
        maintained.join(recompute, "grp", "full_outer")
        .select(
            "grp",
            F.coalesce("n_rows", F.lit(0)).cast("long").alias("n_rows"),
            F.coalesce("val_sum", F.lit(0)).cast("long").alias("val_sum"),
            (
                F.coalesce("n_rows", F.lit(0)).eqNullSafe(
                    F.coalesce("rn", F.lit(0))
                )
                & F.coalesce("val_sum", F.lit(0)).eqNullSafe(
                    F.coalesce("rs", F.lit(0))
                )
            ).alias("consistent"),
        )
    )


def interval_overlap_join(
    intervals: DataFrame,
    id_col: str = "iid",
    start_col: str = "start_ts",
    end_col: str = "end_ts",
    bucket: str = "hour",
) -> DataFrame:
    """Self-join intervals on temporal OVERLAP → (id_a, id_b,
    overlap_seconds), id_a < id_b, overlap strictly positive
    (half-open [start, end) semantics — touching endpoints don't
    overlap).

    The naive formulation — inequality-only join on
    a.start < b.end AND b.start < a.end — has no equi-key, so every
    engine degenerates to a nested-loop cartesian. The scale shape is
    the LSH/banding idiom applied to TIME: explode each interval into
    its covered coarse buckets (hour grain), equi-join on the bucket,
    verify the exact overlap predicate, dedup pairs that co-occur in
    several buckets. Complete by construction (two overlapping
    intervals share at least one covering bucket) and the join fan-out
    is quadratic only within one bucket's co-active set — never the
    interval table. The per-row explode factor is interval_span /
    bucket_span; pick `bucket` so typical spans cover a handful of
    buckets (sessions → hour, reservations → day).
    """
    spans = intervals.select(
        F.col(id_col).alias("__iid"),
        F.col(start_col).alias("__s"),
        F.col(end_col).alias("__e"),
    ).filter(F.col("__s") < F.col("__e"))
    bucketed = spans.select(
        "__iid",
        "__s",
        "__e",
        F.explode(
            F.sequence(
                F.date_trunc(bucket, F.col("__s")),
                # half-open end: an interval ending exactly on a bucket
                # boundary does NOT cover that bucket
                F.date_trunc(
                    bucket, F.col("__e") - F.expr("interval 1 microsecond")
                ),
                F.expr(f"interval 1 {bucket}"),
            )
        ).alias("__b"),
    )
    a = bucketed.select(
        F.col("__iid").alias("id_a"),
        F.col("__s").alias("__sa"),
        F.col("__e").alias("__ea"),
        "__b",
    )
    b = bucketed.select(
        F.col("__iid").alias("id_b"),
        F.col("__s").alias("__sb"),
        F.col("__e").alias("__eb"),
        "__b",
    )
    # exact bigint microsecond arithmetic, divided once: timestamp →
    # double casts truncate differently across engines, unix_micros
    # does not
    overlap = (
        F.unix_micros(F.least(F.col("__ea"), F.col("__eb")))
        - F.unix_micros(F.greatest(F.col("__sa"), F.col("__sb")))
    ) / F.lit(1_000_000.0)
    return (
        a.join(b, "__b")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            (F.col("__sa") < F.col("__eb")) & (F.col("__sb") < F.col("__ea"))
        )
        .select(
            "id_a",
            "id_b",
            F.round(overlap, 6).alias("overlap_seconds"),
        )
        .distinct()
    )


def shipmode_priority(
    orders: DataFrame, lineitem: DataFrame, modes: list[str] | None = None
) -> DataFrame:
    """TPC-H q12 (shipping modes and order priority): per ship mode,
    how many late-but-honest lines (committed after shipping, received
    after committing) belong to URGENT/HIGH orders vs the rest →
    (l_shipmode, high_line_count, low_line_count).

    dbgen semantics with the receipt-year window parameter omitted:
    the driver testdata's date ranges are not published, so the
    structural predicates (l_shipdate < l_commitdate < l_receiptdate)
    carry the query; `modes` optionally restricts to the classic
    MAIL/SHIP pair. Reference anchor: TPC-H spec Q12; blocked on
    testdata columns since round 4 (COVERAGE.md request), auto-
    registers the round `l_receiptdate`/`l_commitdate`/`l_shipmode`
    ship.

    Scale shape: lineitem filters BEFORE the join (predicate pushdown
    to the scan), orders projects two columns; one fact-fact shuffle
    on orderkey, then a mode-width aggregation.
    """
    li = lineitem.filter(
        (F.col("l_commitdate") < F.col("l_receiptdate"))
        & (F.col("l_shipdate") < F.col("l_commitdate"))
    ).select("l_orderkey", "l_shipmode")
    if modes is not None:
        li = li.filter(F.col("l_shipmode").isin(list(modes)))
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(
            orders.select("o_orderkey", "o_orderpriority"),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .groupBy("l_shipmode")
        .agg(
            F.sum(F.when(high, 1).otherwise(0))
            .cast("long")
            .alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1))
            .cast("long")
            .alias("low_line_count"),
        )
        .orderBy("l_shipmode")
    )


def suppliers_waiting(
    supplier: DataFrame,
    lineitem: DataFrame,
    orders: DataFrame,
    limit: int = 100,
) -> DataFrame:
    """TPC-H q21 (suppliers who kept orders waiting): suppliers whose
    line was the ONLY late one (l_receiptdate > l_commitdate) on a
    finalized multi-supplier order → (s_name, numwait), worst first.

    dbgen semantics with the nation filter omitted (fixture-agnostic;
    pass a pre-filtered supplier frame to restore it). The EXISTS
    (another supplier on the order) is a semi-join and the NOT EXISTS
    (no OTHER supplier was late) is an anti-join — both against
    aggregated per-order supplier sets, never correlated subqueries.

    Scale shape: the late-line table is the filtered fact; the
    multi-supplier and other-late probes are per-order aggregations
    of (orderkey, suppkey) pairs joined back on orderkey — three
    orderkey-clustered shuffles, no row explosion beyond the fact.
    """
    late = lineitem.filter(
        F.col("l_receiptdate") > F.col("l_commitdate")
    ).select("l_orderkey", "l_suppkey")
    fin = orders.filter(F.col("o_orderstatus") == "F").select("o_orderkey")
    l1 = late.join(
        fin, late.l_orderkey == fin.o_orderkey
    ).select("l_orderkey", "l_suppkey")
    # per-order supplier stats from the UNFILTERED fact: how many
    # distinct suppliers touch the order, and how many were late
    all_pairs = lineitem.select("l_orderkey", "l_suppkey").distinct()
    late_pairs = late.distinct()
    per_order = (
        all_pairs.groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("n_supp"))
        .join(
            late_pairs.groupBy("l_orderkey").agg(
                F.count(F.lit(1)).alias("n_late")
            ),
            "l_orderkey",
        )
    )
    # l1's supplier waits iff the order has >= 2 suppliers and exactly
    # ONE distinct late supplier (which must be l1's own, since l1 is
    # late) — the EXISTS/NOT-EXISTS pair as one aggregated predicate
    waiting = l1.join(
        per_order.filter(
            (F.col("n_supp") >= 2) & (F.col("n_late") == 1)
        ).select("l_orderkey"),
        "l_orderkey",
    )
    return (
        waiting.join(
            supplier.select("s_suppkey", "s_name"),
            waiting.l_suppkey == F.col("s_suppkey"),
        )
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(limit)
    )


def bloom_prefilter_join(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    m_bits: int = 1 << 17,
    k_hashes: int = 5,
) -> DataFrame:
    """Fact ⋈ dim with an explicit Bloom-filter semijoin prefilter:
    build bloom bits over the dim's join keys, probe the fact MAP-SIDE
    against the broadcast bits, then run the exact inner join over the
    survivors. Output is IDENTICAL to the plain inner join — bloom
    false positives only cost verify work (they fall out of the exact
    join) and false negatives are impossible (every dim key sets its
    own bits).

    This is the runtime-row-filter pattern (Spark's own
    `spark.sql.optimizer.runtime.bloomFilter.enabled` injects the same
    shape) made explicit and plan-pinned. The regime it exists for:
    the dim is selective but TOO BIG for a broadcast-hash join, so the
    join must shuffle BOTH sides — prefiltering the fact with the
    m/8-byte bit array (16 KiB at the 2^17 default, whatever the dim's
    row count) shrinks the fact's shuffle write to ~selectivity + the
    bloom fp-rate before the exchange. Accordingly the exact join here
    deliberately takes NO broadcast hint (the decontaminate_bloom
    precedent, textanalysis.py): broadcastable dims should just
    broadcast instead.

    The probe is one vectorized numpy gather per Arrow batch
    (pandas_udf) over k codegen'd xxhash64 positions — the same
    machinery as build_gram_bloom; key hashing stays JVM-side.

    The two key columns must share ONE Spark type: xxhash64 hashes the
    binary representation, so int-vs-bigint (or string-vs-int) sides
    hash the same logical key to different bits and every probe becomes
    a false negative — silently dropping matches the plain join (which
    coerces) would have kept. Rather than guess a coercion, mismatched
    types raise ValueError (ADVICE r8); cast one side explicitly.
    """
    from data_pipeline2_spark.operators.textanalysis import (
        _bloom_maybe_udf,
        _bloom_positions_col,
        build_gram_bloom,
    )

    f_type = fact.schema[fact_key].dataType
    d_type = dim.schema[dim_key].dataType
    if f_type != d_type:
        raise ValueError(
            f"bloom_prefilter_join keys must share one type — "
            f"fact[{fact_key}]={f_type.simpleString()} vs "
            f"dim[{dim_key}]={d_type.simpleString()}: xxhash64 is "
            f"type-sensitive, a mismatch would turn every probe into a "
            f"false negative; cast one side explicitly"
        )

    keys = dim.select(F.col(dim_key).alias("__k")).distinct()
    bits = build_gram_bloom(keys, m_bits, k_hashes, col="__k")
    survivors = fact.filter(
        _bloom_maybe_udf(bits)(
            _bloom_positions_col(m_bits, k_hashes, col=fact_key)
        )
    )
    return survivors.join(dim, F.col(fact_key) == F.col(dim_key))
