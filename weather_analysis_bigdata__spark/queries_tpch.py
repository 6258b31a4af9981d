"""TPC-H completion suite — the 14 query shapes not yet covered by
``queries_relational`` (which has Q3/Q4/Q5/Q6/Q13/Q14/Q18/Q22).

Together these give the engine full 22/22 TPC-H shape coverage over the
driver's star schema. The testdata has no ``partsupp`` table and no
``l_commitdate``/``l_receiptdate``/``l_shipmode`` columns, so
Q2/Q9/Q11/Q12/Q16/Q17/Q20/Q21 are *adapted*: each keeps the defining
plan shape of its original (the correlated aggregate, the double-EXISTS,
the scalar-subquery threshold, …) re-targeted at the available columns.
Adaptations are documented per-query.

Determinism discipline (registry.py): every money aggregate is an exact
DECIMAL sum narrowed to DECIMAL(18,s) before the final DOUBLE cast —
narrowing matters because DuckDB's DECIMAL(38,s)→DOUBLE path
double-rounds through hugeint×10⁻ˢ while the DECIMAL(18,s)→DOUBLE path
(int64) rounds once, matching Spark.

Reference parity note: the reference notebook exercises only grouped
averages and joins (SURVEY.md §2.4-2.5, Weather_API.py:316-358); this
module is driver-surface extension breadth (SURVEY.md §7.2 M4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from weather_analysis_bigdata__spark.functions.deterministic import (
    davg,
    dec,
    sql_davg,
    sql_dec,
)
from weather_analysis_bigdata__spark.registry import register
from weather_analysis_bigdata__spark.sources.files import load_table


# ---------------------------------------------------------------------------
# Exact per-row money expressions with tight decimal widths.
#
# Tight precisions keep the 3-factor product (price × (1-disc) × (1+tax))
# inside DECIMAL(26,6) on Spark and DECIMAL(24,6) on DuckDB — exact on
# both engines (a naive (18,2)×(18,2)×(18,2) overflows Spark's 38-digit
# cap and triggers precision-loss rounding).
# ---------------------------------------------------------------------------


def _price() -> F.Column:
    return dec("l_extendedprice", 2, 12)


def _one_minus_disc() -> F.Column:
    return F.lit(1) - dec("l_discount", 2, 4)


_SQL_PRICE = "CAST(l_extendedprice AS DECIMAL(12,2))"
_SQL_ONE_MINUS_DISC = "(1 - CAST(l_discount AS DECIMAL(4,2)))"
_SQL_ONE_PLUS_TAX = "(1 + CAST(l_tax AS DECIMAL(4,2)))"


def _dsumn(col: F.Column, scale: int) -> F.Column:
    """Exact decimal SUM narrowed to (18,scale), then one double cast."""
    return F.sum(col).cast(T.DecimalType(18, scale)).cast("double")


def _sql_dsumn(expr: str, scale: int) -> str:
    # VARCHAR round-trip: see functions/deterministic.py:sql_dec2dbl —
    # DuckDB's direct decimal→double double-rounds past 2^53 unscaled.
    return (
        f"CAST(CAST(CAST(SUM({expr}) AS DECIMAL(18,{scale}))"
        " AS VARCHAR) AS DOUBLE)"
    )


def _q1_partials(li: DataFrame) -> DataFrame:
    """Map-side Q1 partial sums in one Arrow pass (guide §2.3/§4.2):
    per batch, money columns quantize to cent-scaled int64 (inputs are
    ≤2-decimal money, so double·100 is within 1e-9 of the integer and
    rint reproduces the DECIMAL(12,2) cast exactly), the two products
    stay exact in int64 (≤ 1.1e11 per row), and per-(flag, status)
    batch sums are int64-exact (≤ maxRecordsPerBatch·1.1e11 ≈ 1.1e15).
    The JVM then combines ≤ batches×6 partial rows as DECIMAL(38,0) —
    overflow-safe at any corpus size — instead of running BigDecimal
    accumulation over every row (measured 2.4 s → 0.9 s at sf0.1,
    bit-identical output)."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
        ]
        + [
            T.StructField(x, T.LongType())
            for x in ("sq", "sp", "sdp", "sc", "sd", "cnt")
        ]
    )

    def part(it):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        for b in it:
            if b.num_rows == 0:
                continue
            # NULL money would flow rint(NaN)→int64 as undefined values
            # — the lineitem measures are non-null by construction, so
            # trip loudly rather than emit garbage (round-11 advice).
            for ci in range(2, 6):
                if b.column(ci).null_count:
                    raise ValueError(
                        "_q1_partials: null in measure column "
                        f"{b.schema.names[ci]!r}"
                    )
            fd = pc.dictionary_encode(b.column(0))
            sd = pc.dictionary_encode(b.column(1))
            fi = fd.indices.to_numpy(zero_copy_only=False).astype(np.int64)
            si = sd.indices.to_numpy(zero_copy_only=False).astype(np.int64)
            k = len(sd.dictionary)
            uq, inv = np.unique(fi * k + si, return_inverse=True)
            qc = np.rint(
                b.column(2).to_numpy(zero_copy_only=False) * 100
            ).astype(np.int64)
            pcv = np.rint(
                b.column(3).to_numpy(zero_copy_only=False) * 100
            ).astype(np.int64)
            dcv = np.rint(
                b.column(4).to_numpy(zero_copy_only=False) * 100
            ).astype(np.int64)
            tcv = np.rint(
                b.column(5).to_numpy(zero_copy_only=False) * 100
            ).astype(np.int64)
            sdp = pcv * (100 - dcv)
            sc = sdp * (100 + tcv)
            g = len(uq)
            sums = np.zeros((g, 5), dtype=np.int64)
            np.add.at(sums, inv, np.stack([qc, pcv, sdp, sc, dcv], axis=1))
            cnt = np.bincount(inv, minlength=g).astype(np.int64)
            fdict = fd.dictionary.to_pylist()
            sdict = sd.dictionary.to_pylist()
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array([fdict[u // k] for u in uq]),
                    pa.array([sdict[u % k] for u in uq]),
                ]
                + [pa.array(sums[:, j]) for j in range(5)]
                + [pa.array(cnt)],
                [
                    "l_returnflag",
                    "l_linestatus",
                    "sq",
                    "sp",
                    "sdp",
                    "sc",
                    "sd",
                    "cnt",
                ],
            )

    return li.select(
        "l_returnflag",
        "l_linestatus",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_tax",
    ).mapInArrow(part, schema)



# ---------------------------------------------------------------------------
# Q1 — pricing summary report (the canonical scan+hash-aggregate)
# ---------------------------------------------------------------------------
@register(
    "q1_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {_sql_dsumn('CAST(l_quantity AS DECIMAL(12,2))', 2)} AS sum_qty,
           {_sql_dsumn(_SQL_PRICE, 2)} AS sum_base_price,
           {_sql_dsumn(f'{_SQL_PRICE} * {_SQL_ONE_MINUS_DISC}', 4)} AS sum_disc_price,
           {_sql_dsumn(f'{_SQL_PRICE} * {_SQL_ONE_MINUS_DISC} * {_SQL_ONE_PLUS_TAX}', 6)}
             AS sum_charge,
           {sql_davg('l_quantity')} AS avg_qty,
           {sql_davg('l_extendedprice')} AS avg_price,
           {sql_davg('l_discount')} AS avg_disc,
           CAST(COUNT(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= DATE '2001-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1: the canonical single-pass scan → hash aggregate. Six "
    "measures over two grouping columns; every sum is an exact decimal "
    "fold (order-independent — a 1000-executor partial/final tree gives "
    "bit-identical results to the oracle), the three-factor charge stays "
    "inside DECIMAL(26,6). Whole plan = scan (shipdate pushed to parquet "
    "row groups) + partial agg + 6-group final agg: the optimal shape at "
    "any scale factor; map-side combine reduces 100 TB to KB before the "
    "one tiny shuffle.",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2001-09-02")
    )
    d38 = T.DecimalType(38, 0)

    def dn(c: str, div: int, s: int) -> F.Column:
        # Exact: the summed cent-scaled integers divide by a power of
        # ten without remainder at scale s, so the (18,s) narrowing and
        # the double cast see the identical exact value the old
        # decimal-sum path produced.
        return (
            (F.sum(F.col(c).cast(d38)) / F.lit(div))
            .cast(T.DecimalType(18, s))
            .cast("double")
        )

    return _q1_partials(li).groupBy("l_returnflag", "l_linestatus").agg(
        dn("sq", 100, 2).alias("sum_qty"),
        dn("sp", 100, 2).alias("sum_base_price"),
        dn("sdp", 10000, 4).alias("sum_disc_price"),
        dn("sc", 1000000, 6).alias("sum_charge"),
        (dn("sq", 100, 2) / F.sum("cnt")).alias("avg_qty"),
        (dn("sp", 100, 2) / F.sum("cnt")).alias("avg_price"),
        (dn("sd", 100, 2) / F.sum("cnt")).alias("avg_disc"),
        F.sum("cnt").cast("long").alias("count_order"),
    )


# ---------------------------------------------------------------------------
# Q2 — min-cost supplier per part (correlated min over a 4-way join)
# ---------------------------------------------------------------------------
@register(
    "q2_min_cost_supplier",
    oracle="""
    WITH supply AS (
      SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
    ),
    ranked AS (
      SELECT p.p_partkey, p.p_name, s.s_suppkey, s.s_name, s.s_acctbal, n.n_name,
             ROW_NUMBER() OVER (PARTITION BY p.p_partkey
                                ORDER BY s.s_acctbal ASC, s.s_suppkey ASC) AS rn
      FROM part p
      JOIN supply ON l_partkey = p_partkey
      JOIN supplier s ON s_suppkey = l_suppkey
      JOIN nation n ON n_nationkey = s_nationkey
      JOIN region r ON r_regionkey = n_regionkey
      WHERE p.p_size = 15 AND p.p_type = 'STANDARD' AND r.r_name = 'EUROPE'
    )
    SELECT p_partkey, p_name, s_suppkey, s_name, s_acctbal, n_name
    FROM ranked WHERE rn = 1
    """,
    doc="TPC-H Q2 shape (adapted: no partsupp table, so the part↔supplier "
    "relation is the DISTINCT (l_partkey, l_suppkey) pairs from lineitem, "
    "and 'minimum supply cost' becomes minimum s_acctbal, tie-broken by "
    "s_suppkey for a deterministic winner). Keeps Q2's defining shape: a "
    "correlated per-part minimum over a part⋈supply⋈supplier⋈nation⋈region "
    "join, expressed as a ROW_NUMBER window instead of TPC-H's correlated "
    "scalar subquery — one shuffle on p_partkey instead of a rescan. "
    "part/supplier/nation/region are all dims → broadcast; only the "
    "supply-pair distinct shuffles at scale.",
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    supply = (
        load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey").distinct()
    )
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_size") == 15) & (F.col("p_type") == "STANDARD")
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    joined = (
        supply.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(r), F.col("r_regionkey") == F.col("n_regionkey"))
    )
    w = Window.partitionBy("p_partkey").orderBy(
        F.col("s_acctbal").asc(), F.col("s_suppkey").asc()
    )
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("p_partkey", "p_name", "s_suppkey", "s_name", "s_acctbal", "n_name")
    )


# ---------------------------------------------------------------------------
# Q7 — volume shipping between two nations (dual-role dimension join)
# ---------------------------------------------------------------------------
@register(
    "q7_volume_shipping",
    oracle=f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l_shipdate) AS INT) AS l_year,
           {_sql_dsumn(f'{_SQL_PRICE} * {_SQL_ONE_MINUS_DISC}', 4)} AS revenue
    FROM lineitem
    JOIN orders ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation n1 ON n1.n_nationkey = s_nationkey
    JOIN nation n2 ON n2.n_nationkey = c_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      AND l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1998-01-01'
    GROUP BY n1.n_name, n2.n_name, year(l_shipdate)
    """,
    doc="TPC-H Q7: bilateral trade volume between two nations by year. "
    "The nation dim joins TWICE under different roles (supplier side and "
    "customer side) — the classic dual-alias dimension pattern; the OR of "
    "the two direction pairs cannot be pushed into either single join, so "
    "it lands as a post-join filter on the broadcast-joined result. Fact⋈"
    "fact (lineitem⋈orders) is the only real shuffle; customer/supplier/"
    "nation broadcast. Exact decimal revenue per (supp, cust, year).",
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    n1 = n.alias("n1")
    n2 = n.alias("n2")
    joined = (
        li.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(c), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n1), F.col("n1.n_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(n2), F.col("n2.n_nationkey") == F.col("c_nationkey"))
        .filter(
            (
                (F.col("n1.n_name") == "NATION_1")
                & (F.col("n2.n_name") == "NATION_2")
            )
            | (
                (F.col("n1.n_name") == "NATION_2")
                & (F.col("n2.n_name") == "NATION_1")
            )
        )
    )
    return joined.groupBy(
        F.col("n1.n_name").alias("supp_nation"),
        F.col("n2.n_name").alias("cust_nation"),
        F.year("l_shipdate").alias("l_year"),
    ).agg(_dsumn(_price() * _one_minus_disc(), 4).alias("revenue"))


# ---------------------------------------------------------------------------
# Q8 — national market share within a region (conditional-sum ratio)
# ---------------------------------------------------------------------------
@register(
    "q8_market_share",
    oracle=f"""
    WITH all_vol AS (
      SELECT year(o_orderdate) AS o_year,
             {_SQL_PRICE} * {_SQL_ONE_MINUS_DISC} AS volume,
             n1.n_name AS supp_nation
      FROM lineitem
      JOIN orders ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n2 ON n2.n_nationkey = c_nationkey
      JOIN region ON r_regionkey = n2.n_regionkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation n1 ON n1.n_nationkey = s_nationkey
      JOIN part ON p_partkey = l_partkey
      WHERE r_name = 'ASIA' AND p_type = 'PROMO'
        AND o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1998-01-01'
    )
    SELECT CAST(o_year AS INT) AS o_year,
           ({_sql_dsumn("CASE WHEN supp_nation = 'NATION_2' THEN volume ELSE CAST(0 AS DECIMAL(17,4)) END", 4)}
            / {_sql_dsumn('volume', 4)}) AS mkt_share
    FROM all_vol
    GROUP BY o_year
    """,
    doc="TPC-H Q8: one nation's market share of a part type sold into a "
    "region, per year — a conditional-sum ratio (CASE inside SUM) over a "
    "7-table join where nation again appears in two roles. Numerator and "
    "denominator are both exact decimal sums; the share is one double "
    "division (deterministic on both engines). Plan: lineitem⋈orders "
    "shuffle join; customer/part/supplier/nation/region all broadcast; "
    "the region and part-type filters prune the fact rows *before* the "
    "wide join fan-in.",
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1998-01-01"))
    )
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    n1 = n.alias("n1")
    n2 = n.alias("n2")
    vol = (
        li.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(c), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n2), F.col("n2.n_nationkey") == F.col("c_nationkey"))
        .join(F.broadcast(r), F.col("r_regionkey") == F.col("n2.n_regionkey"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n1), F.col("n1.n_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            (_price() * _one_minus_disc()).alias("volume"),
            F.col("n1.n_name").alias("supp_nation"),
        )
    )
    zero = F.lit(0).cast(T.DecimalType(17, 4))
    nation_vol = F.when(F.col("supp_nation") == "NATION_2", F.col("volume")).otherwise(
        zero
    )
    return vol.groupBy(F.col("o_year").cast("int").alias("o_year")).agg(
        (_dsumn(nation_vol, 4) / _dsumn(F.col("volume"), 4)).alias("mkt_share")
    )


# ---------------------------------------------------------------------------
# Q9 — product-line profit by nation and year
# ---------------------------------------------------------------------------
@register(
    "q9_product_profit",
    oracle=f"""
    SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
           {_sql_dsumn(f'{_SQL_PRICE} * {_SQL_ONE_MINUS_DISC}'
                       ' - CAST(p_retailprice AS DECIMAL(12,2))'
                       ' * CAST(l_quantity AS DECIMAL(8,2))'
                       " * CAST(0.1 AS DECIMAL(3,1))", 4)} AS sum_profit
    FROM lineitem
    JOIN orders ON o_orderkey = l_orderkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation ON n_nationkey = s_nationkey
    JOIN part ON p_partkey = l_partkey
    WHERE p_name LIKE '%bolt%'
    GROUP BY n_name, year(o_orderdate)
    """,
    doc="TPC-H Q9 shape (adapted: no partsupp, so supply cost is proxied "
    "as 10% of p_retailprice per unit — profit = discounted revenue − "
    "0.1·retail·qty, all in exact decimals). Keeps Q9's defining shape: a "
    "part-name LIKE filter fanned through a 5-table join, grouped by the "
    "supplier's nation × order year. The LIKE prunes part to a broadcast "
    "dim; lineitem⋈orders is the only shuffle join; profit arithmetic "
    "stays decimal-exact end-to-end so the per-(nation,year) sums are "
    "reduction-order-independent.",
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%bolt%"))
    profit = _price() * _one_minus_disc() - dec("p_retailprice", 2, 12) * dec(
        "l_quantity", 2, 8
    ) * F.lit(0.1).cast(T.DecimalType(3, 1))
    joined = (
        li.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
    )
    return joined.groupBy(
        F.col("n_name").alias("nation"),
        F.year("o_orderdate").cast("int").alias("o_year"),
    ).agg(_dsumn(profit, 4).alias("sum_profit"))


# ---------------------------------------------------------------------------
# Q10 — returned-item revenue ranking (top 20 customers)
# ---------------------------------------------------------------------------
@register(
    "q10_returned_items",
    oracle=f"""
    SELECT c_custkey, c_name,
           {_sql_dsumn(f'{_SQL_PRICE} * {_SQL_ONE_MINUS_DISC}', 4)} AS revenue,
           c_acctbal, n_name
    FROM customer
    JOIN orders ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation ON n_nationkey = c_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1996-04-01'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey ASC
    LIMIT 20
    """,
    doc="TPC-H Q10: top-20 customers by revenue lost to returns in one "
    "quarter. Aggregate → global top-k: Spark plans the ORDER+LIMIT as "
    "TakeOrderedAndProject (per-partition top-20 then a 20-row driver "
    "merge — no global sort at any scale). Revenue is an exact decimal "
    "sum so the DESC ranking is identical across engines; c_custkey "
    "breaks ties deterministically. The quarter filter lands on the "
    "orders scan before the fact⋈fact join.",
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1996-04-01"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    joined = (
        c.join(o, F.col("o_custkey") == F.col("c_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("c_nationkey"))
    )
    agg = joined.groupBy("c_custkey", "c_name", "c_acctbal", "n_name").agg(
        _dsumn(_price() * _one_minus_disc(), 4).alias("revenue")
    )
    return agg.select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name").orderBy(
        F.col("revenue").desc(), F.col("c_custkey").asc()
    ).limit(20)


# ---------------------------------------------------------------------------
# Q11 — important parts by traded value (scalar-subquery threshold)
# ---------------------------------------------------------------------------
@register(
    "q11_important_parts",
    oracle=f"""
    WITH part_value AS (
      SELECT l_partkey,
             {_sql_dsumn(f'{_SQL_PRICE} * CAST(l_quantity AS DECIMAL(8,2))', 4)} AS value
      FROM lineitem
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation ON n_nationkey = s_nationkey
      WHERE n_name = 'NATION_3'
      GROUP BY l_partkey
    )
    SELECT l_partkey, value
    FROM part_value
    WHERE value > (SELECT CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) * 0.001
                   FROM part_value)
    """,
    doc="TPC-H Q11 shape (adapted: no partsupp, so a part's held value is "
    "Σ extendedprice·quantity over lines supplied by NATION_3 suppliers "
    "instead of supplycost·availqty). Keeps Q11's defining shape: an "
    "aggregate reused TWICE — once grouped per part, once as a scalar "
    "total feeding a threshold predicate (value > 0.1% of total). Spark "
    "computes the grouped aggregate once, derives the 1-row total from "
    "it, and broadcast-crosses it back — no rescan of lineitem. The "
    "threshold itself is exact-decimal → one double multiply, so the "
    "boundary comparison can't flip between engines.",
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    value = _price() * dec("l_quantity", 2, 8)
    part_value = (
        li.join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))
        .groupBy("l_partkey")
        .agg(_dsumn(value, 4).alias("value"))
    )
    total = part_value.agg(
        (F.sum(F.col("value").cast(T.DecimalType(18, 4))).cast(T.DecimalType(18, 4)).cast("double") * F.lit(0.001)).alias("threshold")
    )
    return (
        part_value.crossJoin(F.broadcast(total))
        .filter(F.col("value") > F.col("threshold"))
        .select("l_partkey", "value")
    )


# ---------------------------------------------------------------------------
# Q12 — late-shipment priority classes (non-equi lateness + CASE counts)
# ---------------------------------------------------------------------------
@register(
    "q12_late_shipments",
    oracle="""
    SELECT CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY
                THEN 'VERY_LATE' ELSE 'LATE' END AS lateness,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem JOIN orders ON o_orderkey = l_orderkey
    WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
      AND l_shipdate >= DATE '1997-01-01' AND l_shipdate < DATE '1998-01-01'
    GROUP BY 1
    """,
    doc="TPC-H Q12 shape (adapted: no l_shipmode/l_commitdate/"
    "l_receiptdate, so 'shipmode' becomes a computed lateness bucket — "
    "60-90 days late vs >90 — and the receipt-vs-commit lateness "
    "predicate becomes ship-vs-order + 60 days). Keeps Q12's defining "
    "shape: a join carrying a NON-EQUI date condition plus conditional "
    "CASE-counts of priority classes per bucket. The year filter is "
    "pushed to the lineitem scan; the non-equi term evaluates post-join "
    "on the equi-matched pairs (never a cartesian).",
)
def q12_late_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    )
    o = load_table(spark, sf_dir, "orders")
    joined = li.join(o, F.col("o_orderkey") == F.col("l_orderkey")).filter(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY")
    )
    lateness = F.when(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAY"),
        F.lit("VERY_LATE"),
    ).otherwise(F.lit("LATE"))
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return joined.groupBy(lateness.alias("lateness")).agg(
        F.sum(F.when(is_high, 1).otherwise(0)).alias("high_line_count"),
        F.sum(F.when(~is_high, 1).otherwise(0)).alias("low_line_count"),
    )


# ---------------------------------------------------------------------------
# Q15 — top supplier(s) by quarterly revenue (agg reused for its own max)
# ---------------------------------------------------------------------------
@register(
    "q15_top_supplier",
    oracle=f"""
    WITH revenue0 AS (
      SELECT l_suppkey AS supplier_no,
             {_sql_dsumn(f'{_SQL_PRICE} * {_SQL_ONE_MINUS_DISC}', 4)} AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue0 ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue0)
    """,
    doc="TPC-H Q15: the supplier(s) achieving the maximum quarterly "
    "revenue — a derived aggregate compared against its own MAX (TPC-H "
    "phrases it as a view used twice). Spark computes revenue0 once; the "
    "1-row max broadcasts back over it, then the supplier dim broadcasts "
    "onto the survivors. Revenue is decimal-exact, so the equality "
    "against MAX is safe cross-engine (float-accumulated sums would make "
    "`=` nondeterministic). Ties all surface, keeping the result "
    "deterministic without arbitrary tie-breaking.",
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1996-04-01"))
    )
    revenue0 = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        _dsumn(_price() * _one_minus_disc(), 4).alias("total_revenue")
    )
    max_rev = revenue0.agg(F.max("total_revenue").alias("max_revenue"))
    s = load_table(spark, sf_dir, "supplier")
    return (
        revenue0.crossJoin(F.broadcast(max_rev))
        .filter(F.col("total_revenue") == F.col("max_revenue"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("supplier_no"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


# ---------------------------------------------------------------------------
# Q16 — supplier count per part attribute (distinct-count + NOT IN)
# ---------------------------------------------------------------------------
@register(
    "q16_parts_supplier_count",
    oracle="""
    SELECT p_brand, p_type, p_size,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) supply
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO'
      AND p_size IN (1, 9, 19, 29, 39, 49)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    """,
    doc="TPC-H Q16 shape (adapted: supply pairs from DISTINCT lineitem "
    "instead of partsupp; 'customer complaints' suppliers become those "
    "with negative account balance). Keeps Q16's defining shape: "
    "negated dim predicates (<>, NOT IN list) + a NOT-IN subquery "
    "excluding flagged suppliers + COUNT(DISTINCT) per 3-column part "
    "attribute group. The NOT IN compiles to a broadcast null-aware "
    "anti join (the subquery column is non-null here, keeping NOT IN "
    "== anti-join semantics); the distinct-count shuffles once on the "
    "group keys.",
)
def q16_parts_supplier_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    supply = (
        load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey").distinct()
    )
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#5")
        & (F.col("p_type") != "PROMO")
        & (F.col("p_size").isin(1, 9, 19, 29, 39, 49))
    )
    bad_supp = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    return (
        supply.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(
            F.broadcast(bad_supp),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


# ---------------------------------------------------------------------------
# Q17 — small-quantity-order revenue (correlated per-part average)
# ---------------------------------------------------------------------------
@register(
    "q17_small_qty_revenue",
    oracle=f"""
    WITH part_avg AS (
      SELECT l_partkey AS pk, 0.2 * {sql_davg('l_quantity')} AS qty_threshold
      FROM lineitem GROUP BY l_partkey
    )
    SELECT {_sql_dsumn(_SQL_PRICE, 2)} / 7.0 AS avg_yearly,
           CAST(COUNT(*) AS BIGINT) AS n_small_lines
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN part_avg ON pk = l_partkey
    WHERE p_brand = 'Brand#3' AND l_quantity < qty_threshold
    """,
    doc="TPC-H Q17: revenue that would be lost by refusing small orders — "
    "lines whose quantity is below 20% of their part's average quantity. "
    "The defining shape is the correlated per-part aggregate; expressed "
    "as a pre-aggregated per-part threshold joined back (Spark reuses "
    "the l_partkey shuffle rather than rescanning per row). The "
    "threshold is exact-sum/count then one double multiply, so the "
    "boundary predicate agrees across engines (quantities are integral, "
    "thresholds generically fractional). Brand filter broadcasts; the "
    "added line count makes the single-row result robustly checkable.",
)
def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part_avg = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        (F.lit(0.2) * davg("l_quantity")).alias("qty_threshold")
    )
    p = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#3")
    return (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(part_avg, F.col("pk") == F.col("l_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(
            (_dsumn(_price(), 2) / F.lit(7.0)).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_small_lines"),
        )
    )


# ---------------------------------------------------------------------------
# Q19 — disjunctive multi-attribute predicate (OR of conjunction blocks)
# ---------------------------------------------------------------------------
@register(
    "q19_disjunctive_revenue",
    oracle=f"""
    SELECT {_sql_dsumn(f'{_SQL_PRICE} * {_SQL_ONE_MINUS_DISC}', 4)} AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 20 AND 30)
    """,
    doc="TPC-H Q19: revenue matched by an OR of three conjunction blocks "
    "mixing part attributes (brand, size) with lineitem attributes "
    "(quantity) — the canonical disjunctive-predicate pushdown test. "
    "Catalyst factors the part-only disjuncts (brand/size) and pushes "
    "them below the join as `(b12∧s1-5) ∨ (b23∧s1-10) ∨ (b3∧s1-15)`, "
    "shrinking the build side before the broadcast; the mixed terms "
    "evaluate on the joined rows. Single exact-decimal scalar result "
    "plus a row count.",
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    joined = li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return joined.filter(cond).agg(
        _dsumn(_price() * _one_minus_disc(), 4).alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


# ---------------------------------------------------------------------------
# Q20 — suppliers with excess shipped volume (nested semi-join chain)
# ---------------------------------------------------------------------------
@register(
    "q20_excess_suppliers",
    oracle="""
    WITH heavy_pairs AS (
      SELECT l_partkey, l_suppkey
      FROM lineitem
      WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
        AND l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
      GROUP BY l_partkey, l_suppkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(8,2))) > 50
    )
    SELECT s_suppkey, s_name, n_name
    FROM supplier JOIN nation ON n_nationkey = s_nationkey
    WHERE n_regionkey = 2
      AND s_suppkey IN (SELECT l_suppkey FROM heavy_pairs)
    """,
    doc="TPC-H Q20 shape (adapted: no partsupp availability, so 'excess "
    "stock' becomes pairs that SHIPPED >50 units of a 'small%' part in "
    "1996). Keeps Q20's defining shape: a doubly-nested semi-join chain "
    "— parts filtered by LIKE feed a grouped HAVING aggregate over "
    "lineitem, whose supplier set semi-joins the supplier⋈nation dim "
    "restricted to one region. Every IN compiles to a LEFT SEMI join; "
    "the quantity HAVING uses an exact decimal sum so the >50 boundary "
    "(integral quantities) is engine-stable.",
)
def q20_excess_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    small_parts = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("small%")
    ).select("p_partkey")
    heavy_pairs = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
        )
        .join(
            F.broadcast(small_parts),
            F.col("p_partkey") == F.col("l_partkey"),
            "left_semi",
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(dec("l_quantity", 2, 8)).alias("shipped_qty"))
        .filter(F.col("shipped_qty") > 50)
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_regionkey") == 2)
    return (
        s.join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))
        .join(
            heavy_pairs.select("l_suppkey").distinct(),
            F.col("s_suppkey") == F.col("l_suppkey"),
            "left_semi",
        )
        .select("s_suppkey", "s_name", "n_name")
    )


# ---------------------------------------------------------------------------
# Q21 — the only late supplier in a multi-supplier order (EXISTS + NOT EXISTS)
# ---------------------------------------------------------------------------
@register(
    "q21_waiting_supplier",
    oracle="""
    SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM lineitem l1
    JOIN orders ON o_orderkey = l1.l_orderkey
    JOIN supplier ON s_suppkey = l1.l_suppkey
    JOIN nation ON n_nationkey = s_nationkey
    WHERE o_orderstatus = 'F' AND n_name = 'NATION_4'
      AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o_orderdate + INTERVAL 90 DAY)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name ASC
    LIMIT 20
    """,
    doc="TPC-H Q21 shape (adapted: lateness = shipped >90 days after the "
    "order date, standing in for receipt-after-commit). Keeps Q21's "
    "defining shape — the hardest TPC-H query: for finished orders, find "
    "suppliers whose line was late while SOME other supplier contributed "
    "to the order (correlated EXISTS) and NO other supplier was also "
    "late (correlated NOT EXISTS referencing the outer order's date), "
    "top-20 by wait count. Spark resolution: the correlated NOT EXISTS "
    "needs o_orderdate from the outer block, which Spark's subquery "
    "decorrelation cannot host — so both quantifiers are rewritten as "
    "one per-order aggregate over the late-line join (n_other_suppliers "
    "> 0 ∧ n_other_late = 0), an aggregation-based decorrelation that "
    "shuffles lineitem once on l_orderkey instead of running two "
    "correlated rescans.",
)
def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_4")

    # All lines of finished orders, flagged late w.r.t. their order date.
    lines = li.join(o, F.col("o_orderkey") == F.col("l_orderkey")).select(
        "l_orderkey",
        "l_suppkey",
        "o_orderdate",
        (
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAY")
        ).alias("is_late"),
    )
    # One explicit repartition on l_orderkey serves the whole derived
    # pipeline: the (orderkey, suppkey) aggregate runs on it via the
    # subset-clustering rule, the per-order window reuses it as-is —
    # ONE lineitem-sized shuffle total (the naive agg→window→semi-join
    # form costs three, plus a second evaluation of the join subtree).
    lines = lines.repartition("l_orderkey")
    # Per (order, supplier): late flag AND the late-line count — carrying
    # the count here is what makes the numwait rejoin unnecessary.
    per_supp = lines.groupBy("l_orderkey", "l_suppkey").agg(
        F.max(F.col("is_late").cast("int")).alias("supp_late"),
        F.sum(F.col("is_late").cast("int")).alias("n_late_lines"),
    )
    w = Window.partitionBy("l_orderkey")
    flagged = per_supp.withColumn(
        "n_suppliers", F.count(F.lit(1)).over(w)
    ).withColumn("n_late_suppliers", F.sum("supp_late").over(w))
    # The culprit: late itself, order multi-supplier, nobody else late.
    # numwait counts LATE LINES (not orders) — n_late_lines carries the
    # multiplicity the EXISTS-form oracle sees.
    culprits = flagged.filter(
        (F.col("supp_late") == 1)
        & (F.col("n_suppliers") > 1)
        & (F.col("n_late_suppliers") == 1)
    )
    return (
        culprits.join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))
        .groupBy("s_name")
        .agg(F.sum("n_late_lines").alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name").asc())
        .limit(20)
    )
