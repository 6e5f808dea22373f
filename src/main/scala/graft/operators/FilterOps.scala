package graft.operators

import graft.T
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** §2.2 Projections / filters / predicates. Reference analogue: cube
  * cells filtered by quality flag / time axis before fact emission
  * [R: genesapi/facts.py — UNVERIFIED]. All predicates stay as Column
  * expressions so Catalyst pushes them into the parquet scan.
  */
object FilterOps {
  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    // TPC-H Q6 shape: conjunctive range + between + inequality, then an
    // exact revenue sum (order-independent → hash-stable) on the
    // scaled-long fast path (r18 — AggOps.agg_group's rationale):
    // cents · discount·100 at scale 4 through Sum128 limbs replaces
    // the per-row decimal product + wide decimal buffer.
    "filter_conj" -> ((s, d) => {
      T.lineitem(s, d)
        .filter(
          col("l_shipdate") >= lit("1998-01-01").cast("timestamp") &&
          col("l_shipdate") <  lit("1999-01-01").cast("timestamp") &&
          col("l_discount").between(0.03, 0.07) &&
          col("l_quantity") < 24)
        .agg(
          // sum128 evaluates empty → 0 where SQL sum gives NULL; this
          // is a GLOBAL aggregate (always one output row), so keep the
          // SQL semantics explicit for an empty match set.
          when(count(lit(1)) === 0L, lit(null).cast("double"))
            .otherwise(T.moneyScaled(T.s128(
              T.scaledLong(col("l_extendedprice"), 2, "l_extendedprice") *
                T.scaledLong(col("l_discount"), 2, "l_discount",
                  maxScaled = 100L)), 4))
            .as("revenue"))
    }),

    "filter_in" -> ((s, d) =>
      T.orders(s, d)
        .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .select("o_orderkey", "o_orderpriority")
        .orderBy("o_orderkey")),

    // Three-valued logic: derived nullable column, IS NULL and
    // null-safe equality (<=>). Sort spans ALL projected columns:
    // (l_orderkey, l_linenumber) is NOT unique in this testdata
    // (~20% duplicate pairs), so a shorter sort isn't a total order.
    "filter_null" -> ((s, d) => {
      val rf = nullif(col("l_returnflag"), lit("N"))
      T.lineitem(s, d)
        .withColumn("rf", rf)
        .filter(col("rf").isNull || (col("rf") <=> lit("A")))
        .select("l_orderkey", "l_linenumber", "rf")
        .orderBy(asc_nulls_first("rf"), asc("l_orderkey"), asc("l_linenumber"))
    }),

    // Computed projection; exact per-row money math on scaled longs
    // (r18 — AggOps.agg_group's rationale, but PER ROW: the previous
    // form ran a wide-decimal multiply + HALF_UP round through
    // BigDecimal for every row of the biggest table). rev4 is the
    // exact 4dp-scaled revenue; (rev4 + 50) div 100 is HALF_UP to
    // cents for non-negative values (property-pinned ≡ the decimal
    // round in OperatorSemanticsSpec), and cents/100.0 is one
    // correctly-rounded IEEE division — the same double the decimal
    // program's cast produced.
    "project_expr" -> ((s, d) =>
      T.lineitem(s, d)
        .select(
          col("l_orderkey"), col("l_linenumber"),
          (T.scaledLong(col("l_extendedprice"), 2, "l_extendedprice") *
            (lit(100L) - T.scaledLong(col("l_discount"), 2, "l_discount",
              maxScaled = 100L))).as("rev4"))
        .select(
          col("l_orderkey"), col("l_linenumber"),
          (expr("(rev4 + 50L) div 100L") / lit(100.0)).as("revenue"))
        .orderBy("l_orderkey", "l_linenumber", "revenue"))
  )

  val oracle: Map[String, String] = Map(
    "filter_conj" ->
      """SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4)) *
        |           CAST(l_discount AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1998-01-01'
        |  AND l_shipdate <  TIMESTAMP '1999-01-01'
        |  AND l_discount BETWEEN 0.03 AND 0.07
        |  AND l_quantity < 24""".stripMargin,
    "filter_in" ->
      """SELECT o_orderkey, o_orderpriority FROM orders
        |WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
        |ORDER BY o_orderkey""".stripMargin,
    "filter_null" ->
      """SELECT l_orderkey, l_linenumber, nullif(l_returnflag, 'N') AS rf
        |FROM lineitem
        |WHERE nullif(l_returnflag, 'N') IS NULL
        |   OR nullif(l_returnflag, 'N') IS NOT DISTINCT FROM 'A'
        |ORDER BY rf ASC NULLS FIRST, l_orderkey, l_linenumber""".stripMargin,
    "project_expr" ->
      """SELECT l_orderkey, l_linenumber,
        |       CAST(round(CAST(l_extendedprice AS DECIMAL(18,4)) *
        |            (1 - CAST(l_discount AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
        |FROM lineitem ORDER BY l_orderkey, l_linenumber, revenue""".stripMargin
  )
}
