package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** The r18 scaled-long money fast path (T.scaledLong / T.s128 /
  * T.moneyScaled — the corrMatrix xc recipe shared engine-wide) must
  * be VALUE-IDENTICAL to the decimal program it replaced: the oracle
  * hashes are the round-level gate, these are the focused pins.
  */
class ScaledMoneySpec extends SparkSpec {
  import spark.implicits._

  test("scaledLong quantizes exactly like T.dec on <=2dp data, keeps NULL") {
    // Deterministic pseudo-random 2dp money values (+ NULL) — the
    // fixture population shape. Both programs must agree cent-for-cent.
    val rnd = new scala.util.Random(42)
    val vals: Seq[Option[Double]] =
      (1 to 2000).map(_ => Some(rnd.nextInt(10500000) / 100.0)) ++
        Seq(None, Some(0.0), Some(0.01), Some(104999.91))
    val df = vals.toDF("x")
    val out = df.select(
        T.scaledLong(col("x"), 2, "x").as("sl"),
        (T.dec(col("x")) * lit(100)).cast("long").as("ref"))
      .collect()
    out.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1), s"NULL passthrough drifted: $r")
      if (!r.isNullAt(0))
        assert(r.getLong(0) == r.getLong(1), s"quantization drifted: $r")
    }
  }

  test("scaledLong raises loudly outside [0, maxScaled)") {
    val neg = Seq(-0.01).toDF("x")
      .select(T.scaledLong(col("x"), 2, "x"))
    val e = intercept[Exception] { neg.collect() }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ chain(t.getCause)
    assert(chain(e).exists(_.contains("scaledLong")),
      s"expected the range guard, got: ${chain(e).mkString(" | ")}")
  }

  test("scaledLong / scaledLongSigned raise on NaN instead of " +
    "quantizing it to 0 (r18 advice — NaN < 0 is false in Spark and a " +
    "NON-ANSI NaN cast is 0L; under this engine's ANSI sessions the " +
    "quantizing cast throws, and THIS TEST is the tripwire that fires " +
    "if a session config flip ever lets NaN pass silently)") {
    // An explicit isnan() clause in the guard condition was measured
    // at +38% on join_star / +19% on macro_pricing (r19 A/B — the r18
    // generated-code-growth pathology, paid per call site across ~35
    // keys), so the ANSI cast IS the NaN guard; this pin keeps the
    // contract honest against config drift.
    val nan = Seq(Double.NaN).toDF("x")
    intercept[Exception] {
      nan.select(T.scaledLong(col("x"), 2, "x")).collect()
    }
    intercept[Exception] {
      nan.select(T.scaledLongSigned(col("x"), 2, "x")).collect()
    }
    // Control: ordinary values pass and quantize HALF_UP.
    val ok = Seq(1.25, 0.0).toDF("x")
      .select(T.scaledLong(col("x"), 2, "x").as("a"),
        T.scaledLongSigned(col("x"), 2, "x").as("b"))
      .collect()
    assert(ok.map(_.getLong(0)).toSeq == Seq(125L, 0L))
    assert(ok.map(_.getLong(1)).toSeq == Seq(125L, 0L))
  }

  test("(v + 50) div 100 is HALF_UP to cents — project_expr's rounding") {
    // Against the decimal round the previous implementation used, over
    // every residue class incl. the exact .5 boundary.
    val vals = (0L to 9999L) ++ Seq(1049999100L, 123456750L, 50L, 49L)
    val df = vals.toDF("rev4")
    val out = df.select(
        (expr("(rev4 + 50L) div 100L") / lit(100.0)).as("fast"),
        T.money(col("rev4").cast(DecimalType(38, 0)) / lit(10000L)).as("ref"))
      .collect()
    out.foreach(r => assert(r.getDouble(0) == r.getDouble(1),
      s"rounding drifted: $r"))
  }

  test("moneyLong ≡ moneyScaled for non-negative scale-2/4 longs") {
    // The per-row window/daily emit must round exactly like the
    // decimal descale path (incl. the .5 boundary and NULL).
    val vals = (0L to 9999L) ++ Seq(1049999100L, 123456750L, 987654321L)
    val df = vals.toDF("v")
    val out = df.select(
        T.moneyLong(col("v"), 4).as("f4"),
        T.moneyScaled(col("v"), 4).as("r4"),
        T.moneyLong(col("v"), 2).as("f2"),
        T.moneyScaled(col("v"), 2).as("r2"))
      .collect()
    out.foreach { r =>
      assert(r.getDouble(0) == r.getDouble(1), s"k=4 drifted: $r")
      assert(r.getDouble(2) == r.getDouble(3), s"k=2 drifted: $r")
    }
  }

  test("scaled-long aggregate program ≡ the decimal program on sf0.001") {
    // The agg_group/macro_pricing measure set, both ways, exact match.
    val li = T.lineitem(spark, sf)
    val pc = T.scaledLong(col("l_extendedprice"), 2, "p")
    val d2 = T.scaledLong(col("l_discount"), 2, "d", maxScaled = 100L)
    val t2 = T.scaledLong(col("l_tax"), 2, "t", maxScaled = 100L)
    val q = col("l_quantity").cast("long")
    val fast = li.groupBy("l_returnflag", "l_linestatus").agg(
        T.money(T.s128(q)).as("sum_qty"),
        T.moneyScaled(T.s128(pc), 2).as("sum_base"),
        T.moneyScaled(T.s128(pc * (lit(100L) - d2)), 4).as("sum_disc"),
        T.moneyScaled(T.s128(pc * (lit(100L) - d2) * (lit(100L) + t2)), 6)
          .as("sum_charge"))
      .orderBy("l_returnflag", "l_linestatus").collect()
    val ref = li.groupBy("l_returnflag", "l_linestatus").agg(
        T.money(sum(T.dec(col("l_quantity")))).as("sum_qty"),
        T.money(sum(T.dec(col("l_extendedprice")))).as("sum_base"),
        T.money(sum(T.dec(col("l_extendedprice")) *
          (lit(1) - T.dec(col("l_discount"))))).as("sum_disc"),
        T.money(sum(T.dec(col("l_extendedprice")) *
          (lit(1) - T.dec(col("l_discount"))) *
          (lit(1) + T.dec(col("l_tax"))))).as("sum_charge"))
      .orderBy("l_returnflag", "l_linestatus").collect()
    assert(fast.length == ref.length && fast.length > 0)
    fast.zip(ref).foreach { case (a, b) =>
      assert(a == b, s"scaled-long vs decimal drifted:\n  $a\n  $b") }
  }

  test("dq_reconcile's long adiff gate ≡ the decimal |diff| <= 0.01 gate") {
    // Planted header/computed pairs across the boundary: below, at,
    // just above 0.01, and a missing-facts NULL.
    val rows = Seq(
      (100.00, Some(100.00)), (100.00, Some(100.01)),
      (100.02, Some(100.00)), (0.01, Some(0.0)), (5.0, None))
    val df = rows.toDF("header", "computed")
    val h4 = (T.scaledLong(col("header"), 2, "h") * lit(100L))
    val c4 = (T.scaledLong(col("computed"), 2, "c") * lit(100L))
    val out = df.select(
        (abs(h4 - c4) <= 100L).as("fast"),
        (abs(T.dec(col("header")) - T.dec(col("computed"))) <= 0.01)
          .as("ref"))
      .collect()
    out.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1), s"NULL drifted: $r")
      if (!r.isNullAt(0))
        assert(r.getBoolean(0) == r.getBoolean(1), s"gate drifted: $r")
    }
  }

  test("money fixture columns are exactly 2dp at sf0.001 — the " +
      "scale-2 losslessness contract the converted keys rely on") {
    // If the fixture generator ever regenerates with >2dp money, the
    // scaled-long program quantizes where the decimal program kept
    // 4dp — this pin makes that drift a named failure, not an oracle
    // hash mystery.
    val li = T.lineitem(spark, sf)
    val bad = li.select(
        sum(when(T.dec(col("l_extendedprice")) =!=
          T.scaledLong(col("l_extendedprice"), 2, "p")
            .cast(DecimalType(18, 4)) / 100, 1L).otherwise(0L)).as("p"),
        sum(when(T.dec(col("l_discount")) =!=
          T.scaledLong(col("l_discount"), 2, "d", maxScaled = 100L)
            .cast(DecimalType(18, 4)) / 100, 1L).otherwise(0L)).as("d"),
        sum(when(T.dec(col("l_tax")) =!=
          T.scaledLong(col("l_tax"), 2, "t", maxScaled = 100L)
            .cast(DecimalType(18, 4)) / 100, 1L).otherwise(0L)).as("t"),
        sum(when(col("l_quantity") =!=
          col("l_quantity").cast("long").cast("double"), 1L)
          .otherwise(0L)).as("q"))
      .collect()(0)
    assert((0 until 4).forall(i => bad.getLong(i) == 0L),
      s"fixture money columns are no longer 2dp/integer: $bad")
  }
}
