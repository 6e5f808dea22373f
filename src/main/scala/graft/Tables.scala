package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Table loaders + determinism helpers shared by every operator.
  *
  * Determinism rules (SURVEY.md §7.5) applied engine-wide:
  *   - SUMs of money-scale doubles go through [[T.dec]] (DECIMAL(18,4))
  *     so the aggregate is exact and independent of partition order —
  *     a raw double sum at sf0.1 magnitudes can differ between engines
  *     by more than a 4-dp rounding step.
  *   - Every declared query ends in a total-order sort on a unique key.
  *   - `events.ts` arrives in whatever precision the fixture generator
  *     last used (ns-as-LongType, µs TIMESTAMP_NTZ, or TIMESTAMP);
  *     [[T.events]] normalizes all three to a session-zone TIMESTAMP,
  *     so downstream code sees one dtype regardless of fixture vintage.
  *     Still second-truncate / string-format before comparing or
  *     emitting (DuckDB may keep finer precision than Spark).
  */
object T {
  def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String)     = t(s, d, "region")
  def nation(s: SparkSession, d: String)     = t(s, d, "nation")
  def customer(s: SparkSession, d: String)   = t(s, d, "customer")
  def supplier(s: SparkSession, d: String)   = t(s, d, "supplier")
  def part(s: SparkSession, d: String)       = t(s, d, "part")
  def orders(s: SparkSession, d: String)     = t(s, d, "orders")
  def lineitem(s: SparkSession, d: String)   = t(s, d, "lineitem")

  /** Schema-adaptive `events` loader. The fixture generator has shipped
    * `ts` in three shapes across rounds, so branch on the LOADED dtype
    * rather than assuming one:
    *   - parquet TIMESTAMP(NANOS): Spark 4's reader rejects it
    *     ([PARQUET_TYPE_ILLEGAL]) unless
    *     `spark.sql.legacy.parquet.nanosAsLong=true` (set by
    *     [[GraftSession.builder]]), which surfaces epoch-nanos as
    *     LongType → convert via integer `div` (double division loses
    *     precision above 2^53; epoch-nanos ≈ 1.7e18).
    *   - timestamp[us] → TIMESTAMP_NTZ: cast to session-zone TIMESTAMP.
    *     The session is pinned UTC engine-wide, so the naive wall-clock
    *     value is preserved bit-for-bit (same trick join_nearest uses
    *     for o_orderdate).
    *   - TIMESTAMP: pass through.
    */
  def events(s: SparkSession, d: String): DataFrame =
    normalizeTs(t(s, d, "events"))

  /** Normalize a `ts` column of any fixture vintage to TIMESTAMP.
    * Exposed separately from [[events]] so streaming reads (which go
    * through `readStream`, not this loader) apply the identical
    * branching.
    */
  def normalizeTs(raw: DataFrame, colName: String = "ts"): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    raw.schema(colName).dataType match {
      case LongType =>
        raw.withColumn(colName, expr(s"timestamp_micros($colName div 1000)"))
      case TimestampNTZType =>
        raw.withColumn(colName, col(colName).cast(TimestampType))
      case TimestampType => raw
      case other => throw new IllegalStateException(
        s"$colName has unsupported dtype $other — extend T.normalizeTs for this fixture shape")
    }
  }

  def documents(s: SparkSession, d: String)  = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String) = t(s, d, "embeddings")

  /** Exact-arithmetic cast for money-scale aggregation inputs. */
  def dec(c: Column): Column = c.cast(DecimalType(18, 4))

  /** x·10^scale carried as a plain LONG — the integer fast path under
    * exact money aggregation, shared engine-wide (r18; the
    * [[graft.operators.AggOps.corrMatrix]] xc recipe, where it was
    * measured: agg_corr 2.2 → 1.0 s at sf0.1 when its per-row decimal
    * products and DECIMAL(38) sum buffers moved to scaled longs).
    *
    * Why: `sum(x.cast(DECIMAL(18,4)))` widens the aggregation buffer
    * to DECIMAL(28,4), which no longer fits UnsafeRow's compact long
    * slot — EVERY per-row update then deserializes a BigInteger, adds
    * through java.math.BigDecimal and reserializes. Products of two
    * decimals (price·(1−discount)) leave the compact form per ROW as
    * well. Carrying x·10^scale as a long keeps per-row math and the
    * whole aggregate inside WholeStageCodegen: long multiplies feed
    * [[graft.functions.Sum128]]'s two-long-limb buffers (exact to
    * 2^124 — decimal(38)-class headroom, so the path is 100 TB-safe
    * where a plain long sum buffer could overflow).
    *
    * Semantics: HALF_UP quantization to `scale` decimals — identical
    * to the [[dec]] → DECIMAL(18,4) program whenever the data has at
    * most `scale` true decimals (the money fixtures are exactly-2dp;
    * pinned by OperatorSemanticsSpec against the decimal program).
    * Guards mirror corrMatrix's xc (r12 advice): a value that
    * overflows the DECIMAL(18,scale) cast — NULL in non-ANSI mode —
    * or lands outside [0, maxScaled) raises instead of silently
    * corrupting a limb. NULL inputs stay NULL (three-valued when).
    */
  def scaledLong(c: Column, scale: Int, name: String,
      maxScaled: Long = 1L << 40): Column = {
    // Pure-double scaling, NOT a decimal cast + multiply: the decimal
    // form's ×10^scale widens past 18 digits, so every row paid a
    // BigDecimal multiply — measured as a win_running/join_star A/B
    // regression before this form. floor(x·10^s + 0.5) equals the
    // DECIMAL(18,s) HALF_UP quantization whenever the data has at
    // most `scale` true decimals and |x·10^s| < 2^50 (then the float
    // error is ≪ 0.5) — exactly the losslessness contract above,
    // which ScaledMoneySpec pins against T.dec on the fixture shape.
    val v = (c * lit(math.pow(10, scale)) + lit(0.5))
      .cast(org.apache.spark.sql.types.LongType)
    // Guard on the RAW sign, not v: a small negative (−0.004 at scale
    // 2) truncates to v = 0 and would slip a signed value through the
    // non-negative contract silently.
    // NaN contract (r18 advice): NaN < 0 is FALSE in Spark and a
    // NON-ANSI NaN→LONG cast is 0, so under non-ANSI execution a NaN
    // would quantize to a silent 0 — the corruption mode this guard
    // exists to make loud. Under ANSI mode — Spark 4's default and
    // the GraftSession operating mode — the quantizing cast itself
    // throws CAST_OVERFLOW on NaN, so NaN ALREADY fails loudly here.
    // An explicit `isnan(c)` clause in this condition was measured
    // (r19 A/B, min-of-5 same session order) at +38% on join_star's
    // scan→5-join→agg whole-stage span and +19% on macro_pricing —
    // the same generated-code-growth pathology as the r18 concat
    // guards, paid per call site across ~35 keys — for an error this
    // engine's sessions already raise. Rejected; the ANSI dependence
    // is pinned by ScaledMoneySpec's NaN test, which fails loudly if
    // a session config flip ever lets NaN pass silently.
    // STATIC error message: a concat(name, cast(value)) in the error
    // branch costs nothing at runtime but bloats the generated code —
    // measured +30% on join_star's scan→5-join→agg whole-stage span
    // (the branch's expression tree is compiled into every call site).
    when(c < 0 || v >= maxScaled,
      raise_error(lit(
        s"scaledLong: $name scaled by 10^$scale outside [0, $maxScaled)")))
      .otherwise(v)
  }

  /** Signed variant of [[scaledLong]] for plain-long window/group
    * sums (NOT Sum128, whose limb carry needs non-negative addends):
    * same HALF_UP quantization, guard on |x·10^scale| < maxAbsScaled.
    */
  def scaledLongSigned(c: Column, scale: Int, name: String,
      maxAbsScaled: Long = 1L << 40): Column = {
    // Mirror-image of [[scaledLong]]'s pure-double scaling so the
    // HALF_UP is away from zero on both signs (BigDecimal's HALF_UP,
    // which the decimal cast used).
    val f = lit(math.pow(10, scale))
    val v = when(c >= 0,
        (c * f + lit(0.5)).cast(org.apache.spark.sql.types.LongType))
      .otherwise(-((-c * f + lit(0.5))
        .cast(org.apache.spark.sql.types.LongType)))
    // Same NaN contract as [[scaledLong]]: ANSI's CAST_OVERFLOW is the
    // NaN guard (a non-ANSI NaN cast is 0 and |0| < max would pass
    // silently — ScaledMoneySpec pins that this session still raises).
    when(abs(v) >= maxAbsScaled,
      raise_error(lit(
        s"scaledLongSigned: $name scaled by 10^$scale outside " +
          s"(-$maxAbsScaled, $maxAbsScaled)")))
      .otherwise(v)
  }

  /** [[graft.functions.Sum128]] over a scaled-long column. */
  def s128(c: Column): Column = call_function("graft_sum128", c)

  /** Descale a scale-`k` integer sum exactly: DECIMAL division by
    * 10^k — result scale ≥ 6 by Spark's division typing, so any true
    * value with ≤ 6 decimals (every money product here: 2dp·2dp·2dp)
    * is represented exactly; the final rounding is [[money]]'s.
    */
  def moneyScaled(c: Column, k: Int): Column =
    money(c.cast(DecimalType(38, 0)) / lit(math.pow(10, k).toLong))

  /** [[money]] for a NON-NEGATIVE scale-`k` LONG in pure long math:
    * HALF_UP to cents via (x + 5·10^(k-3)... ) div 10^(k-2), then ONE
    * correctly-rounded IEEE division to the double image — the same
    * double money(decimal descale) produces (the rounding identity is
    * property-pinned in ScaledMoneySpec). Use this on PER-ROW emits
    * (window frames, daily grids): [[moneyScaled]]'s decimal division
    * is fine once per aggregate group but costs a BigDecimal op per
    * row when the emit is row-grain — measured as the win_running A/B
    * regression in r18 before this helper existed.
    */
  def moneyLong(c: Column, k: Int): Column = {
    require(k >= 2, s"moneyLong needs a money scale >= 2: $k")
    val d = math.pow(10, k - 2).toLong
    val cents = if (k == 2) c else call_function("div", c + lit(d / 2), lit(d))
    cents / lit(100.0)
  }

  /** Fan a small single-file table out across the cluster before
    * per-row-expensive work (shingling, hashing, dot products). The
    * testdata tables arrive as ONE parquet file → one input partition
    * → the whole map stage runs on one core; at real scale inputs span
    * many files and `spark.sql.files.maxPartitionBytes` does this job,
    * so the repartition is a no-op-equivalent there, not a crutch.
    */
  def spread(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** Final-projection form of a decimal aggregate: rounded, cast to
    * double. The driver's pandas-based comparator canonicalizes DECIMAL
    * inconsistently between Spark and DuckDB outputs (round-1 verdict:
    * all six hash failures were exactly the decimal-emitting queries),
    * so the house rule is: aggregate exactly in DECIMAL, but never let
    * a DECIMAL (or array/map/struct) reach the final projection.
    * Oracle-side mirror: `CAST(round(<expr>, 2) AS DOUBLE)`.
    */
  def money(c: Column): Column = round(c, 2).cast("double")

  /** Timestamp → 'yyyy-MM-dd' string (date-grain output). */
  def dstr(c: Column): Column = date_format(c, "yyyy-MM-dd")

  /** Timestamp → 'yyyy-MM-dd HH:mm:ss' string (second-grain output). */
  def tstr(c: Column): Column = date_format(c, "yyyy-MM-dd HH:mm:ss")

  /** Write-once content-checked fixture file, atomically. The fixture
    * paths are fixed so the driver's DuckDB pass reads the identical
    * bytes, which means another JVM (a concurrent sbt run, the driver)
    * can be reading while we write — so never write in place: stage to
    * a temp file in the same directory and ATOMIC_MOVE it over, so a
    * reader observes either the old or the new content, never a
    * partial file.
    */
  def ensureFile(path: String, content: String): String = {
    val p = java.nio.file.Paths.get(path)
    val current =
      if (java.nio.file.Files.exists(p))
        new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      else ""
    if (current != content) {
      val tmp = java.nio.file.Files.createTempFile(
        p.getParent, "." + p.getFileName.toString, ".tmp")
      java.nio.file.Files.write(tmp, content.getBytes("UTF-8"))
      java.nio.file.Files.move(tmp, p,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    path
  }
}
