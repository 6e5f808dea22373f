package graft.operators

import graft.T
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** §2.3 Bloom-filter semi-join reduction — the classic shuffle-volume
  * weapon for selective big-big joins, made explicit as a library
  * operator. No reference analogue (the reference joins dimension
  * dictionaries in memory); this is infrastructure a 100 TB join needs.
  *
  * Shape: build a compact bitset over the SELECTIVE side's join keys
  * (one tiny shuffle, `numBits/64` longs back to the driver — KB-scale,
  * the same legitimate driver materialization as the IVF centroid
  * table), compile it into the PROBE side as a literal-array column
  * predicate, and only then join. The probe rows that cannot possibly
  * match are dropped BEFORE the join exchange, so the shuffle carries
  * ~selectivity × |probe| rows instead of all of them. False positives
  * only cost wasted shuffle bytes — the real join still runs, so the
  * RESULT is exact (which is what makes the key fully oracle-able by a
  * plain SQL join, unlike the sketch keys).
  *
  * This is the same trade Spark's own runtime bloom filter
  * (`spark.sql.optimizer.runtime.bloomFilter.enabled`) makes, surfaced
  * as an explicit API: the planner's version only fires under its own
  * heuristics (shuffle present, creation-side size thresholds), while a
  * pipeline author often KNOWS the build side is selective.
  *
  * Everything stays codegen'd: positions are `xxhash64(key, i)` pmod m
  * (varying the literal arm makes xxhash64 a seeded family), membership
  * is an element_at + shift + mask over the literal word array — no
  * UDF, no broadcast variable, no non-codegen Expression.
  *
  * Sizing at scale: m ≈ 10 bits per distinct build key gives ~1% FP at
  * k = 7; the bitset is m/8 bytes on the driver and in every task's
  * plan, so cap the build cardinality the way Spark caps its runtime
  * filter (tens of MB) and skip the reduction when the build side is
  * not selective — a bloom over 90% of the key space filters nothing.
  */
object BloomJoin {
  type Q = (SparkSession, String) => DataFrame

  /** Distributed Bloom build: k positions per key, OR-folded into
    * `numBits/64` words by ONE tiny aggregate (partial bit_or map-side,
    * so the shuffle is ≤ nWords rows per partition), collected to a
    * driver array. Deterministic: positions depend only on key values.
    */
  def buildBloom(build: DataFrame, key: Column, numBits: Int,
      numHashes: Int): Array[Long] = {
    require(numBits % 64 == 0, s"numBits must be a multiple of 64: $numBits")
    val nWords = numBits / 64
    val rows = build
      .select(explode(array((0 until numHashes).map(i =>
        pmod(xxhash64(key, lit(i)), lit(numBits.toLong))): _*)).as("pos"))
      // word = pos >> 6, bit = pos & 63 — bit ops, not division, so the
      // generated code is two integer instructions per hash.
      .select(shiftright(col("pos"), 6).cast("int").as("w"),
        call_function("shiftleft", lit(1L),
          col("pos").bitwiseAND(63L).cast("int")).as("b"))
      .groupBy("w").agg(call_function("bit_or", col("b")).as("bits"))
      // bounded-collect: bloom bitset words — ≤ numBits/64 post-agg rows.
      .collect()
    val words = new Array[Long](nWords)
    rows.foreach(r => words(r.getInt(0)) = r.getLong(1))
    words
  }

  /** Membership predicate over a built bitset — pure codegen'd column
    * math (element_at + unsigned shift + mask per hash, AND-folded).
    * No false negatives by construction; false-positive rate is the
    * standard (1 - e^{-kn/m})^k.
    */
  def mightContain(key: Column, words: Array[Long], numBits: Int,
      numHashes: Int): Column = {
    // ONE literal instance shared by all k probes (immutable Catalyst
    // trees share nodes) — constructing it inside the loop would embed
    // k full copies of the word array in the plan: k×64 KB of plan
    // payload at the default sizing, converted and shipped per task.
    val w = typedlit(words.toSeq)
    (0 until numHashes).map { i =>
      val pos = pmod(xxhash64(key, lit(i)), lit(numBits.toLong))
      call_function("shiftrightunsigned",
          element_at(w, shiftright(pos, 6).cast("int") + 1),
          pos.bitwiseAND(63L).cast("int"))
        .bitwiseAND(lit(1L)) === lit(1L)
    }.reduce(_ && _)
  }

  /** Bit fill ratio of a built bitset — the saturation diagnostic.
    * FP rate ≈ fill^k, so fill 0.5 at k=5 is ~3% (fine) but fill 0.8
    * is ~33% — the filter costs 5 hashes per probe row while passing
    * a third of the non-matches.
    */
  def fillRatio(words: Array[Long]): Double =
    words.map(java.lang.Long.bitCount(_).toLong).sum.toDouble /
      (words.length * 64L)

  /** Above this fill, [[reduceProbe]] skips the filter: the r7 API
    * sized the bitset blind (fixed 2^19 bits regardless of build
    * cardinality), so a build side past ~50k distinct keys blew the
    * ~10-bits/key sizing and saturated toward FP≈1 — callers paid the
    * build aggregate plus a 5-hash per-row predicate that filtered
    * essentially nothing. 0.6^5 ≈ 8% FP is the break-even ballpark.
    */
  val maxFillRatio = 0.6

  /** Probe side reduced by a Bloom filter built from `build`'s keys:
    * returns `probe` minus (most of) the rows whose key cannot appear
    * in `build`. Exact superset of the matching rows — compose with the
    * actual join for exact results. When the built bitset is saturated
    * (fill > [[maxFillRatio]] — an under-sized `numBits` for the build
    * cardinality), the probe is returned UNCHANGED: a saturated filter
    * is pure per-row overhead, and since the reduction is semantically
    * invisible (the real join follows), skipping it is always safe.
    */
  def reduceProbe(probe: DataFrame, probeKey: String, build: DataFrame,
      buildKey: String, numBits: Int = 1 << 19,
      numHashes: Int = 5): DataFrame = {
    // xxhash64 is TYPE-sensitive (equal values in INT vs BIGINT hash
    // differently), so a type mismatch here would silently drop
    // genuinely matching probe rows — the one failure mode a bloom
    // reduction must never have. Make it an error, not missing rows.
    val (pt, bt) = (probe.schema(probeKey).dataType,
      build.schema(buildKey).dataType)
    require(pt == bt,
      s"bloom key types must match exactly (xxhash64 is type-sensitive): " +
        s"$probeKey is $pt, $buildKey is $bt — cast one side first")
    val words = buildBloom(build, col(buildKey), numBits, numHashes)
    if (fillRatio(words) > maxFillRatio) probe
    else probe.filter(mightContain(col(probeKey), words, numBits, numHashes))
  }

  val queries: Map[String, Q] = Map(
    // Selective orders slice joined to lineitem, with the fact side
    // bloom-reduced BEFORE its join exchange. The filter sits in the
    // probe's scan stage (PlanSpec asserts it lands below the join),
    // and the result is exactly the plain join's — false positives are
    // shuffle waste, not wrong rows.
    "join_bloom" -> ((s, d) => {
      val sel = T.orders(s, d).filter(col("o_orderpriority") === "1-URGENT")
      val probe = reduceProbe(T.lineitem(s, d), "l_orderkey", sel,
        "o_orderkey")
      probe.join(sel, col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_returnflag")
        // Revenue on scaled longs (r18 — AggOps.agg_group's rationale).
        .agg(count(lit(1)).as("n_items"),
          T.moneyScaled(T.s128(
            T.scaledLong(col("l_extendedprice"), 2, "l_extendedprice") *
              (lit(100L) - T.scaledLong(col("l_discount"), 2, "l_discount",
                maxScaled = 100L))), 4).as("revenue"))
        .orderBy("l_returnflag")
    })
  )

  val oracle: Map[String, String] = Map(
    // The bloom stage is invisible to results: the oracle is the plain
    // selective join.
    "join_bloom" ->
      """SELECT l_returnflag, count(*) AS n_items,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4)) *
        |    (1 - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin
  )
}
