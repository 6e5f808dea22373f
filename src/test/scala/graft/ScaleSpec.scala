package graft

import graft.operators.Skew
import graft.sources.Sinks
import org.apache.spark.sql.functions._

/** Scale-mechanics evidence: bucketed co-located joins eliminate the
  * join shuffle, and salted aggregation matches the plain aggregate
  * under skew.
  */
class ScaleSpec extends SparkSpec {
  import spark.implicits._

  test("bucketed tables join with NO shuffle exchange on either side") {
    // warehouse dir is a temp dir set at session build (SparkSpec)
    val o = T.orders(spark, sf).select("o_orderkey", "o_custkey", "o_totalprice")
    val c = T.customer(spark, sf).select("c_custkey", "c_name")
    Sinks.writeBucketed(o, "orders_b", "o_custkey", 8)
    Sinks.writeBucketed(c, "customer_b", "c_custkey", 8)
    // disable broadcast so the join strategy must exploit bucketing
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("orders_b")
        .join(spark.table("customer_b"), col("o_custkey") === col("c_custkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle:\n$plan")
      assert(joined.count() == T.orders(spark, sf).count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("AQE splits a skewed shuffle-join partition at runtime") {
    // The runtime half of the skew story (Skew.saltedSumCount is the
    // aggregation half): a hot join key concentrates one shuffle
    // partition; AQE must split it into parallel sub-partitions rather
    // than leave one straggler task. Thresholds are lowered so the
    // ~5 MB hot partition in this miniature qualifies.
    val confs = Map(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "65536",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "65536")
    val prev = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // pad must be NON-foldable (a literal pad is projected above the
      // join, leaving bare longs in the shuffle) and INCOMPRESSIBLE
      // (repetitive pads lz4-compress below the skew threshold —
      // AQE sees compressed map-output sizes).
      val big = spark.range(50000).select(
        when(col("id") % 100 === 0, col("id")).otherwise(0L).as("k"),
        concat(md5(col("id").cast("string")),
               md5((col("id") + 1).cast("string")),
               md5((col("id") + 2).cast("string"))).as("pad"))
      val small = spark.range(200).select(col("id").as("k"), lit(1).as("v"))
      val j = big.join(small, "k")
      // collect() (not count()) so THIS queryExecution runs and its
      // adaptive plan finalizes — count() executes a derived plan.
      // k=0 rows (49500 non-multiples + id=0) match small's k=0; of the
      // remaining distinct keys (100, 200, …) only k=100 is in small.
      assert(j.collect().length == 49502)
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"), s"AQE skew split did not fire:\n$p")
    } finally prev.foreach { case (k, vOpt) => vOpt match {
      case Some(v) => spark.conf.set(k, v)
      case None => spark.conf.unset(k)
    }}
  }

  test("cube source scales: many records stream per-file in parallel partitions") {
    // The DSv2 reader's scale shape on more-than-fixture data: 4 cube
    // files × 50k data records parse correctly (count + an exact sum —
    // a dropped or double-parsed record would break either), one
    // partition per file so files parse in parallel, and a cube
    // predicate plans only the matching file's partition. Throughput
    // itself isn't asserted (ambient load makes wall-clock flaky);
    // correctness-at-size plus the partition shape is the evidence.
    val dir = java.nio.file.Files.createTempDirectory("cube_scale")
    val header = Seq(
      "K;DQ;BIG", "D;DQA;DINSG;1;1", "D;DQZ;JAHR;2",
      "D;DQI;BEVSTD;ANZ;FEST;GANZ;0", "D;QEI;DINSG;JAHR;BEVSTD")
    val n = 50000
    for (f <- 0 until 4) {
      val sb = new StringBuilder(header.mkString("", "\n", "\n"))
      var i = 0
      while (i < n) {
        sb ++= f"D;$f%02d${i % 1000}%06d;${2019 + i % 3};${i % 97};e\n"
        i += 1
      }
      java.nio.file.Files.writeString(dir.resolve(f"big_$f%02d.csv"),
        sb.toString)
    }
    val df = spark.read.format("genesis-cube").load(dir.toString)
    assert(df.queryExecution.toRdd.getNumPartitions == 4)
    assert(df.count() == 4L * n)
    val expected = 4L * (0 until n).map(_ % 97).sum
    val got = df.agg(sum(col("value"))).collect()(0).getDouble(0)
    assert(got == expected, s"sum drift: $got vs $expected")
    val one = df.filter(col("cube") === "big_01")
    assert(one.queryExecution.toRdd.getNumPartitions == 1 &&
      one.count() == n)
  }

  test("salted aggregation tolerates caller columns named like its helpers") {
    // Input already has columns "s", "ps", "pn" — the helper must not care.
    val df = (1L to 100L).map(i => (i % 3, i.toDouble, "x", 1, 2))
      .toDF("k2", "val", "s", "ps", "pn")
    val got = Skew.saltedSumCount(df, "k2", col("val"), salt = 4)
      .orderBy("k2").collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    val want = df.groupBy("k2").agg(sum("val").as("sum_v"), count(lit(1)).as("n"))
      .orderBy("k2").collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    got.zip(want).foreach { case (g, w) =>
      assert(g._1 == w._1 && math.abs(g._2 - w._2) < 1e-6 && g._3 == w._3)
    }
  }

  test("salted aggregation equals the plain aggregate under heavy skew") {
    // 90% of rows share one key — the salted path must still agree.
    val rows = (1 to 2000).map(i => (if (i % 10 == 0) i.toLong else 7L, i.toDouble))
    val df = rows.toDF("k", "v").repartition(8)
    val got = Skew.saltedSumCount(df, "k", col("v"), salt = 16)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
    val want = df.groupBy("k").agg(sum("v").as("sum_v"), count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
    // compare with FP tolerance on the sums (different add order)
    val gm = got.map(t => t._1 -> t).toMap; val wm = want.map(t => t._1 -> t).toMap
    assert(gm.keySet == wm.keySet)
    gm.keySet.foreach { k =>
      assert(math.abs(gm(k)._2 - wm(k)._2) < 1e-6 && gm(k)._3 == wm(k)._3)
    }
  }
}
