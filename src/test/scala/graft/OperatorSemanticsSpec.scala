package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Per-category edge-case semantics over crafted micro-inputs — the
  * corners the sf-scale oracle can't isolate: as-of tie-breaks, outer
  * join null columns, rollup level structure, frame defaults.
  */
class OperatorSemanticsSpec extends SparkSpec {
  import spark.implicits._

  test("as-of semantics: strict <=, ties to highest key, no-match drops") {
    val events = Seq((1L, "2020-01-10"), (2L, "2020-01-01"))
      .toDF("event_id", "ets").withColumn("ets", col("ets").cast("timestamp"))
    val orders = Seq(
      (10L, 1L, "2020-01-10"), // equal ts: <= keeps it
      (11L, 1L, "2020-01-10"), // tie on date: higher key wins
      (12L, 1L, "2020-01-05"),
      (13L, 2L, "2020-01-05")) // after event 2: dropped → event 2 no match
      .toDF("okey", "ouser", "odate").withColumn("odate", col("odate").cast("timestamp"))
    val out = events.join(orders,
        col("event_id") === col("ouser") && col("odate") <= col("ets"))
      .groupBy("event_id")
      .agg(max(struct(col("odate"), col("okey"))).as("best"))
      .select(col("event_id"), col("best.okey"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 11L)) // equal-date tie → key 11; event 2 dropped
  }

  test("AsOf.asofJoin API: same micro-semantics, left form keeps no-match rows") {
    import graft.operators.AsOf
    val events = Seq((1L, "2020-01-10"), (2L, "2020-01-01"))
      .toDF("event_id", "ets").withColumn("ets", col("ets").cast("timestamp"))
    val orders = Seq(
      (10L, 1L, "2020-01-10"), (11L, 1L, "2020-01-10"),
      (12L, 1L, "2020-01-05"), (13L, 2L, "2020-01-05"))
      .toDF("okey", "ouser", "odate").withColumn("odate", col("odate").cast("timestamp"))
    val inner = AsOf.asofJoin(events, orders, "event_id", "ouser",
        "ets", "odate", "okey")
      .select("event_id", "okey")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(inner == Map(1L -> 11L), s"inner form drifted: $inner")
    val left = AsOf.asofJoin(events, orders, "event_id", "ouser",
        "ets", "odate", "okey", keepUnmatched = true)
      .select("event_id", "okey").orderBy("event_id")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSeq
    assert(left == Seq(1L -> Some(11L), 2L -> None),
      s"left form must keep event 2 with NULL order: $left")
  }

  test("AsOf.nearestJoin: either direction, pinned ties, left form") {
    import graft.operators.AsOf
    // event 1 at t=100: candidates at 90 (d=10) and 105 (d=5) → 105;
    // event 2 at t=50: equidistant 40/60 (d=10) → earlier (40), and
    // two orders at t=40 → smaller key 21; event 3 has no candidate.
    val events = Seq((1L, 100L), (2L, 50L), (3L, 999L))
      .toDF("event_id", "ets")
      .withColumn("grp", when(col("event_id") === 3L, 9L).otherwise(1L))
    val orders = Seq(
      (10L, 1L, 90L), (11L, 1L, 105L),
      (21L, 1L, 40L), (22L, 1L, 40L), (23L, 1L, 60L))
      .toDF("okey", "ogrp", "ot")
    val inner = AsOf.nearestJoin(events, orders, "grp", "ogrp",
        "ets", "ot", "okey")
      .select("event_id", "okey")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(inner == Map(1L -> 11L, 2L -> 21L), s"nearest drifted: $inner")
    val left = AsOf.nearestJoin(events, orders, "grp", "ogrp",
        "ets", "ot", "okey", keepUnmatched = true)
      .select("event_id", "okey").orderBy("event_id")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSeq
    assert(left == Seq(1L -> Some(11L), 2L -> Some(21L), 3L -> None))
  }

  test("as-of family: a right time that CASTS to null never matches " +
    "(r15 advice — the null filter runs on the cast value)") {
    import graft.operators.AsOf
    // Unparseable string times cast to NULL only under non-ANSI
    // semantics (ANSI cast throws); the fixture runs with ansi off,
    // the configuration where the pre-fix bug was reachable: the
    // garbage row passed the pre-cast isNotNull filter, its NULL __t
    // sorted nulls-first ahead of every left row, and the running
    // `last` credited it to any left row with no real match.
    val ansiBefore = spark.conf.get("spark.sql.ansi.enabled")
    try {
      spark.conf.set("spark.sql.ansi.enabled", "false")
      val events = Seq((1L, "2020-01-01")).toDF("event_id", "ets")
      val orders = Seq(
        (10L, 1L, "not-a-time"), // casts to NULL: must never match
        (11L, 1L, "2020-06-01")) // after the event: no backward match
        .toDF("okey", "ouser", "odate")
      val back = AsOf.asofJoin(events, orders, "event_id", "ouser",
        "ets", "odate", "okey").count()
      assert(back == 0, "backward as-of matched a null-cast time")
      // Forward dual: garbage row must not shadow or precede the real
      // 2020-06-01 match.
      val fwd = AsOf.asofJoinForward(events, orders, "event_id", "ouser",
          "ets", "odate", "okey")
        .select("okey").collect().map(_.getLong(0)).toSeq
      assert(fwd == Seq(11L), s"forward as-of drifted: $fwd")
      val near = AsOf.nearestJoin(events, orders, "event_id", "ouser",
          "ets", "odate", "okey")
        .select("okey").collect().map(_.getLong(0)).toSeq
      assert(near == Seq(11L), s"nearest drifted: $near")
    } finally spark.conf.set("spark.sql.ansi.enabled", ansiBefore)
  }

  test("AsOf.nearestJoin orders sub-second timestamps untruncated " +
    "(r15 advice — µs precision, not epoch-seconds)") {
    import graft.operators.AsOf
    // Event at 10.0 s; candidates at 9.9 s (d = 0.1 s) and 10.9 s
    // (d = 0.9 s). Epoch-second truncation turned these into d=1 vs
    // d=0 and picked the WRONG side; µs math picks 9.9.
    val events = Seq((1L, "2020-01-01 00:00:10"))
      .toDF("event_id", "ets")
      .withColumn("ets", col("ets").cast("timestamp"))
    val orders = Seq(
      (10L, 1L, "2020-01-01 00:00:09.9"),
      (11L, 1L, "2020-01-01 00:00:10.9"))
      .toDF("okey", "ouser", "odate")
      .withColumn("odate", col("odate").cast("timestamp"))
    val got = AsOf.nearestJoin(events, orders, "event_id", "ouser",
        "ets", "odate", "okey")
      .select("okey").collect().map(_.getLong(0)).toSeq
    assert(got == Seq(10L), s"sub-second nearest drifted: $got")
    val ref = AsOf.nearestJoinViaJoinAgg(events, orders, "event_id",
        "ouser", "ets", "odate", "okey")
      .select("okey").collect().map(_.getLong(0)).toSeq
    assert(ref == Seq(10L), "join-agg reference must agree at µs precision")
  }

  test("agg_outlier: only rows beyond the Tukey fences flag") {
    import spark.implicits._
    // one group, values 1..8 plus 100: q1=3, q3=7 (exact indices),
    // fences [-3, 13] → only 100 is an outlier
    val e = ((1 to 8).map(_.toDouble) :+ 100.0).zipWithIndex
      .map { case (v, i) => (i.toLong, "t", v) }
      .toDF("event_id", "event_type", "value")
    val fences = e.groupBy("event_type")
      .agg(expr("percentile(value, array(0.25D, 0.75D))").as("ps"))
      .select(col("event_type"),
        (element_at(col("ps"), 1) -
          lit(1.5) * (element_at(col("ps"), 2) - element_at(col("ps"), 1)))
          .as("lo"),
        (element_at(col("ps"), 2) +
          lit(1.5) * (element_at(col("ps"), 2) - element_at(col("ps"), 1)))
          .as("hi"))
    val out = e.join(broadcast(fences), Seq("event_type"))
      .filter(col("value") < col("lo") - lit(1e-6) ||
              col("value") > col("hi") + lit(1e-6))
      .select("value").as[Double].collect().toSeq
    assert(out == Seq(100.0), s"fences [-3,13] must flag only 100: $out")
  }

  test("scan_csv: RFC-4180 quoting corners parse to typed columns") {
    val rows = SparkEntry.queries("scan_csv")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getDouble(3)))
      .toSeq
    assert(rows == Seq(
      (1L, "widget, large", Some(3L), 19.99),   // quoted delimiter
      (2L, "say \"hi\"", Some(1L), 5.5),        // escaped quote
      (3L, "plain", None, 7.25),                // empty field → NULL
      (4L, "multi word", Some(10L), 0.1)))
  }

  test("scan_xml: entities decode, attribute surfaces, missing elements " +
    "are typed NULLs") {
    val rows = SparkEntry.queries("scan_xml")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getDouble(3),
        if (r.isNullAt(4)) None else Some(r.getString(4))))
      .toSeq
    assert(rows == Seq(
      (1L, "widget", Some(3L), 19.99, Some("a & b")),      // &amp; decoded
      (2L, "gizmo <mini>", Some(1L), 5.5, None),           // &lt;/&gt;; no note
      (3L, "plain", None, 7.25, Some("x")),                // missing qty
      (4L, "multi word", Some(10L), 0.1, Some("y z"))), rows.toString)
  }

  test("win_islands: consecutive-day runs split exactly at gaps") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // user 1: days 1,2,3 | 5 | 10,11 → three islands of len 3,1,2;
    // user 2: one day → one island of len 1
    val days = Seq((1L, 1), (1L, 2), (1L, 3), (1L, 5), (1L, 10), (1L, 11),
      (2L, 7)).map { case (u, off) => (u, java.sql.Date.valueOf(
        java.time.LocalDate.of(2024, 1, 1).plusDays(off.toLong).toString)) }
      .toDF("user_id", "day")
    val w = Window.partitionBy("user_id").orderBy(col("day").asc)
    val islands = days
      .withColumn("grp",
        datediff(col("day"), lit("1970-01-01").cast("date")) -
          row_number().over(w))
      .groupBy("user_id", "grp")
      .agg(graft.T.dstr(min(col("day"))).as("s"), count(lit(1)).as("len"))
      .select("user_id", "s", "len")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .toSet
    assert(islands == Set(
      (1L, "2024-01-02", 3L), (1L, "2024-01-06", 1L),
      (1L, "2024-01-11", 2L), (2L, "2024-01-08", 1L)), islands.toString)
  }

  test("win_funnel idiom: order enforced, conversion window gates, secs exact") {
    import spark.implicits._
    // u1 completes: view@0 → click@100 → purchase@200 (secs = 200)
    // u2 stalls at view: only click is BEFORE the view (order!)
    // u3 stalls at click: purchase outside the 1-day window from t2
    // u4 never views → stage 0 even with click+purchase present
    val ev = Seq(
      (1L, "view", 0L), (1L, "click", 100L), (1L, "purchase", 200L),
      (2L, "click", 50L), (2L, "view", 60L),
      (3L, "view", 0L), (3L, "click", 10L), (3L, "purchase", 10 + 86401L),
      (4L, "click", 5L), (4L, "purchase", 6L))
      .toDF("user_id", "event_type", "es")
    val w = Window.partitionBy("user_id")
    val step = 86400L
    val staged = ev
      .withColumn("t1", min(when(col("event_type") === "view", col("es"))).over(w))
      .withColumn("t2", min(when(col("event_type") === "click" &&
        col("es") > col("t1") && col("es") <= col("t1") + step, col("es"))).over(w))
      .withColumn("t3", min(when(col("event_type") === "purchase" &&
        col("es") > col("t2") && col("es") <= col("t2") + step, col("es"))).over(w))
      .groupBy("user_id")
      .agg(min("t1").as("t1"), min("t2").as("t2"), min("t3").as("t3"))
      .select(col("user_id"),
        when(col("t3").isNotNull, 3L).when(col("t2").isNotNull, 2L)
          .when(col("t1").isNotNull, 1L).otherwise(0L).as("stage"),
        (col("t3") - col("t1")).as("secs"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
    assert(staged == Map(1L -> (3L, 200L), 2L -> (1L, -1L),
      3L -> (2L, -1L), 4L -> (0L, -1L)), staged.toString)
  }

  test("ts_interp: observed rows pass through, gap rows on the exact line") {
    val out = graft.operators.TimeSeries.queries("ts_interp")(spark, sf)
      .collect()
    assert(out.nonEmpty)
    // observed days: interp_v === day_v bit-for-bit
    out.filter(!_.isNullAt(3)).foreach { r =>
      assert(r.getDouble(3) == r.getDouble(4), r.toString)
    }
    // gap days: recompute the line in Scala from the flanking observed
    // rows (same IEEE ops, so exact equality is the right assertion)
    val byUser = out.groupBy(_.getLong(0))
    byUser.foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getLong(1))
      val obs = sorted.filter(!_.isNullAt(3)).map(r => r.getLong(1) -> r.getDouble(3))
      sorted.filter(_.isNullAt(3)).foreach { r =>
        val d = r.getLong(1)
        val (ps, pv) = obs.filter(_._1 < d).last
        val (ns, nv) = obs.filter(_._1 > d).head
        val expect = pv + (nv - pv) * ((d - ps).toDouble / (ns - ps).toDouble)
        assert(r.getDouble(4) == expect, s"$d: ${r.getDouble(4)} != $expect")
      }
    }
  }

  test("AsOf.asofJoin (union-window) ≡ the join-agg reference on a " +
    "hub-key fixture, inner AND left forms") {
    // The r15 rewrite's contract: the skew-robust union+last(ignore
    // nulls) form must agree row-for-row with the r2-r14
    // join+max(struct) reference — on exactly the shape the rewrite
    // exists for (one hub key carrying most of both sides), plus
    // sparse keys, an unmatched-left key, and a right-only key.
    import graft.operators.AsOf
    import spark.implicits._
    def ts(t: Long) = new java.sql.Timestamp(1700000000000L + t * 60000L)
    val hub = (0L until 200L).map(i => (i, 1L, ts(i % 50)))     // key 1: 200 events over 50 ts
    val sparse = Seq((900L, 2L, ts(10)), (901L, 3L, ts(0)))     // key 3's event precedes all orders
    val left = (hub ++ sparse).toDF("event_id", "eu", "ets")
    val hubOrders = (0L until 150L).map(j => (j, 1L, ts(j % 60)))  // incl. ts ties
    val rest = Seq((500L, 2L, ts(5)), (501L, 3L, ts(7)), (502L, 4L, ts(1)))
    val right = (hubOrders ++ rest).toDF("okey", "ou", "odate")
    for (keep <- Seq(false, true)) {
      def rows(df: org.apache.spark.sql.DataFrame) = df
        .select("event_id", "okey").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
        .toSet
      val win = rows(AsOf.asofJoin(left, right, "eu", "ou", "ets",
        "odate", "okey", keepUnmatched = keep))
      val ref = rows(AsOf.asofJoinViaJoinAgg(left, right, "eu", "ou",
        "ets", "odate", "okey", keepUnmatched = keep))
      assert(win == ref,
        s"keep=$keep: window form diverges from join-agg reference: " +
          s"only-win=${win -- ref} only-ref=${ref -- win}")
    }
  }

  test("AsOf.asofJoinForward ≡ the join-agg reference on a hub-key " +
    "fixture, inner AND left forms") {
    // The forward direction's tie rule is the DUAL of backward's:
    // earliest at-or-after time, then the SMALLEST tieBreak. Same
    // hub-key + sparse + unmatched shape as the backward pair; the
    // reference is min(struct) over the >= join.
    import graft.operators.AsOf
    import spark.implicits._
    def ts(t: Long) = new java.sql.Timestamp(1700000000000L + t * 60000L)
    val hub = (0L until 200L).map(i => (i, 1L, ts(i % 50)))
    val sparse = Seq((900L, 2L, ts(10)), (901L, 3L, ts(99)))  // 3: after all orders
    val left = (hub ++ sparse).toDF("event_id", "eu", "ets")
    val hubOrders = (0L until 150L).map(j => (j, 1L, ts(j % 60)))
    val rest = Seq((500L, 2L, ts(15)), (501L, 3L, ts(7)), (502L, 4L, ts(1)))
    val right = (hubOrders ++ rest).toDF("okey", "ou", "odate")
    for (keep <- Seq(false, true)) {
      def rows(df: org.apache.spark.sql.DataFrame) = df
        .select("event_id", "okey").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
        .toSet
      val win = rows(AsOf.asofJoinForward(left, right, "eu", "ou", "ets",
        "odate", "okey", keepUnmatched = keep))
      val ref = rows(AsOf.asofJoinForwardViaJoinAgg(left, right, "eu",
        "ou", "ets", "odate", "okey", keepUnmatched = keep))
      assert(win == ref,
        s"keep=$keep: forward window form diverges from reference: " +
          s"only-win=${win -- ref} only-ref=${ref -- win}")
    }
  }

  test("AsOf.nearestJoin (two-scan window) ≡ the join-agg reference on " +
    "a hub-key fixture, inner AND left forms") {
    // Same rationale as the asofJoin pair: the r15 two-window rewrite
    // must agree row-for-row with the r8-r14 join+min(struct)
    // reference on a hub key with time ties (several orders at the
    // same timestamp exercise the min-tieBreak rule), equidistant
    // pairs (exercise the earlier-time rule), an exactly-at-T order
    // (distance 0, must not double-count), and an unmatched key.
    import graft.operators.AsOf
    import spark.implicits._
    val hub = (0L until 120L).map(i => (i, 1L, (i * 7 % 97)))
    val sparse = Seq((900L, 2L, 50L), (901L, 3L, 11L))
    val left = (hub ++ sparse).toDF("event_id", "eu", "ets")
    val hubOrders = (0L until 90L).map(j => (j, 1L, (j * 11 % 89)))
    val rest = Seq((500L, 2L, 50L), (501L, 2L, 50L), (502L, 4L, 1L))
    val right = (hubOrders ++ rest).toDF("okey", "ou", "ot")
    for (keep <- Seq(false, true)) {
      def rows(df: org.apache.spark.sql.DataFrame) = df
        .select("event_id", "okey").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
        .toSet
      val win = rows(AsOf.nearestJoin(left, right, "eu", "ou", "ets",
        "ot", "okey", keepUnmatched = keep))
      val ref = rows(AsOf.nearestJoinViaJoinAgg(left, right, "eu", "ou",
        "ets", "ot", "okey", keepUnmatched = keep))
      assert(win == ref,
        s"keep=$keep: two-scan form diverges from join-agg reference: " +
          s"only-win=${win -- ref} only-ref=${ref -- win}")
    }
  }

  test("AsOf.asofJoin equals the ranked-window emulation on real data") {
    import graft.operators.AsOf
    val e = T.events(spark, sf).select("event_id", "ts", "user_id")
    val o = T.orders(spark, sf).select("o_orderkey", "o_custkey", "o_orderdate")
    val api = AsOf.asofJoin(e, o, "user_id", "o_custkey", "ts",
        "o_orderdate", "o_orderkey")
      .select("event_id", "o_orderkey")
    val w = Window.partitionBy("event_id")
      .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
    val win = e.join(o, col("user_id") === col("o_custkey") &&
        col("o_orderdate") <= col("ts"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select("event_id", "o_orderkey")
    assert(api.except(win).count() == 0 && win.except(api).count() == 0,
      "map-side max(struct) API and ranked window disagree")
  }

  test("left join keeps unmatched rows with null-derived zero counts") {
    val c = Seq((1L, "a"), (2L, "b")).toDF("ck", "nm")
    val o = Seq((1L, 100L)).toDF("ok_ck", "ok")
    val out = c.join(o, col("ck") === col("ok_ck"), "left")
      .groupBy("ck").agg(count(col("ok")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 0L))
  }

  test("rollup emits every prefix level exactly once") {
    val df = Seq(("r1", "n1"), ("r1", "n2"), ("r2", "n1"))
      .toDF("r", "n")
    val out = df.rollup(col("r"), col("n")).agg(count(lit(1)).as("c"))
      .select(coalesce(col("r"), lit("ALL")), coalesce(col("n"), lit("ALL")), col("c"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(out == Set(
      ("r1", "n1", 1L), ("r1", "n2", 1L), ("r2", "n1", 1L), // leaves
      ("r1", "ALL", 2L), ("r2", "ALL", 1L),                 // per-r subtotals
      ("ALL", "ALL", 3L)))                                  // grand total
  }

  test("default window frame truncates last_value at current row — ours must not") {
    val df = Seq((1, 10), (1, 20), (1, 30)).toDF("g", "v")
    val defaultFrame = Window.partitionBy("g").orderBy("v")
    val fullFrame = defaultFrame
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val rows = df.select(
        last(col("v")).over(defaultFrame).as("broken"),
        last(col("v")).over(fullFrame).as("correct"))
      .collect().map(r => (r.getInt(0), r.getInt(1)))
    assert(rows.map(_._1).toSet == Set(10, 20, 30), "default frame is running")
    assert(rows.map(_._2).toSet == Set(30), "full frame sees the true last")
  }

  test("except is set semantics (dedup), union preserves then distinct dedups") {
    val a = Seq(1, 1, 2, 3).toDF("x")
    val b = Seq(3).toDF("x")
    assert(a.except(b).collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 2))
    assert(a.union(b).count() == 5)
    assert(a.union(b).distinct().count() == 3)
  }

  test("agg_approx HLL distinct is within ±5% of exact per group") {
    val approx = graft.operators.AggOps.queries("agg_approx")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = T.events(spark, sf)
      .groupBy("event_type").agg(countDistinct(col("user_id")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(approx.keySet == exact.keySet)
    exact.foreach { case (k, e) =>
      assert(math.abs(approx(k) - e) <= math.max(1L, (e * 0.05).toLong),
        s"$k: approx ${approx(k)} vs exact $e")
    }
  }

  test("agg_approx_percentile GK sketch tracks exact percentile per group") {
    // Same quartile query, sketch vs exact. At accuracy=10000 the GK
    // guarantee is ≤1/10000 relative RANK error; on a heavy-but-smooth
    // price distribution that is well under 1% VALUE error, so a 1%
    // relative bound is comfortably above the guarantee without being
    // vacuous.
    def toMap(key: String) =
      graft.operators.AggOps.queries(key)(spark, sf).collect()
        .map(r => r.getString(0) -> Seq(r.getDouble(1), r.getDouble(2), r.getDouble(3)))
        .toMap
    val approx = toMap("agg_approx_percentile")
    val exact = toMap("agg_percentile")
    assert(approx.keySet == exact.keySet && approx.nonEmpty)
    exact.foreach { case (k, es) =>
      es.zip(approx(k)).zip(Seq("p25", "p50", "p75")).foreach {
        case ((e, a), q) =>
          assert(math.abs(a - e) <= 0.01 * math.abs(e),
            s"$k/$q: approx $a vs exact $e")
      }
    }
  }

  test("fn_map: per-user totals equal raw event counts; str_to_map lookup") {
    val out = graft.functions.FnOps.queries("fn_map")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(4), r.getString(5)))
    val counts = T.events(spark, sf).groupBy("user_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.nonEmpty)
    out.foreach { case (uid, total, s2m) =>
      assert(total == counts(uid), s"user $uid")
      assert(s2m == "2")
    }
  }

  test("stream_sliding: every event lands in exactly 4 of the 1h/15min windows") {
    val windows = graft.streaming.StreamOps.queries("stream_sliding")(spark, sf)
      .agg(sum(col("n"))).collect()(0).getLong(0)
    val events = T.events(spark, sf).count()
    assert(windows == 4 * events, s"$windows window-memberships for $events events")
  }

  test("weighted-mean Aggregator matches hand computation incl. empty group guard") {
    val df = Seq(("g", 2.0, 1.0), ("g", 4.0, 3.0)).toDF("k", "x", "w")
    val wmean = udaf(graft.functions.UdfOps.weightedMean)
    val got = df.groupBy("k").agg(wmean(col("x"), col("w"))).collect()(0).getDouble(1)
    assert(got == 3.5) // (2*1 + 4*3) / 4
  }

  test("saltedSumCount on DECIMAL equals plain groupBy under different partitionings") {
    // The Skew scaladoc caveat, machine-checked from the safe side:
    // the partition-derived salt re-buckets rows differently under
    // every repartitioning, but with an exact DECIMAL sum the
    // recombined answer must not move. (The unsafe side — DOUBLE sums
    // drifting in the last ulp — is exactly why the caveat exists.)
    val base = T.lineitem(spark, sf)
      .select(col("l_returnflag"), T.dec(col("l_quantity")).as("q"))
    val plain = base.groupBy("l_returnflag")
      .agg(sum(col("q")).as("sum_v"), count(lit(1)).as("n"))
      .orderBy("l_returnflag")
      .collect().map(r => (r.getString(0), r.getDecimal(1), r.getLong(2))).toSeq
    for (parts <- Seq(3, 17)) {
      val salted = graft.operators.Skew
        .saltedSumCount(base.repartition(parts), "l_returnflag", col("q"), salt = 8)
        .orderBy("l_returnflag")
        .collect().map(r => (r.getString(0), r.getDecimal(1), r.getLong(2))).toSeq
      assert(salted.map(t => (t._1, t._3)) == plain.map(t => (t._1, t._3)),
        s"counts drifted at $parts partitions")
      salted.zip(plain).foreach { case (s, p) =>
        assert(s._2.compareTo(p._2) == 0,
          s"${s._1}: salted sum ${s._2} != plain ${p._2} at $parts partitions")
      }
    }
  }

  test("HLL sketch merge: union of partial sketches == sketch of the union, ±5% of exact") {
    // The mergeability contract agg_hll_merge's scaladoc claims: HLL
    // registers are max-combined, so merging per-group partial sketches
    // estimates exactly what one global sketch over the raw data does —
    // the pre-aggregation is lossless w.r.t. the sketch. And both land
    // within the standard HLL error of the exact count.
    val o = T.orders(spark, sf)
    val merged = o.groupBy("o_orderpriority")
      .agg(expr("hll_sketch_agg(o_custkey)").as("sk"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))")).head.getLong(0)
    val direct = o.agg(expr("hll_sketch_estimate(hll_sketch_agg(o_custkey))"))
      .head.getLong(0)
    val exact = o.agg(countDistinct(col("o_custkey"))).head.getLong(0)
    assert(merged == direct,
      s"merged partials ($merged) != direct global sketch ($direct)")
    assert(math.abs(merged - exact).toDouble / exact < 0.05,
      s"estimate $merged vs exact $exact drifts > 5%")
  }

  test("count-min estimates never under-count and stay within eps*N of exact") {
    val li = T.lineitem(spark, sf)
    val n = li.count()
    val exact = li.groupBy("l_suppkey").agg(count(lit(1)).as("c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val est = SparkEntry.queries("agg_countmin")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    est.foreach { case (k, e) =>
      val x = exact.getOrElse(k, 0L)
      assert(e >= x, s"suppkey $k: CMS under-counted ($e < $x)")
      assert(e <= x + math.ceil(0.001 * n).toLong,
        s"suppkey $k: over-count $e vs exact $x beyond eps*N")
    }
  }

  test("text_chunk: stride-indexed starts, full coverage, exact reconstruction") {
    // Over the sf corpus: chunk i covers tokens [i*stride, i*stride+32);
    // every token of every doc lands in ≥1 chunk (coverage), and
    // concatenating each chunk's first `stride` tokens reproduces the
    // document exactly (the overlap is redundant by construction).
    val stride = 24
    val chunks = SparkEntry.queries("text_chunk")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3)))
    val docs = T.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(chunks.map(_._1).toSet == docs.keySet, "every doc chunks")
    for ((docId, text) <- docs) {
      val n = text.split(" ", -1).length
      val cs = chunks.filter(_._1 == docId).sortBy(_._2)
      assert(cs.map(_._2).toSeq == cs.indices.map(_.toLong),
        s"doc $docId: chunk ids must be dense from 0")
      assert(cs.map(_._3).sum >= n, s"doc $docId: tokens uncovered")
      assert(cs.last._3 == n - (cs.size - 1) * stride,
        s"doc $docId: last chunk length")
      val rebuilt = cs.map(c =>
        c._4.split(" ", -1).take(stride).mkString(" ")).mkString(" ")
      assert(rebuilt == text, s"doc $docId: stride-heads must rebuild text")
    }
  }

  test("agg_mode: max count wins, ties break to the smallest value") {
    import spark.implicits._
    val events = Seq(
      (1L, "b"), (1L, "b"), (1L, "a"),             // clear winner b
      (2L, "view"), (2L, "click"),                 // 1-1 tie → click
      (3L, "z"))                                   // singleton
      .toDF("user_id", "event_type")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(desc("n"), asc("event_type"))
    val out = events.groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("n"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "b", 2L -> "click", 3L -> "z"))
  }

  test("saltedJoin equals the plain join row-for-row under different partitionings") {
    // Each matching pair meets in exactly one (key, salt) bucket — the
    // big row's — because the small side carries every salt value once.
    // So the result multiset must equal the plain join's no matter how
    // the nondeterministic partition-derived salt buckets rows.
    // NOTE: (l_orderkey, l_linenumber) is NOT unique in this synthetic
    // lineitem, so compare fully-sorted multisets, not a keyed order.
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long)] = df
      .select(col("l_orderkey").cast("long"),
        col("l_linenumber").cast("long"), col("s_nationkey").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq.sorted
    val li = T.lineitem(spark, sf)
      .select("l_orderkey", "l_linenumber", "l_suppkey")
    val sup = T.supplier(spark, sf).select("s_suppkey", "s_nationkey")
    val plain = rows(li.join(sup, col("l_suppkey") === col("s_suppkey")))
    for (parts <- Seq(3, 17)) {
      val salted = rows(graft.operators.Skew
        .saltedJoin(li.repartition(parts), "l_suppkey", sup, "s_suppkey",
          salt = 8))
      assert(salted == plain, s"join drifted at $parts partitions: " +
        s"${salted.size} vs ${plain.size} rows")
    }
  }

  test("win_retention idiom: cohort = first week, offsets count returners") {
    // u1 first active week 0, returns weeks 1 and 3 (two rows in week 1
    // collapse to one); u2 first active week 1 only; u3 first week 0,
    // returns week 1 → cohort 0 has offsets {0:2, 1:1, 3:1}, cohort 1
    // has {0:1}.
    val uw = Seq((1L, 0L), (1L, 1L), (1L, 1L), (1L, 3L),
        (2L, 1L), (3L, 0L), (3L, 1L))
      .toDF("user_id", "week")
    val w = Window.partitionBy("user_id")
    val out = uw.groupBy("user_id", "week").agg(count(lit(1)))
      .withColumn("cohort", min(col("week")).over(w))
      .groupBy(col("cohort"), (col("week") - col("cohort")).as("off"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out == Map((0L, 0L) -> 2L, (0L, 1L) -> 2L, (0L, 3L) -> 1L,
      (1L, 0L) -> 1L), out.toString)
  }

  test("scd2_build idiom: versions split on change, intervals chain, one current") {
    // Customer 1: A,A,B,A over days 1..4 → versions A[1,3) B[3,4)
    // A[4,∞); customer 2: single state → one open version.
    val hist = Seq(
      (1L, 101L, "A", "2024-01-01"), (1L, 102L, "A", "2024-01-02"),
      (1L, 103L, "B", "2024-01-03"), (1L, 104L, "A", "2024-01-04"),
      (2L, 201L, "X", "2024-01-05"))
      .toDF("ck", "ok", "st", "od").withColumn("od", col("od").cast("timestamp"))
    val w = Window.partitionBy("ck").orderBy(col("od").asc, col("ok").asc)
    val scd = hist
      .withColumn("prev", lag(col("st"), 1).over(w))
      .filter(col("prev").isNull || col("prev") =!= col("st"))
      .withColumn("version", row_number().over(w).cast("long"))
      .withColumn("vt", lead(col("od"), 1).over(w))
      .select(col("ck"), col("version"), col("st"),
        T.dstr(col("od")).as("vf"),
        coalesce(T.dstr(col("vt")), lit("9999-12-31")).as("vt"),
        col("vt").isNull.as("cur"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3),
        r.getString(4), r.getBoolean(5))).toSet
    assert(scd == Set(
      (1L, 1L, "A", "2024-01-01", "2024-01-03", false),
      (1L, 2L, "B", "2024-01-03", "2024-01-04", false),
      (1L, 3L, "A", "2024-01-04", "9999-12-31", true),
      (2L, 1L, "X", "2024-01-05", "9999-12-31", true)), scd.toString)
    // Exactly one current version per entity, and intervals chain:
    // each non-current version's valid_to = the next version's
    // valid_from (no gaps, no overlaps).
    val byCk = scd.groupBy(_._1)
    assert(byCk.forall { case (_, vs) => vs.count(_._6) == 1 })
    for ((_, vs) <- byCk; v <- vs if !v._6)
      assert(vs.exists(n => n._2 == v._2 + 1 && n._4 == v._5))
  }

  test("ewmaCapped: exact closed form matches the α=1/2 recursion, caps at 8") {
    import graft.operators.TimeSeries
    // 10 values for one user: closed form must equal the textbook
    // recursion s_n = (x_n + s_{n-1})/2 for n <= 8 (weights telescope
    // to 1), then switch to the 8-term capped window.
    val xs = Seq(8.0, 4.0, 6.0, 2.0, 10.0, 0.0, 4.0, 8.0, 16.0, 2.0)
    val df = xs.zipWithIndex.map { case (x, i) =>
      (1L, i.toLong, java.sql.Timestamp.valueOf(f"2024-01-01 00:00:${i}%02d"), x)
    }.toDF("user_id", "event_id", "ts", "value")
    val out = TimeSeries.ewmaCapped(df,
        Window.partitionBy("user_id").orderBy("ts", "event_id"))
      .orderBy("rn").select("ewma").collect().map(_.getDouble(0))
    // Reference: exact recursion on BigDecimal for n<=8; for n>8 the
    // capped form Σ_{j=0..6} x_{n-j}/2^{j+1} + x_{n-7}/128.
    var s = BigDecimal(xs.head)
    val expect = xs.indices.map { i =>
      if (i == 0) BigDecimal(xs(0))
      else if (i < 8) { s = (BigDecimal(xs(i)) + s) / 2; s }
      else (0 to 6).map(j => BigDecimal(xs(i - j)) / BigDecimal(2).pow(j + 1))
        .sum + BigDecimal(xs(i - 7)) / 128
    }.map(_.setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(out.toSeq == expect, s"got ${out.toSeq}, want $expect")
  }

  test("triangleCounts: K4 corners in 3 triangles each, pendant node absent") {
    import graft.llm.LlmGraph
    // K4 on {1,2,3,4} (4 triangles, each node in C(3,2)=3) plus a
    // pendant edge 4-5: node 5 touches no triangle and must be absent.
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L)).toDF("u", "v")
    val out = LlmGraph.triangleCounts(e)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L), out.toString)
  }

  test("cdc_apply: last-op-wins merge — deletes absent, inserts disjoint, unchanged match base") {
    val out = SparkEntry.queries("cdc_apply")(spark, sf)
    val rows = out.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getDouble(2)))
    // Keys unique; statuses from the closed set; inserted keys live in
    // the disjoint signup id space.
    assert(rows.map(_._1).distinct.length == rows.length)
    assert(rows.forall(r => Set("unchanged", "updated", "inserted")(r._2)))
    // Inserted = a key the base doesn't have: the disjoint signup id
    // space, or an upsert to an unknown key (user ids below the base's
    // key floor).
    val baseKeys = T.customer(spark, sf)
      .select("c_custkey").collect().map(_.getLong(0)).toSet
    assert(rows.filter(_._2 == "inserted")
      .forall(r => !baseKeys.contains(r._1)))
    assert(rows.filter(_._2 == "inserted").exists(_._1 > 2000000L),
      "fixture must exercise the signup-insert path")
    // Independent recomputation of the delete set: keys whose LAST
    // non-signup event is an 'error' must be absent from the output.
    val ev = T.events(spark, sf)
      .filter(col("event_type") =!= "signup")
      .withColumn("rn", row_number().over(
        Window.partitionBy("user_id")
          .orderBy(col("ts").desc, col("event_id").desc)))
      .filter(col("rn") === 1 && col("event_type") === "error")
      .select("user_id").collect().map(_.getLong(0)).toSet
    assert(ev.nonEmpty, "fixture must exercise the delete path")
    assert(rows.forall(r => !ev.contains(r._1)),
      s"deleted keys leaked: ${rows.map(_._1).toSet.intersect(ev)}")
    // Unchanged rows carry the base balance verbatim.
    val base = T.customer(spark, sf)
      .select("c_custkey", "c_acctbal").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(rows.filter(_._2 == "unchanged")
      .forall(r => base(r._1) == r._3))
  }

  test("join_nullsafe: NULL keys join exactly once, class size = pending count") {
    val out = SparkEntry.queries("join_nullsafe")(spark, sf)
    val nP = T.orders(spark, sf)
      .filter(col("o_orderstatus") === "P").count()
    assert(nP > 0, "fixture must have pending orders")
    val unknown = out.filter(col("prio") === "UNKNOWN").collect()
    // every pending order matched the NULL dim row exactly once
    assert(unknown.length == nP)
    assert(unknown.forall(_.getLong(2) == nP))
    assert(out.count() == T.orders(spark, sf).count())
  }

  test("text_perplexity: n_bigrams = tokens − 1, scores positive") {
    val out = SparkEntry.queries("text_perplexity")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3)))
    val ntok = T.documents(spark, sf)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.nonEmpty)
    for ((id, nb, xent, ppl) <- out) {
      assert(nb == ntok(id) - 1, s"doc $id: $nb bigrams vs ${ntok(id)} tokens")
      assert(xent > 0 && ppl > 1, s"doc $id: xent=$xent ppl=$ppl")
    }
  }

  test("set bag ops: right ⊆ left makes multiplicities exactly computable") {
    // The except_all right side (open orders) is a sub-multiset of the
    // left (all orders), so surviving multiplicity = m_all − m_open
    // exactly; intersect_all with a sub-multiset keeps m_right copies.
    val o = T.orders(spark, sf)
    val per = o.groupBy("o_custkey").agg(
        count(lit(1)).as("m_all"),
        sum(when(col("o_orderstatus") === "O", 1L).otherwise(0L)).as("m_open"),
        sum(when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L))
          .as("m_urgent"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3))).toMap
    val ex = SparkEntry.queries("set_except_all")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for ((ck, (mAll, mOpen, _)) <- per if mAll > mOpen)
      assert(ex(ck) == mAll - mOpen, s"ck $ck")
    assert(ex.keySet == per.filter { case (_, (a, o2, _)) => a > o2 }.keySet)
    val in = SparkEntry.queries("set_intersect_all")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for ((ck, (_, _, mUrg)) <- per if mUrg > 0)
      assert(in(ck) == mUrg, s"ck $ck")
    assert(in.keySet == per.filter(_._2._3 > 0).keySet)
  }

  test("win_pattern: motif counts bounded by symbol counts") {
    val out = SparkEntry.queries("win_pattern")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4)))
    val per = T.events(spark, sf).groupBy("user_id").agg(
        count(lit(1)).as("n"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("p"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("e"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3))).toMap
    assert(out.nonEmpty)
    var convSeen = false
    for ((u, n, conv, bursts, head) <- out) {
      val (nn, p, e) = per(u)
      assert(n == nn)
      assert(conv <= p, s"user $u: more conversions than purchases")
      assert(bursts <= e)
      assert(head.length == math.min(5L, n) && head.matches("[cepsv]*"))
      if (conv > 0) convSeen = true
    }
    assert(convSeen, "fixture must exercise the conversion motif")
  }

  test("ts_anomaly: flagged residuals are a small tail, never the bulk") {
    val out = SparkEntry.queries("ts_anomaly")(spark, sf)
    val n = out.count()
    val total = T.events(spark, sf).count()
    assert(n > 0, "fixture must produce at least one anomaly")
    assert(n < total / 10, s"$n of $total flagged — fences too tight")
  }

  test("agg_bitmap_distinct: bitmap popcounts equal exact countDistinct, merge included") {
    val out = SparkEntry.queries("agg_bitmap_distinct")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = T.lineitem(spark, sf).groupBy("l_returnflag")
      .agg(countDistinct("l_suppkey").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val all = T.lineitem(spark, sf)
      .select(countDistinct("l_suppkey")).collect()(0).getLong(0)
    assert(out == exact + ("ALL" -> all), s"$out vs $exact + ALL=$all")
  }

  test("multimodal_phash: 16-dim octal signatures, cluster stats self-consistent") {
    val out = SparkEntry.queries("multimodal_phash")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3)))
    assert(out.length == T.documents(spark, sf).count())
    assert(out.forall(_._2.matches("[0-7]{16}")), "signature shape")
    val bySig = out.groupBy(_._2)
    for ((_, g) <- bySig) {
      assert(g.forall(_._3 == g.map(_._1).min), "cluster = min doc_id")
      assert(g.forall(_._4 == g.length), "n_same = group size")
    }
  }

  test("join_fuzzy: every corrupted name recovers a match within distance 2") {
    val out = SparkEntry.queries("join_fuzzy")(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val nDirty = T.part(spark, sf).select("p_name").distinct()
      .select(concat(substring(col("p_name"), 1, 2),
        expr("substring(p_name, 4)")).as("d")).distinct().count()
    // The true origin survives blocking (deletion keeps the first
    // char, shifts length by exactly 1) at distance 1, so every dirty
    // name must match something at least that close.
    assert(out.length == nDirty, s"${out.length} of $nDirty matched")
    assert(out.forall(_._3 <= 2))
    assert(out.map(_._1).distinct.length == out.length, "one best match each")
  }

  test("text_bpe_merges: top-10 ranked pairs, counts non-increasing") {
    val out = SparkEntry.queries("text_bpe_merges")(spark, sf)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    assert(out.length == 10)
    assert(out.map(_._1).toSeq == (1 to 10))
    assert(out.forall(_._2.length == 2))
    assert(out.sliding(2).forall(p => p.head._3 >= p.last._3),
      "counts must be non-increasing down the ranking")
  }

  test("embed_quantize: reconstruction error bounded by half a quantization step") {
    val out = SparkEntry.queries("embed_quantize")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2),
        r.getLong(3), r.getDouble(4)))
    assert(out.length == T.embeddings(spark, sf).count())
    for ((id, mn, mx, codeSum, maxErr) <- out) {
      assert(mn < mx, s"vec $id: degenerate range")
      // 64 codes, each in [0, 255] → sum within [0, 64·255].
      assert(codeSum >= 0 && codeSum <= 64L * 255, s"vec $id: $codeSum")
      // Round-to-nearest: error ≤ half a step (mx−mn)/255/2, plus the
      // 1e-6 the emitted rounding can add.
      assert(maxErr <= (mx - mn) / 510.0 + 2e-6,
        s"vec $id: err $maxErr exceeds half-step ${(mx - mn) / 510.0}")
    }
  }

  test("corpus_report: volumes reconcile with direct counts") {
    val out = SparkEntry.queries("corpus_report")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(4), r.getString(5), r.getDouble(6)))
    val total = T.documents(spark, sf).count()
    assert(out.map(_._2).sum == total, "per-source docs must sum to corpus")
    for ((src, nDocs, toks, nLangs, topLang, enShare) <- out) {
      assert(nDocs > 0 && toks >= nDocs, s"$src")
      assert(nLangs >= 1 && nLangs <= 5)
      assert(Set("de", "en", "es", "fr", "zh")(topLang), s"$src: $topLang")
      assert(enShare >= 0.0 && enShare <= 1.0)
    }
  }

  test("sample_stratified_k: exactly the k smallest md5 ranks per stratum") {
    val out = SparkEntry.queries("sample_stratified_k")(spark, sf)
      .collect().map(r => (r.getString(1), r.getLong(0), r.getLong(2)))
    // Independent reference: JVM MessageDigest md5 of "id:42", hex.
    def h(id: Long): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$id:42".getBytes("UTF-8"))
      d.map("%02x".format(_)).mkString
    }
    val docs = T.documents(spark, sf).select("doc_id", "lang")
      .collect().map(r => r.getString(1) -> r.getLong(0))
    val want = docs.groupBy(_._1).toSeq.flatMap { case (lang, l) =>
      l.map(_._2).toSeq.sortBy(h).take(20).zipWithIndex
        .map { case (id, i) => (lang, id, i + 1L) }
    }.toSet
    assert(out.toSet == want,
      s"diff: ${out.toSet.diff(want)} / ${want.diff(out.toSet)}")
  }

  test("ts_seasonality: eta-squared in [0, 1], matches independent recomputation") {
    val out = SparkEntry.queries("ts_seasonality")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    assert(out.nonEmpty)
    for ((ty, n, nh, score) <- out) {
      assert(nh >= 1 && nh <= 24)
      assert(score >= -1e-9 && score <= 1.0 + 1e-9, s"$ty: $score")
      assert(n > 0)
    }
    // Independent recomputation for one type using plain Scala folds.
    val ty0 = out.head._1
    val rows = T.events(spark, sf).filter(col("event_type") === ty0)
      .select(hour(col("ts")).as("h"), col("value"))
      .collect().map(r => r.getInt(0) ->
        BigDecimal(r.getDouble(1)).setScale(4, BigDecimal.RoundingMode.HALF_UP))
    val tot = rows.map(_._2)
    def ss(vs: Seq[BigDecimal]) = {
      val m = vs.sum / vs.size
      vs.map(v => (v - m) * (v - m)).sum.toDouble
    }
    val ssw = rows.groupBy(_._1).values.map(g => ss(g.map(_._2).toSeq)).sum
    val want = 1.0 - ssw / ss(tot.toSeq)
    assert(math.abs(out.head._4 - want) < 1e-6,
      s"$ty0: got ${out.head._4}, want $want")
  }

  test("ts_changepoint: sane outputs, and the key's split maximizes the mean shift") {
    val out = SparkEntry.queries("ts_changepoint")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(4)))
    assert(out.nonEmpty)
    // one row per user; split index interior; shift non-negative
    assert(out.map(_._1).distinct.length == out.length)
    for ((u, cp, n, shift) <- out) {
      assert(cp >= 1 && cp < n, s"user $u: split $cp of $n")
      assert(shift >= 0.0)
    }
    // independent recomputation for one user: the reported split must
    // achieve the max |meanL − meanR| over all interior splits
    val u0 = out.head._1
    val vals = T.events(spark, sf).filter(col("user_id") === u0)
      .orderBy("ts", "event_id").select("value")
      .collect().map(r => BigDecimal(r.getDouble(0))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP))
    val deltas = (1 until vals.length).map { k =>
      val l = vals.take(k).sum / k
      val r = vals.drop(k).sum / (vals.length - k)
      (l - r).abs.toDouble
    }
    val best = deltas.max
    val reported = out.find(_._1 == u0).get
    assert(math.abs(deltas(reported._2.toInt - 1) - best) < 1e-9,
      s"user $u0: reported split ${reported._2} not the argmax")
  }

  test("agg_entropy: one-type users score 0, all scores within [0, log2(5)]") {
    val out = SparkEntry.queries("agg_entropy")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    assert(out.nonEmpty)
    val lim = math.log(5) / math.log(2) + 1e-9
    for ((u, n, k, h) <- out) {
      assert(h >= 0 && h <= lim, s"user $u entropy $h out of range")
      if (k == 1) assert(h == 0.0, s"single-type user $u must score 0")
      assert(k <= n)
    }
  }

  test("text_collocations: hand-counted PMI on a micro corpus " +
    "(threshold, masses, adjacency)") {
    // "a b a b" + "a b c": bigram (a,b) appears 3× (only pair over
    // the ≥3 gate; (b,a) and (b,c) appear once each); Nt = 7 tokens,
    // Nb = 5 bigrams, c(a) = c(b) = 3.
    // pmi = ln(3·7·7 / (5·3·3)) = ln(147/45).
    val out = graft.llm.LlmText.queries("text_collocations")(spark, sf)
    // the registered key reads the corpus; rebuild on the micro corpus
    // through the same pipeline by substituting the table via a temp
    // view is heavier than recomputing inline — so assert on the
    // corpus key only structurally, and hand-check via a direct call
    // shape below.
    val docs = Seq((1L, "a b a b"), (2L, "a b c"))
      .toDF("doc_id", "text")
    val tmp = s"/tmp/graft_colloc_spec_${System.nanoTime()}"
    docs.write.parquet(s"$tmp/documents.parquet")
    val got = graft.llm.LlmText.queries("text_collocations")(spark, tmp)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSeq
    val pmi = BigDecimal(math.log(147.0 / 45.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got == Seq(("a", "b", 3L, pmi)), got.toString)
    assert(out.columns.toSeq ==
      Seq("w1", "w2", "pair_count", "pmi"))
  }

  test("dq_reconcile: matched/mismatched/missing split on a hand fixture") {
    // o1 reconciles exactly, o2 drifts by 10, o3 has no detail lines.
    val tmp = s"/tmp/graft_reconcile_spec_${System.nanoTime()}"
    Seq((1L, "O", 100.0), (2L, "O", 50.0), (3L, "F", 10.0))
      .toDF("o_orderkey", "o_orderstatus", "o_totalprice")
      .write.parquet(s"$tmp/orders.parquet")
    Seq((1L, 60.0, 0.0), (1L, 40.0, 0.0), (2L, 100.0, 0.4))
      .toDF("l_orderkey", "l_extendedprice", "l_discount")
      .write.parquet(s"$tmp/lineitem.parquet")
    val got = SparkEntry.queries("dq_reconcile")(spark, tmp)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), if (r.isNullAt(4)) None else Some(r.getDouble(4))))
      .toSeq
    assert(got == Seq(
      ("F", 1L, 0L, 1L, None),
      ("O", 2L, 1L, 0L, Some(10.0))), got.toString)
  }

  test("marketShare: hand-computed micro-snowflake (region gate, part " +
    "filter, per-year shares)") {
    import java.sql.Timestamp
    // Two EUROPE-relevant orders across two years plus one ASIA order
    // and one oversized part — the region gate and the part filter
    // must each exclude exactly one lineitem.
    val nation = Seq((1L, "N_A", 10L), (2L, "N_B", 10L), (3L, "N_C", 20L))
      .toDF("n_nationkey", "n_name", "n_regionkey")
    val region = Seq((10L, "EUROPE"), (20L, "ASIA"))
      .toDF("r_regionkey", "r_name")
    val customer = Seq((100L, 1L), (200L, 3L))
      .toDF("c_custkey", "c_nationkey")
    val supplier = Seq((7L, 1L), (8L, 2L)).toDF("s_suppkey", "s_nationkey")
    val orders = Seq(
      (1000L, 100L, Timestamp.valueOf("1995-03-01 00:00:00")),
      (2000L, 100L, Timestamp.valueOf("1996-05-05 00:00:00")),
      (3000L, 200L, Timestamp.valueOf("1995-07-01 00:00:00")))
      .toDF("o_orderkey", "o_custkey", "o_orderdate")
    val part = Seq((5L, 5), (6L, 99)).toDF("p_partkey", "p_size")
    val li = Seq(
      (1000L, 5L, 7L, 100.0, 0.1), // 1995, N_A, rev 90
      (1000L, 5L, 8L, 50.0, 0.0),  // 1995, N_B, rev 50
      (1000L, 6L, 7L, 999.0, 0.0), // dropped: p_size 99
      (2000L, 5L, 7L, 200.0, 0.5), // 1996, N_A, rev 100
      (3000L, 5L, 7L, 777.0, 0.0)) // dropped: customer in ASIA
      .toDF("l_orderkey", "l_partkey", "l_suppkey",
        "l_extendedprice", "l_discount")
    val got = graft.operators.AggOps.marketShare(
        li, part, orders, customer, nation, region, supplier,
        region0 = "EUROPE", maxPartSize = 15)
      .orderBy("o_year", "s_nation")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        r.getDouble(3)))
      .toSeq
    assert(got == Seq(
      (1995L, "N_A", 90.0, 0.642857),
      (1995L, "N_B", 50.0, 0.357143),
      (1996L, "N_A", 100.0, 1.0)), got.toString)
  }

  test("subquery tier: hand-computed micro-fixture pins the SQL semantics") {
    // Independent of the DuckDB oracle (which runs the same SQL text):
    // a five-table micro-fixture small enough to evaluate by hand, with
    // a deliberate boundary row per key — sub_scalar's exactly-average
    // order must be EXCLUDED (strict >), sub_correlated's threshold is
    // strict <, macro_waiting excludes single-supplier orders (EXISTS),
    // both-suppliers-returned orders (NOT EXISTS), and same-supplier
    // multi-line orders (the <> correlates on suppkey, not linenumber).
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_subq").toString
    // orders: avg price 250 over 5 rows → sub_scalar keeps price > 250.
    Seq((1L, 10L, "F", 100.0), (2L, 20L, "F", 200.0), (3L, 30L, "O", 300.0),
        (4L, 40L, "F", 400.0), (5L, 50L, "F", 250.0))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      .write.parquet(s"$dir/orders.parquet")
    // p1 (size 3, B1) avg qty = (1+9+10+100)/4 = 30 → threshold 6;
    // p3 (size 5, B2) avg qty = 5 → threshold 1; p2 filtered (size 10).
    Seq((1L, "B1", 3), (2L, "B2", 10), (3L, "B2", 5))
      .toDF("p_partkey", "p_brand", "p_size")
      .write.parquet(s"$dir/part.parquet")
    Seq(
      (1L, 1L, 1L, 1.0, 70.0, "R"),   // o1: s1 returned, s2 clean → waits
      (1L, 1L, 2L, 9.0, 10.0, "N"),
      (2L, 1L, 1L, 10.0, 20.0, "R"),  // o2: both suppliers returned
      (2L, 3L, 2L, 5.0, 30.0, "R"),
      (3L, 3L, 1L, 5.0, 40.0, "R"),   // o3: status O
      (4L, 2L, 3L, 7.0, 50.0, "R"),   // o4: single-supplier order
      (5L, 2L, 1L, 7.0, 60.0, "R"),   // o5: two lines, ONE supplier
      (5L, 1L, 1L, 100.0, 80.0, "N"))
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice", "l_returnflag")
      .write.parquet(s"$dir/lineitem.parquet")
    Seq((1L, "S1", 0), (2L, "S2", 0), (3L, "S3", 1))
      .toDF("s_suppkey", "s_name", "s_nationkey")
      .write.parquet(s"$dir/supplier.parquet")
    Seq((0, "ALPHA"), (1, "BETA"), (2, "GAMMA"), (3, "DELTA"))
      .toDF("n_nationkey", "n_name")
      .write.parquet(s"$dir/nation.parquet")
    Seq((10L, 1), (20L, 2), (30L, 2), (40L, 0), (50L, 3))
      .toDF("c_custkey", "c_nationkey")
      .write.parquet(s"$dir/customer.parquet")

    val q = graft.operators.SubqueryOps.queries
    val scalar = q("sub_scalar")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(scalar == Seq((3L, 300.0), (4L, 400.0)),
      s"250·5 = sum must be excluded (strict >): $scalar")
    val corr = q("sub_correlated")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    // only p1's qty-1 line sits under 0.2·avg = 6; round(70/7, 2) = 10
    assert(corr == Seq(("B1", 1L, 10.0)), corr.toString)
    val waiting = q("macro_waiting")(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(waiting == Seq(("ALPHA", "S1", 1L)), waiting.toString)

    // sub_correlated_eq on the same fixture: per customer the cheapest
    // order(s), ties kept — custkeys are distinct here so every order
    // is its customer's min.
    val eq = q("sub_correlated_eq")(spark, dir).collect().length
    assert(eq == 5, s"distinct custkeys: every order is its own min: $eq")

    // sub_recursive, hand-walked: supplier nations {s1,s2→0, s3→1},
    // customer nations {10→1, 20→2, 30→2, 40→0, 50→3} give the trade
    // edges (0→1)×2, (0→2)×3, (0→3)×2, (1→0)×1; seed = nation 0
    // (volume 7 > 1). BFS: hop1 {1,2,3}; hop2 {0} (via 1→0); hop3
    // re-reaches {1,2,3} through the cycle — so every non-seed nation
    // counts 2 bounded paths and the seed's min_hops is the cycle
    // length 2.
    val rec = q("sub_recursive")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(rec == Seq(("BETA", 1L, 2L), ("DELTA", 1L, 2L),
      ("GAMMA", 1L, 2L), ("ALPHA", 2L, 1L)), rec.toString)
  }

  test("sub_not_in: three-valued NOT IN — inner NULL empties, outer NULL drops") {
    // The semantics that make NOT IN ≠ anti-join (and the reason Spark
    // must plan it null-AWARE): c NOT IN (set) is NULL — not true —
    // when the set contains a NULL or when c itself is NULL. Fixture A
    // has a null-free inner set {1}: expect customers 2 and 3 (the
    // NULL-keyed customer drops — NULL NOT IN {1} is NULL). Fixture B
    // adds one NULL to the inner set: the whole result must collapse
    // to empty, while IN still returns exactly the matching customer.
    import spark.implicits._
    val q = graft.operators.SubqueryOps.queries
    def write(dir: String, orders: Seq[(Long, Option[Long], String, Double)]) = {
      Seq((Option(1L), "A"), (Option(2L), "B"), (Option(3L), "C"),
          (Option.empty[Long], "N"))
        .toDF("c_custkey", "c_name").write.parquet(s"$dir/customer.parquet")
      orders.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
        .write.parquet(s"$dir/orders.parquet")
    }
    val a = java.nio.file.Files.createTempDirectory("graft_naaj_a").toString
    write(a, Seq((10L, Some(1L), "F", 5.0), (11L, Some(2L), "O", 5.0)))
    val gotA = q("sub_not_in")(spark, a).collect().map(_.getLong(0)).toSeq
    assert(gotA == Seq(2L, 3L), s"null-free inner: $gotA")
    val b = java.nio.file.Files.createTempDirectory("graft_naaj_b").toString
    write(b, Seq((10L, Some(1L), "F", 5.0), (12L, None, "F", 5.0),
      (11L, Some(2L), "O", 5.0)))
    assert(q("sub_not_in")(spark, b).collect().isEmpty,
      "one inner NULL must empty the NOT IN result")
    val in = q("sub_in")(spark, b).collect().map(_.getLong(0)).toSeq
    assert(in == Seq(2L), s"IN ignores inner NULLs and matches: $in")
  }

  test("sub_not_in_scalable: the decomposed anti-join form ≡ native " +
    "NOT IN on every 3VL corner") {
    // The at-scale spelling must agree with Spark's own null-aware
    // NOT IN corner for corner: (a) null-free inner — plain anti-join
    // rows, outer NULL drops; (b) inner NULL — empty; (c) EMPTY inner
    // (after the status filter) — ALL rows survive INCLUDING the
    // outer-NULL one (NOT IN over an empty set is vacuously true even
    // for a NULL probe — the corner the common `x IS NOT NULL AND NOT
    // EXISTS` shorthand gets wrong and this key's third conjunct
    // exists for).
    import spark.implicits._
    val q = graft.operators.SubqueryOps.queries
    def write(dir: String, orders: Seq[(Long, Option[Long], String, Double)]) = {
      Seq((Option(1L), "A"), (Option(2L), "B"), (Option(3L), "C"),
          (Option.empty[Long], "N"))
        .toDF("c_custkey", "c_name").write.parquet(s"$dir/customer.parquet")
      orders.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
        .write.parquet(s"$dir/orders.parquet")
    }
    def both(dir: String): (Seq[Option[Long]], Seq[Option[Long]]) = {
      def keys(k: String) = q(k)(spark, dir).collect()
        .map(r => if (r.isNullAt(0)) None else Some(r.getLong(0))).toSeq
      (keys("sub_not_in"), keys("sub_not_in_scalable"))
    }
    val a = java.nio.file.Files.createTempDirectory("graft_nis_a").toString
    write(a, Seq((10L, Some(1L), "F", 5.0), (11L, Some(2L), "O", 5.0)))
    val (na, sa) = both(a)
    assert(na == sa && sa == Seq(Some(2L), Some(3L)),
      s"null-free inner: native=$na scalable=$sa")
    val b = java.nio.file.Files.createTempDirectory("graft_nis_b").toString
    write(b, Seq((10L, Some(1L), "F", 5.0), (12L, None, "F", 5.0)))
    val (nb, sb) = both(b)
    assert(nb == sb && sb.isEmpty, s"inner NULL: native=$nb scalable=$sb")
    val c = java.nio.file.Files.createTempDirectory("graft_nis_c").toString
    write(c, Seq((11L, Some(2L), "O", 5.0))) // no 'F' rows: empty inner
    val (nc, sc) = both(c)
    // Spark's ASC sort is NULLS FIRST, hence None leads.
    assert(nc == sc &&
      sc == Seq(None, Some(1L), Some(2L), Some(3L)),
      s"empty inner keeps ALL rows incl. the NULL key: native=$nc scalable=$sc")
  }

  test("sub_select_scalar: COUNT over an empty group is 0, MAX is NULL " +
    "— the decorrelated outer join must coalesce the count") {
    // The classic silent-wrongness trap: decorrelating a SELECT-list
    // COUNT(*) to a left outer aggregate join turns "no matching inner
    // rows" into a NULL join column — the rewrite must plan the
    // NULL→0 coalesce (COUNT on an empty set is 0 per ANSI), while
    // MAX legitimately stays NULL. Customer 3 is planted with zero
    // orders (the shared fixtures have none at any sf).
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_selscalar").toString
    Seq((1L, "A"), (2L, "B"), (3L, "C"))
      .toDF("c_custkey", "c_name").write.parquet(s"$dir/customer.parquet")
    Seq((10L, 1L, 10.0), (11L, 1L, 20.0), (12L, 2L, 30.0))
      .toDF("o_orderkey", "o_custkey", "o_totalprice")
      .write.parquet(s"$dir/orders.parquet")
    val got = graft.operators.SubqueryOps.queries("sub_select_scalar")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toSeq
    assert(got == Seq((1L, 2L, Some(20.0)), (2L, 1L, Some(30.0)),
      (3L, 0L, None)),
      s"count-on-empty must be 0 (not NULL), max stays NULL: $got")
  }

  test("sub_all / sub_any: quantified-rewrite semantics hand-walked") {
    // sub_all (>= ALL via MAX): nation-1 customers' orders are {10,20};
    // the 20.0 order itself and the 30.0 order clear them ALL. sub_any (< ANY the same
    // customer's orders via correlated MAX): cust 1 has {10,20} so the
    // 10.0 order qualifies; cust 2's single 30.0 order does not (< its
    // own max is strict) — the single-order group exercises the
    // ANY-on-one-element boundary.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_quant").toString
    Seq((1L, 1), (2L, 2))
      .toDF("c_custkey", "c_nationkey").write.parquet(s"$dir/customer.parquet")
    Seq((10L, 1L, 10.0), (11L, 1L, 20.0), (12L, 2L, 30.0))
      .toDF("o_orderkey", "o_custkey", "o_totalprice")
      .write.parquet(s"$dir/orders.parquet")
    val q = graft.operators.SubqueryOps.queries
    val all = q("sub_all")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(all == Seq((11L, 20.0), (12L, 30.0)), s">= ALL {10,20}: $all")
    val any = q("sub_any")(spark, dir).collect()
      .map(r => (r.getLong(1), r.getDouble(2))).toSeq
    assert(any == Seq((10L, 10.0)), s"< ANY same-customer: $any")

    // The EMPTY-inner contract, FLIPPED in r15: `>= ALL (empty)` is
    // vacuously true, so with no nation-1 orders EVERY outer row must
    // survive. The r14 MAX-threshold rewrite landed on the wrong side
    // (NULL gate → zero rows); the shipped NOT-EXISTS-over-MAX form
    // agrees with true ALL semantics — the empty inner's single
    // all-NULL aggregate row never matches `hi > x`, so the anti join
    // keeps all rows. This pins the agreement.
    val dir2 = java.nio.file.Files.createTempDirectory("graft_quant_e").toString
    Seq((1L, 3), (2L, 2))
      .toDF("c_custkey", "c_nationkey").write.parquet(s"$dir2/customer.parquet")
    Seq((10L, 1L, 10.0), (12L, 2L, 30.0))
      .toDF("o_orderkey", "o_custkey", "o_totalprice")
      .write.parquet(s"$dir2/orders.parquet")
    val allEmpty = q("sub_all")(spark, dir2).collect()
      .map(_.getLong(0)).toSeq
    assert(allEmpty == Seq(10L, 12L),
      s">= ALL (empty) is vacuously true — every row survives: $allEmpty")
  }

  test("fn_variant / fn_collate: the non-oracle-able halves pinned") {
    // schema_of_variant has no DuckDB replay, so the key's oracle
    // drops it — pin here that the fixture's props column is uniformly
    // OBJECT<k: BIGINT> (if the generator ever diversifies props, the
    // variant key's typed gets need revisiting, and this fails first).
    val vt = spark.sql(
      s"""SELECT DISTINCT schema_of_variant(parse_json(props)) AS t
         |FROM parquet.`$sf/events.parquet`""".stripMargin)
      .collect().map(_.getString(0)).toSeq
    assert(vt == Seq("OBJECT<k: BIGINT>"), s"props variant schema: $vt")
    // Collation semantics the oracle's lower()-rewrite can't
    // distinguish: UTF8_LCASE is comparator metadata, so ORDER BY a
    // collated column case-folds the PRIMARY comparison while a
    // binary tiebreak still sees the original strings.
    val sorted = spark.sql(
      """SELECT x FROM VALUES ('b'),('A'),('a'),('B') AS t(x)
        |ORDER BY x COLLATE UTF8_LCASE, x""".stripMargin)
      .collect().map(_.getString(0)).toSeq
    assert(sorted == Seq("A", "a", "B", "b"), s"collated sort: $sorted")
    // And collated equality is case-insensitive without rewriting data.
    assert(spark.sql(
      "SELECT 'ABC' COLLATE UTF8_LCASE = 'abc' COLLATE UTF8_LCASE AS e")
      .head.getBoolean(0))
  }

  test("graft_variant_gets ≡ the parse_json/variant_get battery, " +
    "row for row — the single-parse replacement changes cost, not values") {
    // r15: fn_variant ships the native one-parse battery; this pins
    // its typed-get semantics against Spark's OWN variant expressions
    // over the real fixture (bigint get, string cast of the same
    // field, missing path → NULL) plus the validity probe. The slice
    // keeps the expensive 4×-reparse side affordable — parity on a
    // uniform 20k-row sample over the same column is the contract.
    val mismatches = spark.sql(
      s"""SELECT count(*) AS n FROM (
         |  SELECT
         |    graft_variant_gets(props, 'k:bigint:kn', 'k:string:ks',
         |      'missing:bigint:mn') AS vg,
         |    variant_get(parse_json(props), '$$.k', 'bigint') AS k_num,
         |    variant_get(parse_json(props), '$$.k', 'string') AS k_str,
         |    variant_get(parse_json(props), '$$.missing', 'bigint') AS m_num,
         |    (try_parse_json(concat('{', props)) IS NULL) AS mal,
         |    (NOT graft_json_valid(concat('{', props))) AS mal_native
         |  FROM parquet.`$sf/events.parquet`
         |  WHERE event_type = 'error')
         |WHERE vg.kn IS DISTINCT FROM k_num
         |   OR vg.ks IS DISTINCT FROM k_str
         |   OR vg.mn IS DISTINCT FROM m_num
         |   OR mal IS DISTINCT FROM mal_native""".stripMargin)
      .head.getLong(0)
    assert(mismatches == 0,
      s"$mismatches rows diverge between the native and variant batteries")
    // Hand edge cases inside the documented contract: string field
    // read as string, integral rendered as string, missing → NULL,
    // nested values skipped structurally, and strict validity.
    val r = spark.sql(
      """SELECT graft_variant_gets(
        |  '{"a": {"x": [1, 2]}, "s": "hi", "k": -7}',
        |  'k:bigint:kn', 'k:string:ks', 's:string:ss', 'z:bigint:zn') AS v,
        |  graft_json_valid('{"k": 1}') AS ok,
        |  graft_json_valid('{"k": 1} trailing') AS trail,
        |  graft_json_valid('{{"k": 1}') AS bad""".stripMargin).head
    val v = r.getStruct(0)
    assert(v.getLong(0) == -7L && v.getString(1) == "-7" &&
      v.getString(2) == "hi" && v.isNullAt(3), s"edge gets: $v")
    assert(r.getBoolean(1) && !r.getBoolean(2) && !r.getBoolean(3),
      "validity: strict whole-text parse")
  }

  test("sub_lateral: top-3 per customer — ties broken by orderkey, " +
    "short groups emit what they have") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_lateral").toString
    Seq((1L, "A"), (2L, "B")).toDF("c_custkey", "c_name")
      .write.parquet(s"$dir/customer.parquet")
    // cust 1: four orders with a 25.0 tie (keys 11 and 13) — top-3 by
    // (price DESC, key) = 11, 13, 12; the 5.0 order is cut. cust 2:
    // only two orders — both survive (LIMIT 3 over a short group).
    Seq((10L, 1L, 5.0), (11L, 1L, 25.0), (12L, 1L, 15.0), (13L, 1L, 25.0),
        (20L, 2L, 7.0), (21L, 2L, 3.0))
      .toDF("o_orderkey", "o_custkey", "o_totalprice")
      .write.parquet(s"$dir/orders.parquet")
    val got = graft.operators.SubqueryOps.queries("sub_lateral")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == Seq((1L, 11L, 25.0), (1L, 12L, 15.0), (1L, 13L, 25.0),
      (2L, 20L, 7.0), (2L, 21L, 3.0)), s"lateral top-3: $got")
  }
}
