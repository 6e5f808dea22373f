package graft.operators

import graft.T
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** §2.3 Joins. The reference joins implicitly — dict lookups attaching
  * region/measure catalog metadata to cube cells while building facts
  * [R: genesapi/facts.py, genesapi/schema.py — UNVERIFIED]; here the
  * full relational join surface is explicit and planner-driven.
  *
  * Scale notes (100 TB):
  *   - Dimension lookups (part, nation, region, catalogs) are always
  *     [[functions.broadcast]] — no shuffle of the fact side.
  *   - Big-big joins (lineitem ⋈ orders) shuffle both sides on the
  *     key; `hint("merge")` pins sort-merge where we want spill-safe
  *     behavior over hash memory pressure. AQE re-plans skew.
  *   - Non-equi (theta/banded) joins compile to broadcast nested loop:
  *     ONLY ever run them block-bounded (here: p_size blocks). An
  *     unbounded theta join at 100 TB is a design bug, not a tuning
  *     problem.
  *   - as-of joins: equi-join on the entity key + time filter + one
  *     row_number window. One shuffle on the key, no driver state.
  *
  * Testdata quirk: events.ts (2024) and orders.o_orderdate (1995-2001)
  * do not overlap, so the as-of "latest order at/before event time"
  * degenerates to "latest order per user" (still exercises the full
  * operator); the interval join pairs orders with orders instead of
  * events with orders (which would be empty).
  */
object JoinOps {
  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    // Equi inner join; planner picks the strategy (broadcast at this
    // dim size; shuffle otherwise). o_orderkey is unique → total order.
    "join_inner" -> ((s, d) =>
      T.orders(s, d)
        .join(T.customer(s, d), col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("c_custkey"), col("c_name"),
                col("o_totalprice"))
        .orderBy("o_orderkey")),

    // Broadcast hash join pinned explicitly — the dim-table lookup
    // shape (reference: metadata joins). Fact side never shuffles.
    "join_broadcast" -> ((s, d) => {
      // Revenue on the scaled-long fast path (r18 — AggOps.agg_group's
      // rationale): long cents math + Sum128 limbs instead of per-row
      // wide-decimal products and DECIMAL(28,4) buffers.
      val rev4 = T.scaledLong(col("l_extendedprice"), 2, "l_extendedprice") *
        (lit(100L) - T.scaledLong(col("l_discount"), 2, "l_discount",
          maxScaled = 100L))
      T.lineitem(s, d)
        .join(broadcast(T.part(s, d)), col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n_items"),
             T.moneyScaled(T.s128(rev4), 4).as("revenue"))
        .orderBy("p_brand")
    }),

    // Sort-merge pinned for the big-big join: spill-safe at any scale.
    "join_smj" -> ((s, d) => {
      T.lineitem(s, d)
        .hint("merge")
        .join(T.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_lines"),
             // integer-quantity sum on long limbs (r18 — agg_group's note)
             T.money(T.s128(col("l_quantity").cast("long"))).as("sum_qty"))
        .orderBy("o_orderpriority")
    }),

    // Left outer: keep customers with zero matches (count = 0).
    "join_left" -> ((s, d) =>
      T.customer(s, d)
        .join(T.orders(s, d).filter(col("o_orderpriority") === "1-URGENT"),
              col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("n_urgent"))
        .orderBy("c_custkey")),

    // Full outer of two per-nation aggregates; the acctbal filters make
    // both sides genuinely partial so left-only AND right-only rows
    // survive. Pre-aggregating before the outer join keeps it
    // broadcast-able at any scale (one row per nation).
    "join_full" -> ((s, d) => {
      val sup = T.supplier(s, d).filter(col("s_acctbal") > 9000)
        .groupBy("s_nationkey").agg(count(lit(1)).as("n_supp"))
      val cus = T.customer(s, d).filter(col("c_acctbal") < -900)
        .groupBy("c_nationkey").agg(count(lit(1)).as("n_cust"))
      sup.join(cus, col("s_nationkey") === col("c_nationkey"), "full")
        .select(
          coalesce(col("s_nationkey"), col("c_nationkey")).as("nationkey"),
          coalesce(col("n_supp"), lit(0)).as("n_supp"),
          coalesce(col("n_cust"), lit(0)).as("n_cust"))
        .orderBy("nationkey")
    }),

    // Left semi (EXISTS): customers with at least one urgent order.
    "join_semi" -> ((s, d) =>
      T.customer(s, d)
        .join(T.orders(s, d).filter(col("o_orderpriority") === "1-URGENT"),
              col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")),

    // Left anti (NOT EXISTS): customers with no urgent order.
    "join_anti" -> ((s, d) =>
      T.customer(s, d)
        .join(T.orders(s, d).filter(col("o_orderpriority") === "1-URGENT"),
              col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")),

    // Cartesian product — tiny dims only (5 × 25 here).
    "join_cross" -> ((s, d) =>
      T.region(s, d).crossJoin(T.nation(s, d))
        .select("r_name", "n_name")
        .orderBy("r_name", "n_name")),

    // Theta (banded) join: parts within ±10 retail price of each other,
    // blocked to p_size <= 2 — a non-equi join compiles to broadcast
    // nested loop, so the block bound is load-bearing (SURVEY.md §7.6).
    "join_theta" -> ((s, d) => {
      def side(n: Int) = T.part(s, d).filter(col("p_size") <= 2)
        .select(col("p_partkey").as(s"p$n"), col("p_retailprice").as(s"price$n"))
      side(1).join(side(2),
          col("p1") < col("p2") &&
          abs(col("price1") - col("price2")) <= 10)
        .select("p1", "p2")
        .orderBy("p1", "p2")
    }),

    // As-of join: latest order of the same customer at/before event
    // time. Pinned semantics (SURVEY.md §7.4.3): strict <=, ties break
    // to highest orderkey, inner (events with no prior order drop).
    // Since r8 the key runs through the composable [[AsOf.asofJoin]]
    // API (the library form a user actually calls): equi-join on the
    // entity key + time predicate, then a lexicographic max(struct)
    // per event — unlike a ranked window (full sort of the joined
    // rows), the max aggregates map-side, so the post-join shuffle
    // carries one row per (event, partition), not the whole join
    // output. Same result, same tie-break, ~6× faster at sf0.1.
    "join_asof" -> ((s, d) => {
      val e = T.events(s, d).select("event_id", "ts", "user_id")
      val o = T.orders(s, d).select("o_orderkey", "o_custkey", "o_orderdate")
      AsOf.asofJoin(e, o, "user_id", "o_custkey", "ts", "o_orderdate",
          "o_orderkey")
        .select(col("event_id"), T.tstr(col("ts")).as("event_ts"),
                col("o_orderkey"),
                T.dstr(col("o_orderdate")).as("order_date"))
        .orderBy("event_id")
    }),

    // LEFT as-of join (r8, the r7 verdict's What's-missing #2): same
    // pinned semantics as join_asof but KEEP events with no prior
    // order, order columns NULL — the keep-unmatched form the
    // reference's latest-revision-wins analogue sometimes needs (a
    // fact row whose cube has no revision yet must still surface).
    // [[AsOf.asofJoin]] with keepUnmatched: an unmatched event
    // contributes exactly one all-NULL order row to its group, so
    // max(struct(NULL, NULL)) passes the NULLs through; matched
    // groups never see a NULL (the join condition filtered them), so
    // matched results are identical to join_asof's. The order side is
    // the URGENT slice — in this testdata every user has SOME prior
    // order (the plain left would degenerate to the inner), while ~15%
    // of events have no prior urgent one, so the NULL-keep path is
    // genuinely exercised and oracle-checked.
    "join_asof_left" -> ((s, d) => {
      val e = T.events(s, d).select("event_id", "ts", "user_id")
      val o = T.orders(s, d).filter(col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey", "o_custkey", "o_orderdate")
      AsOf.asofJoin(e, o, "user_id", "o_custkey", "ts", "o_orderdate",
          "o_orderkey", keepUnmatched = true)
        .select(col("event_id"), T.tstr(col("ts")).as("event_ts"),
                col("o_orderkey"),
                T.dstr(col("o_orderdate")).as("order_date"))
        .orderBy("event_id")
    }),

    // Tolerance as-of (r14): the latest at-or-before match counts
    // ONLY if it is fresh enough (≤ 60 days stale), else the row
    // keeps NULL right columns — pandas merge_asof's `tolerance`, and
    // the semantics every feature-store lookup actually wants (a
    // two-year-old quote is not a usable price). Since the as-of
    // match IS the closest at-or-before, tolerance composes as a
    // post-join staleness gate over the left variant — no second
    // join, same map-side max(struct) shape.
    "join_asof_tol" -> ((s, d) => {
      val e = T.events(s, d).select("event_id", "ts", "user_id")
      val o = T.orders(s, d).select("o_orderkey", "o_custkey", "o_orderdate")
      val fresh = col("o_orderdate").isNotNull &&
        datediff(to_date(col("ts")), col("o_orderdate")) <= 60
      AsOf.asofJoin(e, o, "user_id", "o_custkey", "ts", "o_orderdate",
          "o_orderkey", keepUnmatched = true)
        .select(col("event_id"), T.tstr(col("ts")).as("event_ts"),
          when(fresh, col("o_orderkey")).as("o_orderkey"),
          when(fresh, T.dstr(col("o_orderdate"))).as("order_date"),
          fresh.as("within_tol"))
        .orderBy("event_id")
    }),

    // FORWARD as-of ([[AsOf.asofJoinForward]], r15): each event's
    // NEXT order at-or-after — pandas merge_asof(direction="forward"),
    // the "what happened next" attribution lookup (next delivery after
    // the order, next error after the deploy). Ties at equal date pin
    // to the SMALLEST order key (first in order, the dual of the
    // backward join's latest-revision-wins rule); inner form — late
    // events with no later order drop, genuinely exercised here.
    "join_asof_fwd" -> ((s, d) => {
      val e = T.events(s, d).select("event_id", "ts", "user_id")
      val o = T.orders(s, d).select("o_orderkey", "o_custkey", "o_orderdate")
      AsOf.asofJoinForward(e, o, "user_id", "o_custkey", "ts",
          "o_orderdate", "o_orderkey")
        .select(col("event_id"), T.tstr(col("ts")).as("event_ts"),
                col("o_orderkey"),
                T.dstr(col("o_orderdate")).as("order_date"))
        .orderBy("event_id")
    }),

    // Nearest-in-time join ([[AsOf.nearestJoin]], r8): each event's
    // closest URGENT order of the same user in EITHER direction — the
    // bidirectional as-of ("order nearest the session"). Epoch-second
    // longs on both sides so the distance math is exact integer;
    // equidistant ties pin to the earlier order, then the smaller key.
    "join_nearest" -> ((s, d) => {
      val e = T.events(s, d).select(col("event_id"), col("user_id"),
        expr("unix_seconds(ts)").as("es"))
      val o = T.orders(s, d).filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"), col("o_custkey"),
          // o_orderdate is TIMESTAMP_NTZ: no direct long cast in
          // Spark 4 — NTZ→TIMESTAMP reads it in the session tz (UTC,
          // GraftSession) so unix_seconds matches DuckDB's
          // extract(epoch FROM ...) on the same naive value.
          unix_seconds(col("o_orderdate").cast("timestamp")).as("od_s"))
      AsOf.nearestJoin(e, o, "user_id", "o_custkey", "es", "od_s",
          "o_orderkey")
        .select(col("event_id"), col("es"), col("o_orderkey"), col("od_s"),
          abs(col("od_s") - col("es")).as("dist_s"))
        .orderBy("event_id")
    }),

    // Interval overlap: orders of the same customer within ±3 days of
    // each other. Equi key (custkey) + range residual → sort-merge with
    // a post-filter, NOT a nested loop: scales like a normal join.
    "join_interval" -> ((s, d) => {
      def side(n: Int) = T.orders(s, d)
        .select(col("o_orderkey").as(s"k$n"), col("o_custkey").as(s"c$n"),
                col("o_orderdate").as(s"d$n"))
      side(1).join(side(2),
          col("c1") === col("c2") && col("k1") < col("k2") &&
          col("d2").between(col("d1") - expr("INTERVAL 3 DAY"),
                            col("d1") + expr("INTERVAL 3 DAY")))
        .select("k1", "k2")
        .orderBy("k1", "k2")
    }),

    // Salted skew join ([[Skew.saltedJoin]]): lineitem ⋈ supplier on
    // (suppkey, salt) — the hot-key survival path when one join key
    // holds a data-sized share of the big side. shuffle_hash hint pins
    // the shuffled shape (the 8×-replicated dim would otherwise
    // broadcast at this scale and hide the salted exchange PlanSpec
    // audits). Salting relocates rows, no arithmetic crosses salt
    // groups → answer-invariant; the oracle is the plain join.
    "join_skew_salted" -> ((s, d) => {
      Skew.saltedJoin(T.lineitem(s, d), "l_suppkey",
          T.supplier(s, d).hint("shuffle_hash"), "s_suppkey", salt = 8)
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n_items"),
          // cents on Sum128 limbs (r18 — AggOps.agg_group's rationale)
          T.moneyScaled(T.s128(
            T.scaledLong(col("l_extendedprice"), 2, "l_extendedprice")), 2)
            .as("gross"))
        .orderBy("s_nationkey")
    }),

    // Null-safe equi-join (r9): `<=>` treats NULL as a JOINABLE value
    // (NULL matches NULL, exactly one way) — the dimension-lookup
    // semantics when "unknown" is itself a dimension member. The
    // planner keeps EqualNullSafe as an equi-key, so this stays a
    // hash/merge join (the engine-wide PlanSpec cartesian sweep pins
    // it) — the naive rewrite `a = b OR (a IS NULL AND b IS NULL)`
    // degrades to a nested-loop. Keys: pending orders ('P') carry a
    // NULL priority; the dim derives from the same data so every key
    // (incl. NULL) has exactly one dim row.
    "join_nullsafe" -> ((s, d) => {
      val keyed = T.orders(s, d)
        .withColumn("prio_k",
          when(col("o_orderstatus") === "P", lit(null).cast("string"))
            .otherwise(col("o_orderpriority")))
      val dim = keyed.groupBy("prio_k")
        .agg(count(lit(1)).as("n_in_class"))
        .withColumnRenamed("prio_k", "dim_k")
      keyed.join(dim, col("prio_k") <=> col("dim_k"))
        .select(col("o_orderkey"),
          coalesce(col("prio_k"), lit("UNKNOWN")).as("prio"),
          col("n_in_class"))
        .orderBy("o_orderkey")
    }),

    // Star join macro (r9) — the TPC-H Q5 shape: fact table joined
    // through a full dimension chain (orders→customer→nation→region,
    // lineitem→supplier with the nation-match predicate), selective
    // region filter, revenue rollup. One key exercising what the
    // micro-joins test separately: join ORDER (Catalyst pushes the
    // region filter through the chain before the fact join),
    // broadcast selection for every dim, AQE stage re-planning — the
    // macro plan a reporting workload actually runs. At 100 TB the
    // fact side shuffles once on orderkey; every dimension side stays
    // broadcast-sized.
    "join_star" -> ((s, d) => {
      val li = T.lineitem(s, d); val o = T.orders(s, d)
      val c = T.customer(s, d); val su = T.supplier(s, d)
      val n = T.nation(s, d); val r = T.region(s, d)
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(su, col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(n, col("s_nationkey") === col("n_nationkey"))
        .join(r, col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "ASIA")
        .groupBy("n_name")
        // Revenue on scaled longs (r18 — AggOps.agg_group's rationale).
        .agg(T.moneyScaled(T.s128(
            T.scaledLong(col("l_extendedprice"), 2, "l_extendedprice") *
              (lit(100L) - T.scaledLong(col("l_discount"), 2, "l_discount",
                maxScaled = 100L))), 4).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(desc("revenue"), col("n_name"))
    }),

    // Blocked fuzzy join (r9) — entity resolution over misspelled
    // names: match each corrupted name back to the clean catalog
    // within edit distance 2. The scale discipline is BLOCKING: a raw
    // similarity join is n² (and a `levenshtein(a,b) <= 2` join
    // predicate is a nested-loop); instead the probe side explodes
    // one EQUI block key per plausible (first-char, length) bucket
    // (an edit changes length by at most 1, and we block on the
    // surviving first char — the standard ER blocking tradeoff,
    // documented recall loss for first-char edits), so the planner
    // sees an ordinary hash join and levenshtein only runs on
    // same-bucket candidates. Best match = (distance, name) ranked —
    // deterministic. The corruption (3rd char dropped) is derived
    // from the data itself so the key self-oracles.
    "join_fuzzy" -> ((s, d) => {
      val clean = T.part(s, d).select(col("p_name").as("name")).distinct()
      val dirty = clean.select(
          concat(substring(col("name"), 1, 2),
            expr("substring(name, 4)")).as("name"))
        .distinct()
      fuzzyMatch(dirty, clean, maxDist = 2)
        .select(col("dirty_name"), col("matched"), col("dist"))
        .orderBy("dirty_name")
    })
  )

  /** Blocked fuzzy best-match: for each `dirty("name")` row, the
    * closest `clean("name")` within `maxDist` edits ((distance, name)
    * ranked — deterministic), or no row when nothing is close enough.
    * The probe side explodes one EQUI block key per (first-char,
    * length±maxDist) bucket so the planner keeps a hash join — a raw
    * `levenshtein <= k` predicate is a nested-loop n². Recall
    * contract: any match whose edits keep the first character AND
    * shift length by ≤ maxDist survives blocking (first-char edits are
    * the documented loss — standard ER blocking tradeoff).
    */
  def fuzzyMatch(dirty: DataFrame, clean: DataFrame,
      maxDist: Int): DataFrame = {
    val cleanK = clean.select(col("name").as("matched"),
      struct(substring(col("name"), 1, 1).as("c"),
        length(col("name")).as("l")).as("bk"))
    val probe = dirty.select(col("name").as("dirty_name"),
      explode(expr(
        s"transform(sequence(${-maxDist}, $maxDist), dl -> " +
          "struct(substring(name, 1, 1) AS c, " +
          "length(name) + dl AS l))")).as("bk"))
    probe.join(cleanK, "bk")
      .withColumn("dist", levenshtein(col("dirty_name"), col("matched")))
      .filter(col("dist") <= maxDist)
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("dirty_name")
          .orderBy(col("dist"), col("matched"))))
      .filter(col("rk") === 1)
      .select(col("dirty_name"), col("matched"),
        col("dist").cast("long").as("dist"))
  }

  val oracle: Map[String, String] = Map(
    "join_inner" ->
      """SELECT o_orderkey, c_custkey, c_name, o_totalprice
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin,
    "join_broadcast" ->
      """SELECT p_brand, count(*) AS n_items,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4)) *
        |      (1 - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "join_smj" ->
      """SELECT o_orderpriority, count(*) AS n_lines,
        |  CAST(round(sum(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "join_left" ->
      """SELECT c_custkey, count(o_orderkey) AS n_urgent
        |FROM customer LEFT JOIN (
        |  SELECT * FROM orders WHERE o_orderpriority = '1-URGENT') o
        |  ON c_custkey = o.o_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,
    "join_full" ->
      """WITH sup AS (
        |  SELECT s_nationkey, count(*) AS n_supp FROM supplier
        |  WHERE s_acctbal > 9000 GROUP BY s_nationkey),
        |cus AS (
        |  SELECT c_nationkey, count(*) AS n_cust FROM customer
        |  WHERE c_acctbal < -900 GROUP BY c_nationkey)
        |SELECT coalesce(s_nationkey, c_nationkey) AS nationkey,
        |       coalesce(n_supp, 0) AS n_supp,
        |       coalesce(n_cust, 0) AS n_cust
        |FROM sup FULL OUTER JOIN cus ON s_nationkey = c_nationkey
        |ORDER BY nationkey""".stripMargin,
    "join_semi" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin,
    "join_anti" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin,
    "join_cross" ->
      """SELECT r_name, n_name FROM region CROSS JOIN nation
        |ORDER BY r_name, n_name""".stripMargin,
    "join_theta" ->
      """SELECT a.p1, b.p2 FROM
        |  (SELECT p_partkey AS p1, p_retailprice AS price1 FROM part
        |   WHERE p_size <= 2) a
        |JOIN
        |  (SELECT p_partkey AS p2, p_retailprice AS price2 FROM part
        |   WHERE p_size <= 2) b
        |ON a.p1 < b.p2 AND abs(a.price1 - b.price2) <= 10
        |ORDER BY p1, p2""".stripMargin,
    "join_asof" ->
      """WITH j AS (
        |  SELECT event_id, ts, o_orderkey, o_orderdate,
        |    row_number() OVER (PARTITION BY event_id
        |      ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |  FROM events JOIN orders
        |    ON user_id = o_custkey AND o_orderdate <= ts)
        |SELECT event_id,
        |       strftime(ts, '%Y-%m-%d %H:%M:%S') AS event_ts,
        |       o_orderkey,
        |       strftime(o_orderdate, '%Y-%m-%d') AS order_date
        |FROM j WHERE rn = 1 ORDER BY event_id""".stripMargin,
    // FORWARD replay: ranked ASCENDING over the at-or-after join —
    // earliest order date, then smallest key.
    "join_asof_fwd" ->
      """WITH j AS (
        |  SELECT event_id, ts, o_orderkey, o_orderdate,
        |    row_number() OVER (PARTITION BY event_id
        |      ORDER BY o_orderdate ASC, o_orderkey ASC) AS rn
        |  FROM events JOIN orders
        |    ON user_id = o_custkey AND o_orderdate >= ts)
        |SELECT event_id,
        |       strftime(ts, '%Y-%m-%d %H:%M:%S') AS event_ts,
        |       o_orderkey,
        |       strftime(o_orderdate, '%Y-%m-%d') AS order_date
        |FROM j WHERE rn = 1 ORDER BY event_id""".stripMargin,
    // LEFT variant: same ranked replay over a LEFT JOIN — an unmatched
    // event's single NULL-extended row ranks 1 and emits NULL order
    // columns, mirroring max(struct(NULL, NULL)) exactly.
    "join_asof_left" ->
      """WITH j AS (
        |  SELECT event_id, ts, o_orderkey, o_orderdate,
        |    row_number() OVER (PARTITION BY event_id
        |      ORDER BY o_orderdate DESC NULLS LAST,
        |               o_orderkey DESC NULLS LAST) AS rn
        |  FROM events LEFT JOIN (
        |    SELECT * FROM orders WHERE o_orderpriority = '1-URGENT') o
        |    ON user_id = o.o_custkey AND o.o_orderdate <= ts)
        |SELECT event_id,
        |       strftime(ts, '%Y-%m-%d %H:%M:%S') AS event_ts,
        |       o_orderkey,
        |       strftime(o_orderdate, '%Y-%m-%d') AS order_date
        |FROM j WHERE rn = 1 ORDER BY event_id""".stripMargin,

    // The LEFT ranked replay plus the same staleness gate: a stale
    // (or absent) best match nulls the right columns and reports
    // within_tol = false.
    "join_asof_tol" ->
      """WITH j AS (
        |  SELECT event_id, ts, o_orderkey, o_orderdate,
        |    row_number() OVER (PARTITION BY event_id
        |      ORDER BY o_orderdate DESC NULLS LAST,
        |               o_orderkey DESC NULLS LAST) AS rn
        |  FROM events LEFT JOIN orders
        |    ON user_id = o_custkey AND o_orderdate <= ts),
        |f AS (
        |  SELECT *,
        |    (o_orderdate IS NOT NULL AND
        |     date_diff('day', o_orderdate, CAST(ts AS DATE)) <= 60) AS ok
        |  FROM j WHERE rn = 1)
        |SELECT event_id,
        |       strftime(ts, '%Y-%m-%d %H:%M:%S') AS event_ts,
        |       CASE WHEN ok THEN o_orderkey END AS o_orderkey,
        |       CASE WHEN ok THEN strftime(o_orderdate, '%Y-%m-%d') END
        |         AS order_date,
        |       ok AS within_tol
        |FROM f ORDER BY event_id""".stripMargin,
    // Nearest: ranked replay with the same pinned tie order
    // (distance, earlier time, smaller key).
    "join_nearest" ->
      """WITH e AS (
        |  SELECT event_id, user_id,
        |         CAST(floor(extract(epoch FROM ts)) AS BIGINT) AS es
        |  FROM events),
        |o AS (
        |  SELECT o_orderkey, o_custkey,
        |         CAST(floor(extract(epoch FROM o_orderdate)) AS BIGINT)
        |           AS od_s
        |  FROM orders WHERE o_orderpriority = '1-URGENT'),
        |j AS (
        |  SELECT e.event_id, e.es, o.o_orderkey, o.od_s,
        |    row_number() OVER (PARTITION BY e.event_id
        |      ORDER BY abs(o.od_s - e.es), o.od_s, o.o_orderkey) AS rn
        |  FROM e JOIN o ON e.user_id = o.o_custkey)
        |SELECT event_id, es, o_orderkey, od_s,
        |       abs(od_s - es) AS dist_s
        |FROM j WHERE rn = 1 ORDER BY event_id""".stripMargin,
    "join_interval" ->
      """SELECT a.o_orderkey AS k1, b.o_orderkey AS k2
        |FROM orders a JOIN orders b
        |  ON a.o_custkey = b.o_custkey AND a.o_orderkey < b.o_orderkey
        | AND b.o_orderdate BETWEEN a.o_orderdate - INTERVAL 3 DAY
        |                       AND a.o_orderdate + INTERVAL 3 DAY
        |ORDER BY k1, k2""".stripMargin,
    // Salting is invisible to results: the oracle is the plain join.
    "join_skew_salted" ->
      """SELECT s_nationkey, count(*) AS n_items,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))), 2)
        |    AS DOUBLE) AS gross
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_nationkey
        |ORDER BY s_nationkey""".stripMargin,
    // IS NOT DISTINCT FROM = Spark's <=>.
    "join_nullsafe" ->
      """WITH keyed AS (
        |  SELECT o_orderkey,
        |         CASE WHEN o_orderstatus = 'P' THEN NULL
        |              ELSE o_orderpriority END AS prio_k
        |  FROM orders),
        |dim AS (
        |  SELECT prio_k AS dim_k, count(*) AS n_in_class
        |  FROM keyed GROUP BY 1)
        |SELECT o_orderkey, COALESCE(prio_k, 'UNKNOWN') AS prio, n_in_class
        |FROM keyed JOIN dim ON prio_k IS NOT DISTINCT FROM dim_k
        |ORDER BY o_orderkey""".stripMargin,
    "join_star" ->
      """SELECT n_name,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4)) *
        |      (1 - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE)
        |    AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |             AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin,

    // Identical blocking (5 exploded (first-char, length) buckets —
    // length shifts −maxDist..maxDist with maxDist = 2, matching the
    // Spark side's sequence(-2, 2)) and unit-cost edit distance; both
    // engines implement classic Wagner-Fischer levenshtein.
    "join_fuzzy" ->
      """WITH clean AS (SELECT DISTINCT p_name FROM part),
        |ck AS (SELECT p_name, substr(p_name, 1, 1) AS c,
        |              length(p_name) AS l FROM clean),
        |dirty AS (SELECT DISTINCT substr(p_name, 1, 2) || substr(p_name, 4)
        |            AS dirty_name FROM clean),
        |dk AS (SELECT dirty_name, substr(dirty_name, 1, 1) AS c,
        |              length(dirty_name) + dl AS l
        |       FROM dirty, UNNEST([-2, -1, 0, 1, 2]) AS t(dl)),
        |m AS (SELECT dirty_name, p_name,
        |             levenshtein(dirty_name, p_name) AS dist
        |      FROM dk JOIN ck USING (c, l)
        |      WHERE levenshtein(dirty_name, p_name) <= 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY dirty_name
        |        ORDER BY dist, p_name) AS rk FROM m)
        |SELECT dirty_name, p_name AS matched, CAST(dist AS BIGINT) AS dist
        |FROM r WHERE rk = 1 ORDER BY dirty_name""".stripMargin
  )
}
