package graft.operators

import graft.T
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, Metadata}

/** §2.4 Aggregations. Reference analogue: fact building groups cube
  * cells by (region, time) and collects measures per statistic
  * [R: genesapi/facts.py, genesapi/schema.py — UNVERIFIED]. Spark's
  * HashAggregateExec gives partial+final (map-side combine) for free;
  * decimal inputs keep multi-partition sums exact (SURVEY.md §7.5).
  *
  * Scale notes: all groupings here are low-cardinality relative to the
  * input → partial aggregation collapses almost everything map-side, so
  * the shuffle is tiny at any scale. Rollup/cube expand rows only in
  * the aggregation buffers, never on the wire pre-combine.
  */
object AggOps {
  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    // TPC-H Q1 shape: multi-measure hash aggregate. Money sums ride
    // the scaled-long integer fast path (r18, guide §1.2/§2.3 — the
    // corrMatrix recipe): the previous sum(DECIMAL(18,4)) program
    // paid a BigDecimal round-trip per row per measure in the wide
    // DECIMAL(28,4) buffers, and the revenue product left the compact
    // decimal form per row too. Same exact values (2dp fixture, spec-
    // pinned), whole stage now codegen-resident.
    "agg_group" -> ((s, d) => {
      val pc = T.scaledLong(col("l_extendedprice"), 2, "l_extendedprice")
      val d2 = T.scaledLong(col("l_discount"), 2, "l_discount", maxScaled = 100L)
      val q = col("l_quantity").cast("long")
      T.lineitem(s, d)
        .filter(col("l_shipdate") <= lit("2001-09-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          T.money(T.s128(q)).as("sum_qty"),
          T.moneyScaled(T.s128(pc), 2).as("sum_base"),
          T.moneyScaled(T.s128(pc * (lit(100L) - d2)), 4).as("sum_disc_price"),
          round(avg(col("l_quantity")), 4).as("avg_qty"),
          round(avg(col("l_discount")), 6).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    "agg_distinct" -> ((s, d) =>
      T.orders(s, d)
        .groupBy("o_orderstatus")
        .agg(countDistinct(col("o_custkey")).as("n_cust"),
             count(lit(1)).as("n_orders"))
        .orderBy("o_orderstatus")),

    // HLL-sketch distinct — no oracle (approx); ScalaTest checks ±5%
    // vs exact. At 100 TB this is the only sane distinct-count: fixed
    // memory per group, merges associatively across partitions.
    "agg_approx" -> ((s, d) =>
      T.events(s, d)
        .groupBy("event_type")
        .agg(approx_count_distinct(col("user_id")).as("approx_users"))
        .orderBy("event_type")),

    // MERGEABLE sketch store — the pre-aggregation pattern behind every
    // OLAP "distinct users per <any rollup>" at scale: per-partition
    // DataSketches HLL sketches are stored ONCE (here: distinct
    // custkeys per order priority), and any coarser rollup merges the
    // binary sketches (hll_union_agg) without rescanning facts. HLL
    // registers are max-combined → union is associative, commutative,
    // and order-insensitive, so merging partial sketches gives EXACTLY
    // the sketch of the union (asserted in OperatorSemanticsSpec,
    // along with ±5% vs exact). No oracle: binary sketch state has no
    // DuckDB equivalent (same status as agg_approx).
    "agg_hll_merge" -> ((s, d) => {
      val parts = T.orders(s, d)
        .groupBy("o_orderpriority")
        .agg(expr("hll_sketch_agg(o_custkey)").as("sk"))
      parts.agg(
        count(lit(1)).as("n_sketches"),
        expr("hll_sketch_estimate(hll_union_agg(sk))")
          .as("approx_custkeys"))
    }),

    // Count-min frequency sketch — the heavy-hitter counterpart of
    // agg_hll_merge: per-key frequency ESTIMATES from one fixed-size
    // mergeable sketch (counts are additive → partition/merge-order
    // insensitive, so fixed seed ⇒ deterministic estimates), without a
    // full groupBy of a possibly-huge key space. One distributed
    // aggregate; the ~100 KB sketch comes back to the driver (the
    // legitimate model-sized collect, like the IVF centroids) and is
    // probed for a fixed candidate list. CMS never under-counts;
    // over-count ≤ eps·N w.h.p. — both asserted vs exact counts in
    // OperatorSemanticsSpec. No oracle: sketch internals are
    // engine-specific (same status as agg_approx).
    "agg_countmin" -> ((s, d) => {
      val bytes = T.lineitem(s, d)
        .agg(expr("count_min_sketch(l_suppkey, 0.001d, 0.99d, 42)").as("sk"))
        .head.getAs[Array[Byte]](0)
      val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
        new java.io.ByteArrayInputStream(bytes))
      val s2 = s
      import s2.implicits._
      (1L to 10L).map(k =>
          (k, cms.estimateCount(java.lang.Long.valueOf(k))))
        .toDF("suppkey", "est_count").orderBy("suppkey")
    }),

    // Exact percentiles (sort-based interpolation, same definition as
    // SQL quantile_cont). HAZARD at 100 TB: Spark's exact `percentile`
    // buffers the ENTIRE per-group value multiset in its aggregation
    // buffer (an OpenHashMap of value→count), so one hot group with
    // billions of distinct values OOMs the executor regardless of
    // partitioning. It exists here as the oracle-able correctness
    // reference; the scale path is agg_approx_percentile below.
    // ONE percentile aggregate with an array of percentages, not three:
    // each separate percentile(...) call buffers the group's whole
    // value multiset independently — 3× the memory and merge work for
    // the same answer (measured 3.8 → 1.3 s at sf0.1 under full
    // materialization).
    "agg_percentile" -> ((s, d) =>
      T.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(expr("percentile(l_extendedprice, array(0.25D, 0.5D, 0.75D))")
          .as("ps"))
        .select(col("l_returnflag"),
          round(element_at(col("ps"), 1), 4).as("p25"),
          round(element_at(col("ps"), 2), 4).as("p50"),
          round(element_at(col("ps"), 3), 4).as("p75"))
        .orderBy("l_returnflag")),

    // Quantile SKETCH — the 100 TB path for agg_percentile above.
    // approx_percentile keeps a fixed-size Greenwald-Khanna buffer per
    // group (size ~ accuracy, not cardinality) and merges associatively
    // across partitions, so a hot group costs the same memory as a cold
    // one. No oracle (sketch internals are engine-specific — DuckDB's
    // approx_quantile uses t-digest and answers differently); the spec
    // bounds it against the exact percentile within the GK error
    // guarantee (1/accuracy relative rank error).
    // Array form for the same reason as agg_percentile: one GK sketch
    // per group serves all three ranks.
    "agg_approx_percentile" -> ((s, d) =>
      T.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(expr(
          "approx_percentile(l_extendedprice, array(0.25D, 0.5D, 0.75D), 10000)")
          .as("ps"))
        .select(col("l_returnflag"),
          round(element_at(col("ps"), 1), 4).as("p25"),
          round(element_at(col("ps"), 2), 4).as("p50"),
          round(element_at(col("ps"), 3), 4).as("p75"))
        .orderBy("l_returnflag")),

    // Second-moment statistics: correlation, sample covariance/stddev/
    // variance — streaming co-moment aggregates, partial+final like any
    // hash agg (fixed-size buffers, merge-associative at any scale).
    "agg_stats" -> ((s, d) =>
      T.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          round(corr(col("l_extendedprice"), col("l_quantity")), 6).as("corr_pq"),
          round(covar_samp(col("l_extendedprice"), col("l_quantity")), 2).as("covar_pq"),
          round(stddev_samp(col("l_extendedprice")), 2).as("sd_price"),
          round(var_samp(col("l_discount")), 6).as("var_disc"))
        .orderBy("l_returnflag")),

    // Hierarchical subtotals — the AGS prefix-rollup analogue (§1.1).
    // Project down to the grouping columns BEFORE rollup: rollup on
    // string names over a join output is ambiguous to the analyzer.
    "agg_rollup" -> ((s, d) => {
      val c = T.customer(s, d); val n = T.nation(s, d); val r = T.region(s, d)
      // The explicit-Metadata alias strips the dataset-id tags that
      // joined columns carry; without it the rollup's Expand duplicates
      // those tagged attributes and DetectAmbiguousSelfJoin rejects the
      // plan ("Column r_name, n_name are ambiguous").
      // r18 wave-3 NEGATIVE experiment (recorded in
      // OPTIMIZATION_r18.md): pre-aggregating to the (region, nation)
      // grid before the rollup (agg_cube's §2.3 shape) A/B'd +0.19 s
      // worse — customer is dimension-sized, so two extra stage
      // boundaries cost more than the Expand×3 saves at any SF where
      // this key is planning/stage-bound. The Expand-over-input form
      // stays; revisit only if the rollup input ever becomes a fact
      // stream (then agg_cube's measured −72% applies).
      c.join(n, col("c_nationkey") === col("n_nationkey"))
        .join(r, col("n_regionkey") === col("r_regionkey"))
        .select(col("r_name").as("r_name", Metadata.empty),
                col("n_name").as("n_name", Metadata.empty))
        .rollup(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_cust"))
        .select(
          coalesce(col("r_name"), lit("ALL")).as("region_name"),
          coalesce(col("n_name"), lit("ALL")).as("nation_name"),
          col("n_cust"))
        .orderBy("region_name", "nation_name")
    }),

    // CUBE over the pre-aggregated base grid, not the fact table
    // (r18, guide §2.3 "aggregate before you shuffle"): Spark's cube
    // EXPANDs each input row into one copy per grouping set (4× here)
    // before the partial aggregate, so the fact table paid 4× the
    // per-row hash/aggregate work. Summing to the (flag, status) base
    // grid first — one plain fact-sized aggregate on the long fast
    // path — leaves the Expand and both cube groupings operating on a
    // ≤|flags×statuses|-row frame. sum/count are associative, so the
    // regrouped sums are identical by construction. NULL-safety: the
    // grid keys are the grouping keys themselves — fixture-non-null,
    // and any NULL would collide with cube's own subtotal NULLs in
    // BOTH forms identically (coalesce to 'ALL' happens after).
    "agg_cube" -> ((s, d) => {
      val grid = T.lineitem(s, d)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(sum(col("l_quantity").cast("long")).as("sq"),
             count(lit(1)).as("cnt"))
      grid
        .cube("l_returnflag", "l_linestatus")
        .agg(T.money(sum(col("sq").cast(DecimalType(38, 0)))).as("sum_qty"),
             sum(col("cnt")).as("n"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
          col("sum_qty"), col("n"))
        .orderBy("returnflag", "linestatus")
    }),

    // Explicit grouping sets ((priority), (status)) — over the
    // pre-aggregated (priority, status) base grid, agg_cube's r18
    // rationale: the Expand doubles input rows before the partial
    // aggregate, so feed it |pri×st| grid rows, not the fact table;
    // the base-grid money sum rides the scaled-long fast path.
    "agg_gsets" -> ((s, d) => {
      val grid = T.orders(s, d)
        .groupBy("o_orderpriority", "o_orderstatus")
        .agg(count(lit(1)).as("cnt"),
             T.s128(T.scaledLong(col("o_totalprice"), 2, "o_totalprice"))
               .as("sp"))
      grid
        .groupingSets(
          Seq(Seq(col("o_orderpriority")), Seq(col("o_orderstatus"))),
          col("o_orderpriority"), col("o_orderstatus"))
        .agg(sum(col("cnt")).as("n"),
             T.moneyScaled(sum(col("sp")), 2).as("sum_price"))
        .select(
          coalesce(col("o_orderpriority"), lit("ALL")).as("pri"),
          coalesce(col("o_orderstatus"), lit("ALL")).as("st"),
          col("n"), col("sum_price"))
        .orderBy("pri", "st")
    }),

    // HAVING over a plain-long quantity sum (r18): l_quantity is
    // integer-valued, so the wide-decimal buffer bought nothing —
    // sum(long) stays compact/codegen and the predicate compares
    // longs. (Long headroom: per-part qty sums reach ~2e13 at 100 TB
    // row counts — 5 orders of magnitude under 2^63.)
    "agg_having" -> ((s, d) =>
      T.lineitem(s, d)
        .groupBy("l_partkey")
        .agg(sum(col("l_quantity").cast("long")).as("sum_qty_l"))
        .filter(col("sum_qty_l") > 800)
        .select(col("l_partkey"), T.money(col("sum_qty_l")).as("sum_qty"))
        .orderBy("l_partkey")),

    // argmax/argmin with an explicit (value, key) struct so ties break
    // deterministically; oracle mirrors via a ranked window.
    "agg_minmax_by" -> ((s, d) => {
      val o = T.orders(s, d); val c = T.customer(s, d)
      o.join(c, o("o_custkey") === c("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(
          max_by(col("o_orderkey"), struct(col("o_totalprice"), col("o_orderkey")))
            .as("max_price_order"),
          min_by(col("o_orderkey"), struct(col("o_totalprice"), col("o_orderkey")))
            .as("min_price_order"))
        .orderBy("c_mktsegment")
    }),

    // Salted two-stage aggregation ([[Skew.saltedSumCount]]): the hot-
    // key survival path when ONE group key holds a data-sized share of
    // the rows — the salt splits it across `salt` reducers for the
    // partial stage, the second (tiny, per-(key,salt)) stage
    // recombines. Decimal values keep the re-associated sums exact, so
    // salting is answer-INVARIANT: the oracle is the plain GROUP BY.
    "agg_skew_salted" -> ((s, d) =>
      // Integer quantity on a plain-long buffer (r18 — agg_group's
      // note): the salted partial sums re-associate exactly in long
      // just as they did in decimal (both are exact integers).
      Skew.saltedSumCount(T.lineitem(s, d), "l_returnflag",
          col("l_quantity").cast("long"), salt = 8)
        .select(col("l_returnflag"),
          T.money(col("sum_v")).as("sum_qty"), col("n"))
        .orderBy("l_returnflag")),

    // Per-group mode (r8): most frequent event_type per user, ties to
    // the lexicographically smallest — the categorical profile column
    // ("dominant behavior per entity") every feature pipeline wants.
    // Two stages: the heavy one is the (user, type) count — a plain
    // two-phase hash aggregate whose shuffle carries one row per
    // distinct pair; the argmax then runs per-user over ≤ |type|
    // counted rows (a bounded window, not a data-sized sort). max_by
    // can't express the two-level tie-break (max n, then MIN string),
    // so the ranked form is the deterministic shape.
    "agg_mode" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id")
        .orderBy(desc("n"), asc("event_type"))
      T.events(s, d)
        .groupBy("user_id", "event_type").agg(count(lit(1)).as("n"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_type").as("mode_type"), col("n"))
        .orderBy("user_id")
    }),

    // IQR outlier detection (r8): flag rows outside the Tukey fences
    // [q1 − 1.5·IQR, q3 + 1.5·IQR] of their group — the statistical
    // quality gate (anomalous meter readings, corrupt numeric fields)
    // done with ORDER STATISTICS, not mean/stddev: a z-score rule is
    // itself dragged by the outliers it hunts AND its double sums are
    // partition-order-dependent; percentiles are exact and
    // associativity-free, so the fences are engine-reproducible. The
    // 1e-6 guard band on the comparison absorbs the engines'
    // interpolation-formula noise (~1e-12) without ever flipping a
    // 2-decimal data value (≥ 1e-2 from any fence±1e-6). Fence table
    // is |groups| rows → broadcast join; at 100 TB swap the exact
    // percentile for approx_percentile (agg_approx_percentile's GK
    // sketch) — the fences move ≤ the sketch bound, the shape is
    // identical.
    "agg_outlier" -> ((s, d) => {
      val e = T.events(s, d).select("event_id", "event_type", "value")
      val fences = e.groupBy("event_type")
        .agg(expr("percentile(value, array(0.25D, 0.75D))").as("ps"))
        .select(col("event_type"),
          (element_at(col("ps"), 1) -
            lit(1.5) * (element_at(col("ps"), 2) - element_at(col("ps"), 1)))
            .as("lo"),
          (element_at(col("ps"), 2) +
            lit(1.5) * (element_at(col("ps"), 2) - element_at(col("ps"), 1)))
            .as("hi"))
      e.join(broadcast(fences), Seq("event_type"))
        .filter(col("value") < col("lo") - lit(1e-6) ||
                col("value") > col("hi") + lit(1e-6))
        .select(col("event_id"), col("event_type"), col("value"),
          round(col("lo"), 4).as("lo_fence"),
          round(col("hi"), 4).as("hi_fence"))
        .orderBy("event_id")
    }),

    // Robust outlier scale via MAD (r15): per group, the median
    // absolute deviation and the count of points beyond 3 robust
    // sigmas (3·1.4826·MAD — the normal-consistency constant, a
    // SHARED literal with the oracle, the wilsonZ discipline). The
    // robust complement to agg_outlier's IQR fences: MAD gives a
    // SCALE (a robust z-score denominator), fences only a flag; both
    // survive 50%-contaminated data where stddev does not. Two exact
    // percentile passes (group median, then median of |x−med|) with
    // broadcast joins back — the quantile_cont parity the agg_outlier
    // oracle already proves; every gate comparison runs on doubles
    // built identically in both engines. At 100 TB swap the exact
    // percentiles for approx_percentile — the shape is unchanged.
    "agg_mad" -> ((s, d) => {
      val e = T.events(s, d).select("event_type", "value")
      val med = e.groupBy("event_type")
        .agg(expr("percentile(value, 0.5D)").as("med"))
      val dev = e.join(broadcast(med), Seq("event_type"))
        .withColumn("adev", abs(col("value") - col("med")))
      val madf = dev.groupBy("event_type")
        .agg(expr("percentile(adev, 0.5D)").as("mad"))
      dev.join(broadcast(madf), Seq("event_type"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          round(min(col("med")), 4).as("median"),
          round(min(col("mad")), 4).as("mad"),
          sum(when(col("adev") > lit(madK) * col("mad"), 1L)
            .otherwise(0L)).as("n_outliers"))
        .orderBy("event_type")
    }),

    // Fixed-width histogram (r8): bucket = floor(x / width) — the OLAP
    // distribution profile as ONE hash aggregate over a computed key
    // (never a per-bucket pass; scales like any groupBy). The division
    // is the same double op in both engines on the same input doubles,
    // so bucket assignment is bit-identical; bounds are derived from
    // the bucket index, all explicit-double math.
    "agg_histogram" -> ((s, d) => {
      val width = 60000.0
      T.orders(s, d)
        .select(floor(col("o_totalprice") / width).cast("int").as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("n"))
        .withColumn("lo", col("bucket").cast("double") * width)
        .withColumn("hi", (col("bucket") + 1).cast("double") * width)
        .select("bucket", "lo", "hi", "n")
        .orderBy("bucket")
    }),

    // Per-group least-squares regression (r9): slope/intercept/r² of
    // value over time per event type — the trend-per-segment OLAP
    // aggregate. Built-in regr_slope/regr_r2 accumulate in DOUBLES, so
    // their results are partition-order-dependent (and engine-drifty);
    // here the five MOMENT SUMS (Σx, Σx², Σy, Σy², Σxy) are exact
    // signed scaled-long Sum128 aggregates (r18 wave 3; see
    // [[linregFit]]) — associative, order-free — and all downstream
    // math is a fixed per-group scalar expression tree on identical
    // inputs, hence bit-identical on any engine with binary64. Same
    // map-side-combining two-phase hash aggregate as any sum; x is
    // centered on a constant epoch so x² stays well inside the exact
    // limb product range. The oracle replays the identical tree.
    "agg_linreg" -> ((s, d) => {
      val x = (unix_timestamp(col("ts")) - lit(1704067200L))
      linregFit(T.events(s, d).select(col("event_type").as("g"),
          x.as("x"), col("value").as("y")))
        .select(col("g").as("event_type"), col("n"),
          col("slope"), col("intercept"), col("r2"))
        .orderBy("event_type")
    }),

    // Ordered list collection — the fact-doc measure-collection shape;
    // sort_array pins element order (SURVEY.md §7.4.5). Emitted as a
    // joined string: the driver comparator cannot hash ARRAY cells
    // (house rule: no array/map/struct/decimal in final projections).
    "agg_collect" -> ((s, d) => {
      val o = T.orders(s, d); val c = T.customer(s, d)
      c.join(o, c("c_custkey") === o("o_custkey"))
        .groupBy("c_custkey")
        .agg(array_join(sort_array(collect_list(col("o_orderkey"))), ",")
          .as("orderkeys"))
        .orderBy("c_custkey")
    }),

    // Pricing-summary macro (r9) — the TPC-H Q1 shape as a driver-
    // Time-decayed counts (r15): per event type, Σ 2^(−age_days) with
    // a one-day half-life against the corpus max day — the trending
    // score every "what's hot" readout runs (a count that forgets).
    // EXACT cross-engine despite the exponential: base-2 decay over
    // INTEGER day ages means every weight is the integer
    // 2^(50−age) (ages > 50 decay to 0), the sum is exact integer
    // arithmetic in a decimal buffer, and the final ÷2^50 is a pure
    // exponent shift — no transcendental anywhere. One scan, the
    // broadcast ONE-ROW reference-day frame (corpus-totals pattern,
    // allowlisted), one two-phase hash aggregate.
    "agg_decay" -> ((s, d) =>
      decayedCounts(T.events(s, d)
        .select(col("event_type").as("g"), to_date(col("ts")).as("day")))
        .withColumnRenamed("g", "event_type")
        .orderBy("event_type")),

    // (agg_decay core lives in [[decayedCounts]] below the queries map
    // — extracted so the ScalaCheck reference fold tests the API, the
    // house pattern.)

    // Market-share macro (r15, the TPC-H Q8 shape): per order year,
    // each supplier NATION's share of the EUROPE-customer market for
    // small parts — the deepest join composition in the repo (7-table
    // snowflake: lineitem → part filter / orders → customer → nation →
    // region / supplier → nation) feeding one exact-decimal aggregate
    // and a per-year share. Dimension joins broadcast (nation/region
    // are catalog-sized at any corpus scale, customer/part ride AQE);
    // the share denominator is a window over the (year, nation)
    // aggregate — a \|years×nations\|-row frame, never the fact table.
    "macro_share" -> ((s, d) =>
      marketShare(T.lineitem(s, d), T.part(s, d), T.orders(s, d),
        T.customer(s, d), T.nation(s, d), T.region(s, d), T.supplier(s, d),
        region0 = "EUROPE", maxPartSize = 15)
        .orderBy("o_year", "s_nation")),

    // checked key (the flagship `entry()` runs it on sf0.001 but never
    // entered CORRECTNESS): full multi-measure scan-agg over ~97% of
    // lineitem — the single most-run reporting query shape there is.
    // One pushed-down scan, one two-phase hash aggregate over a
    // 4-group key; every money sum exact-decimal then rounded at the
    // emit (§7.5).
    // Money sums on the scaled-long fast path (r18 — see agg_group):
    // seven wide-decimal buffers and two per-row decimal products
    // became long math + Sum128 limbs; the charge product
    // pc·(100−d2)·(100+t2) sits at scale 6, ≤ ~2^37 per row — far
    // inside the 2^62 limb bound at any corpus size. Exact avgs keep
    // the sum÷count form on the SAME exact sums (descaled decimal →
    // double image, bit-identical to the previous decimal program).
    "macro_pricing" -> ((s, d) => {
      val pc = T.scaledLong(col("l_extendedprice"), 2, "l_extendedprice")
      val d2 = T.scaledLong(col("l_discount"), 2, "l_discount", maxScaled = 100L)
      val t2 = T.scaledLong(col("l_tax"), 2, "l_tax", maxScaled = 100L)
      val q = col("l_quantity").cast("long")
      val n = count(lit(1)).cast("double")
      T.lineitem(s, d)
        .filter(col("l_shipdate") <= lit("2001-09-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          T.money(T.s128(q)).as("sum_qty"),
          T.moneyScaled(T.s128(pc), 2).as("sum_base"),
          T.moneyScaled(T.s128(pc * (lit(100L) - d2)), 4).as("sum_disc"),
          T.moneyScaled(T.s128(pc * (lit(100L) - d2) * (lit(100L) + t2)), 6)
            .as("sum_charge"),
          // Averages as exact sum ÷ count on the double images (a raw
          // double avg drifts with partition order; the determinism
          // sweep would catch it — agg_weighted's rule).
          round(T.s128(q).cast("double") / n, 6).as("avg_qty"),
          round((T.s128(pc) / lit(100L)).cast("double") / n, 6).as("avg_price"),
          round((T.s128(d2) / lit(100L)).cast("double") / n, 6).as("avg_disc"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // Bitmap distinct counting (r9): EXACT distinct over a bounded id
    // domain via fixed-width bitmaps — the roaring/bitmap-index shape
    // that sits between countDistinct (exact, but the shuffle carries
    // every distinct value) and HLL (mergeable, approximate). Each
    // (group, word) cell bit_ors a one-hot long; distinct = Σ
    // popcount. The payoff is MERGEABILITY WITHOUT RESCAN: the ALL row
    // below derives from the per-group bitmap words alone — any
    // coarser rollup merges bitmaps like agg_hll_merge merges
    // sketches, but exactly. 63-bit words (bits 0..62): DuckDB's
    // overflow-checked `<<` rejects 1<<63, and ceil(domain/63) words
    // is the same O(domain) state either way. Shuffle carries
    // |groups|·|words| longs — independent of row count.
    "agg_bitmap_distinct" -> ((s, d) =>
      bitmapDistinct(
        T.lineitem(s, d).select(col("l_returnflag").as("g"),
          col("l_suppkey").as("id")))
        .withColumnRenamed("g", "flag")
        .orderBy("flag")),

    // Shannon entropy per group (r9): the behavioral-diversity /
    // anomaly signal (a user whose event mix is all one type scores 0;
    // a uniform 5-type mix scores log2(5)). Computed in the
    // numerically-stable factored form H = log2(n) − Σ c·log2(c) / n
    // over INTEGER counts, so the only transcendental inputs are exact
    // integers — log2 may differ from DuckDB's libm by an ULP, fenced
    // by round(·, 6) (§7.5's transcendental rule, same as fn_math's
    // sqrt). Two-phase hash aggregate twice (types-per-user, then
    // user) — shuffle carries one row per (user, type), never events.
    "agg_entropy" -> ((s, d) =>
      T.events(s, d)
        .groupBy("user_id", "event_type").agg(count(lit(1)).as("c"))
        .groupBy("user_id")
        .agg(sum("c").as("n_events"),
          count(lit(1)).as("n_types"),
          round(
            log2(sum("c")) -
              sum(col("c").cast("double") * log2(col("c"))) / sum("c"),
            6).as("entropy"))
        .orderBy("user_id")),

    // Weighted mean per group (r9): the unit-scaling shape (GENESIS
    // values carry per-cube scale factors; training mixes weight by
    // source). Numerator and denominator are EXACT decimal sums
    // (partition-order independent); the one division happens once
    // per output row on their double images — both engines divide the
    // same two doubles, so the quotient is bit-identical (IEEE), then
    // round(·, 6) for the emit.
    // Scaled-long fast path (r18 — agg_group's rationale): the
    // price·quantity product is cents·integer (scale 2, ≤ ~2^30 per
    // row), so numerator and denominator both ride Sum128 limbs and
    // the per-row decimal multiply disappears.
    "agg_weighted" -> ((s, d) => {
      val pc = T.scaledLong(col("l_extendedprice"), 2, "l_extendedprice")
      val q = col("l_quantity").cast("long")
      T.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          T.moneyScaled(T.s128(pc * q), 2).as("sum_wx"),
          T.money(T.s128(q)).as("sum_w"),
          round(
            (T.s128(pc * q) / lit(100L)).cast("double") /
              T.s128(q).cast("double"),
            6).as("wavg_price"))
        .orderBy("l_returnflag")
    }),

    // Wilson 95% confidence interval per group (r12): the proportion
    // estimate every quality dashboard and A/B readout needs NEXT TO
    // the rate itself ("13% ± what?") — Wilson, not the textbook
    // normal interval, because it behaves at small n and extreme p
    // (never leaves [0,1]). Cross-engine exact BY CONSTRUCTION: p and
    // n come from exact integer counts, and every remaining operation
    // (+, −, ×, ÷, sqrt) is correctly rounded under IEEE 754, so the
    // identical expression tree yields bit-identical doubles on both
    // engines — no decimal fencing needed beyond the final round; the
    // z and z² literals are Scala-computed once and interpolated into
    // BOTH sides. One two-phase hash aggregate; shuffle carries one
    // row per group.
    "agg_wilson" -> ((s, d) => {
      val g = T.events(s, d)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(when(col("value") >= 100, 1L).otherwise(0L)).as("k"))
      val n = col("n").cast("double")
      val p = col("k").cast("double") / n
      val denom = lit(1.0) + lit(wilsonZ2) / n
      val center = (p + lit(wilsonZ2) / (lit(2.0) * n)) / denom
      val half = (lit(wilsonZ) *
        sqrt(p * (lit(1.0) - p) / n + lit(wilsonZ2) / (lit(4.0) * n * n))) /
        denom
      g.select(col("event_type"), col("n"), col("k"),
          round(p, 6).as("p_hat"),
          round(center - half, 6).as("ci_lo"),
          round(center + half, 6).as("ci_hi"))
        .orderBy("event_type")
    }),

    // Welch two-sample t (r13): per event_type, the t statistic and
    // Welch–Satterthwaite degrees of freedom between the even- and
    // odd-user cohorts — the A/B readout next to agg_wilson's
    // proportion CI (means with unequal variances, the default safe
    // test; pooled-variance Student assumes equal spread). ONE
    // aggregate takes both cohorts' exact conditional moments via
    // conditional sums (no second scan, no join); every downstream op
    // (+,−,×,÷,sqrt) is correctly rounded so the identical double
    // program is bit-equal cross-engine (the agg_wilson rationale);
    // nullif guards the zero-pooled-spread and n≤1 edges into NULL on
    // both sides.
    // Scaled-long moments (r18 wave 3; agg_group's rationale): value
    // is exactly-2dp (ScaledMoneySpec-pinned fixture contract), so
    // v*100 rides Sum128 limbs (squares at scale 4, <= ~2^32 per row)
    // instead of four wide-decimal buffers with a per-row BigDecimal
    // product. The decimal descale at the per-group emit is exact
    // (<= 4 true dp, division scale 6), so the double images feeding
    // the t program are bit-identical to the decimal original's; the
    // count guards restore SQL's empty-cohort NULL (sum128 of an
    // all-NULL cohort evaluates to 0, not NULL).
    "agg_ttest" -> ((s, d) => {
      val aSide = col("user_id") % 2 === 0
      val v2 = T.scaledLong(col("value"), 2, "value")
      val g = T.events(s, d).groupBy("event_type").agg(
        sum(when(aSide, 1L).otherwise(0L)).as("n_a"),
        T.s128(when(aSide, v2)).as("sa2"),
        T.s128(when(aSide, v2 * v2)).as("ssa4"),
        sum(when(!aSide, 1L).otherwise(0L)).as("n_b"),
        T.s128(when(!aSide, v2)).as("sb2"),
        T.s128(when(!aSide, v2 * v2)).as("ssb4"))
      val (na, nb) = (col("n_a").cast("double"), col("n_b").cast("double"))
      val sa = when(col("n_a") > 0, (col("sa2") / lit(100L)).cast("double"))
      val ssa = when(col("n_a") > 0,
        (col("ssa4") / lit(10000L)).cast("double"))
      val sb = when(col("n_b") > 0, (col("sb2") / lit(100L)).cast("double"))
      val ssb = when(col("n_b") > 0,
        (col("ssb4") / lit(10000L)).cast("double"))
      val va = (ssa - sa * sa / na) / nullif(na - lit(1.0), lit(0.0))
      val vb = (ssb - sb * sb / nb) / nullif(nb - lit(1.0), lit(0.0))
      val (wa, wb) = (va / na, vb / nb)
      g.select(col("event_type"), col("n_a"), col("n_b"),
          round(sa / na, 6).as("mean_a"),
          round(sb / nb, 6).as("mean_b"),
          round((sa / na - sb / nb) /
            nullif(sqrt(greatest(wa + wb, lit(0.0))), lit(0.0)), 6)
            .as("t_stat"),
          round((wa + wb) * (wa + wb) /
            nullif(wa * wa / nullif(na - lit(1.0), lit(0.0)) +
                   wb * wb / nullif(nb - lit(1.0), lit(0.0)), lit(0.0)), 6)
            .as("df"))
        .orderBy("event_type")
    }),

    // Pearson correlation matrix (r13): all pairwise correlations
    // between the lineitem measures per returnflag — the one-pass
    // "which measures move together" profile a feature-screening or
    // drift job runs before modeling. ONE map-side-combining aggregate
    // takes every moment the six pairs need (n + 4 sums + 4 square
    // sums + 6 cross sums = 15 numbers per group, exact DECIMAL —
    // partition-order independent); each closed-form correlation is
    // then a fixed short double program on their double images
    // (correctly-rounded +,−,×,÷,sqrt — the agg_wilson rationale),
    // clamped with greatest(·, 0) so a zero variance rounding to −ε
    // can't reach sqrt, and nullif'd so constant measures emit NULL.
    // The stack() fan-out to (x_name, y_name) rows is a narrow
    // generator over the 3-row aggregate — nothing re-scans the input.
    // scale = 2: every lineitem measure is a true scale-2 value
    // (TPC-H money/rate columns; quantity integral), so the scaled
    // longs top out at l_extendedprice·100 ≈ 1.0e7 — squares ≈ 1e14,
    // far inside int64, and group sums stay on the compact add path.
    "agg_corr" -> ((s, d) =>
      corrMatrix(
        T.lineitem(s, d).select(col("l_returnflag").as("g"),
          col("l_quantity"), col("l_extendedprice"),
          col("l_discount"), col("l_tax")),
        Seq("l_quantity" -> "quantity", "l_extendedprice" -> "price",
          "l_discount" -> "discount", "l_tax" -> "tax"),
        scale = 2)
        .select(col("g").as("l_returnflag"), col("x_name"), col("y_name"),
          col("n"), col("corr"))
        .orderBy("l_returnflag", "x_name", "y_name")),

    // One-way ANOVA (r13): per user-id-residue segment (mod 4), the F
    // statistic for "does mean value differ across the five event
    // types?" — the k-cohort generalization of agg_ttest's two-cohort
    // readout, and the screening test run before any per-type
    // breakdown is trusted. ONE aggregate takes all fifteen
    // conditional exact-decimal moments (the agg_ttest recipe at
    // k = 5); the between/within sums of squares are then a FIXED
    // five-term double chain (written out explicitly, so the
    // association is identical cross-engine) and F is two guarded
    // divisions. No second scan, no join, no data-dependent
    // iteration order anywhere.
    "agg_anova" -> ((s, d) =>
      oneWayF(
        T.events(s, d).select((col("user_id") % 4).as("g"),
          col("event_type").as("cat"), col("value")),
        Seq("click", "error", "purchase", "signup", "view"))
        .withColumnRenamed("g", "segment")
        .orderBy("segment")),

    // Gini concentration (r13): per event type, the Gini coefficient
    // of the value distribution — the inequality readout ("is spend
    // concentrated in a few whales?") a monetization or corpus-mass
    // dashboard puts next to the mean. Exact rank formula
    // G = (2·Σ rn·x − (n+1)·Σx) / (n·Σx) over the (value, event_id)
    // total order: one window shuffle for the ranks, one aggregate
    // for the two exact-DECIMAL sums (rank·value products stay
    // decimal — no floats until the final fixed program), then one
    // guarded division. Values are non-negative by contract (the
    // fixture's are strictly positive); the event_id tiebreak makes
    // the rank — and therefore the statistic — a pure function of
    // the data.
    "agg_gini" -> ((s, d) =>
      giniIndex(
        T.events(s, d).select(col("event_type").as("g"),
          col("event_id").as("tie"), col("value")))
        .withColumnRenamed("g", "event_type")
        .orderBy("event_type")),

    // Chi-squared independence (r14): is event type independent of
    // the user-id-parity cohort? The categorical×categorical sibling
    // of agg_ttest (means) and agg_anova (k means) — the test behind
    // "does the A/B split see the same event mix". ONE aggregate
    // takes the full 5×2 contingency table as conditional counts;
    // expecteds and the χ² sum are a fixed ten-term double chain
    // (explicit association both engines), plus Cramér's V for the
    // effect size. All-integer inputs — the only rounding anywhere
    // is the final fence.
    "agg_chisq" -> ((s, d) =>
      chiSquare(
        T.events(s, d).select(col("event_type").as("cat"),
          (col("user_id") % 2).as("cohort")),
        Seq("click", "error", "purchase", "signup", "view"))
        .orderBy("n")),

    // Higher central moments (r14): per-group skewness and excess
    // kurtosis next to agg_stats' mean/variance — the shape profile
    // ("is the tail one-sided? heavier than normal?") a drift or
    // quality monitor reads before trusting z-scores. ONE aggregate
    // takes Σx..Σx⁴ with STAGED exact-decimal widths (each power
    // recast to the provably-sufficient width so no product crosses
    // Spark's 38-digit cap: x²→(18,8), x³=(28,12), x⁴=(37,16) — all
    // exact for |x| < 10⁵); the centered m₂/m₃/m₄ and the two ratios
    // are a fixed double program off the double images.
    "agg_moments" -> ((s, d) =>
      momentStats(
        T.events(s, d).select(col("event_type").as("g"), col("value")))
        .withColumnRenamed("g", "event_type")
        .orderBy("event_type"))
  )

  /** Time-decayed counts per group over `ev("g", "day")` (day: DATE):
    * n and Σ 2^(−age_days), age against the frame's max day, one-day
    * half-life. Exact cross-engine despite the exponential: integer
    * day ages make every weight the INTEGER 2^(50−age) (ages beyond
    * 50 half-lives decay to exactly 0 — they'd be < 1 ulp anyway),
    * the sum is exact integer arithmetic in a decimal buffer, and the
    * final ÷2^50 is a pure exponent shift. One broadcast ONE-ROW
    * reference-day frame + one two-phase hash aggregate. Returns
    * (g, n_events, decayed_count round-6). ≡-to-reference spec'd in
    * PropertySpec (a BigDecimal fold over explicit powers).
    */
  def decayedCounts(ev: DataFrame): DataFrame = {
    val ref = ev.agg(max(col("day")).as("ref_day"))
    ev.crossJoin(broadcast(ref))
      .withColumn("age", datediff(col("ref_day"), col("day")))
      .withColumn("w", expr("CASE WHEN age BETWEEN 0 AND 50 THEN " +
        "shiftleft(CAST(1 AS BIGINT), CAST(50 - age AS INT)) " +
        "ELSE CAST(0 AS BIGINT) END"))
      .groupBy("g")
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("w").cast(
            org.apache.spark.sql.types.DecimalType(30, 0)))
          .cast("double") / lit(1125899906842624.0), 6)
          .as("decayed_count"))
  }

  /** Per-year national market share (the TPC-H Q8 shape): for orders
    * whose CUSTOMER sits in `region`, each supplier NATION's exact-
    * decimal revenue over parts with p_size < `maxPartSize`, and its
    * share of the year's total. The deepest join composition in the
    * repo — a 7-table snowflake where nation/region broadcast
    * (catalog-sized at any corpus scale) and part/customer/orders
    * ride AQE; the share denominator is a window over the
    * (year, nation) AGGREGATE (\|years×nations\| rows), never the
    * fact table. Returns (o_year, s_nation, nation_revenue money,
    * share round-6). Micro-snowflake hand fixture in
    * OperatorSemanticsSpec.
    */
  def marketShare(lineitem: DataFrame, part: DataFrame, orders: DataFrame,
      customer: DataFrame, nation: DataFrame, region: DataFrame,
      supplier: DataFrame, region0: String = "EUROPE",
      maxPartSize: Int = 15): DataFrame = {
    // Scaled-long revenue (r18 — agg_group's rationale): cents ×
    // (100 − discount·100) at scale 4 rides Sum128 limbs instead of a
    // per-row wide-decimal product + DECIMAL(28,4) buffers; the join
    // then shuffles one LONG instead of a decimal. Descale BEFORE the
    // double images so share's quotient is bit-identical to the
    // decimal program at any magnitude.
    val rev4 = T.scaledLong(col("l_extendedprice"), 2, "l_extendedprice") *
      (lit(100L) - T.scaledLong(col("l_discount"), 2, "l_discount",
        maxScaled = 100L))
    val joined = lineitem
      .join(part.filter(col("p_size") < maxPartSize).select("p_partkey"),
        col("l_partkey") === col("p_partkey"))
      .join(orders.select(col("o_orderkey"),
        year(col("o_orderdate")).cast("long").as("o_year"),
        col("o_custkey")), col("l_orderkey") === col("o_orderkey"))
      .join(customer.select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation.select(
        col("n_nationkey").as("c_nationkey"), col("n_regionkey"))),
        Seq("c_nationkey"))
      .join(broadcast(region.filter(col("r_name") === region0)
        .select("r_regionkey")), col("n_regionkey") === col("r_regionkey"))
      .join(supplier.select(col("s_suppkey"), col("s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nation.select(
        col("n_nationkey").as("s_nationkey"),
        col("n_name").as("s_nation"))), Seq("s_nationkey"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("o_year")
    joined.groupBy(col("o_year"), col("s_nation"))
      .agg((T.s128(rev4) / lit(10000L)).as("nrev"))
      .withColumn("trev", sum(col("nrev")).over(w))
      .select(col("o_year"), col("s_nation"),
        T.money(col("nrev")).as("nation_revenue"),
        round(col("nrev").cast("double") / col("trev").cast("double"), 6)
          .as("share"))
  }

  /** 3 robust sigmas in MAD units (3 × the 1.4826 normal-consistency
    * constant) — Scala-rendered once into BOTH the Spark expression
    * and the oracle SQL (the wilsonZ discipline), so the agg_mad gate
    * literal can never drift between engines. */
  private val madK = 3 * 1.4826

  /** Two-sided 95% normal quantile, and its square — shared by the
    * Spark expression and the generated oracle SQL so the literals
    * can never drift apart. */
  private val wilsonZ = 1.959963984540054
  private lazy val wilsonZ2 = wilsonZ * wilsonZ

  /** All pairwise Pearson correlations between the named numeric
    * columns of `df`, per group `g`: one aggregate over exact
    * SCALED-LONG raw moments (each column quantized to `scale`
    * decimals then carried as x·10^scale — the [[linregFit]] recipe
    * widened to a column set and moved onto the integer fast path;
    * caller guarantees 0 ≤ x·10^scale < 2^31 so every product sits
    * below 2^62 — the [[graft.functions.Sum128]] limb contract),
    * then a stack() fan-out to one row per unordered pair. Pearson is
    * invariant under the per-column scaling, so the statistic equals
    * the unscaled definition on the quantized values. `cols` maps
    * column name → output label; returns
    * (g, n, x_name, y_name, corr), corr NULL when either side has
    * zero variance. Contracts spec'd in PropertySpec (≡ a local
    * double-fold Pearson reference).
    *
    * INPUT PRECONDITION (r18 advice): the quantization is
    * floor(x·10^scale + 0.5) over the double image, which equals the
    * historical DECIMAL(18,scale) HALF_UP contract exactly when the
    * data has at most `scale` true decimals and |x·10^scale| < 2^50
    * (the [[graft.T.scaledLong]] losslessness contract, pinned in
    * ScaledMoneySpec). Inputs with MORE than `scale` true decimals
    * quantize by double rounding, which can differ from decimal
    * HALF_UP by one ulp of the last kept digit — callers needing the
    * decimal contract on >scale-dp data must pre-round. NaN raises
    * loudly under this engine's ANSI sessions (the quantizing cast
    * throws CAST_OVERFLOW; ScaledMoneySpec pins it), never quantizes
    * to 0.
    */
  def corrMatrix(df: DataFrame, cols: Seq[(String, String)],
      scale: Int = 4): DataFrame = {
    require(cols.size >= 2 && cols.size <= 8,
      s"need 2..8 columns, got ${cols.size}")
    require(scale >= 0 && scale <= 6, s"scale must be in [0, 6]: $scale")
    val pairs = for {
      i <- cols.indices; j <- (i + 1) until cols.size
    } yield (cols(i), cols(j))
    // Scaled-LONG moments (r14 rework): quantize each column once to
    // `scale` decimals (HALF_UP — the T.dec contract, whose default 4
    // this generalizes), then carry x·10^scale as a plain long. Every
    // product is then long×long on the whole-stage-codegen fast path —
    // the previous DECIMAL(37,8) products ran one BigDecimal multiply
    // PER ROW PER MOMENT (measured: agg_corr 2.2 → 1.0 s at sf0.1) —
    // and the sums ride graft_sum128's two-long-limb buffers, which
    // never leave the codegen fast path at ANY group size (a
    // decimal(38) sum buffer pays a BigDecimal round-trip per row).
    // Magnitude contract: 0 ≤ x·10^scale < 2^31, so every cross
    // product sits below 2^62 (the fixture's widest column,
    // l_extendedprice at scale 2, is 1.0e7). Pearson is invariant
    // under the per-column positive scaling, so the statistic is
    // unchanged; the oracle replays the identical scaled-moment
    // program. The contract is RUNTIME-guarded (r15 — driver round 12 — the ppsSample
    // raise_error pattern): an out-of-range or negative value would
    // otherwise overflow the limb bound into silently wrong sums —
    // it now errors loudly, per row, on the codegen path. NULLs pass
    // through unchanged (three-valued when(); sum128 treats them as
    // every Spark sum does).
    // Quantization rides [[T.scaledLong]] (r18): the original xc here
    // scaled through cast(DECIMAL(18,scale)) × 10^scale — a
    // non-compact decimal multiply per row per column — and raised
    // with concat(name, cast(value)) guards whose expression trees
    // bloat the generated code (both measured as regressions when the
    // shared helper was extracted in wave 1; this call site simply
    // predated the helper). Same HALF_UP longs for any ≤ scale-dp
    // input under 2^50 (the losslessness contract ScaledMoneySpec
    // pins), same loud raise on negative/too-large values — the
    // 2^31 bound keeps every cross product under Sum128's 2^62 limb,
    // and a value too big for the old DECIMAL(18,scale) cast lands in
    // the same raise via the long-cast saturation.
    def xc(c: String) =
      T.scaledLong(col(c), scale, s"corrMatrix.$c",
        maxScaled = 2147483648L)
    val scaled = df.select(col("g") +:
      cols.map { case (c, _) => xc(c).as(s"x_$c") }: _*)
    // graft_sum128: two-long-limb exact sums on the codegen fast path
    // (a decimal(38) buffer pays a BigDecimal round-trip per row —
    // see [[graft.functions.Sum128]]; products are < 2^62 by the
    // magnitude contract above).
    val sums =
      cols.flatMap { case (c, _) => Seq(
        T.s128(col(s"x_$c")).as(s"s_$c"),
        T.s128(col(s"x_$c") * col(s"x_$c")).as(s"ss_$c")) } ++
      pairs.map { case ((a, _), (b, _)) =>
        T.s128(col(s"x_$a") * col(s"x_$b")).as(s"sp_${a}_$b") }
    val m = scaled.groupBy("g").agg(count(lit(1)).as("n"), sums: _*)
    def corr(a: String, b: String) = {
      val n = col("n").cast("double")
      val sx = col(s"s_$a").cast("double")
      val sy = col(s"s_$b").cast("double")
      val sxx = col(s"ss_$a").cast("double")
      val syy = col(s"ss_$b").cast("double")
      val sxy = col(s"sp_${a}_$b").cast("double")
      round((n * sxy - sx * sy) /
        nullif(sqrt(greatest(n * sxx - sx * sx, lit(0.0))) *
          sqrt(greatest(n * syy - sy * sy, lit(0.0))), lit(0.0)), 6)
    }
    val wide = m.select(col("g") +: col("n") +:
      pairs.zipWithIndex.map { case (((a, _), (b, _)), i) =>
        corr(a, b).as(s"r$i") }: _*)
    val stacked = pairs.zipWithIndex.map { case (((_, la), (_, lb)), i) =>
      s"'$la', '$lb', r$i" }.mkString(", ")
    wide.selectExpr("g", "n",
      s"stack(${pairs.size}, $stacked) AS (x_name, y_name, corr)")
  }

  /** One-way ANOVA F per group over `df("g", "cat", "value")`,
    * restricted to the EXPLICIT category list `cats` (2..8 entries —
    * the conditional-moment fan-out is one aggregate column triple
    * per category, the [[corrMatrix]] shape). Returns
    * (g, n, k, f_stat, ss_between, ss_within): n counts rows in
    * listed categories, k counts categories present in the group,
    * f_stat NULL when k ≤ 1 or the within-spread is zero.
    *
    * All moments (per-category n/Σx/Σx²) are exact scaled-long
    * Sum128 sums from ONE map-side-combining aggregate (r18 wave 3 —
    * [[graft.Tables.scaledLong]]'s rationale): `value` is quantized
    * HALF_UP at 2 decimals (the metric scale — identity for any
    * ≤2dp input, which the fixture contract pins), squares ride at
    * scale 4, and the per-group decimal descale is exact (≤4 true
    * dp, division scale 6), so every double image below is
    * bit-identical to the previous wide-decimal program's; the between term
    * Σ_c s_c²/n_c − S²/N and the within term Σ_c ss_c − Σ_c s_c²/n_c
    * are then fixed double chains whose term ORDER is the `cats`
    * order — written out explicitly so both engines fold identically
    * (+,−,×,÷ all correctly rounded). greatest(·, 0) clamps the two
    * sums of squares against −ε rounding; absent categories
    * contribute literal 0.0 terms. Contracts spec'd in PropertySpec
    * (≡ a local double-fold reference).
    */
  def oneWayF(df: DataFrame, cats: Seq[String]): DataFrame = {
    require(cats.size >= 2 && cats.size <= 8,
      s"need 2..8 categories, got ${cats.size}")
    val v2 = T.scaledLong(col("value"), 2, "value")
    val moments = cats.zipWithIndex.flatMap { case (c, i) =>
      val in = col("cat") === lit(c)
      Seq(
        sum(when(in, 1L).otherwise(0L)).as(s"n$i"),
        T.s128(when(in, v2)).as(s"s$i"),
        T.s128(when(in, v2 * v2)).as(s"ss$i"))
    }
    val m = df.filter(col("cat").isin(cats.map(lit): _*))
      .groupBy("g").agg(moments.head, moments.tail: _*)
    def chain(parts: Seq[org.apache.spark.sql.Column]) =
      parts.reduceLeft(_ + _) // explicit left fold = SQL's + chain
    val nTot = chain(cats.indices.map(i => col(s"n$i")))
    val kEff = chain(cats.indices.map(i =>
      when(col(s"n$i") > 0, 1L).otherwise(0L)))
    // Σ_c s_c²/n_c on double images, absent categories as literal 0.0
    val between = chain(cats.indices.map { i =>
      val sd = (col(s"s$i") / lit(100L)).cast("double")
      val nd = col(s"n$i").cast("double")
      when(col(s"n$i") > 0, sd * sd / nd).otherwise(lit(0.0))
    })
    // coalesce(decimal, int-0) resolves to the decimal type; decimal
    // addition is exact, so the chain order is immaterial here
    // sum128 of an absent category is already 0 (never NULL), so the
    // old coalesce fences are unnecessary; the scaled integer chains
    // are exact decimal adds and descale ONCE per group.
    val ssTot = chain(cats.indices.map(i => col(s"ss$i"))) / lit(10000L)
    val sTot = chain(cats.indices.map(i => col(s"s$i"))) / lit(100L)
    val nd = nTot.cast("double")
    val kd = kEff.cast("double")
    val ssb = greatest(between - sTot.cast("double") *
      sTot.cast("double") / nd, lit(0.0))
    val ssw = greatest(ssTot.cast("double") - between, lit(0.0))
    m.select(col("g"), nTot.as("n"), kEff.as("k"),
      round((ssb / nullif(kd - lit(1.0), lit(0.0))) /
        nullif(ssw / nullif(nd - kd, lit(0.0)), lit(0.0)), 6)
        .as("f_stat"),
      round(ssb, 6).as("ss_between"),
      round(ssw, 6).as("ss_within"))
  }

  /** Exact Gini coefficient per group over `df("g", "tie", "value")`
    * (values must be non-negative; `tie` breaks equal values into a
    * total order so the rank sum is deterministic). Returns
    * (g, n, total, gini): total = Σx rounded to the money scale,
    * gini NULL when Σx = 0.
    *
    * The rank form G = (2·Σ rn·x − (n+1)·Σx) / (n·Σx): one window
    * shuffle assigns ranks in (value, tie) order, one aggregate takes
    * Σ rn·x and Σx in exact DECIMAL (a BIGINT rank times a
    * DECIMAL(18,4) value widens losslessly), then the closed form is
    * four correctly-rounded double ops — bit-equal cross-engine by
    * construction. O(n log n) in the sort, no driver state.
    */
  def giniIndex(df: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("g").orderBy(col("value"), col("tie"))
    // Scaled-long moments (r18 — corrMatrix's recipe): the rank-
    // weighted sum ran a BigDecimal multiply per row plus two wide
    // buffers; x4 < 2^31 (guarded) keeps rn·x4 inside the Sum128 limb
    // contract for rank counts to 2^31. Descale at the per-group emit
    // so the double images match the decimal program's exactly.
    val ranked = df
      .withColumn("rn", row_number().over(w))
      .withColumn("x4",
        T.scaledLong(col("value"), 4, "value", maxScaled = 1L << 31))
    val m = ranked.groupBy("g").agg(
      count(lit(1)).as("n"),
      (T.s128(col("x4")) / lit(10000L)).as("s"),
      (T.s128(col("rn") * col("x4")) / lit(10000L)).as("a"))
    val (nd, sd, ad) =
      (col("n").cast("double"), col("s").cast("double"),
        col("a").cast("double"))
    m.select(col("g"), col("n"),
      round(sd, 4).as("total"),
      round((lit(2.0) * ad - (nd + lit(1.0)) * sd) /
        nullif(nd * sd, lit(0.0)), 6).as("gini"))
  }

  /** Chi-squared test of independence over `df("cat", "cohort")`
    * (cohort ∈ {0, 1}), restricted to the explicit category list
    * `cats` (2..8). Returns ONE row
    * (n, dof, chi2, cramers_v): dof = (r_eff−1)·(c_eff−1) over
    * categories/cohorts actually present, chi2 NULL when dof = 0.
    *
    * ONE aggregate takes the full contingency table as conditional
    * counts (the [[oneWayF]] recipe squared); expecteds
    * e_ij = row_i·col_j/N and the χ² sum are a fixed
    * 2·|cats|-term double chain in `cats`-then-cohort order —
    * explicit association, zero-margin cells contributing literal
    * 0.0. Cramér's V = √(χ²/(N·min(r_eff−1, c_eff−1))) gives the
    * [0,1] effect size. All inputs integers; one sqrt at the end.
    */
  def chiSquare(df: DataFrame, cats: Seq[String]): DataFrame = {
    require(cats.size >= 2 && cats.size <= 8,
      s"need 2..8 categories, got ${cats.size}")
    val cells = for { i <- cats.indices; j <- 0 to 1 } yield (i, j)
    val counts = cells.map { case (i, j) =>
      sum(when(col("cat") === lit(cats(i)) && col("cohort") === lit(j),
        1L).otherwise(0L)).as(s"c${i}_$j")
    }
    val m = df.filter(col("cat").isin(cats.map(lit): _*))
      .agg(counts.head, counts.tail: _*)
    def chain(parts: Seq[org.apache.spark.sql.Column]) =
      parts.reduceLeft(_ + _)
    def row(i: Int) = col(s"c${i}_0") + col(s"c${i}_1")
    def colj(j: Int) = chain(cats.indices.map(i => col(s"c${i}_$j")))
    val n = chain(cells.map { case (i, j) => col(s"c${i}_$j") })
    val rEff = chain(cats.indices.map(i =>
      when(row(i) > 0, 1L).otherwise(0L)))
    val cEff = chain((0 to 1).map(j =>
      when(colj(j) > 0, 1L).otherwise(0L)))
    val nd = n.cast("double")
    val chi2 = chain(cells.map { case (i, j) =>
      val e = row(i).cast("double") * colj(j).cast("double") / nd
      val o = col(s"c${i}_$j").cast("double")
      when(row(i) > 0 && colj(j) > 0, (o - e) * (o - e) / e)
        .otherwise(lit(0.0))
    })
    val dof = (rEff - lit(1L)) * (cEff - lit(1L))
    m.select(n.as("n"), dof.as("dof"),
      round(when(dof > 0, chi2), 6).as("chi2"),
      round(when(dof > 0,
        sqrt(chi2 / (nd * least(rEff - lit(1L), cEff - lit(1L))
          .cast("double")))), 6).as("cramers_v"))
  }

  /** Per-group skewness and excess kurtosis over `df("g", "value")`
    * (|value| < 10⁵ — the staged-width contract below). Returns
    * (g, n, mean, variance, skewness, kurtosis): population moments;
    * skewness/kurtosis NULL for constant groups, all rounded to 6.
    *
    * ONE aggregate takes Σx..Σx⁴ with STAGED exact decimal widths —
    * each power recast to a width that provably fits so no product
    * crosses the 38-digit cap and nothing silently rounds:
    * x (18,4) → x² cast (18,8) → x³ (37,12), x⁴ (37,16), all exact
    * for |x| < 10⁵. The centered m₂/m₃/m₄ and the two ratios are a
    * fixed double program off the double images (explicit
    * association, greatest(·,0)-clamped variance before the sqrt).
    */
  def momentStats(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val x = T.dec(col("value"))
    val x2 = (x * x).cast(DecimalType(18, 8))
    val m = df.groupBy("g").agg(
      count(lit(1)).as("n"),
      sum(x).as("s1"),
      sum(x2).as("s2"),
      sum(x2 * x).as("s3"),
      sum(x2 * x2).as("s4"))
    val nd = col("n").cast("double")
    val (s1, s2) = (col("s1").cast("double"), col("s2").cast("double"))
    val (s3, s4) = (col("s3").cast("double"), col("s4").cast("double"))
    val mu = s1 / nd
    val m2 = greatest(s2 / nd - mu * mu, lit(0.0))
    val m3 = s3 / nd - lit(3.0) * mu * (s2 / nd) + lit(2.0) * mu * mu * mu
    val m4 = s4 / nd - lit(4.0) * mu * (s3 / nd) +
      lit(6.0) * mu * mu * (s2 / nd) - lit(3.0) * mu * mu * mu * mu
    m.select(col("g"), col("n"),
      round(mu, 6).as("mean"),
      round(m2, 6).as("variance"),
      round(m3 / nullif(sqrt(m2) * m2, lit(0.0)), 6).as("skewness"),
      round(m4 / nullif(m2 * m2, lit(0.0)) - lit(3.0), 6).as("kurtosis"))
  }

  /** Exact mergeable distinct counts over `df("g", "id")` (id must be
    * a non-negative integral within `words`·63): one row per group
    * plus an 'ALL' row merged FROM the per-group bitmap words without
    * rescanning the input. Contracts spec'd in PropertySpec
    * (≡ countDistinct for any input). */
  def bitmapDistinct(df: DataFrame): DataFrame = {
    val words = df
      .select(col("g"), expr("id div 63").as("w"),
        expr("shiftleft(1L, cast(id % 63 as int))").as("bit"))
      .groupBy("g", "w").agg(expr("bit_or(bit)").as("bm"))
    val perGroup = words.groupBy("g")
      .agg(sum(bit_count(col("bm"))).as("n_distinct"))
    val merged = words.groupBy("w").agg(expr("bit_or(bm)").as("bm"))
      .agg(sum(bit_count(col("bm"))).as("n_distinct"))
      .select(lit("ALL").as("g"), col("n_distinct"))
    perGroup.unionByName(merged)
  }

  /** Per-group ordinary-least-squares fit over `df("g", "x", "y")`
    * (x integral-valued with |x| < 2^28, y numeric — quantized
    * HALF_UP at `yScale` decimals, identity for any input with at
    * most `yScale` true decimals): one map-side-combining aggregate
    * takes the six exact raw moments (n, Σx, Σx², Σy, Σy², Σxy) — one
    * shuffle of six numbers per group at any scale — then slope /
    * intercept / r² come from the closed-form normal equations, each
    * moment cast to double ONCE so the arithmetic is a fixed short
    * double program both engines replay identically.
    *
    * Scaled-long moments (r18 wave 3 — [[graft.Tables.scaledLong]]'s
    * rationale): the five sums ride SIGNED Sum128 limbs (x and the
    * x·y cross term carry sign; Sum128's carry algebra is
    * sign-exact, property-pinned) instead of wide-decimal buffers
    * with two per-row BigDecimal multiplies. Magnitude guards
    * (|x| < 2^28, |y·10^yScale| < 2^30) keep every per-row product
    * inside the ±2^62 limb bound; 2·yScale ≤ 6 keeps the per-group
    * decimal descale exact, so each moment's double image is
    * bit-identical to the previous decimal program's. The moments
    * stay partition-order-exact; only the final division is
    * floating. NULL x/y are not supported (sum128 adds 0 where SQL
    * sum skips — callers pass non-null measures). Contracts spec'd
    * in PropertySpec (≡ a local BigDecimal fold + centered-formula
    * reference). */
  def linregFit(df: DataFrame, yScale: Int = 2): DataFrame = {
    require(yScale >= 0 && 2 * yScale <= 6,
      s"linregFit: yScale must satisfy 0 <= 2*yScale <= 6, got $yScale")
    val xRaw = col("x").cast("long")
    val xl = when(abs(xRaw) >= lit(1L << 28),
      raise_error(lit("linregFit: |x| outside [0, 2^28)"))).otherwise(xRaw)
    val ys = T.scaledLongSigned(col("y"), yScale, "y",
      maxAbsScaled = 1L << 30)
    val m = df.groupBy("g").agg(
      count(lit(1)).as("n"),
      T.s128(xl).as("sx"),
      T.s128(xl * xl).as("sxx"),
      T.s128(ys).as("sy"),
      T.s128(ys * ys).as("syy"),
      T.s128(xl * ys).as("sxy"))
    val yDiv = math.pow(10, yScale).toLong
    val yyDiv = yDiv * yDiv
    val nD = col("n").cast("double")
    val sxD = col("sx").cast("double")
    val syD = (col("sy") / lit(yDiv)).cast("double")
    val sxxD = col("sxx").cast("double")
    val syyD = (col("syy") / lit(yyDiv)).cast("double")
    val sxyD = (col("sxy") / lit(yDiv)).cast("double")
    val num = nD * sxyD - sxD * syD
    val den = nD * sxxD - sxD * sxD
    m.select(col("g"), col("n"),
      (num / den).as("slope"),
      ((syD - (num / den) * sxD) / nD).as("intercept"),
      ((num * num) / (den * (nD * syyD - syD * syD))).as("r2"))
  }

  val oracle: Map[String, String] = Map(
    // Identical fence expression shape (q1 − 1.5·(q3−q1)) so the
    // double math replays; guard band keeps the flag noise-immune.
    "agg_outlier" ->
      """WITH f AS (
        |  SELECT event_type,
        |         quantile_cont(value, 0.25) AS q1,
        |         quantile_cont(value, 0.75) AS q3
        |  FROM events GROUP BY 1),
        |g AS (
        |  SELECT event_type, q1 - 1.5 * (q3 - q1) AS lo,
        |         q3 + 1.5 * (q3 - q1) AS hi
        |  FROM f)
        |SELECT e.event_id, e.event_type, e.value,
        |       round(lo, 4) AS lo_fence, round(hi, 4) AS hi_fence
        |FROM events e JOIN g USING (event_type)
        |WHERE e.value < lo - 0.000001 OR e.value > hi + 0.000001
        |ORDER BY event_id""".stripMargin,
    "agg_mode" ->
      """WITH c AS (
        |  SELECT user_id, event_type, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |r AS (
        |  SELECT user_id, event_type, n,
        |    row_number() OVER (PARTITION BY user_id
        |                       ORDER BY n DESC, event_type ASC) AS rn
        |  FROM c)
        |SELECT user_id, event_type AS mode_type, n
        |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin,
    // Integer literals cast to DOUBLE explicitly: DuckDB types 60000.0
    // as DECIMAL and would route the arithmetic through decimal rules.
    "agg_histogram" ->
      """SELECT CAST(floor(o_totalprice / CAST(60000 AS DOUBLE)) AS INT)
        |         AS bucket,
        |       CAST(floor(o_totalprice / CAST(60000 AS DOUBLE)) AS INT)
        |         * CAST(60000 AS DOUBLE) AS lo,
        |       (CAST(floor(o_totalprice / CAST(60000 AS DOUBLE)) AS INT) + 1)
        |         * CAST(60000 AS DOUBLE) AS hi,
        |       count(*) AS n
        |FROM orders GROUP BY 1, 2, 3 ORDER BY bucket""".stripMargin,
    // Exact-decimal moment sums, then the identical double expression
    // tree — slope/intercept/r2 replay bit-for-bit (only the SUMS are
    // order-sensitive; they are decimal-exact on both engines).
    "agg_linreg" ->
      """WITH e AS (
        |  SELECT event_type,
        |    CAST(CAST(floor(extract(epoch FROM ts)) AS BIGINT)
        |         - 1704067200 AS DECIMAL(18,0)) AS x,
        |    CAST(value AS DECIMAL(18,4)) AS y
        |  FROM events),
        |m AS (
        |  SELECT event_type, count(*) AS n,
        |    sum(x) AS sx, sum(x*x) AS sxx,
        |    sum(y) AS sy, sum(y*y) AS syy, sum(x*y) AS sxy
        |  FROM e GROUP BY 1)
        |SELECT event_type, n,
        |  (CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE)
        |     - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE)) /
        |  (CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE)
        |     - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)) AS slope,
        |  (CAST(sy AS DOUBLE)
        |     - ((CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE)
        |          - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE)) /
        |        (CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE)
        |          - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)))
        |       * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS intercept,
        |  ((CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE)
        |      - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
        |   * (CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE)
        |      - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))) /
        |  ((CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE))
        |   * (CAST(n AS DOUBLE)*CAST(syy AS DOUBLE)
        |      - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE))) AS r2
        |FROM m ORDER BY event_type""".stripMargin,
    "agg_percentile" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
        |  round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
        |  round(quantile_cont(l_extendedprice, 0.75), 4) AS p75
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "agg_stats" ->
      """SELECT l_returnflag,
        |  round(corr(l_extendedprice, l_quantity), 6) AS corr_pq,
        |  round(covar_samp(l_extendedprice, l_quantity), 2) AS covar_pq,
        |  round(stddev_samp(l_extendedprice), 2) AS sd_price,
        |  round(var_samp(l_discount), 6) AS var_disc
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "agg_group" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(round(sum(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_qty,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_base,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4)) *
        |      (1 - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS sum_disc_price,
        |  round(avg(l_quantity), 4) AS avg_qty,
        |  round(avg(l_discount), 6) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2001-09-01'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "agg_distinct" ->
      """SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_cust,
        |       count(*) AS n_orders
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "agg_rollup" ->
      """SELECT coalesce(r_name, 'ALL') AS region_name,
        |       coalesce(n_name, 'ALL') AS nation_name,
        |       count(*) AS n_cust
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)
        |ORDER BY region_name, nation_name""".stripMargin,
    "agg_cube" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
        |       coalesce(l_linestatus, 'ALL') AS linestatus,
        |       CAST(round(sum(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_qty,
        |       count(*) AS n
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY returnflag, linestatus""".stripMargin,
    "agg_gsets" ->
      """SELECT coalesce(o_orderpriority, 'ALL') AS pri,
        |       coalesce(o_orderstatus, 'ALL') AS st,
        |       count(*) AS n,
        |       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_price
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus))
        |ORDER BY pri, st""".stripMargin,
    "agg_having" ->
      """SELECT l_partkey,
        |  CAST(round(sum(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY l_partkey
        |HAVING sum(CAST(l_quantity AS DECIMAL(18,4))) > 800
        |ORDER BY l_partkey""".stripMargin,
    "agg_minmax_by" ->
      """WITH ranked AS (
        |  SELECT c_mktsegment, o_orderkey,
        |    row_number() OVER (PARTITION BY c_mktsegment
        |                       ORDER BY o_totalprice DESC, o_orderkey DESC) AS rd,
        |    row_number() OVER (PARTITION BY c_mktsegment
        |                       ORDER BY o_totalprice ASC, o_orderkey ASC) AS ra
        |  FROM orders JOIN customer ON o_custkey = c_custkey)
        |SELECT a.c_mktsegment,
        |       a.o_orderkey AS max_price_order,
        |       b.o_orderkey AS min_price_order
        |FROM ranked a JOIN ranked b
        |  ON a.c_mktsegment = b.c_mktsegment AND a.rd = 1 AND b.ra = 1
        |ORDER BY a.c_mktsegment""".stripMargin,
    "agg_skew_salted" ->
      """SELECT l_returnflag,
        |  CAST(round(sum(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE)
        |    AS sum_qty,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "agg_collect" ->
      """SELECT c_custkey,
        |       string_agg(CAST(o_orderkey AS VARCHAR), ',' ORDER BY o_orderkey)
        |         AS orderkeys
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,
    "macro_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(round(sum(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE)
        |    AS sum_qty,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))), 2)
        |    AS DOUBLE) AS sum_base,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4)) *
        |      (1 - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE)
        |    AS sum_disc,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4)) *
        |      (1 - CAST(l_discount AS DECIMAL(18,4))) *
        |      (1 + CAST(l_tax AS DECIMAL(18,4)))), 2) AS DOUBLE)
        |    AS sum_charge,
        |  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE), 6) AS avg_qty,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE), 6) AS avg_price,
        |  round(CAST(sum(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE), 6) AS avg_disc,
        |  count(*) AS n
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '2001-09-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    // quantile_cont ≡ Spark percentile (the agg_outlier parity);
    // the 3·1.4826 gate literal is the interpolated Scala double.
    "agg_mad" ->
      s"""WITH med AS (
        |  SELECT event_type, quantile_cont(value, 0.5) AS med
        |  FROM events GROUP BY 1),
        |dev AS (
        |  SELECT e.event_type, m.med, abs(e.value - m.med) AS adev
        |  FROM events e JOIN med m USING (event_type)),
        |madf AS (
        |  SELECT event_type, quantile_cont(adev, 0.5) AS mad
        |  FROM dev GROUP BY 1)
        |SELECT d.event_type, count(*) AS n,
        |  round(min(d.med), 4) AS median,
        |  round(min(m.mad), 4) AS mad,
        |  CAST(sum(CASE WHEN d.adev > $madK * m.mad THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_outliers
        |FROM dev d JOIN madf m USING (event_type)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // Same integer 2^(50−age) weights (<< replays shiftleft), exact
    // HUGEINT sum cast to double, same exponent-shift ÷2^50.
    "agg_decay" ->
      """WITH ev AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day FROM events),
        |ref AS (SELECT max(day) AS ref_day FROM ev),
        |aged AS (
        |  SELECT event_type,
        |    date_diff('day', day, ref_day) AS age
        |  FROM ev, ref)
        |SELECT event_type, count(*) AS n_events,
        |  round(CAST(sum(CASE WHEN age BETWEEN 0 AND 50
        |      THEN CAST(1 AS BIGINT) << CAST(50 - age AS INT)
        |      ELSE CAST(0 AS BIGINT) END) AS DOUBLE)
        |    / 1125899906842624.0, 6) AS decayed_count
        |FROM aged GROUP BY event_type ORDER BY event_type""".stripMargin,

    // Same snowflake joins and exact-decimal revenue; the share
    // denominator is the same per-year window over the (year, nation)
    // aggregate, divisions on double images.
    "macro_share" ->
      """WITH j AS (
        |  SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
        |    sn.n_name AS s_nation,
        |    CAST(l.l_extendedprice AS DECIMAL(18,4)) *
        |      (1 - CAST(l.l_discount AS DECIMAL(18,4))) AS rev
        |  FROM lineitem l
        |  JOIN part p ON l.l_partkey = p.p_partkey AND p.p_size < 15
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN nation cn ON c.c_nationkey = cn.n_nationkey
        |  JOIN region r ON cn.n_regionkey = r.r_regionkey
        |    AND r.r_name = 'EUROPE'
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  JOIN nation sn ON s.s_nationkey = sn.n_nationkey),
        |a AS (
        |  SELECT o_year, s_nation, sum(rev) AS nrev
        |  FROM j GROUP BY 1, 2),
        |t AS (
        |  SELECT o_year, s_nation, nrev,
        |    sum(nrev) OVER (PARTITION BY o_year) AS trev
        |  FROM a)
        |SELECT o_year, s_nation,
        |  CAST(round(nrev, 2) AS DOUBLE) AS nation_revenue,
        |  round(CAST(nrev AS DOUBLE) / CAST(trev AS DOUBLE), 6) AS share
        |FROM t ORDER BY o_year, s_nation""".stripMargin,

    // Same 63-bit word/bit split, same two-level bit_or merge;
    // bit_count sums cast off HUGEINT.
    "agg_bitmap_distinct" ->
      """WITH words AS (
        |  SELECT l_returnflag AS flag, l_suppkey // 63 AS w,
        |         bit_or(CAST(1 AS BIGINT) << CAST(l_suppkey % 63 AS INT))
        |           AS bm
        |  FROM lineitem GROUP BY 1, 2),
        |per_flag AS (
        |  SELECT flag, CAST(sum(bit_count(bm)) AS BIGINT) AS n_distinct
        |  FROM words GROUP BY flag),
        |merged AS (
        |  SELECT 'ALL' AS flag,
        |         CAST(sum(bit_count(bm2)) AS BIGINT) AS n_distinct
        |  FROM (SELECT w, bit_or(bm) AS bm2 FROM words GROUP BY w))
        |SELECT flag, n_distinct FROM per_flag
        |UNION ALL SELECT flag, n_distinct FROM merged
        |ORDER BY flag""".stripMargin,

    // Same factored form over the same integer counts; round(·, 6)
    // fences the ULP gap between Java's and libm's log2.
    "agg_entropy" ->
      """WITH ct AS (
        |  SELECT user_id, event_type, count(*) AS c
        |  FROM events GROUP BY 1, 2)
        |SELECT user_id, CAST(sum(c) AS BIGINT) AS n_events,
        |       count(*) AS n_types,
        |       round(log2(sum(c))
        |             - sum(CAST(c AS DOUBLE) * log2(c)) / sum(c),
        |             6) AS entropy
        |FROM ct GROUP BY user_id ORDER BY user_id""".stripMargin,
    "agg_weighted" ->
      """SELECT l_returnflag,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))
        |                 * CAST(l_quantity AS DECIMAL(18,4))), 2)
        |       AS DOUBLE) AS sum_wx,
        |  CAST(round(sum(CAST(l_quantity AS DECIMAL(18,4))), 2)
        |       AS DOUBLE) AS sum_w,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
        |                 * CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
        |        / CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE),
        |        6) AS wavg_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // Identical expression tree and association as the Spark side; the
    // z/z² literals are the SAME Scala-rendered doubles interpolated
    // into both, so the correctly-rounded +,−,×,÷,sqrt chain is
    // bit-identical before the rounding fence.
    "agg_wilson" ->
      s"""WITH g AS (
        |  SELECT event_type, count(*) AS n,
        |         CAST(sum(CASE WHEN value >= 100 THEN 1 ELSE 0 END)
        |              AS BIGINT) AS k
        |  FROM events GROUP BY event_type),
        |c AS (
        |  SELECT event_type, n, k, CAST(n AS DOUBLE) AS nd,
        |         CAST(k AS DOUBLE) / CAST(n AS DOUBLE) AS p
        |  FROM g)
        |SELECT event_type, n, k,
        |  round(p, 6) AS p_hat,
        |  round((p + $wilsonZ2/(2.0*nd))/(1.0 + $wilsonZ2/nd)
        |        - ($wilsonZ*sqrt(p*(1.0-p)/nd + $wilsonZ2/(4.0*nd*nd)))
        |          /(1.0 + $wilsonZ2/nd), 6) AS ci_lo,
        |  round((p + $wilsonZ2/(2.0*nd))/(1.0 + $wilsonZ2/nd)
        |        + ($wilsonZ*sqrt(p*(1.0-p)/nd + $wilsonZ2/(4.0*nd*nd)))
        |          /(1.0 + $wilsonZ2/nd), 6) AS ci_hi
        |FROM c ORDER BY event_type""".stripMargin,

    "agg_corr" -> corrSql,

    // Same conditional exact-decimal moments (width 19 forces DuckDB's
    // int128 multiply path — the agg_corr note), same double program
    // with the same association and the same nullif/greatest guards,
    // so every emitted double is bit-identical before the rounding
    // fence. n_a/n_b cast to BIGINT (the HUGEINT sum trap).
    "agg_ttest" ->
      """WITH g AS (
        |  SELECT event_type,
        |    CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_a,
        |    sum(CASE WHEN user_id % 2 = 0
        |        THEN CAST(value AS DECIMAL(19,4)) END) AS sa,
        |    sum(CASE WHEN user_id % 2 = 0
        |        THEN CAST(value AS DECIMAL(19,4))
        |             * CAST(value AS DECIMAL(19,4)) END) AS ssa,
        |    CAST(sum(CASE WHEN user_id % 2 <> 0 THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_b,
        |    sum(CASE WHEN user_id % 2 <> 0
        |        THEN CAST(value AS DECIMAL(19,4)) END) AS sb,
        |    sum(CASE WHEN user_id % 2 <> 0
        |        THEN CAST(value AS DECIMAL(19,4))
        |             * CAST(value AS DECIMAL(19,4)) END) AS ssb
        |  FROM events GROUP BY event_type),
        |c AS (
        |  SELECT event_type, n_a, n_b,
        |         CAST(n_a AS DOUBLE) AS nad, CAST(n_b AS DOUBLE) AS nbd,
        |         CAST(sa AS DOUBLE) AS sad, CAST(sb AS DOUBLE) AS sbd,
        |         CAST(ssa AS DOUBLE) AS ssad, CAST(ssb AS DOUBLE) AS ssbd
        |  FROM g),
        |v AS (
        |  SELECT *,
        |    ((ssad - sad * sad / nad) / nullif(nad - 1.0, 0.0)) / nad AS wa,
        |    ((ssbd - sbd * sbd / nbd) / nullif(nbd - 1.0, 0.0)) / nbd AS wb
        |  FROM c)
        |SELECT event_type, n_a, n_b,
        |       round(sad / nad, 6) AS mean_a,
        |       round(sbd / nbd, 6) AS mean_b,
        |       round((sad / nad - sbd / nbd) /
        |             nullif(sqrt(greatest(wa + wb, 0.0)), 0.0), 6) AS t_stat,
        |       round((wa + wb) * (wa + wb) /
        |             nullif(wa * wa / nullif(nad - 1.0, 0.0) +
        |                    wb * wb / nullif(nbd - 1.0, 0.0), 0.0), 6) AS df
        |FROM v ORDER BY event_type""".stripMargin,

    "agg_anova" -> anovaSql,

    "agg_chisq" -> chisqSql,

    // Same staged exact widths (19,4 → 19,8 keeps every product on
    // DuckDB's int128 path and under the 38 cap), same layered double
    // program: mu/m2 materialize as CTE columns holding the identical
    // doubles the operator's expression tree computes.
    "agg_moments" ->
      """WITH b AS (
        |  SELECT event_type AS g, CAST(value AS DECIMAL(19,4)) AS x,
        |         CAST(CAST(value AS DECIMAL(19,4))
        |              * CAST(value AS DECIMAL(19,4))
        |              AS DECIMAL(19,8)) AS x2
        |  FROM events),
        |m AS (
        |  SELECT g, count(*) AS n, sum(x) AS s1, sum(x2) AS s2,
        |         sum(x2 * x) AS s3, sum(x2 * x2) AS s4
        |  FROM b GROUP BY g),
        |c AS (
        |  SELECT g, n, CAST(n AS DOUBLE) AS nd,
        |         CAST(s1 AS DOUBLE) AS s1d, CAST(s2 AS DOUBLE) AS s2d,
        |         CAST(s3 AS DOUBLE) AS s3d, CAST(s4 AS DOUBLE) AS s4d
        |  FROM m),
        |v AS (
        |  SELECT g, n, nd, s2d, s3d, s4d,
        |         s1d / nd AS mu,
        |         greatest(s2d / nd - (s1d / nd) * (s1d / nd), 0.0) AS m2
        |  FROM c),
        |w AS (
        |  SELECT g, n, mu, m2,
        |         s3d / nd - 3.0 * mu * (s2d / nd)
        |           + 2.0 * mu * mu * mu AS m3,
        |         s4d / nd - 4.0 * mu * (s3d / nd)
        |           + 6.0 * mu * mu * (s2d / nd)
        |           - 3.0 * mu * mu * mu * mu AS m4
        |  FROM v)
        |SELECT g AS event_type, n,
        |       round(mu, 6) AS mean,
        |       round(m2, 6) AS variance,
        |       round(m3 / nullif(sqrt(m2) * m2, 0.0), 6) AS skewness,
        |       round(m4 / nullif(m2 * m2, 0.0) - 3.0, 6) AS kurtosis
        |FROM w ORDER BY event_type""".stripMargin,

    // Same rank construction over the same (value, event_id) total
    // order, same exact-DECIMAL sums (width 19 — the int128 note),
    // same four-op double program. count(*) is already BIGINT.
    "agg_gini" ->
      """WITH b AS (
        |  SELECT event_type AS g, event_id,
        |         row_number() OVER (PARTITION BY event_type
        |                            ORDER BY value, event_id) AS rn,
        |         CAST(value AS DECIMAL(19,4)) AS x
        |  FROM events),
        |m AS (
        |  SELECT g, count(*) AS n, sum(x) AS s, sum(rn * x) AS a
        |  FROM b GROUP BY g)
        |SELECT g AS event_type, n,
        |       round(CAST(s AS DOUBLE), 4) AS total,
        |       round((2.0 * CAST(a AS DOUBLE)
        |              - (CAST(n AS DOUBLE) + 1.0) * CAST(s AS DOUBLE)) /
        |             nullif(CAST(n AS DOUBLE) * CAST(s AS DOUBLE), 0.0),
        |             6) AS gini
        |FROM m ORDER BY event_type""".stripMargin
  )

  /** Generated agg_chisq oracle — same contingency counts in the
    * same cell order, margins and n materialized as integer CTE
    * columns (exact, so layering cannot drift), same ten-term double
    * chain with the same zero-margin guards as [[chiSquare]]. */
  private lazy val chisqSql: String = {
    val cats = Seq("click", "error", "purchase", "signup", "view")
    val cells = for { i <- cats.indices; j <- 0 to 1 } yield (i, j)
    val counts = cells.map { case (i, j) =>
      s"""sum(CASE WHEN event_type = '${cats(i)}' AND user_id % 2 = $j
         |        THEN 1 ELSE 0 END) AS c${i}_$j""".stripMargin
    }.mkString(",\n    ")
    val margins =
      (cats.indices.map(i => s"c${i}_0 + c${i}_1 AS r$i") ++
        (0 to 1).map(j =>
          cats.indices.map(i => s"c${i}_$j").mkString(" + ") + s" AS k$j"))
        .mkString(",\n    ")
    val n = cells.map { case (i, j) => s"c${i}_$j" }.mkString(" + ")
    val rEff = cats.indices
      .map(i => s"(CASE WHEN r$i > 0 THEN 1 ELSE 0 END)").mkString(" + ")
    val cEff = (0 to 1)
      .map(j => s"(CASE WHEN k$j > 0 THEN 1 ELSE 0 END)").mkString(" + ")
    val chi2 = cells.map { case (i, j) =>
      // Parenthesized at every use: an unwrapped `/ $e` would expand
      // to `/ r * k / n` under left-to-right precedence (bitten once).
      val e = s"(CAST(r$i AS DOUBLE) * CAST(k$j AS DOUBLE) / CAST(n AS DOUBLE))"
      val o = s"CAST(c${i}_$j AS DOUBLE)"
      s"""(CASE WHEN r$i > 0 AND k$j > 0
         |      THEN ($o - $e) * ($o - $e) / $e ELSE 0.0 END)""".stripMargin
    }.mkString("\n    + ")
    val in = cats.map(c => s"'$c'").mkString(", ")
    s"""WITH m AS (
       |  SELECT
       |    $counts
       |  FROM events WHERE event_type IN ($in)),
       |g AS (
       |  SELECT m.*,
       |    $margins,
       |    $n AS n
       |  FROM m),
       |t AS (
       |  SELECT n,
       |    $rEff AS reff,
       |    $cEff AS ceff,
       |    $chi2 AS chi2
       |  FROM g)
       |SELECT CAST(n AS BIGINT) AS n,
       |       CAST((reff - 1) * (ceff - 1) AS BIGINT) AS dof,
       |       round(CASE WHEN (reff - 1) * (ceff - 1) > 0
       |                  THEN chi2 END, 6) AS chi2,
       |       round(CASE WHEN (reff - 1) * (ceff - 1) > 0
       |                  THEN sqrt(chi2 / (CAST(n AS DOUBLE) *
       |                    CAST(least(reff - 1, ceff - 1) AS DOUBLE)))
       |                  END, 6) AS cramers_v
       |FROM t ORDER BY n""".stripMargin
  }

  /** Generated agg_anova oracle — same conditional exact-decimal
    * moments per category (width 19 forces DuckDB's int128 multiply
    * path), same EXPLICIT left-associated five-term double chains for
    * the between/within sums of squares, same greatest/nullif guards
    * as [[oneWayF]], so the two sides cannot drift apart. `btw`, not
    * `between` — reserved word. */
  private lazy val anovaSql: String = {
    val cats = Seq("click", "error", "purchase", "signup", "view")
    def d(c: String) = s"CAST($c AS DECIMAL(19,4))"
    val moments = cats.zipWithIndex.map { case (c, i) =>
      s"""sum(CASE WHEN event_type = '$c' THEN 1 ELSE 0 END) AS n$i,
         |    sum(CASE WHEN event_type = '$c'
         |        THEN ${d("value")} END) AS s$i,
         |    sum(CASE WHEN event_type = '$c'
         |        THEN ${d("value")} * ${d("value")} END) AS ss$i""".stripMargin
    }.mkString(",\n    ")
    val nChain = cats.indices.map(i => s"n$i").mkString(" + ")
    val kChain = cats.indices
      .map(i => s"(CASE WHEN n$i > 0 THEN 1 ELSE 0 END)").mkString(" + ")
    val btwChain = cats.indices.map(i =>
      s"""(CASE WHEN n$i > 0
         |     THEN CAST(s$i AS DOUBLE) * CAST(s$i AS DOUBLE)
         |          / CAST(n$i AS DOUBLE)
         |     ELSE 0.0 END)""".stripMargin).mkString("\n    + ")
    val sstChain = cats.indices.map(i => s"coalesce(ss$i, 0)").mkString(" + ")
    val stChain = cats.indices.map(i => s"coalesce(s$i, 0)").mkString(" + ")
    val in = cats.map(c => s"'$c'").mkString(", ")
    s"""WITH m AS (
       |  SELECT user_id % 4 AS g,
       |    $moments
       |  FROM events WHERE event_type IN ($in) GROUP BY 1),
       |c AS (
       |  SELECT g,
       |    $nChain AS n,
       |    $kChain AS k,
       |    $btwChain AS btw,
       |    $sstChain AS sst,
       |    $stChain AS st
       |  FROM m),
       |v AS (
       |  SELECT g, n, k,
       |    greatest(btw - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)
       |                   / CAST(n AS DOUBLE), 0.0) AS ssb,
       |    greatest(CAST(sst AS DOUBLE) - btw, 0.0) AS ssw
       |  FROM c)
       |SELECT g AS segment, CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k,
       |       round((ssb / nullif(CAST(k AS DOUBLE) - 1.0, 0.0)) /
       |             nullif(ssw / nullif(CAST(n AS DOUBLE)
       |                                 - CAST(k AS DOUBLE), 0.0), 0.0),
       |             6) AS f_stat,
       |       round(ssb, 6) AS ss_between,
       |       round(ssw, 6) AS ss_within
       |FROM v ORDER BY segment""".stripMargin
  }

  /** Generated agg_corr oracle — same scaled-long moments (quantize
    * to scale 2, carry x·100 as BIGINT; products are BIGINT math,
    * sums go HUGEINT exactly), same clamped/guarded double program
    * per pair as [[corrMatrix]], so the two sides cannot drift apart.
    * The UNION ALL branches replay the stack() fan-out (DuckDB has no
    * stack). */
  private lazy val corrSql: String = {
    val cols = Seq("l_quantity" -> "quantity", "l_extendedprice" -> "price",
      "l_discount" -> "discount", "l_tax" -> "tax")
    val pairs = for {
      i <- cols.indices; j <- (i + 1) until cols.size
    } yield (cols(i), cols(j))
    val scaled = cols.map { case (c, _) =>
      s"CAST(CAST($c AS DECIMAL(19,2)) * 100 AS BIGINT) AS x_$c" }
      .mkString(",\n         ")
    val sums =
      cols.flatMap { case (c, _) => Seq(
        s"sum(x_$c) AS s_$c",
        s"sum(x_$c * x_$c) AS ss_$c") } ++
      pairs.map { case ((a, _), (b, _)) =>
        s"sum(x_$a * x_$b) AS sp_${a}_$b" }
    val branches = pairs.map { case ((a, la), (b, lb)) =>
      val n = "CAST(n AS DOUBLE)"
      val sx = s"CAST(s_$a AS DOUBLE)"
      val sy = s"CAST(s_$b AS DOUBLE)"
      val sxx = s"CAST(ss_$a AS DOUBLE)"
      val syy = s"CAST(ss_$b AS DOUBLE)"
      val sxy = s"CAST(sp_${a}_$b AS DOUBLE)"
      s"""SELECT l_returnflag, '$la' AS x_name, '$lb' AS y_name, n,
         |       round(($n * $sxy - $sx * $sy) /
         |         nullif(sqrt(greatest($n * $sxx - $sx * $sx, 0.0)) *
         |                sqrt(greatest($n * $syy - $sy * $sy, 0.0)), 0.0),
         |         6) AS corr
         |FROM m""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH b AS (
       |  SELECT l_returnflag,
       |         $scaled
       |  FROM lineitem),
       |m AS (
       |  SELECT l_returnflag, count(*) AS n,
       |         ${sums.mkString(",\n         ")}
       |  FROM b GROUP BY l_returnflag)
       |$branches
       |ORDER BY l_returnflag, x_name, y_name""".stripMargin
  }
}
