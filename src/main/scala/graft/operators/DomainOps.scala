package graft.operators

import graft.T
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.Metadata

/** §2.9 Domain operators — the reference's actual pipeline re-expressed
  * relationally (SURVEY.md §1.1):
  *   - fact building = pivot measures wide + nest to JSON docs
  *     [R: genesapi/facts.py — UNVERIFIED];
  *   - catalog/TOC = grouped distinct collection
  *     [R: genesapi/schema.py — UNVERIFIED];
  *   - storage latest-revision-wins = ranked-window dedup
  *     [R: genesapi/storage.py — UNVERIFIED];
  *   - AGS prefix hierarchy = multi-level rollup over the region tree.
  *
  * Scale notes: pivot uses an EXPLICIT value list (an inferred list
  * collects distinct values to the driver first — fine at 5 event
  * types, a full extra job at 100 TB); dedup-by-version is one shuffle
  * on the entity key; facts_nest is groupBy + struct-pack, no driver
  * state.
  */
object DomainOps {
  type Q = (SparkSession, String) => DataFrame

  private val eventTypes = Seq("click", "error", "purchase", "signup", "view")

  /** Shared SCD2 core for `scd2_build` (which formats it) and
    * `join_pit` (which joins facts against it): change-event history →
    * versioned rows with typed [od, vt) spans — lag() marks version
    * starts, lead() over the survivors closes each span; one
    * o_custkey shuffle for both window passes.
    */
  /** SCD Type-2 compression over a change history `(key, chTs, chSeq,
    * attr)` (attr non-null; chSeq breaks chTs ties): one row per
    * VERSION — consecutive equal attrs collapse into the first — with
    * `version` (1-based per key) and `valid_to` = the NEXT version's
    * chTs (null on the current version, the open [from, to) sentinel
    * slot). lag marks change starts, filter keeps them, lead over the
    * SURVIVORS closes each span — two window passes on one key
    * shuffle; intervals chain gap-free by construction.
    * ≡-to-reference-fold spec'd in PropertySpec.
    */
  def scd2Compress(changes: DataFrame): DataFrame = {
    val w = Window.partitionBy("key")
      .orderBy(col("chTs").asc, col("chSeq").asc)
    changes
      .withColumn("prev", lag(col("attr"), 1).over(w))
      .filter(col("prev").isNull || col("prev") =!= col("attr"))
      .withColumn("version", row_number().over(w).cast("long"))
      .withColumn("valid_to", lead(col("chTs"), 1).over(w))
      .drop("prev")
  }

  /** Point-in-time lookup: stitch each fact `(k, ts, …)` to the ONE
    * dimension version `(k, vf, vt, …)` valid at its timestamp — an
    * EQUI join on the dimension key with the half-open [vf, vt) span
    * as a RESIDUAL predicate (vt null = open/current version), so the
    * plan is shuffle-bounded on `k` like any equi-join (versions per
    * key are small by construction), never a range-only BNLJ. Facts
    * before a key's first version drop out (inner); boundary facts
    * land in the NEWER version (half-open). ≡-to-naive-scan spec'd in
    * PropertySpec. */
  def pitLookup(facts: DataFrame, dim: DataFrame): DataFrame = {
    val d = dim.withColumnRenamed("k", "dk")
    facts.join(d, facts("k") === d("dk") && facts("ts") >= d("vf") &&
        (d("vt").isNull || facts("ts") < d("vt")))
      .drop("dk")
  }

  /** Per-column completeness/cardinality/range profile — the
    * pre-ingest profiling operator (the Deequ/expectations shape).
    * `cols` = (name, column, toStr) where `toStr` is the INJECTIVE
    * string image used for rendering and distinct-counting (decimal
    * ladder for doubles, dstr for dates); min/max run on the NATIVE
    * column (numeric order, not lexicographic) and map through
    * `toStr` after. Two passes, NOT a multi-countDistinct: Spark
    * compiles N distinct aggregates in one agg into an N-way Expand
    * (row count × N through the shuffle — measured 2.1 s vs 0.7 s for
    * this shape at sf0.1). Instead (1) one narrow aggregate takes
    * every non-distinct stat in a single scan, and (2) an unpivoted
    * (column, value) pass counts distincts two-phase — map-side
    * partial dedup collapses duplicates before the shuffle, which is
    * also the 100 TB shape (the shuffle carries distinct values, not
    * rows × columns). ≡-to-local-recomputation spec'd in
    * PropertySpec. */
  def dqProfile(df: DataFrame,
      cols: Seq[(String, Column, Column => Column)]): DataFrame = {
    require(cols.nonEmpty, "dqProfile needs at least one column to profile")
    val aggs = count(lit(1)).as("n_rows") +: cols.zipWithIndex.flatMap {
      case ((_, c, f), i) => Seq(count(c).as(s"nn$i"),
        f(min(c)).as(s"mn$i"), f(max(c)).as(s"mx$i"))
    }
    val base = df.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(cols.zipWithIndex.map { case ((n, _, _), i) =>
        struct(lit(n).as("column_name"), col("n_rows"),
          col(s"nn$i").as("n_nonnull"),
          col(s"mn$i").as("min_s"), col(s"mx$i").as("max_s"))
      }: _*)).as("r"))
      .select("r.*")
    val nd = df.select(explode(array(cols.map { case (n, c, f) =>
        struct(lit(n).as("column_name"), f(c).as("v"))
      }: _*)).as("r"))
      .select("r.*")
      .filter(col("v").isNotNull)
      .groupBy("column_name", "v").agg(count(lit(1)).as("c"))
      .groupBy("column_name").agg(count(lit(1)).as("n_distinct"))
    base.join(nd, Seq("column_name"), "left")
      .select(col("column_name"), col("n_rows"), col("n_nonnull"),
        coalesce(col("n_distinct"), lit(0L)).as("n_distinct"),
        col("min_s"), col("max_s"))
  }

  /** Declarative data-quality rules → one (check_name, n_violations,
    * passed) row per rule, all counted in a SINGLE codegen'd scan
    * (each rule is a conditional sum). `uniqueKey` adds the one rule
    * that genuinely needs its own distinct pass, expressed as
    * n − countDistinct. ≡-to-local-recomputation spec'd in
    * PropertySpec. */
  def dqChecks(df: DataFrame, rules: Seq[(String, Column)],
      uniqueKey: Option[(String, Column)] = None): DataFrame = {
    require(rules.nonEmpty || uniqueKey.nonEmpty,
      "dqChecks needs at least one rule or a uniqueKey")
    val aggs = rules.zipWithIndex.map { case ((_, pred), i) =>
      sum(when(pred, 1L).otherwise(0L)).as(s"v$i")
    } ++ uniqueKey.map { case (_, k) =>
      (count(lit(1)) - countDistinct(k)).as("vu")
    }
    val pairs = rules.zipWithIndex.map { case ((n, _), i) =>
      struct(lit(n).as("check_name"), col(s"v$i").as("n_violations"))
    } ++ uniqueKey.map { case (n, _) =>
      struct(lit(n).as("check_name"), col("vu").as("n_violations"))
    }
    df.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(pairs: _*)).as("r"))
      .select("r.*")
      .withColumn("passed", col("n_violations") === 0)
  }

  /** Distribution-drift scoring (r12) between two row populations of
    * one frame — the Population Stability Index, the monitoring
    * number a data pipeline alarms on between corpus snapshots ("did
    * the new crawl shift the language mix / length distribution?").
    * `side` must evaluate 0 (baseline) or 1 (current); `features`
    * maps a feature name to its BUCKET expression (a categorical
    * column, or an integer-divided numeric — bucketing is the
    * caller's contract so both engines replay it exactly). Per
    * feature: bucket counts per side in ONE pass (a missing bucket on
    * one side is a 0 count, no outer join needed), add-one smoothing
    * over the union of observed buckets (keeps every ln finite,
    * deterministically), PSI = Σ (p_cur − p_base)·ln(p_cur/p_base),
    * `drifted` at the classic 0.1 alert line.
    *
    * Shape: one union over |features| narrow projections → one
    * (feature, bucket) count → window totals over the tiny counted
    * frame → |features| output rows; shuffle volume is bucket-bounded
    * regardless of corpus size. The PSI sum is the one double
    * accumulation — tens of terms, fenced by round(·, 6) (§7.5, the
    * text_perplexity precedent).
    */
  def psiDrift(df: DataFrame, side: Column,
      features: Seq[(String, Column)]): DataFrame = {
    require(features.nonEmpty, "psiDrift needs at least one feature")
    // ONE scan with a narrow feature explode, not a union of
    // per-feature projections: the union form read the corpus once
    // PER FEATURE (three FileScans in the executed plan) — at scale
    // one pass over all feature columns beats |features| passes over
    // one column each.
    val f = df
      .select(side.cast("int").as("s"),
        explode(array(features.map { case (name, bucket) =>
          struct(lit(name).as("feature"),
            bucket.cast("string").as("bucket"))
        }: _*)).as("fb"))
      .select(col("fb.feature").as("feature"),
        col("fb.bucket").as("bucket"), col("s"))
    val g = f.groupBy("feature", "bucket")
      .agg(sum(when(col("s") === 0, 1L).otherwise(0L)).as("cb"),
        sum(when(col("s") === 1, 1L).otherwise(0L)).as("cc"))
    val w = Window.partitionBy("feature")
    g.withColumn("nb", sum("cb").over(w))
      .withColumn("nc", sum("cc").over(w))
      .withColumn("k", count(lit(1)).over(w))
      .withColumn("pb", (col("cb") + 1).cast("double") / (col("nb") + col("k")))
      .withColumn("pc", (col("cc") + 1).cast("double") / (col("nc") + col("k")))
      .groupBy("feature")
      .agg(max(col("k")).as("n_buckets"),
        round(sum((col("pc") - col("pb")) * log(col("pc") / col("pb"))), 6)
          .as("psi"))
      .withColumn("drifted", col("psi") >= 0.1)
  }

  private def scd2Raw(s: SparkSession, d: String): DataFrame =
    scd2Compress(T.orders(s, d)
      .select(col("o_custkey").as("key"), col("o_orderkey").as("chSeq"),
        col("o_orderpriority").as("attr"), col("o_orderdate").as("chTs")))
      .select(col("key").as("o_custkey"), col("chSeq").as("o_orderkey"),
        col("attr").as("prio"), col("chTs").as("od"),
        col("version"), col("valid_to").as("vt"))

  val queries: Map[String, Q] = Map(
    // Long→wide pivot: measures become columns (fact building).
    "pivot_wide" -> ((s, d) =>
      T.events(s, d)
        .groupBy("user_id")
        .pivot("event_type", eventTypes)
        // long cents in the buffers (r18 — AggOps.agg_group's rationale)
        .agg(T.moneyLong(sum(T.scaledLong(col("value"), 4, "value")), 4))
        .orderBy("user_id")),

    // Wide→long melt: the pivot's inverse (Spark `unpivot`). Round-trips
    // pivot_wide's frame back to (user, event_type, sum) rows; melt
    // emits NULL for combinations the wide frame never had, so the
    // not-null filter restores exactly the grouped long form.
    "pivot_long" -> ((s, d) => {
      val wide = T.events(s, d)
        .groupBy("user_id")
        .pivot("event_type", eventTypes)
        .agg(T.moneyLong(sum(T.scaledLong(col("value"), 4, "value")), 4))
      wide.unpivot(Array(col("user_id")), eventTypes.map(col).toArray,
          "event_type", "sum_value")
        .filter(col("sum_value").isNotNull)
        .orderBy("user_id", "event_type")
    }),

    // Nest + serialize fact documents: one JSON doc per customer with
    // order stats and a per-status count map, entries sorted for
    // determinism (SURVEY.md §7.4.5). JSON golden-tested in
    // DomainOpsSpec AND oracle-checked: DuckDB's to_json(struct_pack)
    // emits the same compact form, with MAP rendering as an object.
    "facts_nest" -> ((s, d) => {
      val perStatus = T.orders(s, d)
        .groupBy("o_custkey", "o_orderstatus").agg(count(lit(1)).as("n"))
      perStatus
        .groupBy("o_custkey")
        .agg(
          sum(col("n")).as("n_orders"),
          map_from_entries(sort_array(
            collect_list(struct(col("o_orderstatus"), col("n"))))).as("by_status"))
        .select(col("o_custkey").as("custkey"),
          to_json(struct(col("o_custkey").as("customer"),
                         col("n_orders"),
                         col("by_status"))).as("doc"))
        .orderBy("custkey")
    }),

    // Catalog/TOC build: distinct member codes per container, sorted.
    "schema_catalog" -> ((s, d) =>
      T.documents(s, d)
        .groupBy("source")
        .agg(
          array_join(sort_array(collect_set(col("lang"))), ",").as("langs"),
          countDistinct(col("doc_id")).as("n_docs"))
        .orderBy("source")),

    // Latest-revision-wins: newest event per user (storage semantics).
    // Second-truncated ts + event_id tiebreak — cross-engine safe.
    "dedup_version" -> ((s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(date_trunc("second", col("ts")).desc, col("event_id").desc)
      T.events(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_id"), T.tstr(col("ts")).as("event_ts"),
                col("event_type"))
        .orderBy("user_id")
    }),

    // SCD Type-2 build (r8): compress a change-event history into
    // versioned dimension rows with [valid_from, valid_to) intervals —
    // the warehouse-modeling dual of dedup_version (which keeps ONLY
    // the latest state; SCD2 keeps every state with its validity
    // span). Change detection and interval stitching are two window
    // passes over the SAME o_custkey partitioning — one shuffle total:
    // lag() marks rows whose tracked attribute differs from the
    // previous row (version starts), then lead() over the surviving
    // rows closes each version with the next one's start date. The
    // open version gets the 9999-12-31 sentinel + is_current, the
    // standard SCD2 convention, so point-in-time lookups are a plain
    // BETWEEN (and compose with AsOf.asofJoin for fact stitching).
    "scd2_build" -> ((s, d) =>
      scd2Raw(s, d)
        .select(col("o_custkey"), col("version"),
          col("prio").as("o_orderpriority"),
          T.dstr(col("od")).as("valid_from"),
          coalesce(T.dstr(col("vt")), lit("9999-12-31")).as("valid_to"),
          col("vt").isNull.as("is_current"))
        .orderBy("o_custkey", "version")),

    // Point-in-time dimension lookup (r9): stitch each fact to the SCD2
    // version that was valid AT its date — the query SCD2 exists to
    // serve ("what was this customer's priority tier when the order
    // shipped"). Plan shape is the load-bearing part: an EQUI join on
    // the dimension key with the [valid_from, valid_to) range as a
    // RESIDUAL predicate — shuffle-bounded on o_custkey like any
    // equi-join (versions-per-key is small by construction), never a
    // range-only BNLJ (the engine-wide PlanSpec cartesian sweep pins
    // this). Half-open intervals make boundary facts land in the newer
    // version deterministically; every fact matches exactly one
    // version because the dimension derives from the same history.
    "join_pit" -> ((s, d) => {
      val dim = scd2Raw(s, d)
        .select(col("o_custkey").as("k"), col("version"),
          col("prio"), col("od").as("vf"), col("vt"),
          col("vt").isNull.as("is_current"))
      val facts = T.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey").as("k"),
          col("o_orderdate").as("ts"))
      pitLookup(facts, dim)
        .select(col("o_orderkey"), col("k").as("o_custkey"),
          T.dstr(col("ts")).as("order_date"), col("version"),
          col("prio").as("prio_at_order"), col("is_current"))
        .orderBy("o_orderkey")
    }),

    // Data-quality profile (r9): per-column completeness/cardinality/
    // range stats — the pre-ingest profiling operator (the
    // Deequ/expectations shape). Two passes, NOT a multi-countDistinct:
    // Spark compiles N distinct aggregates in one agg into an N-way
    // Expand (row count × N through the shuffle — measured 2.1 s vs
    // 0.7 s for this shape at sf0.1). Instead (1) one narrow aggregate
    // takes every non-distinct stat in a single scan, and (2) a
    // stack-unpivoted (column, value) pass counts distincts two-phase —
    // map-side partial dedup collapses duplicates before the shuffle,
    // which is also the 100 TB shape (the shuffle carries distinct
    // values, not rows × columns). Values stringify through injective
    // ladders (DECIMAL for doubles, dstr for dates) so one string
    // column serves every source type and both engines format alike.
    "dq_profile" -> ((s, d) =>
      dqProfile(T.orders(s, d), Seq(
          ("o_custkey", col("o_custkey"), (c: Column) => c.cast("string")),
          ("o_totalprice", col("o_totalprice"),
            (c: Column) => c.cast("decimal(12,2)").cast("string")),
          ("o_orderdate", col("o_orderdate"), (c: Column) => T.dstr(c)),
          ("o_orderpriority", col("o_orderpriority"), (c: Column) => c)))
        .orderBy("column_name")),

    // Data-quality checks (r9): declarative rule → violation count, the
    // gate that runs after profiling. Each rule is a codegen'd
    // conditional sum over the same single scan; a uniqueness rule is
    // the one aggregation that genuinely needs its own (distinct)
    // pass, expressed as n − countDistinct.
    "dq_checks" -> ((s, d) =>
      dqChecks(T.orders(s, d), Seq(
          ("totalprice_positive", col("o_totalprice") <= 0),
          ("custkey_not_null", col("o_custkey").isNull),
          ("status_in_domain", !col("o_orderstatus").isin("F", "O", "P")),
          ("orderdate_in_range",
            col("o_orderdate") < lit("1990-01-01").cast("timestamp") ||
              col("o_orderdate") >= lit("2030-01-01").cast("timestamp"))),
          uniqueKey = Some(("orderkey_unique", col("o_orderkey"))))
        .orderBy("check_name")),

    // Distribution drift (r12): PSI between the even-doc_id corpus
    // snapshot (baseline) and the odd one (current) over language mix,
    // char-length deciles (width 200), and token-length deciles
    // (width 20) — the alarm a curation pipeline rings when a new
    // crawl shifts the mix. Bucketing is exact integer division, so
    // the oracle replays the buckets bit-for-bit; the PSI sum is the
    // one rounded double.
    "dq_drift" -> ((s, d) =>
      psiDrift(T.documents(s, d), col("doc_id") % 2, Seq(
          "lang" -> col("lang"),
          "n_chars_b200" -> expr("n_chars div 200"),
          "n_tokens_b20" -> expr("size(split(text, ' ')) div 20")))
        .orderBy("feature")),

    // 3-level hierarchical rollup over the joined region tree — the
    // AGS Land→Kreis→Gemeinde prefix aggregation analogue.
    // The balance sum rides SIGNED scaled-long Sum128 limbs (r18
    // wave 3: c_acctbal is exactly-2dp but signed — min −999.85;
    // Sum128's carry algebra is sign-exact, property-pinned) instead
    // of a wide-decimal buffer under the 4× Expand, and the money
    // emit descales once per output row. NEGATIVE experiment, same
    // wave: pre-aggregating to the (region, nation, segment) grid
    // BEFORE the rollup (agg_cube's §2.3 shape) A/B'd +0.09 s WORSE
    // here — customer is dimension-sized, so the two extra stage
    // boundaries cost more than the Expand×4 saves; unlike agg_cube,
    // whose Expand multiplies the lineitem FACT stream. Kept as the
    // known alternative if this rollup ever sits on a fact table.
    "region_rollup" -> ((s, d) => {
      val c = T.customer(s, d); val n = T.nation(s, d); val r = T.region(s, d)
      c.join(n, col("c_nationkey") === col("n_nationkey"))
        .join(r, col("n_regionkey") === col("r_regionkey"))
        .select(col("r_name").as("r_name", Metadata.empty),
                col("n_name").as("n_name", Metadata.empty),
                col("c_mktsegment").as("c_mktsegment", Metadata.empty),
                T.scaledLongSigned(col("c_acctbal"), 2, "c_acctbal")
                  .as("bal2", Metadata.empty))
        .rollup(col("r_name"), col("n_name"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n_cust"),
             T.moneyScaled(T.s128(col("bal2")), 2).as("sum_bal"))
        .select(
          coalesce(col("r_name"), lit("ALL")).as("region_name"),
          coalesce(col("n_name"), lit("ALL")).as("nation_name"),
          coalesce(col("c_mktsegment"), lit("ALL")).as("segment"),
          col("n_cust"), col("sum_bal"))
        .orderBy("region_name", "nation_name", "segment")
    }),

    // CDC changelog apply (r9): the lakehouse MERGE — fold an
    // insert/update/delete event log into a base snapshot, last writer
    // wins. The canonical two-stage shape: (1) collapse the changelog
    // to ONE final row per key (window rank on the unique (ts,
    // event_id) sequence — at 100 TB this is the stage that shrinks
    // billions of change rows to |touched keys|), then (2) one
    // key-sized full-outer join against the base applies the merge
    // CASE. Never base×changelog; the join is broadcast-able whenever
    // the collapsed delta is small (the steady-state CDC case).
    // Changelog from `events`: 'error' deletes, 'signup' inserts a NEW
    // key (disjoint id space — signups create customers), anything
    // else updates; last op per key by (ts, event_id) wins.
    "cdc_apply" -> ((s, d) => {
      val log = T.events(s, d).select(
        when(col("event_type") === "signup", col("user_id") + 2000000L)
          .otherwise(col("user_id")).as("k"),
        when(col("event_type") === "error", "D").otherwise("U").as("op"),
        col("value").as("new_bal"), col("ts"), col("event_id"))
      val w = Window.partitionBy("k")
        .orderBy(col("ts").desc, col("event_id").desc)
      val last = log.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).select("k", "op", "new_bal")
      T.customer(s, d)
        .select(col("c_custkey").as("k"), col("c_acctbal"))
        .join(last, Seq("k"), "full_outer")
        .filter(coalesce(col("op"), lit("")) =!= "D")
        .select(col("k").as("cust_id"),
          when(col("op").isNull, "unchanged")
            .when(col("c_acctbal").isNull, "inserted")
            .otherwise("updated").as("status"),
          coalesce(col("new_bal"), col("c_acctbal")).as("bal"))
        .orderBy("cust_id")
    }),

    // Referential-integrity audit (r14): per foreign-key relationship,
    // how many child rows point at a missing parent — the cross-table
    // check dq_checks' per-row rules can't express, and the first
    // thing a warehouse load validates after ingest. Each FK is one
    // distinct-key aggregate then an ANTI join against the parent's
    // key column — the anti join runs on the |distinct child keys|
    // frame, never the raw child rows, so the orphan pass costs one
    // key-sized shuffle per FK at any scale.
    "dq_fk" -> ((s, d) =>
      fkCheck(Seq(
        ("lineitem_orders", T.lineitem(s, d), "l_orderkey",
          T.orders(s, d), "o_orderkey"),
        ("orders_customer", T.orders(s, d), "o_custkey",
          T.customer(s, d), "c_custkey"),
        ("customer_nation", T.customer(s, d), "c_nationkey",
          T.nation(s, d), "n_nationkey")))
        .orderBy("fk_name")),

    // Keyed batch MERGE/upsert (r15, SCD Type-1 — closes the last
    // write-path gap): apply a delta batch onto a STAGED warehouse
    // table — inserts for new keys, latest-value overwrites for
    // changed keys, carried rows for untouched keys, and an audit op
    // tag per row (the MERGE ... WHEN MATCHED/NOT MATCHED readout).
    // On plain parquet there is no transactional MERGE target, so the
    // upsert is the compute + rewrite pattern: full-outer equi-join on
    // the key, coalesce per column — ONE key shuffle at any scale,
    // broadcast-able when the delta is small (the steady-state case;
    // cdc_apply holds that pin). The staged target models the real
    // shape (yesterday's snapshot on disk: every third key missing =
    // today's inserts, every fifth price halved = stale values);
    // UpsertSpec proves the WRITE-read-back cycle and idempotency
    // (re-applying the same delta → zero inserted/updated).
    "scd1_upsert" -> ((s, d) =>
      scd1Upsert(stagedScd1Target(s, d),
        T.orders(s, d)
          .filter(col("o_orderkey") % 2 === 0)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")),
        key = "o_orderkey")
        .orderBy("o_orderkey")),

    // Fact-to-summary reconciliation (r15): does the header total
    // agree with the sum of its detail lines — o_totalprice vs
    // Σ l_extendedprice·(1−disc) per order — the audit every
    // warehouse runs between a rollup table and its fact table (dq_fk
    // checks the KEYS line up; this checks the MONEY does). Per
    // status: order counts, within-tolerance matches, orders with no
    // detail lines at all, and the worst absolute drift. One
    // fact-sized aggregate + one key equi-join + a |statuses|-row
    // aggregate. Money math is the TWO-factor revenue product on
    // purpose: (18,4)×(19,4) = (38,8) sits inside Spark's exact
    // decimal window, so the tolerance gate compares EXACT values —
    // a third factor would cross the 38-digit cap, force a lossy
    // rescale, and let a 1e-6 representation drift flip a
    // boundary-sitting adiff ≤ 0.01 differently per engine.
    "dq_reconcile" -> ((s, d) => {
      // Scaled-long money math end to end (r18, guide §1.2/§2.3 —
      // agg_group's rationale): the per-order charge sum is cents ×
      // (100 − d2) at scale 4 in a PLAIN LONG buffer (an order has a
      // bounded line count, so the per-group sum sits ~9 orders of
      // magnitude under 2^63 at any corpus size — the corpus-wide
      // rollup below is count/flag-only), the join shuffles a long
      // instead of a decimal, and the |diff| ≤ 0.01 gate compares
      // integers (≤ 100 at scale 4). Values identical to the decimal
      // program: 2dp fixture, every step exact (spec-pinned).
      val charge4 =
        T.scaledLong(col("l_extendedprice"), 2, "l_extendedprice") *
          (lit(100L) - T.scaledLong(col("l_discount"), 2, "l_discount",
            maxScaled = 100L))
      val computed = T.lineitem(s, d)
        .groupBy(col("l_orderkey")).agg(sum(charge4).as("computed4"))
      T.orders(s, d)
        .select(col("o_orderkey"), col("o_orderstatus"),
          (T.scaledLong(col("o_totalprice"), 2, "o_totalprice") * lit(100L))
            .as("header4"))
        .join(computed, col("o_orderkey") === col("l_orderkey"), "left")
        .withColumn("adiff4", abs(col("header4") - col("computed4")))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          sum(when(col("adiff4") <= 100L, 1L).otherwise(0L))
            .as("n_matched"),
          sum(when(col("computed4").isNull, 1L).otherwise(0L))
            .as("n_missing_facts"),
          T.moneyScaled(max(col("adiff4")), 4).as("max_abs_diff"))
        .orderBy("o_orderstatus")
    })
  )

  /** Referential-integrity audit over FK relationships
    * `(name, child, childKey, parent, parentKey)`: per relationship,
    * (fk_name, n_rows, n_keys, n_orphan_keys, n_orphan_rows) — orphan
    * = a child key value absent from the parent (NULL child keys are
    * not orphans; they're dq_checks' null-rule territory). The child
    * collapses to its distinct keys (with row counts) BEFORE the
    * anti join, so the parent probe is key-sized.
    */
  def fkCheck(fks: Seq[(String, DataFrame, String, DataFrame, String)])
      : DataFrame = {
    require(fks.nonEmpty)
    fks.map { case (name, child, ck, parent, pk) =>
      val keys = child.filter(col(ck).isNotNull)
        .groupBy(col(ck).as("k")).agg(count(lit(1)).as("nrows"))
      // LEFT marker join instead of an anti join + totals crossJoin:
      // one key-sized probe feeds ONE aggregate carrying both the
      // totals and the orphan split — no 1-row join anywhere.
      keys
        .join(parent.select(col(pk).as("k"), lit(1).as("hit")).distinct(),
          Seq("k"), "left")
        .agg(
          coalesce(sum(col("nrows")), lit(0L)).as("n_rows"),
          count(lit(1)).as("n_keys"),
          coalesce(sum(when(col("hit").isNull, 1L).otherwise(0L)),
            lit(0L)).as("n_orphan_keys"),
          coalesce(sum(when(col("hit").isNull, col("nrows"))
            .otherwise(0L)), lit(0L)).as("n_orphan_rows"))
        .select(lit(name).as("fk_name"), col("n_rows"), col("n_keys"),
          col("n_orphan_keys"), col("n_orphan_rows"))
    }.reduce(_ unionByName _)
  }

  /** SCD Type-1 upsert: apply `delta` onto `target` by `key` — delta
    * wins per column, new keys insert, untouched target rows carry.
    * Returns every resulting row plus an `op` audit tag
    * (inserted / updated / unchanged / carried). Column-generic:
    * target and delta must share a schema; "updated" means ANY
    * non-key column differs (null-safe).
    *
    * Scale shape: one full-outer equi-join on the key — a single key
    * shuffle over |target| + |delta|, broadcast-able when the delta
    * is batch-small. The lakehouse MERGE statement compiles to exactly
    * this plan plus a transactional commit; on plain parquet the
    * commit is the staged atomic-rename rewrite (UpsertSpec drives
    * the full write-read-back cycle).
    */
  def scd1Upsert(target: DataFrame, delta: DataFrame, key: String): DataFrame = {
    require(target.columns.toSeq == delta.columns.toSeq,
      s"scd1Upsert: schemas must match — target ${target.columns.mkString(",")}" +
        s" vs delta ${delta.columns.mkString(",")}")
    require(target.columns.contains(key), s"scd1Upsert: no key column $key")
    val cols = target.columns.toSeq.filterNot(_ == key)
    val t = target.withColumn("__t", lit(true))
      .select((key +: cols).map(c =>
        col(c).as(if (c == key) c else s"t_$c")) :+ col("__t"): _*)
    val u = delta.withColumn("__u", lit(true))
      .select((key +: cols).map(c =>
        col(c).as(if (c == key) c else s"u_$c")) :+ col("__u"): _*)
    val changed = cols
      .map(c => !(col(s"u_$c") <=> col(s"t_$c")))
      .reduce(_ || _)
    t.join(u, Seq(key), "full_outer")
      .select(
        (col(key) +:
          cols.map(c => coalesce(col(s"u_$c"), col(s"t_$c")).as(c))) :+
          when(col("__u").isNull, "carried")
            .when(col("__t").isNull, "inserted")
            .when(changed, "updated")
            .otherwise("unchanged").as("op"): _*)
  }

  /** Write-once staged "yesterday's orders snapshot" — the upsert
    * TARGET table: every third key absent (today's inserts), every
    * fifth price halved (stale values a delta overwrites). Staged
    * parquet per the ScanOps discipline; the derivation is
    * deterministic SQL the DuckDB oracle replays from `orders`.
    */
  private[graft] def stagedScd1Target(s: SparkSession, d: String): DataFrame = {
    val mt = new java.io.File(d, "orders.parquet").lastModified()
    val path = ScanOps.stageOnce(
      s"graft_scd1_target_${ScanOps.dirTag(d)}_$mt") { tmp =>
      T.orders(s, d)
        .filter(col("o_orderkey") % 3 =!= 0)
        .select(col("o_orderkey"), col("o_custkey"),
          when(col("o_orderkey") % 5 === 0, col("o_totalprice") / 2)
            .otherwise(col("o_totalprice")).as("o_totalprice"))
        .coalesce(1).write.mode("overwrite").parquet(tmp)
    }
    s.read.parquet(path)
  }

  val oracle: Map[String, String] = Map(
    "scd1_upsert" ->
      """WITH target AS (
        |  SELECT o_orderkey, o_custkey,
        |         CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice / 2
        |              ELSE o_totalprice END AS o_totalprice
        |  FROM orders WHERE o_orderkey % 3 <> 0),
        |delta AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |  WHERE o_orderkey % 2 = 0)
        |SELECT COALESCE(d.o_orderkey, t.o_orderkey) AS o_orderkey,
        |       COALESCE(d.o_custkey, t.o_custkey) AS o_custkey,
        |       COALESCE(d.o_totalprice, t.o_totalprice) AS o_totalprice,
        |       CASE WHEN d.o_orderkey IS NULL THEN 'carried'
        |            WHEN t.o_orderkey IS NULL THEN 'inserted'
        |            WHEN d.o_custkey IS DISTINCT FROM t.o_custkey
        |              OR d.o_totalprice IS DISTINCT FROM t.o_totalprice
        |              THEN 'updated'
        |            ELSE 'unchanged' END AS op
        |FROM target t FULL OUTER JOIN delta d
        |  ON t.o_orderkey = d.o_orderkey
        |ORDER BY o_orderkey""".stripMargin,
    "cdc_apply" ->
      """WITH log AS (
        |  SELECT CASE WHEN event_type = 'signup' THEN user_id + 2000000
        |              ELSE user_id END AS k,
        |         CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
        |         value AS new_bal, ts, event_id
        |  FROM events),
        |last AS (
        |  SELECT k, op, new_bal FROM (
        |    SELECT *, row_number() OVER (PARTITION BY k
        |             ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM log) WHERE rn = 1),
        |m AS (
        |  SELECT COALESCE(c.c_custkey, l.k) AS cust_id,
        |         c.c_acctbal, l.op, l.new_bal
        |  FROM (SELECT c_custkey, c_acctbal FROM customer) c
        |  FULL OUTER JOIN last l ON c.c_custkey = l.k)
        |SELECT cust_id,
        |       CASE WHEN op IS NULL THEN 'unchanged'
        |            WHEN c_acctbal IS NULL THEN 'inserted'
        |            ELSE 'updated' END AS status,
        |       COALESCE(new_bal, c_acctbal) AS bal
        |FROM m WHERE COALESCE(op, '') <> 'D'
        |ORDER BY cust_id""".stripMargin,
    "facts_nest" ->
      """WITH ps AS (
        |  SELECT o_custkey, o_orderstatus, count(*) AS n
        |  FROM orders GROUP BY 1, 2),
        |agg AS (
        |  SELECT o_custkey, CAST(sum(n) AS BIGINT) AS n_orders,
        |    map_from_entries(list_sort(list(row(o_orderstatus, n))))
        |      AS by_status
        |  FROM ps GROUP BY o_custkey)
        |SELECT o_custkey AS custkey,
        |  CAST(to_json(struct_pack(customer := o_custkey,
        |    n_orders := n_orders, by_status := by_status)) AS VARCHAR) AS doc
        |FROM agg ORDER BY custkey""".stripMargin,
    "pivot_wide" ->
      """SELECT user_id,
        |  CAST(round(sum(CASE WHEN event_type = 'click' THEN CAST(value AS DECIMAL(18,4)) END), 2) AS DOUBLE) AS click,
        |  CAST(round(sum(CASE WHEN event_type = 'error' THEN CAST(value AS DECIMAL(18,4)) END), 2) AS DOUBLE) AS error,
        |  CAST(round(sum(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,4)) END), 2) AS DOUBLE) AS purchase,
        |  CAST(round(sum(CASE WHEN event_type = 'signup' THEN CAST(value AS DECIMAL(18,4)) END), 2) AS DOUBLE) AS signup,
        |  CAST(round(sum(CASE WHEN event_type = 'view' THEN CAST(value AS DECIMAL(18,4)) END), 2) AS DOUBLE) AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    // The melt of the pivot is the plain grouped long form.
    "pivot_long" ->
      """SELECT user_id, event_type,
        |  CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE)
        |    AS sum_value
        |FROM events GROUP BY user_id, event_type
        |ORDER BY user_id, event_type""".stripMargin,
    "schema_catalog" ->
      """SELECT source,
        |  string_agg(DISTINCT lang, ',' ORDER BY lang) AS langs,
        |  count(DISTINCT doc_id) AS n_docs
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "dedup_version" ->
      """WITH ranked AS (
        |  SELECT user_id, event_id, ts, event_type,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY date_trunc('second', ts) DESC, event_id DESC) AS rn
        |  FROM events)
        |SELECT user_id, event_id,
        |       strftime(ts, '%Y-%m-%d %H:%M:%S') AS event_ts, event_type
        |FROM ranked WHERE rn = 1 ORDER BY user_id""".stripMargin,
    // Same lag-filter-lead replay; row_number/lead recompute over the
    // filtered rows in both engines identically.
    "scd2_build" ->
      """WITH o AS (
        |  SELECT o_custkey, o_orderkey, o_orderpriority AS prio,
        |         o_orderdate AS od,
        |         lag(o_orderpriority) OVER (PARTITION BY o_custkey
        |           ORDER BY o_orderdate, o_orderkey) AS prev
        |  FROM orders),
        |v AS (
        |  SELECT o_custkey, o_orderkey, prio, od FROM o
        |  WHERE prev IS NULL OR prev <> prio),
        |r AS (
        |  SELECT o_custkey, prio, od,
        |    CAST(row_number() OVER w AS BIGINT) AS version,
        |    lead(od) OVER w AS vt
        |  FROM v WINDOW w AS (PARTITION BY o_custkey
        |                      ORDER BY od, o_orderkey))
        |SELECT o_custkey, version, prio AS o_orderpriority,
        |       strftime(od, '%Y-%m-%d') AS valid_from,
        |       coalesce(strftime(vt, '%Y-%m-%d'), '9999-12-31') AS valid_to,
        |       vt IS NULL AS is_current
        |FROM r ORDER BY o_custkey, version""".stripMargin,
    // Same versioned CTE; the PIT join replays the equi + half-open
    // residual exactly.
    "join_pit" ->
      """WITH o AS (
        |  SELECT o_custkey, o_orderkey, o_orderpriority AS prio,
        |         o_orderdate AS od,
        |         lag(o_orderpriority) OVER (PARTITION BY o_custkey
        |           ORDER BY o_orderdate, o_orderkey) AS prev
        |  FROM orders),
        |v AS (
        |  SELECT o_custkey, o_orderkey, prio, od FROM o
        |  WHERE prev IS NULL OR prev <> prio),
        |r AS (
        |  SELECT o_custkey, prio, od,
        |    CAST(row_number() OVER w AS BIGINT) AS version,
        |    lead(od) OVER w AS vt
        |  FROM v WINDOW w AS (PARTITION BY o_custkey
        |                      ORDER BY od, o_orderkey))
        |SELECT f.o_orderkey, f.o_custkey,
        |       strftime(f.o_orderdate, '%Y-%m-%d') AS order_date,
        |       r.version, r.prio AS prio_at_order,
        |       r.vt IS NULL AS is_current
        |FROM orders f JOIN r ON f.o_custkey = r.o_custkey
        |  AND f.o_orderdate >= r.od
        |  AND (r.vt IS NULL OR f.o_orderdate < r.vt)
        |ORDER BY f.o_orderkey""".stripMargin,
    // Four per-column subqueries UNION ALL'd — the long-form report;
    // the DECIMAL(12,2)→VARCHAR ladder matches Spark's formatting.
    "dq_profile" ->
      """SELECT 'o_custkey' AS column_name, count(*) AS n_rows,
        |  count(o_custkey) AS n_nonnull,
        |  count(DISTINCT o_custkey) AS n_distinct,
        |  CAST(min(o_custkey) AS VARCHAR) AS min_s,
        |  CAST(max(o_custkey) AS VARCHAR) AS max_s FROM orders
        |UNION ALL
        |SELECT 'o_totalprice', count(*), count(o_totalprice),
        |  count(DISTINCT o_totalprice),
        |  CAST(CAST(min(o_totalprice) AS DECIMAL(12,2)) AS VARCHAR),
        |  CAST(CAST(max(o_totalprice) AS DECIMAL(12,2)) AS VARCHAR)
        |FROM orders
        |UNION ALL
        |SELECT 'o_orderdate', count(*), count(o_orderdate),
        |  count(DISTINCT o_orderdate),
        |  min(strftime(o_orderdate, '%Y-%m-%d')),
        |  max(strftime(o_orderdate, '%Y-%m-%d')) FROM orders
        |UNION ALL
        |SELECT 'o_orderpriority', count(*), count(o_orderpriority),
        |  count(DISTINCT o_orderpriority),
        |  min(o_orderpriority), max(o_orderpriority) FROM orders
        |ORDER BY column_name""".stripMargin,
    "dq_checks" ->
      """WITH a AS (
        |  SELECT
        |    sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS v1,
        |    sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS v2,
        |    sum(CASE WHEN o_orderstatus NOT IN ('F','O','P')
        |             THEN 1 ELSE 0 END) AS v3,
        |    sum(CASE WHEN o_orderdate < TIMESTAMP '1990-01-01'
        |              OR o_orderdate >= TIMESTAMP '2030-01-01'
        |             THEN 1 ELSE 0 END) AS v4,
        |    count(*) - count(DISTINCT o_orderkey) AS v5
        |  FROM orders)
        |SELECT check_name, CAST(n_violations AS BIGINT) AS n_violations,
        |       n_violations = 0 AS passed
        |FROM (
        |  SELECT 'totalprice_positive' AS check_name, v1 AS n_violations
        |    FROM a
        |  UNION ALL SELECT 'custkey_not_null', v2 FROM a
        |  UNION ALL SELECT 'status_in_domain', v3 FROM a
        |  UNION ALL SELECT 'orderdate_in_range', v4 FROM a
        |  UNION ALL SELECT 'orderkey_unique', v5 FROM a)
        |ORDER BY check_name""".stripMargin,

    // Same one-pass bucket counts per side, same add-one smoothing
    // over the union of observed buckets, same Σ(pc−pb)·ln(pc/pb)
    // fenced by round; integer-division buckets replay exactly.
    "dq_drift" ->
      """WITH f AS (
        |  SELECT 'lang' AS feature, lang AS bucket,
        |         CAST(doc_id % 2 AS INT) AS s FROM documents
        |  UNION ALL
        |  SELECT 'n_chars_b200', CAST(n_chars // 200 AS VARCHAR),
        |         CAST(doc_id % 2 AS INT) FROM documents
        |  UNION ALL
        |  SELECT 'n_tokens_b20',
        |         CAST(len(string_split(text, ' ')) // 20 AS VARCHAR),
        |         CAST(doc_id % 2 AS INT) FROM documents),
        |g AS (
        |  SELECT feature, bucket,
        |    sum(CASE WHEN s = 0 THEN 1 ELSE 0 END) AS cb,
        |    sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS cc
        |  FROM f GROUP BY 1, 2),
        |t AS (
        |  SELECT feature,
        |    sum(cb) OVER (PARTITION BY feature) AS nb,
        |    sum(cc) OVER (PARTITION BY feature) AS nc,
        |    count(*) OVER (PARTITION BY feature) AS k,
        |    cb, cc
        |  FROM g),
        |p AS (
        |  SELECT feature, k,
        |    (cb + 1)::DOUBLE / (nb + k) AS pb,
        |    (cc + 1)::DOUBLE / (nc + k) AS pc
        |  FROM t)
        |SELECT feature, CAST(max(k) AS BIGINT) AS n_buckets,
        |       round(sum((pc - pb) * ln(pc / pb)), 6) AS psi,
        |       round(sum((pc - pb) * ln(pc / pb)), 6) >= 0.1 AS drifted
        |FROM p GROUP BY feature ORDER BY feature""".stripMargin,
    "region_rollup" ->
      """SELECT coalesce(r_name, 'ALL') AS region_name,
        |       coalesce(n_name, 'ALL') AS nation_name,
        |       coalesce(c_mktsegment, 'ALL') AS segment,
        |       count(*) AS n_cust,
        |       CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_bal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name, c_mktsegment)
        |ORDER BY region_name, nation_name, segment""".stripMargin,

    "dq_fk" -> fkSql,

    // Same exact two-factor decimal product and sum — the tolerance
    // gate compares exact decimals on both engines.
    "dq_reconcile" ->
      """WITH c AS (
        |  SELECT l_orderkey,
        |    sum(CAST(l_extendedprice AS DECIMAL(18,4)) *
        |        (1 - CAST(l_discount AS DECIMAL(18,4)))) AS computed
        |  FROM lineitem GROUP BY 1),
        |j AS (
        |  SELECT o.o_orderstatus, c.computed,
        |    abs(CAST(o.o_totalprice AS DECIMAL(18,4)) - c.computed)
        |      AS adiff
        |  FROM orders o LEFT JOIN c ON o.o_orderkey = c.l_orderkey)
        |SELECT o_orderstatus, count(*) AS n_orders,
        |  CAST(sum(CASE WHEN adiff <= 0.01 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_matched,
        |  CAST(sum(CASE WHEN computed IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_missing_facts,
        |  CAST(round(max(adiff), 2) AS DOUBLE) AS max_abs_diff
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin
  )

  /** Generated dq_fk oracle — same distinct-key collapse, same LEFT
    * marker probe, same single aggregate per relationship. */
  private lazy val fkSql: String = {
    val fks = Seq(
      ("lineitem_orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
      ("orders_customer", "orders", "o_custkey", "customer", "c_custkey"),
      ("customer_nation", "customer", "c_nationkey", "nation", "n_nationkey"))
    val branches = fks.map { case (name, child, ck, parent, pk) =>
      s"""SELECT '$name' AS fk_name,
         |  CAST(sum(nrows) AS BIGINT) AS n_rows,
         |  count(*) AS n_keys,
         |  CAST(sum(CASE WHEN hit IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_orphan_keys,
         |  CAST(sum(CASE WHEN hit IS NULL THEN nrows ELSE 0 END) AS BIGINT)
         |    AS n_orphan_rows
         |FROM (SELECT $ck AS k, count(*) AS nrows FROM $child
         |      WHERE $ck IS NOT NULL GROUP BY 1) c
         |LEFT JOIN (SELECT DISTINCT $pk AS k, 1 AS hit FROM $parent) p
         |  USING (k)""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"$branches\nORDER BY fk_name"
  }
}
