package graft

import graft.plans.CubePipeline
import org.apache.spark.sql.catalyst.plans.logical.Union
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Multi-cube corpus pipeline: heterogeneous cube schemas union into
  * the shared long form, nest into fact docs, and inventory into a
  * catalog.
  */
class CubePipelineSpec extends SparkSpec {

  // Two cubes with DIFFERENT schemas: the fixture (axes DINSG+GES, one
  // measure) and a generated one (single axis, two measures).
  private lazy val cubes: Seq[(String, String)] = {
    val fx = getClass.getResource("/cube_12411_mini.csv").getPath
    val tmp = Files.createTempDirectory("cube").resolve("area.csv")
    Files.writeString(tmp, Seq(
      "K;DQ;AREA",
      "D;DQA;DINSG;1;1",
      "D;DQZ;JAHR;2",
      "D;DQI;FLAECHE;QKM;FEST;DEZ;2",
      "D;DQI;BEVDICHTE;ANZ;FEST;DEZ;1",
      "D;QEI;DINSG;JAHR;FLAECHE;BEVDICHTE",
      "D;02;2020;755.09;e;2480.3;e",
      "D;11;2020;891.12;e;4090.6;p").mkString("\n"))
    Seq((fx, "12411_mini"), (tmp.toString, "area"))
  }

  test("heterogeneous cubes union into one normalized frame with a dims map") {
    val all = CubePipeline.parseAll(spark, cubes)
    assert(all.columns.toSeq ==
      Seq("cube", "region", "time", "measure", "value", "quality", "dims"))
    // 6 fixture cells (1 measure) + 2 records × 2 measures
    assert(all.count() == 10)
    // fixture rows carry the GES dim; area rows have an empty dim map
    val g = all.filter(col("cube") === "12411_mini")
      .select(element_at(col("dims"), "GES")).distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    assert(g == Seq("GESM", "GESW"))
    assert(all.filter(col("cube") === "area")
      .filter(size(map_keys(col("dims"))) =!= 0).count() == 0)
  }

  test("parseAll issues O(1) driver jobs for N cubes (batched header pass)") {
    // The r7 loop ran one filtered collect JOB per cube — a sequential
    // driver-latency bottleneck at the ~10⁴–10⁵-cube GENESIS corpus.
    // Job-group accounting (statusTracker is public API) counts the
    // jobs parseAll itself triggers: exactly ONE for the batched
    // header collect, regardless of cube count; the data-side plan
    // stays lazy (no further jobs until an action).
    val sc = spark.sparkContext
    val group = s"parseall-jobcount-${System.nanoTime()}"
    sc.setJobGroup(group, "parseAll header pass")
    try CubePipeline.parseAll(spark, cubes)
    finally sc.clearJobGroup()
    val jobs = sc.statusTracker.getJobIdsForGroup(group).length
    assert(jobs == 1,
      s"parseAll ran $jobs driver jobs for ${cubes.size} cubes; " +
        "the batched header pass must run exactly 1")
  }

  test("parseAll over N cubes plans exactly one scan and no Union") {
    // A third cube, so "one" is not a coincidence of two: one
    // genesis-cube relation reads every file, one input partition each.
    val third = Files.createTempDirectory("cube3").resolve("area3.csv")
    Files.copy(java.nio.file.Paths.get(cubes(1)._1), third)
    val all = CubePipeline.parseAll(spark, cubes :+ (third.toString -> "area3"))
    val plan = all.queryExecution.optimizedPlan
    assert(plan.collect { case u: Union => u }.isEmpty, plan.treeString)
    val leaves = plan.collectLeaves()
    assert(leaves.size == 1 && leaves.head.isInstanceOf[DataSourceV2ScanRelation],
      plan.treeString)
    assert(all.queryExecution.toRdd.getNumPartitions == 3)
  }

  test("facts nest measures per (cube, region, time, dims) cell") {
    val f = CubePipeline.facts(CubePipeline.parseAll(spark, cubes))
    // area: 2 docs (one per region) each holding BOTH measures
    val area = f.filter(col("cube") === "area").collect()
    assert(area.length == 2)
    val doc02 = area.find(_.getString(1) == "02").get.getAs[String]("doc")
    assert(doc02.contains("\"FLAECHE\":{\"value\":755.09,\"quality\":\"e\"}"), doc02)
    assert(doc02.contains("\"BEVDICHTE\":{\"value\":2480.3,\"quality\":\"e\"}"), doc02)
    // fixture: one doc per (region, year, GES) = 6
    assert(f.filter(col("cube") === "12411_mini").count() == 6)
  }

  test("aggFlags sums only non-excluded cells and reports per-flag counts") {
    val a = CubePipeline.aggFlags(
      CubePipeline.parseAll(spark, cubes), exclude = Set("p"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2)) -> r).toMap
    // 2019 fixture cells are all 'e' (kept): both regions × both sexes.
    val y19 = a(("12411_mini", "BEVSTD", 2019))
    assert(y19.getDecimal(3).doubleValue ==
      1793847.0 + 1875217.0 + 934846.0 + 912384.0)
    assert(y19.getAs[Long]("n_used") == 4 && y19.getAs[Long]("n_excluded") == 0)
    assert(y19.getAs[Long]("n_e") == 4 && y19.getAs[Long]("n_p") == 0)
    // 2020 cells are all 'p' (excluded): sum NULL, nothing used.
    val y20 = a(("12411_mini", "BEVSTD", 2020))
    assert(y20.isNullAt(3))
    assert(y20.getAs[Long]("n_used") == 0 && y20.getAs[Long]("n_excluded") == 2)
    // area/BEVDICHTE mixes flags: only the 'e' cell aggregates.
    val bd20 = a(("area", "BEVDICHTE", 2020))
    assert(bd20.getDecimal(3).doubleValue == 2480.3)
    assert(bd20.getAs[Long]("n_used") == 1 && bd20.getAs[Long]("n_excluded") == 1)
  }

  test("regionRollup aggregates AGS prefixes per level with flag-aware sums") {
    val cells = CubePipeline.normalized(graft.plans.CubeParser.parse(
      spark, graft.plans.CubeOps.ensureAgs(), "ags_mini"))
    val r = CubePipeline.regionRollup(cells, exclude = Set("p"))
      .collect()
      .map(rw => (rw.getAs[Int]("time"), rw.getAs[Int]("level"),
        rw.getAs[String]("region_prefix")) -> rw).toMap
    // 7 Gemeinde cells → 7 L8 + 6 L5 + 5 L2 + 2 DG rows.
    assert(r.size == 20)
    // Land 05 in 2020: Köln 1083498 (e) + 05334032 110000 (e); the
    // provisional 05334002 cell is excluded from the sum but counted
    // nowhere in n_used.
    val land05 = r((2020, 2, "05"))
    assert(land05.getDecimal(5).doubleValue == 1083498.0 + 110000.0)
    assert(land05.getAs[Long]("n_used") == 2)
    // Berlin 2020 is provisional-only: rolled-up sum NULL at every level.
    assert(r((2020, 5, "11000")).isNullAt(5))
    assert(r((2020, 5, "11000")).getAs[Long]("n_used") == 0)
    // Federal totals (DG, level 0).
    assert(r((2019, 0, "DG")).getDecimal(5).doubleValue ==
      3644826.0 + 1085664.0)
    assert(r((2020, 0, "DG")).getDecimal(5).doubleValue ==
      1899160.0 + 1083498.0 + 110000.0)
    // Kreis 05334 keeps only its 'e' Gemeinde.
    assert(r((2020, 5, "05334")).getDecimal(5).doubleValue == 110000.0)
  }

  test("cube revision replay: newest download wins, per storage and per cell") {
    import graft.plans.{CubeOps, CubeParser, CubePipeline}
    val v1 = CubePipeline.normalized(CubeParser.parse(
      spark, CubeOps.ensureFixture(), "12411"))
    val v2 = CubePipeline.normalized(CubeParser.parse(
      spark, CubeOps.ensureFixtureV2(), "12411"))
    val area = CubePipeline.normalized(CubeParser.parse(
      spark, CubeOps.ensureArea(), "area"))

    // Storage side: v2 landing via replacePartitions replaces cube
    // 12411's whole partition, leaves the area cube untouched.
    val store = Files.createTempDirectory("cube_store").toString
    graft.sources.Sinks.replacePartitions(
      v1.unionByName(area), store, Seq("cube"))
    graft.sources.Sinks.replacePartitions(v2, store, Seq("cube"))
    val back = spark.read.parquet(store)
    assert(back.filter(col("cube") === "area").count() == 4)
    val c12411 = back.filter(col("cube") === "12411")
    assert(c12411.count() == 4, "whole-partition replace keeps only v2 cells")
    assert(c12411.select("time").distinct().collect()
      .map(_.getInt(0)).sorted.toSeq == Seq(2020, 2021))

    // Read-time merge: v1-only cells (2019, region 02) survive; the
    // 2020 cells come from v2 with finalized values.
    val merged = CubePipeline.latestRevision(Seq(v1 -> 1, v2 -> 2))
    assert(merged.count() == 8) // 6 v1 cells + 4 v2 cells − 2 overridden
    val byCell = merged.collect().map(r =>
      (r.getAs[String]("region"), r.getAs[Map[String, String]]("dims")("GES"),
        r.getAs[Int]("time")) -> r).toMap
    val m2020 = byCell(("11", "GESM", 2020))
    assert(m2020.getAs[Int]("revision") == 2 &&
      m2020.getAs[String]("quality") == "e")
    assert(m2020.getDecimal(m2020.fieldIndex("value")).longValue == 1792801L)
    assert(byCell(("11", "GESM", 2019)).getAs[Int]("revision") == 1)
    assert(byCell(("02", "GESW", 2019)).getAs[Int]("revision") == 1)
  }

  test("query predicates push down to the parquet scan of a cube store") {
    // The serving-path scale claim: CubePipeline.query is plain
    // Catalyst filters, so against a stored table the region/time
    // predicates reach the reader (PushedFilters) instead of filtering
    // post-scan — at 100 TB that is the difference between a point
    // lookup and a full-table pass.
    val all = graft.plans.CubePipeline.parseAll(spark, cubes)
    val store = Files.createTempDirectory("cube_pd").toString
    graft.sources.Sinks.writePartitioned(all, store, Seq("cube"))
    val q = graft.plans.CubePipeline.query(spark.read.parquet(store),
      region = Some("11"), timeFrom = Some(2020), timeTo = Some(2020))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("EqualTo(region,11)"), plan)
    assert(plan.contains("GreaterThanOrEqual(time,2020)"), plan)
    assert(q.count() == 4)
  }

  test("catalogNested emits the statistics→measures→dimensions→values tree") {
    val docs = CubePipeline.catalogNested(CubePipeline.parseAll(spark, cubes))
      .collect().map(r => r.getString(0) -> r.getAs[String]("toc")).toMap
    assert(docs("12411_mini") ==
      """{"statistic":"12411_mini","time_min":2019,"time_max":2020,""" +
      """"measures":["BEVSTD"],""" +
      """"dimensions":[{"name":"GES","values":["GESM","GESW"]}]}""")
    // a dimension-less cube nests an EMPTY dimensions array, not [null]
    assert(docs("area") ==
      """{"statistic":"area","time_min":2020,"time_max":2020,""" +
      """"measures":["BEVDICHTE","FLAECHE"],"dimensions":[]}""")
  }

  test("catalog inventories axes, measures, time span, and cell counts per cube") {
    val c = CubePipeline.catalog(CubePipeline.parseAll(spark, cubes))
      .collect().map(r => r.getString(0) -> r).toMap
    val mini = c("12411_mini")
    assert(mini.getAs[String]("axes") == "GES")
    assert(mini.getAs[String]("measures") == "BEVSTD")
    assert(mini.getAs[Int]("time_min") == 2019 && mini.getAs[Int]("time_max") == 2020)
    assert(mini.getAs[Long]("n_cells") == 6L)
    val area = c("area")
    assert(area.getAs[String]("axes") == "")
    assert(area.getAs[String]("measures") == "BEVDICHTE,FLAECHE")
    assert(area.getAs[Long]("n_cells") == 2L)
  }
}
