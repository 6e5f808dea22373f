package graft

import graft.plans.{CubeOps, CubePipeline}
import graft.sources.CubeDataSource
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DecimalType, DoubleType, StringType,
  StructType}
import java.nio.file.Files

/** The `genesis-cube` DataSource V2 reader (sources/CubeDataSource):
  * executor-side schema-from-header, one partition per cube file, zero
  * driver jobs for N cubes, column pruning pushed into the reader —
  * and, read through parseAll, cells typed, rounded and nulled as
  * stated per edge case.
  */
class CubeSourceSpec extends SparkSpec {

  private lazy val paths = Seq(CubeOps.ensureFixture(), CubeOps.ensureArea())

  private def viaSource = spark.read.format("genesis-cube")
    .load(paths: _*)

  // Edge cells for the parseAll tests, each cube in its own file: scales 1
  // and 2, a space-padded value, more decimals than declared, null
  // tokens, and a region equal to a header tag; a cube with an
  // undeclared measure; a value that overflows DECIMAL(18,0).
  private lazy val edgeDir = Files.createTempDirectory("cube_src_edge")
  private def edgeFile(name: String, lines: String*): String = {
    val f = edgeDir.resolve(s"$name.csv")
    Files.writeString(f, lines.mkString("\n"))
    f.toString
  }
  private lazy val edge = edgeFile("edge",
    "K;DQ;EDGE",
    "D;DQA;DINSG;1;1",
    "D;DQZ;JAHR;2",
    "D;DQI;M1;ANZ;FEST;DEZ;1",
    "D;DQI;M2;QKM;FEST;DEZ;2",
    "D;QEI;DINSG;JAHR;M1;M2",
    "D;01;2020; 12.5;e;1.235;p",
    "D;02;2020;-;d;...;x",
    "D;DQI;2021;7;e;/;",
    "D;03;2021;x;;.;r")
  private lazy val undeclared = edgeFile("nodec",
    "K;DQ;NODEC",
    "D;DQA;DINSG;1;1",
    "D;DQA;GES;1;1",
    "D;DQZ;JAHR;2",
    "D;DQI;BEVSTD;ANZ;FEST;GANZ",
    "D;QEI;DINSG;GES;JAHR;BEVSTD",
    "D;01;GESM;2020;1.25;e",
    "D;01;GESW;2020;-;d")
  private lazy val overflow = edgeFile("overflow",
    "K;DQ;BIG",
    "D;DQA;DINSG;1;1",
    "D;DQZ;JAHR;2",
    "D;DQI;BEVSTD;ANZ;FEST;GANZ;0",
    "D;QEI;DINSG;JAHR;BEVSTD",
    "D;01;2020;12345678901234567890;e")

  /** parseAll over `cubes`, asserting the type it gives `value`. */
  private def parsedAs(cubes: Seq[(String, String)], valueType: DataType) = {
    val df = CubePipeline.parseAll(spark, cubes)
    assert(df.schema("value").dataType == valueType)
    df
  }

  test("parseAll's scan types every edge cell and folds each cube's axes into dims") {
    // Scales 0 (12411), 2 and 1 (area, edge) widen to DECIMAL(20,2);
    // area and edge have no axis besides the region (empty dims).
    val declared = Seq(paths.head -> "12411_mini", paths(1) -> "area",
      edge -> "edge")
    val all = parsedAs(declared, DecimalType(20, 2))
    assert(all.count() == 18)
    // Maps are not comparable in set operations: distinct on the driver.
    val dims = all.select("cube", "dims").collect()
      .groupBy(_.getString(0)).view
      .mapValues(_.map(_.getMap[String, String](1).toMap).toSet).toMap
    assert(dims == Map(
      "12411_mini" -> Set(Map("GES" -> "GESM"), Map("GES" -> "GESW")),
      "area" -> Set(Map.empty[String, String]),
      "edge" -> Set(Map.empty[String, String])), dims)
    val e = all.filter(col("cube") === "edge")
      .select("region", "measure", "value", "quality").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    assert(e(("01", "M1")).getDecimal(2).compareTo(new java.math.BigDecimal("12.5")) == 0)
    assert(e(("01", "M2")).getDecimal(2).compareTo(new java.math.BigDecimal("1.24")) == 0,
      "HALF_UP to the declared scale")
    assert(e(("02", "M1")).isNullAt(2) && e(("02", "M1")).getString(3) == "d")
    assert(e(("DQI", "M1")).getDecimal(2).intValue == 7 && e(("DQI", "M2")).isNullAt(2))
    // One undeclared measure anywhere types every cube's value DOUBLE;
    // declared cubes still round to their scale first.
    val dbl = parsedAs(declared :+ (undeclared -> "nodec"), DoubleType)
    assert(dbl.filter(col("cube") === "edge" && col("region") === "01" &&
      col("measure") === "M2").head().getDouble(4) == 1.24)
  }

  test("a DECIMAL(18,s) overflow fails out of range and the reader names the file") {
    def chain(t: Throwable) = Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq
    val err = intercept[Exception](
      CubePipeline.parseAll(spark, Seq(overflow -> "big")).collect())
    val condition = chain(err).collectFirst {
      case s: SparkThrowable if s.getCondition != null => s.getCondition
    }
    assert(condition.exists(_.startsWith("NUMERIC_VALUE_OUT_OF_RANGE")), err.toString)
    assert(chain(err).exists(t => Option(t.getMessage).exists(_.contains(overflow))),
      s"reader error does not name $overflow: $err")
    // A file listed under two cube names is an error naming the file,
    // not a silent double parse.
    val twice = intercept[IllegalArgumentException](
      CubePipeline.parseAll(spark, Seq(edge -> "a", edge -> "b")))
    assert(twice.getMessage.contains(edge), twice.getMessage)
  }

  test("a user schema may retype value only; names must pair with paths") {
    val asDecimal = spark.read.format("genesis-cube")
      .schema(CubeDataSource.schemaWith(DecimalType(19, 1))).load(paths(1))
    assert(asDecimal.schema("value").dataType == DecimalType(19, 1))
    assert(asDecimal.filter(col("measure") === "FLAECHE" && col("region") === "02")
      .head().getDecimal(4).compareTo(new java.math.BigDecimal("755.1")) == 0)
    val renamed = StructType(CubeDataSource.schema.map(f =>
      if (f.name == "region") f.copy(name = "ags") else f))
    for (bad <- Seq(renamed, CubeDataSource.schemaWith(StringType)))
      intercept[IllegalArgumentException](
        spark.read.format("genesis-cube").schema(bad).load(paths(1)))
    intercept[IllegalArgumentException](spark.read.format("genesis-cube")
      .option("names", "[\"only-one\"]").load(paths: _*))
  }

  test("one input partition per cube file; planning runs zero Spark jobs") {
    val sc = spark.sparkContext
    val group = s"cube-source-plan-${System.nanoTime()}"
    sc.setJobGroup(group, "plan only")
    val df = viaSource
    val parts = df.queryExecution.toRdd.getNumPartitions
    sc.clearJobGroup()
    assert(parts == paths.size, s"$parts partitions for ${paths.size} files")
    assert(sc.statusTracker.getJobIdsForGroup(group).isEmpty,
      "planning the cube source must not run driver jobs")
  }

  test("column pruning reaches the reader (ReadSchema shrinks)") {
    val p = viaSource.select("cube", "measure")
      .queryExecution.executedPlan.toString
    assert(p.contains("ReadSchema: struct<cube:string,measure:string>"),
      s"pruned read schema missing: $p")
  }

  test("a directory load picks up every cube file in it") {
    val dir = Files.createTempDirectory("cube_src")
    Files.writeString(dir.resolve("a.csv"), CubeOps.fixtureContent)
    Files.writeString(dir.resolve("b.csv"), CubeOps.areaContent)
    val df = spark.read.format("genesis-cube").load(dir.toString)
    assert(df.select("cube").distinct().collect().map(_.getString(0)).sorted
      .toSeq == Seq("a", "b"))
    assert(df.count() == 10)
  }

  test("a cube predicate prunes to the matching files only") {
    val dir = Files.createTempDirectory("cube_src_prune")
    Files.writeString(dir.resolve("a.csv"), CubeOps.fixtureContent)
    Files.writeString(dir.resolve("b.csv"), CubeOps.areaContent)
    val df = spark.read.format("genesis-cube").load(dir.toString)
      .filter(col("cube") === "a")
    // file-level partition pruning: the non-matching cube never plans
    assert(df.queryExecution.toRdd.getNumPartitions == 1,
      "cube = 'a' must plan exactly one input partition")
    assert(df.count() == 6)
    assert(df.queryExecution.executedPlan.toString.contains("PushedFilters"),
      "pushed cube filter missing from scan description")
    // best-effort contract: a filter the source can't prune still
    // evaluates correctly above the scan
    val in = spark.read.format("genesis-cube").load(dir.toString)
      .filter(col("cube").isin("a", "zzz"))
    assert(in.queryExecution.toRdd.getNumPartitions == 1 && in.count() == 6)
  }

  test("time/measure predicates reach the reader and keep row parity " +
    "with the unpushed path (r16 verdict #4)") {
    // Area (two measures, 2020) plus AGS (one measure, 2019 AND 2020):
    // together every predicate below both keeps and drops rows, so
    // parity is tested with real discrimination on each side.
    val df = spark.read.format("genesis-cube")
      .load(CubeOps.ensureArea(), CubeOps.ensureAgs())
    val all = df.collect().map(_.toSeq).toSet // unpushed reference
    for ((pred, name) <- Seq(
        (col("time") === 2020, "time ="),
        (col("time") >= 2020, "time >="),
        (col("time").isin(2019, 2020), "time IN"),
        (col("measure") === "FLAECHE", "measure ="),
        (col("measure").isin("BEVDICHTE", "zzz"), "measure IN"),
        (col("time") === 2020 && col("measure") === "FLAECHE", "both"))) {
      val pushed = df.filter(pred)
      val plan = pushed.queryExecution.executedPlan.toString
      assert(plan.contains("PushedFilters: [") &&
        (plan.contains("time") || plan.contains("measure")),
        s"$name must reach the scan description: $plan")
      // Row parity: the pushed scan must emit exactly the rows the
      // residual filter over the full read keeps (pruning is an
      // optimization, never a semantics change).
      val viaPush = pushed.collect().map(_.toSeq).toSet
      assert(viaPush.subsetOf(all), s"$name emitted rows outside the table")
      assert(viaPush == all.filter { r =>
        val time = r(2).asInstanceOf[Int]
        val measure = r(3).asInstanceOf[String]
        name match {
          case "time =" => time == 2020
          case "time >=" => time >= 2020
          case "time IN" => time == 2019 || time == 2020
          case "measure =" => measure == "FLAECHE"
          case "measure IN" => measure == "BEVDICHTE"
          case "both" => time == 2020 && measure == "FLAECHE"
        }
      }, s"$name row parity broke")
    }
    // Planning with pushed row filters still runs zero Spark jobs.
    val sc = spark.sparkContext
    val group = s"cube-rowfilter-plan-${System.nanoTime()}"
    sc.setJobGroup(group, "plan only")
    df.filter(col("time") === 2020).queryExecution.toRdd.getNumPartitions
    sc.clearJobGroup()
    assert(sc.statusTracker.getJobIdsForGroup(group).isEmpty,
      "planning with pushed time filters must not run driver jobs")
  }

  test("null-token values parse to NULL with the flag kept, like the parser") {
    val dir = Files.createTempDirectory("cube_src_null")
    Files.writeString(dir.resolve("n.csv"), Seq(
      "K;DQ;NULLY",
      "D;DQA;DINSG;1;1",
      "D;DQZ;JAHR;2",
      "D;DQI;BEVSTD;ANZ;FEST;GANZ;0",
      "D;QEI;DINSG;JAHR;BEVSTD",
      "D;11;2020;...;d",
      "D;02;2020;123;e").mkString("\n"))
    val rows = spark.read.format("genesis-cube").load(dir.toString)
      .select("region", "value", "quality").orderBy("region")
      .collect()
    assert(rows(0).getString(0) == "02" && rows(0).getDouble(1) == 123.0)
    assert(rows(1).getString(0) == "11" && rows(1).isNullAt(1) &&
      rows(1).getString(2) == "d")
  }
}
