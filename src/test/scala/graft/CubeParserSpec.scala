package graft

import graft.plans.{CubeParser, CubePipeline}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col

/** Golden-fixture test for the GENESIS cube parser (FIXTURES.md §B):
  * the header rules of [[CubeParser]] and the data records as
  * [[CubePipeline.parseAll]] reads them through the `genesis-cube` reader.
  */
class CubeParserSpec extends SparkSpec {

  private val fixture = getClass.getResource("/cube_12411_mini.csv").getPath
  private def bd(s: String) = new java.math.BigDecimal(s)
  private def parse(path: String, cube: String) =
    CubePipeline.parseAll(spark, Seq(path -> cube))
  private def layoutOf(path: String, cube: String) =
    CubeParser.layoutFromHeader(
      CubeParser.readHeaders(spark, Seq(path))(path), path, cube)

  test("runtime fixture constant matches the test-resource fixture file") {
    // CubeOps pins the fixture in main code (runtime keys can't load
    // test resources); byte-drift between the two would silently split
    // what the specs test from what the driver oracles.
    val res = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(fixture)), "UTF-8")
    assert(res.trim == graft.plans.CubeOps.fixtureContent.trim)
  }

  test("layout derives from K/D header records") {
    val lo = layoutOf(fixture, "12411_mini")
    assert(lo.axes == Seq("DINSG", "GES"))
    assert(lo.timeAxis == "JAHR")
    assert(lo.measures == Seq("BEVSTD"))
    assert(lo.decimals == Map("BEVSTD" -> 0))
  }

  test("data records parse to the normalized long form with declared-scale decimals") {
    val df = parse(fixture, "12411_mini")
    // BEVSTD declares 0 decimals → value is exact DECIMAL(18,0).
    assert(df.schema("value").dataType ==
      org.apache.spark.sql.types.DecimalType(18, 0))
    val rows = df.orderBy(col("region"), col("dims")("GES"), col("time")).collect()
    assert(rows.length == 6)
    // FIXTURES.md §B expected parse table:
    assert(rows.head == Row("12411_mini", "02", 2019, "BEVSTD", bd("934846"), "e",
      Map("GES" -> "GESM")))
    assert(rows.last == Row("12411_mini", "11", 2020, "BEVSTD", bd("1874432"), "p",
      Map("GES" -> "GESW")))
  }

  test("multi-measure cubes explode to one row per measure with paired flags") {
    import java.nio.file.Files
    val tmp = Files.createTempDirectory("cube").resolve("mm.csv")
    // Two measures: D;<region>;<year>;<m1>;<q1>;<m2>;<q2>
    Files.writeString(tmp, Seq(
      "K;DQ;X",
      "D;DQA;DINSG;1;1",
      "D;DQZ;JAHR;2",
      "D;DQI;BEVSTD;ANZ;FEST;GANZ;0",
      "D;DQI;FLAECHE;QKM;FEST;DEZ;2",
      "D;QEI;DINSG;JAHR;BEVSTD;FLAECHE",
      "D;01;2020;1000;e;34.25;p",
      "D;02;2020;2000;r;-;x").mkString("\n"))
    val parsed = parse(tmp.toString, "mm")
    // Mixed scales (0 and 2) widen to one common decimal across the
    // measures — still exact, values carry their digits.
    val vt = parsed.schema("value").dataType
    assert(vt.isInstanceOf[org.apache.spark.sql.types.DecimalType], vt)
    val rows = parsed.orderBy("region", "measure").collect()
    assert(rows.length == 4)
    val byKey = rows.map(r =>
      (r.getString(1), r.getString(3)) ->
        ((Option(r.getDecimal(4)).map(d => d.doubleValue: Any).orNull,
          r.getString(5)))).toMap
    assert(byKey(("01", "BEVSTD")) == (1000.0, "e"))
    assert(byKey(("01", "FLAECHE")) == (34.25, "p"))
    assert(byKey(("02", "BEVSTD")) == (2000.0, "r"))
    assert(byKey(("02", "FLAECHE")) == (null, "x"))
  }

  test("a measure without a declared decimals slot falls back to double, not a rounding scale-0 cast") {
    import java.nio.file.Files
    val tmp = Files.createTempDirectory("cube").resolve("nodec.csv")
    // M2's DQI record stops before NKM-STELLEN: scale unknown. A
    // default of DECIMAL(18,0) would silently round 34.25 → 34; the
    // whole cube must fall back to double instead.
    Files.writeString(tmp, Seq(
      "K;DQ;X",
      "D;DQA;DINSG;1;1",
      "D;DQZ;JAHR;2",
      "D;DQI;M1;ANZ;FEST;GANZ;0",
      "D;DQI;M2;QKM;FEST",
      "D;QEI;DINSG;JAHR;M1;M2",
      "D;01;2020;1000;e;34.25;p").mkString("\n"))
    val parsed = parse(tmp.toString, "nodec")
    assert(parsed.schema("value").dataType ==
      org.apache.spark.sql.types.DoubleType)
    val byM = parsed.collect().map(r => r.getString(3) -> r.get(4)).toMap
    assert(byM("M1") == 1000.0 && byM("M2") == 34.25)
  }

  test("data record whose first axis value collides with a header tag survives") {
    import java.nio.file.Files
    val tmp = Files.createTempDirectory("cube").resolve("tag.csv")
    // Region code literally "DQA": header-tag collision in slot 2. The
    // record has the layout's exact data shape (5 tokens, int time), so
    // the parser must keep it.
    Files.writeString(tmp, Seq(
      "K;DQ;X",
      "D;DQA;DINSG;1;1",
      "D;DQZ;JAHR;2",
      "D;DQI;M1;ANZ;FEST;GANZ;0",
      "D;QEI;DINSG;JAHR;M1",
      "D;DQA;2020;7;e",
      "D;01;2020;42;e").mkString("\n"))
    val rows = parse(tmp.toString, "tagclash")
      .orderBy("region").collect()
    assert(rows.length == 2)
    assert(rows.map(_.getString(1)).toSeq == Seq("01", "DQA"))
    assert(rows.map(_.get(4)).toSeq == Seq(bd("42"), bd("7")))
  }

  test("QEI naming an undeclared column fails loudly, not silently") {
    import java.nio.file.Files
    val tmp = Files.createTempDirectory("cube").resolve("bad.csv")
    Files.writeString(tmp, Seq(
      "K;DQ;X",
      "D;DQA;DINSG;1;1",
      "D;DQZ;JAHR;2",
      "D;DQI;M1;ANZ;FEST;GANZ;0",
      "D;QEI;DINSG;JAHR;GHOST;M1",
      "D;01;2020;42;e").mkString("\n"))
    val e = intercept[RuntimeException] {
      layoutOf(tmp.toString, "bad")
    }
    assert(e.getMessage.contains("GHOST"))
  }

  test("nil/secret value codes parse to NULL with the flag kept") {
    import java.nio.file.{Files, Paths}
    val tmp = Files.createTempDirectory("cube").resolve("c.csv")
    Files.writeString(tmp, Seq(
      "K;DQ;X",
      "D;DQA;DINSG;1;1",
      "D;DQZ;JAHR;2",
      "D;DQI;M1;ANZ;FEST;GANZ;0",
      "D;QEI;DINSG;JAHR;M1",
      "D;01;2020;-;-",
      "D;02;2020;...;x",
      "D;03;2020;42;e").mkString("\n"))
    val rows = parse(tmp.toString, "nulls")
      .orderBy("region").collect()
    assert(rows.map(_.get(4)).toSeq == Seq(null, null, bd("42")))
    assert(rows.map(_.getString(5)).toSeq == Seq("-", "x", "e"))
  }
}
