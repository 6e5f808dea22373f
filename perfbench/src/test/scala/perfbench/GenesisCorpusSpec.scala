package perfbench

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, count, lit, sum}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession
import graft.plans.CubePipeline

class GenesisCorpusSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val small = GenesisCorpus.Spec(cubes = 12, cells = 3000, lookups = 20)
  private val root = Files.createTempDirectory("perfbench-corpus").toFile
  private lazy val spark: SparkSession = GraftSession.local(2)

  override def afterAll(): Unit = {
    spark.stop()
    deleteTree(root)
  }

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Relative path → bytes of every file under `dir`. */
  private def contents(dir: File): Map[String, Seq[Byte]] = {
    def walk(f: File): Seq[File] =
      Option(f.listFiles()).toSeq.flatten.flatMap(c => if (c.isDirectory) walk(c) else Seq(c))
    walk(dir).map(f => dir.toPath.relativize(f.toPath).toString ->
      Files.readAllBytes(f.toPath).toSeq).toMap
  }

  test("one seed gives byte-identical files and manifest twice") {
    GenesisCorpus.generate(new File(root, "a"), 7, small)
    GenesisCorpus.generate(new File(root, "b"), 7, small)
    val a = contents(new File(root, "a"))
    assert(a.keySet.contains("manifest.tsv"))
    assert(a.keySet.exists(_.startsWith("v2/")))
    assert(a == contents(new File(root, "b")))
  }

  test("two seeds give different corpora") {
    GenesisCorpus.generate(new File(root, "c"), 8, small)
    assert(contents(new File(root, "a")) != contents(new File(root, "c")))
  }

  test("parseAll + latestRevision on a generated corpus matches its manifest") {
    val corpus = GenesisCorpus.generate(new File(root, "d"), 11, small)
    val m = corpus.manifest
    val merged = CubePipeline.latestRevision(Seq(
      CubePipeline.parseAll(spark, corpus.v1) -> 1,
      CubePipeline.parseAll(spark, corpus.v2) -> 2))
    val got = merged.groupBy("cube", "measure")
      .agg(count(lit(1)).as("n"), sum(col("value")).as("s")).collect()
    val cells = got.groupBy(_.getString(0)).map { case (c, rs) => c -> rs.map(_.getLong(2)).sum }
    assert(cells == m.cellsPerCube)
    val sums = got.map(r => (r.getString(0), r.getString(1)) ->
      Option(r.getDecimal(3)).map(BigDecimal(_))).toMap
    assert(sums == m.sums)
    assert(CubePipeline.facts(merged).count() == m.docs)
    m.lookups.foreach { l =>
      val n = CubePipeline.query(merged, region = Some(l.region), measures = l.measures,
        timeFrom = Some(l.from), timeTo = Some(l.to)).count()
      assert(n == l.rows, s"lookup $l")
    }
  }
}
