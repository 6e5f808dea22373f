package graft

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Planted-fixture drive of [[LintCollect]] (r16, r15 verdict #2): the
  * model-sized-collect rule must be red on a planted unbounded collect
  * in a query path and green on the current tree.
  */
class LintCollectSpec extends AnyFunSuite {

  private def lines(s: String) = s.split("\n", -1).toIndexedSeq

  test("planted unbounded .collect() in a query path fails the lint") {
    val planted = lines(
      """object Bad {
        |  def q(df: DataFrame): Seq[Row] =
        |    df.filter(col("x") > 0).collect().toSeq
        |}""".stripMargin)
    val msgs = LintCollect.lintFile("Bad.scala", planted)
    assert(msgs.size == 1 && msgs.head.startsWith("Bad.scala:3"),
      msgs.mkString("\n"))
  }

  test("an annotated site passes — same line or up to 3 lines above") {
    val sameLine = lines(
      """val m = df.agg(count(lit(1))).collect() // bounded-collect: 1 row""")
    assert(LintCollect.lintFile("A.scala", sameLine).isEmpty)
    val above = lines(
      """// bounded-collect: per-stratum counts, |strata| rows
        |val m = df.groupBy("s").count()
        |  .collect()""".stripMargin)
    assert(LintCollect.lintFile("B.scala", above).isEmpty)
    val tooFar = lines(
      """// bounded-collect: too far away to count
        |val a = 1
        |val b = 2
        |val c = 3
        |val m = df.collect()""".stripMargin)
    assert(LintCollect.lintFile("C.scala", tooFar).nonEmpty,
      "an annotation more than 3 lines above must not cover the site")
  }

  test("comment-only mentions of .collect() are not call sites") {
    val doc = lines(
      """/** The r7 shape ran one filtered `.collect()` job per cube —
        |  * a driver-latency bottleneck; see readHeaders.
        |  */
        |// .collect() in a line comment is prose too
        |val x = 1""".stripMargin)
    assert(LintCollect.lintFile("D.scala", doc).isEmpty)
  }

  test(".collectAsList() is covered by the same rule") {
    val planted = lines("""val l = df.collectAsList()""")
    assert(LintCollect.lintFile("E.scala", planted).nonEmpty)
  }

  test("the current main tree is green AND the scan actually visited it") {
    val root = new java.io.File("src/main/scala")
    val scan = LintCollect.lintTree(root)
    assert(scan.failures.isEmpty, scan.failures.mkString("\n"))
    // r16 advice #3: the old green was vacuous — a charset bug made
    // lintTree read zero files, so "no failures" proved nothing. Count
    // the tree's files and call sites with a walk of this spec's own and
    // require the scan to have seen exactly as many: a skipped file
    // turns this red, and no hand-kept count needs editing when a
    // collect is added or removed.
    val walk = Files.walk(root.toPath)
    val files = try walk.iterator.asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala")).toList
    finally walk.close()
    // A call on a line that is not a comment line.
    val site = """^(?!\s*(//|\*|/\*)).*\.collect(AsList)?\(\)""".r
    val sites = files.map(f => Files.readString(f, StandardCharsets.UTF_8)
      .split("\n", -1).count(site.findFirstIn(_).nonEmpty)).sum
    assert(files.nonEmpty && sites > 0, s"walked ${files.size} files, $sites sites")
    assert(scan.files == files.size, s"the scan read ${scan.files} of " +
      s"${files.size} .scala files")
    assert(scan.sites == sites, s"the scan saw ${scan.sites} of $sites call sites")
  }

  test("an unreadable file is a lint failure, not an empty scan") {
    val dir = java.nio.file.Files.createTempDirectory("lintcollect").toFile
    val bad = new java.io.File(dir, "Bad.scala")
    // Invalid UTF-8: a lone 0xFF byte. Files.readString(UTF_8) throws.
    java.nio.file.Files.write(bad.toPath, Array[Byte](0x76, 0x61, 0x6c,
      0x20, 0xFF.toByte, 0x0a))
    val scan = LintCollect.lintTree(dir)
    assert(scan.failures.exists(_.contains("unreadable as UTF-8")),
      scan.failures.mkString("\n"))
  }
}
