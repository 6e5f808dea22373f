package graft

/** One-stop round board (r16, r15 verdict #7): joins the newest
  * CORRECTNESS_r*.json × newest BENCH_DETAIL_r*.json ×
  * [[LintBench.acceptedFloors]] × the declared key set into the single
  * table the judge's coverage section re-assembles by hand every
  * round. Plain file scans, no SparkSession — milliseconds.
  *
  * Output: one markdown row per declared key —
  * `| key | correctness | sf0.1 s | floor | flags |` — followed by a
  * summary line (key counts, pass counts, total seconds, s/key).
  * Flags mark anything a judge would chase: `over-budget` (> 2 s),
  * `unswept` / `errored` (bench), `unchecked` / `fail` (correctness),
  * `floor-repinned` (an acceptedFloors adjudication applies).
  */
object BoardReport {

  /** Newest file matching `pattern`, by embedded round number. */
  private def newest(pattern: String): Option[java.io.File] =
    Bench.benchFiles(pattern).sortBy(Bench.roundOf).lastOption

  /** CORRECTNESS_r*.json → key → short status. The driver writes one
    * object per key: hash/rows/schema booleans (null when no oracle)
    * plus an `err` string. */
  private[graft] def parseCorrectness(txt: String): Map[String, String] = {
    val block = """"([A-Za-z0-9_]+)":\s*\{([^{}]*)\}""".r
    block.findAllMatchIn(txt).map { m =>
      val (key, body) = (m.group(1), m.group(2))
      def field(n: String): Option[String] =
        (""""""" + n + """":\s*("[^"]*"|true|false|null|-?[0-9.]+)""").r
          .findFirstMatchIn(body).map(_.group(1))
      val err = field("err").getOrElse("null")
      val status =
        if (err == "\"no_oracle\"") "no-oracle (spec-tested)"
        else if (err != "null") s"ERROR $err"
        else if (Seq("rows_match", "schema_match", "hash_match")
            .forall(f => field(f).contains("true"))) "pass"
        else "FAIL"
      key -> status
    }.toMap
  }

  def report(): String = {
    val declared = SparkEntry.queries.keySet
    val corrFile = newest("CORRECTNESS_r\\d+\\.json")
    val benchFile = newest("BENCH_DETAIL_r\\d+\\.json")
    def read(f: Option[java.io.File]): String = f.map { x =>
      try scala.io.Source.fromFile(x).mkString catch { case _: Throwable => "" }
    }.getOrElse("")
    val corr = parseCorrectness(read(corrFile))
    val bench = Bench.queryTimes(read(benchFile))
    val sb = new StringBuilder
    sb ++= s"# Board — ${corrFile.map(_.getName).getOrElse("(no correctness)")}"
    sb ++= s" × ${benchFile.map(_.getName).getOrElse("(no bench detail)")}\n\n"
    sb ++= "| key | correctness | sf0.1 s | floor | flags |\n"
    sb ++= "| --- | --- | --- | --- | --- |\n"
    var pass = 0; var noOracle = 0; var bad = 0
    declared.toSeq.sorted.foreach { k =>
      val c = corr.getOrElse(k, "unchecked (new this round)")
      if (c == "pass") pass += 1
      else if (c.startsWith("no-oracle")) noOracle += 1
      else if (c.startsWith("FAIL") || c.startsWith("ERROR")) bad += 1
      val t = bench.get(k)
      val tStr = t.map(v => if (v < 0) "errored" else f"$v%.2f").getOrElse("unswept")
      val floor = LintBench.acceptedFloors.get(k)
        .map(v => f"$v%.2f").getOrElse("")
      val flags = Seq(
        if (t.exists(_ > LintBench.budgetSec)) Some("over-budget") else None,
        if (t.isEmpty) Some("unswept") else None,
        if (t.exists(_ < 0)) Some("errored") else None,
        if (c.startsWith("FAIL") || c.startsWith("ERROR")) Some("fail") else None,
        if (c.startsWith("unchecked")) Some("unchecked") else None,
        if (floor.nonEmpty) Some("floor-repinned") else None
      ).flatten.mkString(", ")
      sb ++= s"| $k | $c | $tStr | $floor | $flags |\n"
    }
    val timed = declared.toSeq.flatMap(bench.get).filter(_ >= 0)
    val stale = (bench.keySet -- declared).toSeq.sorted
    sb ++= f"\n**${declared.size} keys: $pass pass, $noOracle no-oracle, " +
      f"$bad fail/error, ${declared.size - pass - noOracle - bad} other; " +
      f"bench ${timed.size} timed, total ${timed.sum}%.1f s " +
      f"(${timed.sum / math.max(1, timed.size)}%.3f s/key)" +
      (if (stale.nonEmpty) s"; STALE bench keys: ${stale.mkString(",")}"
       else "") + "**\n"
    sb.toString
  }

  def main(args: Array[String]): Unit = print(report())
}
