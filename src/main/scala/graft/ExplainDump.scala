package graft

/** Physical-plan dump harness: write `explain("formatted")` output for
  * named keys (or every key) to one file per key — the optimization
  * round's evidence artifacts (plans/rN/<key>_{before,after}.txt) and
  * the quickest way to audit Exchange counts / join strategies /
  * PushedFilters across the whole board without the UI.
  *
  * Usage:
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *     sbt "runMain graft.ExplainDump /tmp/plans _before dq_reconcile ..."
  *
  * arg0 = output directory, arg1 = filename suffix, rest = keys
  * (empty rest = all keys). Formatted mode is the PHYSICAL plan with
  * operator details (PushedFilters, ReadSchema, join build side).
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ExplainDump <outDir> <suffix> [keys…]")
    val keys = Bench.selectKeys(args.drop(2).toSeq)
    val outDir = new java.io.File(args(0))
    outDir.mkdirs()
    val suffix = args(1)
    val spark = GraftSession.local(Bench.cpus)
    keys.foreach { case (name, fn) =>
      val txt =
        try fn(spark, Bench.sfDir)
          .queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
        catch { case e: Throwable => s"ERR:$e" }
      val w = new java.io.PrintWriter(new java.io.File(outDir, s"$name$suffix.txt"))
      try w.println(txt) finally w.close()
      Pins.clearAll()
    }
    spark.stop()
  }
}
