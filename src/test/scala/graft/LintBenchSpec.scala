package graft

import org.scalatest.funsuite.AnyFunSuite

/** Planted-fixture drive of [[LintBench.lint]] (r16 = driver round 13,
  * r12 verdict #4): each failure mode is demonstrated on a fixture
  * built to trip exactly it, plus a clean file that must pass. Also
  * the harness mains' shared pieces: key selection, the round-file
  * reader, the operator registry's counts and `Verify`'s arguments.
  */
class LintBenchSpec extends AnyFunSuite {

  private def plant(dir: java.nio.file.Path, round: Int,
      entries: (String, Double)*): java.io.File = {
    val qs = entries.map { case (k, v) => s""""$k":$v""" }
      .mkString("{", ",", "}")
    // Summary embedded exactly the way Bench.main writes it — the lint
    // reads only the pairs before it (Bench.queryTimes).
    val summary = s"""{"metric":"total","value":9.9,"unit":"sec",""" +
      s""""nqueries":${entries.size},"timed":${entries.size},""" +
      s""""errors":[],"retried":[],"loadavg_before":0.5,""" +
      s""""loadavg_after":0.6,"sf":"x"}"""
    val f = dir.resolve(s"BENCH_FRESH_r$round.json").toFile
    val w = new java.io.PrintWriter(f)
    try w.println(s"""{"queries":$qs,"summary":$summary}""") finally w.close()
    f
  }

  private def fresh() = java.nio.file.Files.createTempDirectory("lintbench")

  test("clean history passes; embedded summary numerics are not stale keys") {
    val d = fresh()
    val files = Seq(
      plant(d, 1, "a" -> 0.5, "b" -> 0.5),
      plant(d, 2, "a" -> 0.55, "b" -> 0.62),
      plant(d, 3, "a" -> 0.6, "b" -> 1.99))
    assert(LintBench.lint(files, Set("a", "b")).isEmpty)
  }

  test("missing / errored / stale keys fail against the newest detail") {
    val d = fresh()
    val files = Seq(plant(d, 1, "a" -> 0.5, "b" -> -1.0, "zombie" -> 0.3))
    val msgs = LintBench.lint(files, Set("a", "b", "c")).mkString("\n")
    assert(msgs.contains("missing=c"), msgs)
    assert(msgs.contains("errored=b"), msgs)
    assert(msgs.contains("stale=zombie"), msgs)
  }

  test("a reading over the 2 s budget fails even with no history") {
    val d = fresh()
    val files = Seq(plant(d, 1, "a" -> 2.5, "b" -> 0.5))
    val msgs = LintBench.lint(files, Set("a", "b")).mkString("\n")
    assert(msgs.contains("over-budget") && msgs.contains("a=2.50"), msgs)
  }

  test("an r8-style round file written with \": \" spacing parses " +
    "and is linted") {
    val d = fresh()
    // The r8 round file was written by a JSON dumper: `"key": 0.195`,
    // a space after every colon, and its summary carries extra fields.
    val r8 = d.resolve("BENCH_FRESH_r8.json")
    java.nio.file.Files.writeString(r8,
      """{"queries": {"a": 1.0, "b": -1.0}, "summary": {"metric": """ +
        """"total", "value": 74.179, "unit": "sec", "nqueries": 2, """ +
        """"errors": ["b"], "note": "merged"}, "note": "merged"}""" + "\n")
    assert(Bench.queryTimes(java.nio.file.Files.readString(r8)) ==
      Map("a" -> 1.0, "b" -> -1.0))
    assert(LintBench.lint(Seq(r8.toFile), Set("a", "b")) ==
      Seq("[fresh r8] errored=b"))
  }

  test("key selection: all keys sorted when none is named, else exactly " +
    "the named ones; unknown names fail by name") {
    val all = SparkEntry.queries.keySet
    assert(Bench.selectKeys(Nil).map(_._1) == all.toSeq.sorted)
    assert(Bench.selectKeys(Seq("scan_parquet", "agg_cube", "agg_cube"))
      .map(_._1) == Seq("agg_cube", "scan_parquet"))
    val e = intercept[IllegalArgumentException](
      Bench.selectKeys(Seq("agg_cube", "no_such_key", "nor_this")))
    assert(e.getMessage.contains("no_such_key, nor_this"), e.getMessage)
  }

  test("surface counts: 244 keys / 240 oracled — bump HERE plus README/SURVEY") {
    // The tracked counts went stale three rounds running (r10 verdict
    // directive #5): this assertion is the single source of truth. A
    // new key fails it on purpose — update the expected counts here
    // AND the two doc call-sites in the same commit:
    //   README.md          ("§2 is the operator contract: N keys, M …")
    //   SURVEY.md §2 totals ("Totals: N operator keys … M with …")
    assert(SparkEntry.queries.size == 244,
      s"queries.size = ${SparkEntry.queries.size}")
    assert(SparkEntry.oracleSql.size == 240,
      s"oracleSql.size = ${SparkEntry.oracleSql.size}")
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without a query: $orphans")
    // The registry is a union of module maps, so a key that two modules
    // register would silently keep only the later operator.
    def shadowed(maps: Seq[Map[String, _]]): String =
      maps.flatMap(_.keys).groupBy(identity).collect {
        case (k, ks) if ks.size > 1 => k
      }.toSeq.sorted.mkString(", ")
    val (queryMaps, oracleMaps) = SparkEntry.modules.unzip
    assert(queryMaps.map(_.size).sum == SparkEntry.queries.size,
      s"— keys registered by more than one module: ${shadowed(queryMaps)}")
    assert(oracleMaps.map(_.size).sum == SparkEntry.oracleSql.size,
      s"— oracles registered by more than one module: ${shadowed(oracleMaps)}")
  }

  test("no detail file at all fails") {
    assert(LintBench.lint(Seq.empty, Set("a")).nonEmpty)
  }

  test("fresh artifact (r18 verdict #1): the newest file is gated — " +
    "missing / errored / stale and a complete slow run fail, " +
    "no file at all fails") {
    val d = fresh()
    // Coverage problems on the newest fresh file fail by name.
    val bad = Seq(plant(d, 2, "a" -> 0.5, "b" -> -1.0, "zombie" -> 0.3))
    val msgs = LintBench.lint(bad, Set("a", "b", "c")).mkString("\n")
    assert(msgs.contains("[fresh r2] missing=c"), msgs)
    assert(msgs.contains("[fresh r2] errored=b"), msgs)
    assert(msgs.contains("[fresh r2] stale=zombie"), msgs)
    // A complete fresh run over the 2 s budget fails: the fresh file is
    // the only record, and a run hit by load is re-run, not waived.
    val slow = Seq(plant(d, 3, "a" -> 2.5, "b" -> 0.5))
    assert(LintBench.lint(slow, Set("a", "b")) ==
      Seq("[fresh r3] over-budget(>2.0s)=a=2.50"))
    // The NEWEST round's file is the one checked.
    val quick = plant(d, 4, "a" -> 0.5, "b" -> 0.5)
    assert(LintBench.lint(bad ++ slow :+ quick, Set("a", "b")).isEmpty)
    assert(LintBench.lint(Seq.empty, Set("a")).nonEmpty)
  }

  test("Verify names its usage when given fewer than two arguments") {
    val e = intercept[IllegalArgumentException](Verify.main(Array("x")))
    assert(e.getMessage.contains("usage:"), e.getMessage)
  }
}
