package graft

import org.scalatest.funsuite.AnyFunSuite

/** Planted-fixture drive of [[LintBench.lint]] (r16 = driver round 13,
  * r12 verdict #4): each failure mode is demonstrated on a fixture
  * built to trip exactly it, plus a clean set that must pass — the
  * drift trigger in particular is pinned to "BOTH of the last two
  * rounds above older-min + 0.3 s", with negative controls for a
  * single spike and for a key too new to have a baseline.
  */
class LintBenchSpec extends AnyFunSuite {

  private def plant(dir: java.nio.file.Path, round: Int,
      entries: (String, Double)*): java.io.File =
    plantAs("DETAIL", dir, round, entries)

  private def plantFresh(dir: java.nio.file.Path, round: Int,
      entries: (String, Double)*): java.io.File =
    plantAs("FRESH", dir, round, entries)

  private def plantAs(kind: String, dir: java.nio.file.Path, round: Int,
      entries: Seq[(String, Double)]): java.io.File = {
    val qs = entries.map { case (k, v) => s""""$k":$v""" }
      .mkString("{", ",", "}")
    // Summary embedded exactly the way Bench.main writes it — the lint
    // reads only the pairs before it (Bench.queryTimes).
    val summary = s"""{"metric":"total","value":9.9,"unit":"sec",""" +
      s""""nqueries":${entries.size},"timed":${entries.size},""" +
      s""""errors":[],"retried":[],"loadavg_before":0.5,""" +
      s""""loadavg_after":0.6,"sf":"x"}"""
    val f = dir.resolve(s"BENCH_${kind}_r$round.json").toFile
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
      plant(d, 3, "a" -> 0.6, "b" -> 0.5))
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

  test("drift: two consecutive rounds above older-min + 0.3 fail; " +
    "a single spike or a two-round-old key do not") {
    val d = fresh()
    // a regresses 1.0 → 1.4 → 1.45 (both last rounds over 1.3) = drift;
    // b spikes once then recovers = clean; n has only 2 rounds = clean.
    val files = Seq(
      plant(d, 1, "a" -> 1.0, "b" -> 1.0),
      plant(d, 2, "a" -> 1.4, "b" -> 1.9, "n" -> 1.0),
      plant(d, 3, "a" -> 1.45, "b" -> 1.05, "n" -> 1.9))
    val msgs = LintBench.lint(files, Set("a", "b", "n"))
    assert(msgs.size == 1 && msgs.head.contains("drift") &&
      msgs.head.contains("a:"), msgs.mkString("\n"))
    assert(!msgs.head.contains("b:") && !msgs.head.contains("n:"),
      msgs.mkString("\n"))
  }

  test("drift: an r8-style history file written with \": \" spacing " +
    "counts as a round") {
    val d = fresh()
    // The r8 board was written by a JSON dumper: `"key": 0.195`, a
    // space after every colon, and its summary carries extra fields.
    val r8 = d.resolve("BENCH_DETAIL_r8.json")
    java.nio.file.Files.writeString(r8,
      """{"queries": {"a": 1.0, "b": -1.0}, "summary": {"metric": """ +
        """"total", "value": 74.179, "unit": "sec", "nqueries": 2, """ +
        """"errors": ["b"], "note": "merged"}, "note": "merged"}""" + "\n")
    assert(Bench.queryTimes(java.nio.file.Files.readString(r8)) ==
      Map("a" -> 1.0, "b" -> -1.0))
    // a's only baseline is the r8 reading: 1.0 → 1.4 → 1.45 drifts.
    val files = Seq(r8.toFile,
      plant(d, 9, "a" -> 1.4, "b" -> 0.5),
      plant(d, 10, "a" -> 1.45, "b" -> 0.5))
    val msgs = LintBench.lint(files, Set("a", "b"))
    assert(msgs.size == 1 && msgs.head.startsWith("[r10] drift: a: r9=1.40,r10=1.45"),
      msgs.mkString("\n"))
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
  }

  test("no detail file at all fails") {
    assert(LintBench.lint(Seq.empty, Set("a")).nonEmpty)
  }

  test("fresh artifact (r18 verdict #1): newest file gates coverage — " +
    "missing / errored / stale fail, a clean slow run passes, " +
    "no file at all fails") {
    val d = fresh()
    // Coverage problems on the newest fresh file fail by name.
    val bad = Seq(plantFresh(d, 2, "a" -> 0.5, "b" -> -1.0, "zombie" -> 0.3))
    val msgs = LintBench.lintFresh(bad, Set("a", "b", "c")).mkString("\n")
    assert(msgs.contains("fresh missing=c"), msgs)
    assert(msgs.contains("fresh errored=b"), msgs)
    assert(msgs.contains("fresh stale=zombie"), msgs)
    // A complete fresh run passes even over the 2 s budget: fresh runs
    // are single load-exposed sweeps; budget/drift stay on the board.
    val slow = Seq(plantFresh(d, 3, "a" -> 2.5, "b" -> 0.5))
    assert(LintBench.lintFresh(slow, Set("a", "b")).isEmpty)
    // The NEWEST round's file is the one checked.
    assert(LintBench.lintFresh(bad ++ slow, Set("a", "b")).isEmpty)
    assert(LintBench.lintFresh(Seq.empty, Set("a")).nonEmpty)
  }

  private def prior(build: Option[String]) =
    """{"queries":{"a":0.40,"b":0.50,"c":0.30,"zombie":0.10},""" +
      build.map(b => s""""build":"$b",""").getOrElse("") +
      """"summary":{"metric":"total","value":1.3}}"""
  // a and b ran slower this run, c errored; zombie is no longer
  // declared, so this run never timed it.
  private val current = Seq("a" -> 0.55, "b" -> 0.45, "c" -> -1.0)

  test("min-merge: only a same-build prior merges") {
    val same = Bench.mergeDetail(current, "ab12", prior(Some("ab12"))).toMap
    assert(same == Map("a" -> 0.40, "b" -> 0.45, "c" -> -1.0),
      "same build: per-key min; the error sentinel wins; zombie dropped")
    assert(Bench.mergeDetail(current, "ab12", prior(Some("cd34"))) == current,
      "a different build merges nothing")
  }

  test("min-merge: a prior file with no build id merges nothing") {
    for (p <- Seq(prior(None), ""))
      assert(Bench.mergeDetail(current, "ab12", p) == current,
        s"a prior that cannot name its build merges nothing: $p")
    assert(Bench.mergeDetail(current, "", prior(Some(""))) == current,
      "an empty build id (no src/main) merges nothing")
  }

  test("build id: same bytes, same id; any edit changes it") {
    def tree(comment: String) = {
      val d = fresh()
      val f = d.resolve("src/main/scala/graft/A.scala")
      java.nio.file.Files.createDirectories(f.getParent)
      java.nio.file.Files.writeString(f, s"package graft\n// $comment\n")
      java.nio.file.Files.writeString(d.resolve("build.sbt"), "name := \"x\"\n")
      d.toFile
    }
    val id = Bench.buildId(tree("one"))
    assert(id.matches("[0-9a-f]{64}"), id)
    assert(Bench.buildId(tree("one")) == id, "same bytes in another dir")
    assert(Bench.buildId(tree("two")) != id, "one edited comment")
    assert(Bench.buildId(fresh().toFile) == "", "no src/main: empty id")
  }

  test("an accepted-floor re-pin clears an adjudicated regression; " +
    "readings above the re-pinned floor + slack still drift") {
    val d = fresh()
    // a's floor legitimately rose 1.0 → ~1.45 (adjudicated): without a
    // re-pin this history fails every round forever (r13 advice).
    val files = Seq(
      plant(d, 1, "a" -> 1.0),
      plant(d, 2, "a" -> 1.4),
      plant(d, 3, "a" -> 1.45))
    assert(LintBench.lint(files, Set("a"), Map.empty).nonEmpty,
      "control: without the re-pin this history must drift-fail")
    assert(LintBench.lint(files, Set("a"), Map("a" -> 1.45)).isEmpty,
      "re-pinned floor 1.45 clears readings within slack of it")
    // But the re-pin is a floor, not a waiver: one round above
    // floor + slack is a spike (clean); two consecutive fail again.
    val spike = files :+ plant(d, 4, "a" -> 1.8)
    assert(LintBench.lint(spike, Set("a"), Map("a" -> 1.45)).isEmpty,
      "one round over the accepted floor + slack is still a spike")
    val regressed = spike :+ plant(d, 5, "a" -> 1.82)
    assert(LintBench.lint(regressed, Set("a"), Map("a" -> 1.45)).nonEmpty,
      "two rounds > accepted floor + slack must still fail")
  }
}
