package graft

/** Closing-sweep coverage and budget guard (r15, from the r11
  * post-mortem). Five keys once landed AFTER the round's last full
  * bench sweep, shipped untimed, and one of them (multimodal_neardup)
  * hung the round's bench — the round closed with no performance
  * evidence at all. This lint makes the check mechanical, on the
  * NEWEST `BENCH_FRESH_r*.json` (one full sweep's readings, as
  * `graft.Bench` writes them):
  *
  *   - coverage: per-query key set == `SparkEntry.queries` (missing
  *     key, stale leftover key, errored −1 reading; no file at all
  *     fails too);
  *   - budget: any reading over the 2 s per-query budget fails. A run
  *     hit by ambient load is re-run, not waived.
  *
  * Run it after a full `runMain graft.Bench` sweep. No SparkSession —
  * a plain file scan through [[Bench.queryTimes]], so it runs in
  * milliseconds. Core is [[lint]] so LintBenchSpec can drive it over
  * planted fixture files.
  */
object LintBench {

  /** Per-query budget (seconds) — the repo-wide 2 s line. */
  val budgetSec = 2.0

  /** All failure messages for the newest of `freshes` (BENCH_FRESH
    * files, any order) against the `declared` key set: missing,
    * errored (−1) and stale keys, then keys over budget. Empty = clean.
    */
  def lint(freshes: Seq[java.io.File], declared: Set[String]): Seq[String] = {
    if (freshes.isEmpty)
      return Seq("no BENCH_FRESH_r*.json found (run graft.Bench)")
    val newest = freshes.maxBy(Bench.roundOf)
    val swept = Bench.queryTimes(java.nio.file.Files.readString(newest.toPath))
    val keys = declared.toSeq.sorted
    Seq(
      "missing" -> keys.filterNot(swept.contains),
      "errored" -> keys.filter(k => swept.get(k).exists(_ < 0)),
      "stale" -> (swept.keySet -- declared).toSeq.sorted,
      s"over-budget(>${budgetSec}s)" -> keys.filter(k => swept.get(k).exists(_ > budgetSec))
        .map(k => f"$k=${swept(k)}%.2f")
    ).collect { case (what, ks) if ks.nonEmpty =>
      s"[fresh r${Bench.roundOf(newest)}] $what=${ks.mkString(",")}"
    }
  }

  def main(args: Array[String]): Unit = {
    val freshes = Bench.benchFiles("BENCH_FRESH_r\\d+\\.json")
    val failures = lint(freshes, SparkEntry.queries.keySet)
    if (failures.nonEmpty) {
      failures.foreach(m => System.err.println(s"LINT_BENCH FAIL: $m"))
      sys.exit(1)
    }
    println(s"LINT_BENCH OK: ${freshes.maxBy(Bench.roundOf).getName} " +
      s"covers all ${SparkEntry.queries.size} registered keys, none " +
      s"errored, none over ${budgetSec}s")
  }
}
