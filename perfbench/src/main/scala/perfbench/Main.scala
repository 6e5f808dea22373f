package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.{GraftSession, Pins}

/** Benchmark driver: one workload in one JVM, one `GraftSession.local` at a time.
  *
  *   --workload genesis_etl|sql_mix|llm_curate  --seed N  --seconds S
  *   --trace 0|1  --data DIR  --digests FILE  --work DIR  --trace-out FILE
  *   [--record-digests FILE]
  *
  * Order of a run: key lists checked against `SparkEntry.queries`;
  * inputs prepared (the GENESIS corpus; excluded from set-up); the
  * first set-up, a fresh session plus one warm-up op, in the cold JVM
  * (`setup.cold_s`); one untimed pass that runs every op once and
  * checks its output; whole timed passes until `--seconds` have
  * elapsed, at least four; then two more set-ups, each stopping the
  * session and making a fresh one. `setup_s` is the median of all three.
  * With `--trace 1` every second pass is traced, the later set-ups are
  * skipped and only per-layer metrics are reported. The last stdout
  * line is the JSON result.
  */
object Main {
  val setups = 3
  val minPasses = 4

  private def log(s: String): Unit = System.err.println(s"[perfbench] $s")

  private def loadavg(): String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).split(" ").take(3).mkString(" ")
    catch { case _: Exception => "n/a" }

  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse(sys.error("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def arg(k: String) = a.getOrElse(k, sys.error(s"missing --$k"))
    val workload = arg("workload")
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toDouble
    val traced = arg("trace") == "1"
    val work = new File(arg("work"))
    val cores = Runtime.getRuntime.availableProcessors()
    val record = a.get("record-digests").map(new File(_))

    val wl: Workload = workload match {
      case "genesis_etl" => new GenesisWorkload(work, seed)
      case "sql_mix" | "llm_curate" =>
        val digests = scala.io.Source.fromFile(arg("digests"), "UTF-8").getLines()
          .filter(_.nonEmpty).map(_.split("\t")).map(f => f(0) -> (f(1).toLong, f(2))).toMap
        val keys = if (workload == "sql_mix") Workloads.sqlMix else Workloads.llmCurate
        new KeyWorkload(keys, arg("data"), digests, seed, record, log)
      case other => sys.error(s"unknown workload $other")
    }

    val load0 = loadavg()
    var spark: SparkSession = null
    try {
      wl.prepare()
      wl match {
        case g: GenesisWorkload =>
          log(f"corpus: ${g.corpusSummary} (generated in ${g.corpusSeconds}%.2f s, not in setup_s)")
        case _ => ()
      }

      def setUp(): Double = {
        val t0 = System.nanoTime()
        spark = GraftSession.local(cores)
        wl.warm(spark)
        val s = (System.nanoTime() - t0) / 1e9
        Pins.clearAll()
        s
      }
      val coldSetup = setUp()

      val run = new OpRunner(log)
      val c0 = System.nanoTime()
      wl.check(spark, run)
      log(f"check pass: ${(System.nanoTime() - c0) / 1e9}%.2f s, ${run.failed} failed")
      if (record.isDefined) { log(s"digests written to ${record.get}"); return }

      val tracer = new Tracer(spark, cores)
      val passes = mutable.ArrayBuffer.empty[(PassStats, Boolean)]
      val t0 = System.nanoTime()
      def elapsed = (System.nanoTime() - t0) / 1e9
      var n = 0
      while (elapsed < seconds || n < minPasses) {
        val tracedPass = traced && n % 2 == 1
        if (tracedPass) { tracer.attach(); run.tracer = Some(tracer) }
        val ps = try wl.pass(spark, n, run)
          finally if (tracedPass) { run.tracer = None; tracer.detach() }
        passes += ps -> tracedPass
        log(f"pass $n${if (tracedPass) " (traced)" else ""}: ${ps.wallMs / 1e3}%.2f s, " +
          f"${ps.latencies.size} ops, p50 ${Stats.median(ps.latencies.toSeq)}%.0f ms")
        n += 1
      }
      // The other set-ups come after the timed passes, in a JVM whose
      // JIT has settled, so that they measure session creation and a
      // first op rather than how far warm-up has got.
      val setupS = coldSetup +: (if (traced) Nil else (2 to setups).map { _ =>
        spark.stop()
        setUp()
      })
      log(s"set-ups: ${setupS.map(s => f"$s%.3f").mkString(" ")} s")
      val load1 = loadavg()
      val plain = passes.filterNot(_._2).map(_._1)
      val error = run.failed.toDouble / run.attempted
      val metrics: Seq[(String, Double, String)] =
        if (!traced) {
          val lat = plain.flatMap(_.latencies).toSeq
          Seq(
            ("setup_s", Stats.median(setupS), "s"),
            ("wall_s", Stats.median(plain.map(_.wallMs / 1e3).toSeq), "s"),
            ("op_p50_ms", Stats.quantile(lat, 0.5), "ms"),
            ("op_p90_ms", Stats.quantile(lat, 0.9), "ms"),
            ("ingest_cells_per_s", Stats.median(plain.map(p => p.cells / (p.cellMs / 1e3)).toSeq), "cells/s"))
        } else {
          // Each traced pass against the untraced pass right after it, so
          // the slower first pass (JIT still settling) is never the base.
          val overhead = Stats.median(passes.toSeq.sliding(2).collect {
            case Seq((t, true), (u, false)) => t.wallMs / u.wallMs
          }.toSeq) - 1
          val vals = Tracer.summarize(tracer.ops.toSeq, cores, overhead) +
            ("driver.peak_rss_mb" -> peakRssMb()) + ("setup.cold_s" -> coldSetup)
          Tracer.layerMetrics.map { case (k, u) => (k, vals(k), u) }
        }

      val out = System.out
      val nOps = plain.map(_.latencies.size).sum
      out.println(s"workload $workload  seed $seed  cores $cores  " +
        s"passes ${passes.size}${if (traced) " (every second one traced)" else ""}  loadavg $load0 -> $load1")
      metrics.foreach { case (k, v, u) => out.println(f"  $k%-26s $v%16.4f $u") }
      if (!traced) {
        out.println(f"  ${"peak_rss_mb"}%-26s ${peakRssMb()}%16.4f MB (driver VmHWM; not gated)")
        out.println(f"  ${"setup cold (first set-up)"}%-26s ${coldSetup}%16.4f s (not gated; per-layer setup.cold_s)")
        out.println(s"  samples: setup_s ${setupS.size} set-ups, wall_s ${plain.size} passes, " +
          s"op percentiles $nOps ops (${math.floor(nOps * 0.1).toInt} beyond p90)")
      } else {
        out.println(f"  self time by span kind over ${tracer.ops.size} traced ops:")
        tracer.selfTimes.foreach { case (k, total, self) =>
          out.println(f"    $k%-8s total $total%9d ms   self $self%9d ms")
        }
        val tf = new File(arg("trace-out"))
        tracer.writeTrace(tf)
        out.println(s"  trace: ${tracer.spans.size} spans written to $tf")
      }
      out.println(f"  error_rate ${error}%.4f (${run.failed} failed of ${run.attempted} attempted)")
      out.println(s"  output check: ${if (run.failed == 0) "ok" else "FAILED"} — ${wl.describeCheck}")
      val ms = metrics.map { case (k, v, u) =>
        s""""$k": {"value": ${if (v.isNaN || v.isInfinite) "null" else v.toString}, "unit": "$u"}"""
      }.mkString(", ")
      out.println(s"""{"correct": ${run.failed == 0}, "attempted": ${run.attempted}, """ +
        s""""failed": ${run.failed}, "metrics": {$ms}}""")
      out.flush()
    } finally {
      if (spark != null) { Pins.clearAll(); spark.stop() }
    }
  }
}
