package perfbench

import java.io.File

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum}

import graft.{Pins, SparkEntry}
import graft.plans.CubePipeline
import graft.sources.Sinks

/** Figures of one timed pass. `latencies` holds the user-facing ops
  * (keys, lookups); `cells`/`cellMs` feed the throughput metric.
  */
final class PassStats {
  val latencies: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty
  var wallMs = 0.0
  var cells = 0L
  var cellMs = 0.0
}

/** Runs ops, traced or not, and counts attempts and failures. A failed
  * op is one that threw or whose output check did not hold; nothing is
  * retried. `Pins.clearAll()` runs after every op, outside its time.
  */
final class OpRunner(log: String => Unit) {
  var tracer: Option[Tracer] = None
  var attempted = 0
  var failed = 0

  def time(kind: String, name: String)(body: Scope => Boolean): (Boolean, Double) = {
    attempted += 1
    def guarded(s: Scope): Boolean =
      try body(s)
      catch { case NonFatal(e) => log(s"$kind $name failed: $e"); false }
    val (ok, ms) = tracer match {
      case Some(t) =>
        val (ok, o) = t.op(kind, name)(guarded)
        (ok, o.wallMs)
      case None =>
        val t0 = System.nanoTime()
        val ok = guarded(Untraced)
        (ok, (System.nanoTime() - t0) / 1e6)
    }
    Pins.clearAll()
    if (!ok) { failed += 1; log(s"$kind $name: output check failed") }
    (ok, ms)
  }

  /** An untimed check that belongs to no op. */
  def check(name: String)(body: => Boolean): Boolean = {
    attempted += 1
    val ok = try body catch { case NonFatal(e) => log(s"check $name failed: $e"); false }
    if (!ok) { failed += 1; log(s"check $name: mismatch") }
    ok
  }
}

abstract class Workload {
  /** Inputs made before set-up and excluded from it. */
  def prepare(): Unit = ()
  /** The warm-up op each set-up runs in its fresh session. */
  def warm(spark: SparkSession): Unit
  /** The untimed pass that runs every op once and checks its output. */
  def check(spark: SparkSession, run: OpRunner): Unit
  /** One timed pass; pass `n` starts its op cycle at a seeded point. */
  def pass(spark: SparkSession, n: Int, run: OpRunner): PassStats
  def describeCheck: String
}

object Workloads {

  /** `sql_mix`: short relational and function queries over the sf0.1
    * fixture, at least one from each of `operators/`, `functions/` and
    * `streaming/` (batch form). Every key has oracle SQL.
    */
  val sqlMix: Seq[String] = Seq(
    "agg_gsets", "join_semi", "sub_in", "win_retention", "fn_math",
    "udf_sql", "stream_tumbling")

  /** `llm_curate`: composed LLM-data pipelines from `llm/`, chosen for
    * many jobs per key and eager materialization inside the builder.
    * No knn_ivf* key is listed: they share a per-dataset index cache, so
    * after the check pass they would measure search over a cached index,
    * never its build.
    *
    * Both lists have an odd length and keys of distinct cost, so the
    * median op falls on one key's samples, not on the gap between two.
    */
  val llmCurate: Seq[String] = Seq("corpus_mix", "text_bpe_encode", "corpus_curate")

  /** Stops the run before any timing when a listed key is not
    * registered in `SparkEntry.queries`.
    */
  def checkKeys(keys: Seq[String]): Unit = {
    val unknown = keys.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown workload keys: ${unknown.mkString(", ")}")
  }

  /** Pass order: the list rotated by `shift`. Every seed keeps the same
    * neighbours for each op, so seeds differ only in where the cycle
    * starts; a shuffled order was measured to move a pass's makespan by
    * up to 17% between seeds through which key follows which.
    */
  def rotation[T](xs: Seq[T], shift: Long): Seq[T] = {
    val r = Math.floorMod(shift, xs.size.toLong).toInt
    xs.drop(r) ++ xs.take(r)
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

/** A fixed list of `SparkEntry.queries` keys over one fixture directory.
  * Ops are timed from the builder call to the end of a noop-sink write;
  * the check pass collects each key's ordered result and compares its
  * digest with the committed one.
  */
final class KeyWorkload(keys: Seq[String], dataDir: String,
    digests: Map[String, (Long, String)], seed: Long,
    record: Option[File], log: String => Unit) extends Workload {

  Workloads.checkKeys(keys)
  private val fns = keys.map(k => k -> SparkEntry.queries(k)).toMap
  private val rows = mutable.Map.empty[String, Long]
  private val cells = mutable.Map.empty[String, Long]
  private var matched = 0

  def warm(spark: SparkSession): Unit = Workloads.noop(fns(keys.head)(spark, dataDir))

  def check(spark: SparkSession, run: OpRunner): Unit = {
    val seen = mutable.ArrayBuffer.empty[String]
    keys.foreach { k =>
      val t0 = System.nanoTime()
      run.check(k) {
        val df = fns(k)(spark, dataDir)
        val res = df.collect()
        rows(k) = res.length
        cells(k) = res.length.toLong * df.columns.length
        val d = Digest.of(res)
        seen += s"$k\t${res.length}\t$d"
        val ok = record.isDefined || digests.get(k).contains((res.length.toLong, d))
        if (ok) matched += 1
        ok
      }
      log(f"check $k: ${rows.getOrElse(k, -1L)} rows, ${(System.nanoTime() - t0) / 1e6}%.0f ms")
      Pins.clearAll()
    }
    record.foreach(f => java.nio.file.Files.write(f.toPath,
      seen.mkString("", "\n", "\n").getBytes("UTF-8")))
  }

  def describeCheck: String =
    s"$matched of ${keys.size} keys match the committed result digests"

  def pass(spark: SparkSession, n: Int, run: OpRunner): PassStats = {
    val ps = new PassStats
    val t0 = System.nanoTime()
    Workloads.rotation(keys, seed + n).foreach { k =>
      val (_, ms) = run.time("key", k) { s =>
        val df = s.built(s.build(fns(k)(spark, dataDir)))
        s.action(Workloads.noop(df))
        s.rows(rows.getOrElse(k, 0L))
        true
      }
      ps.latencies += ms
      ps.cells += cells.getOrElse(k, 0L)
      ps.cellMs += ms
    }
    ps.wallMs = (System.nanoTime() - t0) / 1e6
    ps
  }
}

/** `genesis_etl`: refresh a cell store from a generated two-revision
  * GENESIS corpus, then serve seeded lookups from it.
  */
final class GenesisWorkload(work: File, seed: Long) extends Workload {
  private val corpusDir = new File(work, "corpus")
  private val store = new File(work, "store").getAbsolutePath
  private val docs = new File(work, "docs").getAbsolutePath
  private var corpus: GenesisCorpus.Corpus = _
  var corpusSeconds = 0.0

  override def prepare(): Unit = {
    val t0 = System.nanoTime()
    corpus = GenesisCorpus.generate(corpusDir, seed)
    corpusSeconds = (System.nanoTime() - t0) / 1e9
  }

  def corpusSummary: String = {
    val m = corpus.manifest
    s"${m.cellsPerCube.size} cubes, ${corpus.v2.size} revised, ${corpus.records} data " +
      s"records, ${m.cells} merged cells, ${m.docs} docs, ${m.lookups.size} lookups"
  }

  def warm(spark: SparkSession): Unit =
    Workloads.noop(CubePipeline.parseAll(spark, corpus.v1.take(1)))

  /** parse both revisions → latest revision → cell store → fact docs. */
  private def refresh(spark: SparkSession, s: Scope): Unit = {
    val merged = s.build {
      val r1 = CubePipeline.parseAll(spark, corpus.v1)
      val r2 = CubePipeline.parseAll(spark, corpus.v2)
      CubePipeline.latestRevision(Seq(r1 -> 1, r2 -> 2))
    }
    s.built(merged)
    s.sink(Sinks.writeSorted(merged, store, Seq("cube"), Seq("region", "time")))
    val facts = s.built(s.build(CubePipeline.facts(spark.read.parquet(store))))
    s.sink(Sinks.writeJsonDocs(facts, docs, Seq("cube")))
  }

  /** Data files under `dir`: (count, bytes). */
  private def files(dir: String): (Long, Long) = {
    val fs = Option(new File(dir)).toSeq.flatMap(d => walk(d))
      .filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
    (fs.size.toLong, fs.map(_.length).sum)
  }

  private def walk(d: File): Seq[File] =
    Option(d.listFiles()).toSeq.flatten.flatMap(f => if (f.isDirectory) walk(f) else Seq(f))

  /** The written store and documents against the manifest. */
  private def checkStore(spark: SparkSession): (Boolean, DataFrame) = {
    val m = corpus.manifest
    val st = spark.read.parquet(store)
    val got = st.groupBy("cube", "measure")
      .agg(count(lit(1)).as("n"), sum(col("value")).as("s")).collect()
    val cellsOk = got.groupBy(_.getString(0)).map { case (c, rs) =>
      c -> rs.map(_.getLong(2)).sum
    } == m.cellsPerCube
    val sumsOk = got.length == m.sums.size && got.forall { r =>
      val s = Option(r.getDecimal(3)).map(BigDecimal(_))
      m.sums.get((r.getString(0), r.getString(1))).contains(s)
    }
    val docsOk = spark.read.text(docs).count() == m.docs
    (cellsOk && sumsOk && docsOk, st)
  }

  private def lookups(st: DataFrame, order: Seq[GenesisCorpus.Lookup], run: OpRunner,
      ps: Option[PassStats]): Unit =
    order.foreach { l =>
      val (_, ms) = run.time("lookup", s"${l.region}:${l.from}-${l.to}") { s =>
        val df = s.built(s.build(CubePipeline.query(st, region = Some(l.region),
          measures = l.measures, timeFrom = Some(l.from), timeTo = Some(l.to))))
        val n = s.action(df.collect().length)
        s.rows(n)
        n == l.rows
      }
      ps.foreach(_.latencies += ms)
    }

  private var checkedStore: DataFrame = _
  // Every lookup is checked in each timed pass; the check pass only
  // warms the lookup path.
  private val warmLookups = 5

  def check(spark: SparkSession, run: OpRunner): Unit = {
    run.time("refresh", "check")(s => { refresh(spark, s); true })
    run.check("store") { val (ok, st) = checkStore(spark); checkedStore = st; ok }
    lookups(checkedStore, corpus.manifest.lookups.take(warmLookups), run, None)
  }

  def describeCheck: String =
    "store cells, per-measure decimal sums and document count match the manifest " +
      "after every refresh; every timed lookup returns its manifest row count"

  def pass(spark: SparkSession, n: Int, run: OpRunner): PassStats = {
    val ps = new PassStats
    val (_, refreshMs) = run.time("refresh", s"pass$n") { s =>
      refresh(spark, s)
      true
    }
    val (cnt, bytes) = files(store)
    run.tracer.foreach(_.ingest(corpus.manifest.cells, bytes, cnt + files(docs)._1))
    var st: DataFrame = null
    run.check("store") { val (ok, s) = checkStore(spark); st = s; ok }
    val t1 = System.nanoTime()
    lookups(st, Workloads.rotation(corpus.manifest.lookups, seed + n), run, Some(ps))
    ps.wallMs = refreshMs + (System.nanoTime() - t1) / 1e6
    ps.cells = corpus.manifest.cells
    ps.cellMs = refreshMs
    ps
  }
}
