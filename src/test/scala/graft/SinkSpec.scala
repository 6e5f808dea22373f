package graft

import graft.sources.Sinks
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Write-side layout evidence: partitioned writes produce Hive-style
  * directories that prune at read time, and JSON-doc exports round-trip.
  */
class SinkSpec extends SparkSpec {

  /** `write` from the default overwrite mode leaves every session conf
    * as it found it: dynamic mode stays on the writer. */
  private def assertConfUnchanged(write: => Unit): Unit = {
    spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    val before = spark.conf.getAll
    write
    assert(spark.conf.getAll == before)
  }

  test("partitioned write prunes directories on read-back filter") {
    val out = Files.createTempDirectory("sink").resolve("docs").toString
    val docs = T.documents(spark, sf)
    Sinks.writePartitioned(docs, out, Seq("lang"))
    // Hive-style layout: one directory per lang value
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("lang=")).sorted
    val langs = docs.select("lang").distinct().collect().map(_.getString(0)).sorted
    assert(dirs.toSeq == langs.map("lang=" + _).toSeq)

    val back = spark.read.parquet(out).filter(col("lang") === langs.head)
    // partition filter reaches the scan: directory pruning, no data read
    // from other langs
    val scan = back.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [isnotnull(lang"), scan)
    assert(back.count() ==
      docs.filter(col("lang") === langs.head).count())
  }

  test("sorted layout: every output file is internally ordered on the sort column") {
    val out = Files.createTempDirectory("sink").resolve("ev").toString
    val ev = T.events(spark, sf)
      .select(col("event_type"), col("event_id"),
        date_trunc("second", col("ts")).as("tss"))
    // small maxRecordsPerFile forces several files per partition, so
    // the assertion covers per-FILE ordering, not just per-partition
    Sinks.writeSorted(ev, out, Seq("event_type"), Seq("tss"), 200L)
    val files = new java.io.File(out).listFiles().filter(_.isDirectory)
      .flatMap(_.listFiles()).filter(_.getName.endsWith(".parquet"))
    assert(files.length > ev.select("event_type").distinct().count(),
      "expected multiple files per partition")
    files.foreach { f =>
      val ts = spark.read.parquet(f.getPath).select("tss")
        .collect().map(_.getTimestamp(0))
      assert(ts.zip(ts.drop(1)).forall { case (a, b) => !a.after(b) },
        s"${f.getName}: rows not sorted on tss within the file")
    }
  }

  test("skewed partition splits into multiple files under maxRecordsPerFile") {
    val out = Files.createTempDirectory("sink").resolve("skew").toString
    // all rows in ONE partition value; cap forces multiple files
    val df = spark.range(10000).withColumn("p", lit("hot"))
    Sinks.writePartitioned(df.toDF(), out, Seq("p"), maxRecordsPerFile = 1000L)
    val files = new java.io.File(s"$out/p=hot").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(files.length >= 10, s"expected >=10 files, got ${files.length}")
    assert(spark.read.parquet(out).count() == 10000)
  }

  test("replacePartitions refreshes only the partitions present in the new data") {
    import spark.implicits._
    val out = Files.createTempDirectory("sink").resolve("store").toString
    val v1 = Seq(("A", 1L, "old"), ("A", 2L, "old"), ("B", 3L, "old"))
      .toDF("cube", "id", "rev")
    Sinks.writePartitioned(v1, out, Seq("cube"))
    // Re-download of cube B only: its partition is replaced wholesale,
    // cube A must be byte-untouched.
    val v2 = Seq(("B", 9L, "new")).toDF("cube", "id", "rev")
    assertConfUnchanged(Sinks.replacePartitions(v2, out, Seq("cube")))
    val back = spark.read.parquet(out)
      .select("cube", "id", "rev").orderBy("cube", "id")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq
    assert(back == Seq(("A", 1L, "old"), ("A", 2L, "old"), ("B", 9L, "new")),
      back.toString)
  }

  test("compaction rewrites a many-file partition to few files, same data") {
    val out = Files.createTempDirectory("sink").resolve("frag").toString
    val df = spark.range(5000).withColumn("p", lit("hot"))
    // fragment: 1000-row file cap → ≥5 files
    Sinks.writePartitioned(df.toDF(), out, Seq("p"), maxRecordsPerFile = 1000L)
    def files() = new java.io.File(s"$out/p=hot").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(files().length >= 5)
    val before = spark.read.parquet(out).select("id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assertConfUnchanged(
      Sinks.compactPartition(spark, out, "p", "hot", targetFiles = 2))
    assert(files().length == 2, s"expected 2 files, got ${files().length}")
    val after = spark.read.parquet(out).select("id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(after == before, "compaction must not change the data")
  }

  test("JSON fact-doc export round-trips the nested documents") {
    val out = Files.createTempDirectory("sink").resolve("facts").toString
    val facts = graft.operators.DomainOps.queries("facts_nest")(spark, sf)
      .withColumn("shard", (col("custkey") % 2).cast("int"))
    Sinks.writeJsonDocs(facts, out, Seq("shard"))
    val back = spark.read.json(out)
    assert(back.count() == facts.count())
    // the nested doc string survives byte-for-byte
    val origDoc = facts.filter(col("custkey") === 1).collect()(0).getAs[String]("doc")
    val backDoc = back.filter(col("custkey") === 1).collect()(0).getAs[String]("doc")
    assert(origDoc == backDoc)
  }
}
