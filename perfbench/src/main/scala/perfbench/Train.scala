package perfbench

import java.io.File

import graft.{GraftSession, Pins, SparkEntry}
import graft.plans.CubePipeline
import graft.sources.Sinks

/** Class-loading run for the JVM's class-data archive (see run.py): goes
  * once through the Spark paths the workloads use — parquet scans, the
  * cube parser, the revision merge, partitioned parquet and JSON
  * writes, noop writes and collects — so later runs load those classes
  * from the archive. Nothing here is timed.
  *
  *   perfbench.Train <fixture dir> <scratch dir>
  */
object Train {
  def main(args: Array[String]): Unit = {
    val Array(data, scratch) = args
    val work = new File(scratch)
    val spark = GraftSession.local(Runtime.getRuntime.availableProcessors())
    try {
      val corpus = GenesisCorpus.generate(new File(work, "corpus"), 1,
        GenesisCorpus.Spec(cubes = 4, cells = 400, lookups = 4))
      val merged = CubePipeline.latestRevision(Seq(
        CubePipeline.parseAll(spark, corpus.v1) -> 1,
        CubePipeline.parseAll(spark, corpus.v2) -> 2))
      val store = new File(work, "store").getPath
      Sinks.writeSorted(merged, store, Seq("cube"), Seq("region", "time"))
      Sinks.writeJsonDocs(CubePipeline.facts(spark.read.parquet(store)),
        new File(work, "docs").getPath, Seq("cube"))
      CubePipeline.query(spark.read.parquet(store), region = Some("01")).collect()
      Seq(Workloads.sqlMix.head, Workloads.llmCurate.head).foreach { k =>
        Workloads.noop(SparkEntry.queries(k)(spark, data))
        SparkEntry.queries(k)(spark, data).collect()
        Pins.clearAll()
      }
    } finally spark.stop()
  }
}
