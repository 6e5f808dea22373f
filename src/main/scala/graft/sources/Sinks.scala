package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode}

/** Write-side layout helpers (SURVEY.md §2.1 sink row). The reference's
  * sink is an Elasticsearch bulk index of nested fact docs
  * [R: genesapi/elastic.py — UNVERIFIED]; Spark-first, the sink is a
  * columnar lake write whose LAYOUT is the index: partition directories
  * give coarse pruning (a query on one `lang`/`cube`/day touches one
  * directory subtree), buckets give shuffle-free joins on the bucket
  * key (see ScaleSpec's bucketed-join evidence).
  *
  * Scale notes (100 TB):
  *   - Partition by LOW-cardinality columns only (lang, date, cube id).
  *     A high-cardinality partition column (doc_id!) means millions of
  *     tiny directories — metadata death. Bucket high-cardinality keys
  *     instead.
  *   - `maxRecordsPerFile` bounds file size under skewed partitions so
  *     a hot partition becomes many parallel-readable files, not one
  *     giant one.
  *   - Writers repartition on the partition columns first: each task
  *     then writes to ONE directory (without it, every task appends a
  *     file into every open partition — small-file explosion).
  */
object Sinks {

  /** Hive-style partitioned parquet write. Read-back filters on
    * `partCols` prune whole directories (PartitionFilters in the scan,
    * asserted in SinkSpec).
    */
  def writePartitioned(df: DataFrame, path: String, partCols: Seq[String],
      maxRecordsPerFile: Long = 5000000L): Unit =
    df.repartition(partCols.map(df.col): _*)
      .write.mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy(partCols: _*)
      .parquet(path)

  /** Partitioned write with IN-FILE ordering on `sortCols`: rows inside
    * every output file arrive sorted, so parquet row-group min/max
    * statistics become a fine-grained range index — a predicate on the
    * sort column skips whole row groups (disjoint ranges), where an
    * unsorted file's row groups all span the full value range and
    * nothing skips. The layout every time-series table wants: partition
    * by coarse key (day/cube/type), sort by timestamp within.
    * Repartition on partCols THEN sortWithinPartitions: each task
    * writes one directory AND contiguous ranges per file — adding the
    * sort costs no extra shuffle beyond writePartitioned's.
    */
  def writeSorted(df: DataFrame, path: String, partCols: Seq[String],
      sortCols: Seq[String], maxRecordsPerFile: Long = 5000000L): Unit =
    df.repartition(partCols.map(df.col): _*)
      .sortWithinPartitions((partCols ++ sortCols).map(df.col): _*)
      .write.mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy(partCols: _*)
      .parquet(path)

  /** Bucketed + sorted table write: co-locates rows by `bucketCol` so
    * equi-joins and aggregations on that key need no shuffle at read
    * time. Requires a table name (bucketing metadata lives in the
    * catalog, not the directory layout).
    */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
      nBuckets: Int): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(nBuckets, bucketCol).sortBy(bucketCol)
      .saveAsTable(table)

  /** JSON-lines export of nested fact documents, partitioned — the
    * Elasticsearch-bulk-index analogue: each partition directory is an
    * independently shippable index segment.
    */
  def writeJsonDocs(df: DataFrame, path: String, partCols: Seq[String]): Unit =
    df.repartition(partCols.map(df.col): _*)
      .write.mode(SaveMode.Overwrite)
      .partitionBy(partCols: _*)
      .json(path)

  /** Checkpointed streaming parquet sink, drained with the AvailableNow
    * trigger: processes everything currently available in the source,
    * then stops — the batch-shaped way to run a streaming pipeline
    * (periodic catch-up jobs share one checkpoint and each run picks up
    * EXACTLY the new input; the sink's transaction log gives
    * exactly-once output even across restarts — asserted in
    * StreamingSpec by re-running against a grown source directory).
    * The same call with a processing-time trigger is the always-on
    * form; AvailableNow is what a 100 TB backfill or incremental
    * refresh actually uses.
    */
  def streamToParquet(df: DataFrame, path: String, checkpoint: String,
      partCols: Seq[String] = Nil): Unit = {
    val writer = df.writeStream
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
    val q = (if (partCols.nonEmpty) writer.partitionBy(partCols: _*)
             else writer).start()
    q.awaitTermination()
  }

  /** Small-file compaction for one partition directory: rewrite its
    * many files (streaming micro-batches, skew splits, repeated
    * appends all produce them) into `targetFiles`. Files-per-partition
    * is the other half of the layout story: thousands of 1 MB files
    * cost a metadata round-trip each at plan time and starve the scan
    * of full-size reads.
    *
    * In-place rewrite requires breaking lineage first — Spark refuses
    * to overwrite a path its own plan reads from — so the partition is
    * materialized via [[graft.Ckpt.eager]] before the dynamic
    * overwrite replaces just that directory. Dynamic mode is a writer
    * option, not a session conf: other queries in the session keep
    * their own overwrite mode.
    */
  def compactPartition(spark: org.apache.spark.sql.SparkSession,
      path: String, partCol: String, partValue: String,
      targetFiles: Int): Unit = {
    val part = graft.Ckpt.eager(spark.read.parquet(path)
      .filter(org.apache.spark.sql.functions.col(partCol) === partValue))
    part.repartition(targetFiles)
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partCol).parquet(path)
  }

  /** Latest-revision-wins storage refresh (the reference's re-download
    * semantics [R: genesapi/storage.py — UNVERIFIED]): overwrite ONLY
    * the partitions present in `df`, leave every other partition
    * untouched. Dynamic partition-overwrite does this natively — no
    * read-modify-write of the whole table, so a 100 TB store refreshes
    * one cube's directory in O(new data). The mode is set on this
    * writer only; the session conf is left alone.
    */
  def replacePartitions(df: DataFrame, path: String,
      partCols: Seq[String]): Unit =
    df.repartition(partCols.map(df.col): _*)
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partCols: _*)
      .parquet(path)
}
