package graft

import graft.functions.VectorExpressions
import org.apache.spark.sql.SparkSession

/** The library's session entry point: one place that encodes every
  * config the engine's semantics depend on, so embedding applications
  * (and this repo's own mains/specs) can't drift apart.
  *
  * Required by the engine:
  *   - UTC session timezone — every date/timestamp oracle + test is
  *     pinned UTC (SURVEY.md §7.5).
  *   - `nanosAsLong` — Spark 4 rejects TIMESTAMP(NANOS) parquet
  *     outright without it; [[T.events]] then converts to µs.
  *   - the native `graft_…` functions, injected as session extensions
  *     ([[VectorExpressions.inject]]): query builders and SQL text
  *     name them without registering them. A session built any other
  *     way fails analysis with `UNRESOLVED_ROUTINE` naming the function.
  * Scale defaults (overridable after build):
  *   - shuffle partitions sized to the core count, not the 200 default
  *     (right for local/small-cluster; raise to ~2-3× total cores on a
  *     real cluster).
  *   - AQE is left ON (Spark 4 default): runtime coalescing, skew-join
  *     splitting (evidence in ScaleSpec), dynamic join re-planning.
  *   - the generated-code cache holds `codegenCacheEntries` classes,
  *     not 100 (see there).
  */
object GraftSession {

  /** Size of Spark's generated-class cache
    * (`spark.sql.codegen.cache.maxEntries`, default 100).
    *
    * Why 100 thrashes: the engine runs the same plans again and again
    * (every bench pass, every refresh-then-lookup cycle), and each
    * pass revisits far more than 100 distinct classes, in a cycle.
    * Guava splits the cache into 4 segments that each evict LRU on
    * their own, so a cyclic sweep larger than a segment misses on
    * almost every lookup and recompiles (janino) the class it evicted
    * a moment ago. Measured in one session, two same-order passes over
    * all 244 keys: at sf0.1 with an unbounded cache, pass 1 compiled
    * 2,438 distinct classes and pass 2 compiled 44; at sf0.01 pass 1
    * compiled 2,419 distinct classes, and pass 2 compiled 3,301 again
    * at the default size against 28 at this size. The size is the
    * smallest power of two at least 1.5× the sf0.1 count.
    *
    * Memory: the cache keeps its classes loaded. At sf0.01 Metaspace
    * after pass 2 was 219 MB at this size against 201 MB at the
    * default, whose evicted classes get unloaded.
    *
    * The cache is JVM-global and is sized once, by the session conf in
    * force when Spark's `CodeGenerator` is first used in the JVM. Every
    * session built here gets this size; an application that embeds
    * the engine and compiles code before it builds a GraftSession
    * keeps Spark's default.
    */
  private val codegenCacheEntries: Int = 4096

  /** Preconfigured builder; callers may adjust before `getOrCreate`. */
  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .withExtensions(VectorExpressions.inject)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      // maxPartitionBytes stays at the 128 MB default DELIBERATELY
      // (r12, measured): shrinking it to 2 MB to "parallelize" the
      // single-file fixture scans made every probed key SLOWER
      // (fn_cast 1.70 → 2.13 s, scan_pruned 0.40 → 0.52 s min-of-5,
      // same conditions) — the parquet ROW GROUP is the decode unit,
      // so sub-row-group splits re-decode instead of parallelizing,
      // and the extra tasks are pure overhead. Per-row-EXPENSIVE
      // stages over small scans are parallelized the other way:
      // T.spread at the specific operator (the §7.6 r2 note).
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // ObjectHashAggregate (collect_list/collect_set aggregates —
      // the r19 grouped-posting candidate stages, the basket builds)
      // abandons its hash map for a PER-PARTITION SORT after only 128
      // distinct keys by Spark default — a safety valve sized for
      // huge per-group state, not for the million-key/small-list
      // grouping shapes this engine runs (a shingle-posting partition
      // holds ~30k+ keys of a few dozen bytes each, so every task was
      // paying a full sort of its partition). 2^20 keys × small lists
      // is ordinary hash-aggregate memory (the map holds roughly the
      // partition's own rows); the sort fallback remains as the
      // graceful path for genuinely pathological key counts. At
      // cluster scale, size this with executor memory alongside
      // advisoryPartitionSizeInBytes (keys/task scale with partition
      // bytes; the default 128 stays wrong at every scale for
      // small-state groups). Measured at sf0.1 (r19): corpus_curate
      // 1.56 → 1.22 s, dedup_ngram 0.96 → 0.81 s min-of-5 on the
      // grouped-posting shapes.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        (1 << 20).toString)
      .config("spark.sql.codegen.cache.maxEntries", codegenCacheEntries.toString)
      // The cache keys on the generated body; AQE numbers stages in the
      // order they are created, so the id would make one body two keys.
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.ui.enabled", "false")

  /** Build-and-quiet: the form the mains use. */
  def local(cores: Int): SparkSession = {
    val s = builder(s"local[$cores]", cores).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
