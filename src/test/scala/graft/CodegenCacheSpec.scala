package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** The generated-code cache holds a workload's classes across passes:
  * a second same-order pass over a sweep of ~105 classes compiles
  * nothing. At Spark's default size (100 entries) the cyclic sweep
  * evicted classes before their next use and recompiled them on every
  * pass (33 and 47 of ~105 in two sf0.001 runs).
  *
  * `multimodal_neardup` and `dq_fk` run the same bodies under a
  * different whole-stage number from run to run (AQE numbers stages in
  * the order they are created); they stay cached only because the
  * session leaves the number out of the class name.
  *
  * `corpus_curate`, the third `llm_curate` key, is left out: on some
  * runs AQE plans its near-duplicate verify joins into a different
  * stage shape, so it compiles 0–2 classes on a warm pass whatever the
  * cache size. The `agg_*` keys stand in with as many classes and none
  * that vary.
  */
class CodegenCacheSpec extends SparkSpec {

  test("a second pass over a 100+-class sweep compiles no new class") {
    val keys = Seq("corpus_mix", "text_bpe_encode",
      "agg_cube", "agg_bitmap_distinct", "agg_approx", "agg_countmin",
      "multimodal_neardup", "dq_fk")
    def pass(): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      keys.foreach { k =>
        try SparkEntry.queries(k)(spark, sf).write.format("noop").mode("overwrite").save()
        finally Pins.clearAll()
      }
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    val first = pass()
    val second = pass()
    assert(second == 0, s"second pass compiled $second classes (first: $first)")
  }
}
