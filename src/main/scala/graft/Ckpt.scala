package graft

import org.apache.spark.sql.DataFrame

/** Lazy local checkpoint — the engine's one way to cut a plan.
  *
  * `df.localCheckpoint(eager = false)`: the frame materializes on its
  * first action into executor-local blocks, and its logical plan becomes
  * a bare `LogicalRDD` leaf. That leaf hides the upstream subtree from
  * plan audits, and losing an executor loses the blocks (no lineage
  * recompute), so it suits local runs, not fault-tolerant production
  * jobs. Every checkpoint site routes through here so the primitive can
  * change in one place.
  */
object Ckpt {
  def local(df: DataFrame): DataFrame = df.localCheckpoint(false)

  /** Chained form: `frame.select(...).ckptLocal`. */
  implicit class CkptOps(private val df: DataFrame) extends AnyVal {
    def ckptLocal: DataFrame = Ckpt.local(df)
  }
}
