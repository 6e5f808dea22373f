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

  /** Eager form, for a frame that concurrently running AQE stages all
    * read. A lazy checkpoint is completed by whichever of their jobs
    * finishes first, which then cuts the lineage while the sibling
    * stages' tasks still compute the upstream plan. That plan's SQL
    * metrics are then garbage-collected under those tasks: their
    * updates are lost, and the scheduler logs `Failed to update
    * accumulator` once per metric. Materializing first costs one job
    * and leaves the siblings only reading blocks.
    */
  def eager(df: DataFrame): DataFrame = df.localCheckpoint(true)

  /** Chained form: `frame.select(...).ckptLocal`. */
  implicit class CkptOps(private val df: DataFrame) extends AnyVal {
    def ckptLocal: DataFrame = Ckpt.local(df)
  }
}
