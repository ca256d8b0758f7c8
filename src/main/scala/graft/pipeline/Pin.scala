package graft.pipeline

import org.apache.spark.sql.DataFrame

/** The one pin policy: every lineage-truncating checkpoint in the engine
  * goes through here, so where a pinned intermediate lives is decided in
  * one place, from the platform rather than from a caller option.
  *
  *   - Local master: `localCheckpoint(eager)` — executor-local blocks,
  *     fast, and in local mode the driver IS the only executor, so there
  *     is no executor to lose. Eager pins materialize now; lazy pins
  *     materialize inside the next action that reads them (one job fewer).
  *   - Non-local master: an eager reliable `checkpoint()` into the
  *     SparkContext's checkpoint dir. An executor-local block dies with
  *     its executor, and a lineage-truncated plan cannot recompute it, so
  *     on a cluster no pinned intermediate may live only in executor
  *     storage. The pin is always eager there: it must land before the
  *     lineage is dropped. A cluster job therefore calls
  *     `SparkContext.setCheckpointDir(...)` before it runs.
  *
  * Lineage-preserving `persist()`/`cache()` is not a pin in this sense
  * (a lost block recomputes from its lineage) and does not go through here.
  */
object Pin {

  def apply(df: DataFrame, eager: Boolean = true): DataFrame =
    pin(df, eager, durable = !df.sparkSession.sparkContext.isLocal)

  /** The policy with the platform decision made explicit (the seam tests
    * use to reach the durable branch from a local session).
    */
  private[pipeline] def pin(df: DataFrame, eager: Boolean, durable: Boolean): DataFrame =
    if (!durable) df.localCheckpoint(eager)
    else {
      require(df.sparkSession.sparkContext.getCheckpointDir.isDefined,
        "a pin on a non-local master needs a reliable checkpoint dir: " +
          "call SparkContext.setCheckpointDir(<shared path>) before running the job")
      df.checkpoint(eager = true)
    }
}
