package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** The lifetime of per-call frames: caches and eager lineage cuts
  * (`localCheckpoint`) that nothing reads once the call returns.
  *
  * One release rule, three parts. Releases block: a fire-and-forget
  * removal keeps running into whatever executes next (a later read's
  * "Block rdd_*_* does not exist" under memory pressure). Releases run
  * most-derived-first: `Dataset.unpersist` is non-cascading, so dropping
  * an entry that live cached plans reference makes the CacheManager
  * rebuild them. A cut is released through its RDD: its persistence
  * lives under the frame's `LogicalRDD` node, not in the CacheManager,
  * so `Dataset.unpersist` leaves its blocks to the ContextCleaner.
  */
object Frames {

  /** Free `df` now: a cut's blocks, or else its cache entry. A released
    * cut cannot be computed again (its lineage was severed), so release
    * only after every reader, deferred writes included, has finished.
    */
  def release(df: DataFrame): Unit = df.queryExecution.analyzed match {
    case lr: LogicalRDD => lr.rdd.unpersist(blocking = true): Unit
    case _              => df.unpersist(blocking = true): Unit
  }

  /** Raise the logger of a cut's RDD to ERROR. Spark warns on every
    * [[release]] of a cut that it "was locally checkpointed … cannot be
    * recomputed after unpersisting" — expected, since a cut is released
    * only after its last reader — and a `graft.Verify` run would print
    * dozens to hundreds of those lines. Entry points that log at WARN
    * call this after `setLogLevel`, which sets only the root logger.
    */
  def quietReleaseWarnings(): Unit =
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd.MapPartitionsRDD", org.apache.logging.log4j.Level.ERROR)

  /** The frames one [[scoped]] block holds. */
  final class Scope private[Frames] {
    private[Frames] val held = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

    /** Release `df` when the block ends; returns it. */
    def hold(df: DataFrame): DataFrame = { held += df; df }
  }

  /** Run `body`, then release what it held in reverse order, on normal
    * exit and on exception alike. A failed release never masks the
    * body's exception (it is added as suppressed) and does not stop the
    * other releases. Release seconds bill to the "cleanup" stage.
    */
  def scoped[T](body: Scope => T): T = {
    val s = new Scope
    var failure: Throwable = null
    try body(s)
    catch { case t: Throwable => failure = t; throw t }
    finally Debug.time("cleanup") {
      val bodyFailed = failure != null
      s.held.reverseIterator.foreach { df =>
        try release(df)
        catch {
          case t: Throwable =>
            if (failure == null) failure = t else failure.addSuppressed(t)
        }
      }
      if (!bodyFailed && failure != null) throw failure
    }
  }
}
