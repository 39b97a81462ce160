package graft.ops

import java.util.concurrent.atomic.LongAdder

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The engine's one instrumentation module.
  *
  * Counters: whisper's enableDebug/disableDebug wrap `open` to count and
  * print read/write operations (whisper.py:225-273). The Spark analog is
  * one listener over task metrics (records/bytes in and out) and job
  * starts (every job, and the store's tagged write jobs), engine-wide.
  *
  * Ledgers: [[timed]] charges a block's SELF time — its wall seconds
  * minus those of the timed blocks nested inside it on the same thread —
  * to a label, so nested labels never double-count and a ledger's sum
  * equals the outer wall. [[warm]] prices memo builds
  * ([[graft.queries.Memo]]); the stage ledger attributes pipeline
  * stages through [[time]] and [[force]], and records only inside
  * [[recordStages]].
  */
object Debug {

  final case class IoStats(
      readRecords: Long, readBytes: Long,
      writtenRecords: Long, writtenBytes: Long)

  private val readRecords = new LongAdder
  private val readBytes = new LongAdder
  private val writtenRecords = new LongAdder
  private val writtenBytes = new LongAdder
  private val jobCount = new LongAdder
  private val writeJobCount = new LongAdder
  @volatile private var listener: Option[SparkListener] = None

  def enableDebug(spark: SparkSession): Unit = synchronized {
    if (listener.isEmpty) {
      val l = new SparkListener {
        override def onTaskEnd(taskEnd: SparkListenerTaskEnd): Unit = {
          val m = taskEnd.taskMetrics
          if (m != null) {
            readRecords.add(m.inputMetrics.recordsRead)
            readBytes.add(m.inputMetrics.bytesRead)
            writtenRecords.add(m.outputMetrics.recordsWritten)
            writtenBytes.add(m.outputMetrics.bytesWritten)
          }
        }
        // store writes tag their job description (MetricStore.writeLevel)
        override def onJobStart(jobStart: SparkListenerJobStart): Unit = {
          jobCount.increment()
          val desc = Option(jobStart.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
          if (desc.exists(_.startsWith("graft.store.write"))) writeJobCount.increment()
        }
      }
      spark.sparkContext.addSparkListener(l)
      listener = Some(l)
    }
  }

  def disableDebug(spark: SparkSession): Unit = synchronized {
    listener.foreach(spark.sparkContext.removeSparkListener)
    listener = None
    reset()
  }

  def reset(): Unit = {
    readRecords.reset(); readBytes.reset()
    writtenRecords.reset(); writtenBytes.reset()
    jobCount.reset(); writeJobCount.reset()
  }

  def stats(): IoStats =
    IoStats(readRecords.sum(), readBytes.sum(), writtenRecords.sum(), writtenBytes.sum())

  /** Jobs started, and of those the tagged store writes, since the last
    * reset. Events land on Spark's asynchronous listener bus: read after
    * the counted work has drained.
    */
  def jobs(): Long = jobCount.sum()
  def writeJobs(): Long = writeJobCount.sum()

  /** Seconds per label, in first-recorded order. */
  final class Ledger {
    private val m = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def add(label: String, sec: Double): Unit =
      synchronized { m(label) = m.getOrElse(label, 0.0) + sec }
    def snapshot(): Seq[(String, Double)] = synchronized(m.toSeq)
    def clear(): Unit = synchronized(m.clear())
  }

  /** One-time memo build seconds (Bench's `warm` record). */
  val warm = new Ledger

  // pipeline stage seconds (Bench's `gst`/`sst` vectors)
  private val stages = new Ledger

  // seconds of the timed blocks already finished inside the innermost
  // open block on this thread
  private val childTime = ThreadLocal.withInitial[java.lang.Double](() => 0.0)

  /** Run `body`, charging its self time to `label` in `ledger`. */
  private[graft] def timed[T](ledger: Ledger, label: String)(body: => T): T = {
    val saved = childTime.get()
    childTime.set(0.0)
    val t0 = System.nanoTime()
    try body
    finally {
      val full = (System.nanoTime() - t0) / 1e9
      ledger.add(label, full - childTime.get())
      childTime.set(saved + full)
    }
  }

  // the one stage flag, on only inside recordStages
  @volatile private var forceStages = false

  /** Run `body` with stage attribution on and return what it recorded.
    * Outside it, [[time]] and [[force]] only run their argument:
    * production runs must not pay a materialization per stage. Inside,
    * each stage boundary is forced, so no stage's work is billed to a
    * later label — which adds jobs, so stage figures come from a
    * separate instrumented run, never from a timed one.
    */
  def recordStages[T](body: => T): (T, Seq[(String, Double)]) = {
    stages.clear()
    forceStages = true
    val out = try body finally forceStages = false
    (out, stages.snapshot())
  }

  /** Charge `body` to stage `label` inside [[recordStages]]. */
  private[graft] def time[T](label: String)(body: => T): T =
    if (forceStages) timed(stages, label)(body) else body

  /** Inside [[recordStages]], materialize `df` under stage `label`: a
    * cached frame is counted in place (its next consumer reads the
    * cache), any other frame comes back as an eager local checkpoint.
    * Outside, returns `df` untouched.
    */
  private[graft] def force(label: String, df: DataFrame): DataFrame =
    if (!forceStages) df
    else time(label) {
      if (df.storageLevel != StorageLevel.NONE) { df.count(); df }
      else df.localCheckpoint()
    }
}
