package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** What Spark did inside one benchmark span. */
final case class SpanStats(
    name: String,
    wallS: Double,
    jobs: Int,
    writeJobs: Int,
    stages: Int,
    tasks: Long,
    busyS: Double,
    gapS: Double,
    inputBytes: Long,
    inputRecords: Long,
    outputBytes: Long,
    shuffleBytes: Long,
    spillBytes: Long,
    jobsByFile: Map[String, Int],
    busyByFile: Map[String, Double])

/** Attributes Spark jobs to spans the benchmark opens around each public
  * call into the engine. A job belongs to the span whose window holds its
  * submission time. Windows never overlap (one client), so this also
  * catches jobs the engine submits from its own thread pools, whose
  * inherited local properties are stale. Starts detached.
  *
  * Inside a span, the engine source file a job was launched from splits
  * the work by module: the call site in the job's result-stage name
  * (`count at MinHashIndex.scala:123`), or, for the query-stage jobs
  * adaptive execution submits from its own threads, the first engine frame
  * of the SQL execution that owns the job.
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  private final class Job(val id: Int, val start: Long, val desc: String,
                          val file: String, val stageIds: Seq[Int]) {
    @volatile var end: Long = -1L
  }
  private final class StageAcc {
    var tasks = 0L; var runMs = 0L; var inBytes = 0L; var inRecs = 0L
    var outBytes = 0L; var shuffle = 0L; var spill = 0L; var completed = false
  }
  private final class Span(val name: String, val t0: Long, val t1: Long)

  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stages = mutable.HashMap.empty[Int, StageAcc]
  private val spans = mutable.ArrayBuffer.empty[Span]
  @volatile private var lastEvent = System.currentTimeMillis()
  private val FileRe = """ at ([A-Za-z0-9_$]+)\.scala:\d+""".r.unanchored
  private val FrameRe = """^graft\.[^(]*\(([A-Za-z0-9_$]+)\.scala:\d+\)""".r.unanchored
  private val executionFile = mutable.HashMap.empty[Long, String]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      val file = x.details.linesIterator.collectFirst { case FrameRe(f) => f }
        .orElse(Option(x.description).collect { case FileRe(f) => f })
      file.foreach(f => synchronized { executionFile(x.executionId) = f })
    case _ => ()
  }

  @volatile private var attached = false

  /** Attach or detach the listener, so a traced run can interleave
    * untraced operations and price the tracing itself.
    */
  def setAttached(on: Boolean): Unit = if (on != attached) {
    drain()
    if (on) sc.addSparkListener(this) else sc.removeSparkListener(this)
    attached = on
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val resultStage = e.stageInfos.maxByOption(_.stageId).map(_.name).getOrElse("")
    val execution = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
    val file = resultStage match {
      case FileRe(f) => f
      case _         => execution.flatMap(executionFile.get).getOrElse("other")
    }
    val desc = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
    jobs += new Job(e.jobId, e.time, desc, file, e.stageIds)
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
    lastEvent = System.currentTimeMillis()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.reverseIterator.find(_.id == e.jobId).foreach(_.end = e.time)
    lastEvent = System.currentTimeMillis()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages.getOrElseUpdate(e.stageInfo.stageId, new StageAcc).completed = e.stageInfo.numTasks > 0
    lastEvent = System.currentTimeMillis()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = stages.getOrElseUpdate(e.stageId, new StageAcc)
    a.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      a.runMs += m.executorRunTime
      a.inBytes += m.inputMetrics.bytesRead
      a.inRecs += m.inputMetrics.recordsRead
      a.outBytes += m.outputMetrics.bytesWritten
      a.shuffle += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
    lastEvent = System.currentTimeMillis()
  }

  /** Run `body` inside a named span. */
  def span[A](name: String)(body: => A): A = if (!attached) body else {
    val t0 = System.currentTimeMillis()
    try body
    finally {
      val t1 = System.currentTimeMillis()
      synchronized { spans += new Span(name, t0, t1) }
    }
  }

  /** Waits until the listener bus has been quiet for a while, so every event
    * of the spans opened so far has arrived.
    */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    while (System.currentTimeMillis() - lastEvent < 300 && System.currentTimeMillis() < deadline)
      Thread.sleep(50)
  }

  /** Every closed span with the jobs attributed to it, in opening order. */
  def stats(): Seq[SpanStats] = {
    drain()
    synchronized {
      val ordered = spans.sortBy(_.t0).toIndexedSeq
      val starts = ordered.map(_.t0).toArray
      val owned = jobs.groupBy { j =>
        val i = java.util.Arrays.binarySearch(starts, j.start)
        val k = if (i >= 0) {
          var x = i; while (x + 1 < starts.length && starts(x + 1) == j.start) x += 1; x
        } else -i - 2
        if (k >= 0 && j.start <= ordered(k).t1) k else -1
      }
      ordered.indices.map { k =>
        val s = ordered(k)
        val js = owned.getOrElse(k, mutable.ArrayBuffer.empty[Job]).toSeq
        def accOf(j: Job): Seq[StageAcc] =
          j.stageIds.filter(stageJob.get(_).contains(j.id)).flatMap(stages.get)
        val accs = js.flatMap(accOf)
        val wall = math.max(1L, s.t1 - s.t0)
        val covered = union(js.map(j => (math.max(j.start, s.t0), math.min(if (j.end < 0) s.t1 else j.end, s.t1))))
        SpanStats(
          name = s.name,
          wallS = wall / 1000.0,
          jobs = js.size,
          writeJobs = js.count(_.desc.startsWith("graft.store.write")),
          stages = accs.count(_.completed),
          tasks = accs.map(_.tasks).sum,
          busyS = accs.map(_.runMs).sum / 1000.0,
          gapS = (wall - covered) / 1000.0,
          inputBytes = accs.map(_.inBytes).sum,
          inputRecords = accs.map(_.inRecs).sum,
          outputBytes = accs.map(_.outBytes).sum,
          shuffleBytes = accs.map(_.shuffle).sum,
          spillBytes = accs.map(_.spill).sum,
          jobsByFile = js.groupBy(_.file).map { case (f, g) => f -> g.size },
          busyByFile = js.groupBy(_.file).map { case (f, g) => f -> g.flatMap(accOf).map(_.runMs).sum / 1000.0 })
      }
    }
  }

  /** Jobs submitted outside every span (should be none). */
  def unattributed(): Int = {
    drain()
    synchronized {
      jobs.count(j => !spans.exists(s => j.start >= s.t0 && j.start <= s.t1))
    }
  }

  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) total += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
