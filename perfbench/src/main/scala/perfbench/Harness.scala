package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** State shared by one benchmark run: the session, the run's scratch
  * directory, the output check tally and the metrics being reported.
  */
final class Harness(val spark: SparkSession, val work: java.io.File, val seed: Long,
                    val seconds: Int, val traced: Boolean, val cores: Int) {
  val hash = new InputHash
  val tracer: Option[Tracer] = if (traced) Some(new Tracer(spark.sparkContext)) else None
  val record = mutable.LinkedHashMap.empty[String, Any]
  val endToEnd = mutable.LinkedHashMap.empty[String, Double]
  val perLayer = mutable.LinkedHashMap.empty[String, Double]
  private val mismatches = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L
  private var phaseStart = System.nanoTime()

  /** Close the current phase of the run (set-up, warm-up, loop, checks)
    * under `name` in the record, so run time can be budgeted.
    */
  def phase(name: String): Unit = {
    val t = System.nanoTime()
    record(s"phase_s.$name") = (t - phaseStart) / 1e9
    phaseStart = t
  }

  /** One output check; a mismatch counts as a failed operation. */
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      if (mismatches.size < 20) mismatches += what
    }
  }

  /** One timed operation of the workload. A throw counts as failed and the
    * run goes on; the returned seconds are then NaN.
    */
  def op(body: => Unit): Double = {
    attempted += 1
    val t0 = System.nanoTime()
    try { body; (System.nanoTime() - t0) / 1e9 }
    catch {
      case e: Exception =>
        failed += 1
        if (mismatches.size < 20) mismatches += s"op failed: $e"
        Double.NaN
    }
  }

  /** A span around an engine call when tracing, else just the call. */
  def span[A](name: String)(body: => A): A = tracer match {
    case Some(t) => t.span(name)(body)
    case None    => body
  }

  def dir(name: String): String = {
    val d = new java.io.File(work, name)
    Harness.deleteRecursively(d)
    d.getPath
  }

  def points(ps: Seq[Point]): DataFrame = {
    import spark.implicits._
    ps.toDF("metric", "ts", "value", "seq")
  }

  def mismatchList: Seq[String] = mismatches.toSeq
}

object Harness {
  def seconds[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.filterNot(_.isNaN).sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least ten samples above it, as
    * (value, percentile, samples). Below 20 samples that percentile would
    * not exceed the median, so the maximum is reported instead.
    */
  def tail(xs: Seq[Double]): (Double, Int, Int) = {
    val s = xs.filterNot(_.isNaN).sorted
    if (s.isEmpty) (Double.NaN, 100, 0)
    else if (s.size < 20) (s.last, 100, s.size)
    else (s(s.size - 11), ((s.size - 10) * 100) / s.size, s.size)
  }

  /** Bytes and file count of the parquet files under `root`. */
  def parquetFiles(root: String): Seq[java.nio.file.Path] = {
    val p = java.nio.file.Paths.get(root)
    if (!java.nio.file.Files.exists(p)) Nil
    else {
      val s = java.nio.file.Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(_.toString.endsWith(".parquet")).toList
      } finally s.close()
    }
  }

  def bytesOf(files: Seq[java.nio.file.Path]): Long =
    files.map(f => java.nio.file.Files.size(f)).sum

  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }
}
