package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.SparkSession

/** The benchmark program. `perfbench/run.py` builds it and calls
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --cores <n> --work <dir> --out <file>
  *
  * and it writes two JSON lines to `--out`: the record (host stamp, input
  * hash, sample counts, checks) and the result (`correct`, `attempted`,
  * `failed`, `metrics`).
  */
object Main {
  /** Every metric name a result carries, in BENCHMARK.json order. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_p50_ms" -> "ms", "items_per_s" -> "1/s",
    "bytes_per_item" -> "B", "mem_mb" -> "MB")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String): String = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = Workload.all.getOrElse(opt("workload"), sys.error(s"unknown workload ${opt("workload")}"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val traced = opt("trace") == "1"
    val cores = opt("cores").toInt
    val work = new File(opt("work"))
    work.mkdirs()
    val load0 = loadAvg()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val h = new Harness(spark, work, seed, seconds, traced, cores)
      val cal = calibrate(spark, cores)
      h.phase("start")
      workload.run(h)
      val (heapMb, nativeMb) = (liveHeapMb(), nativePeakMb())
      h.endToEnd("mem_mb") = heapMb + nativeMb
      h.perLayer("mem.heap_live_mb") = heapMb
      h.perLayer("mem.native_peak_mb") = nativeMb
      h.perLayer("error_rate") = h.failed.toDouble / math.max(1L, h.attempted)
      h.tracer.foreach(t => h.perLayer("trace.unattributed_jobs") = t.unattributed().toDouble)

      val record = scala.collection.mutable.LinkedHashMap[String, Any](
        "workload" -> opt("workload"), "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
        "cores" -> cores, "loadavg_start" -> load0, "loadavg_end" -> loadAvg(),
        "calibration_s" -> cal, "jvm_max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "jvm_args" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
          .toArray.map(_.toString).filter(a => a.startsWith("-Xm") || a.startsWith("-XX")).toSeq,
        "input_hash" -> h.hash.prefix, "input_hash_all" -> h.hash.hex, "mismatches" -> h.mismatchList)
      record ++= h.record
      if (!traced) record("per_layer") = h.perLayer.toMap
      val metrics =
        if (traced) Metrics.perLayer.map(n => n -> (h.perLayer.getOrElse(n, 0.0), Metrics.unitOf(n)))
        else EndToEnd.map { case (n, u) => n -> (h.endToEnd.getOrElse(n, Double.NaN), u) }
      val result = Json(scala.collection.mutable.LinkedHashMap[String, Any](
        "correct" -> (h.failed == 0), "attempted" -> h.attempted, "failed" -> h.failed,
        "metrics" -> scala.collection.mutable.LinkedHashMap(metrics.map { case (n, (v, u)) =>
          n -> scala.collection.mutable.LinkedHashMap[String, Any]("value" -> v, "unit" -> u)
        }: _*)))
      Files.write(new File(opt("out")).toPath,
        (Json(record) + "\n" + result + "\n").getBytes(StandardCharsets.UTF_8))
    } finally spark.stop()
  }

  def loadAvg(): String =
    try new String(Files.readAllBytes(new File("/proc/loadavg").toPath), StandardCharsets.US_ASCII).trim
    catch { case _: Exception => "unknown" }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val status = new String(Files.readAllBytes(new File("/proc/self/status").toPath), StandardCharsets.US_ASCII)
    status.linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
  }

  /** Heap still in use after a full collection, in MB: at the end of a
    * run, what the engine and the session keep (the workload's own data is
    * out of scope by then).
    */
  def liveHeapMb(): Double = {
    // Spark's context cleaner drops broadcast and shuffle blocks only after
    // a collection has queued their references, so collect until the heap
    // stops shrinking
    def collect(): Long = {
      System.gc()
      System.runFinalization()
      Thread.sleep(200)
      java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    var (last, used) = (Long.MaxValue, collect())
    var rounds = 1
    while (used < last - (1L << 20) && rounds < 6) { last = used; used = collect(); rounds += 1 }
    used / 1048576.0
  }

  /** Peak resident memory outside the heap, in MB: VmHWM less the committed
    * heap, which `-Xms` = `-Xmx` with `AlwaysPreTouch` keeps resident all run.
    */
  def nativePeakMb(): Double = peakRssMb() - Runtime.getRuntime.totalMemory / 1048576.0

  /** A fixed CPU-bound Spark job (no IO, no shuffle): its seconds move only
    * with host speed and contention. Median of three after one warm-up.
    */
  def calibrate(spark: SparkSession, cores: Int): Double = {
    def one(): Double = Harness.seconds(
      spark.range(0, 5000000L, 1, cores).selectExpr("sum(id % 7)", "max(id * 3)").collect())._2
    one()
    Harness.median(Seq(one(), one(), one()))
  }
}

/** Minimal JSON writer for the record and result lines. */
object Json {
  def apply(v: Any): String = v match {
    case null                  => "null"
    case s: String             => quote(s)
    case b: Boolean            => b.toString
    case d: Double             => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float              => apply(f.toDouble)
    case n: Int                => n.toString
    case n: Long               => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_]       => xs.map(apply).mkString("[", ",", "]")
    case other                 => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c    => b += c
    }
    (b += '"').toString
  }
}
