package graft.tools

import org.apache.spark.sql.SparkSession

/** Dev harness: run one registered query by name against a testdata dir,
  * print wall time (after one untimed warmup) and optionally the
  * formatted physical plan.
  *
  * {{{ sbt "runMain graft.tools.RunOne d11_contamination /root/testdata/sf0.1 [explain] [gst] [xN]" }}}
  *
  * `gst` runs each timed run inside [[graft.ops.Debug.recordStages]]
  * and prints its stage ledger (gauntlet and span-family labels,
  * self-time seconds, in first-recorded order); a forced run's wall
  * includes the per-stage materializations. `xN` (e.g. x3) repeats the
  * timed run N times.
  */
object RunOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val explain = args.contains("explain")
    val gst = args.contains("gst")
    val reps = args.find(_.matches("x\\d+")).map(_.drop(1).toInt).getOrElse(1)
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.ops.Frames.quietReleaseWarnings()
    val fn = graft.SparkEntry.queries(name)
    if (explain) fn(spark, sfDir).explain("formatted")
    fn(spark, sfDir).count() // warmup (codegen + JIT + parquet footers)
    (1 to reps).foreach { i =>
      val t0 = System.nanoTime()
      val (n, stages) =
        if (gst) graft.ops.Debug.recordStages(fn(spark, sfDir).count())
        else (fn(spark, sfDir).count(), Nil)
      println(f"[runone] $name#$i: ${(System.nanoTime() - t0) / 1e9}%.3f s, $n rows")
      if (gst)
        println("[runone] gst " + stages.map { case (s, v) => f"$s=$v%.2f" }.mkString(" "))
    }
    spark.stop()
  }
}
