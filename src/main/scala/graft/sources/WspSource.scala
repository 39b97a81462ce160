package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.RetentionPolicy
import graft.ops.Frames
import graft.store.MetricStore

/** Spark-side .wsp connectors: distributed import of a whisper storage
  * tree, and single-file import/export against a MetricStore — the
  * "switch to this library" migration path for an existing whisper fleet.
  */
object WspSource {

  final case class WspPoint(
      metric: String, level: Int, interval: Long, value: Double,
      secondsPerPoint: Int, aggregation: String, xff: Float)

  /** Distributed scan of a whisper tree: every `*.wsp` under `dir`,
    * parsed in EXECUTORS (binaryFile source: one task per file group, so
    * a million-file fleet imports at cluster width, not driver speed).
    * Metric names follow the carbon convention a/b/c.wsp → a.b.c
    * (/root/reference/contrib/whisper-auto-resize.py:201-219).
    *
    * Output: (metric, level, interval, value, secondsPerPoint,
    * aggregation, xff) — flat and self-describing; level i of a file maps
    * to level i of its policy, so coarse-archive history older than fine
    * retention survives the migration.
    */
  def readTree(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val root = new java.io.File(dir).getAbsolutePath.stripSuffix("/")
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.wsp")
      .option("recursiveFileLookup", "true")
      .load(dir)
      .select("path", "content")
      .as[(String, Array[Byte])]
      .flatMap { case (path, bytes) =>
        val rel = path.stripPrefix("file:").stripPrefix(root).stripPrefix("/")
        val metric = rel.stripSuffix(".wsp").replace('/', '.')
        val (policy, levels) = WspCodec.readBytes(bytes, path)
        levels.zipWithIndex.flatMap { case (pts, i) =>
          pts.map { case (t, v) =>
            WspPoint(metric, i, t, v, policy.levels(i).secondsPerPoint,
              policy.aggregation.name, policy.xff)
          }
        }
      }
      .toDF()
  }

  /** Import one .wsp file as `metric`: create it with the file's policy,
    * then write each archive's slots DIRECTLY into the matching level —
    * not through updateMany, which would re-derive coarse levels from
    * fine points and lose coarse history older than fine retention.
    */
  def importFile(store: MetricStore, metric: String, path: String): RetentionPolicy = {
    val spark = store.spark
    import spark.implicits._
    val (policy, levels) = WspCodec.read(path)
    store.create(metric, policy)
    levels.zipWithIndex.foreach { case (pts, i) =>
      if (pts.nonEmpty)
        store.upsertRollups(i,
          pts.toDF("interval", "value").select(
            lit(metric).as("metric"), col("interval"), col("value")))
    }
    policy
  }

  /** Import a whole tree into a store (uniform policy enforced by
    * upsertRollups): one distributed parse, one upsert per level.
    */
  def importTree(store: MetricStore, dir: String): Seq[String] = {
    Frames.scoped { frames =>
      val pts = frames.hold(readTree(store.spark, dir).cache())
      val metrics = pts.select("metric").distinct().collect()
        .map(_.getString(0)).toSeq.sorted
      val levels = pts.select("level").distinct().collect().map(_.getInt(0)).sorted
      // policy headers are tiny — read them driver-side per metric; the
      // heavy slot data takes the distributed readTree path above
      metrics.foreach { m =>
        if (!store.policies().contains(m))
          store.create(m, WspCodec.readBytes(firstFileBytes(dir, m))._1)
      }
      levels.foreach { i =>
        store.upsertRollups(i,
          pts.where(col("level") === i).select("metric", "interval", "value"))
      }
      metrics
    }
  }

  private def firstFileBytes(dir: String, metric: String): Array[Byte] = {
    val rel = metric.replace('.', '/') + ".wsp"
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(dir, rel))
  }

  /** Export a metric from the store as a .wsp file: each level's rows
    * within its retention window become that archive's ring.
    */
  def exportFile(store: MetricStore, metric: String, path: String,
                 now: Long): RetentionPolicy = {
    val policy = store.policies().getOrElse(metric,
      throw new graft.model.CorruptWhisperFile("Unknown metric", metric))
    val levels = policy.levels.zipWithIndex.map { case (a, i) =>
      store.levelData(i)
        .where(col("metric") === metric && col("interval") > now - a.retention)
        .select("interval", "value")
        .collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
        .toSeq
    }
    WspCodec.write(path, policy, levels)
    policy
  }
}
