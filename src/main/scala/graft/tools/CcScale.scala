package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.ext.Dedup

/** At-scale certification for the distributed connected-components path
  * (large-star/small-star): the prefixSums at-scale lesson (SCALE.md's
  * mixing row: a scale-only failure that every fixture oracle missed)
  * applied to the other scale-adaptive operator — the distributed loop is
  * spec-pinned against union-find on SMALL graphs, so this probe runs
  * both paths on the SAME multi-million-edge graph (driverThreshold = 0
  * forces the star loop; the default path solves it driver-side) and
  * asserts the (id, root) assignments are IDENTICAL, then reports wall
  * and round counts. The graph mixes the shapes near-dup streams
  * produce: long chains (the web's boilerplate families — worst case
  * for label propagation depth), mid-size cliques (template clusters),
  * and isolated pairs.
  *
  * {{{ sbt "runMain graft.tools.CcScale [edges]" }}}
  */
object CcScale {
  def main(args: Array[String]): Unit = {
    val m = args.headOption.map(_.toLong).getOrElse(2000000L)
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .appName("graft-cc-scale")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // ~50% chain edges (10k-node chains), ~40% clique edges (nodes pick
    // a hub in their 100-node block), ~10% isolated pairs — disjoint id
    // ranges per shape so expected components are derivable
    val chains = spark.range(m / 2)
      .select(col("id").as("a"), (col("id") + 1).as("b"))
      .where((col("id") + 1) % 10000 =!= 0)
    val base = 1000000000L
    // id DIV 100: integer division — `col / 100L` is DOUBLE division in
    // Spark and would make b == a for every row, silently deleting the
    // clique family from the graph
    val cliques = spark.range(m * 2 / 5).select(
      (lit(base) + col("id")).as("a"),
      (lit(base) + expr("id DIV 100") * 100L).as("b"))
      .where(col("a") =!= col("b"))
    val base2 = 2000000000L
    val pairsE = spark.range(m / 10).select(
      (lit(base2) + col("id") * 2).as("a"),
      (lit(base2) + col("id") * 2 + 1).as("b"))
    val edges = chains.unionByName(cliques).unionByName(pairsE).cache()
    val n = edges.count()
    println(s"""{"edges":$n}""")

    def run(label: String, threshold: Long): org.apache.spark.sql.DataFrame = {
      val t0 = System.nanoTime()
      val out = Dedup.connectedComponents(edges, maxIter = 50,
        driverThreshold = threshold).cache()
      val rows = out.count()
      val comps = out.select("root").distinct().count()
      println(f"""{"path":"$label","sec":${(System.nanoTime() - t0) / 1e9}%.2f,"nodes":$rows,"components":$comps}""")
      out
    }
    val dist = run("star_loop", 0L)
    val drv = run("union_find", Long.MaxValue)
    // Symmetric comparison: a full-outer join on id catches root
    // mismatches AND nodes present on only one side. (A mismatch count
    // plus a count difference can cancel to 0 — k extra union-find nodes
    // alongside k root mismatches — so never sum the two signals.)
    val diff = dist.as("x").join(drv.as("y"),
        col("x.id") === col("y.id"), "full_outer")
      .where(col("x.id").isNull || col("y.id").isNull ||
        col("x.root") =!= col("y.root"))
      .count()
    println(s"""{"assignments_differ":$diff}""")
    require(diff == 0, s"distributed CC diverged from union-find: $diff")
    spark.stop()
  }
}
