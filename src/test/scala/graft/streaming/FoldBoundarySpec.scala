package graft.streaming

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.ext.{FingerprintIndex, LineIndex, MinHashIndex, NgramIndex, SegmentedIndex, SegmentedTable, SemanticIndex, Similarity, WinnowIndex}

/** The replay-safe fold boundary, defined once in
  * [[SegmentedTable.foldable]]: every `b<batchId>` segment strictly older
  * than the checkpoint's newest commit. Every index's `compactCommitted`
  * and the ANN ingest's in-stream fold must take exactly that set.
  */
class FoldBoundarySpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  /** A checkpoint directory whose `commits/` holds batches 0 until n, plus
    * the checksum side files Spark writes next to them.
    */
  private def checkpoint(n: Int): String = {
    val ckpt = Files.createTempDirectory("fold-ckpt").toFile
    val commits = new File(ckpt, "commits")
    commits.mkdirs()
    (0 until n).foreach { b =>
      Files.write(new File(commits, b.toString).toPath, "v1\n{}".getBytes)
      Files.write(new File(commits, s".$b.crc").toPath, Array[Byte](0))
    }
    ckpt.toString
  }

  private val Folded = Seq("b0", "b1", "b2", "b3")

  private def segs(table: String): Set[String] =
    Option(new File(table).listFiles).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("seg="))
      .map(_.getName.stripPrefix("seg=")).toSet

  test("foldable: 0 and 1 commits fold nothing, 5 commits fold b0..b3") {
    assert(SegmentedTable.foldable(checkpoint(0)) == Nil)
    assert(SegmentedTable.foldable(checkpoint(1)) == Nil)
    assert(SegmentedTable.foldable(checkpoint(5)) == Folded)
    val missing = Files.createTempDirectory("fold-none").resolve("absent")
    assert(SegmentedTable.foldable(missing.toString) == Nil)
  }

  /** Append segments b0..b4 to `idx`, commit batches 0..4, and check that
    * `compactCommitted` folds exactly b0..b3 out of every listed table.
    */
  private def foldsExactly(idx: SegmentedIndex, tables: Seq[String])(
      append: (DataFrame, String) => Unit, batch: Int => DataFrame): Unit = {
    (0 until 5).foreach(b => append(batch(b), s"b$b"))
    tables.foreach(t => assert(segs(s"${idx.path}/$t") ==
      Set("base", "b0", "b1", "b2", "b3", "b4"), t))
    assert(idx.compactCommitted(checkpoint(0)) == Nil)
    assert(idx.compactCommitted(checkpoint(1)) == Nil)
    assert(idx.compactCommitted(checkpoint(5)) == Folded)
    tables.foreach(t => assert(segs(s"${idx.path}/$t") == Set("base", "b4"), t))
  }

  private def text(b: Int, i: Int): String =
    s"fold boundary document number $i of batch $b with enough words"

  private def docs(b: Int): DataFrame = {
    import spark.implicits._
    (0 until 3).map(i => (b * 10L + i + 100L, text(b, i), i.toDouble))
      .toDF("doc_id", "text", "prio")
  }

  private def dir(tag: String): String =
    Files.createTempDirectory(s"fold-$tag").toString

  test("compactCommitted folds exactly the boundary on every text index") {
    val p = Some("prio")
    val mh = MinHashIndex.build(docs(-1), dir("mh"), prioCol = p)
    foldsExactly(mh, Seq("shingles", "sigs", "bands", "prio"))(
      (d, s) => mh.append(d, s, prioCol = p), docs)
    val fp = FingerprintIndex.build(docs(-1), dir("fp"), prioCol = p)
    foldsExactly(fp, Seq("fps", "prio"))((d, s) => fp.append(d, s, prioCol = p), docs)
    val wn = WinnowIndex.build(docs(-1), dir("wn"), prioCol = p)
    foldsExactly(wn, Seq("fps", "sizes", "prio"))(
      (d, s) => wn.append(d, s, prioCol = p), docs)
    val ln = LineIndex.build(docs(-1), dir("ln"))
    foldsExactly(ln, Seq("lines"))((d, s) => ln.append(d, s), docs)
    val ng = NgramIndex.build(docs(-1), dir("ng"))
    foldsExactly(ng, Seq("grams"))((d, s) => ng.append(d, s), docs)
  }

  private def vec(i: Long): Array[Float] =
    Array.tabulate(8)(d => (math.sin(i * 37.0 + d * 11.0) + 2.0).toFloat)

  private def emb(ids: Seq[Long]): DataFrame = {
    import spark.implicits._
    ids.map(i => (i, vec(i))).toDF("vec_id", "embedding")
  }

  test("compactCommitted folds exactly the boundary on the semantic index") {
    val sm = SemanticIndex.build(emb(0L until 12L), dir("sm"), nlist = 2)
    foldsExactly(sm, Seq("members"))((d, s) => sm.append(d, s),
      b => emb((0 until 3).map(i => 100L + b * 10L + i)))
  }

  test("the ANN ingest's in-stream fold takes exactly the boundary") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val path = dir("ivf")
    val ckpt = dir("ivf-ck")
    val c = Similarity.corpus(emb(0L until 12L))
    val cents = Similarity.ivfCentroids(c, nlist = 2).cache()
    Similarity.saveIvfIndex(path, cents, Similarity.ivfMembership(c, cents))
    val mem = MemoryStream[(Long, Array[Float])]
    val stream = mem.toDF().toDF("vec_id", "embedding")
    // one micro-batch per start: batches 0..5, and only batch 5 folds
    // (compactEvery = 5), when commits 0..4 exist
    (0 until 6).foreach { b =>
      mem.addData((100L + b, vec(100L + b)))
      val q = StreamingAnnIngest.startIvf(stream, path, ckpt, compactEvery = 5)
      assert(q.awaitTermination(300000), "streaming query did not terminate")
      assert(q.exception.isEmpty, s"streaming query failed: ${q.exception}")
      val expect =
        if (b < 5) Set("base") ++ (0 to b).map(i => s"b$i")
        else Set("base", "b4", "b5")
      assert(segs(s"$path/ivf_membership") == expect, s"after batch $b")
    }
    assert(Similarity.loadIvfIndex(spark, path)._2.count() == 18)
  }
}
