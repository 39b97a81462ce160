package perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import scala.collection.mutable.ArrayBuffer

/** One generated data point, in the column order `MetricStore.updateMany`
  * takes: (metric, ts epoch-sec, value, seq arrival order).
  */
final case class Point(metric: String, ts: Long, value: Double, seq: Long)

/** A generated document and the verdict the gauntlet must give it. */
final case class Doc(id: Long, text: String, expect: String) {
  /** A planted copy, which must never be `kept`. */
  def planted: Boolean = expect.startsWith("dup_")
}

/** Running SHA-256 over everything a workload generated, so two records can
  * be shown to have used the same load. `mark` pins the prefix every run of
  * a seed shares (set-up, warm-up and first measured operation); how many
  * operations follow depends on host speed.
  */
final class InputHash {
  private val md = MessageDigest.getInstance("SHA-256")
  private var marked: Option[String] = None
  def add(s: String): Unit = md.update(s.getBytes(StandardCharsets.UTF_8))
  def mark(): Unit = if (marked.isEmpty) marked = Some(hex)
  def prefix: String = marked.getOrElse(hex)
  def hex: String = InputHash.hex(md.clone().asInstanceOf[MessageDigest].digest())
}

object InputHash {
  def hex(d: Array[Byte]): String = d.map(b => f"${b & 0xff}%02x").mkString.take(16)
}

/** Seeded time-series load: `metrics` series, one point per series per
  * minute with jitter, cut into event-time batches.
  *
  * Planted edge cases, all deterministic in the seed:
  *   - about 1% same-slot rewrites, appended at the end of their batch (half
  *     with a later timestamp, which wins; half with the same timestamp,
  *     where the first-listed point wins);
  *   - about 1% late points, delivered with the next batch;
  *   - `Ancient` points per batch older than every level's retention,
  *     which the store must drop.
  *
  * Batches must be requested in event-time order; `seq` and the late
  * carry-over continue across calls.
  */
final class SeriesGen(seed: Long, val metrics: IndexedSeq[String], hash: InputHash) {
  private var seq = 0L
  private var late = Vector.empty[Point]

  private def nextSeq(): Long = { seq += 1; seq }

  private def valueOf(r: scala.util.Random, m: Int, ts: Long): Double =
    math.rint((50 + 30 * math.sin((ts / 60 + m * 17) / 90.0) + r.nextGaussian() * 5) * 1000) / 1000

  /** The batch covering event time [w0, w1): the points held back from the
    * previous batch, then one point per metric per minute slot, then the
    * rewrites.
    */
  def batch(w0: Long, w1: Long): IndexedSeq[Point] = {
    val r = new scala.util.Random(seed * 1000003L + w0)
    val out = ArrayBuffer.empty[Point]
    val rewrites = ArrayBuffer.empty[(String, Long, Long)] // metric, ts, slot
    val held = ArrayBuffer.empty[Point]
    out ++= late.map(p => p.copy(seq = nextSeq()))
    var slot = Math.floorDiv(w0 + 59, 60L) * 60
    while (slot < w1) {
      var m = 0
      while (m < metrics.size) {
        val ts = slot + r.nextInt(60)
        val v = valueOf(r, m, ts)
        val u = r.nextInt(1000)
        if (u < 10) held += Point(metrics(m), ts, v, 0L)
        else {
          out += Point(metrics(m), ts, v, nextSeq())
          if (u < 20) rewrites += ((metrics(m), ts, slot))
        }
        m += 1
      }
      slot += 60
    }
    rewrites.foreach { case (m, ts, s) =>
      val ts2 = if (r.nextBoolean()) ts else ts + r.nextInt((s + 60 - ts).toInt)
      out += Point(m, ts2, valueOf(r, 0, ts2) + 1000, nextSeq())
    }
    (0 until SeriesGen.Ancient).foreach { _ =>
      val ts = w0 - SeriesGen.AncientAgeSecs - r.nextInt(86400)
      out += Point(metrics(r.nextInt(metrics.size)), ts, valueOf(r, 0, ts), nextSeq())
    }
    late = held.toVector
    out.foreach(p => hash.add(s"${p.metric},${p.ts},${p.value},${p.seq};"))
    out.toIndexedSeq
  }
}

object SeriesGen {
  /** Points per batch older than the longest retention (2 y). */
  val Ancient = 3
  val AncientAgeSecs: Long = 3 * 365 * 86400L

  def metricNames(n: Int): IndexedSeq[String] =
    (0 until n).map(i => f"host${i / 8}%04d.m${i % 8}")
}

/** Seeded documents over a synthetic vocabulary large enough that two
  * independent documents share almost no word 3-grams, so every verdict the
  * gauntlet gives traces back to a planted copy.
  */
final class DocGen(seed: Long, hash: InputHash) {
  private val r = new scala.util.Random(seed)
  private val vocab: IndexedSeq[String] = {
    val letters = "abcdefghijklmnopqrstuvwxyz"
    (0 until 6000).map(_ => Seq.fill(3 + r.nextInt(6))(letters(r.nextInt(26))).mkString).distinct
  }
  private var nextId = 0L

  private def text(words: Int): String =
    Seq.fill(words)(vocab(r.nextInt(vocab.size))).mkString(" ")

  private def emit(d: Doc): Doc = { hash.add(s"${d.id}:${d.text};"); d }

  /** A fresh document of 40 to 90 words (about 250 to 600 characters). */
  def fresh(): Doc = { nextId += 1; emit(Doc(nextId, text(40 + r.nextInt(50)), "kept")) }

  /** A document shorter than the quality gate's 100 characters. */
  def short(): Doc = { nextId += 1; emit(Doc(nextId, text(4), "drop_quality")) }

  /** An exact copy of `d` under a new id; `expect` is `dup_exact` when `d`
    * is indexed, `dup_exact_batch` when `d` is in the same delivery.
    */
  def exactClone(d: Doc, expect: String): Doc = { nextId += 1; emit(Doc(nextId, d.text, expect)) }

  /** An indexed `d` with one appended word — a near duplicate (the d45
    * recipe) the MinHash index must catch.
    */
  def nearClone(d: Doc): Doc = { nextId += 1; emit(Doc(nextId, d.text + " xqz", "dup_index")) }

  def pick[A](xs: IndexedSeq[A]): A = xs(r.nextInt(xs.size))

  /** `k` distinct elements of `xs`, so no two planted copies share a source. */
  def pickDistinct[A](xs: IndexedSeq[A], k: Int): Seq[A] =
    Iterator.continually(r.nextInt(xs.size)).distinct.take(k).map(xs).toSeq
}

/** Zipf(s) sampler over ranks 0 until n, mapped through a seeded permutation
  * so the hot set differs per seed.
  */
final class Zipf(n: Int, s: Double, r: scala.util.Random) {
  private val cdf: Array[Double] = {
    val w = (1 to n).map(k => 1.0 / math.pow(k, s))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
  }
  private val perm: IndexedSeq[Int] = r.shuffle((0 until n).toIndexedSeq)
  def next(): Int = {
    val u = r.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    perm(math.min(n - 1, if (i >= 0) i else -i - 1))
  }
}
