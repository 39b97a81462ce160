package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Two-series combinators: whisper `merge`, `whisper-fill`, `diff`
  * (/root/reference/whisper.py:1037-1149, bin/whisper-fill.py).
  *
  * All three are the same shape — a full-outer equi-join on
  * (metric, interval) — differing only in which side wins:
  *   merge: src overwrites dst at src's non-null slots (whisper.py:1076-1093)
  *   fill:  src fills only dst's gaps, never overwrites (whisper-fill.py:52-92)
  *   diff:  report slots where the two sides disagree (whisper.py:1133-1147)
  */
object Combine {

  private val keys = Seq("metric", "interval")

  /** src-precedence union (merge): value = src.value if present else dst. */
  def merge(src: DataFrame, dst: DataFrame): DataFrame =
    src
      .select(col("metric"), col("interval"), col("value").as("src_value"))
      .join(
        dst.select(col("metric"), col("interval"), col("value").as("dst_value")),
        keys,
        "full_outer")
      .select(
        col("metric"),
        col("interval"),
        coalesce(col("src_value"), col("dst_value")).as("value"))

  /** dst-precedence union (fill): only dst's null/missing slots take src. */
  def fill(dst: DataFrame, src: DataFrame): DataFrame =
    merge(dst, src) // same join, precedence flipped by argument order

  /** Slots where the two series disagree. Reference semantics keep any slot
    * where either side is non-null and the values differ
    * (whisper.py:1140-1147); `ignoreEmpty=true` keeps only slots where
    * BOTH sides are non-null (whisper.py:1140-1143). Two NaNs compare
    * EQUAL (Spark/SQL NaN-equality, so the result is oracle-comparable),
    * where the reference's Python `!=` would report them as different.
    */
  def diff(a: DataFrame, b: DataFrame, ignoreEmpty: Boolean = false): DataFrame = {
    val joined = a
      .select(col("metric"), col("interval"), col("value").as("value_a"))
      .join(
        b.select(col("metric"), col("interval"), col("value").as("value_b")),
        keys,
        "full_outer")
    val va = col("value_a")
    val vb = col("value_b")
    val bothNull = va.isNull && vb.isNull
    val differ = !(va === vb) || (va.isNull =!= vb.isNull)
    val scope =
      if (ignoreEmpty) va.isNotNull && vb.isNotNull
      else !bothNull
    joined.where(scope && differ)
  }
}
