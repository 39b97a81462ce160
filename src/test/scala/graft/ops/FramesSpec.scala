package graft.ops

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerUnpersistRDD}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** The frame-lifetime scope: what it releases, in which order, and how
  * a failed release meets the body's own failure.
  */
class FramesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  /** Jobs started and RDDs unpersisted (in order) while `body` runs,
    * drained by a sentinel job: listener events arrive in submission
    * order, so once the sentinel's start is seen every earlier event
    * has been too.
    */
  private def eventsOf(body: => Unit): (Int, Seq[Int]) = {
    val sc = spark.sparkContext
    val sentinel = s"sentinel-${java.util.UUID.randomUUID()}"
    var jobs = 0
    val unpersisted = ArrayBuffer.empty[Int]
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == sentinel))
          drained.countDown()
        else jobs += 1
      }
      override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit =
        synchronized { unpersisted += e.rddId }
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobGroup(sentinel, "sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(drained.await(30, TimeUnit.SECONDS))
      listener.synchronized((jobs, unpersisted.toSeq))
    } finally sc.removeSparkListener(listener)
  }

  /** Materialize a cached frame and return the RDD id its cache persisted. */
  private def cachedRdd(df: DataFrame): Int = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    df.count()
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(added.size == 1, s"expected one persisted RDD, saw $added")
    added.head
  }

  test("held caches release most-derived-first with no Spark job") {
    val parent = spark.range(200).toDF("id").where(col("id") % 3 =!= 0).cache()
    val parentRdd = cachedRdd(parent)
    val child = parent.select((col("id") * 2).as("x")).cache()
    val childRdd = cachedRdd(child)
    eventsOf(()) // drain earlier events
    val (jobs, released) = eventsOf {
      Frames.scoped { frames =>
        frames.hold(parent)
        frames.hold(child)
      }
    }
    assert(jobs == 0, s"release ran $jobs jobs")
    assert(released.filter(Set(parentRdd, childRdd)) == Seq(childRdd, parentRdd))
    assert(parent.storageLevel == StorageLevel.NONE)
    assert(child.storageLevel == StorageLevel.NONE)
  }

  test("a held cut's RDD leaves the persistent RDDs") {
    val cut = spark.range(50).toDF("id").where(col("id") > 7).localCheckpoint()
    val rdd = cut.queryExecution.analyzed.asInstanceOf[LogicalRDD].rdd.id
    assert(spark.sparkContext.getPersistentRDDs.contains(rdd))
    val n = Frames.scoped(frames => frames.hold(cut).count())
    assert(n == 42)
    assert(!spark.sparkContext.getPersistentRDDs.contains(rdd))
  }

  test("a failed release is suppressed on the body's exception and stops " +
    "no other release") {
    val a = spark.range(10).toDF("id").cache()
    val b = spark.range(20).toDF("id").cache()
    val thrown = intercept[IllegalStateException] {
      Frames.scoped { frames =>
        frames.hold(a)
        frames.hold(null) // the simplest release that throws
        frames.hold(b)
        throw new IllegalStateException("body")
      }
    }
    assert(thrown.getMessage == "body")
    assert(thrown.getSuppressed.toSeq.map(_.getClass) ==
      Seq(classOf[NullPointerException]))
    assert(a.storageLevel == StorageLevel.NONE)
    assert(b.storageLevel == StorageLevel.NONE)
  }

  test("a failed release after a clean body is thrown") {
    val a = spark.range(10).toDF("id").cache()
    intercept[NullPointerException] {
      Frames.scoped { frames =>
        frames.hold(a)
        frames.hold(null)
      }
    }
    assert(a.storageLevel == StorageLevel.NONE)
  }
}
