package graft

import graft.core.Pin
import graft.core.Windows.SizeHint
import org.apache.spark.GraftTestBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The scoped pin's contract: a Small frame reaches the body as a
  * one-partition local relation of its rows with nothing cached, found
  * Small by one probe job; a Large frame is cached for the body and
  * released when the body throws. */
class PinSpec extends SparkSpec {

  /** 50 rows in one partition that take a job to compute (a local
    * relation would not), so one job fetches them all. */
  private def frame = spark.range(0, 50, 1, 1).select(col("id"), (col("id") * 0.5).as("v"))

  private def sorted(rows: Seq[org.apache.spark.sql.Row]) = rows.sortBy(_.getLong(0))

  test("a Small pin hands the body a local relation of the rows and caches nothing") {
    spark.catalog.clearCache()
    val want = sorted(frame.collect().toSeq)
    for (hint <- Seq(SizeHint.Small, SizeHint.Auto)) {
      val (got, emptyDuring) = Pin(frame, hint) { (pinned, rows) =>
        val plan = pinned.queryExecution.optimizedPlan
        assert(plan.collectLeaves().forall(_.isInstanceOf[LocalRelation]), plan)
        assert(pinned.rdd.getNumPartitions == 1)
        assert(sorted(rows.get.toSeq) == want)
        (sorted(pinned.collect().toSeq), spark.sharedState.cacheManager.isEmpty)
      }
      assert(got == want, hint)
      assert(emptyDuring, s"$hint: a Small pin registered a cache")
      assert(spark.sharedState.cacheManager.isEmpty)
    }
  }

  test("a Large pin caches the frame for the body and releases it when the body throws") {
    spark.catalog.clearCache()
    val df = frame
    val want = sorted(df.collect().toSeq)
    val e = intercept[IllegalStateException] {
      Pin(df, SizeHint.Large) { (pinned, rows) =>
        assert(rows.isEmpty)
        assert(df.storageLevel != StorageLevel.NONE, "the Large frame is not cached")
        assert(sorted(pinned.collect().toSeq) == want)
        throw new IllegalStateException("body failed")
      }
    }
    assert(e.getMessage == "body failed")
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("an Auto Small pin runs one job: its probe") {
    var jobs = 0
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs += 1
    }
    GraftTestBridge.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    val n = try {
      val n = Pin(frame, SizeHint.Auto) { (pinned, rows) =>
        assert(pinned.schema == frame.schema)
        rows.get.length
      }
      GraftTestBridge.drain(spark.sparkContext)
      n
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(n == 50)
    assert(jobs == 1, s"an Auto Small pin ran $jobs jobs")
  }
}
