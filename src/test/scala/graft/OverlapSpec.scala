package graft

import graft.operators.Overlap
import org.apache.spark.TaskContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._

class OverlapSpec extends SparkSpec {

  test("a failing main path cancels the overlapped job, which ran under the caller's description") {
    val sc = spark.sparkContext
    val descriptions = new ConcurrentLinkedQueue[String]()
    @volatile var sideStarted = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        descriptions.add(e.properties.getProperty("spark.job.description"))
        sideStarted.countDown()
      }
    }
    sc.addSparkListener(listener)
    try {
      // Twice: a pooled thread would keep the first call's description.
      for (call <- Seq("overlap-1", "overlap-2")) {
        sideStarted = new CountDownLatch(1)
        sc.setJobDescription(call)
        val t0 = System.nanoTime()
        val err = intercept[IllegalStateException] {
          Overlap(spark) {
            assert(sideStarted.await(60, TimeUnit.SECONDS))
            throw new IllegalStateException(s"$call main failed")
          } {
            // Each task idles up to a minute unless its job is cancelled.
            sc.parallelize(1 to 4, 4).foreach { _ =>
              val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
              while (!TaskContext.get().isInterrupted() && System.nanoTime() < deadline) Thread.sleep(20)
            }
          }
        }
        assert(err.getMessage == s"$call main failed")
        assert((System.nanoTime() - t0) / 1e9 < 30, "the side job ran to completion instead of being cancelled")
        eventually(timeout(10.seconds)) { assert(sc.statusTracker.getActiveJobIds().isEmpty) }
      }
      eventually(timeout(10.seconds)) { assert(descriptions.asScala.toSeq == Seq("overlap-1", "overlap-2")) }
    } finally {
      sc.setJobDescription(null)
      sc.removeSparkListener(listener)
    }
  }

  test("both results come back when neither path fails") {
    assert(Overlap(spark)(spark.range(10).count())(spark.range(5).count()) == (10L, 5L))
  }
}
