package graft.sink

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{JobResult, JobSucceeded, SparkListener,
  SparkListenerJobEnd, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Par's failure contract: the first failing closure cancels every Spark
  * job its siblings still run, so none outlives the thrown call. */
class ParSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("the first failure cancels a sibling's running Spark job and " +
    "propagates the original exception") {
    val sc = spark.sparkContext
    val started = new CountDownLatch(1)
    val siblingJobs = ConcurrentHashMap.newKeySet[Int]()
    val ended = new ConcurrentHashMap[Int, JobResult]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(
            _.getProperty("spark.job.description") == "par-sibling")) {
          siblingJobs.add(e.jobId); started.countDown()
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        ended.put(e.jobId, e.jobResult); ()
      }
    }
    sc.addSparkListener(listener)
    try {
      val t0 = System.nanoTime
      val err = intercept[IllegalStateException] {
        Par.map(spark, Seq(0, 1)) { i =>
          if (i == 0) {
            assert(started.await(60, TimeUnit.SECONDS),
              "the sibling's job never started")
            throw new IllegalStateException("boom")
          } else {
            sc.setJobDescription("par-sibling")
            sc.parallelize(0 until 4, 4).foreach(_ => Thread.sleep(120000))
          }
        }
      }
      assert(err.getMessage == "boom")
      val deadline = System.nanoTime + 60L * 1000 * 1000 * 1000
      while (!siblingJobs.asScala.forall(ended.containsKey) &&
        System.nanoTime < deadline) Thread.sleep(20)
      assert(siblingJobs.size == 1)
      assert(siblingJobs.asScala.forall(id =>
        ended.containsKey(id) && ended.get(id) != JobSucceeded),
        "the sibling's job must end cancelled")
      assert(System.nanoTime - t0 < 90L * 1000 * 1000 * 1000,
        "the sibling's tasks must not run to completion")
    } finally sc.removeSparkListener(listener)
  }
}
