package graft

import java.util.concurrent.TimeoutException
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd}

class SessionsSpec extends SparkSpec {

  test("drainListenerBus: a listener has seen every job end as soon as it returns") {
    val ended = new AtomicInteger
    // a listener slower than the action's return, so reading the
    // counter without draining would race
    val listener = new SparkListener {
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        Thread.sleep(20)
        ended.incrementAndGet()
      }
    }
    Sessions.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      (1 to 25).foreach { i =>
        spark.sparkContext.parallelize(1 to 10, 2).count() // one job
        Sessions.drainListenerBus(spark)
        assert(ended.get == i, s"after job $i")
      }
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("drainListenerBus fails loudly when the bus does not drain in time") {
    val slow = new SparkListener {
      override def onJobEnd(j: SparkListenerJobEnd): Unit = Thread.sleep(2000)
    }
    spark.sparkContext.addSparkListener(slow)
    try {
      spark.sparkContext.parallelize(1 to 10, 2).count()
      intercept[TimeoutException](Sessions.drainListenerBus(spark, timeoutMillis = 100L))
    } finally {
      Sessions.drainListenerBus(spark)
      spark.sparkContext.removeSparkListener(slow)
    }
  }
}
