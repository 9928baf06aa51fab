package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** The Spark jobs a block starts: its result and the count, with the
  * listener bus drained on both sides so no earlier job is charged to
  * the block and none of its own is missed. */
object JobCount {
  def apply[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    val r = try body finally {
      ListenerBusDrain(sc)
      sc.removeSparkListener(listener)
    }
    (r, jobs.get)
  }
}
