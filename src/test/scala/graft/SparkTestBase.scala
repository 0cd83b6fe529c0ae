package graft

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

import scala.collection.mutable.ArrayBuffer

/** Shared local session for suites (one JVM-wide session via getOrCreate). */
trait SparkTestBase {
  lazy implicit val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Runs `body` with the session conf `key` set to `value`, then restores it. */
  def withConf[A](key: String, value: String)(body: => A): A = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** `body`'s result and the job-end events of the jobs it ran. */
  def jobsOf[A](body: => A): (A, Seq[SparkListenerJobEnd]) = {
    val sc = spark.sparkContext
    val ends = ArrayBuffer.empty[SparkListenerJobEnd]
    var starts = 0
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = ends.synchronized(starts += 1)
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ends.synchronized(ends += e)
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(l)
    try {
      val a = body
      // the scheduler posts a job's end after it wakes the caller
      val deadline = System.nanoTime() + 10000000000L
      while ({ ListenerBusDrain(sc); ends.synchronized(starts > ends.size) } && System.nanoTime() < deadline)
        Thread.sleep(10)
      ends.synchronized {
        assert(starts == ends.size)
        (a, ends.toList)
      }
    } finally sc.removeSparkListener(l)
  }
}
