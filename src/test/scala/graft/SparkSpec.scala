package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** Shared local session for all specs (one JVM, one session). A spec that
  * stops it gets a fresh one here, and so do the suites that run after. */
object TestSession {
  private var live: SparkSession = _
  def spark: SparkSession = synchronized {
    if (live == null || live.sparkContext.isStopped) live = GraftSession.getOrCreate("local[4]")
    live
  }
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  val sfDir = "/root/testdata/sf0.001"

  /** `body`'s result and the number of Spark jobs it launched, counted by a
    * SparkListener on the body's job group. A fence job in another group
    * flushes the asynchronous listener bus before the count is read. */
  def sparkJobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"graft-counted-${java.util.UUID.randomUUID()}"
    val fence = s"$group-fence"
    val jobs = new AtomicInteger
    val fenced = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `group` => jobs.incrementAndGet(): Unit
          case `fence` => fenced.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(fence, "fence")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(fenced.await(30, TimeUnit.SECONDS), "listener bus did not deliver the fence job")
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}
