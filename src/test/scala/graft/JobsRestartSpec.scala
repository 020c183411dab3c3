package graft

import graft.llm.Jobs
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Job progress across a SparkContext stop and recreate (what
  * `Bench.ensureLive` does after a crash). Stops the shared test session;
  * [[TestSession]] hands the suites after it a fresh one. */
class JobsRestartSpec extends AnyFunSuite {

  test("job progress: complete final tick after the SparkContext is stopped and recreated") {
    val first = TestSession.spark
    // a tracked submit on the first context installs the progress listener
    Jobs.submit(first.range(10).toDF("x"), None, 0, (_: Jobs.JobProgress) => ())
    first.stop()
    SparkEntry.invalidateSessionCaches()
    val spark = TestSession.spark
    assert(spark.sparkContext ne first.sparkContext)

    val ticks = new java.util.concurrent.CopyOnWriteArrayList[Jobs.JobProgress]()
    val df = spark.range(1000).toDF("row_id").repartition(4)
    val id = Jobs.submit(df, Some("progress-after-restart"), 0, (p: Jobs.JobProgress) => ticks.add(p): Unit)
    assert(Jobs.status(id) === Jobs.Succeeded)
    // the final tick may arrive after submit returns (asynchronous bus)
    val deadline = System.currentTimeMillis() + 10000
    while (System.currentTimeMillis() < deadline &&
      (ticks.isEmpty || ticks.asScala.last.rowsWritten < 1000L)) Thread.sleep(20)
    val last = ticks.asScala.last
    assert(last.rowsWritten === 1000L)
    assert(last.tasksTotal > 0 && last.tasksDone === last.tasksTotal)
  }
}
