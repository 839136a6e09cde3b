package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole forked test JVM (guide: one
  * lazy session per suite; sharing across suites makes `sbt test` a
  * single-session run). */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSuite.session

  /** `body`'s result and the number of Spark jobs it started. The jobs
    * are tagged with a job group unique to this call (Spark carries
    * the group into the threads it starts for a query), and the
    * listener bus is drained before and after, so jobs of earlier
    * calls or of other threads never count. */
  def jobsStarted[T](body: => T): (T, Int) = {
    import org.apache.spark.graftbridge.TestListenerBridge.drain
    val sc = spark.sparkContext
    val group = s"jobs-started-${java.util.UUID.randomUUID}"
    val n = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet(): Unit
    }
    drain(sc)
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try {
      val r = body
      drain(sc)
      (r, n.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}

object SparkSuite {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
