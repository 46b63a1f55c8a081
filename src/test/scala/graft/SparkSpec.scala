package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local session for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  /** Decimal digit count of the optimized plan's `sizeInBytes` stat,
    * so specs can assert the statistic stays FLAT across rounds (a
    * loop whose digit count grows round-over-round has the
    * multiplication trap). */
  protected def statDigits(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.stats.sizeInBytes.toString.length

  /** `body`'s result and the number of Spark jobs it launched. */
  protected def jobsOf[A](body: => A): (A, Int) = {
    val (a, _, jobs) = jobTimesOf(body)
    (a, jobs.size)
  }

  /** `body`'s result, the wall-clock ms at which it returned, and the
    * scheduler's (start, end) ms of every Spark job it launched. The
    * listener bus is asynchronous, so a marker job run after `body`
    * bounds the wait: the shared queue delivers job starts in order,
    * so once the marker's start is seen every earlier one has been;
    * then every job of `body` is awaited to its end. */
  protected def jobTimesOf[A](body: => A): (A, Long, Seq[(Long, Long)]) = {
    import org.apache.spark.scheduler.{SparkListener,
      SparkListenerJobEnd, SparkListenerJobStart}
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentHashMap[Int, String]
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, Long]
    val ends = new java.util.concurrent.ConcurrentHashMap[Int, Long]
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        groups.put(js.jobId, Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse(""))
        starts.put(js.jobId, js.time)
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        ends.put(je.jobId, je.time)
    }
    def ids(group: String): Seq[Int] = groups.asScala
      .collect { case (j, g) if g == group => j }.toSeq.sorted
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("spec-body", "counted")
      val a = try body finally sc.clearJobGroup()
      val returned = System.currentTimeMillis()
      sc.setJobGroup("spec-marker", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      def settled = ids("spec-marker").nonEmpty &&
        ids("spec-body").forall(ends.containsKey)
      while (!settled && System.nanoTime() < deadline) Thread.sleep(5)
      assert(settled, "job events never reached the listener")
      (a, returned, ids("spec-body").map(j => (starts.get(j), ends.get(j))))
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSpec {
  lazy val session: SparkSession = Session.local(cpus = 4, logLevel = "ERROR")
}
