package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local session for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  /** `body`'s result and the number of Spark jobs it launched. The
    * listener bus is asynchronous, so a marker job run after `body`
    * bounds the wait: the shared queue delivers job starts in order,
    * so once the marker's start is seen every earlier one has been. */
  protected def jobsOf[A](body: => A): (A, Int) = {
    import org.apache.spark.scheduler.{SparkListener,
      SparkListenerJobStart}
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        groups.add(Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("spec-body", "counted")
      val a = try body finally sc.clearJobGroup()
      sc.setJobGroup("spec-marker", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!groups.contains("spec-marker") &&
          System.nanoTime() < deadline) Thread.sleep(5)
      assert(groups.contains("spec-marker"),
        "marker job start never reached the listener")
      (a, groups.toArray.count(_ == "spec-body"))
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSpec {
  lazy val session: SparkSession = Session.local(cpus = 4, logLevel = "ERROR")
}
