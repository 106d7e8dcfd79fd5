package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (sbt forks one test JVM;
  * suites run sequentially and reuse the session — JVM exit cleans up).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** The table dir's non-hidden files at its root — never store data
    * in a generational table, whose batches live in `b<id>` dirs.
    */
  protected def rootFiles(table: String): Seq[String] = {
    val base = new org.apache.hadoop.fs.Path(table)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(base)) Seq.empty
    else fs.listStatus(base).toSeq.filter { s =>
      val n = s.getPath.getName
      s.isFile && !n.startsWith("_") && !n.startsWith(".")
    }.map(_.getPath.getName)
  }

  /** Spark jobs `f` starts, counted by a listener on `f`'s job group. */
  protected def jobsOf(f: => Unit): Int = {
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse(""))
    }
    def inGroup(g: String)(body: => Unit): Unit = {
      sc.setJobGroup(g, g)
      try body finally sc.clearJobGroup()
    }
    sc.addSparkListener(listener)
    try {
      inGroup("jobs-counted")(f)
      // The bus delivers events in order: once the sentinel's job is
      // seen, every job `f` started has been counted.
      inGroup("jobs-sentinel")(spark.range(1).collect(): Unit)
      val deadline = System.currentTimeMillis() + 30000
      while (!groups.contains("jobs-sentinel") &&
          System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(groups.contains("jobs-sentinel"), "listener bus stalled")
      groups.toArray.count(_ == "jobs-counted")
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSpec {
  lazy val session: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-tests")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
