package graft

import java.nio.file.Files
import java.util.UUID
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Shared local SparkSession for all specs (one JVM-wide session — Spark
  * sessions are expensive; ScalaTest runs suites sequentially in-process).
  */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** (job id, job group) of every job start the session has seen since
    * the first [[SparkSpec.jobs]] call.
    */
  private val starts = new ConcurrentLinkedQueue[(Int, String)]()
  private lazy val listener: SparkListener = {
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        starts.add(e.jobId -> Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull)
    }
    spark.sparkContext.addSparkListener(l)
    l
  }
}

abstract class SparkSpec extends AnyFunSuite with Matchers with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.spark

  def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** Rows as a sorted multiset of strings — order-insensitive DataFrame equality. */
  def canon(df: DataFrame): Seq[String] = {
    val cols = df.columns.sorted
    df.select(cols.head, cols.tail: _*).collect().map(_.toString).sorted.toSeq
  }

  def assertSameRows(a: DataFrame, b: DataFrame): Unit = {
    canon(a) shouldBe canon(b)
  }

  /** Run a one-task marker job in its own group and return its job id,
    * once the listener has seen it — every job submitted before it has
    * been seen by then too (the listener bus delivers in order).
    */
  private def marker(): Int = {
    val group = s"marker-${UUID.randomUUID()}"
    spark.sparkContext.setJobGroup(group, group)
    try spark.sparkContext.parallelize(Seq(1), 1).count()
    finally spark.sparkContext.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    var id: Option[Int] = None
    while (id.isEmpty && System.nanoTime() < deadline) {
      id = SparkSpec.starts.asScala.collectFirst { case (j, g) if g == group => j }
      if (id.isEmpty) Thread.sleep(10)
    }
    id.getOrElse(fail("the listener never saw the marker job"))
  }

  /** The number of Spark jobs `body` starts. */
  def jobs(body: => Unit): Int = {
    SparkSpec.listener
    val from = marker()
    body
    val to = marker()
    SparkSpec.starts.asScala.count { case (j, _) => j > from && j < to }
  }
}
