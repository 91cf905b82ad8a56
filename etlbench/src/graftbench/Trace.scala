package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.FileSystem
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval. `trace` groups the spans of one benchmark op; `parent`
  * is the span that was open when this one began (0 = none). Times are
  * epoch milliseconds with sub-millisecond precision, on the same clock as
  * Spark's job events.
  */
final case class Span(id: Int, parent: Int, trace: Int, layer: String, name: String,
    start: Double, end: Double, attrs: Map[String, Double] = Map.empty) {
  def dur: Double = end - start
}

/** One finished Spark job with its tasks' totals. */
final case class Job(id: Int, start: Double, end: Double, callSite: String,
    tasks: Long, runMs: Double, cpuMs: Double, inputBytes: Long, shuffleBytes: Long,
    spillBytes: Long)

/** One query the planner finished: its planning phases and file scans. */
final case class Query(start: Double, planMs: Double, filesRead: Long, bytesRead: Long)

/** Records spans around every call the benchmark makes into an engine
  * layer. When enabled it also listens to Spark for jobs (with task
  * totals) and finished queries (planning time and scan metrics), and
  * snapshots Hadoop FileSystem statistics per op. When disabled every
  * method only runs its body: the untraced run pays for nothing.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val t0Nanos = System.nanoTime()
  private val t0Ms = System.currentTimeMillis().toDouble
  def now(): Double = t0Ms + (System.nanoTime() - t0Nanos) / 1e6

  private var nextId = 0
  private var traceId = 0
  private val open = mutable.Stack.empty[(Int, String, String, Double)]
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private val jobsBuf = mutable.ArrayBuffer.empty[Job]
  private val queriesBuf = mutable.ArrayBuffer.empty[Query]
  /** Milliseconds spent inside this tracer's own listener callbacks and
    * event-queue drains: the direct cost of tracing.
    */
  @volatile var overheadMs: Double = 0.0

  def currentTrace: Int = traceId
  def jobs: Seq[Job] = synchronized(jobsBuf.toSeq)
  def queries: Seq[Query] = synchronized(queriesBuf.toSeq)

  /** One benchmark op: a root span of its own trace. */
  def op[T](kind: String)(body: => T): T = {
    traceId += 1
    span("bench", kind)(body)
  }

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      nextId += 1
      val id = nextId
      val parent = open.headOption.map(_._1).getOrElse(0)
      val fs0 = if (parent == 0) FsStats.snapshot() else Map.empty[String, Double]
      open.push((id, layer, name, now()))
      try body
      finally {
        val (_, _, _, start) = open.pop()
        val end = now()
        val attrs = if (parent == 0) FsStats.delta(fs0, FsStats.snapshot()) else Map.empty[String, Double]
        spans += Span(id, parent, traceId, layer, name, start, end, attrs)
      }
    }

  // ------------------------------------------------------------ listeners

  private final class JobAcc(val id: Int, val start: Double, val callSite: String) {
    var tasks = 0L; var runMs = 0.0; var cpuMs = 0.0
    var input = 0L; var shuffle = 0L; var spill = 0L
  }
  private val running = mutable.HashMap.empty[Int, JobAcc]
  private val stageJob = mutable.HashMap.empty[Int, Int]

  private def timed(f: => Unit): Unit = {
    val s = System.nanoTime()
    try f finally overheadMs += (System.nanoTime() - s) / 1e6
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed(Tracer.this.synchronized {
      // the result stage is named after the job's call site, e.g.
      // "count at FileCdc.scala:262"
      val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
      running(e.jobId) = new JobAcc(e.jobId, e.time.toDouble, site)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    })
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed(Tracer.this.synchronized {
      for (j <- stageJob.get(e.stageId); acc <- running.get(j); m <- Option(e.taskMetrics)) {
        acc.tasks += 1
        acc.runMs += m.executorRunTime
        acc.cpuMs += m.executorCpuTime / 1e6
        acc.input += m.inputMetrics.bytesRead
        acc.shuffle += m.shuffleWriteMetrics.bytesWritten
        acc.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    })
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed(Tracer.this.synchronized {
      running.remove(e.jobId).foreach { a =>
        jobsBuf += Job(a.id, a.start, e.time.toDouble, a.callSite, a.tasks, a.runMs, a.cpuMs,
          a.input, a.shuffle, a.spill)
      }
    })
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      timed {
        val phases = qe.tracker.phases
        val start = phases.values.map(_.startTimeMs).minOption.getOrElse(0L).toDouble
        val planMs = phases.values.map(_.durationMs).sum.toDouble
        val scans = Tracer.scans(qe.executedPlan)
        def metric(s: SparkPlan, k: String) = s.metrics.get(k).map(_.value).getOrElse(0L)
        Tracer.this.synchronized {
          queriesBuf += Query(start, planMs, scans.map(metric(_, "numFiles")).sum,
            scans.map(metric(_, "filesSize")).sum)
        }
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
  }

  /** Wait until Spark has delivered every queued event to the listeners. */
  def drain(): Unit = if (enabled) {
    val s = System.nanoTime()
    org.apache.spark.graftbench.ListenerDrain(spark.sparkContext)
    overheadMs += (System.nanoTime() - s) / 1e6
  }

  def close(): Unit = if (enabled) {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
  }
}

object Tracer {
  /** File scan nodes of an executed plan, looking through adaptive
    * execution wrappers and query stages.
    */
  def scans(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec        => scans(q.plan)
    case s: FileSourceScanExec    => Seq(s)
    case other                    => other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
  }

  /** Whether a job's call site (e.g. "parquet at Icebox.scala:2659") lies
    * in the table layer.
    */
  def inTableLayer(callSite: String): Boolean =
    Set("Icebox.scala", "TableService.scala", "TableStore.scala")(
      callSite.split(" at ").last.takeWhile(_ != ':'))
}

/** Store IO seen through Hadoop's FileSystem API: call counts from
  * [[CountingLocalFs]] and byte counts from Hadoop's statistics. Covers the
  * engine's `TableStore` and Spark's own file IO (both run in this JVM);
  * direct java.nio calls are not seen.
  */
object FsStats {
  def snapshot(): Map[String, Double] = {
    val all = FileSystem.getAllStatistics.asScala
    Map(
      "store.read_ops" -> CountingLocalFs.reads.get.toDouble,
      "store.write_ops" -> CountingLocalFs.writes.get.toDouble,
      "store.bytes_read" -> all.map(_.getBytesRead).sum.toDouble,
      "store.bytes_written" -> all.map(_.getBytesWritten).sum.toDouble)
  }
  def delta(a: Map[String, Double], b: Map[String, Double]): Map[String, Double] =
    b.map { case (k, v) => k -> (v - a.getOrElse(k, 0.0)) }
}
