package graftbench

import java.io.File
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.cdc.{Cdc, FileCdc, FileCheckpointStore, WatermarkStore}
import graft.plans.IceboxFileIndex
import graft.sources.FileSource
import graft.sql.MergeSql
import graft.table.{Icebox, TableService}

/** A wrong result: the op counts as failed and its time is discarded. */
final class Mismatch(msg: String) extends RuntimeException(msg)

/** One measured op. */
final case class OpRec(kind: String, trace: Int, round: Int, secs: Double, rows: Long,
    inputBytes: Long, scanBytes: Long)

/** Head-of-table counts taken at a fixed point of the first round, so they
  * repeat exactly for a fixed seed whatever the run length.
  */
final case class HeadCounts(liveFiles: Long, deleteFiles: Long, snapshots: Long,
    dataBytes: Long, metaBytes: Long)

/** State shared by a run: session, tracer, scratch root, the op log. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val root: File, val seed: Long) {
  val ops: mutable.ArrayBuffer[OpRec] = mutable.ArrayBuffer.empty
  val errors: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  var attempted = 0
  var failed = 0
  var round = 0
  var head: Option[HeadCounts] = None
  var tickBytesRewritten: Option[Long] = None
  val rnd = new java.util.SplittableRandom(seed * 31 + 7)
  /** (round, seconds) of each listing probe of a traced run. */
  val listings: mutable.ArrayBuffer[(Int, Double)] = mutable.ArrayBuffer.empty

  def path(name: String): String = new File(root, name).getPath

  def check(ok: Boolean, what: => String): Unit = if (!ok) throw new Mismatch(what)

  /** Run one op: time it, count it, and keep its time only if it returned
    * without throwing. `inputBytes` is the size of the data the op consumed,
    * `scanBytes` what Spark reads to scan that data once (see [[scanBytes]]);
    * the body returns rows handled.
    */
  def op(kind: String, inputBytes: Long = 0L, scanBytes: Long = 0L)(body: => Long): Unit = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val rows = tracer.op(kind)(body)
      ops += OpRec(kind, tracer.currentTrace, round,
        (System.nanoTime() - t0) / 1e9, rows, inputBytes, scanBytes)
    } catch {
      case NonFatal(e) =>
        failed += 1
        if (errors.size < 20) errors += s"$kind (round $round): ${e.getClass.getSimpleName}: " +
          String.valueOf(e.getMessage).linesIterator.take(3).mkString(" | ")
    }
  }

  /** Traced runs only: the input bytes Spark's tasks report for one full
    * scan of `path`, the unit of read amplification (0 untraced).
    */
  def scanBytes(path: String, format: String): Long = if (!tracer.enabled) 0L else {
    tracer.drain()
    val before = tracer.jobs.map(_.id).toSet
    spark.read.format(format).load(path).write.format("noop").mode("overwrite").save()
    tracer.drain()
    tracer.jobs.filterNot(j => before(j.id)).map(_.inputBytes).sum
  }

  /** Traced runs only: time FileCdc's listing and change detection over
    * `dir` as a span of its own, outside any op, so the op's own time is
    * untouched.
    */
  def probeListing(dir: String, suffix: String): Unit = if (tracer.enabled) {
    val t0 = System.nanoTime()
    tracer.op("probe") {
      tracer.span("cdc", "FileCdc.listFiles+detectChanges") {
        FileCdc.detectChanges(FileCdc.listFiles(dir, suffix), FileCdc.Checkpoint.initial,
          "mtime", "dt")
      }
    }
    listings += ((round, (System.nanoTime() - t0) / 1e9))
  }
}

object Files {
  def walk(f: File): Seq[File] =
    if (!f.exists) Nil
    else if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
    else Seq(f)
  def bytes(path: String): Long = walk(new File(path)).map(_.length).sum
  def dataBytes(path: String, suffix: String): Long =
    walk(new File(path)).filter(f => f.getName.endsWith(suffix) && !f.getName.startsWith("."))
      .map(_.length).sum
  def delete(path: String): Unit = {
    def rm(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(rm)
      f.delete()
    }
    rm(new File(path))
  }
}

/** A workload: repeated set-ups, then rounds of ops until the time is up,
  * then a check of the final state.
  */
abstract class Workload(val ctx: Ctx) {
  /** Untimed work before the first set-up. */
  def init(): Unit = ()
  def setup(rep: Int): Unit
  /** Set-ups per run; `setup_s` is their median. */
  val setups = 3
  /** Rounds run even when they overrun the measuring time. */
  val minRounds = 1
  /** The op kind `op_s_p50` reports: what this workload's users wait on. */
  val headline = "cycle"
  /** Untimed work after the last set-up (expected values for the checks). */
  def prepare(): Unit = ()
  def round(): Unit
  /** Throws when the final state is wrong. */
  def finalCheck(): Unit
  /** The table whose space amplification is reported. */
  def table: Icebox

  protected def spark: SparkSession = ctx.spark
  protected def tracer: Tracer = ctx.tracer

  protected def headCounts(t: Icebox): HeadCounts = {
    val snap = t.currentSnapshot.get
    val deletes = snap.files.flatMap(f => f.deletes ++ f.eqDeletes).distinct.size
    val dir = new File(t.tableDir)
    val data = Files.bytes(new File(dir, "data").getPath) + Files.bytes(new File(dir, "deletes").getPath)
    HeadCounts(snap.files.size.toLong, deletes.toLong, t.allSnapshots.size.toLong, data,
      Files.bytes(t.tableDir) - data)
  }

  /** Tick `t` as an op; on the first round also record the bytes of the
    * data files the tick added to the head (what compaction rewrote).
    */
  protected def tick(t: Icebox): Unit = {
    val before = t.currentSnapshot.map(_.files.map(_.path).toSet).getOrElse(Set.empty)
    if (ctx.round == 1) ctx.head = Some(headCounts(t))
    ctx.op("tick") {
      tracer.span("table", "TableService.tick")(TableService.tick(spark, t))
      0L
    }
    if (ctx.round == 1) ctx.tickBytesRewritten = Some(
      t.currentSnapshot.map(_.files.filterNot(f => before(f.path)).map(_.sizeBytes).sum).getOrElse(0L))
  }
}

/** Full loads: one initial `FileCdc.runCycle` of a Hive-partitioned ORC
  * `lineitem` into a fresh partitioned table per round, checked by the
  * metadata row count and a row hash against the source, then a point
  * lookup and the maintenance tick a scheduler runs after a load.
  */
final class BulkLoad(c: Ctx) extends Workload(c) {
  val Rows = 600000L
  val LookupsPerRound = 1
  private var src = ""
  private var srcHash = BigDecimal(0)
  private var srcBytes = 0L
  private var srcScanBytes = 0L
  private var expected: Map[Long, Set[Row]] = Map.empty
  private var lookupKeys: IndexedSeq[Long] = IndexedSeq.empty
  private var last: Option[Icebox] = None
  def table: Icebox = last.get

  private val cols = Data.lineitem(spark, 1, 0).columns.toSeq.sorted

  private def hash(df: DataFrame): BigDecimal =
    BigDecimal(df.select(cols.map(col): _*)
      .agg(sum(xxhash64(cols.map(col): _*).cast("decimal(38,0)"))).head.getDecimal(0))

  private var generated: DataFrame = _
  /** The first load runs on a cold JVM; with six warm ones after it the
    * median is a warm load's.
    */
  override val minRounds = 7

  /** Generate `lineitem` once, in memory, in four slices (so each ship
    * year gets four files).
    */
  override def init(): Unit = {
    generated = Data.lineitem(spark, Rows, ctx.seed).repartition(4).persist()
    generated.count()
  }

  /** Rewrite `lineitem` as Hive-partitioned ORC: the load's input. */
  def setup(rep: Int): Unit = {
    if (src.nonEmpty) Files.delete(src)
    src = ctx.path(s"lineitem-orc-$rep")
    generated.write.partitionBy("dt").orc(src)
  }

  /** Expected values from the generated rows the ORC files were written from. */
  override def prepare(): Unit = {
    val df = generated
    srcHash = hash(df)
    srcBytes = Files.dataBytes(src, ".orc")
    srcScanBytes = ctx.scanBytes(src, "orc")
    lookupKeys = IndexedSeq.fill(64)(ctx.rnd.nextLong(Rows / 4) * 4 + 1)
    expected = df.filter(col("l_orderkey").isin(lookupKeys: _*)).select(cols.map(col): _*)
      .collect().toSeq.groupBy(_.getAs[Long]("l_orderkey")).map { case (k, rs) => k -> rs.toSet }
    generated.unpersist(blocking = true)
  }

  def round(): Unit = {
    val n = ctx.round
    val t = Icebox(ctx.path(s"load-$n"))
    val store = new FileCheckpointStore(ctx.path(s"load-$n.checkpoint.json"))
    ctx.probeListing(src, ".orc")
    ctx.op("cycle", srcBytes, srcScanBytes) {
      val r = tracer.span("cdc", "FileCdc.runCycle") {
        FileCdc.runCycle(spark, src, t, store, "dt", "mtime", "orc", ".orc")
      }
      ctx.check(r.rowsWritten == Rows, s"load wrote ${r.rowsWritten} rows, expected $Rows")
      val counted = tracer.span("table", "Icebox.rowCount")(t.rowCount)
      ctx.check(counted.contains(Rows), s"rowCount $counted, expected $Rows")
      Rows
    }
    last.foreach(old => Files.delete(old.tableDir))
    last = Some(t)
    ctx.op("scan") {
      val h = hash(tracer.span("table", "Icebox.read")(t.read(spark)))
      ctx.check(h == srcHash, s"row hash $h differs from source $srcHash")
      Rows
    }
    (0 until LookupsPerRound).foreach { i =>
      val k = lookupKeys(((n - 1) * LookupsPerRound + i) % lookupKeys.size)
      ctx.op("lookup") {
        val df = tracer.span("plans", "IceboxFileIndex.readIndexed")(IceboxFileIndex.readIndexed(spark, t))
        val got = df.filter(col("l_orderkey") === k).select(cols.map(col): _*).collect().toSet
        ctx.check(got == expected.getOrElse(k, Set.empty), s"lookup $k returned ${got.size} rows")
        got.size.toLong
      }
    }
    tick(t)
  }

  def finalCheck(): Unit =
    ctx.check(table.rowCount.contains(Rows), s"final table rowCount ${table.rowCount}")
}

/** An `orders` table under CDC: merge-on-read, a manifest bloom index on
  * the key, and maintenance properties under which a tick compacts and
  * expires. Each cycle appends one seeded change-log file and runs one
  * `Cdc.runCycle(versionCol = scn)` whose sink runs one `MergeSql.merge`.
  */
abstract class OrdersCdc(c: Ctx) extends Workload(c) {
  val Rows = 150000L
  val BatchRows = 1000
  val Target = "orders_target"
  private var t: Icebox = _
  def table: Icebox = t
  protected var model: Model = _
  protected var gen: ChangeGen = _
  private var src = ""
  private var changeDir = ""
  private var store: WatermarkStore = _
  private var batches = 0
  private var initial: Seq[Order] = Nil

  private var generated: DataFrame = _

  /** Generate `orders` once, in memory, and keep a driver-side copy as the
    * expected state's starting point.
    */
  override def init(): Unit = {
    generated = Data.orders(spark, Rows, ctx.seed).coalesce(1).persist()
    initial = generated.collect().toSeq.map(Order.fromRow)
  }

  val Properties: Map[String, String] = Map(
    "write.merge.mode" -> "merge-on-read",
    "manifest.bloom.columns" -> "o_orderkey",
    "manifest.bloom.fpp" -> "0.01",
    "maintenance.compact.min-files" -> "4",
    "maintenance.expire.max-age-ms" -> "0",
    "maintenance.expire.retain-last" -> "2")

  /** Load `orders` into a fresh table, and start an empty change log. */
  def setup(rep: Int): Unit = {
    if (t != null) Files.delete(t.tableDir)
    if (src.nonEmpty) Files.delete(src)
    src = ctx.path(s"orders-src-$rep")
    generated.write.parquet(src)
    t = Icebox(ctx.path(s"orders-$rep"))
    t.setProperties(Properties)
    t.overwrite(FileSource.parquet(src).load(spark))
    changeDir = ctx.path(s"changelog-$rep")
    store = new WatermarkStore(ctx.path(s"watermarks-$rep"))
    MergeSql.register(Target, t)
  }

  /** Start the expected state and the change generator from the initial
    * rows, then drop the harness's other copies of them.
    */
  override def prepare(): Unit = {
    model = new Model(initial)
    gen = new ChangeGen(initial, ctx.seed, BatchRows)
    initial = Nil
    generated.unpersist(blocking = true)
  }

  /** Append the next change batch to the log; returns it and its directory. */
  private def appendBatch(): (Seq[Change], String) = {
    val batch = gen.nextBatch()
    batches += 1
    val dir = f"$changeDir/batch-$batches%06d"
    spark.createDataFrame(batch.map(_.toRow).asJava, Data.ChangeSchema).coalesce(1)
      .write.parquet(dir)
    (batch, dir)
  }

  private def runCycle(): graft.cdc.Watermark =
    tracer.span("cdc", "Cdc.runCycle") {
      Cdc.runCycle(store, "sales", "orders",
        s => tracer.span("sources", "FileSource.load") {
          FileSource(Seq(changeDir), options = Map("recursiveFileLookup" -> "true"),
            schema = Some(Data.ChangeSchema)).load(s)
        }, "updated_at", Some("scn")) { b =>
        b.createOrReplaceTempView("cdc_batch")
        tracer.span("sql", "MergeSql.merge")(MergeSql.merge(spark, Data.mergeSql(Target)))
      }(spark)
    }

  /** An untimed CDC cycle: not an op, not checked until the end. */
  protected def churnCycle(): Unit = {
    val (batch, _) = appendBatch()
    runCycle()
    model(batch)
  }

  /** One measured CDC cycle; returns the batch it applied. */
  protected def cycle(): Seq[Change] = {
    val (batch, dir) = appendBatch()
    ctx.probeListing(changeDir, ".parquet")
    ctx.op("cycle", Files.dataBytes(dir, ".parquet"), ctx.scanBytes(dir, "parquet")) {
      val wm = runCycle()
      ctx.check(wm.lastScn == batch.last.scn, s"watermark at scn ${wm.lastScn}, batch ends at ${batch.last.scn}")
      batch.size.toLong
    }
    model(batch)
    batch
  }

  protected def lookup(key: Long, fresh: Boolean): Unit = ctx.op("lookup") {
    val handle = if (fresh) Icebox(t.tableDir) else t
    val df = tracer.span("plans", "IceboxFileIndex.readIndexed")(IceboxFileIndex.readIndexed(spark, handle))
    val got = df.filter(col("o_orderkey") === key).select(Data.OrderColumns.map(col): _*)
      .collect().toSeq.map(Order.fromRow)
    ctx.check(got == model.get(key).toSeq, s"lookup $key: got $got, expected ${model.get(key)}")
    got.size.toLong
  }

  /** A 30-day `o_orderdate` range aggregate, checked against the model. */
  protected def scan(): Unit = {
    val from = java.sql.Date.valueOf(Data.FirstOrderDate.toLocalDate
      .plusDays(ctx.rnd.nextInt(Data.OrderDateSpan - 30).toLong))
    val to = java.sql.Date.valueOf(from.toLocalDate.plusDays(30))
    ctx.op("scan") {
      val df = tracer.span("plans", "IceboxFileIndex.readIndexed")(IceboxFileIndex.readIndexed(spark, t))
      val r = df.filter(col("o_orderdate") >= lit(from) && col("o_orderdate") < lit(to))
        .agg(count(lit(1)), sum("o_totalprice")).head()
      val (n, s) = model.rangeAggregate(from, 30)
      val got = if (r.isNullAt(1)) 0.0 else r.getDouble(1)
      ctx.check(r.getLong(0) == n && math.abs(got - s) <= 1e-6 * math.max(1.0, math.abs(s)),
        s"range from $from: got (${r.getLong(0)}, $got), expected ($n, $s)")
      r.getLong(0)
    }
  }

  def finalCheck(): Unit = {
    val rows = t.read(spark).select(Data.OrderColumns.map(col): _*).collect().map(Order.fromRow)
    val got = rows.map(o => o.key -> o).toMap
    ctx.check(rows.length == got.size, s"final table has ${rows.length - got.size} duplicate keys")
    val missing = model.rows.keys.count(k => !got.contains(k))
    val extra = got.keys.count(k => !model.rows.contains(k))
    val differ = got.count { case (k, o) => model.rows.get(k).exists(_ != o) }
    ctx.check(missing == 0 && extra == 0 && differ == 0,
      s"final table differs from the expected state: $missing missing, $extra extra, $differ changed")
  }
}

/** Scheduled CDC merge cycles with a maintenance tick every `K` cycles.
  * After each cycle one key of its batch is looked up, and before each
  * tick one range is aggregated, both checked against the expected state.
  * Three rounds at least: cycles get faster over the first rounds as the
  * JVM warms up, and the median of 3K cycles lies among the second
  * round's, not in the gap between the first and the rest.
  */
final class CdcMerge(c: Ctx) extends OrdersCdc(c) {
  val K = 3
  override val minRounds = 3
  def round(): Unit = {
    (0 until K).foreach { _ =>
      val batch = cycle()
      lookup(batch(ctx.rnd.nextInt(batch.size)).image.key, fresh = false)
    }
    scan()
    tick(table)
  }
}

/** Reads over a churned table: `ChurnCycles` change batches without a tick
  * after the last set-up (untimed, so `setup_s` is the load alone); then
  * point lookups on `o_orderkey` (80% on recently changed keys, 20%
  * uniform; one read in eight through a fresh table handle, so its caches
  * are cold) and 30-day range aggregates, 3 : 1; one trickle change batch
  * every `R` reads, and one tick every `T` trickles, so the first round's
  * reads all run over 12 to 14 cycles of changes not yet compacted.
  */
final class ServeReads(c: Ctx) extends OrdersCdc(c) {
  val ChurnCycles = 12
  override val headline = "lookup"
  val R = 8
  val T = 2
  private var reads = 0

  override def prepare(): Unit = {
    super.prepare()
    (0 until ChurnCycles).foreach(_ => churnCycle())
  }

  private def read(): Unit = {
    reads += 1
    if (reads % 4 == 0) scan()
    else {
      val hot = ctx.rnd.nextInt(10) < 8
      val key = if (hot) {
        val ks = gen.recentKeys(2000)
        ks(ctx.rnd.nextInt(ks.size))
      } else gen.randomLiveKey(ctx.rnd)
      lookup(key, fresh = reads % 8 == 1)
    }
  }

  def round(): Unit = {
    (0 until T).foreach { _ =>
      (0 until R).foreach(_ => read())
      cycle()
    }
    tick(table)
  }
}
