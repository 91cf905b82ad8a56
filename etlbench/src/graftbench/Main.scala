package graftbench

import java.io.{File, FileOutputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files => NioFiles, Paths}
import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession

/** Runs one workload in one JVM and writes its result as JSON.
  *
  * {{{
  * graftbench.Main --workload bulk_load|cdc_merge|serve_reads --seed N
  *   --seconds S --trace 0|1 --scratch DIR --result FILE
  * }}}
  *
  * Everything the run writes goes under `--scratch`; the caller deletes it.
  * With `--trace 1` the spans go to `<result>.spans.jsonl` beside the result.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = opts.getOrElse(k, { System.err.println(s"missing --$k"); sys.exit(2) })
    val workload = need("workload")
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val traced = need("trace") == "1"
    val scratch = new File(need("scratch"))
    val resultPath = need("result")
    if (!Set("bulk_load", "cdc_merge", "serve_reads")(workload)) {
      System.err.println(s"unknown workload '$workload'"); sys.exit(2)
    }
    scratch.mkdirs()
    val code = try run(workload, seed, seconds, traced, scratch, resultPath)
    catch {
      case NonFatal(e) =>
        System.err.println(s"benchmark aborted: $e"); e.printStackTrace(); 3
    }
    System.out.flush()
    sys.exit(code)
  }

  private def run(workload: String, seed: Long, seconds: Double, traced: Boolean,
      scratch: File, resultPath: String): Int = {
    val cores = Runtime.getRuntime.availableProcessors()
    val canaryStart = Canary.measure(scratch)
    if (traced) CountingLocalFs.install()
    val s0 = System.nanoTime()
    val spark = graft.GraftSession.builder(master = s"local[$cores]", appName = "graftbench")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(scratch, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(scratch, "warehouse").getPath)
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - s0) / 1e9
    try {
      val tracer = new Tracer(spark, traced)
      val ctx = new Ctx(spark, tracer, new File(scratch, "data"), seed)
      val w: Workload = workload match {
        case "bulk_load"   => new BulkLoad(ctx)
        case "cdc_merge"   => new CdcMerge(ctx)
        case "serve_reads" => new ServeReads(ctx)
      }
      val phases = mutable.LinkedHashMap("session_s" -> sessionS)
      def phase[T](name: String)(body: => T): T = {
        val t = System.nanoTime()
        try body finally phases(name) = (System.nanoTime() - t) / 1e9
      }
      phase("init_s")(w.init())
      val setupSecs = (1 to w.setups).map { rep =>
        val t = System.nanoTime()
        w.setup(rep)
        (System.nanoTime() - t) / 1e9
      }
      phase("prepare_s")(w.prepare())
      // the peak resident set of the measured rounds only, not of the
      // harness's data generation and set-ups before them
      val peakReset = Canary.resetPeakRss()

      // whole rounds until the time is up: past the workload's minimum, a
      // round starts only if the last one's length says it ends by then
      val m0 = System.nanoTime()
      def elapsed = (System.nanoTime() - m0) / 1e9
      var lastRound = 0.0
      while (ctx.round < w.minRounds || elapsed + lastRound <= seconds) {
        ctx.round += 1
        val r0 = elapsed
        w.round()
        lastRound = elapsed - r0
      }
      phases("measured_s") = elapsed
      val peakRss = Canary.peakRssMb()

      val finalError = phase("final_check_s") {
        try { w.finalCheck(); None }
        catch { case NonFatal(e) => Some(s"final state: ${e.getMessage}") }
      }
      tracer.close()
      // space amplification: bytes under the table dir over the bytes of
      // its live rows written once by plain Spark as zstd parquet
      val spaceAmp = phase("space_amp_s") {
        val reference = new File(scratch, "reference").getPath
        w.table.read(spark).write.option("compression", "zstd").parquet(reference)
        Files.bytes(w.table.tableDir).toDouble / Files.dataBytes(reference, ".parquet")
      }

      val (e2e, tails) = Report.endToEnd(ctx, w.headline)
      val metrics = mutable.LinkedHashMap.empty[String, Metric]
      metrics("setup_s") = Metric(Stats.median(setupSecs), "s")
      metrics ++= e2e
      metrics("space_amp") = Metric(spaceAmp, "ratio")
      metrics("peak_rss_mb") = Metric(peakRss, "MB")
      if (traced) metrics ++= Report.perLayer(ctx, cores)

      val canaryEnd = Canary.measure(scratch)
      val correct = finalError.isEmpty && ctx.failed == 0
      val meta = Map(
        "workload" -> workload, "seed" -> seed, "trace" -> traced, "seconds" -> seconds,
        "cpus" -> cores, "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "jvm" -> s"${sys.props("java.vm.name")} ${sys.props("java.version")}",
        "spark" -> spark.version, "scala" -> scala.util.Properties.versionNumberString,
        "phases" -> phases, "setup_s_each" -> setupSecs, "rounds" -> ctx.round,
        "peak_rss_over" -> (if (peakReset) "measured rounds" else "whole run"),
        "samples" -> ctx.ops.groupBy(_.kind).map { case (k, v) => k -> v.size })
      val result = Map(
        "correct" -> correct, "attempted" -> ctx.attempted, "failed" -> ctx.failed,
        "errors" -> (ctx.errors.toSeq ++ finalError),
        "metrics" -> metrics.map { case (k, v) => k -> Map("value" -> v.value, "unit" -> v.unit) },
        "tails" -> tails.map { case (k, t) =>
          k -> Map("percentile" -> t.percentile, "samples" -> t.samples, "beyond" -> t.beyond) },
        "op_seconds" -> ctx.ops.groupBy(_.kind).map { case (k, v) => k -> v.map(_.secs) },
        "canaries" -> Map("start" -> canaryStart, "end" -> canaryEnd),
        "meta" -> meta)
      write(resultPath, Json(result))
      if (traced) {
        val lines = (tracer.spans.toSeq ++ Report.jobSpans(ctx)).sortBy(_.start).map(s => Json(Map(
          "trace" -> s.trace, "id" -> s.id, "parent" -> s.parent, "layer" -> s.layer,
          "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end, "attrs" -> s.attrs)))
        write(resultPath + ".spans.jsonl", lines.mkString("", "\n", "\n"))
      }
      finalError.foreach(e => System.err.println(e))
      0
    } finally spark.stop()
  }

  private def write(path: String, text: String): Unit = {
    val p = Paths.get(path)
    Option(p.getParent).foreach(NioFiles.createDirectories(_))
    NioFiles.write(p, text.getBytes(StandardCharsets.UTF_8))
  }
}

/** Host canaries: a fixed CPU loop and a fixed small-file write + fsync
  * probe, timed at the start and end of every run, so a slow or stalled
  * host shows in the artifact beside the metrics it skewed.
  */
object Canary {
  def measure(dir: File): Map[String, Double] = {
    val c0 = System.nanoTime()
    var x = 88172645463325252L
    var i = 0
    while (i < 50000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    val cpuMs = (System.nanoTime() - c0) / 1e6 + (if (x == 0) 1 else 0)
    dir.mkdirs()
    val f = new File(dir, "canary.bin")
    val buf = new Array[Byte](4096)
    val w0 = System.nanoTime()
    (0 until 16).foreach { _ =>
      val out = new FileOutputStream(f)
      try { out.write(buf); out.getFD.sync() } finally out.close()
    }
    val fsyncMs = (System.nanoTime() - w0) / 1e6 / 16
    f.delete()
    Map("cpu_loop_ms" -> cpuMs, "write_fsync_ms" -> fsyncMs)
  }

  /** Resets VmHWM to the current resident set; false where the kernel
    * does not allow it.
    */
  def resetPeakRss(): Boolean =
    scala.util.Try {
      val out = new FileOutputStream("/proc/self/clear_refs")
      try out.write('5') finally out.close()
    }.isSuccess

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    scala.util.Try {
      scala.io.Source.fromFile("/proc/self/status").getLines()
        .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024 }.get
    }.getOrElse(Runtime.getRuntime.totalMemory / 1048576.0)
}

/** Minimal JSON rendering for maps, sequences, strings, numbers, booleans. */
object Json {
  def apply(v: Any): String = v match {
    case null                 => "null"
    case s: String            => quote(s)
    case b: Boolean           => b.toString
    case d: Double            => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int               => n.toString
    case n: Long              => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${quote(k.toString)}:${apply(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_]      => xs.map(apply).mkString("[", ",", "]")
    case other                => quote(other.toString)
  }
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c    => b += c
    }
    b += '"'
    b.toString
  }
}
