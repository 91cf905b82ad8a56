package graftbench

import scala.collection.mutable

/** A reported number with its unit. */
final case class Metric(value: Double, unit: String)

/** Turns a run's op log (and, when traced, its spans, jobs and queries)
  * into named metrics.
  */
object Report {

  private def secs(ctx: Ctx, kind: String): Seq[Double] = ctx.ops.filter(_.kind == kind).map(_.secs).toSeq

  private def medianOr0(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Op latencies and throughput, measured in every run. `op_s_p50` is the
    * median of the workload's `headline` op kind. The tails carry their
    * percentile and sample count beside them.
    */
  def endToEnd(ctx: Ctx, headline: String): (Map[String, Metric], Map[String, Stats.Tail]) = {
    val cycles = ctx.ops.filter(_.kind == "cycle")
    val m = mutable.LinkedHashMap.empty[String, Metric]
    m("op_s_p50") = Metric(medianOr0(secs(ctx, headline)), "s")
    m("load_rows_per_s") = Metric(
      if (cycles.isEmpty) 0.0 else cycles.map(_.rows).sum / cycles.map(_.secs).sum, "rows/s")
    for (kind <- Seq("cycle", "tick", "lookup", "scan"))
      m(s"${kind}_s_p50") = Metric(medianOr0(secs(ctx, kind)), "s")
    val tails = mutable.LinkedHashMap.empty[String, Stats.Tail]
    for (kind <- Seq("cycle", "lookup", "scan")) {
      val t = Stats.tail(secs(ctx, kind))
      m(s"${kind}_s_tail") = Metric(t.map(_.value).getOrElse(0.0), "s")
      t.foreach(tails(s"${kind}_s_tail") = _)
    }
    m("fail_ratio") = Metric(if (ctx.attempted == 0) 0.0 else ctx.failed.toDouble / ctx.attempted, "ratio")
    (m.toMap, tails.toMap)
  }

  /** What one op did, from its spans, the jobs that started inside it and
    * the queries planned inside it.
    */
  final case class OpTrace(rec: OpRec, root: Span, children: Seq[Span], jobs: Seq[Job],
      queries: Seq[Query]) {
    def span(name: String): Option[Span] = children.find(_.name == name)
    def jobsIn(s: Span): Seq[Job] = jobs.filter(j => j.start >= s.start - 1 && j.start <= s.end)
    def jobIntervals(js: Seq[Job]): Seq[(Double, Double)] = js.map(j => (j.start, j.end))
    /** Wall of `s` not covered by its child spans of another layer. */
    def selfTime(s: Span): Double =
      Stats.uncovered(s.start, s.end,
        children.filter(c => c.parent == s.id && c.layer != "spark").map(c => (c.start, c.end)))
  }

  def opTraces(ctx: Ctx): Seq[OpTrace] = {
    val t = ctx.tracer
    val roots = t.spans.filter(_.parent == 0).map(s => s.trace -> s).toMap
    val jobs = t.jobs
    val queries = t.queries
    ctx.ops.toSeq.flatMap { rec =>
      roots.get(rec.trace).map { root =>
        val inside = (x: Double) => x >= root.start - 1 && x <= root.end
        OpTrace(rec, root, t.spans.filter(s => s.trace == rec.trace && s.parent != 0).toSeq,
          jobs.filter(j => inside(j.start)), queries.filter(q => inside(q.start)))
      }
    }
  }

  /** Job spans: each job becomes a child of the innermost span of its op
    * that was open when the job started.
    */
  def jobSpans(ctx: Ctx): Seq[Span] = {
    val byTrace = ctx.tracer.spans.groupBy(_.trace)
    val roots = ctx.tracer.spans.filter(_.parent == 0)
    ctx.tracer.jobs.flatMap { j =>
      roots.find(r => j.start >= r.start - 1 && j.start <= r.end).map { r =>
        val owner = byTrace(r.trace).filter(s => j.start >= s.start - 1 && j.start <= s.end)
          .minBy(_.dur)
        Span(-j.id - 1, owner.id, r.trace, "spark", s"job ${j.id}: ${j.callSite}", j.start, j.end,
          Map("tasks" -> j.tasks.toDouble, "cpu_ms" -> j.cpuMs, "run_ms" -> j.runMs,
            "input_bytes" -> j.inputBytes.toDouble, "shuffle_bytes" -> j.shuffleBytes.toDouble,
            "spill_bytes" -> j.spillBytes.toDouble))
      }
    }
  }

  /** Per-layer metrics of a traced run. Counts come from the first
    * round, whose inputs and table state are fixed by the seed, so they
    * repeat exactly whatever the run length; times are medians over all
    * rounds.
    */
  def perLayer(ctx: Ctx, cores: Int): Map[String, Metric] = {
    val all = opTraces(ctx)
    def of(kind: String) = all.filter(_.rec.kind == kind)
    val cycles = of("cycle")
    val lookups = of("lookup")
    val cycles1 = cycles.filter(_.rec.round == 1)
    val lookups1 = lookups.filter(_.rec.round == 1)
    val scans1 = of("scan").filter(_.rec.round == 1)
    val m = mutable.LinkedHashMap.empty[String, Metric]
    def put(name: String, v: Double, unit: String): Unit = m(name) = Metric(v, unit)

    // sources: rows the source delivered per cycle, and bytes the cycle's
    // tasks read per byte of its input data
    put("sources.rows_in", mean(cycles1.map(_.rec.rows.toDouble)), "rows")
    put("sources.read_amp", mean(cycles1.filter(_.rec.scanBytes > 0).map(o =>
      o.jobs.map(_.inputBytes).sum.toDouble / o.rec.scanBytes)), "ratio")

    // cdc
    put("cdc.list_s", medianOr0(ctx.listings.map(_._2).toSeq), "s")
    val cycleCall = (o: OpTrace) => o.span("Cdc.runCycle").orElse(o.span("FileCdc.runCycle"))
    put("cdc.cycle_self_s", medianOr0(cycles.flatMap(o => cycleCall(o).map(o.selfTime(_) / 1000))), "s")

    // sql
    put("sql.merge_s", medianOr0(cycles.flatMap(_.span("MergeSql.merge").map(_.dur / 1000))), "s")

    // table: the write call is the MERGE when there is one, else the load
    val writeCall = (o: OpTrace) => o.span("MergeSql.merge").orElse(cycleCall(o))
    put("table.write_s", medianOr0(cycles.flatMap { o =>
      writeCall(o).flatMap { w =>
        o.jobsIn(w).filter(j => Tracer.inTableLayer(j.callSite)).map(_.start).minOption
          .map(s => (w.end - s) / 1000)
      }
    }), "s")
    put("table.commit_driver_s", medianOr0(cycles.flatMap { o =>
      writeCall(o).map(w => Stats.uncovered(w.start, w.end, o.jobIntervals(o.jobsIn(w))) / 1000)
    }), "s")
    val head = ctx.head.getOrElse(HeadCounts(0, 0, 0, 0, 0))
    put("table.live_files", head.liveFiles.toDouble, "count")
    put("table.delete_files", head.deleteFiles.toDouble, "count")
    put("table.snapshots", head.snapshots.toDouble, "count")
    put("table.tick_bytes_rewritten", ctx.tickBytesRewritten.getOrElse(0L).toDouble, "bytes")
    put("table.data_bytes", head.dataBytes.toDouble, "bytes")
    put("table.meta_bytes", head.metaBytes.toDouble, "bytes")

    // plans: planning time of lookups, files a lookup's scan kept of the
    // live files, bytes a range scan read
    put("plans.plan_s", medianOr0(lookups.map(_.queries.map(_.planMs).sum / 1000)), "s")
    val live = math.max(1L, head.liveFiles).toDouble
    put("plans.files_kept_ratio", mean(lookups1.map(_.queries.map(_.filesRead).sum / live)), "ratio")
    put("plans.bytes_scanned", mean(scans1.map(_.queries.map(_.bytesRead).sum.toDouble)), "bytes")

    // spark
    put("spark.jobs_per_cycle", mean(cycles1.map(_.jobs.size.toDouble)), "count")
    put("spark.tasks_per_cycle", mean(cycles1.map(_.jobs.map(_.tasks).sum.toDouble)), "count")
    put("spark.jobs_per_lookup", mean(lookups1.map(_.jobs.size.toDouble)), "count")
    put("spark.tasks_per_lookup", mean(lookups1.map(_.jobs.map(_.tasks).sum.toDouble)), "count")
    put("spark.job_s", medianOr0(cycles.map(o => Stats.covered(o.jobIntervals(o.jobs)) / 1000)), "s")
    put("spark.exec_cpu_s", medianOr0(cycles.map(_.jobs.map(_.cpuMs).sum / 1000)), "s")
    put("spark.busy_cores", medianOr0(cycles.map(o =>
      o.jobs.map(_.runMs).sum / (o.root.dur * cores))), "ratio")
    put("spark.shuffle_bytes", mean(cycles1.map(_.jobs.map(_.shuffleBytes).sum.toDouble)), "bytes")
    put("spark.spill_bytes", mean(cycles1.map(_.jobs.map(_.spillBytes).sum.toDouble)), "bytes")

    // store: Hadoop FileSystem statistics over each cycle
    def fs(o: OpTrace, k: String) = o.root.attrs.getOrElse(k, 0.0)
    put("store.write_ops", mean(cycles1.map(fs(_, "store.write_ops"))), "count")
    put("store.read_ops", mean(cycles1.map(fs(_, "store.read_ops"))), "count")
    put("store.bytes_written", mean(cycles1.map(fs(_, "store.bytes_written"))), "bytes")
    put("store.write_amp", mean(cycles1.filter(_.rec.inputBytes > 0).map(o =>
      fs(o, "store.bytes_written") / o.rec.inputBytes)), "ratio")

    // self time per layer per round: each span's wall minus its child
    // layer spans (the bench's op span minus every layer it called)
    val rounds = math.max(1, ctx.round)
    for (layer <- Seq("bench", "sources", "cdc", "sql", "table", "plans")) {
      val s = all.map { o =>
        (o.root +: o.children).filter(_.layer == layer).map(sp =>
          if (sp eq o.root) Stats.uncovered(sp.start, sp.end,
            o.children.filter(_.parent == sp.id).map(c => (c.start, c.end)))
          else o.selfTime(sp)).sum
      }.sum
      put(s"self.${layer}_s", s / 1000 / rounds, "s")
    }
    // the tracer's own cost per op: listener callbacks and queue drains
    put("trace.overhead_s", ctx.tracer.overheadMs / 1000 / math.max(1, all.size), "s")
    m.toMap
  }
}
