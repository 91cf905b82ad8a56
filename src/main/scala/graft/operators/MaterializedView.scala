package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.table.Icebox

/** Incrementally maintained materialized aggregate: a target Icebox table
  * holding `GROUP BY keys` counts and sums over a source Icebox table
  * (optionally filtered by a `WHERE` predicate), refreshed in O(changed
  * rows) from the source's change feed instead of O(source) full
  * recomputation — the classic incremental-view-maintenance move (delta
  * processing over an insert/delete change stream), expressed on the
  * engine's own table format.
  *
  * Maintained aggregates per group: `row_count` (COUNT(*)), and for each
  * requested column `c`: `sum_c` (SUM(c), null when the group holds no
  * non-null c — incremental arithmetic tracks this via `nn_c` = COUNT(c))
  * and `nn_c`. AVG derives as sum/nn. MIN/MAX (`min_c`/`max_c` for each
  * column in `minmaxs`) and COUNT(DISTINCT c) (`nd_c` for each column in
  * `distincts`) are NOT delta-maintainable under deletes — a deleted
  * extremum or distinct value needs the group re-read — so they are
  * maintained by BOUNDED TOUCHED-GROUP RECOMPUTE: each refresh
  * re-aggregates them for only the groups the change touched, reading
  * only the source files that might hold those group keys
  * ([[Icebox.readForKeys]] stats/bloom pruning, pinned to the cursor's
  * snapshot). Cost is O(touched groups' files), never O(source) — and
  * untouched groups' values are carried from the target unchanged.
  *
  * An optional `where` predicate (SQL text over source columns) filters
  * both the full build and every change diff before aggregation. This is
  * sound because a row VERSION's predicate value is immutable: an update
  * arrives as delete(old)+insert(new), each judged independently — a row
  * leaving the predicate set decrements exactly the group it once
  * incremented.
  *
  * '''Exactly-once refresh.''' The processed-source cursor rides the OP
  * STRING of the refresh commit itself (`mv-refresh:<mvId>:<srcSnapshot>`
  * — the same trick the streaming sink's batch markers use), so cursor
  * advance and data change are ONE atomic snapshot: a crash between them
  * is impossible, and a replayed refresh finds the marker and no-ops.
  * CONCURRENT refreshers of the same view are safe too: each incremental
  * commit carries the target head its delta was computed against as an
  * expected-head, so the race's loser aborts (SupersededCommit) and
  * re-enters with a fresh cursor instead of double-applying its delta.
  *
  * '''100 TB shape.''' A refresh reads only the source files the change
  * touched ([[Icebox.changeDiff]] diffs manifest ENTRIES, unchanged files
  * never read), aggregates the delta (one shuffle of changed rows), and
  * commits merge-on-read: all touched group keys equality-deleted, the
  * recomputed groups appended — no target data file is rewritten, and
  * vanished groups (count reaching 0) simply aren't re-appended. The one
  * target-side scan is the semi-join fetching current values of touched
  * groups, pruned by stats/blooms when the target declares them. A
  * data-neutral source commit (compaction, property change) advances the
  * cursor with a metadata-only marker commit — zero data I/O. If the
  * cursor's snapshot has been EXPIRED on the source, refresh falls back
  * to a full rebuild (loudly, via the returned mode).
  */
object MaterializedView {

  /** Below this pinned-snapshot size the refreshers read a join side
    * outright instead of key-pruning it: the pruning key digest is a
    * Spark job over the (possibly joined) key plan, and skipping IO on a
    * table this small cannot repay it. Matches the order of Spark's
    * broadcast threshold — a side this size broadcasts anyway.
    */
  private val SmallDimBytes: Long = 8L * 1024 * 1024

  /** What a refresh did: full rebuild, incremental delta, cursor-only
    * advance, or nothing (already current).
    */
  sealed trait Mode
  case object FullBuild extends Mode
  case object Incremental extends Mode
  case object MarkerOnly extends Mode
  case object NoOp extends Mode

  private def opPrefix(mvId: String) = s"mv-refresh:$mvId:"

  /** The source snapshot id the last committed refresh processed (newest
    * marker on the target's snapshot chain), if any.
    */
  def lastRefreshedSource(target: Icebox, mvId: String): Option[Long] = {
    val prefix = opPrefix(mvId)
    if (!target.exists) return None
    target.allSnapshots.iterator.map(_.operation).collectFirst {
      case op if op.startsWith(prefix) => op.stripPrefix(prefix).toLong
    }
  }

  /** The raw cursor text of the newest refresh marker — `<snap>` for a
    * single-table view, `<left>:<right>` for a join view. Display/
    * introspection surface; the typed accessors below parse it.
    */
  def lastRefreshCursor(target: Icebox, mvId: String): Option[String] = {
    val prefix = opPrefix(mvId)
    if (!target.exists) return None
    target.allSnapshots.iterator.map(_.operation).collectFirst {
      case op if op.startsWith(prefix) => op.stripPrefix(prefix)
    }
  }

  /** Two-source cursor of a JOIN view: the (left, right) source snapshot
    * pair the last committed refresh processed (`mv-refresh:<id>:<l>:<r>`
    * markers — a target maintains exactly one definition, so single- and
    * two-source markers never mix under one mvId).
    */
  def lastRefreshedSources(target: Icebox, mvId: String): Option[(Long, Long)] = {
    val prefix = opPrefix(mvId)
    if (!target.exists) return None
    target.allSnapshots.iterator.map(_.operation).collectFirst {
      case op if op.startsWith(prefix) =>
        op.stripPrefix(prefix).split(':') match {
          case Array(l, r) => (l.toLong, r.toLong)
          case other => sys.error(
            s"mv '$mvId': marker '$op' is not a two-source cursor")
        }
    }
  }

  /** Refresh a target from its PERSISTED MvSql definition (`mv.*` table
    * properties), if it carries one — the shared entry point for the
    * maintenance service's tick and the streaming after-commit hook, so
    * every scheduled surface reads one canonical definition. None when
    * the target holds no definition.
    */
  def refreshFromProperties(spark: SparkSession, target: Icebox): Option[Mode] = {
    val props = target.properties
    def list(k: String) =
      props.get(k).map(_.split(',').filter(_.nonEmpty).toSeq).getOrElse(Nil)
    def pairs(s: String) = s.split(',').filter(_.nonEmpty).toSeq.map { pair =>
      val Array(l, r) = pair.split('='); (l, r) }
    for {
      id <- props.get("mv.id")
      srcDir <- props.get("mv.source.dir")
      keys <- props.get("mv.keys")
    } yield (props.get("mv.star.dims"), props.get("mv.source2.dir")) match {
      case (Some(dimDirs), _) =>
        // star view: fact + N dims (`mv.star.dims` = ';'-joined dirs,
        // `mv.star.on` = ';'-joined per-dim 'p=d,p=d' pair lists,
        // `mv.star.parents` = ';'-joined parent indexes, absent = all fact)
        val dirsSeq = dimDirs.split(';').filter(_.nonEmpty).toSeq
        val parents = props.get("mv.star.parents")
          .map(_.split(';').filter(_.nonEmpty).toSeq.map(_.toInt))
          .getOrElse(dirsSeq.map(_ => -1))
        // zip silently truncates — a corrupt/hand-edited `mv.star.parents`
        // shorter than the dim list would otherwise drop dims and refresh
        // a WRONG view; fail loudly instead
        val onSeq = props("mv.star.on").split(';').filter(_.nonEmpty).toSeq
        require(parents.length == dirsSeq.length && onSeq.length == dirsSeq.length,
          s"corrupt star-view properties: ${dirsSeq.length} dims but " +
          s"${parents.length} parents / ${onSeq.length} join lists " +
          "(mv.star.dims / mv.star.parents / mv.star.on out of sync)")
        val dims = dirsSeq
          .zip(onSeq)
          .zip(parents)
          .map { case ((dir, on), par) => StarDim(Icebox(dir), pairs(on), par) }
        refreshStar(spark, Icebox(srcDir), dims, target, id,
          keys.split(',').toSeq, list("mv.sums"),
          props.get("mv.where").filter(_.nonEmpty))
      case (None, Some(dir2)) =>
        refreshJoin(spark, Icebox(srcDir), Icebox(dir2), target, id,
          pairs(props.getOrElse("mv.join.on", "")),
          keys.split(',').toSeq, list("mv.sums"),
          props.get("mv.where").filter(_.nonEmpty))
      case (None, None) =>
        refresh(spark, Icebox(srcDir), target, id, keys.split(',').toSeq,
          list("mv.sums"), props.get("mv.where").filter(_.nonEmpty),
          list("mv.minmaxs"), list("mv.distincts"))
    }
  }

  /** Refresh `target` to reflect `source`'s current snapshot. Returns the
    * mode the refresh ran in. `mvId` names the view (no ':'); a target
    * maintains exactly one view definition — changing `keys`/`sums`/
    * `where`/`minmaxs` for an existing target requires a new target table.
    */
  /** Input-skew spread for a change diff / pruned source read backed by a
    * SMALL table (guide §2.5): scan map-parallelism is bounded by parquet
    * row groups — roughly one task per small file — so on a table of a few
    * files the delta aggregation's partial-agg side runs on 2-3 cores
    * regardless of cluster width. When the backing table's LIVE FILE COUNT
    * is below defaultParallelism, round-robin the rows across the cores
    * before the consuming join/aggregation (deterministic:
    * sortBeforeRepartition is on). Scale-adaptive by construction: a table
    * at production scale holds more files than cores, the condition is
    * false, and the plan keeps plain partial aggregation with no extra
    * exchange.
    */
  private def spreadIfNarrow(df: DataFrame, backingFiles: Int): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (backingFiles > 0 && backingFiles < p) df.repartition(p) else df
  }

  def refresh(spark: SparkSession, source: Icebox, target: Icebox, mvId: String,
      keys: Seq[String], sums: Seq[String], where: Option[String] = None,
      minmaxs: Seq[String] = Nil, distincts: Seq[String] = Nil): Mode = {
    require(mvId.nonEmpty && !mvId.contains(":"), s"mvId must be non-empty without ':' (got '$mvId')")
    require(keys.nonEmpty, "materialized view needs at least one group key")
    val srcSnap = source.currentSnapshot.getOrElse(
      sys.error(s"source table ${source.tableDir} has no snapshot"))
    val srcHead = srcSnap.id
    // CONCURRENT-REFRESHER GUARD: capture the target head BEFORE reading
    // the cursor — the cursor (and every group value read below) is then
    // guaranteed to describe a state at-or-before tgtHead, and the
    // incremental commits carry tgtHead as their expected head. A
    // concurrent refresher publishing at ANY point after this line moves
    // the head, so OUR commit aborts with SupersededCommit instead of
    // double-applying the delta; we re-enter, re-read the cursor, and
    // usually land on NoOp. (Capturing the head AFTER the cursor read
    // would leave a window where a refresh completing between the two
    // reads goes undetected and the same delta applies twice.)
    val tgtHead = if (target.exists) target.currentSnapshotId else -1L
    val last = lastRefreshedSource(target, mvId)
    if (last.contains(srcHead)) return NoOp

    def filtered(df: DataFrame): DataFrame =
      where.map(w => df.filter(expr(w))).getOrElse(df)
    // aggregates that are NOT delta-maintainable under deletes: maintained
    // by bounded touched-group recompute (min/max extrema, distinct counts)
    def recompAggs: Seq[Column] =
      minmaxs.flatMap(c => Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"))) ++
        distincts.map(c => countDistinct(col(c)).as(s"nd_$c"))
    def recompCols: Seq[String] =
      minmaxs.flatMap(c => Seq(s"min_$c", s"max_$c")) ++ distincts.map(c => s"nd_$c")
    def fullAggs: Seq[Column] =
      (count(lit(1)).as("row_count") +: sums.flatMap(c =>
        Seq(sum(col(c)).as(s"sum_$c"), count(col(c)).as(s"nn_$c")))) ++ recompAggs

    def fullBuild(): Mode = {
      val df = filtered(source.read(spark)).groupBy(keys.map(col): _*)
        .agg(fullAggs.head, fullAggs.tail: _*)
      target.overwriteAs(opPrefix(mvId) + srcHead, df, Nil)
      FullBuild
    }

    last match {
      case None => fullBuild()
      case Some(from) =>
        val nFiles = srcSnap.files.size
        val diff =
          try spreadIfNarrow(filtered(source.changeDiff(spark, from, srcHead)), nFiles)
          catch { case _: Exception => return fullBuild() } // cursor expired on source
        applyDelta(spark, target, opPrefix(mvId) + srcHead, tgtHead, diff, keys,
          sums, recompCols,
          // recompute input deliberately NOT spread: the semi-join filter
          // runs map-side on the scan and the recompute aggregates once —
          // an exchange of the touched-files rows costs more than the
          // starved map side (measured +0.6..0.9 s on the distinct/minmax
          // views, r18)
          touched => filtered(source.readForKeysAt(spark, touched, Some(srcSnap)))
            .join(touched, keys, "left_semi")
            .groupBy(keys.map(col): _*).agg(recompAggs.head, recompAggs.tail: _*),
          () => refresh(spark, source, target, mvId, keys, sums, where, minmaxs, distincts))
    }
  }

  /** Incrementally maintained aggregate over an INNER EQUI-JOIN of two
    * Icebox tables — the bilinear delta rule, in its asymmetric form:
    *
    * {{{ A2⋈B2 − A1⋈B1 = ΔA⋈B2 + A1⋈ΔB }}}
    *
    * so a refresh joins (1) the LEFT change diff against the RIGHT table
    * at its NEW snapshot and (2) the LEFT table at its OLD (cursor)
    * snapshot against the RIGHT change diff; each joined row carries the
    * sign of its diff row, and the signed union feeds the exact same
    * group-delta arithmetic as the single-table path. Both non-delta
    * sides are PRUNED READS: only files whose stats/blooms admit the
    * diff's join-key values are scanned ([[Icebox.readForKeysAt]], pinned
    * to the head/cursor snapshot respectively) — at 100 TB a refresh
    * costs O(Δ × files matching Δ's join keys), never a full scan of
    * either table. Updates arrive as delete+insert versions on either
    * side, so join-key CHANGES (a row re-pointing at a new dimension
    * key) maintain exactly: the delete joins its old partner, the insert
    * its new one.
    *
    * Naming contract (enforced by the SQL surface): apart from the join
    * pair columns, the two tables' column names must be DISJOINT — the
    * joined row exposes the left columns plus the right's non-join
    * columns, all unqualified. MIN/MAX are not offered over joins
    * (touched-group recompute would need a two-sided re-join; use a
    * single-table MV over the join's materialization instead). The
    * cursor is the snapshot PAIR, riding the refresh commit's op string
    * — same exactly-once and concurrent-refresher story as [[refresh]].
    */
  def refreshJoin(spark: SparkSession, left: Icebox, right: Icebox,
      target: Icebox, mvId: String, joinOn: Seq[(String, String)],
      keys: Seq[String], sums: Seq[String], where: Option[String] = None): Mode = {
    require(mvId.nonEmpty && !mvId.contains(":"), s"mvId must be non-empty without ':' (got '$mvId')")
    require(keys.nonEmpty, "materialized view needs at least one group key")
    require(joinOn.nonEmpty, "join view needs at least one equi-join column pair")
    val lSnap = left.currentSnapshot.getOrElse(
      sys.error(s"left source ${left.tableDir} has no snapshot"))
    val rSnap = right.currentSnapshot.getOrElse(
      sys.error(s"right source ${right.tableDir} has no snapshot"))
    // same TOCTOU discipline as refresh(): head before cursor
    val tgtHead = if (target.exists) target.currentSnapshotId else -1L
    val last = lastRefreshedSources(target, mvId)
    if (last.contains((lSnap.id, rSnap.id))) return NoOp
    val op = opPrefix(mvId) + s"${lSnap.id}:${rSnap.id}"

    def filtered(df: DataFrame): DataFrame =
      where.map(w => df.filter(expr(w))).getOrElse(df)
    // inner equi-join exposing left columns + right non-join columns:
    // right join columns ride under collision-proof temp names and drop
    // after the join (their values equal the left pair column's anyway)
    def joined(a: DataFrame, b0: DataFrame): DataFrame = {
      val tmps = joinOn.indices.map(i => s"__mvj_$i")
      val b = joinOn.zip(tmps).foldLeft(b0) { case (df, ((_, rc), tmp)) =>
        df.withColumnRenamed(rc, tmp) }
      val cond = joinOn.zip(tmps).map { case ((lc, _), tmp) =>
        col(lc) === col(tmp) }.reduce(_ && _)
      a.join(b, cond, "inner").drop(tmps: _*)
    }
    def fullAggs: Seq[Column] =
      count(lit(1)).as("row_count") +: sums.flatMap(c =>
        Seq(sum(col(c)).as(s"sum_$c"), count(col(c)).as(s"nn_$c")))

    def fullBuild(): Mode = {
      val df = filtered(joined(left.read(spark), right.read(spark)))
        .groupBy(keys.map(col): _*).agg(fullAggs.head, fullAggs.tail: _*)
      target.overwriteAs(op, df, Nil)
      FullBuild
    }

    last match {
      case None => fullBuild()
      case Some((fromL, fromR)) =>
        // a side whose cursor already sits at its head (metadata compare,
        // zero I/O) has an empty diff — its whole term vanishes. The
        // steady-state fact-only refresh runs ONE term, not two.
        val (dl0, dr0) =
          try ((if (fromL != lSnap.id) Some(left.changeDiff(spark, fromL, lSnap.id)) else None),
            if (fromR != rSnap.id) Some(right.changeDiff(spark, fromR, rSnap.id)) else None)
          catch { case _: Exception => return fullBuild() } // cursor expired
        // each diff feeds its term's join AND the other side's pruning-key
        // collection (a separate collect job) — persist so each diff's
        // scan runs once (same move as refreshStar)
        val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
        val dl = dl0.map(d => spreadIfNarrow(d, lSnap.files.size).persist(lvl))
        val dr = dr0.map(d => spreadIfNarrow(d, rSnap.files.size).persist(lvl))
        try {
        // small-side fast path: when the pinned side is a few MB the
        // bounds-probe job costs more than the IO it saves
        def pinnedRead(t: Icebox, snap: graft.table.Snapshot, keys: => DataFrame): DataFrame =
          if (snap.totalBytes <= SmallDimBytes) t.readPinned(spark, snap)
          else t.readForKeysAt(spark, keys, Some(snap))
        // ΔA⋈B@new — right read pruned to files admitting ΔA's join keys
        val termA = dl.map(d => joined(d, pinnedRead(right, rSnap,
          d.select(joinOn.map { case (lc, rc) => col(lc).as(rc) }: _*))))
        // A@old⋈ΔB — left read pruned likewise, pinned to the CURSOR snapshot;
        // the streamed (fact-sized) side gets the narrow-scan spread
        val termB = dr.map { d =>
          val fromSnap = left.snapshot(fromL)
          joined(spreadIfNarrow(pinnedRead(left, fromSnap,
            d.select(joinOn.map { case (lc, rc) => col(rc).as(lc) }: _*)),
            fromSnap.files.size), d)
        }
        val terms = termA.toSeq ++ termB
        if (terms.isEmpty) { // unreachable when last != heads — guard
          target.commitMarker(op, expectHeadId = tgtHead)
          return MarkerOnly
        }
        // schema evolution between the two cursors: term A reads the NEW
        // schema, term B's left side is pinned to the OLD snapshot — a
        // column added (or dropped) mid-stream exists on one side only.
        // allowMissingColumns null-fills it, which IS evolution's read
        // semantics (pre-evolution rows surface the added column as null)
        val diff = filtered(terms.reduce(_.unionByName(_, allowMissingColumns = true)))
        applyDelta(spark, target, op, tgtHead, diff, keys, sums, Nil,
          _ => sys.error("min/max not maintained over joins"),
          () => refreshJoin(spark, left, right, target, mvId, joinOn, keys, sums, where))
        } finally {
          dl.foreach(_.unpersist(blocking = false))
          dr.foreach(_.unpersist(blocking = false))
        }
    }
  }

  /** One dimension of a STAR (or SNOWFLAKE) view: the dim table plus the
    * parent→dim join pairs (`parentCol = dimCol`). `parent` is -1 when the
    * dim joins the FACT (the star shape), or the index of an EARLIER dim
    * in the declaration order (a snowflake chain — customer→nation→region).
    * Dim column names (beyond the join pairs) must be disjoint from the
    * fact's and each other's.
    */
  final case class StarDim(table: Icebox, joinOn: Seq[(String, String)],
      parent: Int = -1)

  /** N-part cursor of a star view: fact snapshot then one per dim, in
    * declaration order (`mv-refresh:<id>:<f>:<d1>:...:<dk>`).
    */
  def lastRefreshedStar(target: Icebox, mvId: String, nDims: Int): Option[Seq[Long]] = {
    val prefix = opPrefix(mvId)
    if (!target.exists) return None
    target.allSnapshots.iterator.map(_.operation).collectFirst {
      case op if op.startsWith(prefix) =>
        val parts = op.stripPrefix(prefix).split(':').toSeq
        if (parts.length != nDims + 1) sys.error(
          s"mv '$mvId': marker '$op' is not a ${nDims + 1}-source cursor")
        parts.map(_.toLong)
    }
  }

  /** Incrementally maintained aggregate over a STAR JOIN — one fact table
    * inner-equi-joined to `dims` dimension tables, each on its own
    * fact-column = dim-column pairs. The 2-way bilinear rule telescopes:
    * with old/new marked 1/2,
    *
    * {{{
    * Δ(F⋈D¹⋈…⋈Dᵏ) = ΔF ⋈ D¹₂ ⋈ … ⋈ Dᵏ₂
    *              + Σⱼ  F₁ ⋈ D¹₂ ⋈ … ⋈ Dʲ⁻¹₂ ⋈ ΔDʲ ⋈ Dʲ⁺¹₁ ⋈ … ⋈ Dᵏ₁
    * }}}
    *
    * i.e. each term swaps exactly one source for its change diff, reading
    * the sources BEFORE it at their NEW snapshots and the ones AFTER it at
    * their OLD (cursor) snapshots — the signed union then feeds the same
    * group-delta arithmetic as every other view.
    *
    * '''Pruning.''' Every non-delta read is key-pruned ([[Icebox.readForKeysAt]],
    * pinned to the term's snapshot): in the ΔF term each dim is pruned to
    * files admitting ΔF's join-key values; in a ΔDʲ term the FACT read is
    * pruned to files admitting ΔDʲ's keys, and every other dim is pruned
    * by the join-key values of that already-pruned fact slice. A refresh
    * therefore costs O(Δ × files the deltas touch transitively), never a
    * full scan of the fact or any dim — the star-schema warehouse shape
    * at 100 TB. Same N-part-cursor exactly-once and concurrent-refresher
    * guarantees as [[refreshJoin]] (which is the k=1 special case).
    *
    * '''Snowflake chains''' ([[StarDim.parent]] >= 0, e.g.
    * customer→nation→region): the telescoped delta rule is join-shape
    * agnostic — each term still swaps exactly one source for its diff with
    * sources ordered along the declaration — so chains maintain with the
    * SAME algebra; only the pruning walks change. A chain dim prunes by
    * the accumulated join slice (its parent's columns exist only after the
    * parent joined), and a ΔDʲ term's fact pruning maps ΔDʲ's keys up the
    * chain level by level (dim slice → parent keys → … → fact files).
    *
    * MIN/MAX/COUNT(DISTINCT) are not offered over stars (same contract as
    * 2-way joins); dim column names beyond the join pairs must be disjoint
    * from the fact's and each other's.
    */
  def refreshStar(spark: SparkSession, fact: Icebox, dims: Seq[StarDim],
      target: Icebox, mvId: String, keys: Seq[String], sums: Seq[String],
      where: Option[String] = None): Mode = {
    require(mvId.nonEmpty && !mvId.contains(":"), s"mvId must be non-empty without ':' (got '$mvId')")
    require(keys.nonEmpty, "materialized view needs at least one group key")
    require(dims.nonEmpty, "star view needs at least one dimension")
    require(dims.forall(_.joinOn.nonEmpty), "every dim needs at least one equi-join pair")
    // snowflake chains: a dim's parent must be declared BEFORE it so the
    // left-deep join fold (and the telescoped delta's before-new/after-old
    // snapshot assignment) sees the parent's columns when the dim joins
    require(dims.zipWithIndex.forall { case (d, i) => d.parent >= -1 && d.parent < i },
      "each dim's parent must be the fact (-1) or an earlier dim index")
    val fSnap = fact.currentSnapshot.getOrElse(
      sys.error(s"fact table ${fact.tableDir} has no snapshot"))
    val dSnaps = dims.map(d => d.table.currentSnapshot.getOrElse(
      sys.error(s"dim table ${d.table.tableDir} has no snapshot")))
    val heads = fSnap.id +: dSnaps.map(_.id)
    // same TOCTOU discipline as refresh(): head before cursor
    val tgtHead = if (target.exists) target.currentSnapshotId else -1L
    val last = lastRefreshedStar(target, mvId, dims.size)
    if (last.contains(heads)) return NoOp
    val op = opPrefix(mvId) + heads.mkString(":")

    def filtered(df: DataFrame): DataFrame =
      where.map(w => df.filter(expr(w))).getOrElse(df)
    // inner equi-join hiding the dim-side join columns (values equal the
    // fact pair column's) — same rename trick as refreshJoin's joined()
    def joinDim(a: DataFrame, b0: DataFrame, joinOn: Seq[(String, String)]): DataFrame = {
      val tmps = joinOn.indices.map(i => s"__mvs_$i")
      val b = joinOn.zip(tmps).foldLeft(b0) { case (df, ((_, rc), tmp)) =>
        df.withColumnRenamed(rc, tmp) }
      val cond = joinOn.zip(tmps).map { case ((fc, _), tmp) =>
        col(fc) === col(tmp) }.reduce(_ && _)
      a.join(b, cond, "inner").drop(tmps: _*)
    }
    def fullAggs: Seq[Column] =
      count(lit(1)).as("row_count") +: sums.flatMap(c =>
        Seq(sum(col(c)).as(s"sum_$c"), count(col(c)).as(s"nn_$c")))
    // keys of `from` projected as the dim's OWN column names, for pruning
    def dimKeysOf(from: DataFrame, joinOn: Seq[(String, String)]): DataFrame =
      from.select(joinOn.map { case (fc, dc) => col(fc).as(dc) }: _*)

    def fullBuild(): Mode = {
      val joined = dims.zipWithIndex.foldLeft(fact.read(spark)) {
        case (acc, (d, _)) => joinDim(acc, d.table.read(spark), d.joinOn)
      }
      val df = filtered(joined).groupBy(keys.map(col): _*)
        .agg(fullAggs.head, fullAggs.tail: _*)
      target.overwriteAs(op, df, Nil)
      FullBuild
    }

    last match {
      case None => fullBuild()
      case Some(cursor) =>
        val fromF = cursor.head
        val fromD = cursor.tail
        // UNCHANGED sources (cursor already at the head — pure metadata
        // comparison, zero I/O) contribute an EMPTY diff, and an inner
        // join with an empty factor is empty: their whole terms vanish.
        // This is the steady-state shape at scale — dims change rarely,
        // so the usual refresh runs ONE term (ΔF), not k+1 pipelines of
        // prune-collect jobs that all produce nothing.
        val changedF = fromF != fSnap.id
        val changedD = dims.indices.map(j => fromD(j) != dSnaps(j).id)
        val (df0, dDiffs) =
          try ((if (changedF) Some(fact.changeDiff(spark, fromF, fSnap.id)) else None),
            dims.zip(fromD).zip(dSnaps).zip(changedD).map {
              case (((d, from), snap), ch) =>
                if (ch) Some(d.table.changeDiff(spark, from, snap.id)) else None })
          catch { case _: Exception => return fullBuild() } // cursor expired
        // every diff feeds k+1 consumers (its own term's join plus every
        // OTHER source's pruning-key collection) and each pruning probe is
        // a separate collect job — persist so the diff scans run once
        val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
        val cached = scala.collection.mutable.ListBuffer[DataFrame]()
        def cache(df: DataFrame): DataFrame = {
          cached.synchronized { cached += df.persist(lvl) }; df
        }
        try {
        val df0c = df0.map(d => cache(spreadIfNarrow(d, fSnap.files.size)))
        val dDiffsC = dDiffs.zip(dSnaps).map { case (o, snap) =>
          o.map(d => cache(spreadIfNarrow(d, snap.files.size))) }
        // snapshot of dim m as seen by term j: before the swapped source at
        // NEW, at-or-after it at OLD (term 0 = the ΔF term sees all-new)
        def dimSnapInTerm(m: Int, j: Int): graft.table.Snapshot =
          if (m < j) dSnaps(m) else dims(m).table.snapshot(fromD(m))
        // term 0: ΔF ⋈ every dim at its NEW snapshot. Star dims prune by
        // ΔF's keys directly; CHAIN dims (parent >= 0) prune by the
        // accumulated slice — the parent's columns only exist after the
        // parent has joined, so the accumulated join is cached at that
        // step and its parent-col values become the dim's pruning keys.
        def foldDims(base: DataFrame, pruneBase: DataFrame, j: Int,
            atJ: DataFrame => DataFrame): DataFrame =
          dims.zipWithIndex.foldLeft(base) { case (acc, (dm, m)) =>
            if (m == j) atJ(acc)
            else {
              val snap = if (j < 0) dSnaps(m) else dimSnapInTerm(m, j)
              // SMALL-DIM FAST PATH: the readForKeys key digest is a
              // Spark job executing the (cached) prune-source plan; when
              // the dim's whole snapshot is a few MB, skipping IO on it
              // saves nothing — read it outright, the join filters. At
              // scale the typical star has exactly this shape: one big
              // fact, dims that fit in a broadcast.
              val dimDf =
                if (snap.totalBytes <= SmallDimBytes) dm.table.readPinned(spark, snap)
                else {
                  val pruneSrc = if (dm.parent < 0) pruneBase else cache(acc)
                  dm.table.readForKeysAt(spark,
                    dimKeysOf(pruneSrc, dm.joinOn), Some(snap))
                }
              joinDim(acc, dimDf, dm.joinOn)
            }
          }
        val term0 = df0c.map(d => foldDims(d, d, -1, identity))
        // term j: F@old ⋈ dims<j @new ⋈ ΔDʲ ⋈ dims>j @old. The fact read
        // is key-pruned TRANSITIVELY: ΔDʲ's keys map to its parent's
        // columns; if the parent is a dim, that dim's (pruned, term-j
        // snapshot) slice maps keys one level up, until the fact is
        // reached — O(Δ × files the deltas touch through the chain).
        def buildDimTerm(dj: StarDim, j: Int, dDiff: DataFrame): DataFrame = {
          // walk up from dim j to the fact, converting keys level by level
          var keysUp: DataFrame = dDiff.select(
            dj.joinOn.map { case (pc, dc) => col(dc).as(pc) }: _*)
          var p = dj.parent
          while (p >= 0) {
            val dp = dims(p)
            val slice = cache(dp.table.readForKeysAt(spark, keysUp,
              Some(dimSnapInTerm(p, j))))
            keysUp = slice.select(
              dp.joinOn.map { case (pc, dc) => col(dc).as(pc) }: _*)
            p = dp.parent
          }
          val fromSnap = fact.snapshot(fromF)
          val fPruned = cache(spreadIfNarrow(
            fact.readForKeysAt(spark, keysUp, Some(fromSnap)), fromSnap.files.size))
          foldDims(fPruned, fPruned, j, acc => joinDim(acc, dDiff, dj.joinOn))
        }
        val changedTerms = dims.zipWithIndex.flatMap { case (dj, j) =>
          dDiffsC(j).map(dDiff => (dj, j, dDiff)) }
        // each term's construction runs its OWN serialized prune-probe
        // collect job (the readForKeys key digest over the cached diffs);
        // the terms only READ pinned snapshots and are mutually
        // independent, so build them from a small thread pool — the probe
        // jobs overlap instead of queueing (optimization guide §2.6). Reads
        // are thread-safe (concurrent metadata caches); the only shared
        // mutable state is the `cached` buffer, synchronized above.
        val dimTerms =
          if (changedTerms.size <= 1)
            changedTerms.map { case (dj, j, d) => buildDimTerm(dj, j, d) }
          else {
            val pool = java.util.concurrent.Executors.newFixedThreadPool(
              math.min(changedTerms.size, 4))
            try changedTerms.map { case (dj, j, d) =>
              pool.submit(new java.util.concurrent.Callable[DataFrame] {
                override def call(): DataFrame = buildDimTerm(dj, j, d)
              })
            }.map(_.get())
            finally pool.shutdown()
          }
        val terms = term0.toSeq ++ dimTerms
        if (terms.isEmpty) {
          // heads moved but every move was already processed under this
          // cursor shape — unreachable when last != heads, but guard it
          target.commitMarker(op, expectHeadId = tgtHead)
          return MarkerOnly
        }
        // schema evolution between cursors: null-fill columns one side
        // lacks, the read semantics evolution itself defines
        val diff = filtered(terms.reduce(
          _.unionByName(_, allowMissingColumns = true)))
        applyDelta(spark, target, op, tgtHead, diff, keys, sums, Nil,
          _ => sys.error("min/max not maintained over stars"),
          () => refreshStar(spark, fact, dims, target, mvId, keys, sums, where))
        } finally cached.foreach(_.unpersist(blocking = false))
    }
  }

  /** The shared incremental core: aggregate a source-row change `diff`
    * (rows + `_change_type`) into per-group deltas, merge with the
    * current values of the touched groups, and publish ONE atomic
    * merge-on-read commit whose op string carries the cursor. Empty
    * delta → marker-only cursor advance. A concurrent refresher moving
    * the target head aborts the commit ([[Icebox.SupersededCommit]]) and
    * control re-enters via `onSuperseded`.
    */
  private def applyDelta(spark: SparkSession, target: Icebox, op: String,
      tgtHead: Long, diff: DataFrame, keys: Seq[String], sums: Seq[String],
      recompCols: Seq[String], recompute: DataFrame => DataFrame,
      onSuperseded: () => Mode): Mode = {
        val sign = when(col("_change_type") === "insert", lit(1L)).otherwise(lit(-1L))
        val ins = col("_change_type") === "insert"
        // per-column deltas as SAME-TYPED sums (insert-sum minus delete-sum
        // — never c*sign, whose decimal widening would drift the target
        // schema across refreshes)
        val deltaAggs = sum(sign).as("__dcnt") +: sums.flatMap(c => Seq(
          (coalesce(sum(when(ins, col(c))), lit(0)) -
            coalesce(sum(when(!ins, col(c))), lit(0))).as(s"__dsum_$c"),
          (count(when(ins, col(c))) - count(when(!ins, col(c)))).as(s"__dnn_$c")))
        // One row per TOUCHED GROUP — small by construction — but its plan
        // re-reads the whole change diff, and it feeds four downstream
        // consumers (emptiness check, semi-join, merge join, the commit's
        // delete-key projection). Persist so the diff scan runs ONCE.
        val delta = diff.groupBy(keys.map(col): _*).agg(deltaAggs.head, deltaAggs.tail: _*)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
        // count(), not isEmpty(): isEmpty is take(1) and materializes only
        // the persist's FIRST partitions — every downstream broadcast of
        // delta/touched would then re-scan the whole change diff inside its
        // own subquery job. One count pays one diff scan and the cache
        // serves everything after it.
        if (delta.count() == 0L) {
          // data-neutral source change (compaction, metadata): advance the
          // cursor so later diffs never re-read this range
          target.commitMarker(op, expectHeadId = tgtHead)
          return MarkerOnly
        }
        val targetSchema = target.read(spark).schema
        def tpe(n: String) = targetSchema.fields.find(_.name == n).get.dataType
        val touched = delta.select(keys.map(col): _*)
        // current values of TOUCHED groups only (semi-join keeps the scan's
        // shuffle at O(touched); stats/bloom pruning applies when declared)
        val cur = target.read(spark).join(touched, keys, "left_semi")
          .drop(recompCols: _*)
        var merged = delta.join(cur, keys, "left")
        val mmCols = if (recompCols.isEmpty) Nil else {
          // bounded touched-group recompute: non-delta-maintainable
          // aggregates (min/max extrema, distinct counts) re-aggregated
          // from the head-state rows of ONLY the touched groups, scanning
          // only the source files that might hold those keys (stats/bloom
          // pruned, pinned to the cursor's snapshot)
          val mm = recompute(touched)
          merged = merged.join(mm, keys, "left")
          recompCols.map(c => col(c).cast(tpe(c)).as(c))
        }
        val newCnt = (coalesce(col("row_count"), lit(0L)) + col("__dcnt")).as("row_count")
        val valueCols = sums.flatMap { c =>
          val nn = (coalesce(col(s"nn_$c"), lit(0L)) + col(s"__dnn_$c"))
          val raw = coalesce(col(s"sum_$c"), lit(0)) + col(s"__dsum_$c")
          Seq(when(nn === 0L, lit(null)).otherwise(raw).cast(tpe(s"sum_$c")).as(s"sum_$c"),
            nn.as(s"nn_$c"))
        }
        val updated = merged
          .select((keys.map(col) :+ newCnt) ++ valueCols ++ mmCols: _*)
          .filter(col("row_count") > 0L)
        // ONE atomic merge-on-read commit: every touched key deleted, the
        // recomputed groups appended, cursor marker in the op string
        target.commitEqualityDeletes(op,
          delta.select(keys.map(col): _*), Some(updated), expectHeadId = tgtHead)
        Incremental
        } catch {
          case Icebox.SupersededCommit =>
            // a concurrent refresher won the commit race: release OUR
            // cached delta first (the finally below is idempotent), then
            // re-enter with a fresh cursor (usually a NoOp) — so stacked
            // re-entries never hold more than one persisted delta
            delta.unpersist(blocking = false)
            onSuperseded()
        } finally delta.unpersist(blocking = false)
  }
}
