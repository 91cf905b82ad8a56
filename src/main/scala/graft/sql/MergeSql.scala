package graft.sql

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._
import graft.table.{Icebox, KeyDigest, Snapshot}

/** SQL-text `MERGE INTO` over Icebox tables (SURVEY §4 nice-to-have).
  *
  * The statement is parsed by SPARK'S OWN parser
  * (`sessionState.sqlParser.parsePlan` → catalyst `MergeIntoTable`), so the
  * accepted syntax — multiple conditional WHEN clauses, `UPDATE SET *`,
  * `INSERT *`, `WHEN NOT MATCHED BY SOURCE` — is exactly Spark's, and the
  * parsed catalyst expressions are executed verbatim (re-rendered via
  * `Expression.sql` onto aliased DataFrames). Every merge publishes ONE
  * atomic snapshot (readers only ever see the pre- or post-merge state), in
  * one of two executions, chosen by the table's `write.merge.mode`:
  *
  *  - copy-on-write (the default, and the fallback for any ON clause that
  *    is not a pure target=source equality conjunction or any WHEN NOT
  *    MATCHED BY SOURCE clause): one join pass computes the merged row set
  *    of the WHOLE table, one `overwrite` commit publishes it;
  *  - merge-on-read: the source's key tuples are digested once on the
  *    driver ([[graft.table.KeyDigest]]: distinct tuples, their counts and
  *    hashes, one Spark action). The digest prunes the target read to files
  *    that might hold a key and filters its rows to the exact keys, answers
  *    the cardinality check, and becomes the equality-delete file; one
  *    `src LEFT OUTER JOIN tgt` pass yields the matched rows' new images
  *    and the inserts, committed with that delete file (a merge with no
  *    WHEN MATCHED clause is a plain append of the inserts). Cost is
  *    O(batch), not O(table).
  *
  * Why not a DSv2 `SupportsRowLevelOperations` catalog: Spark's analyzer
  * rewrite for v2 MERGE requires the table to supply a full DataSourceV2
  * scan + replace-data write; the builtin parquet DSv2 machinery is
  * `private[sql]`, so that route means hand-rolling a parquet reader. The
  * parser-level route reuses Catalyst end to end and keeps the engine's
  * single write path (Icebox commits) — same trade the programmatic
  * `Upsert` face already makes.
  *
  * Matched-action semantics follow the SQL standard as Spark/Delta
  * implement it: actions apply first-match-wins in clause order; a target
  * row matched by MORE THAN ONE source row errors when any matched action
  * exists (non-deterministic merge), matching Delta's cardinality check.
  *
  * Scale: a copy-on-write merge is one shuffle join (target × source on
  * the ON condition) plus broadcast-size action predicates; at 100 TB its
  * dominant cost is the rewrite itself — the same cost profile as
  * `Upsert.intoTable`, which callers with partition-scoped sources should
  * prefer (`intoTablePartitions` rewrites only touched partitions). A
  * merge-on-read merge touches the batch's keys only: the cardinality
  * check reads duplicate keys from the digest and semi-probes the target
  * only when there are some.
  *
  * Source references: a table/temp-view name (optionally aliased), or an
  * inline `USING (SELECT ...)` subquery — the subquery is re-run from its
  * parser-captured SQL text (every parsed node carries its origin slice),
  * so the full MERGE source syntax works without pre-registering views.
  */
object MergeSql {

  /** name → Icebox handle; targets of MERGE statements must be registered. */
  private val registry = new java.util.concurrent.ConcurrentHashMap[String, Icebox]()

  def register(name: String, table: Icebox): Unit = registry.put(name.toLowerCase, table)

  def lookup(name: String): Option[Icebox] = Option(registry.get(name.toLowerCase))

  /** Execute a `MERGE INTO` statement; returns the committed snapshot. */
  def merge(spark: SparkSession, sqlText: String): Snapshot =
    spark.sessionState.sqlParser.parsePlan(sqlText) match {
      case m: MergeIntoTable => execute(spark, m)
      case other => sys.error(s"not a MERGE INTO statement: ${other.getClass.getSimpleName}")
    }

  // ------------------------------------------------------------------ exec

  private def execute(spark: SparkSession, m: MergeIntoTable): Snapshot = {
    val (targetName, targetAlias) = ref(m.targetTable)
    val (srcDf, sourceAlias) = sourceRef(spark, m.sourceTable)
    val icebox = lookup(targetName).getOrElse(
      sys.error(s"MERGE target '$targetName' is not a registered Icebox table " +
        s"(MergeSql.register(name, table) first)"))
    val targetSchema = icebox.currentSnapshot
      .map(s => org.apache.spark.sql.types.DataType.fromJson(s.schemaJson)
        .asInstanceOf[org.apache.spark.sql.types.StructType])
      .getOrElse(sys.error(s"MERGE target '$targetName' is empty"))
    val targetCols = targetSchema.fieldNames.toSeq

    val src = srcDf.alias(sourceAlias)
    val cond = asColumn(m.mergeCondition)
    validateAssignmentKeys(m, targetCols)

    // pure target=source equality conjunction, when the ON shape admits one
    // (drives both the cheap cardinality check and the merge-on-read path).
    // An ON clause repeating a target column (t.k = s.a AND t.k = s.b) is a
    // valid statement but names no key tuple, so it takes the generic path
    val equiPairs = equiKeys(m.mergeCondition, targetAlias, sourceAlias)
      .filter(p => p.map(_._1).distinct.size == p.size)

    // MERGE-ON-READ (`write.merge.mode = merge-on-read`, equi ON, no BY
    // SOURCE clause): the merge commits without a whole-table rewrite, so
    // only target rows holding a source key take part, and the target read
    // prunes files by manifest stats and blooms (readForKeys). With a WHEN
    // MATCHED clause, ONE key digest of the source (KeyDigest: distinct
    // key tuples, their counts and hashes, one Spark action) drives every
    // key-dependent step: the read's pruning and exact key filter, the
    // cardinality check and the equality-delete commit. A point-MERGE into
    // a huge table reads O(holding files) and applies deletes to O(batch)
    // rows. An insert-only merge has no check or delete to share a digest
    // with, so its read digests only as readForKeys would. The
    // copy-on-write path MUST see the full table (it overwrites), so any
    // fallback condition disables all of this.
    val morPrunable = props(icebox) == "merge-on-read" &&
      m.notMatchedBySourceActions.isEmpty && equiPairs.isDefined &&
      (m.matchedActions.nonEmpty || m.notMatchedActions.nonEmpty)
    lazy val keyDf = srcDf.select(equiPairs.get.map { case (tc, sc) => col(sc).as(tc) }: _*)
    val digest: Option[KeyDigest] =
      Option.when(morPrunable && m.matchedActions.nonEmpty)(icebox.keyDigest(keyDf))
    val tgt = (digest match {
      case Some(d) => icebox.readForKeysAt(spark, d, icebox.currentSnapshot)
      case None if morPrunable => icebox.readForKeys(spark, keyDf)
      case None => icebox.read(spark)
    }).alias(targetAlias)

    lazy val matched = tgt.join(src, cond, "inner")
    if (m.matchedActions.nonEmpty) equiPairs match {
      case Some(pairs) =>
        // EQUI fast path: a target row matches >1 source row iff some
        // source key tuple repeats AND exists in the target — the repeated
        // non-null tuples come from the merge-on-read digest, or else (no
        // digest, or one over its cap) from one aggregation over the
        // (small) SOURCE, and only when there are some is the target
        // semi-probed. The generic check below aggregates the FULL target
        // twice; at 100 TB that is the difference between a
        // broadcast-sized check and two table-wide shuffles.
        val dupKeys: Option[DataFrame] = digest.flatMap(_.duplicates) match {
          case Some(rows) =>
            Option.when(rows.nonEmpty)(spark.createDataFrame(rows.asJava, digest.get.schema))
          case None =>
            val keyCols = pairs.map { case (_, sc) => col(s"$sourceAlias.$sc") }
            val agg = src.groupBy(keyCols: _*).agg(count(lit(1)).as("__m"))
              .filter(col("__m") > 1).drop("__m")
              .toDF(pairs.map(_._1): _*) // rename to target-side names
              .na.drop("any") // NULL keys never join-match, so they can't double-match
            Option.when(!agg.isEmpty)(agg)
        }
        dupKeys.foreach { dk =>
          val hit = tgt.join(broadcast(dk),
            pairs.map { case (tc, _) => col(s"$targetAlias.$tc") === dk(tc) }
              .reduce(_ && _), "left_semi").limit(1).count()
          require(hit == 0L,
            "MERGE cardinality violation: a target row matches more than one source row")
        }
      case None => cardinalityCheck(matched, tgt, targetAlias, targetCols)
    }

    // first-match-wins action index; 0 = no clause applies (keep row as-is)
    def actionIndex(actions: Seq[MergeAction]): Column =
      actions.zipWithIndex.foldRight(lit(0)) { case ((a, i), rest) =>
        when(a.condition.map(asColumn).getOrElse(lit(true)), lit(i + 1)).otherwise(rest)
      }

    // per-column value under each action (UPDATE assigns, DELETE filtered later)
    def applyActions(df: DataFrame, actions: Seq[MergeAction]): DataFrame = {
      val withIdx = df.withColumn("__act", actionIndex(actions))
      val deletes = actions.zipWithIndex.collect { case (_: DeleteAction, i) => i + 1 }
      val kept = withIdx.filter(!col("__act").isin(deletes.map(Integer.valueOf): _*) ||
        lit(deletes.isEmpty))
      val outCols = targetCols.map { c =>
        val perAction = actions.zipWithIndex.foldLeft(col(s"$targetAlias.$c")) {
          case (acc, (u: UpdateAction, i)) =>
            when(col("__act") === (i + 1), assignedValue(u.assignments, c)
              .getOrElse(col(s"$targetAlias.$c"))).otherwise(acc)
          case (acc, (_: UpdateStarAction, i)) =>
            when(col("__act") === (i + 1), col(s"$sourceAlias.$c")).otherwise(acc)
          case (acc, _) => acc
        }
        perAction.as(c)
      }
      kept.select(outCols: _*)
    }

    // the rows the NOT MATCHED clauses insert, from unmatched source rows
    def insertsFrom(unmatchedSource: DataFrame): DataFrame = {
      val withIdx = unmatchedSource
        .withColumn("__act", actionIndex(m.notMatchedActions))
        .filter(col("__act") > 0)
      val outCols = targetCols.map { c =>
        val typedNull = lit(null).cast(targetSchema(c).dataType)
        val perAction = m.notMatchedActions.zipWithIndex.foldLeft(typedNull) {
          case (acc, (ins: InsertAction, i)) =>
            when(col("__act") === (i + 1), assignedValue(ins.assignments, c)
              .getOrElse(typedNull)).otherwise(acc)
          case (acc, (_: InsertStarAction, i)) =>
            when(col("__act") === (i + 1), col(s"$sourceAlias.$c")).otherwise(acc)
          case (acc, _) => acc
        }
        perAction.as(c)
      }
      withIdx.select(outCols: _*)
    }
    lazy val inserts = insertsFrom(src.join(tgt, cond, "left_anti"))

    val snap = digest match {
      case Some(d) =>
        // MERGE-ON-READ commit: ONE equality-delete file (the source's key
        // tuples — deleting an absent key is a no-op, so the distinct
        // source keys stand in for "matched keys" without an extra join)
        // plus the post-action images of matched rows and the inserts, in
        // one atomic snapshot. Write cost is O(matched + inserted)
        // regardless of table size — the reference's documented upsert
        // contract (README.md:509-510) at CDC-batch cost.
        //
        // ONE target pass: src LEFT OUTER JOIN tgt feeds both the matched
        // actions (target key non-null: an equi-match needs one) and the
        // NOT MATCHED inserts (target key null). Both branches share the
        // join's exchanges, so the target is read once, where an inner
        // join plus a left_anti would read and shuffle it twice.
        // The NOT MATCHED branch is projected back to the source's columns
        // under the source alias: Spark resolves NOT MATCHED conditions
        // and INSERT values against the source alone, so an unqualified
        // name must not meet a target column of the same name
        val joined = src.join(tgt, cond, "left_outer")
        val isMatched = col(s"$targetAlias.${equiPairs.get.head._1}").isNotNull
        val mergedMatched = applyActions(joined.filter(isMatched), m.matchedActions)
        val merged =
          if (m.notMatchedActions.isEmpty) mergedMatched
          else mergedMatched.unionByName(insertsFrom(
            joined.filter(!isMatched).select(col(s"$sourceAlias.*")).alias(sourceAlias)))
        icebox.commitEqualityDeletes("merge-mor", d, Some(merged),
          icebox.partitionColumns, -2L)
      case None if morPrunable =>
        // no matched action → matched target rows stay in place; the merge
        // degenerates to an append of the unmatched source rows
        icebox.append(inserts, icebox.partitionColumns)
      case None =>
        // COPY-ON-WRITE: one join pass computes the merged row set, one
        // atomic `overwrite` commit publishes it
        val mergedMatched =
          if (m.matchedActions.isEmpty)
            // left_semi, NOT the inner join: with no matched action each
            // matched target row passes through exactly once, however many
            // source rows hit it (the inner join would emit one copy per
            // source match)
            tgt.join(src, cond, "left_semi").select(targetCols.map(c => col(s"$targetAlias.$c")): _*)
          else applyActions(matched, m.matchedActions)
        val unmatchedTarget = tgt.join(src, cond, "left_anti")
        val mergedUnmatched =
          if (m.notMatchedBySourceActions.isEmpty)
            unmatchedTarget.select(targetCols.map(c => col(s"$targetAlias.$c")): _*)
          else applyActions(unmatchedTarget, m.notMatchedBySourceActions)
        val result = mergedMatched.unionByName(mergedUnmatched)
        icebox.overwrite(if (m.notMatchedActions.isEmpty) result else result.unionByName(inserts),
          icebox.partitionColumns)
    }
    // a registerView temp view is pinned to the pre-merge snapshot's file
    // set — repoint it so SELECT → MERGE → SELECT composes on one name
    if (spark.catalog.tableExists(targetName)) icebox.registerView(spark, targetName)
    snap
  }

  private def props(icebox: Icebox): String = {
    val mode = icebox.properties.getOrElse("write.merge.mode", "copy-on-write")
    require(mode == "copy-on-write" || mode == "merge-on-read",
      s"write.merge.mode=$mode (expected copy-on-write | merge-on-read)")
    mode
  }

  /** Extract `(targetCol, sourceCol)` pairs from an ON condition that is a
    * pure conjunction of `target.c = source.c` equalities (either operand
    * order); None for any other shape — the merge-on-read path needs exact
    * key columns to delete by, so anything fancier falls back to
    * copy-on-write.
    */
  private def equiKeys(cond: Expression, targetAlias: String,
      sourceAlias: String): Option[Seq[(String, String)]] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{And, EqualTo}
    def attr(e: Expression): Option[(String, String)] = e match {
      case a: UnresolvedAttribute => a.nameParts match {
        case Seq(q, c) => Some((q, c))
        case _ => None
      }
      case _ => None
    }
    def go(e: Expression): Option[Seq[(String, String)]] = e match {
      case And(l, r) => for { a <- go(l); b <- go(r) } yield a ++ b
      case EqualTo(l, r) => (attr(l), attr(r)) match {
        case (Some((ql, cl)), Some((qr, cr)))
            if ql.equalsIgnoreCase(targetAlias) && qr.equalsIgnoreCase(sourceAlias) =>
          Some(Seq((cl, cr)))
        case (Some((ql, cl)), Some((qr, cr)))
            if qr.equalsIgnoreCase(targetAlias) && ql.equalsIgnoreCase(sourceAlias) =>
          Some(Seq((cr, cl)))
        case _ => None
      }
      case _ => None
    }
    go(cond)
  }

  /** Reject merges where a target row matches more than one source row
    * (non-deterministic UPDATE/DELETE) — Delta's cardinality check, done
    * WITHOUT materializing the target or minting row ids: a group of
    * identical target rows of size n matched by m source rows contributes
    * n×m joined rows, so "some row matches twice" ⟺ some group's joined
    * count exceeds its target count. Two aggregations + a join of the
    * (small) grouped results; the target is never checkpointed, so the
    * check stays a metadata-free streaming shuffle at any table size.
    */
  private def cardinalityCheck(matched: DataFrame, tgt: DataFrame,
      targetAlias: String, targetCols: Seq[String]): Unit = {
    val tCols = targetCols.map(c => col(s"$targetAlias.$c"))
    val n = tgt.groupBy(tCols: _*).agg(count(lit(1)).as("__n"))
    val j = matched.groupBy(tCols: _*).agg(count(lit(1)).as("__j"))
    val on = targetCols.map(c => n(c) <=> j(c)).reduce(_ && _)
    val violations = n.join(j, on).filter(col("__j") > col("__n")).limit(1).count()
    require(violations == 0L,
      "MERGE cardinality violation: a target row matches more than one source row")
  }

  // --------------------------------------------------------------- helpers

  /** Every UPDATE SET / INSERT assignment key must name a target column —
    * this executor re-resolves expressions outside the analyzer, so without
    * the check a typo'd column silently no-ops instead of failing analysis.
    */
  private def validateAssignmentKeys(m: MergeIntoTable, targetCols: Seq[String]): Unit = {
    val actions = m.matchedActions ++ m.notMatchedActions ++ m.notMatchedBySourceActions
    val keys = actions.flatMap {
      case u: UpdateAction => u.assignments.map(_.key.sql)
      case i: InsertAction => i.assignments.map(_.key.sql)
      case _ => Nil
    }
    val bad = keys.filterNot(k => targetCols.exists(
      _.equalsIgnoreCase(k.split('.').last.stripPrefix("`").stripSuffix("`"))))
    require(bad.isEmpty,
      s"MERGE assignment key(s) ${bad.mkString(", ")} do not resolve to target columns " +
        s"(${targetCols.mkString(", ")})")
  }

  /** (table name, alias) of a parsed TARGET reference — must be a name. */
  private[sql] def ref(plan: LogicalPlan): (String, String) = plan match {
    case SubqueryAlias(id, child) => (ref(child)._1, id.name)
    case UnresolvedRelation(parts, _, _) => (parts.mkString("."), parts.last)
    case other =>
      sys.error(s"MERGE target must be a registered table name " +
        s"(got ${other.getClass.getSimpleName})")
  }

  /** (DataFrame, alias) of a parsed SOURCE reference. Names resolve through
    * the session catalog; an inline `USING (SELECT ...)` subquery is re-run
    * from the SQL text its parsed plan's origin points at — the public
    * route to execute a parsed-but-unresolved plan (Dataset.ofRows is
    * private[sql]).
    */
  private def sourceRef(spark: SparkSession, plan: LogicalPlan): (DataFrame, String) = plan match {
    case SubqueryAlias(id, UnresolvedRelation(parts, _, _)) =>
      (spark.table(parts.mkString(".")), id.name)
    case UnresolvedRelation(parts, _, _) => (spark.table(parts.mkString(".")), parts.last)
    case SubqueryAlias(id, child) => (spark.sql(subqueryText(child)), id.name)
    case other => (spark.sql(subqueryText(other)), "__src")
  }

  private[sql] def subqueryText(p: LogicalPlan): String =
    (for { t <- p.origin.sqlText; a <- p.origin.startIndex; b <- p.origin.stopIndex }
      yield t.substring(a, b + 1)).getOrElse(sys.error(
      "MERGE subquery source carries no SQL origin text; register a temp view instead"))

  /** Parsed catalyst expression → Column, via its SQL rendering (the public
    * route — the `Column(Expression)` constructor is gone in Spark 4).
    */
  private def asColumn(e: Expression): Column = expr(e.sql)

  /** The value assigned to target column `c`, if any assignment names it
    * (qualified or not, case-insensitive).
    */
  private def assignedValue(assignments: Seq[Assignment], c: String): Option[Column] =
    assignments.collectFirst {
      case a if a.key.sql.split('.').last.stripPrefix("`").stripSuffix("`")
        .equalsIgnoreCase(c) => asColumn(a.value)
    }
}
