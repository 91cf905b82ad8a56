package graft.table

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** A batch of key tuples (one column per key column, duplicates and NULLs
  * allowed) summarised on the driver by ONE Spark action: the distinct
  * tuples, each tuple's multiplicity, and Spark's own `xxhash64` of each
  * key value — the hash the manifest blooms are built from.
  *
  * Bounded: `entries` is None when the batch holds more than the cap
  * (`bloom.attach.max-keys`) distinct tuples, and then the digest answers
  * only its bounds, from one aggregate over `keys` run on first use.
  *
  * One digest serves every key-driven step of a merge-on-read commit —
  * file pruning ([[Icebox.keyDisjoint]]), the exact scan filter
  * ([[Icebox.readForKeys]]), the cardinality check and the equality-delete
  * file itself ([[Icebox.commitEqualityDeletes]]) — so the batch's keys are
  * aggregated once instead of once per step.
  */
private[graft] final class KeyDigest private (
    val keys: DataFrame, val entries: Option[IndexedSeq[KeyDigest.Entry]]) {

  def columns: Seq[String] = keys.columns.toSeq
  def schema: StructType = keys.schema

  /** The distinct key tuples (key columns only), when under the cap. */
  def tuples: Option[IndexedSeq[Row]] = entries.map(_.map(_.tuple))

  /** Distinct tuples that occur more than once and hold no NULL (a NULL
    * key never equi-matches, so it can't double-match), when under the cap.
    */
  def duplicates: Option[IndexedSeq[Row]] =
    entries.map(_.filter(e => e.count > 1 && !e.tuple.anyNull).map(_.tuple))

  /** The distinct tuples as a jobless local frame, when under the cap. */
  def localKeys(spark: SparkSession): Option[DataFrame] =
    tuples.map(rows => spark.createDataFrame(rows.asJava, schema))

  /** Per key column (by position): the distinct `xxhash64` values of its
    * non-null keys, when under the cap.
    */
  def hashes: Option[IndexedSeq[Array[Long]]] = entries.map { es =>
    columns.indices.map(i => es.filterNot(_.tuple.isNullAt(i)).map(_.hashes(i)).distinct.toArray)
  }

  /** Per-column key bounds, by position, over non-null keys: numeric
    * columns as doubles in Spark's order (NaN greatest), default-collation
    * strings in UTF8 binary order. Derived from the tuples under the cap;
    * above it, one `min`/`max` aggregate over `keys`, run once.
    */
  lazy val bounds: (Map[Int, (Double, Double)], Map[Int, (String, String)]) = {
    val numeric = columns.indices.filter(i => schema(i).dataType.isInstanceOf[NumericType])
    val strings = columns.indices.filter(i => schema(i).dataType == StringType)
    entries match {
      case Some(es) =>
        def vals(i: Int) = es.iterator.map(_.tuple).filterNot(_.isNullAt(i)).map(_.get(i))
        val num = numeric.flatMap { i =>
          val ds = vals(i).map(v => v.asInstanceOf[Number].doubleValue).toSeq
          if (ds.isEmpty) None
          else {
            val finite = ds.filterNot(_.isNaN)
            val lo = if (finite.isEmpty) Double.NaN else finite.min
            val hi = if (finite.size < ds.size) Double.NaN else finite.max
            Some(i -> (lo, hi))
          }
        }.toMap
        val str = strings.flatMap { i =>
          val ss = vals(i).map(v => UTF8String.fromString(v.asInstanceOf[String])).toSeq
          if (ss.isEmpty) None else Some(i -> (ss.min.toString, ss.max.toString))
        }.toMap
        (num, str)
      case None if numeric.isEmpty && strings.isEmpty => (Map.empty, Map.empty)
      case None =>
        val c = columns
        val aggs =
          numeric.flatMap(i => Seq(min(col(c(i))).cast("double"), max(col(c(i))).cast("double"))) ++
            strings.flatMap(i => Seq(min(col(c(i))), max(col(c(i)))))
        val r = keys.agg(aggs.head, aggs.tail: _*).collect()(0)
        val num = numeric.zipWithIndex.flatMap { case (i, j) =>
          if (r.isNullAt(2 * j) || r.isNullAt(2 * j + 1)) None
          else Some(i -> (r.getDouble(2 * j), r.getDouble(2 * j + 1)))
        }.toMap
        val base = 2 * numeric.size
        val str = strings.zipWithIndex.flatMap { case (i, j) =>
          if (r.isNullAt(base + 2 * j) || r.isNullAt(base + 2 * j + 1)) None
          else Some(i -> (r.getString(base + 2 * j), r.getString(base + 2 * j + 1)))
        }.toMap
        (num, str)
    }
  }

  /** A filter keeping every row whose key tuple may be in the batch: per
    * key column (named `names`, by position) `isin` of its non-null keys,
    * `OR isNull` when a tuple holds a NULL there. A superset of the rows
    * any equality or null-safe join on the keys can match. Columns whose
    * type a literal can't stand for exactly (nested, binary, collated
    * strings) are left unfiltered; None above the cap, above
    * [[KeyDigest.FilterMaxKeys]] tuples or when no column can be filtered.
    */
  def filter(names: Seq[String]): Option[Column] =
      tuples.filter(_.size <= KeyDigest.FilterMaxKeys).flatMap { rows =>
    val perCol = columns.indices.flatMap { i =>
      val dt = schema(i).dataType
      val filterable = dt match {
        case _: NumericType | BooleanType | DateType | TimestampType | TimestampNTZType => true
        case s: StringType => s == StringType
        case _ => false
      }
      if (!filterable) None
      else {
        val present = rows.iterator.filterNot(_.isNullAt(i)).map(_.get(i)).toSeq.distinct
        // Spark's equality makes -0.0 equal 0.0; a hash set of boxed
        // values does not, so both zeros stand in for either
        val values = present.flatMap {
          case d: java.lang.Double if d == 0.0 => Seq(0.0d, -0.0d)
          case f: java.lang.Float if f == 0.0f => Seq(0.0f, -0.0f)
          case v => Seq(v)
        }.distinct
        val in = if (values.isEmpty) lit(false) else col(names(i)).isin(values: _*)
        Some(if (rows.exists(_.isNullAt(i))) in || col(names(i)).isNull else in)
      }
    }
    perCol.reduceOption(_ && _)
  }
}

private[graft] object KeyDigest {

  /** One distinct key tuple, how often the batch holds it, and the
    * `xxhash64` of each of its values (by key column position).
    */
  final case class Entry(tuple: Row, count: Long, hashes: IndexedSeq[Long])

  /** Most distinct tuples [[KeyDigest.filter]] turns into `isin` literals.
    * Building, planning and running an `isin` grows with its literal
    * count faster than the rows it saves: reading 1k / 3k / 10k / 30k /
    * 100k keys back from a 2M-row, 8-file table with two delete files
    * took 1.2 / 0.7 / 1.4 / 3.6 / 13.3 s filtered (building the filter
    * included) against 2.5 / 1.6 / 1.4 / 1.6 / 1.7 s unfiltered (median
    * of 3, 4-core host), so the filter stops short of the 10k break-even.
    */
  val FilterMaxKeys: Int = 5000

  /** Digest `keys` with one action: group by every key column, count, and
    * hash each column, collecting at most `maxKeys + 1` groups.
    */
  def apply(keys: DataFrame, maxKeys: Int): KeyDigest = {
    val cols = keys.columns.toSeq
    val n = cols.size
    val got = keys.groupBy(cols.map(col): _*).agg(count(lit(1)).as("__kd_n"))
      .select(cols.map(col) ++ Seq(col("__kd_n")) ++ cols.map(c => xxhash64(col(c))): _*)
      .limit(maxKeys + 1).collect()
    val entries =
      if (got.length > maxKeys) None
      else Some(got.toIndexedSeq.map(r => Entry(Row.fromSeq(r.toSeq.take(n)), r.getLong(n),
        (0 until n).map(i => r.getLong(n + 1 + i)))))
    new KeyDigest(keys, entries)
  }

  /** A digest of `keys` that runs no action of its own: no tuples, no
    * hashes, and bounds from the one aggregate over `keys` on first use.
    * For a caller whose keys have no bloom to probe, where a full digest
    * would add a Spark action to the bounds aggregate it replaces.
    */
  def boundsOnly(keys: DataFrame): KeyDigest = new KeyDigest(keys, None)
}
