package graft.cdc

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.sql.Timestamp
import java.util.UUID
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** CDC watermark: the engine analog of the reference's
  * `__airflow_cdc_metadata__` row — (source_schema, source_table,
  * last_timestamp, last_scn)
  * (reference: oracle_to_iceberg_cdc_operator.py:126-165).
  * The reference MERGEs this back into the *source* Oracle DB; the engine
  * keeps it in its own checkpoint store, removing that write-back boundary
  * (SURVEY §3.2).
  */
final case class Watermark(
    sourceSchema: String,
    sourceTable: String,
    lastTimestampMs: Long,   // epoch ms of the high watermark
    lastScn: Long)           // monotonically increasing version ("SCN")

/** Driver-side key-value watermark store, one JSON file per (schema, table),
  * committed via write-temp + atomic rename (restart-safe — the contract of
  * C4, README.md:493-499).
  */
final class WatermarkStore(dir: String) {
  private val mapper = new ObjectMapper()
  Files.createDirectories(Paths.get(dir))

  private def fileFor(schema: String, table: String) =
    Paths.get(dir, s"${schema.toLowerCase}__${table.toLowerCase}.json")

  def get(schema: String, table: String): Option[Watermark] = {
    val f = fileFor(schema, table)
    if (!Files.exists(f)) None
    else {
      val n = mapper.readTree(Files.readAllBytes(f))
      Some(Watermark(n.get("sourceSchema").asText, n.get("sourceTable").asText,
        n.get("lastTimestampMs").asLong, n.get("lastScn").asLong))
    }
  }

  /** Upsert a watermark row (J1 analog — the reference runs an Oracle MERGE
    * for this, oracle_to_iceberg_cdc_operator.py:149-162).
    */
  def put(w: Watermark): Unit = {
    val o = mapper.createObjectNode()
    o.put("sourceSchema", w.sourceSchema).put("sourceTable", w.sourceTable)
      .put("lastTimestampMs", w.lastTimestampMs).put("lastScn", w.lastScn)
    val f = fileFor(w.sourceSchema, w.sourceTable)
    val tmp = Paths.get(dir, s".tmp-${UUID.randomUUID().toString.take(8)}")
    Files.write(tmp, o.toPrettyString.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, f, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  def all: Seq[Watermark] =
    scala.util.Using.resource(Files.list(Paths.get(dir))) { st =>
      st.iterator().asScala
        .filter(_.toString.endsWith(".json")).toSeq
    }.sortBy(_.toString)
      .map { f =>
        val n = mapper.readTree(Files.readAllBytes(f))
        Watermark(n.get("sourceSchema").asText, n.get("sourceTable").asText,
          n.get("lastTimestampMs").asLong, n.get("lastScn").asLong)
      }
}

/** Incremental (CDC) extraction predicates — the reference's three methods
  * (README.md:487-491): timestamp, SCN, flashback.
  */
object Cdc {

  /** C1: timestamp CDC — strictly-greater-than high-watermark filter on a
    * designated column; first run (no watermark) = full scan
    * (reference builds `ts_col > TO_TIMESTAMP(...)` or `1=1`,
    * oracle_to_iceberg_cdc_operator.py:182-191). The `>` is strict, matching
    * the reference exactly (SURVEY §7.4 boundary semantics).
    */
  def timestampIncrement(df: DataFrame, tsCol: String, wm: Option[Watermark]): DataFrame =
    wm match {
      case None    => df
      case Some(w) => df.filter(col(tsCol) > lit(new Timestamp(w.lastTimestampMs)))
    }

  /** C2: SCN CDC — `version_col > last_scn`
    * (reference: `ORA_ROWSCN > {last_scn}`, cdc_operator.py:192-194).
    */
  def scnIncrement(df: DataFrame, versionCol: String, wm: Option[Watermark]): DataFrame =
    wm match {
      case None    => df
      case Some(w) => df.filter(col(versionCol) > lit(w.lastScn))
    }

  /** Compute the next watermark from an extracted batch: max(tsCol) /
    * max(versionCol) — the engine equivalent of the reference reading
    * `V$DATABASE.current_scn` + wall clock (cdc_operator.py:167-173,288).
    * Returns the previous watermark when the batch is empty (the reference's
    * empty short-circuit, cdc_operator.py:237-242).
    */
  def advance(batch: DataFrame, schema: String, table: String,
      tsCol: String, versionCol: Option[String], prev: Option[Watermark]): Watermark =
    summarize(batch, schema, table, tsCol, versionCol, prev)._2

  /** One aggregate over `batch` — `count(*)`, `max(tsCol)` and
    * `max(versionCol)` — read into (row count, next watermark); a column's
    * max falls back to `prev` when the batch is empty.
    */
  private def summarize(batch: DataFrame, schema: String, table: String,
      tsCol: String, versionCol: Option[String], prev: Option[Watermark]): (Long, Watermark) = {
    val aggs = Seq(count(lit(1)).as("n"), max(col(tsCol)).as("ts")) ++
      versionCol.map(c => max(col(c)).as("scn"))
    val row = batch.agg(aggs.head, aggs.tail: _*).collect()(0)
    // TimestampType surfaces as java.sql.Timestamp, TimestampNTZ as LocalDateTime
    val newTs = Option(row.getAs[Any]("ts")).map {
      case t: Timestamp               => t.getTime
      case d: java.time.LocalDateTime => d.toInstant(java.time.ZoneOffset.UTC).toEpochMilli
      case other => sys.error(s"unsupported watermark column type: ${other.getClass}")
    }
    val newScn = versionCol.flatMap(_ => Option(row.getAs[Any]("scn")).map(_.toString.toLong))
    (row.getLong(0), Watermark(schema, table,
      newTs.orElse(prev.map(_.lastTimestampMs)).getOrElse(0L),
      newScn.orElse(prev.map(_.lastScn)).getOrElse(0L)))
  }

  /** One micro-batch CDC cycle (the reference's whole
    * `OracleToIcebergCDCOperator.execute`, cdc_operator.py:223-297, as a
    * function): read watermark → incremental filter → empty short-circuit →
    * sink → advance watermark. `sink` receives only the changed rows. One
    * aggregate gives both the emptiness test and the next watermark, which
    * is stored only after the sink returns — a sink that throws leaves the
    * stored watermark where it was, so the batch is re-extracted.
    */
  def runCycle(
      store: WatermarkStore,
      schema: String, table: String,
      source: SparkSession => DataFrame,
      tsCol: String,
      versionCol: Option[String] = None)(
      sink: DataFrame => Unit)(implicit spark: SparkSession): Watermark = {
    val prev = store.get(schema, table)
    val batch0 = source(spark)
    val batch = versionCol match {
      case Some(vc) => scnIncrement(batch0, vc, prev)
      case None     => timestampIncrement(batch0, tsCol, prev)
    }
    // cache: the batch feeds both the watermark aggregate and the sink
    batch.cache()
    try {
      val (rows, next) = summarize(batch, schema, table, tsCol, versionCol, prev)
      if (rows > 0) sink(batch)
      store.put(next)
      next
    } finally batch.unpersist()
  }
}
