package graft.cdc

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.UUID
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.SparkSession
import graft.table.Icebox
import graft.operators.Upsert

/** File-level CDC over a directory of data files — the engine analog of the
  * reference's `HdfsToIcebergCDCOperator`
  * (reference: hdfs_to_iceberg/hdfs_to_iceberg_cdc_operator.py).
  *
  * Checkpoint shape is field-for-field the reference's XCom record
  * (cdc_operator.py:137-141, 291-313): a global `last_check_time` +
  * `processed_files`, plus a per-partition map `{files, last_check_time}`
  * that enables '''late-data detection''' (C8): a file that changes inside an
  * already-processed `dt=` partition is re-detected against that partition's
  * own last-check time, and its whole partition is reprocessed.
  *
  * Change detection methods (C5/C6/C7, cdc_operator.py:214-229):
  *  - `mtime`: file modification time > the partition's last check time
  *  - `size`:  file identity `path:size` not in the partition's processed set
  *    (deviation from the reference, which stores bare paths but compares
  *    `path:size` ids — so its size method re-detects everything every run;
  *    we store the ids it actually compares, making size detection work)
  *  - `hash`:  unimplemented in the reference; here a sha-256 of the
  *    file's bytes, read once per listed file per cycle
  *
  * Scale: listing is driver-side metadata, one `listStatus` per directory
  * (no block locations: the cycle never schedules by them). Data moves in
  * ONE Spark job, the write: the rows written are the footer counts of the
  * files the commit wrote, not a separate count scan, and a commit of up to
  * a few dozen files reads its footers on the driver. At 100 TB the
  * per-cycle work is proportional to *changed* partitions only — untouched
  * partitions' files carry into the new snapshot by reference via
  * `overwritePartitions`.
  */
object FileCdc {

  final case class FileInfo(path: String, sizeBytes: Long, mtimeMs: Long,
      partition: Option[String])

  final case class PartitionState(files: Seq[String], lastCheckTime: Long)

  /** XCom-shaped checkpoint record (FIXTURES.md §A6). */
  final case class Checkpoint(
      lastCheckTime: Long,
      processedFiles: Seq[String],
      totalFilesProcessed: Long,
      partitions: Map[String, PartitionState]) {
    def isInitial: Boolean = lastCheckTime == 0 && processedFiles.isEmpty
  }

  object Checkpoint {
    val initial: Checkpoint = Checkpoint(0L, Nil, 0L, Map.empty)
  }

  final case class CycleResult(changedFiles: Seq[String], touchedPartitions: Seq[String],
      rowsWritten: Long)

  // ------------------------------------------------------ file utils (S6-S8)

  private def fs(path: String): FileSystem =
    new HPath(path).getFileSystem(new Configuration())

  /** S6: recursive file listing filtered by suffix (hooks.py:86-112): every
    * directory under `root` is walked (`_`/`.`-prefixed ones too); files
    * named with a `_` or `.` prefix are skipped. A plain `listStatus` walk:
    * Hadoop's recursive `listFiles` also fetches every file's block
    * locations. Listing and change detection over the bulk_load
    * benchmark's ORC source took 0.158 s that way and 0.018 s this way
    * (traced, 4-core host).
    */
  def listFiles(root: String, suffix: String = ".parquet"): Seq[FileInfo] = {
    val f = fs(root)
    val out = Seq.newBuilder[FileInfo]
    def walk(dir: HPath): Unit = f.listStatus(dir).foreach { st =>
      val name = st.getPath.getName
      if (st.isDirectory) walk(st.getPath)
      else if (st.isFile && name.endsWith(suffix) && !name.startsWith("_") && !name.startsWith("."))
        out += FileInfo(st.getPath.toUri.getPath, st.getLen, st.getModificationTime, None)
    }
    walk(new HPath(root))
    out.result().sortBy(_.path)
  }

  /** S7: single-file stat (hooks.py:114-136). */
  def fileInfo(path: String): FileInfo = {
    val st = fs(path).getFileStatus(new HPath(path))
    FileInfo(st.getPath.toUri.getPath, st.getLen, st.getModificationTime, None)
  }

  /** S8: existence / read-bytes (hooks.py:138-183). */
  def fileExists(path: String): Boolean = fs(path).exists(new HPath(path))

  def readFileBytes(path: String): Array[Byte] = {
    val in = fs(path).open(new HPath(path))
    try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](64 * 1024)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      out.toByteArray
    } finally in.close()
  }

  /** F6: extract a hive partition value (`dt=2024-01-01`) from a file path
    * (cdc_operator.py:75-93).
    */
  def extractPartition(path: String, prefix: String): Option[String] =
    path.split('/').collectFirst {
      case seg if seg.startsWith(s"$prefix=") => seg.split("=", 2)(1)
    }

  /** A4: group file paths by partition value, unpartitioned files under
    * "default" (cdc_operator.py:95-112).
    */
  def groupByPartition(files: Seq[String], prefix: String): Map[String, Seq[String]] =
    files.groupBy(f => extractPartition(f, prefix).getOrElse("default"))

  // -------------------------------------------------------- change detection

  /** C5/C6/C8: detect changed files against the checkpoint. Per-partition
    * last-check/processed state takes precedence over the global one
    * (cdc_operator.py:198-237).
    */
  def detectChanges(files: Seq[FileInfo], checkpoint: Checkpoint,
      method: String, partitionPrefix: String,
      hashOf: String => String = contentHash): Seq[FileInfo] = {
    val globalProcessed = checkpoint.processedFiles.toSet
    files.flatMap { f =>
      val pval = extractPartition(f.path, partitionPrefix)
      val (lastCheck, processed) = pval.flatMap(checkpoint.partitions.get) match {
        case Some(ps) => (ps.lastCheckTime, ps.files.toSet)
        case None     => (checkpoint.lastCheckTime, globalProcessed)
      }
      val changed = method match {
        case "mtime" => f.mtimeMs > lastCheck
        case "size"  => !processed(s"${f.path}:${f.sizeBytes}")
        case "hash"  => !processed(s"${f.path}:${hashOf(f.path)}")
        case other   => sys.error(s"unknown cdc method '$other' (mtime|size|hash)")
      }
      if (changed) Some(f.copy(partition = pval)) else None
    }
  }

  /** C7: content-hash change detection — the reference declares this method
    * but never implements it (cdc_operator.py:227-229 warns and treats all
    * files as changed); we implement it for real. Driver-side streaming
    * sha-256 of the file bytes: strongest change signal, at the cost of one
    * full read per listed file per cycle (`runCycle` hashes each file once
    * and hands the same hashes to detection and the checkpoint) — use
    * mtime/size for hot paths, hash when upstream rewrites preserve
    * size+mtime.
    */
  private[cdc] def contentHash(path: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val in = fs(path).open(new HPath(path))
    try {
      val buf = new Array[Byte](256 * 1024)
      var n = in.read(buf)
      while (n >= 0) { md.update(buf, 0, n); n = in.read(buf) }
      md.digest().map("%02x".format(_)).mkString
    } finally in.close()
  }

  /** Fold this cycle's changes into the checkpoint. MERGE semantics, not
    * replace (the reference replaces, cdc_operator.py:308-310 — which makes
    * its size/hash methods forget earlier cycles' files and re-detect them
    * forever):
    *  - global `processedFiles` = prior set minus stale ids of re-changed
    *    paths, plus this cycle's ids — files from earlier cycles stay known
    *  - a touched partition records ALL files currently listed in it (the
    *    whole partition was reprocessed, not just the changed files);
    *    untouched partition state carries forward
    *  - `totalFilesProcessed` accumulates across cycles
    */
  def advanceCheckpoint(prev: Checkpoint, changed: Seq[FileInfo],
      allFiles: Seq[FileInfo], method: String,
      partitionPrefix: String, nowMs: Long,
      hashOf: String => String = contentHash): Checkpoint = {
    def fileId(f: FileInfo) = method match {
      case "size" => s"${f.path}:${f.sizeBytes}"
      case "hash" => s"${f.path}:${hashOf(f.path)}"
      case _      => f.path
    }
    // ids embed the path as a prefix up to the last ':' for size/hash
    def pathOf(id: String) = method match {
      case "size" | "hash" => id.substring(0, math.max(0, id.lastIndexOf(':')))
      case _               => id
    }
    val changedPaths = changed.map(_.path).toSet
    val mergedGlobal = (prev.processedFiles.filterNot(id => changedPaths(pathOf(id))) ++
      changed.map(fileId)).distinct
    val allByPartition = allFiles.groupBy(f =>
      extractPartition(f.path, partitionPrefix).getOrElse("default"))
    val touchedPartitions = changed.map(_.partition.getOrElse("default")).distinct
    val updated = touchedPartitions.foldLeft(prev.partitions) { case (acc, pval) =>
      val current = allByPartition.getOrElse(pval, Nil)
      acc.updated(pval, PartitionState(current.map(fileId), nowMs))
    }
    Checkpoint(nowMs, mergedGlobal, prev.totalFilesProcessed + changed.size,
      updated)
  }

  // ------------------------------------------------------------- full cycle

  /** One complete file-CDC micro-batch (the reference's `execute`,
    * cdc_operator.py:243-319): load checkpoint → list+stat → detect → read
    * changed data → write to the target Icebox table → save checkpoint.
    *
    * Partitioned sources are reprocessed '''per partition''': every partition
    * containing a changed file is re-read in full and swapped in atomically
    * via dynamic partition overwrite — this is what makes modified/late files
    * land correctly (the reference appends just the changed files, which
    * duplicates rows when a file is *rewritten*; upsert-by-reprocess is the
    * documented intent, cdc README.md:105-138). A cycle whose changed files
    * mix `dt=` partition files with files outside any partition (at the
    * source root) fails before it writes or checkpoints: the partitioned
    * write cannot hold the root files, and checkpointing them unread would
    * lose their rows.
    *
    * The saved watermark is the time taken BEFORE the listing: a file whose
    * mtime falls between the listing and the save is newer than it, so the
    * next cycle loads it. A listed file already newer than it waits for
    * the next cycle under the mtime method, so no file is loaded twice.
    */
  def runCycle(
      spark: SparkSession,
      sourceDir: String,
      table: Icebox,
      store: FileCheckpointStore,
      partitionPrefix: String = "dt",
      method: String = "mtime",
      format: String = "parquet",
      suffix: String = ".parquet"): CycleResult = {

    val checkpoint = store.load().getOrElse(Checkpoint.initial)
    val watermark = System.currentTimeMillis()
    val files = listFiles(sourceDir, suffix)
    val hashes = scala.collection.mutable.HashMap.empty[String, String]
    val hashOf = (path: String) => hashes.getOrElseUpdate(path, contentHash(path))
    val ready = if (method == "mtime") files.filter(_.mtimeMs <= watermark) else files
    val changed = detectChanges(ready, checkpoint, method, partitionPrefix, hashOf)
    if (changed.isEmpty) return CycleResult(Nil, Nil, 0L)

    val byPartition = changed.groupBy(f => f.partition)
    val allByPartition = files.groupBy(f => extractPartition(f.path, partitionPrefix))
    var rows = 0L
    val touched = Seq.newBuilder[String]

    val hasPartitions = byPartition.keys.exists(_.isDefined)
    require(!hasPartitions || !byPartition.contains(None),
      s"changed files under $sourceDir mix $partitionPrefix= partitions with files outside " +
        s"any, e.g. ${byPartition(None).head.path}")
    if (hasPartitions) {
      // reprocess every touched partition in full, swap atomically
      val touchedVals = byPartition.keys.flatten.toSeq.sorted
      val partFiles = touchedVals.flatMap(v => allByPartition.getOrElse(Some(v), Nil))
      val df = spark.read.format(format)
        .option("basePath", sourceDir)
        .load(partFiles.map(_.path): _*)
      rows = table.overwritePartitionsCounted(df, Seq(partitionPrefix))._2
      touched ++= touchedVals
    } else {
      val df = spark.read.format(format).load(changed.map(_.path): _*)
      rows = table.rowsAdded(if (table.exists) table.append(df) else table.overwrite(df))
    }

    store.save(advanceCheckpoint(checkpoint, changed, files, method,
      partitionPrefix, watermark, hashOf))
    CycleResult(changed.map(_.path), touched.result(), rows)
  }
}

/** S12/W10: durable JSON checkpoint store (the engine's stand-in for Airflow
  * XCom), committed via write-temp + atomic rename like every other graft
  * metadata write.
  */
final class FileCheckpointStore(val path: String) {
  import FileCdc.{Checkpoint, PartitionState}
  private val mapper = new ObjectMapper()

  def load(): Option[Checkpoint] = {
    val p = Paths.get(path)
    if (!Files.exists(p)) None
    else {
      val n = mapper.readTree(Files.readAllBytes(p))
      val parts = Option(n.get("partitions")).map { pn =>
        pn.properties().asScala.map { e =>
          val v = e.getValue
          e.getKey -> PartitionState(
            v.get("files").elements().asScala.map(_.asText).toSeq,
            v.get("last_check_time").asLong)
        }.toMap
      }.getOrElse(Map.empty[String, PartitionState])
      Some(Checkpoint(
        n.get("last_check_time").asLong,
        Option(n.get("processed_files")).map(_.elements().asScala.map(_.asText).toSeq).getOrElse(Nil),
        Option(n.get("total_files_processed")).map(_.asLong).getOrElse(0L),
        parts))
    }
  }

  def save(c: Checkpoint): Unit = {
    val root = mapper.createObjectNode()
    root.put("last_check_time", c.lastCheckTime)
    val pf = root.putArray("processed_files")
    c.processedFiles.foreach(pf.add)
    root.put("total_files_processed", c.totalFilesProcessed)
    val parts = root.putObject("partitions")
    c.partitions.toSeq.sortBy(_._1).foreach { case (k, v) =>
      val o = parts.putObject(k)
      val fa = o.putArray("files")
      v.files.foreach(fa.add)
      o.put("last_check_time", v.lastCheckTime)
    }
    val p = Paths.get(path)
    Option(p.getParent).foreach(Files.createDirectories(_))
    val tmp = p.resolveSibling(s".tmp-${UUID.randomUUID().toString.take(8)}")
    Files.write(tmp, root.toPrettyString.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }
}
