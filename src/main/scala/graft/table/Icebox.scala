package graft.table

import java.nio.charset.StandardCharsets
import java.util.UUID
import scala.jdk.CollectionConverters._
import scala.util.Using
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DataType, DoubleType, FloatType, IntegerType, LongType, NumericType, ShortType, StringType, StructField, StructType}

/** One committed table state: an immutable file manifest + lineage.
  *
  * The Spark-native analog of an Iceberg snapshot
  * (reference walks the snapshot parent chain the same way:
  * airflow-plugins/maintenance/iceberg_snapshot_operator.py:130-156).
  *
  * `files` is LAZY: on disk each commit stores only its delta
  * (added files + removed paths) against the parent, and the live file set
  * is reconstructed on first access by replaying the delta chain from the
  * nearest full manifest (then cached in the owning [[Icebox]] handle).
  * Metadata-only consumers (`snapshotsDf`, lineage walks) should use
  * `fileCount`/`totalBytes`, which are recorded in every manifest and never
  * force reconstruction.
  */
final class Snapshot private[table] (
    val id: Long,
    val parentId: Long,                     // -1 = root
    val timestampMs: Long,
    val operation: String,                  // append | overwrite | upsert | compact | rollback | cherrypick
    val schemaJson: String,
    val fileCount: Long,
    val totalBytes: Long,
    filesThunk: () => Seq[DataFile]) {
  lazy val files: Seq[DataFile] = filesThunk()
  override def toString: String =
    s"Snapshot(id=$id, parent=$parentId, op=$operation, files=$fileCount)"
}

object Snapshot {
  def apply(id: Long, parentId: Long, timestampMs: Long, operation: String,
      files: Seq[DataFile], schemaJson: String): Snapshot =
    new Snapshot(id, parentId, timestampMs, operation, schemaJson,
      files.size.toLong, files.map(_.sizeBytes).sum, () => files)
}

/** One data file plus its identity-partition values and optional per-column
  * min/max statistics (Iceberg-style file-level metadata — enables manifest
  * pruning and file skipping without touching storage).
  * `stats` values are stored as strings and compared numerically by
  * `prunedFilesByStats` (numeric columns only).
  * `deletes` lists POSITION-DELETE files (Iceberg v2 merge-on-read analog)
  * applying to this data file: each is a parquet dir of
  * `(file_path, pos)` rows; readers anti-join them away.
  * `eqDeletes` lists EQUALITY-DELETE files (Iceberg v2's other delete
  * type): each is a parquet dir whose SCHEMA names the equality columns
  * and whose rows are the deleted key tuples. Applicability is the attach
  * list itself — a delete file committed at snapshot N is attached only to
  * files that already existed at N (minus stats-pruned ones), so rows
  * appended later — including by the same upsert commit — are never
  * affected (Iceberg's sequence-number semantics, carried per file).
  * Stats/row counts describe the BASE file (a superset — still
  * conservative for pruning).
  */
final case class DataFile(path: String, sizeBytes: Long, partition: Map[String, String],
    stats: Map[String, (String, String)] = Map.empty, rows: Long = -1L,
    deletes: Seq[String] = Nil, eqDeletes: Seq[String] = Nil,
    blooms: Map[String, String] = Map.empty,
    sketches: Map[String, String] = Map.empty,
    nullCounts: Map[String, Long] = Map.empty,
    // exact count of this file's rows removed by its attached position-
    // delete dirs (positions are per-file distinct at write; in-process
    // commits serialize on the handle). -1 = unknown (manifest written
    // before counts were recorded) — consumers refuse, never estimate.
    // Always 0 when `deletes` is empty; equality deletes are NOT counted
    // here (their matched cardinality genuinely needs a scan).
    deleteRows: Long = 0L)

/** "Icebox" — a minimal snapshot-logged table format over plain parquet.
  *
  * The environment ships no `iceberg-spark-runtime` jar, so the reference's
  * Iceberg capabilities (append/overwrite writes W1-W4, snapshot listing M3/M4,
  * rollback M5, cherry-pick M6, expiry M2, compaction M1, time-travel reads
  * P6/C3) are re-implemented as a thin driver-side metadata layer:
  *
  * {{{
  * tableDir/
  *   _snapshots/<id>.json                 one manifest per commit (append-only)
  *   _current                             text file holding the current snapshot id
  *   data/graft_commit=<id>/[k=v/...]part-*.parquet
  * }}}
  *
  * '''O(delta) manifests.''' A commit's manifest stores only the files it
  * ADDED and the paths it REMOVED relative to its parent (plus a running
  * `fileCount`/`totalBytes` so listings never force reconstruction); the
  * live file set is rebuilt lazily by replaying the chain from the nearest
  * FULL manifest and cached per handle. A full manifest is written whenever
  * the delta would not be smaller than the full list (overwrite, compact,
  * rollback of a small table) and, Delta-Lake-checkpoint-style, at least
  * every `MaxDeltaChain` commits (`checkpoint.interval`), which bounds
  * reconstruction at O(MaxDeltaChain) manifest reads. Without this, a
  * 5-minute CDC cadence on a ~200k-file table would re-serialize tens of
  * MB of JSON per commit and every history walk would re-parse all of it —
  * commit cost must scale with the CHANGE, not the table.
  *
  * '''Sharded checkpoints''' (Iceberg's manifest-list move): above
  * `checkpoint.shard.threshold` live files a full checkpoint is written as
  * per-partition shard files under `_snapshots/shards/<sha256>.json`,
  * content-addressed — an untouched partition serializes to the same bytes,
  * so its shard is re-REFERENCED, not rewritten. On a 100 TB / 200k-file
  * table a checkpoint after a few-partition commit writes O(touched
  * partitions) shard bytes instead of the full list, and a cold
  * partition-scoped read ([[prunedFiles]]/[[readPartitions]]) parses only
  * the matching shards plus the delta chain. Shards shared across
  * checkpoints are GC'd by [[expireSnapshots]] only when NO surviving
  * manifest references them.
  *
  * '''Atomic commit''' (SURVEY §7.4 highest-risk component): data files are
  * written to a fresh `data/graft_commit=<id>/` dir, the snapshot JSON is
  * written, and only then is `_current` flipped via write-temp + atomic rename.
  * A crash at any earlier point leaves the table at its previous snapshot;
  * manifests not reachable from `_current` via the parent chain are treated as
  * uncommitted garbage (never read) and collected by `expireSnapshots`. (On a
  * real cluster `_current` lives on HDFS where rename is equally atomic; S3
  * deployments would swap this for a conditional-PUT — driver-side metadata is
  * tiny either way, data files are never rewritten in place.)
  *
  * '''Single-relation reads at any commit count.''' The commit id is itself a
  * hive-style path segment (`graft_commit=<id>`), so an arbitrary set of files
  * from many commits reads as ONE parquet relation with `basePath = data/`:
  * Spark rebuilds both the synthetic commit column and the user partition
  * columns from paths, then we drop the commit column. A table with thousands
  * of commits still plans a single scan node (vs a per-commit union, whose
  * plan grows linearly with commit count). The snapshot's recorded schema is
  * passed to the reader explicitly, which (a) pins partition-column types (no
  * re-inference: a string partition value "01" stays "01") and (b) makes
  * schema evolution safe — files missing a newly added column read as nulls.
  *
  * Scale note: the reconstructed manifest lists file paths only; a 100 TB
  * table at 512 MB/file is ~200k entries — a few MB on the driver (held in
  * a small LRU, not per snapshot), and `prunedFiles` prunes by partition
  * before Spark ever lists storage.
  */
final class Icebox(val tableDir: String) {

  import Icebox.{CommitCol, unescapePathSegment}

  private val mapper = new ObjectMapper()

  /** All metadata/maintenance I/O resolves through the Hadoop FileSystem
    * API from the table URI ([[TableStore]]): `tableDir` may be a plain
    * local path, `file://`, `hdfs://`, `s3a://`, or any registered scheme.
    * Lazy — resolved once per handle against the active session's Hadoop
    * conf (so `spark.hadoop.*` settings and runtime-registered schemes
    * apply).
    */
  private[table] lazy val store: TableStore = new TableStore(new HPath(tableDir),
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new org.apache.hadoop.conf.Configuration()))

  private def snapshotsDir: HPath = store.child("_snapshots")
  private def currentPtr: HPath = store.child("_current")
  private def dataDir: HPath = store.child("data")
  private def deletesDir: HPath = store.child("deletes")
  private def manifestPath(id: Long): HPath = new HPath(snapshotsDir, s"$id.json")
  private def shardsDir: HPath = new HPath(snapshotsDir, "shards")
  private def shardPath(sha: String): HPath = new HPath(shardsDir, s"$sha.json")
  private def bloomsDir: HPath = new HPath(snapshotsDir, "blooms")
  private def bloomPath(sha: String): HPath = new HPath(bloomsDir, s"$sha.bloom")
  private def sketchesDir: HPath = new HPath(snapshotsDir, "sketches")
  private def sketchPath(sha: String): HPath = new HPath(sketchesDir, s"$sha.hll")

  /** Parsed manifests, keyed by snapshot id. Manifests are immutable once
    * committed (CREATE_NEW; the expiry rebase replaces a manifest with a
    * content-equivalent full form), so caching across the handle's lifetime
    * is safe and makes chain walks O(1) parse after first touch.
    */
  private val manifestCache = new java.util.concurrent.ConcurrentHashMap[Long, Icebox.Manifest]()

  /** Reconstructed live file sets, small access-order LRU: the head is hit
    * on every commit/read; history walks (expiry, time travel) churn the
    * tail. Bounded so a long history never holds O(snapshots × files).
    */
  private val filesCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[Long, Seq[DataFile]](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[Long, Seq[DataFile]]): Boolean =
        size > 4
    })

  /** Parsed checkpoint shards, keyed by content hash (immutable by
    * construction — content addressing means a sha never changes meaning).
    * Consecutive checkpoints share most shards, so this turns the common
    * "resolve head after a small commit" into O(touched shards) reads.
    */
  private val shardCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, Seq[DataFile]](64, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[String, Seq[DataFile]]): Boolean =
        size > 256
    })

  // ---------------------------------------------------------------- metadata

  private def propsPath: HPath = store.child("_properties.json")

  /** Iceberg-style table properties (flat string map). Recognized keys:
    * `write.bloom.columns` — comma-separated columns for which every data
    * write records a parquet BLOOM FILTER (footer-level; Spark's reader
    * then skips row groups on pushed equality predicates over those
    * columns — the point-lookup complement to min/max stats, which are
    * useless for high-cardinality unsorted columns at 100 TB);
    * `manifest.bloom.columns` — comma-separated columns for which every
    * commit ALSO records a per-file bloom filter as a content-addressed
    * side file under `_snapshots/blooms/` (pointer in the manifest entry).
    * Parquet footer blooms still require opening every file's footer at
    * scan time; the manifest index prunes files at PLANNING time with no
    * data-file I/O at all — point lookups and equality-delete attach
    * lists on unsorted keys go from O(files) to O(matching files) (Hudi's
    * metadata-table bloom index is the same trade). Sticky per column
    * like stats. `manifest.bloom.fpp` — false-positive rate (default
    * 0.03 ≈ 0.9 bytes/row/column of side-file metadata);
    * `write.compression` — parquet codec (default zstd).
    */
  def properties: Map[String, String] = {
    if (!store.exists(propsPath)) return Map.empty
    val node = mapper.readTree(store.readBytes(propsPath))
    val out = Map.newBuilder[String, String]
    node.properties().iterator().asScala.foreach(e => out += e.getKey -> e.getValue.asText)
    out.result()
  }

  /** Merge `kv` into the table properties. Concurrency-safe ACROSS handles
    * and processes, not just within one (snapshot commits already are): the
    * read-merge-write runs under a CREATE_NEW lock-file claim — the same
    * atomic primitive the commit path uses — so two concurrent setProperties
    * calls serialize instead of losing one's update. A lock left by a
    * crashed holder is broken after 10 s.
    */
  def setProperties(kv: Map[String, String]): Unit = {
    commitEvents.incrementAndGet()
    updateProperties(_ ++ kv)
  }

  /** Remove table properties (no-op for absent keys). Same locking as
    * [[setProperties]].
    */
  def removeProperties(keys: Seq[String]): Unit = {
    commitEvents.incrementAndGet()
    updateProperties(_ -- keys)
  }

  /** Remove `remove` and merge `set` in ONE locked read-merge-write — for
    * key-set swaps (e.g. re-recording an index's residual references)
    * where a crash between a separate remove and set would leave a
    * half-cleared state that reads as "never recorded".
    */
  def replaceProperties(remove: Seq[String], set: Map[String, String]): Unit = {
    commitEvents.incrementAndGet()
    updateProperties(p => (p -- remove) ++ set)
  }

  /** Count of fsync-bearing publication events performed THROUGH THIS
    * HANDLE: successful snapshot publications (each = a lock claim + head
    * CAS + manifest write) plus standalone property writes (each = a lock
    * claim + props replace). Diagnostic — specs assert commit budgets
    * (e.g. the dedup ingest's ≤2-commits-per-wave contract) against it;
    * never persisted, never read by any operator.
    */
  private[graft] val commitEvents = new java.util.concurrent.atomic.AtomicLong(0L)

  private def updateProperties(f: Map[String, String] => Map[String, String]): Unit =
    withTableLock {
      val merged = f(properties)
      val node = mapper.createObjectNode()
      merged.toSeq.sortBy(_._1).foreach { case (k, v) => node.put(k, v) }
      store.atomicReplace(propsPath, mapper.writeValueAsBytes(node))
    }

  /** Run `body` under the table's cross-process lock file (CREATE_NEW
    * claim — the same atomic primitive the commit path uses). Serializes
    * property updates, branch-pointer CAS, and main-head publication
    * across handles and processes. A lock left by a crashed holder is
    * broken after 10 s; the lock carries its owner's token so a breaker
    * can verify WHICH lock instance it is removing.
    */
  private def withTableLock[T](body: => T): T = this.synchronized {
    store.mkdirs(store.root)
    val lock = store.child("_properties.lock")
    val myToken = UUID.randomUUID().toString
    var attempt = 0
    while (attempt < 4000) {
      val claimed = store.createNew(lock, myToken.getBytes(StandardCharsets.UTF_8))
      if (!claimed) {
        attempt += 1
        breakStaleLock(lock)
        Thread.sleep(5)
      } else
        try return body
        finally {
          // only delete the lock if it is still OURS — if we stalled >10 s a
          // breaker may have replaced it, and deleting blindly would evict
          // the new holder's live lock
          try {
            val owner = new String(store.readBytes(lock), StandardCharsets.UTF_8)
            if (owner == myToken) store.deleteIfExists(lock)
          } catch { case _: java.io.IOException => () }
        }
    }
    sys.error(s"table lock contention exhausted at $tableDir")
  }

  /** Break a lock whose holder appears dead (mtime >10 s old) WITHOUT the
    * check-then-delete race: the lock is first atomically renamed to a
    * unique grave name — only one contender can win the rename, and once
    * renamed no new waiter can observe it — then its owner token is compared
    * against the token read during the staleness check. A mismatch means a
    * fresh lock replaced the stale one between check and rename (we stole a
    * live lock); it is atomically restored.
    */
  private def breakStaleLock(lock: HPath): Unit = {
    try {
      if (!store.exists(lock) ||
          System.currentTimeMillis() - store.mtime(lock) <= 10000) return
      val observed = new String(store.readBytes(lock), StandardCharsets.UTF_8)
      val grave = new HPath(lock.getParent,
        s"_properties.lock.broken.${UUID.randomUUID().toString.take(8)}")
      if (!store.renameNoReplace(lock, grave)) return // lost the break race
      val moved = new String(store.readBytes(grave), StandardCharsets.UTF_8)
      if (moved == observed) store.deleteIfExists(grave) // confirmed stale — broken
      else {
        // a fresh lock slid in after the staleness check; put it back
        if (!store.renameNoReplace(grave, lock)) store.deleteIfExists(grave)
      }
    } catch { case _: java.io.IOException => () } // lost a race — retry loop handles it
  }

  def exists: Boolean = store.exists(currentPtr)

  /** Metadata-only COUNT(*): the sum of per-file row counts recorded in the
    * manifest at write time (parquet footer block counts — exact, not an
    * estimate). `None` when any live file predates row-count recording
    * (pre-round-6 manifests); callers fall back to a scan. At 100 TB this
    * answers the most common query ever issued without touching a byte of
    * data — Iceberg's metadata-query behavior.
    */
  def rowCount: Option[Long] = currentSnapshot.map(_.files).flatMap { fs =>
    // equality deletes make the manifest count an upper bound (matched
    // cardinality needs a scan) — fall back. POSITION deletes subtract
    // exactly: manifests record per-file attached-position counts
    // (DataFile.deleteRows); only legacy manifests (deleteRows = -1,
    // written before counts were recorded) still fall back.
    if (fs.forall(_.rows >= 0L) && fs.forall(_.eqDeletes.isEmpty) &&
        fs.forall(_.deleteRows >= 0L))
      Some(fs.map(f => f.rows - f.deleteRows).sum)
    else None
  }

  /** Metadata-only MIN/MAX (the [[rowCount]] analog for extrema): folds
    * the per-file min/max recorded in the manifest — zero data I/O.
    * `None` unless EVERY live file carries a numeric stat for the column
    * and no file has pending position/equality deletes (a delete may
    * remove the extremum — callers fall back to a scan, conservative).
    * Stats skip nulls at collection, matching SQL MIN/MAX semantics. At
    * 100 TB this answers a full-table MIN/MAX from manifests alone.
    */
  def columnMinMaxMeta(column: String): Option[(Double, Double)] =
    minMaxMeta(column)(s => scala.util.Try(s.toDouble).toOption)(_ min _, _ max _)

  // ----------------------------------------------------- NDV sketch index

  private def rollupProp(physCol: String) = s"sketch.ndv.rollup.$physCol"

  /** `ANALYZE TABLE`'s engine: build per-file NDV (HyperLogLog) sketches
    * for `columns` — side files under `_snapshots/sketches/`, pointers in
    * the manifest — then fold them into ONE table-level rollup sketch per
    * column, cached as a side file keyed to the snapshot it describes.
    *
    * O(delta) everywhere: only files MISSING a sketch are read (a second
    * ANALYZE after an append scans just the new files — and commits made
    * after the first ANALYZE sketch their own files inline, making the
    * re-ANALYZE metadata-only), and the rollup refresh reuses the previous
    * rollup when the old snapshot's files all survive (pure appends),
    * folding only the new files' sketches. Compaction rewrites rows
    * unchanged, so surviving rollups stay valid; copy-on-write DELETE
    * rewrites files, which invalidates the subset check and forces a full
    * per-file re-fold — never a stale estimate.
    */
  def analyze(spark: SparkSession, columns: Seq[String]): Unit = {
    require(columns.nonEmpty, "ANALYZE needs at least one column")
    val existing = properties.get("sketch.ndv.columns")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    val phys = columns.map(toPhysical)
    val merged = (existing ++ phys).distinct
    setProperties(Map("sketch.ndv.columns" -> merged.mkString(",")))
    val snap = currentSnapshot.getOrElse(return) // empty table: sticky property only
    val p = properties.get("sketch.ndv.precision").map(_.toInt)
      .getOrElse(graft.functions.Hll.DefaultP)
    val missing = snap.files.filter(f => phys.exists(c => !f.sketches.contains(c)))
    if (missing.nonEmpty) {
      val shas = buildFileSketches(spark, missing.map(_.path), phys, p)
      // schema rides the RESOLVED parent, not the pre-scan snapshot: an
      // ALTER TABLE landing during the (potentially long) sketch pass must
      // not be reverted by this metadata-only commit
      commitMetaResolvedFn("analyze",
        parent => parent.map(_.files).getOrElse(Nil).map { f =>
          shas.get(pathOnly(f.path)) match {
            case Some(m) => f.copy(sketches = f.sketches ++ m)
            case None => f
          }
        }, parent => parent.map(_.schemaJson).getOrElse(snap.schemaJson))
    }
    phys.foreach(refreshRollup)
    // the sketch build's reads cached pre-NDV stats for this snapshot
    graft.plans.IceboxStats.invalidate(tableDir)
  }

  /** Fold the current snapshot's per-file sketches for `physCol` into a
    * table-level rollup side file + `sketch.ndv.rollup.<col>` property
    * (`<snapshotId>:<sha>`), reusing the previous rollup incrementally
    * when every file it covered is still live.
    */
  private def refreshRollup(physCol: String): Unit = {
    val snap = currentSnapshot.getOrElse(return)
    val fs = snap.files
    if (fs.exists(f => !f.sketches.contains(physCol))) return // not fully covered
    val prev = properties.get(rollupProp(physCol)).flatMap { v =>
      v.split(':') match {
        case Array(sid, sha) => scala.util.Try(sid.toLong).toOption.map(_ -> sha)
        case _ => None
      }
    }
    if (prev.exists(_._1 == snap.id)) return // already current
    def fold(shas: Seq[String], seed: Option[Array[Byte]]): Option[Array[Byte]] = {
      val loaded = shas.map(loadSketch)
      if (loaded.exists(_.isEmpty)) None
      else if (loaded.isEmpty) seed.map(_.clone())
      else {
        val init = seed.getOrElse(loaded.head.get).clone() // never mutate cached bytes
        // mixed sketch.ndv.precision across commits → no rollup (None),
        // same refusal contract as a missing sketch — never a throw
        if ((loaded.flatten :+ init).map(graft.functions.Hll.precision).distinct.size != 1)
          None
        else Some(loaded.flatten.foldLeft(init)(graft.functions.Hll.merge))
      }
    }
    val mergedOpt = prev match {
      case Some((oldId, oldSha)) =>
        // incremental when the old snapshot's files all survive (appends /
        // metadata commits since); otherwise full re-fold
        val oldPaths = scala.util.Try(snapshot(oldId).files.map(_.path).toSet).toOption
        val curPaths = fs.map(_.path).toSet
        oldPaths match {
          case Some(op) if op.subsetOf(curPaths) =>
            val newShas = fs.filterNot(f => op(f.path)).flatMap(_.sketches.get(physCol))
            loadSketch(oldSha).map(_.clone()).flatMap(seed => fold(newShas, Some(seed)))
              .orElse(fold(fs.flatMap(_.sketches.get(physCol)), None))
          case _ => fold(fs.flatMap(_.sketches.get(physCol)), None)
        }
      case None => fold(fs.flatMap(_.sketches.get(physCol)), None)
    }
    mergedOpt.foreach { bytes =>
      val sha = java.security.MessageDigest.getInstance("SHA-256").digest(bytes)
        .map("%02x".format(_)).mkString
      store.mkdirs(sketchesDir)
      // content-addressed: racing writers produce identical bytes, so a
      // plain atomic replace needs no claim ceremony
      if (!store.exists(sketchPath(sha))) store.atomicReplace(sketchPath(sha), bytes)
      setProperties(Map(rollupProp(physCol) -> s"${snap.id}:$sha"))
    }
  }

  /** Approximate COUNT(DISTINCT `column`) from the manifest NDV index with
    * ZERO data-file I/O: one rollup side-file read when the cached rollup
    * matches the current snapshot, else a fold over the per-file sketch
    * side files. None when the index can't answer soundly: a file without
    * a sketch, or pending merge-on-read deletes (a removed value would
    * still be counted — same refusal contract as [[columnMinMaxMeta]]).
    * Standard error 1.04/sqrt(2^p) ≈ 1.6% at the default p=12.
    */
  def approxCountDistinctMeta(column: String): Option[Long] = {
    val key = toPhysical(column)
    currentSnapshot.flatMap { snap =>
      val fs = snap.files
      if (fs.exists(f => f.deletes.nonEmpty || f.eqDeletes.nonEmpty)) None
      else if (fs.isEmpty) Some(0L)
      else properties.get(rollupProp(key)) match {
        case Some(v) if v.split(':').headOption.flatMap(s =>
            scala.util.Try(s.toLong).toOption).contains(snap.id) =>
          loadSketch(v.split(':')(1)).map(graft.functions.Hll.estimate)
        case _ =>
          val shas = fs.map(_.sketches.get(key))
          if (shas.exists(_.isEmpty)) None
          else {
            val loaded = shas.flatten.map(loadSketch)
            if (loaded.exists(_.isEmpty)) None
            else {
              // files sketched under different sketch.ndv.precision values
              // (property changed between commits) can't be merged — treat
              // mixed-precision coverage like a missing sketch, not a crash
              val ps = loaded.flatten.map(graft.functions.Hll.precision).distinct
              if (ps.size != 1) None
              else Some(graft.functions.Hll.estimate(
                loaded.flatten.foldLeft(graft.functions.Hll.empty(ps.head))(
                  graft.functions.Hll.merge)))
            }
          }
      }
    }
  }

  // ------------------------------------------------ exact frequency index

  private def freqKey(physCol: String) = s"freq:$physCol"
  private def freqRollupProp(physCol: String) = s"freq.rollup.$physCol"
  private def freqPath(sha: String): HPath = new HPath(sketchesDir, s"$sha.freq")
  private def freqFileCap: Int =
    properties.get("freq.max-values").map(_.toInt).getOrElse(256)
  private def freqTableCap: Int =
    properties.get("freq.table.max-values").map(_.toInt).getOrElse(4096)

  /** Build the EXACT per-file FREQUENCY index for low-cardinality
    * `columns` — the mergeable sibling of the NDV sketch index: each data
    * file gets a side file holding its exact (value → count) table
    * (content-addressed `.freq` files under `_snapshots/sketches/`,
    * pointer in the manifest under a `freq:`-prefixed key), and a
    * table-level rollup
    * (exact map merge — unlike equi-width histograms, frequency tables
    * merge EXACTLY, so the index survives appends and compaction with
    * O(changed files) maintenance, never a full re-scan). A file whose
    * distinct count exceeds `freq.max-values` (default 256) records an
    * overflow marker instead — serving then refuses for the whole column,
    * the usual metadata contract. Sticky: later commits index their own
    * new files inline (same rule as NDV/bloom/stats), so one ANALYZE keeps
    * the column servable table-wide. Supported types: integral, float,
    * double, decimal, string; others are skipped.
    */
  def analyzeFreq(spark: SparkSession, columns: Seq[String]): Unit = {
    require(columns.nonEmpty, "analyzeFreq needs at least one column")
    val existing = properties.get("freq.columns")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    val phys = columns.map(toPhysical)
    setProperties(Map("freq.columns" -> (existing ++ phys).distinct.mkString(",")))
    val snap = currentSnapshot.getOrElse(return) // empty table: sticky property only
    val missing = snap.files.filter(f => phys.exists(c => !f.sketches.contains(freqKey(c))))
    if (missing.nonEmpty) {
      val shas = buildFileFreqs(spark, missing.map(_.path), phys, freqFileCap)
      commitMetaResolvedFn("analyze",
        parent => parent.map(_.files).getOrElse(Nil).map { f =>
          shas.get(pathOnly(f.path)) match {
            case Some(m) => f.copy(sketches = f.sketches ++ m)
            case None => f
          }
        }, parent => parent.map(_.schemaJson).getOrElse(snap.schemaJson))
    }
    phys.foreach(refreshFreqRollup)
  }

  /** The exact merged (value, count) table for `column`, metadata-only —
    * rendered values (see [[analyzeFreq]]), ascending by rendered string.
    * None whenever the index can't answer EXACTLY: a file without an
    * entry, an overflowed file, pending merge-on-read deletes (a deleted
    * row would still be counted), or a merged table over
    * `freq.table.max-values`. Cached rollup serves in one side-file read
    * when current; otherwise a per-file fold (and [[analyzeFreq]]
    * refreshes the rollup O(delta) under appends).
    */
  def frequencyMeta(column: String): Option[Seq[(String, Long)]] = {
    val key = toPhysical(column)
    currentSnapshot.flatMap { snap =>
      val fs = snap.files
      if (fs.exists(f => f.deletes.nonEmpty || f.eqDeletes.nonEmpty)) None
      else if (fs.isEmpty) Some(Nil)
      else properties.get(freqRollupProp(key)) match {
        case Some(v) if v.split(':').headOption.flatMap(s =>
            scala.util.Try(s.toLong).toOption).contains(snap.id) =>
          loadFreq(v.split(':')(1))
        case _ => foldFreqs(fs.map(_.sketches.get(freqKey(key))))
      }
    }
  }

  /** Discrete percentiles (same definition as [[percentileMeta]]) served
    * EXACTLY from the frequency index for any NUMERIC low-cardinality
    * column — no histogram-width restriction: where [[percentileMeta]]
    * needs an integral column whose range fits the bucket count, this
    * serves doubles, decimals, and wide integral domains as long as the
    * frequency index covers the column. Refusals compose: everything
    * [[frequencyMeta]] refuses, plus non-numeric columns and values that
    * do not round-trip through Double (a > 2^53 long). Zero data I/O,
    * zero Spark jobs.
    */
  def percentileFromFreq(column: String, ps: Seq[Double]): Option[Seq[Double]] = {
    require(ps.nonEmpty && ps.forall(p => p >= 0.0 && p <= 1.0),
      s"percentiles must lie in [0,1], got $ps")
    val key = toPhysical(column)
    for {
      snap <- currentSnapshot
      field <- DataType.fromJson(snap.schemaJson).asInstanceOf[StructType]
        .fields.find(_.name.equalsIgnoreCase(key))
      if field.dataType.isInstanceOf[NumericType]
      freq <- frequencyMeta(column)
      parsed <- {
        val vs = freq.map { case (s, c) => (scala.util.Try(s.toDouble).toOption, c) }
        val exact = field.dataType match {
          case LongType => freq.forall { case (s, _) =>
            scala.util.Try(s.toLong).toOption.exists(l => l.toDouble.toLong == l) }
          case _ => true
        }
        if (!exact || vs.exists(_._1.isEmpty)) None
        else Some(vs.map { case (v, c) => (v.get, c) }.sortBy(_._1))
      }
      out <- {
        val n = parsed.map(_._2).sum
        if (n == 0L) None
        else {
          val cum = parsed.scanLeft(0L)(_ + _._2).tail
          Some(ps.map { p =>
            val r = math.max(1L, (BigDecimal(p.toString) * n)
              .setScale(0, BigDecimal.RoundingMode.CEILING).toLong)
            parsed(cum.indexWhere(_ >= r))._1
          })
        }
      }
    } yield out
  }

  /** Fold per-file frequency pointers into one exact merged table; None on
    * any missing pointer, overflow marker, unreadable side file, or a
    * merge past the table cap.
    */
  private def foldFreqs(shas: Seq[Option[String]]): Option[Seq[(String, Long)]] = {
    if (shas.exists(s => s.isEmpty || s.contains(Icebox.FreqOverflow))) return None
    val loaded = shas.flatten.map(loadFreq)
    if (loaded.exists(_.isEmpty)) return None
    val merged = new scala.collection.mutable.HashMap[String, Long]
    loaded.flatten.flatten.foreach { case (v, c) =>
      merged.update(v, merged.getOrElse(v, 0L) + c)
      if (merged.size > freqTableCap) return None
    }
    Some(merged.toSeq.sortBy(_._1))
  }

  /** Refresh the table-level frequency rollup side file +
    * `freq.rollup.<col>` property (`<snapshotId>:<sha>`) — incremental
    * when every file the previous rollup covered is still live (pure
    * appends fold only the new files' tables), full re-fold otherwise.
    * No rollup is written when the index can't serve (overflow, cap,
    * missing files) — the property stays absent rather than wrong.
    */
  private def refreshFreqRollup(physCol: String): Unit = {
    val snap = currentSnapshot.getOrElse(return)
    val fs = snap.files
    val prev = properties.get(freqRollupProp(physCol)).flatMap { v =>
      v.split(':') match {
        case Array(sid, sha) => scala.util.Try(sid.toLong).toOption.map(_ -> sha)
        case _ => None
      }
    }
    if (prev.exists(_._1 == snap.id)) return // already current
    def merge(tables: Seq[Seq[(String, Long)]]): Option[Seq[(String, Long)]] = {
      val m = new scala.collection.mutable.HashMap[String, Long]
      tables.flatten.foreach { case (v, c) =>
        m.update(v, m.getOrElse(v, 0L) + c)
        if (m.size > freqTableCap) return None
      }
      Some(m.toSeq.sortBy(_._1))
    }
    def tablesFor(files: Seq[DataFile]): Option[Seq[Seq[(String, Long)]]] = {
      val shas = files.map(_.sketches.get(freqKey(physCol)))
      if (shas.exists(s => s.isEmpty || s.contains(Icebox.FreqOverflow))) None
      else {
        val loaded = shas.flatten.map(loadFreq)
        if (loaded.exists(_.isEmpty)) None else Some(loaded.flatten)
      }
    }
    val mergedOpt = (prev match {
      case Some((oldId, oldSha)) =>
        val oldPaths = scala.util.Try(snapshot(oldId).files.map(_.path).toSet).toOption
        oldPaths match {
          case Some(op) if op.subsetOf(fs.map(_.path).toSet) =>
            (for {
              seed <- loadFreq(oldSha)
              fresh <- tablesFor(fs.filterNot(f => op(f.path)))
              m <- merge(seed +: fresh)
            } yield m).orElse(tablesFor(fs).flatMap(merge))
          case _ => tablesFor(fs).flatMap(merge)
        }
      case None => tablesFor(fs).flatMap(merge)
    })
    mergedOpt.foreach { table =>
      val bytes = Icebox.freqSerialize(table)
      store.mkdirs(sketchesDir)
      val sha = java.security.MessageDigest.getInstance("SHA-256").digest(bytes)
        .map("%02x".format(_)).mkString
      if (!store.exists(freqPath(sha))) store.atomicReplace(freqPath(sha), bytes)
      setProperties(Map(freqRollupProp(physCol) -> s"${snap.id}:$sha"))
    }
  }

  /** Load one frequency side file by content sha (process-wide cache). */
  private[graft] def loadFreq(sha: String): Option[Seq[(String, Long)]] = {
    val cached = Icebox.sketchCache.get(s"freq:$sha")
    val bytes =
      if (cached != null) cached
      else {
        val p = freqPath(sha)
        if (!store.exists(p)) return None
        val b = store.readBytes(p)
        Icebox.sketchCache.put(s"freq:$sha", b)
        b
      }
    Icebox.freqDeserialize(bytes)
  }

  /** Executor-fanned per-file frequency build: one (file, value) count
    * shuffle per column, overflowing files detected from their distinct
    * counts BEFORE any `collect_list` materializes (so a high-cardinality
    * file costs its aggregation but never an unbounded driver row), side
    * files written executor-side like the bloom/sketch builds. Returns
    * path → (freq-key → sha | overflow marker).
    */
  private def buildFileFreqs(spark: SparkSession, paths: Seq[String],
      cols: Seq[String], cap: Int): Map[String, Map[String, String]] = {
    if (paths.isEmpty || cols.isEmpty) return Map.empty
    import org.apache.spark.sql.functions.{col => fcol, input_file_name, count => fcount, collect_list, struct, lit}
    val base = spark.read.parquet(paths: _*)
    val out = scala.collection.mutable.HashMap
      .empty[String, scala.collection.mutable.HashMap[String, String]]
    def put(path: String, c: String, v: String): Unit =
      out.getOrElseUpdate(path, scala.collection.mutable.HashMap.empty)
        .update(freqKey(c), v)
    val confBc = spark.sparkContext.broadcast(
      new Icebox.SerializableHadoopConf(spark.sessionState.newHadoopConf()))
    store.mkdirs(sketchesDir)
    val dirStr = sketchesDir.toString
    cols.filter(base.columns.contains).foreach { c =>
      val dt = base.schema(base.schema.fieldIndex(c)).dataType
      if (Icebox.freqRenderable(dt)) {
        val counted = base.select(input_file_name().as("__file"), fcol(c).as("__v"))
          .filter(fcol("__v").isNotNull)
          .groupBy(fcol("__file"), fcol("__v")).agg(fcount(lit(1)).as("__c"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val sizes = counted.groupBy("__file").agg(fcount(lit(1)).as("__n"))
            .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
          sizes.collect { case (f, n) if n > cap => f }
            .foreach(f => put(pathOnly(f), c, Icebox.FreqOverflow))
          val okFiles = sizes.collect { case (f, n) if n <= cap => f }.toSet
          if (okFiles.nonEmpty) {
            val okBc = spark.sparkContext.broadcast(okFiles)
            val dtLocal = dt
            import spark.implicits._
            val pairs = counted
              .filter(r => okBc.value.contains(r.getString(0)))
              .groupBy("__file")
              .agg(collect_list(struct(fcol("__v"), fcol("__c"))).as("__entries"))
              .mapPartitions { it =>
                it.map { r =>
                  val table = r.getSeq[Row](1).map { e =>
                    Icebox.freqRender(e.get(0), dtLocal) -> e.getLong(1)
                  }.sortBy(_._1)
                  (r.getString(0), Icebox.writeSideFile(confBc.value.value, dirStr,
                    Icebox.freqSerialize(table), "freq"))
                }
              }.collect()
            pairs.foreach { case (f, sha) => put(pathOnly(f), c, sha) }
          }
          // a file ALL of whose values are null never appears in `counted`
          // — record an empty table for it so coverage checks pass
          val seen = sizes.keySet.map(pathOnly)
          paths.map(pathOnly).filterNot(seen.contains).foreach { p =>
            val sha = Icebox.writeSideFile(confBc.value.value, dirStr,
              Icebox.freqSerialize(Nil), "freq")
            put(p, c, sha)
          }
        } finally counted.unpersist(blocking = false)
      }
    }
    out.map { case (k, v) => k -> v.toMap }.toMap
  }

  /** Equi-width HISTOGRAM stats for a numeric column: bucket bounds are
    * FIXED from the manifest's min/max (so the arithmetic is exact and
    * data-independent — bucket counts are plain integers any engine can
    * replicate), one scan counts rows per bucket, and the result persists
    * in table properties keyed to the snapshot it describes
    * (`hist.<col>` = `<snapshotId>:<lo>:<hi>:<c0>,<c1>,...`). Nulls are
    * excluded; values at the upper bound clamp into the last bucket.
    * Refuses (loudly) when metadata min/max can't answer — run with
    * `collectStats` on the column first.
    */
  def analyzeHistogram(spark: SparkSession, column: String, buckets: Int = 32): Unit = {
    require(buckets > 0, s"buckets must be > 0, got $buckets")
    val key = toPhysical(column)
    val snap = currentSnapshot.getOrElse(sys.error(s"no table at $tableDir"))
    val (lo, hi) = columnMinMaxMeta(column).getOrElse(sys.error(
      s"histogram needs metadata min/max for '$column' (collectStats it)"))
    import org.apache.spark.sql.functions.{col => fcol, count => fcount, floor, least, greatest, lit}
    val counts: Map[Long, Long] =
      if (hi == lo) Map(0L -> read(spark).filter(fcol(column).isNotNull).count())
      else {
        val w = (hi - lo) / buckets
        read(spark).filter(fcol(column).isNotNull)
          .select(greatest(least(floor((fcol(column).cast("double") - lo) / w),
            lit(buckets - 1L)), lit(0L)).as("__bk"))
          .groupBy(fcol("__bk")).agg(fcount(lit(1)).as("__c"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
    val arr = (0 until buckets).map(b => counts.getOrElse(b.toLong, 0L))
    setProperties(Map(s"hist.$key" ->
      s"${snap.id}:$lo:$hi:${arr.mkString(",")}"))
    // the bucket-count read above planned through the CBO stats rule and
    // cached a pre-histogram entry for this very snapshot — drop it
    graft.plans.IceboxStats.invalidate(tableDir)
  }

  /** The persisted histogram for `column`, metadata-only — None when none
    * was analyzed or the table has advanced past the snapshot it
    * describes (a stale histogram is never silently served; re-ANALYZE
    * refreshes it). Returns (lo, hi, bucket counts).
    */
  def histogramMeta(column: String): Option[(Double, Double, Seq[Long])] = {
    val key = toPhysical(column)
    for {
      snap <- currentSnapshot
      v <- properties.get(s"hist.$key")
      parts = v.split(':')
      if parts.length == 4 && scala.util.Try(parts(0).toLong).toOption.contains(snap.id)
    } yield (parts(1).toDouble, parts(2).toDouble,
      parts(3).split(',').map(_.toLong).toSeq)
  }

  /** Discrete percentiles (percentile_disc: the smallest value whose
    * cumulative count reaches ceil(p·n), exact decimal arithmetic; nulls
    * excluded, as in the histogram) served ENTIRELY from the persisted
    * histogram — zero data I/O, zero Spark jobs. EXACT or refused (None),
    * per the metadata refusal contract: served only when the histogram is
    * readable as an exact FREQUENCY TABLE — integral column type AND
    * bucket width ≤ 1, so consecutive integers land ≥ 1 bucket apart and
    * every bucket holds at most one distinct value (cross-checked: the
    * reconstructed frequencies must re-sum to the histogram's total, so a
    * histogram this reading cannot explain refuses instead of mis-serving).
    * [[histogramMeta]]'s staleness gate applies — a histogram past its
    * snapshot refuses rather than serves. At 100 TB: "what is the p99 of
    * this column" costs one properties read; the scan was paid once at
    * ANALYZE and stays valid until the table moves.
    */
  def percentileMeta(column: String, ps: Seq[Double]): Option[Seq[Long]] = {
    require(ps.nonEmpty && ps.forall(p => p >= 0.0 && p <= 1.0),
      s"percentiles must lie in [0,1], got $ps")
    val key = toPhysical(column)
    for {
      snap <- currentSnapshot
      field <- DataType.fromJson(snap.schemaJson).asInstanceOf[StructType]
        .fields.find(_.name.equalsIgnoreCase(key))
      if Seq(ByteType, ShortType, IntegerType, LongType).contains(field.dataType)
      hist <- histogramMeta(column)
      out <- {
        val (lo, hi, counts) = hist
        val n = counts.sum
        val buckets = counts.size
        if (n == 0L) None
        else if (hi == lo) Some(ps.map(_ => lo.toLong))
        else {
          val w = (hi - lo) / buckets
          if (w > 1.0) None
          else {
            val freq = (lo.toLong to hi.toLong).map { v =>
              val b = math.min(buckets - 1L,
                math.max(0L, math.floor((v - lo) / w).toLong)).toInt
              v -> counts(b)
            }
            if (freq.map(_._2).sum != n) None // bucket not uniquely claimed
            else {
              val cum = freq.scanLeft(0L)(_ + _._2).tail
              Some(ps.map { p =>
                val r = math.max(1L, (BigDecimal(p.toString) * n)
                  .setScale(0, BigDecimal.RoundingMode.CEILING).toLong)
                freq(cum.indexWhere(_ >= r))._1
              })
            }
          }
        }
      }
    } yield out
  }

  /** `SHOW STATS FOR t`: one row per stats-covered column — everything
    * the CBO bridge serves, all metadata-only: approximate NDV (HLL
    * rollup), exact null count (commit-time footer pass, only when every
    * file recorded one), min/max (folded manifest stats), and whether a
    * CURRENT (snapshot-keyed) histogram exists. Columns whose index can't
    * answer a field (missing sketches, pending deletes, partial coverage)
    * surface null there rather than a silent scan.
    */
  def ndvStatsDf(spark: SparkSession): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val logical = currentSchemaStruct.map(_.fields.toSeq).getOrElse(Nil)
    val fs = currentSnapshot.map(_.files).getOrElse(Nil)
    val covered = fs.flatMap(f => f.sketches.keys ++ f.stats.keys ++ f.nullCounts.keys)
      .distinct.toSet
    logical.filter(f => covered.contains(Icebox.physicalName(f)))
      .map { f =>
        val phys = Icebox.physicalName(f)
        val nulls: Option[Long] = {
          val perFile = fs.map(_.nullCounts.get(phys))
          if (perFile.isEmpty || perFile.exists(_.isEmpty)) None
          else Some(perFile.flatten.sum)
        }
        val mm = columnMinMaxMetaRendered(f.name)
        (f.name, approxCountDistinctMeta(f.name), nulls,
          mm.map(_._1), mm.map(_._2), histogramMeta(f.name).isDefined)
      }
      .toDF("column", "ndv", "null_count", "min", "max", "has_histogram")
  }

  /** Metadata min/max as display strings in the column's natural order —
    * numeric fold for numeric types, UTF8 fold for strings, raw
    * first-file rendering otherwise refused (None).
    */
  private def columnMinMaxMetaRendered(column: String): Option[(String, String)] = {
    val dt = currentSchemaStruct.flatMap(
      _.fields.find(_.name.equalsIgnoreCase(column)).map(_.dataType))
    dt match {
      case Some(ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType) =>
        columnMinMaxMeta(column).map { case (lo, hi) =>
          // integral columns render without the .0 the double fold adds
          def r(v: Double) =
            if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else v.toString
          (r(lo), r(hi))
        }
      case Some(StringType) => columnMinMaxMetaString(column)
      case _ => None
    }
  }

  /** String variant of [[columnMinMaxMeta]] — unsigned-byte UTF8 order,
    * the order Spark string min/max and parquet footer stats use.
    */
  def columnMinMaxMetaString(column: String): Option[(String, String)] = {
    def utf8Min(a: String, b: String) =
      if (org.apache.spark.unsafe.types.UTF8String.fromString(a)
        .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b)) <= 0) a else b
    def utf8Max(a: String, b: String) = if (utf8Min(a, b) == a) b else a
    minMaxMeta(column)(Some(_))(utf8Min, utf8Max)
  }

  private def minMaxMeta[T](column: String)(parse: String => Option[T])(
      lower: (T, T) => T, upper: (T, T) => T): Option[(T, T)] = {
    val key = toPhysical(column)
    currentSnapshot.map(_.files).flatMap { fs =>
      if (fs.isEmpty || fs.exists(f => f.deletes.nonEmpty || f.eqDeletes.nonEmpty)) None
      else {
        val perFile = fs.map(f =>
          for { (mn, mx) <- f.stats.get(key); lo <- parse(mn); hi <- parse(mx) }
          yield (lo, hi))
        if (perFile.exists(_.isEmpty)) None // a stats-less file could hide the extremum
        else Some((perFile.flatten.map(_._1).reduce(lower),
          perFile.flatten.map(_._2).reduce(upper)))
      }
    }
  }

  // -------------------------------------------------------- refs (branches/tags)

  private val TagPrefix = "ref.tag."
  private val BranchPrefix = "ref.branch."

  /** Named snapshot refs (Iceberg branches/tags): `name → Ref(kind, id)`.
    * TAGS are immutable bookmarks; BRANCHES accept [[appendToBranch]]
    * commits that advance the branch pointer without moving the main head.
    * Stored as reserved `ref.*` table properties — same cross-process
    * locking as any property update; snapshot expiry and orphan cleanup
    * treat every ref-rooted chain as live.
    */
  def refs: Map[String, Icebox.Ref] = properties.collect {
    case (k, v) if k.startsWith(TagPrefix) =>
      k.stripPrefix(TagPrefix) -> Icebox.Ref("tag", v.toLong)
    case (k, v) if k.startsWith(BranchPrefix) =>
      k.stripPrefix(BranchPrefix) -> Icebox.Ref("branch", v.toLong)
  }

  private def requireRefFree(name: String): Unit =
    require(!refs.contains(name), s"ref '$name' already exists")

  private def requireSnapshotExists(id: Long): Unit =
    require(store.exists(manifestPath(id)), s"no snapshot $id")

  /** Metadata table of refs: `(name, kind, snapshot_id)` — the
    * `t.refs` listing analog of [[snapshotsDf]]/[[filesDf]].
    */
  def refsDf(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.Encoders
    spark.createDataset(refs.toSeq.map { case (n, r) => (n, r.kind, r.snapshotId) })(
        Encoders.tuple(Encoders.STRING, Encoders.STRING, Encoders.scalaLong))
      .toDF("name", "kind", "snapshot_id")
  }

  /** Create an immutable tag at `snapshotId` (default: current head). */
  def createTag(name: String, snapshotId: Long = -1L): Unit = this.synchronized {
    val id = if (snapshotId >= 0) snapshotId else currentSnapshotId
    requireRefFree(name); requireSnapshotExists(id)
    setProperties(Map(s"$TagPrefix$name" -> id.toString))
  }

  /** Create a writable branch at `snapshotId` (default: current head). */
  def createBranch(name: String, snapshotId: Long = -1L): Unit = this.synchronized {
    val id = if (snapshotId >= 0) snapshotId else currentSnapshotId
    requireRefFree(name); requireSnapshotExists(id)
    setProperties(Map(s"$BranchPrefix$name" -> id.toString))
  }

  /** Drop a tag or branch (its snapshots become expirable unless reachable
    * from another ref or the main chain).
    */
  def dropRef(name: String): Unit =
    removeProperties(Seq(s"$TagPrefix$name", s"$BranchPrefix$name"))

  /** Read the table as of a ref (either kind). */
  def readRef(spark: SparkSession, name: String): DataFrame = {
    val r = refs.getOrElse(name, sys.error(s"no such ref: $name"))
    readSnapshotId(spark, r.snapshotId)
  }

  /** The snapshot a branch points at. */
  def branchSnapshot(name: String): Snapshot = {
    val r = refs.getOrElse(name, sys.error(s"no such ref: $name"))
    require(r.kind == "branch", s"'$name' is a ${r.kind}, not a branch")
    readSnapshot(r.snapshotId)
  }

  /** Append to a BRANCH: a data commit whose parent is the branch head and
    * whose publication advances the branch pointer — the main head never
    * moves (Iceberg's write-audit-publish pattern: land risky data on a
    * branch, validate, then [[fastForward]]). Snapshot ids stay globally
    * unique across lineages.
    */
  def appendToBranch(name: String, df: DataFrame, partitionBy: Seq[String] = Nil,
      collectStats: Seq[String] = Nil): Snapshot = {
    require(refs.get(name).exists(_.kind == "branch"),
      s"'$name' is not a branch (tags are immutable)")
    // same partitionBy defaulting as append(): the evolved spec or the
    // BRANCH head's own layout applies when the caller passes Nil — without
    // this, appending to a branch of a partitioned table trips the
    // append-layout require instead of inheriting the layout
    val parts =
      if (partitionBy.nonEmpty) partitionBy
      else properties.get("partition.columns")
        .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
        .getOrElse(layoutColumns(Some(branchSnapshot(name))))
    commit(df, parts, "append", collectStats, onBranch = Some(name)) {
      (parent, newFiles) => parent.map(_.files).getOrElse(Nil) ++ newFiles
    }
  }

  /** True iff `ancestorId` is on `descendantId`'s parent chain (or equal). */
  def isAncestor(ancestorId: Long, descendantId: Long): Boolean = {
    var id = descendantId
    while (id >= 0 && store.exists(manifestPath(id))) {
      if (id == ancestorId) return true
      id = readSnapshot(id).parentId
    }
    false
  }

  /** Fast-forward the MAIN head to a branch's head. Requires the current
    * head to be an ancestor of the branch head (no history is discarded —
    * the branch's commits extend the main chain linearly).
    */
  def fastForward(name: String): Snapshot = withTableLock {
    val target = branchSnapshot(name)
    val cur = currentSnapshotId
    require(cur < 0 || isAncestor(cur, target.id),
      s"cannot fast-forward: current head $cur is not an ancestor of branch '$name' head ${target.id}")
    store.atomicReplace(currentPtr, target.id.toString.getBytes(StandardCharsets.UTF_8))
    target
  }

  def currentSnapshotId: Long = {
    if (!exists) -1L
    else new String(store.readBytes(currentPtr), StandardCharsets.UTF_8).trim.toLong
  }

  def snapshot(id: Long): Snapshot = readSnapshot(id)

  def currentSnapshot: Option[Snapshot] = {
    val id = currentSnapshotId
    if (id < 0) None else Some(readSnapshot(id))
  }

  /** All *committed* snapshots, newest first, by walking the parent chain from
    * `_current` (M3 — iceberg_snapshot_operator.py:130-156 does the same
    * walk). Manifests not reachable from the chain (a crash between writing
    * the snapshot JSON and flipping the pointer) are uncommitted garbage and
    * are deliberately invisible here — time-travel can never surface data
    * that was never committed.
    */
  def allSnapshots: Seq[Snapshot] = chainFrom(currentSnapshotId)

  /** The parent chain from `startId` down, newest first, stopping at the
    * first expired (deleted) manifest — history below it is gone.
    */
  private def chainFrom(startId: Long): Seq[Snapshot] = {
    val out = Seq.newBuilder[Snapshot]
    var id = startId
    while (id >= 0 && store.exists(manifestPath(id))) {
      val s = readSnapshot(id)
      out += s
      id = s.parentId
    }
    out.result()
  }

  /** Snapshot listing as a DataFrame (Iceberg's `table.snapshots` analog).
    * Reads only manifest metadata — a 10k-commit history lists without
    * reconstructing a single file set.
    */
  def snapshotsDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    allSnapshots
      .map(s => (s.id, s.parentId, s.timestampMs, s.operation, s.fileCount, s.totalBytes))
      .toDF("snapshot_id", "parent_id", "timestamp_ms", "operation", "file_count", "total_bytes")
  }

  /** Files metadata table (Iceberg's `<table>.files` analog): one row per
    * live data file of the current snapshot — path, size, row count (-1 if
    * unrecorded), partition values, and recorded min/max stats. Pure
    * manifest read; inspect layout health (file sizes, skew, stats
    * coverage) without touching data.
    */
  def filesDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    currentSnapshot.map(_.files).getOrElse(Nil)
      .map(f => (f.path, f.sizeBytes, f.rows, f.partition,
        f.stats.map { case (c, (mn, mx)) => c -> s"[$mn, $mx]" }, f.deletes.size))
      .toDF("path", "size_bytes", "rows", "partition", "stats", "delete_files")
  }

  /** Partitions metadata table (Iceberg's `<table>.partitions` analog): one
    * row per live partition of the current snapshot — hive-rendered
    * partition path, file count, row count (−1 when any file lacks a
    * recorded count), total bytes. Pure manifest read: partition health
    * (skew, small-file pressure) is inspectable without touching data.
    * Merge-on-read deletes make recorded base-file row counts a superset;
    * delete-carrying partitions report −1 rather than an overcount.
    */
  def partitionsDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    currentSnapshot.map(_.files).getOrElse(Nil)
      .groupBy(_.partition).toSeq
      .map { case (part, fs) =>
        val partStr = part.toSeq.sortBy(_._1)
          .map { case (k, v) => s"$k=$v" }.mkString("/")
        val exact = fs.forall(f =>
          f.rows >= 0 && f.deletes.isEmpty && f.eqDeletes.isEmpty)
        val rows = if (exact) fs.map(_.rows).sum else -1L
        (partStr, fs.size.toLong, rows, fs.map(_.sizeBytes).sum)
      }
      .sortBy(_._1)
      .toDF("partition", "file_count", "row_count", "total_bytes")
  }

  /** Row-level change diff between two snapshots (change-data-feed audit
    * face): rows only in `toId` tagged `insert`, rows only in `fromId`
    * tagged `delete` (an update appears as its delete+insert pair).
    * MANIFEST-PRUNED: only files that differ between the snapshots are
    * read — carried-over files cannot contribute to the multiset
    * difference — so a small commit against a 100 TB table diffs O(changed
    * files), not two table scans. `exceptAll` keeps duplicate multiplicity
    * exact.
    */
  def changeDiff(spark: SparkSession, fromId: Long, toId: Long): DataFrame = {
    val from = readSnapshot(fromId)
    val to = readSnapshot(toId)
    // ENTRY-identity diff, not path diff: a merge-on-read DELETE keeps the
    // data file path but attaches a delete file — the changed entry lands
    // on BOTH sides. Path-identical unchanged entries never read.
    val fromSet = from.files.toSet
    val toSet = to.files.toSet
    val removedEntries = from.files.filterNot(toSet)
    val addedEntries = to.files.filterNot(fromSet)
    // SAME-PATH PAIRING: two entry changes keep the data file itself
    // intact — a merge-on-read delete ATTACH (delete sets grow) and a
    // metadata-only manifest change (ANALYZE sketches, bloom attach, stat
    // refresh: delete sets equal ⇒ content identical). Handling those
    // pairs directly keeps their full file contents OUT of the multiset
    // net-out below: a delete-growth pair contributes exactly its
    // newly-deleted rows ([[growthDeleteRows]] — one read, no exceptAll),
    // a metadata-only pair contributes nothing with ZERO I/O. Divergent
    // same-path pairs (a delete set shrank — not produced by any current
    // writer) conservatively fall through to the net-out.
    val removedByPath = removedEntries.map(f => pathOnly(f.path) -> f).toMap
    val addedByPath = addedEntries.map(f => pathOnly(f.path) -> f).toMap
    val pairedPaths = removedByPath.keySet intersect addedByPath.keySet
    def isGrowth(o: DataFile, n: DataFile): Boolean =
      o.deletes.toSet.subsetOf(n.deletes.toSet) &&
        o.eqDeletes.toSet.subsetOf(n.eqDeletes.toSet)
    val growthPairs = pairedPaths.toSeq.sorted
      .map(p => (removedByPath(p), addedByPath(p)))
      .filter { case (o, n) => isGrowth(o, n) }
    val growthPaths = growthPairs.map { case (o, _) => pathOnly(o.path) }.toSet
    val strictGrowth = growthPairs.filter { case (o, n) =>
      o.deletes.toSet != n.deletes.toSet || o.eqDeletes.toSet != n.eqDeletes.toSet }
    val removedRest = removedEntries.filterNot(f => growthPaths(pathOnly(f.path)))
    val addedRest = addedEntries.filterNot(f => growthPaths(pathOnly(f.path)))
    // read each side with ITS OWN schema (diff requires matching columns:
    // use the newer snapshot's column set; evolution-added columns read as
    // nulls from older files)
    val delFromRest =
      if (removedRest.nonEmpty) Some(readFiles(spark, removedRest, Some(to.schemaJson)))
      else None
    val delFromGrowth = growthDeleteRows(spark, strictGrowth, to.schemaJson)
    val delSide = (delFromRest, delFromGrowth) match {
      case (Some(a), Some(b)) => Some(a.unionByName(b))
      case (a, b)             => a.orElse(b)
    }
    val insSide =
      if (addedRest.nonEmpty) Some(readFiles(spark, addedRest, Some(to.schemaJson)))
      else None
    def tag(df: DataFrame, t: String) = df.withColumn("_change_type", lit(t))
    (insSide, delSide) match {
      case (None, None) => tag(readFiles(spark, Nil, Some(to.schemaJson)), "insert")
      // one-sided ranges (the steady-state CDC shapes: pure append, pure
      // delete) skip the net-out entirely — exceptAll(X, ∅) = X
      case (Some(i), None) => tag(i, "insert")
      case (None, Some(d)) => tag(d, "delete")
      // both sides present (compaction rewrites, mixed commits): net the
      // multisets so rewritten-but-unchanged rows cancel — inputs are now
      // O(true delta + compacted bytes), never O(all changed entries × 2)
      case (Some(i), Some(d)) =>
        tag(i.exceptAll(d), "insert").unionByName(tag(d.exceptAll(i), "delete"))
    }
  }

  /** Rows removed by a merge-on-read delete ATTACH between two snapshots:
    * for each same-path entry pair whose delete sets strictly grew, the
    * rows visible under the OLD delete sets that the NEWLY attached
    * position/equality delete files match. One read of the paired files,
    * flag-joined against only the new delete dirs — the exceptAll-free
    * complement of [[changeDiff]]'s net-out, exact as a multiset because
    * position deletes address physical rows and equality flags mirror
    * [[Icebox.applyEqualityDeletes]]'s hit∧attached semantics.
    */
  private def growthDeleteRows(spark: SparkSession, pairs: Seq[(DataFile, DataFile)],
      schemaJson: String): Option[DataFrame] = {
    if (pairs.isEmpty) return None
    val layouts = pairs.groupBy(_._1.partition.keys.toSet)
    if (layouts.size > 1)
      return Some(layouts.values.toSeq
        .flatMap(g => growthDeleteRows(spark, g, schemaJson))
        .reduce(_.unionByName(_)))
    val schema = DataType.fromJson(schemaJson).asInstanceOf[StructType]
    val olds = pairs.map(_._1)
    val phys = Icebox.physicalSchema(schema)
    val readSchema = StructType(phys.fields :+ StructField(CommitCol, StringType))
    val fp = "__icx_gfp"; val pos = "__icx_gpos"
    val raw = spark.read
      .schema(readSchema)
      .option("basePath", store.render(dataDir))
      .parquet(olds.map(_.path): _*)
      .select(col("*"), col("_metadata.file_path").as(fp),
        col("_metadata.row_index").as(pos))
    // content visible at the FROM snapshot: the old delete sets applied
    val oldPosApplied =
      Icebox.antiJoinDeletes(spark, raw, olds.flatMap(_.deletes).distinct, fp, pos)
    val base = Icebox.applyEqualityDeletes(spark, oldPosApplied, olds, Some(fp))
    var flagged = base
    val flags = scala.collection.mutable.ArrayBuffer.empty[Column]
    val newPosDirs = pairs.flatMap { case (o, n) =>
      n.deletes.filterNot(o.deletes.toSet) }.distinct
    if (newPosDirs.nonEmpty) {
      val dels = spark.read.parquet(newPosDirs: _*)
        .select(Icebox.normPathColPub(col("file_path")).as("__gd_fp"),
          col("pos").as("__gd_pos"))
        .dropDuplicates() // a position listed twice must not duplicate its row
      flagged = flagged.join(broadcast(dels),
        Icebox.normPathColPub(flagged(fp)) === col("__gd_fp") &&
          flagged(pos) === col("__gd_pos"), "left")
      flags += col("__gd_fp").isNotNull
    }
    val newEqDirs = pairs.flatMap { case (o, n) =>
      n.eqDeletes.filterNot(o.eqDeletes.toSet) }.distinct
    newEqDirs.zipWithIndex.foreach { case (dir, i) =>
      // attach semantics mirror applyEqualityDeletes: a row is removed by
      // this dir iff its key tuple matches AND its file newly attaches it
      val attached = pairs.collect { case (o, n)
        if n.eqDeletes.contains(dir) && !o.eqDeletes.contains(dir) => o.path }.distinct
      // LocalRelation + cached keys: same jobless-broadcast rationale as
      // [[Icebox.applyEqualityDeletes]]
      val attDf = spark.createDataFrame(attached.map(Row(_)).asJava,
        StructType(Seq(StructField(s"__g_att_fp$i", StringType))))
      val keys = Icebox.eqDeleteKeys(spark, dir)
      val hit = s"__g_hit$i"; val att = s"__g_att$i"
      flagged = flagged
        .join(broadcast(keys.withColumn(hit, lit(true))), keys.columns.toSeq, "left")
        .join(broadcast(attDf.withColumn(att, lit(true))),
          Icebox.normPathColPub(col(fp)) ===
            Icebox.normPathColPub(col(s"__g_att_fp$i")), "left")
      flags += (coalesce(col(hit), lit(false)) && coalesce(col(att), lit(false)))
    }
    Some(flagged.filter(flags.reduce(_ || _))
      .select(schema.fields.map(f =>
        col(Icebox.physicalName(f)).as(f.name)).toIndexedSeq: _*))
  }

  /** Partition column names of the current snapshot, as LOGICAL names
    * (partition dirs store physical names; callers speak logical). Empty if
    * unpartitioned or the table is empty.
    */
  def partitionColumns: Seq[String] = layoutColumns(currentSnapshot)

  /** Partition columns of `snap`'s file layout in LOGICAL names, resolved
    * through that snapshot's own schema mapping (branch heads may differ
    * from the main head).
    */
  private def layoutColumns(snap: Option[Snapshot]): Seq[String] = {
    val physToLogical = snap.map(s =>
      DataType.fromJson(s.schemaJson).asInstanceOf[StructType].fields.map(f =>
        Icebox.physicalName(f) -> f.name).toMap).getOrElse(Map.empty[String, String])
    snap.flatMap(_.files.headOption)
      .map(_.partition.keys.toSeq.map(k => physToLogical.getOrElse(k, k)).sorted)
      .getOrElse(Nil)
  }

  // ------------------------------------------------------------------ writes

  /** W1/W3: append — new snapshot = parent files + new files.
    * `collectStats` names numeric columns whose per-file min/max are
    * recorded in the manifest for later file skipping (one extra
    * aggregation pass over the freshly written files).
    */
  def append(df: DataFrame, partitionBy: Seq[String] = Nil,
      collectStats: Seq[String] = Nil,
      alsoSetProperties: Map[String, String] = Map.empty): Snapshot =
    commit(df, effectiveParts(partitionBy), "append", collectStats,
      alsoSetProperties = alsoSetProperties) { (parent, newFiles) =>
      parent.map(_.files).getOrElse(Nil) ++ newFiles
    }

  /** Append expecting the head the caller's read observed — the
    * serializable-ingest commit: if ANY commit moved the head past
    * `expectHeadId` (−1 = the caller saw no table), [[Icebox
    * .SupersededCommit]] escapes so the caller re-runs its probe against
    * the new state instead of publishing a decision computed from a stale
    * one (the dedup-insert TOCTOU: two concurrent writers both probing,
    * both missing each other's rows, both appending the same content).
    */
  private[graft] def appendIfHead(df: DataFrame, expectHeadId: Long,
      collectStats: Seq[String] = Nil): Snapshot =
    commit(df, effectiveParts(Nil), "append", collectStats) { (parent, newFiles) =>
      if (parent.map(_.id).getOrElse(-1L) != expectHeadId) throw Icebox.SupersededCommit
      parent.map(_.files).getOrElse(Nil) ++ newFiles
    }

  /** Rows of snapshot `to` whose files are absent from snapshot `fromId`
    * (−1, an expired, or an unknown id = ALL rows of `to`): the pinned
    * uncovered-delta read of the serializable dedup ingest. Compaction-
    * rewritten files count as added — re-deriving index entries for rows
    * already covered is harmless (the index is additive) and conservative
    * beats silent under-coverage.
    */
  private[graft] def changesBetween(spark: SparkSession, fromId: Long,
      to: Snapshot): DataFrame =
    readFiles(spark, addedFilesBetween(fromId, to), Some(to.schemaJson))

  /** Manifest-only emptiness probe for [[changesBetween]]: lets the
    * serializable dedup ingest skip building the uncovered-delta plan
    * entirely (banding projection, persist, count job) in the steady
    * state where the covered marker already spans the head — the
    * single-writer common case, where the delta is zero files per wave.
    */
  private[graft] def hasChangesBetween(fromId: Long, to: Snapshot): Boolean =
    addedFilesBetween(fromId, to).nonEmpty

  private def addedFilesBetween(fromId: Long, to: Snapshot) = {
    val old: Set[String] =
      if (fromId < 0) Set.empty
      else scala.util.Try(readSnapshot(fromId).files.map(_.path).toSet)
        .getOrElse(Set.empty)
    to.files.filterNot(f => old(f.path))
  }

  /** PARTITION-SPEC EVOLUTION (Iceberg's evolve-spec analog): change the
    * table's identity partitioning for FUTURE writes — existing files keep
    * their old directory layout and stay readable (reads union one
    * relation per layout generation; manifest pruning stays exact per
    * generation, and files from a generation not partitioned by a pruned
    * column are kept conservatively). The next full compaction rewrites
    * everything into the current spec, completing the migration. Pass Nil
    * to evolve to unpartitioned.
    */
  def setPartitionSpec(cols: Seq[String]): Unit = {
    currentSchemaStruct.foreach { schema =>
      cols.foreach(c => require(schema.fields.exists(_.name.equalsIgnoreCase(c)),
        s"no such column: $c"))
    }
    setProperties(Map("partition.columns" -> cols.mkString(",")))
  }

  /** The identity-partition columns future writes use: the evolved spec if
    * [[setPartitionSpec]] was called, else the current files' layout.
    */
  def currentPartitionSpec: Seq[String] =
    properties.get("partition.columns")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(partitionColumns)

  /** Caller-supplied partitioning wins; otherwise the table's current spec
    * applies automatically (so `append(df)` keeps honoring an evolved
    * spec without every caller threading it through).
    */
  private def effectiveParts(partitionBy: Seq[String]): Seq[String] =
    if (partitionBy.nonEmpty) partitionBy else currentPartitionSpec

  /** EXACTLY-ONCE streaming append (Iceberg sink semantics): the
    * `(streamId, batchId)` marker rides the op string of the atomic
    * manifest commit, so a foreachBatch retry after a crash BETWEEN the
    * table commit and Spark's checkpoint write finds the marker and skips —
    * the duplicate-append window plain `append` leaves open. Returns None
    * when the batch was already committed. `batchId`s must be monotonic per
    * stream (Spark's foreachBatch contract). The check-then-commit pair is
    * atomic per handle; Structured Streaming replays batches from ONE
    * driver sequentially, which is the contract this guards.
    */
  def appendStreamBatch(streamId: String, batchId: Long, df: DataFrame,
      partitionBy: Seq[String] = Nil): Option[Snapshot] = this.synchronized {
    require(streamId.nonEmpty && !streamId.contains(":"),
      s"streamId must be non-empty without ':' (got '$streamId')")
    if (lastStreamBatch(streamId).exists(_ >= batchId)) None
    else Some(commit(df, partitionBy, s"stream-append:$streamId:$batchId") {
      (parent, newFiles) => parent.map(_.files).getOrElse(Nil) ++ newFiles
    })
  }

  /** Highest batchId committed for `streamId` (newest-first chain walk over
    * cached manifests; the marker refreshes every batch, so the walk stops
    * within a few snapshots in steady state).
    */
  def lastStreamBatch(streamId: String): Option[Long] = {
    val prefix = s"stream-append:$streamId:"
    allSnapshots.iterator.map(_.operation).collectFirst {
      case op if op.startsWith(prefix) => op.stripPrefix(prefix).toLong
    }
  }

  /** The table's hidden-partition transform spec (`partition.spec` table
    * property, e.g. `"bucket(8, id), days(ts)"`), empty for identity-only
    * tables. See [[PartitionTransform]].
    */
  def partitionSpec: Seq[PartitionTransform] =
    properties.get("partition.spec").map(PartitionTransform.parseSpec).getOrElse(Nil)

  /** W4+ (beyond parity): append under a HIDDEN partition spec —
    * `"bucket(8, id), days(ts), region"` — the derived partition columns
    * never enter the table schema; readers prune them from predicates on
    * the SOURCE columns via the manifest index. The first write persists
    * the spec in table properties; later writers (including DML rewrites
    * and compaction, which re-derive automatically) must agree.
    */
  def appendTransformed(df: DataFrame, spec: String,
      collectStats: Seq[String] = Nil): Snapshot = {
    val ts = PartitionTransform.parseSpec(spec)
    val existing = partitionSpec
    if (existing.isEmpty)
      setProperties(Map("partition.spec" -> PartitionTransform.renderSpec(ts)))
    else require(
      PartitionTransform.renderSpec(existing) == PartitionTransform.renderSpec(ts),
      s"partition spec mismatch: table uses '${PartitionTransform.renderSpec(existing)}', " +
        s"write passed '${PartitionTransform.renderSpec(ts)}'")
    append(df, ts.map(_.name), collectStats)
  }

  /** Overwrite variant of [[appendTransformed]]. */
  def overwriteTransformed(df: DataFrame, spec: String): Snapshot = {
    val ts = PartitionTransform.parseSpec(spec)
    setProperties(Map("partition.spec" -> PartitionTransform.renderSpec(ts)))
    overwrite(df, ts.map(_.name))
  }

  /** Add any spec-derived hidden partition columns missing from `df` (the
    * write-side derivation every committer shares; sources absent from the
    * frame are skipped — commit's partitioning check catches real misuse).
    */
  private def withHiddenPartitions(df: DataFrame): DataFrame =
    partitionSpec
      .filter(t => !t.isInstanceOf[IdentityTransform] && !df.columns.contains(t.name))
      .foldLeft(df) { (d, t) =>
        d.schema.fields.find(_.name.equalsIgnoreCase(t.source)) match {
          case Some(src) => d.withColumn(t.name, t.derive(col(src.name), src.dataType))
          case None      => d
        }
      }

  /** W2/W3: overwrite — new snapshot = new files only. */
  def overwrite(df: DataFrame, partitionBy: Seq[String] = Nil): Snapshot =
    // an explicitly evolved spec applies to overwrites too; without one,
    // Nil means "unpartitioned" (the caller's call — overwrite replaces
    // the table, so the parent layout carries no authority)
    commit(df,
      if (partitionBy.nonEmpty) partitionBy
      else properties.get("partition.columns")
        .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil),
      "overwrite") { (_, newFiles) => newFiles }

  /** Overwrite that records its operation as "upsert" (so cherry-pick and
    * lineage reporting can distinguish CDC merges from blind overwrites).
    * `expectHeadId` (−2 = unguarded): the head the caller's merge was
    * computed against — read-merge-replace callers pass it so a
    * cross-process commit landing mid-merge forces a re-merge instead of
    * being silently replaced (see `retryOnStaleHead`); −1 means "computed
    * against an empty table".
    */
  private[graft] def overwriteAs(op: String, df: DataFrame, partitionBy: Seq[String],
      expectHeadId: Long = -2L): Snapshot =
    commit(df, partitionBy, op) { (parent, newFiles) =>
      if (expectHeadId != -2L && parent.map(_.id).getOrElse(-1L) != expectHeadId)
        throw Icebox.StaleCommitState
      newFiles
    }

  /** W6 partition-scoped: dynamic partition overwrite — replaces only the
    * partitions present in `df` (Spark's
    * `spark.sql.sources.partitionOverwriteMode=dynamic` semantics, but
    * snapshot-logged and atomic). At 100 TB this is the difference between
    * rewriting a few partitions and rewriting the world: untouched
    * partitions' files carry over into the new snapshot by reference.
    */
  def overwritePartitions(df: DataFrame, partitionBy: Seq[String],
      expectHeadId: Long = -2L): Snapshot =
    overwritePartitionsCounted(df, partitionBy, expectHeadId)._1

  /** [[overwritePartitions]], also returning how many rows of `df` the
    * commit wrote. Exact, and no scan of its own: [[rowsAdded]] reads the
    * footer counts of the files the commit wrote, and a mixed-generation
    * rewrite (whose written files also hold carried rows) counts `df` in
    * the job that already finds the partitions it replaces. An `observe`
    * on `df` would not do: a range-distributed write samples its input in
    * a job of its own, and the sample's rows count too.
    */
  private[graft] def overwritePartitionsCounted(df: DataFrame, partitionBy: Seq[String],
      expectHeadId: Long = -2L): (Snapshot, Long) = {
    require(partitionBy.nonEmpty, "overwritePartitions needs partition columns")
    val physKeys = partitionBy.map(toPhysical)
    val snap = currentSnapshot
    val nonConforming = snap.map(_.files.filterNot(f => physKeys.forall(f.partition.contains)))
      .getOrElse(Nil)
    if (nonConforming.isEmpty) {
      val committed = commit(df, partitionBy, "overwrite") { (parent, newFiles) =>
        // guarded read-merge-replace (see overwriteAs): a concurrent commit
        // touching the partitions this merge read must force a re-merge
        if (expectHeadId != -2L && parent.map(_.id).getOrElse(-1L) != expectHeadId)
          throw Icebox.StaleCommitState
        val touched = newFiles.map(_.partition).toSet
        parent.map(_.files).getOrElse(Nil).filterNot(f => touched(f.partition)) ++ newFiles
      }
      return (committed, rowsAdded(committed))
    }
    // MIXED GENERATIONS: files from a spec generation not partitioned by
    // `partitionBy` may hold rows INSIDE the partitions being replaced —
    // carrying them over wholesale would silently duplicate exactly those
    // rows (caught by PartitionEvolutionSpec). In the SAME atomic commit:
    // such files retire, their rows OUTSIDE the replaced partitions are
    // rewritten into the current layout alongside `df`, and conforming
    // files carry over by reference as before. Rows compare in the
    // manifest's partition-directory rendering (nulls as the hive default
    // segment), matching readPartitions.
    val spark = df.sparkSession
    val nullSeg = "__HIVE_DEFAULT_PARTITION__"
    def rendered(c: String): Column =
      when(col(c).isNull, lit(nullSeg)).otherwise(col(c).cast(StringType))
    val sep = ""
    val perPartition = df // one row per touched partition: (rendering, rows)
      .groupBy(concat_ws(sep, partitionBy.map(rendered): _*).as("__pv")).count().collect()
    val replaced: Set[String] = perPartition.map(_.getString(0)).toSet
    val carry = readFiles(spark, nonConforming, snap.map(_.schemaJson))
      .filter(!concat_ws(sep, partitionBy.map(rendered): _*).isin(replaced.toSeq: _*))
    val retired = nonConforming.map(_.path).toSet
    val committed = commit(df.unionByName(carry), partitionBy, "overwrite") { (parent, newFiles) =>
      if (expectHeadId != -2L && parent.map(_.id).getOrElse(-1L) != expectHeadId)
        throw Icebox.StaleCommitState
      // conforming files drop iff their partition tuple was replaced by DF
      // (carry's partitions are disjoint from df's by construction, so the
      // written-files partition set must NOT be the drop rule here)
      parent.map(_.files).getOrElse(Nil)
        .filterNot(f => retired(f.path))
        .filterNot(f => physKeys.forall(f.partition.contains) &&
          replaced(physKeys.map(k => f.partition(k)).mkString(sep))) ++ newFiles
    }
    (committed, perPartition.map(_.getLong(1)).sum)
  }

  /** The rows in the files `snap` added to its parent's: for an append, an
    * overwrite or any commit of one frame with no carried rows, exactly
    * the rows it wrote, from the footer counts its manifest records.
    */
  private[graft] def rowsAdded(snap: Snapshot): Long = {
    val before = if (snap.parentId < 0) Set.empty[String]
                 else snapshot(snap.parentId).files.map(_.path).toSet
    snap.files.filterNot(f => before(f.path)).map(_.rows).sum
  }

  /** Copy-on-write FILE-LEVEL rewrite (row-level DELETE/UPDATE substrate):
    * commits a snapshot where `removed` files are replaced by the write of
    * `replacement`; every other live file carries over BY REFERENCE. At
    * 100 TB this is the difference between rewriting the table and
    * rewriting only the files whose stats admit the predicate — the same
    * pruning the read path uses, applied to the write path.
    */
  private[graft] def rewriteFiles(op: String, removed: Seq[DataFile],
      replacement: DataFrame, partitionBy: Seq[String],
      expectHeadId: Long = -2L): Snapshot = {
    val removedPaths = removed.map(_.path).toSet
    commit(replacement, partitionBy, op) { (parent, newFiles) =>
      // DRIFT GUARD (callers that pass the head id they classified
      // against): `removed` and the replacement rows were computed from
      // that head — a cross-process commit in between (an eq-delete attach
      // on a candidate, a compaction replacing one) would make this rewrite
      // resurrect deleted rows or duplicate compacted ones. Throwing makes
      // the caller re-run its whole classification (see retryOnStaleHead).
      if (expectHeadId != -2L && !parent.map(_.id).contains(expectHeadId))
        throw Icebox.StaleCommitState
      parent.map(_.files).getOrElse(Nil).filterNot(f => removedPaths(f.path)) ++ newFiles
    }
  }

  /** Read a specific subset of the current snapshot's files (current table
    * schema applies).
    */
  private[graft] def readDataFiles(spark: SparkSession, files: Seq[DataFile]): DataFrame =
    readFiles(spark, files, currentSnapshot.map(_.schemaJson))

  // ------------------------------------------------------------------- reads

  /** Read the current table state. */
  def read(spark: SparkSession): DataFrame = readSnapshotData(spark, currentSnapshot)

  /** P6/C3: time-travel read — state as of a wall-clock timestamp (latest
    * snapshot with `timestampMs <= asOfMs`; Oracle FLASHBACK `AS OF
    * TIMESTAMP` analog, oracle_to_iceberg_cdc_operator.py:195-201).
    */
  def readAsOf(spark: SparkSession, asOfMs: Long): DataFrame = {
    val snap = allSnapshots.filter(_.timestampMs <= asOfMs).sortBy(_.id).lastOption
    readSnapshotData(spark, snap)
  }

  /** Time-travel read pinned to an exact snapshot id. */
  def readSnapshotId(spark: SparkSession, id: Long): DataFrame =
    readSnapshotData(spark, Some(readSnapshot(id)))

  /** Read through the manifest-backed `FileIndex` (graft.plans
    * .IceboxFileIndex): filters on this DataFrame get partition pruning and
    * stats-based file skipping automatically during planning — no storage
    * listing, no caller opt-in. The native-table-format read path.
    */
  def readIndexed(spark: SparkSession): DataFrame =
    graft.plans.IceboxFileIndex.readIndexed(spark, this)

  /** Register this table under `name` on the session's SQL-text surface: a
    * temp view over the indexed read (so `spark.sql("SELECT ... FROM
    * name")` plans through manifest partition pruning and stats skipping)
    * AND as a [[graft.sql.MergeSql]] target, so text SELECT and MERGE INTO
    * compose against the same name. The view is pinned to the CURRENT
    * snapshot's file set; MergeSql re-registers it after each merge commit,
    * and callers using the programmatic write faces should re-register
    * after commits they want the view to reflect.
    */
  def registerView(spark: SparkSession, name: String): Unit = {
    readIndexed(spark).createOrReplaceTempView(name)
    // metadata tables, Iceberg's `t.snapshots` / `t.files` / `t.refs`
    // analog (dots aren't valid in temp-view names, so underscore-suffixed)
    snapshotsDf(spark).createOrReplaceTempView(s"${name}_snapshots")
    filesDf(spark).createOrReplaceTempView(s"${name}_files")
    refsDf(spark).createOrReplaceTempView(s"${name}_refs")
    graft.sql.MergeSql.register(name, this)
  }

  /** Incremental scan (C1/C3 at file granularity — Iceberg's
    * `incremental read` analog): rows in data files ADDED since
    * `sinceSnapshotId`. Pure manifest diff — only the delta files are read,
    * so a 5-minute sync against a 100 TB table costs O(new data), not a
    * table scan. Correct for append-only flows; after an overwrite/compact
    * rewrite the rewritten files count as added (callers pair this with
    * upsert-by-pk downstream, which absorbs re-delivery).
    */
  def changesSince(spark: SparkSession, sinceSnapshotId: Long): DataFrame = {
    val cur = currentSnapshot.getOrElse(sys.error(s"no table at $tableDir"))
    val old = readSnapshot(sinceSnapshotId).files.map(_.path).toSet
    val added = cur.files.filterNot(f => old(f.path))
    readFiles(spark, added, Some(cur.schemaJson))
  }

  /** Incremental scan from a wall-clock watermark: delta vs the latest
    * snapshot at or before `asOfMs` (empty table state if none).
    */
  def changesSinceTime(spark: SparkSession, asOfMs: Long): DataFrame =
    allSnapshots.filter(_.timestampMs <= asOfMs).sortBy(_.id).lastOption match {
      case Some(s) => changesSince(spark, s.id)
      case None    => read(spark)
    }

  /** File skipping by manifest statistics: files whose recorded [min,max]
    * for `column` intersects [lo,hi] (either bound may be None for a
    * half-open range). Files with no stats for the column are kept
    * (conservative). Statistics are collected when `append`/`overwrite` is
    * called with `collectStats` — at 100 TB this turns a selective
    * non-partition predicate into a scan of only the intersecting files,
    * Iceberg's data-skipping behavior.
    */
  def prunedFilesByStats(column: String, lo: Option[Double], hi: Option[Double]): Seq[DataFile] = {
    val key = toPhysical(column) // stats are keyed by physical name
    currentSnapshot.map(_.files.filter { f =>
      f.stats.get(key) match {
        case None => true
        // stats are recorded for string/date/bool columns too (by default
        // since r7); a non-numeric stat string keeps the file, matching the
        // conservative contract used by IceboxFileIndex.admit
        case Some((mn, mx)) =>
          scala.util.Try(
            lo.forall(l => mx.toDouble >= l) && hi.forall(h => mn.toDouble <= h)
          ).getOrElse(true)
      }
    }).getOrElse(Nil)
  }

  /** Read only the files whose stats admit `column` ∈ [lo, hi]; callers
    * still apply the exact filter on the result (stats are a superset).
    */
  def readWhereStats(spark: SparkSession, column: String, lo: Option[Double], hi: Option[Double]): DataFrame =
    readFiles(spark, prunedFilesByStats(column, lo, hi), currentSnapshot.map(_.schemaJson))

  /** String-range variant of [[prunedFilesByStats]]: bounds compare in
    * unsigned-byte UTF8 order — the order Spark's string min/max, parquet
    * footer statistics, and [[graft.plans.IceboxFileIndex]] all use (plain
    * java.lang.String order disagrees for supplementary-plane characters).
    */
  def prunedFilesByStatsString(column: String, lo: Option[String], hi: Option[String]): Seq[DataFile] = {
    def le(a: String, b: String) =
      org.apache.spark.unsafe.types.UTF8String.fromString(a)
        .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b)) <= 0
    val key = toPhysical(column)
    currentSnapshot.map(_.files.filter { f =>
      f.stats.get(key) match {
        case None => true
        case Some((mn, mx)) => lo.forall(l => le(l, mx)) && hi.forall(h => le(mn, h))
      }
    }).getOrElse(Nil)
  }

  /** Manifest-level partition pruning: the files of the current snapshot whose
    * identity-partition value of `column` is in `values` — Iceberg-style
    * pruning that avoids even listing unrelated storage paths.
    */
  def prunedFiles(column: String, values: Set[String]): Seq[DataFile] = {
    val key = toPhysical(column) // partition dirs carry physical names
    // a file from a spec generation NOT partitioned by `column` has no
    // recorded value — keep it (it may contain any value; conservative
    // under partition-spec evolution). Resolution is shard-pruned: on a
    // sharded checkpoint only the matching partitions' shard files are
    // read, so a cold partition-scoped read never parses the full list.
    currentSnapshot
      .map(s => resolveFilesWhere(s.id, m => m.get(key).forall(values)))
      .getOrElse(Nil)
  }

  /** Read only the partitions matching `values` (prunes via the manifest
    * before Spark lists anything). On a MIXED-GENERATION table (partition
    * spec evolved, not yet compacted) files from a generation not
    * partitioned by `column` are kept conservatively by [[prunedFiles]] —
    * those may hold rows outside the requested partitions, so the exact
    * filter is applied whenever such a file is present (single-generation
    * tables pay zero plan overhead). Values compare in partition-directory
    * string form, the same rendering `values` uses.
    */
  def readPartitions(spark: SparkSession, column: String, values: Set[String]): DataFrame = {
    val key = toPhysical(column)
    val files = prunedFiles(column, values)
    val base = readFiles(spark, files, currentSnapshot.map(_.schemaJson))
    if (files.forall(_.partition.contains(key))) base
    else {
      // exact filter compares in the SAME rendering the manifest records for
      // partition directories: nulls render as __HIVE_DEFAULT_PARTITION__
      // (a plain cast would yield NULL, silently dropping old-generation
      // rows of a requested null partition), and a caller passing null in
      // `values` means that same segment
      val nullSeg = "__HIVE_DEFAULT_PARTITION__"
      val wanted = values.map(v => if (v == null) nullSeg else v)
      val rendered = when(col(column).isNull, lit(nullSeg))
        .otherwise(col(column).cast(StringType))
      base.filter(rendered.isin(wanted.toSeq: _*))
    }
  }

  // ------------------------------------------------------------- maintenance

  /** M1: bin-pack compaction — rewrite the current file set into
    * ~`targetFileMb`-sized files (reference default 512 MB,
    * iceberg_compaction_operator.py:57,120-126). Row multiset is preserved
    * (property-tested). Partitioned tables repartition on (partition cols,
    * salt) so a hot partition still splits across up to `n` tasks instead of
    * collapsing into one (skew safety at scale); the writer's `partitionBy`
    * re-routes rows to their partition dirs regardless.
    */
  def compact(spark: SparkSession, targetFileMb: Int = 512): Snapshot = retryOnStaleHead {
    val snap = currentSnapshot.getOrElse(sys.error(s"no table at $tableDir"))
    // a declared table sort order (`write.sort.columns`) makes the plain
    // compaction a SORTED rewrite — Iceberg's "rewrite honors the table
    // sort order" behavior, so maintenance never destroys clustering
    val sortCols = properties.get("write.sort.columns")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq).filter(_.nonEmpty)
    if (sortCols.isDefined) return compactSorted(spark, sortCols.get, targetFileMb)
    val totalBytes = snap.files.map(_.sizeBytes).sum
    val n = math.max(1, math.ceil(totalBytes / (targetFileMb * 1024.0 * 1024.0)).toInt)
    // compact to the CURRENT spec — after partition evolution this is the
    // migration step that retires old layout generations
    val partCols = currentPartitionSpec
    val df = withHiddenPartitions(read(spark)) // re-derive hidden dirs for the shuffle key
    val repacked =
      if (partCols.nonEmpty) {
        val perPart = math.max(1, n / math.max(1, snap.files.map(_.partition).distinct.size))
        df.repartition(n, (partCols.map(col) :+ pmod(spark_partition_id(), lit(perPart))): _*)
      } else df.repartition(n)
    commit(repacked, partCols, "compact") { (parent, newFiles) =>
      // MAINTENANCE must never drop a concurrent commit: the rewrite was
      // computed from `snap` — if the head moved (a delete landed mid-
      // rewrite), publishing newFiles-only would silently discard it.
      // Recompute from the new head instead (Iceberg's rewrite-validation).
      if (!parent.map(_.id).contains(snap.id)) throw Icebox.StaleCommitState
      newFiles
    }
  }

  /** M1 + clustering: sort-ordered compaction — rewrite the table
    * range-partitioned on `sortBy`, so each output file covers a disjoint
    * value range, and record per-file min/max for those columns. After this,
    * `readWhereStats` predicates on the sort column touch O(matching files):
    * the Iceberg "rewrite with sort order" maintenance action that makes
    * data skipping effective.
    *
    * With MULTIPLE numeric sort columns the clustering key is a Z-ORDER
    * interleave, not the lexicographic concatenation: lexicographic order
    * gives the trailing columns no file locality at all (a predicate on the
    * second column alone skips nothing), while interleaved quantile-bucket
    * bits give every sort column ~equal locality, so min/max skipping works
    * for each of them independently — Iceberg's z-order rewrite strategy.
    * Bucketing uses quantile boundaries fetched once to the driver (a
    * `percentile_approx` sketch for numeric columns, a TakeOrdered random
    * sample for strings — NOT a global sort either way) and baked into the
    * plan as literals; the only shuffle is the final range partition by
    * z-key. Falls back to lexicographic when any sort column is neither
    * numeric nor string.
    */
  def compactSorted(spark: SparkSession, sortBy: Seq[String],
      targetFileMb: Int = 512, numFiles: Option[Int] = None): Snapshot = retryOnStaleHead {
    require(sortBy.nonEmpty, "compactSorted needs sort columns")
    val snap = currentSnapshot.getOrElse(sys.error(s"no table at $tableDir"))
    val totalBytes = snap.files.map(_.sizeBytes).sum
    val n = numFiles.getOrElse(
      math.max(1, math.ceil(totalBytes / (targetFileMb * 1024.0 * 1024.0)).toInt))
    val base = read(spark)
    // case-insensitive like the rest of the read path — a case mismatch must
    // not silently fall back to lexicographic clustering
    val zOrderable = sortBy.forall(c => base.schema.fields.find(_.name.equalsIgnoreCase(c))
      .exists(f => f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType] ||
        f.dataType == org.apache.spark.sql.types.StringType))
    val df =
      if (sortBy.size < 2 || !zOrderable)
        base.repartitionByRange(n, sortBy.map(col): _*)
          .sortWithinPartitions(sortBy.map(col): _*)
      else {
        val z = Icebox.zOrderKey(base, sortBy, targetFiles = n)
        base.withColumn("__z", z)
          .repartitionByRange(n, col("__z"))
          .sortWithinPartitions(col("__z"))
          .drop("__z")
      }
    commit(df, currentPartitionSpec, "compact", collectStats = sortBy) { (parent, newFiles) =>
      if (!parent.map(_.id).contains(snap.id)) throw Icebox.StaleCommitState // see compact()
      newFiles
    }
  }

  /** M1 partition-scoped: compact ONLY partitions with more than
    * `minFiles` data files, carrying every other partition's files into the
    * new snapshot by reference. At 100 TB this is the only sane compaction
    * cadence — a CDC table accretes small files in the partitions it
    * touches; rewriting cold partitions is wasted I/O. Returns the
    * partitions rewritten.
    */
  def compactPartitions(spark: SparkSession, targetFileMb: Int = 512,
      minFiles: Int = 4): Seq[Map[String, String]] = retryOnStaleHead {
    val snap = currentSnapshot.getOrElse(sys.error(s"no table at $tableDir"))
    val partCols = partitionColumns
    require(partCols.nonEmpty, "compactPartitions needs a partitioned table; use compact()")
    val byPartition = snap.files.groupBy(_.partition)
    val hot = byPartition.filter(_._2.size > minFiles)
    if (hot.isEmpty) Nil
    else {
      val hotFiles = hot.values.flatten.toSeq
      val bytes = hotFiles.map(_.sizeBytes).sum
      val n = math.max(1, math.ceil(bytes / (targetFileMb * 1024.0 * 1024.0)).toInt)
      val df = withHiddenPartitions(readFiles(spark, hotFiles, Some(snap.schemaJson)))
        .repartition(n, partCols.map(col): _*)
      commit(df, partCols, "overwrite") { (parent, newFiles) =>
        if (!parent.map(_.id).contains(snap.id)) throw Icebox.StaleCommitState // see compact()
        val touched = newFiles.map(_.partition).toSet
        parent.map(_.files).getOrElse(Nil).filterNot(f => touched(f.partition)) ++ newFiles
      }
      hot.keys.toSeq
    }
  }

  /** M2: snapshot expiry — drop snapshots older than `olderThanMs`, always
    * retaining the `retainLast` most recent and the current snapshot
    * (reference defaults 7 days / retain 10,
    * iceberg_aging_operator.py:62-63,118-186). Data files no longer
    * referenced by any kept snapshot are deleted. Orphaned commit dirs and
    * unreachable manifests (crashed writes) are also collected, but only when
    * older than `olderThanMs` — a concurrent in-flight commit's fresh dir is
    * never touched (it has a recent mtime), and the whole method is
    * synchronized against commit() on this instance. The
    * `expire.min-snapshot-age-ms` table property additionally floors the
    * cutoff (see the in-flight reader guard below).
    */
  def expireSnapshots(olderThanMs: Long, retainLast: Int = 10): Seq[Long] = this.synchronized {
    // IN-FLIGHT READER GUARD: `expire.min-snapshot-age-ms` (default 0 —
    // off) clamps the cutoff so snapshots younger than the grace window are
    // never expired regardless of how aggressive `olderThanMs` is. A
    // DataFrame pinned to a recent snapshot (time travel, a long scan, a
    // changeFeed consumer mid-batch) keeps its files alive while a
    // concurrent maintenance job runs with "expire everything" — the same
    // contract removeOrphans' graceMs already gives crash debris. Iceberg's
    // expire_snapshots pairs retention with exactly this kind of age floor.
    val minAge = properties.get("expire.min-snapshot-age-ms").map(_.toLong).getOrElse(0L)
    val cutoffMs =
      if (minAge <= 0L) olderThanMs
      else math.min(olderThanMs, System.currentTimeMillis() - minAge)
    val all = allSnapshots // committed main chain, newest first
    val currentId = currentSnapshotId
    // every snapshot reachable from a ref (branch/tag) is live, INCLUDING
    // its main-chain ancestors — expiring a fork point would break the
    // ref's delta replay
    val refChains: Seq[Snapshot] = refs.values.toSeq.flatMap(r => chainFrom(r.snapshotId))
    val refIds = refChains.map(_.id).toSet
    val keep = all.zipWithIndex.filter { case (s, i) =>
      i < retainLast || s.timestampMs >= cutoffMs || s.id == currentId || refIds(s.id)
    }.map(_._1).toList
    val keepIds = keep.map(_.id).toSet
    val reachable = all.map(_.id).toSet ++ refIds
    val expired = all.filterNot(s => keepIds(s.id))
    val expiredIds = expired.map(_.id).toSet
    // Rebase to a full manifest every LIVE snapshot whose parent is being
    // expired: any delta replay entering the expired range passes through
    // such a snapshot first, so rebasing them all keeps every live chain
    // self-contained. Without refs the kept set is a newest-first prefix
    // and this degenerates to the oldest kept snapshot; a ref-kept fork
    // point can make the set non-contiguous. Content-equivalent rewrite
    // via write-temp + atomic rename (caches stay valid).
    if (expired.nonEmpty)
      (keep ++ refChains).filter(s => s.parentId >= 0 && expiredIds(s.parentId))
        .distinctBy(_.id)
      .foreach { oldest =>
      val m = manifest(oldest.id)
      // a sharded manifest is already self-contained (shards never hang
      // off an expired parent) — only true deltas need the rebase
      if (m.full.isEmpty && m.shards.isEmpty) {
        val fs = resolveFiles(oldest.id)
        val fullM =
          if (fs.size >= shardThreshold) {
            val (refs, canonical) = writeShardedCheckpoint(fs)
            m.copy(fileCount = canonical.size.toLong,
              totalBytes = canonical.map(_.sizeBytes).sum,
              deltaDepth = 0, full = None, added = Nil, removedPaths = Nil,
              shards = refs)
          } else
            m.copy(fileCount = fs.size.toLong, totalBytes = fs.map(_.sizeBytes).sum,
              deltaDepth = 0, full = Some(fs), added = Nil, removedPaths = Nil)
        store.atomicReplace(manifestPath(oldest.id),
          manifestJson(fullM).getBytes(StandardCharsets.UTF_8))
        manifestCache.put(oldest.id, fullM)
        filesCache.remove(oldest.id) // order may differ from the delta replay
      }
    }
    // resolve kept file sets BEFORE deleting any expired manifest a delta
    // replay might still walk through
    val liveFiles = (keep ++ refChains).flatMap(_.files.map(_.path)).toSet
    // delete expired manifests, plus unreachable (crash-orphaned) manifests old enough
    expired.foreach { s =>
      store.deleteIfExists(manifestPath(s.id))
      manifestCache.remove(s.id) // expired ids must fail reads like a fresh handle's
      filesCache.remove(s.id)
    }
    if (store.exists(snapshotsDir)) {
      store.list(snapshotsDir).filter { st =>
        val name = st.getPath.getName
        st.isFile && name.endsWith(".json") &&
          name.stripSuffix(".json").toLongOption.exists(!reachable(_)) &&
          st.getModificationTime < cutoffMs
      }.foreach { st =>
        store.deleteIfExists(st.getPath)
        st.getPath.getName.stripSuffix(".json").toLongOption.foreach { mid =>
          manifestCache.remove(mid); filesCache.remove(mid)
        }
      }
    }
    // Checkpoint-shard GC: a shard file is live while ANY surviving
    // manifest references its sha (content-addressed shards are shared
    // across checkpoints, so per-snapshot deletion would corrupt later
    // checkpoints that reuse an expired one's shards). mtime-gated like
    // data files — an in-flight commit writes its shards BEFORE claiming
    // the manifest.
    if (store.exists(shardsDir)) {
      val liveShas = store.list(snapshotsDir).flatMap { st =>
        val name = st.getPath.getName
        if (!st.isFile || !name.endsWith(".json")) Nil
        else name.stripSuffix(".json").toLongOption.toSeq.flatMap { mid =>
          scala.util.Try(manifest(mid).shards.map(_.sha)).getOrElse(Nil)
        }
      }.toSet
      store.list(shardsDir).filter { st =>
        val name = st.getPath.getName
        st.isFile && name.endsWith(".json") &&
          !liveShas(name.stripSuffix(".json")) &&
          st.getModificationTime < cutoffMs
      }.foreach(st => store.deleteIfExists(st.getPath))
    }
    // Bloom side-file GC: live while any kept snapshot's file references
    // the sha (content-addressed — compaction rewrites drop the old files'
    // blooms, appends never share them, so reference = file liveness).
    // mtime-gated like data files: an in-flight commit writes its blooms
    // BEFORE claiming the manifest.
    if (store.exists(bloomsDir)) {
      val liveBloomShas = (keep ++ refChains).flatMap(_.files.flatMap(_.blooms.values)).toSet
      store.list(bloomsDir).filter { st =>
        val name = st.getPath.getName
        st.isFile && name.endsWith(".bloom") &&
          !liveBloomShas(name.stripSuffix(".bloom")) &&
          st.getModificationTime < cutoffMs
      }.foreach(st => store.deleteIfExists(st.getPath))
    }
    // NDV-sketch side-file GC: same liveness rule as blooms (a sha is live
    // while any kept snapshot's file entry — or the table-level rollup
    // property — references it), same mtime grace.
    if (store.exists(sketchesDir)) {
      // freq side files share the dir and liveness rule (their shas ride
      // the same manifest map, their rollups the freq.rollup.* properties)
      val rollupShas = properties.collect {
        case (k, v) if k.startsWith("sketch.ndv.rollup.") ||
            k.startsWith("freq.rollup.") =>
          v.split(':').lift(1)
      }.flatten.toSet
      val liveSketchShas =
        (keep ++ refChains).flatMap(_.files.flatMap(_.sketches.values)).toSet ++ rollupShas
      store.list(sketchesDir).filter { st =>
        val name = st.getPath.getName
        st.isFile && (name.endsWith(".hll") || name.endsWith(".freq")) &&
          !liveSketchShas(name.stripSuffix(".hll").stripSuffix(".freq")) &&
          st.getModificationTime < cutoffMs
      }.foreach(st => store.deleteIfExists(st.getPath))
    }
    // delete data files not referenced by any kept snapshot (incl. orphans),
    // with an mtime grace period so an in-flight commit is never corrupted
    deleteUnreferenced(liveFiles, cutoffMs)
    deleteUnreferencedDeleteDirs(
      (keep ++ refChains).flatMap(_.files.flatMap(f => f.deletes ++ f.eqDeletes)).toSet,
      cutoffMs)
    expired.map(_.id)
  }

  /** Remove position-delete dirs under `deletes/` referenced by no kept
    * snapshot, mtime-gated like data files (an in-flight merge-on-read
    * commit writes its delete file BEFORE publishing the manifest).
    */
  private def deleteUnreferencedDeleteDirs(referenced: Set[String], cutoffMs: Long): Seq[String] = {
    if (!store.exists(deletesDir)) return Nil
    store.list(deletesDir)
      .filter(st => !referenced(store.render(st.getPath)) &&
        st.getModificationTime < cutoffMs)
      .map { st => store.deleteRecursive(st.getPath); store.render(st.getPath) }
  }

  /** Delete files under data/ that are dead relative to `referenced`, if
    * older than `cutoffMs`: data files (*.parquet) not referenced, and
    * AUXILIARY files (_SUCCESS markers, Hadoop .crc checksums) only when
    * their directory holds no referenced file — a live commit's markers
    * and checksums are never touched. Empty directories are pruned.
    */
  private def deleteUnreferenced(referenced: Set[String], cutoffMs: Long): Seq[String] = {
    if (!store.exists(dataDir)) return Nil
    val dataDirStr = store.render(dataDir)
    def underData(d: String): Boolean =
      d == dataDirStr || d.startsWith(dataDirStr + "/")
    // every ancestor directory between a referenced file and dataDir is
    // live: partitioned writes put parquet in data/__commit=N/part=v/ while
    // _SUCCESS markers sit at the commit root data/__commit=N/
    val refDirs = referenced.flatMap { p =>
      Iterator.iterate(new HPath(p).getParent)(_.getParent)
        .takeWhile(d => d != null && underData(store.render(d)))
        .map(store.render)
    }
    val deleted = Seq.newBuilder[String]
    store.walk(dataDir).reverse.foreach { st =>
      val p = st.getPath
      if (st.isFile && st.getModificationTime < cutoffMs) {
        val dead =
          if (p.getName.endsWith(".parquet")) !referenced(store.render(p))
          else !refDirs(store.render(p.getParent))
        if (dead) { store.deleteIfExists(p); deleted += store.render(p) }
      } else if (st.isDirectory && store.render(p) != dataDirStr && store.list(p).isEmpty)
        store.deleteIfExists(p)
    }
    deleted.result()
  }

  /** Remove ORPHAN data files: files under the table's data directory that
    * no live snapshot references — debris from writes whose metadata commit
    * never landed (the crash window between parquet write and manifest
    * publish). Unlike [[expireSnapshots]] this retires no history: every
    * snapshot's file set stays intact. `graceMs` protects in-flight
    * commits (a freshly written commit dir whose manifest hasn't published
    * YET looks orphaned); Iceberg's `remove_orphan_files` defaults to 3
    * days for the same reason. Returns deleted paths.
    */
  def removeOrphans(graceMs: Long = 3L * 24 * 3600 * 1000): Seq[String] = this.synchronized {
    val snaps = allSnapshots ++ refs.values.toSeq.flatMap(r => chainFrom(r.snapshotId))
    val referenced = snaps.flatMap(_.files.map(_.path)).toSet
    val cutoff = System.currentTimeMillis() - graceMs
    deleteUnreferenced(referenced, cutoff) ++
      deleteUnreferencedDeleteDirs(
        snaps.flatMap(_.files.flatMap(f => f.deletes ++ f.eqDeletes)).toSet, cutoff)
  }

  /** M5: rollback — repoint the table at an earlier snapshot's file set,
    * recorded as a new snapshot (history stays append-only; the Iceberg
    * `rollback_to_snapshot` analog the reference stubs out,
    * iceberg_snapshot_operator.py:158-173).
    */
  def rollbackTo(snapshotId: Long): Snapshot = {
    val target = readSnapshot(snapshotId)
    commitMeta("rollback", target.files, target.schemaJson)
  }

  /** M6: cherry-pick — re-apply an (append) snapshot's added files on top of
    * the current state (iceberg_snapshot_operator.py:175-187 stub).
    */
  def cherrypick(snapshotId: Long): Snapshot = {
    val target = readSnapshot(snapshotId)
    require(target.operation == "append" || target.operation == "upsert",
      s"cherry-pick supports append-family snapshots, got ${target.operation}")
    val parentFiles: Set[String] =
      if (target.parentId < 0) Set.empty
      else readSnapshot(target.parentId).files.map(_.path).toSet
    val delta = target.files.filterNot(f => parentFiles(f.path))
    val cur = currentSnapshot.map(_.files).getOrElse(Nil)
    val have = cur.map(_.path).toSet
    commitMeta("cherrypick", cur ++ delta.filterNot(f => have(f.path)), target.schemaJson)
  }

  // --------------------------------------------------------------- internals

  /** Snapshot reads plan through the manifest-backed FileIndex (the same
    * path as `readIndexed`): partition pruning against manifest values and
    * stats-based file skipping happen in the planner for EVERY read — no
    * caller opt-in, no storage listing.
    */
  private[table] def readSnapshotData(spark: SparkSession, snap: Option[Snapshot]): DataFrame =
    snap match {
      case None    => spark.emptyDataFrame
      case Some(s) => graft.plans.IceboxFileIndex.readSnapshot(spark, this, s)
    }

  /** ONE parquet relation over any file set (see class doc): explicit stored
    * schema + a synthetic `graft_commit` string partition column that the
    * hive-style commit dirs provide, dropped after the scan. Filter pushdown
    * and partition pruning behave exactly as on a native parquet table.
    */
  private def readFiles(spark: SparkSession, files: Seq[DataFile], schemaJson: Option[String]): DataFrame = {
    val schema = schemaJson
      .map(j => DataType.fromJson(j).asInstanceOf[StructType])
      .getOrElse(new StructType())
    if (files.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        StructType(schema.fields.map(f => f.copy(metadata =
          org.apache.spark.sql.types.Metadata.empty))))
    // PARTITION-SPEC EVOLUTION: files from different spec generations have
    // different directory layouts, which one parquet relation can't span —
    // read one relation per layout generation and union (generation count
    // is the number of spec changes since the last full compaction, i.e.
    // small)
    val layouts = files.groupBy(_.partition.keys.toSet)
    if (layouts.size > 1)
      return layouts.values.map(g => readFiles(spark, g, schemaJson))
        .reduce(_.unionByName(_))
    // scan with PHYSICAL names (what the files store); the final projection
    // aliases back to the snapshot's logical names — pushed-down filters are
    // rewritten through the aliases by Catalyst, so pruning sees physical
    val phys = Icebox.physicalSchema(schema)
    val readSchema = StructType(phys.fields :+ StructField(CommitCol, StringType))
    val base = spark.read
      .schema(readSchema)
      .option("basePath", store.render(dataDir))
      .parquet(files.map(_.path): _*)
    Icebox.applyDeletes(spark, base, files)
      .drop(CommitCol)
      .select(schema.fields.map(f => col(Icebox.physicalName(f)).as(f.name)).toIndexedSeq: _*)
  }

  /** Like [[readDataFiles]] but with each row's physical position exposed
    * (`fpCol` = `_metadata.file_path`, `posCol` = `_metadata.row_index`),
    * existing position deletes already applied — the input to merge-on-read
    * DML, which must evaluate predicates over LIVE rows only (re-deleting a
    * dead position is harmless, but an UPDATE must never resurrect one).
    */
  private[graft] def readDataFilesWithPos(spark: SparkSession, files: Seq[DataFile],
      fpCol: String, posCol: String): DataFrame = {
    val schema = currentSnapshot.map(s =>
      DataType.fromJson(s.schemaJson).asInstanceOf[StructType]).getOrElse(new StructType())
    if (files.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        StructType(schema.fields ++ Seq(StructField(fpCol, StringType), StructField(posCol,
          org.apache.spark.sql.types.LongType))))
    val phys = Icebox.physicalSchema(schema)
    val readSchema = StructType(phys.fields :+ StructField(CommitCol, StringType))
    val base = spark.read
      .schema(readSchema)
      .option("basePath", store.render(dataDir))
      .parquet(files.map(_.path): _*)
      .select(col("*"), col("_metadata.file_path").as(fpCol), col("_metadata.row_index").as(posCol))
    val posApplied =
      Icebox.antiJoinDeletes(spark, base, files.flatMap(_.deletes).distinct, fpCol, posCol)
    Icebox.applyEqualityDeletes(spark, posApplied, files, Some(fpCol))
      .drop(CommitCol)
      .select((schema.fields.map(f => col(Icebox.physicalName(f)).as(f.name)) ++
        Seq(col(fpCol), col(posCol))).toIndexedSeq: _*)
  }

  /** Write `positions` — `(file_path, pos)` rows in `_metadata` form — as
    * ONE position-delete parquet dir under `deletes/` and return its path.
    * Merge-on-read deletes are small by construction (the mode is chosen
    * when the hit set is a small fraction of the candidate files), so one
    * output file keeps the read-side anti-join broadcastable.
    */
  private def writeDeleteFile(positions: DataFrame): String = {
    store.mkdirs(deletesDir)
    val dir = store.render(new HPath(deletesDir, s"delete-${UUID.randomUUID().toString.take(12)}"))
    positions.coalesce(1).write.mode("overwrite").parquet(dir)
    dir
  }

  /** Merge-on-read row-level DELETE: records `positions` (in
    * `_metadata.file_path` URI form + row ordinal) as a position-delete
    * file and commits a snapshot where each affected data file references
    * it — NO data file is rewritten. Iceberg v2 position-delete semantics:
    * readers anti-join the positions away; compaction materializes them.
    */
  private[graft] def commitPositionDeletes(spark: SparkSession, op: String,
      positions: DataFrame): Snapshot =
    commitPositionDeletesImpl(spark, op, positions, None, Nil)

  /** Merge-on-read UPDATE: position-delete the matched rows AND append
    * their updated images in ONE atomic commit.
    */
  private[graft] def commitPositionDeletesWithData(op: String, positions: DataFrame,
      newData: DataFrame, partitionBy: Seq[String]): Snapshot =
    commitPositionDeletesImpl(newData.sparkSession, op, positions, Some(newData), partitionBy)

  /** Shared position-delete commit. The same READ-AMPLIFICATION BOUND as
    * equality deletes: a file whose `deletes` list would exceed
    * `write.merge-on-read.max-delete-files` is rewritten copy-on-write in
    * this commit (stacked position deletes + the new positions applied),
    * so the per-read count of delete dirs to open stays bounded no matter
    * how many sparse DMLs hit a hot file.
    */
  private def commitPositionDeletesImpl(spark: SparkSession, op: String,
      positions: DataFrame, newData: Option[DataFrame],
      partitionBy: Seq[String]): Snapshot = retryOnStaleHead {
    val cur = currentSnapshot.getOrElse(sys.error(s"no table at $tableDir"))
    val schemaJson = cur.schemaJson
    // per-file position counts ride the manifest (DataFile.deleteRows) so
    // metadata row counts and the CBO stats bridge stay EXACT under
    // merge-on-read position deletes: live rows = rows - deleteRows
    val affectedCounts = affectedPathCounts(positions)
    val affected = affectedCounts.keySet
    if (affected.isEmpty) // no matching rows: commit an explicit no-op snapshot
      commitMetaResolved(op, p => p.map(_.files).getOrElse(Nil), schemaJson)
    else {
    val maxDepth = properties.get("write.merge-on-read.max-delete-files")
      .map(_.toInt).getOrElse(8)
    val overFiles = cur.files.filter(f =>
      affected(pathOnly(f.path)) && f.deletes.size >= maxDepth)
    val overPaths = overFiles.map(_.path).toSet
    val rewritten: Option[DataFrame] =
      if (overFiles.isEmpty) None
      else {
        // survivors of the over-depth files: stacked deletes applied by the
        // read, the NEW positions anti-joined here
        def norm(c: Column): Column =
          regexp_replace(c, "^[a-zA-Z][\\w+.-]*:(//[^/]*)?", "")
        val schema = DataType.fromJson(schemaJson).asInstanceOf[StructType]
        val withPos = readDataFilesWithPos(spark, overFiles, "__icx_rw_fp", "__icx_rw_pos")
        val dels = positions.select(norm(col("file_path")).as("__del_fp"),
          col("pos").as("__del_pos"))
        Some(withPos.join(dels,
            norm(col("__icx_rw_fp")) === col("__del_fp") &&
              col("__icx_rw_pos") === col("__del_pos"), "left_anti")
          .select(schema.fieldNames.map(col).toIndexedSeq: _*))
      }
    val dir = writeDeleteFile(positions)
    def attach(parent: Option[Snapshot]): Seq[DataFile] = {
      // DRIFT GUARD: affected/overPaths and the rewrite payload were all
      // derived from `cur` — a cross-process commit that moved the head
      // (e.g. a compaction replacing an over-depth file) would make the
      // attach double-commit rewritten rows; recompute from scratch instead
      if (!parent.map(_.id).contains(cur.id)) throw Icebox.StaleCommitState
      parent.map(_.files).getOrElse(Nil).flatMap {
        case f if overPaths(f.path) => None // replaced by this commit's rewrite
        case f if affected(pathOnly(f.path)) => Some(f.copy(
          deletes = f.deletes :+ dir,
          deleteRows = // unknown stays unknown; never fabricate exactness
            if (f.deleteRows < 0L) -1L
            else f.deleteRows + affectedCounts(pathOnly(f.path))))
        case f => Some(f)
      }
    }
    val payload: Option[DataFrame] = (newData, rewritten) match {
      case (Some(a), Some(b)) => Some(a.unionByName(b))
      case (a, b)             => a.orElse(b)
    }
    val payloadParts = if (partitionBy.nonEmpty) partitionBy else partitionColumns
    payload match {
      case None => commitMetaResolved(op, attach(_), schemaJson)
      case Some(df) => commit(df, payloadParts, op) { (parent, newFiles) =>
        attach(parent) ++ newFiles
      }
    }
    }
  }

  /** Write one equality-delete parquet dir under `deletes/` holding the
    * digest's key tuples under PHYSICAL key names, and return its path.
    * Under the digest's cap the file is written straight from the driver-
    * held distinct tuples (no dedupe shuffle) and the dir's keys are put in
    * [[Icebox.eqKeyCache]], so the first read after the commit needs no job
    * to re-read it; above the cap the keys are deduplicated distributed.
    * Small by construction (one CDC batch's keys), so the read-side joins
    * broadcast.
    */
  private def writeEqDeleteFile(digest: KeyDigest): String = {
    store.mkdirs(deletesDir)
    val dir = store.render(new HPath(deletesDir, s"eqdelete-${UUID.randomUUID().toString.take(12)}"))
    val spark = digest.keys.sparkSession
    val physSchema = StructType(digest.schema.fields.map(f => f.copy(name = toPhysical(f.name))))
    digest.tuples match {
      case Some(rows) =>
        spark.createDataFrame(rows.asJava, physSchema).coalesce(1)
          .write.mode("overwrite").parquet(dir)
        // the schema a parquet read of the dir returns: every field nullable
        Icebox.cacheEqDeleteKeys(dir,
          StructType(physSchema.fields.map(_.copy(nullable = true))), rows)
      case None =>
        digest.keys.toDF(physSchema.fieldNames.toIndexedSeq: _*).dropDuplicates().coalesce(1)
          .write.mode("overwrite").parquet(dir)
    }
    dir
  }

  /** The cap on a [[KeyDigest]]'s distinct tuples: `bloom.attach.max-keys`
    * (default 100k).
    */
  private def bloomMaxKeys: Int =
    properties.get("bloom.attach.max-keys").map(_.toInt).getOrElse(100000)

  /** Digest `keys` (columns = LOGICAL key column names) under this table's
    * cap — one Spark action; see [[KeyDigest]].
    */
  private[graft] def keyDigest(keys: DataFrame): KeyDigest = KeyDigest(keys, bloomMaxKeys)

  /** The digest a read or commit handed bare keys builds: a full
    * [[keyDigest]] when some key column is bloom-indexed in `files` — its
    * one action stands in for a hash probe per such column — else
    * [[KeyDigest.boundsOnly]], so a caller with no bloom to probe runs the
    * zero or one bounds aggregate it always ran, and reads unfiltered.
    */
  private def digestFor(keys: DataFrame, files: Seq[DataFile]): KeyDigest =
    if (keys.columns.exists(c => files.exists(_.blooms.contains(toPhysical(c))))) keyDigest(keys)
    else KeyDigest.boundsOnly(keys)

  /** Build the "provably holds NONE of the batch's keys" predicate over
    * `files` — shared by the eq-delete attach pruning and [[readForKeys]].
    * Runs no Spark action when the digest is under its cap; above it, the
    * digest's one bounds aggregate.
    *
    * Range check, from the digest's bounds. Numeric keys compare
    * numerically; STRING keys compare in UTF8 binary order — the order
    * Spark's string min/max, the parquet footer stats, and
    * prunedFilesByStatsString all use — so string-keyed CDC (uuids,
    * natural keys) gets the same pruning on a range-clustered table.
    *
    * Bloom check (the point-lookup complement, and the one that works on
    * UNSORTED keys where every file's [min,max] spans the domain): for key
    * columns with manifest blooms, a file is provably unaffected when NONE
    * of the batch's key hashes might be in it — blooms have no false
    * negatives, so the skip is exact; false positives only keep extra
    * files (conservative). Bounded: the probe costs |files| x |distinct
    * keys| driver-side bit tests, so it engages only under the digest's cap
    * (short-circuiting exits at the first possible hit, and CDC batches
    * are typically far smaller). Missing/untyped stats and missing blooms
    * keep the file.
    */
  private[graft] def keyDisjoint(files: Seq[DataFile], digest: KeyDigest): DataFile => Boolean = {
    val phys = digest.columns.map(toPhysical)
    val (numBounds, strBounds) = digest.bounds
    val bounds = numBounds.map { case (i, b) => phys(i) -> b }
    val strs = strBounds.map { case (i, b) => phys(i) -> b }
    def utf8Lt(a: String, b: String): Boolean =
      org.apache.spark.unsafe.types.UTF8String.fromString(a)
        .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b)) < 0
    val keyHashes: Map[String, Array[Long]] = digest.hashes.map { hs =>
      phys.indices.collect {
        case i if files.exists(_.blooms.contains(phys(i))) => phys(i) -> hs(i)
      }.toMap
    }.getOrElse(Map.empty)
    (f: DataFile) =>
      bounds.exists { case (c, (klo, khi)) =>
        f.stats.get(c).exists { case (mn, mx) =>
          scala.util.Try(mx.toDouble < klo || mn.toDouble > khi).getOrElse(false)
        }
      } || strs.exists { case (c, (klo, khi)) =>
        f.stats.get(c).exists { case (mn, mx) => utf8Lt(mx, klo) || utf8Lt(khi, mn) }
      } || keyHashes.exists { case (c, hs) =>
        f.blooms.get(c).flatMap(loadBloom).exists(bf => !hs.exists(bf.mightContainLong))
      }
  }

  /** Read only the files that might hold ANY of the batch's key tuples
    * (columns of `keys` = the key columns): manifest stats + bloom pruned
    * via [[keyDisjoint]], deletes applied, generation-aware — a SUPERSET
    * of the rows whose keys appear in `keys`, so callers still join/filter
    * exactly. The point-operation read path: a small CDC batch joined
    * against a huge table scans O(files that might hold the keys), not
    * O(table) — on a range-clustered table the stats prune, on an
    * unsorted bloom-indexed table the membership filters prune, and with
    * neither this degrades to a plain [[read]].
    *
    * When some key column is bloom-indexed, the keys are digested
    * ([[KeyDigest]], one action in place of the per-column hash probes),
    * and under [[KeyDigest.FilterMaxKeys]] tuples the scan is also filtered
    * by the batch's exact key values ([[KeyDigest.filter]]). Catalyst
    * pushes that filter below the delete joins, so delete application
    * touches the batch's rows instead of every row of the kept files.
    * Without blooms only the bounds aggregate runs, as it always has.
    */
  def readForKeys(spark: SparkSession, keys: DataFrame): DataFrame =
    readForKeysAt(spark, keys, currentSnapshot)

  /** [[readForKeys]] pinned to an explicit snapshot — callers that
    * classified work against a head id (e.g. an incremental MV refresh
    * whose cursor rides that id) read the SAME state even if the table
    * advances concurrently.
    */
  private[graft] def readForKeysAt(spark: SparkSession, keys: DataFrame,
      at: Option[Snapshot]): DataFrame =
    readForKeysAt(spark, digestFor(keys, at.map(_.files).getOrElse(Nil)), at)

  /** [[readForKeysAt]] over a digest the caller already holds — a MERGE
    * digests its keys once for the read, the cardinality check and the
    * delete commit, and its read is key-filtered with or without blooms.
    */
  private[graft] def readForKeysAt(spark: SparkSession, digest: KeyDigest,
      at: Option[Snapshot]): DataFrame =
    at match {
      case None => read(spark)
      case Some(cur) =>
        val disjoint = keyDisjoint(cur.files, digest)
        val df = readFiles(spark, cur.files.filterNot(disjoint), Some(cur.schemaJson))
        // key columns the table lacks stay unfiltered (the caller's own
        // join reports them)
        val names = digest.columns.map(c => df.columns.find(_.equalsIgnoreCase(c)))
        if (names.exists(_.isEmpty)) df
        else digest.filter(names.flatten).fold(df)(df.filter)
    }

  /** Plain pinned-snapshot read with NO pruning pass — for callers that
    * know pruning can't pay (e.g. the MV refreshers' small-dim fast path:
    * the readForKeys key digest is a Spark job, and skipping IO on a
    * one-file dim saves nothing).
    */
  private[graft] def readPinned(spark: SparkSession, snap: Snapshot): DataFrame =
    readFiles(spark, snap.files, Some(snap.schemaJson))

  /** EQUALITY-delete commit (Iceberg v2's other merge-on-read delete type):
    * records `keys` as an equality-delete file attached to every data file
    * that existed when the deleter read the table — minus files whose
    * manifest stats or blooms PROVE they contain no batch key
    * ([[keyDisjoint]]) — and, for merge-on-read upsert, appends `newData`'s
    * files in the SAME atomic snapshot. No data file is read or rewritten:
    * a CDC upsert/delete costs one tiny parquet write regardless of table
    * size. Readers anti-join the keys away
    * ([[Icebox.applyEqualityDeletes]]); compaction materializes.
    *
    * The keys are digested as [[readForKeys]] digests them: fully when a
    * key column is bloom-indexed, else bounds only. Under the digest's cap
    * the delete file is written from its tuples and the pruning runs no
    * Spark action, so the commit's only jobs are the digest and the two
    * writes; otherwise the keys are deduplicated distributed, as before.
    *
    * Sequence semantics live in the attach list: `newData`'s own files and
    * any concurrently committed append are NOT attached (the pre-existing
    * file set is captured before the optimistic-commit loop), so re-inserts
    * of a deleted key survive.
    */
  private[graft] def commitEqualityDeletes(op: String, keys: DataFrame,
      newData: Option[DataFrame] = None, partitionBy: Seq[String] = Nil,
      expectHeadId: Long = -2L): Snapshot =
    commitEqualityDeletes(op, digestFor(keys, currentSnapshot.map(_.files).getOrElse(Nil)),
      newData, partitionBy, expectHeadId)

  /** [[commitEqualityDeletes]] of the keys a caller has already digested
    * (a MERGE digests its source keys once for its read, its cardinality
    * check and this commit). `digest` is evaluated once, on the first
    * attempt, after the expected-head check.
    */
  private[graft] def commitEqualityDeletes(op: String, digest: => KeyDigest,
      newData: Option[DataFrame], partitionBy: Seq[String], expectHeadId: Long): Snapshot = {
    lazy val dg = digest
    retryOnStaleHead {
    val cur = currentSnapshot.getOrElse(sys.error(s"no table at $tableDir"))
    // expected-head contract: the caller derived `keys`/`newData` from a
    // specific head snapshot — if ANY commit (including a concurrent run
    // of the same caller) moved the head past it, publishing would apply
    // a stale computation; SupersededCommit escapes the internal retry so
    // the caller re-runs its whole cycle
    if (expectHeadId != -2L && cur.id != expectHeadId) throw Icebox.SupersededCommit
    val tableCols = DataType.fromJson(cur.schemaJson).asInstanceOf[StructType].fieldNames.toSet
    val logicalKeyCols = dg.columns
    require(logicalKeyCols.nonEmpty && logicalKeyCols.forall(tableCols.contains),
      s"equality-delete key columns ${logicalKeyCols.mkString(",")} must be table columns")
    val preExisting = cur.files.map(_.path).toSet
    val disjoint = keyDisjoint(cur.files, dg)
    // READ-AMPLIFICATION BOUND: every attached eq-delete adds a broadcast
    // join to reads of that file, so depth must not grow without limit on a
    // hot file. Files whose depth would EXCEED `write.merge-on-read
    // .max-delete-files` are rewritten copy-on-write in this same commit
    // (all stacked deletes + the new keys applied), resetting their depth
    // to zero — the hybrid that keeps O(batch) writes for the common case
    // and bounded join fan-in forever (Delta's DV-compaction analog).
    val maxDepth = properties.get("write.merge-on-read.max-delete-files")
      .map(_.toInt).getOrElse(8)
    val wouldAttach = cur.files.filter(f => !disjoint(f))
    val overFiles = wouldAttach.filter(_.eqDeletes.size >= maxDepth)
    val overPaths = overFiles.map(_.path).toSet
    val rewritten: Option[DataFrame] =
      if (overFiles.isEmpty) None
      else {
        val spark = dg.keys.sparkSession
        // survivors of the over-depth files: stacked deletes applied by the
        // read, the NEW keys anti-joined here
        val distinctKeys = dg.localKeys(spark).getOrElse(dg.keys.dropDuplicates())
        Some(readFiles(spark, overFiles, Some(cur.schemaJson))
          .join(broadcast(distinctKeys), logicalKeyCols, "left_anti"))
      }
    // delete files store PHYSICAL key names — rename-proof: the read-side
    // join runs below the logical aliasing, and a later column rename must
    // not orphan older delete files
    val dir = writeEqDeleteFile(dg)
    def attach(parent: Option[Snapshot]): Seq[DataFile] = {
      // DRIFT GUARD: preExisting/overPaths and the rewrite payload were all
      // derived from `cur` — if a cross-process commit moved the head (a
      // compaction already replacing an over-depth file, an append whose
      // rows match a batch key), attaching against the new parent would
      // double-commit rewritten rows or let matching rows escape the
      // delete; recompute everything against the new head instead
      if (!parent.map(_.id).contains(cur.id)) throw Icebox.StaleCommitState
      parent.map(_.files).getOrElse(Nil).flatMap {
        case f if overPaths(f.path) => None // replaced by this commit's rewrite
        case f if preExisting(f.path) && !disjoint(f) =>
          Some(f.copy(eqDeletes = f.eqDeletes :+ dir))
        case f => Some(f)
      }
    }
    val payload: Option[DataFrame] = (newData, rewritten) match {
      case (Some(a), Some(b)) => Some(a.unionByName(b))
      case (a, b)             => a.orElse(b)
    }
    // rewritten rows must land in the table's partition layout even when
    // the caller (deleteByKeys) passes no partitioning
    val payloadParts = if (partitionBy.nonEmpty) partitionBy else partitionColumns
    payload match {
      case None => commitMetaResolved(op, attach(_), cur.schemaJson)
      case Some(df) => commit(df, payloadParts, op) { (parent, newFiles) =>
        attach(parent) ++ newFiles
      }
    }
    }
  }

  /** CDC hard-delete by key: remove every row whose key tuple appears in
    * `keys` (columns of `keys` = the equality columns) without reading or
    * rewriting ANY data — one equality-delete file and a metadata commit.
    * The merge-on-read complement of a predicate DELETE for the "stream of
    * deleted ids" CDC shape.
    */
  def deleteByKeys(keys: DataFrame): Snapshot = commitEqualityDeletes("eqdelete", keys)

  /** Distinct data files hit by `positions`, as SCHEME-FREE paths (bounded
    * driver collect: ≤ one row per candidate FILE, not per row). Compare
    * manifest paths through [[pathOnly]] — `_metadata.file_path` carries a
    * scheme through `spark.read` but manifests may or may not, depending on
    * the table's filesystem.
    */
  /** Per-file position count of one DML batch's `(file_path, pos)` frame —
    * one aggregate over a small frame; positions are per-file distinct by
    * construction (each physical row contributes at most one pair to a
    * DELETE/UPDATE match), so counts subtract exactly from manifest rows.
    */
  private def affectedPathCounts(positions: DataFrame): Map[String, Long] =
    positions.groupBy("file_path").count().collect()
      .map(r => new java.net.URI(r.getString(0)).getPath -> r.getLong(1)).toMap

  /** A path string reduced to its filesystem path — scheme/authority
    * stripped — for comparisons against `_metadata.file_path` /
    * `input_file_name` values, which carry a scheme on some read paths and
    * not others.
    */
  private def pathOnly(s: String): String =
    new org.apache.hadoop.fs.Path(s).toUri.getPath

  /** Re-run `body` when a merge-on-read commit observes that the head moved
    * past the state its delete computation captured (cross-process only —
    * in-process commits serialize on the handle). Each retry recomputes
    * everything against the new head; data files written by an abandoned
    * attempt become orphans and are collected by [[removeOrphans]].
    */
  private[graft] def retryOnStaleHead[T](body: => T): T =
    Icebox.retryingStaleHead(body)

  /** Write `df` as a fresh commit dir, then commit the snapshot whose file
    * set is derived by `resolve(parent, newFiles)`.
    */
  private def commit(df0: DataFrame, partitionBy: Seq[String], op: String,
      collectStats: Seq[String] = Nil, onBranch: Option[String] = None,
      alsoSetProperties: Map[String, String] = Map.empty)(
      resolve: (Option[Snapshot], Seq[DataFile]) => Seq[DataFile]): Snapshot = this.synchronized {
    require(!df0.columns.contains(CommitCol), s"column name $CommitCol is reserved")
    // the lineage this commit extends: a branch head, or the main head
    val base: Option[Snapshot] = onBranch.map(branchSnapshot).orElse(currentSnapshot)
    // HIDDEN partitions: derive any spec-defined partition column the
    // caller's frame doesn't carry (compaction and DML rewrites read the
    // schema-only view, so they re-derive here); the STORED schema excludes
    // hidden columns either way — they never enter the table schema
    val hiddenNames = partitionSpec
      .filterNot(_.isInstanceOf[IdentityTransform]).map(_.name).toSet
    // column-mapping evolution: carry each existing column's physical name
    // from the current schema; a brand-new column whose name was EVER used
    // physically before (dropped then re-added) gets a fresh physical name
    // so the dropped column's on-disk data can't resurrect
    val storedSchema = evolvedStoredSchema(StructType(
      df0.schema.fields.filterNot(f => hiddenNames.contains(f.name))), base)
    val schemaJsonStored = storedSchema.json
    val l2p = Icebox.logicalToPhysical(storedSchema)
    def phys(n: String): String = l2p.getOrElse(n, n)
    val df1 =
      if (partitionBy.exists(hiddenNames.contains)) withHiddenPartitions(df0) else df0
    // files are written with PHYSICAL column names (read paths alias back)
    val df =
      if (Icebox.hasMapping(storedSchema))
        df1.select(df1.columns.toIndexedSeq.map(c => col(c).as(phys(c))): _*)
      else df1
    val partitionByPhys = partitionBy.map(phys)
    // An append must use either the parent files' layout or the table's
    // EVOLVED spec (`partition.columns` property) — anything else is a
    // caller error. Mixed layout generations are supported on read (one
    // relation per generation), so spec evolution doesn't rewrite history.
    // Compare case-insensitively on BOTH sides: directory names preserve
    // the column's written case, so lowercasing only one side spuriously
    // rejects every append after the first for uppercase partition columns.
    base.filter(_ => op == "append").foreach { parent =>
      val existing = parent.files.headOption
        .map(_.partition.keys.toSeq.map(_.toLowerCase).sorted).getOrElse(Nil)
      val mine = partitionByPhys.map(_.toLowerCase).sorted
      val spec = properties.get("partition.columns")
        .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq
          .map(c => phys(c).toLowerCase).sorted)
      if (parent.files.nonEmpty)
        require(mine == existing || spec.contains(mine),
          s"append partitioning ${partitionByPhys.mkString(",")} matches neither the " +
            s"table layout ${existing.mkString(",")} nor an evolved partition.columns spec")
    }
    store.mkdirs(dataDir)
    val commitId = UUID.randomUUID().toString.take(12)
    val commitDir = new HPath(dataDir, s"$CommitCol=$commitId")
    // rider properties act as if already set: write shaping (sort/bloom/
    // distribution) sees them on the very commit that publishes them
    val props = properties ++ alsoSetProperties
    // WRITE SHAPING (Iceberg table-property analogs), applied after
    // physicalization so the columns are the on-disk names:
    //  - write.distribution-mode = hash | range: repartition by the
    //    partition columns before the write, so each partition's data is
    //    produced by few tasks instead of EVERY task writing a sliver into
    //    every partition — without this, N tasks x P partitions = N*P tiny
    //    files per commit, the classic small-file explosion at 100 TB;
    //  - write.sort.columns: sort within tasks before writing, so each
    //    file covers a narrow range of the sort key and per-file min/max
    //    stats prune effectively WITHOUT waiting for a sorted compaction.
    val distributed = props.get("write.distribution-mode") match {
      case Some("hash") if partitionByPhys.nonEmpty =>
        df.repartition(partitionByPhys.map(col): _*)
      case Some("range") if partitionByPhys.nonEmpty =>
        df.repartitionByRange(partitionByPhys.map(col): _*)
      case Some(m) if !Set("none", "hash", "range").contains(m) =>
        sys.error(s"write.distribution-mode=$m (expected none | hash | range)")
      case _ => df
    }
    val shaped = props.get("write.sort.columns")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq) match {
      case Some(cols) if cols.nonEmpty =>
        // the PARTITION columns lead the sort: a partitioned write requires
        // task rows ordered by the partition columns, and if the incoming
        // order doesn't satisfy that, FileFormatWriter inserts its own
        // NON-STABLE sort on just those columns — silently destroying the
        // declared order inside every file. Leading with them satisfies
        // the writer's requirement, so no extra sort is inserted and each
        // file stays sorted by the declared columns.
        distributed.sortWithinPartitions(
          (partitionByPhys ++ cols.map(phys).filterNot(partitionByPhys.contains))
            .map(col): _*)
      case _ => distributed
    }
    val bloomCols = props.get("write.bloom.columns")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    // The v1 output committer (pinned, whatever the session sets) moves a
    // task's files into the commit dir only at job commit, so a failed
    // task attempt never leaves a file there.
    val writer = bloomCols.foldLeft(
      shaped.write.mode("overwrite")
        .option("mapreduce.fileoutputcommitter.algorithm.version", "1")
        .option("compression", props.getOrElse("write.compression", "zstd"))) { // reference: spark_builder.py:248
      (w, c) => w.option(s"parquet.bloom.filter.enabled#${phys(c)}", "true")
    }
    // STATIC partition overwrite: the commit dir is fresh and unique, so a
    // dynamic overwrite (the session default GraftSession sets) has nothing
    // to spare and would only stage every partition under .spark-staging
    // and rename each into place at job commit. Partition replacement is
    // the snapshot's business (`resolve`), never the directory's. No
    // _SUCCESS marker either: the dynamic mode left none (it went with the
    // staging dir), and nothing reads it — the snapshot is the record.
    (if (partitionByPhys.nonEmpty)
       writer.partitionBy(partitionByPhys: _*)
         .option("partitionOverwriteMode", "static")
         .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
     else writer)
      .parquet(store.render(commitDir))
    val listedRaw = renameBucketedFiles(listDataFiles(commitDir))
    // Footer-decodable primitive columns are stats-tracked BY DEFAULT: the
    // footer pass already runs once per commit for row counts, so their
    // min/max is metadata-free — every table gets file skipping and
    // file-pruned DML without writer opt-in (Iceberg records metrics for
    // all columns by default for the same reason). Scan-fallback types
    // (decimals, timestamps, nested) still require explicit `collectStats`
    // and stay STICKY once tracked, so skipping remains effective
    // table-wide without every caller re-opting-in.
    // stats are keyed by PHYSICAL name throughout (files, manifests, and
    // the pruning paths all live below the logical aliasing)
    val sticky = base.map(_.files.flatMap(_.stats.keys).distinct
      .filter(df.columns.contains)).getOrElse(Nil)
    val footerDefaults = df0.schema.fields.toSeq
      .filter(f => Icebox.footerDecodable(f.dataType)).map(f => phys(f.name))
    val statsCols = (collectStats.map(phys) ++ sticky ++ footerDefaults).distinct
    // ONE footer pass per commit collects row counts (always — COUNT(*) as
    // a manifest read) AND min/max for footer-decodable stats columns;
    // only footer-undecodable types pay the data-scan fallback
    val meta = collectFileStats(df.sparkSession, listedRaw.map(_.path), statsCols, df.schema)
    // Manifest-level bloom index (`manifest.bloom.columns`): per-file
    // membership filters as content-addressed side files, sized from the
    // EXACT per-file row counts the footer pass just produced. Sticky like
    // stats columns: once any live file blooms a column, later commits
    // keep blooming it without re-opting-in, so planning-time point-lookup
    // pruning stays effective table-wide across appends and compactions.
    val bloomSticky = base.map(_.files.flatMap(_.blooms.keys).distinct
      .filter(df.columns.contains)).getOrElse(Nil)
    val manifestBloomCols = (props.get("manifest.bloom.columns")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
      .map(phys).filter(df.columns.contains) ++ bloomSticky).distinct
    val bloomShas: Map[String, Map[String, String]] =
      if (manifestBloomCols.isEmpty) Map.empty
      else {
        val maxRows = meta.values.map(_._1).filter(_ > 0) match {
          case rs if rs.nonEmpty => rs.max
          case _ => 1L
        }
        val fpp = props.get("manifest.bloom.fpp").map(_.toDouble).getOrElse(0.03)
        buildFileBlooms(df.sparkSession, listedRaw.map(_.path), manifestBloomCols,
          StructType(df.schema.filterNot(f => partitionByPhys.exists(_.equalsIgnoreCase(f.name)))),
          maxRows, fpp)
      }
    // Manifest NDV index (`sketch.ndv.columns`, usually set via ANALYZE
    // TABLE): per-file HyperLogLog sketches as content-addressed side
    // files. Sticky like blooms/stats: once any live file sketches a
    // column, every later commit keeps sketching its new files — so after
    // one ANALYZE the table-level approx COUNT(DISTINCT) stays answerable
    // from metadata across appends/compactions with O(new files) build
    // cost per commit, never a second full pass.
    val sketchSticky = base.map(_.files.flatMap(_.sketches.keys).distinct
      .filter(df.columns.contains)).getOrElse(Nil)
    val sketchCols = (props.get("sketch.ndv.columns")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
      .map(phys).filter(df.columns.contains) ++ sketchSticky).distinct
    val sketchShas: Map[String, Map[String, String]] =
      if (sketchCols.isEmpty) Map.empty
      else buildFileSketches(df.sparkSession, listedRaw.map(_.path), sketchCols,
        props.get("sketch.ndv.precision").map(_.toInt)
          .getOrElse(graft.functions.Hll.DefaultP))
    // Exact frequency index (`freq.columns`, usually set via analyzeFreq):
    // sticky exactly like the NDV sketches above, so one ANALYZE keeps the
    // exact (value, count) table servable across appends at O(new files)
    val freqSticky = base.map(_.files.flatMap(_.sketches.keys)
      .filter(_.startsWith("freq:")).map(_.stripPrefix("freq:")).distinct
      .filter(df.columns.contains)).getOrElse(Nil)
    val freqCols = (props.get("freq.columns")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
      .map(phys).filter(df.columns.contains) ++ freqSticky).distinct
    val freqShas: Map[String, Map[String, String]] =
      if (freqCols.isEmpty) Map.empty
      else buildFileFreqs(df.sparkSession, listedRaw.map(_.path), freqCols,
        props.get("freq.max-values").map(_.toInt).getOrElse(256))
    val (emptyFiles, keptRaw) = listedRaw.partition(f =>
      meta.get(f.path).exists(_._1 == 0L))
    // ZERO-ROW part files (an empty upstream partition can emit one):
    // never enter the manifest — they hold no data, and a stats-less
    // empty file would disable metadata-only MIN/MAX for the whole table
    // ("a stats-less file could hide the extremum" is false when the file
    // provably has no rows). Delete the physical files too.
    emptyFiles.foreach(f =>
      try store.deleteIfExists(new HPath(f.path)) catch { case _: Exception => () })
    val newFiles = keptRaw.map { f =>
      val (rows, stats, nulls) = meta.getOrElse(
        f.path, (-1L, Map.empty[String, (String, String)], Map.empty[String, Long]))
      f.copy(rows = rows, stats = stats, nullCounts = nulls,
        blooms = bloomShas.getOrElse(pathOnly(f.path), Map.empty),
        sketches = sketchShas.getOrElse(pathOnly(f.path), Map.empty) ++
          freqShas.getOrElse(pathOnly(f.path), Map.empty))
    }
    commitMetaResolved(op, parent => resolve(parent, newFiles), schemaJsonStored, onBranch,
      alsoSetProperties)
  }

  /** The current snapshot's schema as a StructType (logical names). */
  private def currentSchemaStruct: Option[StructType] =
    currentSnapshot.map(s => DataType.fromJson(s.schemaJson).asInstanceOf[StructType])

  /** Map a caller-facing (logical) column name to the physical name used in
    * files, manifests, and partition dirs. Identity when the table has no
    * mapping or no snapshot yet.
    */
  private[graft] def toPhysical(name: String): String =
    currentSchemaStruct.flatMap(_.fields.find(_.name.equalsIgnoreCase(name))
      .map(Icebox.physicalName)).getOrElse(name)

  /** Every physical column name any snapshot's schema ever used — the
    * collision set for assigning fresh physical names (driver-side metadata
    * walk over cached manifests; only consulted when a commit or
    * [[addColumn]] introduces a column name not in the current schema).
    */
  private def historicalPhysicalNames: Set[String] =
    allSnapshots.flatMap(s => DataType.fromJson(s.schemaJson).asInstanceOf[StructType]
      .fields.map(Icebox.physicalName)).toSet

  /** The schema to STORE for a commit of `s` (logical, hidden dirs already
    * excluded): existing columns keep their physical mapping from the
    * current schema; brand-new columns get a fresh suffixed physical name
    * iff their logical name was ever used physically before (otherwise a
    * re-added column would read the DROPPED column's bytes out of old
    * files).
    */
  private def evolvedStoredSchema(s: StructType,
      base: Option[Snapshot] = currentSnapshot): StructType = base match {
    case None => s
    case Some(cur) =>
      val curByName = DataType.fromJson(cur.schemaJson).asInstanceOf[StructType]
        .fields.map(f => f.name -> f).toMap
      lazy val usedPhysical = historicalPhysicalNames
      def withPhysical(f: StructField, physical: String): StructField =
        f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata).putString(Icebox.PhysicalKey, physical).build())
      StructType(s.fields.map { f =>
        curByName.get(f.name) match {
          case Some(cf) if Icebox.physicalName(cf) != f.name =>
            withPhysical(f, Icebox.physicalName(cf))
          case Some(_) => f
          case None if usedPhysical.contains(f.name) =>
            withPhysical(f, s"${f.name}__r${cur.id + 1}")
          case None => f
        }
      })
  }

  // ------------------------------------------------- ALTER TABLE evolution

  /** Rename a column — METADATA-ONLY (Iceberg/Delta column-mapping): the
    * stored schema's field takes the new logical name and records the old
    * physical name; no file is touched, and every older snapshot keeps the
    * name that was current then. Renaming a column referenced by the hidden
    * `partition.spec` is rejected (the spec text names source columns).
    */
  def renameColumn(oldName: String, newName: String): Snapshot = this.synchronized {
    val schema = currentSchemaStruct.getOrElse(sys.error(s"no table at $tableDir"))
    val f = schema.fields.find(_.name.equalsIgnoreCase(oldName)).getOrElse(
      sys.error(s"no such column: $oldName"))
    require(!schema.fields.exists(_.name.equalsIgnoreCase(newName)),
      s"column $newName already exists")
    require(!partitionSpec.exists(_.source.equalsIgnoreCase(oldName)),
      s"cannot rename $oldName: referenced by partition.spec '${properties.getOrElse("partition.spec", "")}'")
    val renamed = f.copy(name = newName,
      metadata = new org.apache.spark.sql.types.MetadataBuilder()
        .withMetadata(f.metadata)
        .putString(Icebox.PhysicalKey, Icebox.physicalName(f)).build())
    val next = StructType(schema.fields.map(x => if (x eq f) renamed else x))
    val snap = commitMetaResolved("alter", p => p.map(_.files).getOrElse(Nil), next.json)
    // an evolved identity spec (`partition.columns`) speaks LOGICAL names —
    // carry the rename, or the next append would auto-apply a ghost column
    // and die AFTER the schema commit landed. The property write follows
    // the schema commit; a crash between the two makes the next append fail
    // loudly (unknown column), never corrupt data.
    properties.get("partition.columns").foreach { spec =>
      val cols = spec.split(',').map(_.trim).filter(_.nonEmpty)
      if (cols.exists(_.equalsIgnoreCase(oldName)))
        setProperties(Map("partition.columns" -> cols.map(c =>
          if (c.equalsIgnoreCase(oldName)) newName else c).mkString(",")))
    }
    snap
  }

  /** Drop a column — metadata-only: the field leaves the schema, readers
    * stop projecting it, and the on-disk bytes are reclaimed by the next
    * compaction. Identity-partition and `partition.spec` source columns
    * cannot be dropped (the file layout depends on them).
    */
  def dropColumn(name: String): Snapshot = this.synchronized {
    val schema = currentSchemaStruct.getOrElse(sys.error(s"no table at $tableDir"))
    require(schema.fields.exists(_.name.equalsIgnoreCase(name)), s"no such column: $name")
    require(schema.fields.length > 1, "cannot drop the last column")
    require(!partitionColumns.exists(_.equalsIgnoreCase(name)),
      s"cannot drop partition column $name")
    require(!partitionSpec.exists(_.source.equalsIgnoreCase(name)),
      s"cannot drop $name: referenced by partition.spec")
    // the EVOLVED identity spec counts too: future appends auto-partition
    // by `partition.columns`, so dropping a column named there would break
    // every subsequent write after the metadata commit already landed
    require(!currentPartitionSpec.exists(_.equalsIgnoreCase(name)),
      s"cannot drop $name: named by the evolved partition.columns spec")
    val next = StructType(schema.fields.filterNot(_.name.equalsIgnoreCase(name)))
    commitMetaResolved("alter", p => p.map(_.files).getOrElse(Nil), next.json)
  }

  /** Add a nullable column — metadata-only: files written before it read
    * the column as NULL. If the name was ever used physically before (a
    * dropped column), the new column maps to a fresh physical name so the
    * old bytes stay dead.
    */
  def addColumn(name: String, dataType: DataType): Snapshot = this.synchronized {
    val schema = currentSchemaStruct.getOrElse(sys.error(s"no table at $tableDir"))
    require(!schema.fields.exists(_.name.equalsIgnoreCase(name)),
      s"column $name already exists")
    val field =
      if (historicalPhysicalNames.contains(name))
        StructField(name, dataType, nullable = true,
          new org.apache.spark.sql.types.MetadataBuilder()
            .putString(Icebox.PhysicalKey, s"${name}__r${currentSnapshotId + 1}").build())
      else StructField(name, dataType, nullable = true)
    commitMetaResolved("alter", p => p.map(_.files).getOrElse(Nil),
      StructType(schema.fields :+ field).json)
  }

  /** Widen a column's type in place — metadata-only. Allowed promotions are
    * the ones Spark's parquet readers apply losslessly at scan time
    * (verified on this build) and Iceberg's evolution rules permit:
    * int→long, int→double, float→double. Old files keep their narrow
    * physical type; the scan up-casts.
    */
  def widenColumn(name: String, newType: DataType): Snapshot = this.synchronized {
    val schema = currentSchemaStruct.getOrElse(sys.error(s"no table at $tableDir"))
    val f = schema.fields.find(_.name.equalsIgnoreCase(name)).getOrElse(
      sys.error(s"no such column: $name"))
    import org.apache.spark.sql.types.{DoubleType, FloatType, IntegerType, LongType}
    val ok = (f.dataType, newType) match {
      case (IntegerType, LongType) | (IntegerType, DoubleType) |
           (FloatType, DoubleType) => true
      case (a, b) => a == b
    }
    require(ok, s"cannot widen ${f.dataType.simpleString} to ${newType.simpleString} " +
      "(allowed: int->bigint, int->double, float->double)")
    // a hidden-partition transform derived its dir values from the OLD
    // type: bucket dirs hash the 32-bit value, truncate dirs floor the old
    // representation — widening the source would make literal-through-
    // transform pruning (and bucketed-read hashing) silently wrong for
    // every existing file, so refuse rather than mis-prune
    if (f.dataType != newType) {
      val hit = partitionSpec.filterNot(_.isInstanceOf[IdentityTransform])
        .find(_.source.equalsIgnoreCase(f.name))
      require(hit.isEmpty, s"cannot widen ${f.name}: it is the source of hidden " +
        s"partition transform ${hit.map(PartitionTransform.render).getOrElse("")} — " +
        "existing dir values were derived from the old type")
    }
    val next = StructType(schema.fields.map(x =>
      if (x eq f) x.copy(dataType = newType) else x))
    commitMetaResolved("alter", p => p.map(_.files).getOrElse(Nil), next.json)
  }

  /** Metadata commit with optimistic concurrency across table handles: the
    * snapshot id is CLAIMED by atomically creating `<id>.json` (CREATE_NEW)
    * — two processes/handles racing on the same parent cannot both win an
    * id; the loser observes the new head, RE-RESOLVES its file set on top
    * of it (so a concurrent commit's files are never dropped from an
    * append), and retries — Iceberg's commit model. The manifest written is
    * the delta vs the parent unless a full checkpoint is due. Single-handle
    * writes also stay `synchronized` for in-process callers.
    */
  /** Metadata-only commit: a new snapshot with the SAME file set whose op
    * string carries a marker (e.g. a materialized view advancing its
    * processed-source cursor past data-neutral commits like compactions).
    * O(delta)=O(0) manifest; no data is read or written.
    */
  private[graft] def commitMarker(op: String, expectHeadId: Long = -2L): Snapshot = {
    val cur = currentSnapshot.getOrElse(sys.error(s"no table at $tableDir"))
    commitMetaResolved(op, { parent =>
      if (expectHeadId != -2L && !parent.map(_.id).contains(expectHeadId))
        throw Icebox.SupersededCommit
      parent.map(_.files).getOrElse(Nil)
    }, cur.schemaJson)
  }

  private def commitMetaResolved(op: String, resolve: Option[Snapshot] => Seq[DataFile],
      schemaJson: String, onBranch: Option[String] = None,
      alsoSetProperties: Map[String, String] = Map.empty): Snapshot =
    commitMetaResolvedFn(op, resolve, _ => schemaJson, onBranch, alsoSetProperties)

  /** Core of the metadata commit loop. `schemaJsonOf` is re-evaluated
    * against the freshly-resolved parent on EVERY retry, so a commit whose
    * schema should just carry the head's schema forward (analyze, rollup
    * refresh) names the schema of the snapshot it actually lands on — not
    * one captured before a long scan, which would silently revert a
    * concurrent ALTER TABLE.
    *
    * `alsoSetProperties` merges into the table properties INSIDE the same
    * lock window that publishes the head, AFTER the pointer moves — one
    * commit carries both, sparing a second fsync-bearing lock/write cycle
    * (the dedup ingest's covered-marker advance). A crash between pointer
    * and props leaves the properties STALE relative to the published
    * commit, which every rider must tolerate (the covered marker does:
    * stale = conservative re-band of the delta, never under-coverage).
    */
  private def commitMetaResolvedFn(op: String, resolve: Option[Snapshot] => Seq[DataFile],
      schemaJsonOf: Option[Snapshot] => String,
      onBranch: Option[String] = None,
      alsoSetProperties: Map[String, String] = Map.empty): Snapshot = this.synchronized {
    store.mkdirs(snapshotsDir)
    var attempt = 0
    // Snapshot ids are claimed across ALL lineages by CREATE_NEW on
    // `<id>.json`, so a collision has two causes: a concurrent commit on
    // OUR lineage (head moved — re-resolve on top of it) or a commit on
    // ANOTHER lineage that took the number (head unchanged — bump the
    // candidate id past it; ids need not be consecutive, parentId carries
    // the lineage).
    var bumpId = 0L
    while (attempt < 1000) {
      val parent = onBranch match {
        case Some(b) => Some(branchSnapshot(b))
        case None    => currentSnapshot
      }
      val id = math.max(parent.map(_.id + 1).getOrElse(0L), bumpId)
      val (m, canonical) = buildManifest(id, parent, op, resolve(parent), schemaJsonOf(parent))
      val claimed = store.createNew(manifestPath(id),
        manifestJson(m).getBytes(StandardCharsets.UTF_8))
      if (!claimed) { attempt += 1; bumpId = id + 1 }
      if (claimed) {
        val published = onBranch match {
          case None =>
            // publish the main head ONLY if it still equals our parent —
            // a guarded compare-and-set under the table lock. Snapshot ids
            // are no longer consecutive per lineage (branches share the id
            // space), so the id claim alone doesn't linearize main commits:
            // without this check, two same-parent committers could both
            // claim (different) ids and the second _current move would
            // orphan the first commit.
            val expected = parent.map(_.id).getOrElse(-1L)
            val ok = withTableLock {
              if (currentSnapshotId != expected) false
              else {
                store.atomicReplace(currentPtr, id.toString.getBytes(StandardCharsets.UTF_8))
                // rider properties: same lock claim, pointer FIRST (see
                // the method doc's crash contract); withTableLock is not
                // reentrant, so write the props file inline here
                if (alsoSetProperties.nonEmpty) {
                  val merged = properties ++ alsoSetProperties
                  val node = mapper.createObjectNode()
                  merged.toSeq.sortBy(_._1).foreach { case (k, v) => node.put(k, v) }
                  store.atomicReplace(propsPath, mapper.writeValueAsBytes(node))
                }
                true
              }
            }
            if (!ok) { // head moved: release the claim, rebuild on the new head
              store.deleteIfExists(manifestPath(id))
              attempt += 1; bumpId = id + 1
            }
            ok
          case Some(b) =>
            // advance the branch pointer ONLY if it still points at our
            // parent (guarded read-merge-write under the properties lock);
            // a concurrent branch commit wins the race and we re-resolve
            val expected = parent.map(_.id.toString)
            var ok = false
            updateProperties { props =>
              if (props.get(s"$BranchPrefix$b") != expected) props
              else {
                ok = true
                props + (s"$BranchPrefix$b" -> id.toString) ++ alsoSetProperties
              }
            }
            if (!ok) { // orphaned claim: release the manifest and retry
              store.deleteIfExists(manifestPath(id))
              attempt += 1; bumpId = id + 1
            }
            ok
        }
        if (published) {
          commitEvents.incrementAndGet()
          manifestCache.put(id, m)
          filesCache.put(id, canonical)
          return new Snapshot(id, m.parentId, m.timestampMs, op, schemaJsonOf(parent),
            m.fileCount, m.totalBytes, () => canonical)
        }
      }
    }
    sys.error(s"commit contention exhausted at $tableDir")
  }

  /** Per-file metadata for freshly written files: ROW COUNT (always) plus
    * min/max of `cols`, in ONE parquet-footer pass — a few KB of metadata
    * per file, fanned out over executors — instead of re-scanning the data:
    * at 100 TB a stat-tracked commit would otherwise pay a second full read
    * of everything it just wrote. Columns whose footer statistics can't be
    * decoded with exact string parity to the scan path (decimals,
    * timestamps, nested types) fall back to the data-scan aggregation; a
    * column with absent/untrustworthy statistics in any row group yields no
    * entry (pruning then keeps the file — conservative).
    */
  private def collectFileStats(spark: SparkSession, paths: Seq[String], cols: Seq[String],
      schema: StructType)
      : Map[String, (Long, Map[String, (String, String)], Map[String, Long])] = {
    def fieldType(c: String) = schema.fields.find(_.name.equalsIgnoreCase(c)).map(_.dataType)
    val (footerCols, scanCols) = cols.partition(c => fieldType(c).exists(Icebox.footerDecodable))
    val fromFooters = footerMeta(spark, paths, footerCols,
      footerCols.map(c => c -> fieldType(c).get).toMap)
    val fromScan = if (scanCols.isEmpty) Map.empty[String, Map[String, (String, String)]]
                   else fileStats(spark, paths, scanCols)
    paths.map { p =>
      val (rows, fstats, nulls) = fromFooters.getOrElse(
        p, (-1L, Map.empty[String, (String, String)], Map.empty[String, Long]))
      p -> (rows, fstats ++ fromScan.getOrElse(p, Map.empty), nulls)
    }.toMap
  }

  /** Per-file bloom filters for `cols` (physical names) over a fresh
    * commit's files, written as content-addressed side files under
    * `_snapshots/blooms/<sha256>.bloom` — the manifest entry carries only
    * the column→sha pointer (Iceberg keeps big per-file stats out of
    * manifests the same way, in puffin side files). Returns path →
    * (column → sha).
    *
    * One distributed job: `groupBy(input_file_name)` over
    * `xxhash64(col)` longs into [[graft.functions.BloomBuildAgg]] — the
    * hash stays in whole-stage codegen, partial buffers OR-merge, and the
    * shuffle ships one filter per (file, column). Sizing is EXACT per
    * commit: `expectedItems` = the largest per-file row count from the
    * footer pass that already ran (smaller files get a lower fpp than
    * asked — never a higher one).
    *
    * Side files are written FROM THE EXECUTORS that hold each merged
    * filter (temp-name + rename; content addressing makes a concurrent
    * double-write of the same sha byte-identical, so whichever rename
    * lands is correct). The driver receives only the (file, column, sha)
    * triples — O(commit files) strings, never the filter bytes, so a
    * 1000-file 512 MB-file commit does not stage ~GBs of filters in
    * driver memory.
    */
  private def buildFileBlooms(spark: SparkSession, paths: Seq[String], cols: Seq[String],
      dataSchema: StructType, expectedItems: Long, fpp: Double): Map[String, Map[String, String]] = {
    if (paths.isEmpty || cols.isEmpty) return Map.empty
    import org.apache.spark.sql.functions.{col => fcol, input_file_name, xxhash64}
    // the commit's own data schema: no footer-reading schema inference job
    val base = spark.read.schema(dataSchema).parquet(paths: _*)
    val present = cols.filter(base.columns.contains)
    if (present.isEmpty) return Map.empty
    val hashed = base.select(
      input_file_name().as("__file") +: present.map(c => xxhash64(fcol(c)).as(c)): _*)
    val aggs = present.map(c =>
      graft.functions.BloomBuild.agg(spark, fcol(c), math.max(1L, expectedItems), fpp).as(c))
    store.mkdirs(bloomsDir)
    val confBc = spark.sparkContext.broadcast(
      new Icebox.SerializableHadoopConf(spark.sessionState.newHadoopConf()))
    val bloomsDirStr = bloomsDir.toString
    val presentLocal = present
    import spark.implicits._
    val triples = hashed.groupBy("__file").agg(aggs.head, aggs.tail: _*)
      .mapPartitions { it =>
        it.flatMap { r =>
          val file = r.getString(0)
          presentLocal.zipWithIndex.flatMap { case (c, i) =>
            Option(r.getAs[Array[Byte]](i + 1)).map { bytes =>
              (file, c, Icebox.writeBloomSideFile(confBc.value.value, bloomsDirStr, bytes))
            }
          }
        }
      }.collect()
    triples.groupBy(t => pathOnly(t._1))
      .map { case (p, ts) => p -> ts.map(t => t._2 -> t._3).toMap }
  }

  /** Load one bloom side file by content sha (process-wide cache — shas
    * are immutable identities, and a planner point-lookup probes the same
    * handful of filters per query).
    */
  private[graft] def loadBloom(sha: String): Option[org.apache.spark.util.sketch.BloomFilter] = {
    val hit = Icebox.bloomCache.get(sha)
    if (hit != null) return Some(hit)
    val p = bloomPath(sha)
    if (!store.exists(p)) return None
    val bf = org.apache.spark.util.sketch.BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(store.readBytes(p)))
    Icebox.bloomCache.put(sha, bf)
    Some(bf)
  }

  /** Per-file NDV (HyperLogLog) sketches for `cols`, written as content-
    * addressed side files under `_snapshots/sketches/` — the manifest
    * entry carries only the sha. Same executor-side write discipline as
    * [[buildFileBlooms]]: the driver receives (file, column, sha) triples,
    * never the sketch bytes. One parquet pass over `paths` covers every
    * column; nulls are excluded BEFORE hashing (xxhash64 maps null to the
    * seed, which would otherwise count null as a value — COUNT(DISTINCT)
    * excludes it).
    */
  private def buildFileSketches(spark: SparkSession, paths: Seq[String], cols: Seq[String],
      p: Int): Map[String, Map[String, String]] = {
    if (paths.isEmpty || cols.isEmpty) return Map.empty
    import org.apache.spark.sql.functions.{col => fcol, input_file_name, when, xxhash64}
    val base = spark.read.parquet(paths: _*)
    val present = cols.filter(base.columns.contains)
    if (present.isEmpty) return Map.empty
    val hashed = base.select(
      input_file_name().as("__file") +:
        present.map(c => when(fcol(c).isNotNull, xxhash64(fcol(c))).as(c)): _*)
    val aggs = present.map(c => graft.functions.HllBuild.agg(spark, fcol(c), p).as(c))
    store.mkdirs(sketchesDir)
    val confBc = spark.sparkContext.broadcast(
      new Icebox.SerializableHadoopConf(spark.sessionState.newHadoopConf()))
    val sketchesDirStr = sketchesDir.toString
    val presentLocal = present
    import spark.implicits._
    val triples = hashed.groupBy("__file").agg(aggs.head, aggs.tail: _*)
      .mapPartitions { it =>
        it.flatMap { r =>
          val file = r.getString(0)
          presentLocal.zipWithIndex.flatMap { case (c, i) =>
            Option(r.getAs[Array[Byte]](i + 1)).map { bytes =>
              (file, c, Icebox.writeSideFile(confBc.value.value, sketchesDirStr, bytes, "hll"))
            }
          }
        }
      }.collect()
    triples.groupBy(t => pathOnly(t._1))
      .map { case (p0, ts) => p0 -> ts.map(t => t._2 -> t._3).toMap }
  }

  /** Load one NDV sketch side file by content sha (process-wide cache —
    * sketches are 2-4 KB and immutable).
    */
  private[graft] def loadSketch(sha: String): Option[Array[Byte]] = {
    val hit = Icebox.sketchCache.get(sha)
    if (hit != null) return Some(hit)
    val p = sketchPath(sha)
    if (!store.exists(p)) return None
    val bytes = store.readBytes(p)
    Icebox.sketchCache.put(sha, bytes)
    Some(bytes)
  }

  /** One footer read per file: block row counts + row-group min/max for
    * `cols`. No data pages are read.
    */
  private def footerMeta(spark: SparkSession, paths: Seq[String], cols: Seq[String],
      colTypes: Map[String, DataType])
      : Map[String, (Long, Map[String, (String, String)], Map[String, Long])] = {
    if (paths.isEmpty) return Map.empty
    val conf = new org.apache.spark.util.SerializableConfiguration(spark.sessionState.newHadoopConf())
    val colsV = cols.toVector
    // Commits of up to DriverFooterMax files read footers ON THE DRIVER,
    // over the bounded metadata pool: launching a Spark job costs more in
    // scheduling than reading a few dozen footers does (the mirror of
    // connectedComponents' driver-vs-distributed threshold), and every
    // commit pays this pass. The Hadoop FS API works identically from the
    // driver, so remote stores are covered; commits at 100-TB scale have
    // thousands of files and take the executor-fanned branch below.
    if (paths.size <= Icebox.DriverFooterMax)
      return Icebox.boundedMap(paths, serialMax = 2)(
        Icebox.footerMetaOne(conf, colsV, colTypes)).toMap
    val slices = math.max(1, math.min(paths.size, spark.sparkContext.defaultParallelism * 2))
    spark.sparkContext.parallelize(paths, slices)
      .map(Icebox.footerMetaOne(conf, colsV, colTypes)).collect().toMap
  }

  /** Data-scan stats (fallback for footer-undecodable column types) — one
    * distributed aggregation grouped by input_file_name. The collected
    * result is one row per file with values bounded by
    * [[Icebox.MaxStringStatBytes]] (oversized renderings are DROPPED, the
    * same policy the footer path applies — the file is then kept
    * conservatively by pruning), so the driver payload is the same order
    * as the manifest entries it populates.
    */
  private def fileStats(spark: SparkSession, paths: Seq[String],
      cols: Seq[String]): Map[String, Map[String, (String, String)]] = {
    if (paths.isEmpty) return Map.empty
    // input_file_name renders a URI; manifest paths may or may not carry a
    // scheme — key the result by the CALLER's path form so lookups hit
    val byPathOnly = paths.map(p => pathOnly(p) -> p).toMap
    val aggs = cols.flatMap(c => Seq(min(col(c)).as(s"__mn_$c"), max(col(c)).as(s"__mx_$c")))
    spark.read.parquet(paths: _*)
      .groupBy(input_file_name().as("__f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
      .map { r =>
        val uriPath = new java.net.URI(r.getAs[String]("__f")).getPath
        val file = byPathOnly.getOrElse(uriPath, uriPath)
        val st = cols.flatMap { c =>
          (Option(r.getAs[Any](s"__mn_$c")), Option(r.getAs[Any](s"__mx_$c"))) match {
            case (Some(mn), Some(mx))
              if mn.toString.getBytes(StandardCharsets.UTF_8).length <= Icebox.MaxStringStatBytes &&
                 mx.toString.getBytes(StandardCharsets.UTF_8).length <= Icebox.MaxStringStatBytes =>
              Some(c -> (mn.toString, mx.toString))
            case _ => None
          }
        }.toMap
        file -> st
      }.toMap
  }

  private def commitMeta(op: String, files: Seq[DataFile], schemaJson: String): Snapshot =
    commitMetaResolved(op, _ => files, schemaJson)

  private def sha256Hex(bytes: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(bytes)
      .map("%02x".format(_)).mkString

  /** Files-per-checkpoint above which full checkpoints shard. */
  private def shardThreshold: Int =
    properties.get("checkpoint.shard.threshold").map(_.toInt)
      .getOrElse(Icebox.DefaultShardThreshold)

  /** Write `resolved` as a content-addressed sharded checkpoint; returns
    * the shard refs plus the CANONICAL file order (shards sorted by key,
    * files sorted by path within a shard — fully deterministic, so the
    * same partition state always serializes to the same shard bytes and
    * an untouched partition's shard is recognized by its sha and NOT
    * rewritten). Shard files are immutable once written; a losing commit
    * attempt's shards are either re-referenced by the retry or collected
    * by expiry's mtime-gated shard GC.
    */
  private def writeShardedCheckpoint(
      resolved: Seq[DataFile]): (Seq[Icebox.ShardRef], Seq[DataFile]) = {
    store.mkdirs(shardsDir)
    val maxShards = properties.get("checkpoint.max.shards").map(_.toInt)
      .getOrElse(Icebox.DefaultMaxShards)
    def partKey(f: DataFile): String =
      f.partition.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString("/")
    val byPart = resolved.groupBy(partKey)
    val perPartition = byPart.size > 1 && byPart.size <= maxShards &&
      resolved.exists(_.partition.nonEmpty)
    val groups: Seq[(String, Option[Map[String, String]], Seq[DataFile])] =
      if (perPartition)
        byPart.toSeq.sortBy(_._1).map { case (k, fs) =>
          (k, Some(fs.head.partition), fs.sortBy(_.path))
        }
      else {
        // unpartitioned (or wider-than-maxShards) table: hash-bucket by
        // partition key (path for unpartitioned files) so a small commit
        // still dirties only the few buckets its files land in; ~16
        // files/bucket keeps each shard a few KB of JSON
        val n = math.min(maxShards, math.max(8, resolved.size / 16))
        resolved.groupBy { f =>
          math.floorMod((if (f.partition.nonEmpty) partKey(f) else f.path).hashCode, n)
        }.toSeq.sortBy(_._1).map { case (i, fs) => (f"b=$i%05d", None, fs.sortBy(_.path)) }
      }
    val metas = groups.map { case (key, pm, fs) =>
      val node = mapper.createObjectNode()
      writeFileArray(node, "files", fs)
      val bytes = node.toString.getBytes(StandardCharsets.UTF_8)
      (key, pm, fs, bytes, sha256Hex(bytes))
    }
    // content-addressed: exists means identical bytes; a concurrent
    // writer creating the same sha writes the same content, so a lost
    // createNew race is indistinguishable from a win. IO fans out over a
    // bounded pool — exists-probes and writes are per-shard round trips.
    def persist(bytes: Array[Byte], sha: String): Unit = {
      val p = shardPath(sha)
      if (!store.exists(p)) store.createNew(p, bytes)
    }
    Icebox.boundedMap(metas, serialMax = 8) { case (_, _, _, bytes, sha) => persist(bytes, sha) }
    val refs = metas.map { case (key, pm, fs, _, sha) =>
      shardCache.put(sha, fs)
      Icebox.ShardRef(key, sha, fs.size.toLong, fs.map(_.sizeBytes).sum, pm)
    }
    (refs, groups.flatMap(_._3))
  }

  /** Decide delta vs full for one commit (see class doc). Returns the
    * manifest plus the CANONICAL file order — parent survivors then added —
    * so the in-memory snapshot matches what a fresh handle reconstructs by
    * replaying the chain from disk.
    */
  private def buildManifest(id: Long, parent: Option[Snapshot], op: String,
      resolved: Seq[DataFile], schemaJson: String): (Icebox.Manifest, Seq[DataFile]) = {
    val parentFiles = parent.map(_.files).getOrElse(Nil)
    val parentDepth = parent.map(p => manifest(p.id).deltaDepth).getOrElse(0)
    val pByPath = parentFiles.map(f => f.path -> f).toMap
    val rByPath = resolved.map(f => f.path -> f).toMap
    // a path present on both sides with a CHANGED entry (e.g. new stats)
    // is recorded as removed + re-added, so replay replaces it
    val added = resolved.filterNot(f => pByPath.get(f.path).contains(f))
    val removedPaths = parentFiles.filterNot(f => rByPath.get(f.path).contains(f)).map(_.path)
    val ts = System.currentTimeMillis()
    val parentId = parent.map(_.id).getOrElse(-1L)
    val props = properties
    val interval = props.get("checkpoint.interval").map(_.toInt).getOrElse(Icebox.MaxDeltaChain)
    val writeFull = parent.isEmpty ||
      added.size + removedPaths.size >= resolved.size ||
      parentDepth + 1 >= interval
    if (writeFull) {
      val threshold = props.get("checkpoint.shard.threshold").map(_.toInt)
        .getOrElse(Icebox.DefaultShardThreshold)
      if (resolved.size >= threshold) {
        val (refs, canonical) = writeShardedCheckpoint(resolved)
        (Icebox.Manifest(id, parentId, ts, op, schemaJson, resolved.size.toLong,
          resolved.map(_.sizeBytes).sum, 0, None, Nil, Nil, refs), canonical)
      } else
        (Icebox.Manifest(id, parentId, ts, op, schemaJson, resolved.size.toLong,
          resolved.map(_.sizeBytes).sum, 0, Some(resolved), Nil, Nil), resolved)
    } else {
      val removedSet = removedPaths.toSet
      val canonical = parentFiles.filterNot(f => removedSet(f.path)) ++ added
      (Icebox.Manifest(id, parentId, ts, op, schemaJson, canonical.size.toLong,
        canonical.map(_.sizeBytes).sum, parentDepth + 1, None, added, removedPaths),
        canonical)
    }
  }

  /** V1-BUCKETED FILE NAMES: when the table's spec carries exactly one
    * bucket transform, stamp each just-written data file's bucket id (its
    * `<col>_bucket` dir value — already Spark's `pmod(hash(col), n)`, see
    * [[PartitionTransform]]) into the file NAME using Spark's bucketed-file
    * convention (a `_NNNNN` suffix before the extension, the shape
    * `BucketingUtils.getBucketId` parses). Reads can then declare a V1
    * `BucketSpec`, and a join or aggregation keyed on the bucket column
    * runs with ZERO shuffle on this side — at 100 TB the single biggest
    * exchange eliminated. The rename is commit-private (files are invisible
    * until the manifest lands) and metadata-only on file:// and HDFS;
    * object-store renames copy bytes, so `write.bucket-filenames=false`
    * turns the stamping off (reads just fall back to non-bucketed plans).
    * A rename failure keeps the original name — the read-side gate admits
    * bucketed plans only when EVERY live file parses, so a partial stamp
    * degrades to a normal scan, never to a wrong plan.
    */
  private def renameBucketedFiles(files: Seq[DataFile]): Seq[DataFile] = {
    val bts =
      try partitionSpec.collect { case b: BucketTransform => b }
      catch { case _: Exception => Nil }
    if (bts.size != 1 || properties.get("write.bucket-filenames").contains("false"))
      return files
    val b = bts.head
    files.map { f =>
      f.partition.get(b.name).flatMap(_.toIntOption) match {
        case Some(id) if id >= 0 && id < b.n =>
          val p = new HPath(f.path)
          val name = p.getName
          if (Icebox.bucketIdFromName(name).contains(id)) f // already stamped
          else {
            val dot = name.indexOf('.')
            val stamped =
              if (dot < 0) f"${name}_$id%05d"
              else f"${name.substring(0, dot)}_$id%05d${name.substring(dot)}"
            val np = new HPath(p.getParent, stamped)
            if (store.renamePlain(p, np)) f.copy(path = store.render(np)) else f
          }
        case _ => f
      }
    }
  }

  private def listDataFiles(commitDir: HPath): Seq[DataFile] = {
    if (!store.exists(commitDir)) return Nil
    val prefix = store.render(commitDir)
    store.walk(commitDir)
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map { st =>
        val rel = store.render(st.getPath).stripPrefix(prefix).stripPrefix("/")
        val segs = rel.split('/')
        val partition = segs.dropRight(1).toSeq
          .filter(_.contains("="))
          .map { seg =>
            val Array(k, v) = seg.split("=", 2)
            k -> unescapePathSegment(v)
          }.toMap
        DataFile(store.render(st.getPath), st.getLen, partition)
      }.sortBy(_.path)
  }

  // ------------------------------------------------- manifest serialization
  // JSON (jackson-databind ships with Spark). Full manifests carry "files";
  // delta manifests carry "added" + "removedPaths". Manifests written by the
  // pre-delta format (just "files", no counts) parse as full manifests.

  /** Serialize a file array onto `root`. Map-valued fields (partition,
    * stats) are written in sorted key order so the SAME logical content
    * always yields the SAME bytes — shard content addressing hashes these
    * bytes, and byte determinism is what lets an unchanged partition's
    * shard be recognized and reused across checkpoints.
    */
  private def writeFileArray(root: com.fasterxml.jackson.databind.node.ObjectNode,
      name: String, fs: Seq[DataFile]): Unit = {
    val arr = root.putArray(name)
    fs.foreach { f =>
      val o = arr.addObject()
      o.put("path", f.path).put("sizeBytes", f.sizeBytes)
      if (f.rows >= 0) o.put("rows", f.rows)
      val p = o.putObject("partition")
      f.partition.toSeq.sortBy(_._1).foreach { case (k, v) => p.put(k, v) }
      if (f.stats.nonEmpty) {
        val st = o.putObject("stats")
        f.stats.toSeq.sortBy(_._1).foreach { case (c, (mn, mx)) =>
          val e = st.putObject(c); e.put("min", mn); e.put("max", mx)
        }
      }
      if (f.deletes.nonEmpty) {
        val ds = o.putArray("deletes")
        f.deletes.foreach(ds.add)
        // written (incl. -1 = unknown) whenever deletes exist, so a
        // manifest rewrite never upgrades unknown to a fake count
        o.put("deleteRows", f.deleteRows)
      }
      if (f.eqDeletes.nonEmpty) {
        val eds = o.putArray("eqDeletes")
        f.eqDeletes.foreach(eds.add)
      }
      if (f.blooms.nonEmpty) {
        val bl = o.putObject("blooms")
        f.blooms.toSeq.sortBy(_._1).foreach { case (c, sha) => bl.put(c, sha) }
      }
      if (f.sketches.nonEmpty) {
        val sk = o.putObject("sketches")
        f.sketches.toSeq.sortBy(_._1).foreach { case (c, sha) => sk.put(c, sha) }
      }
      if (f.nullCounts.nonEmpty) {
        val nc = o.putObject("nulls")
        f.nullCounts.toSeq.sortBy(_._1).foreach { case (c, n) => nc.put(c, n) }
      }
    }
  }

  /** Parse the file array `name` from a manifest/shard JSON node. */
  private def readFileArray(node: com.fasterxml.jackson.databind.JsonNode,
      name: String): Seq[DataFile] =
    Option(node.get(name)).map(_.elements().asScala.map { f =>
      val pm = f.get("partition")
      val partition = pm.properties().asScala.map(e => e.getKey -> e.getValue.asText).toMap
      val stats = Option(f.get("stats")).map { sn =>
        sn.properties().asScala.map { e =>
          e.getKey -> (e.getValue.get("min").asText, e.getValue.get("max").asText)
        }.toMap
      }.getOrElse(Map.empty[String, (String, String)])
      val deletes = Option(f.get("deletes"))
        .map(_.elements().asScala.map(_.asText).toSeq).getOrElse(Nil)
      val eqDeletes = Option(f.get("eqDeletes"))
        .map(_.elements().asScala.map(_.asText).toSeq).getOrElse(Nil)
      val blooms = Option(f.get("blooms")).map { bn =>
        bn.properties().asScala.map(e => e.getKey -> e.getValue.asText).toMap
      }.getOrElse(Map.empty[String, String])
      val sketches = Option(f.get("sketches")).map { sn =>
        sn.properties().asScala.map(e => e.getKey -> e.getValue.asText).toMap
      }.getOrElse(Map.empty[String, String])
      val nullCounts = Option(f.get("nulls")).map { nn =>
        nn.properties().asScala.map(e => e.getKey -> e.getValue.asLong).toMap
      }.getOrElse(Map.empty[String, Long])
      DataFile(f.get("path").asText, f.get("sizeBytes").asLong, partition, stats,
        if (f.has("rows")) f.get("rows").asLong else -1L, deletes, eqDeletes, blooms,
        sketches, nullCounts,
        // legacy manifests recorded no count alongside their deletes: unknown
        deleteRows = if (f.has("deleteRows")) f.get("deleteRows").asLong
          else if (deletes.nonEmpty) -1L else 0L)
    }.toSeq).getOrElse(Nil)

  private def manifestJson(m: Icebox.Manifest): String = {
    val root = mapper.createObjectNode()
    root.put("id", m.id).put("parentId", m.parentId)
      .put("timestampMs", m.timestampMs).put("operation", m.operation)
      .put("schemaJson", m.schemaJson)
      .put("fileCount", m.fileCount).put("totalBytes", m.totalBytes)
      .put("deltaDepth", m.deltaDepth)
    m.full match {
      case Some(fs) => writeFileArray(root, "files", fs)
      case None if m.shards.nonEmpty =>
        val arr = root.putArray("shards")
        m.shards.foreach { s =>
          val o = arr.addObject()
          o.put("key", s.key).put("sha", s.sha)
            .put("fileCount", s.fileCount).put("totalBytes", s.totalBytes)
          s.partition.foreach { pm =>
            val p = o.putObject("partition")
            pm.toSeq.sortBy(_._1).foreach { case (k, v) => p.put(k, v) }
          }
        }
      case None =>
        writeFileArray(root, "added", m.added)
        val rm = root.putArray("removedPaths")
        m.removedPaths.foreach(rm.add)
    }
    root.toPrettyString
  }

  /** Parse (and cache) the manifest of snapshot `id`. */
  private def manifest(id: Long): Icebox.Manifest = {
    val cached = manifestCache.get(id)
    if (cached != null) return cached
    val node = mapper.readTree(store.readBytes(manifestPath(id)))
    val full = if (node.has("files")) Some(readFileArray(node, "files")) else None
    val added = readFileArray(node, "added")
    val removedPaths = Option(node.get("removedPaths"))
      .map(_.elements().asScala.map(_.asText).toSeq).getOrElse(Nil)
    val shards = Option(node.get("shards")).map(_.elements().asScala.map { s =>
      val pm = Option(s.get("partition")).map(p =>
        p.properties().asScala.map(e => e.getKey -> e.getValue.asText).toMap)
      Icebox.ShardRef(s.get("key").asText, s.get("sha").asText,
        s.get("fileCount").asLong, s.get("totalBytes").asLong, pm)
    }.toSeq).getOrElse(Nil)
    val fileCount =
      if (node.has("fileCount")) node.get("fileCount").asLong
      else full.map(_.size.toLong).getOrElse(0L)
    val totalBytes =
      if (node.has("totalBytes")) node.get("totalBytes").asLong
      else full.map(_.map(_.sizeBytes).sum).getOrElse(0L)
    val m = Icebox.Manifest(node.get("id").asLong, node.get("parentId").asLong,
      node.get("timestampMs").asLong, node.get("operation").asText,
      node.get("schemaJson").asText, fileCount, totalBytes,
      if (node.has("deltaDepth")) node.get("deltaDepth").asInt else 0,
      full, added, removedPaths, shards)
    manifestCache.put(id, m)
    m
  }

  /** Load one checkpoint shard by content hash (cached — shas are
    * immutable identities).
    */
  private def loadShard(r: Icebox.ShardRef): Seq[DataFile] = {
    val hit = shardCache.get(r.sha)
    if (hit != null) return hit
    val fs = readFileArray(mapper.readTree(store.readBytes(shardPath(r.sha))), "files")
    shardCache.put(r.sha, fs)
    fs
  }

  /** Load shards concurrently (bounded pool): a cold resolve of a wide
    * checkpoint is N small metadata reads, latency-bound on object stores
    * — fan them out instead of paying N round trips serially.
    */
  private def loadShards(refs: Seq[Icebox.ShardRef]): Seq[DataFile] =
    Icebox.boundedMap(refs, serialMax = 2)(loadShard).flatten

  /** Reconstruct the live file set of snapshot `id`: walk parent pointers up
    * to the nearest full manifest (or LRU-cached reconstruction), then
    * replay each delta — survivors keep parent order, added files append.
    * Bounded at `MaxDeltaChain` manifest reads by the checkpoint policy.
    */
  private def resolveFiles(id: Long): Seq[DataFile] = {
    val hit = filesCache.get(id)
    if (hit != null) return hit
    var deltas = List.empty[Icebox.Manifest] // nearest-to-base first after the walk
    var cur = manifest(id)
    var base: Seq[DataFile] = null
    while (base == null) {
      if (cur.full.isDefined) base = cur.full.get
      else if (cur.shards.nonEmpty) base = loadShards(cur.shards)
      else {
        deltas ::= cur
        val cachedParent = filesCache.get(cur.parentId)
        if (cachedParent != null) base = cachedParent
        else cur = manifest(cur.parentId)
      }
    }
    var files = base
    deltas.foreach { d =>
      val removed = d.removedPaths.toSet
      files = (if (removed.isEmpty) files else files.filterNot(f => removed(f.path))) ++ d.added
    }
    filesCache.put(id, files)
    files
  }

  /** Partition-pruned file resolution: the live files of snapshot `id`
    * whose partition map passes `pred` — equal to
    * `resolveFiles(id).filter(f => pred(f.partition))`, but on a SHARDED
    * checkpoint only the shards whose partition passes `pred` are ever
    * read (hash-bucketed / partitionless shards load conservatively). A
    * cold partition-scoped read of a 200k-file table parses O(matching
    * shards + delta chain) metadata, not the whole file list. Results are
    * not cached (they are per-predicate); a full resolution already in
    * cache is reused by in-memory filtering.
    */
  private[table] def resolveFilesWhere(id: Long,
      pred: Map[String, String] => Boolean): Seq[DataFile] = {
    val hit = filesCache.get(id)
    if (hit != null) return hit.filter(f => pred(f.partition))
    var deltas = List.empty[Icebox.Manifest]
    var cur = manifest(id)
    var base: Seq[DataFile] = null
    while (base == null) {
      if (cur.full.isDefined) base = cur.full.get.filter(f => pred(f.partition))
      else if (cur.shards.nonEmpty)
        base = loadShards(cur.shards.filter(_.partition.forall(pred)))
          .filter(f => pred(f.partition))
      else {
        deltas ::= cur
        val cachedParent = filesCache.get(cur.parentId)
        if (cachedParent != null) base = cachedParent.filter(f => pred(f.partition))
        else cur = manifest(cur.parentId)
      }
    }
    var files = base
    deltas.foreach { d =>
      val removed = d.removedPaths.toSet
      files = (if (removed.isEmpty) files else files.filterNot(f => removed(f.path))) ++
        d.added.filter(f => pred(f.partition))
    }
    files
  }

  private def readSnapshot(id: Long): Snapshot = {
    val m = manifest(id)
    new Snapshot(m.id, m.parentId, m.timestampMs, m.operation, m.schemaJson,
      m.fileCount, m.totalBytes, () => resolveFiles(id))
  }
}

object Icebox {
  /** Reserved synthetic partition column carrying the commit id in data paths. */
  val CommitCol = "graft_commit"

  /** Bucket id a file name encodes, parsed by SPARK'S OWN convention
    * (`BucketingUtils`) — using Spark's parser, not a re-implementation,
    * guarantees the writer's stamp and the scan's expectation can never
    * drift.
    */
  private[graft] def bucketIdFromName(name: String): Option[Int] =
    org.apache.spark.sql.execution.datasources.BucketingUtils.getBucketId(name)

  /** Process-wide bloom side-file cache, keyed by content sha (immutable).
    * Bounded LRU — filters are MBs for large files, so the bound is small;
    * a planner point-lookup probes few filters and re-probes the same ones.
    */
  private[table] val bloomCache: java.util.Map[String, org.apache.spark.util.sketch.BloomFilter] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, org.apache.spark.util.sketch.BloomFilter](64, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, org.apache.spark.util.sketch.BloomFilter]): Boolean =
          size > 64
      })

  /** Cache-only bloom lookup (no I/O): the planner's probe-budget check
    * distinguishes free cache hits from budgeted cold loads.
    */
  private[graft] def cachedBloom(sha: String): Option[org.apache.spark.util.sketch.BloomFilter] =
    Option(bloomCache.get(sha))

  /** Process-wide NDV-sketch side-file cache, keyed by content sha.
    * Sketches are 2-4 KB each, so the bound is generous.
    */
  private[table] val sketchCache: java.util.Map[String, Array[Byte]] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, Array[Byte]](256, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, Array[Byte]]): Boolean =
          size > 1024
      })

  /** Hadoop Configuration is not Serializable; this is the standard
    * write/readFields envelope so a broadcast can ship the session's
    * Hadoop conf (filesystem schemes, credentials) to executor-side
    * side-file writers.
    */
  private[table] final class SerializableHadoopConf(
      @transient var value: org.apache.hadoop.conf.Configuration) extends Serializable {
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      out.defaultWriteObject(); value.write(out)
    }
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      in.defaultReadObject()
      value = new org.apache.hadoop.conf.Configuration(false)
      value.readFields(in)
    }
  }

  /** Executor-side bloom side-file write: content-address the bytes,
    * write under a task-unique temp name, rename into place, return the
    * sha. Racing writers of the same sha produce byte-identical files, so
    * a failed rename-because-exists is success; a crashed task leaves only
    * a temp file the expiry GC removes as an unreferenced side file.
    */
  private[table] def writeBloomSideFile(conf: org.apache.hadoop.conf.Configuration,
      bloomsDir: String, bytes: Array[Byte]): String =
    writeSideFile(conf, bloomsDir, bytes, "bloom")

  /** Shared content-addressed side-file write (blooms, NDV sketches). */
  /** Pointer value marking a file whose distinct count exceeded the
    * per-file frequency cap — serving refuses on sight of it.
    */
  private[table] val FreqOverflow = "!"

  /** Frequency-index value types: ones whose rendered string round-trips
    * exactly (integrals, float/double via their shortest-repr toString,
    * decimals via plain string, raw strings).
    */
  private[table] def freqRenderable(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | FloatType |
         DoubleType | StringType => true
    case _: org.apache.spark.sql.types.DecimalType => true
    case _ => false
  }

  private[table] def freqRender(v: Any, dt: DataType): String = (v, dt) match {
    case (d: java.math.BigDecimal, _) => d.toPlainString
    case (d: BigDecimal, _) => d.bigDecimal.toPlainString
    case _ => v.toString
  }

  private[table] def freqSerialize(table: Seq[(String, Long)]): Array[Byte] = {
    val m = new ObjectMapper()
    val root = m.createObjectNode()
    val vs = root.putArray("v"); val cs = root.putArray("c")
    table.foreach { case (v, c) => vs.add(v); cs.add(c) }
    m.writeValueAsBytes(root)
  }

  private[table] def freqDeserialize(bytes: Array[Byte]): Option[Seq[(String, Long)]] =
    scala.util.Try {
      val root = new ObjectMapper().readTree(bytes)
      val vs = root.get("v"); val cs = root.get("c")
      require(vs != null && cs != null && vs.size == cs.size)
      (0 until vs.size).map(i => vs.get(i).asText -> cs.get(i).asLong)
    }.toOption

  private[table] def writeSideFile(conf: org.apache.hadoop.conf.Configuration,
      dirStr: String, bytes: Array[Byte], ext: String): String = {
    val sha = java.security.MessageDigest.getInstance("SHA-256").digest(bytes)
      .map("%02x".format(_)).mkString
    val dir = new HPath(dirStr)
    val fs = dir.getFileSystem(conf)
    val dst = new HPath(dir, s"$sha.$ext")
    if (!fs.exists(dst)) {
      val tmp = new HPath(dir, s"_tmp-$sha-${java.util.UUID.randomUUID()}.$ext")
      val out = fs.create(tmp, true)
      try out.write(bytes) finally out.close()
      if (!fs.rename(tmp, dst)) fs.delete(tmp, false) // lost the race: identical bytes won
    }
    sha
  }

  /** A named snapshot ref: `kind` is "tag" (immutable) or "branch" (writable). */
  final case class Ref(kind: String, snapshotId: Long)

  /** Control signal thrown by a merge-on-read commit's resolve closure when
    * the head moved past the state its delete computation captured; the
    * commit recomputes against the new head (see `retryOnStaleHead`).
    */
  private[graft] object StaleCommitState extends RuntimeException {
    override def fillInStackTrace(): Throwable = this
  }

  /** Thrown by commits carrying an `expectHeadId` when the table head is no
    * longer that snapshot: the caller's whole read-compute-commit cycle was
    * superseded by a concurrent committer and must re-run from its own
    * entry point. Deliberately NOT caught by `retryOnStaleHead` — the
    * recompute lives at the caller (e.g. a materialized-view refresh
    * re-reading its cursor, where the concurrent refresh usually makes the
    * re-run a NoOp).
    */
  private[graft] object SupersededCommit extends RuntimeException("superseded commit") {
    override def fillInStackTrace(): Throwable = this
  }

  /** Static face of the stale-head retry loop for callers outside the
    * handle (the SQL DML executors re-run their whole classify → rewrite
    * computation when a cross-process commit moves the head mid-statement).
    * Jittered linear backoff: each recomputation is a Spark job, so under a
    * maintenance storm (compactions racing deletes) immediate retries can
    * ping-pong; the pause lets the competing committer finish. Exhaustion
    * fails LOUDLY — never with a wrong commit.
    */
  private[graft] def retryingStaleHead[T](body: => T): T = {
    var attempt = 0
    while (true) {
      try return body
      catch {
        case StaleCommitState if attempt < 20 =>
          attempt += 1
          Thread.sleep(math.min(500L, 20L * attempt) +
            java.util.concurrent.ThreadLocalRandom.current().nextLong(40))
        case StaleCommitState =>
          sys.error("commit retries exhausted: the table head kept moving during " +
            "recomputation (concurrent maintenance storm) — rerun when quieter")
      }
    }
    sys.error("unreachable")
  }

  /** StructField metadata key holding a column's PHYSICAL (on-disk) name.
    * Column-mapping schema evolution (Delta's name-mapping / Iceberg's
    * field-id analog): files always store the physical name a column was
    * CREATED with; renames only change the logical name in the snapshot
    * schema, so they are metadata-only commits and time travel reads every
    * snapshot with the mapping that was current then. Absent metadata means
    * logical == physical (the common un-evolved case pays nothing).
    */
  val PhysicalKey = "icx.physical"

  /** A field's on-disk column name (its logical name unless mapped). */
  def physicalName(f: StructField): String =
    if (f.metadata.contains(PhysicalKey)) f.metadata.getString(PhysicalKey) else f.name

  /** `schema` with every field renamed to its physical name — the schema
    * files are actually read/written with.
    */
  def physicalSchema(schema: StructType): StructType =
    StructType(schema.fields.map(f => f.copy(name = physicalName(f))))

  /** True iff any field is renamed (guards the extra projection). */
  def hasMapping(schema: StructType): Boolean =
    schema.fields.exists(f => physicalName(f) != f.name)

  /** logical name → physical name for every field of `schema`. */
  def logicalToPhysical(schema: StructType): Map[String, String] =
    schema.fields.map(f => f.name -> physicalName(f)).toMap

  /** Apply BOTH delete kinds — position then equality — to a raw
    * file-relation DataFrame. Position deletes anti-join on
    * `(_metadata.file_path, _metadata.row_index)`; both delete sides are
    * small by construction, so Spark broadcasts the joins (an oversized
    * set degrades to a shuffled join, never to an error). `_metadata` is
    * only reachable on the file relation itself, so the file-path/row-index
    * columns are materialized ONCE here and shared by both passes — must
    * run BEFORE any projection. Zero plan overhead when the snapshot
    * carries no delete files of either kind.
    */
  private[graft] def applyDeletes(spark: SparkSession, base: DataFrame,
      files: Seq[DataFile]): DataFrame = {
    val posDirs = files.flatMap(_.deletes).distinct
    val hasEq = files.exists(_.eqDeletes.nonEmpty)
    if (posDirs.isEmpty && !hasEq) return base
    val outCols = base.columns.toIndexedSeq
    val withMeta = base.select(col("*"), col("_metadata.file_path").as("__icx_fp"),
      col("_metadata.row_index").as("__icx_pos"))
    val posApplied = antiJoinDeletes(spark, withMeta, posDirs, "__icx_fp", "__icx_pos")
    applyEqualityDeletes(spark, posApplied, files, Some("__icx_fp"))
      .select(outCols.map(col): _*)
  }

  /** Anti-join `df` (carrying materialized `fpCol`/`posCol` position
    * columns) against the `(file_path, pos)` rows of `deleteDirs`.
    * `_metadata.file_path` renders with a scheme through `spark.read`
    * (`file:/...`) but WITHOUT one through a custom FileIndex (`/...`), so
    * both join keys normalize away the `scheme:[//authority]` prefix —
    * matching on the filesystem path, which is identical either way.
    */
  private[graft] def antiJoinDeletes(spark: SparkSession, df: DataFrame,
      deleteDirs: Seq[String], fpCol: String, posCol: String): DataFrame = {
    if (deleteDirs.isEmpty) return df
    def norm(c: Column): Column = regexp_replace(c, "^[a-zA-Z][\\w+.-]*:(//[^/]*)?", "")
    val dels = spark.read.parquet(deleteDirs: _*)
      .select(norm(col("file_path")).as("__del_fp"), col("pos").as("__del_pos"))
    df.join(dels,
      norm(df(fpCol)) === col("__del_fp") && df(posCol) === col("__del_pos"), "left_anti")
  }

  /** Strip any `scheme:[//authority]` prefix from `c` (see
    * [[antiJoinDeletes]] — `_metadata.file_path` carries `file:` through
    * `spark.read` but not through a custom FileIndex).
    */
  private def normPathCol(c: Column): Column =
    regexp_replace(c, "^[a-zA-Z][\\w+.-]*:(//[^/]*)?", "")

  /** [[normPathCol]] for the companion class (Scala object-private members
    * are visible to the companion, but keep the intent explicit).
    */
  private[table] def normPathColPub(c: Column): Column = normPathCol(c)

  /** Driver-held cache of equality-delete KEY SETS, keyed by delete-dir
    * path. Safe because delete dirs are IMMUTABLE: [[Icebox.writeEqDeleteFile]]
    * writes each commit's keys under a fresh uuid-named dir that is never
    * modified afterwards (expiry deletes whole dirs, never rewrites them).
    *
    * Why: every merge-on-read read broadcasts each attached dir's keys, and
    * a broadcast whose child is a parquet SCAN launches one Spark job per
    * dir per read — the MV/merge/delete lifecycle queries re-read their
    * MoR tables several times, paying that scheduling constant over and
    * over for a few-KB key file. Serving the keys as a [[LocalRelation]]
    * (already deduplicated) makes every subsequent broadcast jobless.
    *
    * Bounded both ways — this is metadata caching (the Iceberg manifest-
    * cache analog), never a result cache: an entry is only admitted when
    * the key set fits [[EqKeyCacheMaxRows]] (oversize key sets stay fully
    * distributed, zero driver footprint), and the map is cleared when it
    * reaches [[EqKeyCacheMaxEntries]] distinct dirs.
    */
  private val eqKeyCache =
    new java.util.concurrent.ConcurrentHashMap[String, (StructType, Seq[Row])]()
  private[table] val EqKeyCacheMaxRows = 100000
  private[table] val EqKeyCacheMaxEntries = 512

  /** The deduplicated key tuples of one equality-delete dir — from the
    * driver cache (a jobless LocalRelation) when the set is small, a plain
    * distributed read otherwise.
    */
  private[graft] def eqDeleteKeys(spark: SparkSession, dir: String): DataFrame = {
    val hit = eqKeyCache.get(dir)
    if (hit != null) return spark.createDataFrame(hit._2.asJava, hit._1)
    val df = spark.read.parquet(dir).dropDuplicates()
    val rows = df.limit(EqKeyCacheMaxRows + 1).collect().toSeq
    if (rows.length > EqKeyCacheMaxRows) df
    else {
      cacheEqDeleteKeys(dir, df.schema, rows)
      spark.createDataFrame(rows.asJava, df.schema)
    }
  }

  /** Admit one delete dir's distinct key tuples to [[eqKeyCache]] —
    * `schema` must be what a parquet read of `dir` returns. Also called by
    * the writer, which holds the tuples it just wrote.
    */
  private[table] def cacheEqDeleteKeys(dir: String, schema: StructType, rows: Seq[Row]): Unit =
    if (rows.length <= EqKeyCacheMaxRows) {
      if (eqKeyCache.size >= EqKeyCacheMaxEntries) eqKeyCache.clear()
      eqKeyCache.put(dir, (schema, rows))
    }

  /** Apply EQUALITY deletes to a file-relation DataFrame: a row is removed
    * iff its key tuple appears in an equality-delete file AND its data file
    * carries that delete in `eqDeletes` (the attach list IS the sequence
    * semantics — files appended after the delete never carry it, so their
    * rows survive even on key match). Each delete dir's schema names its
    * equality columns, so one table can mix deletes on different keys.
    *
    * Plan shape: per delete dir, TWO broadcast left joins (key tuples +
    * attached-file list, both small by construction) and one codegen'd
    * filter — never an `isin` literal list, never a keys×files blow-up.
    * Rows with a NULL in any key column are never deleted (SQL equality
    * semantics — conservative). A no-op (zero plan overhead) when no file
    * carries equality deletes.
    *
    * `fpCol`: pass a pre-materialized file-path column when the caller
    * already carries one; otherwise `_metadata.file_path` is materialized
    * (requires `base` to still be the file relation, like [[applyDeletes]]).
    */
  private[graft] def applyEqualityDeletes(spark: SparkSession, base: DataFrame,
      files: Seq[DataFile], fpCol: Option[String] = None): DataFrame = {
    val dirs = files.flatMap(_.eqDeletes).distinct
    if (dirs.isEmpty) return base
    val fp = fpCol.getOrElse("__icx_eqfp")
    val withFp =
      if (fpCol.isDefined) base
      else base.select(col("*"), col("_metadata.file_path").as(fp))
    val out = dirs.zipWithIndex.foldLeft(withFp) { case (df, (dir, i)) =>
      val attached = files.filter(_.eqDeletes.contains(dir)).map(_.path).distinct
      // LocalRelation, not parallelize: broadcasting an RDD-backed frame
      // launches one single-task Spark job per dir per read just to collect
      // a driver-held path list back to the driver
      val attDf = spark.createDataFrame(attached.map(Row(_)).asJava,
        StructType(Seq(StructField(s"__eq_att_fp$i", StringType))))
      val keys = eqDeleteKeys(spark, dir)
      val hit = s"__eq_hit$i"
      val att = s"__eq_att$i"
      df.join(broadcast(keys.withColumn(hit, lit(true))), keys.columns.toSeq, "left")
        .join(broadcast(attDf.withColumn(att, lit(true))),
          normPathCol(col(fp)) === normPathCol(col(s"__eq_att_fp$i")), "left")
        .filter(!(coalesce(col(hit), lit(false)) && coalesce(col(att), lit(false))))
        .drop(hit, att, s"__eq_att_fp$i")
    }
    if (fpCol.isDefined) out else out.drop(fp)
  }

  /** Checkpoint cadence: a full manifest is forced once a delta chain
    * reaches this depth, bounding file-set reconstruction to
    * O(MaxDeltaChain) manifest reads for any snapshot (Delta Lake's
    * checkpoint-every-N-commits policy). Amortized manifest bytes per
    * commit stay O(delta + files/MaxDeltaChain).
    */
  private[table] val MaxDeltaChain = 16

  /** String min/max longer than this (UTF-8 bytes) are dropped from the
    * manifest rather than recorded — see [[decodeFooterMinMax]].
    */
  private[table] val MaxStringStatBytes = 64

  /** Commits at or below this many files read parquet footers on the
    * DRIVER, over [[boundedMap]]'s pool, instead of launching a Spark job:
    * a footer is one small metadata read, while the executor job took
    * 157 ms and 8 tasks for the 18 files of the bulk_load benchmark's
    * commit (traced, 4-core host). 64 files are four rounds of the pool.
    * Large commits (the 100-TB shape) fan out to executors unchanged.
    */
  private[table] val DriverFooterMax = 64

  /** Threads of the pool [[boundedMap]] fans metadata IO out over. */
  private val MetadataPoolMax = 16

  /** `xs.map(f)`, in order, for per-file metadata round trips (footers,
    * checkpoint shards): up to `serialMax` items run on the caller's
    * thread; more fan out over a pool of at most [[MetadataPoolMax]]
    * threads that lives for this call. A failure rethrows its own cause.
    */
  private[table] def boundedMap[A, B](xs: Seq[A], serialMax: Int)(f: A => B): Seq[B] =
    if (xs.sizeIs <= serialMax) xs.map(f)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(math.min(MetadataPoolMax, xs.size))
      try xs.map { x =>
        val c: java.util.concurrent.Callable[B] = () => f(x)
        pool.submit(c)
      }.map { fut =>
        try fut.get() catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
      }
      finally pool.shutdown()
    }

  /** One file's footer → (rows, min/max per stats column, null counts).
    * Shared verbatim by the driver fast path and the executor fan-out —
    * lives on the OBJECT so the executor closure captures only its
    * arguments, never an Icebox instance.
    */
  private[table] def footerMetaOne(conf: org.apache.spark.util.SerializableConfiguration,
      colsV: Vector[String], colTypes: Map[String, DataType])(p: String)
      : (String, (Long, Map[String, (String, String)], Map[String, Long])) = {
    val footer = Using.resource(org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(p), conf.value)))(_.getFooter)
    val blocks = footer.getBlocks.asScala.toSeq
    val rows = blocks.map(_.getRowCount).sum
    val st = colsV.flatMap { c =>
      val chunks = blocks.flatMap(_.getColumns.asScala.find(_.getPath.toDotString.equalsIgnoreCase(c)))
      val ss = chunks.map(_.getStatistics)
      if (chunks.size != blocks.size || ss.exists(s => s == null || s.isEmpty)) None
      else {
        val nonNull = ss.filter(_.hasNonNullValue)
        if (nonNull.isEmpty) None
        else Icebox.decodeFooterMinMax(colTypes(c), nonNull).map(c -> _)
      }
    }.toMap
    // EXACT per-column null counts — same footer pass, no extra IO. Only
    // recorded when every block's chunk carries the count (a single
    // unset chunk would understate); the CBO bridge folds these into
    // ColumnStat.nullCount with the same all-files-covered refusal rule.
    val nc = colsV.flatMap { c =>
      val chunks = blocks.flatMap(_.getColumns.asScala.find(_.getPath.toDotString.equalsIgnoreCase(c)))
      val ss = chunks.map(_.getStatistics)
      if (chunks.size != blocks.size || ss.exists(s => s == null || !s.isNumNullsSet)) None
      else Some(c -> ss.map(_.getNumNulls).sum)
    }.toMap
    p -> (rows, st, nc)
  }

  /** Above this many live files a full checkpoint is written SHARDED
    * (content-addressed per-partition shard files) instead of inline —
    * see [[Icebox.Manifest.shards]]. Overridable per table via the
    * `checkpoint.shard.threshold` property.
    */
  private[table] val DefaultShardThreshold = 512

  /** Cap on shard count per checkpoint: more partitions than this and
    * shards group several partitions each (hash of the partition
    * rendering), trading prune precision for bounded metadata fan-out.
    * Overridable via `checkpoint.max.shards`.
    */
  private[table] val DefaultMaxShards = 4096

  /** One shard of a sharded full checkpoint: `sha` is the SHA-256 of the
    * shard file's bytes and doubles as its storage name
    * (`_snapshots/shards/<sha>.json`) — content addressing, so a
    * checkpoint whose partition didn't change since the previous
    * checkpoint re-REFERENCES the existing shard file instead of
    * rewriting it (Iceberg's manifest-reuse move: commit metadata IO is
    * O(touched partitions), not O(table)). `partition` is the shard's
    * single partition-value map when the shard covers exactly one
    * partition (enables shard-level pruning on cold reads); None for
    * hash-bucketed shards (loaded conservatively).
    */
  private[table] final case class ShardRef(
      key: String, sha: String, fileCount: Long, totalBytes: Long,
      partition: Option[Map[String, String]])

  /** On-disk manifest form of one snapshot: a FULL file listing (`full`
    * defined), a SHARDED full listing (`shards` non-empty — file entries
    * live in content-addressed side files), or a DELTA against the parent
    * (`added` + `removedPaths`). `fileCount`/`totalBytes` describe the
    * RESOLVED state either way, so listings never reconstruct.
    */
  private[table] final case class Manifest(
      id: Long, parentId: Long, timestampMs: Long, operation: String, schemaJson: String,
      fileCount: Long, totalBytes: Long, deltaDepth: Int,
      full: Option[Seq[DataFile]], added: Seq[DataFile], removedPaths: Seq[String],
      shards: Seq[ShardRef] = Nil)

  import org.apache.spark.sql.types._

  /** Z-order clustering key over numeric and string columns: each column is
    * mapped to a quantile bucket (boundaries baked into the plan as
    * literals — no global sort, no extra shuffle), and the bucket bits are
    * interleaved so every column gets ~equal file locality.
    * Codegen-friendly: the per-row work is a chain of literal comparisons +
    * bit ops, no HOFs.
    *
    * Numeric boundaries come from ONE `percentile_approx` sketch aggregate
    * over all numeric columns. String boundaries come from a per-column
    * uniform random sample taken with `orderBy(rand).limit(k)` —
    * TakeOrdered keeps the k smallest random keys per partition and merges
    * on the driver (the same sampling shape Spark's RangePartitioner uses),
    * so it stays one narrow pass at any scale; boundaries are then the
    * sorted sample's quantiles. String comparison in both Spark and parquet
    * footer stats is unsigned-byte UTF8 order, so bucket boundaries,
    * min/max manifests, and read-side predicates all agree.
    */
  private[table] def zOrderKey(df: org.apache.spark.sql.DataFrame, cols: Seq[String],
      targetFiles: Int = 64): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    val ncols = cols.size
    // Resolution scales with the FILE count, not the row count: z-cells only
    // need to outnumber output files by a small factor for file-level
    // min/max locality, and the bucket expression (a literal comparison
    // chain) is codegen'd — oversizing it just inflates one-time Janino
    // compile latency. 4x target files in cells, clamped to [2,8] bits/col.
    val cellBits = 64 - java.lang.Long.numberOfLeadingZeros(math.max(2, targetFiles).toLong * 4 - 1)
    val bits = math.min(8, math.max(2, math.ceil(cellBits.toDouble / ncols).toInt))
    val nb = (1 << bits) - 1
    val probs = (1 to nb).map(_.toDouble / (nb + 1)).toArray
    def fieldType(c: String) = df.schema.fields.find(_.name.equalsIgnoreCase(c)).map(_.dataType)
    val numericCols = cols.filter(c =>
      fieldType(c).exists(_.isInstanceOf[org.apache.spark.sql.types.NumericType]))
    // accuracy 1000 ≈ ±0.1% boundary error — invisible at 2^bits ≤ 32
    // buckets, and the sketch is ~4x cheaper to update than the default
    val numBoundaries: Map[String, Seq[Double]] =
      if (numericCols.isEmpty) Map.empty
      else {
        val aggs = numericCols.map(c =>
          percentile_approx(col(c).cast("double"), lit(probs), lit(1000)).as(s"__q_$c"))
        val row = df.agg(aggs.head, aggs.tail: _*).head()
        numericCols.zipWithIndex.map { case (c, i) =>
          c -> Option(row.getSeq[Double](i)).getOrElse(Seq.empty)
        }.toMap
      }
    def stringBoundaries(c: String): Seq[String] = {
      val k = math.max(nb * 64, 1024)
      val base = df.select(col(c)).where(col(c).isNotNull)
      // Poisson-sample first (scans but never sorts/ranks the corpus — no
      // per-row rand + TakeOrdered heap over 100 TB); the rank-k fallback
      // only runs on tables small enough that the sample came back thin,
      // where it costs nothing. Boundaries feed z-order bucketing, so
      // approximate sampling changes layout quality, never results.
      val sampled = base.sample(withReplacement = false, 0.05, 42).limit(k).collect()
      val rows = if (sampled.length >= math.min(k, 256)) sampled
                 else base.orderBy(rand(42)).limit(k).collect()
      val sample = rows.map(_.getString(0)).sorted
      if (sample.isEmpty) Nil
      else (1 to nb).map(i => sample(((sample.length - 1).toLong * i / (nb + 1)).toInt)).distinct
    }
    val buckets = cols.map { c =>
      fieldType(c) match {
        case Some(_: org.apache.spark.sql.types.NumericType) =>
          val bs = numBoundaries(c)
          if (bs.isEmpty) lit(0L) // all-null column: single bucket
          else bs.map(b => when(col(c).cast("double") > lit(b), 1L).otherwise(0L)).reduce(_ + _)
        case Some(org.apache.spark.sql.types.StringType) =>
          val bs = stringBoundaries(c)
          if (bs.isEmpty) lit(0L)
          else bs.map(b => when(col(c) > lit(b), 1L).otherwise(0L)).reduce(_ + _)
        case _ => lit(0L) // unsupported type contributes no locality bits
      }
    }
    (for (j <- 0 until bits; i <- 0 until ncols) yield
      shiftleft(shiftright(buckets(i), j).bitwiseAND(1L), j * ncols + i)
    ).reduce(_ bitwiseOR _)
  }

  /** Types whose parquet footer statistics decode to the exact same string
    * the data-scan path produces (so manifests stay byte-identical either
    * way). Decimals/timestamps/nested types take the scan fallback.
    */
  private[table] def footerDecodable(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType |
         BooleanType | DateType | StringType => true
    case _ => false
  }

  /** Fold row-group statistics into one (min, max) string pair, honoring
    * each type's order: integral/floating numerically, strings in UTF8
    * BINARY order (parquet's UTF8 comparator and Spark's string min/max
    * agree on unsigned byte order — java.lang.String order does not).
    */
  private[table] def decodeFooterMinMax(dt: DataType,
      ss: Seq[org.apache.parquet.column.statistics.Statistics[_]]): Option[(String, String)] = {
    def longs = (ss.map(_.genericGetMin.asInstanceOf[Number].longValue).min,
                 ss.map(_.genericGetMax.asInstanceOf[Number].longValue).max)
    dt match {
      case ByteType | ShortType | IntegerType | LongType =>
        val (mn, mx) = longs; Some((mn.toString, mx.toString))
      case FloatType =>
        Some((ss.map(_.genericGetMin.asInstanceOf[java.lang.Float].floatValue).min.toString,
              ss.map(_.genericGetMax.asInstanceOf[java.lang.Float].floatValue).max.toString))
      case DoubleType =>
        Some((ss.map(_.genericGetMin.asInstanceOf[java.lang.Double].doubleValue).min.toString,
              ss.map(_.genericGetMax.asInstanceOf[java.lang.Double].doubleValue).max.toString))
      case BooleanType =>
        Some((ss.map(_.genericGetMin.asInstanceOf[java.lang.Boolean].booleanValue).min.toString,
              ss.map(_.genericGetMax.asInstanceOf[java.lang.Boolean].booleanValue).max.toString))
      case DateType =>
        val (mn, mx) = longs
        Some((java.time.LocalDate.ofEpochDay(mn).toString, java.time.LocalDate.ofEpochDay(mx).toString))
      case StringType =>
        val ord = java.util.Arrays.compareUnsigned(_: Array[Byte], _: Array[Byte])
        val mins = ss.map(_.genericGetMin.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes)
        val maxs = ss.map(_.genericGetMax.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes)
        val mn = mins.reduce((a, b) => if (ord(a, b) <= 0) a else b)
        val mx = maxs.reduce((a, b) => if (ord(a, b) >= 0) a else b)
        // LONG strings (document bodies, payloads) are not recorded: with
        // stats now on by default, embedding two page-sized values per file
        // would bloat every manifest for a column nobody range-prunes on.
        // Absent stats keep the file (conservative), never mis-prune.
        // (Iceberg instead truncates to 16 chars; skipping is simpler and
        // avoids the truncated-upper-bound increment edge cases.)
        if (mn.length > MaxStringStatBytes || mx.length > MaxStringStatBytes) None
        else Some((new String(mn, StandardCharsets.UTF_8), new String(mx, StandardCharsets.UTF_8)))
      case _ => None
    }
  }

  def apply(tableDir: String): Icebox = new Icebox(tableDir)

  /** W8 analog: namespace = a directory of tables (any Hadoop-resolvable
    * warehouse URI).
    */
  def table(warehouseDir: String, namespace: String, name: String): Icebox = {
    val dir = new HPath(new HPath(warehouseDir, namespace), name)
    val t = new Icebox(
      if (dir.toUri.getScheme == null) dir.toUri.getPath else dir.toString)
    t.store.mkdirs(dir.getParent)
    t
  }

  /** Decode ONLY %XX escapes in a hive partition path segment — unlike
    * URLDecoder, '+' stays '+' (Spark's path escaping never encodes space as
    * '+'; matches ExternalCatalogUtils.unescapePathName semantics).
    */
  def unescapePathSegment(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length) {
        val hex = s.substring(i + 1, i + 3)
        try { sb.append(Integer.parseInt(hex, 16).toChar); i += 3 }
        catch { case _: NumberFormatException => sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }
}
