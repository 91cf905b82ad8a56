package graft

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import graft.cdc.{FileCdc, FileCheckpointStore}
import graft.table.Icebox

class FileCdcSpec extends SparkSpec {
  import spark.implicits._

  private def writePartFile(dir: String, dt: String, name: String, rows: Seq[(Long, String)]): String = {
    val pdir = Paths.get(dir, s"dt=$dt")
    Files.createDirectories(pdir)
    val tmp = Files.createTempDirectory("fcdc").toString
    rows.toDF("id", "v").coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmp)
    val part = Files.list(Paths.get(tmp)).iterator()
    var src: java.nio.file.Path = null
    while (part.hasNext) { val p = part.next(); if (p.toString.endsWith(".parquet")) src = p }
    val dst = pdir.resolve(name)
    Files.copy(src, dst, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    dst.toString
  }

  /** A parquet file at the source root, outside any `dt=` partition. */
  private def writeRootFile(dir: String, name: String, rows: Seq[(Long, String)]): String = {
    val staged = Paths.get(writePartFile(dir, "staging", name, rows))
    val dst = Paths.get(dir, name)
    Files.move(staged, dst, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    Files.delete(staged.getParent)
    dst.toString
  }

  private def setMtime(path: String, ms: Long): Unit =
    Files.setLastModifiedTime(Paths.get(path), FileTime.fromMillis(ms))

  test("extractPartition + groupByPartition mirror the reference path parsing") {
    FileCdc.extractPartition("/data/t/dt=2024-01-01/hour=10/f.orc", "dt") shouldBe Some("2024-01-01")
    FileCdc.extractPartition("/data/t/f.orc", "dt") shouldBe None
    FileCdc.groupByPartition(
      Seq("/t/dt=a/f1", "/t/dt=b/f2", "/t/f3"), "dt") shouldBe
      Map("a" -> Seq("/t/dt=a/f1"), "b" -> Seq("/t/dt=b/f2"), "default" -> Seq("/t/f3"))
  }

  test("checkpoint store round-trips the XCom-shaped record atomically") {
    val store = new FileCheckpointStore(tmpDir("ckpt") + "/cp.json")
    store.load() shouldBe None
    val cp = FileCdc.Checkpoint(123L, Seq("/a", "/b"), 2L,
      Map("2024-01-01" -> FileCdc.PartitionState(Seq("/a"), 120L)))
    store.save(cp)
    store.load() shouldBe Some(cp)
  }

  test("first cycle processes everything; unchanged second cycle is a no-op") {
    val src = tmpDir("cdc-src")
    writePartFile(src, "2024-01-01", "f1.parquet", Seq((1L, "a"), (2L, "b")))
    writePartFile(src, "2024-01-02", "f2.parquet", Seq((3L, "c")))
    val table = Icebox(tmpDir("cdc-table"))
    val store = new FileCheckpointStore(tmpDir("cdc-cp") + "/cp.json")

    val r1 = FileCdc.runCycle(spark, src, table, store)
    r1.changedFiles.size shouldBe 2
    r1.touchedPartitions shouldBe Seq("2024-01-01", "2024-01-02")
    table.read(spark).count() shouldBe 3

    val r2 = FileCdc.runCycle(spark, src, table, store)
    r2.changedFiles shouldBe empty
    table.read(spark).count() shouldBe 3
  }

  test("late data: a modified file re-detects ONLY its partition, which is reprocessed in full") {
    val src = tmpDir("cdc-src2")
    writePartFile(src, "2024-01-01", "f1.parquet", Seq((1L, "a"), (2L, "b")))
    writePartFile(src, "2024-01-02", "f2.parquet", Seq((3L, "c")))
    val table = Icebox(tmpDir("cdc-table2"))
    val store = new FileCheckpointStore(tmpDir("cdc-cp2") + "/cp.json")
    FileCdc.runCycle(spark, src, table, store)
    Thread.sleep(20)

    // rewrite f1 with new content (same partition), add a late file to it
    writePartFile(src, "2024-01-01", "f1.parquet", Seq((1L, "a2"), (2L, "b2")))
    writePartFile(src, "2024-01-01", "f3.parquet", Seq((9L, "late")))
    val r = FileCdc.runCycle(spark, src, table, store)
    r.touchedPartitions shouldBe Seq("2024-01-01")   // 01-02 untouched
    val back = table.read(spark)
    back.count() shouldBe 4
    back.filter($"id" === 1L).select("v").as[String].collect() shouldBe Array("a2") // no dup rows
    back.filter($"dt" === "2024-01-02").count() shouldBe 1
  }

  test("size method detects a rewritten file of different size, ignores same state") {
    val src = tmpDir("cdc-src3")
    writePartFile(src, "2024-01-01", "f1.parquet", Seq((1L, "a")))
    val table = Icebox(tmpDir("cdc-table3"))
    val store = new FileCheckpointStore(tmpDir("cdc-cp3") + "/cp.json")
    FileCdc.runCycle(spark, src, table, store, method = "size")
    FileCdc.runCycle(spark, src, table, store, method = "size").changedFiles shouldBe empty
    writePartFile(src, "2024-01-01", "f1.parquet", Seq((1L, "a-much-longer-value-now"), (5L, "x")))
    val r = FileCdc.runCycle(spark, src, table, store, method = "size")
    r.changedFiles.size shouldBe 1
    table.read(spark).count() shouldBe 2
  }

  test("size method: multi-cycle disjoint changes never re-detect earlier files (partitioned)") {
    val src = tmpDir("cdc-src5")
    writePartFile(src, "2024-01-01", "f1.parquet", Seq((1L, "a")))
    val table = Icebox(tmpDir("cdc-table5"))
    val store = new FileCheckpointStore(tmpDir("cdc-cp5") + "/cp.json")
    FileCdc.runCycle(spark, src, table, store, method = "size")
    // cycle 2 touches the same partition with a late file only
    writePartFile(src, "2024-01-01", "f2.parquet", Seq((2L, "late")))
    FileCdc.runCycle(spark, src, table, store, method = "size")
      .changedFiles.size shouldBe 1
    // cycle 3 must be a no-op: f1 was NOT changed in cycle 2, but the
    // reprocessed partition must still remember it (replace-not-merge
    // folding re-detected it forever)
    FileCdc.runCycle(spark, src, table, store, method = "size")
      .changedFiles shouldBe empty
    table.read(spark).count() shouldBe 2
    store.load().get.totalFilesProcessed shouldBe 2L // accumulated, not reset
  }

  test("size method: multi-cycle disjoint changes never re-append earlier files (unpartitioned)") {
    val src = tmpDir("cdc-src6")
    def writeFlat(name: String, rows: Seq[(Long, String)]): Unit = {
      val f = writePartFile(src, "tmp", name, rows)
      Files.move(Paths.get(f), Paths.get(src, name),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    writeFlat("f1.parquet", Seq((1L, "a")))
    Files.walk(Paths.get(src, "dt=tmp")).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => Files.deleteIfExists(p))
    val table = Icebox(tmpDir("cdc-table6"))
    val store = new FileCheckpointStore(tmpDir("cdc-cp6") + "/cp.json")
    FileCdc.runCycle(spark, src, table, store, method = "size")
    table.read(spark).count() shouldBe 1
    writeFlat("f2.parquet", Seq((2L, "b")))
    Files.walk(Paths.get(src, "dt=tmp")).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => Files.deleteIfExists(p))
    FileCdc.runCycle(spark, src, table, store, method = "size")
      .changedFiles.size shouldBe 1
    // f1 must not be appended again (silent row duplication pre-fix)
    FileCdc.runCycle(spark, src, table, store, method = "size")
      .changedFiles shouldBe empty
    table.read(spark).count() shouldBe 2
  }

  test("file utils: exists / stat / read bytes (S6-S8)") {
    val src = tmpDir("cdc-src4")
    val f = writePartFile(src, "2024-01-01", "f1.parquet", Seq((1L, "a")))
    FileCdc.fileExists(f) shouldBe true
    FileCdc.fileExists(f + ".nope") shouldBe false
    val info = FileCdc.fileInfo(f)
    info.sizeBytes should be > 0L
    FileCdc.readFileBytes(f).length.toLong shouldBe info.sizeBytes
    FileCdc.listFiles(src).map(_.path) should contain(f)
  }

  test("a partitioned initial load runs one Spark job and reports exactly its source rows") {
    val src = tmpDir("cdc-jobs-src") + "/orc"
    val n = 3000L
    (1L to n).map(i => (i, s"v$i", s"d${i % 3}")).toDF("id", "v", "dt")
      .repartition(2).write.partitionBy("dt").orc(src)
    val table = Icebox(tmpDir("cdc-jobs-table"))
    val store = new FileCheckpointStore(tmpDir("cdc-jobs-cp") + "/cp.json")
    var r: FileCdc.CycleResult = null
    // the write alone: no count scan (two more jobs under AQE), and the
    // footers of its 6 files are read on the driver
    jobs { r = FileCdc.runCycle(spark, src, table, store, "dt", "mtime", "orc", ".orc") } shouldBe 1
    r.touchedPartitions shouldBe Seq("d0", "d1", "d2")
    r.rowsWritten shouldBe n
    table.rowCount shouldBe Some(n)
  }

  test("rowsWritten is exactly the rows read: unpartitioned, mixed-generation and range-distributed") {
    val flat = tmpDir("cdc-rows-flat")
    writeRootFile(flat, "f1.parquet", Seq((1L, "a"), (2L, "b")))
    val t1 = Icebox(tmpDir("cdc-rows-t1"))
    val s1 = new FileCheckpointStore(tmpDir("cdc-rows-cp1") + "/cp.json")
    FileCdc.runCycle(spark, flat, t1, s1, method = "size").rowsWritten shouldBe 2L // first overwrite
    writeRootFile(flat, "f2.parquet", Seq((3L, "c"), (4L, "d"), (5L, "e")))
    FileCdc.runCycle(spark, flat, t1, s1, method = "size").rowsWritten shouldBe 3L // append
    t1.read(spark).count() shouldBe 5L

    // an unpartitioned table loaded from a partitioned source: its file is
    // of another generation, so the rows it holds outside the partitions
    // being replaced are carried into the new layout in the same write —
    // and are not the source's rows
    val t2 = Icebox(tmpDir("cdc-rows-t2"))
    t2.overwrite(Seq((7L, "x", "c"), (8L, "y", "a")).toDF("id", "v", "dt"))
    val src = tmpDir("cdc-rows-src")
    writePartFile(src, "a", "f1.parquet", Seq((1L, "a"), (2L, "b")))
    writePartFile(src, "b", "f2.parquet", Seq((3L, "c")))
    val s2 = new FileCheckpointStore(tmpDir("cdc-rows-cp2") + "/cp.json")
    FileCdc.runCycle(spark, src, t2, s2).rowsWritten shouldBe 3L
    canon(t2.read(spark)) shouldBe canon(
      Seq((1L, "a", "a"), (2L, "b", "a"), (3L, "c", "b"), (7L, "x", "c")).toDF("id", "v", "dt"))

    // a range-distributed write samples its input in a job of its own;
    // the sample's rows are not written
    val t3 = Icebox(tmpDir("cdc-rows-t3"))
    t3.setProperties(Map("write.distribution-mode" -> "range"))
    val s3 = new FileCheckpointStore(tmpDir("cdc-rows-cp3") + "/cp.json")
    FileCdc.runCycle(spark, src, t3, s3).rowsWritten shouldBe 3L
  }

  test("mtime: a file whose mtime falls between a cycle's listing and its save loads next cycle") {
    val src = tmpDir("cdc-win")
    writePartFile(src, "2024-01-01", "f1.parquet", Seq((1L, "a")))
    val table = Icebox(tmpDir("cdc-win-table"))
    val store = new FileCheckpointStore(tmpDir("cdc-win-cp") + "/cp.json")
    FileCdc.runCycle(spark, src, table, store)
    // the commit is stamped after the cycle listed and before it saved
    val f2 = writePartFile(src, "2024-01-01", "f2.parquet", Seq((2L, "b"), (3L, "c")))
    setMtime(f2, table.currentSnapshot.get.timestampMs)
    val r = FileCdc.runCycle(spark, src, table, store)
    r.changedFiles shouldBe Seq(f2)
    r.rowsWritten shouldBe 3L // the partition, re-read in full
    table.read(spark).count() shouldBe 3L
  }

  test("mtime, unpartitioned: a file in the save window loads once; a newer one waits, then loads once") {
    val src = tmpDir("cdc-win2")
    writeRootFile(src, "f1.parquet", Seq((1L, "a")))
    val table = Icebox(tmpDir("cdc-win2-table"))
    val store = new FileCheckpointStore(tmpDir("cdc-win2-cp") + "/cp.json")
    FileCdc.runCycle(spark, src, table, store).rowsWritten shouldBe 1L
    val f2 = writeRootFile(src, "f2.parquet", Seq((2L, "b")))
    setMtime(f2, table.currentSnapshot.get.timestampMs)
    // newer than any watermark taken in the next ~1.5 s
    val f3 = writeRootFile(src, "f3.parquet", Seq((3L, "c"), (4L, "d")))
    val future = System.currentTimeMillis() + 1500
    setMtime(f3, future)
    val r2 = FileCdc.runCycle(spark, src, table, store)
    r2.changedFiles shouldBe Seq(f2)
    r2.rowsWritten shouldBe 1L
    Thread.sleep(math.max(0L, future - System.currentTimeMillis()) + 20)
    val r3 = FileCdc.runCycle(spark, src, table, store)
    r3.changedFiles shouldBe Seq(f3)
    r3.rowsWritten shouldBe 2L
    FileCdc.runCycle(spark, src, table, store).changedFiles shouldBe empty
    table.read(spark).count() shouldBe 4L
  }

  test("a cycle mixing dt= partition files with root files fails before it writes or checkpoints") {
    val src = tmpDir("cdc-mixed")
    writePartFile(src, "2024-01-01", "f1.parquet", Seq((1L, "a")))
    writeRootFile(src, "f0.parquet", Seq((2L, "b")))
    val table = Icebox(tmpDir("cdc-mixed-table"))
    val store = new FileCheckpointStore(tmpDir("cdc-mixed-cp") + "/cp.json")
    an[IllegalArgumentException] should be thrownBy FileCdc.runCycle(spark, src, table, store)
    table.exists shouldBe false
    store.load() shouldBe None
  }

  test("hash method reads each listed file once per cycle") {
    // bytes this thread read through Hadoop's local filesystem
    def bytesRead(): Long = FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getThreadStatistics.getBytesRead).sum
    val a = tmpDir("cdc-hash-a")
    (0 until 3).foreach(d => writePartFile(a, s"2024-01-0${d + 1}", "f.parquet",
      (1L to 4000L).map(i => (i, s"row-$d-$i-${i * 7919 % 10007}"))))
    val b = tmpDir("cdc-hash-b")
    val listed = FileCdc.listFiles(a)
    listed.foreach { f =>
      val dst = Paths.get(b, Paths.get(a).relativize(Paths.get(f.path)).toString)
      Files.createDirectories(dst.getParent)
      Files.copy(Paths.get(f.path), dst)
    }
    val r0 = bytesRead()
    listed.foreach(f => FileCdc.readFileBytes(f.path))
    val once = bytesRead() - r0
    once should be >= listed.map(_.sizeBytes).sum
    // the same cycle by size (no hashing) and by hash: the difference is
    // the hashing's reads
    def cycleBytes(src: String, method: String): Long = {
      val store = new FileCheckpointStore(tmpDir(s"cdc-hash-cp-$method") + "/cp.json")
      val before = bytesRead()
      FileCdc.runCycle(spark, src, Icebox(tmpDir(s"cdc-hash-t-$method")), store, method = method)
        .changedFiles.size shouldBe 3
      bytesRead() - before
    }
    val hashing = cycleBytes(b, "hash") - cycleBytes(a, "size")
    hashing.toDouble shouldBe once.toDouble +- (once * 0.25)
  }

  test("listFiles lists what Hadoop's recursive listFiles does: nested dirs, _ and . names") {
    val root = tmpDir("cdc-list")
    val names = Seq("dt=a/hour=1/f1.parquet", "dt=a/hour=2/f2.parquet", "dt=b/f3.parquet",
      "f4.parquet", "_temporary/0/f5.parquet", ".staging/f6.parquet", "dt=a/_f7.parquet",
      "dt=a/.f8.parquet", "dt=b/notes.txt", "dt=b/f9.parquet.tmp")
    names.zipWithIndex.foreach { case (n, i) =>
      val p = Paths.get(root, n)
      Files.createDirectories(p.getParent)
      Files.write(p, Array.fill[Byte](10 + i)(1))
      setMtime(p.toString, 1700000000000L + i * 1000L)
    }
    Files.createDirectories(Paths.get(root, "dt=c"))
    // the listing as Hadoop's recursive listFiles gives it
    val it = new HPath(root).getFileSystem(new Configuration()).listFiles(new HPath(root), true)
    val hadoop = Seq.newBuilder[FileCdc.FileInfo]
    while (it.hasNext) {
      val st = it.next()
      val n = st.getPath.getName
      if (st.isFile && n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith("."))
        hadoop += FileCdc.FileInfo(st.getPath.toUri.getPath, st.getLen, st.getModificationTime, None)
    }
    val listed = FileCdc.listFiles(root)
    listed shouldBe hadoop.result().sortBy(_.path)
    listed.map(_.path.stripPrefix(root + "/")) shouldBe Seq(".staging/f6.parquet",
      "_temporary/0/f5.parquet", "dt=a/hour=1/f1.parquet", "dt=a/hour=2/f2.parquet",
      "dt=b/f3.parquet", "f4.parquet")
    listed.map(_.sizeBytes) shouldBe Seq(15L, 14L, 10L, 11L, 12L, 13L)
  }
}
