package graft

import graft.sql.MergeSql
import graft.table.Icebox

/** Spark job counts of the merge-on-read MERGE path, pinned: the key
  * digest, the exact key filter and the single target pass exist to cut
  * the jobs a small CDC MERGE schedules, so a change that adds one back
  * shows here.
  */
class MergeJobsSpec extends SparkSpec {
  import spark.implicits._

  private def morTable(name: String): Icebox = {
    val t = Icebox(tmpDir(s"mergejobs-$name"))
    t.setProperties(Map("write.merge.mode" -> "merge-on-read",
      "manifest.bloom.columns" -> "id"))
    t.overwrite((1L to 200L).map(i => (i, s"n$i", i * 1.5)).toDF("id", "name", "amount"))
    MergeSql.register(name, t)
    t
  }

  private def mergeSql(target: String, src: String): String =
    s"""MERGE INTO $target t USING $src s ON t.id = s.id
       |WHEN MATCHED AND s.name = 'del' THEN DELETE
       |WHEN MATCHED THEN UPDATE SET *
       |WHEN NOT MATCHED THEN INSERT *""".stripMargin

  test("a small merge-on-read MERGE runs a pinned number of Spark jobs") {
    val t = morTable("t_jobs")
    Seq((2L, "B", 2.0), (3L, "del", 0.0), (500L, "new", 5.0)).toDF("id", "name", "amount")
      .createOrReplaceTempView("src_jobs")
    val n = jobs(MergeSql.merge(spark, mergeSql("t_jobs", "src_jobs")))
    t.read(spark).count() shouldBe 200L
    // the key digest, the delete-file write, the data write and its
    // manifest-bloom build; no key-bounds, hash, duplicate-key, dedupe or
    // schema-inference job, and no second target pass
    n shouldBe 8
  }

  // A read or delete handed bare keys digests them only when a key column
  // is bloom-indexed, where the digest stands in for the hash probes;
  // otherwise it runs the bounds aggregate alone, as it always has.
  private def plainTable(name: String): Icebox = {
    val t = Icebox(tmpDir(s"mergejobs-$name"))
    t.overwrite((1L to 200L).map(i => (i, java.sql.Date.valueOf("2024-01-01").toLocalDate
      .plusDays(i).toString, s"n$i")).toDF("id", "day", "name")
      .selectExpr("id", "CAST(day AS DATE) AS day", "name"))
    t
  }

  test("readForKeys over keys with no bounds and no blooms runs no job") {
    val t = plainTable("read_date")
    val keys = Seq("2024-01-05").toDF("day").selectExpr("CAST(day AS DATE) AS day")
    var df: org.apache.spark.sql.DataFrame = null
    jobs { df = t.readForKeys(spark, keys) } shouldBe 0
    df.join(keys, "day").count() shouldBe 1L
  }

  test("readForKeys and deleteByKeys over numeric keys with no blooms run only the bounds aggregate") {
    val t = plainTable("read_long")
    val keys = Seq(5L, 7L).toDF("id")
    // the bounds aggregate (its shuffle stage and its result); the delete
    // adds the distributed dedupe-and-write of the delete file
    (jobs(t.readForKeys(spark, keys)), jobs(t.deleteByKeys(keys))) shouldBe ((2, 4))
    t.read(spark).count() shouldBe 198L
  }

  test("readForKeys over a bloom-indexed key runs one digest in place of the probes") {
    val t = morTable("t_jobs_bloom")
    // one digest (its shuffle stage and its result), no separate bounds
    // aggregate or hash probe
    jobs(t.readForKeys(spark, Seq(5L, 7L).toDF("id"))) shouldBe 2
  }

  test("the first read after a MERGE re-reads no delete file") {
    val t = morTable("t_jobs_read")
    Seq((5L, "E", 1.0), (6L, "F", 1.0)).toDF("id", "name", "amount")
      .createOrReplaceTempView("src_jobs_read")
    MergeSql.merge(spark, mergeSql("t_jobs_read", "src_jobs_read"))
    val dir = t.currentSnapshot.get.files.flatMap(_.eqDeletes).distinct match {
      case Seq(d) => d
      case ds => fail(s"expected one delete dir, got $ds")
    }
    var cached: org.apache.spark.sql.DataFrame = null
    var keys: Seq[Long] = Nil
    jobs {
      cached = Icebox.eqDeleteKeys(spark, dir)
      keys = cached.collect().map(_.getLong(0)).toSeq.sorted
    } shouldBe 0
    keys shouldBe Seq(5L, 6L)
    // the cache holds what a parquet read of the dir returns
    cached.schema shouldBe spark.read.parquet(dir).schema
  }
}
