package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.table.{Icebox, KeyDigest}

class KeyDigestSpec extends SparkSpec {
  import spark.implicits._

  /** A table of one data file per frame of `frames` (stats on `k`
    * forced), and its data file paths in `frames` order.
    */
  private def table(name: String, frames: Seq[DataFrame]): (Icebox, Seq[String]) = {
    val t = Icebox(tmpDir(s"kd-$name"))
    val paths = frames.map { df =>
      val before = t.currentSnapshot.map(_.files.map(_.path).toSet).getOrElse(Set.empty)
      t.append(df.coalesce(1), collectStats = Seq("k"))
      t.currentSnapshot.get.files.map(_.path).filterNot(before) match {
        case Seq(p) => p
        case ps => fail(s"expected one new data file, got $ps")
      }
    }
    (t, paths)
  }

  /** Per file (in `paths` order), the digest's verdict equals the
    * bounds-aggregate verdict (the path a batch over the cap takes), and a
    * file called disjoint really holds none of the keys.
    */
  private def sameVerdicts(table: (Icebox, Seq[String]), keys: DataFrame): Seq[Boolean] = {
    val (t, paths) = table
    val files = t.currentSnapshot.get.files
    val ordered = paths.map(p => files.find(_.path == p).get)
    val digest = t.keyDigest(keys)
    digest.entries shouldBe defined
    val overCap = KeyDigest(keys, 0)
    overCap.entries shouldBe None
    val viaDigest = ordered.map(t.keyDisjoint(files, digest))
    ordered.map(t.keyDisjoint(files, overCap)) shouldBe viaDigest
    ordered.zip(viaDigest).foreach { case (f, disjoint) =>
      if (disjoint) spark.read.parquet(f.path).join(keys, Seq("k")).count() shouldBe 0L
    }
    viaDigest
  }

  test("long keys with negative values: digest and aggregate agree per file") {
    val t = table("long", Seq(
      (-100L to -50L).toDF("k"), (-10L to 10L).toDF("k"), (50L to 100L).toDF("k")))
    sameVerdicts(t, Seq(-75L, -60L).toDF("k")) shouldBe Seq(false, true, true)
    sameVerdicts(t, Seq(-5L, 5L, 7L).toDF("k")) shouldBe Seq(true, false, true)
    sameVerdicts(t, Seq(-200L, 200L).toDF("k")) shouldBe Seq(false, false, false)
    sameVerdicts(t, Seq[java.lang.Long](null, 60L).toDF("k")) shouldBe Seq(true, true, false)
  }

  test("double keys with NaN: NaN sorts greatest, so it never proves a file disjoint") {
    val t = table("double", Seq(
      Seq(-3.5, -1.0).toDF("k"), Seq(0.0, 2.5).toDF("k"), Seq(10.0, 20.0).toDF("k")))
    sameVerdicts(t, Seq(-2.0, -1.5).toDF("k")) shouldBe Seq(false, true, true)
    // NaN as the max bound keeps every file at or above the min
    sameVerdicts(t, Seq(1.0, Double.NaN).toDF("k")) shouldBe Seq(true, false, false)
    sameVerdicts(t, Seq(Double.NaN).toDF("k")) shouldBe Seq(false, false, false)
  }

  test("decimal keys: digest and aggregate agree per file") {
    def dec(xs: String*): DataFrame =
      xs.map(x => BigDecimal(x)).toDF("k").select(col("k").cast(DecimalType(12, 3)).as("k"))
    val t = table("decimal", Seq(dec("-12.500", "-1.250"), dec("0.001", "9.999"), dec("100.000")))
    sameVerdicts(t, dec("-2.000", "-1.500")) shouldBe Seq(false, true, true)
    sameVerdicts(t, dec("5.000", "100.000")) shouldBe Seq(true, false, false)
  }

  test("string keys compare in UTF8 order: digest and aggregate agree per file") {
    val t = table("string", Seq(
      Seq("apple", "banana").toDF("k"), Seq("cherry", "date").toDF("k"),
      Seq("éclair", "😀").toDF("k")))
    sameVerdicts(t, Seq("avocado").toDF("k")) shouldBe Seq(false, true, true)
    // 'z' sorts before every multi-byte character in UTF8 binary order
    sameVerdicts(t, Seq("zebra").toDF("k")) shouldBe Seq(true, true, true)
    sameVerdicts(t, Seq("ö").toDF("k")) shouldBe Seq(true, true, false)
  }

  test("the digest counts tuples, keeps NULL tuples and reports non-null duplicates") {
    val keys = Seq[(java.lang.Long, String)]((1L, "a"), (1L, "a"), (2L, "b"), (null, "c"),
      (null, "c")).toDF("k", "s")
    val d = KeyDigest(keys, 10)
    d.entries.get.map(e => (Option(e.tuple.get(0)), e.tuple.getString(1), e.count))
      .sortBy(_._2) shouldBe Seq((Some(1L), "a", 2L), (Some(2L), "b", 1L), (None, "c", 2L))
    d.duplicates.get.map(_.getLong(0)) shouldBe Seq(1L)
    // hashes are Spark's own xxhash64 of each non-null value
    d.hashes.get.head.toSet shouldBe
      keys.where(col("k").isNotNull).select(xxhash64(col("k"))).as[Long].collect().toSet
    // three distinct tuples: over a cap of 2, only bounds remain
    KeyDigest(keys, 2).entries shouldBe None
    KeyDigest(keys, 2).duplicates shouldBe None
    KeyDigest(keys, 2).bounds._1 shouldBe Map(0 -> (1.0, 2.0))
  }

  test("a bounds-only digest runs no action and knows only its bounds") {
    val dups = Seq(1L, 1L, 2L, 3L).toDF("k")
    val b = KeyDigest.boundsOnly(dups)
    (b.entries, b.duplicates, b.hashes, b.filter(Seq("k"))) shouldBe ((None, None, None, None))
    b.bounds._1 shouldBe Map(0 -> (1.0, 3.0))
  }

  test("the key filter stops at FilterMaxKeys tuples") {
    val n = KeyDigest.FilterMaxKeys
    KeyDigest(spark.range(n).toDF("k"), n + 10).filter(Seq("k")) shouldBe defined
    val over = KeyDigest(spark.range(n + 1).toDF("k"), n + 10)
    over.entries.map(_.size) shouldBe Some(n + 1)
    over.filter(Seq("k")) shouldBe None
  }

  test("the key filter keeps exactly the batch's values, NULL only when the batch holds one") {
    val df = Seq[(java.lang.Long, Double)]((1L, 0.0), (2L, -0.0), (3L, 1.0), (null, 2.0))
      .toDF("k", "d")
    val f = KeyDigest(Seq[java.lang.Long](1L, 3L).toDF("k"), 10).filter(Seq("k")).get
    df.filter(f).select("k").as[Long].collect().sorted shouldBe Array(1L, 3L)
    val withNull = KeyDigest(Seq[java.lang.Long](2L, null).toDF("k"), 10).filter(Seq("k")).get
    df.filter(withNull).count() shouldBe 2L
    // Spark's equality treats -0.0 as 0.0; so does the filter
    val zero = KeyDigest(Seq(0.0).toDF("d"), 10).filter(Seq("d")).get
    df.filter(zero).count() shouldBe 2L
    KeyDigest(Seq(0L).toDF("k").limit(0), 10).filter(Seq("k")).map(df.filter(_).count()) shouldBe
      Some(0L)
  }

  test("readForKeys on a bloom-indexed key filters the scan to the batch's keys, below the delete joins") {
    val t = Icebox(tmpDir("kd-read"))
    t.setProperties(Map("manifest.bloom.columns" -> "k"))
    t.overwrite((1L to 1000L).map(i => (i, s"v$i")).toDF("k", "v"))
    t.deleteByKeys(Seq(5L, 6L).toDF("k"))
    val keys = Seq(5L, 7L, 2000L).toDF("k")
    val got = t.readForKeys(spark, keys)
    got.as[(Long, String)].collect().toSeq shouldBe Seq((7L, "v7")) // 5 deleted, 2000 absent
    // the key filter sits on the scan, under the equality-delete joins
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join}
    val topJoin = got.queryExecution.optimizedPlan.collectFirst { case j: Join => j }
    topJoin shouldBe defined
    topJoin.get.left.collect { case f: Filter => f }
      .exists(_.condition.sql.contains("IN")) shouldBe true
    def hasKeyFilter(df: DataFrame): Boolean =
      df.queryExecution.optimizedPlan.collect { case f: Filter => f }
        .exists(_.condition.sql.contains("IN"))
    // over the cap no filter is added, and rows stay exact
    t.setProperties(Map("bloom.attach.max-keys" -> "2"))
    hasKeyFilter(t.readForKeys(spark, keys)) shouldBe false
    t.readForKeys(spark, keys).join(keys, Seq("k")).as[(Long, String)].collect().toSeq shouldBe
      Seq((7L, "v7"))
    // without a bloom-indexed key column the keys are not digested: no
    // filter, exact rows
    val plain = Icebox(tmpDir("kd-read-plain"))
    plain.overwrite((1L to 1000L).map(i => (i, s"v$i")).toDF("k", "v"))
    hasKeyFilter(plain.readForKeys(spark, keys)) shouldBe false
    plain.readForKeys(spark, keys).join(keys, Seq("k")).count() shouldBe 2L
  }
}
