package graft

import graft.sql.MergeSql
import graft.table.Icebox

class MergeSqlSpec extends SparkSpec {
  import spark.implicits._

  private def freshTarget(name: String): Icebox = {
    val t = Icebox(tmpDir(s"merge-$name"))
    t.overwrite(Seq(
      (1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0)
    ).toDF("id", "name", "amount"))
    MergeSql.register(name, t)
    t
  }

  test("conditional UPDATE / DELETE / INSERT clauses, first-match-wins") {
    val t = freshTarget("t_full")
    Seq((2L, "B", 200.0), (3L, "del", 0.0), (4L, "d", 40.0), (5L, "tiny", 1.0))
      .toDF("id", "name", "amount").createOrReplaceTempView("src_full")
    MergeSql.merge(spark,
      """MERGE INTO t_full t USING src_full s ON t.id = s.id
        |WHEN MATCHED AND s.name = 'del' THEN DELETE
        |WHEN MATCHED THEN UPDATE SET name = s.name, amount = s.amount + 1
        |WHEN NOT MATCHED AND s.amount > 10 THEN
        |  INSERT (id, name, amount) VALUES (s.id, s.name, s.amount)
        |""".stripMargin)
    val out = t.read(spark).as[(Long, String, Double)].collect().sortBy(_._1)
    out shouldBe Array(
      (1L, "a", 10.0),   // untouched
      (2L, "B", 201.0),  // updated (second clause)
      (4L, "d", 40.0))   // inserted; id=3 deleted, id=5 fails insert condition
  }

  test("UPDATE SET * and INSERT * map columns by name") {
    val t = freshTarget("t_star")
    Seq((3L, "C!", 300.0), (9L, "nine", 90.0))
      .toDF("id", "name", "amount").createOrReplaceTempView("src_star")
    MergeSql.merge(spark,
      """MERGE INTO t_star t USING src_star s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val out = t.read(spark).as[(Long, String, Double)].collect().sortBy(_._1)
    out shouldBe Array(
      (1L, "a", 10.0), (2L, "b", 20.0), (3L, "C!", 300.0), (9L, "nine", 90.0))
  }

  test("WHEN NOT MATCHED BY SOURCE DELETE removes unreferenced target rows") {
    val t = freshTarget("t_bysrc")
    Seq((2L, "keep", 0.0)).toDF("id", "name", "amount").createOrReplaceTempView("src_bysrc")
    MergeSql.merge(spark,
      """MERGE INTO t_bysrc t USING src_bysrc s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET name = s.name
        |WHEN NOT MATCHED BY SOURCE AND t.amount >= 30.0 THEN DELETE""".stripMargin)
    val out = t.read(spark).as[(Long, String, Double)].collect().sortBy(_._1)
    out shouldBe Array((1L, "a", 10.0), (2L, "keep", 20.0)) // id=3 deleted
  }

  test("cardinality violation (two source rows match one target row) errors") {
    val t = freshTarget("t_card")
    Seq((2L, "x", 1.0), (2L, "y", 2.0)).toDF("id", "name", "amount")
      .createOrReplaceTempView("src_card")
    val e = intercept[IllegalArgumentException] {
      MergeSql.merge(spark,
        """MERGE INTO t_card t USING src_card s ON t.id = s.id
          |WHEN MATCHED THEN UPDATE SET name = s.name""".stripMargin)
    }
    e.getMessage should include("cardinality")
    // and the table is untouched (the commit never happened)
    t.read(spark).count() shouldBe 3
  }

  test("duplicate target rows matched by ONE source row each are legal (n x 1, not 1 x m)") {
    val t = Icebox(tmpDir("merge-duptgt"))
    t.overwrite(Seq((1L, "a", 10.0), (1L, "a", 10.0), (2L, "b", 20.0))
      .toDF("id", "name", "amount"))
    MergeSql.register("t_duptgt", t)
    Seq((1L, "A", 100.0)).toDF("id", "name", "amount").createOrReplaceTempView("src_duptgt")
    MergeSql.merge(spark,
      """MERGE INTO t_duptgt t USING src_duptgt s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *""".stripMargin)
    val out = t.read(spark).as[(Long, String, Double)].collect().sorted
    out shouldBe Array((1L, "A", 100.0), (1L, "A", 100.0), (2L, "b", 20.0))
  }

  test("insert-only merge leaves multiply-matched target rows untouched (no duplication)") {
    val t = freshTarget("t_insonly")
    // two source rows hit target id=2; with no WHEN MATCHED clause the
    // target row must appear exactly once in the result
    Seq((2L, "x", 1.0), (2L, "y", 2.0), (7L, "new", 70.0))
      .toDF("id", "name", "amount").createOrReplaceTempView("src_insonly")
    MergeSql.merge(spark,
      """MERGE INTO t_insonly t USING src_insonly s ON t.id = s.id
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val out = t.read(spark).as[(Long, String, Double)].collect().sorted
    out shouldBe Array(
      (1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0), (7L, "new", 70.0))
  }

  test("typo'd assignment column errors instead of silently no-oping") {
    val t = freshTarget("t_typo")
    Seq((1L, "x", 1.0)).toDF("id", "name", "amount").createOrReplaceTempView("src_typo")
    val e = intercept[IllegalArgumentException] {
      MergeSql.merge(spark,
        """MERGE INTO t_typo t USING src_typo s ON t.id = s.id
          |WHEN MATCHED THEN UPDATE SET amonut = s.amount""".stripMargin)
    }
    e.getMessage should include("do not resolve")
    t.read(spark).count() shouldBe 3 // nothing committed
  }

  test("inline USING (SELECT ...) subquery source works without a pre-registered view") {
    val t = freshTarget("t_subq")
    Seq((2L, "raw2", 2.0), (8L, "raw8", 8.0), (9L, "low", 0.5))
      .toDF("id", "name", "amount").createOrReplaceTempView("raw_subq")
    MergeSql.merge(spark,
      """MERGE INTO t_subq t
        |USING (SELECT id, upper(name) AS name, amount * 10 AS amount
        |       FROM raw_subq WHERE amount >= 1.0) s
        |ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val out = t.read(spark).as[(Long, String, Double)].collect().sortBy(_._1)
    out shouldBe Array(
      (1L, "a", 10.0), (2L, "RAW2", 20.0), (3L, "c", 30.0), (8L, "RAW8", 80.0))
  }

  test("registerView: text SELECT and MERGE compose on one name, view tracks the merge") {
    val t = Icebox(tmpDir("merge-view"))
    t.overwrite(Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "name", "amount"))
    t.registerView(spark, "t_view")
    // plain SQL SELECT over the registered name (planner-indexed read)
    spark.sql("SELECT sum(amount) AS s FROM t_view").as[Double].head() shouldBe 30.0
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    spark.sql("SELECT * FROM t_view").queryExecution.analyzed.collectFirst {
      case LogicalRelation(r: HadoopFsRelation, _, _, _, _) => r.location
    }.get shouldBe a[graft.plans.IceboxFileIndex]
    // MERGE against the same name, then SELECT sees the post-merge state
    MergeSql.merge(spark,
      """MERGE INTO t_view t USING (SELECT 2 AS id, 'B' AS name, 200.0 AS amount) s
        |ON t.id = s.id WHEN MATCHED THEN UPDATE SET *""".stripMargin)
    spark.sql("SELECT name FROM t_view WHERE id = 2").as[String].head() shouldBe "B"
  }

  test("merge is one atomic snapshot commit with rollback available") {
    val t = freshTarget("t_atomic")
    val before = t.currentSnapshotId
    Seq((1L, "A2", 11.0)).toDF("id", "name", "amount").createOrReplaceTempView("src_atomic")
    MergeSql.merge(spark,
      """MERGE INTO t_atomic t USING src_atomic s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *""".stripMargin)
    t.currentSnapshotId shouldBe before + 1
    t.rollbackTo(before)
    t.read(spark).filter($"id" === 1L).select("name").as[String].head() shouldBe "a"
  }

  test("merge-on-read MERGE rewrites zero data files and matches copy-on-write results") {
    val t = freshTarget("t_mor")
    t.setProperties(Map("write.merge.mode" -> "merge-on-read"))
    val before = t.currentSnapshot.get.files.map(_.path).toSet
    Seq((2L, "B", 200.0), (3L, "del", 0.0), (4L, "d", 40.0))
      .toDF("id", "name", "amount").createOrReplaceTempView("src_mor")
    val snap = MergeSql.merge(spark,
      """MERGE INTO t_mor t USING src_mor s ON t.id = s.id
        |WHEN MATCHED AND s.name = 'del' THEN DELETE
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    snap.operation shouldBe "merge-mor"
    // ZERO-REWRITE: every pre-existing data file survives by path (entries
    // gain eq-delete attachments; none is read or rewritten)
    val afterPaths = t.currentSnapshot.get.files.map(_.path).toSet
    require(before.subsetOf(afterPaths), "merge-on-read MERGE rewrote data files")
    t.read(spark).as[(Long, String, Double)].collect().sortBy(_._1) shouldBe
      Array((1L, "a", 10.0), (2L, "B", 200.0), (4L, "d", 40.0))
    // changeDiff CONSISTENCY across the merge-mor commit: the row-level diff
    // shows exactly the update (delete+insert pair), the delete, and the
    // insert — carried-over entries contribute nothing
    val diff = t.changeDiff(spark, snap.parentId, snap.id)
      .as[(Long, String, Double, String)].collect().sortBy(r => (r._1, r._4))
    diff shouldBe Array(
      (2L, "b", 20.0, "delete"), (2L, "B", 200.0, "insert"),
      (3L, "c", 30.0, "delete"), (4L, "d", 40.0, "insert"))
  }

  test("merge-on-read falls back to copy-on-write for non-equi ON and BY SOURCE clauses") {
    val t = freshTarget("t_mor_fb")
    t.setProperties(Map("write.merge.mode" -> "merge-on-read"))
    Seq((2L, "B", 200.0)).toDF("id", "name", "amount").createOrReplaceTempView("src_fb")
    // WHEN NOT MATCHED BY SOURCE edits the unmatched-target side — only a
    // rewrite expresses it; the result must still be correct
    val snap = MergeSql.merge(spark,
      """MERGE INTO t_mor_fb t USING src_fb s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED BY SOURCE AND t.amount < 15 THEN DELETE""".stripMargin)
    snap.operation should not be "merge-mor"
    t.read(spark).as[(Long, String, Double)].collect().sortBy(_._1) shouldBe
      Array((2L, "B", 200.0), (3L, "c", 30.0)) // id=1 deleted by the BY SOURCE clause
  }

  test("cardinality fast path: dup source keys absent from target pass; NULL keys never violate") {
    val t = freshTarget("t_card_fast")
    // key 10 repeats in the source but exists nowhere in the target — both
    // rows take the NOT MATCHED branch; not a cardinality violation
    Seq((10L, "n1", 1.0), (10L, "n2", 2.0)).toDF("id", "name", "amount")
      .createOrReplaceTempView("src_cf")
    MergeSql.merge(spark,
      """MERGE INTO t_card_fast t USING src_cf s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    t.read(spark).filter($"id" === 10L).count() shouldBe 2L
    // duplicate NULL keys: equality never matches NULL, so even a NULL-key
    // target row cannot be double-matched
    val t2 = Icebox(tmpDir("merge-card-null"))
    t2.overwrite(Seq[(java.lang.Long, String, Double)]((null, "z", 0.0), (1L, "a", 1.0))
      .toDF("id", "name", "amount"))
    MergeSql.register("t_card_null", t2)
    Seq[(java.lang.Long, String, Double)]((null, "x", 1.0), (null, "y", 2.0))
      .toDF("id", "name", "amount").createOrReplaceTempView("src_cn")
    MergeSql.merge(spark,
      """MERGE INTO t_card_null t USING src_cn s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    // NULL-key source rows are all unmatched inserts; the NULL target row survives
    t2.read(spark).count() shouldBe 4L
    t2.read(spark).filter($"name" === "z").count() shouldBe 1L
  }

  test("insert-only MERGE in merge-on-read mode commits an append, not a rewrite") {
    val t = freshTarget("t_mor_ins")
    t.setProperties(Map("write.merge.mode" -> "merge-on-read"))
    val before = t.currentSnapshot.get.files.toSet
    Seq((1L, "dup", 0.0), (9L, "new", 90.0)).toDF("id", "name", "amount")
      .createOrReplaceTempView("src_ins")
    val snap = MergeSql.merge(spark,
      """MERGE INTO t_mor_ins t USING src_ins s ON t.id = s.id
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    snap.operation shouldBe "append"
    // pre-existing ENTRIES untouched — not even an eq-delete attachment
    before.subsetOf(t.currentSnapshot.get.files.toSet) shouldBe true
    t.read(spark).count() shouldBe 4L
    t.read(spark).filter($"id" === 1L).select("name").as[String].head() shouldBe "a"
  }

  test("merge-on-read: NOT MATCHED conditions and INSERT values resolve against the source alone") {
    val t = freshTarget("t_mor_unq")
    t.setProperties(Map("write.merge.mode" -> "merge-on-read"))
    Seq((2L, "B", 200.0), (4L, "d", 40.0), (5L, "tiny", 1.0))
      .toDF("id", "name", "amount").createOrReplaceTempView("src_unq")
    // id, name and amount name both a source and a target column; Spark
    // resolves the NOT MATCHED side against the source
    val snap = MergeSql.merge(spark,
      """MERGE INTO t_mor_unq t USING src_unq s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET name = s.name
        |WHEN NOT MATCHED AND amount > 10 THEN INSERT (id, name, amount) VALUES (id, name, amount)
        |""".stripMargin)
    snap.operation shouldBe "merge-mor"
    t.read(spark).as[(Long, String, Double)].collect().sortBy(_._1) shouldBe Array(
      (1L, "a", 10.0), (2L, "B", 20.0), (3L, "c", 30.0), (4L, "d", 40.0))
  }

  // The three cardinality cases again in merge-on-read mode, where the
  // source's key digest answers the check; "fallback" caps the digest at 2
  // tuples and pads each source past it, so the check aggregates instead.
  for ((mode, props, pad) <- Seq(
      ("merge-on-read", Map("write.merge.mode" -> "merge-on-read"), Nil),
      ("merge-on-read fallback", Map("write.merge.mode" -> "merge-on-read",
        "bloom.attach.max-keys" -> "2"), Seq(100L, 101L, 102L)))) {
    val tag = if (pad.isEmpty) "mor" else "morfb"
    def padded(rows: Seq[(java.lang.Long, String, Double)]) =
      (rows ++ pad.map(k => (java.lang.Long.valueOf(k), s"p$k", 0.0))).toDF("id", "name", "amount")
    def overCap(t: Icebox, src: String): Unit =
      t.keyDigest(spark.table(src).select("id")).entries.isEmpty shouldBe pad.nonEmpty

    test(s"$mode: cardinality violation errors and leaves the table untouched") {
      val t = freshTarget(s"t_card_$tag")
      t.setProperties(props)
      padded(Seq((2L, "x", 1.0), (2L, "y", 2.0))).createOrReplaceTempView(s"src_card_$tag")
      overCap(t, s"src_card_$tag")
      val e = intercept[IllegalArgumentException] {
        MergeSql.merge(spark,
          s"""MERGE INTO t_card_$tag t USING src_card_$tag s ON t.id = s.id
            |WHEN MATCHED THEN UPDATE SET name = s.name
            |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      }
      e.getMessage should include("cardinality")
      t.read(spark).count() shouldBe 3
    }

    test(s"$mode: duplicate source keys absent from the target insert") {
      val t = freshTarget(s"t_cf_$tag")
      t.setProperties(props)
      padded(Seq((10L, "n1", 1.0), (10L, "n2", 2.0), (2L, "B", 2.0)))
        .createOrReplaceTempView(s"src_cf_$tag")
      overCap(t, s"src_cf_$tag")
      val snap = MergeSql.merge(spark,
        s"""MERGE INTO t_cf_$tag t USING src_cf_$tag s ON t.id = s.id
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      snap.operation shouldBe "merge-mor"
      t.read(spark).filter($"id" === 10L).count() shouldBe 2L
      t.read(spark).filter($"id" === 2L).select("name").as[String].collect() shouldBe Array("B")
      t.read(spark).count() shouldBe 5L + pad.size
    }

    test(s"$mode: duplicate NULL keys never violate") {
      val t = Icebox(tmpDir(s"merge-card-null-$tag"))
      t.overwrite(Seq[(java.lang.Long, String, Double)]((null, "z", 0.0), (1L, "a", 1.0))
        .toDF("id", "name", "amount"))
      t.setProperties(props)
      MergeSql.register(s"t_cn_$tag", t)
      padded(Seq((null, "x", 1.0), (null, "y", 2.0), (1L, "A", 1.0)))
        .createOrReplaceTempView(s"src_cn_$tag")
      overCap(t, s"src_cn_$tag")
      MergeSql.merge(spark,
        s"""MERGE INTO t_cn_$tag t USING src_cn_$tag s ON t.id = s.id
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      // NULL-key source rows are all unmatched inserts; the NULL target row
      // survives; key 1 is updated in place
      t.read(spark).count() shouldBe 4L + pad.size
      t.read(spark).filter($"name" === "z").count() shouldBe 1L
      t.read(spark).filter($"id" === 1L).select("name").as[String].collect() shouldBe Array("A")
    }
  }
}
