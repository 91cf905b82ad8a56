package graft

import java.sql.Timestamp
import graft.cdc.{Cdc, Watermark, WatermarkStore}
import org.apache.spark.sql.DataFrame

class CdcSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private val rows = Seq(
    (1L, 10L, ts("2024-01-01 00:00:01")),
    (2L, 20L, ts("2024-01-01 00:00:02")),
    (3L, 30L, ts("2024-01-01 00:00:03")))

  private def source(rs: Seq[(Long, Long, Timestamp)]): DataFrame =
    rs.toDF("id", "scn", "ts")

  /** Run one cycle over `rs`, returning the ids the sink saw (None if it
    * was never called) and the watermark the cycle returned.
    */
  private def cycle(store: WatermarkStore, rs: Seq[(Long, Long, Timestamp)],
      versionCol: Option[String]): (Option[Seq[Long]], Watermark) = {
    var seen: Option[Seq[Long]] = None
    val wm = Cdc.runCycle(store, "s", "t", _ => source(rs), "ts", versionCol) { b =>
      seen = Some(b.select("id").as[Long].collect().toSeq.sorted)
    }(spark)
    (seen, wm)
  }

  test("the stored watermark equals the batch's maximum scn and timestamp") {
    val store = new WatermarkStore(tmpDir("cdc-max"))
    val (seen, wm) = cycle(store, rows, Some("scn"))
    seen shouldBe Some(Seq(1L, 2L, 3L))
    wm.lastScn shouldBe 30L
    wm.lastTimestampMs shouldBe ts("2024-01-01 00:00:03").getTime
    store.get("s", "t") shouldBe Some(wm)
  }

  test("an empty batch never calls the sink and keeps the watermark") {
    val store = new WatermarkStore(tmpDir("cdc-empty"))
    val (_, first) = cycle(store, rows, Some("scn"))
    val (seen, wm) = cycle(store, rows, Some("scn")) // nothing above scn 30
    seen shouldBe None
    wm shouldBe first
    store.get("s", "t") shouldBe Some(first)
    // and on the very first cycle of an empty source
    val fresh = new WatermarkStore(tmpDir("cdc-empty0"))
    val (seen0, wm0) = cycle(fresh, Nil, None)
    seen0 shouldBe None
    (wm0.lastScn, wm0.lastTimestampMs) shouldBe ((0L, 0L))
  }

  test("> is strict on scn: a row AT the watermark is not re-extracted") {
    val store = new WatermarkStore(tmpDir("cdc-scn"))
    cycle(store, rows.take(2), Some("scn"))
    val later = rows :+ ((4L, 20L, ts("2024-01-01 00:00:09"))) // scn 20 again
    val (seen, wm) = cycle(store, later, Some("scn"))
    seen shouldBe Some(Seq(3L))
    wm.lastScn shouldBe 30L
  }

  test("> is strict on the timestamp: a row AT the watermark is not re-extracted") {
    val store = new WatermarkStore(tmpDir("cdc-ts"))
    cycle(store, rows.take(2), None)
    val later = rows :+ ((4L, 99L, ts("2024-01-01 00:00:02"))) // ts of the watermark
    val (seen, wm) = cycle(store, later, None)
    seen shouldBe Some(Seq(3L))
    wm.lastTimestampMs shouldBe ts("2024-01-01 00:00:03").getTime
  }

  test("a sink that throws leaves the stored watermark unchanged") {
    val store = new WatermarkStore(tmpDir("cdc-throw"))
    val (_, first) = cycle(store, rows.take(1), Some("scn"))
    intercept[IllegalStateException] {
      Cdc.runCycle(store, "s", "t", _ => source(rows), "ts", Some("scn")) { _ =>
        throw new IllegalStateException("sink failed")
      }(spark)
    }
    store.get("s", "t") shouldBe Some(first)
    // the next cycle re-extracts the batch the failed sink never applied
    cycle(store, rows, Some("scn"))._1 shouldBe Some(Seq(2L, 3L))
  }

  test("advance reads the same watermark the cycle stores") {
    val wm = Cdc.advance(source(rows), "s", "t", "ts", Some("scn"), None)
    wm shouldBe Watermark("s", "t", ts("2024-01-01 00:00:03").getTime, 30L)
    val prev = Some(wm)
    Cdc.advance(source(Nil), "s", "t", "ts", Some("scn"), prev) shouldBe wm
  }
}
