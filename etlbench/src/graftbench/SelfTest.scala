package graftbench

import java.sql.Date

/** Checks of the benchmark's own arithmetic on hand-computed inputs:
  * tail selection, interval union, span self time, expected-state replay.
  * Exits non-zero on the first failure. Needs no Spark session.
  */
object SelfTest {
  private var failures = 0
  private var passed = 0

  private def expect(name: String, got: Any, want: Any): Unit =
    if (got == want) passed += 1
    else { failures += 1; System.err.println(s"FAIL $name: got $got, want $want") }

  private def close(name: String, got: Double, want: Double): Unit =
    expect(name, math.abs(got - want) < 1e-9, true)

  def main(args: Array[String]): Unit = {
    // median
    expect("median odd", Stats.median(Seq(3.0, 1.0, 2.0)), 2.0)
    expect("median even", Stats.median(Seq(4.0, 1.0, 3.0, 2.0)), 2.5)

    // tail: highest percentile with at least 10 samples beyond it
    val xs = (1 to 100).map(_.toDouble)
    expect("tail n=100", Stats.tail(xs), Some(Stats.Tail(90.0, 90, 100, 10)))
    expect("tail n=1000 is p99", Stats.tail((1 to 1000).map(_.toDouble)).map(_.percentile), Some(99))
    expect("tail n=20 is p50", Stats.tail((1 to 20).map(_.toDouble)), Some(Stats.Tail(10.0, 50, 20, 10)))
    expect("tail n=11 is the minimum", Stats.tail((1 to 11).map(_.toDouble)).map(_.value), Some(1.0))
    expect("tail n=10 unsupported", Stats.tail((1 to 10).map(_.toDouble)), None)
    expect("tail ignores input order",
      Stats.tail(xs.reverse).map(_.value), Stats.tail(xs).map(_.value))
    expect("tail n=25: 10 beyond rank 14", Stats.tail((1 to 25).map(_.toDouble)).map(t => (t.value, t.percentile)),
      Some((15.0, 60)))

    // union of overlapping job intervals
    expect("union merges overlaps and touching",
      Stats.union(Seq((5.0, 7.0), (0.0, 2.0), (1.0, 3.0), (3.0, 4.0), (10.0, 12.0), (11.0, 11.5))),
      Seq((0.0, 4.0), (5.0, 7.0), (10.0, 12.0)))
    expect("union drops empty intervals", Stats.union(Seq((1.0, 1.0), (2.0, 1.0))), Nil)
    close("covered counts overlap once", Stats.covered(Seq((0.0, 10.0), (2.0, 5.0), (4.0, 12.0))), 12.0)
    close("sum of jobs exceeds covered wall",
      Seq((0.0, 6.0), (1.0, 7.0)).map { case (a, b) => b - a }.sum - Stats.covered(Seq((0.0, 6.0), (1.0, 7.0))), 5.0)

    // span self time: parent wall minus the union of its children, clipped
    close("self time, overlapping children", Stats.uncovered(0, 10, Seq((1, 4), (3, 6), (8, 9))), 4.0)
    close("self time, children past the span are clipped", Stats.uncovered(2, 10, Seq((0, 3), (9, 15))), 6.0)
    close("self time, no children", Stats.uncovered(0, 5, Nil), 5.0)
    close("self time, fully covered", Stats.uncovered(0, 5, Seq((0, 2), (2, 5))), 0.0)

    // expected-state replay over a hand-written change log
    def o(k: Long, price: Double) =
      Order(k, 1L, "O", price, Date.valueOf("1995-01-10"), "1-URGENT", "Clerk#1", 0, "c")
    val m = new Model(Seq(o(1, 10), o(5, 50), o(9, 90)))
    m(Seq(Change("U", o(1, 11), 1), Change("D", o(5, 50), 2), Change("I", o(13, 130), 3),
      Change("D", o(99, 0), 4)))
    m(Seq(Change("D", o(1, 11), 5), Change("I", o(5, 55), 6), Change("U", o(9, 91), 7)))
    expect("replay final keys", m.rows.keySet.toSet, Set(5L, 9L, 13L))
    expect("replay re-inserted key takes the new image", m.get(5).map(_.totalprice), Some(55.0))
    expect("replay update applied", m.get(9).map(_.totalprice), Some(91.0))
    expect("replay deleted key absent", m.get(1), None)
    expect("replay range aggregate", m.rangeAggregate(Date.valueOf("1995-01-01"), 30), (3L, 276.0))
    expect("replay range excludes the end day", m.rangeAggregate(Date.valueOf("1994-12-11"), 30), (0L, 0.0))

    // the generator never changes a key twice in one batch, and its
    // deletes and updates only touch live keys
    val gen = new ChangeGen((0 until 200).map(i => o(i * 4L + 1, i.toDouble)), 42L, 150)
    val shadow = new Model((0 until 200).map(i => o(i * 4L + 1, i.toDouble)))
    val batches = (0 until 20).map(_ => gen.nextBatch())
    expect("generator keys unique per batch", batches.forall(b => b.map(_.image.key).distinct.size == b.size), true)
    val liveOk = batches.forall { b =>
      val ok = b.forall(ch => ch.op == "I" || shadow.rows.contains(ch.image.key)) &&
        b.forall(ch => ch.op != "I" || !shadow.rows.contains(ch.image.key))
      shadow(b)
      ok
    }
    expect("generator touches only live keys and inserts only new ones", liveOk, true)
    expect("generator scn strictly increases",
      batches.flatten.map(_.scn).sliding(2).forall(p => p.size < 2 || p(0) < p(1)), true)
    val ops = batches.flatten.groupBy(_.op).map { case (k, v) => k -> v.size }
    expect("generator mix is mostly updates", ops("U") > ops("I") && ops("I") > ops("D"), true)

    println(s"self-test: $passed passed, $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
