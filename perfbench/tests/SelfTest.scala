package perfbench

/** Tests of the harness's own pieces: generator determinism, the LWW
  * reference, percentile support and the job-interval union. Runs
  * without Spark; `python3 perfbench/run.py --selftest` builds and runs
  * it and fails unless every check holds. */
object SelfTest {
  private var failures = List.empty[String]
  private var passed = 0
  private def check(name: String)(cond: => Boolean): Unit =
    if (try cond catch { case _: Throwable => false }) passed += 1 else failures ::= name

  /** A plan written out by hand: (kind, key, event ms) per envelope. */
  private def handPlan(rows: (Byte, Int, Int)*): Plan = new Plan(
    rows.indices.map(_ * 10).toArray, rows.map(_._1).toArray, rows.map(_._2).toArray,
    rows.map(_._3).toArray)

  def main(args: Array[String]): Unit = {
    // generator determinism per seed
    val spec = Cdc.updates
    val a = CdcGen.plan(spec, 7L, 3000)
    check("same seed, same plan")(a.sameAs(CdcGen.plan(spec, 7L, 3000)))
    check("another seed, another plan")(!a.sameAs(CdcGen.plan(spec, 8L, 3000)))
    check("same seed, same wire bytes")(
      (0 until a.size).forall(i => Row.wire(spec, a, i, 1000L) == Row.wire(spec, a, i, 1000L)))
    check("offered at the stated rate")(a.size == spec.ratePerS * 3)
    check("due times never decrease")(
      a.dueMs.sliding(2).forall(p => p(0) <= p(1)))
    val byKey = (0 until a.size).filter(i => a.kind(i) == Kind.Upsert || a.kind(i) == Kind.Late)
      .groupBy(a.key(_)).values
    check("event times distinct per key")(
      byKey.forall(is => is.map(a.eventMs(_)).distinct.size == is.size))
    check("redeliveries repeat an envelope byte for byte") {
      val wire = (0 until a.size).map(i => Row.wire(spec, a, i, 5L))
      val firsts = (0 until a.size).filter(i => Kind.valid(a.kind(i)) &&
        a.kind(i) != Kind.Redelivery).map(wire).toSet
      (0 until a.size).filter(a.kind(_) == Kind.Redelivery).forall(i => firsts(wire(i)))
    }
    val mix = CdcGen.plan(spec, 3L, 10000)
    Seq(Kind.Late, Kind.Redelivery, Kind.Delete, Kind.Malformed).foreach { k =>
      check(s"updates plan offers kind $k")(mix.kind.contains(k))
    }
    check("late envelopes are older than their due time")(
      (0 until mix.size).filter(mix.kind(_) == Kind.Late).forall(i => mix.eventMs(i) < mix.dueMs(i)))
    check("warm-up traffic never changes a pre-seeded row")({
      val warm = CdcGen.warmPlan(spec, 3L, 16000)
      Seq(Kind.Late, Kind.Redelivery, Kind.Delete, Kind.Malformed).forall(warm.kind.contains) &&
        CdcGen.lww(spec.keys, warm).forall { case (k, ev) => k < spec.keys && ev == CdcGen.PreseedMs }
    })
    check("every key is a pre-seeded one")(mix.key.forall(k => k >= 0 && k < spec.keys))

    // LWW reference on hand-made cases
    import Kind._
    val lww = CdcGen.lww(2, handPlan(
      (Upsert, 0, 100),      // key 0 updated
      (Late, 0, 50),         // older, arrives late: loses
      (Redelivery, 0, 100),  // exact redelivery: no change
      (Delete, 1, 200),      // delete is dropped: key 1 keeps its pre-seed
      (Malformed, 0, 300),   // malformed is dropped
      (Late, 2, 40),         // a new key first seen late still lands
      (Upsert, 3, 10), (Upsert, 3, 30), (Late, 3, 20)))
    check("lww: newest event time wins over a late one")(lww(0) == 100)
    check("lww: deletes are dropped")(lww(1) == CdcGen.PreseedMs)
    check("lww: late first image lands")(lww(2) == 40)
    check("lww: in-order then late")(lww(3) == 30)
    check("lww: malformed adds nothing")(lww.size == 4)
    check("lww: late newer than the table wins")(
      CdcGen.lww(1, handPlan((Late, 0, -5))).apply(0) == -5)

    // highest percentile with >= 10 samples beyond it
    check("p99 of 1000 leaves exactly 10 beyond")(Stats.beyond(1000, 99) == 10)
    check("1000 samples support p99")(Stats.highestSupported(1000).contains(99.0))
    check("999 samples support only p95")(Stats.highestSupported(999).contains(95.0))
    check("10000 samples support p99.9")(Stats.highestSupported(10000).contains(99.9))
    check("20 samples support p50")(Stats.highestSupported(20).contains(50.0))
    check("19 samples support nothing")(Stats.highestSupported(19).isEmpty)
    check("nearest-rank percentile")({
      val xs = (1 to 100).map(_.toDouble).toArray
      Stats.percentile(xs, 50) == 50 && Stats.percentile(xs, 99) == 99 &&
        Stats.percentile(xs, 100) == 100 && Stats.percentile(Array(7.0), 99) == 7
    })

    // union of job intervals (idle gap = wall - union)
    check("disjoint intervals add")(Stats.unionLength(Seq((0L, 10L), (20L, 25L))) == 15)
    check("overlaps count once")(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (12L, 14L))) == 15)
    check("nested and unsorted")(Stats.unionLength(Seq((30L, 40L), (0L, 100L), (10L, 20L))) == 100)
    check("touching intervals join")(Stats.unionLength(Seq((0L, 10L), (10L, 20L))) == 20)
    check("empty and inverted cover nothing")(
      Stats.unionLength(Seq((5L, 5L), (9L, 3L))) == 0 && Stats.unionLength(Nil) == 0)
    check("idle gap of a pass")(100 - Stats.unionLength(Seq((10L, 30L), (20L, 50L), (70L, 80L))) == 50)
    check("max overlap")(Stats.maxOverlap(Seq((0L, 10L), (5L, 15L), (6L, 7L), (15L, 20L))) == 3)

    println("PERFBENCH " + Json.obj(Seq("passed" -> passed, "failed" -> failures.size,
      "failures" -> failures.reverse)))
    if (failures.nonEmpty) sys.exit(1)
  }
}
