package perfbench

import scala.collection.mutable

/** Shape of one CDC workload's offered traffic. `keys` is the fleet
  * size, every key of which is pre-seeded. */
final case class CdcSpec(
    keys: Int,
    routes: Int,
    ratePerS: Int,
    lateShare: Double,
    redeliveryShare: Double,
    deleteShare: Double,
    malformedShare: Double) {
  def routeOf(key: Int): Int = 1 + key % routes
}

object Kind {
  final val Upsert: Byte = 0
  final val Late: Byte = 1
  final val Redelivery: Byte = 2
  final val Delete: Byte = 3
  final val Malformed: Byte = 4
  def valid(k: Byte): Boolean = k <= Redelivery
}

/** The offered stream, planned from the seed before the run: envelope
  * `i` is due `dueMs(i)` after the run's time origin and carries
  * `event_time = origin + eventMs(i)`. In-order envelopes are stamped
  * with their due time; a late one was created `dueMs − eventMs` before
  * it is offered. Per key, event times are distinct except for exact
  * redeliveries, which repeat an earlier envelope byte for byte. */
final class Plan(val dueMs: Array[Int], val kind: Array[Byte],
    val key: Array[Int], val eventMs: Array[Int]) {
  def size: Int = dueMs.length
  def sameAs(o: Plan): Boolean =
    dueMs.sameElements(o.dueMs) && kind.sameElements(o.kind) &&
      key.sameElements(o.key) && eventMs.sameElements(o.eventMs)
}

object CdcGen {

  /** Event time of the pre-seeded image of every initial key: older
    * than anything the plan offers, so any offered update wins. */
  final val PreseedMs: Int = -600000

  /** How far back a redelivery may reach, in envelopes. */
  private final val RedeliveryWindow = 4000

  def plan(spec: CdcSpec, seed: Long, durationMs: Int): Plan = {
    val n = (spec.ratePerS.toLong * durationMs / 1000).toInt
    val rnd = new java.util.SplittableRandom(seed)
    val (due, kind, key, ev) =
      (new Array[Int](n), new Array[Byte](n), new Array[Int](n), new Array[Int](n))
    val used = mutable.HashSet.empty[Long]
    val valid = mutable.ArrayBuffer.empty[Int]
    def fresh(i: Int, eventMs: Int): Unit = {
      var k = rnd.nextInt(spec.keys)
      while (!used.add((k.toLong << 32) | (eventMs & 0xffffffffL))) k = rnd.nextInt(spec.keys)
      key(i) = k; ev(i) = eventMs
    }
    var i = 0
    while (i < n) {
      due(i) = (i.toLong * 1000 / spec.ratePerS).toInt
      val u = rnd.nextDouble()
      var t = spec.malformedShare
      kind(i) =
        if (u < t) Kind.Malformed
        else if (u < { t += spec.deleteShare; t }) Kind.Delete
        else if (u < { t += spec.redeliveryShare; t } && valid.nonEmpty) Kind.Redelivery
        else if (u < { t += spec.lateShare; t }) Kind.Late
        else Kind.Upsert
      kind(i) match {
        case Kind.Upsert => fresh(i, due(i))
        case Kind.Late => fresh(i, due(i) - 500 - rnd.nextInt(2500))
        case Kind.Redelivery =>
          val j = valid(valid.size - 1 - rnd.nextInt(math.min(valid.size, RedeliveryWindow)))
          key(i) = key(j); ev(i) = ev(j)
        case _ =>
          key(i) = rnd.nextInt(spec.keys); ev(i) = due(i)
      }
      if (kind(i) == Kind.Upsert || kind(i) == Kind.Late) valid += i
      i += 1
    }
    new Plan(due, kind, key, ev)
  }

  /** Warm-up traffic: a plan of the same mix from another seed, with
    * every event time moved this far back, so that every envelope is
    * older than the pre-seed and loses to it. It exercises the pipeline's
    * code paths without changing the table. */
  final val WarmShiftMs: Int = 1200000

  def warmPlan(spec: CdcSpec, seed: Long, durationMs: Int): Plan = {
    val p = plan(spec, ~seed, durationMs)
    new Plan(p.dueMs, p.kind, p.key, p.eventMs.map(_ - WarmShiftMs))
  }

  /** Last-writer-wins over the pre-seeded keys and the offered plan with
    * today's sink semantics: deletes and malformed envelopes are
    * dropped, and the newest event time per key wins. Returns the
    * winning event time per key; the row itself is [[Row.of]] of it. */
  def lww(preseedKeys: Int, plan: Plan): mutable.HashMap[Int, Int] = {
    val win = mutable.HashMap.empty[Int, Int]
    (0 until preseedKeys).foreach(k => win(k) = PreseedMs)
    var i = 0
    while (i < plan.size) {
      if (Kind.valid(plan.kind(i))) {
        val k = plan.key(i)
        if (win.get(k).forall(_ < plan.eventMs(i))) win(k) = plan.eventMs(i)
      }
      i += 1
    }
    win
  }
}

/** The bus_status image of one key at one event time. Every field is a
  * pure function of (key, event time), so the reference can rebuild
  * the row the table must hold without keeping the offered JSON. */
final case class Row(
    recordId: Int, id: Int, routeId: Int, directionId: String,
    predictable: Int, secsSinceReport: Int, kph: Int, heading: Int,
    lat: String, lon: String, leadingVehicleId: Option[Int], eventTime: Long) {

  def json: String = {
    val lv = leadingVehicleId.fold("null")(_.toString)
    s"""{"record_id":$recordId,"id":$id,"routeId":$routeId,"directionId":"$directionId",""" +
      s""""predictable":$predictable,"secsSinceReport":$secsSinceReport,"kph":$kph,""" +
      s""""heading":$heading,"lat":$lat,"lon":$lon,"leadingVehicleId":$lv,"event_time":$eventTime}"""
  }
}

object Row {
  private def mix(x: Long): Long = {
    var z = x + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def of(spec: CdcSpec, key: Int, eventMs: Int, originMs: Long): Row = {
    val h = mix(key.toLong * 1000003L + eventMs)
    val route = spec.routeOf(key)
    Row(key, 1000 + key % 9000, route, s"${route}_${h & 1}_$route",
      ((h >>> 1) & 1).toInt, ((h >>> 2) & 31).toInt, ((h >>> 8) % 80).toInt,
      ((h >>> 16) % 360).toInt,
      f"43.${(h >>> 24) % 1000000}%06d", f"-79.${(h >>> 44) % 1000000}%06d",
      if ((h & 0x700) == 0) None else Some(1000 + ((h >>> 12) % 9000).toInt),
      originMs + eventMs)
  }

  private val source =
    """"source":{"version":"1.9.4.Final","connector":"mysql","name":"dbserver1",""" +
      """"snapshot":"false","db":"demo","table":"bus_status","server_id":223344,""" +
      """"file":"binlog.000003","pos":4690,"row":0}"""

  /** Debezium envelope with the given images and op code. */
  def envelope(before: String, after: String, op: String, tsMs: Long): String =
    s"""{"schema":{"type":"struct"},"payload":{"before":$before,"after":$after,""" +
      s"""$source,"op":"$op","ts_ms":$tsMs,"transaction":null}}"""

  /** The wire form of plan envelope `i`. */
  def wire(spec: CdcSpec, plan: Plan, i: Int, originMs: Long): String = {
    val (k, ev) = (plan.key(i), plan.eventMs(i))
    val img = of(spec, k, ev, originMs)
    val ts = originMs + plan.dueMs(i)
    plan.kind(i) match {
      case Kind.Malformed => s"""{"payload": {"after": {"record_id": ${k}oops"""
      case Kind.Delete => envelope(img.json, "null", "d", ts)
      case _ => envelope(of(spec, k, ev - 1, originMs).json, img.json, "u", originMs + ev)
    }
  }
}
