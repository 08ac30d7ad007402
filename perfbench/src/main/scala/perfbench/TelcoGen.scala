package perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

/** One re-attach: bearer `bearer` now belongs to subscriber `subscriber`. */
final case class AttachRec(bearer: Int, subscriber: Int, ts: Long)

/** One celltower measurement. Metrics are held as integer numerators
  * over fixed power-of-two denominators ([[TelcoGen.Denominators]]), so
  * every value, and every sum of them, is exact in a double: the
  * reference in [[Reference]] can then check means and counts exactly,
  * whatever order Spark adds them in.
  */
final case class CtRec(bearer: Int, cell: Int, rttK: Int, lossK: Int,
                       jitterK: Int, ts: Long) {
  def metric(i: Int): Double = i match {
    case 0 => rttK / TelcoGen.Denominators(0)
    case 1 => lossK / TelcoGen.Denominators(1)
    case _ => jitterK / TelcoGen.Denominators(2)
  }
  def metricK(i: Int): Long = i match {
    case 0 => rttK.toLong
    case 1 => lossK.toLong
    case _ => jitterK.toLong
  }
}

/** One closed-loop step: the attach events are upserted first, then the
  * celltower events run through the fan-out.
  */
final case class Batch(attach: Array[AttachRec], celltower: Array[CtRec],
                       attachJson: Array[String], celltowerJson: Array[String]) {
  def events: Int = attach.length + celltower.length
}

/** Workload shape: bearer population, cell count and per-batch mix. */
final case class Spec(population: Int, cells: Int, attachPerBatch: Int,
                      celltowerPerBatch: Int)

/** Seeded telco traffic in the reference's Kafka wire format (the JSON
  * of `graft.model.AttachEvent` / `CelltowerEvent`). Cells sit in a
  * box around Belgium, so a share of the points falls inside the five
  * `GeofenceOp.fences`; about 2 % of celltower events name a bearer
  * that never attached, so the enrichment join drops them. Everything
  * is drawn from one `scala.util.Random(seed)` on one thread, in a
  * fixed order: the same seed gives byte-identical input.
  */
final class TelcoGen(seed: Long, spec: Spec) {
  import TelcoGen._

  private val rnd = new scala.util.Random(seed)
  val cellLat: Array[Double] = Array.fill(spec.cells)(49.5 + rnd.nextDouble() * 2.0)
  val cellLng: Array[Double] = Array.fill(spec.cells)(2.5 + rnd.nextDouble() * 3.9)
  private val bearerRange = spec.population + spec.population / 50

  /** The initial attach of every bearer, each to its own subscriber. */
  def population(): Batch = {
    val recs = Array.tabulate(spec.population)(b => AttachRec(b, b, T0 - 60000L))
    Batch(recs, Array.empty, recs.map(attachJson), Array.empty)
  }

  /** Batch `i` covers event time [T0 + i s, T0 + (i+1) s). Re-attached
    * bearers are distinct within a batch and their timestamps increase
    * with `i`, so last-write-wins has exactly one answer.
    */
  def batch(i: Int): Batch = {
    val base = T0 + i * 1000L
    val seen = new java.util.HashSet[Integer]()
    val attach = Array.tabulate(spec.attachPerBatch) { j =>
      var b = rnd.nextInt(spec.population)
      while (!seen.add(b)) b = rnd.nextInt(spec.population)
      AttachRec(b, rnd.nextInt(spec.population), base + j % 1000)
    }
    val ct = Array.fill(spec.celltowerPerBatch) {
      val heavy = rnd.nextInt(100) == 0
      CtRec(bearer = rnd.nextInt(bearerRange), cell = rnd.nextInt(spec.cells),
        rttK = if (heavy) 400 + rnd.nextInt(4000) else 20 + rnd.nextInt(400),
        lossK = rnd.nextInt(256), jitterK = rnd.nextInt(320),
        ts = base + rnd.nextInt(1000))
    }
    Batch(attach, ct, attach.map(attachJson), ct.map(celltowerJson))
  }

  def attachJson(a: AttachRec): String = {
    val s = a.subscriber
    s"""{"bearerId":"${bearerId(a.bearer)}","subscriber":{"id":$s,""" +
      f""""imsi":"2061$s%011d","msisdn":"+3247$s%07d","imei":"35$s%013d",""" +
      s""""lastName":"${LastNames(s % LastNames.length)}",""" +
      s""""firstName":"${FirstNames(s / LastNames.length % FirstNames.length)}",""" +
      s""""address":"Rue ${s % 300 + 1}","city":"${Cities(s % Cities.length)}",""" +
      s""""zip":"${1000 + s % 9000}","country":"BE"},"topic":"attach-topic","ts":${a.ts}}"""
  }

  def celltowerJson(c: CtRec): String =
    s"""{"celltower":{"mcc":206,"mnc":10,"cell":${c.cell},"area":${c.cell / 50},""" +
      s""""location":{"lat":${cellLat(c.cell)},"lng":${cellLng(c.cell)}}},""" +
      s""""bearerId":"${bearerId(c.bearer)}","metrics":{"rtt":${c.metric(0)},""" +
      s""""byteLoss":${c.metric(1)},"jitter":${c.metric(2)}},""" +
      s""""topic":"celltower-topic","ts":${c.ts}}"""
}

object TelcoGen {
  val T0: Long = 1700000000000L
  val Metrics: Array[String] = Array("rtt", "byteLoss", "jitter")
  val Denominators: Array[Double] = Array(8.0, 1024.0, 16.0)
  private val LastNames = Array("Peeters", "Janssens", "Maes", "Jacobs", "Mertens",
    "Willems", "Claes", "Goossens", "Wouters", "DeSmet")
  private val FirstNames = Array("Jan", "Marie", "Luc", "Anne", "Pieter", "Sofie",
    "Tom", "Els")
  private val Cities = Array("Brussels", "Antwerp", "Ghent", "Liege", "Leuven",
    "Namur", "Bruges")

  def bearerId(b: Int): String = f"b-$b%07d"

  /** Population plus `n` batches, all generated before any timing. */
  def generate(seed: Long, spec: Spec, n: Int): (TelcoGen, Batch, IndexedSeq[Batch]) = {
    val g = new TelcoGen(seed, spec)
    val pop = g.population()
    (g, pop, (0 until n).map(g.batch))
  }

  /** SHA-256 over every generated JSON record, in feed order. */
  def inputSha(pop: Batch, batches: Seq[Batch]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    (pop +: batches).foreach { b =>
      (b.attachJson.iterator ++ b.celltowerJson.iterator).foreach { s =>
        md.update(s.getBytes(StandardCharsets.UTF_8)); md.update('\n'.toByte)
      }
    }
    md.digest().map(x => f"$x%02x").mkString
  }

  /** Self-test: two generations from one seed are byte-identical, and
    * the next seed differs.
    */
  def selfTest(seed: Long): Boolean = {
    val spec = Spec(population = 2000, cells = 50, attachPerBatch = 40,
      celltowerPerBatch = 60)
    def sha(s: Long) = { val (_, p, bs) = generate(s, spec, 3); inputSha(p, bs) }
    val a = sha(seed)
    a == sha(seed) && a != sha(seed + 1)
  }
}
