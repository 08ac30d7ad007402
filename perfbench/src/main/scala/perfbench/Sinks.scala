package perfbench

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import graft.model.Model

/** The benchmark's fan-out sink. Each output is encoded to its wire
  * JSON with `Model.encodeJson` and drained in one job (the encoded
  * bytes are summed, as a Kafka producer would ship them); the same
  * job fingerprints the rows through an `Observation`, so checking
  * costs no second pass over the output. Weights mirror [[Reference]].
  */
object Sinks {

  final case class Drained(digest: Digest, startNs: Long, endNs: Long) {
    def ms: Double = (endNs - startNs) / 1e6
  }

  private def asLong(x: Any): Long = x match {
    case null => 0L
    case n: java.lang.Number => n.longValue()
  }
  private def asDouble(x: Any): Double = x match {
    case null => 0.0
    case n: java.lang.Number => n.doubleValue()
  }

  private def bearerNum(c: Column): Column = substring(c, 3, 7).cast("long")

  /** Drain `df`, fingerprinting it with `ints` (summed as longs) and
    * `reals` (summed as doubles).
    */
  def drain(name: String, df: DataFrame, ints: Seq[Column], reals: Seq[Column]): Drained = {
    val t0 = System.nanoTime()
    val obs = Observation(name)
    val aggs = (count(lit(1)).as("rows") +:
      ints.zipWithIndex.map { case (c, i) => sum(c.cast("long")).as(s"i$i") }) ++
      reals.zipWithIndex.map { case (c, i) => sum(c.cast("double")).as(s"r$i") }
    val observed = df.observe(obs, aggs.head, aggs.tail: _*)
    Model.encodeJson(observed).agg(sum(length(col("value")).cast("long"))).head()
    val m = obs.get
    val d = Digest(asLong(m("rows")), ints.indices.map(i => asLong(m(s"i$i"))),
      reals.indices.map(i => asDouble(m(s"r$i"))))
    Drained(d, t0, System.nanoTime())
  }

  def stats(name: String, df: DataFrame, keyCol: String): Drained = {
    val metricIdx = when(col("metric") === "rtt", 0).when(col("metric") === "byteLoss", 1)
      .otherwise(2)
    val w = lit(1L) + pmod(col(keyCol).cast("long") * 31L +
      expr("unix_seconds(window.start) div 2") * 17L + metricIdx * 7L, lit(101L))
    drain(name, df, Seq(col("n"), w * col("n")),
      Seq(w * col("mean"), w * col("stdev"), w * col("max"), w * col("min")))
  }

  def geofence(name: String, df: DataFrame): Drained = {
    val fence = substring(col("fence_name"), 10, 1).cast("long")
    drain(name, df, Seq(pmod(bearerNum(col("id")) * 7L + fence * 13L, lit(1009L))), Nil)
  }

  def anomalies(name: String, df: DataFrame): Drained =
    drain(name, df, Seq(pmod(bearerNum(col("bearerId")) * 3L +
      col("subscriber_id").cast("long") * 5L + col("prediction").cast("long") * 11L,
      lit(1009L))), Seq(col("dist")))

  /** (bearer, subscriber) fingerprint of a store snapshot. */
  def store(df: DataFrame): Digest = {
    val r = df.agg(count(lit(1)), coalesce(sum(pmod(bearerNum(col("bearerId")) * 7919L +
      col("subscriber.id").cast("long"), lit(1000003L))), lit(0L))).head()
    Digest(r.getLong(0), Seq(r.getLong(1)), Nil)
  }
}
