package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}
import graft.model.Model
import graft.operators.{GeofenceOp, OutlierOp}

/** The reference's complete topology (SURVEY.md §3), Spark-native: two
  * decoded event streams → keyed upsert store → enrichment join → three
  * fan-out consumers (windowed stats ×2 keys, geofencing, k-means IQR
  * anomalies). A user of the reference runs exactly these pipelines;
  * here each is a pure DataFrame transform usable in batch mode or per
  * micro-batch, plus [[start]] wiring them as streaming queries.
  */
object TelcoPipelines {

  /** P4: configured metric dimensions → dense vector, in DECLARED order.
    * (The reference's `.filterKeys(dims.contains).values` —
    * `ClusterAnalyser.scala:22-27` — iterates Scala Map order, a latent
    * nondeterminism deliberately not reproduced; SURVEY.md §7.4.)
    */
  def metricsVector(dims: Seq[String]): Column =
    array(dims.map(d => col("metrics").getItem(d).cast("double")): _*)

  /** A5: gather a whole (micro-)batch into ONE JSON record
    * `{"points": [...]}` (`ClusterAnalyser.scala:62-65`) — a global
    * collect_list aggregate instead of `repartition(1).glom()`; sorted
    * for deterministic output.
    */
  def gatherJson(df: DataFrame): DataFrame =
    df.select(to_json(struct(df.columns.map(col): _*)).as("j"))
      .agg(concat(lit("{\"points\": ["),
        array_join(array_sort(collect_list(col("j"))), ","),
        lit("]}")).as("value"))

  final case class Outputs(subscriberStats: DataFrame,
                           celltowerStats: DataFrame,
                           geofenceHits: DataFrame,
                           anomalies: DataFrame,
                           cached: Seq[DataFrame] = Nil) {
    /** Release the per-batch cached frames (shared enrichment prefix +
      * scored vectors) once every sink has consumed its output.
      */
    def release(): Unit = cached.foreach(_.unpersist())
  }

  /** Process one decoded celltower frame against the current attach
    * store and model — the shared enrichment prefix plus all three use
    * cases. Works on a batch table or inside `foreachBatch`.
    *
    * S8: `enriched` feeds all four outputs, so it is persisted for the
    * batch (the reference caches the same prefix,
    * `TrafficStreamProcessor.scala:58`) — without it each sink would
    * re-run the decode + store join. Call [[Outputs.release]] after the
    * sinks run; [[start]] does.
    *
    * Window geometry, watermark, k-means dimensions and the fence file
    * come from `config`; `train` is per batch (a replayed batch scores
    * but does not update the model).
    */
  def processBatch(celltower: DataFrame, attachStore: Option[DataFrame],
                   km: IncrementalKMeans,
                   config: PipelineConfig = PipelineConfig(),
                   train: Boolean = true): Outputs = {
    val kmeansDims = config.kmeansDimensions
    val enriched = (attachStore match {
      case Some(store) =>
        StreamOps.enrich(celltower,
          store.select(col("bearerId"), col("subscriber")))
      case None => celltower.limit(0)
        .withColumn("subscriber", lit(null).cast(Model.attachSchema("subscriber").dataType))
    }).persist()
    val withTs = enriched.withColumn("ts", Model.eventTime(col("ts")))

    val subscriberStats = StreamOps.metricStats(
      withTs.withColumn("subscriber_id", col("subscriber.id")),
      Seq("subscriber_id"), config.metricsWindow, config.metricsSlide,
      config.watermark)
    val celltowerStats = StreamOps.metricStats(
      withTs.withColumn("cell", col("celltower.cell")), Seq("cell"),
      config.metricsWindow, config.metricsSlide, config.watermark)

    val points = enriched.select(
      col("bearerId").as("id"),
      col("celltower.location.lat").as("lat"),
      col("celltower.location.lng").as("lng"))
    // S6: a configured fence file is re-read per batch (hot reload)
    val geofenceHits = config.geofenceFile match {
      case Some(f) => GeofenceOp.geofenceWith(points,
        GeofenceOp.fencesFromJson(celltower.sparkSession, f))
      case None => GeofenceOp.geofence(points)
    }

    val vectored = enriched
      .withColumn("v", metricsVector(kmeansDims))
      .where(kmeansDims.map(d => col("metrics").getItem(d).isNotNull)
        .reduce(_ && _))
    if (train) km.update(vectored, "v")
    val scored = km.transform(vectored, "v").persist()
    val anomalies = OutlierOp.outliers(scored, "prediction", "dist")
      .select(col("bearerId"), col("subscriber.id").as("subscriber_id"),
        col("prediction"), col("dist"))
    Outputs(subscriberStats, celltowerStats, geofenceHits, anomalies,
      cached = Seq(enriched, scored))
  }

  /** Streaming wiring, booted from [[PipelineConfig]] — the analog of
    * the reference booting its whole topology from `application.conf`
    * (`AppConfig.scala:10-53`). Every knob (micro-batch clock,
    * checkpoint, store path, window geometry, k-means hyper-parameters,
    * fence file) comes from the config; the model is built from it too.
    * The attach stream feeds the upsert store; the celltower stream
    * runs the fan-out per micro-batch (stream-static join against the
    * store as of each batch — the reference's Cassandra-lookup
    * semantics, `TrafficStreamProcessor.scala:52-56`). W1: the
    * micro-batch clock is the config's trigger; W4: checkpointing per
    * query under `checkpoint/<name>`. Returns the running queries plus
    * the model handle.
    */
  def start(config: PipelineConfig, attachStream: DataFrame,
            celltowerStream: DataFrame,
            sink: (Outputs, Long) => Unit): (Seq[StreamingQuery], IncrementalKMeans) = {
    val store = new KeyedUpsertStore(attachStream.sparkSession,
      config.storePath, "bearerId", "ts")
    val km = config.newKMeans()
    // W4/W6 full-topology restart: when checkpointing is on, the
    // evolving model state rides the same checkpoint dir as the query
    // offsets — restored at boot (fresh-boot no-op) and snapshotted
    // after every fan-out batch, so `start(config, …)` against an
    // existing checkpoint resumes stats, store, AND model exactly
    // where the dead topology stopped (PipelineSpec restart e2e).
    val kmPath = config.checkpoint.map(d => s"$d/kmeans-model")
    kmPath.foreach(km.restoreFrom)
    def configure(w: DataStreamWriter[Row], name: String) = {
      val t = w.trigger(config.trigger)
      config.checkpoint.map(d => t.option("checkpointLocation", s"$d/$name"))
        .getOrElse(t)
    }
    val attachQ = configure(attachStream.writeStream.outputMode("append"), "attach")
      .foreachBatch((batch: DataFrame, _: Long) => store.upsert(batch))
      .start()
    val fanoutQ = configure(celltowerStream.writeStream.outputMode("append"), "fanout")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        // train only on batches NEWER than the restored snapshot's
        // last-applied id: a batch replayed after a crash in the
        // snapshot→offset-commit gap re-emits its outputs
        // (at-least-once) but must not re-enter the model state
        val out = processBatch(batch, store.current, km, config,
          train = id > km.lastAppliedBatch)
        try sink(out, id) finally out.release()
        // post-sink model snapshot. Runs BEFORE the batch's offset
        // commit, so a crash in the gap replays the batch — OUTPUTS are
        // at-least-once (the reference's ssc.checkpoint semantics too),
        // but the MODEL update is exactly-once via the train guard
        // above (r15 advice — no silent double-apply).
        km.lastAppliedBatch = id
        kmPath.foreach(km.saveTo)
      }
      .start()
    (Seq(attachQ, fanoutQ), km)
  }
}
