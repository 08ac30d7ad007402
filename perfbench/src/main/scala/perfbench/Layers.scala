package perfbench

import Main.{Fed, SinkRec}

/** Per-layer numbers of a traced run, derived from its spans and counts.
  * Exact spans come from the benchmark's own clock (the batch hand-off,
  * the sink and each sink output); engine phases are laid end to end
  * from the durations Structured Streaming reports for each batch,
  * starting at the hand-off, so they are placed to the millisecond.
  */
object Layers {

  /** Spans that only group others; never reported as the bounding stage. */
  val Structural: Set[String] = Set("batch", "attach", "fanout", "fanout.addBatch", "fanout.sink")

  final case class Traced(metrics: Seq[(String, Double, String)], spans: Spans,
                          bounding: Option[(String, Double)])

  private def sourceMs(d: Done, handoffMs: Long): Long =
    math.max(0L, d.triggerStartMs - handoffMs) + d.ms("latestOffset", "getBatch")

  private def spansOf(f: Fed, rec: Option[SinkRec], spans: Spans): Unit = {
    val k = f.key
    spans.add(Span("batch", "", k, f.startNs, f.endNs))
    f.attach.foreach { d =>
      spans.add(Span("attach", "batch", k, f.startNs, d.atNs))
      spans.sequence("attach", k, f.startNs, Seq(
        "attach.source" -> sourceMs(d, f.handoffMs),
        "attach.wal" -> d.ms("walCommit"),
        "attach.planning" -> d.ms("queryPlanning"),
        "store.upsert" -> d.ms("addBatch"),
        "attach.commit" -> d.ms("commitOffsets")))
    }
    for (d <- f.fanout; r <- rec) {
      spans.add(Span("fanout", "batch", k, f.ctStartNs, d.atNs))
      val planned = spans.sequence("fanout", k, f.ctStartNs, Seq(
        "fanout.source" -> sourceMs(d, f.ctHandoffMs),
        "fanout.wal" -> d.ms("walCommit"),
        "fanout.planning" -> d.ms("queryPlanning")))
      val addNs = d.ms("addBatch") * 1000000L
      val prefixNs = math.max(0L, addNs - (r.endNs - r.startNs))
      val addStart = math.max(planned, r.startNs - prefixNs)
      spans.add(Span("fanout.addBatch", "fanout", k, addStart, addStart + addNs))
      spans.add(Span("fanout.prefix", "fanout.addBatch", k, addStart, addStart + prefixNs))
      spans.add(Span("fanout.sink", "fanout.addBatch", k, r.startNs, r.endNs))
      r.drains.foreach { case (n, dr) => spans.add(Span(n, "fanout.sink", k, dr.startNs, dr.endNs)) }
      spans.sequence("fanout", k, addStart + addNs, Seq("fanout.commit" -> d.ms("commitOffsets")))
    }
  }

  /** Share (%) of a batch's latency that its layer spans cover. */
  private def coverage(f: Fed, spans: Seq[Span]): Double = {
    def self(n: String) = spans.find(_.name == n).map { s =>
      s.endNs - s.startNs - spans.filter(_.parent == n).map(c => c.endNs - c.startNs).sum
    }.getOrElse(0L)
    100.0 * (1.0 - (self("batch") + self("attach") + self("fanout")).toDouble / (f.endNs - f.startNs))
  }

  /** `setupAttach` (upsert ms, buckets rewritten) stands in for the store
    * write metrics on a workload whose batches attach nothing.
    */
  def derive(measured: Seq[Fed], sinkOf: Fed => Option[SinkRec], counts: SchedulerCounts,
             attachQ: java.util.UUID, fanoutQ: java.util.UUID, setupAttach: Seq[(Long, Int)],
             storeBytes: Long): Traced = {
    val spans = new Spans
    val perBatch = measured.map { f =>
      val rec = f.fanout.flatMap(_ => sinkOf(f))
      spansOf(f, rec, spans)
      def both(keys: String*) = f.attach.map(_.ms(keys: _*)).getOrElse(0L) +
        f.fanout.map(_.ms(keys: _*)).getOrElse(0L)
      val (aj, at, as) = if (f.attach.isDefined) counts.of(attachQ, f.attachBatchId) else (0L, 0L, 0L)
      val (fj, ft, fs) = if (f.fanout.isDefined) counts.of(fanoutQ, f.fanoutBatchId) else (0L, 0L, 0L)
      def drainMs(pick: SinkRec => Sinks.Drained) = rec.map(r => pick(r).ms).getOrElse(0.0)
      val sinkMs = rec.map(r => (r.endNs - r.startNs) / 1e6).getOrElse(0.0)
      Map(
        "store.upsert_ms" -> f.attach.map(_.ms("addBatch").toDouble).getOrElse(0.0),
        "store.buckets_rewritten" -> f.bucketsRewritten.toDouble,
        "fanout.prefix_ms" -> math.max(0.0, f.fanout.map(_.ms("addBatch")).getOrElse(0L) - sinkMs),
        "fanout.subscriber_stats_ms" -> drainMs(_.sub),
        "fanout.celltower_stats_ms" -> drainMs(_.cell),
        "fanout.geofence_ms" -> drainMs(_.geo),
        "fanout.anomalies_ms" -> drainMs(_.anom),
        "engine.planning_ms" -> both("queryPlanning").toDouble,
        "engine.commit_ms" -> both("walCommit", "commitOffsets").toDouble,
        "engine.source_ms" -> (f.attach.map(sourceMs(_, f.handoffMs)).getOrElse(0L) +
          f.fanout.map(sourceMs(_, f.ctHandoffMs)).getOrElse(0L)).toDouble,
        "spark.jobs" -> (aj + fj).toDouble,
        "spark.tasks" -> (at + ft).toDouble,
        "spark.shuffle_mb" -> (as + fs) / 1048576.0,
        "jvm.gc_ms" -> f.gcMs.toDouble,
        "trace.batch_p50_ms" -> f.latencyMs)
    }
    def med(k: String) = Stats.median(perBatch.map(_(k)))
    val attaches = measured.exists(_.attach.isDefined)
    val all = spans.all
    val cov = Stats.median(measured.map(f => coverage(f, all.filter(_.key == f.key))))
    val metrics =
      Seq(("store.upsert_ms",
          if (attaches) med("store.upsert_ms") else Stats.median(setupAttach.map(_._1.toDouble)), "ms"),
        ("store.buckets_rewritten",
          if (attaches) med("store.buckets_rewritten") else Stats.median(setupAttach.map(_._2.toDouble)),
          "count"),
        ("store.disk_mb", storeBytes / 1048576.0, "MB")) ++
      Seq("fanout.prefix_ms", "fanout.subscriber_stats_ms", "fanout.celltower_stats_ms",
        "fanout.geofence_ms", "fanout.anomalies_ms", "engine.planning_ms", "engine.commit_ms",
        "engine.source_ms").map(k => (k, med(k), "ms")) ++
      Seq(("spark.jobs", med("spark.jobs"), "count"), ("spark.tasks", med("spark.tasks"), "count"),
        ("spark.shuffle_mb", med("spark.shuffle_mb"), "MB"), ("jvm.gc_ms", med("jvm.gc_ms"), "ms"),
        ("trace.batch_p50_ms", med("trace.batch_p50_ms"), "ms"), ("trace.coverage_pct", cov, "%"))
    val bounding = spans.selfMs.filter { case (n, _) => !Structural(n) }.toSeq.sortBy(-_._2).headOption
    Traced(metrics, spans, bounding)
  }
}
