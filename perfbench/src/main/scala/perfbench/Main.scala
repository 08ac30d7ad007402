package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.model.Model
import graft.operators.GeofenceOp
import graft.streaming.{KeyedUpsertStore, PipelineConfig, TelcoPipelines}
import graft.tools.ToolSession

/** The paper's streaming topology as a closed-loop benchmark: one
  * process feeds a generated batch of wire-format JSON into
  * `TelcoPipelines.start(PipelineConfig, ...)` and feeds the next one
  * only after the fan-out's offsets commit. Prints one JSON result
  * line; writes the full record (provenance, per-batch numbers,
  * digests, and when tracing the spans) to `--out`.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1 --out FILE
  *   --work DIR [--commit SHA] [--program-sha SHA] [--bench-sha SHA]
  */
object Main {

  /** `warmup` untimed batches run before the measured ones; their
    * outputs are checked too.
    */
  final case class Workload(spec: Spec, warmup: Int)

  val Workloads: Map[String, Workload] = Map(
    // the fan-out and the store read path do nearly all the work; the
    // store write path does none
    "stream_fanout" -> Workload(Spec(population = 20000, cells = 2000,
      attachPerBatch = 0, celltowerPerBatch = 5000), warmup = 2),
    // re-attaches over every store bucket: KeyedUpsertStore.upsert
    // dominates, and the larger store raises the enrich read cost
    "stream_attach_churn" -> Workload(Spec(population = 50000, cells = 2000,
      attachPerBatch = 2000, celltowerPerBatch = 200), warmup = 1))

  /** Set-up is repeated and its median reported, so one slow start-up
    * does not decide `setup_s`.
    */
  val SetupReps = 3

  /** Spark conf keys that name the run or its paths rather than a setting;
    * left out of the recorded conf so that runs can be compared.
    */
  val PerRunConf: Set[String] = Set("spark.app.id", "spark.app.name", "spark.app.startTime",
    "spark.driver.port", "spark.local.dir", "spark.sql.warehouse.dir")

  /** A run measures at least this many batches, however long they take. */
  val MinBatches = 2

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        out: String, work: String, commit: String, programSha: String,
                        benchSha: String)

  def parse(args: Array[String]): Args = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def req(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val w = req("workload")
    require(Workloads.contains(w), s"unknown workload $w; known: ${Workloads.keys.mkString(", ")}")
    val trace = req("trace")
    require(trace == "0" || trace == "1", "--trace takes 0 or 1")
    Args(w, req("seed").toLong, req("seconds").toDouble, trace == "1", req("out"), req("work"),
      kv.getOrElse("commit", "unknown"), kv.getOrElse("program-sha", "unknown"),
      kv.getOrElse("bench-sha", "unknown"))
  }

  /** What the sink saw for one fan-out batch. */
  final case class SinkRec(sub: Sinks.Drained, cell: Sinks.Drained, geo: Sinks.Drained,
                           anom: Sinks.Drained) {
    def digests = BatchDigests(sub.digest, cell.digest, geo.digest, anom.digest)
    def drains = Seq("fanout.subscriber_stats" -> sub, "fanout.celltower_stats" -> cell,
      "fanout.geofence" -> geo, "fanout.anomalies" -> anom)
    def startNs: Long = sub.startNs
    def endNs: Long = anom.endNs
  }

  /** One running topology on a fresh checkpoint and store. */
  final class Topology(spark: SparkSession, val dir: Path, progress: Progress,
                       sink: (TelcoPipelines.Outputs, Long) => Unit) {
    private implicit val sqlContext: SQLContext = spark.sqlContext
    import spark.implicits._
    val config: PipelineConfig = PipelineConfig(batchMillis = 0L,
      checkpoint = Some(dir.resolve("checkpoint").toString),
      storePath = dir.resolve("store").toString)
    private val attachMem = MemoryStream[String]
    private val ctMem = MemoryStream[String]
    val (attachQ, fanoutQ) = TelcoPipelines.start(config,
      Model.decodeJson(attachMem.toDF(), Model.attachSchema),
      Model.decodeJson(ctMem.toDF(), Model.celltowerSchema), sink)._1 match {
      case Seq(a, f) => (a, f)
    }
    var attachBatches = 0L
    var fanoutBatches = 0L

    def feedAttach(json: Array[String]): Done = {
      attachMem.addData(json.toIndexedSeq: _*)
      attachBatches += 1
      progress.await(attachQ, attachBatches - 1)
    }
    def feedCelltower(json: Array[String]): Done = {
      ctMem.addData(json.toIndexedSeq: _*)
      fanoutBatches += 1
      progress.await(fanoutQ, fanoutBatches - 1)
    }
    def stop(): Unit = { attachQ.stop(); fanoutQ.stop() }
    def storeDir: Path = dir.resolve("store")
  }

  /** Timings of one fed batch; `handoffMs` / `ctHandoffMs` are the wall
    * clock at the attach and celltower hand-offs (progress reports
    * trigger starts in wall-clock milliseconds).
    */
  final case class Fed(key: String, batch: Batch, startNs: Long, ctStartNs: Long, endNs: Long,
                       handoffMs: Long, ctHandoffMs: Long,
                       attach: Option[Done], attachBatchId: Long,
                       fanout: Option[Done], fanoutBatchId: Long,
                       gcMs: Long, bucketsRewritten: Int) {
    def latencyMs: Double = (endNs - startNs) / 1e6
  }

  /** (steal, total) jiffies of the machine so far, from /proc/stat where
    * there is one: the share of CPU a hypervisor gave to other guests.
    */
  private def stealJiffies(): (Long, Long) = {
    val f = Paths.get("/proc/stat")
    if (!Files.exists(f)) (0L, 0L)
    else {
      val xs = Files.readAllLines(f).get(0).trim.split("\\s+").drop(1).map(_.toLong)
      (if (xs.length > 7) xs(7) else 0L, xs.take(8).sum)
    }
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  private def manifest(store: Path): Map[String, String] = {
    val f = store.resolve("manifest.json")
    if (!Files.exists(f)) Map.empty
    else "\"(\\d+)\": \"([^\"]+)\"".r
      .findAllMatchIn(new String(Files.readAllBytes(f), StandardCharsets.UTF_8))
      .map(m => m.group(1) -> m.group(2)).toMap
  }

  private def dirBytes(p: Path): Long = {
    val s = Files.walk(p)
    try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum finally s.close()
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).iterator.asScala.foreach(Files.delete)
    finally s.close()
  }

  private def q(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
  private def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val w = Workloads(a.workload)
    val work = Paths.get(a.work)
    deleteTree(work)
    Files.createDirectories(work)

    // Inputs: every batch is generated before any timing, on this thread.
    // The cap allows a closed loop down to a third of a second per batch;
    // a faster program stops when the batches run out.
    val cap = w.warmup + math.ceil(a.seconds * 3).toInt + 4
    val phases = mutable.ArrayBuffer.empty[(String, Double)]
    var phaseStart = System.nanoTime()
    def phase(name: String): Unit = {
      val now = System.nanoTime(); phases += name -> (now - phaseStart) / 1e9; phaseStart = now
    }
    val (gen, population, batches) = TelcoGen.generate(a.seed, w.spec, cap)
    val inputSha = TelcoGen.inputSha(population, batches)
    val selfTestOk = TelcoGen.selfTest(a.seed)

    phase("generate")
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = ToolSession.build(cpus.toString)
    val progress = new Progress
    spark.streams.addListener(progress)
    val sched = if (a.trace) Some(new SchedulerCounts) else None
    sched.foreach(spark.sparkContext.addSparkListener)

    // only the last set-up's topology runs fan-out batches
    val sinkOut = new java.util.concurrent.ConcurrentHashMap[Long, SinkRec]()
    var rep = 0
    def sink(out: TelcoPipelines.Outputs, id: Long): Unit = {
      val tag = s"r$rep-b$id"
      sinkOut.put(id, SinkRec(
        Sinks.stats(s"sub-$tag", out.subscriberStats, "subscriber_id"),
        Sinks.stats(s"cell-$tag", out.celltowerStats, "cell"),
        Sinks.geofence(s"geo-$tag", out.geofenceHits),
        Sinks.anomalies(s"anom-$tag", out.anomalies)))
    }
    def sinkOf(f: Fed): Option[SinkRec] = Option(sinkOut.get(f.fanoutBatchId))

    phase("spark_start")
    // Set-up: start the topology on a fresh checkpoint and store and
    // attach the whole bearer population, until its offsets commit. The
    // warm-up batches run on the last set-up's topology, before the
    // measured ones: a topology's first batch costs far more than later
    // ones, beyond the JVM's own warm-up.
    val setupS = mutable.ArrayBuffer.empty[Double]
    val setupAttach = mutable.ArrayBuffer.empty[(Long, Int)] // (upsert ms, buckets rewritten)
    var topo: Topology = null
    def setUp(): Unit = {
      if (topo != null) { topo.stop(); deleteTree(topo.dir) }
      rep += 1
      val t0 = System.nanoTime()
      topo = new Topology(spark, work.resolve(s"rep$rep"), progress, sink)
      val d = topo.feedAttach(population.attachJson)
      setupS += (System.nanoTime() - t0) / 1e9
      setupAttach += ((d.ms("addBatch"), manifest(topo.storeDir).size))
    }

    def feed(b: Batch, key: String): Fed = {
      val gc0 = gcMs()
      val m0 = if (a.trace) manifest(topo.storeDir) else Map.empty[String, String]
      val t0 = System.nanoTime()
      val w0 = System.currentTimeMillis()
      val att = if (b.attach.isEmpty) None else Some(topo.feedAttach(b.attachJson))
      val tCt = System.nanoTime()
      val wCt = System.currentTimeMillis()
      val fan = if (b.celltower.isEmpty) None else Some(topo.feedCelltower(b.celltowerJson))
      val end = fan.orElse(att).map(_.atNs).getOrElse(tCt)
      val rewritten = if (a.trace && att.isDefined) {
        val m1 = manifest(topo.storeDir); m1.count { case (k, v) => !m0.get(k).contains(v) }
      } else 0
      Fed(key, b, t0, tCt, end, w0, wCt, att, topo.attachBatches - 1, fan,
        topo.fanoutBatches - 1, gcMs() - gc0, rewritten)
    }

    while (rep < SetupReps) setUp()
    val warm = (0 until w.warmup).map(i => feed(batches(i), s"warmup-$i"))
    phase("setup_and_warmup")
    val measured = mutable.ArrayBuffer.empty[Fed]
    val loopStart = System.nanoTime()
    val steal0 = stealJiffies()
    val budgetNs = (a.seconds * 1e9).toLong
    var i = w.warmup
    while (i < batches.length &&
      (measured.length < MinBatches || System.nanoTime() - loopStart < budgetNs)) {
      measured += feed(batches(i), s"batch-$i")
      i += 1
    }
    val loopNs = System.nanoTime() - loopStart
    val steal1 = stealJiffies()
    val stealShare = (steal1._1 - steal0._1).toDouble / math.max(1L, steal1._2 - steal0._2)
    phase("measure")
    val ranOut = i == batches.length && loopNs < budgetNs

    // ---- checks (untimed) ----
    val storeDigest = new KeyedUpsertStore(spark, topo.config.storePath, "bearerId", "ts")
      .current.map(Sinks.store)
    val ref = new Reference(gen, population, GeofenceOp.fences.map(f => f.name -> f.polygon),
      topo.config.kmeansK, topo.config.kmeansSeed)
    val checked = (warm ++ measured).map { f =>
      val want = ref.step(f.batch)
      val got = sinkOf(f)
      (f, want, got, got.exists(_.digests.matches(want)))
    }
    val storeOk = storeDigest.exists(_.matches(ref.storeDigest))
    val attempted = checked.length + 1
    val failed = checked.count(!_._4) + (if (storeOk) 0 else 1)
    val correct = failed == 0 && selfTestOk && measured.nonEmpty

    val storeBytes = dirBytes(topo.storeDir)
    topo.stop()
    spark.streams.removeListener(progress)
    phase("check")

    // ---- end-to-end metrics ----
    val e2e = Seq(
      ("setup_s", Stats.median(setupS.toSeq), "s"),
      ("events_per_s", measured.map(_.batch.events.toLong).sum / (loopNs / 1e9), "1/s"),
      ("batch_p50_ms", Stats.median(measured.map(_.latencyMs).toSeq), "ms"))

    // ---- per-layer metrics (traced run only) ----
    val traced = sched.map { counts =>
      // let the listener bus deliver the last stages' events
      def last = counts.of(topo.fanoutQ.id, topo.fanoutBatches - 1)
      var seen = (-1L, -1L, -1L)
      while (last != seen) { seen = last; Thread.sleep(300) }
      Layers.derive(measured.toSeq, sinkOf, counts, topo.attachQ.id,
        topo.fanoutQ.id, setupAttach.toSeq, storeBytes)
    }
    traced.flatMap(_.bounding).foreach { case (n, ms) =>
      System.err.println(f"[perfbench] bounding stage: $n (median self $ms%.1f ms per batch)") }

    // ---- record ----
    val conf = spark.conf.getAll.filter { case (k, _) => !PerRunConf(k) }.toSeq.sortBy(_._1)
    def metricsJson(ms: Seq[(String, Double, String)]) =
      ms.map { case (n, v, u) => s"${q(n)}: {\"value\": ${num(v)}, \"unit\": ${q(u)}}" }.mkString("{", ", ", "}")
    val result = s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": ${metricsJson(traced.map(_.metrics).getOrElse(e2e))}}"""
    val spans = traced.map(_.spans.all).getOrElse(Nil)
    val self = traced.map(_.spans.selfMs).getOrElse(Map.empty[String, Double])
    val bounding = traced.flatMap(_.bounding)
    val record = new StringBuilder
    record ++= "{\n"
    record ++= s""""provenance": {"commit": ${q(a.commit)}, "program_sha": ${q(a.programSha)}, "bench_sha": ${q(a.benchSha)}, "nproc": $cpus, "master": ${q(spark.sparkContext.master)}, "workload": ${q(a.workload)}, "seed": ${a.seed}, "seconds": ${a.seconds}, "trace": ${if (a.trace) 1 else 0}, "spec": ${q(w.spec.toString)}, "setup_reps": $SetupReps, "warmup_batches": ${w.warmup}, "conf": {${conf.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString(", ")}}},\n"""
    record ++= s""""result": $result,\n"""
    record ++= s""""input_sha256": ${q(inputSha)}, "generator_selftest": $selfTestOk, "batches_ran_out": $ranOut,\n"""
    phase("trace")
    record ++= s""""phases_s": {${phases.map { case (n, s) => s"${q(n)}: ${num(s)}" }.mkString(", ")}},\n"""
    record ++= s""""setup_s": [${setupS.map(num).mkString(", ")}],\n"""
    record ++= s""""measured_steal_share": ${num(stealShare)},\n"""
    record ++= s""""end_to_end": ${metricsJson(e2e)},\n"""
    record ++= s""""store_check": {"ok": $storeOk, "want": ${ref.storeDigest.json}, "got": ${storeDigest.map(_.json).getOrElse("null")}},\n"""
    record ++= checked.map { case (f, want, got, ok) =>
      s"""{"key": ${q(f.key)}, "events": ${f.batch.events}, "latency_ms": ${num(f.latencyMs)}, "ok": $ok, """ +
        s""""want": {${want.all.map { case (n, d) => s"${q(n)}: ${d.json}" }.mkString(", ")}}, """ +
        s""""got": ${got.map(g => g.digests.all.map { case (n, d) => s"${q(n)}: ${d.json}" }.mkString("{", ", ", "}")).getOrElse("null")}}"""
    }.mkString("\"batches\": [\n", ",\n", "],\n")
    record ++= s""""self_ms": {${self.toSeq.sortBy(_._1).map { case (n, v) => s"${q(n)}: ${num(v)}" }.mkString(", ")}},\n"""
    record ++= s""""bounding_stage": ${bounding.map { case (n, v) => s"""{"name": ${q(n)}, "self_ms": ${num(v)}}""" }.getOrElse("null")},\n"""
    record ++= spans.map(_.json).mkString("\"spans\": [\n", ",\n", "]\n")
    record ++= "}\n"
    Files.createDirectories(Paths.get(a.out).toAbsolutePath.getParent)
    Files.write(Paths.get(a.out), record.toString.getBytes(StandardCharsets.UTF_8))

    spark.stop()
    deleteTree(work)
    println(result)
  }
}
