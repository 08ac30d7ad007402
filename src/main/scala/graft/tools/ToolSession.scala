package graft.tools

import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession

/** THE local session config — one source of truth shared by the graded
  * bench main ([[graft.Bench]]) and the dev tools (RunOne,
  * ExplainDump). A tool reading is only comparable to the graded bench
  * if the session carries the same perf-critical knobs; before this was
  * shared, RunOne ran on Spark defaults and over-read codegen-heavy
  * queries ~2× (r14 measurement: q85 5.2 s "steady" under the default
  * 100-entry janino class cache — the fused arm plan alone churns it,
  * so every run recompiled its WholeStageCodegen classes — vs 2.8 s
  * in-bench with the 8000-entry cache below).
  *
  * Knob rationale (full history in git: these lived in Bench.scala):
  *   - codegen.cache.maxEntries 8000: 300 queries × ~10 codegen stages
  *     churn the default 100-entry janino class cache, so deep in a
  *     sweep every timed pass recompiles classes a smaller suite would
  *     reuse (the recurring q156 in-suite inflation, r11 root cause).
  *     Size the cache to hold the whole suite.
  *   - status-store retention caps: the default store retains 1000 SQL
  *     executions (each a full plan-description string) and 100k task
  *     wrappers; a ~1000-execution sweep fills the heap with UI
  *     bookkeeping nobody reads (UI is off) and the GC pressure
  *     inflates late-sweep timings.
  *   - periodicGC 2min: ContextCleaner frees shuffle files and
  *     broadcast blocks only after their weak refs are collected; a
  *     long-lived session needs a GC cadence shorter than the sweep.
  *   - shuffle.partitions = cpus (not 200): local[32] has exactly 32
  *     execution slots; 200 partitions is pure scheduling overhead at
  *     this scale. On a real cluster this is sized to the executor
  *     fleet instead.
  */
object ToolSession {
  def build(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      : SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // SPARK_GRAFT_UI=1 flips the UI on for REST-API stage
      // introspection (the r14 parallelism-audit path); default off so
      // bench readings never pay UI bookkeeping
      .config("spark.ui.enabled", sys.env.getOrElse("SPARK_GRAFT_UI", "false"))
      .config("spark.ui.port", sys.env.getOrElse("SPARK_GRAFT_UI_PORT", "4050"))
      .config("spark.sql.codegen.cache.maxEntries", "8000")
      .config("spark.sql.ui.retainedExecutions", "15")
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "2000")
      .config("spark.worker.ui.retainedExecutors", "10")
      .config("spark.cleaner.periodicGC.interval", "2min")
    // SPARK_GRAFT_EXTRA_CONF="k=v;k=v": A/B harness hook — overlay
    // arbitrary conf pairs on the bench-grade session WITHOUT a
    // rebuild, so a knob experiment (join strategy, AQE thresholds)
    // measures against the identical baseline session. Default unset =
    // bit-identical config; the graded bench never sets it.
    val extra = sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq.flatMap(parsePairs)
    val spark = extra.foldLeft(builder) { (b, kv) =>
      b.config(kv._1, kv._2) }.getOrCreate()
    // builder.config is silently ignored when getOrCreate() returns a
    // pre-existing session — an A/B run would then measure the baseline
    // while believing the overlay applied (r16 advice).
    checkReadBack(confReader(spark), extra,
      "SPARK_GRAFT_EXTRA_CONF (applies only to a fresh session)")
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** `k=v;k=v` → ordered pairs. Values may not contain ';' (the pair
    * separator); a piece without '=' is dropped.
    */
  def parsePairs(spec: String): Seq[(String, String)] =
    spec.split(";").map(_.trim).filter(_.contains("=")).toSeq.map { kv =>
      val i = kv.indexOf('=')
      (kv.substring(0, i).trim, kv.substring(i + 1).trim)
    }

  /** The live session's conf as a reader; a key whose read throws reads
    * as `None` (static and core confs are not always readable).
    */
  def confReader(spark: SparkSession): String => Option[String] =
    k => try spark.conf.getOption(k) catch { case NonFatal(_) => None }

  /** Verify that every pair in `want` took. A key that reads back a
    * DIFFERENT value throws: the run would measure something other than
    * what it claims. A key that cannot be read back at all only warns
    * through `warn`, because a conf can apply and still be unreadable.
    */
  def checkReadBack(read: String => Option[String],
                    want: Seq[(String, String)], source: String,
                    warn: String => Unit = System.err.println): Unit =
    for ((k, v) <- want) read(k) match {
      case Some(live) if live != v =>
        throw new IllegalStateException(
          s"$source: '$k=$v' did not take (live: $live)")
      case Some(_) => ()
      case None =>
        warn(s"[warn] $source: '$k' cannot be read back; assuming '$v' took")
    }
}
