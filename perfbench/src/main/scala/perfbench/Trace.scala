package perfbench

import java.util.UUID
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** A traced interval. `key` is the batch the span belongs to; `parent`
  * names the enclosing span of the same key ("" for a root).
  */
final case class Span(name: String, parent: String, key: String, startNs: Long, endNs: Long) {
  def json: String =
    s"""{"name":"$name","parent":"$parent","key":"$key","start_ns":$startNs,"end_ns":$endNs}"""
}

/** Spans kept in memory and written once, at the end of the run. */
final class Spans {
  private val buf = mutable.ArrayBuffer.empty[Span]
  def add(s: Span): Unit = synchronized(buf += s)
  def all: Seq[Span] = synchronized(buf.toList)

  /** Lay durations (ms, as Structured Streaming reports them) end to end
    * from `startNs` under `parent`; returns where the last one ends.
    */
  def sequence(parent: String, key: String, startNs: Long, parts: Seq[(String, Long)]): Long =
    parts.foldLeft(startNs) { case (t, (name, ms)) =>
      add(Span(name, parent, key, t, t + ms * 1000000L)); t + ms * 1000000L
    }

  /** Per span name, the median over keys of (summed) self time: duration
    * minus the time its children cover.
    */
  def selfMs: Map[String, Double] = {
    val byKey = all.groupBy(_.key)
    val perKey = byKey.values.flatMap { ss =>
      ss.map { s =>
        val kids = ss.filter(_.parent == s.name).map(c => c.endNs - c.startNs).sum
        s.name -> (s.endNs - s.startNs - kids) / 1e6
      }.groupMapReduce(_._1)(_._2)(_ + _)
    }
    perKey.groupMap(_._1)(_._2).map { case (n, v) => n -> Stats.median(v.toSeq) }
  }
}

/** A committed micro-batch: when its progress arrived, and the phase
  * durations (ms) Structured Streaming reported for it.
  */
final case class Done(atNs: Long, triggerStartMs: Long, durations: Map[String, Long]) {
  def ms(keys: String*): Long = keys.map(durations.getOrElse(_, 0L)).sum
}

/** Structured Streaming progress, used both to detect a batch's commit
  * (the end of its latency) and, when tracing, for the engine phases.
  */
final class Progress extends StreamingQueryListener {
  private val done = new ConcurrentHashMap[(UUID, Long), Done]()

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0) {
      done.put((p.runId, p.batchId),
        Done(System.nanoTime(), java.time.Instant.parse(p.timestamp).toEpochMilli,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
      synchronized(notifyAll())
    }
  }

  /** Block until batch `batchId` of `q` has committed; fail if the query
    * dies or `timeoutS` passes first.
    */
  def await(q: org.apache.spark.sql.streaming.StreamingQuery, batchId: Long,
            timeoutS: Double = 120.0): Done = {
    val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
    var d = done.get((q.runId, batchId))
    while (d == null) {
      q.exception.foreach(e => throw new IllegalStateException(s"query ${q.name} failed", e))
      if (!q.isActive) throw new IllegalStateException(s"query ${q.name} stopped")
      if (System.nanoTime() > deadline)
        throw new IllegalStateException(s"query ${q.name}: batch $batchId not committed in ${timeoutS}s")
      synchronized(wait(5))
      d = done.get((q.runId, batchId))
    }
    d
  }
}

/** Spark scheduler counts per streaming micro-batch: the engine tags
  * every job a micro-batch runs (including those its foreachBatch sink
  * starts) with the query id and batch id.
  */
final class SchedulerCounts extends SparkListener {
  final class Acc { var jobs = 0L; var tasks = 0L; var shuffleBytes = 0L }
  private val stageKey = new ConcurrentHashMap[Int, (String, Long)]()
  private val accs = new ConcurrentHashMap[(String, Long), Acc]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    for { p <- props; query <- Option(p.getProperty("sql.streaming.queryId"))
          b <- Option(p.getProperty("streaming.sql.batchId")) } {
      val key = (query, b.toLong)
      val acc = accs.computeIfAbsent(key, _ => new Acc)
      acc.synchronized(acc.jobs += 1)
      e.stageIds.foreach(s => stageKey.put(s, key))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageKey.get(e.stageInfo.stageId)).foreach { key =>
      val a = accs.computeIfAbsent(key, _ => new Acc)
      val m = e.stageInfo.taskMetrics
      a.synchronized {
        a.tasks += e.stageInfo.numTasks
        if (m != null) a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      }
    }

  /** (jobs, tasks, shuffle bytes) of one micro-batch of the query whose
    * `id` (stable across restarts) is `queryId`.
    */
  def of(queryId: UUID, batchId: Long): (Long, Long, Long) =
    Option(accs.get((queryId.toString, batchId)))
      .map(a => a.synchronized((a.jobs, a.tasks, a.shuffleBytes))).getOrElse((0L, 0L, 0L))
}

object Stats {
  def median(v: Seq[Double]): Double =
    if (v.isEmpty) 0.0
    else {
      val s = v.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
    }
}
