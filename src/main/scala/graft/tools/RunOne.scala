package graft.tools

import scala.collection.mutable

/** Dev harness: run named queries against a sf dir on the bench-grade
  * session ([[ToolSession]]), print timings and optionally the formatted
  * physical plan. Not part of the Bench/Verify contract.
  *
  * {{{
  * RunOne <q1,q2,...> <sfDir> [explain] [warm] [xN]
  * RunOne <q1,q2,...> <sfDir> [explain] [warm] [xN] \
  *     'A:<key>=<value>;<key>=<value>' 'B:<key>=<value>;<key>=<value>' \
  *     [placebo:<p1,p2,...>]
  * }}}
  *
  *   - `explain` prints each query's formatted plan on its first run;
  *     `warm` builds the write-once layouts (untimed) before any query;
  *     `xN` repeats each query N times (default 1).
  *   - Without arms, the comma-separated queries run one after another
  *     in one session.
  *   - With arms `A:` and `B:`, this is a same-window A/B: for N rounds,
  *     every listed query and every placebo query runs under both arms
  *     back to back, A first in odd rounds and B first in even rounds
  *     (use an even N so warm-up lands on both arms alike). A placebo is
  *     a query the arms should not affect; its B/A median ratio is the
  *     noise the other ratios are read against. An arm is an explicit
  *     set of runtime conf pairs under [[checkArms]]' rules; each value
  *     is read back after it is set ([[ToolSession.checkReadBack]]) and
  *     every touched key is unset after each run.
  *
  * Example, the q115 join-strategy switch against a placebo:
  * {{{
  * RunOne q115_frequent_triples <sf0.1 dir> x4 \
  *     'A:spark.graft.triples.smj=true' 'B:spark.graft.triples.smj=false' \
  *     placebo:q153_ann_mrr
  * }}}
  */
object RunOne {

  /** One A/B arm: runtime conf pairs, applied in order. */
  type Arm = Seq[(String, String)]

  /** The arm rules, checked before any timing. Both arms name a value for
    * every key that either arm sets, so "unset" is never an arm (an unset
    * key may or may not equal some explicit value, and the harness cannot
    * tell); and the two arms differ, so an A/B never compares a config
    * with itself.
    */
  def checkArms(a: Arm, b: Arm): Unit = {
    val (ma, mb) = (a.toMap, b.toMap)
    for ((label, arm, other) <- Seq(("A", ma, mb), ("B", mb, ma))) {
      val missing = (other.keySet -- arm.keySet).toSeq.sorted
      require(missing.isEmpty, s"arm $label names no value for " +
        s"${missing.mkString(", ")}; give both arms an explicit value")
    }
    require(ma != mb, "arms A and B are identical (" +
      a.map { case (k, v) => s"$k=$v" }.mkString(";") +
      "); the A/B would compare a config with itself")
  }

  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val doExplain = args.contains("explain")
    val repeat = args.find(_.startsWith("x")).map(_.drop(1).toInt).getOrElse(1)
    def opt(tag: String) = args.find(_.startsWith(tag)).map(_.drop(tag.length))
    val arms = (opt("A:"), opt("B:")) match {
      case (None, None) => None
      case (Some(a), Some(b)) =>
        val (armA, armB) = (ToolSession.parsePairs(a), ToolSession.parsePairs(b))
        checkArms(armA, armB)
        Some((armA, armB))
      case _ => throw new IllegalArgumentException(
        "give both arms ('A:k=v;…' and 'B:k=v;…') or neither")
    }
    val names = name.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val placebo = opt("placebo:").toSeq
      .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
    require(arms.nonEmpty || placebo.isEmpty, "placebo queries need two arms")
    if (arms.nonEmpty) {
      val unknown = (names ++ placebo).filterNot(graft.SparkEntry.queries.contains)
      require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    }
    // bench-grade session (ToolSession): readings here are anchors for
    // the graded bench, so the perf-critical knobs must match it
    val spark = ToolSession.build()
    if (args.contains("warm")) {
      val t0 = System.nanoTime()
      graft.SparkEntry.warmLayouts(spark, sfDir)
      println(f"[runone] warmLayouts: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    arms match {
      case Some((a, b)) =>
        val read = ToolSession.confReader(spark)
        val keys = (a ++ b).map(_._1).distinct
        val secs = mutable.Map[(String, String), Vector[Double]]()
          .withDefaultValue(Vector.empty)
        for (r <- 1 to repeat; q <- names ++ placebo) {
          val order = Seq("A" -> a, "B" -> b)
          for ((label, arm) <- if (r % 2 == 1) order else order.reverse) {
            arm.foreach { case (k, v) => spark.conf.set(k, v) }
            try {
              ToolSession.checkReadBack(read, arm, s"arm $label")
              val t0 = System.nanoTime()
              val df = graft.SparkEntry.queries(q)(spark, sfDir)
              if (doExplain && r == 1) df.explain("formatted")
              df.write.format("noop").mode("overwrite").save()
              val s = (System.nanoTime() - t0) / 1e9
              println(f"[runone] $q $label r$r: $s%.2f s")
              secs((q, label)) :+= s
            } finally {
              spark.catalog.clearCache()
              keys.foreach(spark.conf.unset)
            }
          }
        }
        def median(xs: Vector[Double]): Double = {
          val s = xs.sorted
          (s((s.length - 1) / 2) + s(s.length / 2)) / 2
        }
        for (q <- names ++ placebo) {
          val (ma, mb) = (median(secs((q, "A"))), median(secs((q, "B"))))
          val tag = if (placebo.contains(q)) " (placebo)" else ""
          println(f"[runone] $q$tag median A $ma%.2f s, B $mb%.2f s, " +
            f"B/A ${mb / ma}%.3f")
        }
      case None =>
        // comma-separated names share one JVM/session — same-window
        // ratios for scale rehearsals (JVM warmup lands in the first
        // query's run1, steady runs compare honestly).
        for (n1 <- names) {
          val fn = graft.SparkEntry.queries(n1)
          for (i <- 1 to repeat) {
            val t0 = System.nanoTime()
            val df = fn(spark, sfDir)
            if (doExplain && i == 1) df.explain("formatted")
            df.write.format("noop").mode("overwrite").save()
            println(f"[runone] $n1 run$i: ${(System.nanoTime() - t0) / 1e9}%.2f s")
          }
          spark.catalog.clearCache()
        }
    }
    spark.stop()
  }
}
