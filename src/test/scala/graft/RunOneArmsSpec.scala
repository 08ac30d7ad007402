package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.tools.{RunOne, ToolSession}

/** The dev harness's A/B rules (tools/RunOne) and the conf read-back
  * both it and the session overlay use (tools/ToolSession). Pure
  * functions over a `String => Option[String]` conf reader, so no
  * session is needed.
  */
class RunOneArmsSpec extends AnyFunSuite {

  test("arm rules: equal arms raise, a key missing from one arm raises, " +
       "a valid pair passes") {
    def arms(a: String, b: String): Unit =
      RunOne.checkArms(ToolSession.parsePairs(a), ToolSession.parsePairs(b))
    assert(ToolSession.parsePairs("a=1; b = x=y ;junk;") ===
      Seq("a" -> "1", "b" -> "x=y"))
    val eq = intercept[IllegalArgumentException](
      arms("spark.graft.triples.smj=true", "spark.graft.triples.smj=true"))
    assert(eq.getMessage.contains("identical"))
    // same pairs in another order are the same arm
    intercept[IllegalArgumentException](arms("a=1;b=2", "b=2;a=1"))
    intercept[IllegalArgumentException](arms("", ""))
    // "unset" is never an arm: the placebo shape `k=false` vs nothing
    val missing = intercept[IllegalArgumentException](
      arms("spark.graft.triples.smj=false", ""))
    assert(missing.getMessage.contains("arm B names no value for " +
      "spark.graft.triples.smj"))
    intercept[IllegalArgumentException](arms("a=1;b=2", "a=1;c=2"))
    arms("spark.graft.triples.smj=true", "spark.graft.triples.smj=false")
    arms("a=1;b=2", "b=3;a=1")
  }

  test("read-back: an unreadable key warns, a different value throws") {
    val live = Map("spark.graft.triples.smj" -> "true",
      "spark.sql.shuffle.partitions" -> "4")
    val warnings = scala.collection.mutable.ArrayBuffer[String]()
    ToolSession.checkReadBack(live.get,
      Seq("spark.graft.triples.smj" -> "true", "spark.driver.memory" -> "2g"),
      "arm A", warnings += _)
    assert(warnings.size === 1 && warnings.head.contains("spark.driver.memory"))
    val ex = intercept[IllegalStateException](
      ToolSession.checkReadBack(live.get,
        Seq("spark.sql.shuffle.partitions" -> "8"), "arm B", warnings += _))
    assert(ex.getMessage.contains("'spark.sql.shuffle.partitions=8' did not " +
      "take (live: 4)"))
    assert(warnings.size === 1)
  }
}
