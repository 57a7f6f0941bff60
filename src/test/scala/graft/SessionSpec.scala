package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the one session definition every entry point builds through. */
class SessionSpec extends AnyFunSuite {

  test("Session.config is Bench's session config, key for key") {
    // the literal map Bench's hand-built session held before graft.Session
    // existed; a change here changes every benched, verified and tested run
    assert(Session.config(7) == Map(
      "spark.master" -> "local[7]",
      "spark.sql.shuffle.partitions" -> "7",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.sql.extensions" -> "graft.GraftExtensions",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.legacy.bucketedTableScan.outputOrdering" -> "true"))
  }

  test("the test session carries every Session.config entry") {
    val conf = TestSpark.spark.conf
    Session.config(4).foreach { case (k, v) =>
      assert(conf.getOption(k).contains(v), s"$k: ${conf.getOption(k)} != $v")
    }
  }
}
