package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for every suite (forked test JVM): the
  * graft.Session config at a fixed 4 threads, so results and the shuffle
  * budgets specs pin do not depend on the machine's core count.
  */
object TestSpark {
  lazy val spark: SparkSession = Session.local(cpus = 4, extra = Map(
    "spark.app.name" -> "graft-test",
    "spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString))
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
}
