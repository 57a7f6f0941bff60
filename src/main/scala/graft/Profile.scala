package graft

import java.util.Locale

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.RunMetrics
import graft.queries.{KnnStore, SimSearch}

/** Per-query profiler.
  *
  * `runMain graft.Profile <q1,q2,...> [sfDir]` runs each registered query
  * once as a discarded warm-up (JIT, codegen and page cache), clears the
  * cache, then times a second run on the noop sink — Bench's protocol —
  * inside RunMetrics.measure. One line per query: wall, jobs, tasks,
  * task-seconds, shuffle-write bytes, spill bytes and input records. Many
  * jobs over few task-seconds marks a driver-bound query; few jobs over
  * many task-seconds a compute-bound one.
  *
  * `runMain graft.Profile skew [sfDir]` prints the bucket occupancy of the
  * trained IVF assignment (SimSearch.trainedAssign): Σ bucket-size² (the
  * in-bucket pair join's cost rides it), the largest bucket and the
  * bucket count.
  *
  * sfDir defaults to SPARK_GRAFT_SF_DIR, like Bench.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Profile <q1,q2,...|skew> [sfDir]")
    val sfDir = args.lift(1).orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse(sys.error("no sfDir: pass one or set SPARK_GRAFT_SF_DIR"))
    val names = args(0).split(',').map(_.trim).filter(_.nonEmpty).toSeq
    val unknown = names.toSet - "skew" -- SparkEntry.queries.keySet
    require(unknown.isEmpty,
      s"unknown queries: ${unknown.toSeq.sorted.mkString(", ")}")
    val spark = Session.local()
    spark.sparkContext.setLogLevel("ERROR")
    def noop(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir).write.format("noop")
        .mode("overwrite").save()
    try names.foreach {
      case "skew" =>
        val r = KnnStore.occupancy(SimSearch.trainedAssign(
          SimSearch.embeds(spark, sfDir)).where(col("bucket").isNotNull)).head()
        println(s"SKEW sum_sq=${r.getAs[Long]("sum_sq")} " +
          s"max_bucket=${r.getAs[Long]("max_cell")} " +
          s"n_buckets=${r.getAs[Long]("n_cells")} " +
          s"n_members=${r.getAs[Long]("n_members")}")
      case name =>
        noop(name)
        spark.catalog.clearCache()
        val (wall, m) = RunMetrics.measure(spark) {
          val t0 = System.nanoTime()
          noop(name)
          (System.nanoTime() - t0) / 1e9
        }
        spark.catalog.clearCache()
        println(String.format(Locale.ROOT,
          "PROFILE %s wall_s=%.3f jobs=%d tasks=%d task_s=%.3f " +
            "shuffle_write_bytes=%d spill_bytes=%d input_records=%d",
          name, Double.box(wall), Long.box(m.jobs), Long.box(m.tasks),
          Double.box(m.taskSeconds), Long.box(m.shuffleWriteBytes),
          Long.box(m.spillBytes), Long.box(m.inputRecords)))
    } finally spark.stop()
  }
}
