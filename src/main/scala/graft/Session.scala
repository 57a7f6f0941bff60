package graft

import org.apache.spark.sql.SparkSession

/** The one local session every entry point builds: Bench, Smoke, Verify,
  * PlanAudit, PlanDump, Profile, RunPipeline, ScaleUp and the test
  * session. One definition keeps a dumped plan, a profile and a test run
  * on the same session Bench times. Callers set their own log level.
  */
object Session {

  /** Local worker threads (and shuffle partitions): SPARK_GRAFT_CPUS,
    * default 4.
    */
  def envCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** The full session config for `cpus` local threads.
    *
    * UTC pins the TimestampNTZ→Timestamp cast in Core.table: without it a
    * non-UTC machine would run different plans/values than Verify/tests.
    * Object-agg sort fallback stays at Spark's spill-safe default;
    * bounded-buffer udafs get hash mode per-operator via the
    * BoundedAggFallback query-stage prep rule (GraftExtensions).
    */
  def config(cpus: Int): Map[String, String] = Map(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.sql.extensions" -> "graft.GraftExtensions",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.legacy.bucketedTableScan.outputOrdering" -> "true")

  /** A session with `config(cpus)` plus `extra` (the test session's app
    * name and warehouse dir).
    */
  def local(cpus: Int = envCpus,
            extra: Map[String, String] = Map.empty): SparkSession =
    SparkSession.builder().config(config(cpus) ++ extra).getOrCreate()
}
