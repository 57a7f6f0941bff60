package graft

/** Local smoke runner: replicates the driver's entry() check (rows > 0 on
  * sf0.001) and optionally runs one named query: `runMain graft.Smoke [name [sfDir]]`.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Session.local()
    spark.sparkContext.setLogLevel("ERROR")
    args.headOption match {
      case None =>
        val df = SparkEntry.entry(spark)
        println(s"ENTRY_ROWS=${df.count()}")
        df.show(5, truncate = false)
      case Some(names) =>
        val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.001")
        // comma-separated names share one JVM/session: batch smokes would
        // otherwise pay ~30 s of sbt+JVM+session startup PER query
        val queries = names.split(',').map(_.trim).filter(_.nonEmpty)
        // Validate up front (mirrors Bench): a typo'd name would otherwise
        // throw a bare NoSuchElementException AFTER earlier queries ran.
        val unknown = queries.toSet -- SparkEntry.queries.keySet
        require(unknown.isEmpty,
          s"unknown queries: ${unknown.toSeq.sorted.mkString(", ")}")
        queries.foreach { name =>
          // construct INSIDE the timing loop: for lazy queries that's plan
          // building (microseconds); for eager ones (corpus_prepare's
          // checkpointed components) construction IS the work and timing the
          // final count alone would report a fantasy number
          var df: org.apache.spark.sql.DataFrame = null
          // SPARK_GRAFT_SMOKE_NOOP=1 → noop-write (materializes EVERY
          // column, the Bench protocol) instead of count(): count prunes
          // unreferenced aggregates, so digest/assign-style queries whose
          // cost lives in pruned columns time as ~0 under count (merkle
          // measured 0.65 s "at sf10" that way; the digests never ran)
          val noop = sys.env.get("SPARK_GRAFT_SMOKE_NOOP").contains("1")
          for (run <- 1 to args.lift(2).map(_.toInt).getOrElse(1)) {
            val t0 = System.nanoTime()
            df = SparkEntry.queries(name)(spark, sfDir)
            val n =
              if (noop) {
                df.write.mode("overwrite").format("noop").save(); -1L
              } else df.count()
            println(s"QUERY=$name RUN=$run ROWS=$n SEC=${(System.nanoTime() - t0) / 1e9}")
          }
          // cached frames from one query must not distort the next (same
          // lesson as Bench); single-query runs keep the full plan dump
          spark.catalog.clearCache()
          if (queries.length == 1) {
            df.show(10, truncate = false)
            df.explain("formatted")
          }
        }
    }
    spark.stop()
  }
}
