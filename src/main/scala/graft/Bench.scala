package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local()
    spark.sparkContext.setLogLevel("WARN")
    // Untimed warmup: session/codegen/scheduler init otherwise lands on
    // whichever query happens to run first.
    spark.range(1000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()
    // noop sink: forces full materialization of every output column (count()
    // would let Catalyst prune unused projections and under-measure).
    // min of 2 runs: single-run wall-clock on a shared box swings 2-3x;
    // the minimum is the stable estimate of the query's actual cost.
    // Optional args = query-name filter: bench a subset with the same
    // noop-write methodology (Smoke's count() lets Catalyst prune unused
    // projections, so it under-measures projection-heavy queries).
    val unknown = args.toSet -- SparkEntry.queries.keySet
    require(unknown.isEmpty,
      s"unknown queries: ${unknown.toSeq.sorted.mkString(", ")} " +
        "(a typo would otherwise bench an empty set silently)")
    val selected =
      if (args.isEmpty) SparkEntry.queries
      else SparkEntry.queries.view.filterKeys(args.toSet).toMap
    val errors = scala.collection.mutable.LinkedHashSet[String]()
    val results = selected.toSeq.sortBy(_._1).map { case (name, fn) =>
      // A throwing query must NOT yield a plausible time: recording
      // elapsed-to-exception once let 15 broken queries masquerade as
      // healthy 0.05 s entries in an official bench. Record -1 instead
      // and surface the name in an errors list.
      val times = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name: $e")
          errors += name
          -1.0
        }
      }
      // Queries that .cache() intermediates would otherwise pin them for the
      // REST of the suite: the heap fills with dead cached blocks early
      // (q_dedup_* sort first) and every later query pays the GC pressure —
      // measured 2-10x inflation on queries benched late in the run.
      spark.catalog.clearCache()
      // A query that fails run 1 but succeeds run 2 has a valid measurement:
      // min over non-negative keeps it in the total (the errors entry still
      // flags the flake); only an all-runs failure reports -1.
      val best = times.filter(_ >= 0) match {
        case ok if ok.nonEmpty => ok.min
        case _                 => -1.0
      }
      name -> best
    }.toMap
    // Locale.ROOT: f-interpolation uses the default locale, which renders
    // decimal COMMAS on e.g. de_DE JVMs — invalid JSON for the driver.
    def num(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + num(v) }
      .mkString("{", ",", "}")
    // Total sums only the queries that RAN; broken ones stay visible as -1
    // per-query and as an errors list, never as a free ride in the total.
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    val errJson = errors.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    // Per-query detail goes to a file + an EARLIER stdout line; the FINAL
    // stdout line is deliberately short (<200 bytes) because the driver's
    // tail capture clips long lines (r1's 2.5 KB one-liner parsed as null).
    // Body without braces so the history record below can prepend its ts
    // field by construction instead of string-splicing detail.drop(1)
    // (which silently corrupts the JSONL if detail ever changes shape).
    val detailBody = s""""metric":"detail","queries":$qs,"errors":$errJson,"sf":"$sfDir""""
    val detail = "{" + detailBody + "}"
    try java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_DETAIL.json"),
      detail.getBytes("UTF-8"))
    catch { case e: Throwable => System.err.println(s"[bench] detail write: $e") }
    // Append-only archival copy: BENCH_DETAIL.json is overwritten per run,
    // which limited the r10 regression scan to the 69 queries surviving in a
    // truncated stdout tail — the history file keeps every run's full
    // per-query detail (timestamped) for cross-round scans.
    try java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_HISTORY.jsonl"),
      (s"""{"ts":${System.currentTimeMillis()},""" + detailBody + "}\n")
        .getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND)
    catch { case e: Throwable => System.err.println(s"[bench] history write: $e") }
    println(detail)
    println(s"""{"metric":"total","value":${num(total)},"unit":"sec","n_queries":${results.size},"n_errors":${errors.size},"sf":"$sfDir"}""")
    spark.stop()
  }
}
