package graft.pipeline

import graft.{RunPipeline, SparkSpec}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** The full binary path (graft.RunPipeline.execute): schema'd JSON/parquet
  * inputs on disk → loaders → DrugDisease.run → the reference's two sinks
  * (associations parquet sc:476, drug_disease JSON sc:511), both modes.
  */
class RunPipelineBinarySpec extends SparkSpec {
  import spark.implicits._

  private def writeWorld(): String = {
    val dir = Files.createTempDirectory("graft-runpipeline").toString
    def put(name: String, lines: String*): Unit =
      Files.writeString(java.nio.file.Paths.get(s"$dir/$name.json"),
        lines.mkString("\n"))
    put("drugs",
      """{"id":"d1","pref_name":"DrugOne","max_clinical_trial_phase":4,"number_of_mechanisms_of_action":1,"indications":[{"efo_id":"D1"}],"mechanisms_of_action":[{"target_components":[{"ensembl":"T9"}]}]}""",
      """{"id":"d2","pref_name":"DrugTwo","max_clinical_trial_phase":3,"number_of_mechanisms_of_action":1,"indications":[],"mechanisms_of_action":[{"target_components":[{"ensembl":"T2"},{"ensembl":"T1"}]}]}""")
    put("targets",
      """{"id":"T1","approved_symbol":"G1","uniprot_accessions":["P1"],"go":[]}""",
      """{"id":"T2","approved_symbol":"G2","uniprot_accessions":["P2"],"go":[]}""")
    put("diseases",
      """{"code":"http://purl.obolibrary.org/obo/D1","label":"disease one","path_codes":[["D1"]],"therapeutic_codes":["TA1"]}""")
    put("evidences",
      """{"id":"e1","sourceID":"europepmc","disease":{"id":"D1"},"target":{"id":"T1"},"scores":{"association_score":0.9}}""")
    put("interactions",
      """{"interactorA_uniprot_name":"P1","interactorB_uniprot_name":"P2","mi_score":0.9,"source_databases":["intact"]}""")
    put("faers_by_drug",
      """{"chembl_id":"d1","event":"nausea","count":10,"llr":2.0,"critval":1.0}""",
      """{"chembl_id":"d2","event":"nausea","count":5,"llr":2.0,"critval":1.0}""",
      """{"chembl_id":"d2","event":"rash","count":2,"llr":2.0,"critval":1.0}""")
    put("faers_by_target",
      """{"target_id":"T9","event":"headache","report_count":1,"llr":2.0,"critval":1.0}""")
    put("aggregations",
      """{"disease_id":"D1","drug_id":"d1","associated_diseases":[],"associated_targets":[]}""")
    put("whitelist", """{"whitelist_id":"W1","whitelist":["D1"]}""")
    // genetics side: studies/predictions are parquet in the reference (sc:205-209)
    Seq(("S1", "trait one", Seq("D1"), "measurement"))
      .toDF("study_id", "trait_reported", "trait_efos", "trait_category")
      .write.mode("overwrite").parquet(s"$dir/studies.parquet")
    Seq(
      ("S1", "1", 100L, "A", "G", 0.8, "T1"),
      ("S1", "1", 200L, "A", "G", 0.7, "T1")
    ).toDF("study_id", "chrom", "pos", "ref", "alt", "y_proba_all_features", "gene_id")
      .write.mode("overwrite").parquet(s"$dir/predictions.parquet")
    dir
  }

  /** Runs `body` and returns the executed plans of the first `n` queries
    * it runs, in completion order. Listener events arrive on the listener
    * bus thread, so this waits for them.
    */
  private def plansOf(n: Int)(body: => Unit): Seq[SparkPlan] = {
    val seen = new ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.add(qe.executedPlan)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (seen.size < n && System.nanoTime() < deadline) Thread.sleep(20)
    } finally spark.listenerManager.unregister(listener)
    assert(seen.size >= n, s"saw ${seen.size} of $n query plans")
    seen.asScala.toSeq.take(n)
  }

  private object Plans extends AdaptiveSparkPlanHelper {
    /** Every node of `plan` through its adaptive stages; `cached` also
      * walks the plan that fills each cached relation it reads.
      */
    def nodes(plan: SparkPlan, cached: Boolean): Seq[SparkPlan] = {
      val own = collect(plan) { case p => p }
      if (!cached) own
      else own ++ own.flatMap {
        case s: InMemoryTableScanExec => nodes(s.relation.cachedPlan, cached)
        case _ => Nil
      }
    }

    /** File names scanned by `nodes`, once per scan. */
    def scans(nodes: Seq[SparkPlan]): Seq[String] = nodes.flatMap {
      case f: FileSourceScanExec => f.relation.location.rootPaths.map(_.getName)
      case _ => Nil
    }
  }

  test("open mode: binary writes associations parquet and drug_disease JSON") {
    val in = writeWorld()
    val out = Files.createTempDirectory("graft-out").toString
    spark.catalog.clearCache()
    RunPipeline.execute(spark, in, out, whitelistPath = None)
    // the frame both sinks read is cached for the run and released after it
    assert(spark.sharedState.cacheManager.isEmpty)

    val assoc = spark.read.parquet(s"$out/associations")
      .select(col("target_id"), col("disease_id"), col("evidence_count"), col("harmonic"))
      .as[(String, String, Long, Double)].collect()
    // europepmc 0.9 + genetics [0.8, 0.7] on (T1, D1), propagated to T2 over
    // the P1-P2 edge: harmonic = 0.975 + (0.9*0.2)/4 = 1.02 on both targets
    assert(assoc.map(r => (r._1, r._2, r._3)).toSet ==
      Set(("T1", "D1", 3L), ("T2", "D1", 3L)))
    assoc.foreach(r => assert(math.abs(r._4 - 1.02) < 1e-9))

    // the parquet sink is the DECORATED frame (sc:453-472), not the bare
    // score frame: dim names, bundles, gated hypotheses all present
    val assocCols = spark.read.parquet(s"$out/associations").columns.toSet
    assert(Set("target_name", "disease_name", "therapeutic_areas",
      "drugs_for_target", "drugs_for_disease", "neighbours",
      "new_drugs", "new_drugs_size").subsetOf(assocCols), assocCols)

    val dd = spark.read.json(s"$out/drug_disease")
    // the JSON sink carries the reference's projection (sc:478-509)
    assert(Set("harmonic", "harmonic_genetics", "harmonic_literature",
      "target_name", "disease_name", "therapeutic_areas",
      "disease_aes_from_drugs", "disease_indication_from_drugs",
      "disease_max_clinical_trial_phase_from_drugs",
      "target_max_clinical_trial_phase_from_drugs",
      "associated_disease_ids_from_disease_drug_agg",
      "associated_target_ids_from_disease_drug_agg",
      "hypotheses", "drug_hypothesis", "drug_hypothesis_aes",
      "drug_hypothesis_aes_score", "disease_aes_score",
      "drug_hypothesis_disease_aes_score").subsetOf(dd.columns.toSet),
      dd.columns.toSet)
    val scored = dd
      .select(col("target_id"), col("drug_hypothesis"),
        round(col("drug_hypothesis_disease_aes_score"), 6).as("s"))
      .as[(String, String, Double)].collect().toSet
    // d2 {nausea, rash} vs D1 profile {nausea}: 0.4*0.5 + 0.6*1.0 = 0.8
    assert(scored == Set(("T1", "d2", 0.8), ("T2", "d2", 0.8)))
  }

  test("whitelist mode: optional source switches keying; sinks still materialize") {
    val in = writeWorld()
    val out = Files.createTempDirectory("graft-out-wl").toString
    spark.catalog.clearCache()
    RunPipeline.execute(spark, in, out, whitelistPath = Some(s"$in/whitelist.json"))
    assert(spark.sharedState.cacheManager.isEmpty)

    val assocKeys = spark.read.parquet(s"$out/associations")
      .select(col("whitelist_id"), col("disease_id")).distinct()
      .as[(String, String)].collect().toSeq
    assert(assocKeys == Seq(("W1", "D1")))

    val scored = spark.read.json(s"$out/drug_disease")
      .select(col("disease_id"), col("target_id"), col("drug_hypothesis"),
        round(col("drug_hypothesis_disease_aes_score"), 6).as("s"))
      .as[(String, String, String, Double)].collect().toSet
    // member disease D1 recovered from W1; both propagated targets score
    assert(scored == Set(("D1", "T1", "d2", 0.8), ("D1", "T2", "d2", 0.8)))
  }

  test("drug_disease sink reads the cached associations, both modes") {
    val in = writeWorld()
    for (whitelist <- Seq(None, Some(s"$in/whitelist.json"))) {
      val out = Files.createTempDirectory("graft-out-plans").toString
      val Seq(assocSink, ddSink) = plansOf(2)(RunPipeline.execute(spark, in, out, whitelist))
      // the JSON sink's own plan reads the cache and the faers_by_drug LUT,
      // no other input
      val ddOwn = Plans.nodes(ddSink, cached = false)
      assert(ddOwn.exists(_.isInstanceOf[InMemoryTableScanExec]), ddSink)
      assert(Plans.scans(ddOwn).toSet == Set("faers_by_drug.json"), ddSink)
      // evidence scores need no second evidence scan: one per sink, the
      // cache fill included
      for (sink <- Seq(assocSink, ddSink))
        assert(Plans.scans(Plans.nodes(sink, cached = true))
          .count(_ == "evidences.json") == 1, sink)
    }
  }
}
