package graft

import org.apache.spark.sql.SparkSession
import graft.pipeline.DrugDisease
import graft.schema.Schemas
import graft.sources.{Loaders, Sources}

/** End-to-end pipeline binary — the counterpart of the reference's `@main`
  * (sc:341-354): load the twelve inputs, run the full DrugDisease pipeline,
  * write the two sinks — `associations/` parquet (sc:476) and
  * `drug_disease/` JSON lines (sc:511). Presence of the optional whitelist
  * path switches the association keying and filter behavior (sc:377-378,
  * 439-474).
  *
  * Usage: runMain graft.RunPipeline <inputDir> <outputDir> [whitelistJson]
  *
  * inputDir layout (names fixed; every input is read with its explicit
  * Schemas.* StructType — no inference pass; JSON = newline-delimited;
  * studies/predictions are parquet as in the reference, sc:205-209):
  *   drugs.json targets.json diseases.json evidences.json interactions.json
  *   faers_by_drug.json faers_by_target.json aggregations.json
  *   studies.parquet predictions.parquet
  *   [expression.json — optional; when present the network LUT keeps only
  *    tissue-co-active edges (sc:134-157)]
  */
object RunPipeline {

  /** Session-independent core so the spec can drive it on TestSpark. */
  def execute(spark: SparkSession, inDir: String, outDir: String,
              whitelistPath: Option[String]): Unit = {
    def j(name: String, schema: org.apache.spark.sql.types.StructType) =
      Sources.json(spark, s"$inDir/$name.json", schema)

    val drugsRaw = j("drugs", Schemas.drugs)
    val targetsRaw = j("targets", Schemas.targets)
    val diseasesRaw = j("diseases", Schemas.diseases)
    val evidencesRaw = j("evidences", Schemas.evidences)
    val interactionsRaw = j("interactions", Schemas.interactions)
    val faersDrugRaw = j("faers_by_drug", Schemas.faersByDrug)
    val faersTargetRaw = j("faers_by_target", Schemas.faersByTarget)
    val aggregationsRaw = j("aggregations", Schemas.aggregations)
    val studies = Sources.parquet(spark, s"$inDir/studies.parquet",
      Some(Schemas.studies))
    val predictions = Sources.parquet(spark, s"$inDir/predictions.parquet",
      Some(Schemas.predictions))

    val targets = Loaders.targets(targetsRaw)
    val evidences = Loaders.literatureEvidences(evidencesRaw)
      .unionByName(Loaders.geneticsEvidences(studies, predictions))

    val inputs = DrugDisease.Inputs(
      drugs = Loaders.drugs(drugsRaw),
      targets = targets,
      genesLut = Loaders.genesLut(targets),
      diseases = Loaders.diseases(diseasesRaw),
      evidences = evidences,
      ppiEdges = Loaders.ppiEdges(interactionsRaw),
      aesByDrug = Loaders.faersByDrug(faersDrugRaw),
      aesByTarget = Loaders.faersByTarget(faersTargetRaw),
      aggregations = Loaders.aggregations(aggregationsRaw),
      whitelist = Sources.optionalJson(spark, whitelistPath, Schemas.whitelist)
        .map(Loaders.whitelist),
      // the reference's main REQUIRES the expression input (sc:352, 367,
      // 370); here its absence skips the tissue edge filter instead of
      // failing, so fixture worlds without expression data still run
      expression = Sources.optionalJson(spark,
        Option(s"$inDir/expression.json")
          .filter(p => new java.io.File(p).isFile),
        Schemas.expression).map(Loaders.expression))

    // associations comes back cached: the parquet write fills the cache,
    // the JSON sink reads it
    val (associations, drugDisease) = DrugDisease.run(inputs)
    try {
      Sources.writeParquet(associations, s"$outDir/associations")
      Sources.writeJson(drugDisease, s"$outDir/drug_disease")
    } finally associations.unpersist()
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: RunPipeline <inputDir> <outputDir> [whitelistJson]")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // object-agg sort fallback stays at Spark's spill-safe default;
      // bounded-buffer udafs get hash mode per-operator via the
      // BoundedAggFallback query-stage prep rule (GraftExtensions)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try execute(spark, args(0), args(1), args.lift(2))
    finally spark.stop()
  }
}
