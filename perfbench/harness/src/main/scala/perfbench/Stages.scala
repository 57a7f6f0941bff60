package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline.DrugDisease
import graft.schema.Schemas
import graft.sources.{Loaders, Sources}

/** RunPipeline.execute cut at the DrugDisease stage boundaries.
  *
  * The stages are lazy plan builders, so timing the calls measures nothing:
  * the traced run materialises each cumulative prefix instead. `load` and
  * `compose` call the same public functions, in the same order and with the
  * same arguments, as `RunPipeline.execute` and `DrugDisease.run`; the
  * benchmark checks that the sinks written from `compose` equal the ones
  * `RunPipeline.execute` writes, so the two cannot drift apart unnoticed.
  */
object Stages {

  /** The frames after each stage, plus the counting-only frames the
    * ratios need (`keyed` before propagation, `groups` before the score
    * threshold, `hypotheses` exploded before the score filter).
    */
  case class Frames(lut: DataFrame, keyed: DataFrame, propagated: DataFrame,
                    groups: DataFrame, assoc: DataFrame,
                    associations: DataFrame, drugDisease: DataFrame,
                    hypotheses: DataFrame)

  /** Every loaded input by source name; the read spans materialise each
    * on its own.
    */
  def inputs(in: DrugDisease.Inputs): Seq[(String, DataFrame)] =
    Seq("drugs" -> in.drugs, "targets" -> in.genesLut, "diseases" -> in.diseases,
      "evidences" -> in.evidences, "interactions" -> in.ppiEdges,
      "faers_by_drug" -> in.aesByDrug, "faers_by_target" -> in.aesByTarget,
      "aggregations" -> in.aggregations) ++
      in.whitelist.map("whitelist" -> _) ++ in.expression.map("expression" -> _)

  /** Which sources each stage reads first; a stage's self time excludes
    * the read time of these.
    */
  val firstRead: Map[String, Seq[String]] = Map(
    "networkLut" -> Seq("interactions", "targets", "expression"),
    "propagate" -> Seq("evidences", "whitelist"),
    "makeAssociations" -> Nil,
    "decorate" -> Seq("drugs", "diseases", "faers_by_drug", "faers_by_target",
      "aggregations"),
    "scoreHypotheses" -> Nil)

  /** RunPipeline.execute's input block. */
  def load(spark: SparkSession, inDir: String,
           whitelistPath: Option[String]): DrugDisease.Inputs = {
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
    val studies = Sources.parquet(spark, s"$inDir/studies.parquet")
    val predictions = Sources.parquet(spark, s"$inDir/predictions.parquet")

    val targets = Loaders.targets(targetsRaw)
    val evidences = Loaders.literatureEvidences(evidencesRaw)
      .unionByName(Loaders.geneticsEvidences(studies, predictions))

    DrugDisease.Inputs(
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
      expression = Sources.optionalJson(spark,
        Option(s"$inDir/expression.json")
          .filter(p => new java.io.File(p).isFile),
        Schemas.expression).map(Loaders.expression))
  }

  /** DrugDisease.run, stage by stage. */
  def compose(in: DrugDisease.Inputs): Frames = {
    val lut = in.expression.foldLeft(
      DrugDisease.networkLut(in.ppiEdges, in.genesLut))(DrugDisease.tissueFilteredLut)
    val scores = DrugDisease.evidenceScores(
      in.evidences.select(col("evs_id"), col("datasource"), col("score")),
      Seq("genetics", "europepmc"))
    val evs = in.evidences
      .select(col("evs_id"), col("target_id"), col("disease_id"))
      .join(scores, Seq("evs_id"))
    val whitelistMode = in.whitelist.isDefined
    val keyed = in.whitelist match {
      case Some(wl) =>
        evs.join(broadcast(wl), Seq("disease_id"))
          .withColumnRenamed("whitelist_id", "assoc_disease_id")
      case None => evs.withColumn("assoc_disease_id", col("disease_id"))
    }
    val propagated = DrugDisease.propagate(keyed, lut)
      .drop("target_id").withColumnRenamed("propagated_id", "target_id")
    val keys = Seq(col("target_id"), col("assoc_disease_id").as("disease_id"))
    val groups = DrugDisease.makeAssociations(propagated, keys, threshold = None)
    val assoc = DrugDisease.makeAssociations(propagated, keys,
      threshold = if (whitelistMode) None else Some(0.1))
      .cache()

    val dfD = in.diseases
      .join(DrugDisease.drugsForDisease(in.drugs, in.aesByDrug, in.aggregations),
        Seq("disease_id"), "left_outer")
    val dfT = in.targets
      .join(DrugDisease.drugsForTarget(in.drugs, in.aesByTarget), Seq("target_id"),
        "left_outer")
      .join(lut.select(col("target_id"), col("neighbours")),
        Seq("target_id"), "left_outer")
    val assocByDisease = in.whitelist match {
      case Some(wl) =>
        assoc.withColumnRenamed("disease_id", "whitelist_id")
          .join(broadcast(wl), Seq("whitelist_id"))
      case None => assoc
    }
    val associations = DrugDisease.newDrugs(
      assocByDisease
        .join(dfT, Seq("target_id"))
        .join(dfD, Seq("disease_id")),
      dropEmpty = !whitelistMode)
    val drugDiseaseDF = associations.select(
      col("disease_id"), col("target_id"),
      col("harmonic"), col("harmonic_genetics"), col("harmonic_literature"),
      col("target_name"), col("disease_name"), col("therapeutic_areas"),
      when(col("drugs_for_disease").isNotNull,
        array_distinct(flatten(transform(col("drugs_for_disease"),
          d => coalesce(
            transform(d.getField("aes"), a => a.getField("event")),
            array().cast("array<string>"))))))
        .otherwise(array().cast("array<string>"))
        .as("disease_aes_from_drugs"),
      array_distinct(flatten(col("drugs_for_disease.indication_ids")))
        .as("disease_indication_from_drugs"),
      array_max(col("drugs_for_disease.max_clinical_trial_phase"))
        .as("disease_max_clinical_trial_phase_from_drugs"),
      array_max(col("drugs_for_target.max_clinical_trial_phase"))
        .as("target_max_clinical_trial_phase_from_drugs"),
      col("associated_disease_ids").as("associated_disease_ids_from_disease_drug_agg"),
      col("associated_target_ids").as("associated_target_ids_from_disease_drug_agg"),
      col("new_drugs").as("hypotheses"))
    val scored = DrugDisease.scoreHypotheses(drugDiseaseDF,
      in.aesByDrug.select(col("drug_id"), col("aes.event").as("aes")))
    Frames(lut, keyed, propagated, groups, assoc, associations, scored,
      drugDiseaseDF.select(explode(col("hypotheses"))))
  }
}
