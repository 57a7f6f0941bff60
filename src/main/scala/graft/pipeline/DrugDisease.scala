package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.{Graph, Scoring}

/** The reference engine's full pipeline (SURVEY.md §3; sc:341-516),
  * re-expressed as named, unit-testable `DataFrame => DataFrame` stages.
  *
  * Input column contracts are the reference's loader projections
  * (platformDataBackendDrugDiseaseSimilarity.sc:15-289); every stage is pure
  * plan composition — nothing executes until a sink action. The one sub-plan
  * with two consumers is the decorated `associations` frame both sinks read
  * (the reference re-computed it per sink — SURVEY §3.2); it is the one
  * cache.
  *
  * Scale notes per stage are inline; the pipeline's wide stages are the
  * adjacency groupBy, the association groupBy (bounded by top-K slice), the
  * per-evidence score window, and the bundle joins (dimension sides
  * broadcast-eligible).
  */
object DrugDisease {

  /** Normalized inputs — the output contracts of graft.sources.Loaders. */
  case class Inputs(
      drugs: DataFrame,          // Loaders.drugs
      targets: DataFrame,        // Loaders.targets (target_id, target_name, …)
      genesLut: DataFrame,       // Loaders.genesLut (accession, id)
      diseases: DataFrame,       // Loaders.diseases (disease_id, disease_name, therapeutic_areas, …)
      evidences: DataFrame,      // literature ∪ genetics, unionByName-compatible
      ppiEdges: DataFrame,       // Loaders.ppiEdges (A, B)
      aesByDrug: DataFrame,      // Loaders.faersByDrug (drug_id, aes)
      aesByTarget: DataFrame,    // Loaders.faersByTarget (target_id, aes)
      aggregations: DataFrame,   // Loaders.aggregations (drug_id, disease_id, …)
      whitelist: Option[DataFrame] = None, // Loaders.whitelist (whitelist_id, disease_id)
      expression: Option[DataFrame] = None) // Loaders.expression (target_id, active_tissues)

  /** The full reference pipeline (SURVEY §3.1 + §3.2): returns
    * (associations, drugDisease hypotheses) — the two frames the reference
    * writes to its parquet and JSON sinks (sc:476, 511). Whitelist presence
    * switches association keys to (target, whitelist_id) (sc:439-474).
    *
    * The associations frame is the reference's DECORATED sink row set
    * (sc:453-472): score frame ⋈ target dim (name + drugs_for_target +
    * target_aes + neighbours) ⋈ disease dim (name + therapeutic_areas +
    * drugs_for_disease + aggregation id lists), with new_drugs /
    * new_drugs_size and the open-mode size gate applied — not the bare
    * pre-decoration score frame. The drugDisease frame mirrors the JSON
    * sink's projection (sc:478-509): harmonic sub-scores, names,
    * therapeutic areas, bundle-derived aggregates, hypotheses and the two
    * AE containment sub-scores.
    *
    * The fork is the decorated associations frame: it is returned cached,
    * the first sink written fills the cache, and the drugDisease frame
    * reads it back and adds only the hypothesis scoring — the reference
    * recomputed the whole DAG for its second sink (SURVEY §3.2). The caller
    * unpersists the associations frame once both sinks are written.
    */
  def run(in: Inputs): (DataFrame, DataFrame) = {
    // With expression data, the network keeps only tissue-co-active edges
    // (sc:370, 134-157); without it the filter is skipped — the reference
    // requires the expression input, so absence is a documented relaxation.
    val lut = in.expression.foldLeft(networkLut(in.ppiEdges, in.genesLut))(
      tissueFilteredLut)
    val evs = evidenceScores(
      in.evidences.select(col("evs_id"), col("target_id"), col("disease_id"),
        col("datasource"), col("score")),
      Seq("genetics", "europepmc"))
    val whitelistMode = in.whitelist.isDefined
    val keyed = in.whitelist match {
      case Some(wl) =>
        evs.join(broadcast(wl), Seq("disease_id"))
          .withColumnRenamed("whitelist_id", "assoc_disease_id")
      case None => evs.withColumn("assoc_disease_id", col("disease_id"))
    }
    val propagated = propagate(keyed, lut)
      .drop("target_id").withColumnRenamed("propagated_id", "target_id")
    // Whitelist mode keeps every association — "everything but not filtering
    // by score" (sc:441-445); open mode applies harmonic > 0.1 (sc:467).
    val assoc = makeAssociations(
      propagated, Seq(col("target_id"), col("assoc_disease_id").as("disease_id")),
      threshold = if (whitelistMode) None else Some(0.1))

    // The reference's two dimension frames (sc:427-428): disease dim ⟕
    // drug-bundle-per-disease, target dim ⟕ drug-bundle-per-target ⟕
    // network neighbourhoods. Bundle sides are left_outer exactly as the
    // reference; the dims themselves join the score frame INNER (sc:455-456,
    // 468-469), so associations only materialize for known dim rows.
    val dfD = in.diseases
      .join(drugsForDisease(in.drugs, in.aesByDrug, in.aggregations),
        Seq("disease_id"), "left_outer")
    val dfT = in.targets
      .join(drugsForTarget(in.drugs, in.aesByTarget), Seq("target_id"), "left_outer")
      .join(lut.select(col("target_id"), col("neighbours")),
        Seq("target_id"), "left_outer")
    // Whitelist associations are keyed by whitelist id, but the drug bundles
    // are keyed by real disease ids — recover the member diseases first, as
    // the reference re-joins selectedDiseases on whitelist_id (sc:454).
    val assocByDisease = in.whitelist match {
      case Some(wl) =>
        assoc.withColumnRenamed("disease_id", "whitelist_id")
          .join(broadcast(wl), Seq("whitelist_id"))
      case None => assoc
    }
    // The decorated + gated frame IS the associations sink (sc:453-472).
    // Whitelist mode skips the new_drugs_size > 0 gate (sc:458 vs 472); a
    // null drugs_for_target bundle yields null new_drugs, dropped by the
    // open-mode gate / kept null in whitelist mode — the reference's exact
    // row set without its size(null) = -1 sentinel (see aeContainment).
    // Both sinks read it, so it is the cache.
    val associations = newDrugs(
      assocByDisease
        .join(dfT, Seq("target_id"))
        .join(dfD, Seq("disease_id")),
      dropEmpty = !whitelistMode)
      .cache()
    // The JSON sink projection (sc:478-494): names, therapeutic areas, the
    // bundle-derived disease AE profile (null-safe at both array levels —
    // the reference's unguarded flatten nulls the whole profile when ONE
    // member drug lacks AE data), per-bundle aggregates, hypotheses.
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
    val scored = scoreHypotheses(drugDiseaseDF,
      in.aesByDrug.select(col("drug_id"), col("aes.event").as("aes")))
    (associations, scored)
  }

  /** Network LUT build (sc:44-74): undirect edge list, translate accession →
    * gene id on both endpoints, collapse to adjacency.
    *
    * edges: (A, B) accession pairs; genes: (accession, id).
    * Output: (target_id, neighbours array<id>, degree, degree_approx).
    * genes is small → broadcast both joins (the reference relied on .cache +
    * whatever join Spark 2.4 picked; we pin broadcast).
    */
  def networkLut(edges: DataFrame, genes: DataFrame): DataFrame = {
    val und = Graph.undirect(edges.select(col("A"), col("B")))
    val g = broadcast(genes.select(col("accession"), col("id")))
    val translated = und
      .join(g, und("A") === g("accession"))
      .select(col("id").as("A_id"), col("B"))
      .join(g, col("B") === g("accession"))
      .select(col("A_id"), col("id").as("B_id"))
    Graph.adjacency(translated.toDF("src", "dst"))
      .withColumnRenamed("src", "target_id")
  }

  /** Tissue-activity edge filter (sc:134-157): a neighbour stays in the
    * LUT only when it shares at least one ACTIVE tissue with the target —
    * evidence shouldn't propagate across a protein interaction whose two
    * genes are never expressed in the same tissue. Both joins are against
    * the expression dimension (one row per gene → broadcast-pinned); the
    * reference's inner joins also DROP targets with no expression record,
    * preserved here. Regroup sorts for determinism (the reference's
    * collect_list order is partitioning-dependent).
    *
    * lut: (target_id, neighbours, …); expression: (target_id,
    * active_tissues). Output: (target_id, neighbours) — tissue-filtered.
    */
  def tissueFilteredLut(lut: DataFrame, expression: DataFrame): DataFrame = {
    val ex = broadcast(expression.select(col("target_id"), col("active_tissues")))
    lut.select(col("target_id"), col("neighbours"))
      .join(ex.withColumnRenamed("active_tissues", "target_tissues"),
        Seq("target_id"))
      .withColumn("neighbour", explode(col("neighbours")))
      .drop("neighbours")
      .join(ex.toDF("neighbour", "neighbour_tissues"), Seq("neighbour"))
      .where(size(array_intersect(
        col("target_tissues"), col("neighbour_tissues"))) > 0)
      .groupBy(col("target_id"))
      .agg(sort_array(collect_set(col("neighbour"))).as("neighbours"))
  }

  /** Disease ontology (sc:169-187): ancestors = flatten of path_codes
    * (array_distinct replaces the reference's flatten+toSet UDF, sc:171-176 —
    * built-in, codegen-friendly), descendants = explode-invert-collect.
    *
    * diseases: (id, path_codes array<array<string>>).
    * Output: (id, ancestors, descendants) — every disease is its own
    * ancestor/descendant (inner join is safe, sc:181).
    */
  def diseaseOntology(diseases: DataFrame): DataFrame = {
    val withAnc = diseases
      .select(col("id"), array_distinct(flatten(col("path_codes"))).as("ancestors"))
      .where(size(col("ancestors")) > 0)
    val desc = Graph.invertClosure(withAnc, "id", "ancestors")
      .withColumnRenamed("ancestor", "id")
    withAnc.join(desc, Seq("id"))
  }

  /** Per-evidence source scores (sc:433-437): one column per source holding
    * the evidence's score from that source, missing → 0, on every row of
    * the evidence. One window over evs_id computes them in the evidence
    * scan itself: no second scan to join a per-evidence pivot back to.
    * Explicit source list — no distinct-values driver job.
    *
    * evidences: (evs_id, datasource, score, …). Output: every input row and
    * column, plus <src>... .
    */
  def evidenceScores(evidences: DataFrame, datasources: Seq[String]): DataFrame = {
    val byEvidence = Window.partitionBy(col("evs_id"))
    evidences.select(col("*") +: datasources.map(src => coalesce(
      first(when(col("datasource") === src, col("score")), ignoreNulls = true)
        .over(byEvidence),
      lit(0.0)).as(src)): _*)
  }

  /** 1-hop reflexive propagation (sc:448-450, 462-464): each evidence row
    * fans out to the target's neighbourhood ∪ {itself}. neighbours side comes
    * from networkLut.
    */
  def propagate(evs: DataFrame, lut: DataFrame): DataFrame =
    evs
      .join(lut.select(col("target_id"), col("neighbours")), Seq("target_id"))
      .withColumn("propagated_id",
        explode(array_union(col("neighbours"), array(col("target_id")))))
      .drop("neighbours")

  /** Association scoring (sc:293-338): group by the association keys,
    * per-source top-100 harmonic folds, literature ×0.2 cross-source combine,
    * threshold. graft.functions.TopKAgg bounds the aggregation buffer to K
    * scores on the map side — the shuffle carries at most K doubles per
    * (group, partition), where collect_list+slice would ship every evidence
    * row before truncating.
    *
    * Input needs columns: keys..., evs_id, genetics, europepmc.
    */
  def makeAssociations(evs: DataFrame, keys: Seq[Column],
                       threshold: Option[Double] = Some(0.1)): DataFrame = {
    val scored = evs
      .groupBy(keys: _*)
      .agg(
        count(col("evs_id")).as("evidence_count"),
        graft.functions.TopKAgg.topK(col("genetics"), 100).as("genetics_topk"),
        graft.functions.TopKAgg.topK(col("europepmc"), 100).as("literature_topk"))
      .withColumn("harmonic_genetics", Scoring.harmonicFold(col("genetics_topk")))
      // the reference names the europepmc-sourced fold "literature"
      // (sc:298, 312) — the sink schema carries harmonic_literature
      .withColumn("harmonic_literature", Scoring.harmonicFold(col("literature_topk")))
      .withColumn("harmonic",
        Scoring.harmonicCombine(col("harmonic_genetics"), col("harmonic_literature")))
      .drop("genetics_topk", "literature_topk")
    // None = whitelist mode: the reference keeps every association (sc:441-445).
    threshold.fold(scored)(t => scored.where(col("harmonic") > t))
  }

  /** Decoration columns are optional on tiny spec worlds: null-typed when
    * the input frame doesn't carry them, so bundle structs keep a stable
    * schema without forcing every caller to materialize every column.
    */
  private def withNullArrays(df: DataFrame, cols: String*): DataFrame =
    cols.foldLeft(df) { (d, c) =>
      if (d.columns.contains(c)) d
      else d.withColumn(c, lit(null).cast("array<string>"))
    }

  /** Drugs-for-disease bundle (sc:385-400): drugs ⟕ AE profiles ⟖
    * aggregations (right outer keeps aggregation rows without a drug record —
    * the reference's one right join, J8), nested per disease. The struct
    * carries indication_ids (sc:392) — the JSON sink's
    * disease_indication_from_drugs derives from it (sc:488) — and the
    * aggregation's associated id lists ride along per disease via first()
    * (sc:398-399).
    *
    * drugs: (drug_id, drug_name, max_clinical_trial_phase, indication_ids
    * array); aesByDrug: (drug_id, aes array<struct>); aggregations:
    * (drug_id, disease_id[, associated_disease_ids, associated_target_ids]).
    * Output: (disease_id, drugs_for_disease array<struct>,
    * associated_disease_ids, associated_target_ids).
    */
  def drugsForDisease(drugs: DataFrame, aesByDrug: DataFrame,
                      aggregations: DataFrame): DataFrame = {
    val agg = withNullArrays(aggregations,
      "associated_disease_ids", "associated_target_ids")
    drugs
      .transform(withNullArrays(_, "indication_ids"))
      .join(aesByDrug, Seq("drug_id"), "left_outer")
      .join(agg, Seq("drug_id"), "right_outer")
      .groupBy(col("disease_id"))
      .agg(
        collect_list(struct(
          col("drug_id"), col("drug_name"), col("max_clinical_trial_phase"),
          col("indication_ids"), col("aes"))).as("drugs_for_disease"),
        first(col("associated_disease_ids")).as("associated_disease_ids"),
        first(col("associated_target_ids")).as("associated_target_ids"))
  }

  /** Drugs-by-mechanism-of-action bundle (sc:407-421): explode each drug's
    * MoA target list, nest per target, decorate with target-level AE
    * profiles. The struct carries max_clinical_trial_phase and
    * indication_ids (sc:415, 418) — the JSON sink's
    * target_max_clinical_trial_phase_from_drugs derives from it (sc:490).
    *
    * drugs: (drug_id, drug_name, max_clinical_trial_phase, indication_ids,
    * target_ids array<string>, ...); aesByTarget: (target_id, aes
    * array<struct>).
    * Output: (target_id, drugs_for_target array<struct>, target_aes).
    */
  def drugsForTarget(drugs: DataFrame, aesByTarget: DataFrame): DataFrame =
    drugs
      .transform(withNullArrays(_, "indication_ids"))
      .where(size(col("target_ids")) > 0)
      .withColumn("target_id", explode(col("target_ids")))
      .groupBy(col("target_id"))
      .agg(collect_list(struct(
        col("drug_id"), col("drug_name"), col("max_clinical_trial_phase"),
        col("indication_ids"))).as("drugs_for_target"))
      .join(aesByTarget.withColumnRenamed("aes", "target_aes"),
        Seq("target_id"), "left_outer")

  /** New-drug hypotheses (sc:457-472): drugs reaching the target minus drugs
    * already used for the disease — array_except ≡ anti-join at the array
    * level (U6).
    *
    * Faithful to the reference: a null drugs_for_disease bundle makes
    * array_except (and hence new_drugs / new_drugs_size) null, so those rows
    * are DROPPED by the size gate in open mode — a disease with no existing
    * drugs yields no hypotheses (sc:457, 470-472). Whitelist mode skips the
    * gate (`dropEmpty = false`, sc:458) and keeps them with null new_drugs;
    * the downstream explode drops them from scoring.
    *
    * associations decorated with drugs_for_disease / drugs_for_target structs.
    */
  def newDrugs(assoc: DataFrame, dropEmpty: Boolean = true): DataFrame = {
    val withNew = assoc
      .withColumn("new_drugs",
        array_except(col("drugs_for_target.drug_id"), col("drugs_for_disease.drug_id")))
      .withColumn("new_drugs_size", size(col("new_drugs")).cast("long"))
    if (dropEmpty) withNew.where(col("new_drugs_size") > 0) else withNew
  }

  /** AE-profile containment score (sc:499-509): per hypothesis drug,
    * asymmetric differences vs the disease AE profile, blend 0.4/0.6.
    *
    * The reference ran Spark 2.4 non-ANSI, where x/0 → null → dropped by the
    * final filter. Spark 4 defaults to ANSI mode, where double division by
    * zero THROWS — so the empty-profile case (size == 0) is guarded with
    * `when`, producing the same null-then-dropped outcome under both modes.
    *
    * DELIBERATE DEVIATION for NULL profiles (missing AE data): Spark 2.4's
    * legacy size(null) = -1 sentinel made the reference score a null side
    * as 1 − (−1/−1) = 0.0 — and inflate the OPPOSITE side to 1 + 1/n via
    * size(array_except(x, null)) = −1 — so rows with a missing profile were
    * KEPT with scores that can exceed 1. Here size(null) is null, the blend
    * is null, and the row drops: unscorable beats sentinel-arithmetic
    * scores. Asserted in DrugDiseaseSpec ("missing AE profile drops").
    *
    * aeContainment is one direction — the fraction of `a` covered by `b`
    * (sc:503, 505) — and the JSON sink's two sub-score columns;
    * aeSimilarity is the 0.4/0.6 blend.
    */
  def aeContainment(a: Column, b: Column): Column =
    when(size(a) > 0,
      lit(1.0) - size(array_except(a, b)).cast("double") / size(a).cast("double"))

  def aeSimilarity(drugAes: Column, diseaseAes: Column): Column =
    lit(0.4) * aeContainment(drugAes, diseaseAes) +
      lit(0.6) * aeContainment(diseaseAes, drugAes)

  /** Hypothesis scoring (sc:496-511): explode hypotheses, join each
    * candidate drug's AE profile (broadcast LUT, the reference's cachedAEs),
    * emit BOTH containment sub-scores plus the 0.4/0.6 blend — the JSON
    * sink's exact score columns (sc:502-508) — keep > 0.
    *
    * hyp: any frame with (hypotheses array<string>, disease_aes_from_drugs)
    * — every other column passes through to the sink; drugAeLut: (drug_id,
    * aes).
    */
  def scoreHypotheses(hyp: DataFrame, drugAeLut: DataFrame): DataFrame = {
    val lut = broadcast(drugAeLut
      .select(col("drug_id"), col("aes").as("drug_hypothesis_aes")))
    hyp
      .withColumn("drug_hypothesis", explode(col("hypotheses")))
      .join(lut, col("drug_hypothesis") === lut("drug_id"), "left_outer")
      .drop("drug_id")
      .withColumn("drug_hypothesis_aes_score",
        aeContainment(col("drug_hypothesis_aes"), col("disease_aes_from_drugs")))
      .withColumn("disease_aes_score",
        aeContainment(col("disease_aes_from_drugs"), col("drug_hypothesis_aes")))
      .withColumn("drug_hypothesis_disease_aes_score",
        (lit(0.4) * col("drug_hypothesis_aes_score") +
          lit(0.6) * col("disease_aes_score")) / lit(1.0))
      .where(col("drug_hypothesis_disease_aes_score") > 0.0)
  }
}
