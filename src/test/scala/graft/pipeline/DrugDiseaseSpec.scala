package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Reference-pipeline semantics on tiny literal frames: the traps listed in
  * SURVEY §7.4 — right_outer nulls (J8), reflexive propagation, array_except
  * hypotheses, AE-containment null propagation (sc:503-509).
  */
class DrugDiseaseSpec extends SparkSpec {
  import spark.implicits._

  test("networkLut translates accessions and builds sorted adjacency") {
    val edges = Seq(("P1", "P2"), ("P2", "P3")).toDF("A", "B")
    val genes = Seq(("P1", "G1"), ("P2", "G2"), ("P3", "G3")).toDF("accession", "id")
    val lut = DrugDisease.networkLut(edges, genes)
      .select(col("target_id"), col("neighbours"), col("degree"))
      .as[(String, Seq[String], Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(lut("G1") == ((Seq("G2"), 1L)))
    assert(lut("G2") == ((Seq("G1", "G3"), 2L)))
    assert(lut("G3") == ((Seq("G2"), 1L)))
  }

  test("diseaseOntology flattens path_codes and inverts to descendants") {
    val diseases = Seq(
      ("D1", Seq(Seq("D1"), Seq("D0", "D1"))),
      ("D0", Seq(Seq("D0")))
    ).toDF("id", "path_codes")
    val ont = DrugDisease.diseaseOntology(diseases)
      .as[(String, Seq[String], Seq[String])].collect()
      .map(r => r._1 -> ((r._2.toSet, r._3))).toMap
    assert(ont("D1") == ((Set("D1", "D0"), Seq("D1"))))
    assert(ont("D0") == ((Set("D0"), Seq("D0", "D1"))))
  }

  private val sources = Seq("genetics", "europepmc")

  test("evidenceScores keeps every row and fills missing sources with 0") {
    val evs = Seq(
      ("e1", "genetics", 0.5), ("e1", "europepmc", 0.3), ("e2", "genetics", 0.2)
    ).toDF("evs_id", "datasource", "score")
    val scores = DrugDisease.evidenceScores(evs, sources)
      .select(col("evs_id"), col("genetics"), col("europepmc"))
      .as[(String, Double, Double)].collect().sorted.toSeq
    assert(scores == Seq(("e1", 0.5, 0.3), ("e1", 0.5, 0.3), ("e2", 0.2, 0.0)))
  }

  test("evidenceScores: a null score fills as 0.0") {
    val evs = Seq(("e1", "genetics", None), ("e2", "europepmc", Some(0.4)))
      .toDF("evs_id", "datasource", "score")
    val scores = DrugDisease.evidenceScores(evs, sources)
      .select(col("evs_id"), col("genetics"), col("europepmc"))
      .as[(String, Double, Double)].collect().toSet
    assert(scores == Set(("e1", 0.0, 0.0), ("e2", 0.0, 0.4)))
  }

  test("evidenceScores: an evs_id with both sources keeps both rows") {
    val evs = Seq(("e1", "genetics", 0.5), ("e1", "europepmc", 0.3))
      .toDF("evs_id", "datasource", "score")
    val rows = DrugDisease.evidenceScores(evs, sources)
      .as[(String, String, Double, Double, Double)].collect().sortBy(_._2).toSeq
    // each input row passes through whole, with both sources' scores added
    assert(rows == Seq(
      ("e1", "europepmc", 0.3, 0.5, 0.3),
      ("e1", "genetics", 0.5, 0.5, 0.3)))
  }

  test("evidenceScores equals the pivot joined back to the evidence rows") {
    val evs = Seq[(String, String, String, String, Option[Double])](
      ("e1", "T1", "D1", "genetics", Some(0.5)),
      ("e1", "T1", "D1", "europepmc", Some(0.3)),
      ("e2", "T1", "D2", "genetics", Some(0.2)),
      ("e3", "T2", "D1", "europepmc", Some(0.9)),
      ("e4", "T2", "D2", "genetics", None),
      ("e5", "T3", "D1", "chembl", Some(0.7)),
      ("e6", "T3", "D2", "europepmc", Some(0.1)),
      ("e6", "T3", "D2", "chembl", Some(0.6))
    ).toDF("evs_id", "target_id", "disease_id", "datasource", "score")
    // the form evidenceScores replaced, verbatim: pivot per evs_id, joined
    // back to a second read of the evidence rows
    val pivot = evs.select(col("evs_id"), col("datasource"), col("score"))
      .groupBy(col("evs_id"))
      .pivot("datasource", sources)
      .agg(first(col("score")))
      .na.fill(0.0)
    val old = evs.select(col("evs_id"), col("target_id"), col("disease_id"))
      .join(pivot, Seq("evs_id"))
    val cols = Seq("evs_id", "target_id", "disease_id", "genetics", "europepmc").map(col)
    def rows(df: DataFrame) =
      df.select(cols: _*).as[(String, String, String, Double, Double)].collect().sorted.toSeq
    val expected = rows(old)
    assert(expected.length == evs.count())
    assert(rows(DrugDisease.evidenceScores(evs, sources)) == expected)
  }

  test("propagate fans each evidence to neighbourhood plus self") {
    val evs = Seq(("T1", "e1")).toDF("target_id", "evs_id")
    val lut = Seq(("T1", Seq("T2", "T3"))).toDF("target_id", "neighbours")
    val prop = DrugDisease.propagate(evs, lut)
      .select(col("propagated_id")).as[String].collect().toSet
    assert(prop == Set("T1", "T2", "T3"))
  }

  test("makeAssociations: count, top-K harmonic, weighted combine, threshold") {
    val evs = Seq(
      ("T1", "D1", "e1", 1.0, 0.5),
      ("T1", "D1", "e2", 0.5, 0.0),
      ("T2", "D1", "e3", 0.01, 0.0) // harmonic 0.01 + 0 -> filtered at 0.1
    ).toDF("target_id", "disease_id", "evs_id", "genetics", "europepmc")
    val assoc = DrugDisease.makeAssociations(evs, Seq(col("target_id"), col("disease_id")))
      .select(col("target_id"), col("evidence_count"), col("harmonic"))
      .as[(String, Long, Double)].collect()
    assert(assoc.length == 1)
    val (t, n, h) = assoc.head
    assert(t == "T1" && n == 2L)
    // genetics [1.0,0.5] -> 1.125; europepmc [0.5,0.0] -> 0.5; combine:
    // lit*0.2=0.1 -> sorted [1.125, 0.1] -> 1.125 + 0.1/4
    assert(math.abs(h - 1.15) < 1e-12)
  }

  test("drugsForDisease keeps aggregation rows without drug records (right_outer)") {
    val drugs = Seq(("d1", "Aspirin", 4L)).toDF("drug_id", "drug_name", "max_clinical_trial_phase")
    val aes = Seq(("d1", Seq("headache"))).toDF("drug_id", "aes")
    val agg = Seq(("d1", "D1"), ("dX", "D1")).toDF("drug_id", "disease_id")
    val bundle = DrugDisease.drugsForDisease(drugs, aes, agg)
    val row = bundle.where(col("disease_id") === "D1").head()
    val ds = row.getSeq[Row](row.fieldIndex("drugs_for_disease"))
    assert(ds.length == 2)
    val byId = ds.map(r => r.getAs[String]("drug_id") -> r).toMap
    assert(byId("d1").getAs[String]("drug_name") == "Aspirin")
    assert(byId("dX").getAs[String]("drug_name") == null) // right-outer null fields
  }

  test("newDrugs = target drugs minus disease drugs; null disease bundle drops (sc:457,470-472)") {
    val assoc = Seq(
      ("T1", "D1",
        Seq(("d1", "n1"), ("d2", "n2")), // drugs_for_target
        Seq(("d2", "n2"))),              // drugs_for_disease
      ("T2", "D2", Seq(("d3", "n3")), null)
    ).toDF("target_id", "disease_id", "drugs_for_target", "drugs_for_disease")
      .withColumn("drugs_for_target",
        transform(col("drugs_for_target"),
          s => struct(s.getField("_1").as("drug_id"), s.getField("_2").as("drug_name"))))
      .withColumn("drugs_for_disease",
        transform(col("drugs_for_disease"),
          s => struct(s.getField("_1").as("drug_id"), s.getField("_2").as("drug_name"))))
    // Open mode: array_except against the null bundle -> null -> size gate
    // drops T2 — a disease with no existing drugs yields no hypotheses,
    // exactly as the reference's Spark 2.4 size(null) = -1 did.
    val nd = DrugDisease.newDrugs(assoc)
      .select(col("target_id"), col("new_drugs")).as[(String, Seq[String])]
      .collect().toMap
    assert(nd == Map("T1" -> Seq("d1")))
    // Whitelist mode (no size gate, sc:458): T2 survives with null new_drugs;
    // the downstream explode drops it from scoring.
    val ndWl = DrugDisease.newDrugs(assoc, dropEmpty = false)
      .select(col("target_id"), col("new_drugs")).as[(String, Seq[String])]
      .collect().toMap
    assert(ndWl("T1") == Seq("d1") && ndWl("T2") == null)
  }

  test("scoreHypotheses: empty profiles score null (no ANSI divide-by-zero crash)") {
    val hyp = Seq(
      ("D1", "T1", Seq("d1"), Seq.empty[String]),    // empty disease profile
      ("D2", "T2", Seq("dEmpty"), Seq("a1"))         // empty drug profile
    ).toDF("disease_id", "target_id", "hypotheses", "disease_aes_from_drugs")
    val lut = Seq(("d1", Seq("a1")), ("dEmpty", Seq.empty[String]))
      .toDF("drug_id", "aes")
    // Under Spark 4's default ANSI mode an unguarded double division by zero
    // throws SparkArithmeticException; the guard must yield null -> dropped.
    val out = DrugDisease.scoreHypotheses(hyp, lut).collect()
    assert(out.isEmpty)
  }

  test("scoreHypotheses: containment blend; missing AE profile drops via null") {
    val hyp = Seq(
      ("D1", "T1", Seq("d1"), Seq("a1", "a2")),
      ("D2", "T2", Seq("dMissing"), Seq("a1"))
    ).toDF("disease_id", "target_id", "hypotheses", "disease_aes_from_drugs")
    val lut = Seq(("d1", Seq("a1", "a3"))).toDF("drug_id", "aes")
    val out = DrugDisease.scoreHypotheses(hyp, lut)
      .select(col("disease_id"), col("drug_hypothesis"),
        col("drug_hypothesis_disease_aes_score"))
      .as[(String, String, Double)].collect()
    // d1: s1 = 1-|{a3}|/2 = 0.5 ; s2 = 1-|{a2}|/2 = 0.5 ; 0.4*0.5+0.6*0.5
    assert(out.toSeq == Seq(("D1", "d1", 0.5)))
    // dMissing: null AE profile -> null score -> filtered (sc:509 behavior)
  }
}
