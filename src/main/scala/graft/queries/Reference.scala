package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{MinKDistinctAgg, TopKAgg}
import graft.ops.{Core, Graph, Scoring}

/** Reference-pipeline semantics (SURVEY.md §2.4-2.8, §3) re-expressed over
  * the TESTDATA star schema: lineitem/orders play evidences, supplier plays
  * target, o_orderpriority plays disease, nation/region play the ontology.
  */
object Reference {
  import Core.table

  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    // THE flagship: the reference's association scoring (sc:293-338,433-437)
    // — per-evidence source scores (pivot+fill-0 shape), groupBy association
    // keys, per-source top-100 harmonic folds, weighted cross-source combine
    // (literature ×0.2, re-ranked), threshold filter. The bounded TopKAgg
    // keeps at most 100 scores in the map-side buffer, so the association
    // shuffle carries K doubles per (group, partition) — not every evidence
    // row (collect_list+slice would truncate only AFTER the exchange).
    "q_ref_associations" -> ((s, d) => {
      // spread: the broadcast join + the two TopKAgg-100 partial aggs all
      // run in the fact scan's single task on the fixture layout
      // (Core.spread doc; no-op on wide inputs; probe refspread ~1.25×)
      val li = Core.spread(table(s, d, "lineitem"))
      val o = table(s, d, "orders")
      val evs = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .select(
          col("l_suppkey").as("target_id"),
          col("o_orderpriority").as("disease_id"),
          when(col("l_returnflag") === "R", col("l_discount")).otherwise(lit(0.0))
            .as("genetics"),
          when(col("l_returnflag") =!= "R", col("l_discount")).otherwise(lit(0.0))
            .as("europepmc")
        )
      evs.groupBy(col("target_id"), col("disease_id"))
        .agg(
          count(lit(1)).as("evidence_count"),
          TopKAgg.topK(col("genetics"), 100).as("g_topk"),
          TopKAgg.topK(col("europepmc"), 100).as("l_topk")
        )
        // Hoist the per-source folds to attributes BEFORE the combine:
        // harmonicCombine references each argument ~3x (array + guard +
        // fold), and Catalyst re-evaluates repeated non-attribute
        // subexpressions — inlined, each interpreted fold ran 6x per row.
        .select(
          col("target_id"), col("disease_id"), col("evidence_count"),
          Scoring.harmonicFold(col("g_topk")).as("g_h"),
          Scoring.harmonicFold(col("l_topk")).as("l_h"))
        .select(
          col("target_id"), col("disease_id"), col("evidence_count"),
          round(Scoring.harmonicCombine(col("g_h"), col("l_h")), 6)
            .as("harmonic")
        )
        .where(col("harmonic") > 0.1)
    }),

    // The composed second half of the reference pipeline (sc:478-509) over
    // the star schema: customer=disease, supplier=target, part=drug.
    // "New drugs" = parts the supplier ships minus parts the customer
    // already ordered (array_except), top-5 hypotheses per pair; AE-profile
    // containment scores between part and customer priority profiles,
    // 0.4/0.6 blend, threshold. Candidate generation is bounded BEFORE the
    // pair join — 20 smallest part ids per supplier — so the (pair ×
    // part-set) blowup ships 20 longs per pair, not the full set (the
    // unbounded form moved ~75M candidate rows at sf0.1 and took 35s).
    "q_pipeline_drug_disease" -> ((s, d) => drugDiseasePipeline(s, d)),

    // Front-gated pipeline: the r12 1000× split's named lever ("shrink
    // the hypothesis space BEFORE the pair joins") as a first-class
    // variant — pairs backed by < 3 F-status fact rows drop ahead of the
    // candidate expansion and mask joins, so every downstream row they
    // would produce is never paid for (priced in SCALE.md r13).
    "q_pipeline_dd_gated" -> ((s, d) => drugDiseasePipelineGated(s, d, 3L)),

    // Whitelist pipeline mode (sc:439-459): evidences restricted to
    // whitelisted diseases and RE-KEYED by whitelist id — associations
    // aggregate per (target, whitelist group) instead of per disease. The
    // whitelist is a broadcast dimension, exactly as in DrugDisease.run.
    "q_ref_assoc_whitelist" -> ((s, d) => {
      val li = table(s, d, "lineitem")
      val o = table(s, d, "orders")
      val evs = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .select(
          col("l_suppkey").as("target_id"),
          col("o_orderpriority").as("disease_id"),
          when(col("l_returnflag") === "R", col("l_discount")).otherwise(lit(0.0))
            .as("genetics"),
          when(col("l_returnflag") =!= "R", col("l_discount")).otherwise(lit(0.0))
            .as("europepmc"))
      // whitelist: urgent-ish priorities collapse into W1/W2 groups
      val wl = o.select(col("o_orderpriority").as("disease_id")).distinct()
        .where(substring(col("disease_id"), 1, 1).isin("1", "2", "3"))
        .select(col("disease_id"),
          concat(lit("W"), substring(col("disease_id"), 1, 1)).as("whitelist_id"))
      evs.join(broadcast(wl), Seq("disease_id"))
        .groupBy(col("target_id"), col("whitelist_id"))
        .agg(
          count(lit(1)).as("evidence_count"),
          TopKAgg.topK(col("genetics"), 100).as("g_topk"),
          TopKAgg.topK(col("europepmc"), 100).as("l_topk"))
        // Same fold-hoist as q_ref_associations: attributes, not inlined
        // fold trees, feed the combine (Catalyst duplicates the latter).
        .select(
          col("target_id"), col("whitelist_id"), col("evidence_count"),
          Scoring.harmonicFold(col("g_topk")).as("g_h"),
          Scoring.harmonicFold(col("l_topk")).as("l_h"))
        .select(
          col("target_id"), col("whitelist_id"), col("evidence_count"),
          round(Scoring.harmonicCombine(col("g_h"), col("l_h")), 6)
            .as("harmonic"))
        .where(col("harmonic") > 0.1)
    }),

    // Custom whole-operator extension: backward AS-OF join (the classic
    // operator Spark's built-ins lack) — every event picks the latest
    // signup at-or-before its timestamp per user. Runs through the
    // graft AsOfJoinPlan/Strategy/Exec (one merge pass over co-partitioned
    // sorted sides); DuckDB verifies with its native ASOF LEFT JOIN.
    "q_asof_join" -> ((s, d) => {
      import org.apache.spark.sql.graft.AsOf
      val ev = table(s, d, "events")
      val left = ev.select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val right = ev.where(col("event_type") === "signup")
        .groupBy(col("user_id").as("r_user"), col("ts").as("r_ts"))
        .agg(round(max(col("value")), 4).as("r_value"))
      AsOf.join(left, right, "user_id", "r_user", "ts", "r_ts")
        .select(col("event_id"), col("user_id"),
          round(col("value"), 4).as("value"), col("r_value"))
    }),

    // U2: unionByName across differently-ordered projections.
    "q_union_byname" -> ((s, d) => {
      val o = table(s, d, "orders")
      val a = o.where(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      val b = o.where(col("o_orderstatus") =!= "F")
        .select(col("o_orderstatus"), col("o_orderkey"), col("o_totalprice"))
      a.unionByName(b)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_rows"), round(sum(col("o_totalprice")), 2).as("sum_price"))
    }),

    // U6 array form: per-customer "new parts" = parts in F-orders minus
    // parts in O-orders (array_except ≡ anti-join, sc:457/470).
    "q_array_except_newparts" -> ((s, d) => {
      val li = table(s, d, "lineitem")
      val o = table(s, d, "orders")
      def custParts(status: String) =
        li.join(o, li("l_orderkey") === o("o_orderkey"))
          .where(col("o_orderstatus") === status)
          .groupBy(col("o_custkey"))
          .agg(collect_set(col("l_partkey")).as(s"parts_$status"))
      custParts("F").join(custParts("O"), Seq("o_custkey"), "left_outer")
        .select(
          col("o_custkey"),
          explode(array_except(col("parts_F"),
            coalesce(col("parts_O"), array().cast("array<bigint>")))).as("new_part"))
    }),

    // U6 relational form: identical semantics via left_anti — the
    // equivalence pair for the array version above (same oracle).
    "q_left_anti_newparts" -> ((s, d) => {
      val li = table(s, d, "lineitem")
      val o = table(s, d, "orders")
      def custParts(status: String) =
        li.join(o, li("l_orderkey") === o("o_orderkey"))
          .where(col("o_orderstatus") === status)
          .select(col("o_custkey"), col("l_partkey")).distinct()
      custParts("F")
        .join(custParts("O"), Seq("o_custkey", "l_partkey"), "left_anti")
        .select(col("o_custkey"), col("l_partkey").as("new_part"))
    }),

    // A3: ontology transitive-closure inversion (ancestors → descendants,
    // sc:178-184) on the nation→region hierarchy (self is its own ancestor).
    "q_ontology_descendants" -> ((s, d) => {
      val n = table(s, d, "nation")
      val r = table(s, d, "region")
      val withAncestors = n.join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .select(col("n_name").as("id"), array(col("n_name"), col("r_name")).as("ancestors"))
      // Serialized for the driver compare; invertClosure itself stays array-typed.
      Graph.invertClosure(withAncestors, "id", "ancestors")
        .select(col("ancestor"), array_join(col("descendants"), ",").as("descendants"))
    }),

    // A4/F6: struct-valued collect_list ordered by a field, plus a lambda
    // filter over the struct array (sc:248-254, 84-86).
    "q_struct_collect" -> ((s, d) => {
      table(s, d, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sort_array(collect_list(struct(col("l_linenumber"), col("l_quantity"))))
          .as("items"))
        .select(
          col("l_orderkey"),
          // array_join: serialized for the driver compare (raw arrays break
          // its pandas sort); the struct-array agg above is the operator.
          array_join(
            transform(col("items"),
              t => concat_ws(":", t.getField("l_linenumber"), t.getField("l_quantity"))),
            ",").as("item_strs"),
          size(filter(col("items"), t => t.getField("l_quantity") > 25))
            .cast("long").as("n_big_items")
        )
    }),

    // A7 "any value per key" made deterministic: min_by / max_by.
    "q_min_by" -> ((s, d) => {
      table(s, d, "orders")
        .groupBy(col("o_custkey"))
        .agg(
          min_by(col("o_orderstatus"), col("o_orderkey")).as("first_status"),
          max_by(col("o_totalprice"), col("o_orderkey")).as("latest_price")
        )
    }),

    // O3: global top-N (TakeOrderedAndProject — no full sort at scale).
    "q_limit_topn" -> ((s, d) => {
      table(s, d, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .select(col("o_orderkey"), col("o_totalprice"))
        .limit(20)
    }),

    // A1: HLL++ approximate distinct next to the exact count — driver gets
    // a rows-only check (no oracle: estimator values are engine-specific).
    // `within_3rsd` makes the row self-certifying: the estimate must land
    // inside 3× the default 5% relative standard deviation — an invariant
    // of the estimator for ANY partitioning/merge order, same contract
    // style as q_agg_heavyhitters' ε-bound.
    "q_approx_distinct" -> ((s, d) => {
      table(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          approx_count_distinct(col("l_partkey")).as("approx_parts"),
          countDistinct(col("l_partkey")).as("exact_parts")
        )
        .withColumn("within_3rsd",
          abs(col("approx_parts") - col("exact_parts")).cast("double")
            / col("exact_parts") <= 0.15)
    }),

    // sc:218: deterministic synthetic evidence id sha1(concat(...)) —
    // rows-only (DuckDB 1.0 lacks sha1); md5 variant is oracle-checked in
    // q_scalar_hash.
    "q_evidence_sha1" -> ((s, d) => {
      table(s, d, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        sha1(concat_ws("_",
          col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey")))
          .as("evs_id")
      )
    }),

    // Same evidence-id construction under the FULL hash gate: DuckDB has
    // sha256 (unlike sha1), so this twin oracle-checks the concat_ws key
    // assembly + hex digest end to end; q_evidence_sha1 stays for
    // reference fidelity (sc:218 uses sha1) as a rows-only entry.
    "q_evidence_sha256" -> ((s, d) => {
      table(s, d, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        sha2(concat_ws("_",
          col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey")), 256)
          .as("evs_id")
      )
    })
  )

  val oracle: Map[String, String] = Map(
    "q_asof_join" ->
      """WITH e AS (
        |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
        |r AS (
        |  SELECT user_id AS r_user, CAST(ts AS TIMESTAMP) AS r_ts,
        |    round(max(value), 4) AS r_value
        |  FROM events WHERE event_type = 'signup' GROUP BY 1, 2)
        |SELECT e.event_id, e.user_id, round(e.value, 4) AS value, r.r_value
        |FROM e ASOF LEFT JOIN r
        |  ON e.user_id = r.r_user AND e.ts >= r.r_ts""".stripMargin,

    "q_pipeline_drug_disease" -> ddPipelineOracle(
      "SELECT DISTINCT o_custkey, l_suppkey FROM lines WHERE o_orderstatus = 'F'"),

    // the front-gated variant: identical chain, pairs restricted to
    // >= 3 F-status fact rows — the r12-named 1000x lever as a
    // first-class user option under the same oracle discipline
    "q_pipeline_dd_gated" -> ddPipelineOracle(
      """SELECT o_custkey, l_suppkey FROM lines WHERE o_orderstatus = 'F'
        |  GROUP BY 1, 2 HAVING count(*) >= 3""".stripMargin),

    "q_ref_assoc_whitelist" ->
      """WITH evs AS (
        |  SELECT l_suppkey AS target_id, o_orderpriority AS disease_id,
        |    CASE WHEN l_returnflag = 'R' THEN l_discount ELSE 0.0 END AS genetics,
        |    CASE WHEN l_returnflag <> 'R' THEN l_discount ELSE 0.0 END AS europepmc
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |wl AS (
        |  SELECT DISTINCT o_orderpriority AS disease_id,
        |    'W' || substr(o_orderpriority, 1, 1) AS whitelist_id
        |  FROM orders WHERE substr(o_orderpriority, 1, 1) IN ('1', '2', '3')),
        |keyed AS (
        |  SELECT e.target_id, w.whitelist_id, e.genetics, e.europepmc
        |  FROM evs e JOIN wl w ON w.disease_id = e.disease_id),
        |ranked AS (
        |  SELECT target_id, whitelist_id, genetics, europepmc,
        |    row_number() OVER (PARTITION BY target_id, whitelist_id
        |      ORDER BY genetics DESC) AS rg,
        |    row_number() OVER (PARTITION BY target_id, whitelist_id
        |      ORDER BY europepmc DESC) AS rl
        |  FROM keyed),
        |h AS (
        |  SELECT target_id, whitelist_id,
        |    count(*) AS evidence_count,
        |    sum(CASE WHEN rg <= 100 THEN genetics / pow(rg, 2) ELSE 0 END) AS hg,
        |    sum(CASE WHEN rl <= 100 THEN europepmc / pow(rl, 2) ELSE 0 END) AS hl
        |  FROM ranked GROUP BY target_id, whitelist_id)
        |SELECT target_id, whitelist_id, evidence_count,
        |  round(greatest(hg, hl * 0.2) + least(hg, hl * 0.2) / 4, 6) AS harmonic
        |FROM h
        |WHERE round(greatest(hg, hl * 0.2) + least(hg, hl * 0.2) / 4, 6) > 0.1""".stripMargin,

    "q_ref_associations" ->
      """WITH evs AS (
        |  SELECT l_suppkey AS target_id, o_orderpriority AS disease_id,
        |    CASE WHEN l_returnflag = 'R' THEN l_discount ELSE 0.0 END AS genetics,
        |    CASE WHEN l_returnflag <> 'R' THEN l_discount ELSE 0.0 END AS europepmc
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |ranked AS (
        |  SELECT target_id, disease_id, genetics, europepmc,
        |    row_number() OVER (PARTITION BY target_id, disease_id
        |      ORDER BY genetics DESC) AS rg,
        |    row_number() OVER (PARTITION BY target_id, disease_id
        |      ORDER BY europepmc DESC) AS rl
        |  FROM evs),
        |h AS (
        |  SELECT target_id, disease_id,
        |    count(*) AS evidence_count,
        |    sum(CASE WHEN rg <= 100 THEN genetics / pow(rg, 2) ELSE 0 END) AS hg,
        |    sum(CASE WHEN rl <= 100 THEN europepmc / pow(rl, 2) ELSE 0 END) AS hl
        |  FROM ranked GROUP BY target_id, disease_id)
        |SELECT target_id, disease_id, evidence_count,
        |  round(greatest(hg, hl * 0.2) + least(hg, hl * 0.2) / 4, 6) AS harmonic
        |FROM h
        |WHERE round(greatest(hg, hl * 0.2) + least(hg, hl * 0.2) / 4, 6) > 0.1""".stripMargin,

    "q_union_byname" ->
      """SELECT o_orderstatus, count(*) AS n_rows, round(sum(o_totalprice), 2) AS sum_price
        |FROM orders GROUP BY o_orderstatus""".stripMargin,

    "q_array_except_newparts" ->
      """SELECT DISTINCT o_custkey, l_partkey AS new_part
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderstatus = 'F'
        |AND NOT EXISTS (
        |  SELECT 1 FROM lineitem l2 JOIN orders o2 ON l2.l_orderkey = o2.o_orderkey
        |  WHERE o2.o_orderstatus = 'O' AND o2.o_custkey = orders.o_custkey
        |    AND l2.l_partkey = lineitem.l_partkey)""".stripMargin,

    "q_left_anti_newparts" ->
      """SELECT DISTINCT o_custkey, l_partkey AS new_part
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderstatus = 'F'
        |AND NOT EXISTS (
        |  SELECT 1 FROM lineitem l2 JOIN orders o2 ON l2.l_orderkey = o2.o_orderkey
        |  WHERE o2.o_orderstatus = 'O' AND o2.o_custkey = orders.o_custkey
        |    AND l2.l_partkey = lineitem.l_partkey)""".stripMargin,

    "q_ontology_descendants" ->
      """SELECT ancestor, array_to_string(list_sort(list(DISTINCT id)), ',') AS descendants FROM (
        |  SELECT n_name AS id, n_name AS ancestor
        |  FROM nation JOIN region ON n_regionkey = r_regionkey
        |  UNION ALL
        |  SELECT n_name AS id, r_name AS ancestor
        |  FROM nation JOIN region ON n_regionkey = r_regionkey)
        |GROUP BY ancestor""".stripMargin,

    "q_struct_collect" ->
      """SELECT l_orderkey,
        |  array_to_string(list(concat_ws(':', l_linenumber, l_quantity)
        |    ORDER BY l_linenumber, l_quantity), ',') AS item_strs,
        |  CAST(count(*) FILTER (l_quantity > 25) AS BIGINT) AS n_big_items
        |FROM lineitem GROUP BY l_orderkey""".stripMargin,

    "q_min_by" ->
      """SELECT o_custkey,
        |  arg_min(o_orderstatus, o_orderkey) AS first_status,
        |  arg_max(o_totalprice, o_orderkey) AS latest_price
        |FROM orders GROUP BY o_custkey""".stripMargin,

    "q_limit_topn" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin,

    "q_evidence_sha256" ->
      """SELECT l_orderkey, l_linenumber,
        |  sha256(concat_ws('_', l_orderkey, l_linenumber, l_partkey, l_suppkey))
        |    AS evs_id
        |FROM lineitem""".stripMargin
    // q_approx_distinct, q_evidence_sha1: intentionally no oracle
    // (engine-specific HLL estimate / DuckDB lacks sha1) → rows-only check;
    // q_evidence_sha256 puts the same id construction under the hash gate.
  )

  // ---------------------------------------------------------------------
  // q_pipeline_drug_disease — the composed second half of the reference
  // pipeline (sc:478-509) over the star schema: customer=disease,
  // supplier=target, part=drug. "New drugs" = parts the supplier ships
  // minus parts the customer already ordered (array_except), top-5
  // hypotheses per pair; AE-profile containment scores between part and
  // customer priority profiles, 0.4/0.6 blend, threshold. Candidate
  // generation is bounded BEFORE the pair join — 20 smallest part ids per
  // supplier — so the (pair × part-set) blowup ships 20 longs per pair,
  // not the full set (the unbounded form moved ~75M candidate rows at
  // sf0.1 and took 35s).
  // ---------------------------------------------------------------------

  // Every derived frame below is BOUNDED-BUFFER or codegen'd by
  // construction — the r11 rewrite that removed the pipeline's three
  // unbounded collect_set aggregations. The original array form held the
  // full per-customer part set and per-key priority sets in object-agg
  // buffers: in hash mode that OOM'd a 64 GB heap at 1000x, in sort mode
  // it sorted 600M rows three times (SCALE.md r11). Now:
  //  - priority sets ride a <=64-value domain, so they aggregate as a
  //    BITMASK (bit_or of 1L<<idx): a codegen'd HashAggregate whose
  //    map-side partial is ONE LONG per key instead of a partial set;
  //  - the supplier's 20 smallest parts use the bounded MinKDistinctAgg
  //    (K longs per buffer, hash mode via BoundedAggFallback);
  //  - the per-customer owned-part array builds from the DISTINCT pair
  //    relation (codegen'd hash distinct over the fact rows, spillable),
  //    so the one remaining unbounded collect sorts ~200M pre-deduped
  //    pairs instead of 600M fact rows. (The fully relational
  //    explode + anti-join alternative was measured unviable at 1000×:
  //    196.7M pairs × 20 ≈ 3.9G candidate rows / ~110 GB of shuffle —
  //    two disk-kills; see ddCustParts.)
  // Set algebra on masks: |A \ B| = bit_count(A & ~B), |A| = bit_count(A)
  // — identical integers to the array form, hence identical doubles and
  // an unchanged oracle hash.

  /** The (<=64-value) o_orderpriority domain keyed to stable bit
    * positions — derived from the data (no hard-coded vocabulary),
    * collected ONCE to the driver (distinct's map-side partials reduce
    * 600M rows to the domain before the shuffle; the require guards the
    * bitmask's 64-bit capacity, so the collect is driver-bounded like the
    * KMeans-centroid sites) and rebroadcast as a literal dimension so the
    * two mask builds don't each re-scan lines for it.
    */
  private def ddPrioBits(s: SparkSession, lines: DataFrame): DataFrame = {
    import s.implicits._
    val domain = lines.select(col("o_orderpriority")).distinct()
      .orderBy(col("o_orderpriority"))
      .as[String].collect()
    require(domain.length <= 64,
      s"o_orderpriority domain has ${domain.length} values — " +
        "bitmask form holds at most 64")
    domain.toSeq.zipWithIndex.toDF("o_orderpriority", "prio_bit")
  }

  private def ddMask(lines: DataFrame, prioBits: DataFrame,
                     key: String, maskCol: String): DataFrame =
    lines.join(broadcast(prioBits), Seq("o_orderpriority"))
      .groupBy(col(key))
      .agg(bit_or(call_function("shiftleft", lit(1L), col("prio_bit")))
        .as(maskCol))

  private def ddSuppParts(lines: DataFrame): DataFrame =
    lines.where(col("o_orderstatus") === "F")
      .groupBy(col("l_suppkey"))
      .agg(MinKDistinctAgg.minK(col("l_partkey"), 20).as("parts_tgt"))

  /** The hypothesis-space key domain. `minEvidence` is the FRONT-SIDE
    * gate the r12 1000× split named as the only lever that can move the
    * pipeline wall (output cost measured ZERO; the cost is the staged
    * joins and the 983M-row assembly DOWNSTREAM of this domain): pairs
    * backed by fewer than `minEvidence` F-status fact rows drop here,
    * BEFORE the per-pair candidate expansion and mask joins, so every
    * downstream row they would have produced is never paid for. None =
    * the registered query's semantics (all distinct pairs); the gated
    * form is the Probe pipelinegate lever measurement, priced in
    * SCALE.md r13. Same shuffle either way — the gate swaps the distinct
    * for a count-HAVING on the identical keys, both codegen hash aggs.
    */
  private def ddPairs(lines: DataFrame,
                      minEvidence: Option[Long] = None): DataFrame =
    minEvidence match {
      case None =>
        lines.where(col("o_orderstatus") === "F")
          .select(col("o_custkey"), col("l_suppkey")).distinct()
      case Some(m) =>
        lines.where(col("o_orderstatus") === "F")
          .groupBy(col("o_custkey"), col("l_suppkey"))
          .agg(count(lit(1)).as("pair_ev"))
          .where(col("pair_ev") >= m)
          .select(col("o_custkey"), col("l_suppkey"))
    }

  /** Distinct (customer, part) pairs the customer already ordered — the
    * relational form of the old per-customer collect_set array.
    */
  private def ddOwnedParts(lines: DataFrame): DataFrame =
    lines.where(col("o_orderstatus") === "O")
      .select(col("o_custkey"), col("l_partkey")).distinct()

  /** Owned parts as a per-customer ARRAY, built from the distinct pair
    * relation: the distinct is a codegen'd (spillable) HashAggregate over
    * 600M fact rows, so the unbounded collect that follows sorts only the
    * ~200M distinct pairs — not the fact table — and only once. The array
    * form exists because the relational alternative (explode candidates ×
    * anti-join) was MEASURED unviable at 1000×: pairs ≈ 196.7M means
    * ~3.9G exploded candidate rows (~110 GB of anti-join shuffle, two
    * disk-kills on this box), where this in-row subtrahend ships ~13
    * longs per pair through one join. parts_dis is a SET (pre-distinct)
    * but deliberately unsorted — array_except only needs the LEFT side's
    * order.
    */
  private def ddCustParts(ownedParts: DataFrame): DataFrame =
    ownedParts.groupBy(col("o_custkey"))
      .agg(collect_list(col("l_partkey")).as("parts_dis"))

  /** Final hypothesis assembly over the key-sized derived frames — shared
    * verbatim by the recompute and staged paths, so the staged variant
    * can never drift semantically. In-row array_except against the
    * <=20-part ascending supplier slice, first 5 survivors (= 5 smallest,
    * left order preserved), explode, then mask-algebra containment
    * scores.
    */
  private def ddAssemble(suppParts: DataFrame, pairs: DataFrame,
                         custParts: DataFrame, partMask: DataFrame,
                         custMask: DataFrame): DataFrame = {
    val s1 = lit(1.0) -
      bit_count(col("part_mask").bitwiseAND(bitwise_not(col("cust_mask"))))
        .cast("double") / bit_count(col("part_mask"))
    val s2 = lit(1.0) -
      bit_count(col("cust_mask").bitwiseAND(bitwise_not(col("part_mask"))))
        .cast("double") / bit_count(col("cust_mask"))
    pairs
      .join(suppParts, Seq("l_suppkey"))
      .join(custParts, Seq("o_custkey"), "left_outer")
      .withColumn("new_parts",
        slice(array_except(col("parts_tgt"),
          coalesce(col("parts_dis"), array().cast("array<bigint>"))), 1, 5))
      .where(size(col("new_parts")) > 0)
      .withColumn("part_hypothesis", explode(col("new_parts")))
      .join(partMask, col("part_hypothesis") === partMask("l_partkey"))
      .join(custMask, Seq("o_custkey"))
      .select(col("o_custkey"), col("l_suppkey"), col("part_hypothesis"),
        round(lit(0.4) * s1 + lit(0.6) * s2, 6).as("ae_score"))
      .where(col("ae_score") > 0.5)
  }

  /** 5 consumers read the lineitem-orders fact join on 4 different agg
    * keys. Recompute-vs-stage is a COUNT-DERIVED decision (the
    * decon_sized sizing-pass pattern applied to materialization):
    *
    *  - BELOW the threshold, each consumer re-derives the join — at
    *    sf0.1 recomputing was measured 5× cheaper than a columnar cache
    *    fill (the broadcast join + pruned scans are nearly free). Plan
    *    unchanged from r10.
    *  - ABOVE it, a single-action DAG is a DISK bomb: Spark retains
    *    every stage's shuffle files for the lifetime of the job, so
    *    peak disk = the SUM of the five consumers' 600M-row shuffles
    *    (>200 GB, killed the r10 sf100 runs; the r10 persist bounded
    *    recompute but not retained shuffle). The staged form applies
    *    Streams.upsertBatch's materialize-then-read discipline: write
    *    the fact join to scratch parquet ONCE, then run each per-key
    *    aggregation as its OWN action over the (column-pruned) parquet
    *    and stage its key-sized result; a System.gc() between actions
    *    lets ContextCleaner drop the finished action's shuffle files, so
    *    peak disk ≈ the largest SINGLE shuffle + the staged parquet,
    *    not the sum. The final assembly joins only key-sized frames.
    *
    * The parquet-metadata count that picks the path is free.
    * `stageRows` is the threshold (tests force 0 to exercise the staged
    * path at fixture scale).
    */
  private[queries] def drugDiseasePipeline(
      s: SparkSession, d: String,
      stageRows: Long = 10000000L,
      minPairEvidence: Option[Long] = None): DataFrame = {
    // NOT spread (r15, measured): a spread of the fact side cost +1.5-2 s
    // here — the five linesBase consumers each pay the round-robin
    // exchange and its sort-before-repartition over 600k rows, which
    // beats nothing because each consumer's own first aggregation
    // already map-side-combines in the scan task. Counter-case to the
    // ref_associations win (whose per-row TopKAgg work is ~10× heavier).
    val li = table(s, d, "lineitem")
    val o = table(s, d, "orders")
    val linesBase = li.join(o, li("l_orderkey") === o("o_orderkey"))
      .select(col("o_custkey"), col("l_suppkey"), col("l_partkey"),
        col("o_orderstatus"), col("o_orderpriority"))
    if (li.count() > stageRows) {
      val root = Relational.scratchPath(s, d, "pipeline_dd")
      def stage(df: DataFrame, name: String): DataFrame = {
        df.write.mode("overwrite").parquet(s"$root/$name")
        // the staged action is complete: drop its shuffle files now
        // (ContextCleaner reaps on GC) instead of at session end
        System.gc()
        s.read.parquet(s"$root/$name")
      }
      val lines = stage(linesBase, "lines")
      val prio = ddPrioBits(s, lines)
      ddAssemble(
        stage(ddSuppParts(lines), "supp_parts"),
        stage(ddPairs(lines, minPairEvidence), "pairs"),
        stage(ddCustParts(stage(ddOwnedParts(lines), "owned_parts")),
          "cust_parts"),
        stage(ddMask(lines, prio, "l_partkey", "part_mask"), "part_mask"),
        stage(ddMask(lines, prio, "o_custkey", "cust_mask"), "cust_mask"))
    } else {
      val prio = ddPrioBits(s, linesBase)
      ddAssemble(ddSuppParts(linesBase), ddPairs(linesBase, minPairEvidence),
        ddCustParts(ddOwnedParts(linesBase)),
        ddMask(linesBase, prio, "l_partkey", "part_mask"),
        ddMask(linesBase, prio, "o_custkey", "cust_mask"))
    }
  }

  /** The gated pipeline: identical chain with the front-side
    * pair-evidence gate applied (see ddPairs). Registered as
    * q_pipeline_dd_gated (its own oracle).
    */
  private[graft] def drugDiseasePipelineGated(
      s: SparkSession, d: String, minPairEvidence: Long): DataFrame =
    drugDiseasePipeline(s, d, minPairEvidence = Some(minPairEvidence))

  /** The drug-disease pipeline oracle, parameterized on the pairs CTE so
    * the registered and front-gated variants share one SQL body.
    */
  private def ddPipelineOracle(pairsCte: String): String =
    s"""WITH lines AS (
       |  SELECT o_custkey, l_suppkey, l_partkey, o_orderstatus, o_orderpriority
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |cust_parts AS (
       |  SELECT DISTINCT o_custkey, l_partkey FROM lines WHERE o_orderstatus = 'O'),
       |supp_parts AS (
       |  SELECT l_suppkey, l_partkey FROM (
       |    SELECT l_suppkey, l_partkey,
       |      row_number() OVER (PARTITION BY l_suppkey ORDER BY l_partkey) AS prn
       |    FROM (SELECT DISTINCT l_suppkey, l_partkey FROM lines
       |          WHERE o_orderstatus = 'F'))
       |  WHERE prn <= 20),
       |pairs AS (
       |  $pairsCte),
       |new_parts AS (
       |  SELECT p.o_custkey, p.l_suppkey, sp.l_partkey,
       |    row_number() OVER (PARTITION BY p.o_custkey, p.l_suppkey
       |      ORDER BY sp.l_partkey) AS rn
       |  FROM pairs p JOIN supp_parts sp ON sp.l_suppkey = p.l_suppkey
       |  WHERE NOT EXISTS (
       |    SELECT 1 FROM cust_parts cp
       |    WHERE cp.o_custkey = p.o_custkey AND cp.l_partkey = sp.l_partkey)),
       |part_aes AS (SELECT DISTINCT l_partkey, o_orderpriority FROM lines),
       |cust_aes AS (SELECT DISTINCT o_custkey, o_orderpriority FROM lines),
       |pa_sz AS (SELECT l_partkey, count(*) AS pa FROM part_aes GROUP BY 1),
       |ca_sz AS (SELECT o_custkey, count(*) AS ca FROM cust_aes GROUP BY 1),
       |common AS (
       |  SELECT h.o_custkey, h.l_suppkey, h.l_partkey,
       |    (SELECT count(*) FROM part_aes x JOIN cust_aes y
       |       ON y.o_orderpriority = x.o_orderpriority
       |     WHERE x.l_partkey = h.l_partkey AND y.o_custkey = h.o_custkey) AS c
       |  FROM (SELECT * FROM new_parts WHERE rn <= 5) h)
       |SELECT cm.o_custkey, cm.l_suppkey, cm.l_partkey AS part_hypothesis,
       |  round(0.4 * (1.0 - CAST(pa - c AS DOUBLE) / pa)
       |      + 0.6 * (1.0 - CAST(ca - c AS DOUBLE) / ca), 6) AS ae_score
       |FROM common cm
       |JOIN pa_sz ON pa_sz.l_partkey = cm.l_partkey
       |JOIN ca_sz ON ca_sz.o_custkey = cm.o_custkey
       |WHERE round(0.4 * (1.0 - CAST(pa - c AS DOUBLE) / pa)
       |      + 0.6 * (1.0 - CAST(ca - c AS DOUBLE) / ca), 6) > 0.5""".stripMargin
}
