package graft

import org.apache.spark.sql.functions._

import graft.functions.VectorOps

/** Quality bound for the IVF ANN scale path: its top-3 must overlap the
  * exact brute-force top-3 well enough to be useful. Determinism is already
  * hash-checked by the oracle; this measures the APPROXIMATION quality the
  * oracle can't express — recall@3 against exact k-NN over the same probes.
  *
  * The corpus is near-random 64-d vectors (ANN-hostile: no cluster
  * structure for the quantizer to exploit), so the floor is set from
  * measurement with margin, not from IVF's behavior on real embeddings —
  * the test's job is to catch regressions in the candidate-generation
  * logic, which would crater recall toward the random-scan baseline
  * (nprobe/ncells ≈ 50%).
  */
class AnnRecallSpec extends GraftSpec {

  // All three IVF consumers: the 50-probe ANN row, the 100-probe bucketed
  // kNN (round-8: llm_knn_per_vector's scale path), and the round-12
  // hierarchical-assignment variant (two-level quantizer; a vector near a
  // super-cell boundary can land in a different cell than the flat argmax,
  // so its recall is the number this suite exists to bound) share the
  // candidate generation this suite guards.
  for (sf <- Seq(TestEnv.Sf001, TestEnv.Sf01);
       (qname, probeMax) <- Seq(("llm_ann_ivf", 50), ("llm_knn_bucketed", 100),
         ("llm_ann_hier", 50), ("llm_knn_hier", 100))) {
    test(s"$qname recall@3 vs exact k-NN at $sf") {
      val ann = SparkEntry.queries(qname)(spark, sf)
        .select(col("q_id"), col("n_id")).collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap

      val e = Tables.embeddings(spark, sf).select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      val probe = e.where(col("vec_id") < probeMax)
        .select(col("vec_id").as("q_id"), col("v").as("qv"))
      val base = e.select(col("vec_id").as("n_id"), col("v").as("nv"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("q_id")).orderBy(col("dot").desc, col("n_id"))
      val exact = probe.join(base, col("q_id") =!= col("n_id"))
        .select(col("q_id"), col("n_id"),
          VectorOps.dot(col("qv"), col("nv")).as("dot"))
        .withColumn("r", row_number().over(w)).where(col("r") <= 3)
        .select(col("q_id"), col("n_id")).collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap

      val hits = exact.map { case (q, truth) =>
        (ann.getOrElse(q, Set.empty) & truth).size
      }.sum
      val total = exact.values.map(_.size).sum
      val recall = hits.toDouble / total
      info(f"recall@3 = $recall%.3f ($hits/$total) at $sf")
      // With √N cells and nprobe ≈ ncells/4, the probed fraction is ~25%;
      // on THIS corpus (near-random vectors, no cluster structure) recall
      // can't rise much above that fraction — measured 0.49–0.58 flat.
      // The round-18 multi-probe routing (HierSupProbe = 4 super-cells
      // per vector) closed the hier rows' boundary-loss gap: measured
      // 0.467–0.560 (was 0.42–0.47 single-probe), llm_knn_hier at parity
      // with flat at sf0.01. Floor raised 0.40 → 0.44 (margin under the
      // 0.467 measured min); it guards candidate-generation regressions —
      // on clustered real embeddings IVF recall at the same nprobe is far
      // higher.
      assert(recall >= 0.44, f"recall@3 $recall%.3f below regression floor")
    }
  }

  // kNN-graph recall (round 14; re-celled round 15): every vector's top-3
  // among its SRP band bucket-mates (8 bands × ⌈log2(⌈N/64⌉)⌉ bits) vs
  // the exact all-pairs top-3 graph. At the test SFs (N=500) the
  // occupancy-targeted sizing gives 3-bit bands, so the 8-band union
  // covers most of the corpus per query — measured 0.875–0.895 (vs
  // 0.170–0.180 for the r14 √N hier cells, whose candidate phase was the
  // N^1.5 scale-killer the r14 verdict flagged). Recall naturally
  // declines toward the 8·64/N candidate fraction's union-probability as
  // N grows (the constant-occupancy trade); the floor guards the
  // candidate generator at THESE corpus sizes — a broken band assignment
  // collapses recall toward the random fraction.
  for (sf <- Seq(TestEnv.Sf001, TestEnv.Sf01)) {
    test(s"llm_knn_graph recall@3 vs the exact kNN graph at $sf") {
      val got = SparkEntry.queries("llm_knn_graph")(spark, sf)
        .select(col("q_id"), col("n_id")).collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap

      val e = Tables.embeddings(spark, sf).select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      val a = e.select(col("vec_id").as("q_id"), col("v").as("qv"))
      val b = e.select(col("vec_id").as("n_id"), col("v").as("nv"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("q_id")).orderBy(col("dot").desc, col("n_id"))
      val exact = a.join(b, col("q_id") =!= col("n_id"))
        .select(col("q_id"), col("n_id"),
          VectorOps.dot(col("qv"), col("nv")).as("dot"))
        .withColumn("r", row_number().over(w)).where(col("r") <= 3)
        .select(col("q_id"), col("n_id")).collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap

      val hits = exact.map { case (q, truth) =>
        (got.getOrElse(q, Set.empty) & truth).size
      }.sum
      val total = exact.values.map(_.size).sum
      val recall = hits.toDouble / total
      info(f"graph recall@3 = $recall%.3f ($hits/$total) at $sf")
      assert(recall >= 0.60, f"graph recall $recall%.3f below regression floor")
    }
  }

  // SRP-LSH pair recall (round 14): the cosine LSH row's output is its
  // deterministic candidate set verified exact, so the oracle hash cannot
  // see a candidate-generation regression that silently shrinks the set —
  // this floor can. On this structureless random corpus the theory line
  // for τ=0.3 (θ ≈ 72.5°, 4 bands × 4 bits) is 1−(1−(1−θ/π)^4)^4 ≈ 0.42;
  // measured 0.44/0.46. Floor at 0.35 guards the generator, not the
  // corpus. Precision needs no test: the ≥ τ verify filter makes every
  // emitted pair exact by construction.
  for (sf <- Seq(TestEnv.Sf001, TestEnv.Sf01)) {
    test(s"llm_neardup_cosine_lsh pair recall vs the exact cos tail at $sf") {
      val got = SparkEntry.queries("llm_neardup_cosine_lsh")(spark, sf)
        .select(col("a_id"), col("b_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet

      val e = Tables.embeddings(spark, sf).select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      val a = e.select(col("vec_id").as("a_id"), col("v").as("a_v"))
      val b = e.select(col("vec_id").as("b_id"), col("v").as("b_v"))
      val truth = a.join(b, col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id"),
          (VectorOps.dot(col("a_v"), col("b_v")) /
            (sqrt(VectorOps.dot(col("a_v"), col("a_v"))) *
              sqrt(VectorOps.dot(col("b_v"), col("b_v"))))).as("cos"))
        .where(col("cos") >= 0.3)
        .select(col("a_id"), col("b_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet

      assert(got.subsetOf(truth),
        s"LSH emitted ${got.diff(truth).size} pairs below the exact threshold")
      val recall = (got & truth).size.toDouble / truth.size
      info(f"pair recall = $recall%.3f (${(got & truth).size}/${truth.size}) at $sf")
      assert(recall >= 0.35, f"pair recall $recall%.3f below regression floor")
    }
  }

  // PQ ADC recall (round 18): the PQ rows rank from 4-bit codes alone, so
  // their ranking error is pure quantization error — the oracle hash pins
  // the ADC arithmetic exactly but cannot say whether the CODES are any
  // good. Recall@10 vs the exact L2 top-10 over the same 32 probes bounds
  // that. This corpus is ANN-hostile (near-random 64-d vectors: within a
  // subspace everything is roughly equidistant from 16 seed codewords, the
  // hardest case for PQ — real embeddings cluster and quantize far
  // better), so the floor is a measured-with-margin regression guard on
  // the code assignment, not a quality claim. llm_ann_ivfpq additionally
  // prunes to the probed ~25% cell fraction, so its recall is bounded by
  // the IVF candidate recall × the ADC ranking recall.
  // Measured 0.156–0.166 at both SFs (vs the 10/N ≈ 0.02 random-scan
  // baseline — the codes carry ~8× chance-level signal even on random
  // vectors); llm_ann_ivfpq sits ~1 point under llm_pq_search, i.e. the
  // cell pruning costs almost nothing on top of quantization. Floor 0.12
  // = measured min with margin.
  for (sf <- Seq(TestEnv.Sf001, TestEnv.Sf01);
       (qname, floor) <- Seq(("llm_pq_search", 0.12),
         ("llm_ann_ivfpq", 0.12))) {
    test(s"$qname recall@10 vs exact L2 k-NN at $sf") {
      val got = SparkEntry.queries(qname)(spark, sf)
        .select(col("q_id"), col("vec_id")).collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap

      val e = Tables.embeddings(spark, sf).select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      val probe = e.where(col("vec_id") < 32)
        .select(col("vec_id").as("q_id"), col("v").as("qv"))
      val base = e.select(col("vec_id").as("n_id"), col("v").as("nv"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("q_id")).orderBy(col("d2").asc, col("n_id"))
      val exact = probe.join(base, col("q_id") =!= col("n_id"))
        .select(col("q_id"), col("n_id"),
          VectorOps.dot(
            zip_with(col("qv"), col("nv"), (a, b) => a - b),
            zip_with(col("qv"), col("nv"), (a, b) => a - b)).as("d2"))
        .withColumn("r", row_number().over(w)).where(col("r") <= 10)
        .select(col("q_id"), col("n_id")).collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap

      val hits = exact.map { case (q, truth) =>
        (got.getOrElse(q, Set.empty) & truth).size
      }.sum
      val total = exact.values.map(_.size).sum
      val recall = hits.toDouble / total
      info(f"PQ recall@10 = $recall%.3f ($hits/$total) at $sf")
      assert(recall >= floor, f"recall@10 $recall%.3f below regression floor")
    }
  }

  // Lloyd-refined codebook recall (round 19): llm_pq_train is the
  // production training step the seed-stride codebook documents as its
  // successor; this measures what the refinement BUYS — full-scan ADC
  // recall@10 with codes re-assigned under the refined book, against the
  // same exact-L2 ground truth as the seed-book tests above. The refined
  // book lives in the quantized domain (means of int8 components), so
  // queries and corpus are quantized with the same per-vector int8
  // encoding before any distance here — the kmeans-family convention.
  // Measured 0.219–0.228 vs the seed book's 0.156–0.166 at the same SFs
  // (~37% relative lift from ONE Lloyd iteration even on this ANN-hostile
  // near-random corpus); floor 0.17 = measured min with margin, set
  // strictly above the seed book's 0.166 ceiling so a regression that
  // loses the refinement's entire edge cannot pass.
  for (sf <- Seq(TestEnv.Sf001, TestEnv.Sf01)) {
    test(s"llm_pq_train refined-codebook ADC recall@10 at $sf") {
      val Dsub = 8
      def sub(v: org.apache.spark.sql.Column, m: org.apache.spark.sql.Column) =
        slice(v, (m * Dsub + 1).cast("int"), lit(Dsub))
      def d2(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
        VectorOps.dot(zip_with(a, b, (x, y) => x - y),
          zip_with(a, b, (x, y) => x - y))

      val rcb = SparkEntry.queries("llm_pq_train")(spark, sf)
        .groupBy(col("m"), col("k"))
        .agg(transform(sort_array(collect_list(struct(col("dim"), col("q_mean")))),
          p => p.getField("q_mean")).as("cvec"))

      val e = Tables.embeddings(spark, sf).select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      val q = e
        .select(col("vec_id"), col("v"),
          array_max(transform(col("v"), x => abs(x))).as("scale"))
        .select(col("vec_id"),
          when(col("scale") > 0,
            transform(col("v"), x => floor(x / col("scale") * 127d + 0.5d)))
            .otherwise(transform(col("v"), _ => lit(0.0d))).as("q"))
        .persist()

      val codes = q.crossJoin(broadcast(rcb))
        .select(col("vec_id"), col("m"), col("k"),
          d2(sub(col("q"), col("m")), col("cvec")).as("cd2"))
        .groupBy(col("vec_id"), col("m"))
        .agg(min_by(col("k"), struct(col("cd2"), col("k"))).as("code"))
      val dt = q.where(col("vec_id") < 32)
        .select(col("vec_id").as("q_id"), col("q").as("qq"))
        .crossJoin(broadcast(rcb))
        .select(col("q_id"), col("m").as("dm"), col("k").as("dk"),
          d2(sub(col("qq"), col("m")), col("cvec")).as("dq"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("q_id")).orderBy(col("adist").asc, col("vec_id"))
      val got = codes
        .join(broadcast(dt), col("m") === col("dm") && col("code") === col("dk"))
        .where(col("vec_id") =!= col("q_id"))
        .groupBy(col("q_id"), col("vec_id")).agg(sum(col("dq")).as("adist"))
        .withColumn("r", row_number().over(w)).where(col("r") <= 10)
        .select(col("q_id"), col("vec_id")).collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
      q.unpersist()

      val base = e.select(col("vec_id").as("n_id"), col("v").as("nv"))
      val ew = org.apache.spark.sql.expressions.Window
        .partitionBy(col("q_id")).orderBy(col("xd2").asc, col("n_id"))
      val exact = e.where(col("vec_id") < 32)
        .select(col("vec_id").as("q_id"), col("v").as("qv"))
        .join(base, col("q_id") =!= col("n_id"))
        .select(col("q_id"), col("n_id"),
          VectorOps.dot(
            zip_with(col("qv"), col("nv"), (a, b) => a - b),
            zip_with(col("qv"), col("nv"), (a, b) => a - b)).as("xd2"))
        .withColumn("r", row_number().over(ew)).where(col("r") <= 10)
        .select(col("q_id"), col("n_id")).collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap

      val hits = exact.map { case (qid, truth) =>
        (got.getOrElse(qid, Set.empty) & truth).size
      }.sum
      val total = exact.values.map(_.size).sum
      val recall = hits.toDouble / total
      info(f"refined-codebook ADC recall@10 = $recall%.3f ($hits/$total) at $sf")
      assert(recall >= 0.17,
        f"refined recall@10 $recall%.3f lost the Lloyd refinement's edge")
    }
  }
}
