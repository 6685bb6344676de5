package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.models.LogReg

/** Learned (model-based) curation operators — the classifier member
  * of the quality family (SURVEY.md §2-B, round 12). Heuristic gates
  * (q_text_quality_filter) hard-code thresholds; production pipelines
  * train a cheap classifier over the same features (fastText-style
  * quality / language gates) because learned thresholds transfer
  * across sources. Training is [[LogReg]] — full-batch GD with
  * decimal-summed gradients, bit-deterministic across partitionings —
  * and scoring is one broadcast-weights parallel pass.
  *
  * LABELS: the fixture's `documents` text is synthetic and
  * language-agnostic (every lang draws the same token distribution —
  * measured per-lang feature means agree to ~2%), so no organic
  * binary concept exists to learn. The demo therefore PLANTS a noisy
  * linear concept over the real features ([[plantedLabel]]): weights
  * the trainer must recover through ~24% label noise. What is graded
  * is the machinery — distributed deterministic training, monotone
  * loss, persisted-weights serving — not the fixture's semantics;
  * on a real corpus the label column comes from human/LLM judgments.
  *
  * No DuckDB oracle for either query (iterative float training is
  * engine-specific, the BPE/perplexity declaration); LogRegSpec pins
  * determinism, monotone loss, planted-signal recovery, and
  * save/reload parity.
  */
object Learned extends QueryPack {

  /** Cheap per-doc text statistics as a fixed-width feature vector
    * with a leading bias slot. Same signals the heuristic quality
    * queries read; scaled to O(1) magnitudes so one learning rate
    * fits all coordinates. */
  def docFeatures(docs: DataFrame): DataFrame = {
    val toks = split(col("text"), " ")
    docs.select(
      col("doc_id"), col("lang"), col("source"),
      array(
        lit(1.0),
        least(size(toks).cast("double") / 100.0, lit(5.0)),
        (col("n_chars").cast("double") / size(toks)) / 10.0,
        size(filter(toks, t => t === "the" || t === "a")).cast("double")
          / size(toks),
        size(array_distinct(toks)).cast("double") / size(toks)
      ).as("features"))
  }

  /** Noisy linear concept over the observable features: true weights
    * (30, 8) on centered stopword / distinct-token ratios plus a
    * deterministic hash-noise term large enough to flip ~24% of
    * labels — recoverable, not memorizable. */
  def plantedLabel(featCol: Column, docId: Column): Column = {
    val stop = element_at(featCol, 4)
    val uniq = element_at(featCol, 5)
    // xxhash64 mix (ANSI-safe — a raw multiply overflows long), then
    // uniform in [-1, 1]
    val noise = pmod(xxhash64(docId), lit(1000L)).cast("double") / 500.0 - 1.0
    when((stop - 0.065) * 30.0 + (uniq - 0.49) * 8.0 + noise * 0.55 > 0,
      1.0).otherwise(0.0)
  }

  private def labeled(docs: DataFrame): DataFrame = {
    val f = docFeatures(docs)
    f.withColumn("label", plantedLabel(col("features"), col("doc_id")))
  }

  val Dim = 5

  override def queries: Map[String, Query] = Map(
    // Train in-session on the full corpus, score every doc, and roll
    // predictions up per true-label class — the separation (mean
    // score high for positives, low for negatives) is the
    // demonstrated learning, visible in the output itself.
    "q_text_quality_lr" -> ((spark, sfDir) => {
      val data = labeled(Tables.documents(spark, sfDir))
      val w = LogReg.train(data, "features", "label",
        iters = 25, lr = 2.0, dim = Dim)
      data.select(col("label"),
          LogReg.scoreExpr(col("features"), w).as("p"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
          avg(col("p")).as("mean_p"),
          sum(when(col("p") >= 0.5, 1L).otherwise(0L)).as("n_pred_pos"))
        .orderBy(col("label"))
    }),

    // Train-once / serve-forever split (the perplexity_holdout pricing
    // rationale): fit on doc_id % 5 != 0, PERSIST the weights via
    // ModelStore, score the held-out fifth from the RELOADED table —
    // the query prices serving, which never retrains.
    "q_text_quality_lr_holdout" -> ((spark, sfDir) => {
      val data = labeled(Tables.documents(spark, sfDir))
      val dir = fixtureDir(sfDir, "lr_quality")
      val w = LogReg.train(data.filter(col("doc_id") % 5 =!= 0),
        "features", "label", iters = 25, lr = 2.0, dim = Dim)
      LogReg.save(spark, w, dir)
      val served = LogReg.load(spark, dir)
      data.filter(col("doc_id") % 5 === 0)
        .select(col("label"),
          LogReg.scoreExpr(col("features"), served).as("p"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
          avg(col("p")).as("mean_p"),
          sum(when((col("p") >= 0.5) === (col("label") === 1.0), 1L)
            .otherwise(0L)).as("n_correct"))
        .orderBy(col("label"))
    }),

    // PCA embedding compression: fit mean + top-8 components on a
    // deterministic hash sample (models.Pca — one decimal moment pass
    // + driver Jacobi on the 64x64 covariance), persist the model as a
    // one-row artifact, and project EVERY vector from the RELOADED
    // artifact in one broadcast-weights pass — the dimensionality-
    // reduction step an embedding pipeline runs before storage/ANN.
    // The build (fit, save, reload) launches at most 5 Spark jobs.
    // Output rolls the projection up per label (means of the first two
    // PCs) with the model's explained-variance share riding along. No
    // oracle (iterative eigensolver); PcaSpec pins orthonormality,
    // eigen-order, determinism, parity with separate count/mean/moment
    // passes, planted low-rank recovery, save/reload parity and the
    // build's job count.
    "q_embed_pca" -> ((spark, sfDir) => {
      import graft.models.Pca
      val emb = Tables.embeddings(spark, sfDir)
      val dir = fixtureDir(sfDir, "pca_model")
      val dim = 64; val k = 8
      val model = Pca.fit(emb, "embedding", dim, k, sampleOneIn = 2)
      Pca.save(spark, model, dir)
      val served = Pca.load(spark, dir)
      val totVar = served.eigenvalues.sum // top-k mass (trace in spec)
      emb.select(col("label"),
          Pca.projectExpr(col("embedding"), served).as("pc"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
          avg(element_at(col("pc"), 1)).as("mean_pc1"),
          avg(element_at(col("pc"), 2)).as("mean_pc2"))
        .withColumn("topk_var", lit(totVar))
        .orderBy(col("label"))
    })
  )

  override def oracleSql: Map[String, String] = Map.empty
}
