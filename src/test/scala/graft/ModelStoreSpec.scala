package graft

import org.apache.spark.sql.functions._

import graft.models.ModelStore
import graft.operators.{AnnIndex, BpeEncode, BpeTrain}
import graft.queries.{SimOps, TextOps}

/** Persistence for learned artifacts (models/ModelStore.scala) — the
  * deployment contract: save → load → apply must equal train → apply
  * BIT-FOR-BIT for every artifact class (merge tables, PQ codebooks,
  * IVF centroids, bigram-LM counts), and a load infers no schema.
  * Counts/strings/ranks are exact in
  * parquet by construction; float centroid arrays round-trip exactly
  * because parquet stores the same IEEE bits — these tests pin that no
  * lossy step (schema widening, row reordering, a stray double cast)
  * sneaks into a save/load path. */
class ModelStoreSpec extends SparkSuite {

  private def dir(name: String) = s"target/test-models/$name"

  /** A written table's schema as a parquet read infers it;
    * simpleString omits nullability, which a parquet read always sets. */
  private def written(path: String) =
    spark.read.parquet(path).schema.simpleString

  private def inferences(w: SparkWork) =
    w.jobStageNames.flatten.filter(_.startsWith("parquet at"))

  test("BPE merge table round-trips in rank order and encodes identically") {
    val docs = Tables.documents(spark, Sf)
    val trained = BpeTrain(docs, 8)
    ModelStore.saveTable(trained, dir("bpe"))
    assert(written(dir("bpe")) === ModelStore.MergesSchema.simpleString)
    val (loaded, work) = SparkWork.measure(spark)(
      ModelStore.loadMerges(spark, dir("bpe")))
    assert(inferences(work).isEmpty, work.jobStageNames)
    val direct = trained.orderBy(col("rank")).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    assert(loaded === direct)
    // and the loaded table drives the encoder to the same tokens
    val enc = BpeEncode(docs, loaded)
      .select(col("doc_id"), col("tokens")).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val encDirect = BpeEncode(docs, direct)
      .select(col("doc_id"), col("tokens")).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(enc === encDirect)
    assert(enc.nonEmpty)
  }

  test("PQ codebook round-trips and encodes identically") {
    val emb = Tables.embeddings(spark, Sf)
      .select(col("vec_id"), col("embedding"))
    val books = SimOps.pqTrain(emb, m = 4, k = 8, iters = 1, dim = 64)
      .localCheckpoint() // freeze: pqTrain is iterative, don't re-run per action
    ModelStore.saveTable(books, dir("pq"))
    val loaded = ModelStore.loadTable(spark, dir("pq"),
      AnnIndex.schemas(AnnIndex.Codebooks))
    def codes(cb: org.apache.spark.sql.DataFrame): Map[Long, Seq[Long]] =
      SimOps.pqEncode(emb, cb, m = 4, dim = 64).collect()
        .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val got = codes(loaded)
    assert(got === codes(books))
    assert(got.nonEmpty)
  }

  test("IVF centroid table round-trips and assigns identically") {
    val emb = Tables.embeddings(spark, Sf)
      .select(col("vec_id"), col("embedding"))
    val seed = SimOps.ivfAssign(emb, k = 8)._1.localCheckpoint()
    val refined = SimOps.kmeansRefine(emb, seed, iters = 1)
    ModelStore.saveTable(refined, dir("ivf"))
    val loaded = ModelStore.loadTable(spark, dir("ivf"),
      AnnIndex.schemas(AnnIndex.Centroids))
    def cells(c: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      SimOps.assignCells(emb, c).select(col("vec_id"), col("cell_id"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = cells(loaded)
    assert(got === cells(refined))
    assert(got.nonEmpty)
  }

  test("bigram LM round-trips and scores identically — and equals " +
      "self-scoring on its own training corpus") {
    val docs = Tables.documents(spark, Sf)
    val lm = TextOps.trainBigramLm(docs)
    ModelStore.saveBigramLm(lm, dir("lm"))
    assert(ModelStore.LmSchemas.keySet === Set("cab", "ca", "meta"))
    for ((t, declared) <- ModelStore.LmSchemas)
      assert(written(dir(s"lm/$t")) === declared.simpleString, t)
    val (loaded, work) = SparkWork.measure(spark)(
      ModelStore.loadBigramLm(spark, dir("lm")))
    // lazy count-table reads and a driver-side read of the meta row
    assert(work.jobs === 0, work.jobStageNames)
    assert(inferences(work).isEmpty, work.jobStageNames)
    assert(loaded.vocabSize === lm.vocabSize)
    def scores(s: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Double)] =
      s.orderBy(col("doc_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val viaLoaded = scores(TextOps.scoreAgainstLm(docs, loaded))
    // bit-for-bit: counts are exact longs, V is an exact long — every
    // log-prob double is identical
    assert(viaLoaded === scores(TextOps.scoreAgainstLm(docs, lm)))
    // on the training corpus every count resolves, so the smoothed
    // left-join path degenerates to the self-scoring inner joins
    assert(viaLoaded === scores(TextOps.bigramCrossEntropy(docs)))
    assert(viaLoaded.nonEmpty)
  }
}
