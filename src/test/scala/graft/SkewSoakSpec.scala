package graft

import org.apache.spark.sql.functions._

import graft.queries.TextOps

/** Corpus-level adversarial-skew soak for the dedup family (VERDICT r10
  * item 4): BandGuardSpec proves the mega-bucket cap on synthetic
  * buckets; this suite proves it one level up, on a corpus where one
  * source is ~100× the others AND carries a viral duplicate cluster —
  * the skew shape that kills real 100 TB dedup runs. Assertions:
  *
  *  (a) task-level, via [[SparkWork]] task metrics: in the guarded run
  *      no task's shuffle output is more than a LINEAR function of the
  *      viral cluster (the straggler task that owns the viral
  *      (band, hash) bucket must emit the hub star, not |bucket|²
  *      pairs) — while the unguarded run's worst task provably emits
  *      the quadratic bucket, so the bound is known to bite;
  *  (b) result-level: guarded survivors == unguarded survivors (star
  *      emission keeps the component connected through its hub, so the
  *      cap changes work, never answers).
  */
class SkewSoakSpec extends SparkSuite {

  private val ViralN = 200  // viral cluster size (identical docs)
  private val FillN = 600   // distinct filler docs in the big source

  /** One source 100× the others; the big source contains a viral
    * cluster of identical docs. Filler tokens are globally unique so
    * only the viral cluster collides. */
  private def corpus(): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val viralText = "viral passage tokens repeat verbatim across the whole cluster"
    val viral = (0 until ViralN).map(i =>
      (10000L + i, viralText, "big", "en"))
    val fill = (0 until FillN).map(i =>
      (20000L + i, (0 until 8).map(t => s"u${i}_$t").mkString(" "), "big", "en"))
    val smalls = for (s <- 0 until 3; i <- 0 until 2) yield
      (30000L + s * 10 + i, (0 until 8).map(t => s"v${s}_${i}_$t").mkString(" "),
        s"small$s", "en")
    (viral ++ fill ++ smalls).toDF("doc_id", "text", "source", "lang")
  }

  /** Survivors, and the most shuffle records one task wrote. */
  private def survivorsWith(docs: org.apache.spark.sql.DataFrame,
      cap: Int): (Set[Long], Long) = {
    val (ids, work) = SparkWork.measure(spark) {
      TextOps.minhashDedupSurvivors(docs, 0.8, bucketCap = cap)
        .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    }
    (ids, work.maxTaskShuffleRecords)
  }

  test("100x-skewed source with a viral dup cluster: guarded straggler " +
      "output is linear, survivors match the unguarded run") {
    val docs = corpus().localCheckpoint() // freeze: both runs read one copy
    val cap = 8

    val (guarded, guardedMax) = survivorsWith(docs, cap)
    val (unguarded, unguardedMax) = survivorsWith(docs, Int.MaxValue)

    // (b) answers identical: the cap must never change WHO survives
    assert(guarded == unguarded,
      s"guarded run changed survivors: only-guarded=${(guarded -- unguarded).take(5)} " +
        s"only-unguarded=${(unguarded -- guarded).take(5)}")
    // sanity: the viral cluster collapsed to its min id, filler+smalls
    // all survived
    assert(guarded.count(id => id >= 10000L && id < 20000L) == 1)
    assert(guarded.size == 1 + FillN + 6)

    // (a) the straggler bound. Unguarded, the task owning the viral
    // (band, hash) bucket emits C(ViralN, 2) pairs from the band-0
    // bucket alone — the quadratic straggler. Guarded, every bucket
    // over the cap emits at most (members − 1) hub-star pairs per
    // band, so the worst task's shuffle output stays LINEAR in the
    // cluster: 8 bands × (ViralN − 1) pairs plus banded-row traffic.
    val quadratic = ViralN.toLong * (ViralN - 1) / 2
    val linearBound = 8L * ViralN + 4096 // star pairs + row-stream slack
    assert(unguardedMax >= quadratic,
      s"soak lost its teeth: unguarded worst task wrote $unguardedMax " +
        s"< expected quadratic $quadratic — corpus no longer degenerate?")
    assert(guardedMax <= linearBound,
      s"guarded straggler not bounded: worst task wrote $guardedMax " +
        s"records (> $linearBound) — BandGuard not engaging at corpus level")
  }

  test("semantic dedup with a viral embedding cluster: guarded straggler " +
      "output is linear, survivors match the unguarded run") {
    import spark.implicits._
    import graft.queries.SimOps
    // Same adversarial shape, embedding edition — but DISTINCT
    // near-copies (one coordinate nudged per copy), so the lossless
    // exact pre-collapse cannot absorb them: near-identical vectors
    // still share a nearest centroid at any k, land in ONE k-means
    // cell, and the within-cell self-join is the hot spot only the
    // cellCap backstop can bound. Viral ids are the corpus minimum so
    // the star hub is a cluster member and connectivity survives.
    val dim = 32
    def noise(i: Int): Seq[Float] = noiseVec(i.toLong, dim)
    val viralVec = noise(999)
    val viral = (0 until ViralN).map { i =>
      val v = viralVec.zipWithIndex.map { case (x, j) =>
        if (j == i % dim) x + 1e-3f * (1 + i / dim) else x
      }
      (i.toLong, v)
    }
    val fill = (0 until FillN).map(i => (20000L + i, noise(i)))
    val emb = (viral ++ fill).toDF("vec_id", "embedding").localCheckpoint()

    def survWith(cap: Int): (Set[Long], Long) = {
      val (ids, work) = SparkWork.measure(spark) {
        SimOps.semanticDedupSurvivors(emb, k = 16,
            threshold = 0.95, cellCap = cap)
          .select(col("vec_id")).collect().map(_.getLong(0)).toSet
      }
      (ids, work.maxTaskShuffleRecords)
    }
    val cap = 8
    val (guarded, guardedMax) = survWith(cap)
    val (unguarded, unguardedMax) = survWith(Int.MaxValue)

    assert(guarded == unguarded,
      s"guarded run changed survivors: only-guarded=${(guarded -- unguarded).take(5)} " +
        s"only-unguarded=${(unguarded -- guarded).take(5)}")
    assert(guarded.count(_ < 20000L) == 1, "viral cluster not collapsed")
    assert(guarded.contains(0L), "hub (corpus-min id) must survive")
    assert(guarded.size == 1 + FillN)

    // The verified-pair filter (cos >= threshold) runs inside the join
    // stage, so shuffle records ~ verified pairs: unguarded, the task
    // owning the viral cell writes the full C(ViralN, 2) clique;
    // guarded, it writes the (ViralN - 1)-pair hub star plus row-level
    // traffic.
    val quadratic = ViralN.toLong * (ViralN - 1) / 2
    val linearBound = ViralN.toLong + 4096
    assert(unguardedMax >= quadratic,
      s"soak lost its teeth: unguarded worst task wrote $unguardedMax " +
        s"< expected quadratic $quadratic — viral cell no longer degenerate?")
    assert(guardedMax <= linearBound,
      s"guarded straggler not bounded: worst task wrote $guardedMax " +
        s"records (> $linearBound) — cellCap not engaging at corpus level")
  }
}
