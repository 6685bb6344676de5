package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{AnnBudget, AnnIndex, AnnMeta, AnnTables, BandGuard,
  Ckpt, CkptMode}
import graft.expressions.{CosineSimilarity, FirstEqualIndex, SignBitLsh}

/** Similarity search over the `embeddings` table (SURVEY.md §2-B
  * "LLM-data-pipeline operators": q_sim_topk, q_sim_join, plus the
  * LSH-bucketed ANN scale path).
  *
  * Numeric determinism: dot products are sequential left folds over
  * float→double-cast elements (`aggregate` in Spark, `list_reduce` in
  * the DuckDB oracle — same fold, and 0.0 + x == x makes the explicit
  * initial value a no-op). sqrt is IEEE-exact, and the final division
  * is one operation on identical operands → bit-identical doubles with
  * no rounding step needed.
  *
  * Scale design:
  *  - q_sim_topk: the probe is one broadcast row; the scan is
  *    embarrassingly parallel, topped by TakeOrderedAndProject.
  *  - q_sim_join: the self-join is BLOCKED on `label` — the all-pairs
  *    form is quadratic and forbidden (SURVEY.md §7.5). At 100 TB the
  *    block key becomes an LSH bucket id: q_sim_ann_lsh below computes
  *    exactly that (random-hyperplane signs from fixed-seed hashes),
  *    trading recall for a bounded candidate set; AnnSpec measures its
  *    recall against the exact q_sim_join result.
  */
object SimOps extends QueryPack {

  /** Sequential-fold dot product of two float-array columns, in double
    * — the HOF reference formulation; kept as the semantic spec the
    * custom expression is asserted against (ExpressionSpec). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  def cosineHof(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** Production cosine: the codegen'd Catalyst expression — one fused
    * loop, bit-identical to [[cosineHof]] and to the DuckDB oracle. */
  def cosine(a: Column, b: Column): Column = CosineSimilarity(a, b)

  /** Sign-bit LSH bucket ids, one per hash table: each table has
    * `planes` fixed-seed pseudo-random hyperplanes; a bucket is the
    * packed vector of sign bits of the projections. Multiple tables
    * trade candidate volume for recall
    * (recall = 1 − (1 − p^planes)^tables).
    *
    * Production path is the codegen'd [[SignBitLsh]] expression — the
    * HOF formulation below runs `planes × tables` interpreted folds
    * per row (HOF lambdas never codegen; dominated q_sim_ann_lsh at
    * sf0.1) — bit-parity asserted in ExpressionSpec. */
  def lshBuckets(embedding: Column, dim: Int, planes: Int, tables: Int): Column =
    SignBitLsh(embedding, dim, planes, tables)

  /** The declarative reference formulation of [[lshBuckets]] — kept as
    * the semantic spec [[SignBitLsh]] is asserted against. */
  def lshBucketsHof(embedding: Column, dim: Int, planes: Int, tables: Int): Column = {
    val rng = new scala.util.Random(42)
    val coeffs: Seq[Seq[Array[Double]]] =
      Seq.fill(tables)(Seq.fill(planes)(Array.fill(dim)(rng.nextDouble() - 0.5)))
    val buckets = coeffs.map { tablePlanes =>
      val signBits = tablePlanes.map { plane =>
        val proj = aggregate(
          zip_with(embedding, lit(plane), (x, c) => x.cast("double") * c),
          lit(0.0), (acc, x) => acc + x)
        when(proj >= 0, 1L).otherwise(0L)
      }
      signBits.reduceLeft((acc, bit) => acc * 2 + bit)
    }
    array(buckets: _*)
  }

  /** Sign-bit-LSH candidate pairs (d1 < d2): vectors sharing any
    * (table, bucket) — bucketed equi self-join, never all-pairs; a
    * pair colliding in k tables is kept only at its first shared one
    * (in-join dedup, no pair-stream re-shuffle). Shared by the ANN
    * query and the embedding e2e dedup. */
  def lshCandidatePairs(emb: DataFrame, dim: Int, planes: Int, tables: Int,
      bucketCap: Int = BandGuard.DefaultCap): DataFrame = {
    val buckets = BandGuard.withBucketStats(emb
      .select(col("vec_id"),
        lshBuckets(col("embedding"), dim, planes, tables).as("bkts"))
      .select(col("vec_id"), col("bkts"),
        explode(sequence(lit(0), lit(tables - 1))).as("tbl"))
      .select(col("vec_id"), col("bkts"), col("tbl"),
        element_at(col("bkts"), col("tbl") + 1).as("bucket")),
      "tbl", "bucket", "vec_id")
    // Buckets above `bucketCap` emit hub-star pairs only — a cluster
    // of near-identical vectors stays one component without its
    // quadratic pair volume, and the union-split starSelfJoin keeps
    // the over-cap ENUMERATION linear too (round 17; A/B at k=64 on
    // adjacent box states: split 115.9 s / ratio 29.7 vs conjunct
    // 150.4 s / ratio 40.9 — every 64× bucket holds ~8k > cap
    // vectors, so the over-cap branch carries the whole corpus there).
    BandGuard.starSelfJoin(buckets, Seq("tbl", "bucket"), "vec_id", bucketCap)
      .filter(col("a.tbl") === FirstEqualIndex(col("a.bkts"), col("b.bkts")))
      .select(col("a.vec_id").as("d1"), col("b.vec_id").as("d2"))
  }

  /** Embedding-space e2e dedup — the vector twin of
    * TextOps.minhashDedupSurvivors: LSH candidates → exact cosine
    * verify on CANDIDATE PAIRS ONLY → connected components → keep the
    * min-id vector per component. Every verified pair is a true
    * ≥-threshold pair (precision 1 by construction); recall is the
    * LSH collision probability, measured in SimilaritySpec — which is
    * why this has no SQL oracle (sign-bit bucketing is sketch-specific). */
  def embedDedupSurvivors(emb: DataFrame, threshold: Double): DataFrame = {
    val e = emb.select(col("vec_id"), col("embedding"))
    // 5 planes (32 buckets/table), not the ANN query's 4: dedup only
    // needs candidate RECALL on ≥-threshold pairs (SimilaritySpec
    // floor), and the extra plane halves candidate volume — the
    // dominant cost — while precision stays 1 by construction
    val verified = lshCandidatePairs(e, dim = 64, planes = 5, tables = 8)
      .join(e.as("e1").hint("shuffle_hash"), col("d1") === col("e1.vec_id"))
      .join(e.as("e2").hint("shuffle_hash"), col("d2") === col("e2.vec_id"))
      .select(col("d1"), col("d2"),
        cosine(col("e1.embedding"), col("e2.embedding")).as("cos"))
      .filter(col("cos") >= threshold)
    val losers = TextOps.connectedComponents(verified.select(col("d1"), col("d2")))
      .filter(col("comp") < col("id"))
      .select(col("id").as("vec_id"))
    emb.join(losers, Seq("vec_id"), "left_anti")
  }

  /** Batched ANN kNN-JOIN: approximate top-`topK` neighbors for EVERY
    * probe in one pass — the bulk-serving shape (offline retrieval,
    * dedup candidate generation, embedding-join enrichment), where
    * [[searchAnnIndex]]'s one-probe plan would mean one job per probe.
    * Trains both quantizers in-session ([[trainInSession]]) and serves
    * through [[knnJoinStages]]. */
  def knnJoin(emb: DataFrame, probes: DataFrame, m: Int, k: Int, dim: Int,
      nprobe: Int, rerank: Int, topK: Int): DataFrame =
    knnJoinStages(trainInSession(emb, m, k, dim),
      probes, m, dim, nprobe, rerank, topK)

  /** Batched kNN SERVING from a persisted [[saveAnnIndex]] index: the
    * probe-batch retrieval shape against the RELOADED tables — what a
    * production bulk-retrieval job runs (quantizers frozen at build
    * time; [[knnJoin]]'s in-session training is the build-time path,
    * never the serving path). SimilaritySpec asserts per-probe parity
    * with [[searchAnnIndex]] single-probe answers from the same index
    * directory. */
  def knnJoinIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
      probes: DataFrame, m: Int, dim: Int,
      nprobe: Int, rerank: Int, topK: Int): DataFrame =
    knnJoinStages(AnnIndex.load(spark, dir),
      probes, m, dim, nprobe, rerank, topK)

  /** The batched IVF×PQ serving plan over index tables, in-session or
    * reloaded. Every intermediate is keyed by `probe_id` so the whole
    * batch rides each stage together: cell scoring is probes × k
    * (centroids broadcast, never the probe side), the ADC table is
    * probes × m × k rows and joins by (probe_id, seg, cell) as a
    * SHUFFLE join — at bulk scale it is probe-count-sized and must not
    * be broadcast — and the top-nprobe / top-rerank / top-k cuts are
    * windows PARTITIONED BY probe_id (bounded per-partition work;
    * parallelism grows with the batch, the opposite of the
    * single-global-window trap). Inverted-list fan-out is the scale
    * hazard: a hot cell contributes its list to every probe that
    * selects it — nprobe bounds the per-probe read to nprobe/k of the
    * codes, the IVF contract. */
  private def knnJoinStages(t: AnnTables, probes: DataFrame, m: Int,
      dim: Int, nprobe: Int, rerank: Int, topK: Int): DataFrame = {
    val segLen = dim / m
    val e = t.vectors.select(col("vec_id"), col("embedding"))
    val p = probes.select(col("probe_id"), col("probe"))
    val wCell = Window.partitionBy(col("probe_id"))
      .orderBy(col("sim").desc, col("cell_id"))
    val probeCells = p.join(broadcast(t.centroids))
      .select(col("probe_id"), col("cell_id"),
        cosine(col("centroid"), col("probe")).as("sim"))
      .withColumn("rn", row_number().over(wCell))
      .filter(col("rn") <= nprobe)
      .select(col("probe_id"), col("cell_id"))
    val cand = t.invlists.select(col("vec_id"), col("cell_id"))
      .join(probeCells, "cell_id")
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"))
    val dtable = p.join(broadcast(t.codebooks))
      .select(col("probe_id").as("d_pid"), col("seg"), col("cell_id"),
        dot(slice(col("probe"), col("seg") * segLen + 1, lit(segLen)),
          col("centroid")).as("pd"),
        dot(col("centroid"), col("centroid")).as("cn"))
    val wRank = Window.partitionBy(col("probe_id"))
      .orderBy(col("approx_cos").desc, col("vec_id"))
    val approx = t.codes.join(cand.hint("shuffle_hash"), Seq("vec_id"))
      .select(col("probe_id"), col("vec_id"), posexplode(col("codes")))
      .join(dtable,
        col("probe_id") === col("d_pid") &&
        col("pos") === col("seg") && col("col") === col("cell_id"))
      .groupBy(col("probe_id"), col("vec_id"))
      .agg(sum(col("pd")).as("num"), sum(col("cn")).as("den"))
    approx
      .join(p, "probe_id")
      .select(col("probe_id"), col("vec_id"),
        (col("num") / (sqrt(col("den")) * sqrt(dot(col("probe"), col("probe")))))
          .as("approx_cos"))
      .withColumn("rn", row_number().over(wRank))
      .filter(col("rn") <= rerank)
      .join(e, "vec_id")
      .join(p.select(col("probe_id").as("p2"), col("probe")),
        col("probe_id") === col("p2"))
      .select(col("probe_id"), col("vec_id"),
        cosine(col("embedding"), col("probe")).as("cos"))
      .withColumn("rn", row_number().over(Window.partitionBy(col("probe_id"))
        .orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rn") <= topK)
      .select(col("probe_id"), col("vec_id"), col("cos"))
      .orderBy(col("probe_id"), col("cos").desc, col("vec_id"))
  }

  /** SemDeDup-style SEMANTIC dedup: k-means clusters block the
    * corpus, cosine pairs form only WITHIN a cluster, and each
    * ≥-threshold component keeps its min-id member. Differs from
    * [[embedDedupSurvivors]] only in the blocking structure — learned
    * clusters instead of sign-bit LSH buckets — which is the published
    * trade: clusters follow the data's density (no hyperplane
    * splitting a dense dup region across buckets), at the cost of a
    * training pass. Scale shape: `k` grows with the corpus so cluster
    * SIZE stays bounded (pair volume ≈ n · avg_cluster_size, never
    * n²); the cluster-id join key has k distinct values, so
    * parallelism is cluster-count-bound — fine at production k
    * (10⁴–10⁶), deliberately NOT a fixture-tuned small k. That
    * argument fails for exactly one shape — a VIRAL duplicate cluster
    * (one embedding repeated m times) lands entirely in one cell at
    * ANY k, because identical vectors share a nearest centroid — so
    * the operator carries two guards:
    *
    *  1. An exact-duplicate PRE-COLLAPSE (lossless): byte-identical
    *     embeddings reduce to their min-id representative before
    *     training/assignment, and the collapsed members rejoin the
    *     edge set as representative→member edges. The dominant viral
    *     shape — the same embedding ingested m times — thus
    *     contributes m−1 edges and ONE row to the quadratic join, at
    *     the cost of one row-shuffle keyed by the embedding column
    *     (no added bytes: the key is a column the rows already
    *     carry).
    *  2. A [[BandGuard]] `cellCap` backstop for the residual shape
    *     (m DISTINCT but near-identical vectors flooding one cell):
    *     cells over the cap emit only the hub star around their min
    *     id. Lossier than in the banded-LSH paths — a k-means cell is
    *     a coarse partition, not a near-dup bucket, so when the
    *     min-id member of an oversized cell is NOT part of the dup
    *     group, that cell's non-hub pairs (and the dup group's
    *     connectivity) are sacrificed for the straggler bound. That
    *     is why the cap is the backstop and the lossless pre-collapse
    *     the first line: the default cap only engages past 4096
    *     DISTINCT same-cell vectors.
    *
    * Centroid training is [[kmeansRefine]] (decimal-deterministic
    * means), so the whole operator is bit-reproducible. */
  def semanticDedupSurvivors(emb: DataFrame, k: Int, threshold: Double,
      ckpt: CkptMode = CkptMode.Local,
      cellCap: Int = BandGuard.DefaultCap): DataFrame = {
    val e = emb.select(col("vec_id"), col("embedding"))
    // lossless exact-dup pre-collapse (guard 1 above): one shuffle by
    // the embedding value; reused by nothing downstream, but it shrinks
    // every downstream stage to distinct-vector cardinality
    val wDup = Window.partitionBy(col("embedding"))
    val withRep = e.withColumn("__rep", min(col("vec_id")).over(wDup))
    val reps = withRep.filter(col("vec_id") === col("__rep"))
      .select(col("vec_id"), col("embedding"))
    val dupEdges = withRep.filter(col("vec_id") =!= col("__rep"))
      .select(col("__rep").as("d1"), col("vec_id").as("d2"))
      // exact copies are cos = 1.0 pairs: above a 1.0 threshold even
      // they are not duplicates (the boundary the spec pins), so the
      // collapsed edges only join the component pass when the
      // threshold admits them
      .filter(lit(threshold <= 1.0))
    val (seed, _) = ivfAssign(reps, k)
    val cents = kmeansRefine(reps, seed, iters = 2, ckpt)
    val assigned = BandGuard.withBucketStats(
      assignCells(reps, cents), "cell_id", "vec_id")
    // starSelfJoin keeps the over-cap ENUMERATION linear: a
    // pairCondition conjunct bounds the output but still walks
    // |cell|² key-matched pairs in an over-cap cell (measured at 157×
    // on editdist_e2e at k=64). Row-identical to the conjunct form;
    // downstream is components, so the hub-star degrade is sound (see
    // the cap discussion above).
    val verified = BandGuard.starSelfJoin(
        assigned, Seq("cell_id"), "vec_id", cellCap)
      .select(col("a.vec_id").as("d1"), col("b.vec_id").as("d2"),
        cosine(col("a.embedding"), col("b.embedding")).as("cos"))
      .filter(col("cos") >= threshold)
      .select(col("d1"), col("d2"))
    val losers = TextOps.connectedComponents(verified.unionAll(dupEdges))
      .filter(col("comp") < col("id"))
      .select(col("id").as("vec_id"))
    emb.join(losers, Seq("vec_id"), "left_anti")
  }

  /** Product-quantization codebooks: split the vector into `m`
    * segments and run GROUPED Lloyd's k-means — all segments train in
    * the SAME distributed pass (`seg` rides the keys: assignment joins
    * on seg, means group by (seg, cell, pos)), so training cost is one
    * assign+means round per iteration regardless of m, not m separate
    * k-means runs (measured: the per-segment loop was fixed-job-count
    * dominated). Training reads a DETERMINISTIC HASH SAMPLE of the
    * corpus (pure row predicate — reproducible across partitionings),
    * the standard PQ practice: codebook quality needs thousands of
    * examples, not the corpus. Output one row per (seg, cell_id) —
    * m × k rows total, broadcast-scale however large the corpus. */
  def pqTrain(emb: DataFrame, m: Int, k: Int, iters: Int, dim: Int,
      sampleOneIn: Int = 5, ckpt: CkptMode = CkptMode.Local): DataFrame = {
    val segLen = dim / m
    // range-form hash sample: multiply-then-compare-range actually
    // mixes residues (an ==0 residue test is blind to the multiplier
    // and degenerates to plain modulo — correlated id blocks would
    // bias the sample). Valid domain: sampleOneIn a divisor of 100
    // (the integer 100/sampleOneIn is the kept-residue count) and ids
    // below 2^31 (the multiply stays inside Long); Pca.fit carries the
    // xxhash64-residue form that lifts both limits
    // the seed pass and every Lloyd iteration re-read this — slice once
    val segRows = Ckpt.materialize(emb
      .filter((col("vec_id") * 2654435761L) % 100 < lit(100 / sampleOneIn))
      .select(col("vec_id"), col("embedding"),
        explode(sequence(lit(0), lit(m - 1))).as("seg"))
      .select(col("seg"), col("vec_id"),
        slice(col("embedding"), col("seg") * segLen + 1, lit(segLen)).as("embedding")),
      ckpt)
    // seeds: the k lowest vec_ids per segment (same deterministic
    // convention as ivfAssign)
    val seedW = Window.partitionBy(col("seg")).orderBy(col("vec_id"))
    var centroids = Ckpt.materialize(segRows
      .withColumn("rn", row_number().over(seedW))
      .filter(col("rn") <= k)
      .select(col("seg"), col("vec_id").as("cell_id"),
        col("embedding").as("centroid")), ckpt)
    for (_ <- 1 to iters) {
      // assignment metric = ENCODING metric (L2-nearest as
      // max dot − ½‖c‖², precomputed broadcast-side): centroids must
      // be optimized for the partition encoding will actually use —
      // training by cosine while encoding by L2 inflates quantization
      // error on norm-varying segments
      val books = centroids.withColumn("halfNorm",
        dot(col("centroid"), col("centroid")) / 2)
      // same argmax shape as pqEncode: a max(struct) hash aggregate
      // with map-side partial combine — no window sort of the scored
      // sample stream. Ties break to the smallest cell_id via the
      // negated id; the embedding rides in the struct tail, which can
      // never decide a comparison (it is constant within a
      // (seg, vec_id) group — score and negCell tie only within one
      // cell).
      val assigned = segRows.join(broadcast(books), "seg")
        .select(col("seg"), col("vec_id"),
          struct(
            (dot(col("embedding"), col("centroid")) - col("halfNorm")).as("score"),
            (-col("cell_id")).as("negCell"),
            col("embedding").as("emb")).as("cand"))
        .groupBy(col("seg"), col("vec_id"))
        .agg(max(col("cand")).as("best"))
        .select(col("seg"), col("vec_id"),
          (-col("best.negCell")).as("cell_id"), col("best.emb").as("embedding"))
      // order-independent centroid mean: avg() over floats depends on
      // partition/merge order (FP addition is non-associative), which
      // made codebooks — and the top-50 ADC cut downstream — drift
      // across runs and repartitionings. Each float rounds once into
      // DECIMAL(38,18) (deterministic per value); the decimal sum is
      // exact and order-free; ONE division closes the mean.
      val d3818 = org.apache.spark.sql.types.DecimalType(38, 18)
      val means = assigned
        .select(col("seg"), col("cell_id"), posexplode(col("embedding")))
        .groupBy(col("seg"), col("cell_id"), col("pos"))
        .agg((sum(col("col").cast(d3818)) / count(lit(1))).as("mv"))
        .groupBy(col("seg"), col("cell_id"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("mv")))),
          s => s.getField("mv").cast("float")).as("centroid"))
      val prev = centroids
      centroids = Ckpt.materialize(centroids.as("c")
        .join(means.as("n"),
          col("c.seg") === col("n.seg") && col("c.cell_id") === col("n.cell_id"),
          "left")
        .select(col("c.seg").as("seg"), col("c.cell_id").as("cell_id"),
          coalesce(col("n.centroid"), col("c.centroid")).as("centroid")), ckpt)
      // eager checkpoint: new codebook materialized, previous round's
      // storage is unreachable — release rather than accumulate
      Ckpt.release(prev, ckpt)
    }
    Ckpt.release(segRows, ckpt)
    centroids
  }

  /** PQ encoding: each vector compresses to `m` small codes — the cell
    * whose centroid best reconstructs each segment (max dot − ½‖c‖²,
    * the L2-nearest centroid rearranged into dot products). Join shape:
    * segment rows × broadcast codebooks (m × k rows, ‖c‖²/2
    * precomputed ON THE BROADCAST SIDE — m × k folds total, not one per
    * scored row); the per-(vec, seg) argmax is the
    * [[graft.operators.ArgMaxAgg]] typed aggregate (a `max(struct)`
    * is not hash-aggregable and plans as SortAggregate; see
    * assignCellIds), partial map-side combine, no sort of the scored
    * stream. Ties break to the smallest cell_id, fully deterministic. */
  def pqEncode(emb: DataFrame, codebooks: DataFrame, m: Int, dim: Int): DataFrame = {
    val segLen = dim / m
    val segs = emb.select(col("vec_id"), col("embedding"),
        explode(sequence(lit(0), lit(m - 1))).as("seg"))
      .select(col("vec_id"), col("seg"),
        slice(col("embedding"), col("seg") * segLen + 1, lit(segLen)).as("sv"))
    val books = codebooks.select(col("seg"), col("cell_id"), col("centroid"),
      (dot(col("centroid"), col("centroid")) / 2).as("halfNorm"))
    segs.join(broadcast(books), "seg")
      .groupBy(col("vec_id"), col("seg"))
      .agg(graft.operators.ArgMaxAgg.udafColumn(
        dot(col("sv"), col("centroid")) - col("halfNorm"), col("cell_id"))
        .as("cell_id"))
      .groupBy(col("vec_id"))
      .agg(transform(array_sort(collect_list(struct(col("seg"), col("cell_id")))),
        s => s.getField("cell_id")).as("codes"))
  }

  /** IVF (inverted-file) cell assignment: each vector joins its
    * most-similar centroid's cell. Seed centroids are a deterministic
    * sample (lowest `k` vec_ids); [[kmeansRefine]] runs Lloyd
    * iterations on top. The index/search plumbing (broadcast centroids
    * → argmax assignment → inverted cell lists) is what must scale. */
  def ivfAssign(emb: DataFrame, k: Int): (DataFrame, DataFrame) = {
    val centroids = emb.orderBy(col("vec_id")).limit(k)
      .select(col("vec_id").as("cell_id"), col("embedding").as("centroid"))
    (centroids, assignCells(emb, centroids))
  }

  /** Argmax-cosine cell assignment against a broadcast centroid table.
    *
    * The argmax is a `max(struct)` HASH aggregate, not a `row_number`
    * window: a window would shuffle and SORT all
    * n × cells scored rows WITH the embedding payload (pqTrain's Lloyd
    * assignment makes the same choice). The broadcast cross join
    * leaves every vector's `cells` candidate rows inside its own scan
    * task, so the partial aggregate collapses them map-side to ONE row
    * per vector before the exchange: shuffle volume drops cells-fold
    * (n payload rows, not n × cells) and no per-partition sort runs.
    * Ties break to the smallest cell_id via the negated id; the
    * embedding rides in the struct tail, which can never decide a
    * comparison (score and negCell tie only within one cell) — the
    * same determinism argument as pqTrain's assignment. SimilaritySpec pins equality
    * against the window-form reference. */
  def assignCells(emb: DataFrame, centroids: DataFrame): DataFrame =
    emb.crossJoin(broadcast(centroids))
      .select(col("vec_id"),
        struct(cosine(col("embedding"), col("centroid")).as("sim"),
          (-col("cell_id")).as("negCell"),
          col("embedding").as("emb")).as("cand"))
      .groupBy(col("vec_id"))
      .agg(max(col("cand")).as("best"))
      .select(col("vec_id"), col("best.emb").as("embedding"),
        (-col("best.negCell")).as("cell_id"))

  /** [[assignCells]] narrowed to `(vec_id, cell_id)` — the inverted-
    * list builders' shape (project before the exchange):
    * consumers that never read the embedding back (invlists write, the
    * append path, the ivfpq candidate-id semi-join source, knnJoin's
    * stage input) should not shuffle the 64-float payload at all — the
    * exchange carries ~16 bytes per vector instead of the vector.
    *
    * The argmax is the [[graft.operators.ArgMaxAgg]] typed aggregate,
    * not `max(struct)`: the struct form is not hash-aggregable and
    * plans as SortAggregate, paying a task-local sort over the scored
    * stream; the typed form plans as ObjectHashAggregate
    * (constant-size buffer, no sort). Ordering identical (Spark double
    * order, ties to the smallest cell_id) — ArgMaxAggSpec pins
    * equality against the struct formulation, SimilaritySpec pins this
    * path against the window reference. */
  def assignCellIds(emb: DataFrame, centroids: DataFrame): DataFrame =
    emb.crossJoin(broadcast(centroids))
      .groupBy(col("vec_id"))
      .agg(graft.operators.ArgMaxAgg.udafColumn(
        cosine(col("embedding"), col("centroid")), col("cell_id"))
        .as("cell_id"))

  /** Lloyd's k-means refinement of an IVF centroid table: assign →
    * per-cell mean → repeat. Each round is one distributed argmax
    * assignment (broadcast centroids) plus one aggregation — the mean
    * is computed per (cell, dimension) by exploding the vectors, so no
    * per-cell collect and no single-task reduction; a cell that loses
    * all members keeps its previous centroid. Centroid tables stay
    * k × dim (driver/broadcast scale) while the corpus side is only
    * ever scanned, never collected. */
  def kmeansRefine(emb: DataFrame, seed: DataFrame, iters: Int,
      ckpt: CkptMode = CkptMode.Local): DataFrame = {
    var centroids = seed
    for (_ <- 1 to iters) {
      // same order-independent mean as pqTrain: one rounding into
      // decimal per value, exact sum, one division — bit-stable across
      // partitionings where avg() over floats was not
      val d3818 = org.apache.spark.sql.types.DecimalType(38, 18)
      val means = assignCells(emb, centroids)
        .select(col("cell_id"), posexplode(col("embedding")))
        .groupBy(col("cell_id"), col("pos"))
        .agg((sum(col("col").cast(d3818)) / count(lit(1))).as("m"))
        .groupBy(col("cell_id"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          s => s.getField("m").cast("float")).as("centroid"))
      val prev = centroids
      centroids = Ckpt.materialize(centroids.as("c")
        .join(means.as("n"), col("c.cell_id") === col("n.cell_id"), "left")
        .select(col("c.cell_id").as("cell_id"),
          coalesce(col("n.centroid"), col("c.centroid")).as("centroid")), ckpt)
      // the first iteration's prev is the caller's seed table — not ours
      // to release
      if (prev ne seed) Ckpt.release(prev, ckpt)
    }
    centroids
  }

  /** Coarse quantizer TRAINING for an IVF build: Lloyd-refined k-means
    * from the [[ivfAssign]] first-k seed. The raw seed is not a usable
    * quantizer — on clustered corpora it leaves centroids wherever the
    * first k vectors happened to sit, and the serving budget pays for
    * the unrecovered mixture with corpus-share probing. Two Lloyd
    * rounds recover a well-separated mixture (AnnCalib's clustered
    * artifact is the measurement); on isotropic corpora they cost two
    * linear passes and change little — the build-time price of a
    * geometry-aware budget. */
  def trainCoarse(emb: DataFrame, k: Int): DataFrame =
    kmeansRefine(emb, ivfAssign(emb, k)._1, iters = 2)

  /** Mean top-2 coarse-assignment MARGIN over the corpus — the
    * build-time geometry statistic [[graft.operators.AnnBudget]]
    * prices serving with: margin = mean(cos to best cell −
    * cos to second-best). A recovered mixture reads high (each vector
    * is near its own center, far from every other); an isotropic
    * corpus reads near zero (every boundary is ambiguous — and no
    * budget short of corpus-share probing serves it well). One
    * corpus × cells pass at build time, aggregate-only output. */
  def coarseMargin(emb: DataFrame, centroids: DataFrame): Double = {
    // top-2-per-vector rides the mergeable bounded-heap TopKAgg
    // (price desc, key asc — a window's exact order), not a row_number
    // window: the window form shuffles and sorts all n × cells scored
    // rows; the heap's partial state collapses them map-side to two
    // (sim, cell_id) entries per vector, so the exchange carries n × 2
    // narrow rows and no sort runs. Same argmax/tie semantics, same
    // margin arithmetic.
    import graft.operators.TopKAgg
    emb.crossJoin(broadcast(centroids))
      .select(col("vec_id"),
        cosine(col("embedding"), col("centroid")).as("sim"), col("cell_id"))
      .groupBy(col("vec_id"))
      .agg(TopKAgg.udafColumn(2, col("sim"), col("cell_id")).as("top2"))
      .select((element_at(col("top2"), 1).getField("price") -
        coalesce(element_at(col("top2"), 2).getField("price"), lit(0.0)))
        .as("margin"))
      .agg(avg(col("margin"))).collect()(0).getDouble(0)
  }

  /** Persist a complete IVF×PQ SERVING index in the [[AnnIndex]]
    * layout: coarse centroids, inverted lists, PQ codebooks, PQ codes,
    * the full vectors for re-ranking, and a one-row `meta` table — the
    * tables a production ANN service reads. The expensive parts (two
    * quantizer trainings + corpus encode) run once at build time;
    * serving never touches the source corpus. Float arrays round-trip
    * parquet bit-exactly, so a search against the reloaded index equals
    * the in-session search (SimilaritySpec).
    *
    * `meta` carries (n, dim, m, cells, margin): the build's corpus
    * size and the [[coarseMargin]] geometry statistic, so
    * [[graft.operators.AnnBudget.forIndex]] derives the serving
    * budget from what the build MEASURED instead of assuming the
    * adversarial geometry.
    *
    * PRECONDITION on a supplied `n`: vec_id must be UNIQUE in `emb`
    * (see writeAnnIndex's n note) — callers that cannot guarantee it
    * pass n = -1 and pay the fallback invlists count. */
  def saveAnnIndex(emb: DataFrame, dir: String, m: Int, k: Int,
      dim: Int, n: Long = -1L): Unit = {
    val centroids = trainCoarse(emb, k)
    // margin passed BY NAME: writeAnnIndex overlaps its corpus × cells
    // pass with the PQ chain and the payload writes (guide §2.6) —
    // it is read only by the final meta row
    writeAnnIndex(emb, dir, m, dim, centroids, k,
      coarseMargin(emb, centroids), n)
  }

  /** Floor for [[trainCoarseMarginGuided]]'s shape search: below ~8
    * cells the constant [[graft.operators.AnnBudget.ClusteredNprobe]]
    * probes half the corpus and "sublinear serving" is meaningless —
    * an index that coarse should just serve the isotropic budget. */
  val MinGuidedCells = 8

  /** MARGIN-GUIDED coarse-quantizer shape search: train at the
    * caller's shape `k` (normally ⌈√n⌉); if the measured
    * [[coarseMargin]] misses the clustered-regime threshold, re-train
    * at HALVED cell counts while the margin keeps improving, and adopt
    * the margin-argmax shape iff it clears the threshold. Returns
    * (centroids, margin, cells).
    *
    * Why: the margin measures quantizer-vs-data fit, and a √n build
    * whose cells exceed the corpus's natural MODE count splits
    * clusters across neighboring centroids, collapsing its own margin
    * (the committed curves, anncalib clustered shape sweep: 64 cells
    * → 0.554, 142 → 0.0497 on the 64-mode fixture). Without the
    * search, such a build serves the isotropic budget FOREVER —
    * correct answers, ~17× the serving cost (the k=30 clustered drift
    * control: nprobe 184/rerank 3000 where 4/980 reads recall 1.0).
    * The search re-finds the mode-count-matched shape and restores
    * the O(1)-cell + O(√n)-rerank regime.
    *
    * Why halving + first-decline early stop is SAFE, measured not
    * assumed (anncalib, BOTH shape sweeps):
    *  - the clustered margin-vs-cells curve is unimodal around the
    *    mode count (0.05 → 0.29 → 0.55 → 0.37 → 0.27 at
    *    142/96/64/32/16 cells), so walking down from √n and stopping
    *    at the first decline brackets the argmax within the halving
    *    grid;
    *  - the isotropic curve DECREASES as cells shrink (0.155 → 0.099
    *    from 142 down to 8 cells, never near the 0.22 threshold), so
    *    an isotropic corpus stops after ONE halved re-train (~+50%
    *    build cost, cost ∝ cells) and can never false-positive into
    *    the cheap budget — each shape row in the sweep also carries
    *    the policy recall showing the conservative budget holds.
    *
    * The walk is WARM-STARTED: each halved probe seeds from the
    * PREVIOUS probe's trained centroids via [[mergeNearestHalve]]
    * (nearest centroid pairs averaged — a k²-row centroid-table pass,
    * never a corpus pass) and refines with ONE Lloyd round. The seed
    * already sits on the data's modes, so a probe pays ~half the
    * corpus passes of a cold re-train (1 assign+means round instead
    * of 2, and no cold-seed job). The walk's SAFETY properties hold on
    * both geometries (SimilaritySpec's clustered bracket + recall
    * case, the isotropic early-stop case, the AnnCalib/AnnDrift
    * controls): the isotropic margin still declines at the first
    * halved probe — the warm seed cannot manufacture separation an
    * isotropic corpus does not have — and the clustered walk still
    * brackets the mode count. On an isotropic corpus the probe's
    * centroids are DISCARDED (the start shape is kept), so the warm
    * start changes that build's cost, never its index bytes.
    *
    * Each probe costs one k²-row halving pass + one Lloyd round + one
    * [[coarseMargin]] at the halved cell count; the geometric series
    * stays bounded by ~½× the original training cost even when the
    * walk reaches the floor. */
  def trainCoarseMarginGuided(emb: DataFrame, k: Int):
      (DataFrame, Double, Int) = {
    val first = trainCoarse(emb, k)
    val firstMargin = coarseMargin(emb, first)
    if (AnnBudget.clustered(firstMargin) || k / 2 < MinGuidedCells)
      return (first, firstMargin, k)
    var best = (first, firstMargin, k)
    // warm chain: each probe halves the PREVIOUS probe's trained
    // centroids (⌈cells/2⌉ — one unpaired survivor passes through on
    // odd counts, so the grid is the ceil-halving one)
    var prev = (first, k)
    var declined = false
    while (!declined && (prev._2 + 1) / 2 >= MinGuidedCells) {
      val (seed, cells) = mergeNearestHalve(prev._1)
      val c = kmeansRefine(emb, seed, iters = 1)
      val mg = coarseMargin(emb, c)
      if (mg > best._2) best = (c, mg, cells) else declined = true
      prev = (c, cells)
    }
    if (AnnBudget.clustered(best._2)) best else (first, firstMargin, k)
  }

  /** Halve a trained centroid table by MERGE-NEAREST — the warm-start
    * seeding of [[trainCoarseMarginGuided]]'s halved probes: each
    * centroid's nearest other centroid is scored in one k×k pass
    * (centroid-table-sized², never corpus-sized), the k nn rows come to
    * the driver (k ≤ the build shape — ⌈√n⌉-scale), and pairs form
    * greedily most-similar-first (deterministic: sim desc, id asc).
    * Centroids left unpaired by the greedy pass (nn-graph stars) pair
    * with each other in id order — an arbitrary but deterministic
    * fallback the following Lloyd round repairs; on odd counts one
    * survivor passes through unmerged. A merged seed is the pair's
    * elementwise mean under the pair's smaller cell_id (a two-value
    * expression — no aggregation-order hazard). Returns (seed table,
    * seed count = ⌈k/2⌉).
    *
    * The id-order fallback stays, for three reasons:
    *  - it is cost-only: a poorly paired seed can cost a worse shape,
    *    and so a more expensive budget, never a wrong answer — every
    *    adopted shape serves the budget its own measured margin
    *    prices;
    *  - the walk's early stop is certified on the warm-chain curves
    *    themselves: SimilaritySpec's clustered bracket case and the
    *    AnnCalib/AnnDrift controls on the warm-started walk;
    *  - driver-side quantizer training (ROADMAP direction 4) replaces
    *    this seeding altogether. */
  private def mergeNearestHalve(prev: DataFrame): (DataFrame, Int) = {
    val a = prev.select(col("cell_id").as("ia"), col("centroid").as("ca"))
    val b = prev.select(col("cell_id").as("ib"), col("centroid").as("cb"))
    val nn = a.join(broadcast(b), col("ia") =!= col("ib"))
      .select(col("ia"), col("ca"),
        struct(cosine(col("ca"), col("cb")).as("sim"),
          (-col("ib")).as("neg")).as("cand"))
      .groupBy(col("ia"))
      .agg(max(col("cand")).as("best"))
      .select(col("ia"), (-col("best.neg")).as("nn"),
        col("best.sim").as("sim"))
      .collect()
    val bySim = nn.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy { case (ia, _, sim) => (-sim, ia) }
    val taken = scala.collection.mutable.LinkedHashSet.empty[Long]
    val pairs = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    for ((ia, nnId, _) <- bySim)
      if (!taken(ia) && !taken(nnId)) {
        taken += ia; taken += nnId
        pairs += ((math.min(ia, nnId), math.max(ia, nnId)))
      }
    val singles = nn.map(_.getLong(0)).filterNot(taken).sorted
    // deterministic fallback: remaining singles pair in id order; an
    // odd leftover passes through unmerged
    val (fallback, loners) = singles.grouped(2).toSeq
      .partition(_.length == 2)
    pairs ++= fallback.map(g => (g(0), g(1)))
    val spark = prev.sparkSession
    import spark.implicits._
    val pairDf = pairs.toSeq.toDF("id1", "id2")
    val merged = pairDf
      .join(prev.select(col("cell_id").as("id1"), col("centroid").as("c1")), "id1")
      .join(prev.select(col("cell_id").as("id2"), col("centroid").as("c2")), "id2")
      .select(col("id1").as("cell_id"),
        // float division promotes to double — cast each element back
        // so the seed's element type matches every trained centroid's
        zip_with(col("c1"), col("c2"),
          (x, y) => ((x + y) / 2).cast("float")).as("centroid"))
    val seed =
      if (loners.isEmpty) merged
      else merged.unionAll(prev
        .filter(col("cell_id").isin(loners.flatten: _*))
        .select(col("cell_id"), col("centroid")))
    (seed, pairs.length + loners.flatten.length)
  }

  /** [[saveAnnIndex]] through the [[trainCoarseMarginGuided]] shape
    * search — the build path for corpora whose mode count may sit
    * below ⌈√n⌉. `k` is the STARTING shape (normally buildCells(n));
    * the persisted meta records the ADOPTED cells and margin, so
    * [[graft.operators.AnnBudget.forIndex]] serves the regime the
    * search actually certified. Same `n` precondition as
    * [[saveAnnIndex]]: a supplied count requires unique vec_ids. */
  def saveAnnIndexMarginGuided(emb: DataFrame, dir: String, m: Int,
      k: Int, dim: Int, n: Long = -1L): Unit = {
    val (centroids, margin, cells) = trainCoarseMarginGuided(emb, k)
    writeAnnIndex(emb, dir, m, dim, centroids, cells, margin, n)
  }

  /** The write half shared by the two build paths: payload tables
    * from the given centroids, meta from the ADOPTED (cells, margin).
    *
    * The chains below are mutually independent, so they run
    * OVERLAPPED via [[graft.operators.Concur.par]] (the build runs
    * ~80 jobs with ONE task per stage at sf0.1, so wall ≈
    * job count × scheduler latency): the PQ chain (pqTrain →
    * codebooks/codes writes) never reads the coarse centroids, the
    * coarse chain (centroids/invlists writes) never reads the
    * codebooks, the payload write reads only `emb`, and the by-name
    * `margin` (a corpus × cells measurement pass on the plain-build
    * path) feeds only the final meta row. Each chain's plan — and so
    * each table's bytes — is what a sequential build writes
    * (SimilaritySpec's reload-parity and IndexEvalSpec pin the
    * outputs). An earlier build's meta is removed before any table is
    * rewritten, and meta stays the LAST write, ordered after every
    * sibling, so an interrupted build leaves no meta.
    *
    * `n`: callers that already counted the corpus (every registry
    * build row counts it for buildCells) pass it through; the
    * fallback re-count of the just-written invlists only runs when no
    * count is supplied. invlists is one row per vec_id (assignCellIds
    * groups by it), so the supplied count is byte-identical meta
    * content PROVIDED vec_id is unique in `emb`: duplicate vec_ids
    * would make a supplied emb.count() exceed the invlists-derived
    * count and over-state AnnBudget.forIndex's n — budget inputs skew
    * conservative-at-cost, never under. Every repo caller passes
    * unique ids (the embeddings fixture's key); external callers of
    * the public builders who cannot guarantee uniqueness should pass
    * n = -1 and pay the fallback count. */
  private def writeAnnIndex(emb: DataFrame, dir: String, m: Int,
      dim: Int, centroids: DataFrame, cells: Int, margin: => Double,
      n: Long = -1L): Unit = {
    def write(df: DataFrame, table: String): Unit =
      df.write.mode("overwrite").parquet(AnnIndex.path(dir, table))
    val spark = emb.sparkSession
    AnnIndex.uncommit(spark, dir)
    val (mg, _, _, _) = graft.operators.Concur.par(
      margin,
      {
        write(centroids, AnnIndex.Centroids)
        // narrow assignment: the invlists table never reads the
        // embedding back, so the payload is projected out before the
        // exchange
        write(assignCellIds(emb, centroids), AnnIndex.Invlists)
      },
      {
        val codebooks = pqTrain(emb, m, cells, iters = 2, dim = dim)
        write(codebooks, AnnIndex.Codebooks)
        write(pqEncode(emb, codebooks, m, dim), AnnIndex.Codes)
      },
      write(emb.select(col("vec_id"), col("embedding")), AnnIndex.Vectors))
    val nOut =
      if (n >= 0L) n else AnnIndex.read(spark, dir, AnnIndex.Invlists).count()
    AnnIndex.writeMeta(spark, dir, AnnMeta(nOut, dim, m, cells, mg))
  }

  /** Both quantizers trained in-session over `emb`, and the payload
    * tables they index — the tables [[saveAnnIndex]] would persist
    * from the same training. The two trainings are independent job
    * chains (coarse cells vs segment codebooks over the same corpus),
    * so they run overlapped; each one's plan and output
    * are unchanged by the overlap. */
  private def trainInSession(emb: DataFrame, m: Int, k: Int,
      dim: Int): AnnTables = {
    val e = emb.select(col("vec_id"), col("embedding"))
    val (centroids, codebooks) = graft.operators.Concur.par(
      trainCoarse(e, k), pqTrain(e, m, k, iters = 2, dim = dim))
    AnnTables(centroids, assignCellIds(e, centroids),
      codebooks, pqEncode(e, codebooks, m, dim), e)
  }

  /** The `nprobe` coarse cells most similar to the 1-row `probe`
    * (ties to the smaller cell_id), as a `cell_id` frame. */
  private def probeCells(centroids: DataFrame, probe: DataFrame,
      nprobe: Int): DataFrame =
    centroids.crossJoin(broadcast(probe))
      .select(col("cell_id"), cosine(col("centroid"), col("probe")).as("sim"))
      .orderBy(col("sim").desc, col("cell_id"))
      .limit(nprobe)
      .select(col("cell_id"))

  /** Asymmetric-distance (ADC) approximate cosine of each `codes` row
    * to the 1-row `probe`: dot(probe segment, centroid) per
    * (seg, cell) is an m × k table, broadcast at any corpus size, and
    * a vector's score sums its m entries. */
  private def adcScores(codebooks: DataFrame, codes: DataFrame,
      probe: DataFrame, m: Int, dim: Int): DataFrame = {
    val segLen = dim / m
    val dtable = codebooks.crossJoin(broadcast(probe))
      .select(col("seg"), col("cell_id"),
        dot(slice(col("probe"), col("seg") * segLen + 1, lit(segLen)),
          col("centroid")).as("pd"),
        dot(col("centroid"), col("centroid")).as("cn"))
    codes.select(col("vec_id"), posexplode(col("codes")))
      .join(broadcast(dtable),
        col("pos") === col("seg") && col("col") === col("cell_id"))
      .groupBy(col("vec_id"))
      .agg(sum(col("pd")).as("num"), sum(col("cn")).as("den"))
      .crossJoin(broadcast(probe))
      .select(col("vec_id"),
        (col("num") / (sqrt(col("den")) * sqrt(dot(col("probe"), col("probe")))))
          .as("approx_cos"))
  }

  /** The `topK` rows of `cand` (vec_id, embedding) by exact cosine to
    * the 1-row `probe`, ties to the smaller vec_id. */
  private def exactTopK(cand: DataFrame, probe: DataFrame,
      topK: Int): DataFrame =
    cand.crossJoin(broadcast(probe))
      .select(col("vec_id"), cosine(col("embedding"), col("probe")).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(topK)

  /** The single-probe IVF×PQ search over index tables, in-session
    * (q_sim_ann_ivfpq) or reloaded ([[searchAnnIndex]]): one plan, so
    * equal tables give equal answers. IVF prunes to the `nprobe`
    * nearest cells; ADC scores only those cells' PQ codes — the
    * inverted list is corpus-sized, so it applies as a SHUFFLED
    * semi-join, and it prunes before the code explode, at 1 row per
    * vector, not m; exact re-rank reads full vectors for the `rerank`
    * best. Per-query cost is nprobe/k of the corpus in codes plus
    * `rerank` full vectors, regardless of corpus size. */
  private def annSearch(t: AnnTables, probe: DataFrame, m: Int, dim: Int,
      nprobe: Int, rerank: Int, topK: Int, excludeVecId: Long): DataFrame = {
    val candIds = t.invlists
      .join(broadcast(probeCells(t.centroids, probe, nprobe)), "cell_id")
      .filter(col("vec_id") =!= excludeVecId)
      .select(col("vec_id"))
    val cand = adcScores(t.codebooks,
        t.codes.join(candIds.hint("shuffle_hash"), Seq("vec_id"), "left_semi"),
        probe, m, dim)
      .orderBy(col("approx_cos").desc, col("vec_id"))
      .limit(rerank)
    exactTopK(cand.join(t.vectors, "vec_id"), probe, topK)
  }

  /** Search a persisted [[saveAnnIndex]] index with a 1-row probe
    * frame (column `probe`) — [[annSearch]] over [[AnnIndex.load]].
    * `excludeVecId` drops one vector (the probe's own) from the
    * answer. */
  def searchAnnIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
      probe: DataFrame, m: Int, dim: Int, nprobe: Int, rerank: Int,
      topK: Int, excludeVecId: Long = -1L): DataFrame =
    annSearch(AnnIndex.load(spark, dir), probe, m, dim, nprobe, rerank,
      topK, excludeVecId)

  /** Append new vectors to a persisted [[saveAnnIndex]] index WITHOUT
    * retraining — the add-half of a serving index's lifecycle, which
    * keeps it current between (rare, corpus-scale) retrains: new
    * vectors are assigned to cells by the FROZEN coarse centroids and
    * encoded with the FROZEN PQ codebooks, then appended to
    * invlists / codes / vectors. The quantizer tables are never
    * rewritten, so a search after N appends is BIT-IDENTICAL to a
    * search against an index whose quantizers were trained on the
    * original corpus but whose payload tables were built over the
    * union (SimilaritySpec asserts exactly that parity). Retraining
    * inside the append would silently re-bucket every historical code
    * — recall drift is a retrain decision, not an ingest side effect.
    *
    * `meta` is never rewritten: it keeps the build's measurements,
    * including the MARGIN (the quantizers are frozen, and whether
    * appended vectors have drifted off the build geometry is
    * AnnDrift's retrain decision, not a silent re-measure), and
    * [[graft.operators.AnnBudget.forIndex]] takes the grown corpus
    * size from the invlists count. An index without `meta` was never
    * committed, so the append refuses it ([[AnnIndex.readMeta]]
    * throws) before writing anything.
    *
    * Same wired-in maintenance as the dedup index's refresh, one
    * shared body ([[graft.pipeline.Compaction.appendThenCompact]]):
    * past `compactAboveFiles` files a payload table is compacted in
    * place, read with its [[AnnIndex]] schema. Safe under the
    * sequential-refresh assumption; concurrent-reader deployments pass
    * Int.MaxValue and schedule compaction in a maintenance window.
    * The batch and each table's fresh rows are pinned before any
    * append, and compaction runs after every append, so no live
    * lineage reads a file the compaction deletes.
    *
    * Idempotent under micro-batch REPLAY, PER PAYLOAD TABLE: each of
    * invlists / codes / vectors drops ids it already holds from its
    * own append (see the in-method comment), so a
    * foreachBatch loop replaying an uncommitted micro-batch after a
    * crash (Structured Streaming's at-least-once contract for
    * foreachBatch side effects) gets exactly-once payload semantics
    * without a transactional sink — the ANN analog of the dedup
    * index's keep-latest story. Crucially this also SELF-HEALS a
    * partial append: the three tables are written sequentially, and a
    * crash between the invlists append and the codes/vectors appends
    * leaves the batch present in one table only — a single global
    * "already indexed?" probe would anti-join the replay away and
    * permanently omit the batch from the unwritten tables, while the
    * per-table probe re-appends exactly the missing rows
    * (StreamingIngestSpec's partial-append case). */
  def appendToAnnIndex(spark: org.apache.spark.sql.SparkSession,
      newVecs: DataFrame, dir: String, m: Int, dim: Int,
      compactAboveFiles: Int = 64, targetBytes: Long = 512L << 20): Unit = {
    AnnIndex.readMeta(spark, dir): Unit // refuses an uncommitted index
    val t = AnnIndex.load(spark, dir)
    // The incoming batch is PINNED once (localCheckpoint): it is read
    // by three append jobs below, and its own lineage may read payload
    // tables (unusual payload-derived batches) that those appends
    // mutate. Batch-sized, so the pin is cheap.
    val batch = newVecs.select(col("vec_id"), col("embedding"))
      .localCheckpoint()
    // IDEMPOTENT per table: ids already present in THIS table anti-join
    // away from THIS table's append. Each probe reads one
    // column of one payload table (corpus-sublinear, the dedup-index
    // refresh's cost class) — three probes per batch, not one global
    // invlists probe: a global probe makes a partially-appended batch
    // (crash between appends) unrepairable, because the replay
    // anti-joins away entirely and codes/vectors never receive the
    // rows. Each table's file listing was taken by the load above,
    // before any append; each filtered frame is pinned as it is built,
    // before any append, because its lineage reads the very table an
    // append writes (the self-read hazard), which makes the
    // read-before-write ordering explicit rather than incidental.
    def freshFor(existing: DataFrame): DataFrame =
      batch.join(existing.select(col("vec_id").as("__existing")),
          col("vec_id") === col("__existing"), "left_anti")
        .localCheckpoint()
    graft.pipeline.Compaction.appendThenCompact(Seq(
        AnnIndex.Invlists -> assignCellIds(freshFor(t.invlists), t.centroids),
        AnnIndex.Codes -> pqEncode(freshFor(t.codes), t.codebooks, m, dim),
        AnnIndex.Vectors -> freshFor(t.vectors)
      ).map { case (tb, df) => (AnnIndex.path(dir, tb), AnnIndex.schemas(tb), df) },
      compactAboveFiles, targetBytes)(()): Unit
  }

  /** Recall-drift observability for a persisted [[saveAnnIndex]]
    * index: score the index's SERVED top-k against exact brute force
    * on a SAMPLED probe set — the periodic report whose recall floor
    * is the retrain trigger the append path's scaladoc promises
    * (appended vectors drift away from the frozen quantizers; this
    * measures by how much, the q_dedup_lsh_eval precedent in embedding
    * space). Returns one row:
    * (n_probes, recall_at_k, min_recall, n_probes_below_half).
    *
    * Cost shape: the served side is [[knnJoinStages]] (nprobe/k of the
    * codes per probe); the exact side scores |probes| × corpus in ONE
    * pass — probes broadcast, per-probe top-k as a probe-partitioned
    * window (parallelism grows with the sample). The eval price is a
    * corpus scan times the sample size, which is exactly why the
    * probe set is a sample and the report is periodic, not per-query. */
  def indexEval(spark: org.apache.spark.sql.SparkSession, dir: String,
      probes: DataFrame, m: Int, dim: Int, nprobe: Int, rerank: Int,
      topK: Int): DataFrame = {
    val t = AnnIndex.load(spark, dir)
    val p = probes.select(col("probe_id"), col("probe"))
    val served = knnJoinStages(t, p, m, dim, nprobe, rerank, topK)
    val exact = t.vectors
      .join(broadcast(p), col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        cosine(col("embedding"), col("probe")).as("cos"))
      .withColumn("rn", row_number().over(Window
        .partitionBy(col("probe_id"))
        .orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rn") <= topK)
      .select(col("probe_id"), col("vec_id"))
    val hits = served.select(col("probe_id"), col("vec_id"))
      .join(exact, Seq("probe_id", "vec_id"), "left_semi")
      .groupBy(col("probe_id")).agg(count(lit(1)).as("n_hit"))
    p.select(col("probe_id"))
      .join(hits, Seq("probe_id"), "left")
      .select(coalesce(col("n_hit"), lit(0L)).as("n_hit"))
      .agg(count(lit(1)).as("n_probes"),
        (sum(col("n_hit")).cast("double") /
          (count(lit(1)) * topK).cast("double")).as("recall_at_k"),
        (min(col("n_hit")).cast("double") / topK).as("min_recall"),
        sum(when(col("n_hit") * 2 < topK, 1L).otherwise(0L))
          .as("n_probes_below_half"))
  }

  /** Farthest-point (Gonzalez k-center) coreset selection: start from
    * the min-id vector, then repeatedly add the point FARTHEST from
    * its nearest already-chosen center — the diversity-sampling pass a
    * training pipeline runs to pick maximally-spread exemplars (a
    * 2-approximation of the optimal k-center cover; SemDeDup's
    * complement — dedup removes the redundant, coreset KEEPS the
    * spread). Returns (vec_id, euclidean distance to the nearest prior
    * center at selection time; 0 for the seed) in selection order.
    *
    * Scale: each of the k−1 iterations ships ONE new center vector as
    * plan literals into a map-side running-min distance update
    * (localCheckpoint pins the column, so pass i+1 reads materialized
    * state — k linear passes total, not O(k²) lineage replays) and
    * closes with a TakeOrdered(1) argmax — nothing corpus-sized ever
    * reaches the driver; ties break to min vec_id. k is a
    * hyperparameter-bounded driver loop (the BpeTrain precedent). */
  def coresetSelect(embeds: DataFrame, k: Int): Seq[(Long, Double)] = {
    require(k > 0, "k must be positive")
    val base = embeds.select(col("vec_id"), col("embedding"))
    val seed = base.orderBy(col("vec_id")).limit(1)
      .collect().headOption match {
      case None => return Nil
      case Some(r) => r.getLong(0)
    }
    def centerVec(id: Long): Seq[Float] =
      base.filter(col("vec_id") === id).collect().head.getSeq[Float](1)
    def sqDistTo(v: Seq[Float]): Column = {
      val cv = array(v.map(x => lit(x.toDouble)): _*)
      aggregate(
        zip_with(col("embedding"), cv,
          (a, b) => (a.cast("double") - b) * (a.cast("double") - b)),
        lit(0.0), (acc, x) => acc + x)
    }
    val picked = scala.collection.mutable.ArrayBuffer((seed, 0.0))
    var st = base.filter(col("vec_id") =!= seed)
      .withColumn("dmin", sqDistTo(centerVec(seed)))
      .localCheckpoint()
    var i = 1
    while (i < k && !st.isEmpty) {
      val far = st.orderBy(col("dmin").desc, col("vec_id").asc).limit(1)
        .collect().head
      picked += ((far.getLong(0), math.sqrt(far.getDouble(2))))
      val prev = st
      st = st.filter(col("vec_id") =!= far.getLong(0))
        .withColumn("dmin",
          least(col("dmin"), sqDistTo(centerVec(far.getLong(0)))))
        .localCheckpoint()
      // release the superseded iteration's pinned blocks once the new
      // checkpoint has materialized (eager by default) — without this
      // the loop holds k corpus-sized dmin frames in block-manager
      // storage for the session's lifetime, a leak at the large k the
      // scaladoc advertises (round-12 ADVICE; the LogReg Ckpt.release
      // discipline)
      prev.unpersist()
      i += 1
    }
    st.unpersist()
    picked.toSeq
  }

  override def queries: Map[String, Query] = Map(
    // Farthest-point coreset selection (round 12): k = 8 maximally-
    // spread exemplar embeddings — see [[coresetSelect]]. No oracle
    // (iterative argmax loop); CoresetSpec proves one-center-per-
    // planted-cluster, the non-increasing selection-distance
    // invariant, partitioning determinism, and the k >= n boundary.
    "q_sample_coreset" -> ((spark, sfDir) => {
      import spark.implicits._
      coresetSelect(Tables.embeddings(spark, sfDir), 8)
        .toDF("vec_id", "dist_at_selection")
        .select(col("vec_id"),
          round(col("dist_at_selection"), 6).as("dist_at_selection"))
    }),

    // Brute-force cosine top-k against a single probe vector (vec_id 0).
    "q_sim_topk" -> ((spark, sfDir) => {
      val emb   = Tables.embeddings(spark, sfDir)
      val probe = emb.filter(col("vec_id") === 0).select(col("embedding").as("probe"))
      exactTopK(emb.filter(col("vec_id") =!= 0), probe, 10)
    }),

    // Best match (top-1 cosine) per vector within its `label` block;
    // pairwise scoring runs the codegen'd CosineSimilarity expression.
    // The block self-join is quadratic BY CONTRACT (exact all-pairs),
    // so the block key rides exactBlockGuard: a production block past
    // ExactPairCap fails the job in O(n) — before the pair stream
    // forms — naming the sublinear twins; the graded fixtures sit far
    // under the cap, so the guarded answer is byte-identical
    // (ExactCapSpec pins both behaviors).
    "q_sim_join" -> ((spark, sfDir) => {
      val e = BandGuard.exactBlockGuard(
        Tables.embeddings(spark, sfDir)
          .select(col("vec_id"), col("label"), col("embedding")),
        "label", BandGuard.ExactPairCap)
      val joined = e.as("x").join(e.as("y"),
          col("x.label") === col("y.label") &&
          col("x.vec_id") =!= col("y.vec_id"))
        .select(col("x.vec_id").as("vec_id"),
          col("y.vec_id").as("match_id"),
          cosine(col("x.embedding"), col("y.embedding")).as("cos"))
      val w = Window.partitionBy(col("vec_id"))
        .orderBy(col("cos").desc, col("match_id").asc)
      joined.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("match_id"), col("cos"))
        .orderBy(col("vec_id"))
    }),

    // ANN via multi-table sign-bit LSH: candidates only form inside a
    // (table, bucket) equi-join — never an all-pairs scan — then get
    // deduplicated BEFORE the expensive cosine scoring (the canonical
    // candidates-then-score shape for 100 TB). No oracle (bucketing is
    // impl-specific); AnnSpec measures recall vs the exact top-1.
    "q_sim_ann_lsh" -> ((spark, sfDir) => {
      val emb = Tables.embeddings(spark, sfDir)
        .select(col("vec_id"), col("embedding"))
      // Bucket array computed once per row in its own projection inside
      // lshCandidatePairs; the generator explodes a literal table range
      // (exploding the bucket array directly makes
      // InferFiltersFromGenerate clone the hyperplane projections into
      // scan filters — same trap as TextOps.simhashCandidates).
      val half = lshCandidatePairs(emb, dim = 64, planes = 4, tables = 8)
      val cand = half.unionAll(half.select(col("d2").as("d1"), col("d1").as("d2")))
      val scored = cand
        .join(emb.as("e1"), col("d1") === col("e1.vec_id"))
        .join(emb.as("e2"), col("d2") === col("e2.vec_id"))
        .select(col("d1").as("vec_id"), col("d2").as("match_id"),
          cosine(col("e1.embedding"), col("e2.embedding")).as("cos"))
      val w = Window.partitionBy(col("vec_id"))
        .orderBy(col("cos").desc, col("match_id").asc)
      scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("match_id"), col("cos"))
        .orderBy(col("vec_id"))
    }),

    // Per-label embedding centroid — the class-prototype / k-means-step
    // primitive, as a DISTRIBUTED vector aggregate: posexplode to
    // (label, pos, v), per-(label, pos) exact-integer sums (order- and
    // partitioning-independent — a float/double sum across rows would
    // drift with partition order), one double division chain at the
    // end. Elements are quantized EXPLICITLY at 1e-10 via
    // round(v·1e10) — ties-away-from-zero on both engines — because
    // every implicit float→decimal path differs across engines
    // (Spark rounds the float's shortest repr, DuckDB the exact binary
    // expansion; and decimal HALF_UP vs half-even flips exact .5
    // tails — both measured). The integer sum stays exact below 2^53
    // per (label, pos) cell, i.e. ~9e5 rows × |v| ≤ 1 per cell.
    // Shuffle volume = rows × dim partials, map-side combined; never a
    // per-label collect.
    "q_sim_centroid" -> ((spark, sfDir) => {
      val d380 = org.apache.spark.sql.types.DecimalType(38, 0)
      Tables.embeddings(spark, sfDir)
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy(col("label"), col("pos"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("v").cast("double") * lit(1e10)).cast(d380)).as("s"))
        .select(col("label"), (col("pos") + 1).as("pos"),
          (col("s").cast("double") / lit(1e10) / col("n").cast("double"))
            .as("c"))
        .orderBy(col("label"), col("pos"))
    }),

    // Embedding-cosine near-dup: pairs above a similarity threshold
    // inside label blocks — the embedding-space member of the dedup
    // family (exact / Jaccard / n-gram / MinHash / SimHash / cosine).
    // The fixture has no planted duplicate embeddings, so 0.4 sits
    // just above the random-noise ceiling (~0.47 max observed) and
    // returns the genuine top pairs.
    // Quadratic by contract like q_sim_join above — same
    // exactBlockGuard on the label block key (refuse past the cap,
    // byte-identical under it; ExactCapSpec).
    "q_dedup_embed" -> ((spark, sfDir) => {
      val e = BandGuard.exactBlockGuard(
        Tables.embeddings(spark, sfDir)
          .select(col("vec_id"), col("label"), col("embedding")),
        "label", BandGuard.ExactPairCap)
      e.as("x").join(e.as("y"),
          col("x.label") === col("y.label") &&
          col("x.vec_id") < col("y.vec_id"))
        .select(col("x.vec_id").as("d1"), col("y.vec_id").as("d2"),
          cosine(col("x.embedding"), col("y.embedding")).as("cos"))
        .filter(col("cos") >= 0.4)
        .orderBy(col("d1"), col("d2"))
    }),

    // Embedding-space e2e dedup (no oracle — sign-bit bucketing is
    // sketch-specific; SimilaritySpec asserts precision 1 and measures
    // recall): survivors per label after LSH-candidate → cosine-verify
    // → components → keep-min.
    "q_dedup_embed_e2e" -> ((spark, sfDir) => {
      embedDedupSurvivors(Tables.embeddings(spark, sfDir), 0.4)
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_survivors"))
        .orderBy(col("label"))
    }),

    // Batched ANN kNN-join: approximate top-5 neighbors for EVERY
    // 50th vector as a probe batch, one pass — the bulk-serving /
    // offline-retrieval shape (see knnJoinStages's scaladoc for why
    // each stage is probe_id-keyed and why the per-probe cuts are
    // partitioned windows, not global sorts). No oracle (quantizers
    // training-specific); SimilaritySpec measures per-probe recall
    // against the exact brute-force top-5.
    // Build shape + serving budget come from the calibrated AnnBudget
    // policy: fixed literals (m=4/cells=16, nprobe=4/rerank=50) were
    // never an operating point — day-0 recall@5 = 0.240 (see
    // tools/anncalib_r18.json and AnnBudget's scaladoc for the sweep
    // that picked these rules).
    // The probe set is BATCH-BOUNDED: a bulk-serving job's probe batch
    // is the queries the caller HAS — it does not grow with the index
    // (the q_dedup_incremental precedent: the batch-bounded side is
    // the documented legitimate shape). Corpus growth prices the
    // PER-PROBE budget (AnnBudget's rerank ∝ n — the recall-target
    // cost on this geometry), never the batch, so bulk cost =
    // batch × O(n) instead of the O(n²) a corpus-sampled probe set
    // would silently run at volume. The fixture batch is the first
    // ≤ 40 sampled vectors (every graded SF's %-50 sample already sits
    // under the bound; only scaled corpora are capped).
    "q_sim_knn_join" -> ((spark, sfDir) => {
      val emb = Tables.embeddings(spark, sfDir)
        .select(col("vec_id"), col("embedding"))
      val n = emb.count()
      val cells = AnnBudget.buildCells(n)
      val probes = emb
        .filter(col("vec_id") % 50 === 0 && col("vec_id") < 2000)
        .select(col("vec_id").as("probe_id"), col("embedding").as("probe"))
      knnJoin(emb, probes, m = AnnBudget.buildSegments(64), k = cells,
        dim = 64, nprobe = AnnBudget.nprobe(cells),
        rerank = AnnBudget.rerank(n, 5), topK = 5)
    }),

    // SemDeDup-style semantic dedup: k-means clusters block the
    // corpus, cosine verify within clusters only, min-id survives per
    // component — the learned-blocking member of the dedup family
    // (vs. q_dedup_embed's label blocks and q_dedup_embed_e2e's LSH
    // buckets). No oracle (centroid training is impl-specific);
    // SimilaritySpec asserts determinism, the min-id invariant, the
    // no-pairs boundary, and blocking monotonicity vs a single-cluster
    // (exact all-pairs) run.
    "q_dedup_semantic" -> ((spark, sfDir) => {
      semanticDedupSurvivors(Tables.embeddings(spark, sfDir),
          k = 16, threshold = 0.4)
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_survivors"))
        .orderBy(col("label"))
    }),

    // PQ ANN (product quantization): vectors compress to m=4 codes
    // (64 bytes → 4 — the memory story that makes billion-vector
    // indexes fit), the probe scores candidates through an
    // ASYMMETRIC-DISTANCE table (dot(q_seg, centroid) per (seg, cell) —
    // m × k = 64 rows, broadcast), and the approx top-50 re-ranks with
    // exact cosine. Scan side touches only codes + the tiny table;
    // full vectors are read for 50 candidates, not the corpus. No
    // oracle (codebooks are training-specific); SimilaritySpec bounds
    // re-ranked quality vs the exact top-10.
    "q_sim_ann_pq" -> ((spark, sfDir) => {
      val m = 4; val k = 16; val dim = 64
      val emb = Tables.embeddings(spark, sfDir)
        .select(col("vec_id"), col("embedding"))
      val codebooks = pqTrain(emb, m, k, iters = 2, dim = dim)
      val probe = emb.filter(col("vec_id") === 0).select(col("embedding").as("probe"))
      val cand = adcScores(codebooks, pqEncode(emb, codebooks, m, dim),
          probe, m, dim)
        .filter(col("vec_id") =!= 0)
        .orderBy(col("approx_cos").desc, col("vec_id"))
        .limit(50)
      exactTopK(cand.join(emb, "vec_id"), probe, 10)
    }),

    // IVF ANN: probe only the nprobe cells nearest the query vector —
    // search cost scales with nprobe/k of the corpus, not the corpus.
    "q_sim_ann_ivf" -> ((spark, sfDir) => {
      val emb = Tables.embeddings(spark, sfDir)
        .select(col("vec_id"), col("embedding"))
      val (centroids, assigned) = ivfAssign(emb, k = 16)
      val probe = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("probe"))
      exactTopK(assigned
          .join(broadcast(probeCells(centroids, probe, 4)), "cell_id")
          .filter(col("vec_id") =!= 0),
        probe, 10)
    }),

    // IVF×PQ composed search — the actual billion-vector layout: the
    // IVF coarse quantizer PRUNES the corpus to the nprobe cells
    // nearest the query, the PQ codes of ONLY those cells' members are
    // ADC-scored, and full vectors are read for the exact re-rank (see
    // annSearch). No oracle (both quantizers are training-specific);
    // SimilaritySpec bounds re-ranked quality and asserts the
    // probed-cell containment.
    // Build shape and budget come from the calibrated AnnBudget
    // policy, as in the persisted twin: SimilaritySpec requires this
    // in-session answer to equal q_sim_ann_index's reloaded-artifact
    // answer row for row, so the two train identically and serve
    // through the same annSearch.
    "q_sim_ann_ivfpq" -> ((spark, sfDir) => {
      val dim = 64
      val emb = Tables.embeddings(spark, sfDir)
        .select(col("vec_id"), col("embedding"))
      val n = emb.count()
      val m = AnnBudget.buildSegments(dim)
      val k = AnnBudget.buildCells(n)
      val t = trainInSession(emb, m, k, dim)
      // the build margin is measured in-session too, so this plan and
      // its persisted twin (whose budget comes from the meta row)
      // serve the SAME budget
      val margin = Some(coarseMargin(emb, t.centroids))
      val probe = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("probe"))
      annSearch(t, probe, m, dim, nprobe = AnnBudget.nprobe(k, margin),
        rerank = AnnBudget.rerank(n, 10, margin), topK = 10,
        excludeVecId = 0L)
    }),

    // PERSISTED ANN index — the deployment half of q_sim_ann_ivfpq
    // (an ANN index is trained once, then served against forever;
    // retraining inside every search query would misprice the
    // operation, same rationale as q_text_perplexity_holdout): build
    // and persist the index tables, then answer the probe FROM THE
    // RELOADED ARTIFACT. Float arrays round-trip parquet bit-exactly,
    // so this equals the in-session search (SimilaritySpec parity
    // case). No oracle — both quantizers are training-specific, as
    // declared for the ivfpq row.
    // Calibrated build shape + serving budget (see q_sim_knn_join's
    // note). The build runs the MARGIN-GUIDED shape search
    // (trainCoarseMarginGuided) — the production build path. On this
    // isotropic fixture the search pays exactly one halved re-train
    // (the measured isotropic margin curve declines as cells shrink,
    // so the walk stops immediately) and keeps the √n shape; on a
    // clustered corpus whose mode count sits under √n it adopts the
    // margin-argmax shape and the serve below prices the cheap
    // regime. benchguard-ok note in BASELINE.md covers the bought
    // build cost.
    "q_sim_ann_index" -> ((spark, sfDir) => {
      val dim = 64
      val dir = fixtureDir(sfDir, "ann_index")
      val emb = Tables.embeddings(spark, sfDir)
        .select(col("vec_id"), col("embedding"))
      val n = emb.count()
      val m = AnnBudget.buildSegments(dim)
      val cells = AnnBudget.buildCells(n)
      saveAnnIndexMarginGuided(emb, dir, m, cells, dim, n)
      val probe = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("probe"))
      // budget from the index's own meta row (margin-aware)
      val (nprobe, rerank) = AnnBudget.forIndex(spark, dir, 10)
      searchAnnIndex(spark, dir, probe, m, dim,
        nprobe = nprobe, rerank = rerank,
        topK = 10, excludeVecId = 0L)
    }),

    // Batched kNN SERVING from the persisted index — q_sim_knn_join's
    // probe-batch stages over q_sim_ann_index's reloaded tables: bulk
    // retrieval against FROZEN build-time quantizers, the shape a
    // serving deployment actually runs (it never retrains per batch).
    // No oracle (quantizers training-specific); SimilaritySpec asserts
    // per-probe parity with single-probe searchAnnIndex answers from
    // the same index directory, plus the exactness bound (nprobe = k +
    // corpus-size rerank ⇒ brute-force equality).
    // Calibrated build shape; the serving budget comes from
    // AnnBudget.forIndex — the k×-scaling rule IN the serve path (the
    // budget re-derives from the index's own corpus size, so the same
    // call keeps its recall target as appends grow the index).
    "q_sim_knn_index" -> ((spark, sfDir) => {
      val dim = 64
      val dir = fixtureDir(sfDir, "ann_index_knn")
      val emb = Tables.embeddings(spark, sfDir)
        .select(col("vec_id"), col("embedding"))
      val n = emb.count()
      val m = AnnBudget.buildSegments(dim)
      saveAnnIndex(emb, dir, m, AnnBudget.buildCells(n), dim, n)
      // batch-bounded probe set — see q_sim_knn_join's note
      val probes = emb
        .filter(col("vec_id") % 50 === 0 && col("vec_id") < 2000)
        .select(col("vec_id").as("probe_id"), col("embedding").as("probe"))
      val (nprobe, rerank) = AnnBudget.forIndex(spark, dir, 5)
      knnJoinIndex(spark, dir, probes, m, dim, nprobe, rerank, topK = 5)
    }),

    // Recall-drift report for the persisted serving index: served
    // top-5 vs exact brute force on a sampled probe set — see
    // [[indexEval]]. No oracle (quantizers training-specific, the
    // declared ann-family rule); IndexEvalSpec pins the report shape,
    // a recall floor on the fixture, and the nprobe=k + corpus-rerank
    // exactness bound (recall exactly 1).
    // Calibrated build + budgeted serve: the report evaluates the
    // budget the policy would actually run, so its recall row is the
    // AnnBudget.TargetRecall compliance check (IndexEvalSpec pins the
    // floor at the target).
    "q_sim_index_eval" -> ((spark, sfDir) => {
      val dim = 64
      val dir = fixtureDir(sfDir, "ann_index_eval")
      val emb = Tables.embeddings(spark, sfDir)
        .select(col("vec_id"), col("embedding"))
      val n = emb.count()
      val m = AnnBudget.buildSegments(dim)
      saveAnnIndex(emb, dir, m, AnnBudget.buildCells(n), dim, n)
      val probes = emb.filter(col("vec_id") % 37 === 0)
        .select(col("vec_id").as("probe_id"), col("embedding").as("probe"))
      val (nprobe, rerank) = AnnBudget.forIndex(spark, dir, 5)
      indexEval(spark, dir, probes, m, dim, nprobe, rerank, topK = 5)
        .select(col("n_probes"),
          round(col("recall_at_k"), 6).as("recall_at_k"),
          round(col("min_recall"), 6).as("min_recall"),
          col("n_probes_below_half"))
    })
  )

  private val dotSql =
    "list_reduce(list_transform(range(1, 65), i -> " +
      "CAST(%s[i] AS DOUBLE) * CAST(%s[i] AS DOUBLE)), (a, b) -> a + b)"

  private def cosSql(a: String, b: String): String =
    s"${dotSql.format(a, b)} / " +
      s"(sqrt(${dotSql.format(a, a)}) * sqrt(${dotSql.format(b, b)}))"

  override def oracleSql: Map[String, String] = Map(
    "q_sim_centroid" ->
      """WITH idx AS (
        |  SELECT label, embedding,
        |    unnest(range(1, len(embedding) + 1)) AS i
        |  FROM embeddings)
        |SELECT label, CAST(i AS INTEGER) AS pos,
        |  CAST(SUM(CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1e10)
        |      AS DECIMAL(38,0))) AS DOUBLE)
        |    / 1e10 / CAST(COUNT(*) AS DOUBLE) AS c
        |FROM idx GROUP BY label, i
        |ORDER BY label, pos""".stripMargin,

    "q_sim_topk" ->
      s"""WITH probe AS (
         |  SELECT embedding AS p FROM embeddings WHERE vec_id = 0)
         |SELECT vec_id, ${cosSql("embedding", "p")} AS cos
         |FROM embeddings, probe
         |WHERE vec_id <> 0
         |ORDER BY cos DESC, vec_id ASC LIMIT 10""".stripMargin,

    "q_dedup_embed" ->
      s"""SELECT x.vec_id AS d1, y.vec_id AS d2,
         |  ${cosSql("x.embedding", "y.embedding")} AS cos
         |FROM embeddings x JOIN embeddings y
         |  ON x.label = y.label AND x.vec_id < y.vec_id
         |WHERE ${cosSql("x.embedding", "y.embedding")} >= 0.4
         |ORDER BY d1, d2""".stripMargin,

    "q_sim_join" ->
      s"""SELECT vec_id, match_id, cos FROM (
         |  SELECT x.vec_id AS vec_id, y.vec_id AS match_id,
         |    ${cosSql("x.embedding", "y.embedding")} AS cos,
         |    ROW_NUMBER() OVER (PARTITION BY x.vec_id
         |      ORDER BY ${cosSql("x.embedding", "y.embedding")} DESC,
         |               y.vec_id ASC) AS rn
         |  FROM embeddings x JOIN embeddings y
         |    ON x.label = y.label AND x.vec_id <> y.vec_id)
         |WHERE rn = 1 ORDER BY vec_id""".stripMargin
  )
}
