package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based checks (SURVEY.md §5.2) of the pure formulas the
  * distributed operators rely on — fast (no Spark jobs), wide input
  * coverage. ScalaCheck generators are driven with fixed seeds
  * (deterministic runs; scalatestplus bridge is not on the offline
  * classpath). */
class PropertySpec extends SparkSuite {

  private def samples[T](g: Gen[T], n: Int = 200): Seq[T] =
    (1 to n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  /** The q_win_ntile CASE formula, extracted: SQL NTILE(k) of rank rn
    * (1-based) among n rows. */
  private def ntileFormula(rn: Long, n: Long, k: Long): Long = {
    val q = n / k
    val r = n % k
    if (rn <= (q + 1) * r) (rn - 1) / (q + 1) + 1
    else r + (rn - 1 - (q + 1) * r) / q + 1
  }

  /** Reference NTILE: first (n mod k) buckets get ceil(n/k) rows. */
  private def ntileReference(n: Int, k: Int): Seq[Long] = {
    val q = n / k
    val r = n % k
    (1 to k).flatMap { b =>
      val size = if (b <= r) q + 1 else q
      Seq.fill(size)(b.toLong)
    }
  }

  test("ntile formula matches the bucket-size definition for all n") {
    val cases = samples(Gen.zip(Gen.choose(1, 400), Gen.choose(1, 10)))
      .filter { case (n, k) => n >= k } // ntile defined: more rows than buckets
    assert(cases.size > 100)
    cases.foreach { case (n, k) =>
      val got = (1 to n).map(rn => ntileFormula(rn.toLong, n.toLong, k.toLong))
      assert(got == ntileReference(n, k), s"n=$n k=$k")
    }
  }

  /** The q_text_fingerprint fold, extracted. */
  private def fingerprint(feats: Seq[Long]): Long =
    feats.foldLeft(0L)((acc, f) => (acc * 31 + f) % 1000000007L)

  test("fingerprint stays in [0, p) and is deterministic and order-sensitive") {
    samples(Gen.listOf(Gen.choose(0L, 100000L))).foreach { feats =>
      val h = fingerprint(feats)
      assert(h >= 0L && h < 1000000007L)
      assert(h == fingerprint(feats))
    }
    assert(fingerprint(Seq(1L, 2L)) != fingerprint(Seq(2L, 1L)))
  }

  /** Jaccard over sets, as computed by q_dedup_jaccard. */
  private def jaccard(a: Set[String], b: Set[String]): Double =
    if (a.isEmpty && b.isEmpty) 0.0
    else a.intersect(b).size.toDouble / (a.size + b.size - a.intersect(b).size)

  test("jaccard is symmetric, bounded, and 1 only for equal sets") {
    val tokGen = Gen.listOf(Gen.oneOf("a", "b", "c", "d", "e", "f")).map(_.toSet)
    samples(Gen.zip(tokGen, tokGen)).foreach { case (a, b) =>
      val j = jaccard(a, b)
      assert(j == jaccard(b, a))
      assert(j >= 0.0 && j <= 1.0)
      if (a.nonEmpty && j == 1.0) assert(a == b)
    }
  }

  test("ShingleJoin parity vs HOF on random token arrays (incl. unicode)") {
    import org.apache.spark.sql.functions._
    import graft.expressions.ShingleJoin
    import graft.queries.TextOps
    import spark.implicits._
    val tok = Gen.oneOf("a", "bb", "γδ", "日本", "x-1", "", "the")
    val arrGen = Gen.choose(0, 12).flatMap(n => Gen.listOfN(n, tok))
    val arrays = samples(arrGen, 120)
    val df = arrays.toDF("toks")
    val rows = df.select(
      ShingleJoin(col("toks"), 3, shortToUnigrams = false).as("ne"),
      TextOps.shingleArrayHof(col("toks"), array().cast("array<string>")).as("he"),
      ShingleJoin(col("toks"), 3, shortToUnigrams = true).as("nu"),
      TextOps.shingleArrayHof(col("toks"), col("toks")).as("hu")).collect()
    rows.foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1), r.toString)
      assert(r.getSeq[String](2) == r.getSeq[String](3), r.toString)
    }
  }

  test("SignBitLsh parity vs HOF on random embeddings") {
    import org.apache.spark.sql.functions.col
    import graft.expressions.SignBitLsh
    import graft.queries.SimOps
    import spark.implicits._
    val vecGen = Gen.listOfN(8, Gen.choose(-10.0f, 10.0f))
    val vecs = samples(vecGen, 100).map(_.toArray)
    val df = vecs.toDF("e")
    val rows = df.select(
      SignBitLsh(col("e"), 8, 3, 4).as("n"),
      SimOps.lshBucketsHof(col("e"), 8, 3, 4).as("h")).collect()
    rows.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1), r.toString)
    }
  }

  test("InterleaveBits: monotone locality and exact round-trip") {
    // deinterleaving the even/odd bits must recover the masked inputs
    def deinterleave(z: Long): (Long, Long) = {
      var x = 0L; var y = 0L
      for (i <- 0 until 21) {
        x |= ((z >> (2 * i)) & 1L) << i
        y |= ((z >> (2 * i + 1)) & 1L) << i
      }
      (x, y)
    }
    import org.apache.spark.sql.functions.col
    import graft.expressions.InterleaveBits
    import spark.implicits._
    val pairs = samples(Gen.zip(Gen.choose(0, (1 << 21) - 1), Gen.choose(0, (1 << 21) - 1)), 150)
    val rows = pairs.toDF("a", "b")
      .select(col("a"), col("b"), InterleaveBits(col("a"), col("b")).as("z"))
      .collect()
    rows.foreach { r =>
      val (x, y) = deinterleave(r.getLong(2))
      assert(x == r.getInt(0).toLong && y == r.getInt(1).toLong, r.toString)
    }
  }

  /** LSH band-match probability: more bands can only add candidates
    * (monotonicity backing the minhash superset test). */
  test("band signatures: equal token sets give equal signatures") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = Seq(
      (1L, "x y z"), (2L, "x y z"), (3L, "z y x"), (4L, "p q")
    ).toDF("doc_id", "text")
    val sigs = df
      .select(col("doc_id"), array_sort(array_distinct(split(col("text"), " "))).as("toks"))
      .select(col("doc_id"),
        transform(sequence(lit(0), lit(7)),
          i => array_min(transform(col("toks"), t => xxhash64(i, t)))).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(1L) == sigs(2L), "identical docs must collide")
    assert(sigs(1L) == sigs(3L), "signature must be order-insensitive (set semantics)")
    assert(sigs(1L) != sigs(4L), "disjoint docs must (generically) differ")
  }

  /** Reference Levenshtein over code points (plain DP). */
  private def lev(a: String, b: String): Int = {
    val as = a.codePoints().toArray
    val bs = b.codePoints().toArray
    val d = Array.tabulate(as.length + 1, bs.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to as.length; j <- 1 to bs.length) {
      val sub = d(i - 1)(j - 1) + (if (as(i - 1) == bs(j - 1)) 0 else 1)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1), sub)
    }
    d(as.length)(bs.length)
  }

  /** The char-histogram pruning bound (q_dedup_editdist): the leading-byte
    * char-histogram L1 never exceeds 2x the true edit distance, for
    * arbitrary strings including multibyte — filtering candidate
    * pairs at l1 <= 2*maxDist is therefore lossless. */
  test("char-histogram L1 lower-bounds 2x edit distance on random strings") {
    import org.apache.spark.unsafe.types.UTF8String
    val alphabet = Gen.oneOf(
      Gen.alphaNumChar, Gen.oneOf(' ', 'é', 'ß', '日', '語', 'ü'))
    val word = Gen.choose(0, 24)
      .flatMap(n => Gen.listOfN(n, alphabet).map(_.mkString))
    val cases = samples(Gen.zip(word, word), 400)
    assert(cases.size > 300)
    cases.foreach { case (a, b) =>
      val l1 = graft.expressions.CharHist.l1(
        UTF8String.fromString(a), UTF8String.fromString(b))
      assert(l1 <= 2 * lev(a, b), s"bound violated for '$a' vs '$b'")
      // the packed per-row form (round 14) must agree exactly away
      // from saturation (these strings are far below 65535/bin) and
      // therefore inherit the same lossless bound
      val packed = graft.expressions.CharHistKernels.l1(
        graft.expressions.CharHistKernels.pack(UTF8String.fromString(a)),
        graft.expressions.CharHistKernels.pack(UTF8String.fromString(b)))
      assert(packed === l1, s"packed L1 diverged for '$a' vs '$b'")
    }
    // saturation is a 1-Lipschitz contraction: the packed L1 only
    // under-estimates, keeping the prune lossless for any input
    import org.apache.spark.unsafe.types.UTF8String.{fromString => u8}
    val big = "x" * 70000 // cnt('x') saturates at 65535
    val small = "x" * 100
    val packedSat = graft.expressions.CharHistKernels.l1(
      graft.expressions.CharHistKernels.pack(u8(big)),
      graft.expressions.CharHistKernels.pack(u8(small)))
    val trueSat = graft.expressions.CharHist.l1(u8(big), u8(small))
    assert(packedSat <= trueSat && packedSat === 65535 - 100)
  }

  /** The q_dedup_prefix length formula, extracted (integer-exact
    * ceil: (sz·tNum + tDen − 1) div tDen). */
  private def prefixLen(sz: Int, tNum: Int, tDen: Int): Int =
    sz - (sz * tNum + tDen - 1) / tDen + 1

  test("prefix-filter theorem holds on random set corpora: every " +
      "over-threshold pair shares a token within both prefixes") {
    // random families of token sets over a small alphabet (forces
    // collisions); canonical order = (global frequency asc, token asc),
    // exactly prefixJaccardPairs' sort key
    val corpus = Gen.choose(2, 14).flatMap(n => Gen.listOfN(n,
      Gen.choose(1, 12).flatMap(sz =>
        Gen.listOfN(sz, Gen.choose(0, 19)).map(_.toSet))))
    val cases = samples(corpus, 300)
    assert(cases.size > 200)
    for (ts <- Seq((4, 5), (1, 2), (9, 10)); sets <- cases) {
      val (tNum, tDen) = ts
      val t = tNum.toDouble / tDen
      val freq = sets.flatten.groupBy(identity).view.mapValues(_.size).toMap
      def canon(s: Set[Int]): Seq[Int] =
        s.toSeq.sortBy(x => (freq(x), x))
      def prefix(s: Set[Int]): Set[Int] =
        canon(s).take(prefixLen(s.size, tNum, tDen)).toSet
      for {
        i <- sets.indices; j <- sets.indices if i < j
        a = sets(i); b = sets(j)
        inter = (a & b).size
        jac = inter.toDouble / (a.size + b.size - inter)
        if jac >= t
      } assert((prefix(a) & prefix(b)).nonEmpty,
        s"t=$tNum/$tDen: J=$jac pair escaped the prefixes: $a vs $b " +
          s"(prefixes ${prefix(a)} / ${prefix(b)})")
    }
  }

  test("NFC normalization is idempotent and its output is normalized, " +
      "on random strings with combining marks") {
    import java.text.Normalizer
    val char = Gen.oneOf(
      Gen.alphaNumChar,
      Gen.oneOf('e', 'a', 'o', 'A', 'n'),
      // combining acute/grave/ring/tilde/cedilla — the decomposed parts
      Gen.oneOf('\u0301', '\u0300', '\u030a', '\u0303', '\u0327'),
      Gen.oneOf('\u00e9', '\u00c5', '\u00df', '\u65e5', '\u00fc'))
    val str = Gen.choose(0, 30).flatMap(n => Gen.listOfN(n, char).map(_.mkString))
    val cases = samples(str, 400)
    assert(cases.size > 300)
    val expr = graft.expressions.NormalizeNfc(
      org.apache.spark.sql.graftbridge.Bridge.expression(
        org.apache.spark.sql.functions.col("s")))
    cases.foreach { s =>
      val once = expr.nullSafeEval(
        org.apache.spark.unsafe.types.UTF8String.fromString(s)).toString
      assert(Normalizer.isNormalized(once, Normalizer.Form.NFC),
        s"output not NFC for input '$s'")
      assert(once == Normalizer.normalize(s, Normalizer.Form.NFC),
        s"expression diverges from java.text.Normalizer on '$s'")
      val twice = expr.nullSafeEval(
        org.apache.spark.unsafe.types.UTF8String.fromString(once)).toString
      assert(twice == once, s"not idempotent on '$s'")
    }
  }

  test("KmvAgg: any partitioning folds to the k smallest distinct values") {
    val agg = new graft.operators.KmvAgg(8)
    val gen = Gen.zip(
      Gen.listOf(Gen.choose(0L, 40L)), // dense domain → many duplicates
      Gen.choose(1, 5))
    samples(gen, 300).foreach { case (xs, nParts) =>
      val want = xs.distinct.sorted.take(8)
      // reduce within random contiguous slices, then merge the partials
      val parts = if (xs.isEmpty) Seq(Seq.empty[Long])
      else xs.grouped(math.max(1, xs.size / nParts)).toSeq
      val partials = parts.map(_.foldLeft(agg.zero)(agg.reduce))
      val merged = partials.foldLeft(agg.zero)(agg.merge)
      assert(merged == want, s"xs=$xs parts=$nParts")
      // merge is commutative on partials
      val rev = partials.reverse.foldLeft(agg.zero)(agg.merge)
      assert(rev == want)
    }
  }

  test("doubled-rank identity: sum c1*(2p+c+1)/2 equals the avg-rank sum") {
    // the q_stats_mannwhitney integer trick vs the classical tied
    // average rank, on random two-sample multisets
    val gen = Gen.zip(Gen.listOf(Gen.choose(0, 15)), Gen.listOf(Gen.choose(0, 15)))
    samples(gen, 300).filter(c => c._1.nonEmpty && c._2.nonEmpty)
      .foreach { case (a, b) =>
        // classical: rank the union with average ranks for ties
        val all = (a ++ b).sorted
        val rankOf = all.distinct.map { v =>
          val first = all.indexOf(v) + 1
          val c = all.count(_ == v)
          v -> (first + (c - 1) / 2.0)
        }.toMap
        val r1Classical = a.map(rankOf).sum
        // doubled-rank: per distinct value, p rows strictly below
        val counts = (a ++ b).groupBy(identity).map { case (v, vs) =>
          (v, a.count(_ == v).toLong, vs.size.toLong)
        }.toSeq.sortBy(_._1)
        var p = 0L
        var rr1 = 0L
        counts.foreach { case (_, c1, c) =>
          rr1 += c1 * (2 * p + c + 1)
          p += c
        }
        assert(rr1 / 2.0 == r1Classical, s"a=$a b=$b")
      }
  }

  test("interval join guard: overlapping pairs survive in exactly one bucket") {
    // the q_join_interval plan = equi-join on shared buckets +
    // RESIDUAL overlap predicate + ownership guard. Adjacent
    // intervals can share a bucket WITHOUT overlapping (writing this
    // property as 'in both ranges iff overlap' found the
    // counter-example [143,152) [159,175) sharing bucket 15 — the
    // residual predicate is load-bearing, not belt-and-braces). The
    // guarantees that hold: an overlapping pair's ownership bucket is
    // covered by both intervals (the pair ALWAYS survives the
    // equi-join), and across all shared buckets the full filter
    // (overlap ∧ bkt = ownership) passes exactly once — no
    // duplicates, no drops.
    val W = 10L
    def buckets(s: Long, e: Long): Seq[Long] = (s / W) to ((e - 1) / W)
    val gen = Gen.zip(Gen.choose(0L, 200L), Gen.choose(1L, 35L),
      Gen.choose(0L, 200L), Gen.choose(1L, 35L))
    samples(gen, 400).foreach { case (s1, l1, s2, l2) =>
      val (e1, e2) = (s1 + l1, s2 + l2)
      val overlap = s1 < e2 && s2 < e1
      val own = math.max(s1, s2) / W
      val shared = buckets(s1, e1).intersect(buckets(s2, e2))
      val emitted = shared.count(b => overlap && b == own)
      assert(emitted == (if (overlap) 1 else 0), s"[$s1,$e1) [$s2,$e2)")
    }
  }

  test("trimmed mean ignores tail perturbations beyond the cut") {
    val gen = Gen.listOfN(50, Gen.choose(0L, 1000L))
    samples(gen, 200).foreach { xs0 =>
      val xs = xs0.sorted
      val lo = math.ceil(xs.size * 0.1).toInt
      def trimmed(v: Seq[Long]): Double = {
        val s = v.sorted.slice(lo, v.size - lo)
        s.sum.toDouble / s.size
      }
      val base = trimmed(xs)
      // push the max far out and the min far down: the trimmed mean
      // must not move (that is the point of trimming)
      val perturbed = (xs.max + 100000L) +: (xs.min - 100000L) +: xs.tail.dropRight(1)
      assert(trimmed(perturbed) == base, s"xs=$xs")
    }
  }

  test("Poisson(1) threshold table: increasing, mean weight ~ 1 on a uniform grid") {
    val ths = Seq(1580030168L, 3160060337L, 3950075421L, 4213413783L,
      4279248373L, 4292415291L, 4294609777L, 4294923276L)
    assert(ths == ths.sorted && ths.distinct == ths)
    def w(h: Long): Long = ths.indexWhere(h <= _) match {
      case -1 => 8L; case i => i.toLong
    }
    // exact expected weight over the uniform integer domain, computed
    // from the threshold widths: must land within 0.1% of 1 (the
    // Poisson mean), or the table was transcribed wrong
    val dom = 4294967296.0
    val widths = (0L +: ths).zip(ths :+ 4294967296L).map(p => p._2 - p._1)
    val mean = widths.zipWithIndex.map { case (width, k) => width.toDouble * k }.sum / dom
    assert(math.abs(mean - 1.0) < 0.001, s"mean $mean")
    // spot grid agrees with indexWhere semantics
    (0L until 4294967296L by 104729L).take(1000).foreach { h =>
      assert(w(h) >= 0L && w(h) <= 8L)
    }
  }
}
