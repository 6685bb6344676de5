package graft

import org.apache.spark.sql.functions._

import graft.queries.TextOps

/** Edit-distance near-dup join (TextOps.editDistancePairs): the
  * length-band blocking must be LOSSLESS vs brute force, each pair must
  * surface exactly once, and a degenerate length bin must emit linear
  * star output (same mega-bucket policy as the banded LSH joins). */
class EditDistSpec extends SparkSuite {

  test("blocked join equals brute force on the fixture") {
    val docs = Tables.documents(spark, Sf).select(col("doc_id"), col("text"))
    val blocked = TextOps.editDistancePairs(docs, maxDist = 40)
      .select("d1", "d2", "dist").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // threshold form in the brute force too: the property under test is
    // the BLOCKING (same verify function, all-pairs candidates), and
    // the banded DP keeps 125k full-text pairs affordable in a spec
    val brute = docs.as("a")
      .join(docs.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"),
        levenshtein(col("a.text"), col("b.text"), 40).as("dist"))
      .filter(col("dist") >= 0).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(blocked === brute)
    assert(brute.nonEmpty, "fixture should contain near-dup pairs at d<=40")
  }

  test("each pair surfaces exactly once (no bin double-count)") {
    val docs = Tables.documents(spark, Sf).select(col("doc_id"), col("text"))
    val pairs = TextOps.editDistancePairs(docs, maxDist = 40)
    assert(pairs.count() === pairs.select("d1", "d2").distinct().count())
  }

  test("char-histogram L1 lower-bounds 2x the edit distance (incl. multibyte)") {
    import spark.implicits._
    val samples = Seq(
      ("kitten", "sitting"), ("abc", "abc"), ("", "abc"),
      ("flaw", "lawn"), ("straße", "strasse"), ("héllo wörld", "hello world"),
      ("日本語テキスト", "日本語のテキスト"), ("aaaa", "bbbb"),
      ("the quick brown fox", "the quiet brown fax"))
    import graft.expressions.CharHistPack.{pack, packedL1}
    val rows = samples.toDF("a", "b")
      .select(packedL1(pack(col("a")), pack(col("b"))).as("l1"),
        levenshtein(col("a"), col("b")).as("lev"))
      .collect()
    rows.foreach { r =>
      assert(r.getInt(0) <= 2 * r.getInt(1),
        s"bound violated: l1=${r.getInt(0)} lev=${r.getInt(1)}")
    }
    // and it is not vacuous: identical strings give 0
    assert(rows(1).getInt(0) === 0)
  }

  test("the threshold DP stays the LAST join conjunct in the physical plan") {
    // The blocked join's whole cost model rests on conjunct order: the
    // O(maxDist·len) DP must run only on pairs that survive the cheap
    // id/length-band/L1 prunes (editDistancePairs keeps it inside the
    // join condition precisely because a post-join filter gets inlined
    // AHEAD of the prunes by PushPredicateThroughJoin — measured 10 s
    // flat at sf0.1 when that happens). Pin the evaluation order in
    // the plan itself so an optimizer change can't silently
    // re-quadratify the query.
    val plan = SparkEntry.queries("q_dedup_editdist")(spark, Sf)
      .queryExecution.executedPlan.toString
    val joinLine = plan.linesIterator
      .find(l => l.contains("Join") && l.contains("levenshtein"))
      .getOrElse(fail("no join node carries the levenshtein conjunct\n" +
        plan.take(3000)))
    val lenBand = joinLine.indexOf("abs(")
    val l1 = joinLine.indexOf("packed_hist_l1")
    val lev = joinLine.indexOf("levenshtein")
    assert(lenBand >= 0 && l1 >= 0 && lev >= 0,
      "expected all three prune conjuncts in the join condition\n" + joinLine)
    assert(lenBand < l1 && l1 < lev,
      "conjunct order regressed (DP no longer last)\n" + joinLine)
  }

  test("an over-cap length bin emits only hub-star pairs") {
    import spark.implicits._
    val docs = (1 to 300).map(i => (i.toLong, "equal length text here"))
      .toDF("doc_id", "text")
    val pairs = TextOps.editDistancePairs(docs, maxDist = 10, bucketCap = 32)
      .collect()
    assert(pairs.length === 299, "star around the min id, not n^2/2")
    assert(pairs.forall(_.getLong(0) == 1L), "hub must be the bin min id")
    assert(pairs.forall(_.getInt(2) == 0))
  }

  test("exact mode REFUSES an over-cap bin instead of silently " +
      "star-degrading (round 16 — caught by the k=30 answer invariant)") {
    import spark.implicits._
    val docs = (1 to 300).map(i => (i.toLong, "equal length text here"))
      .toDF("doc_id", "text")
    val e = intercept[Throwable] {
      TextOps.editDistancePairs(docs, maxDist = 10, bucketCap = 32,
        overCapStar = false).collect()
    }
    def msgs(t: Throwable): String = {
      val sb = new StringBuilder
      var c: Throwable = t
      while (c != null) { sb.append(c.getMessage).append('\n'); c = c.getCause }
      sb.toString
    }
    assert(msgs(e).contains(graft.operators.BandGuard.ExactCapError))
    assert(msgs(e).contains("q_dedup_editdist_e2e"),
      "refusal must name the components-based twin")
    // under the cap, exact mode equals star mode equals the full truth
    val small = (1 to 20).map(i => (i.toLong, "equal length text here"))
      .toDF("doc_id", "text")
    val exact = TextOps.editDistancePairs(small, maxDist = 10,
      bucketCap = 32, overCapStar = false).collect()
    assert(exact.length === 20 * 19 / 2, "under-cap exact pairs complete")
  }
}
