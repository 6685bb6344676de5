package graft

import graft.queries.{Curation, TextOps}

/** Hashed-gram shuffle keys: at 100 TB the gram-counting shuffles
  * must carry 8-byte xxhash64(window) keys, not ~50-byte window
  * strings. Every registered caller passes `hashKeys = true`; the
  * string form is the reference this spec compares against. It proves
  * the hashed form computes the identical ANSWER on the real fixture
  * corpus — i.e. the swap is a shuffle-width optimization, not a
  * semantics change (collision-free at fixture scale, and at any
  * scale a collision perturbs one ratio by ~2⁻⁶⁴ per distinct-gram
  * pair).
  */
class HashedGramKeySpec extends SparkSuite {

  private def docs = Tables.documents(spark, Sf)

  test("repeatedWindows: xxhash64 window keys reproduce the " +
      "string-keyed answer on the fixture corpus") {
    val byString = TextOps.repeatedWindows(docs, 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    val byHash = TextOps.repeatedWindows(docs, 8, hashKeys = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(byString.nonEmpty, "fixture produced no windows")
    assert(byHash === byString)
  }

  test("dupgramRates: xxhash64 gram keys reproduce the string-keyed " +
      "answer on the fixture corpus") {
    val byString = Curation.dupgramRates(docs)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted
    val byHash = Curation.dupgramRates(docs, hashKeys = true)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted
    assert(byString.nonEmpty, "fixture produced no grams")
    assert(byHash === byString)
  }

  test("removeRepeatedWindows: xxhash64 window keys reproduce the " +
      "string-keyed answer on the fixture corpus (round 21 — the " +
      "registered default flipped)") {
    val byString = TextOps.removeRepeatedWindows(docs, 8)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .sorted
    val byHash = TextOps.removeRepeatedWindows(docs, 8, hashKeys = true)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .sorted
    assert(byString.nonEmpty, "fixture produced no docs")
    assert(byString.exists(_._3 > 0), "fixture removed no spans — parity vacuous")
    assert(byHash === byString)
  }

  test("hashed form shuffles LONG keys (the 8-byte claim, as a plan " +
      "fact, not prose)") {
    val plan = TextOps.repeatedWindows(docs, 8, hashKeys = true)
      .queryExecution.analyzed
    val winType = plan.collectFirst {
      case p if p.output.exists(_.name == "win") =>
        p.output.find(_.name == "win").get.dataType
    }
    assert(winType.contains(org.apache.spark.sql.types.LongType),
      s"hashed win key should be LongType, got $winType")
  }
}
