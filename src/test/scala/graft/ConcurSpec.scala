package graft

import graft.operators.Concur

/** [[Concur.par]] runs each thunk under the local properties its
  * caller holds at the call, whichever pool thread runs it. */
class ConcurSpec extends SparkSuite {

  test("par thunks see the caller's current local properties, never a pool thread's stale ones") {
    val sc = spark.sparkContext
    val (tag, key) = ("concur-spec-tag", "graft.test.concur.key")
    def seen(): (Boolean, Option[String]) =
      (sc.getJobTags().contains(tag), Option(sc.getLocalProperty(key)))
    // Create every thread of the shared pool before the caller sets
    // anything, so none of them inherits the properties at creation.
    Seq.fill(2)(Concur.par((), (), (), ()))

    sc.addJobTag(tag)
    sc.setLocalProperty(key, "v")
    val during =
      try Concur.par(seen(), seen(), seen(), seen())
      finally {
        sc.removeJobTag(tag)
        sc.setLocalProperty(key, null)
      }
    assert(during.productIterator.forall(_ == ((true, Some("v")))), s"inside par: $during")

    // The same, already-created pool threads keep nothing of that call.
    val after = Concur.par(seen(), seen(), seen(), seen())
    assert(after.productIterator.forall(_ == ((false, None))), s"after removal: $after")
  }
}
