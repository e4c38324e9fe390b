package graft

/** Lifetime contract of the Tables read memo: a cache whose ENTRIES
  * must not extend the lifetime of the SparkSessions they merely
  * describe. WidthDiff cycles two fresh sessions per declared query,
  * so a memo that pinned them would hold hundreds of sessions for the
  * test run. A session dropped by its caller must stay collectable.
  */
class CheckpointRetentionSpec extends SparkSpec {

  /** GC loop: returns true when `ref` cleared within `rounds` GCs. */
  private def collected(ref: java.lang.ref.WeakReference[_],
      rounds: Int = 25): Boolean = {
    var i = 0
    while (ref.get() != null && i < rounds) {
      // some allocation pressure encourages a real collection
      val junk = Array.fill(1 << 16)(new Array[Byte](64))
      assert(junk.length > 0)
      System.gc()
      Thread.sleep(20)
      i += 1
    }
    ref.get() == null
  }

  test("Tables memo does not retain dropped sessions") {
    val dir = "/root/testdata/sf0.001"
    val before = Tables.memoSessionCount
    // cycle sessions the way WidthDiff does (build only here) and
    // keep weak handles so we can prove they were actually collected —
    // not just expunged while still alive
    var refs = (1 to 3).map { _ =>
      var s = spark.newSession()
      val df = Tables(s, dir, "region")
      assert(df.columns.nonEmpty)
      val ref = new java.lang.ref.WeakReference[AnyRef](s)
      s = null
      ref
    }
    assert(Tables.memoSessionCount >= before + 3,
      "memo did not register the cycled sessions — test setup broken")
    val allCollected = refs.forall(collected(_))
    refs = null
    // the collection of the weak session handles IS the contract: the
    // memo (keys weak, values weak) added no strong path to them. No
    // end-count assertion — suites run concurrently in this JVM and
    // other tests' live sessions may legitimately be in the memo.
    assert(allCollected,
      "a dropped SparkSession used as a memo key was never collected — " +
        "the memo (or the frames it holds) strongly retains sessions")
  }
}
