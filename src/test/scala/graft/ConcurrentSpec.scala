package graft

/** [[Concurrent.runAll]]: concurrent actions settle before a failure
  * propagates, and the shared JSON escaper of the harness mains. */
class ConcurrentSpec extends SparkSpec {

  test("a failing action rethrows only after its sibling's Spark job " +
    "finished: no job is left running") {
    import spark.implicits._
    val sc = spark.sparkContext
    val slow = spark.range(0, 16, 1, 4).as[Long]
      .map { i => Thread.sleep(500); i }
    // the injected failure waits until the sibling's job is RUNNING, so a
    // fail-fast wait would return while that job still runs
    val started = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        started.countDown()
    }
    sc.addSparkListener(listener)
    try {
      val e = intercept[IllegalStateException] {
        Concurrent.runAll(
          () => {
            started.await(60, java.util.concurrent.TimeUnit.SECONDS)
            throw new IllegalStateException("injected write failure")
          },
          () => slow.count(): Unit)
      }
      assert(e.getMessage == "injected write failure")
      org.apache.spark.sql.graftbridge.Bridge.drain(sc)
      assert(sc.statusTracker.getActiveJobIds.isEmpty)
    } finally sc.removeSparkListener(listener)
  }

  test("every failure surfaces: the first by position, the rest " +
    "suppressed; all-success returns normally") {
    val ran = new java.util.concurrent.atomic.AtomicInteger
    val e = intercept[RuntimeException] {
      Concurrent.runAll(
        () => { ran.incrementAndGet(); throw new RuntimeException("first") },
        () => ran.incrementAndGet(): Unit,
        () => { ran.incrementAndGet(); throw new RuntimeException("second") })
    }
    assert(e.getMessage == "first" && ran.get == 3)
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("second"))
    Concurrent.runAll(() => ran.incrementAndGet(): Unit)
    assert(ran.get == 4)
  }

  test("Json.escape: quote, backslash, tab, CR and U+0001") {
    assert(Json.escape("a\"b\\c\td\re\u0001f") ==
      "a\\\"b\\\\c\\td\\re\\u0001f")
    assert(Json.escape("plain SQL: select 1") == "plain SQL: select 1")
  }
}
