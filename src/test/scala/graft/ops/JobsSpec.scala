package graft.ops

import graft.SparkSpecBase

class JobsSpec extends SparkSpecBase {

  test("par returns results in input order") {
    val out = Jobs.par(Seq(() => "a", () => "b", () => "c"))
    assert(out == Seq("a", "b", "c"))
  }

  test("par rethrows the first failure") {
    val e = intercept[RuntimeException] {
      Jobs.par(Seq[() => Any](
        () => "fine",
        () => throw new RuntimeException("boom")))
    }
    assert(e.getMessage == "boom")
  }

  test("fan-out jobs keep the caller's job group and description") {
    // the pool threads must not overwrite the caller's group: a
    // caller's cancelJobGroup and job counting by group reach the
    // fan-out jobs, and listeners see the caller's description
    val sc = spark.sparkContext
    val group = s"jobs-par-caller-${System.nanoTime()}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (j.properties.getProperty("spark.jobGroup.id") == group)
          seen.add(String.valueOf(
            j.properties.getProperty("spark.job.description")))
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "caller description")
    try {
      val counts = Jobs.par(Seq(
        () => spark.range(10).count(),
        () => spark.range(20).count(),
        () => spark.range(30).count()))
      assert(counts == Seq(10L, 20L, 30L))
      // job submission is synchronous: the tracker already has them
      assert(sc.statusTracker.getJobIdsForGroup(group).length >= 3)
      val deadline = System.currentTimeMillis() + 10000
      while (seen.size < 3 && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      assert(seen.size >= 3, seen.toString)
      seen.forEach(d => assert(d == "caller description", seen.toString))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("a failing thunk cancels the sibling's in-flight Spark job") {
    // sibling: a Spark job whose tasks would run ~30 s unless
    // cancelled; failer: throws once the sibling's job has STARTED
    // (so the cancel provably hits an in-flight job, not a not-yet-
    // submitted one). After par rethrows, the active-job set must
    // drain far faster than the sibling could have finished.
    val sc = spark.sparkContext
    val started = new java.util.concurrent.atomic.AtomicBoolean(false)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        started.set(true)
    }
    sc.addSparkListener(listener)
    try {
      val t0 = System.nanoTime()
      intercept[RuntimeException] {
        Jobs.par(Seq[() => Any](
          () => spark.range(4).repartition(4)
            .selectExpr("java_method('java.lang.Thread', 'sleep', " +
              "30000L) AS s")
            .write.format("noop").mode("overwrite").save(),
          () => {
            val deadline = System.currentTimeMillis() + 10000
            while (!started.get && System.currentTimeMillis() < deadline)
              Thread.sleep(20)
            throw new RuntimeException("fail-fast")
          }))
      }
      // the rethrow must not wait out the 30 s sibling...
      assert((System.nanoTime() - t0) / 1e9 < 15.0,
        "par waited for the sibling instead of failing fast")
      // ...and the sibling's job must actually get cancelled
      val drainDeadline = System.currentTimeMillis() + 15000
      while (sc.statusTracker.getActiveJobIds().nonEmpty &&
          System.currentTimeMillis() < drainDeadline)
        Thread.sleep(100)
      assert(sc.statusTracker.getActiveJobIds().isEmpty,
        "sibling Spark job still running after par failure")
    } finally sc.removeSparkListener(listener)
  }
}
