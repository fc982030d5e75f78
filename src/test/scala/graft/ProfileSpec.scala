package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd}
import org.scalatest.funsuite.AnyFunSuite

import graft.tools.Profile

/** The profiler's moving parts: the job-span merge behind the
  * driver-gap number, the summary statistics over runs, and the
  * listener's per-stage record.
  */
class ProfileSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("busyMs merges disjoint, overlapping and nested job spans") {
    assert(Profile.busyMs(Nil) == 0L)
    assert(Profile.busyMs(Seq(20L -> 30L, 0L -> 10L)) == 20L)
    assert(Profile.busyMs(Seq(0L -> 10L, 5L -> 15L)) == 15L)
    assert(Profile.busyMs(Seq(0L -> 30L, 5L -> 10L, 12L -> 20L)) == 30L)
    // a span nested in an earlier one must not move the cursor back
    assert(Profile.busyMs(Seq(0L -> 30L, 5L -> 10L, 25L -> 40L)) == 40L)
    assert(Profile.busyMs(Seq(100L -> 110L, 100L -> 110L)) == 10L)
  }

  test("spread reports median, interpolated IQR and min") {
    assert(Profile.spread(Seq(2.0)) == ((2.0, 0.0, 2.0)))
    // quartiles of 1..5 sit on order statistics: 2 and 4
    assert(Profile.spread(Seq(5.0, 1.0, 4.0, 2.0, 3.0)) == ((3.0, 2.0, 1.0)))
    // of 1..4 they interpolate: 1.75 and 3.25
    assert(Profile.spread(Seq(4.0, 3.0, 2.0, 1.0)) == ((2.5, 1.5, 1.0)))
  }

  test("Recorder sees a shuffling job's spans and stages once drained") {
    val sc = spark.sparkContext
    // ahead of the recorder on the same queue, a slow listener holds
    // back its events: only a drained read sees the finished action
    val slow = new SparkListener {
      override def onJobEnd(j: SparkListenerJobEnd): Unit = Thread.sleep(300)
    }
    sc.addSparkListener(slow)
    val rec = Profile.Recorder.attach(sc)
    try {
      rec.reset()
      // one job of two stages: 4 map tasks, then 3 reduce tasks
      sc.parallelize(1 to 1000, 4).map(i => (i % 7, 1)).reduceByKey(_ + _, 3)
        .collect()
      val jobs = rec.jobs
      val stages = rec.stages
      assert(jobs.size == 1 && jobs.forall { case (s, e) => s <= e }, jobs)
      assert(stages.map(_.tasks).sorted == Seq(3, 4), stages)
      assert(stages.find(_.tasks == 4).exists(_.shuffleWriteBytes > 0), stages)
      rec.reset()
      assert(rec.jobs.isEmpty && rec.stages.isEmpty)
    } finally { sc.removeSparkListener(rec); sc.removeSparkListener(slow) }
  }
}
