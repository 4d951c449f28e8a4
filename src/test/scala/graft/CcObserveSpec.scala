package graft

import org.apache.spark.graft.Bus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions._

import graft.operators.ConnectedComponents

/** The CC loops' convergence probes ride each iteration's checkpoint job
  * as observed metrics instead of dedicated follow-up jobs. These tests
  * pin (a) the load-bearing Spark contract — an `Observation` completes
  * under an EAGER `localCheckpoint` action and carries the exact row
  * metric — (b) that the observed-metric loop still converges to the
  * exact fixpoint labels on a multi-iteration fixture (a path, where
  * min-label takes diameter+1 rounds), and (c) job-count ceilings that a
  * dedicated per-round probe job would exceed. StarCcSpec pins
  * cross-variant equality on random graphs and the real LSH pair graph. */
class CcObserveSpec extends SparkSuite {
  import spark.implicits._

  // Job ceilings for the path fixture of the last test, under
  // SparkSuite's local[4] / 4 shuffle partitions with AQE on. Measured:
  // min-label 39 jobs, star 43. With a per-round probe job restored
  // (`isEmpty` per min-label round, two `count`s per star round) the
  // same fixture runs 46 and 59.
  private val MinLabelJobCeiling = 42
  private val StarJobCeiling = 50

  test("an Observation completes under an eager localCheckpoint and is exact") {
    val obs = Observation()
    val df = spark.range(1000).toDF("id")
      .where($"id" % 3 === 0)
      .observe(obs, count(when($"id" > 500, true)).as("n_big"), count(lit(1)).as("n"))
      .localCheckpoint(true)
    // get blocks until the action's listener fires — a hang here means the
    // checkpoint stopped running under withAction/SQLExecution
    assert(obs.get("n").asInstanceOf[Long] == 334L)
    assert(obs.get("n_big").asInstanceOf[Long] == 167L)
    assert(df.count() == 334L) // the checkpointed frame is intact
  }

  test("min-label components converge exactly on a path (multi-iteration loop)") {
    val path = (0L until 9L).map(i => (i, i + 1)).toDF("a", "b")
    val labels = ConnectedComponents.components(path, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size == 10)
    assert(labels.values.toSet == Set(0L), "all nodes label to the path head")
  }

  /** `f`'s result and the jobs started while it runs. The listener bus
    * is drained before the listener attaches and before it detaches, so
    * exactly the jobs of `f` are counted. */
  private def withJobCount[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    Bus.drain(sc)
    sc.addSparkListener(listener)
    val out =
      try { val r = f; Bus.drain(sc); r } finally sc.removeSparkListener(listener)
    (out, jobs.get)
  }

  test("the CC loops submit no dedicated convergence-probe jobs") {
    // path 0..5: min-label needs 6 update rounds (5 to converge + 1
    // no-change round), and the star variant several rounds. Each round is
    // one checkpoint action; its convergence metric rides that action as
    // an Observation. A dedicated per-round probe (`isEmpty` on the
    // min-label frame, two `count`s on the star edge sets) adds at least
    // one job per round, which the class's job ceilings leave no room for.
    val path = (0L until 6L).map(i => (i, i + 1)).toDF("a", "b")
      .localCheckpoint(true) // isolate fixture prep from the counted jobs
    val (labels, minLabelJobs) = withJobCount(
      ConnectedComponents.components(path, "a", "b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    assert(labels.values.toSet == Set(0L))
    val (star, starJobs) = withJobCount(
      ConnectedComponents.componentsStar(path, "a", "b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    assert(star.values.toSet == Set(0L))
    assert(minLabelJobs <= MinLabelJobCeiling,
      s"min-label components ran $minLabelJobs jobs (ceiling $MinLabelJobCeiling)")
    assert(starJobs <= StarJobCeiling,
      s"star components ran $starJobs jobs (ceiling $StarJobCeiling)")
  }
}
