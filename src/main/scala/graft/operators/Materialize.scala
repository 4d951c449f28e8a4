package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.GraftShim

/** Materialization helper for iterative workloads. */
object Materialize {

  /** One AQE-off companion session per user session, created lazily.
    * `newSession()` shares the SparkContext (and our extensions) but has
    * an ISOLATED SQLConf, so planning a checkpoint there cannot race
    * with — or be observed by — queries planned concurrently in the
    * user's session.
    *
    * The map is a WeakHashMap keyed on the user session: a companion
    * must not pin its user session live forever (session-per-request
    * apps would leak a session pair per request). `newSession()` holds
    * only the shared SparkContext/SharedState — not its parent — so once
    * the user session is unreachable the entry (and companion) is
    * collectable. Planning-relevant runtime confs are re-copied from the
    * user session on EVERY call (under the companion's lock), so later
    * user conf changes (e.g. shuffle partitions) are reflected in
    * checkpoint planning rather than frozen at first use. */
  private val planners =
    new java.util.WeakHashMap[SparkSession, SparkSession]()

  /** Runtime confs that affect checkpoint planning, mirrored per call. */
  private val MirroredConfs = Seq(
    "spark.sql.shuffle.partitions",
    "spark.sql.autoBroadcastJoinThreshold",
    "spark.sql.session.timeZone")

  private def aqeOffSession(spark: SparkSession): SparkSession =
    planners.synchronized {
      var s = planners.get(spark)
      if (s == null) { s = spark.newSession(); planners.put(spark, s) }
      s
    }

  /** `localCheckpoint()` that PRESERVES the frame's hash partitioning.
    *
    * Invariants:
    *  - The checkpoint is planned with AQE OFF, in the companion session.
    *    An AQE-planned `localCheckpoint` reports `UnknownPartitioning`,
    *    so every downstream join/agg on the partition key would re-plant
    *    an exchange. Planned statically, a frame that ends in a keyed
    *    repartition keeps its `HashPartitioning`, and the LogicalRDD
    *    re-wrapped into the caller's session carries it. The analyzed
    *    plan is fully resolved, so it re-executes identically there.
    *  - `parts = Some(n)` plans the frame at n partitions instead of
    *    `spark.sql.shuffle.partitions` (which an AQE-off plan cannot
    *    coalesce). The caller derives n from input bytes
    *    ([[graft.queries.GraphQueries.graphParts]]), so loop stages get
    *    a data-proportional task count whatever the core count.
    *  - Every frame of one co-partitioned family must use the SAME
    *    `parts`, or the exchange-free loop joins re-plant exchanges.
    *
    * `eager = false` still truncates lineage per call (the many-iteration
    * requirement) but folds materialization into the next action instead
    * of costing a dedicated job; with AQE off the partitioning is known
    * statically, so laziness does not cost the partitioning capture. */
  def checkpointPartitioned(df: DataFrame, eager: Boolean = true,
      parts: Option[Int] = None): DataFrame = {
    val spark = df.sparkSession
    val ns = aqeOffSession(spark)
    // serialize conf-mirror + plan per companion: two threads of the
    // same user session must not observe each other's mirrored confs
    // mid-plan (the companion is per-user-session, so this lock is
    // uncontended in single-threaded use)
    val ckpt = ns.synchronized {
      ns.conf.set("spark.sql.adaptive.enabled", "false")
      MirroredConfs.foreach(k =>
        spark.conf.getOption(k).foreach(ns.conf.set(k, _)))
      // the caller's data-derived width overrides the mirrored global
      // (AFTER the mirror loop)
      parts.foreach(n => ns.conf.set("spark.sql.shuffle.partitions", n.toString))
      // lazy inside the lock: the lock must cover conf-mirror + PLANNING
      // only — an eager checkpoint here would hold it for the whole
      // cluster job, serializing concurrent checkpoint calls
      GraftShim.ofRows(ns, df.queryExecution.analyzed).localCheckpoint(false)
    }
    // materialize OUTSIDE the lock (the plan is already fixed)
    if (eager) ckpt.queryExecution.toRdd.count()
    GraftShim.ofRows(spark, ckpt.queryExecution.analyzed)
  }
}
