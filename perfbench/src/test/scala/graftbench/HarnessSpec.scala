package graftbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own arithmetic and checks (run: cd perfbench && sbt test). */
class HarnessSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "3")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("interval union counts overlaps once and ignores empty intervals") {
    assert(Intervals.unionLength(Nil) == 0)
    assert(Intervals.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 25L))) == 20)
    assert(Intervals.unionLength(Seq((20L, 25L), (0L, 10L), (2L, 3L))) == 15)
    assert(Intervals.unionLength(Seq((0L, 10L), (10L, 12L))) == 12)
    assert(Intervals.unionLength(Seq((5L, 5L), (9L, 3L))) == 0)
  }

  test("driver gap: op wall minus the union of its jobs, jobs clipped to the op") {
    // op [0, 100); jobs [10, 30) and [20, 40) overlap, [90, 130) outlives the op
    assert(Intervals.selfTime(0, 100, Seq((10L, 30L), (20L, 40L), (90L, 130L))) == 60)
    assert(Intervals.selfTime(0, 100, Nil) == 100)
    assert(Intervals.selfTime(0, 100, Seq((-50L, 150L))) == 0)
  }

  test("layer totals: job wall is the per-op union, driver gap the rest") {
    val op = new OpTrace("o1", "q")
    op.start = 0; op.end = 1000000
    op.phases += (("build", 0L, 400000L)) += (("action", 400000L, 1000000L))
    op.jobs(1) = ("build", 100000L, 300000L)
    op.jobs(2) = ("action", 500000L, 900000L)
    op.jobs(3) = ("action", 600000L, 700000L)
    val t = Tracer.layerTotals(Seq(op), cores = 4)
    assert(t("sched.jobs") == 3)
    assert(math.abs(t("sched.job_wall_s") - 0.6) < 1e-9)
    assert(math.abs(t("sched.driver_gap_s") - 0.4) < 1e-9)
    assert(math.abs(t("queries.build_s") - 0.4) < 1e-9)
    assert(math.abs(t("queries.build_self_s") - 0.2) < 1e-9)
  }

  test("a traced op counts its jobs, executions and ERROR log events") {
    val tracer = new Tracer(spark)
    tracer.attach()
    val op = new OpTrace("t1", "probe")
    tracer.beginOp(op)
    spark.sparkContext.setLocalProperty(Tracer.OpKey, op.id)
    op.start = Main.nowUs
    spark.range(0, 1000, 1, 2).selectExpr("sum(id)").collect()
    org.apache.logging.log4j.LogManager.getLogger("org.apache.spark.scheduler.DAGScheduler")
      .error("probe error")
    op.end = Main.nowUs
    spark.sparkContext.setLocalProperty(Tracer.OpKey, null)
    tracer.endOp(op, 0)
    tracer.detach()
    assert(op.jobs.nonEmpty && op.jobs.values.forall(j => j._3 >= j._2))
    assert(op.sums("executions") == 1)
    assert(op.sums("tasks") >= 2)
    assert(op.sums("error_logs") == 1)
    assert(tracer.spans.exists(_.contains("\"kind\":\"job\"")))
  }

  test("fingerprint ignores row order and partitioning, and sees one changed value") {
    import spark.implicits._
    val rows = (1 to 500).map(i => (i, s"v$i", i * 0.5, if (i % 7 == 0) None else Some(i.toLong)))
    val a = rows.toDF("a", "b", "c", "d")
    val b = rows.reverse.toDF("a", "b", "c", "d").repartition(5)
    assert(Queries.fingerprint(a) == Queries.fingerprint(b))
    assert(Queries.fingerprint(a)._1 == 500)
    val changed = rows.updated(17, (18, "v18", 9.0, Some(19L))).toDF("a", "b", "c", "d")
    assert(Queries.fingerprint(changed) != Queries.fingerprint(a))
  }

  test("a perturbed golden fails the output check") {
    val goldens = java.nio.file.Files.createTempFile("goldens", ".txt")
    val name = Queries.tail.head
    Goldens.write(goldens.toString, Seq(name -> (5L, "3752360eca3241ad")))
    val g = Goldens.read(goldens.toString)
    assert(g(name) == (5L, "3752360eca3241ad"))
    assert(Goldens.check(name, (5L, "3752360eca3241ad"), g).isEmpty)
    assert(Goldens.check(name, (5L, "3752360eca3241ae"), g).nonEmpty)
    assert(Goldens.check(name, (6L, "3752360eca3241ad"), g).nonEmpty)
    assert(Goldens.check("q_unknown", (1L, "0"), g).nonEmpty)
    java.nio.file.Files.delete(goldens)
  }

  test("etl-cycle runs the jobs ops, then the cli ops, in pass order") {
    val e = new EtlCycle(spark, EtlInputs.generate(1), "gen", "inputs/sf0.001", "inputs/day2")
    assert(e.ops("pass").map(_.name) == EtlCycle.JobOps ++ EtlCycle.CliOps)
  }

  test("the same seed gives identical generated inputs, another seed different ones") {
    val a = EtlInputs.generate(11)
    assert(a == EtlInputs.generate(11))
    assert(a != EtlInputs.generate(12))
    assert(a.clients.size == EtlInputs.Clients && a.addons.size == EtlInputs.Addons)
  }

  test("generated inputs hold every documented predicate boundary") {
    val in = EtlInputs.generate(3)
    val created = in.versions.map(v => v.guid -> v.first_create_date).toMap
    val edge = EtlInputs.AsOf.minusDays(graft.jobs.AmoWhitelist.MinAgeDays.toLong).toString
    assert(created.values.exists(_ == edge))
    assert(in.addons.exists(_.ratings.average == graft.jobs.AmoWhitelist.MinRating))
    assert(in.addons.exists(_.guid == graft.jobs.AmoWhitelist.PioneerGuid))
    assert(in.addons.exists(_.current_version.files.isEmpty))
    assert(in.addons.exists(a => a.current_version.files.headOption.exists(!_.is_webextension)))
    assert(in.editorial.exists(_.guid == null) && in.editorial.exists(_.guid == ""))
    assert(in.clients.exists(_.active_addons.isEmpty))
    assert(in.expectedShortlist.size >= graft.jobs.UpdateWhitelist.MinCount)
    assert(in.expectedKvRows > 0 && in.expectedKvRows < in.clients.size)
    assert(in.optOutsInWindow.nonEmpty &&
      in.deletions.exists(d => !in.optOutsInWindow.contains(d.client_id)))
    // Zipf skew: the most installed addon is far above the mean
    val counts = in.usage.groupBy(_.addon_id).values.map(_.size)
    assert(counts.max > 20 * counts.sum / EtlInputs.Addons)
  }
}
