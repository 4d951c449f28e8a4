package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: set-up, a warm-up pass that checks every
  * output, then `--passes` timed passes, one op at a time
  * (a closed loop with one client). Writes the raw record (every op, pass,
  * set-up sample, anchor and, when traced, per-layer totals and spans);
  * run.py turns it into the metrics.
  *
  *   --workload query-tail|etl-cycle --seed N --passes P
  *   --trace 0|1 --data DIR --work DIR --out FILE --goldens FILE --cores N
  *   --day2 DIR        (etl-cycle's fixed day-2 inputs)
  *   [--mode golden]   (fingerprint every query op into --goldens)
  *   [--mode fixtures] (write the day-2 inputs from --data into --day2)
  */
object Main {
  private val epoch0Us = System.currentTimeMillis() * 1000
  private val nano0 = System.nanoTime()
  def nowUs: Long = epoch0Us + (System.nanoTime() - nano0) / 1000

  def main(args: Array[String]): Unit = {
    val o = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val run = new Run(o)
    try run.execute() finally run.close()
  }
}

final class Run(o: Map[String, String]) {
  import Main.nowUs

  private val workload = o("workload")
  private val seed = o("seed").toLong
  private val passCount = o("passes").toInt
  private val traced = o.getOrElse("trace", "0") == "1"
  private val data = o("data")
  private val work = o("work")
  private val cores = o("cores").toInt
  private val golden = o.get("mode").contains("golden")
  private val day2 = o.getOrElse("day2", "")
  private val jvmStartUs = ManagementFactory.getRuntimeMXBean.getStartTime * 1000

  private var spark: SparkSession = newSession()
  private val spans = mutable.ArrayBuffer[String]()
  private var peakHeapMb = 0.0

  private def newSession(): SparkSession = {
    val s = SparkSession.builder().withExtensions(new graft.GraftExtensions)
      .master(s"local[$cores]")
      .appName(s"graftbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def close(): Unit = if (spark != null) spark.stop()

  /** Session up and a first job run; inputs are first read by the warm-up
    * pass (query-tail) or the timed pass (etl-cycle). */
  private def ready(): Unit = spark.range(0, 100000, 1, cores).selectExpr("sum(id)").collect()

  /** A fixed pure-Spark job; its time tracks the host, not the program. */
  private def anchor(): (Double, Double) = {
    val n = 4000000L
    val t = nowUs
    val total = spark.range(0, n, 1, cores).selectExpr("id % 997 AS k", "id")
      .groupBy("k").sum("id").selectExpr("sum(`sum(id)`)").head().getLong(0)
    val s = (nowUs - t) / 1e6
    require(total == n * (n - 1) / 2, s"anchor job computed $total")
    (s, ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage)
  }

  private def gcTimeS: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  /** Live heap: used heap right after a full collection. */
  private def liveHeapMb(): Double = {
    // twice: the first collection enqueues what Spark's cleaner and the
    // reference queues release, the second reclaims it
    System.gc()
    Thread.sleep(50)
    System.gc()
    val mb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    peakHeapMb = math.max(peakHeapMb, mb)
    mb
  }

  /** Drops what an op left cached, keeping the engine's shared memo
    * frames (the graph edge frame and the dedup corpus), as Bench does. */
  private def sharedIds: Set[Int] =
    graft.queries.GraphQueries.sharedRddIds(spark) ++ graft.queries.DedupQueries.sharedRddIds(spark)
  private def release(): Unit = {
    spark.catalog.clearCache()
    val keep = sharedIds
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!keep.contains(id)) rdd.unpersist(blocking = false) }
  }

  private def queryOps(names: Seq[String]): Seq[Op] = {
    val reg = graft.SparkEntry.queries
    names.map(n => Op.query(spark, data, n, reg.getOrElse(n,
      sys.error(s"query $n is not declared in SparkEntry.queries"))))
  }

  private def treeStat(roots: Seq[String]): Map[String, (Long, Long)] =
    roots.map(Paths.get(_)).filter(Files.exists(_)).flatMap { r =>
      val s = Files.walk(r)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
        p.toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)
      }.toList finally s.close()
    }.toMap

  /** Runs one pass. Traced passes attach the tracer for their duration. */
  private def pass(index: Int, ops: Seq[Op], tracer: Option[Tracer], dirOf: Option[String]): PassResult = {
    val passStart = nowUs
    val gc0 = gcTimeS
    val stateRoots = dirOf.toSeq :+ s"$work/warehouse"
    val wh0 = if (tracer.isDefined && dirOf.isDefined) treeStat(Seq(s"$work/warehouse")) else Map.empty[String, (Long, Long)]
    val passSpan = tracer.map(_.reserve())
    tracer.foreach(_.attach())
    var persisted = 0L
    var filesWritten = 0L
    val traces = mutable.ArrayBuffer[OpTrace]()
    val results = ops.zipWithIndex.map { case (op, i) =>
      op.prep()
      val before = if (tracer.isDefined && dirOf.isDefined) treeStat(stateRoots) else Map.empty[String, (Long, Long)]
      val tr = new OpTrace(s"p$index-o$i-${op.name}", op.name)
      tracer.foreach(_.beginOp(tr))
      spark.sparkContext.setLocalProperty(Tracer.OpKey, tr.id)
      tr.start = nowUs
      val failure = try {
        op.run(new Phases {
          def phase[T](name: String)(body: => T): T = {
            spark.sparkContext.setLocalProperty(Tracer.PhaseKey, name)
            val s = nowUs
            try body finally tr.phases += ((name, s, nowUs))
          }
        })
        None
      } catch { case e: Throwable => Some(s"${op.name} failed: ${e.getClass.getSimpleName}: ${e.getMessage}") }
      tr.end = nowUs
      spark.sparkContext.setLocalProperty(Tracer.OpKey, null)
      spark.sparkContext.setLocalProperty(Tracer.PhaseKey, null)
      tracer.foreach(_.endOp(tr, passSpan.get))
      traces += tr
      val problems = failure.toSeq ++ (if (failure.isEmpty) {
        try op.check() catch { case e: Throwable => Seq(s"${op.name} check failed: ${e.getMessage}") }
      } else Nil)
      problems.foreach(p => System.err.println(s"[graftbench] $p"))
      if (tracer.isDefined) {
        persisted += spark.sparkContext.getPersistentRDDs.size
        if (dirOf.isDefined) {
          val after = treeStat(stateRoots)
          filesWritten += after.count { case (p, st) =>
            !p.endsWith(".crc") && !p.endsWith("_SUCCESS") && !before.get(p).contains(st) }
        }
      }
      release()
      OpResult(op.name, (tr.end - tr.start) / 1e6, problems.isEmpty, problems)
    }
    val passEnd = nowUs
    val layers = tracer.map { t =>
      t.detach()
      val lt = Tracer.layerTotals(traces.toSeq, cores)
      val io = dirOf.map { d =>
        val artifactMb = treeStat(Seq(s"$d/artifacts")).values.map(_._1).sum / 1048576.0
        val wh1 = treeStat(Seq(s"$work/warehouse"))
        val stateMb = (treeStat(Seq(d)).values.map(_._1).sum +
          wh1.filter(kv => !wh0.contains(kv._1)).values.map(_._1).sum) / 1048576.0
        val writeMb = lt("io.task_write_mb") + artifactMb
        Map("io.write_mb" -> writeMb, "io.files_written" -> filesWritten.toDouble,
          "io.state_mb" -> stateMb, "io.write_amp" -> (if (stateMb > 0) writeMb / stateMb else 0.0))
      }.getOrElse(Map("io.write_mb" -> lt("io.task_write_mb"), "io.files_written" -> 0.0,
        "io.state_mb" -> 0.0, "io.write_amp" -> 0.0))
      val opWall = results.groupBy(_.name).map { case (n, rs) => n -> rs.map(_.wallS).sum }
      val named = (EtlCycle.JobOps.map("jobs." + _) ++ EtlCycle.CliOps.map("cli." + _))
        .map { m => s"${m}_s" -> opWall.getOrElse(m.dropWhile(_ != '.').tail, 0.0) }.toMap
      t.span(0, s"pass-$index", "pass", s"pass-$index", passStart, passEnd,
        Intervals.selfTime(passStart, passEnd, traces.map(op => (op.start, op.end)).toSeq), "",
        passSpan.get)
      spans ++= t.spans
      t.spans.clear()
      (lt - "io.task_write_mb") ++ io ++ named ++ Map(
        "operators.persisted_rdds" -> persisted.toDouble,
        "operators.memo_rdds" -> sharedIds.size.toDouble,
        "jvm.gc_s" -> (gcTimeS - gc0))
    }.getOrElse(Map.empty)
    PassResult((passEnd - passStart) / 1e6, results, layers)
  }

  def execute(): Unit = {
    Files.createDirectories(Paths.get(work))
    if (o.get("mode").contains("fixtures")) return EtlCycle.writeFixtures(spark, data, day2)
    // ---- inputs (etl-cycle only), excluded from set-up ----
    val genStart = nowUs
    val etl = if (workload == "etl-cycle") {
      val e = new EtlCycle(spark, EtlInputs.generate(seed), s"$work/gen", data, day2)
      e.stageInputs()
      Some(e)
    } else None
    val goldens = if (etl.isEmpty && !golden) Goldens.read(o("goldens")) else Map.empty[String, (Long, String)]
    val genS = (nowUs - genStart) / 1e6

    // ---- set-up, three times: the cold process, then two fresh sessions ----
    ready()
    val setups = mutable.ArrayBuffer((nowUs - jvmStartUs) / 1e6 - genS)
    for (_ <- 1 to 2) {
      spark.stop()
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      val t = nowUs
      spark = newSession()
      ready()
      setups += (nowUs - t) / 1e6
    }
    val etlCycle = etl.map(e => new EtlCycle(spark, e.inputs, s"$work/gen", data, day2))
    (1 to 3).foreach(_ => anchor()) // the first runs compile the job; time it warm
    val anchors = mutable.ArrayBuffer(anchor())
    liveHeapMb()

    if (golden) {
      val fps = Queries.tail.map { n =>
        val fp = Queries.fingerprint(graft.SparkEntry.queries(n)(spark, data)); release(); n -> fp
      }
      Goldens.write(o("goldens"), fps)
      return
    }

    // ---- warm-up pass: untimed; every output checked ----
    val warmStart = nowUs
    val warm: Seq[OpResult] = etlCycle match {
      // batch jobs start cold in production (one process per CLI stage), so
      // etl-cycle times its first pass; every pass checks its outputs. A
      // traced run warms up first, so that its untraced and traced passes
      // are both warm and their ratio is the tracing cost alone.
      case Some(e) => if (traced) etlPass(e, 0, None).ops else Nil
      case None => Queries.tail.map { n =>
        val t = nowUs
        val problems = try {
          Goldens.check(n, Queries.fingerprint(graft.SparkEntry.queries(n)(spark, data)), goldens)
        } catch { case e: Throwable => Seq(s"$n failed: ${e.getMessage}") }
        problems.foreach(p => System.err.println(s"[graftbench] $p"))
        release()
        OpResult(n, (nowUs - t) / 1e6, problems.isEmpty, problems)
      }
    }
    // the fingerprint runs each query's plan once; one untimed pass of the
    // timed form (build + noop write) lets the JIT settle before timing
    if (etlCycle.isEmpty) pass(0, queryOps(Queries.tail), None, None)
    val warmS = (nowUs - warmStart) / 1e6
    liveHeapMb()
    anchors += anchor()

    // ---- timed passes: a fixed count, so every run of a workload has the
    // same samples; a traced run times one untraced and one traced pass ----
    val passes = mutable.ArrayBuffer[(Boolean, PassResult)]()
    for (i <- 1 to (if (traced) 2 else passCount)) {
      val tracePass = traced && i == 2
      val tracer = if (tracePass) Some(new Tracer(spark)) else None
      val r = etlCycle match {
        case Some(e) => etlPass(e, i, tracer)
        case None =>
          val rnd = new scala.util.Random(seed * 1000003L + i)
          pass(i, rnd.shuffle(queryOps(Queries.tail)), tracer, None)
      }
      passes += ((tracePass, r))
      liveHeapMb()
    }
    anchors += anchor()

    val unstable = etlCycle.toSeq.flatMap(_.unstableArtifacts)
    unstable.foreach(f => System.err.println(s"[graftbench] artifact $f differs between passes"))

    // ---- record ----
    val record = mutable.LinkedHashMap[String, String]()
    def arr(xs: Iterable[Double]): String = xs.map(Json.num).mkString("[", ",", "]")
    def opJson(r: OpResult): String =
      s"""{"name":"${r.name}","wall_s":${Json.num(r.wallS)},"ok":${r.ok},""" +
        s""""problems":${r.problems.map(p => "\"" + Json.esc(p) + "\"").mkString("[", ",", "]")}}"""
    record("workload") = "\"" + workload + "\""
    record("seed") = seed.toString
    record("traced") = traced.toString
    record("cores") = cores.toString
    record("passes_run") = passes.size.toString
    record("setup_s") = arr(setups)
    record("gen_s") = Json.num(genS)
    record("warmup_s") = Json.num(warmS)
    record("anchor_s") = arr(anchors.map(_._1))
    record("load1") = arr(anchors.map(_._2))
    record("peak_heap_mb") = Json.num(peakHeapMb)
    record("unstable_artifacts") = unstable.map("\"" + _ + "\"").mkString("[", ",", "]")
    record("warmup") = warm.map(opJson).mkString("[", ",", "]")
    record("passes") = passes.map { case (t, p) =>
      val layers = p.layers.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":${Json.num(v)}""" }
        .mkString("{", ",", "}")
      s"""{"traced":$t,"wall_s":${Json.num(p.wallS)},"ops":${p.ops.map(opJson).mkString("[", ",", "]")},"layers":$layers}"""
    }.mkString("[", ",", "]")
    Files.writeString(Paths.get(o("out")), record.map { case (k, v) => s""""$k":$v""" }
      .mkString("{", ",", "}\n"))
    if (traced) Files.write(Paths.get(o("out") + ".spans.jsonl"), spans.asJava)
  }

  /** One etl-cycle pass in its own directory; its tables and files are
    * dropped afterwards (after the traced pass has measured them). */
  private def etlPass(e: EtlCycle, i: Int, tracer: Option[Tracer]): PassResult = {
    val d = s"$work/etl/pass-$i"
    val tables0 = spark.catalog.listTables().collect().map(_.name).toSet
    val r = pass(i, e.ops(d), tracer, Some(d))
    spark.catalog.listTables().collect().map(_.name).filterNot(tables0)
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    deleteTree(Paths.get(d))
    r
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
  }
}

final case class OpResult(name: String, wallS: Double, ok: Boolean, problems: Seq[String])
final case class PassResult(wallS: Double, ops: Seq[OpResult], layers: Map[String, Double])

/** Golden output fingerprints, one line per query: name rows hashsum. */
object Goldens {
  /** Problems of one output against the goldens; empty when it matches. */
  def check(name: String, fp: (Long, String), goldens: Map[String, (Long, String)]): Seq[String] =
    goldens.get(name) match {
      case Some(g) if g == fp => Nil
      case Some(g) => Seq(s"$name: output fingerprint $fp, golden $g")
      case None => Seq(s"$name: no golden")
    }

  def read(path: String): Map[String, (Long, String)] =
    Files.readAllLines(Paths.get(path)).asScala.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(n, c, h) = l.split("\\s+"); n -> (c.toLong, h) }.toMap

  def write(path: String, fps: Seq[(String, (Long, String))]): Unit =
    Files.write(Paths.get(path), fps.sortBy(_._1).map { case (n, (c, h)) => s"$n $c $h" }.asJava)
}
