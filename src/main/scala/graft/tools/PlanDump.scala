package graft.tools
import org.apache.spark.sql.SparkSession

/** Dump `.explain("formatted")` for named queries — the plan artifacts
  * under plans/. Mirrors the Bench session conf (AQE on, UTC, shuffle
  * partitions = cores) and explains each declared query verbatim. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder().withExtensions(new graft.GraftExtensions)
      .master(s"local[$cpus]").config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    args.foreach { q =>
      println(s"===== $q =====")
      graft.SparkEntry.queries(q)(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
