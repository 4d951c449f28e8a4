package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Timed sections inside one op; the traced run turns each into a span. */
trait Phases {
  def phase[T](name: String)(body: => T): T
}

/** One timed operation of a pass. `prep` stages inputs and `check`
  * verifies outputs; both run untimed around `run`. A non-empty result
  * of `check` is a wrong output and counts as a failed op. */
final case class Op(name: String, prep: () => Unit, run: Phases => Unit,
    check: () => Seq[String])

object Op {
  /** A declared query: `fn(spark, dir)` (build), then the noop write that
    * forces full evaluation of every column without write cost (action). */
  def query(spark: SparkSession, dir: String, name: String,
      fn: (SparkSession, String) => DataFrame): Op =
    Op(name, () => (), { p =>
      val df = p.phase("build")(fn(spark, dir))
      p.phase("action")(df.write.format("noop").mode("overwrite").save())
    }, () => Nil)

  def etl(name: String, prep: () => Unit = () => ())(body: () => Any)(
      check: () => Seq[String]): Op =
    Op(name, prep, p => p.phase("run")(body()), check)
}
