package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.execution.SQLExecution

/** The query-tail workload's ops, frozen by name so a change to the query
  * registry cannot silently change what is measured: 8 of the 74
  * declared queries the round-19 benchmark record (BENCH_r19.json, sf0.1)
  * timed at 0.5 s or less, one per family (semi-join, co-occurrence,
  * as-of join, text hashing, vector search, window analytics, graph step,
  * rollup). Their time is
  * planning, job launch and the final presentation sort, so a change to
  * per-query fixed cost moves this workload. The full 163-query set
  * stays covered by graft.Bench. */
object Queries {
  val tail: Seq[String] = Seq(
    "q05_semi_join", "q09_pair_cooccurrence", "q113_asof_join", "q27_simhash",
    "q32_ivf_ann", "q53_window_analytics", "q66_pagerank_step", "q96_rollup_distinct")

  /** Order-insensitive output fingerprint: the row count and the wrapping
    * 64-bit sum of an xxhash64 of each row's binary (UnsafeRow) form. It
    * executes the query's own physical plan (no extra exchange or
    * aggregate on top), so the same execution also warms that plan's
    * generated code for the timed runs. */
  def fingerprint(df: DataFrame): (Long, String) = {
    val qe = df.queryExecution
    val schema = df.schema
    val (rows, sum) = SQLExecution.withNewExecutionId(qe, Some("graftbench fingerprint")) {
      qe.toRdd.mapPartitions { it =>
        val proj = UnsafeProjection.create(schema)
        var n = 0L
        var h = 0L
        it.foreach { r =>
          val u = proj(r)
          n += 1
          h += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
        }
        Iterator((n, h))
      }.fold((0L, 0L)) { case ((n1, h1), (n2, h2)) => (n1 + n2, h1 + h2) }
    }
    (rows, java.lang.Long.toHexString(sum))
  }
}
