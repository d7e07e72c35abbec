package graft

import org.apache.spark.sql.execution.ExplainMode

/** Plan inspector: prints `.explain("formatted")` for named operator queries
  * (all of them if none are named) — the evidence behind PLANS.md. The output
  * is [[normalize]]d, so the plans of two checkouts compare with `diff`.
  * Usage: `run_graft.sh graft.Explain <sfDir> [queryName ...]` */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq
                else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt)
    names.foreach { n =>
      println(s"\n========== $n ==========")
      println(normalize(SparkEntry.queries(n)(spark, sfDir).queryExecution
        .explainString(ExplainMode.fromString("formatted"))))
    }
    spark.stop()
  }

  /** A plan string without what differs between two runs of the same plan:
    * expression ids (`doc_id#123L` → `doc_id#L`), exchange `plan_id=` tags,
    * and the id and building source line of a checkpointed RDD. */
  private def normalize(plan: String): String =
    plan.replaceAll("#\\d+", "#")
      .replaceAll(",? ?\\[plan_id=\\d+\\]", "")
      .replaceAll("RDD\\[\\d+\\] at (\\w+) at [\\w.$]+:\\d+", "RDD at $1")
}
