package graft.tools

/** Dev tool: print formatted physical plans for the headline queries so
  * plan regressions (lost pushdown, surprise shuffles, missing broadcast)
  * are visible at a glance. Usage: runMain graft.tools.PlanAudit [sfDir] [q...]
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else Seq("q_rt_filter", "q_agg_meta", "q_agg_join", "q_dedup_exact", "q_runs",
        "q_text_keywords", "q_dedup_ngram", "q_tpch_q1", "q_tpch_q3", "q_tpch_q6",
        "q_tpch_q14", "q_tpch_q18")
    Kit.withSession("plan-audit") { spark =>
      names.foreach { name =>
        println(s"\n================ $name ================")
        graft.SparkEntry.queries(name)(spark, sfDir).explain("formatted")
      }
    }
  }
}
