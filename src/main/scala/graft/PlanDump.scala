package graft

import org.apache.spark.sql.execution.ExplainMode

/** Diagnostic main: prints the formatted physical plan of each named
  * registered query (args; default = all) against
  * `SPARK_GRAFT_SF_DIR`. The per-round plan audits (docs/PLANS_r*.md)
  * are produced from this output; keeping it a committed main means
  * the audit is reproducible with
  * `sbt "runMain graft.PlanDump q82_keyword_scores"`.
  *
  * With `SPARK_GRAFT_PLAN_METRICS=1` the query is EXECUTED and the
  * per-node runtime metrics (numOutputRows, spill/shuffle bytes, …)
  * are printed from the executed plan — the instrument that found the
  * q142 wedge-volume and bloom-fp bugs (docs/SCALING.md sixth sweep),
  * now reproducible instead of ad-hoc. Recurses through
  * AdaptiveSparkPlanExec / QueryStageExec / ReusedExchangeExec so AQE
  * runs show the plan that actually executed. `SPARK_GRAFT_CPUS` and
  * `SPARK_GRAFT_SHUFFLE_PARTITIONS` size the session for scale-probe
  * runs (the 10×/100× corpora).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val shuffle = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus.toString).toInt
    val spark = Sessions.builder(s"local[$cpus]", shuffle.toString).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val withMetrics = sys.env.contains("SPARK_GRAFT_PLAN_METRICS")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.registry.map(_.name)
    names.foreach { n =>
      println(s"===== $n =====")
      val df = SparkEntry.queries(n)(spark, sfDir)
      if (withMetrics) {
        df.collect()
        walk(df.queryExecution.executedPlan, 0)
      } else {
        println(df.queryExecution.explainString(ExplainMode.fromString("formatted")))
      }
    }
    spark.stop()
  }

  private def walk(p: org.apache.spark.sql.execution.SparkPlan, depth: Int): Unit = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    val ms = p.metrics.toSeq
      .collect { case (k, m) if m.value > 0 => s"$k=${m.value}" }
      .sorted.mkString(" ")
    println(("  " * depth) + p.nodeName + (if (ms.nonEmpty) s"  [$ms]" else ""))
    p match {
      case a: AdaptiveSparkPlanExec  => walk(a.executedPlan, depth + 1)
      case q: QueryStageExec         => walk(q.plan, depth + 1)
      case r: ReusedExchangeExec     => walk(r.child, depth + 1)
      case _                         => p.children.foreach(walk(_, depth + 1))
    }
  }
}
