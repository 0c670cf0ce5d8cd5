package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{ExplainMode, SQLExecution}

import graft.spark.SparkQueries

/** Plan capture: prints the formatted physical plan of each headline and
  * pipeline query to stdout, so scan pruning, pushdown, join strategies and
  * exchanges can be reviewed or diffed across commits (redirect stdout to
  * keep a file). Uses Bench's session configuration, and first runs every
  * query's own plan with its rows discarded (as a noop sink would), so the
  * printed plan is the final adaptive (AQE) plan — runtime exchange/stage
  * reuse is invisible in the pre-execution plan, and a noop write would plan
  * and run a copy, leaving this plan unexecuted.
  * Queries with eager prefixes (training loops, persisted-state builds) run
  * those parts while the DataFrame is built; the printed plan is the lazy
  * action plan that runs last.
  *
  * Usage: `runMain graft.tools.PlanDump [sfDir]` (default: the sf0.01
  * tables of TESTDATA.md; cores from SPARK_GRAFT_CPUS, default 4).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val qs: Seq[(String, () => DataFrame)] = Seq(
      "q_docs_stats" -> (() => SparkQueries.docsStats(spark, dir)),
      "q_bloom_semijoin" -> (() => SparkQueries.bloomSemiJoin(spark, dir)),
      "q_hll_distinct" -> (() => SparkQueries.hllDistinct(spark, dir)),
      "q_heavy_domains_exact" -> (() => SparkQueries.heavyDomainsExact(spark, dir)),
      "q_minhash_pairs" -> (() => SparkQueries.minhashPairs(spark, dir)),
      "q_simhash_pairs" -> (() => SparkQueries.simhashPairs(spark, dir)),
      "q_ann_topk" -> (() => SparkQueries.annBruteForce(spark, dir)),
      "q_ann_ivfpq_recall" -> (() => SparkQueries.annIvfPqRecall(spark, dir)),
      "q_semdedup" -> (() => SparkQueries.semDedup(spark, dir)),
      "q_dsir" -> (() => SparkQueries.dsirResample(spark, dir)),
      "q_classifier_train" -> (() => SparkQueries.classifierTrain(spark, dir)),
      "q_domain_cap" -> (() => SparkQueries.domainCapStats(spark, dir)),
      "q_token_budget" -> (() => SparkQueries.tokenBudgetStats(spark, dir)),
      "q_topk_select" -> (() => SparkQueries.topkSelect(spark, dir)),
      "q_pipeline" -> (() => SparkQueries.pipelineStats(spark, dir)),
      "q_pipeline_incremental" -> (() => SparkQueries.pipelineIncremental(spark, dir)),
      "pages_sketch_battery" -> (() => SparkQueries.pagesSketchBattery(spark, 20000L)))
    qs.foreach { case (name, mk) =>
      println(s"\n=================== $name ===================")
      try {
        val qe = mk().queryExecution
        SQLExecution.withNewExecutionId(qe, Some(name))(qe.toRdd.foreach(_ => ()))
        println(qe.explainString(ExplainMode.fromString("formatted")))
      } catch {
        case scala.util.control.NonFatal(t) => println(s"FAILED: ${t.getMessage}")
      }
    }
    spark.stop()
  }
}
