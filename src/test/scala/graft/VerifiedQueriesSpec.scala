package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Oracle shape of the sketch queries on the correctness scale factor
  * (sf0.01): each `SparkEntry.queries` entry built from a `SparkQueries`
  * estimate plus an exact-verify projection must keep its output schema
  * (the DuckDB oracle's column list) and report every `*_ok` check true — a
  * false or null flag is exactly what the oracle compare turns red. */
class VerifiedQueriesSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.01"

  private val recall = Seq("query_id" -> "long", "recall_ok" -> "boolean")
  private val members = Seq("doc_id" -> "long")

  private val expected: Seq[(String, Seq[(String, String)])] = Seq(
    "q_hll_distinct" -> Seq("lang" -> "string", "n_exact" -> "long",
      "hll_ok" -> "boolean", "bloom_ok" -> "boolean"),
    "q_hll_native" -> Seq("lang" -> "string", "n_exact" -> "long", "hll_ok" -> "boolean"),
    "q_salted_hll" -> Seq("event_type" -> "string", "n_exact" -> "long",
      "hll_ok" -> "boolean", "bloom_ok" -> "boolean"),
    "q_cms_heavy_hitters" -> Seq("lang" -> "string", "top_source" -> "string",
      "true_count" -> "long", "hh_found_ok" -> "boolean", "est_close_ok" -> "boolean"),
    "q_vocab_hh" -> Seq("lang" -> "string", "top_token" -> "string",
      "true_count" -> "long", "hh_found_ok" -> "boolean", "est_close_ok" -> "boolean"),
    "q_kll_quantiles" -> Seq("lang" -> "string",
      "p50_ok" -> "boolean", "p90_ok" -> "boolean", "p99_ok" -> "boolean"),
    "q_tdigest_quantiles" -> Seq("event_type" -> "string",
      "p50_ok" -> "boolean", "p95_ok" -> "boolean", "p99_ok" -> "boolean"),
    "q_cbf_counts" -> Seq("bucket" -> "string", "true_count" -> "long", "ge_ok" -> "boolean"),
    "q_ccf_counts" -> Seq("bucket" -> "string", "true_count" -> "long", "ccf_count" -> "long"),
    "q_stream_threshold" -> Seq("user" -> "string", "n_events" -> "long"),
    "q_ebf_stats" -> Seq("lang" -> "string", "els_added" -> "long",
      "all_members_ok" -> "boolean"),
    "q_simhash_pairs" -> Seq("id_a" -> "long", "id_b" -> "long", "consistent_ok" -> "boolean"),
    "q_simhash_incremental" -> Seq("id_a" -> "long", "id_b" -> "long",
      "consistent_ok" -> "boolean"),
    "q_ann_lsh_recall" -> recall,
    "q_ann_ivf_recall" -> recall,
    "q_ann_pq_recall" -> recall,
    "q_ann_opq_recall" -> recall,
    "q_ann_ivfpq_recall" -> recall,
    "q_ann_topk" -> Seq("query_id" -> "long", "vec_id" -> "long", "rank" -> "long"),
    "q_bloom_members" -> members,
    "q_cuckoo_members" -> members,
    "q_qf_members" -> members,
    "q_ebf_members" -> members,
    "q_pages_battery" -> Seq("lang" -> "string", "n_pages" -> "long",
      "top_domain" -> "string", "hll_ok" -> "boolean", "bloom_ok" -> "boolean",
      "hh_ok" -> "boolean", "p50_ok" -> "boolean", "p95_ok" -> "boolean",
      "p99_ok" -> "boolean"))

  expected.foreach { case (name, schema) =>
    test(s"$name: oracle schema and every *_ok check true on sf0.01") {
      val df = SparkEntry.queries(name)(spark, dir)
      assert(df.schema.fields.map(f => f.name -> f.dataType.typeName).toSeq == schema)
      val rows = df.collect()
      assert(rows.nonEmpty, s"$name returned no rows")
      val oks = df.columns.filter(_.endsWith("_ok"))
      oks.foreach { c =>
        val i = df.columns.indexOf(c)
        val bad = rows.filterNot(r => !r.isNullAt(i) && r.getBoolean(i))
        assert(bad.isEmpty, s"$name.$c not true on ${bad.length} rows: ${bad.take(3).mkString(", ")}")
      }
    }
  }
}
