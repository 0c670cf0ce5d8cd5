package graft.spark.io

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.BloomFilter
import graft.ext.{Hll, Kll}
import graft.spark.aggs.SaltedAgg
import graft.spark.fns.SketchFunctions

/** Per-partition sketch checkpointing with lineage + metrics
  * (SURVEY.md §7.4; the north rule's resumability requirement).
  *
  * Stage 1 computes one row per (partition, lang): the partition-local
  * partial sketches plus lineage columns —
  *   (job_id, stage, partition_id, lang, rows_in, started_ts, finished_ts,
  *    input_fingerprint, hll BINARY, bloom BINARY, kll BINARY)
  * — appended to a parquet checkpoint table. Because every sketch merge is
  * associative + commutative (property-tested), the final result is the fold
  * of whatever partial rows exist, and resuming = computing only the
  * partitions whose ids are missing (anti-join on partition_id).
  *
  * This plays the role of the reference's `BloomFilterOnDisk` mmap
  * persistence (bloom.py:571-697): durable incremental state, re-expressed
  * as a table instead of a file.
  */
object Checkpoints {

  final case class PartialRow(
      job_id: String, stage: String, partition_id: Int, lang: String,
      rows_in: Long, started_ts: Long, finished_ts: Long,
      input_fingerprint: Long, hll: Array[Byte], bloom: Array[Byte],
      kll: Array[Byte])

  /** Compute per-(partition, lang) partial sketches with lineage columns.
    * Pure mapPartitions — no shuffle; the checkpoint write is the stage
    * boundary. `pages` must carry (url, text, lang). */
  def partials(spark: SparkSession, pages: DataFrame, jobId: String,
               bloomEst: Long = 1000000L, bloomFpr: Double = 0.01,
               hllP: Int = 14, kllK: Int = 200): DataFrame = {
    import spark.implicits._
    pages.select(col("url"), col("lang"), length(col("text")).cast("double").as("len"))
      .as[(String, String, Double)]
      .mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        val t0 = System.currentTimeMillis()
        val perLang = scala.collection.mutable.Map[String, (Hll, BloomFilter, Kll, Array[Long])]()
        var fp = 0xcbf29ce484222325L
        it.foreach { case (url, lang, len) =>
          val st = perLang.getOrElseUpdate(lang,
            (Hll(hllP), BloomFilter.empty(bloomEst, bloomFpr), Kll(kllK), Array(0L)))
          st._1.add(url)
          st._2.add(url)
          st._3.update(len)
          st._4(0) += 1
          fp ^= graft.hash.Fnv.fnv1a64(url, 0)
        }
        val t1 = System.currentTimeMillis()
        perLang.iterator.map { case (lang, (hll, blm, kll, n)) =>
          PartialRow(jobId, "stage1", pid, lang, n(0), t0, t1, fp,
            hll.toBytes, blm.toBytes, kll.toBytes)
        }
      }.toDF()
  }

  /** Append partial rows to the checkpoint table. */
  def write(partials: DataFrame, checkpointDir: String): Unit =
    partials.write.mode(SaveMode.Append).parquet(checkpointDir)

  def read(spark: SparkSession, checkpointDir: String): DataFrame =
    spark.read.parquet(checkpointDir)

  /** Partition ids already checkpointed for this job. */
  def completedPartitions(spark: SparkSession, checkpointDir: String, jobId: String): Set[Int] = {
    try {
      read(spark, checkpointDir).filter(col("job_id") === jobId)
        .select("partition_id").distinct()
        .collect().map(_.getInt(0)).toSet
    } catch { case _: Throwable => Set.empty }
  }

  /** Final merge: fold every partial row per lang into the result sketches
    * with the merge aggregates. Runs as an aggregate over the (tiny)
    * checkpoint table. */
  def mergeFinal(spark: SparkSession, checkpointDir: String, jobId: String): DataFrame = {
    val lenQuantiles = SketchFunctions.kllQuantiles(col("kll"), array(lit(0.5), lit(0.95)))
    read(spark, checkpointDir).filter(col("job_id") === jobId)
      .groupBy(col("lang"))
      .agg(sum(col("rows_in")).as("rows_in"), SaltedAgg.hllUnion(col("hll")).as("hll"),
        SaltedAgg.bloomUnion(col("bloom")).as("bloom"), SaltedAgg.kllMerge(col("kll")).as("kll"))
      .select(col("lang"), col("rows_in"),
        SketchFunctions.hllEstimate(col("hll")).as("distinct_urls"),
        SketchFunctions.bfEstimate(col("bloom")).as("bloom_estimate"),
        lenQuantiles(0).as("len_p50"), lenQuantiles(1).as("len_p95"),
        col("hll"), col("bloom"), col("kll"))
  }
}

/** spark-submit entry point for the checkpointed sketch-build pipeline.
  *
  * Usage: SketchPipeline <pagesParquetDir> <checkpointDir> <outDir> [jobId]
  *
  * Stage 1 writes per-partition partials (lineage + metrics); if the process
  * dies, rerunning with the same jobId recomputes ONLY the missing
  * partitions; stage 2 merges partials into the final per-lang sketch table.
  */
object SketchPipeline {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: SketchPipeline <pagesDir> <checkpointDir> <outDir> [jobId]")
    val Array(pagesDir, checkpointDir, outDir) = args.take(3)
    val jobId = if (args.length > 3) args(3) else "job-" + pagesDir.hashCode.toHexString
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
      .appName(s"graft-sketch-pipeline-$jobId")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val pages = spark.read.parquet(pagesDir)
    val done = Checkpoints.completedPartitions(spark, checkpointDir, jobId)
    println(s"[pipeline] job=$jobId resuming with ${done.size} partitions already checkpointed")

    // recompute only missing partitions: filter by spark_partition_id of the
    // stable input partitioning (parquet splits are deterministic for a
    // fixed input + maxPartitionBytes)
    val withPid = pages.withColumn("__pid", spark_partition_id())
    val remaining =
      if (done.isEmpty) withPid
      else withPid.filter(!col("__pid").isin(done.toSeq: _*))
    val partials = Checkpoints.partials(spark, remaining.drop("__pid"), jobId)
    Checkpoints.write(partials, checkpointDir)

    val finalDf = Checkpoints.mergeFinal(spark, checkpointDir, jobId)
    finalDf.write.mode(SaveMode.Overwrite).parquet(outDir)
    finalDf.drop("hll", "bloom", "kll").show(20, truncate = false)
    spark.stop()
  }
}
