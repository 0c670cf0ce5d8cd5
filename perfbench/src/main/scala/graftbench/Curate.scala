package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.spark.dedup.{Corpus, Dedup}
import graft.spark.pipeline.{DataPipeline, IncrementalCurate}
import graft.spark.text.TextFunctions

/** Exact answers for the curation checks.
  *  - `survivors`: docs that pass the quality gate and win the exact-dedup
  *    race (min doc_id per text digest); curation can only keep these.
  *  - `batchKept`: the one-shot stage-1..3 pipeline (quality, exact dedup,
  *    MinHash near-dup clusters, decontamination) over the whole corpus,
  *    restricted to the upper-id half.
  *  - `sameText`: groups of doc ids that share one text. */
final case class CurateTruth(docs: Long, survivors: Set[Long], batchKept: Set[Long],
                             sameText: Seq[Seq[Long]])

/** The curation layer (`graft.spark.{pipeline,dedup,sample,text}`) over a
  * PagesGen-derived document corpus: one round runs `DataPipeline.curate`,
  * then `Dedup.minhashLshPairs` into `Dedup.connectedComponents`, then
  * `IncrementalCurate.curateBatch` of the upper-id half against state that
  * setup built from the lower half. The traced `sketch_build` run times it. */
final class Curate {
  val steps: Seq[String] = Seq("curate", "minhash", "components", "curate_batch")
  private val prefix = "perfbench_curate"
  // the incremental pipeline's frozen LSH layout and threshold
  private val numHashes = 128
  private val bands = 32
  private val threshold = 0.5

  private var docs: DataFrame = _
  private var history: DataFrame = _
  private var batch: DataFrame = _
  private var bench: DataFrame = _
  private var t: CurateTruth = _
  private var firstKept: Option[Seq[String]] = None

  /** Reads the corpus and builds the incremental state from its lower half. */
  def setup(ctx: Ctx): Unit = {
    docs = ctx.spark.read.parquet(ctx.path("docs"))
    val cut = ctx.sizes.docs / 2
    history = docs.filter(col("doc_id") < cut)
    batch = docs.filter(col("doc_id") >= cut)
    bench = docs.filter(col("doc_id") % 17 === 0).select(col("text"))
    ctx.action("curate_state") {
      IncrementalCurate.drop(ctx.spark, prefix)
      IncrementalCurate.create(history, prefix)
    }
  }

  def truth(ctx: Ctx): Unit = {
    val w = Window.partitionBy(col("digest")).orderBy(col("doc_id"))
    val dd = docs.select(col("doc_id"), col("text"), md5(col("text")).as("digest"))
      .filter(TextFunctions.isQuality(col("text")))
      .withColumn("rk", row_number().over(w)).filter(col("rk") === 1).drop("rk")
      .cache()
    val pairs = Dedup.minhashLshPairs(dd, "doc_id", "text", numHashes = numHashes, bands = bands,
      threshold = threshold)
    val losers = Dedup.connectedComponents(pairs.select(col("id_a"), col("id_b")))
      .filter(col("doc_id") =!= col("rep")).select(col("doc_id"))
    val oneShot = Corpus.decontaminate(dd.join(losers, Seq("doc_id"), "left_anti"), bench,
      "doc_id", "text", n = 8).filter(!col("contaminated")).select(col("doc_id"))
    val cut = ctx.sizes.docs / 2
    t = CurateTruth(
      docs = docs.select(count(lit(1))).head().getLong(0),
      survivors = dd.select("doc_id").collect().map(_.getLong(0)).toSet,
      batchKept = oneShot.collect().map(_.getLong(0)).filter(_ >= cut).toSet,
      sameText = docs.groupBy(md5(col("text"))).agg(collect_list(col("doc_id")).as("ids"))
        .filter(size(col("ids")) > 1).collect().map(_.getSeq[Long](1).sorted.toSeq).toSeq)
    dd.unpersist()
  }

  /** One checked round; returns the kept share of `DataPipeline.curate`. */
  def round(ctx: Ctx): Double = {
    val ops = ctx.ops
    val kept = ctx.action("curate") {
      DataPipeline.curate(docs, bench).collect()
        .map(r => s"${r.getLong(0)}|${r.getString(1)}|${r.getString(2)}|${r.getString(3)}|${r.getLong(4)}")
        .sorted.toSeq
    }
    kept.foreach { k =>
      ops.check("curate.same_every_pass", firstKept.forall(_ == k),
        s"(${k.size} kept vs ${firstKept.map(_.size)})")
      if (firstKept.isEmpty) firstKept = Some(k)
      val ids = k.map(_.takeWhile(_ != '|').toLong)
      ops.check("curate.kept_are_survivors", ids.forall(t.survivors), s"(${ids.filterNot(t.survivors).take(5)})")
      ops.check("curate.kept_nonempty", ids.nonEmpty)
    }

    val pairs = ctx.action("minhash") {
      Dedup.minhashLshPairs(docs, "doc_id", "text", numHashes = numHashes, bands = bands,
        threshold = threshold).select(col("id_a"), col("id_b")).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
    }
    pairs.foreach { ps =>
      val labels = ctx.action("components") {
        import ctx.spark.implicits._
        Dedup.connectedComponents(ps.toSeq.toDF("id_a", "id_b")).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
      labels.foreach { rep =>
        // docs with one text are pairs at Jaccard 1, so LSH finds every one
        val split = t.sameText.count(g => g.map(id => rep.getOrElse(id, id)).distinct.size != 1)
        ops.check("components.same_text_joined", split == 0, s"($split groups split)")
        ops.check("components.rep_is_min", rep.forall { case (id, r) => r <= id && rep.get(r).contains(r) })
      }
    }

    val batchKept = ctx.action("curate_batch") {
      IncrementalCurate.curateBatch(batch, history, bench, prefix, updateState = false)
        .filter(col("kept")).select(col("doc_id")).collect().map(_.getLong(0)).toSet
    }
    batchKept.foreach { got =>
      ops.check("curate_batch.equals_one_shot", got == t.batchKept,
        s"(${(got -- t.batchKept).take(5)} extra, ${(t.batchKept -- got).take(5)} missing)")
    }
    kept.map(_.size.toDouble / t.docs).getOrElse(0.0)
  }

  def stop(ctx: Ctx): Unit = IncrementalCurate.drop(ctx.spark, prefix)
}
