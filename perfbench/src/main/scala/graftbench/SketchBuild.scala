package graftbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.core._
import graft.ext.{Kll, TDigest}
import graft.spark.aggs.{NativeHllCountAgg, NativeSketchAggs, SketchUdafs}
import graft.spark.fns.SketchFunctions
import graft.spark.io.Checkpoints

/** Exact value ranks of one column: sorted distinct values with the count of
  * values <= each. */
final class ExactRanks(values: Array[Double], cum: Array[Long]) extends Serializable {
  val n: Long = if (cum.isEmpty) 0L else cum.last

  /** Distance from rank q*n to the ranks [#(< v), #(<= v)] that value v holds. */
  def rankError(v: Double, q: Double): Double = {
    val i = java.util.Arrays.binarySearch(values, v)
    val (lo, hi) =
      if (i >= 0) (if (i == 0) 0L else cum(i - 1), cum(i))
      else { val ins = -i - 1; val c = if (ins == 0) 0L else cum(ins - 1); (c, c) }
    val target = q * n
    math.max(0.0, math.max(lo - target, target - hi))
  }
}

final case class BuildTruth(
    nLang: Map[String, Long], distinct: Map[String, Long],
    domCounts: Map[String, Map[String, Long]], ranks: Map[String, ExactRanks],
    sample: Array[(String, String)], scanPartitions: Int)

/** Write side: the pages battery through the native aggregates, every other
  * family through the `SketchUdafs` aggregators, and the resumable
  * `Checkpoints` build, all per lang over the parquet pages. */
final class SketchBuild extends Workload {
  // published error bounds
  private val hllRel = 3 * 1.04 / math.sqrt(1 << 14)   // 3 standard errors, p = 14
  private val kllRank = 0.0165                         // normalized rank error, k = 200
  private val tdRank = 0.01                            // rank error, compression 100
  private val tdSlack = 3.0                            // ranks between interpolated points
  private def cmsEps(width: Int) = math.E / width      // Count-Min: error <= e/w * N
  private val stThreshold = 200L
  private val tdQs = (1 to 49).map(_ / 50.0)

  private var pages: DataFrame = _
  private var n = 0L
  private var passNo = 0

  private var t: BuildTruth = _

  override def rowsPerPass: Long = n

  private def projection: DataFrame = {
    val domain = substring_index(substring_index(col("url"), "/", 3), "/", -1)
    pages.select(col("lang"), col("url"), domain.as("domain"),
      length(col("text")).cast("double").as("text_len"))
  }

  /** The `SparkQueries.pagesSketchBattery` aggregates over the parquet pages. */
  private def battery: DataFrame =
    projection.groupBy(col("lang")).agg(
      NativeHllCountAgg.hllCountNative(col("url"), 14).as("distinct_urls_hll"),
      SketchFunctions.bfEstimate(
        NativeSketchAggs.bloomNative(col("url"), 2000000, 0.01)).as("distinct_urls_bloom"),
      NativeSketchAggs.heavyHittersNative(col("domain"), lit(1L), 5, 4096, 5).as("top_domains"),
      SketchFunctions.kllQuantiles(
        NativeSketchAggs.kllNative(col("text_len"), 200),
        array(lit(0.5), lit(0.95), lit(0.99))).as("len_quantiles"),
      count(lit(1)).as("n_pages"))

  private def udafs: DataFrame =
    projection.withColumn("one", lit(1L)).groupBy(col("lang")).agg(
      SketchUdafs.cbf(4000, 0.01)(col("domain"), col("one")).as("cbf"),
      SketchUdafs.ebf(80000, 0.01)(col("url")).as("ebf"),
      SketchUdafs.cms(2048, 5)(col("domain"), col("one")).as("cms"),
      SketchUdafs.streamThreshold(stThreshold, 2048, 5)(col("domain"), col("one")).as("st"),
      SketchUdafs.cuckoo(25000, 4, 32)(col("url")).as("cuckoo"),
      SketchUdafs.countingCuckoo(1024, 4, 32)(col("domain")).as("ccf"),
      SketchUdafs.quotientFilter(17)(col("url")).as("qf"),
      SketchUdafs.tdigest(100.0)(col("text_len")).as("td"))

  override def setup(ctx: Ctx): Unit = {
    pages = ctx.spark.read.parquet(ctx.path("pages"))
    n = ctx.sizes.pages
  }

  override def truth(ctx: Ctx): BuildTruth = {
    val p = projection.cache()
    val truth = BuildTruth(
      nLang = p.groupBy("lang").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap,
      distinct = p.groupBy("lang").agg(countDistinct("url")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap,
      domCounts = p.groupBy("lang", "domain").count().collect().groupBy(_.getString(0))
        .map { case (l, rs) => l -> rs.map(r => r.getString(1) -> r.getLong(2)).toMap },
      ranks = p.groupBy("lang", "text_len").count().collect().groupBy(_.getString(0))
        .map { case (l, rs) =>
          val sorted = rs.map(r => (r.getDouble(1), r.getLong(2))).sortBy(_._1)
          l -> new ExactRanks(sorted.map(_._1), sorted.map(_._2).scanLeft(0L)(_ + _).tail)
        },
      sample = p.select("lang", "url").sample(false, math.min(1.0, 4000.0 / n), 7L).collect()
        .map(r => (r.getString(0), r.getString(1))),
      scanPartitions = projection.rdd.getNumPartitions)
    p.unpersist()
    truth
  }

  override def useTruth(truth: java.io.Serializable): Unit = {
    t = truth.asInstanceOf[BuildTruth]
    n = t.nLang.values.sum
  }

  override def pass(ctx: Ctx, check: Boolean): PassOut = {
    passNo += 1
    val err = new ErrPool(ctx.ops)
    val bat = ctx.action("native")(battery.collect())
    val uda = ctx.action("udaf")(udafs.collect())
    val ckptDir = s"${ctx.workDir}/ckpt/pass-$passNo"
    val ckp = ctx.action("checkpoint") {
      val jobId = s"pass-$passNo"
      Checkpoints.write(Checkpoints.partials(ctx.spark, pages, jobId, bloomEst = 2000000L), ckptDir)
      Checkpoints.mergeFinal(ctx.spark, ckptDir, jobId)
        .select("lang", "rows_in", "distinct_urls", "bloom_estimate", "len_p50", "len_p95")
        .collect()
    }
    deleteRecursively(new java.io.File(ckptDir))
    if (check) {
      bat.foreach(checkBattery(ctx, err, _))
      uda.foreach(checkUdafs(ctx, err, _))
      for (b <- bat; c <- ckp) checkCheckpoint(ctx, err, b, c)
    }
    PassOut(err)
  }

  private def checkBattery(ctx: Ctx, err: ErrPool, rows: Array[Row]): Unit = {
    val ops = ctx.ops
    ops.check("battery.langs", rows.map(_.getString(0)).toSet == t.nLang.keySet)
    rows.foreach { r =>
      val lang = r.getString(0)
      val nl = t.nLang.getOrElse(lang, 0L)
      ops.check(s"battery.n_pages.$lang", r.getAs[Long]("n_pages") == nl)
      val d = t.distinct.getOrElse(lang, 0L).toDouble
      err.add(s"hll.$lang", math.abs(r.getAs[Long]("distinct_urls_hll") - d), hllRel * d)
      val doms = t.domCounts.getOrElse(lang, Map.empty)
      val top = r.getAs[scala.collection.Map[String, Long]]("top_domains")
      top.foreach { case (dom, est) =>
        val exact = doms.getOrElse(dom, 0L)
        ops.check(s"hh.no_under.$lang", est >= exact, s"($dom: $est < $exact)")
        err.add(s"hh.$lang.$dom", (est - exact).toDouble, cmsEps(4096) * nl)
      }
      if (doms.nonEmpty) {
        val best = doms.maxBy { case (k, v) => (v, k) }._1
        ops.check(s"hh.top1.$lang", top.contains(best), s"($best not in ${top.keys})")
      }
      val qs = r.getAs[scala.collection.Seq[Double]]("len_quantiles")
      Seq(0.5, 0.95, 0.99).zip(qs).foreach { case (q, v) =>
        err.add(s"kll.$lang.$q", t.ranks(lang).rankError(v, q), kllRank * nl)
      }
    }
  }

  private def checkUdafs(ctx: Ctx, err: ErrPool, rows: Array[Row]): Unit = {
    val ops = ctx.ops
    ops.check("udaf.langs", rows.map(_.getString(0)).toSet == t.nLang.keySet)
    val byLang = rows.map(r => r.getString(0) -> r).toMap
    rows.foreach { r =>
      val lang = r.getString(0)
      val nl = t.nLang.getOrElse(lang, 0L)
      val doms = t.domCounts.getOrElse(lang, Map.empty)
      val cms = CountMinSketch.fromBytes(r.getAs[Array[Byte]]("cms"))
      val cbf = CountingBloomFilter.fromBytes(r.getAs[Array[Byte]]("cbf"))
      val ccf = CountingCuckooFilter.fromBytes(r.getAs[Array[Byte]]("ccf"), fingerprintBits = 32)
      var under = 0
      doms.foreach { case (dom, exact) =>
        val est = cms.check(dom)
        if (est < exact || cbf.check(dom) < exact || ccf.check(dom) < exact) under += 1
        err.add(s"cms.$lang.$dom", (est - exact).toDouble, cmsEps(2048) * nl)
      }
      ops.check(s"counts.no_under.$lang", under == 0, s"($under keys under-counted)")
      val st = r.getAs[scala.collection.Map[String, Long]]("st")
      // a key reaches the merged result when some partition's partial saw it
      // cross the threshold, which is certain once its count is at least
      // threshold x partitions
      val mustMeet = doms.collect { case (k, v) if v >= stThreshold * t.scanPartitions => k }.toSet
      ops.check(s"st.meets.$lang", mustMeet.subsetOf(st.keySet) && st.values.forall(_ >= stThreshold),
        s"(missing ${mustMeet -- st.keySet})")
      st.foreach { case (dom, est) =>
        err.add(s"st.$lang.$dom", (est - doms.getOrElse(dom, 0L)).toDouble, cmsEps(2048) * nl)
      }
      val td = TDigest.fromBytes(r.getAs[Array[Byte]]("td"))
      tdQs.foreach(q => err.add(s"tdigest.$lang.$q", t.ranks(lang).rankError(td.quantile(q), q),
        tdRank * nl + tdSlack))
    }
    // membership of sampled urls: no false negatives
    val filters = byLang.map { case (l, r) =>
      l -> (CuckooFilter.fromBytes(r.getAs[Array[Byte]]("cuckoo"), fingerprintBits = 32),
        QuotientFilter.fromBytes(r.getAs[Array[Byte]]("qf")),
        ExpandingBloomFilter.fromBytes(r.getAs[Array[Byte]]("ebf")))
    }
    val missing = t.sample.count { case (l, url) =>
      filters.get(l).forall { case (cf, qf, ebf) => !(cf.check(url) && qf.check(url) && ebf.check(url)) }
    }
    ops.check("membership.no_false_negatives", missing == 0, s"($missing of ${t.sample.length} sampled urls)")
  }

  private def checkCheckpoint(ctx: Ctx, err: ErrPool, bat: Array[Row], ckp: Array[Row]): Unit = {
    val ops = ctx.ops
    val b = bat.map(r => r.getString(0) -> r).toMap
    ops.check("checkpoint.langs", ckp.map(_.getString(0)).toSet == b.keySet)
    ckp.foreach { r =>
      val lang = r.getString(0)
      b.get(lang).foreach { br =>
        ops.check(s"checkpoint.rows_in.$lang", r.getAs[Long]("rows_in") == br.getAs[Long]("n_pages"))
        ops.check(s"checkpoint.hll_agrees.$lang",
          r.getAs[Long]("distinct_urls") == br.getAs[Long]("distinct_urls_hll"))
        ops.check(s"checkpoint.bloom_agrees.$lang",
          r.getAs[Long]("bloom_estimate") == br.getAs[Long]("distinct_urls_bloom"))
        val nl = t.nLang.getOrElse(lang, 0L)
        err.add(s"checkpoint.kll.$lang.p50", t.ranks(lang).rankError(r.getAs[Double]("len_p50"), 0.5), kllRank * nl)
        err.add(s"checkpoint.kll.$lang.p95", t.ranks(lang).rankError(r.getAs[Double]("len_p95"), 0.95), kllRank * nl)
      }
    }
  }

  /** The floor no sketch change can remove: the same projection, noop sink. */
  override def tracedExtras(ctx: Ctx): Unit =
    ctx.action("scan")(projection.write.format("noop").mode("overwrite").save())

  override def layerKeys(ctx: Ctx): Array[String] =
    pages.select("url").limit(20000).collect().map(_.getString(0))

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete()
  }
}
