package graftbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._

import graft.spark.aggs.SketchUdafs
import graft.spark.fns.{SketchExpressions, SketchFunctions}

/** Read side: filters built in setup from the build keys. Each pass probes
  * the key stream through both probe surfaces of every family in one job (one
  * scan, twelve probe columns), then runs a Bloom-pruned exact semi-join of
  * the stream against the build keys. The traced run adds one job per family
  * and surface, and the stream scan alone. */
final class SketchProbe(bloomOverfill: Double = 1.0) extends Workload {
  val families: Seq[String] = Seq("bloom", "cuckoo", "qf", "ebf", "cbf", "cms")
  private val fpBits = 32
  private val cmsWidth = 2048
  private val cmsDepth = 5

  private var build: DataFrame = _
  private var stream: DataFrame = _
  private var bytes = Map.empty[String, Array[Byte]]
  private var nb = 0L
  private var m = 0L
  private var nonMembers = 0L
  private var semiTruth = Map.empty[Int, Long]

  override def rowsPerPass: Long = m

  /** Configured false-positive bound of each membership family. */
  private def fprBound(f: String): Double = f match {
    case "bloom" | "ebf" | "cbf" => 0.01
    // both buckets derive from the fingerprint, so a non-member is a false
    // positive only if its fingerprint equals a stored one: <= n / 2^f
    case "cuckoo" => nb / math.pow(2, fpBits)
    case "qf" => 1.0 / (1 << (32 - qfQuotient))               // one remainder match
    case _ => 0.0
  }

  /** Smallest quotient with at least 2x the build keys in slots. */
  private def qfQuotient: Int = math.max(10, 64 - java.lang.Long.numberOfLeadingZeros(nb * 2 - 1))

  override def setup(ctx: Ctx): Unit = {
    build = ctx.spark.read.parquet(ctx.path("build"))
    stream = ctx.spark.read.parquet(ctx.path("stream"))
    nb = ctx.sizes.buildKeys
    m = ctx.sizes.streamKeys
    // the Bloom family at its design capacity, so its false-positive rate sits
    // near the configured one; the cuckoo table at 80% load
    val row = ctx.action("build") {
      build.withColumn("one", lit(1L)).agg(
        SketchUdafs.bloom(math.max(1L, (nb / bloomOverfill).toLong), 0.01)(col("key")).as("bloom"),
        SketchUdafs.cuckoo(math.max(1L, nb * 5 / 16).toInt, 4, fpBits)(col("key")).as("cuckoo"),
        SketchUdafs.quotientFilter(qfQuotient)(col("key")).as("qf"),
        SketchUdafs.ebf(nb, 0.01)(col("key")).as("ebf"),
        SketchUdafs.cbf(nb, 0.01)(col("key"), col("one")).as("cbf"),
        SketchUdafs.cms(cmsWidth, cmsDepth)(col("key"), col("one")).as("cms")).head()
    }
    bytes = row.map(r => families.map(f => f -> r.getAs[Array[Byte]](f)).toMap).getOrElse(Map.empty)
  }

  private def nativeProbe(f: String, key: Column): Column = f match {
    case "bloom" => SketchExpressions.bloomMightContainNative(bytes(f), key)
    case "cuckoo" => SketchExpressions.cuckooContainsNative(bytes(f), fpBits, key)
    case "qf" => SketchExpressions.qfContainsNative(bytes(f), key)
    case "ebf" => SketchExpressions.ebfContainsNative(bytes(f), key)
    case "cbf" => SketchExpressions.cbfCountNative(bytes(f), key)
    case "cms" => SketchExpressions.cmsCountNative(bytes(f), key)
  }

  private def udfProbe(f: String): UserDefinedFunction = f match {
    case "bloom" => SketchFunctions.bloomContains(bytes(f))
    case "cuckoo" => SketchFunctions.cuckooContains(bytes(f), fpBits)
    case "qf" => SketchFunctions.qfContains(bytes(f))
    case "ebf" => SketchFunctions.ebfContains(bytes(f))
    case "cbf" => SketchFunctions.cbfCount(bytes(f))
    case "cms" => SketchFunctions.cmsCount(bytes(f))
  }

  private val cmsEps = math.E / cmsWidth
  private val cmsDelta = math.exp(-cmsDepth)

  /** A probe's hit flag: counting families answer a count. */
  private def hit(f: String, probeCol: Column): Column =
    if (f == "cbf" || f == "cms") probeCol > 0 else probeCol

  /** (false negatives, false positives, hits, count-bound exceedances) of one
    * probe column. Members were added once. */
  private def tallies(f: String, probeCol: Column): Seq[Column] = {
    val h = hit(f, probeCol)
    val over = if (f == "cms") probeCol - col("member").cast("long") > lit(cmsEps * nb) else lit(false)
    Seq(sum(when(col("member") && !h, 1L).otherwise(0L)),
      sum(when(!col("member") && h, 1L).otherwise(0L)),
      sum(when(h, 1L).otherwise(0L)),
      sum(when(over, 1L).otherwise(0L)))
  }

  /** The pass's probe job: every family through both surfaces over the
    * stream, in one scan. Per family: the native probe's tallies, then the
    * number of keys on which the two surfaces answer differently. */
  private def probeAll: DataFrame = {
    val aggs = families.flatMap { f =>
      val nat = nativeProbe(f, col("key"))
      tallies(f, nat) :+ sum(when(nat =!= udfProbe(f)(col("key")), 1L).otherwise(0L))
    }
    stream.agg(aggs.head, aggs.tail: _*)
  }

  /** One family through one surface, in a job of its own (traced run). */
  private def probeOne(f: String, probeCol: Column): DataFrame = {
    val ts = tallies(f, probeCol)
    stream.agg(ts.head, ts.tail: _*)
  }

  private def semiJoin: DataFrame =
    stream.filter(SketchExpressions.bloomMightContainNative(bytes("bloom"), col("key")))
      .join(build.hint("broadcast"), Seq("key"), "left_semi")
      .groupBy(col("grp")).agg(count(lit(1)).as("n"))

  override def truth(ctx: Ctx): (Long, Map[Int, Long]) =
    (stream.filter(!col("member")).count(),
      stream.join(build, Seq("key"), "left_semi").groupBy("grp").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap)

  override def useTruth(t: java.io.Serializable): Unit = t match {
    case (n: Long, semi: Map[Int, Long] @unchecked) => nonMembers = n; semiTruth = semi
  }

  /** Per family: (false negatives, false positives, hits, exceedances). */
  private var lastTallies = Map.empty[String, Seq[Long]]

  override def pass(ctx: Ctx, check: Boolean): PassOut = {
    val err = new ErrPool(ctx.ops)
    val ops = ctx.ops
    var extra = Map.empty[String, Double]
    val all = ctx.action("probe")(probeAll.head())
    val semi = ctx.action("semijoin")(semiJoin.collect())
    if (check) all.foreach { row =>
      families.zipWithIndex.foreach { case (f, i) =>
        val Seq(fn, fp, hits, over, differ) = (0 until 5).map(j => row.getLong(5 * i + j))
        ops.check(s"$f.surfaces_agree", differ == 0, s"($differ keys)")
        ops.check(s"$f.no_false_negatives", fn == 0, s"($fn)")
        if (f == "cms") {
          // Count-Min: P(error > eps * N) <= delta, per key
          ops.check("cms.exceedances", over <= cmsDelta * m, s"($over of $m > eps*N)")
          extra += "cms.over_frac" -> over.toDouble / m
        } else {
          // allowed: the configured rate's count plus four standard deviations
          val allowed = fprBound(f) * nonMembers
          err.add(s"$f.false_positives", fp.toDouble, allowed + 4 * math.sqrt(allowed) + 1)
          extra += s"$f.fp_rate" -> (if (nonMembers > 0) fp.toDouble / nonMembers else 0.0)
        }
        if (f == "bloom") extra += "semijoin.prune_frac" -> (1.0 - hits.toDouble / m)
        lastTallies += f -> Seq(fn, fp, hits, over)
      }
    }
    if (check) semi.foreach { rows =>
      val got = rows.map(r => r.getInt(0) -> r.getLong(1)).toMap
      ops.check("semijoin.equals_plain", got == semiTruth, s"($got vs $semiTruth)")
    }
    PassOut(err, extra)
  }

  /** Each family through each surface in a job of its own, so each has its
    * own wall; then the stream's columns into a noop sink, the floor of the
    * probe job. Each job must repeat the pass's tallies. */
  override def tracedExtras(ctx: Ctx): Unit = {
    families.foreach { f =>
      Seq("native" -> nativeProbe(f, col("key")), "udf" -> udfProbe(f)(col("key"))).foreach {
        case (surface, probeCol) =>
          ctx.action(s"$f.$surface")(probeOne(f, probeCol).head()).foreach { r =>
            val got = (0 until 4).map(r.getLong)
            ctx.ops.check(s"$f.$surface.repeats_pass", lastTallies.get(f).forall(_ == got),
              s"($got vs ${lastTallies.get(f)})")
          }
      }
    }
    ctx.action("scan")(stream.select("key", "member").write.format("noop").mode("overwrite").save())
  }

  override def layerKeys(ctx: Ctx): Array[String] =
    stream.select("key").limit(20000).collect().map(_.getString(0))
}
