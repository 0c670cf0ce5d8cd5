package graft.spark.aggs

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}

/** The DataFrame-facing sketch aggregates: each builder returns the family's
  * [[SketchOps]] value, applied to columns as `cms(2048, 5)($"key", $"cnt")`.
  * All of them, the `*_native` builders included, run as one [[SketchAgg]];
  * the names differ only in prettyName and SQL defaults. */
object SketchUdafs {
  def bloom(estElements: Long, fpr: Double) = BloomOps(estElements, fpr, "bloom_agg")
  def cbf(estElements: Long, fpr: Double) = CbfOps(estElements, fpr, "cbf_agg")
  def cms(width: Int, depth: Int) = CmsOps(width, depth, "cms_agg")
  def heavyHitters(numHitters: Int, width: Int, depth: Int) =
    HhOps(numHitters, width, depth, "heavy_hitters")
  def streamThreshold(threshold: Long, width: Int, depth: Int) =
    StreamThresholdOps(threshold, width, depth, "stream_threshold")
  def cuckoo(capacity: Int, bucketSize: Int, fingerprintBits: Int) =
    CuckooOps(capacity, bucketSize, fingerprintBits, "cuckoo_agg")
  def countingCuckoo(capacity: Int, bucketSize: Int, fingerprintBits: Int) =
    CountingCuckooOps(capacity, bucketSize, fingerprintBits, "counting_cuckoo_agg")
  def quotientFilter(quotient: Int) = QuotientFilterOps(quotient, "qf_agg")
  def ebf(estElements: Long, fpr: Double) = EbfOps(estElements, fpr, "ebf_agg")
  def hll(p: Int) = HllOps(p, count = false, "hll_agg")
  def hllCount(p: Int) = HllOps(p, count = true, "hll_count")
  def kll(k: Int) = KllOps(k, "kll_agg")
  def tdigest(compression: Double) = TDigestOps(compression, "tdigest_agg")

  type SqlFunction = (String, String, Seq[Expression] => Expression)

  private def agg(ops: SketchOps[_], args: Seq[Expression]): Expression = {
    require(args.length == ops.inputTypes.length,
      s"${ops.name} takes ${ops.inputTypes.length} column argument(s)")
    SketchAgg(ops, args).toAggregateExpression()
  }

  private def columns(ops: SketchOps[_]): SqlFunction =
    (ops.name, s"${ops.name}(${ops.inputTypes.map(_.simpleString).mkString(", ")}) - $ops",
      agg(ops, _))

  private def native(name: String, params: String)(
      build: PartialFunction[Seq[Expression], Expression]): SqlFunction =
    (name, s"$name($params)", args => build.applyOrElse(args,
      (_: Seq[Expression]) => throw new IllegalArgumentException(s"$name takes ($params)")))

  import SqlArgs._

  /** Every sketch aggregate's SQL function, with its defaults. The plain
    * names take columns only and are registered by [[registerAll]]; the
    * `*_native` names take optional literal parameters and are injected by
    * `GraftExtensions`. */
  val sqlFunctions: Seq[SqlFunction] = Seq(
    columns(bloom(1000000, 0.01)),
    columns(cbf(1000000, 0.01)),
    columns(cms(2048, 5)),
    columns(heavyHitters(10, 4096, 5)),
    columns(streamThreshold(100, 4096, 5)),
    columns(cuckoo(100000, 4, 32)),
    columns(countingCuckoo(100000, 4, 32)),
    columns(quotientFilter(18)),
    columns(ebf(10000, 0.01)),
    columns(hll(14)),
    columns(hllCount(14)),
    columns(kll(200)),
    columns(tdigest(100.0)),
    native("hll_count_native", "col[, p]") {
      case Seq(c) => agg(NativeHllCountAgg.ops(14), Seq(c))
      case Seq(c, p) => agg(NativeHllCountAgg.ops(intArg(p, "hll_count_native", "p")), Seq(c))
    },
    native("cms_native", "key, count[, width, depth]") {
      case Seq(k, c) => agg(NativeCmsAgg.ops(2048, 5), Seq(k, c))
      case Seq(k, c, w, d) => agg(NativeCmsAgg.ops(intArg(w, "cms_native", "width"),
        intArg(d, "cms_native", "depth")), Seq(k, c))
    },
    native("bloom_native", "col, est_elements, fpr") {
      case Seq(c, est, fpr) => agg(NativeSketchAggs.bloom(longArg(est, "bloom_native",
        "est_elements"), doubleArg(fpr, "bloom_native", "fpr")), Seq(c))
    },
    native("kll_native", "col[, k]") {
      case Seq(c) => agg(NativeSketchAggs.kll(200), Seq(c))
      case Seq(c, k) => agg(NativeSketchAggs.kll(intArg(k, "kll_native", "k")), Seq(c))
    },
    native("heavy_hitters_native", "key, count, k[, width, depth]") {
      case Seq(key, c, k) =>
        agg(NativeSketchAggs.heavyHitters(intArg(k, "heavy_hitters_native", "k"), 4096, 5),
          Seq(key, c))
      case Seq(key, c, k, w, d) => agg(NativeSketchAggs.heavyHitters(
        intArg(k, "heavy_hitters_native", "k"), intArg(w, "heavy_hitters_native", "width"),
        intArg(d, "heavy_hitters_native", "depth")), Seq(key, c))
    })

  /** Register every plain sketch aggregate for SQL use:
    * `SELECT lang, hll_count(url) FROM pages GROUP BY lang`. */
  def registerAll(spark: SparkSession): Unit =
    sqlFunctions.filterNot(_._1.endsWith("_native")).foreach { case (name, usage, build) =>
      GraftColumnBridge.registerFunction(spark, name, usage, build)
    }
}

/** Literal parameters of SQL function calls. */
private[spark] object SqlArgs {
  def longArg(e: Expression, fn: String, name: String): Long = {
    require(e.foldable, s"$fn: $name must be a literal")
    e.eval() match {
      case d: org.apache.spark.sql.types.Decimal => d.toLong
      case n: Number => n.longValue
      case other => throw new IllegalArgumentException(s"$fn: $name is not numeric: $other")
    }
  }
  def intArg(e: Expression, fn: String, name: String): Int =
    Math.toIntExact(longArg(e, fn, name))
  def doubleArg(e: Expression, fn: String, name: String): Double = {
    require(e.foldable, s"$fn: $name must be a literal")
    e.eval() match {
      case d: org.apache.spark.sql.types.Decimal => d.toDouble // SQL 0.01 literal
      case n: Number => n.doubleValue
      case other => throw new IllegalArgumentException(s"$fn: $name is not numeric: $other")
    }
  }
}

/** The zero-boxing aggregates behind the pages sketch battery; the same
  * [[SketchAgg]] under their `graft_*_native` prettyNames. */
object NativeSketchAggs {
  private[aggs] def bloom(estElements: Long, fpr: Double) =
    BloomOps(estElements, fpr, "graft_bloom_native")
  private[aggs] def kll(k: Int) = KllOps(k, "graft_kll_native")
  private[aggs] def heavyHitters(numHitters: Int, width: Int, depth: Int) =
    HhOps(numHitters, width, depth, "graft_hh_native")

  def bloomNative(c: Column, estElements: Long, fpr: Double): Column = bloom(estElements, fpr)(c)
  def kllNative(c: Column, k: Int = 200): Column = kll(k)(c)
  def heavyHittersNative(key: Column, count: Column, numHitters: Int,
                         width: Int = 4096, depth: Int = 5): Column =
    heavyHitters(numHitters, width, depth)(key, count)
}

object NativeHllCountAgg {
  private[aggs] def ops(p: Int) = HllOps(p, count = true, "graft_hll_count_native")
  /** DataFrame-facing column: `df.agg(hllCountNative($"url"))`. */
  def hllCountNative(c: Column, p: Int = 14): Column = ops(p)(c)
}

object NativeCmsAgg {
  private[aggs] def ops(width: Int, depth: Int) = CmsOps(width, depth, "graft_cms_native")
  /** DataFrame-facing column: `df.agg(cmsNative($"key", $"count", 2048, 5))`. */
  def cmsNative(key: Column, count: Column, width: Int = 2048, depth: Int = 5): Column =
    ops(width, depth)(key, count)
}

/** Sketch-MERGE aggregates — fold a column of serialized sketches into one —
  * and explicit two-level (salted) aggregation for skewed keys (SURVEY.md
  * §7.4; the north rule's "salted-key skew handling"). Legal because every
  * sketch merge is associative + commutative:
  *
  *   stage 1: groupBy(key, salt = pmod(xxhash64(saltCol), S)) building
  *            partial sketches — a skewed key's load spreads over S reducers;
  *   stage 2: groupBy(key) folding the S partials with the merge aggregate.
  *
  * Equivalent to the direct single-level aggregate (asserted byte-exactly for
  * Bloom/HLL in SaltedAggSpec), at the cost of one extra small exchange.
  */
object SaltedAgg {
  val bloomUnion = UnionOps(SketchUdafs.bloom(1000000, 0.01), "bloom_union")
  val hllUnion = UnionOps(SketchUdafs.hll(14), "hll_union")
  val cmsJoin = UnionOps(SketchUdafs.cms(2048, 5), "cms_join")
  val kllMerge = UnionOps(SketchUdafs.kll(200), "kll_merge")
  val tdigestMerge = UnionOps(SketchUdafs.tdigest(100.0), "tdigest_merge")

  /** Two-level HLL + Bloom battery over a skewed key. `saltCol` should be a
    * high-cardinality column (e.g. the url) so salting splits the hot key. */
  def hllBloomTwoLevel(df: DataFrame, groupKey: Column, valueCol: Column,
                       saltBuckets: Int, hllP: Int = 14,
                       bloomEst: Long = 1000000L, bloomFpr: Double = 0.01): DataFrame = {
    val stage1 = df
      .groupBy(groupKey.as("k"), pmod(xxhash64(valueCol), lit(saltBuckets)).as("salt"))
      .agg(
        SketchUdafs.hll(hllP)(valueCol).as("hll_part"),
        SketchUdafs.bloom(bloomEst, bloomFpr)(valueCol).as("bloom_part"))
    stage1
      .groupBy(col("k"))
      .agg(hllUnion(col("hll_part")).as("hll"),
        bloomUnion(col("bloom_part")).as("bloom"))
  }
}
