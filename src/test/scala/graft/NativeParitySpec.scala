package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.spark.aggs.{NativeSketchAggs, SaltedAgg, SketchOps, SketchUdafs, UnionOps}

/** The law suite of the one sketch aggregate, table-driven over every build
  * family and every merge aggregate:
  *  - on one partition the aggregate equals the `graft.core` add loop;
  *  - where the algebra allows it, 1 and 8 partitions give identical bytes;
  *  - on the ops value, merge is commutative and associative as bytes;
  *  - a null key or value row is skipped and a null count counts as 1;
  *  - merge aggregates fold partial bytes like the core merge, skip null
  *    rows and return null on empty input;
  * plus the native-name builders against the plain ones. */
class NativeParitySpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private val n = 4000L
  // ascii urls with a non-ascii tenth (the codepoint-fold fallback)
  private def key(i: Long): String =
    if (i % 10 == 0) s"ключ-${i % 700}" else s"https://d${i % 37}.example.com/p/${i % 900}"
  private def count(i: Long): Long = i % 5 + 1
  private def value(i: Long): Double = ((i * 2654435761L) % 100000).toDouble

  private def rows(parts: Int): DataFrame = spark.range(0, n, 1, parts).select(col("id"),
    when(col("id") % 10 === 0, concat(lit("ключ-"), col("id") % 700))
      .otherwise(concat(lit("https://d"), col("id") % 37, lit(".example.com/p/"), col("id") % 900))
      .as("k"),
    (col("id") % 5 + 1).as("c"),
    ((col("id") * 2654435761L) % 100000).cast("double").as("v"))

  /** One build family: its ops value, input columns, the core add of row i,
    * and which laws its algebra allows as bytes. */
  private final case class Law[B](ops: SketchOps[B], cols: Seq[String],
                                  partitionInvariant: Boolean, mergeLaws: Boolean)(
      val add: (B, Long) => Unit) {
    def sketch(ids: Iterable[Long]): B = { val b = ops.empty(); ids.foreach(add(b, _)); b }
    def bytes(b: B): Seq[Byte] = ops.toBytes(b).toSeq
    /** The core add loop over every row, in Row form, as the final stage
      * sees it: merged into that stage's empty buffer (a no-op as bytes for
      * every family but EBF and KLL, whose merge appends/compacts). */
    def coreResult: Any = plain(CatalystTypeConverters.convertToScala(
      ops.eval(ops.merge(ops.empty(), sketch(0L until n))), ops.dataType))
    def result(df: DataFrame): Any = plain(df.agg(ops(cols.map(col): _*)).head().get(0))
    def commutes(a: Iterable[Long], b: Iterable[Long]): Boolean =
      bytes(ops.merge(sketch(a), sketch(b))) == bytes(ops.merge(sketch(b), sketch(a)))
    def associates(a: Iterable[Long], b: Iterable[Long], c: Iterable[Long]): Boolean =
      bytes(ops.merge(ops.merge(sketch(a), sketch(b)), sketch(c))) ==
        bytes(ops.merge(sketch(a), ops.merge(sketch(b), sketch(c))))
  }

  private def plain(x: Any): Any = x match {
    case a: Array[Byte] => a.toSeq
    case m: scala.collection.Map[_, _] => m.toMap
    case o => o
  }

  // HH and ST keep candidate sets whose merged layout depends on merge
  // order; cuckoo filters re-insert the smaller side's fingerprints; KLL
  // compaction and t-digest clustering depend on arrival order. Their merges
  // are order-insensitive as estimates (MergePropertiesSpec), not as bytes.
  private val laws: Seq[Law[_]] = Seq(
    Law(SketchUdafs.bloom(20000, 0.01), Seq("k"), true, true)((b, i) => b.add(key(i))),
    Law(SketchUdafs.cbf(20000, 0.01), Seq("k", "c"), true, true)((b, i) => b.add(key(i), count(i))),
    Law(SketchUdafs.cms(1024, 5), Seq("k", "c"), true, true)((b, i) => b.add(key(i), count(i))),
    Law(SketchUdafs.heavyHitters(5, 1024, 5), Seq("k", "c"), false, false)(
      (b, i) => b.add(key(i), count(i))),
    Law(SketchUdafs.streamThreshold(40, 1024, 5), Seq("k", "c"), false, false)(
      (b, i) => b.add(key(i), count(i))),
    Law(SketchUdafs.cuckoo(10000, 4, 32), Seq("k"), false, false)((b, i) => b.add(key(i))),
    Law(SketchUdafs.countingCuckoo(10000, 4, 32), Seq("k"), false, false)((b, i) => b.add(key(i))),
    Law(SketchUdafs.quotientFilter(14), Seq("k"), false, true)((b, i) => b.add(key(i))),
    Law(SketchUdafs.ebf(20000, 0.01), Seq("k"), false, false)((b, i) => b.add(key(i), force = true)),
    Law(SketchUdafs.hll(14), Seq("k"), true, true)((b, i) => b.add(key(i))),
    Law(SketchUdafs.hllCount(14), Seq("k"), true, true)((b, i) => b.add(key(i))),
    Law(SketchUdafs.kll(200), Seq("v"), false, false)((b, i) => b.update(value(i))),
    Law(SketchUdafs.tdigest(100.0), Seq("v"), false, false)((b, i) => b.update(value(i))))

  test("the law table covers all 13 build families") {
    assert(laws.map(_.ops.name).toSet == Set("bloom_agg", "cbf_agg", "cms_agg", "heavy_hitters",
      "stream_threshold", "cuckoo_agg", "counting_cuckoo_agg", "qf_agg", "ebf_agg", "hll_agg",
      "hll_count", "kll_agg", "tdigest_agg"))
  }

  laws.foreach { law =>
    val name = law.ops.name

    test(s"$name: one partition == the graft.core add loop") {
      assert(law.result(rows(1)) == law.coreResult)
    }

    if (law.partitionInvariant) test(s"$name: 1 and 8 partitions agree") {
      assert(law.result(rows(8)) == law.result(rows(1)))
    }

    if (law.mergeLaws) test(s"$name: ops merge is commutative and associative as bytes") {
      val (a, b, c) = (0L until 1300L, 1300L until 2600L, 2600L until n)
      assert(law.commutes(a, b))
      assert(law.associates(a, b, c))
    }

    test(s"$name: null keys and values are skipped, a null count counts as 1") {
      val nulled = rows(1)
        .withColumn("k", when(col("id") % 7 =!= 3, col("k")))
        .withColumn("v", when(col("id") % 7 =!= 3, col("v")))
        .withColumn("c", when(col("id") % 11 =!= 4, col("c")))
      val cleaned = rows(1).filter(col("id") % 7 =!= 3)
        .withColumn("c", when(col("id") % 11 =!= 4, col("c")).otherwise(lit(1L)))
      assert(law.result(nulled) == law.result(cleaned))
    }
  }

  /** A merge aggregate, the build family whose bytes it folds, and that
    * family's core add of row i; partial p holds the rows i = p mod 4. */
  private final case class MergeLaw[B](agg: UnionOps[B], of: SketchOps[B])(
      val add: (B, Long) => Unit) {
    def part(p: Int): B = { val b = of.empty(); (p.toLong until n by 4).foreach(add(b, _)); b }
    def partBytes: Seq[Array[Byte]] = (0 until 4).map(p => of.toBytes(part(p)))
    def folded: Seq[Byte] =
      of.toBytes((1 until 4).foldLeft(part(0))((acc, p) => of.merge(acc, part(p)))).toSeq
  }

  private val mergeLaws: Seq[MergeLaw[_]] = Seq(
    MergeLaw(SaltedAgg.bloomUnion, SketchUdafs.bloom(20000, 0.01))((b, i) => b.add(key(i))),
    MergeLaw(SaltedAgg.hllUnion, SketchUdafs.hll(12))((b, i) => b.add(key(i))),
    MergeLaw(SaltedAgg.cmsJoin, SketchUdafs.cms(512, 5))((b, i) => b.add(key(i), count(i))),
    MergeLaw(SaltedAgg.kllMerge, SketchUdafs.kll(100))((b, i) => b.update(value(i))),
    MergeLaw(SaltedAgg.tdigestMerge, SketchUdafs.tdigest(50.0))((b, i) => b.update(value(i))))

  mergeLaws.foreach { law =>
    val agg = law.agg
    test(s"${agg.name}: folds partial bytes like the core merge, skipping nulls") {
      import spark.implicits._
      val parts = law.partBytes.map(Option(_)) :+ None
      val got = parts.toDF("b").coalesce(1).agg(agg(col("b"))).head().getAs[Array[Byte]](0)
      assert(got.toSeq == law.folded)
    }

    test(s"${agg.name}: null on empty or all-null input") {
      val empty = spark.range(0).select(lit(null).cast("binary").as("b"))
      assert(empty.agg(agg(col("b"))).head().isNullAt(0))
      val allNull = spark.range(3).select(lit(null).cast("binary").as("b"))
      assert(allNull.agg(agg(col("b"))).head().isNullAt(0))
    }
  }

  private def urls(parts: Int) =
    spark.range(0, 20000, 1, parts)
      .select(concat(lit("https://d"), col("id") % 37, lit(".example.com/p/"), col("id") % 6000)
        .as("k"))

  test("native Bloom == udaf Bloom bytes; partition invariant (OR algebra)") {
    val n8 = urls(8).agg(NativeSketchAggs.bloomNative(col("k"), 100000, 0.01))
      .head().getAs[Array[Byte]](0)
    val u8 = urls(8).agg(SketchUdafs.bloom(100000, 0.01)(col("k")))
      .head().getAs[Array[Byte]](0)
    assert(n8.toSeq == u8.toSeq)
    val n1 = urls(1).agg(NativeSketchAggs.bloomNative(col("k"), 100000, 0.01))
      .head().getAs[Array[Byte]](0)
    assert(n1.toSeq == n8.toSeq)
    // non-ascii fallback path
    import spark.implicits._
    val uni = (0 until 1000).map(i => s"ключ-$i").toDF("k").repartition(4)
    val nu = uni.agg(NativeSketchAggs.bloomNative(col("k"), 10000, 0.01)).head().getAs[Array[Byte]](0)
    val uu = uni.agg(SketchUdafs.bloom(10000, 0.01)(col("k"))).head().getAs[Array[Byte]](0)
    assert(nu.toSeq == uu.toSeq)
  }

  test("native KLL == udaf KLL bytes under identical partitioning") {
    val vals = spark.range(0, 30000, 1, 8)
      .select(((col("id") * 2654435761L) % 100000).cast("double").as("v"))
    val n = vals.agg(NativeSketchAggs.kllNative(col("v"), 200)).head().getAs[Array[Byte]](0)
    val u = vals.agg(SketchUdafs.kll(200)(col("v"))).head().getAs[Array[Byte]](0)
    assert(n.toSeq == u.toSeq)
    // quantiles agree with exact ranks regardless of partitioning
    val kll = graft.ext.Kll.fromBytes(n)
    val q50 = kll.quantile(0.5)
    assert(math.abs(q50 - 50000) < 5000, s"p50=$q50")
  }

  test("native HH == udaf HH top-k map on a zipf stream") {
    val keys = spark.range(0, 50000, 1, 8)
      .select(concat(lit("d"),
        floor(pow(col("id") % 1000 + 1, 0.5)).cast("int")).as("k"), lit(1L).as("c"))
    val n = keys.agg(NativeSketchAggs.heavyHittersNative(col("k"), col("c"), 5, 4096, 5))
      .head().getMap[String, Long](0)
    val u = keys.agg(SketchUdafs.heavyHitters(5, 4096, 5)(col("k"), col("c")))
      .head().getMap[String, Long](0)
    assert(Map(n.toSeq: _*) == Map(u.toSeq: _*))
    assert(n.size == 5)
  }
}
