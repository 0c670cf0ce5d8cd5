package graftbench

import org.apache.spark.sql.{SaveMode, SparkSession}

import graft.core.SplitMix64
import graft.spark.io.PagesGen

/** Input sizes of the workloads. `default` is what the benchmark measures;
  * `tiny` is for the self-test. */
final case class Sizes(pages: Long, docs: Long, buildKeys: Long, streamKeys: Long, files: Int)

object Sizes {
  val default: Sizes =
    Sizes(pages = 24000L, docs = 2000L, buildKeys = 20000L, streamKeys = 150000L, files = 4)
  val tiny: Sizes = Sizes(pages = 6000L, docs = 600L, buildKeys = 4000L, streamKeys = 20000L, files = 4)
}

/** Writes a workload's inputs, a pure function of (seed, sizes), as
  * multi-file parquet. The program under test only ever reads these files. */
object Gen {

  /** Share of the probe stream drawn from the build keys. */
  val memberFrac = 0.5

  @inline private def mix(seed: Long, id: Long, stream: Long): Long =
    new SplitMix64(seed ^ (id * 0x9e3779b97f4a7c15L) ^ (stream * 0xbf58476d1ce4e5b9L)).nextLong()

  @inline private def unit(seed: Long, id: Long, stream: Long): Double =
    (mix(seed, id, stream) >>> 11) * (1.0 / (1L << 53))

  def buildKey(seed: Long, i: Long): String = {
    val h = mix(seed, i, 31)
    f"https://h${(h >>> 40) % 5000}%d.example.org/item/${h & 0xffffffffffL}%x-$i%d"
  }

  def missKey(seed: Long, j: Long): String = {
    val h = mix(seed, j, 32)
    f"https://h${(h >>> 40) % 5000}%d.example.org/miss/${h & 0xffffffffffL}%x-$j%d"
  }

  def generate(spark: SparkSession, workload: String, seed: Long, sizes: Sizes,
               out: String): Unit = workload match {
    case "sketch_build" =>
      import spark.implicits._
      PagesGen.pages(spark, sizes.pages, seed, numPartitions = sizes.files)
        .write.mode(SaveMode.Overwrite).parquet(s"$out/pages")
      // the curation corpus: pages as documents, with the same 10% re-crawl
      // duplicates (a duplicate repeats its source page's text)
      spark.range(0, sizes.docs, 1, sizes.files).map { id =>
        val src = PagesGen.sourceId(seed, id, 100)
        (id, PagesGen.langOf(seed, src), s"d${PagesGen.domainOf(seed, src, 1000)}.example.com",
          PagesGen.textOf(seed, src))
      }.toDF("doc_id", "lang", "source", "text")
        .write.mode(SaveMode.Overwrite).parquet(s"$out/docs")

    case "sketch_probe" =>
      import spark.implicits._
      val nb = sizes.buildKeys
      spark.range(0, nb, 1, sizes.files).map(i => buildKey(seed, i)).toDF("key")
        .write.mode(SaveMode.Overwrite).parquet(s"$out/build")
      spark.range(0, sizes.streamKeys, 1, sizes.files).map { j =>
        val member = unit(seed, j, 33) < memberFrac
        val key = if (member) buildKey(seed, (mix(seed, j, 34) >>> 1) % nb) else missKey(seed, j)
        (key, member, (j % 5).toInt)
      }.toDF("key", "member", "grp")
        .write.mode(SaveMode.Overwrite).parquet(s"$out/stream")

    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}
