package graftbench

import graft.core._
import graft.ext.{Hll, Kll, TDigest}
import graft.hash.{Fnv, Fnv1aHasher, Hashers}

/** Single-thread timings of the hash kernels and of each sketch family's
  * add, query, merge and byte-format code, on a workload's own keys. */
object Layers {
  val families: Seq[String] =
    Seq("bloom", "cbf", "ebf", "cms", "hh", "st", "cuckoo", "ccf", "qf", "hll", "kll", "tdigest")

  /** Median over `reps` runs of `body`, each run timed as a whole, in ns. */
  private def timeNs(reps: Int)(body: => Unit): Double =
    Stats.median((0 until reps).map { _ =>
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0).toDouble
    })

  private var sink = 0L

  def hash(keys: Array[String]): Map[String, Double] = {
    val bytes = keys.map(_.getBytes("UTF-8"))
    val n = keys.length.toDouble
    val depth = 7
    Map(
      "hash.fnv1a64_str_ns" -> timeNs(7) { keys.foreach(k => sink += Fnv.fnv1a64(k, 0)) } / n,
      "hash.fnv1a64_bytes_ns" -> timeNs(7) { bytes.foreach(b => sink += Fnv.fnv1a64(b, 0)) } / n,
      "hash.fnv1a_depth_ns" -> timeNs(7) { keys.foreach(k => sink += Fnv1aHasher.hashes(k, depth)(0)) } / n,
      "hash.md5_chain_ns" -> timeNs(5) { keys.foreach(k => sink += Hashers.md5.hashes(k, depth)(0)) } / n,
      "hash.sha256_chain_ns" -> timeNs(5) { keys.foreach(k => sink += Hashers.sha256.hashes(k, depth)(0)) } / n)
  }

  /** Operations of one family over `n` keys, each sketch sized for `n`. */
  private final case class Fam(
      empty: () => AnyRef,
      add: (AnyRef, String, Double) => Unit,
      query: (AnyRef, String) => Long,
      merge: (AnyRef, AnyRef) => Unit,
      toBytes: AnyRef => Array[Byte],
      fromBytes: Array[Byte] => AnyRef)

  private def fam(name: String, n: Int): Fam = {
    val cap = math.max(64, n)
    def b(x: Boolean): Long = if (x) 1L else 0L
    name match {
      case "bloom" => Fam(() => BloomFilter.empty(cap, 0.01),
        (s, k, _) => s.asInstanceOf[BloomFilter].add(k), (s, k) => b(s.asInstanceOf[BloomFilter].check(k)),
        (a, o) => a.asInstanceOf[BloomFilter].orInPlace(o.asInstanceOf[BloomFilter]),
        s => s.asInstanceOf[BloomFilter].toBytes, x => BloomFilter.fromBytes(x))
      case "cbf" => Fam(() => CountingBloomFilter.empty(cap, 0.01),
        (s, k, _) => s.asInstanceOf[CountingBloomFilter].add(k),
        (s, k) => s.asInstanceOf[CountingBloomFilter].check(k),
        (a, o) => a.asInstanceOf[CountingBloomFilter].addInPlace(o.asInstanceOf[CountingBloomFilter]),
        s => s.asInstanceOf[CountingBloomFilter].toBytes, x => CountingBloomFilter.fromBytes(x))
      case "ebf" => Fam(() => ExpandingBloomFilter(cap, 0.01),
        (s, k, _) => s.asInstanceOf[ExpandingBloomFilter].add(k, force = true),
        (s, k) => b(s.asInstanceOf[ExpandingBloomFilter].check(k)),
        (a, o) => a.asInstanceOf[ExpandingBloomFilter].mergeFrom(o.asInstanceOf[ExpandingBloomFilter]),
        s => s.asInstanceOf[ExpandingBloomFilter].toBytes, x => ExpandingBloomFilter.fromBytes(x))
      case "cms" => Fam(() => CountMinSketch.empty(2048, 5),
        (s, k, _) => s.asInstanceOf[CountMinSketch].add(k), (s, k) => s.asInstanceOf[CountMinSketch].check(k),
        (a, o) => a.asInstanceOf[CountMinSketch].join(o.asInstanceOf[CountMinSketch]),
        s => s.asInstanceOf[CountMinSketch].toBytes, x => CountMinSketch.fromBytes(x))
      case "hh" => Fam(() => HeavyHitters.empty(10, 2048, 5),
        (s, k, _) => s.asInstanceOf[HeavyHitters].add(k),
        (s, k) => s.asInstanceOf[HeavyHitters].cms.check(k),
        (a, o) => a.asInstanceOf[HeavyHitters].merge(o.asInstanceOf[HeavyHitters]),
        s => s.asInstanceOf[HeavyHitters].toBytes, x => HeavyHitters.fromBytes(x))
      case "st" => Fam(() => StreamThreshold.empty(100, 2048, 5),
        (s, k, _) => s.asInstanceOf[StreamThreshold].add(k),
        (s, k) => s.asInstanceOf[StreamThreshold].cms.check(k),
        (a, o) => a.asInstanceOf[StreamThreshold].merge(o.asInstanceOf[StreamThreshold]),
        s => s.asInstanceOf[StreamThreshold].toBytes, x => StreamThreshold.fromBytes(x))
      case "cuckoo" => Fam(() => new CuckooFilter(math.max(16, cap / 3), 4, 500, 2, true, 32),
        (s, k, _) => s.asInstanceOf[CuckooFilter].add(k), (s, k) => b(s.asInstanceOf[CuckooFilter].check(k)),
        (a, o) => a.asInstanceOf[CuckooFilter].mergeFrom(o.asInstanceOf[CuckooFilter]),
        s => s.asInstanceOf[CuckooFilter].toBytes, x => CuckooFilter.fromBytes(x, fingerprintBits = 32))
      case "ccf" => Fam(() => new CountingCuckooFilter(math.max(16, cap / 3), 4, 500, 2, true, 32),
        (s, k, _) => s.asInstanceOf[CountingCuckooFilter].add(k),
        (s, k) => s.asInstanceOf[CountingCuckooFilter].check(k),
        (a, o) => a.asInstanceOf[CountingCuckooFilter].mergeFrom(o.asInstanceOf[CountingCuckooFilter]),
        s => s.asInstanceOf[CountingCuckooFilter].toBytes,
        x => CountingCuckooFilter.fromBytes(x, fingerprintBits = 32))
      case "qf" =>
        val q = math.max(10, 32 - Integer.numberOfLeadingZeros(cap * 2 - 1))
        Fam(() => QuotientFilter(q, autoExpand = true),
          (s, k, _) => s.asInstanceOf[QuotientFilter].add(k), (s, k) => b(s.asInstanceOf[QuotientFilter].check(k)),
          (a, o) => a.asInstanceOf[QuotientFilter].merge(o.asInstanceOf[QuotientFilter]),
          s => s.asInstanceOf[QuotientFilter].toBytes, x => QuotientFilter.fromBytes(x))
      case "hll" => Fam(() => Hll(14),
        (s, k, _) => s.asInstanceOf[Hll].add(k), (s, _) => s.asInstanceOf[Hll].estimate,
        (a, o) => a.asInstanceOf[Hll].merge(o.asInstanceOf[Hll]),
        s => s.asInstanceOf[Hll].toBytes, x => Hll.fromBytes(x))
      case "kll" => Fam(() => Kll(200),
        (s, _, v) => s.asInstanceOf[Kll].update(v), (s, _) => s.asInstanceOf[Kll].quantile(0.5).toLong,
        (a, o) => a.asInstanceOf[Kll].merge(o.asInstanceOf[Kll]),
        s => s.asInstanceOf[Kll].toBytes, x => Kll.fromBytes(x))
      case "tdigest" => Fam(() => TDigest(100.0),
        (s, _, v) => s.asInstanceOf[TDigest].update(v), (s, _) => s.asInstanceOf[TDigest].quantile(0.5).toLong,
        (a, o) => a.asInstanceOf[TDigest].merge(o.asInstanceOf[TDigest]),
        s => s.asInstanceOf[TDigest].toBytes, x => TDigest.fromBytes(x))
    }
  }

  /** core.<family>.{add_ns, query_ns, merge_us, serde_us, bytes}. Quantile
    * families take each key's length as the value; their query is one
    * quantile, as hll's is one estimate. */
  def core(keys: Array[String]): Map[String, Double] = {
    val n = keys.length
    val values = keys.map(_.length.toDouble)
    families.flatMap { name =>
      val f = fam(name, n)
      def filled(from: Int, until: Int): AnyRef = {
        val s = f.empty(); var i = from
        while (i < until) { f.add(s, keys(i), values(i)); i += 1 }
        s
      }
      val addNs = timeNs(5)(filled(0, n)) / n
      val full = filled(0, n)
      val qKeys = if (name == "hll" || name == "kll" || name == "tdigest") keys.take(200) else keys
      val queryNs = timeNs(5)(qKeys.foreach(k => sink += f.query(full, k))) / qKeys.length
      val bytes = f.toBytes(full)
      val serdeUs = timeNs(9)(sink += f.toBytes(f.fromBytes(bytes)).length) / 1e3
      val halfA = f.toBytes(filled(0, n / 2))
      val halfB = f.toBytes(filled(n / 2, n))
      val mergeNs = Stats.median((0 until 9).map { _ =>
        val (a, b) = (f.fromBytes(halfA), f.fromBytes(halfB))
        val t0 = System.nanoTime(); f.merge(a, b); (System.nanoTime() - t0).toDouble
      })
      Seq(s"core.$name.add_ns" -> addNs, s"core.$name.query_ns" -> queryNs,
        s"core.$name.merge_us" -> mergeNs / 1e3,
        s"core.$name.serde_us" -> serdeUs, s"core.$name.bytes" -> bytes.length.toDouble)
    }.toMap
  }
}
