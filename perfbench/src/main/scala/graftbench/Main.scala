package graftbench

import java.io.File
import java.nio.file.Paths

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One pass as measured: its wall (sum of its actions), each step's wall,
  * the Spark counters of the pass, its checked output, and the host's steal
  * share while it ran. */
final case class PassRec(wall: Double, stepWalls: Map[String, Double], counters: Counters,
                         out: PassOut, steal: Double)

/** The benchmark's JVM entry point: runs one workload for a fixed time and
  * prints its metrics as one JSON line, the last line of standard output.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1 --data DIR --work DIR
  *             [--traces DIR] [--truth FILE]
  *
  * The workload's inputs are written to `--data` first, unless an earlier
  * run on the same seed already wrote them there.
  */
object Main {

  /** Spark runs on local[N], N = min(4, available processors). */
  val cores: Int = math.min(4, Runtime.getRuntime.availableProcessors())
  /** Set-ups per run; `setup_s` is their median. */
  val setupReps = 3
  /** Untimed passes between set-up and measurement. */
  val warmPasses = 3
  /** Fewest measured passes per run, whatever `--seconds` says. */
  val minPasses = 7

  val endToEnd: Seq[(String, String)] = Seq(
    "rows_per_s" -> "rows/s", "setup_s" -> "s", "exec_cpu_s" -> "s", "shuffle_mb" -> "MB",
    "err_to_bound" -> "ratio", "ok_frac" -> "ratio")

  /** Every per-layer metric with its unit; a traced run reports all of them,
    * with 0 for the steps of other workloads. */
  val perLayer: Seq[(String, String)] = {
    val hash = Seq("fnv1a64_str", "fnv1a64_bytes", "fnv1a_depth", "md5_chain", "sha256_chain")
      .map(h => s"hash.${h}_ns" -> "ns")
    val core = Layers.families.flatMap(f => Seq(s"core.$f.add_ns" -> "ns", s"core.$f.query_ns" -> "ns",
      s"core.$f.merge_us" -> "us", s"core.$f.serde_us" -> "us", s"core.$f.bytes" -> "bytes"))
    val build = Seq("scan", "native", "udaf", "checkpoint").flatMap(s => Seq(s"build.$s.s" -> "s",
      s"build.$s.cpu_s" -> "s", s"build.$s.shuffle_mb" -> "MB", s"build.$s.tasks" -> "count"))
    val probe = Seq("probe.all.s" -> "s", "probe.scan.s" -> "s") ++
      Seq("bloom", "cuckoo", "qf", "ebf", "cbf", "cms").flatMap(f => Seq(
        s"probe.$f.native_s" -> "s", s"probe.$f.udf_s" -> "s",
        if (f == "cms") "probe.cms.over_frac" -> "ratio" else s"probe.$f.fp_rate" -> "ratio")) ++
      Seq("probe.semijoin.s" -> "s", "probe.semijoin.prune_frac" -> "ratio")
    val curate = Seq("curate", "minhash", "components", "curate_batch")
      .flatMap(s => Seq(s"curate.$s.s" -> "s", s"curate.$s.jobs" -> "count")) :+
      ("curate.kept_frac" -> "ratio")
    val run = Seq("host.cpu_units_per_s" -> "1/s", "host.steal_frac" -> "ratio", "input.gen_s" -> "s", "input.mb" -> "MB",
      "run.passes" -> "count", "check.err_to_bound_max" -> "ratio",
      "trace.rows_per_s_off" -> "rows/s", "trace.rows_per_s_on" -> "rows/s",
      "trace.overhead_frac" -> "ratio")
    hash ++ core ++ build ++ probe ++ curate ++ run
  }

  def workloadOf(name: String): Workload = name match {
    case "sketch_build" => new SketchBuild
    case "sketch_probe" => new SketchProbe
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def session(cores: Int, workDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(s"$workDir/warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(s"$workDir/spark-local").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(new File(s"$workDir/checkpoints").getAbsolutePath)
    spark
  }

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  /** Writes the workload's inputs into `dataDir` unless they are there;
    * returns the seconds their generation took. */
  def inputs(workload: String, seed: Long, sizes: Sizes, dataDir: String, workDir: String): Double = {
    val done = new File(dataDir, "_gen_s")
    if (done.exists) return new String(java.nio.file.Files.readAllBytes(done.toPath), "UTF-8").toDouble
    val tmp = new File(dataDir + ".tmp")
    deleteRecursively(tmp)
    val t0 = System.nanoTime()
    val spark = session(cores, s"$workDir/gen")
    try Gen.generate(spark, workload, seed, sizes, tmp.getAbsolutePath) finally spark.stop()
    val genS = (System.nanoTime() - t0) / 1e9
    java.nio.file.Files.write(new File(tmp, "_gen_s").toPath, genS.toString.getBytes("UTF-8"))
    deleteRecursively(new File(dataDir))
    if (!tmp.renameTo(new File(dataDir))) throw new java.io.IOException(s"cannot rename $tmp")
    System.err.println(f"[perfbench] generated $dataDir in $genS%.1fs")
    genS
  }

  private def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(dirBytes).sum).getOrElse(0L) else f.length()

  /** The result line. Every value keeps all its digits. */
  def resultJson(ops: Ops, metrics: Seq[(String, Double, String)]): String = {
    val ms = metrics.map { case (k, v, u) =>
      val num = if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
      s""""$k": {"value": $num, "unit": "$u"}"""
    }.mkString(", ")
    s"""{"correct": ${ops.failed == 0 && ops.attempted > 0}, "attempted": ${ops.attempted}, """ +
      s""""failed": ${ops.failed}, "metrics": {$ms}}"""
  }

  final class Run(val wl: Workload, val workload: String, seed: Long, val sizes: Sizes,
                  dataDir: String, val workDir: String, cores: Int) {
    val ops = new Ops
    val tracer = new Tracer(s"$workload-s$seed")
    var ctx: Ctx = _
    var listener: StepListener = _
    val setupTimes = mutable.ArrayBuffer[Double]()

    /** Session start, filter/state build and the warm-up pass, `reps` times
      * (each in a fresh session); the last session stays up. */
    def setup(reps: Int): Unit = (0 until reps).foreach { _ =>
      if (ctx != null) ctx.spark.stop()
      deleteRecursively(new File(s"$workDir/warehouse"))
      val t0 = System.nanoTime()
      val spark = session(cores, workDir)
      listener = new StepListener
      spark.sparkContext.addSparkListener(listener)
      ctx = new Ctx(spark, tracer, ops, dataDir, workDir, sizes)
      wl.setup(ctx)
      wl.pass(ctx, check = false)
      setupTimes += (System.nanoTime() - t0) / 1e9
    }

    /** Closed loop of back-to-back passes until `seconds` have passed (and
      * at least `minPasses` ran). */
    def passes(seconds: Double, traced: Boolean, minPasses: Int = Main.minPasses): Seq[PassRec] = {
      tracer.enabled = traced
      val sc = ctx.spark.sparkContext
      val recs = mutable.ArrayBuffer[PassRec]()
      val t0 = System.nanoTime()
      while (recs.size < minPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
        ctx.stepWalls.clear()
        val c0 = listener.snapshotTotal(sc)
        val m0 = Steal.mark()
        val out = wl.pass(ctx, check = true)
        val m1 = Steal.mark()
        val wall = ctx.stepWalls.values.sum
        val c1 = listener.snapshotTotal(sc)
        if (traced) wl.tracedExtras(ctx)
        recs += PassRec(wall, ctx.stepWalls.toMap, c1.minus(c0), out, Steal.share(m0, m1))
      }
      tracer.enabled = false
      recs.toSeq
    }

    def stop(): Unit = if (ctx != null) ctx.spark.stop()
  }

  /** Curation rounds per traced `sketch_build` run; the first is a warm-up. */
  val curateRoundsN = 3

  /** The curation layer, timed in the traced `sketch_build` run: state and
    * exact answers first, then checked rounds. Adds each step's counters to
    * `totals`; returns the `curate.*` metrics (walls are medians over the
    * rounds after the warm-up, jobs are per round). */
  private def curateRounds(run: Run, totals: mutable.Map[String, Counters]): Seq[(String, Double)] = {
    val cur = new Curate
    val ctx = run.ctx
    val sc = ctx.spark.sparkContext
    val walls = mutable.ArrayBuffer[Map[String, Double]]()
    var kept = 0.0
    cur.setup(ctx)
    val before = run.listener.snapshotSteps(sc)
    try {
      cur.truth(ctx)
      run.tracer.enabled = true
      (0 until curateRoundsN).foreach { i =>
        ctx.stepWalls.clear()
        kept = cur.round(ctx)
        if (i > 0) walls += ctx.stepWalls.toMap
      }
    } finally { run.tracer.enabled = false; cur.stop(ctx) }
    val after = run.listener.snapshotSteps(sc)
    cur.steps.flatMap { s =>
      val c = after.getOrElse(s, new Counters).minus(before.getOrElse(s, new Counters))
      totals.getOrElseUpdate(s, new Counters).add(c)
      Seq(s"curate.$s.s" -> Stats.median(walls.toSeq.map(_.getOrElse(s, 0.0))),
        s"curate.$s.jobs" -> c.jobs.toDouble / curateRoundsN)
    } :+ ("curate.kept_frac" -> kept)
  }

  /** The workload's exact answers, read from `file` when an earlier run on the
    * same inputs wrote it. */
  private def truth(run: Run, file: Option[String]): java.io.Serializable = {
    import java.io._
    file.map(new File(_)).filter(_.exists) match {
      case Some(f) =>
        val in = new ObjectInputStream(new FileInputStream(f))
        try in.readObject().asInstanceOf[Serializable] finally in.close()
      case None =>
        val t = run.wl.truth(run.ctx)
        file.foreach { path =>
          val tmp = new File(path + ".tmp")
          tmp.getParentFile.mkdirs()
          val out = new ObjectOutputStream(new FileOutputStream(tmp))
          try out.writeObject(t) finally out.close()
          tmp.renameTo(new File(path))
        }
        t
    }
  }

  private def parse(args: Array[String]): Map[String, String] =
    args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap

  def main(args: Array[String]): Unit = {
    val a = parse(args)
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a.getOrElse("trace", "0") == "1"
    val sizes = Sizes.default
    val dataDir = new File(a("data")).getAbsolutePath
    val workDir = new File(a("work")).getAbsolutePath

    val spin0 = Spin.unitsPerS()
    val genS = inputs(workload, seed, sizes, dataDir, workDir)
    val run = new Run(workloadOf(workload), workload, seed, sizes, dataDir, workDir, cores)
    val metrics = mutable.ArrayBuffer[(String, Double, String)]()
    try {
      // one untimed set-up first: it pays for class loading and first code
      // generation, which writing new inputs pays for on the first run of a
      // seed and nothing pays for on later runs
      run.setup(1)
      run.wl.useTruth(truth(run, a.get("truth")))
      // untimed checked passes, so the timed set-ups and passes see the JIT settled
      run.passes(0, traced = false, minPasses = warmPasses)
      run.setupTimes.clear()
      run.setup(setupReps)
      val units = (endToEnd ++ perLayer).toMap
      def put(k: String, v: Double): Unit = metrics += ((k, v, units(k)))
      val rows = run.wl.rowsPerPass.toDouble
      if (!traced) {
        val recs = run.passes(seconds, traced = false)
        val walls = recs.map(_.wall)
        System.err.println(f"[perfbench] $workload seed=$seed passes=${recs.size} " +
          f"pass_s=${walls.map(w => f"$w%.3f").mkString(",")} " +
          f"steal=${recs.map(r => f"${r.steal}%.3f").mkString(",")} " +
          f"setup_s=${run.setupTimes.map(w => f"$w%.3f").mkString(",")}")
        put("rows_per_s", rows / Stats.median(walls))
        put("setup_s", Stats.median(run.setupTimes.toSeq))
        put("exec_cpu_s", Stats.median(recs.map(_.counters.cpuS)))
        put("shuffle_mb", Stats.median(recs.map(_.counters.shuffleMb)))
        put("err_to_bound", Stats.median(recs.map(_.out.err.ratio)))
        put("ok_frac", 1.0 - run.ops.failed.toDouble / math.max(1L, run.ops.attempted))
      } else {
        val keys = run.wl.layerKeys(run.ctx)
        (Layers.hash(keys) ++ Layers.core(keys)).foreach { case (k, v) => put(k, v) }
        // untraced and traced passes alternate, so both see the same JIT and
        // host state; their rate difference is the tracing overhead
        val off = mutable.ArrayBuffer[PassRec]()
        val on = mutable.ArrayBuffer[PassRec]()
        val stepTotals = mutable.Map[String, Counters]()
        val t0 = System.nanoTime()
        while (on.size < 2 || (System.nanoTime() - t0) / 1e9 < seconds) {
          off ++= run.passes(0, traced = false, minPasses = 1)
          val before = run.listener.snapshotSteps(run.ctx.spark.sparkContext)
          on ++= run.passes(0, traced = true, minPasses = 1)
          run.listener.snapshotSteps(run.ctx.spark.sparkContext).foreach { case (s, c) =>
            stepTotals.getOrElseUpdate(s, new Counters).add(c.minus(before.getOrElse(s, new Counters)))
          }
        }
        val n = on.size.toDouble
        def stepWall(s: String): Double = Stats.median(on.toSeq.map(_.stepWalls.getOrElse(s, 0.0)))
        def stepCounters(s: String): Counters = stepTotals.getOrElse(s, new Counters)
        def extra(k: String): Double = Stats.median(on.toSeq.map(_.out.extra.getOrElse(k, 0.0)))
        workload match {
          case "sketch_build" => Seq("scan", "native", "udaf", "checkpoint").foreach { s =>
            val c = stepCounters(s)
            put(s"build.$s.s", stepWall(s)); put(s"build.$s.cpu_s", c.cpuS / n)
            put(s"build.$s.shuffle_mb", c.shuffleMb / n); put(s"build.$s.tasks", c.tasks / n)
          }
          case "sketch_probe" =>
            put("probe.all.s", stepWall("probe"))
            put("probe.scan.s", stepWall("scan"))
            Seq("bloom", "cuckoo", "qf", "ebf", "cbf", "cms").foreach { f =>
              put(s"probe.$f.native_s", stepWall(s"$f.native"))
              put(s"probe.$f.udf_s", stepWall(s"$f.udf"))
              val err = if (f == "cms") "cms.over_frac" else s"$f.fp_rate"
              put(s"probe.$err", extra(err))
            }
            put("probe.semijoin.s", stepWall("semijoin"))
            put("probe.semijoin.prune_frac", extra("semijoin.prune_frac"))
        }
        if (workload == "sketch_build")
          curateRounds(run, stepTotals).foreach { case (k, v) => put(k, v) }
        val offRate = rows / Stats.median(off.toSeq.map(_.wall))
        val onRate = rows / Stats.median(on.toSeq.map(_.wall))
        put("trace.rows_per_s_off", offRate)
        put("trace.rows_per_s_on", onRate)
        put("trace.overhead_frac", 1.0 - onRate / offRate)
        put("run.passes", (off.size + on.size).toDouble)
        put("host.steal_frac", Stats.median((off ++ on).toSeq.map(_.steal)))
        put("check.err_to_bound_max", (off ++ on).map(_.out.err.maxRatio).max)
        put("input.gen_s", genS)
        put("input.mb", dirBytes(new File(dataDir)) / 1e6)
        val tracePath = Paths.get(a.getOrElse("traces", s"$workDir/traces"),
          s"$workload-seed$seed.jsonl")
        run.tracer.write(tracePath, run.listener.sparkSpans(run.ctx.spark.sparkContext),
          stepTotals.toMap, s => if (s.startsWith("curate")) curateRoundsN else on.size)
        System.err.println(s"[perfbench] trace written to $tracePath")
      }
    } finally run.stop()
    val spin1 = Spin.unitsPerS()
    if (traced) {
      metrics += (("host.cpu_units_per_s", (spin0 + spin1) / 2, "1/s"))
      val have = metrics.map(_._1).toSet
      perLayer.filterNot(p => have(p._1)).foreach { case (k, u) => metrics += ((k, 0.0, u)) }
    }
    System.err.println(f"[perfbench] host.cpu_units_per_s before=$spin0%.4g after=$spin1%.4g")
    run.ops.failures.foreach(f => System.err.println(s"[perfbench] FAILED $f"))
    println(resultJson(run.ops, metrics.toSeq))
  }
}
