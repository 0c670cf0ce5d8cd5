package graftbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark-side counters of one step (or of everything, for the totals). */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var resultBytes = 0L
  var gcMs = 0L

  def copy(): Counters = { val c = new Counters; c.add(this); c }

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; runMs += o.runMs
    cpuNs += o.cpuNs; shuffleReadBytes += o.shuffleReadBytes
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    resultBytes += o.resultBytes; gcMs += o.gcMs
  }

  def minus(o: Counters): Counters = {
    val c = copy()
    c.jobs -= o.jobs; c.stages -= o.stages; c.tasks -= o.tasks; c.runMs -= o.runMs
    c.cpuNs -= o.cpuNs; c.shuffleReadBytes -= o.shuffleReadBytes
    c.shuffleWriteBytes -= o.shuffleWriteBytes; c.spillBytes -= o.spillBytes
    c.resultBytes -= o.resultBytes; c.gcMs -= o.gcMs
    c
  }

  def cpuS: Double = cpuNs / 1e9
  def shuffleMb: Double = shuffleWriteBytes / 1e6

  def json: String =
    s""""jobs":$jobs,"stages":$stages,"tasks":$tasks,"run_ms":$runMs,"cpu_ns":$cpuNs,""" +
      s""""shuffle_read_bytes":$shuffleReadBytes,"shuffle_write_bytes":$shuffleWriteBytes,""" +
      s""""spill_bytes":$spillBytes,"result_bytes":$resultBytes,"gc_ms":$gcMs"""
}

/** A Spark job or stage as seen by the listener, for the trace. */
final case class SparkSpan(kind: String, id: Int, group: String, startMs: Long, endMs: Long)

/** Attributes task counters to the step that launched them. Steps set the
  * Spark job group to `step` or `step|spanId`; everything before the `|` is
  * the counter key, the whole group names the parent span in the trace. */
final class StepListener extends SparkListener {
  private val jobGroup = mutable.Map[Int, String]()
  private val jobStart = mutable.Map[Int, Long]()
  private val stageGroup = mutable.Map[Int, String]()
  private val byStep = mutable.Map[String, Counters]()
  private val total = new Counters
  private val spans = mutable.ArrayBuffer[SparkSpan]()

  private def stepOf(group: String): String = group.takeWhile(_ != '|')
  private def counters(group: String): Counters =
    byStep.getOrElseUpdate(stepOf(group), new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("other")
    jobGroup(e.jobId) = g
    jobStart(e.jobId) = e.time
    e.stageIds.foreach(s => stageGroup(s) = g)
    counters(g).jobs += 1
    total.jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val g = jobGroup.getOrElse(e.jobId, "other")
    spans += SparkSpan("job", e.jobId, g, jobStart.getOrElse(e.jobId, e.time), e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val g = stageGroup.getOrElse(info.stageId, "other")
    counters(g).stages += 1
    total.stages += 1
    spans += SparkSpan("stage", info.stageId, g,
      info.submissionTime.getOrElse(0L), info.completionTime.getOrElse(0L))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val c = new Counters
    c.tasks = 1
    if (m != null) {
      c.runMs = m.executorRunTime
      c.cpuNs = m.executorCpuTime
      c.shuffleReadBytes = m.shuffleReadMetrics.totalBytesRead
      c.shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten
      c.spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled
      c.resultBytes = m.resultSize
      c.gcMs = m.jvmGCTime
    }
    counters(stageGroup.getOrElse(e.stageId, "other")).add(c)
    total.add(c)
  }

  def snapshotTotal(sc: SparkContext): Counters = {
    org.apache.spark.BenchBus.drain(sc)
    synchronized(total.copy())
  }

  def snapshotSteps(sc: SparkContext): Map[String, Counters] = {
    org.apache.spark.BenchBus.drain(sc)
    synchronized(byStep.map { case (k, v) => k -> v.copy() }.toMap)
  }

  def sparkSpans(sc: SparkContext): Seq[SparkSpan] = {
    org.apache.spark.BenchBus.drain(sc)
    synchronized(spans.toList)
  }
}

/** One traced step: wall-clock start/end in epoch milliseconds (with
  * sub-millisecond digits), the enclosing step, and the run it belongs to. */
final case class Span(id: Int, parent: Int, name: String, startMs: Double, endMs: Double)

/** Records spans around the benchmark's calls into each layer. With
  * `enabled = false` a step only sets the Spark job group (for the counters)
  * and records nothing. Spans stay in memory until [[write]]. */
final class Tracer(val runId: String) {
  var enabled = false
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var nextId = 1
  private val wall0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()

  private def nowMs: Double = wall0 + (System.nanoTime() - nano0) / 1e6

  /** Runs `body` as step `name` with the job group set, so the listener
    * attributes its Spark work to it. */
  def step[T](sc: SparkContext, name: String)(body: => T): T = {
    val parent = stack.headOption.getOrElse(0)
    val id = nextId
    nextId += 1
    val group = if (enabled) s"$name|$runId:$id" else name
    val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(group, name, interruptOnCancel = false)
    stack = id :: stack
    val t0 = nowMs
    try body
    finally {
      val t1 = nowMs
      stack = stack.tail
      if (enabled) spans += Span(id, parent, name, t0, t1)
      if (prevGroup == null) sc.clearJobGroup()
      else sc.setJobGroup(prevGroup, prevGroup.takeWhile(_ != '|'), interruptOnCancel = false)
    }
  }

  /** Step self time: the span minus the part of it that its children (child
    * steps and the Spark jobs it launched) cover. */
  def selfMs(s: Span, jobs: Seq[(Double, Double)] = Nil): Double = {
    val kids = (spans.filter(_.parent == s.id).map(k => (k.startMs, k.endMs)) ++ jobs).sortBy(_._1)
    var covered = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    kids.foreach { case (a, b) =>
      if (curS.isNaN || a > curE) {
        if (!curS.isNaN) covered += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (!curS.isNaN) covered += curE - curS
    (s.endMs - s.startMs) - covered
  }

  /** Writes the spans (steps plus the listener's Spark jobs and stages,
    * parented by job group) and each step's counters summed over the traced
    * passes, `passes(step)` of them, as JSON lines. */
  def write(path: java.nio.file.Path, sparkSpans: Seq[SparkSpan],
            counters: Map[String, Counters], passes: String => Int): Unit = {
    val sb = new StringBuilder
    val mine = sparkSpans.filter(_.group.contains(s"|$runId:"))
    def parentOf(j: SparkSpan): Int = j.group.substring(j.group.lastIndexOf(':') + 1).toInt
    val jobsOf = mine.filter(_.kind == "job").groupBy(parentOf)
      .map { case (p, js) => p -> js.map(j => (j.startMs.toDouble, j.endMs.toDouble)) }
    spans.foreach { s =>
      sb.append(f"""{"run":"$runId","kind":"step","id":${s.id},"parent":${s.parent},""" +
        f""""name":"${s.name}","start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f,""" +
        f""""self_ms":${selfMs(s, jobsOf.getOrElse(s.id, Nil))}%.3f}""").append('\n')
    }
    mine.foreach { j =>
      val parent = parentOf(j)
      sb.append(s"""{"run":"$runId","kind":"${j.kind}","id":${j.id},"parent":$parent,""" +
        s""""name":"${j.group.takeWhile(_ != '|')}","start_ms":${j.startMs},"end_ms":${j.endMs}}""")
        .append('\n')
    }
    counters.foreach { case (step, c) =>
      sb.append(s"""{"run":"$runId","kind":"counters","name":"$step","passes":${passes(step)},${c.json}}""")
        .append('\n')
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

/** Operation and check accounting: every Spark action and every output check
  * is one attempted operation; a thrown exception or a failed check is one
  * failed operation. */
final class Ops {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer[String]()

  private def fail(what: String): Unit = {
    failed += 1
    if (failures.size < 20) failures += what
  }

  def attempt[T](name: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch { case NonFatal(e) => fail(s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}"); None }
  }

  def check(name: String, ok: Boolean, detail: => String = ""): Boolean = {
    attempted += 1
    if (!ok) fail(s"check $name failed $detail")
    ok
  }
}

/** Error of checked estimates against their published bounds, pooled over one
  * pass: `ratio` = Σ observed error / Σ bound, in a unit shared by every
  * estimate of the workload. Each estimate must also stay within its own
  * bound, which is a checked operation. */
final class ErrPool(ops: Ops) {
  private var err = 0.0
  private var bound = 0.0
  var maxRatio = 0.0
  var worst = ""

  def add(name: String, observed: Double, published: Double): Unit = {
    err += observed
    bound += published
    val r = if (published > 0) observed / published else if (observed > 0) Double.PositiveInfinity else 0.0
    if (r > maxRatio) { maxRatio = r; worst = name }
    ops.check(name, r <= 1.0, f"(error $observed%.4g > bound $published%.4g)")
  }

  def ratio: Double = if (bound > 0) err / bound else 0.0
}

/** Fixed single-thread CPU spin, recorded before and after a run so runs
  * that land in a slow window of the host can be told apart. Returns spin
  * units (loop iterations) per second. */
object Spin {
  def unitsPerS(iters: Long = 60000000L): Double = {
    var x = 0x9e3779b97f4a7c15L
    val t0 = System.nanoTime()
    var i = 0L
    while (i < iters) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    val dt = (System.nanoTime() - t0) / 1e9
    if (x == 42L) println("") // keeps the loop live
    iters / dt
  }
}

/** CPU time the hypervisor gave to other guests ("steal", from the first
  * line of /proc/stat) as a share of all CPU time. On a shared host this is
  * what makes identical runs differ; where /proc/stat is missing it reads 0. */
object Steal {
  final case class Mark(steal: Long, total: Long)

  def mark(): Mark =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val v = try src.getLines().next().trim.split("\\s+").drop(1).take(8).map(_.toLong)
      finally src.close()
      if (v.length == 8) Mark(v(7), v.sum) else Mark(0L, 0L)
    } catch { case NonFatal(_) => Mark(0L, 0L) }

  def share(a: Mark, b: Mark): Double =
    if (b.total > a.total) (b.steal - a.steal).toDouble / (b.total - a.total) else 0.0
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty)
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}
