package graftbench

import org.apache.spark.sql.SparkSession

/** What a workload sees of the run: the session, the tracer that sets job
  * groups and records spans, and the operation accounting. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val ops: Ops,
                val dataDir: String, val workDir: String, val sizes: Sizes) {
  def step[T](name: String)(body: => T): T = tracer.step(spark.sparkContext, name)(body)

  /** Wall seconds of each step's actions in the current pass; a pass's wall
    * is their sum, so output checks and clean-up stay outside it. */
  val stepWalls = scala.collection.mutable.LinkedHashMap[String, Double]()

  /** A Spark action run as one attempted operation inside step `name`. */
  def action[T](name: String)(body: => T): Option[T] = step(name) {
    val t0 = System.nanoTime()
    try ops.attempt(name)(body)
    finally stepWalls(name) = stepWalls.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
  }

  def path(rel: String): String = s"$dataDir/$rel"
}

/** Per-pass output: the pooled error of the pass's checked estimates and
  * the workload's own per-pass figures (named as the per-layer metrics). */
final case class PassOut(err: ErrPool, extra: Map[String, Double] = Map.empty)

trait Workload {
  /** Input rows that one pass processes (pages or stream keys). */
  def rowsPerPass: Long

  /** Filter/state build, inside `setup_s`. */
  def setup(ctx: Ctx): Unit

  /** Exact answers for the output checks, computed outside `setup_s`. They
    * depend only on the inputs, so a run keeps them for later runs. */
  def truth(ctx: Ctx): java.io.Serializable
  def useTruth(t: java.io.Serializable): Unit

  /** One timed pass. `check = false` for the warm-up pass. */
  def pass(ctx: Ctx, check: Boolean): PassOut

  /** Steps run in the traced run only, after each traced pass. */
  def tracedExtras(ctx: Ctx): Unit = ()

  /** Keys of the workload's own input for the single-thread layer timings. */
  def layerKeys(ctx: Ctx): Array[String]
}
