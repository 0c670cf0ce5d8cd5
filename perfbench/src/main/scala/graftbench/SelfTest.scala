package graftbench

import java.io.File

import graft.core.CuckooFilter

/** Checks that the benchmark's checks can fail, at tiny size:
  *  - every workload's checks, and the curation checks, pass on correct output;
  *  - a deliberately overfilled Bloom filter pushes err_to_bound above 1;
  *  - an undersized cuckoo filter that may not expand is a failed operation.
  * Prints the benchmark's metric names and units as the last line.
  *
  * Usage: SelfTest --work DIR */
object SelfTest {
  private def fail(msg: String): Nothing = { System.err.println(s"[selftest] FAIL $msg"); sys.exit(1) }

  /** Generates tiny inputs, sets up once and runs one checked pass. */
  private def onePass(wl: Workload, name: String, work: String): (Ops, PassOut) = {
    val data = s"$work/data-$name"
    val gen = Main.session(2, s"$work/gen")
    try Gen.generate(gen, name, 7L, Sizes.tiny, data) finally gen.stop()
    val run = new Main.Run(wl, name, 7L, Sizes.tiny, data, s"$work/run-$name", 2)
    try {
      run.setup(1)
      wl.useTruth(wl.truth(run.ctx))
      val out = wl.pass(run.ctx, check = true)
      (run.ops, out)
    } finally run.stop()
  }

  def main(args: Array[String]): Unit = {
    val work = new File(args.grouped(2).collect { case Array("--work", v) => v }.toSeq.head)
      .getAbsolutePath
    Main.deleteRecursively(new File(work))
    Seq("sketch_build", "sketch_probe").foreach { name =>
      val (ops, out) = onePass(Main.workloadOf(name), name, work)
      if (ops.failed != 0) fail(s"$name: ${ops.failures.mkString("; ")}")
      if (!(out.err.ratio > 0 && out.err.ratio <= 1)) fail(s"$name: err_to_bound ${out.err.ratio}")
      System.err.println(f"[selftest] $name ok: ${ops.attempted} checked operations, " +
        f"err_to_bound ${out.err.ratio}%.4f (max ${out.err.maxRatio}%.4f ${out.err.worst})")
    }

    // the curation rounds of the traced sketch_build run, on its tiny inputs
    val run = new Main.Run(new SketchBuild, "sketch_build", 7L, Sizes.tiny,
      s"$work/data-sketch_build", s"$work/run-curate", 2)
    try {
      run.setup(1)
      run.wl.useTruth(run.wl.truth(run.ctx))
      val cur = new Curate
      cur.setup(run.ctx)
      cur.truth(run.ctx)
      val kept = (0 until 2).map(_ => cur.round(run.ctx))
      cur.stop(run.ctx)
      if (run.ops.failed != 0) fail(s"curate: ${run.ops.failures.mkString("; ")}")
      System.err.println(f"[selftest] curate ok: ${run.ops.attempted} checked operations, " +
        f"kept share ${kept.last}%.4f")
    } finally run.stop()

    val (ops, out) = onePass(new SketchProbe(bloomOverfill = 20.0), "sketch_probe", work)
    if (!(out.err.ratio > 1 && ops.failed > 0))
      fail(s"overfilled Bloom: err_to_bound ${out.err.ratio}, ${ops.failed} failed")
    System.err.println(f"[selftest] overfilled Bloom: err_to_bound ${out.err.ratio}%.3f, " +
      s"${ops.failed} failed operations")

    val cuckooOps = new Ops
    cuckooOps.attempt("cuckoo.undersized") {
      val cf = new CuckooFilter(4, 4, 50, 2, false, 32)
      (0 until 1000).foreach(i => cf.add(s"key-$i"))
    }
    val line = Main.resultJson(cuckooOps, Nil)
    if (cuckooOps.failed != 1 || !line.contains("\"correct\": false"))
      fail(s"undersized cuckoo not counted as failed: $line")
    System.err.println(s"[selftest] undersized cuckoo: $line")

    Main.deleteRecursively(new File(work))
    println((Main.endToEnd ++ Main.perLayer).map { case (k, u) => s""""$k": "$u"""" }
      .mkString("{", ", ", "}"))
  }
}
