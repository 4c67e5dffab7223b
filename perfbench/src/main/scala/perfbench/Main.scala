package perfbench

import scala.util.control.NonFatal

/** Benchmark entry point: `perfbench.Main --workload W --seed N
  * --seconds S --trace 0|1 --work DIR --out DIR` (`--work` for tables and
  * checkpoints, `--out` for the traced run's span file and summary).
  *
  * Prints one `figure <name> <value> <unit>` line per figure and, last,
  * `RESULT <json>` with the checks, figures and per-layer numbers. */
object Main {
  val Workloads = Seq("graph_loops", "cdc_stream")
  /** Set-up is repeated this many times per run; its median is reported. */
  val Stagings = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val traced = opts("trace") == "1"
    val work = new java.io.File(opts("work")).getAbsolutePath
    val cpus = math.min(4, Runtime.getRuntime.availableProcessors)

    val t0 = System.nanoTime()
    def progress(what: String): Unit =
      System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%.1f s: $what")
    val spark = graft.GraftSession.local(cpus.toString)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val run = new Run(spark, workload, seed, seconds, traced, work)
    var error: Option[Throwable] = None
    var close: () => Unit = () => ()
    try {
      def setup(stage: () => Double, warm: () => Unit): Unit = {
        val stagingS = Stats.median(Seq.fill(Stagings)(stage()))
        progress("staged")
        val w0 = System.nanoTime()
        warm()
        progress("warmed up")
        val warmS = (System.nanoTime() - w0) / 1e9
        run.figure("setup_s", sessionS + stagingS + warmS, "s")
        run.figure("setup.session_s", sessionS, "s")
        run.figure("setup.staging_s", stagingS, "s")
        run.figure("setup.warmup_s", warmS, "s")
      }
      workload match {
        case "graph_loops" =>
          val w = new GraphLoops(run)
          setup(() => w.stage(), () => w.warmUp())
          // at least two passes; a further one only if a pass as long as the
          // last still ends in the window
          run.measure { end =>
            var last = 0L
            var passes = 0
            while (passes < 2 || System.nanoTime() + last < end) {
              passes += 1
              val t = System.nanoTime()
              w.step()
              last = System.nanoTime() - t
            }
          }
          run.endTrace()
          w.report()
        case "cdc_stream" =>
          val w = new CdcStream(run)
          close = () => w.close()
          setup(() => w.stage(), () => {
            w.startStream()
            w.step(System.nanoTime() + 4000000000L)
          })
          run.measure(end => w.step(end))
          w.finish()
          run.endTrace()
          w.report()
      }
      progress("measured and checked")
      if (traced) run.layer("layer.session.heap_peak_mb") = run.heapPeakMb
      run.writeTrace(opts("out"))
    } catch {
      case NonFatal(e) =>
        error = Some(e)
        run.failed.incrementAndGet()
        System.err.println(s"[perfbench] $workload seed=$seed failed")
        e.printStackTrace()
    } finally {
      try close() catch { case NonFatal(_) => () }
      spark.stop()
      progress("stopped")
    }
    run.figures.foreach { case (k, (v, u)) => println(s"figure $k ${Json.num(v)} $u") }
    val kinds = Seq("pagerank", "components", "labelprop", "bfs", "trigger", "write",
      "compact", "freshness", "drain")
    println("RESULT " + Json.obj(Seq(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "correct" -> (error.isEmpty && run.failed.get == 0),
      "attempted" -> run.attempted.get, "failed" -> run.failed.get,
      "samples" -> kinds.map(k => k -> run.samples(k).size).filter(_._2 > 0).toMap,
      "figures" -> Json.RawObj(run.figures.toSeq.map { case (k, (v, u)) =>
        k -> Json.obj(Seq("value" -> v, "unit" -> u)) }),
      "layer" -> Json.RawObj(run.layer.toSeq.map { case (k, v) => k -> Json.num(v) }))))
    System.out.flush()
    sys.exit(if (error.isEmpty) 0 else 1)
  }
}
