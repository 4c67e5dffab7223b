package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** State of one benchmark run: timing, output checks, tracing and the
  * figures the run reports.
  *
  * A traced run sets up untraced and measures its whole window with
  * spans, listeners and plan timing on; per-layer figures come from that
  * window. */
final class Run(val spark: SparkSession, val workload: String, val seed: Long,
    val seconds: Int, val traced: Boolean, val work: String) {
  val sc = spark.sparkContext
  val tracer = new Tracer(sc)
  val probe = new Probe(tracer)
  val streamProbe = new StreamProbe
  if (traced) {
    sc.addSparkListener(probe)
    spark.streams.addListener(streamProbe)
  }

  private val samplesMs = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  @volatile private var measuring = false
  val attempted = new AtomicLong
  val failed = new AtomicLong

  /** Figures reported by name: value and unit. */
  val figures = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Per-layer figures of a traced run. */
  val layer = mutable.LinkedHashMap.empty[String, Double]
  private val filesWritten = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val planMs = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val planExchanges = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  def figure(name: String, value: Double, unit: String): Unit = {
    require(!value.isNaN && !value.isInfinite, s"$name is $value")
    figures(name) = (value, unit)
  }

  /** One user-visible operation of `kind`: counted as attempted, timed
    * when the measurement window is open, traced as a root span. */
  def op[T](kind: String)(body: => T): T = {
    attempted.incrementAndGet()
    sc.setLocalProperty(Tracer.KindProp, kind)
    val t0 = System.nanoTime()
    try tracer.span("bench", kind)(body)
    finally {
      sc.setLocalProperty(Tracer.KindProp, null)
      record(kind, (System.nanoTime() - t0) / 1e6)
    }
  }

  /** Record one latency sample of `kind` if the window is open. */
  def record(kind: String, ms: Double): Unit = if (measuring) synchronized {
    samplesMs.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ms
    ()
  }

  /** An output check; a failed one counts its operation as failed. */
  def check(ok: Boolean, what: => String): Boolean = {
    if (!ok) {
      failed.incrementAndGet()
      System.err.println(s"[perfbench] CHECK FAILED ($workload seed=$seed): $what")
    }
    ok
  }

  /** Run a KV read: when tracing, the physical plan is built (and
    * timed) before the action, and its exchanges are counted after. */
  def read[T](kind: String, df: DataFrame)(action: DataFrame => T): T = {
    if (tracer.on) {
      val t0 = System.nanoTime()
      tracer.span("plan", "executedPlan")(df.queryExecution.executedPlan)
      synchronized(planMs(kind) += (System.nanoTime() - t0) / 1e6)
    }
    val r = tracer.span("sources.kv", kind)(action(df))
    if (tracer.on) synchronized {
      planExchanges(kind) += Plans.exchanges(df.queryExecution.executedPlan)
    }
    r
  }

  /** Run a write into the table at `dir`; when tracing, count the data
    * files it adds. */
  def written[T](kind: String, dir: String)(body: => T): T =
    if (!tracer.on) body
    else {
      val before = Files.dataFiles(dir)
      val r = body
      val added = (Files.dataFiles(dir) -- before).size
      synchronized(filesWritten(kind) += added)
      r
    }

  /** Samples of `kind` recorded in the measurement window. */
  def samples(kind: String): Seq[Double] = synchronized {
    samplesMs.get(kind).map(_.toList).getOrElse(Nil)
  }

  private var heapPools: Seq[java.lang.management.MemoryPoolMXBean] = Nil

  /** Measure for `seconds`: `loop(deadlineNs)` runs the workload until
    * the deadline. */
  def measure(loop: Long => Unit): Unit = {
    if (traced) {
      heapPools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
        .toArray(Array.empty[java.lang.management.MemoryPoolMXBean])
        .toSeq.filter(p => p.getType == java.lang.management.MemoryType.HEAP &&
          p.getName.contains("Old Gen"))
      heapPools.foreach(_.resetPeakUsage())
      tracer.on = true
      probe.on = true
      streamProbe.on = true
    }
    measuring = true
    loop(System.nanoTime() + seconds * 1000000000L)
    measuring = false
    tracer.on = false
  }

  /** Stop counting (after in-flight jobs of the window finish). */
  def endTrace(): Unit = if (traced) {
    Thread.sleep(300) // let the listener bus deliver the last task ends
    probe.on = false
    streamProbe.on = false
  }

  /** Session-layer and plan-layer figures per operation of `kind`. */
  def sessionFigures(kind: String, kvRead: Boolean, written: Boolean): Unit = {
    val n = samples(kind).size.toDouble
    val a = probe.snapshot.getOrElse(kind, new Acc)
    def per(x: Double) = if (n > 0) x / n else 0.0
    layer(s"layer.session.jobs.$kind") = per(a.jobs.toDouble)
    layer(s"layer.session.stages.$kind") = per(a.stages.toDouble)
    layer(s"layer.session.tasks.$kind") = per(a.tasks.toDouble)
    layer(s"layer.session.task_wait_ms.$kind") = per(a.taskWaitMs)
    layer(s"layer.session.executor_cpu_ms.$kind") = per(a.cpuMs)
    layer(s"layer.session.gc_ms.$kind") = per(a.gcMs)
    if (kvRead) {
      layer(s"layer.sources.kv.input_rows.$kind") = per(a.inRows.toDouble)
      layer(s"layer.sources.kv.input_bytes.$kind") = per(a.inBytes.toDouble)
    }
    if (written) {
      layer(s"layer.write.bytes_written.$kind") = per(a.outBytes.toDouble)
      layer(s"layer.write.files_written.$kind") = per(filesWritten(kind).toDouble)
    }
    if (planMs.contains(kind)) {
      layer(s"layer.plan.ms.$kind") = per(planMs(kind))
      layer(s"layer.plan.exchanges.$kind") = per(planExchanges(kind))
    }
  }

  /** A per-layer ratio, with its numerator and denominator recorded
    * beside it (`<name>.num`, `<name>.den`) for the trace summary. */
  def ratio(name: String, num: Double, den: Double): Unit = {
    layer(name) = if (den > 0) num / den else 0.0
    layer(s"$name.num") = num
    layer(s"$name.den") = den
  }

  /** Peak old-generation occupancy in the traced window: what the run
    * keeps in memory, without the young-generation churn. */
  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Span file plus per-layer self time. The tracing overhead is added
    * to the summary by run.py, against an untraced run of the same seed. */
  def writeTrace(dir: String): Unit = if (traced) {
    new java.io.File(dir).mkdirs()
    val stem = s"$dir/$workload-seed$seed"
    val spans = tracer.all.sortBy(_.startNs)
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    val w = new java.io.PrintWriter(s"$stem-spans.jsonl", "UTF-8")
    try spans.foreach { s =>
      w.println(Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
        "layer" -> s.layer, "name" -> s.name,
        "start_ms" -> (s.startNs - t0) / 1e6, "end_ms" -> (s.endNs - t0) / 1e6)))
    } finally w.close()
    val self = Tracer.selfTimes(spans).toSeq.sortBy(_._1).map { case (l, (n, tot, sf)) =>
      l -> Json.obj(Seq("spans" -> n, "total_ms" -> tot, "self_ms" -> sf))
    }
    val summary = Json.obj(Seq("workload" -> workload, "seed" -> seed,
      "layers_self_time" -> Json.RawObj(self),
      "per_layer" -> Json.RawObj(layer.toSeq.map { case (k, v) => k -> Json.num(v) })))
    val s = new java.io.PrintWriter(s"$stem-trace-summary.json", "UTF-8")
    try s.println(summary) finally s.close()
    self.foreach { case (l, j) => println(s"trace layer $l $j") }
    println(s"trace spans $stem-spans.jsonl (${spans.size} spans)")
  }
}

/** Minimal JSON writer for the run's result lines. */
object Json {
  final case class RawObj(fields: Seq[(String, String)])

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def value(v: Any): String = v match {
    case s: String => str(s)
    case d: Double => num(d)
    case RawObj(fs) => fs.map { case (k, j) => str(k) + ":" + j }.mkString("{", ",", "}")
    case m: Map[_, _] => m.toSeq.map { case (k, x) => str(k.toString) + ":" + value(x) }
      .mkString("{", ",", "}")
    case other => other.toString // Boolean, Int, Long
  }

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
