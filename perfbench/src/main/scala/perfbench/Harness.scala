package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Percentiles over one run's samples (linear interpolation between
  * closest ranks, the numpy default). */
object Stats {
  def pct(xs: Iterable[Double], p: Double): Double = {
    val s = xs.toArray.sorted
    require(s.nonEmpty, "percentile of no samples")
    val r = p / 100.0 * (s.length - 1)
    val lo = math.floor(r).toInt
    val hi = math.ceil(r).toInt
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }
  def median(xs: Iterable[Double]): Double = pct(xs, 50)
}

/** One traced interval: spans of one benchmark operation share `op`;
  * `parent` is 0 for an operation's root span. */
final case class Span(id: Long, parent: Long, op: Long, layer: String,
    name: String, startNs: Long, endNs: Long)

/** In-memory span recorder. Spans are recorded only while `on`, kept in
  * memory and written out once when the run ends. The innermost open
  * span is published to Spark as a thread-local job property, so the
  * scheduler jobs a span causes become its `session` children. */
final class Tracer(sc: SparkContext) {
  @volatile var on = false
  private val ids = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[(Long, Long)]] {
    override def initialValue(): List[(Long, Long)] = Nil
  }

  def span[T](layer: String, name: String)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get
      val (parent, op) = outer match {
        case (p, o) :: _ => (p, o)
        case Nil => (0L, id)
      }
      stack.set((id, op) :: outer)
      sc.setLocalProperty(Tracer.SpanProp, id.toString)
      sc.setLocalProperty(Tracer.OpProp, op.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        add(Span(id, parent, op, layer, name, t0, System.nanoTime()))
        stack.set(outer)
        sc.setLocalProperty(Tracer.SpanProp, outer.headOption.map(_._1.toString).orNull)
        sc.setLocalProperty(Tracer.OpProp, outer.headOption.map(_._2.toString).orNull)
      }
    }

  def add(s: Span): Unit = spans.synchronized { spans += s; () }
  def nextId(): Long = ids.incrementAndGet()
  def all: Seq[Span] = spans.synchronized(spans.toList)
}

object Tracer {
  val SpanProp = "perfbench.span"
  val OpProp = "perfbench.opid"
  val KindProp = "perfbench.op"

  /** Self time per layer: a span's duration minus the part of it that
    * its child spans cover. Returns layer -> (spans, total ms, self ms). */
  def selfTimes(spans: Seq[Span]): Map[String, (Int, Double, Double)] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      val total = ss.map(s => (s.endNs - s.startNs).toDouble).sum
      val self = ss.map { s =>
        val iv = kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0L
        var curA = Long.MinValue
        var curB = Long.MinValue
        iv.foreach { case (a, b) =>
          if (a > curB) {
            if (curB > curA) covered += curB - curA
            curA = a; curB = b
          } else curB = math.max(curB, b)
        }
        if (curB > curA) covered += curB - curA
        (s.endNs - s.startNs - covered).toDouble
      }.sum
      layer -> ((ss.size, total / 1e6, self / 1e6))
    }
  }
}

/** Per-operation-kind scheduler, task and I/O counters, attributed via
  * the job property the benchmark sets around each operation. */
final class Acc {
  var jobs, stages, tasks = 0L
  var taskWaitMs, cpuMs, gcMs = 0.0
  var inRows, inBytes, shuffleBytes, outBytes = 0L
}

/** The benchmark's own Spark listener: counts only while `on`, and
  * turns every attributed job into a `session` span. */
final class Probe(tracer: Tracer) extends SparkListener {
  @volatile var on = false
  private val accs = new ConcurrentHashMap[String, Acc]()
  private val stageKind = new ConcurrentHashMap[(Int, Int), (String, Long)]()
  private val jobSpan = new ConcurrentHashMap[Int, (Long, Long, Long)]()
  // wall-clock ms (listener event times) -> the tracer's nanoTime axis
  private val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L

  def acc(kind: String): Acc = accs.computeIfAbsent(kind, _ => new Acc)
  def snapshot: Map[String, Acc] = accs.asScala.toMap

  private def prop(p: java.util.Properties, k: String): Option[String] =
    Option(p).flatMap(x => Option(x.getProperty(k)))

  override def onJobStart(e: SparkListenerJobStart): Unit = if (on) {
    prop(e.properties, Tracer.KindProp).foreach(k => acc(k).synchronized(acc(k).jobs += 1))
    for (sp <- prop(e.properties, Tracer.SpanProp); op <- prop(e.properties, Tracer.OpProp))
      jobSpan.put(e.jobId, (sp.toLong, op.toLong, e.time))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobSpan.remove(e.jobId)).foreach { case (parent, op, t0) =>
      tracer.add(Span(tracer.nextId(), parent, op, "session", s"job ${e.jobId}",
        t0 * 1000000L + offsetNs, e.time * 1000000L + offsetNs))
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = if (on) {
    prop(e.properties, Tracer.KindProp).foreach { k =>
      val a = acc(k)
      a.synchronized(a.stages += 1)
      stageKind.put((e.stageInfo.stageId, e.stageInfo.attemptNumber()),
        (k, e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageKind.get((e.stageId, e.stageAttemptId))).foreach { case (k, submitted) =>
      val a = acc(k)
      val m = e.taskMetrics
      a.synchronized {
        a.tasks += 1
        a.taskWaitMs += math.max(0L, e.taskInfo.launchTime - submitted)
        if (m != null) {
          a.cpuMs += m.executorCpuTime / 1e6
          a.gcMs += m.jvmGCTime
          a.inRows += m.inputMetrics.recordsRead
          a.inBytes += m.inputMetrics.bytesRead
          a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          a.outBytes += m.outputMetrics.bytesWritten
        }
      }
    }
}

/** Per-trigger durations from `StreamingQueryProgress.durationMs`, by
  * batch id. */
final class StreamProbe extends StreamingQueryListener {
  @volatile var on = false
  val triggers = mutable.ArrayBuffer.empty[(Long, Map[String, Double])]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    if (on && e.progress.numInputRows > 0) triggers.synchronized {
      triggers += e.progress.batchId ->
        e.progress.durationMs.asScala.map { case (k, v) => k -> v.toDouble }.toMap
      ()
    }
}

object Plans {
  /** Shuffle exchanges in a physical plan, looking inside adaptive
    * plans and their query stages. */
  def exchanges(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case q: QueryStageExec => exchanges(q.plan)
    case e: ShuffleExchangeLike => 1 + e.children.map(exchanges).sum
    case other => other.children.map(exchanges).sum + other.subqueries.map(exchanges).sum
  }
}

/** Recursive file tree helpers: the benchmark's own cleanup and data
  * file counting (the engine's recursive delete is not public). */
object Files {
  def walk(f: java.io.File): Seq[java.io.File] =
    if (!f.exists()) Nil
    else if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
    else Seq(f)

  def dataFiles(dir: String): Set[String] =
    walk(new java.io.File(dir)).map(_.getPath)
      .filter(p => p.endsWith(".parquet")).toSet

  def delete(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(delete)
    f.delete(); ()
  }
}
