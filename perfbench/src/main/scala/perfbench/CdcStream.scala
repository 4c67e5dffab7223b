package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.write.KVTable

/** cdc_stream: an open loop. One generator thread puts a seeded
  * mutation round into a KV table every `IntervalMs` (round r's cells
  * carry ts r), slower than a put plus the fold of one round, so a
  * trigger usually finds one round and the stream idles until the next.
  * A standing `graft-cdc` stream folds each trigger's net
  * changes into a derived per-group sum kept in a second KV table
  * (public `resolvedAsOf` + `put`), commits its cutoff, and runs
  * `compactSafely` on the base table once `CompactEvery` rounds have
  * been folded since the last compaction.
  *
  * Compaction runs on the stream's thread, between triggers: a
  * compaction concurrent with a running CDC scan deletes log files the
  * scan has already listed, and the scan fails with
  * FileNotFoundException.
  *
  * Freshness is timed from a round's scheduled send time, so a stall
  * also delays the rounds queued behind it. A second phase holds the
  * stream, writes a backlog of rounds, releases it and times the drain;
  * no compaction runs while a backlog drains. */
final class CdcStream(run: Run) {
  import run.spark.implicits._
  import CdcStream._

  private val basePath = s"${run.work}/cdc_orders"
  private val mvPath = s"${run.work}/cdc_group_sums"
  private var base: KVTable = _
  private var mv: KVTable = _
  private var query: StreamingQuery = _
  private val rnd = new Random(run.seed * 17 + 3)

  @volatile private var written = 1L // newest round ts the generator has put
  @volatile private var folded = 1L // newest cutoff folded into the sums
  private var compactedAt = 1L
  private val scheduled = new ConcurrentHashMap[Long, java.lang.Long]()
  private val lock = new Object
  // the fold that covers this round holds the stream (Long.MaxValue: none)
  @volatile private var holdAt = Long.MaxValue
  @volatile private var held = false
  @volatile private var draining = false
  @volatile private var rowsFolded = 0L // net-change rows folded so far
  private val heldBatches = mutable.Set.empty[Long]

  // traced-run counters
  private val foldReadMs = mutable.ArrayBuffer.empty[Double]
  private val foldWriteMs = mutable.ArrayBuffer.empty[Double]
  private val foldRows = mutable.ArrayBuffer.empty[Double]
  // read amplification, sampled with the stream held behind a full
  // backlog and at the end of a traced run
  private val readAmp = mutable.ArrayBuffer.empty[(Double, Double)] // (cells, live cells)
  @volatile private var backlogMax = 0L
  @volatile private var lateMax = 0.0
  @volatile private var maxLogFiles = 0

  /** Base table (one cents cell per order at ts 1, compacted) and the
    * derived sums at ts 1; returns the seconds it took. */
  def stage(): Double = {
    val t0 = System.nanoTime()
    stopStream()
    Files.delete(new java.io.File(s"${run.work}/cdc_checkpoint"))
    base = KVTable(run.spark, basePath, wipe = true)
    mv = KVTable(run.spark, mvPath, wipe = true)
    base.put(Inputs.orders(run.seed, Keys).toSeq.toDF("key", "value").select($"key", lit("O").as("family"),
        lit("cents").as("qualifier"), $"value", lit(1L).as("ts")))
    base.compact()
    mv.put(sums(base.resolvedAsOf(1L)).select($"grp".as("key"), lit("A").as("family"),
      lit("sum").as("qualifier"), $"total".cast("string").as("value"), lit(1L).as("ts")))
    written = 1L; folded = 1L; compactedAt = 1L
    scheduled.clear()
    (System.nanoTime() - t0) / 1e9
  }

  private def sums(state: DataFrame): DataFrame =
    state.filter($"qualifier" === "cents")
      .groupBy(pmod($"key", lit(Groups.toLong)).as("grp"))
      .agg(sum($"value".cast("long")).as("total"))

  def startStream(): Unit = {
    query = run.spark.readStream.format("graft-cdc")
      .option("path", basePath).option("startTs", folded.toString)
      .load()
      .writeStream
      .option("checkpointLocation", s"${run.work}/cdc_checkpoint")
      .foreachBatch((batch: DataFrame, id: Long) => fold(batch, id))
      .start()
  }

  private def stopStream(): Unit = if (query != null) {
    query.stop()
    query = null
  }

  /** Fold one trigger's net changes into the per-group sums. */
  private def fold(batch: DataFrame, batchId: Long): Unit = {
    val backlog = written - folded
    val traced = run.tracer.on
    if (traced) backlogMax = math.max(backlogMax, backlog)
    val done = run.op("trigger")(run.tracer.span("streaming", "foreachBatch") {
      val t0 = System.nanoTime()
      val delta = batch.groupBy(pmod($"key", lit(Groups.toLong)).as("grp"))
        .agg(sum(when($"qualifier" === "cents",
          coalesce($"new_value".cast("long"), lit(0L)) -
            coalesce($"old_value".cast("long"), lit(0L))).otherwise(0L)).as("d"),
          max($"new_ts").as("ts"), count(lit(1)).as("n"))
      val rows = run.read("trigger", delta)(_.collect())
      val cutoff = rows.map(r => if (r.isNullAt(2)) folded else r.getLong(2)).foldLeft(folded)(math.max)
      val n = rows.map(_.getLong(3)).sum
      val cur = run.tracer.span("sources.kv", "resolvedAsOf")(
        mv.resolvedAsOf(folded).select($"key", $"value").collect()
          .map(r => r.getLong(0) -> r.getString(1).toLong).toMap)
      val t1 = System.nanoTime()
      val changed = rows.filter(_.getLong(1) != 0L)
        .map(r => (r.getLong(0), (cur.getOrElse(r.getLong(0), 0L) + r.getLong(1)).toString))
      run.written("trigger", mvPath)(run.tracer.span("write", "put") {
        if (changed.nonEmpty)
          mv.put(changed.toSeq.toDF("key", "value").coalesce(1).select($"key",
            lit("A").as("family"), lit("sum").as("qualifier"), $"value", lit(cutoff).as("ts")))
        base.commitCdcCutoff(Consumer, cutoff)
      })
      if (traced) {
        foldReadMs += (t1 - t0) / 1e6
        foldWriteMs += (System.nanoTime() - t1) / 1e6
        foldRows += n
      }
      (cutoff, n)
    })
    val now = System.nanoTime()
    (folded + 1 to done._1).foreach { r =>
      Option(scheduled.remove(r)).foreach(s => run.record("freshness", (now - s) / 1e6))
    }
    rowsFolded += done._2
    folded = done._1
    if (!draining && folded - compactedAt >= CompactEvery) {
      run.written("compact", s"$basePath/compacted")(
        run.op("compact")(run.tracer.span("write", "compactSafely")(base.compactSafely())))
      compactedAt = folded
    }
    if (folded >= holdAt) lock.synchronized {
      heldBatches += batchId
      holdAt = Long.MaxValue
      held = true
      lock.notifyAll()
      while (held) lock.wait()
    }
  }

  /** Put one mutation round at ts = `written` + 1 as a single file
    * (updates and row tombstones together, so a reader sees all of it or
    * none of it). */
  private def putRound(): Unit = {
    val ts = written + 1
    val idx = rnd.shuffle((0 until Keys).toVector)
    val tomb = idx.take(Keys / 200).map(Inputs.orderKey)
    val upd = idx.slice(Keys / 200, Keys / 200 + Keys / 50).map(Inputs.orderKey)
    val rows = upd.map(k => (k, "O", "cents", Inputs.cents(rnd), null: String)) ++
      tomb.map(k => (k, null: String, null: String, null: String, "row"))
    run.written("write", s"$basePath/log")(run.op("write")(run.tracer.span("write", "put")(
      base.put(rows.toDF("key", "family", "qualifier", "value", "tomb")
        .withColumn("ts", lit(ts)).coalesce(1)))))
    written = ts
    if (run.tracer.on)
      maxLogFiles = math.max(maxLogFiles, graft.sources.kv.KVLayout(basePath).logFiles.size)
  }

  /** Open loop until `deadline`: round k is due at start + k·interval,
    * whatever the previous round cost. */
  private def openLoop(deadline: Long): Unit = {
    val start = System.nanoTime()
    var k = 0L
    while (start + k * IntervalMs * 1000000L < deadline) {
      val due = start + k * IntervalMs * 1000000L
      val wait = due - System.nanoTime()
      if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
      else if (run.tracer.on) lateMax = math.max(lateMax, -wait / 1e6)
      scheduled.put(written + 1, due)
      putRound()
      k += 1
    }
  }

  private def awaitFolded(ts: Long): Unit = {
    val limit = System.nanoTime() + 60000000000L
    while (folded < ts && System.nanoTime() < limit) {
      query.exception.foreach(e => throw e)
      Thread.sleep(5)
    }
    require(folded >= ts, s"stream did not fold cutoff $ts (at $folded)")
  }

  /** Hold the stream in the fold of one round, write `Backlog` rounds
    * behind it, release it and time the drain. */
  private def backlog(): Unit = {
    awaitFolded(written)
    holdAt = written + 1
    putRound()
    lock.synchronized { while (!held) { query.exception.foreach(e => throw e); lock.wait(100) } }
    draining = true
    val rows0 = rowsFolded
    (1 to Backlog).foreach(_ => putRound())
    if (run.tracer.on) sampleReadAmp()
    val target = written
    val t0 = System.nanoTime()
    lock.synchronized { held = false; lock.notifyAll() }
    awaitFolded(target)
    val s = (System.nanoTime() - t0) / 1e9
    draining = false
    run.record("catchup_rows_per_s", (rowsFolded - rows0) / s)
    run.record("drain", s * 1000)
  }

  /** Open loop, then backlog drains, until `deadline`. */
  def step(deadline: Long): Unit = {
    val now = System.nanoTime()
    openLoop(now + ((deadline - now) * OpenLoopShare).toLong)
    do backlog() while (System.nanoTime() < deadline - BacklogRepMs * 1000000L)
    awaitFolded(written)
  }

  /** Derived sums must equal a batch recompute from the base table
    * resolved as of the last folded cutoff. */
  def finish(): Unit = {
    awaitFolded(written)
    stopStream()
    if (run.traced) sampleReadAmp()
    val want = sums(base.resolvedAsOf(folded)).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = mv.resolved().collect().map(r => r.getAs[Long]("key") -> r.getAs[String]("value").toLong).toMap
    run.attempted.incrementAndGet()
    val groups = want.keySet ++ got.keySet
    run.check(groups.forall(g => want.getOrElse(g, 0L) == got.getOrElse(g, 0L)),
      s"derived sums differ from recompute at cutoff $folded in " +
        s"${groups.count(g => want.getOrElse(g, 0L) != got.getOrElse(g, 0L))} groups")
  }

  def close(): Unit = stopStream()

  /** Cells ÷ resolved cells of the base table; only while no compaction
    * can run (with the stream held or stopped). */
  private def sampleReadAmp(): Unit = {
    run.sc.setLocalProperty(Tracer.KindProp, "sample")
    try readAmp += ((base.cells.count().toDouble, base.resolved().count().toDouble))
    finally run.sc.setLocalProperty(Tracer.KindProp, null)
  }

  /** Logical bytes of the live cells: key and ts as 8 bytes each plus
    * the UTF-8 lengths of family, qualifier and value. */
  private def liveBytes: Double = base.resolved().agg(sum(lit(16L) + length($"family") +
    length($"qualifier") + length($"value"))).collect().head.getLong(0).toDouble

  def report(): Unit = {
    val f = run.samples("freshness")
    run.figure("stream.freshness_p50_ms", Stats.median(f), "ms")
    if (f.size >= 100) run.figure("stream.freshness_p90_ms", Stats.pct(f, 90), "ms")
    run.figure("stream.catchup_rows_per_s", Stats.median(run.samples("catchup_rows_per_s")), "rows/s")
    run.figure("stream.trigger_p50_ms", Stats.median(run.samples("trigger")), "ms")
    run.figure("stream.put_p50_ms", Stats.median(run.samples("write")), "ms")
    run.figure("latency_p50_ms", Stats.median(f), "ms")
    run.figure("batch_s", Stats.median(run.samples("drain")) / 1000, "s")
    if (run.traced) {
      run.sessionFigures("trigger", kvRead = true, written = true)
      run.sessionFigures("write", kvRead = false, written = true)
      run.sessionFigures("compact", kvRead = true, written = true)
      // a held trigger's time includes the hold, not engine work
      val trig = run.streamProbe.triggers.synchronized(run.streamProbe.triggers.toList)
        .collect { case (id, d) if !lock.synchronized(heldBatches(id)) => d }
      def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
      Seq("trigger_ms" -> "triggerExecution", "add_batch_ms" -> "addBatch",
        "wal_commit_ms" -> "walCommit", "commit_offsets_ms" -> "commitOffsets",
        "query_planning_ms" -> "queryPlanning", "latest_offset_ms" -> "latestOffset")
        .foreach { case (name, key) => run.layer(s"layer.streaming.$name") = mean(trig.flatMap(_.get(key))) }
      run.layer("layer.streaming.fold_read_ms") = mean(foldReadMs.toSeq)
      run.layer("layer.streaming.fold_write_ms") = mean(foldWriteMs.toSeq)
      run.layer("layer.streaming.cdc_rows_per_trigger") = mean(foldRows.toSeq)
      run.layer("layer.streaming.backlog_cutoffs_max") = backlogMax.toDouble
      run.layer("layer.streaming.generator_late_ms_max") = lateMax
      run.layer("layer.sources.kv.log_files") = maxLogFiles
      run.ratio("layer.sources.kv.read_amp", readAmp.map(_._1).sum, readAmp.map(_._2).sum)
      run.ratio("layer.write.compact_rewrite_per_live_byte",
        run.layer("layer.write.bytes_written.compact"), liveBytes)
    }
  }
}

object CdcStream {
  /** Orders in the base table; each round updates 2% of them and
    * row-tombstones 0.5% (NOTES.md gives how the sizes were chosen). */
  val Keys = 20000
  val Groups = 100
  /** Above a put plus the trigger that folds it (so the fold does not run
    * beside the next put, and a round rarely waits for another's fold). */
  val IntervalMs = 1600L
  val CompactEvery = 10
  /** Rounds written behind the held one. */
  val Backlog = 5
  val BacklogRepMs = 3000L
  /** Share of each measurement window spent in the open loop; the rest
    * drains backlogs. */
  val OpenLoopShare = 0.6
  val Consumer = "perfbench_sums"
}
