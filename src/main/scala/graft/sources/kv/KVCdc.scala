package graft.sources.kv

import java.util.concurrent.ConcurrentHashMap

import scala.collection.JavaConverters._
import scala.collection.mutable

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.{DataSourceRegister, Filter, LessThanOrEqual}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** STREAMING change-data feed over a graft KV table — `changesBetween`
  * (write/KVStore.scala) exposed as a rate-limited `readStream`
  * source, with the version-log CUTOFF as the stream offset:
  *
  * {{{
  *   spark.readStream.format("graft-cdc")
  *     .option("path", tablePath)
  *     .option("startTs", "1")   // initial cutoff (exclusive)
  *     .option("stepTs", "1")    // max cutoff advance per micro-batch
  *     .load()
  * }}}
  *
  * Each micro-batch emits the NET difference between the live states
  * as of `start` and `end` (both cell-timestamp cutoffs) — one row per
  * cell whose live version changed, tagged insert/update/delete with
  * before/after values, exactly [[graft.write.KVTable.changesBetween]]'s
  * shape. A consumer folding each batch into derived state turns the
  * m16 catch-up loop into a STANDING incremental-MV stream (st12).
  *
  * Shape at scale: the diff is computed bucket-locally inside each
  * scan task — a (key,family,qualifier) group lives in exactly one
  * bucket, so a single pass over the bucket's files replays both
  * cutoff states in memory (2× the bucket's live cells, the same
  * footprint class as the resolved scan) and no shuffle ever runs.
  * Offset discovery reads parquet FOOTERS only (max `ts` column
  * statistic per immutable file, cached), never data pages. `stepTs`
  * is the rate limiter: a consumer catching up over a long history
  * advances at most that many cutoff units per trigger, bounding
  * per-batch work.
  *
  * Replay/restart contract: offsets are plain cutoffs, so a replayed
  * `(start, end]` window recomputes the identical diff from the
  * immutable files (KVCdcSpec pins this); the [[graft.write.KVTable
  * .resolvedAsOf]] retention rule applies — a compaction that already
  * retired versions older than a replayed `start` folds those changes
  * into their net effect, the standard CDC-on-compacted-log caveat
  * (Delta CDF has the same one).
  */
class KVCdcProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-cdc"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    KVCdc.SCHEMA
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table = {
    val path = properties.get("path")
    require(path != null && path.nonEmpty,
      "graft-cdc needs .option(\"path\", <kv table path>)")
    new KVCdcTable(path,
      Option(properties.get("startts")).orElse(
        Option(properties.get("startTs"))).map(_.toLong).getOrElse(0L),
      Option(properties.get("stepts")).orElse(
        Option(properties.get("stepTs"))).map(_.toLong).getOrElse(Long.MaxValue))
  }
}

object KVCdc {
  val SCHEMA: StructType = StructType.fromDDL(
    "key BIGINT, family STRING, qualifier STRING, change_type STRING, " +
      "old_value STRING, new_value STRING, old_ts BIGINT, new_ts BIGINT")
}

class KVCdcTable(path: String, startTs: Long, stepTs: Long)
    extends Table with SupportsRead {
  override def name(): String = s"graft-cdc `$path`"
  override def schema(): StructType = KVCdc.SCHEMA
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = KVCdc.SCHEMA
        override def description(): String = s"graft-cdc path=$path"
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new KVCdcMicroBatchStream(path, startTs, stepTs)
      }
    }
}

/** Long cutoff as a streaming offset. */
case class KVCdcOffset(ts: Long) extends Offset {
  override def json(): String = ts.toString
}

class KVCdcMicroBatchStream(path: String, startTs: Long, stepTs: Long)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  // footer max-ts per immutable data file — read once, ever
  private val footerMax = new ConcurrentHashMap[String, java.lang.Long]()

  private def hconf = GraftFs.hadoopConf

  private def footerMaxTs(f: String): Long =
    footerMax.computeIfAbsent(f, { _ =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new HPath(f), hconf))
      try {
        val m = r.getFooter.getBlocks.asScala.flatMap { b =>
          b.getColumns.asScala
            .filter(_.getPath.toDotString == "ts")
            .flatMap(c => Option(c.getStatistics))
            .collect {
              case s if s.hasNonNullValue =>
                s.genericGetMax.asInstanceOf[java.lang.Long].longValue()
            }
        }
        java.lang.Long.valueOf(
          if (m.isEmpty) Long.MinValue else m.max)
      } finally r.close()
    }).longValue()

  /** Newest cell timestamp any file holds — the high-water cutoff. */
  private def maxTsAvailable(): Long = {
    val layout = KVLayout(path)
    val files = layout.logFiles ++ layout.compactedByBucket.values.flatten
    files.foldLeft(startTs)((acc, f) => math.max(acc, footerMaxTs(f)))
  }

  @volatile private var availableNowTarget: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(maxTsAvailable())

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def initialOffset(): Offset = KVCdcOffset(startTs)

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) is the admission-control path")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[KVCdcOffset].ts
    val target = availableNowTarget.getOrElse(maxTsAvailable())
    val stepped =
      if (stepTs == Long.MaxValue || s > target - stepTs) target
      else s + stepTs
    KVCdcOffset(math.max(s, stepped))
  }

  override def reportLatestOffset(): Offset = KVCdcOffset(maxTsAvailable())

  override def deserializeOffset(json: String): Offset =
    KVCdcOffset(json.toLong)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[KVCdcOffset].ts
    val to = end.asInstanceOf[KVCdcOffset].ts
    if (from >= to) return Array.empty
    val layout = KVLayout(path)
    val buckets: Array[KVBucketPartition] =
      if (layout.bucketed) {
        (0 until layout.numBuckets).map { b =>
          val comp = layout.compactedByBucket.getOrElse(b, Seq.empty)
          KVBucketPartition(b, layout.numBuckets, comp.toArray,
            comp.map(layout.lenByPath).toArray, layout.logFiles.toArray,
            layout.logFiles.map(layout.lenByPath).toArray)
        }.toArray
      } else if (layout.logFiles.nonEmpty) {
        Array(KVBucketPartition(-1, -1, Array.empty, Array.empty,
          layout.logFiles.toArray,
          layout.logFiles.map(layout.lenByPath).toArray))
      } else Array.empty
    buckets.map(KVCdcPartition(_, from, to): InputPartition)
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val hc = new org.apache.spark.util.SerializableConfiguration(
      org.apache.spark.sql.SparkSession.getActiveSession
        .map(_.sessionState.newHadoopConf()).getOrElse(GraftFs.hadoopConf))
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
        val cp = p.asInstanceOf[KVCdcPartition]
        new KVCdcPartitionReader(cp.inner, cp.fromTs, cp.toTs, hc)
      }
    }
  }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

case class KVCdcPartition(inner: KVBucketPartition, fromTs: Long, toTs: Long)
    extends InputPartition

/** Bucket-local DUAL-cutoff replay: one pass over the bucket's rows
  * (ts ≤ `to` pushed to the parquet layer) maintains the latest-wins +
  * tombstone-mask state at BOTH cutoffs — a row with ts ≤ `from` feeds
  * both, a row in (from, to] feeds only the `to` state — then emits
  * the net per-cell differences. Mirrors KVResolvedPartitionReader's
  * resolve semantics exactly (same value tie-break, same mask rules).
  * The resolve paths — `KVTable.resolve` (one key-clustered window
  * pass), KVResolvedPartitionReader (bucket-local hash state) and
  * `KVTable.changeLog`'s in-memory replay — and this diff MUST agree
  * cell-for-cell; KVModelSpec checks the first two against one model.
  *
  * CPU shape (round-18 rewrite): the scan rides the same vectorized
  * parquet decode as the batch KV source (KVColumnarPartitionReader),
  * family/qualifier strings are interned to small ids once per
  * distinct value, and both cutoffs' winner/tombstone state lives in
  * ONE open-addressing table keyed by (key, cellId) with primitive
  * parallel arrays — no per-row String decode, no tuple/box
  * allocation, no Scala HashMap churn. Values are copied out of the
  * (reused) column vectors only when a row actually wins its cell.
  * The per-row `ts <= to` check is applied here because the columnar
  * compacted leg only prunes row groups, it does not filter rows (the
  * log leg re-checks exactly, as before — harmless double-check). */
class KVCdcPartitionReader(p: KVBucketPartition, fromTs: Long, toTs: Long,
                           hconf: org.apache.spark.util.SerializableConfiguration)
    extends PartitionReader[InternalRow] {

  private def cmpValue(a: UTF8String, b: UTF8String): Int =
    if (a == null && b == null) 0 else if (a == null) -1
    else if (b == null) 1 else a.compareTo(b)

  /** fam/qual → dense id; id 0 is reserved for SQL NULL. Lookup is one
    * content-hash probe on the transient vector slice; the name is
    * cloned to heap only on first sight. */
  private val names = mutable.ArrayBuffer[UTF8String](null)
  private val nameIds = new java.util.HashMap[UTF8String, Integer]()
  private def intern(s: UTF8String): Int =
    if (s == null) 0
    else {
      val got = nameIds.get(s)
      if (got != null) got.intValue()
      else {
        val c = s.clone()
        val id = names.size
        require(id < (1 << 16),
          "graft-cdc: more than 65535 distinct family/qualifier names " +
            "in one bucket — cellId packing would overflow")
        names += c
        nameIds.put(c, Integer.valueOf(id))
        id
      }
    }

  /** Open-addressing map keyed by (long, int) holding per-cut payloads:
    * before/after timestamps (Long.MinValue = absent — a real
    * MinValue-ts winner is indistinguishable, and harmlessly so: the
    * strict `ts > delTs` liveness test can never pass at MinValue) and,
    * for the winner table, before/after values. */
  private final class DualMap(initPow: Int, withVals: Boolean) {
    private[this] var cap = 1 << initPow
    private[this] var mask = cap - 1
    private[this] var n = 0
    var kL = new Array[Long](cap)
    var kI = new Array[Int](cap)
    var used = new Array[Boolean](cap)
    var bTs = new Array[Long](cap)
    var aTs = new Array[Long](cap)
    var bV: Array[UTF8String] = if (withVals) new Array[UTF8String](cap) else null
    var aV: Array[UTF8String] = if (withVals) new Array[UTF8String](cap) else null

    private def idx(k: Long, i: Int): Int = {
      var h = k ^ (i.toLong * 0x9E3779B97F4A7C15L)
      h *= 0xff51afd7ed558ccdL
      h ^= h >>> 33
      var s = h.toInt & mask
      while (used(s) && (kL(s) != k || kI(s) != i)) s = (s + 1) & mask
      s
    }

    /** Slot of (k,i), inserted empty (both cuts absent) if missing. */
    def slot(k: Long, i: Int): Int = {
      var s = idx(k, i)
      if (!used(s)) {
        if ((n + 1) * 4 > cap * 3) { grow(); s = idx(k, i) }
        used(s) = true; kL(s) = k; kI(s) = i
        bTs(s) = Long.MinValue; aTs(s) = Long.MinValue
        n += 1
      }
      s
    }

    /** before/after del-ts of (k,i); MinValue when never seen. */
    def beforeTsOf(k: Long, i: Int): Long =
      { val s = idx(k, i); if (used(s)) bTs(s) else Long.MinValue }
    def afterTsOf(k: Long, i: Int): Long =
      { val s = idx(k, i); if (used(s)) aTs(s) else Long.MinValue }

    def foreachUsed(f: Int => Unit): Unit = {
      var s = 0
      while (s < cap) { if (used(s)) f(s); s += 1 }
    }

    private def grow(): Unit = {
      val oK = kL; val oI = kI; val oU = used
      val oB = bTs; val oA = aTs; val oBV = bV; val oAV = aV
      val oCap = cap
      cap <<= 1; mask = cap - 1
      kL = new Array[Long](cap); kI = new Array[Int](cap)
      used = new Array[Boolean](cap)
      bTs = new Array[Long](cap); aTs = new Array[Long](cap)
      if (withVals) { bV = new Array[UTF8String](cap); aV = new Array[UTF8String](cap) }
      var s = 0
      while (s < oCap) {
        if (oU(s)) {
          val d = idx(oK(s), oI(s))
          used(d) = true; kL(d) = oK(s); kI(d) = oI(s)
          bTs(d) = oB(s); aTs(d) = oA(s)
          if (withVals) { bV(d) = oBV(s); aV(d) = oAV(s) }
        }
        s += 1
      }
    }
  }

  // winner table keyed by (key, cellId = famId<<16 | qualId); tombstone
  // tables keyed by (key, 0) / (key, famId) / (key, cellId) — exactly
  // the row/family/cell mask granularities of the resolve paths
  private val winners = new DualMap(13, withVals = true)
  private val rowDel = new DualMap(10, withVals = false)
  private val famDel = new DualMap(10, withVals = false)
  private val cellDel = new DualMap(10, withVals = false)

  private val TOMB_ROW = UTF8String.fromString("row")
  private val TOMB_FAMILY = UTF8String.fromString("family")
  private val T_INSERT = UTF8String.fromString("insert")
  private val T_UPDATE = UTF8String.fromString("update")
  private val T_DELETE = UTF8String.fromString("delete")

  // same replace rule as the resolve paths: higher ts wins; on equal
  // ts the larger value wins (first-seen kept on full tie)
  private def offer(tsA: Array[Long], vA: Array[UTF8String], s: Int,
                    ts: Long, v: UTF8String): Unit = {
    val ct = tsA(s)
    if (ts > ct || (ts == ct && cmpValue(v, vA(s)) > 0)) {
      tsA(s) = ts
      vA(s) = if (v == null) null else v.clone()
    }
  }

  private def bump(tsA: Array[Long], s: Int, ts: Long): Unit =
    if (ts > tsA(s)) tsA(s) = ts

  private val iter: Iterator[InternalRow] = {
    val raw = new KVColumnarPartitionReader(p, KVBatchTable.CELL_SCHEMA,
      Array(LessThanOrEqual("ts", toTs): Filter), hconf)
    try {
      while (raw.next()) {
        val cb = raw.get()
        val rows = cb.numRows()
        val cKey = cb.column(0); val cFam = cb.column(1)
        val cQual = cb.column(2); val cVal = cb.column(3)
        val cTs = cb.column(4); val cTomb = cb.column(5)
        var r = 0
        while (r < rows) {
          // null-ts rows never pass the old pushed `ts <= to` filter —
          // keep dropping them
          if (!cTs.isNullAt(r)) {
            val ts = cTs.getLong(r)
            if (ts <= toTs) {
              val key = if (cKey.isNullAt(r)) Long.MinValue else cKey.getLong(r)
              val famId = intern(if (cFam.isNullAt(r)) null else cFam.getUTF8String(r))
              val both = ts <= fromTs
              if (cTomb.isNullAt(r)) {
                val qualId = intern(if (cQual.isNullAt(r)) null else cQual.getUTF8String(r))
                val cellId = (famId << 16) | qualId
                val v = if (cVal.isNullAt(r)) null else cVal.getUTF8String(r)
                val s = winners.slot(key, cellId)
                offer(winners.aTs, winners.aV, s, ts, v)
                if (both) offer(winners.bTs, winners.bV, s, ts, v)
              } else {
                val tomb = cTomb.getUTF8String(r)
                val (m, sub) =
                  if (tomb.equals(TOMB_ROW)) (rowDel, 0)
                  else if (tomb.equals(TOMB_FAMILY)) (famDel, famId)
                  else {
                    val qualId = intern(if (cQual.isNullAt(r)) null else cQual.getUTF8String(r))
                    (cellDel, (famId << 16) | qualId)
                  }
                val s = m.slot(key, sub)
                bump(m.aTs, s, ts)
                if (both) bump(m.bTs, s, ts)
              }
            }
          }
          r += 1
        }
      }
    } finally raw.close()
    // every cell either cut could consider live has a winner slot (the
    // before feed is a subset of the after feed), so one sweep over the
    // winner table covers the union the old per-cut live-set scan built
    val out = mutable.ArrayBuffer.empty[InternalRow]
    winners.foreachUsed { s =>
      val key = winners.kL(s); val cellId = winners.kI(s)
      val famId = cellId >>> 16
      val bDel = math.max(rowDel.beforeTsOf(key, 0),
        math.max(famDel.beforeTsOf(key, famId), cellDel.beforeTsOf(key, cellId)))
      val aDel = math.max(rowDel.afterTsOf(key, 0),
        math.max(famDel.afterTsOf(key, famId), cellDel.afterTsOf(key, cellId)))
      val bt = winners.bTs(s); val at = winners.aTs(s)
      val bLive = bt > bDel
      val aLive = at > aDel
      if ((bLive || aLive) &&
          !(bLive && aLive && bt == at &&
            cmpValue(winners.bV(s), winners.aV(s)) == 0)) {
        val tpe = if (!bLive) T_INSERT else if (!aLive) T_DELETE else T_UPDATE
        val kv: Any =
          if (key == Long.MinValue) null else java.lang.Long.valueOf(key)
        out += new GenericInternalRow(Array[Any](
          kv, names(famId), names(cellId & 0xffff), tpe,
          if (bLive) winners.bV(s) else null,
          if (aLive) winners.aV(s) else null,
          if (bLive) java.lang.Long.valueOf(bt) else null,
          if (aLive) java.lang.Long.valueOf(at) else null))
      }
    }
    out.iterator
  }

  private var row: InternalRow = _
  override def next(): Boolean =
    if (iter.hasNext) { row = iter.next(); true } else false
  override def get(): InternalRow = row
  override def close(): Unit = ()
}
