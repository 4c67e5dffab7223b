package graft.sources.kv

import java.util.OptionalLong

import scala.collection.JavaConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.api.ReadSupport
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, Transform}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.{LongType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSourceV2 table over a graft KV layout — the engine's counterpart
  * of the reference's scan machinery (`HBaseRDD.scala:18-91`: one
  * partition per region, pushdown filter stack composed into the
  * server-side scan; `HBaseRDDFunctions.scala:54-70`: co-partitioned
  * reads advertised through the RDD's partitioner).
  *
  * The structural property this source exists for: the compacted
  * (bucketed) state and the append log are merged INSIDE each input
  * partition — partition i reads bucket i's compacted file(s) plus the
  * log rows whose key hashes to bucket i — and the scan reports
  * `KeyGroupedPartitioning(bucket(n, key))`. So the log+compacted union
  * arrives already clustered by key, and the latest-wins resolve
  * window, key groupBys, and key joins (storage-partitioned joins
  * against another KV table with the same bucket count) all plan with
  * ZERO shuffle Exchange — even when the log is non-empty, the case a
  * DataFrame-level union cannot express without re-shuffling the whole
  * table. At 100 TB the compacted side never moves; only the
  * memstore-sized log is re-read per bucket (classic LSM read
  * amplification, bounded by compaction cadence).
  *
  * Pushdown: key/family/qualifier/ts predicates are evaluated inside
  * the reader (and key equality/In prunes whole buckets, the analogue
  * of the reference's multi-get partition pruning,
  * `HBaseRDDFunctions.scala:103-113`); runtime (DPP-style) In-filters
  * on the key prune buckets at execution time. Columns are pruned down
  * to the parquet page reads via the requested projection.
  */
/** @param tsMax time-travel cutoff (SQL `VERSION AS OF v`): the scan
  *   only returns cells with `ts <= v` — the reference's timestamped
  *   read (`Scan.setTimeRange(0, v+1)`, HBaseRDDFunctions.scala:39-46).
  *   The cutoff joins the pushed-filter set, so it prunes parquet row
  *   groups like any other ts predicate. */
class KVBatchTable(path: String, tsMax: Option[Long] = None)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {

  /** `_cell` — the non-null row-identity struct the row-level delta
    * rewrite uses as rowId (see [[KVCellIdColumn]]) — and `_bucket` —
    * the group identity the CoW rewrite's runtime group filter keys on
    * (see [[KVBucketColumn]]); both available to any scan (the
    * row-wise readers synthesize them from the cell columns and the
    * partition's bucket id). */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(KVCellIdColumn, KVBucketColumn)
  override def name(): String =
    s"graft-kv `$path`" + tsMax.fold("")(v => s" @v<=$v")
  override def schema(): StructType = KVBatchTable.CELL_SCHEMA
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE)

  /** SQL INSERT appends to the KV log — see [[KVLogWrite]]. A
    * time-travel handle stays read-only: writing "as of v" has no
    * defined semantics here. */
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    require(tsMax.isEmpty, "cannot write to a VERSION AS OF read handle")
    new KVWriteBuilder(path, info)
  }

  /** SQL MERGE INTO / UPDATE / DELETE — delta-based (merge-on-read)
    * row-level ops by default ([[KVRowLevelOperation]]); the session
    * picks the group-based copy-on-write strategy with
    * `SET spark.graft.kv.rowlevel=cow` ([[KVCowOperation]]) — the
    * write-optimized vs read-optimized pair, per operation. `auto`
    * defers to the engine's measured selection
    * ([[graft.write.KVTable.withAutoRowLevel]] sets the concrete
    * strategy for the command's scope from the source's touched-bucket
    * fraction); a bare SQL command under `auto` — no source in reach
    * here, RowLevelOperationInfo carries none — takes the
    * write-optimized delta default. */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    require(tsMax.isEmpty, "cannot mutate a VERSION AS OF read handle")
    val mode = org.apache.spark.sql.SparkSession.active.conf
      .get("spark.graft.kv.rowlevel", "delta")
    mode match {
      case "cow"            => new KVCowBuilder(path, info)
      case "delta" | "auto" => new KVRowLevelBuilder(path, info)
      case other => throw new IllegalArgumentException(
        s"spark.graft.kv.rowlevel must be 'delta', 'cow' or 'auto', " +
          s"got '$other'")
    }
  }

  override def partitioning(): Array[Transform] = {
    val layout = KVLayout(path)
    if (layout.bucketed) Array(Expressions.bucket(layout.numBuckets, "key"))
    else Array.empty
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new KVScanBuilder(path, tsMax)
}

object KVBatchTable {
  val CELL_SCHEMA: StructType = StructType.fromDDL(
    graft.write.KVTable.CELL_SCHEMA_DDL)
}

class KVScanBuilder(path: String, tsMax: Option[Long] = None)
    extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns {
  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = KVBatchTable.CELL_SCHEMA

  /** Accept every filter we can evaluate row-wise for IO reduction, but
    * return ALL filters as residual: Spark re-checks them above the
    * scan, so null/collation corner semantics stay Spark's. This is the
    * reference's model too — filters run server-side AND the client
    * trusts the scan contract (HBaseRDDFiltered.scala:8-15). */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(KVFilterEval.supported)
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = new KVScan(path, KVLayout(path), required,
    pushed, tsMax)
}

/** @param tsMax kept SEPARATE from `pushed`: Spark re-checks pushed
  *   filters above the scan (they are all returned as residual), but
  *   the time-travel cutoff is scan-internal — nothing re-applies it —
  *   so the reader must enforce it row-exactly, which pins those scans
  *   to the row-wise reader (see [[KVReaderFactory]]). */
class KVScan(path: String, layout: KVLayout, required: StructType,
             sparkPushed: Array[Filter], tsMax: Option[Long] = None)
    extends Scan with Batch
    with SupportsReportPartitioning with SupportsReportStatistics
    with SupportsRuntimeFiltering {

  val pushed: Array[Filter] =
    sparkPushed ++ tsMax.map(v => LessThanOrEqual("ts", v): Filter)

  @volatile private var runtimeBuckets: Option[Set[Int]] = None

  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  override def description(): String =
    s"graft-kv path=$path buckets=${layout.numBuckets} " +
      s"PushedFilters: [${pushed.mkString(", ")}], " +
      s"ReadSchema: ${required.catalogString}"

  override def outputPartitioning(): Partitioning =
    if (layout.bucketed)
      new KeyGroupedPartitioning(
        Array(Expressions.bucket(layout.numBuckets, "key")), layout.numBuckets)
    else new UnknownPartitioning(0)

  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): OptionalLong = OptionalLong.of(layout.totalBytes)
    override def numRows(): OptionalLong = OptionalLong.empty()
  }

  // DPP-style lookup: an In(key, ...) produced by a runtime filter
  // prunes to just the buckets holding those keys — the multi-get path.
  override def filterAttributes(): Array[NamedReference] =
    if (layout.bucketed) Array(Expressions.column("key")) else Array.empty
  override def filter(filters: Array[Filter]): Unit =
    runtimeBuckets = KVFilterEval.keyBuckets(filters, layout.numBuckets)

  /** Buckets statically reachable given the pushed key predicates. */
  private def staticBuckets: Option[Set[Int]] =
    KVFilterEval.keyBuckets(pushed, layout.numBuckets)

  override def planInputPartitions(): Array[InputPartition] = {
    if (layout.bucketed) {
      val allowed = (staticBuckets, runtimeBuckets) match {
        case (Some(a), Some(b)) => a intersect b
        case (Some(a), None) => a
        case (None, Some(b)) => b
        case _ => (0 until layout.numBuckets).toSet
      }
      (0 until layout.numBuckets).filter(allowed)
        .map { b =>
          val comp = layout.compactedByBucket.getOrElse(b, Seq.empty)
          KVBucketPartition(b, layout.numBuckets, comp.toArray,
            comp.map(layout.lenByPath).toArray,
            layout.logFiles.toArray,
            layout.logFiles.map(layout.lenByPath).toArray): InputPartition
        }
        .toArray
    } else {
      // log-only: one partition per file — appends are memstore-sized
      layout.logFiles
        .map(f => KVBucketPartition(-1, -1, Array.empty, Array.empty,
          Array(f), Array(layout.lenByPath(f))): InputPartition)
        .toArray
    }
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // evaluated driver-side; `graft.kv.vectorized=false` restores the
    // row-wise reader for this batch scan (debug / differential-testing
    // escape hatch). Time-travel scans are row-wise regardless (see ctor
    // doc). The graft-cdc stream reader ignores the flag: it always
    // decodes through KVColumnarPartitionReader (KVCdc.scala).
    val session = org.apache.spark.sql.SparkSession.getActiveSession
    val vectorized =
      session.forall(_.conf.get("graft.kv.vectorized", "true").toBoolean) &&
        !required.fieldNames.contains(KVCellIdColumn.NAME) &&
        !required.fieldNames.contains(KVBucketColumn.NAME)
    // snapshot the DRIVER's Hadoop conf for the executor-side parquet
    // opens — a bare `new Configuration(false)` would strip the
    // cluster's filesystem settings (HDFS auth, buffer sizes, S3
    // credentials providers) from every read task
    val hconf = new org.apache.spark.util.SerializableConfiguration(
      session.map(_.sessionState.newHadoopConf())
        .getOrElse(GraftFs.hadoopConf))
    new KVReaderFactory(required, pushed, vectorized && tsMax.isEmpty, hconf)
  }
}

/** One scan task: bucket `bucket`'s compacted files + the log rows
  * hashing to it (all log files are opened, rows filtered by bucket —
  * the log is small by compaction contract). `partitionKey` is the
  * bucket id, which is exactly the value of `bucket(n, key)` for every
  * row the task emits — the contract KeyGroupedPartitioning needs. */
case class KVBucketPartition(bucket: Int, numBuckets: Int,
                             compactedFiles: Array[String],
                             compactedLens: Array[Long],
                             logFiles: Array[String],
                             logLens: Array[Long] = Array.empty)
    extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow = InternalRow(bucket)
}

/** Vectorized by default: the compacted leg decodes through Spark's own
  * VectorizedParquetRecordReader (the same columnar decode the V1
  * bucketed scan gets) and the memstore-sized log leg is packed into
  * on-heap column vectors — so a merged read is no longer paying a
  * row-wise parquet-mr decode for the bulk of the table. Correctness
  * contract: every Spark-pushed filter is also re-applied ABOVE the
  * scan (KVScanBuilder returns them all as residual), so the columnar
  * leg may skip row-level filter evaluation; only the bucket gate on
  * log rows (a partition-integrity property, not a filter) must be —
  * and is — enforced inside the reader. */
class KVReaderFactory(required: StructType, filters: Array[Filter],
                      vectorized: Boolean,
                      hconf: org.apache.spark.util.SerializableConfiguration)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[KVBucketPartition]
    new KVPartitionReader(p, required, filters, hconf)
  }

  override def supportColumnarReads(partition: InputPartition): Boolean =
    vectorized

  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val p = partition.asInstanceOf[KVBucketPartition]
    new KVColumnarPartitionReader(p, required, filters, hconf)
  }
}

/** Row-wise parquet reader (parquet-mr Group API). Columns are pruned
  * at the parquet layer via the requested projection; pushed filters
  * are applied per row; log rows are additionally gated on their bucket
  * hash so the partition's output is exactly bucket-local. */
class KVPartitionReader(p: KVBucketPartition, required: StructType,
                        filters: Array[Filter],
                        hconf: org.apache.spark.util.SerializableConfiguration)
    extends PartitionReader[InternalRow] {

  // columns to decode = required ∪ filter references ∪ key (for the
  // bucket gate on log rows) ∪ the `_cell` struct's parts when the
  // metadata column is requested; output = required only, in order
  // (`_cell` synthesized from the parts, `_bucket` from the
  // partition's bucket id, at emit).
  private val filterCols = filters.flatMap(_.references).distinct
  private val needKey = p.numBuckets > 0 && p.logFiles.nonEmpty
  private val cellParts = Array("key", "family", "qualifier", "ts")
  private val metaCols = Set(KVCellIdColumn.NAME, KVBucketColumn.NAME)
  private val wantsCell = required.fieldNames.contains(KVCellIdColumn.NAME)
  private val readCols: Array[String] =
    (required.fieldNames.filterNot(metaCols) ++
      (if (wantsCell) cellParts else Array.empty[String]) ++
      filterCols ++ (if (needKey) Seq("key") else Nil))
      .distinct
  private val colIdx: Map[String, Int] = readCols.zipWithIndex.toMap
  private val readColSet: Set[String] = readCols.toSet
  // -1 marks the `_cell` slot (a struct of the parts), -2 the
  // `_bucket` slot (the partition's bucket id — every row this task
  // emits is bucket-gated to it; -1 on an unbucketed layout)
  private val outIdx: Array[Int] = required.fieldNames.map {
    case KVCellIdColumn.NAME => -1
    case KVBucketColumn.NAME => -2
    case n => colIdx(n)
  }
  private val bucketVal: java.lang.Integer =
    java.lang.Integer.valueOf(if (p.numBuckets > 0) p.bucket else -1)
  private val cellPartIdx: Array[Int] =
    if (wantsCell) cellParts.map(colIdx) else Array.empty
  private val keyIdx: Int = colIdx.getOrElse("key", -1)

  // row-group / dictionary pruning at the parquet layer (min/max
  // statistics) — evaluated once, applied to every file this task opens
  private val parquetFilter = KVParquetFilters.build(filters)

  private var fileIdx = 0
  private var inLog = false
  private var reader: ParquetReader[Group] = _
  private var row: InternalRow = _
  // per-file projection bookkeeping (field order follows the FILE's
  // schema, and repetition must match it — Spark writes non-nullable
  // columns as `required`, so the projection is carved out of the
  // file's own footer schema rather than synthesized)
  private var projToVals: Array[Int] = _
  private var projIsLong: Array[Boolean] = _

  private val files: Array[(String, Boolean)] =
    p.compactedFiles.map(f => (f, false)) ++ p.logFiles.map(f => (f, true))

  private def openNext(): Boolean = {
    if (reader != null) { reader.close(); reader = null }
    if (fileIdx >= files.length) return false
    val (f, isLog) = files(fileIdx)
    fileIdx += 1
    inLog = isLog
    // copy: PARQUET_READ_SCHEMA is per-file state, the snapshot is shared
    val conf = new Configuration(hconf.value)
    val hpath = new HPath(f)
    val pf = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(hpath, conf))
    val fileSchema = try pf.getFooter.getFileMetaData.getSchema finally pf.close()
    val projFields = fileSchema.getFields.asScala.filter(t => readColSet(t.getName))
    val projection = new org.apache.parquet.schema.MessageType(
      "graft_cells", projFields.asJava)
    projToVals = projFields.map(t => colIdx(t.getName)).toArray
    projIsLong = projFields.map(t =>
      t.getName == "key" || t.getName == "ts").toArray
    conf.set(ReadSupport.PARQUET_READ_SCHEMA, projection.toString)
    val builder = ParquetReader.builder[Group](new GroupReadSupport(), hpath)
      .withConf(conf)
    reader = parquetFilter.fold(builder)(builder.withFilter).build()
    true
  }

  override def next(): Boolean = {
    while (true) {
      if (reader == null && !openNext()) return false
      val g = reader.read()
      if (g == null) {
        reader.close(); reader = null
      } else {
        val vals = new Array[Any](readCols.length)
        var i = 0
        while (i < projToVals.length) {
          vals(projToVals(i)) =
            if (g.getFieldRepetitionCount(i) == 0) null
            else if (projIsLong(i)) java.lang.Long.valueOf(g.getLong(i, 0))
            else UTF8String.fromBytes(g.getBinary(i, 0).getBytes)
          i += 1
        }
        val bucketOk = !inLog || p.numBuckets <= 0 ||
          GraftBucket.of(
            if (keyIdx >= 0) vals(keyIdx) else null, p.numBuckets) == p.bucket
        if (bucketOk && filters.forall(KVFilterEval.eval(_, colIdx, vals))) {
          val out = new Array[Any](outIdx.length)
          var j = 0
          while (j < outIdx.length) {
            out(j) =
              if (outIdx(j) >= 0) vals(outIdx(j))
              else if (outIdx(j) == -2) bucketVal
              else new GenericInternalRow(cellPartIdx.map(vals(_)))
            j += 1
          }
          row = new GenericInternalRow(out)
          return true
        }
      }
    }
    false
  }

  override def get(): InternalRow = row
  override def close(): Unit = if (reader != null) reader.close()
}

/** Columnar scan task. The compacted files — the whole table, at scale —
  * stream through Spark's VectorizedParquetRecordReader (batch decode,
  * dictionary-aware, row groups pruned by the same FilterPredicates the
  * row-wise reader uses). The log files (round 18) ALSO stream through
  * the vectorized decode: each decoded batch is bucket-gated per row
  * (the one check the reader must own — a partition-integrity property)
  * and the surviving rows are packed into on-heap column vectors; the
  * pushed filters are NOT re-evaluated row-exactly on this leg because
  * Spark re-applies every one of them above the scan (KVScanBuilder
  * returns them all as residual) and the row-group FilterPredicate
  * still prunes at the parquet layer. Before round 18 the log leg rode
  * the row-wise parquet-mr Group decode — one Group allocation plus
  * per-field boxing per row, per BUCKET (every bucket task re-reads
  * the whole log) — which made the memstore-sized log the CPU
  * bottleneck of every merged read with a hot log (the CDC replays,
  * the mutation scripts). Falls back to the row-wise leg when the
  * planning-time log lengths were not provided (older partition
  * encodings). Output order (compacted then log) is irrelevant: every
  * consumer of this scan resolves or aggregates per key. */
class KVColumnarPartitionReader(p: KVBucketPartition, required: StructType,
                                filters: Array[Filter],
                                hconf: org.apache.spark.util.SerializableConfiguration)
    extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
  import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport, VectorizedParquetRecordReader}
  import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
  import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
  import org.apache.spark.sql.types.StructField

  private val CAP = 4096
  private val rowGroupPredicate = KVParquetFilters.predicate(filters)

  private var compIdx = 0
  private var vec: VectorizedParquetRecordReader = _
  private var batch: ColumnarBatch = _

  private val vectorizedLog = p.logLens.length == p.logFiles.length
  private val needGate = p.numBuckets > 0
  // the bucket gate needs `key`; append it to the log leg's read schema
  // when the projection pruned it, and project it back out when packing
  private val logSchema: StructType =
    if (!vectorizedLog || !needGate || required.fieldNames.contains("key"))
      required
    else StructType(required.fields :+ StructField("key", LongType))
  private val logKeyIdx: Int = logSchema.fieldNames.indexOf("key")
  private var logIdx = 0
  private var logVec: VectorizedParquetRecordReader = _

  // fallback log leg: the row-wise reader over ONLY the log files — it
  // applies the bucket gate and the pushed filters row-exactly
  private var logRows: KVPartitionReader =
    if (p.logFiles.isEmpty || vectorizedLog) null
    else new KVPartitionReader(
      KVBucketPartition(p.bucket, p.numBuckets, Array.empty, Array.empty,
        p.logFiles),
      required, filters, hconf)

  private def openVectorized(f: String, fLen: Long,
                             schema: StructType): VectorizedParquetRecordReader = {
    // split length from the planning-time listing: these are qualified
    // URIs (file:/..., hdfs://...) that java.io.File would stat as 0,
    // and a zero-length split selects no row groups
    val conf = new Configuration(hconf.value)
    conf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, schema.json)
    conf.set(org.apache.parquet.hadoop.ParquetInputFormat.READ_SUPPORT_CLASS,
      classOf[ParquetReadSupport].getName)
    // Spark's schema converter reads these from the Hadoop conf with no
    // fallback (the file-format path copies them from the session);
    // values = Spark's defaults, fixed here because the cell schema has
    // no binary/int96/timestamp columns for them to matter to
    conf.setBoolean("spark.sql.parquet.binaryAsString", false)
    conf.setBoolean("spark.sql.parquet.int96AsTimestamp", true)
    conf.setBoolean("spark.sql.caseSensitive", false)
    conf.setBoolean("spark.sql.parquet.inferTimestampNTZ.enabled", true)
    conf.setBoolean("spark.sql.legacy.parquet.nanosAsLong", false)
    conf.setBoolean("spark.sql.parquet.fieldId.read.enabled", false)
    conf.setBoolean("spark.sql.parquet.fieldId.read.ignoreMissing", false)
    rowGroupPredicate.foreach(
      org.apache.parquet.hadoop.ParquetInputFormat.setFilterPredicate(conf, _))
    // the mapred variant: Spark's reader base casts the split to it
    val split = new org.apache.hadoop.mapred.FileSplit(
      new HPath(f), 0, fLen, Array.empty[String])
    val ctx = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
      conf, new org.apache.hadoop.mapreduce.TaskAttemptID(
        "graft", 0, org.apache.hadoop.mapreduce.TaskType.MAP, 0, 0))
    val r = new VectorizedParquetRecordReader(false, CAP)
    try {
      r.initialize(split, ctx)
      r.initBatch(new StructType(), InternalRow.empty)
      r.enableReturningBatches()
    } catch { case e: Throwable => r.close(); throw e }
    r
  }

  private def openNextCompacted(): Boolean = {
    if (compIdx >= p.compactedFiles.length) return false
    val f = p.compactedFiles(compIdx)
    val fLen = p.compactedLens(compIdx)
    compIdx += 1
    vec = openVectorized(f, fLen, required)
    true
  }

  override def next(): Boolean = {
    while (true) {
      if (vec == null && !openNextCompacted())
        return if (vectorizedLog) nextLogBatchVectorized() else nextLogBatch()
      if (vec.nextKeyValue()) {
        batch = vec.getCurrentValue.asInstanceOf[ColumnarBatch]
        return true
      }
      vec.close(); vec = null
    }
    false
  }

  /** Vectorized log leg: decode each log file through the same batch
    * reader, bucket-gate rows on the (possibly appended) key column,
    * pack survivors into fresh vectors projected back to `required`. */
  private def nextLogBatchVectorized(): Boolean = {
    while (true) {
      if (logVec == null) {
        if (logIdx >= p.logFiles.length) return false
        logVec = openVectorized(p.logFiles(logIdx), p.logLens(logIdx), logSchema)
        logIdx += 1
      }
      if (!logVec.nextKeyValue()) { logVec.close(); logVec = null }
      else {
        val src = logVec.getCurrentValue.asInstanceOf[ColumnarBatch]
        // ungated leg (log-only layout, numBuckets <= 0): logSchema ==
        // required, nothing to filter — hand the decoded batch straight
        // through like the compacted leg does, no repack
        if (!needGate) { batch = src; return true }
        val n = src.numRows()
        val kCol = src.column(logKeyIdx)
        val out = OnHeapColumnVector.allocateColumns(n.max(1), required)
        var m = 0
        var r = 0
        while (r < n) {
          val kv: Any =
            if (kCol.isNullAt(r)) null
            else java.lang.Long.valueOf(kCol.getLong(r))
          if (GraftBucket.of(kv, p.numBuckets) == p.bucket) {
            var i = 0
            while (i < required.length) {
              val sc = src.column(i) // required cols lead logSchema
              if (sc.isNullAt(r)) out(i).putNull(m)
              else required.fields(i).dataType match {
                case LongType => out(i).putLong(m, sc.getLong(r))
                case _ =>
                  val b = sc.getUTF8String(r).getBytes
                  out(i).putByteArray(m, b, 0, b.length)
              }
              i += 1
            }
            m += 1
          }
          r += 1
        }
        if (m == 0) out.foreach(_.close())
        else {
          batch = new ColumnarBatch(out.map(v => v: ColumnVector).toArray, m)
          return true
        }
      }
    }
    false
  }

  private def nextLogBatch(): Boolean = {
    if (logRows == null) return false
    val vectors = OnHeapColumnVector.allocateColumns(CAP, required)
    var n = 0
    while (n < CAP && logRows.next()) {
      val r = logRows.get()
      var i = 0
      while (i < required.length) {
        if (r.isNullAt(i)) vectors(i).putNull(n)
        else required.fields(i).dataType match {
          case LongType => vectors(i).putLong(n, r.getLong(i))
          case _ =>
            val b = r.getUTF8String(i).getBytes
            vectors(i).putByteArray(n, b, 0, b.length)
        }
        i += 1
      }
      n += 1
    }
    if (n < CAP) { logRows.close(); logRows = null }
    if (n == 0) { vectors.foreach(_.close()); return false }
    batch = new ColumnarBatch(
      vectors.map(v => v: ColumnVector).toArray, n)
    true
  }

  override def get(): ColumnarBatch = batch
  override def close(): Unit = {
    if (vec != null) vec.close()
    if (logVec != null) logVec.close()
    if (logRows != null) logRows.close()
  }
}

/** Spark `Filter` → parquet-mr `FilterPredicate` translation, so the
  * reader skips whole row groups on column min/max statistics (and
  * dictionary pages) before decoding anything — the engine-side
  * analogue of the reference's server-side scan properties
  * (`setTimeRange`, key-bounded scans; HBaseRDDFunctions.scala:39-46).
  * With key-sorted compacted files a key-range predicate prunes most
  * row groups; a ts-range predicate prunes old groups in append-ordered
  * logs. Translation is all-or-nothing per filter tree (a partially
  * translated Or/Not would be wrong); untranslatable conjuncts are
  * simply dropped — the reader and Spark both re-check. */
object KVParquetFilters {
  import org.apache.parquet.filter2.compat.FilterCompat
  import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
  import org.apache.parquet.io.api.Binary

  private def isLong(attr: String) = attr == "key" || attr == "ts"
  private def num(v: Any): Option[java.lang.Long] = v match {
    case n: java.lang.Number => Some(java.lang.Long.valueOf(n.longValue()))
    case _ => None
  }
  private val NullLong = null.asInstanceOf[java.lang.Long]
  private val NullBin = null.asInstanceOf[Binary]

  def translate(f: Filter): Option[FilterPredicate] = f match {
    case And(l, r) =>
      for { a <- translate(l); b <- translate(r) } yield FilterApi.and(a, b)
    case Or(l, r) =>
      for { a <- translate(l); b <- translate(r) } yield FilterApi.or(a, b)
    case Not(c) => translate(c).map(FilterApi.not)
    case EqualTo(a, v) if isLong(a) =>
      num(v).map(FilterApi.eq(FilterApi.longColumn(a), _))
    case EqualTo(a, v: String) =>
      Some(FilterApi.eq(FilterApi.binaryColumn(a), Binary.fromString(v)))
    case GreaterThan(a, v) if isLong(a) =>
      num(v).map(FilterApi.gt(FilterApi.longColumn(a), _))
    case GreaterThanOrEqual(a, v) if isLong(a) =>
      num(v).map(FilterApi.gtEq(FilterApi.longColumn(a), _))
    case LessThan(a, v) if isLong(a) =>
      num(v).map(FilterApi.lt(FilterApi.longColumn(a), _))
    case LessThanOrEqual(a, v) if isLong(a) =>
      num(v).map(FilterApi.ltEq(FilterApi.longColumn(a), _))
    case In(a, vs) if isLong(a) && vs.nonEmpty && vs.length <= 64 =>
      val eqs = vs.flatMap(num).map(l =>
        FilterApi.eq(FilterApi.longColumn(a), l): FilterPredicate)
      if (eqs.length == vs.length) eqs.reduceOption(FilterApi.or(_, _)) else None
    case IsNull(a) =>
      Some(if (isLong(a)) FilterApi.eq(FilterApi.longColumn(a), NullLong)
           else FilterApi.eq(FilterApi.binaryColumn(a), NullBin))
    case IsNotNull(a) =>
      Some(if (isLong(a)) FilterApi.notEq(FilterApi.longColumn(a), NullLong)
           else FilterApi.notEq(FilterApi.binaryColumn(a), NullBin))
    case _ => None
  }

  /** Conjunction of every translatable filter — the row-group pruning
    * predicate shared by the row-wise and vectorized readers. */
  def predicate(filters: Array[Filter]): Option[FilterPredicate] =
    filters.flatMap(translate(_)).reduceOption(FilterApi.and(_, _))

  def build(filters: Array[Filter]): Option[FilterCompat.Filter] =
    predicate(filters).map(FilterCompat.get)
}

/** Row-wise evaluation of Spark V1 `Filter`s over decoded cell values.
  * Unsupported shapes evaluate to `true` (the row passes) — safe
  * because every filter is also re-applied by Spark above the scan. */
object KVFilterEval {
  def supported(f: Filter): Boolean = f match {
    case And(l, r) => supported(l) && supported(r)
    case Or(l, r) => supported(l) && supported(r)
    case Not(c) => supported(c)
    case _: EqualTo | _: GreaterThan | _: GreaterThanOrEqual |
         _: LessThan | _: LessThanOrEqual | _: In |
         _: IsNull | _: IsNotNull | _: StringStartsWith |
         _: StringEndsWith | _: StringContains => true
    case _ => false
  }

  private def cmp(v: Any, lit: Any): Option[Int] = (v, lit) match {
    case (null, _) | (_, null) => None
    case (a: java.lang.Long, b: java.lang.Number) =>
      Some(java.lang.Long.compare(a, b.longValue()))
    case (a: UTF8String, b: String) => Some(a.toString.compareTo(b))
    case (a: UTF8String, b: UTF8String) => Some(a.compareTo(b))
    case _ => None
  }

  def eval(f: Filter, idx: Map[String, Int], vals: Array[Any]): Boolean = {
    def v(attr: String): Any = idx.get(attr).map(vals(_)).orNull
    f match {
      case And(l, r) => eval(l, idx, vals) && eval(r, idx, vals)
      case Or(l, r) => eval(l, idx, vals) || eval(r, idx, vals)
      case Not(c) => !eval(c, idx, vals)
      case EqualTo(a, lit) => cmp(v(a), lit).contains(0)
      case GreaterThan(a, lit) => cmp(v(a), lit).exists(_ > 0)
      case GreaterThanOrEqual(a, lit) => cmp(v(a), lit).exists(_ >= 0)
      case LessThan(a, lit) => cmp(v(a), lit).exists(_ < 0)
      case LessThanOrEqual(a, lit) => cmp(v(a), lit).exists(_ <= 0)
      case In(a, vsL) => vsL.exists(l => cmp(v(a), l).contains(0))
      case IsNull(a) => v(a) == null
      case IsNotNull(a) => v(a) != null
      case StringStartsWith(a, s) => v(a) match {
        case u: UTF8String => u.toString.startsWith(s); case _ => false }
      case StringEndsWith(a, s) => v(a) match {
        case u: UTF8String => u.toString.endsWith(s); case _ => false }
      case StringContains(a, s) => v(a) match {
        case u: UTF8String => u.toString.contains(s); case _ => false }
      case _ => true
    }
  }

  /** Bucket ids reachable under the (conjunctive) filters' key
    * equality/In predicates; None = all buckets. */
  def keyBuckets(filters: Array[Filter], numBuckets: Int): Option[Set[Int]] = {
    if (numBuckets <= 0) return None
    def longOf(a: Any): Option[Long] = a match {
      case n: java.lang.Number => Some(n.longValue()); case _ => None
    }
    val sets = filters.collect {
      case EqualTo("key", lit) =>
        longOf(lit).map(l => Set(GraftBucket.of(l, numBuckets)))
          .getOrElse((0 until numBuckets).toSet)
      case In("key", vs) =>
        vs.flatMap(longOf).map(GraftBucket.of(_, numBuckets)).toSet
    }
    if (sets.isEmpty) None else Some(sets.reduce(_ intersect _))
  }
}
