package graft.sources.v2

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, SortDirection, SortOrder => V2SortOrder}
import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, CountStar, Max, Min}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownLimit, SupportsPushDownRequiredColumns, SupportsPushDownTopN, SupportsReportOrdering, SupportsReportStatistics}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import java.io.RandomAccessFile
import java.nio.{ByteBuffer, ByteOrder}
import java.util

/** A full DataSource V2 connector for `graftrec` — a minimal clustered
  * table format, and the engine's custom-connector surface (every
  * other source rides a built-in format; the xlsx reader is a
  * driver-side dim parse). A table is a DIRECTORY of fixed-width
  * binary files, each sorted by `id` with (rowCount, minId, maxId) in
  * its header. The connector demonstrates the contracts a 100 TB
  * source must honour, each pinned by RecSourceSpec:
  *
  *  - **column pruning** (`SupportsPushDownRequiredColumns`): readers
  *    decode only requested fields from each 24-byte record;
  *  - **filter pushdown** (`SupportsPushDownFilters`): an id range
  *    first prunes whole FILES on their header [min, max] (the
  *    zone-map move), then BINARY-SEARCHES the in-file start offset on
  *    the sorted fixed-width records — O(log n) probes, then one
  *    contiguous read of exactly the matching slice;
  *  - **split planning**: each surviving file slice splits into up to
  *    [[RecSource.TargetSplits]] independent row ranges;
  *  - **write commit protocol** (`SupportsWrite`): each task sorts its
  *    partition by id and writes a STAGED file; the driver's
  *    `BatchWrite.commit` renames all staged files into the table
  *    directory only after every task reported success, `abort`
  *    deletes them — the two-phase visibility rule distributed writers
  *    live by.
  */
class RecSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    RecSource.Schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new RecTable(properties.get("path"))

  override def supportsExternalMetadata(): Boolean = false
}

object RecSource {
  val Schema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("value", LongType, nullable = false),
    StructField("tag", StringType, nullable = false)))

  val Magic = "GRAFTRC3"
  /** magic(8) + n(8) + minId(8) + maxId(8) + tag bloom (1 KiB). */
  val BloomBytes = 1024
  val BloomHashes = 3
  val HeaderBytes = 32 + BloomBytes
  val RecordBytes = 24
  val TargetSplits = 8

  /** FNV-1a over the tag bytes, salted per hash function. */
  private[v2] def bloomBit(tag: String, salt: Int): Int = {
    var h = 0x811c9dc5 ^ salt
    val b = tag.getBytes("US-ASCII")
    var i = 0
    while (i < b.length) { h ^= b(i) & 0xff; h *= 0x01000193; i += 1 }
    (h & 0x7fffffff) % (BloomBytes * 8)
  }

  private[v2] def bloomMightContain(bloom: Array[Byte], tag: String)
      : Boolean =
    (0 until BloomHashes).forall { s =>
      val bit = bloomBit(tag, s)
      (bloom(bit >> 3) & (1 << (bit & 7))) != 0
    }

  /** Deterministic value/tag derivation the fixture writer uses —
    * shared with the oracle, which replays it arithmetically.
    */
  def valueOf(id: Long): Long = (id * 48271L) % 999983L
  def tagOf(id: Long): String = f"t${id % 100}%03d"

  /** Write one sorted file of (id, value, tag) rows. */
  def writeFile(path: String, rows: Iterator[(Long, Long, String)]): Long = {
    val f = new java.io.File(path)
    Option(f.getParentFile).foreach(_.mkdirs())
    val sorted = rows.toArray.sortBy(_._1)
    val out = new java.io.BufferedOutputStream(
      new java.io.FileOutputStream(f), 1 << 16)
    val header = ByteBuffer.allocate(HeaderBytes).order(ByteOrder.LITTLE_ENDIAN)
    val minId = if (sorted.isEmpty) 0L else sorted.head._1
    val maxId = if (sorted.isEmpty) -1L else sorted.last._1
    val bloom = new Array[Byte](BloomBytes)
    sorted.foreach { case (_, _, tag) =>
      (0 until BloomHashes).foreach { s =>
        val bit = bloomBit(tag, s)
        bloom(bit >> 3) = (bloom(bit >> 3) | (1 << (bit & 7))).toByte
      }
    }
    header.put(Magic.getBytes("US-ASCII"))
      .putLong(sorted.length.toLong).putLong(minId).putLong(maxId)
      .put(bloom)
    out.write(header.array())
    val buf = ByteBuffer.allocate(RecordBytes).order(ByteOrder.LITTLE_ENDIAN)
    sorted.foreach { case (id, v, tag) =>
      buf.clear()
      buf.putLong(id).putLong(v)
      val t = tag.getBytes("US-ASCII")
      require(t.length <= 8, s"tag wider than 8 bytes: $tag")
      buf.put(t)
      var p = t.length
      while (p < 8) { buf.put(' '.toByte); p += 1 }
      out.write(buf.array())
    }
    out.close()
    sorted.length.toLong
  }

  /** Dense fixture file: ids [minId, minId + n). */
  def writeDense(path: String, minId: Long, n: Long): Unit = {
    val it = (0L until n).iterator.map { i =>
      val id = minId + i; (id, valueOf(id), tagOf(id))
    }
    writeFile(path, it)
  }

  /** Name of the generation manifest a truncate-commit publishes. When
    * present in a table directory it names the sub-directory holding the
    * live generation's files; tables never overwritten (fixture writers,
    * plain appends) have no manifest and list the directory flat.
    */
  private[v2] val CurrentMarker = "CURRENT"

  /** The directory whose `*.rec` files are the table's LIVE contents:
    * the manifest's generation dir when a manifest exists (and still
    * resolves — a missing target means a half-GC'd legacy state, fall
    * back to flat), else the table dir itself.
    */
  private[v2] def liveDir(table: java.io.File): java.io.File = {
    val cur = new java.io.File(table, CurrentMarker)
    if (cur.isFile) {
      val name = new String(
        java.nio.file.Files.readAllBytes(cur.toPath), "UTF-8").trim
      val gen = new java.io.File(table, name)
      if (gen.isDirectory) gen else table
    } else table
  }

  private[v2] def listFiles(path: String): Seq[String] = {
    val f = new java.io.File(path)
    if (f.isDirectory)
      liveDir(f).listFiles().toSeq.map(_.getPath)
        .filter(_.endsWith(".rec")).sorted
    else Seq(path)
  }

  /** (rowCount, minId, maxId, tagBloom). */
  private[v2] def readHeader(path: String): (Long, Long, Long, Array[Byte]) = {
    val raf = new RandomAccessFile(path, "r")
    try {
      val h = new Array[Byte](HeaderBytes)
      raf.readFully(h)
      val bb = ByteBuffer.wrap(h).order(ByteOrder.LITTLE_ENDIAN)
      val magic = new Array[Byte](8); bb.get(magic)
      require(new String(magic, "US-ASCII") == Magic, s"not a graftrec: $path")
      val n = bb.getLong; val mn = bb.getLong; val mx = bb.getLong
      val bloom = new Array[Byte](BloomBytes); bb.get(bloom)
      (n, mn, mx, bloom)
    } finally raf.close()
  }

  /** First row index with id ≥ target, over the sorted records. */
  private[v2] def lowerBound(raf: RandomAccessFile, n: Long,
      target: Long): Long = {
    var lo = 0L
    var hi = n
    val b = new Array[Byte](8)
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      raf.seek(HeaderBytes + mid * RecordBytes)
      raf.readFully(b)
      val id = ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN).getLong
      if (id < target) lo = mid + 1 else hi = mid
    }
    lo
  }
}

private class RecTable(path: String) extends Table
    with SupportsRead with SupportsWrite {
  override def name(): String = s"graftrec:$path"
  override def schema(): StructType = RecSource.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new RecScanBuilder(path)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new RecWriteBuilder(path, info.schema())
}

// ---------------------------------------------------------------- read

private class RecScanBuilder(path: String) extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates
    with SupportsPushDownLimit with SupportsPushDownTopN {

  private var required: StructType = RecSource.Schema
  private var lo = Long.MinValue
  private var hi = Long.MaxValue
  private var tagEq: Option[String] = None
  private var pushed = Array.empty[Filter]
  private var aggFns: Option[Array[AggregateFunc]] = None

  /** count(*) / min(id) / max(id) are header fields — the scan can
    * answer them WITHOUT reading a single record, the parquet-footer
    * trick. Only the unfiltered, ungrouped case is header-exact, so
    * anything else is declined and Spark plans the normal scan+agg.
    * Partial pushdown (one row per file; Spark merges) keeps the
    * contract simple and multi-file-correct.
    */
  override def pushAggregation(agg: Aggregation): Boolean = {
    def isId(e: org.apache.spark.sql.connector.expressions.Expression) =
      e match {
        case r: NamedReference => r.fieldNames.sameElements(Array("id"))
        case _ => false
      }
    if (pushed.nonEmpty || tagEq.nonEmpty ||
      agg.groupByExpressions.nonEmpty) return false
    val ok = agg.aggregateExpressions.nonEmpty &&
      agg.aggregateExpressions.forall {
        case _: CountStar => true
        case m: Min => isId(m.column)
        case m: Max => isId(m.column)
        case _ => false
      }
    if (ok) aggFns = Some(agg.aggregateExpressions)
    ok
  }

  override def supportCompletePushDown(agg: Aggregation): Boolean = false

  private var takeAsc: Option[Int] = None
  private var takeDesc: Option[Int] = None

  /** LIMIT n: any n in-range rows satisfy it, so each file truncates
    * its span to its first n rows (PARTIAL — Spark re-limits the
    * union). Record bytes read drop from the span to ≤ n per file.
    */
  override def pushLimit(limit: Int): Boolean = {
    takeAsc = Some(takeAsc.fold(limit)(math.min(_, limit)))
    true
  }

  /** ORDER BY id LIMIT n: the clustered sort order makes TopN a BYTE
    * SEEK — ascending keeps each file-span's first n rows, descending
    * its last n (partial; Spark's TakeOrderedAndProject merges across
    * files). Any other sort key declines.
    */
  override def pushTopN(orders: Array[V2SortOrder], limit: Int): Boolean = {
    val idOrder = orders match {
      case Array(o) => o.expression() match {
        case r: NamedReference if r.fieldNames.sameElements(Array("id")) =>
          Some(o.direction())
        case _ => None
      }
      case _ => None
    }
    idOrder match {
      case Some(SortDirection.ASCENDING) =>
        takeAsc = Some(takeAsc.fold(limit)(math.min(_, limit))); true
      case Some(SortDirection.DESCENDING) =>
        takeDesc = Some(takeDesc.fold(limit)(math.min(_, limit))); true
      case _ => false
    }
  }

  override def isPartiallyPushed(): Boolean = true

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // tag equality is consulted BEST-EFFORT against each file's bloom
    // (whole-file skip); being approximate it stays in the residual
    // list so Spark still evaluates it above the scan
    filters.foreach {
      case EqualTo("tag", v: String) => tagEq = Some(v)
      case _ =>
    }
    val (accepted, rejected) = filters.partition {
      case EqualTo("id", _: java.lang.Long | _: java.lang.Integer) => true
      case GreaterThan("id", _: java.lang.Long | _: java.lang.Integer) => true
      case GreaterThanOrEqual("id", _: java.lang.Long | _: java.lang.Integer) => true
      case LessThan("id", _: java.lang.Long | _: java.lang.Integer) => true
      case LessThanOrEqual("id", _: java.lang.Long | _: java.lang.Integer) => true
      case _ => false
    }
    accepted.foreach {
      case EqualTo("id", v) =>
        lo = math.max(lo, num(v)); hi = math.min(hi, num(v))
      case GreaterThan("id", v) => lo = math.max(lo, num(v) + 1)
      case GreaterThanOrEqual("id", v) => lo = math.max(lo, num(v))
      case LessThan("id", v) => hi = math.min(hi, num(v) - 1)
      case LessThanOrEqual("id", v) => hi = math.min(hi, num(v))
      case _ =>
    }
    pushed = accepted
    // accepted bounds are EXACT on the clustered sorted id — nothing
    // to re-evaluate above the scan
    rejected
  }
  private def num(v: Any): Long = v match {
    case l: java.lang.Long => l
    case i: java.lang.Integer => i.toLong
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = aggFns match {
    case Some(fns) => new RecAggScan(path, fns)
    case None =>
      new RecScan(path, required, lo, hi, tagEq, takeAsc, takeDesc)
  }
}

/** Header-only scan for a pushed aggregation: one partition per file,
  * one emitted row per file carrying (count, min, max) straight from
  * the 32-byte header — zero record bytes read. Spark's final
  * aggregate merges the per-file partials.
  */
private class RecAggScan(path: String, fns: Array[AggregateFunc])
    extends Scan with Batch {
  override def readSchema(): StructType = StructType(fns.zipWithIndex.map {
    case (_: CountStar, i) =>
      StructField(s"agg_$i", LongType, nullable = false)
    case (_, i) => StructField(s"agg_$i", LongType, nullable = true)
  })
  override def toBatch: Batch = this
  override def description(): String =
    s"graftrec $path AGG-PUSHED=[${fns.mkString(", ")}] (header-only)"

  override def planInputPartitions(): Array[InputPartition] =
    RecSource.listFiles(path)
      .map(f => RecPartition(f, 0L, -1L): InputPartition).toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new RecAggReaderFactory(fns)
}

private class RecAggReaderFactory(fns: Array[AggregateFunc])
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition)
      : PartitionReader[InternalRow] =
    new RecHeaderAggReader(p.asInstanceOf[RecPartition].path, fns)
}

private class RecHeaderAggReader(file: String, fns: Array[AggregateFunc])
    extends PartitionReader[InternalRow] {
  private var done = false
  override def next(): Boolean = !done
  override def get(): InternalRow = {
    done = true
    val (n, minId, maxId, _) = RecSource.readHeader(file)
    val row = new org.apache.spark.sql.catalyst.expressions
      .GenericInternalRow(fns.length)
    fns.zipWithIndex.foreach {
      case (_: CountStar, i) => row.setLong(i, n)
      case (_: Min, i) =>
        if (n == 0) row.setNullAt(i) else row.setLong(i, minId)
      case (_: Max, i) =>
        if (n == 0) row.setNullAt(i) else row.setLong(i, maxId)
      case _ => throw new IllegalStateException("unreachable: gated at push")
    }
    row
  }
  override def close(): Unit = ()
}

private class RecScan(path: String, required: StructType,
    lo: Long, hi: Long, tagEq: Option[String],
    takeAsc: Option[Int] = None, takeDesc: Option[Int] = None)
    extends Scan with Batch
    with SupportsReportOrdering with SupportsReportStatistics {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graftrec $path bounds=[$lo,$hi] tag=${tagEq.getOrElse("*")} " +
      s"cols=${required.fieldNames.mkString(",")}" +
      takeAsc.fold("")(n => s" take_first=$n") +
      takeDesc.fold("")(n => s" take_last=$n")

  /** Every partition is a contiguous span of a file SORTED by id, so
    * the scan legitimately reports per-partition id-ascending order —
    * Spark elides sorts the data already satisfies. Only reported
    * while id survives column pruning (an ordering on a pruned column
    * is unresolvable).
    */
  override def outputOrdering(): Array[V2SortOrder] =
    if (required.fieldNames.contains("id"))
      Array(Expressions.sort(Expressions.column("id"),
        SortDirection.ASCENDING))
    else Array.empty

  /** Header-derived, zone-prune-aware row/byte estimates — what the
    * cost-based side of the planner (join strategy choice) reads.
    */
  override def estimateStatistics(): Statistics = new Statistics {
    private val rows = RecSource.listFiles(path).map { f =>
      val (n, minId, maxId, bloom) = RecSource.readHeader(f)
      if (n == 0 || lo > maxId || hi < minId ||
        tagEq.exists(t => !RecSource.bloomMightContain(bloom, t))) 0L
      else n
    }.sum
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(rows * RecSource.RecordBytes)
    override def numRows(): java.util.OptionalLong =
      java.util.OptionalLong.of(rows)
  }

  override def planInputPartitions(): Array[InputPartition] = {
    RecSource.listFiles(path).flatMap { f =>
      val (n, minId, maxId, bloom) = RecSource.readHeader(f)
      // file-level zone prune on the header range + tag bloom
      if (n == 0 || lo > maxId || hi < minId ||
        tagEq.exists(t => !RecSource.bloomMightContain(bloom, t)))
        Seq.empty
      else {
        // binary-search the row span inside the sorted file
        val raf = new RandomAccessFile(f, "r")
        val (fromRow, toRow) = try {
          val a = if (lo <= minId) 0L else RecSource.lowerBound(raf, n, lo)
          val b = if (hi >= maxId) n - 1
            else RecSource.lowerBound(raf, n, hi + 1) - 1
          (a, b)
        } finally raf.close()
        // pushed limit/TopN: keep only the span's first (ascending) or
        // last (descending) n rows — the byte seek the sorted layout buys
        val from2 = takeDesc.fold(fromRow)(n => math.max(fromRow, toRow - n + 1))
        val to2 = takeAsc.fold(toRow)(n => math.min(toRow, from2 + n - 1))
        val fromRow2 = from2
        if (fromRow2 > to2) Seq.empty
        else {
          val fromRow = fromRow2
          val toRow = to2
          val total = toRow - fromRow + 1
          val splits = math.min(RecSource.TargetSplits.toLong, total).toInt
          (0 until splits).map { s =>
            val a = fromRow + s * total / splits
            val b = fromRow + (s + 1) * total / splits - 1
            RecPartition(f, a, b): InputPartition
          }
        }
      }
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new RecReaderFactory(required)
}

private case class RecPartition(path: String, fromRow: Long, toRow: Long)
    extends InputPartition

private class RecReaderFactory(required: StructType)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new RecReader(p.asInstanceOf[RecPartition], required)

  // vectorized path: Spark plans the scan columnar and inserts one
  // ColumnarToRow above it (visible in .explain — RecSourceSpec pins
  // it), which feeds whole-stage codegen the way the parquet reader
  // does; per batch the reader fills flat OnHeapColumnVectors instead
  // of allocating a row object per record
  override def supportColumnarReads(p: InputPartition): Boolean = true

  override def createColumnarReader(p: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    new RecColumnarReader(p.asInstanceOf[RecPartition], required)
}

private class RecColumnarReader(p: RecPartition, required: StructType)
    extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
  import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
  import org.apache.spark.sql.vectorized.ColumnarBatch

  private val BatchRows = 4096
  private val raf = new RandomAccessFile(p.path, "r")
  raf.seek(RecSource.HeaderBytes + p.fromRow * RecSource.RecordBytes)
  private val in = new java.io.BufferedInputStream(
    new java.io.FileInputStream(raf.getFD), 1 << 16)
  private var row = p.fromRow
  private val rec = new Array[Byte](RecSource.RecordBytes)
  private val cols = required.fields
  private val vectors = cols.map(f => new OnHeapColumnVector(BatchRows, f.dataType))
  private val batch = new ColumnarBatch(
    vectors.map(_.asInstanceOf[org.apache.spark.sql.vectorized.ColumnVector]))

  override def next(): Boolean = {
    if (row > p.toRow) return false
    vectors.foreach(_.reset())
    var i = 0
    while (i < BatchRows && row <= p.toRow) {
      var off = 0
      while (off < rec.length) {
        val k = in.read(rec, off, rec.length - off)
        require(k >= 0, "truncated graftrec file")
        off += k
      }
      val bb = ByteBuffer.wrap(rec).order(ByteOrder.LITTLE_ENDIAN)
      var c = 0
      while (c < cols.length) {
        cols(c).name match {
          case "id" => vectors(c).putLong(i, bb.getLong(0))
          case "value" => vectors(c).putLong(i, bb.getLong(8))
          case "tag" =>
            var len = 8
            while (len > 0 && rec(16 + len - 1) == ' '.toByte) len -= 1
            vectors(c).putByteArray(i, rec, 16, len)
        }
        c += 1
      }
      i += 1
      row += 1
    }
    batch.setNumRows(i)
    true
  }

  override def get(): ColumnarBatch = batch
  override def close(): Unit = { in.close(); raf.close() }
}

private class RecReader(p: RecPartition, required: StructType)
    extends PartitionReader[InternalRow] {
  private val raf = new RandomAccessFile(p.path, "r")
  raf.seek(RecSource.HeaderBytes + p.fromRow * RecSource.RecordBytes)
  private val in = new java.io.BufferedInputStream(
    new java.io.FileInputStream(raf.getFD), 1 << 16)
  private var row = p.fromRow
  private val rec = new Array[Byte](RecSource.RecordBytes)
  private val cols = required.fieldNames
  private var current: InternalRow = _

  override def next(): Boolean = {
    if (row > p.toRow) return false
    var off = 0
    while (off < rec.length) {
      val k = in.read(rec, off, rec.length - off)
      require(k >= 0, "truncated graftrec file")
      off += k
    }
    val bb = ByteBuffer.wrap(rec).order(ByteOrder.LITTLE_ENDIAN)
    val vals: Array[Any] = cols.map {
      case "id" => bb.getLong(0)
      case "value" => bb.getLong(8)
      case "tag" =>
        UTF8String.fromString(new String(rec, 16, 8, "US-ASCII").trim)
    }
    current = InternalRow.fromSeq(vals.toIndexedSeq)
    row += 1
    true
  }

  override def get(): InternalRow = current
  override def close(): Unit = { in.close(); raf.close() }
}

// --------------------------------------------------------------- write

private class RecWriteBuilder(path: String, schema: StructType)
    extends WriteBuilder
    with org.apache.spark.sql.connector.write.SupportsTruncate {
  // honours the TRUNCATE capability the table advertises: overwrite mode
  // resolves to truncate(), and the old files are removed inside COMMIT
  // (not here) so a failed job never leaves the table half-emptied
  private var truncateFirst = false
  override def truncate(): WriteBuilder = { truncateFirst = true; this }
  override def build(): Write = new Write {
    override def toBatch: BatchWrite =
      new RecBatchWrite(path, schema, truncateFirst)
  }
}

private case class RecCommit(staged: String, rows: Long)
    extends WriterCommitMessage

private class RecBatchWrite(path: String, schema: StructType,
    truncateFirst: Boolean)
    extends BatchWrite {
  require(schema.fieldNames.toSeq == Seq("id", "value", "tag"),
    s"graftrec write needs (id, value, tag); got ${schema.sql}")

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : DataWriterFactory = new RecWriterFactory(path)

  /** All-or-nothing visibility: staged files rename into the live dir
    * only here, after EVERY task committed.
    *
    * Truncate (overwrite) mode is a GENERATION SWAP, not delete-then-
    * rename: the new files rename into a fresh `gen-*` sub-directory
    * (invisible to readers), and the single atomic publish is the
    * manifest move onto [[RecSource.CurrentMarker]]. A crash anywhere
    * before the move leaves the old table fully intact (the earlier
    * delete-old-files-first order left it EMPTY if the job died between
    * the deletes and the renames); a crash after the move leaves the new
    * table fully visible. Old generations and legacy flat files are
    * garbage-collected only AFTER the publish, so the failure mode of a
    * crashed cleanup is leaked disk, never lost or mixed data.
    */
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val dir = new java.io.File(path)
    dir.mkdirs()
    val dest =
      if (!truncateFirst) RecSource.liveDir(dir)
      else {
        val gen = new java.io.File(dir,
          s"gen-${java.util.UUID.randomUUID().toString.take(8)}")
        require(gen.mkdirs(), s"cannot create generation dir: $gen")
        gen
      }
    messages.foreach { case RecCommit(staged, rows) =>
      if (rows == 0) new java.io.File(staged).delete()
      else {
        val dst = new java.io.File(dest,
          new java.io.File(staged).getName.stripSuffix(".staged"))
        require(new java.io.File(staged).renameTo(dst),
          s"commit rename failed: $staged")
      }
    }
    if (truncateFirst) {
      // the publish: write-temp + ATOMIC_MOVE onto the manifest — the
      // one instant the table flips from old contents to new
      val tmp = new java.io.File(dir, s"${RecSource.CurrentMarker}.tmp")
      java.nio.file.Files.write(tmp.toPath, dest.getName.getBytes("UTF-8"))
      java.nio.file.Files.move(tmp.toPath,
        new java.io.File(dir, RecSource.CurrentMarker).toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      // post-publish GC (best-effort): older generations + legacy flat
      // files. An in-flight reader that listed the previous generation
      // before the swap may race this delete — same exposure the
      // pre-manifest layout had for ALL readers, now confined to scans
      // overlapping a truncate of the same table. Guard: GC only while
      // this commit is still the PUBLISHED generation — a racing
      // truncate that won the manifest between our move and this
      // listing keeps its files (it will GC ours instead).
      if (RecSource.liveDir(dir).getName == dest.getName)
        Option(dir.listFiles()).getOrElse(Array.empty).foreach { f =>
          if (f.getName.startsWith("gen-") && f.getName != dest.getName) {
            Option(f.listFiles()).getOrElse(Array.empty).foreach(_.delete())
            f.delete()
          } else if (f.getName.endsWith(".rec")) f.delete()
        }
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case RecCommit(staged, _) => new java.io.File(staged).delete()
      case _ =>
    }
}

private class RecWriterFactory(path: String) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : DataWriter[InternalRow] =
    new RecWriter(path, partitionId, taskId)
}

private class RecWriter(path: String, partitionId: Int, taskId: Long)
    extends DataWriter[InternalRow] {
  private val rows = scala.collection.mutable.ArrayBuffer
    .empty[(Long, Long, String)]

  override def write(r: InternalRow): Unit =
    rows += ((r.getLong(0), r.getLong(1), r.getUTF8String(2).toString))

  override def commit(): WriterCommitMessage = {
    val staged = new java.io.File(path,
      f"part-$partitionId%05d-$taskId.rec.staged").getPath
    val n = RecSource.writeFile(staged, rows.iterator)
    RecCommit(staged, n)
  }

  override def abort(): Unit = ()
  override def close(): Unit = ()
}

/** Registered queries over the connector. `s32` scans a dense fixture
  * file with an id-range predicate (pushdown → file prune + in-file
  * binary-searched seek); `s33` drives the full WRITE commit protocol
  * — every Spark task stages one sorted file, the driver commit
  * renames them in — then reads the multi-file table back through the
  * same pushdown path. Both fixtures derive every byte arithmetically,
  * which is exactly what the oracles replay.
  */
object RecV2Query {
  import graft.{Q, Tables}
  import org.apache.spark.sql.functions._

  val MinId = 1000L
  val PerPart = 20L

  def fixture(s: org.apache.spark.sql.SparkSession, d: String): (String, Long) = {
    val n = Tables(s, d).part.count() * PerPart
    val path = s"target/recv2/rec_v4_$n.rec"
    RecSource.synchronized {
      if (!new java.io.File(path).exists())
        RecSource.writeDense(path, MinId, n)
    }
    (path, n)
  }

  private val scanQ = Q(
    "s32_dsv2_pushdown_scan",
    (s, d) => {
      val (path, n) = fixture(s, d)
      s.read.format(classOf[RecSource].getName).load(path)
        .filter(col("id") >= MinId + n / 4 && col("id") <= MinId + n / 2)
    },
    Some(
      s"""WITH ids AS (
         |  SELECT $MinId + (k.k - 1) * $PerPart + j.j AS id
         |  FROM (SELECT row_number() OVER (ORDER BY p_partkey) AS k
         |        FROM part) k
         |  CROSS JOIN (SELECT unnest(generate_series(0, ${PerPart - 1}))
         |              AS j) j),
         |n AS (SELECT count(*) AS n FROM ids)
         |SELECT id, (id * 48271) % 999983 AS value,
         |  't' || lpad(CAST(id % 100 AS VARCHAR), 3, '0') AS tag
         |FROM ids CROSS JOIN n
         |WHERE id >= $MinId + n.n // 4
         |  AND id <= $MinId + n.n // 2""".stripMargin),
  )

  private val writeQ = Q(
    "s33_dsv2_roundtrip_write",
    (s, d) => {
      val src = Tables(s, d).part.select(
        col("p_partkey").as("id"),
        ((col("p_partkey") * 48271L) % 999983L).as("value"),
        concat(lit("t"), lpad((col("p_partkey") % 100).cast("string"),
          3, "0")).as("tag"))
      val dir = java.nio.file.Files
        .createTempDirectory("recv2_rt").toString
      src.write.format(classOf[RecSource].getName)
        .mode("append").save(dir)
      s.read.format(classOf[RecSource].getName).load(dir)
        .filter(col("id") % 3 === 0)
    },
    Some(
      """SELECT p_partkey AS id,
        |  (p_partkey * 48271) % 999983 AS value,
        |  't' || lpad(CAST(p_partkey % 100 AS VARCHAR), 3, '0') AS tag
        |FROM part WHERE p_partkey % 3 = 0""".stripMargin),
  )

  private val aggQ = Q(
    "s35_dsv2_agg_pushdown",
    (s, d) => {
      val (path, _) = fixture(s, d)
      s.read.format(classOf[RecSource].getName).load(path)
        .agg(count(lit(1)).as("n_rows"), min(col("id")).as("min_id"),
          max(col("id")).as("max_id"))
    },
    // the fixture is DENSE ids [MinId, MinId + |part|·PerPart), so the
    // oracle states the three header facts arithmetically — fully
    // independent of the connector
    Some(
      s"""SELECT count(*) * $PerPart AS n_rows,
         |  CAST($MinId AS BIGINT) AS min_id,
         |  CAST($MinId AS BIGINT) + count(*) * $PerPart - 1 AS max_id
         |FROM part""".stripMargin),
  )

  private val topnQ = Q(
    "s36_dsv2_topn_pushdown",
    (s, d) => {
      val (path, _) = fixture(s, d)
      s.read.format(classOf[RecSource].getName).load(path)
        .orderBy(col("id").desc).limit(5)
    },
    // dense ids again: the top-5 by id are the last five of the range,
    // values/tags restated arithmetically
    Some(
      s"""WITH n AS (SELECT count(*) * $PerPart AS n FROM part),
         |ids AS (
         |  SELECT $MinId + n.n - 1 - j.j AS id
         |  FROM n CROSS JOIN (SELECT unnest(generate_series(0, 4)) AS j) j)
         |SELECT id, (id * 48271) % 999983 AS value,
         |  't' || lpad(CAST(id % 100 AS VARCHAR), 3, '0') AS tag
         |FROM ids""".stripMargin),
  )

  def queries: Seq[Q] = Seq(scanQ, writeQ, aggQ, topnQ)
}
