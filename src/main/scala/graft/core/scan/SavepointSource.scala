package graft.core.scan

import graft.core.io.SnapshotFs
import graft.core.meta.{KeyedFileHandle, MetadataIO, OperatorStateMeta}

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, In, IsNotNull}
import org.apache.spark.sql.types.{BinaryType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import java.util.{Map => JMap}
import scala.jdk.CollectionConverters._

/** DataSource V2 savepoint source (SURVEY.md §2.1 S3/S5/S6):
  * `spark.read.format("flink-savepoint").option("uid", ...).load(dir)`
  * yields the raw `KeyedStateRow` relation
  * `(stateName string, keyAndNamespaceBytes binary, valueBytes binary)`.
  *
  * - Splits come from bytes: each subtask state file is cut into runs
  *   of consecutive key groups of at most
  *   `spark.sql.files.maxPartitionBytes` (128 MB by default), one
  *   `InputPartition` per run. A file under the target is one partition;
  *   a larger file splits at key-group boundaries, which the per-group
  *   offsets in `_metadata` make free (the finer split the reference
  *   names as future work at README.md:71). One RocksDB checkpoint
  *   directory is always one partition.
  * - `SupportsPushDownFilters` on `stateName` (`=`, `IN`): filtered
  *   states are length-skipped during decode without materializing
  *   key/value bytes, mirroring the reference's scan-time state skip
  *   (RocksDBSavepointIterator.java:178-191).
  */
class SavepointSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "flink-savepoint"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    SavepointSource.Schema

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new SavepointTable(new CaseInsensitiveStringMap(properties))
}

object SavepointSource {
  val Schema: StructType = StructType(Seq(
    StructField("stateName", StringType, nullable = false),
    StructField("keyAndNamespaceBytes", BinaryType, nullable = false),
    StructField("valueBytes", BinaryType, nullable = false)))
}

final class SavepointTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {

  private val path = Option(options.get("path")).getOrElse(
    throw new IllegalArgumentException("flink-savepoint source requires a path"))
  private val uid = Option(options.get("uid")).getOrElse(
    throw new IllegalArgumentException("flink-savepoint source requires option 'uid'"))

  override def name(): String = s"flink-savepoint($path, $uid)"
  override def schema(): StructType = SavepointSource.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava

  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder = {
    val meta = MetadataIO.load(path)
    new SavepointScanBuilder(meta.basePath, meta.operator(uid), options)
  }
}

final class SavepointScanBuilder(
    basePath: String,
    op: OperatorStateMeta,
    options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns {

  // column pruning (SURVEY §4): value-only projections (P2/P6) skip key
  // bytes entirely during decode
  private var requiredSchema: StructType = SavepointSource.Schema

  override def pruneColumns(schema: StructType): Unit =
    requiredSchema = schema

  // `states` option = reader-level state filter (reference F1,
  // OperatorStateReader.java:76-91); pushed filters narrow it further.
  private var nameFilter: Option[Set[String]] =
    Option(options.get("states")).map(_.split(",").map(_.trim).toSet)
  private var pushed: Array[Filter] = Array.empty

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (supported, residual) = filters.partition {
      case EqualTo("stateName", _: String) => true
      case In("stateName", vs) if vs.forall(_.isInstanceOf[String]) => true
      case IsNotNull("stateName") => true
      case _ => false
    }
    pushed = supported
    supported.foreach {
      case EqualTo(_, v: String) => intersect(Set(v))
      case In(_, vs) => intersect(vs.map(_.asInstanceOf[String]).toSet)
      case _ =>
    }
    residual
  }

  private def intersect(names: Set[String]): Unit =
    nameFilter = Some(nameFilter.fold(names)(_ intersect names))

  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan =
    new SavepointScan(basePath, op, nameFilter, requiredSchema)
}

final case class StateSegmentPartition(
    filePath: String,
    fileLen: Long,
    offsets: Array[Long],
    kgStart: Int,
    kgEnd: Int,
    groupFrom: Int, // inclusive, relative to kgStart
    groupTo: Int,   // inclusive
    compression: Boolean,
    stateNames: Array[String],   // id -> name
    keepIds: Array[Int],         // empty = keep all
    fields: Array[String],       // pruned output columns, in order
    flinkLayout: Boolean = false) // real Flink stream layout vs graft
    extends InputPartition

final class SavepointScan(
    basePath: String,
    op: OperatorStateMeta,
    nameFilter: Option[Set[String]],
    requiredSchema: StructType)
    extends Scan with Batch {

  override def readSchema(): StructType = requiredSchema
  override def toBatch: Batch = this
  override def description(): String =
    s"flink-savepoint uid=${op.uid} states=${nameFilter.getOrElse(Set("*")).mkString("|")}"

  override def planInputPartitions(): Array[InputPartition] = {
    val stateNames = op.states.map(_.name).toArray
    val keepIds = nameFilter
      .map(names => op.states.zipWithIndex.collect {
        case (s, i) if names.contains(s.name) => i
      }.toArray)
      .getOrElse(Array.empty[Int])
    // nothing matches the filter -> zero partitions
    if (nameFilter.isDefined && keepIds.isEmpty) return Array.empty

    val target = SQLConf.get.filesMaxPartitionBytes
    op.keyedFiles.flatMap { f =>
      val p = KeyedFileHandle.resolve(basePath, f.relativePath)
      if (f.kind == KeyedFileHandle.RocksDbKind) {
        // S4: one partition per subtask checkpoint dir; pushdown = the
        // set of column families to open
        Seq(RocksDbPartition(p.toString, nameFilter.map(_.toArray),
          requiredSchema.fieldNames))
      } else if (f.kind == KeyedFileHandle.UnsupportedKind) {
        throw new UnsupportedOperationException(
          s"subtask ${f.subtaskIndex} of operator ${op.uid} is not " +
            s"scannable: ${f.relativePath}")
      } else streamPartitions(f, p, target, stateNames, keepIds)
    }.toArray
  }

  private def streamPartitions(
      f: KeyedFileHandle,
      p: org.apache.hadoop.fs.Path,
      target: Long,
      stateNames: Array[String],
      keepIds: Array[Int]): Seq[InputPartition] = {
    val len = SnapshotFs.length(p)
    val offsets = f.offsets.toArray
    val flink = f.kind == KeyedFileHandle.FlinkStreamKind
    SavepointScan.runs(SavepointScan.segmentSizes(offsets, len, flink), target)
      .map { case (from, to) =>
        StateSegmentPartition(p.toString, len, offsets, f.kgStart, f.kgEnd,
          from, to, op.compression, stateNames, keepIds,
          requiredSchema.fieldNames, flink)
      }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new SavepointReaderFactory()
}

object SavepointScan {

  /** Bytes of each key group's segment in a subtask file of `fileLen`
    * bytes. Graft layout: next offset − offset. Flink layout: offset 0
    * marks an empty group (size 0), so a segment ends at the next
    * non-zero offset. The last segment ends at the file end.
    */
  def segmentSizes(offsets: Array[Long], fileLen: Long,
      flinkLayout: Boolean): Array[Long] = {
    val sizes = new Array[Long](offsets.length)
    var end = fileLen
    for (g <- offsets.indices.reverse)
      if (!(flinkLayout && offsets(g) == 0L)) {
        sizes(g) = end - offsets(g)
        end = offsets(g)
      }
    sizes
  }

  /** Cuts the groups of `sizes` into runs of consecutive groups: a group
    * closes the run before it when both hold bytes and together they
    * would exceed `target`. A group larger than the target is the only
    * non-empty group of its run and is never cut (a key group is the
    * unit a reader seeks to).
    * Returns inclusive `(from, to)` pairs tiling `sizes.indices` in order.
    */
  def runs(sizes: Array[Long], target: Long): Seq[(Int, Int)] = {
    val out = Seq.newBuilder[(Int, Int)]
    var from = 0
    var bytes = 0L
    for (g <- sizes.indices) {
      if (sizes(g) > 0 && bytes > 0 && bytes + sizes(g) > target) {
        out += ((from, g - 1))
        from = g
        bytes = 0L
      }
      bytes += sizes(g)
    }
    if (sizes.nonEmpty) out += ((from, sizes.length - 1))
    out.result()
  }
}

/** One subtask's incremental-checkpoint directory (S4). */
final case class RocksDbPartition(
    dirPath: String,
    keepStates: Option[Array[String]],
    fields: Array[String])
    extends InputPartition

final class SavepointReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case p: StateSegmentPartition => new StateSegmentReader(p)
      case p: RocksDbPartition => new RocksDbPartitionReader(p)
    }
}

/** Executor-side iterate of one RocksDB checkpoint dir: localize (S4
  * transfer step), open read-only, scan kept column families.
  */
final class RocksDbPartitionReader(p: RocksDbPartition)
    extends PartitionReader[InternalRow] {

  private val localDir = RocksDbCheckpoints.localize(p.dirPath)
  private val it = RocksDbCheckpoints.iterate(localDir.path, p.keepStates.map(_.toSet))
  private var current: (String, Array[Byte], Array[Byte]) = _

  override def next(): Boolean = {
    if (!it.hasNext) return false
    current = it.next()
    true
  }

  override def get(): InternalRow =
    new GenericInternalRow(p.fields.map[Any] {
      case "stateName" => UTF8String.fromString(current._1)
      case "keyAndNamespaceBytes" => current._2
      case "valueBytes" => current._3
    })

  override def close(): Unit = {
    it.close()
    localDir.close() // removes the downloaded copy, if any
  }
}

/** Executor-side decode of [groupFrom, groupTo] segments of one state
  * file. Seeks to each group's offset; bounds the segment; streams
  * records (no whole-file materialization — scale stance SURVEY §7.4#7).
  */
final class StateSegmentReader(p: StateSegmentPartition)
    extends PartitionReader[InternalRow] {

  private val in = SnapshotFs.open(new org.apache.hadoop.fs.Path(p.filePath))
  private val keep: Int => Boolean =
    if (p.keepIds.isEmpty) _ => true else p.keepIds.toSet
  private val names = p.stateNames.map(UTF8String.fromString)
  private val needKey = p.fields.contains("keyAndNamespaceBytes")
  private val needValue = p.fields.contains("valueBytes")

  private var group = p.groupFrom
  private var it: Iterator[StateStreamFormat.Record] = Iterator.empty
  private var current: StateStreamFormat.Record = _
  private val sizes = SavepointScan.segmentSizes(p.offsets, p.fileLen, p.flinkLayout)

  private def nextGroupIterator(): Boolean = {
    // Flink layout: offset 0 marks an empty key-group (the proxy bytes
    // occupy position 0, reference ValidOffsetsIterator.java:31-34).
    // Graft layout: every group has a real (possibly empty) segment.
    while (group <= p.groupTo && p.flinkLayout && p.offsets(group) == 0L)
      group += 1
    if (group > p.groupTo) return false
    in.seek(p.offsets(group))
    val bounded = new BoundedInputStream(in, sizes(group))
    it =
      if (p.flinkLayout)
        FlinkStreamFormat.decodeGroup(bounded, p.compression, keep,
          needKey, needValue)
      else
        StateStreamFormat.decodeGroup(bounded, p.compression, keep,
          needKey, needValue)
    group += 1
    true
  }

  override def next(): Boolean = {
    while (!it.hasNext) if (!nextGroupIterator()) return false
    current = it.next()
    true
  }

  override def get(): InternalRow =
    new GenericInternalRow(p.fields.map[Any] {
      case "stateName" => names(current.stateId)
      case "keyAndNamespaceBytes" => current.key
      case "valueBytes" => current.value
    })

  override def close(): Unit = in.close()
}

/** Reads at most `limit` bytes from `in` without closing it. */
final class BoundedInputStream(in: java.io.InputStream, limit: Long)
    extends java.io.InputStream {
  private var remaining = limit
  override def read(): Int =
    if (remaining <= 0) -1
    else { val b = in.read(); if (b >= 0) remaining -= 1; b }
  override def read(b: Array[Byte], off: Int, len: Int): Int = {
    if (remaining <= 0) return -1
    val n = in.read(b, off, math.min(len.toLong, remaining).toInt)
    if (n > 0) remaining -= n
    n
  }
  override def close(): Unit = () // underlying stream is managed by caller
}
