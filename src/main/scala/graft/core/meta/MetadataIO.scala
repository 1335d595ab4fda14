package graft.core.meta

import graft.core.codec.{ByteReader, ByteWriter}
import graft.core.flink.FlinkMetadataIO
import graft.core.io.SnapshotFs

import java.io.{BufferedInputStream, InputStream}

/** Binary `_metadata` reader/writer (S1/S10 in SURVEY.md §2.1).
  *
  * The reference deserializes Flink's checkpoint metadata
  * (StateMetadataUtils.java:59-74) and writes it back NO_OVERWRITE
  * (:189-194). We use our own compact, versioned layout (documented
  * below) since savepoints here are produced by our own writer — format
  * self-consistency is the testable contract (FIXTURES.md §A). Layout:
  *
  * {{{
  * magic "GRFTSP05" (02 added non-keyed codec ids; 03 the per-state
  *                    namespace codec; 04 trailing master states; 05
  *                    per-operator raw-state + coordinator carry — any
  *                    layout change bumps it; 03/04 files still load)
  * varlong checkpointId
  * varint numOperators, each:
  *   string uid | string operatorId | varint parallelism | varint maxPar
  *   bool hasKeyCodec [string keyCodecId]
  *   varint numStates, each: string name | byte kind | string valueCodecId
  *                           | bool hasMapKeyCodec [string mapKeyCodecId]
  *                           | string namespaceCodecId
  *   bool compression
  *   varint numKeyedFiles, each: varint subtask | string relPath
  *       | varint kgStart | varint kgEnd | varint n | varlong offsets...
  *       | byte kind (0 = stream file, 1 = RocksDB checkpoint dir)
  *   varint numNonKeyedSubtasks, each: varint subtask
  *     varint numListStates, each: string name | byte mode
  *         | string elemCodecId ("" = undeclared)
  *         | varint n | (varint len + bytes)...
  *     varint numBroadcastStates, each: string name
  *         | string keyCodecId | string valueCodecId ("" = undeclared)
  *         | varint n | (bytes key, bytes value)...
  *   varint numRawOperator, each: varint subtask | bytes (verbatim
  *       Flink raw-operator handle section; v05)
  *   varint numRawKeyed, each: varint subtask | bytes (verbatim Flink
  *       raw-keyed handle section; v05)
  *   bool hasCoordinator [bytes] (verbatim v3 coordinator handle; v05)
  * varint numMasterStates, each: bytes (opaque payload — the Flink
  *     master-state blob carried through graft-dialect rewrites so a
  *     later Flink-dialect write can restore it verbatim; v04)
  * }}}
  */
object MetadataIO {

  val Magic = "GRFTSP05"
  private val MagicV4 = "GRFTSP04"
  private val MagicV3 = "GRFTSP03"

  /** Loads either dialect from one open of the `_metadata` that
    * [[SnapshotFs.metadataPath]] locates, sniffed from the magic:
    * `GRFTSP0x` (graft) or Flink's checkpoint header 0x4960672d (S1 —
    * real `_metadata`, reference StateMetadataUtils.java:59-74, parsed by
    * [[graft.core.flink.FlinkMetadataIO]]).
    */
  def load(pathStr: String): SavepointMeta = {
    val mp = SnapshotFs.metadataPath(pathStr)
    val basePath = mp.getParent.toString
    val in = new BufferedInputStream(SnapshotFs.open(mp))
    try {
      in.mark(4)
      val head = in.readNBytes(4)
      in.reset()
      if (FlinkMetadataIO.isFlinkMetadata(head)) FlinkMetadataIO.read(in, basePath)
      else read(in, basePath)
    } finally in.close()
  }

  private def read(in: InputStream, basePath: String): SavepointMeta = {
    val r = new ByteReader(in)
    val magic = new String(r.readFully(Magic.length),
      java.nio.charset.StandardCharsets.US_ASCII)
    require(magic == Magic || magic == MagicV4 || magic == MagicV3,
      s"not a graft savepoint: bad magic '$magic'")
    val checkpointId = r.readVarLong()
    val nOps = r.readVarInt()
    val ops = (0 until nOps).map { _ =>
      val uid = r.readString()
      val opId = r.readString()
      val par = r.readVarInt()
      val maxPar = r.readVarInt()
      val keyCodec = if (r.readBoolean()) Some(r.readString()) else None
      val nStates = r.readVarInt()
      val states = (0 until nStates).map { _ =>
        val name = r.readString()
        val kind = r.readByte()
        val vc = r.readString()
        val mkc = if (r.readBoolean()) Some(r.readString()) else None
        val ns = r.readString()
        StateMeta(name, kind, vc, mkc, ns)
      }
      val compression = r.readBoolean()
      val nFiles = r.readVarInt()
      val files = (0 until nFiles).map { _ =>
        KeyedFileHandle(r.readVarInt(), r.readString(), r.readVarInt(),
          r.readVarInt(), (0 until r.readVarInt()).map(_ => r.readVarLong()),
          r.readByte())
      }
      val nNk = r.readVarInt()
      val nonKeyed = (0 until nNk).map { _ =>
        val sub = r.readVarInt()
        val nls = r.readVarInt()
        val lsWithCodec = (0 until nls).map { _ =>
          val name = r.readString()
          val mode = r.readByte()
          val codec = r.readString() // "" = undeclared
          val entries = (0 until r.readVarInt()).map(_ => r.readBytes())
          (name, mode, codec, entries: Seq[Array[Byte]])
        }
        val nbs = r.readVarInt()
        val bsWithCodec = (0 until nbs).map { _ =>
          val name = r.readString()
          val kCodec = r.readString()
          val vCodec = r.readString()
          val entries = (0 until r.readVarInt()).map(_ => (r.readBytes(), r.readBytes()))
          (name, kCodec, vCodec, entries: Seq[(Array[Byte], Array[Byte])])
        }
        sub -> OperatorBackendState(
          lsWithCodec.map { case (n, m, _, e) => n -> (m, e) }.toMap,
          bsWithCodec.map { case (n, _, _, e) => n -> e }.toMap,
          lsWithCodec.collect { case (n, _, c, _) if c.nonEmpty => n -> c }.toMap,
          bsWithCodec.collect { case (n, k, v, _) if k.nonEmpty && v.nonEmpty =>
            n -> (k, v) }.toMap)
      }.toMap
      val (rawOp, rawKeyed, coordinator) =
        if (magic != Magic) (Map.empty[Int, Array[Byte]], Map.empty[Int, Array[Byte]], None)
        else {
          val ro = (0 until r.readVarInt()).map(_ => r.readVarInt() -> r.readBytes()).toMap
          val rk = (0 until r.readVarInt()).map(_ => r.readVarInt() -> r.readBytes()).toMap
          val co = if (r.readBoolean()) Some(r.readBytes()) else None
          (ro, rk, co)
        }
      OperatorStateMeta(uid, opId, par, maxPar, keyCodec, states,
        compression, files, nonKeyed, rawOp, rawKeyed, coordinator)
    }
    val masterStates =
      if (magic == MagicV3) Seq.empty[Array[Byte]]
      else (0 until r.readVarInt()).map(_ => r.readBytes())
    SavepointMeta(checkpointId, basePath, ops, masterStates = masterStates)
  }

  /** NO_OVERWRITE like the reference (StateMetadataUtils.java:189-194),
    * through [[SnapshotFs.writeMetadata]].
    */
  def write(dirStr: String, meta: SavepointMeta): org.apache.hadoop.fs.Path = {
    val w = new ByteWriter()
    w.writeRaw(Magic.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    w.writeVarLong(meta.checkpointId)
    w.writeVarInt(meta.operators.size)
    meta.operators.foreach { o =>
      w.writeString(o.uid)
      w.writeString(o.operatorId)
      w.writeVarInt(o.parallelism)
      w.writeVarInt(o.maxParallelism)
      w.writeBoolean(o.keyCodecId.isDefined)
      o.keyCodecId.foreach(w.writeString)
      w.writeVarInt(o.states.size)
      o.states.foreach { s =>
        w.writeString(s.name)
        w.writeByte(s.kind)
        w.writeString(s.valueCodecId)
        w.writeBoolean(s.mapKeyCodecId.isDefined)
        s.mapKeyCodecId.foreach(w.writeString)
        w.writeString(s.namespaceCodecId)
      }
      w.writeBoolean(o.compression)
      w.writeVarInt(o.keyedFiles.size)
      o.keyedFiles.foreach { f =>
        w.writeVarInt(f.subtaskIndex)
        w.writeString(f.relativePath)
        w.writeVarInt(f.kgStart)
        w.writeVarInt(f.kgEnd)
        w.writeVarInt(f.offsets.size)
        f.offsets.foreach(w.writeVarLong)
        w.writeByte(f.kind)
      }
      w.writeVarInt(o.nonKeyed.size)
      o.nonKeyed.toSeq.sortBy(_._1).foreach { case (sub, b) =>
        w.writeVarInt(sub)
        w.writeVarInt(b.listStates.size)
        b.listStates.toSeq.sortBy(_._1).foreach { case (name, (mode, entries)) =>
          w.writeString(name)
          w.writeByte(mode)
          w.writeString(b.listCodecs.getOrElse(name, ""))
          w.writeVarInt(entries.size)
          entries.foreach(w.writeBytes)
        }
        w.writeVarInt(b.broadcastStates.size)
        b.broadcastStates.toSeq.sortBy(_._1).foreach { case (name, entries) =>
          w.writeString(name)
          val (kc, vc) = b.broadcastCodecs.getOrElse(name, ("", ""))
          w.writeString(kc)
          w.writeString(vc)
          w.writeVarInt(entries.size)
          entries.foreach { case (k, v) => w.writeBytes(k); w.writeBytes(v) }
        }
      }
      // v05: raw-state + coordinator carry, so a Flink -> graft -> Flink
      // rewrite chain loses nothing (same contract as master states)
      w.writeVarInt(o.rawOperatorState.size)
      o.rawOperatorState.toSeq.sortBy(_._1).foreach { case (sub, bytes) =>
        w.writeVarInt(sub); w.writeBytes(bytes)
      }
      w.writeVarInt(o.rawKeyedState.size)
      o.rawKeyedState.toSeq.sortBy(_._1).foreach { case (sub, bytes) =>
        w.writeVarInt(sub); w.writeBytes(bytes)
      }
      w.writeBoolean(o.coordinatorState.isDefined)
      o.coordinatorState.foreach(w.writeBytes)
    }
    w.writeVarInt(meta.masterStates.size)
    meta.masterStates.foreach(w.writeBytes)
    SnapshotFs.writeMetadata(dirStr)(_.write(w.toBytes))
  }
}
