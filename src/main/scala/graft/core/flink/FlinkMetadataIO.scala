package graft.core.flink

import graft.core.io.SnapshotFs
import graft.core.meta._
import graft.core.scan.RocksDbCheckpoints

import org.apache.hadoop.fs.Path

import java.io.{BufferedInputStream, DataInputStream, InputStream}

/** Real Flink `_metadata` reader/writer — the checkpoint-metadata
  * header (`Checkpoints.storeCheckpointMetadata`) plus the SavepointV2
  * body (`SavepointV2Serializer`), the format the reference loads via
  * Flink's own classes (StateMetadataUtils.java:59-74 `loadSavepoint`,
  * :189-194 `writeSavepointMetadata` NO_OVERWRITE).
  *
  * Flink is not on this classpath, so the byte layout is RECONSTRUCTED
  * from the public Flink 1.7.1 sources the reference builds against
  * (build.gradle:8). Layout:
  *
  * {{{
  * i32 0x4960672d                      // HEADER_MAGIC_NUMBER
  * i32 2                               // SavepointV2 version
  * i64 checkpointId
  * i32 numMasterStates; per state: i32 magic, i32 len, len bytes
  * i32 numOperatorStates; per operator:
  *   i64 operatorId lower | i64 upper  // = murmur3_128(uid), hex order
  *   i32 parallelism | i32 maxParallelism
  *   i32 1                             // legacy chain length
  *   i32 numSubtasks; per subtask:
  *     i32 subtaskIndex
  *     i64 -1                          // legacy duration (ignored)
  *     i32 0                           // legacy state count
  *     i32 0|1 [operator handle]       // managed operator (non-keyed)
  *     i32 0|1 [operator handle]       // raw operator
  *     <keyed handle>                  // managed keyed
  *     <keyed handle>                  // raw keyed
  * }}}
  *
  * Handles (tags from SavepointV2Serializer): 0 = null;
  * 1 = byte-stream (UTF name, i32 len, bytes); 2 = file stream
  * (i64 size, UTF path); 3 = key-groups (i32 startKeyGroup, i32
  * numKeyGroups, i64 offset per group, delegate stream handle);
  * 4 = partitionable operator state (i32 numStates; per state: UTF
  * name, u8 distribution mode, i32 numOffsets, i64 offsets; delegate);
  * 5 = incremental RocksDB (i64 checkpointId, UTF backendId, i32
  * startKeyGroup, i32 numKeyGroups, shared/private handle maps,
  * meta stream handle).
  */
object FlinkMetadataIO {

  val HeaderMagic = 0x4960672d
  val SavepointVersion = 2
  /** Flink >=1.11 checkpoint metadata (MetadataV3Serializer): the
    * legacy chain-length int becomes an operator-coordinator stream
    * handle, subtask states gain trailing channel-state collections
    * (empty for savepoints, which are always aligned), and stream
    * handles gain the RELATIVE tag of relocatable savepoints. Read
    * support only — writes stay v2, the reference's pinned target.
    */
  val MetadataV3Version = 3
  /** Flink >=1.14 checkpoint metadata (MetadataV4Serializer, FLIP-147
    * "checkpoints after tasks finished"): the v3 layout plus finished-
    * ness markers — an operator whose tasks all completed writes the
    * sentinel subtask count -1 (fully finished, no subtask states), and
    * each subtask entry gains a leading boolean (true = finished, no
    * further bytes for that subtask). 1.14 savepoints are also fully
    * relocatable: handles to files inside the savepoint dir are written
    * with the RELATIVE tag. Read AND write: a savepoint carrying
    * finished markers round-trips as v4; otherwise writes stay v2/v3.
    */
  val MetadataV4Version = 4
  val MasterStateMagic = 0xc96b1696

  val NullHandle = 0
  val ByteStreamHandle = 1
  val FileStreamHandle = 2
  val KeyGroupsHandle = 3
  val PartitionableOpHandle = 4
  val IncrementalKeyGroupsHandle = 5
  /** Relocatable-savepoint file handle (Flink >=1.11): path relative to
    * the checkpoint dir, so the savepoint can be moved wholesale.
    */
  val RelativeStreamHandle = 6

  /** Sniff: does this file start with Flink's checkpoint magic? */
  def isFlinkMetadata(head: Array[Byte]): Boolean =
    head.length >= 4 &&
      ((head(0) & 0xff) << 24 | (head(1) & 0xff) << 16 |
        (head(2) & 0xff) << 8 | (head(3) & 0xff)) == HeaderMagic

  // ------------------------------------------------------------ write

  /** NO_OVERWRITE `_metadata` write (reference parity with
    * StateMetadataUtils.java:189-194, through
    * [[SnapshotFs.writeMetadata]]). Emits keyed KEY_GROUPS handles
    * and non-keyed PARTITIONABLE operator handles (inline byte-stream
    * delegates). A rejected write never leaves a half-written
    * `_metadata` behind.
    *
    * Version selection: v2 (the reference's pinned 1.7 target) unless
    * any operator carries v3 coordinator state, in which case the v3
    * envelope is written so the coordinator bytes replay verbatim — a
    * v3-loaded savepoint rewrites as v3, never silently dropping its
    * enumerator checkpoints.
    */
  def write(dirStr: String, meta: SavepointMeta): Path = {
    // pre-validate: every keyed file of every operator must be in the
    // Flink stream layout (a loaded incremental checkpoint's RocksDB
    // stub handles cannot be re-emitted — rewrite those operators'
    // rows, or keep the graft dialect)
    meta.operators.foreach { op =>
      op.keyedFiles.foreach { f =>
        require(f.kind == KeyedFileHandle.FlinkStreamKind ||
          f.kind == KeyedFileHandle.RocksDbKind,
          s"operator ${op.uid} subtask ${f.subtaskIndex}: keyed file is " +
            s"not in the Flink stream layout (kind ${f.kind}); rewrite " +
            "its rows with the Flink dialect (e.g. add " +
            "reader.getAllUnreadKeyedStateRows) or use the graft dialect")
      }
      op.operatorId.foreach { c =>
        require("0123456789abcdef".contains(c), s"bad operator id ${op.operatorId}")
      }
    }
    val dirQualified = SnapshotFs.qualify(new Path(dirStr)).toUri.getPath
    val version =
      if (meta.operators.exists(o => o.fullyFinished || o.finishedSubtasks.nonEmpty))
        MetadataV4Version
      else if (meta.operators.exists(_.coordinatorState.isDefined)) MetadataV3Version
      else SavepointVersion
    SnapshotFs.writeMetadata(dirStr) { d =>
      d.writeInt(HeaderMagic)
      d.writeInt(version)
      d.writeLong(meta.checkpointId)
      // master states pass through verbatim (reference carries
      // oldSavepoint.getMasterStates() into every rewritten savepoint,
      // StateMetadataUtils.java:124): same magic/length framing, payload
      // bytes untouched
      d.writeInt(meta.masterStates.size)
      meta.masterStates.foreach { bytes =>
        d.writeInt(MasterStateMagic)
        d.writeInt(bytes.length)
        d.write(bytes)
      }
      d.writeInt(meta.operators.size)
      meta.operators.foreach { op =>
        val idBytes = hexToBytes(op.operatorId)
        d.writeLong(longAt(idBytes, 0))
        d.writeLong(longAt(idBytes, 8))
        d.writeInt(op.parallelism)
        d.writeInt(op.maxParallelism)
        if (version >= MetadataV3Version)
          // coordinator state replays verbatim (or null)
          op.coordinatorState match {
            case None    => d.writeByte(NullHandle)
            case Some(b) => d.write(b)
          }
        else
          d.writeInt(1) // legacy chain length
        val keyedBySubtask = op.keyedFiles.map(f => f.subtaskIndex -> f).toMap
        val nonKeyedSubtasks = op.nonKeyed.filter { case (_, b) =>
          b.listStates.nonEmpty || b.broadcastStates.nonEmpty
        }
        val statefulSubtasks = (keyedBySubtask.keySet ++ nonKeyedSubtasks.keySet ++
          op.rawOperatorState.keySet ++ op.rawKeyedState.keySet).toSeq.sorted
        if (op.fullyFinished) {
          // v4 sentinel: the operator completed — it must not carry any
          // subtask state, and nothing follows the marker
          require(statefulSubtasks.isEmpty,
            s"operator ${op.uid} is marked fully finished but carries " +
              s"subtask state for ${statefulSubtasks.mkString(",")}")
          d.writeInt(-1)
        } else {
        val subtasks = (statefulSubtasks ++
          op.finishedSubtasks.filterNot(statefulSubtasks.contains)).sorted
        d.writeInt(subtasks.size)
        subtasks.foreach { subtask =>
          d.writeInt(subtask)
          val finished = op.finishedSubtasks.contains(subtask)
          if (version == MetadataV4Version) {
            require(!finished || !statefulSubtasks.contains(subtask),
              s"operator ${op.uid} subtask $subtask is marked finished " +
                "but carries state")
            d.writeBoolean(finished)
          }
          if (!finished) {
          d.writeLong(-1L) // legacy duration
          d.writeInt(0)    // legacy state count
          // managed operator (non-keyed) state: PARTITIONABLE handle
          // with an inline byte-stream delegate
          nonKeyedSubtasks.get(subtask) match {
            case None => d.writeInt(0)
            case Some(b) =>
              d.writeInt(1)
              val (bytes, stateOffsets) = FlinkOperatorStateIO.write(b)
              d.writeByte(PartitionableOpHandle)
              d.writeInt(stateOffsets.size)
              stateOffsets.foreach { so =>
                d.writeUTF(so.name)
                d.writeByte(so.mode)
                d.writeInt(so.offsets.size)
                so.offsets.foreach(d.writeLong)
              }
              d.writeByte(ByteStreamHandle)
              d.writeUTF(s"op-${op.operatorId}-sub-$subtask")
              d.writeInt(bytes.length)
              d.write(bytes)
          }
          // raw operator state: verbatim section replay (reference keeps
          // subtaskState.getRawOperatorState() untouched,
          // OperatorStateWriter.java:266-280)
          op.rawOperatorState.get(subtask) match {
            case None        => d.writeInt(0)
            case Some(bytes) => d.writeInt(1); d.write(bytes)
          }
          // managed keyed: KEY_GROUPS (stream) or INCREMENTAL (native
          // RocksDB checkpoint dir) handle, or null
          keyedBySubtask.get(subtask) match {
            case None => d.writeByte(NullHandle)
            case Some(f) if f.kind == KeyedFileHandle.RocksDbKind =>
              val dirPath = KeyedFileHandle.resolve(meta.basePath, f.relativePath)
              val files = SnapshotFs.list(dirPath).filter(_.isFile)
                .sortBy(_.getPath.getName)
              // a stub dir from a LOADED incremental handle (manifest +
              // partially materialized files) is not a real checkpoint;
              // only writer-produced / genuine RocksDB dirs re-emit
              require(!files.exists(_.getPath.getName == RocksDbCheckpoints.ManifestName),
                s"operator ${op.uid} subtask $subtask: keyed dir is a " +
                  "localization stub of a loaded incremental checkpoint; " +
                  "rewrite its rows instead of re-emitting the handle")
              d.writeByte(IncrementalKeyGroupsHandle)
              d.writeLong(meta.checkpointId)
              d.writeUTF(s"graft-${op.operatorId}-$subtask")
              d.writeInt(f.kgStart)
              d.writeInt(f.kgEnd - f.kgStart + 1)
              // sst files are the shared (dedup-able across checkpoints)
              // state, misc files (CURRENT/MANIFEST/OPTIONS) private —
              // Flink's own split for incremental RocksDB handles
              val (sst, misc) = files.partition(_.getPath.getName.endsWith(".sst"))
              def writeFileMap(fsList: Seq[org.apache.hadoop.fs.FileStatus]): Unit = {
                d.writeInt(fsList.size)
                fsList.foreach { st =>
                  d.writeUTF(st.getPath.getName)
                  d.writeByte(FileStreamHandle)
                  d.writeLong(st.getLen)
                  d.writeUTF(st.getPath.toString)
                }
              }
              writeFileMap(sst.toSeq)
              writeFileMap(misc.toSeq)
              // meta state: the serialization proxy (codec resolution
              // for incremental loads, same as the read path expects)
              val proxy = FlinkProxyIO.toBytes(FlinkProxyIO.Proxy(
                op.compression,
                op.keyCodecId.getOrElse(throw new IllegalStateException(
                  s"operator ${op.uid}: incremental handle needs a key codec")),
                op.states))
              d.writeByte(ByteStreamHandle)
              d.writeUTF("meta")
              d.writeInt(proxy.length)
              d.write(proxy)
            case Some(f) =>
              d.writeByte(KeyGroupsHandle)
              d.writeInt(f.kgStart)
              d.writeInt(f.kgEnd - f.kgStart + 1)
              f.offsets.foreach(d.writeLong)
              val resolved = KeyedFileHandle.resolve(meta.basePath, f.relativePath)
              // qualify so the emitted reference is absolute even when
              // the SOURCE savepoint was loaded from a relative path —
              // an unqualified path would re-resolve against the NEW
              // dir on read and dangle
              val p = SnapshotFs.qualify(resolved)
              // fail fast on a missing/unreadable state file: a
              // savepoint referencing absent state must not be written
              val size = SnapshotFs.length(p)
              if (version == MetadataV4Version &&
                  KeyedFileHandle.isRelative(f.relativePath) &&
                  // relocatability requires CO-LOCATION: only files that
                  // actually live in the output dir may be referenced
                  // relative to it (a carried-over handle whose file
                  // stays in the source savepoint must stay absolute)
                  Option(p.getParent).exists(_.toUri.getPath == dirQualified)) {
                // 1.14 savepoints are fully relocatable: in-dir state
                // files are referenced relative to the metadata dir
                d.writeByte(RelativeStreamHandle)
                d.writeUTF(f.relativePath)
                d.writeLong(size)
              } else {
                d.writeByte(FileStreamHandle)
                d.writeLong(size)
                d.writeUTF(p.toString)
              }
          }
          // raw keyed: verbatim section replay, or null. A raw handle's
          // file references are replayed as written (real Flink 1.7
          // emits absolute URIs, which stay valid from the new dir —
          // the reference's handle-object passthrough has the same
          // property).
          op.rawKeyedState.get(subtask) match {
            case None        => d.writeByte(NullHandle)
            case Some(bytes) => d.write(bytes)
          }
          if (version >= MetadataV3Version) {
            d.writeInt(0) // input-channel state: none (aligned)
            d.writeInt(0) // result-subpartition state: none
          }
          } // !finished
        }
        } // fullyFinished else
      }
    }
  }

  // ------------------------------------------------------------- read

  /** Parses a Flink `_metadata` from `in`, whose handles resolve
    * against `basePath`; [[MetadataIO.load]] opens and closes it.
    */
  private[core] def read(in: InputStream, basePath: String): SavepointMeta = {
    val d = new DataInputStream(in)
    val magic = d.readInt()
    require(magic == HeaderMagic, f"not a Flink checkpoint: magic 0x$magic%08x")
    val version = d.readInt()
    require(version == SavepointVersion || version == MetadataV3Version ||
      version == MetadataV4Version,
      s"unsupported savepoint metadata version $version (supported: 2, 3, 4)")
    val checkpointId = d.readLong()
    val nMaster = d.readInt()
    val masterStates = (0 until nMaster).map { _ =>
      val magic = d.readInt()
      require(magic == MasterStateMagic,
        f"corrupt master state: magic 0x$magic%08x")
      val len = d.readInt()
      val bytes = new Array[Byte](len)
      d.readFully(bytes)
      bytes
    }
    val nOps = d.readInt()
    val ops = (0 until nOps).map { _ =>
      val idBytes = new Array[Byte](16)
      putLong(idBytes, 0, d.readLong())
      putLong(idBytes, 8, d.readLong())
      val opId = bytesToHex(idBytes)
      val par = d.readInt()
      val maxPar = d.readInt()
      // v2: legacy chain length (always 1). v3 (Flink >=1.11,
      // MetadataV3Serializer): an operator-coordinator stream handle
      // instead — staged verbatim so a drop is never silent.
      val coordinator: Option[Array[Byte]] =
        if (version == SavepointVersion) { d.readInt(); None }
        else Some(capture(d)(skipStreamHandle)).filterNot(isNullSection)
      // v4 sentinel -1: FLIP-147 fully-finished operator, no subtasks
      val nSubRaw = d.readInt()
      val fullyFinished = version == MetadataV4Version && nSubRaw == -1
      require(nSubRaw >= 0 || fullyFinished,
        s"operator $opId: bad subtask count $nSubRaw for version $version")
      val nSub = if (fullyFinished) 0 else nSubRaw
      val files = scala.collection.mutable.ArrayBuffer.empty[KeyedFileHandle]
      val nonKeyed = scala.collection.mutable.Map.empty[Int, OperatorBackendState]
      val proxySources = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
      val rawOp = scala.collection.mutable.Map.empty[Int, Array[Byte]]
      val rawKeyed = scala.collection.mutable.Map.empty[Int, Array[Byte]]
      val finishedSub = scala.collection.mutable.Set.empty[Int]
      (0 until nSub).foreach { _ =>
        val subtask = d.readInt()
        // v4: a finished subtask is a single boolean, no state body
        val finished = version == MetadataV4Version && d.readBoolean()
        if (finished) finishedSub += subtask
        else {
        d.readLong() // legacy duration
        val nLegacy = d.readInt()
        (0 until nLegacy).foreach(_ => readStreamHandle(d)) // absorb
        if (d.readInt() == 1)
          readOperatorHandle(d, basePath).foreach(nonKeyed(subtask) = _)
        // raw operator state: arbitrary user bytes — stage the handle
        // section VERBATIM without fetching or parsing the delegate
        // (it is not an OperatorBackendSerializationProxy). Replayed
        // byte-identically on write (reference passthrough,
        // OperatorStateWriter.java:266-280).
        if (d.readInt() == 1)
          rawOp(subtask) = capture(d)(skipOperatorHandle)
        readKeyedHandle(d, basePath, subtask, proxySources).foreach(files += _)
        // raw keyed: stage the full handle section verbatim (heap
        // timers of a real Flink job live here)
        val rk = capture(d)(skipKeyedHandle)
        if (!isNullSection(rk)) rawKeyed(subtask) = rk
        if (version >= MetadataV3Version) {
          // v3+ channel state (unaligned checkpoints): savepoints are
          // always aligned, so both collections are empty; reject a
          // non-empty one rather than guess its layout
          val nIn = d.readInt()
          require(nIn == 0, "unaligned-checkpoint input-channel state " +
            "is not supported; take an (aligned) savepoint instead")
          val nOut = d.readInt()
          require(nOut == 0, "unaligned-checkpoint result-subpartition " +
            "state is not supported; take an (aligned) savepoint instead")
        }
        }
      }
      (OperatorStateMeta(opId, opId, par, maxPar, None, Seq.empty,
        compression = false, files.toSeq, nonKeyed.toMap,
        rawOperatorState = rawOp.toMap, rawKeyedState = rawKeyed.toMap,
        coordinatorState = coordinator, fullyFinished = fullyFinished,
        finishedSubtasks = finishedSub.toSet),
        proxySources.headOption)
    }
    // resolve codecs/compression per operator from the proxy: full
    // savepoints carry it at the head of each keyed file, incremental
    // checkpoints in their dedicated meta state handle (reference:
    // StateMetadataUtils.getKeyedBackendSerializationProxy, :127-140)
    val resolved = ops.map { case (op, incProxyBytes) =>
      op.keyedFiles.find(_.kind == KeyedFileHandle.FlinkStreamKind) match {
        case Some(f) =>
          val sin = SnapshotFs.open(KeyedFileHandle.resolve(basePath, f.relativePath))
          try {
            val proxy = FlinkProxyIO.read(new BufferedInputStream(sin))
            op.copy(keyCodecId = Some(proxy.keyCodecId),
              states = proxy.states, compression = proxy.compression)
          } finally sin.close()
        case None =>
          incProxyBytes match {
            case Some(bytes) =>
              val proxy = FlinkProxyIO.read(new java.io.ByteArrayInputStream(bytes))
              op.copy(keyCodecId = Some(proxy.keyCodecId),
                states = proxy.states, compression = proxy.compression)
            case None => op
          }
      }
    }
    SavepointMeta(checkpointId, basePath, resolved, Dialect.Flink,
      masterStates)
  }

  /** Parse one keyed-state handle. KEY_GROUPS -> a seekable stream-file
    * handle. INCREMENTAL -> a RocksDB "stub dir" handle: the handle's
    * small inline files are materialized, remote file references are
    * listed in a manifest, and the executor-side localize step
    * assembles the actual checkpoint dir before opening RocksDB — the
    * reference's S4 transfer shape (RocksDBCheckpointIterator.java:
    * 92-148). The proxy bytes from the meta state handle are collected
    * into `proxyOut` for codec resolution.
    */
  private def readKeyedHandle(
      d: DataInputStream,
      basePath: String,
      subtask: Int,
      proxyOut: scala.collection.mutable.ArrayBuffer[Array[Byte]]): Option[KeyedFileHandle] =
    d.readByte().toInt match {
      case NullHandle => None
      case KeyGroupsHandle =>
        val kgStart = d.readInt()
        val numKgs = d.readInt()
        val offsets = (0 until numKgs).map(_ => d.readLong())
        readStreamHandle(d) match {
          case FileHandle(path, _) =>
            Some(KeyedFileHandle(subtask, path, kgStart, kgStart + numKgs - 1,
              offsets, KeyedFileHandle.FlinkStreamKind))
          case ByteHandle(_, bytes) =>
            // inline state: materialize so the scan can seek it; the
            // scan of the loaded savepoint reads it, so it lives until
            // JVM exit
            val tmp = graft.TempDirs.track(
              java.nio.file.Files.createTempFile("graft-flink-state", ".bin"))
            java.nio.file.Files.write(tmp, bytes)
            Some(KeyedFileHandle(subtask, tmp.toAbsolutePath.toString, kgStart,
              kgStart + numKgs - 1, offsets, KeyedFileHandle.FlinkStreamKind))
          case NullStream =>
            None
        }
      case IncrementalKeyGroupsHandle =>
        d.readLong() // checkpoint id
        d.readUTF()  // backend identifier
        val kgStart = d.readInt()
        val numKgs = d.readInt()
        val shared = readHandleMap(d)
        val priv = readHandleMap(d)
        readStreamHandle(d) match { // meta state: the serialization proxy
          case ByteHandle(_, bytes) => proxyOut += bytes
          case FileHandle(path, _) =>
            proxyOut += SnapshotFs.readAll(KeyedFileHandle.resolve(basePath, path))
          case NullStream =>
        }
        // stub dir: inline files written out, remote files manifested.
        // Location is driver-local by default; on a multi-node cluster
        // point graft.flink.incremental.stage-dir at shared storage.
        val stageOverride = sys.props.get("graft.flink.incremental.stage-dir")
        // driver-local temp is invisible to executors: fail fast on a
        // non-local master instead of an opaque task-time FS error
        if (stageOverride.isEmpty) {
          // getActiveSession is thread-local; fall back to the default
          // session so the guard also fires from non-session threads
          val master = org.apache.spark.sql.SparkSession.getActiveSession
            .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
            .map(_.sparkContext.master)
          if (master.exists(m => !m.startsWith("local")))
            throw new IllegalStateException(
              "incremental checkpoint staging defaults to driver-local " +
                s"temp, which executors on master '${master.get}' cannot " +
                "read; set -Dgraft.flink.incremental.stage-dir to a " +
                "shared filesystem path")
        }
        val stage = stageOverride
          .map(java.nio.file.Paths.get(_))
          .getOrElse(java.nio.file.Paths.get(
            System.getProperty("java.io.tmpdir")))
        java.nio.file.Files.createDirectories(stage)
        val stub = graft.TempDirs.track(
          java.nio.file.Files.createTempDirectory(stage, "graft-flink-inc"))
        val remote = (shared ++ priv).flatMap {
          case (name, ByteHandle(_, bytes)) =>
            java.nio.file.Files.write(stub.resolve(name), bytes)
            None
          case (name, FileHandle(path, _)) =>
            Some(name -> KeyedFileHandle.resolve(basePath, path).toString)
          case (_, NullStream) => None
        }
        // local staging like the inline files: a checksummed-FS create
        // costs milliseconds per file, on every load
        java.nio.file.Files.write(stub.resolve(RocksDbCheckpoints.ManifestName),
          RocksDbCheckpoints.manifestBytes(remote))
        Some(KeyedFileHandle(subtask, stub.toAbsolutePath.toString, kgStart,
          kgStart + numKgs - 1, Seq.empty, KeyedFileHandle.RocksDbKind))
      case other =>
        throw new IllegalArgumentException(s"unknown keyed state handle tag $other")
    }

  /** Consume a keyed-state handle's structure WITHOUT side effects —
    * no temp files, no stub-dir staging, no proxy fetch. Used for raw
    * keyed state, whose payload is discarded (mirror of
    * [[skipOperatorHandle]]).
    */
  private def skipKeyedHandle(d: DataInputStream): Unit =
    d.readByte().toInt match {
      case NullHandle =>
      case KeyGroupsHandle =>
        d.readInt() // key-group start
        val numKgs = d.readInt()
        (0 until numKgs).foreach(_ => d.readLong())
        readStreamHandle(d) // inline bytes consumed; file refs not fetched
        ()
      case IncrementalKeyGroupsHandle =>
        d.readLong() // checkpoint id
        d.readUTF()  // backend identifier
        d.readInt(); d.readInt() // key-group range
        readHandleMap(d) // shared
        readHandleMap(d) // private
        readStreamHandle(d) // meta state
        ()
      case other =>
        throw new IllegalArgumentException(s"unknown keyed state handle tag $other")
    }

  /** PARTITIONABLE_OPERATOR_STATE_HANDLE -> restored in-memory backend
    * (S8: driver-side, like the reference's
    * `createOperatorStateBackendFromSnapshot`).
    */
  private def readOperatorHandle(
      d: DataInputStream,
      basePath: String): Option[OperatorBackendState] = {
    val tag = d.readByte().toInt
    require(tag == PartitionableOpHandle,
      s"expected partitionable operator state handle, got tag $tag")
    val n = d.readInt()
    val offsets = (0 until n).map { _ =>
      val name = d.readUTF()
      val mode = d.readByte()
      val nOff = d.readInt()
      FlinkOperatorStateIO.StateOffsets(name, mode, (0 until nOff).map(_ => d.readLong()))
    }
    readStreamHandle(d) match {
      case NullStream => None
      case ByteHandle(_, bytes) =>
        Some(FlinkOperatorStateIO.read(bytes, offsets))
      case FileHandle(path, _) =>
        Some(FlinkOperatorStateIO.read(
          SnapshotFs.readAll(KeyedFileHandle.resolve(basePath, path)), offsets))
    }
  }

  /** Consume a PARTITIONABLE handle's structure (offsets map + stream
    * handle) without interpreting the delegate bytes — used for raw
    * operator state, whose payload is opaque to the backend.
    */
  private def skipOperatorHandle(d: DataInputStream): Unit = {
    val tag = d.readByte().toInt
    require(tag == PartitionableOpHandle,
      s"expected partitionable operator state handle, got tag $tag")
    val n = d.readInt()
    (0 until n).foreach { _ =>
      d.readUTF(); d.readByte()
      val nOff = d.readInt()
      (0 until nOff).foreach(_ => d.readLong())
    }
    readStreamHandle(d) // inline bytes are consumed; file refs not fetched
    ()
  }

  private sealed trait StreamHandle
  private case object NullStream extends StreamHandle
  private final case class FileHandle(path: String, size: Long) extends StreamHandle
  private final case class ByteHandle(name: String, bytes: Array[Byte]) extends StreamHandle

  private def readStreamHandle(d: DataInputStream): StreamHandle =
    d.readByte().toInt match {
      case NullHandle => NullStream
      case FileStreamHandle =>
        val size = d.readLong()
        FileHandle(d.readUTF(), size)
      case RelativeStreamHandle =>
        // v3 relocatable savepoint: relative path first, then size; the
        // relative path resolves against the metadata dir like our own
        // relative handles
        val path = d.readUTF()
        val size = d.readLong()
        FileHandle(path, size)
      case ByteStreamHandle =>
        val name = d.readUTF()
        val len = d.readInt()
        val bytes = new Array[Byte](len)
        d.readFully(bytes)
        ByteHandle(name, bytes)
      case other =>
        throw new IllegalArgumentException(s"unknown stream state handle tag $other")
    }

  /** Consume a stream handle without materializing inline bytes into a
    * [[StreamHandle]] value — used under [[capture]].
    */
  private def skipStreamHandle(d: DataInputStream): Unit = { readStreamHandle(d); () }

  /** Run `parse` against a tee of `d`, returning every byte it consumed
    * VERBATIM. The parse functions validate structure; the returned
    * bytes are the staging currency for raw-state / coordinator-state
    * passthrough.
    */
  private def capture(d: DataInputStream)(parse: DataInputStream => Unit): Array[Byte] = {
    val buf = new java.io.ByteArrayOutputStream()
    val tee: java.io.InputStream = new java.io.InputStream {
      override def read(): Int = {
        val b = d.read(); if (b >= 0) buf.write(b); b
      }
      override def read(b: Array[Byte], off: Int, len: Int): Int = {
        val n = d.read(b, off, len); if (n > 0) buf.write(b, off, n); n
      }
    }
    parse(new DataInputStream(tee))
    buf.toByteArray
  }

  /** A captured section that is just the single NULL_HANDLE tag. */
  private def isNullSection(bytes: Array[Byte]): Boolean =
    bytes.length == 1 && bytes(0) == NullHandle.toByte

  private def readHandleMap(d: DataInputStream): Seq[(String, StreamHandle)] = {
    val n = d.readInt()
    (0 until n).map { _ => d.readUTF() -> readStreamHandle(d) }
  }

  // ---------------------------------------------------------- helpers

  private def hexToBytes(hex: String): Array[Byte] = {
    require(hex.length == 32, s"operator id must be 32 hex chars, got '$hex'")
    Array.tabulate(16)(i =>
      Integer.parseInt(hex.substring(2 * i, 2 * i + 2), 16).toByte)
  }

  private def bytesToHex(b: Array[Byte]): String =
    b.map(x => f"${x & 0xff}%02x").mkString

  private def longAt(b: Array[Byte], off: Int): Long = {
    var v = 0L
    (0 until 8).foreach(i => v = (v << 8) | (b(off + i) & 0xffL))
    v
  }

  private def putLong(b: Array[Byte], off: Int, v: Long): Unit =
    (0 until 8).foreach(i => b(off + i) = ((v >>> (8 * (7 - i))) & 0xff).toByte)
}
