package graft.state

import graft.core.codec._
import graft.core.io.SnapshotFs
import graft.core.meta._
import graft.core.scan.StateStreamFormat

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions.col

/** Savepoint write path (SURVEY.md §2.10 W1-W9, §2.1 S9-S11): accumulate
  * typed / raw state rows, then run the mirror image of the reference's
  * `groupBy(operatorIndex) → sortGroup(keyGroup, stateId) → reduceGroup
  * (sequential encode)` job (OperatorStateWriter.java:245-251) as
  * `groupByKey(opIndex).flatMapSortedGroups(keyGroup, stateId)(encode)`
  * — Spark 4's `flatMapSortedGroups` gives exactly bravo's contract
  * (SURVEY.md §7.4 #3): one group per subtask, secondary-sorted, and we
  * collect only (small) file handles to the driver, never rows.
  */
final class OperatorStateWriter(
    spark: SparkSession,
    savepoint: SavepointMeta,
    uid: String) {

  private val base: OperatorStateMeta = savepoint.operator(uid)

  private var states: Vector[StateMeta] = base.states.toVector
  private var keyCodecId: Option[String] = base.keyCodecId
  private var parallelism: Int = base.parallelism
  private var maxParallelism: Int = base.maxParallelism
  private var rowsAcc: Option[Dataset[KeyedStateRow]] = None
  private var nonKeyedTransform: Option[(Int, OperatorBackendState) => OperatorBackendState] = None
  private var dialect: Byte = savepoint.dialect

  /** Output dialect: `Dialect.Flink` emits the real Flink layout
    * (`_metadata` + proxy-headed stream files, S9/S10 bit-compat);
    * `Dialect.Graft` the compact graft layout. Defaults to the loaded
    * savepoint's own dialect, so a Flink savepoint transforms back into
    * a Flink savepoint (reference behavior).
    */
  def withDialect(d: Byte): this.type = { dialect = d; this }

  private var nativeRocksDb = false

  /** Keyed-state container format: emit each subtask's state as a
    * NATIVE RocksDB checkpoint directory (one column family per state)
    * instead of a savepoint stream file — beyond the reference, which
    * reads this format (S4) but never writes it. Under the Flink
    * dialect the `_metadata` records a real INCREMENTAL_KEY_GROUPS
    * handle (sst files shared, misc private, proxy in the meta-state
    * handle); under the graft dialect a RocksDb-kind keyed file. Either
    * way the S4 scan restores it without a stream decode.
    */
  def withNativeRocksDb(): this.type = { nativeRocksDb = true; this }

  private implicit val rowEnc: org.apache.spark.sql.Encoder[KeyedStateRow] =
    Encoders.product[KeyedStateRow]

  /** W4: raw row passthrough/union — bag semantics like the reference's
    * DataSet union (OperatorStateWriter.java:127-130); duplicate
    * state+key rows are NOT deduped, last-writer is backend-ambiguous.
    */
  def addKeyedStateRows(rows: Dataset[KeyedStateRow]): this.type = {
    rowsAcc = Some(rowsAcc.fold(rows)(_ unionAll rows))
    this
  }

  def addKeyedStateRows(rows: org.apache.spark.sql.DataFrame)(
      implicit d: DummyImplicit): this.type =
    addKeyedStateRows(rows.as[KeyedStateRow])

  /** W1+W2: re-encode (K,V) pairs into an EXISTING value state's codecs.
    * Rejects TTL states exactly like the reference
    * (OperatorStateWriter.java:182-184).
    */
  def addValueState[K, V](name: String, ds: Dataset[(K, V)]): this.type = {
    val meta = states.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"state '$name' does not exist; " +
        "use createNewValueState to define it"))
    if (meta.ttl)
      throw new UnsupportedOperationException("Writing of TTL states is not supported")
    val vc = CodecRegistry.resolve(meta.valueCodecId).asInstanceOf[Codec[V]]
    encodeAndAdd(name, ds, vc)
  }

  /** W3: define/replace state metadata then encode — enables new states
    * and type changes (OperatorStateWriter.java:204-216).
    */
  def createNewValueState[K, V](name: String, ds: Dataset[(K, V)],
      valueCodec: Codec[V]): this.type = {
    states = states.filterNot(_.name == name) :+
      StateMeta(name, StateKind.Value, valueCodec.id)
    encodeAndAdd(name, ds, valueCodec)
  }

  /** Advanced companion to [[addKeyedStateRows]]: register metadata for a
    * state whose rows are supplied raw (list/map state bootstraps,
    * byte-level schema surgery). Value-state users should prefer
    * [[createNewValueState]].
    */
  def defineState(meta: StateMeta): this.type = {
    states = states.filterNot(_.name == meta.name) :+ meta
    this
  }

  /** W5: drop state metadata; its rows are filtered on write (F4). */
  def deleteKeyedState(name: String): this.type = {
    states = states.filterNot(_.name == name)
    this
  }

  /** W6: key codec for bootstrapping a previously state-less operator
    * (OperatorStateWriter.java:112-114).
    */
  def withKeyCodec[K](c: Codec[K]): this.type = { keyCodecId = Some(c.id); this }

  /** W9: max-parallelism change — the write path recomputes key-groups
    * from keys, so new parallelism parameters just re-shard.
    */
  def withParallelism(par: Int, maxPar: Int): this.type = {
    require(par >= 1 && maxPar >= par, s"bad parallelism $par/$maxPar")
    parallelism = par; maxParallelism = maxPar; this
  }

  /** S11: per-subtask non-keyed state transform, applied driver-side
    * in-memory ("executed sequentially, in-memory on the client",
    * OperatorStateWriter.java:320-321).
    */
  def transformNonKeyedState(
      f: (Int, OperatorBackendState) => OperatorBackendState): this.type = {
    nonKeyedTransform = Some(f); this
  }

  private def encodeAndAdd[K, V](name: String, ds: Dataset[(K, V)],
      vc: Codec[V]): this.type = {
    val kc = CodecRegistry.resolve(keyCodecId.getOrElse(
      throw new IllegalStateException(
        "no key codec: operator had no keyed state — call withKeyCodec")))
      .asInstanceOf[Codec[K]]
    // rows always encode in the BASE key-group space; writeAll re-shards
    // uniformly if withParallelism changed maxParallelism (W9)
    val maxPar = base.maxParallelism
    val rows = ds.map { case (k, v) =>
      StateRowEncoder.valueRow(name, k, v, kc, vc, maxPar)
    }(rowEnc)
    addKeyedStateRows(rows)
  }

  /** W7 orchestration + W8 metadata replace + S10 metadata sink: runs the
    * exact-partitioned encode job, collects handles only, assembles the
    * new savepoint under `outDir` (files + `_metadata`), and returns its
    * metadata. Untouched operators keep their (absolutized) files.
    */
  def writeAll(outDir: String): SavepointMeta = {
    val outAbs = new org.apache.hadoop.fs.Path(outDir).toString
    val finalStates = states
    val par = parallelism
    val maxPar = maxParallelism
    val compression = base.compression
    val opId = base.operatorId
    val outDialect = dialect
    // Flink layout: every state file opens with the serialized
    // KeyedBackendSerializationProxy, built driver-side once and
    // shipped to the encode tasks — exactly the reference's metaBytes
    // plumbing (RocksDBSavepointWriter.java:66-72,113)
    val metaBytes: Array[Byte] =
      if (outDialect == Dialect.Flink && rowsAcc.isDefined)
        graft.core.flink.FlinkProxyIO.toBytes(graft.core.flink.FlinkProxyIO.Proxy(
          compression,
          keyCodecId.getOrElse(throw new IllegalStateException(
            "Flink dialect requires a key codec")),
          finalStates))
      else Array.emptyByteArray

    val newFiles: Seq[KeyedFileHandle] = rowsAcc match {
      case None =>
        // metadata-only writes may not mutate the state list: existing
        // files embed state ids positional in base.states — reusing them
        // under different metadata would silently misattribute rows.
        // Parallelism CAN change without rows when the operator has no
        // keyed files (non-keyed-only op): key groups live only in the
        // keyed streams, and the non-keyed redistribution below handles
        // the subtask change.
        require(finalStates == base.states.toVector &&
          (base.keyedFiles.isEmpty ||
            (maxPar == base.maxParallelism && par == base.parallelism)),
          "state list / parallelism changed but no rows were supplied: " +
            "add the rewritten rows (e.g. reader.getAllUnreadKeyedStateRows)")
        base.keyedFiles.map(savepoint.absolutized)
      case Some(rows0) =>
        require(finalStates.nonEmpty, "rows added but no state metadata defined")
        // W9: rows are encoded in the base key-group space; re-shard by
        // decoding each key and re-assigning its group under the new
        // maxParallelism (the reference recomputes groups from keys,
        // ValueStateToKeyedStateRow.java:55)
        val rows =
          if (maxPar == base.maxParallelism) rows0
          else {
            val kc = CodecRegistry.resolve(keyCodecId.getOrElse(
              throw new IllegalStateException(
                "max-parallelism change needs a key codec to re-shard")))
            val oldMaxPar = base.maxParallelism
            val newMaxPar = maxPar
            rows0.map(r => OperatorStateWriter.reshardRow(r, oldMaxPar, newMaxPar, kc))(rowEnc)
          }
        val nameToId = finalStates.map(_.name).zipWithIndex.toMap
        val keepNames = nameToId.keySet
        // F4 RowFilter: only rows whose state still has metadata
        val kept = rows.filter(col("stateName").isin(keepNames.toSeq: _*))
        val idMap = nameToId // serializable small map
        val withIds = kept.map { r =>
          val kg = KeyGroups.readKeyGroup(r.keyAndNamespaceBytes, maxPar)
          EncRow(
            KeyGroups.operatorIndexForKeyGroup(maxPar, par, kg),
            kg, idMap(r.stateName), r.keyAndNamespaceBytes, r.valueBytes)
        }(Encoders.product[EncRow])
        val useRocks = nativeRocksDb
        val stateNames = finalStates.map(_.name)
        val handles = withIds
          .groupByKey(_.opIndex)(Encoders.scalaInt)
          .flatMapSortedGroups(col("keyGroup"), col("stateId")) {
            (opIndex: Int, it: Iterator[EncRow]) =>
              Iterator.single(
                if (useRocks)
                  OperatorStateWriter.encodeSubtaskRocks(
                    outAbs, opId, opIndex, par, maxPar, it, stateNames)
                else OperatorStateWriter.encodeSubtask(
                  outAbs, opId, opIndex, par, maxPar, compression, it,
                  outDialect, metaBytes))
          }(Encoders.product[HandleRow])
          .collect() // handles only — never rows (SURVEY §7.4 #7)
        // Subtasks whose key-group range held NO rows never appear in
        // the grouped job — but Flink writes one keyed stream per
        // subtask regardless (the proxy header alone), and an operator
        // written with zero rows must still round-trip (its serializer
        // info lives ONLY in those per-file proxies). Fill the gaps
        // driver-side with empty-iterator encodes: cheap (header-only
        // files) and layout-faithful.
        val present = handles.map(_.subtaskIndex).toSet
        val fill = (0 until par).filterNot(present).map { opIndex =>
          if (useRocks)
            OperatorStateWriter.encodeSubtaskRocks(
              outAbs, opId, opIndex, par, maxPar, Iterator.empty, stateNames)
          else OperatorStateWriter.encodeSubtask(
            outAbs, opId, opIndex, par, maxPar, compression,
            Iterator.empty, outDialect, metaBytes)
        }
        val kind =
          if (useRocks) KeyedFileHandle.RocksDbKind
          else if (outDialect == Dialect.Flink) KeyedFileHandle.FlinkStreamKind
          else KeyedFileHandle.StreamKind
        (handles ++ fill).map(h => KeyedFileHandle(h.subtaskIndex, h.relativePath,
          h.kgStart, h.kgEnd, h.offsets, kind)).toSeq.sortBy(_.subtaskIndex)
    }

    // S11: non-keyed transform, driver-side; a parallelism change first
    // redistributes entries across the new subtask count
    val redistributed =
      if (par == base.parallelism) base.nonKeyed
      else OperatorStateWriter.redistributeNonKeyed(base.nonKeyed, par)
    val newNonKeyed = nonKeyedTransform match {
      case None => redistributed
      case Some(f) =>
        (0 until par).map { i =>
          i -> f(i, redistributed.getOrElse(i, OperatorBackendState()))
        }.toMap
    }

    // raw keyed / raw operator state rides along verbatim per subtask
    // (reference passthrough, OperatorStateWriter.java:266-280). The
    // bytes are keyed by subtask index and reference the ORIGINAL
    // key-group ranges, so a parallelism change would silently orphan
    // or misalign them — refuse instead.
    if (base.hasRawState)
      require(par == base.parallelism && maxPar == base.maxParallelism,
        s"operator ${base.uid} carries raw keyed/operator state, which " +
          "is opaque and cannot be re-sharded; keep the original " +
          "parallelism or drop the raw state explicitly")
    // v4 finished markers survive metadata-only rewrites; supplying
    // rows "un-finishes" the operator (the new state is redistributed
    // across ALL subtasks, so per-subtask finished-ness no longer holds)
    val newOp = OperatorStateMeta(base.uid, opId, par, maxPar,
      keyCodecId, finalStates, compression, newFiles, newNonKeyed,
      base.rawOperatorState, base.rawKeyedState, base.coordinatorState,
      fullyFinished = base.fullyFinished && rowsAcc.isEmpty,
      finishedSubtasks = if (rowsAcc.isEmpty) base.finishedSubtasks else Set.empty)
    Savepoints.commit(savepoint, newOp, outAbs, outDialect)
  }
}

/** Shuffle row for the write job: exact subtask partitioning key +
  * secondary sort columns (reference functions/OperatorIndexForKeyGroupKey
  * .java:24-40 + KeyGroupAndStateNameKey.java:25-39 — we sort by state
  * ID, see SURVEY §2.5 A2 note).
  */
final case class EncRow(
    opIndex: Int, keyGroup: Int, stateId: Int,
    key: Array[Byte], value: Array[Byte])

final case class HandleRow(
    subtaskIndex: Int, relativePath: String, kgStart: Int, kgEnd: Int,
    offsets: Seq[Long])

object OperatorStateWriter {

  /** W9 re-shard: strip the old key-group prefix, decode the key to
    * recompute its group under the new maxParallelism, re-prefix. The
    * namespace/map-key tail bytes pass through untouched.
    */
  private[graft] def reshardRow(
      r: KeyedStateRow, oldMaxPar: Int, newMaxPar: Int,
      kc: Codec[_]): KeyedStateRow = {
    val oldPrefix = KeyGroups.prefixBytes(oldMaxPar)
    val rest = java.util.Arrays.copyOfRange(
      r.keyAndNamespaceBytes, oldPrefix, r.keyAndNamespaceBytes.length)
    val key = kc.read(new ByteReader(rest))
    val w = new ByteWriter()
    KeyGroups.writeKeyGroup(w, KeyGroups.assignToKeyGroup(key, newMaxPar), newMaxPar)
    w.writeRaw(rest)
    r.copy(keyAndNamespaceBytes = w.toBytes)
  }

  /** Redistribute non-keyed state across a new subtask count: broadcast
    * states are copied to every subtask (they are identical by
    * contract); union-list entries are gathered (each subtask re-reads
    * the full union on restore, so placement is free — we put them on
    * subtask 0); split-distribute entries are dealt round-robin.
    */
  private[graft] def redistributeNonKeyed(
      nonKeyed: Map[Int, OperatorBackendState],
      newPar: Int): Map[Int, OperatorBackendState] = {
    if (nonKeyed.isEmpty) return nonKeyed
    val old = nonKeyed.toSeq.sortBy(_._1).map(_._2)
    val listNames = old.flatMap(_.listStates.toSeq).groupBy(_._1)
    val newList: Map[Int, Map[String, (Byte, Seq[Array[Byte]])]] =
      (0 until newPar).map { i =>
        i -> listNames.flatMap { case (name, entries) =>
          val mode = entries.head._2._1
          val all = entries.flatMap(_._2._2)
          mode match {
            case ListStateMode.Union =>
              if (i == 0) Some(name -> (mode, all)) else None
            case _ => // split-distribute: round-robin deal
              val mine = all.zipWithIndex.collect {
                case (e, idx) if idx % newPar == i => e
              }
              Some(name -> (mode, mine))
          }
        }
      }.toMap
    val broadcasts = old.flatMap(_.broadcastStates.toSeq).groupBy(_._1)
      .map { case (name, entries) => name -> entries.head._2 }
    (0 until newPar).map { i =>
      i -> OperatorBackendState(newList.getOrElse(i, Map.empty), broadcasts)
    }.toMap
  }

  /** Executor-side sequential encode of one subtask's sorted rows into
    * one state file (reference S9, RocksDBSavepointWriter.java:49-183).
    * Flink dialect: proxy metaBytes head + the real stream layout with
    * absolute offsets (RocksDBSavepointWriter.java:110-121).
    */
  private[state] def encodeSubtask(
      outDir: String, opId: String, opIndex: Int, par: Int, maxPar: Int,
      compression: Boolean, it: Iterator[EncRow],
      dialect: Byte = Dialect.Graft,
      metaBytes: Array[Byte] = Array.emptyByteArray): HandleRow = {
    val (kgStart, kgEnd) = KeyGroups.keyGroupRange(maxPar, par, opIndex)
    val rel = s"op-$opId/part-$opIndex-${java.util.UUID.randomUUID().toString.take(8)}"
    val out = SnapshotFs.create(new org.apache.hadoop.fs.Path(outDir, rel), overwrite = false)
    val records =
      it.map(e => (e.keyGroup, StateStreamFormat.Record(e.stateId, e.key, e.value)))
    val offsets =
      try {
        if (dialect == Dialect.Flink) {
          out.write(metaBytes)
          graft.core.scan.FlinkStreamFormat.encode(
            out, records, kgStart, kgEnd, compression, metaBytes.length.toLong)
        } else StateStreamFormat.encode(out, records, kgStart, kgEnd, compression)
      } finally out.close()
    HandleRow(opIndex, rel, kgStart, kgEnd, offsets)
  }

  /** Executor-side NATIVE encode of one subtask's rows: stream them
    * into a local RocksDB instance (one column family per state), take
    * a real checkpoint, upload the checkpoint files to
    * `outDir/<rel>/`. The handle records the directory; offsets are
    * unused (RocksDB's own file index replaces them).
    */
  private[state] def encodeSubtaskRocks(
      outDir: String, opId: String, opIndex: Int, par: Int, maxPar: Int,
      it: Iterator[EncRow], stateNames: Seq[String]): HandleRow = {
    val (kgStart, kgEnd) = KeyGroups.keyGroupRange(maxPar, par, opIndex)
    val rel = s"op-$opId/rocks-$opIndex-${java.util.UUID.randomUUID().toString.take(8)}"
    graft.TempDirs.scoped("graft-rocks-cp") { staging =>
      val cpDir = staging.resolve("cp") // must not pre-exist (RocksDB contract)
      graft.core.scan.RocksDbCheckpoints.createCheckpoint(cpDir.toString,
        it.map(e => (stateNames(e.stateId), e.key, e.value)))
      val dst = new org.apache.hadoop.fs.Path(outDir, rel)
      SnapshotFs.mkdirs(dst)
      java.nio.file.Files.list(cpDir).forEach { f =>
        SnapshotFs.upload(f, new org.apache.hadoop.fs.Path(dst, f.getFileName.toString))
      }
    }
    HandleRow(opIndex, rel, kgStart, kgEnd, Seq.empty)
  }
}

/** W1: typed pair → raw state row (reference
  * writer/functions/ValueStateToKeyedStateRow.java:34-68): assign
  * key-group from the key, write [prefix][key][namespace], serialize the
  * value.
  */
object StateRowEncoder {
  def valueRow[K, V](name: String, key: K, value: V,
      kc: Codec[K], vc: Codec[V], maxParallelism: Int): KeyedStateRow = {
    val kg = KeyGroups.assignToKeyGroup(key, maxParallelism)
    val w = new ByteWriter()
    KeyGroups.writeKeyGroup(w, kg, maxParallelism)
    kc.write(w, key)
    Codecs.VoidNamespaceCodec.write(w, ())
    KeyedStateRow(name, w.toBytes, vc.toBytes(value))
  }
}

/** Facade + bootstrap helpers (savepoints created from scratch). */
object Savepoints {
  def load(path: String): SavepointMeta = MetadataIO.load(path)

  def reader(spark: SparkSession, sp: SavepointMeta, uid: String,
      states: Set[String] = null): OperatorStateReader =
    new OperatorStateReader(spark, sp, uid, Option(states))

  def writer(spark: SparkSession, sp: SavepointMeta, uid: String): OperatorStateWriter =
    new OperatorStateWriter(spark, sp, uid)

  /** Commits a rewrite of one operator of `sp` as a new savepoint in
    * `outDir`: the next checkpoint id, the other operators first with
    * their handles absolutized (their files stay in `sp`'s directory),
    * `newOp` last, and `sp`'s master states carried verbatim (reference:
    * every rewritten savepoint keeps oldSavepoint.getMasterStates(),
    * StateMetadataUtils.java:124). Writes `_metadata` in `dialect`.
    */
  def commit(sp: SavepointMeta, newOp: OperatorStateMeta, outDir: String,
      dialect: Byte): SavepointMeta = {
    val outAbs = new org.apache.hadoop.fs.Path(outDir).toString
    val others = sp.operators.filterNot(_.operatorId == newOp.operatorId)
      .map(o => o.copy(keyedFiles = o.keyedFiles.map(sp.absolutized)))
    val meta = SavepointMeta(sp.checkpointId + 1, outAbs, others :+ newOp,
      dialect, sp.masterStates)
    if (dialect == Dialect.Flink) graft.core.flink.FlinkMetadataIO.write(outAbs, meta)
    else MetadataIO.write(outAbs, meta)
    meta
  }

  /** An empty savepoint containing one state-less operator — the
    * bootstrap entry point (reference KeyedStateAddRemoveTest.java:50-94
    * scenario: add state to an operator that had none).
    */
  def bootstrap(uid: String, parallelism: Int, maxParallelism: Int,
      checkpointId: Long = 0L): SavepointMeta =
    SavepointMeta(checkpointId, basePath = "",
      Seq(OperatorStateMeta(uid, Identifiers.operatorId(uid), parallelism,
        maxParallelism, None, Seq.empty, compression = true, Seq.empty)))
}
