package graft.core.meta

/** Driver-side savepoint metadata model (SURVEY.md §1.1). Mirrors the
  * reference's `Savepoint` / `OperatorState` / state-meta structures
  * (utils/StateMetadataUtils.java:59-87, 149-174) in plain Scala case
  * classes. All of this is driver-only: no Spark job touches metadata.
  */

/** What kind of keyed state a name refers to. */
object StateKind {
  val Value = 0: Byte
  val List = 1: Byte
  val Map = 2: Byte
}

/** Per-state metadata: the stand-in for Flink's `StateMetaInfoSnapshot`
  * (reference: StateMetadataUtils.java:149-162). Codec ids resolve via
  * [[graft.core.codec.CodecRegistry]]; `ttl` marks TTL-wrapped values
  * (detect + unwrap parity with StateMetadataUtils.java:196-206).
  */
final case class StateMeta(
    name: String,
    kind: Byte,
    valueCodecId: String,
    mapKeyCodecId: Option[String] = None,
    // namespace serializer: "void" (VoidNamespace, 1 byte) for plain
    // keyed state; "flink-window" (TimeWindow: start/end longs) for
    // window-operator state (P7). Carried through both dialects so the
    // Flink proxy declares the true namespace serializer.
    namespaceCodecId: String = "void") {
  def ttl: Boolean = graft.core.codec.CodecRegistry.isTtl(valueCodecId)
}

/** One keyed-state file written by one subtask: where it lives and the
  * per-key-group offsets into it (the stand-in for Flink's
  * `KeyGroupsStateHandle` + `KeyGroupRangeOffsets`, reference:
  * RocksDBSavepointWriter.java:113-121).
  */
final case class KeyedFileHandle(
    subtaskIndex: Int,
    relativePath: String,
    kgStart: Int,
    kgEnd: Int,
    offsets: Seq[Long],
    kind: Byte = KeyedFileHandle.StreamKind)

object KeyedFileHandle {
  /** Full-savepoint stream file (graft dialect layout). */
  val StreamKind: Byte = 0
  /** Incremental checkpoint: a RocksDB directory, one column family per
    * state (reference S4; offsets unused).
    */
  val RocksDbKind: Byte = 1
  /** Full-savepoint stream file in the REAL Flink layout: proxy
    * metaBytes head, absolute offsets (0 = empty group), flag-bit
    * state-id runs ([[graft.core.scan.FlinkStreamFormat]]).
    */
  val FlinkStreamKind: Byte = 2
  /** Parsed from metadata but not scannable (e.g. a Flink incremental
    * RocksDB handle whose file set was not materialized); relativePath
    * holds the reason. Scanning raises it as the error.
    */
  val UnsupportedKind: Byte = 3

  /** True when a handle path is relative to its savepoint directory:
    * neither rooted nor scheme-qualified (`hdfs://…`, `file:…`).
    */
  def isRelative(path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    !p.isAbsolute && p.toUri.getScheme == null
  }

  /** The one handle-path rule: a relative path resolves against the
    * savepoint directory `basePath`, any other path stands as written.
    */
  def resolve(basePath: String, path: String): org.apache.hadoop.fs.Path =
    if (isRelative(path)) new org.apache.hadoop.fs.Path(basePath, path)
    else new org.apache.hadoop.fs.Path(path)
}

/** Savepoint wire dialect: graft's own compact layout vs the
  * reconstructed Flink 1.7 layout (`_metadata` + proxy + stream).
  */
object Dialect {
  val Graft: Byte = 0
  val Flink: Byte = 1
}

/** Non-keyed (operator) state of one subtask: named list states with a
  * distribution mode, and broadcast key-value states. Kept fully
  * in-memory, like the reference (OperatorStateReader.java:161-163;
  * README.md:115). Entries are raw codec-encoded bytes.
  */
object ListStateMode {
  val SplitDistribute = 0: Byte
  val Union = 1: Byte
}

final case class OperatorBackendState(
    listStates: Map[String, (Byte, Seq[Array[Byte]])] = Map.empty,
    broadcastStates: Map[String, Seq[(Array[Byte], Array[Byte])]] = Map.empty,
    // element / (key, value) codec ids, used by the FLINK dialect to
    // declare serializer snapshots in the operator-backend proxy; when
    // absent, `flink-java` (Flink's JavaSerializer — the
    // DefaultOperatorStateBackend default) is declared. Populated on
    // Flink-dialect reads; the graft dialect stores raw bytes only.
    listCodecs: Map[String, String] = Map.empty,
    broadcastCodecs: Map[String, (String, String)] = Map.empty)

/** Per-operator state (reference OperatorState: uid-hashed id,
  * parallelism, maxParallelism, per-subtask handles).
  */
final case class OperatorStateMeta(
    uid: String,
    operatorId: String, // 32-hex murmur3_128(uid), Identifiers.operatorId
    parallelism: Int,
    maxParallelism: Int,
    keyCodecId: Option[String],
    states: Seq[StateMeta],
    compression: Boolean,
    keyedFiles: Seq[KeyedFileHandle],
    nonKeyed: Map[Int, OperatorBackendState] = Map.empty,
    // Raw (stream-written) state carried VERBATIM per subtask — the
    // serialized Flink handle bytes, never interpreted. The reference
    // puts `subtaskState.getRawOperatorState()` / `getRawKeyedState()`
    // unchanged into every rewritten OperatorState
    // (OperatorStateWriter.java:266-280); we stage the exact section
    // bytes on read and replay them on write. Keys are subtask indexes.
    // rawOperatorState values EXCLUDE the i32 presence flag (they start
    // at the handle tag byte); rawKeyedState values are the full keyed
    // handle serialization starting at its tag byte.
    rawOperatorState: Map[Int, Array[Byte]] = Map.empty,
    rawKeyedState: Map[Int, Array[Byte]] = Map.empty,
    // Flink >=1.11 (metadata v3) operator-coordinator state, staged as
    // the verbatim stream-handle bytes. Read-only carry: the v2 writer
    // cannot represent it, so Flink-dialect rewrites refuse while it is
    // present rather than silently dropping it.
    coordinatorState: Option[Array[Byte]] = None,
    // Flink >=1.14 (metadata v4, FLIP-147 "checkpoints after tasks
    // finished"): a bounded operator whose every task completed
    // snapshots as FULLY FINISHED — it has no subtask states at all —
    // and an individual completed task snapshots as a finished subtask
    // (index in `finishedSubtasks`, no state for that index). Either
    // marker selects the v4 envelope on Flink-dialect writes.
    fullyFinished: Boolean = false,
    finishedSubtasks: Set[Int] = Set.empty) {

  /** True if any subtask carries raw keyed or raw operator state. */
  def hasRawState: Boolean = rawOperatorState.nonEmpty || rawKeyedState.nonEmpty

  def stateId(name: String): Int = states.indexWhere(_.name == name) match {
    case -1 => throw new NoSuchElementException(s"no state named '$name' in operator $uid")
    case i  => i
  }
  def stateName(id: Int): String = states(id).name
  def stateMeta(name: String): StateMeta = states(stateId(name))
}

/** The savepoint: checkpoint id + operator states (reference
  * Savepoint, StateMetadataUtils.java:59-74), plus the checkpoint's
  * master states carried as opaque payload blobs. The reference
  * propagates `oldSavepoint.getMasterStates()` verbatim into every
  * rewritten savepoint (StateMetadataUtils.java:124); we do the same —
  * the blob is the serialized hook payload between the per-state
  * magic/length framing, never interpreted, re-framed identically on
  * write ([[graft.core.flink.FlinkMetadataIO]]).
  */
final case class SavepointMeta(
    checkpointId: Long,
    basePath: String,
    operators: Seq[OperatorStateMeta],
    dialect: Byte = Dialect.Graft,
    masterStates: Seq[Array[Byte]] = Seq.empty) {

  /** Match by uid, by operator-id hex, or by murmur3_128(uid) — the
    * last covers real Flink metadata, which stores only hashed ids
    * (the reference does the same lookup, StateMetadataUtils.java:78-81
    * via Identifiers.operatorId).
    */
  def operator(uid: String): OperatorStateMeta = {
    lazy val hashed = Identifiers.operatorId(uid)
    operators.find(o => o.uid == uid || o.operatorId == uid ||
        o.operatorId == hashed).getOrElse(
      throw new NoSuchElementException(s"no operator with uid '$uid' in savepoint"))
  }

  /** `f` with a relative path resolved against this savepoint's
    * directory, so a `_metadata` written elsewhere still reaches the
    * file; absolute handles come back unchanged.
    */
  def absolutized(f: KeyedFileHandle): KeyedFileHandle =
    if (KeyedFileHandle.isRelative(f.relativePath))
      f.copy(relativePath = KeyedFileHandle.resolve(basePath, f.relativePath).toString)
    else f

  /** Metadata-level replace of operator states (reference
    * StateMetadataUtils.createNewSavepoint, :103-125).
    */
  def withReplacedOperators(replaced: Seq[OperatorStateMeta]): SavepointMeta = {
    val byId = replaced.map(o => o.operatorId -> o).toMap
    copy(operators = operators.map(o => byId.getOrElse(o.operatorId, o)))
  }
}

/** Operator uid → 128-bit operator id, murmur3_128 over UTF-8 bytes
  * (reference: utils/Identifiers.java:29-37). Guava ships in
  * /opt/spark/jars.
  */
object Identifiers {
  def operatorId(uid: String): String =
    com.google.common.hash.Hashing.murmur3_128(0)
      .hashString(uid, java.nio.charset.StandardCharsets.UTF_8).toString
}
