package graft.state

import graft.core.codec.{ByteReader, CodecRegistry, KeyGroups}
import graft.core.io.SnapshotFs
import graft.core.meta.{KeyedFileHandle, SavepointMeta, StateKind}

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}

/** Savepoint maintenance jobs: the state-GC / compaction side of the
  * reference's "fix corrupted state" use case (README.md:41-44) — bulk
  * rewrites of a savepoint that drop rows a restoring job should no
  * longer see.
  */
object StateMaintenance {

  /** State GC: rewrite operator `uid`'s TTL value state `stateName`
    * WITHOUT the entries whose TTL timestamp (the 8-byte big-endian
    * prefix Flink's TtlValue wrapper puts before the payload, reference
    * KeyedStateReader.java:279-283) is older than `cutoffMs`. Surviving
    * rows pass through byte-identical — key framing, key-group prefix
    * and TTL wrapper untouched — so the rewrite is safe for any payload
    * type without re-encoding.
    *
    * Scale: one pushed-down scan of the single state (never the whole
    * savepoint), a narrow filter on the first 8 value bytes, and the
    * standard one-shuffle write job. No driver materialization.
    */
  def expireTtl(spark: SparkSession, sp: SavepointMeta, uid: String,
      stateName: String, cutoffMs: Long, outDir: String): SavepointMeta = {
    implicit val enc: org.apache.spark.sql.Encoder[KeyedStateRow] =
      Encoders.product[KeyedStateRow]
    val surviving = Savepoints.reader(spark, sp, uid)
      .getKeyedStateRows(Set(stateName)).as[KeyedStateRow]
      .filter { r =>
        r.valueBytes.length >= 8 &&
          java.nio.ByteBuffer.wrap(r.valueBytes).getLong >= cutoffMs
      }
    Savepoints.writer(spark, sp, uid)
      .addKeyedStateRows(surviving)
      .writeAll(outDir)
  }

  /** Savepoint validation report — the "validate corrupted state" use
    * case (reference README.md:41-44): every raw row of operator `uid`
    * is checked against the savepoint's own declarations — key group in
    * `[0, maxParallelism)`, key + namespace (+ map key) decode under
    * the declared codecs and consume the key bytes EXACTLY, value
    * decodes under the state's value codec (TTL wrapper, list layout
    * and map null-markers included) and consumes the value bytes
    * exactly. Returns one row per state:
    * `(state, n_rows, n_key_groups, ok_rows, bad_rows)`.
    *
    * A healthy savepoint has `bad_rows = 0` everywhere; a corrupted one
    * localizes the damage to a state before a restoring job hits it.
    * Scale: a narrow map over the scan + one keyed aggregate — no
    * driver materialization, validates TBs of state in one pass.
    */
  def validate(spark: SparkSession, sp: SavepointMeta, uid: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val op = sp.operator(uid)
    val maxPar = op.maxParallelism
    val check = rowChecker(sp, uid)
    implicit val rowEnc: org.apache.spark.sql.Encoder[KeyedStateRow] =
      Encoders.product[KeyedStateRow]
    implicit val outEnc: org.apache.spark.sql.Encoder[(String, Int, Boolean)] =
      Encoders.product[(String, Int, Boolean)]
    Savepoints.reader(spark, sp, uid).getAllUnreadKeyedStateRows
      .as[KeyedStateRow]
      .map { r =>
        val kg =
          try KeyGroups.readKeyGroup(r.keyAndNamespaceBytes, maxPar)
          catch { case _: Throwable => -1 }
        (r.stateName, kg, check(r))
      }
      .toDF("state", "key_group", "ok")
      .groupBy(col("state"))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("key_group")).as("n_key_groups"),
        sum(col("ok").cast("long")).as("ok_rows"),
        sum((!col("ok")).cast("long")).as("bad_rows"))
  }

  /** Serializable per-row validity check against the savepoint's own
    * declarations — the executor-side core of [[validate]]/[[repair]].
    */
  private def rowChecker(sp: SavepointMeta, uid: String): KeyedStateRow => Boolean = {
    val op = sp.operator(uid)
    val maxPar = op.maxParallelism
    val prefix = KeyGroups.prefixBytes(maxPar)
    val keyCodecId = op.keyCodecId
    val states = op.states.map(s =>
      s.name -> ((s.kind, s.valueCodecId, s.mapKeyCodecId, s.namespaceCodecId))).toMap
    (r: KeyedStateRow) => {
      val kg =
        try KeyGroups.readKeyGroup(r.keyAndNamespaceBytes, maxPar)
        catch { case _: Throwable => -1 }
      kg >= 0 && kg < maxPar && (try {
        states.get(r.stateName) match {
          case None => false // row claims a state the metadata lacks
          case Some((kind, vcId, mkId, nsId)) =>
            val kr = new ByteReader(r.keyAndNamespaceBytes)
            kr.skip(prefix.toLong)
            keyCodecId.foreach(id => CodecRegistry.resolve(id).read(kr))
            CodecRegistry.resolve(nsId).read(kr)
            if (kind == StateKind.Map)
              mkId.foreach(id => CodecRegistry.resolve(id).read(kr))
            val keyFully = kr.position == r.keyAndNamespaceBytes.length.toLong
            val vr = new ByteReader(r.valueBytes)
            if (kind == StateKind.Map) {
              if (!vr.readBoolean()) CodecRegistry.resolve(vcId).read(vr)
            } else CodecRegistry.resolve(vcId).read(vr)
            keyFully && vr.position == r.valueBytes.length.toLong
        }
      } catch { case _: Throwable => false })
    }
  }

  /** Savepoint repair — the other half of the reference's
    * "validate/REPAIR corrupted state" use case: rewrite operator
    * `uid`'s keyed state keeping only rows that pass the [[validate]]
    * checks, so a job can restore from the repaired savepoint instead
    * of crashing on the first undecodable row. Dropped rows are gone —
    * run [[validate]] first to see what you lose; surviving rows pass
    * through byte-identical (no re-encode).
    */
  def repair(spark: SparkSession, sp: SavepointMeta, uid: String,
      outDir: String): SavepointMeta = {
    val check = rowChecker(sp, uid)
    implicit val rowEnc: org.apache.spark.sql.Encoder[KeyedStateRow] =
      Encoders.product[KeyedStateRow]
    val surviving = Savepoints.reader(spark, sp, uid)
      .getAllUnreadKeyedStateRows.as[KeyedStateRow]
      .filter(check)
    Savepoints.writer(spark, sp, uid)
      .addKeyedStateRows(surviving)
      .writeAll(outDir)
  }

  /** Incremental savepoint update — apply a row delta to a
    * native-RocksDB savepoint WITHOUT rewriting unchanged state (beyond
    * the reference, which reads the shared-file incremental layout,
    * RocksDBCheckpointIterator.java:92-148, but always rewrites full
    * snapshots). Each touched subtask gets a new stub checkpoint dir
    * whose manifest shares the base checkpoint's unchanged SSTs;
    * untouched subtasks keep their original handles verbatim. At 100 TB
    * the write cost is the delta + per-subtask metadata files, not the
    * state size.
    *
    * `upserts` rows replace/insert by (stateName, keyAndNamespaceBytes);
    * `deletes` rows remove by the same identity (valueBytes ignored).
    * Rows must already be encoded in the savepoint's key-group space —
    * parallelism/maxParallelism are unchanged by contract (an
    * incremental delta cannot re-home opaque shared SSTs, same argument
    * as the raw-state re-shard refusal).
    *
    * Scale: the delta shuffles once on subtask index; each task runs
    * one local RocksDB open/put/flush/checkpoint over hard-linked base
    * files. The driver collects only the per-subtask handles.
    */
  def incrementalUpdate(
      spark: SparkSession,
      sp: SavepointMeta,
      uid: String,
      upserts: org.apache.spark.sql.Dataset[KeyedStateRow],
      deletes: org.apache.spark.sql.Dataset[KeyedStateRow],
      outDir: String): SavepointMeta = {
    val op = sp.operator(uid)
    require(op.keyedFiles.nonEmpty &&
      op.keyedFiles.forall(_.kind == KeyedFileHandle.RocksDbKind),
      s"incrementalUpdate needs a native-RocksDB savepoint (write one " +
        "with withNativeRocksDb()); operator " + uid + " has " +
        op.keyedFiles.map(_.kind).distinct.mkString("/") + "-kind files")
    val par = op.parallelism
    val maxPar = op.maxParallelism
    val opId = op.operatorId
    val outAbs = new org.apache.hadoop.fs.Path(outDir).toString
    val baseBySubtask: Map[Int, String] =
      op.keyedFiles.map(f => f.subtaskIndex -> sp.absolutized(f).relativePath).toMap

    implicit val dEnc: org.apache.spark.sql.Encoder[DeltaRow] =
      Encoders.product[DeltaRow]
    implicit val hEnc: org.apache.spark.sql.Encoder[HandleRow] =
      Encoders.product[HandleRow]
    implicit val rowEnc: org.apache.spark.sql.Encoder[KeyedStateRow] =
      Encoders.product[KeyedStateRow]
    def tag(ds: org.apache.spark.sql.Dataset[KeyedStateRow], del: Boolean) =
      ds.map { r =>
        DeltaRow(r.operatorIndex(maxPar, par), r.stateName,
          r.keyAndNamespaceBytes,
          if (del) Array.emptyByteArray else r.valueBytes, del)
      }
    val bases = baseBySubtask // serializable small map (par entries)
    val handles = tag(upserts, del = false).union(tag(deletes, del = true))
      .groupByKey(_.opIndex)(Encoders.scalaInt)
      .mapGroups { (idx: Int, it: Iterator[DeltaRow]) =>
        val rel = s"op-$opId/incr-$idx-${java.util.UUID.randomUUID().toString.take(8)}"
        val target = new org.apache.hadoop.fs.Path(outAbs, rel).toString
        graft.core.scan.RocksDbCheckpoints.createIncrementalCheckpoint(
          target, bases(idx),
          it.map(d => (d.stateName, d.key,
            if (d.isDelete) None else Some(d.value))))
        val (kgStart, kgEnd) = KeyGroups.keyGroupRange(maxPar, par, idx)
        HandleRow(idx, rel, kgStart, kgEnd, Seq.empty)
      }
      .collect() // handles only, never rows
    val touched = handles.map(_.subtaskIndex).toSet
    val newFiles = (handles.toSeq.map(h =>
      KeyedFileHandle(h.subtaskIndex, h.relativePath, h.kgStart, h.kgEnd,
        Seq.empty, KeyedFileHandle.RocksDbKind)) ++
      op.keyedFiles.filterNot(f => touched(f.subtaskIndex)).map(sp.absolutized))
      .sortBy(_.subtaskIndex)
    Savepoints.commit(sp, op.copy(keyedFiles = newFiles), outAbs, sp.dialect)
  }

  final case class SavepointGcReport(
      deletedFiles: Seq[String], retainedFiles: Seq[String],
      skippedLiveDirs: Seq[String])

  /** Retire a superseded savepoint from an incremental chain: delete
    * every physical file of `drop` that no LIVE savepoint still needs,
    * without breaking any live restore path. Three protection rules:
    *
    *  1. a drop-side checkpoint dir that IS a live handle (an untouched
    *     subtask carried verbatim by [[incrementalUpdate]]) is skipped
    *     wholesale;
    *  2. inside the remaining dirs, files listed by any live stub's
    *     `_graft_manifest` survive in place (stub manifests only ever
    *     point at materialized files, so the referenced set is exactly
    *     the live closure);
    *  3. everything else — unshared SSTs, RocksDB metadata files, the
    *     dropped savepoint's own `_metadata` — is deleted, so the
    *     savepoint stops being a restore point the moment GC runs.
    *
    * Driver-side listings only (O(files), no job, no data read) — the
    * retire cost of a 100 TB chain is a directory walk.
    */
  def gcSavepoint(drop: SavepointMeta,
      live: Seq[SavepointMeta]): SavepointGcReport = {
    import graft.core.scan.RocksDbCheckpoints
    def absDirs(sp: SavepointMeta): Seq[String] =
      sp.operators.flatMap(_.keyedFiles).map(f =>
        KeyedFileHandle.resolve(sp.basePath, f.relativePath).toString)
    // compared as URIs, so `/x`, `file:/x` and `file:///x` are one file
    def norm(dir: String): java.net.URI =
      SnapshotFs.qualify(new org.apache.hadoop.fs.Path(dir)).toUri
    val liveDirs = live.flatMap(absDirs)
    val liveDirSet = liveDirs.map(norm).toSet
    val referenced = RocksDbCheckpoints.referencedUris(liveDirs)
    val deleted = scala.collection.mutable.ArrayBuffer.empty[String]
    val retained = scala.collection.mutable.ArrayBuffer.empty[String]
    val skipped = scala.collection.mutable.ArrayBuffer.empty[String]
    absDirs(drop).distinct.foreach { dir =>
      if (liveDirSet(norm(dir))) skipped += dir
      else {
        val r = RocksDbCheckpoints.gcCheckpoint(dir, referenced)
        deleted ++= r.deleted; retained ++= r.retained
      }
    }
    // the dropped savepoint's _metadata: no longer a restore point
    val metaPath = new org.apache.hadoop.fs.Path(drop.basePath, SnapshotFs.MetadataFile)
    if (SnapshotFs.delete(metaPath, recursive = false)) deleted += metaPath.toUri.toString
    SavepointGcReport(deleted.toSeq.sorted, retained.toSeq.sorted,
      skipped.toSeq.sorted)
  }

  /** Rescale PLAN: before actually rescaling (sp09/sp18), the
    * redistribution bill — for every (old subtask, new subtask) pair
    * whose key-group ranges intersect, the shared [kg_lo, kg_hi] span,
    * its group count, and whether those groups change owner. Both range
    * endpoints come from Flink's closed-form assignment
    * ([[graft.core.codec.KeyGroups.keyGroupRange]]), so the plan is
    * pure integer arithmetic over parallelism x maxParallelism — no
    * state is read. An operator-scheduling layer uses this to size the
    * transfer (and to prefer new parallelisms that keep ranges aligned:
    * divisors/multiples move nothing for the aligned spans).
    */
  def rescalePlan(spark: SparkSession, maxParallelism: Int,
      oldParallelism: Int, newParallelism: Int): DataFrame = {
    import spark.implicits._
    val rows = for {
      o <- 0 until oldParallelism
      n <- 0 until newParallelism
      (oLo, oHi) = graft.core.codec.KeyGroups
        .keyGroupRange(maxParallelism, oldParallelism, o)
      (nLo, nHi) = graft.core.codec.KeyGroups
        .keyGroupRange(maxParallelism, newParallelism, n)
      lo = math.max(oLo, nLo)
      hi = math.min(oHi, nHi)
      if lo <= hi
    } yield (o.toLong, n.toLong, lo.toLong, hi.toLong,
      (hi - lo + 1).toLong, o != n)
    rows.toDF("old_subtask", "new_subtask", "kg_lo", "kg_hi",
      "n_keygroups", "moves")
  }
}

/** Shuffle row for [[StateMaintenance.incrementalUpdate]]'s one delta
  * shuffle: subtask routing key + the raw upsert/delete payload.
  */
final case class DeltaRow(
    opIndex: Int, stateName: String,
    key: Array[Byte], value: Array[Byte], isDelete: Boolean)
