package graft.core.scan

import graft.core.codec.{ByteReader, CountingOutputStream, NonClosing}

import java.io.{IOException, InputStream, OutputStream}

/** The keyed-state file format: one contiguous stream segment per
  * key-group, each segment optionally snappy-framed, holding
  * `[u16 stateId][varint keyLen][key][varint valLen][value]` records and
  * terminated by the `0xFFFF` end-of-key-group mark.
  *
  * This is the graft analogue of the reference's full-savepoint keyed
  * stream (decode: reader/inputformat/RocksDBSavepointIterator.java:
  * 101-195; encode: writer/functions/RocksDBSavepointWriter.java:110-175;
  * end mark + flags: utils/KeyGroupFlags.java:24-44). Differences are
  * deliberate simplifications, documented here: every record carries its
  * stateId (the reference prefixes runs and flags metadata-follows in the
  * key bytes), and per-group offsets live in `_metadata` rather than in a
  * separate handle object.
  */
object StateStreamFormat {

  val EndOfKeyGroup = 0xffff

  final case class Record(stateId: Int, key: Array[Byte], value: Array[Byte])

  /** Allocation-free var-int on the sequential encode hot path. */
  private def writeVarInt(d: java.io.DataOutputStream, v0: Int): Unit = {
    var v = v0
    while ((v & ~0x7f) != 0) { d.writeByte((v & 0x7f) | 0x80); v >>>= 7 }
    d.writeByte(v)
  }

  /** Encode one subtask's records (pre-sorted by (keyGroup, stateId))
    * into `out`, one segment per key-group in [kgStart, kgEnd]. Returns
    * the byte offset of each group segment.
    *
    * Streaming and spill-free: rows pass through one at a time
    * (SURVEY.md §7.4 #7) — callers hand us the sorted iterator that
    * Spark's `flatMapSortedGroups` produces, the mirror image of the
    * reference's groupBy+sortGroup+reduceGroup (OperatorStateWriter.java:
    * 245-251).
    */
  def encode(
      out: OutputStream,
      records: Iterator[(Int, Record)], // (keyGroup, record)
      kgStart: Int,
      kgEnd: Int,
      compression: Boolean): Seq[Long] = {
    val counting = new CountingOutputStream(out)
    val offsets = new Array[Long](kgEnd - kgStart + 1)
    val it = records.buffered
    (kgStart to kgEnd).foreach { kg =>
      offsets(kg - kgStart) = counting.count
      val groupOut: OutputStream =
        if (compression) new org.xerial.snappy.SnappyOutputStream(new NonClosing(counting))
        else new NonClosing(counting)
      val d = new java.io.DataOutputStream(groupOut)
      while (it.hasNext && it.head._1 == kg) {
        val (_, r) = it.next()
        require(r.stateId >= 0 && r.stateId < EndOfKeyGroup, s"bad stateId ${r.stateId}")
        d.writeShort(r.stateId)
        writeVarInt(d, r.key.length); d.write(r.key)
        writeVarInt(d, r.value.length); d.write(r.value)
      }
      d.writeShort(EndOfKeyGroup)
      d.flush()
      groupOut.close() // flushes snappy frame; NonClosing shields the file
    }
    require(!it.hasNext,
      s"records outside key-group range [$kgStart,$kgEnd]: ${it.head._1}")
    offsets.toSeq
  }

  /** Decode one key-group segment from `in` (positioned at the segment
    * start). `keep` is the state-name pushdown (S6): records of filtered
    * states are length-skipped without copying key/value bytes
    * (reference: RocksDBSavepointIterator.java:178-191). `needKey` /
    * `needValue` are the column-pruning pushdown (SURVEY §4: skip key
    * decode when only value columns are requested, the P2/P6 shape) —
    * un-needed parts are skipped, never materialized.
    */
  def decodeGroup(
      in: InputStream,
      compression: Boolean,
      keep: Int => Boolean,
      needKey: Boolean = true,
      needValue: Boolean = true): Iterator[Record] = {
    val stream = if (compression) new org.xerial.snappy.SnappyInputStream(in) else in
    val r = new ByteReader(stream)
    new Iterator[Record] {
      private var nextRec: Record = _
      private var done = false
      /** One length-prefixed part: read when `need`, else skipped. */
      private def part(field: String, need: Boolean): Array[Byte] = {
        val len = r.readVarInt() // a corrupt varint can overflow negative
        if (len < 0) throw new IOException(s"graft segment: impossible $field $len")
        if (need) r.readFully(len)
        else { r.skip(len.toLong); null }
      }
      private def advance(): Unit = {
        while (nextRec == null && !done) {
          val sid = ((r.readByte() & 0xff) << 8) | (r.readByte() & 0xff)
          if (sid == EndOfKeyGroup) { done = true }
          else {
            val kept = keep(sid)
            val key = part("keyLen", kept && needKey)
            val value = part("valueLen", kept && needValue)
            if (kept) nextRec = Record(sid, key, value)
          }
        }
      }
      def hasNext: Boolean = { advance(); nextRec != null }
      def next(): Record = {
        advance()
        if (nextRec == null) throw new NoSuchElementException
        val res = nextRec; nextRec = null; res
      }
    }
  }
}
