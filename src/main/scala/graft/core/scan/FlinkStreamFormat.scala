package graft.core.scan

import graft.core.codec.{CountingOutputStream, NonClosing, Streams}

import java.io.{DataInputStream, DataOutputStream, IOException, InputStream, OutputStream}

/** The REAL Flink full-savepoint keyed-state stream layout — byte-for-
  * byte the format the reference reads and writes, unlike
  * [[StateStreamFormat]] (graft's own simplified dialect).
  *
  * Layout, as specified by the reference implementation (decode:
  * reader/inputformat/RocksDBSavepointIterator.java:101-195; encode:
  * writer/functions/RocksDBSavepointWriter.java:85-183; flag bit and
  * end mark: utils/KeyGroupFlags.java:24-44):
  *
  *  - The state file begins with the serialized
  *    KeyedBackendSerializationProxy ("metaBytes",
  *    RocksDBSavepointWriter.java:113), then one stream segment per
  *    non-empty key-group at a recorded ABSOLUTE file offset
  *    (KeyGroupRangeOffsets; offset 0 = empty group, skipped by
  *    ValidOffsetsIterator.java:31-34).
  *  - Each segment is independently wrapped in the compression
  *    decorator (snappy-framed or none) and contains:
  *    {{{
  *    u16 stateId
  *    repeat: [i32 keyLen][key bytes][i32 valueLen][value bytes]
  *    }}}
  *    (key/value framing = Flink BytePrimitiveArraySerializer: 4-byte
  *    big-endian length + bytes).
  *  - When the NEXT thing after a record is metadata (a state change or
  *    the end of the key-group), bit 0x80 of the record's first key
  *    byte is set (KeyGroupFlags.setMetaDataFollowsFlagInKey) and a
  *    `u16` follows the record: the next stateId, or 0xFFFF
  *    (END_OF_KEY_GROUP_MARK) terminating the segment. The flag bit is
  *    unambiguous because the first key byte is a key-group prefix
  *    byte and key-groups never reach 0x80 in their leading byte
  *    (max-parallelism <= 32768).
  */
object FlinkStreamFormat {

  val EndOfKeyGroup = 0xffff
  val MetaFlag = 0x80

  /** Flink's SnappyStreamCompressionDecorator uses snappy FRAMED
    * streams (xerial SnappyFramedInput/OutputStream), not the raw
    * block format.
    */
  private def decorateOut(out: OutputStream, compression: Boolean): OutputStream =
    if (compression) new org.xerial.snappy.SnappyFramedOutputStream(new NonClosing(out))
    else new NonClosing(out)

  private def decorateIn(in: InputStream, compression: Boolean): InputStream =
    if (compression) new org.xerial.snappy.SnappyFramedInputStream(in, false)
    else in

  /** Encode one subtask's records (pre-sorted by (keyGroup, stateId))
    * exactly like RocksDBSavepointWriter.java:130-175: one-record
    * lookahead so the metadata-follows flag can be set on the PREVIOUS
    * record's first key byte. `basePos` is the absolute file position
    * of `out` (the proxy metaBytes end); returned offsets are absolute,
    * 0 for key-groups with no records.
    */
  def encode(
      out: OutputStream,
      records: Iterator[(Int, StateStreamFormat.Record)],
      kgStart: Int,
      kgEnd: Int,
      compression: Boolean,
      basePos: Long): Seq[Long] = {
    val counting = new CountingOutputStream(out)
    def pos: Long = basePos + counting.count
    val offsets = new Array[Long](kgEnd - kgStart + 1)
    if (!records.hasNext) return offsets.toSeq

    def writeRecord(d: DataOutputStream, r: StateStreamFormat.Record, flag: Boolean): Unit = {
      require(r.key.length > 0, "flink layout: key bytes must be non-empty")
      d.writeInt(r.key.length)
      d.writeByte(if (flag) r.key(0) | MetaFlag else r.key(0))
      d.write(r.key, 1, r.key.length - 1)
      d.writeInt(r.value.length)
      d.write(r.value)
    }

    var (prevKg, prev) = records.next()
    require(prevKg >= kgStart && prevKg <= kgEnd, s"key-group $prevKg outside [$kgStart,$kgEnd]")
    offsets(prevKg - kgStart) = pos
    var kgOut = decorateOut(counting, compression)
    var d = new DataOutputStream(kgOut)
    d.writeShort(prev.stateId)
    var prevStateId = prev.stateId

    while (records.hasNext) {
      val (kg, r) = records.next()
      require(kg >= prevKg, s"records not sorted by key-group: $kg after $prevKg")
      require(kg <= kgEnd, s"key-group $kg outside [$kgStart,$kgEnd]")
      val metaFollows = kg != prevKg || r.stateId != prevStateId
      writeRecord(d, prev, metaFollows)
      if (kg != prevKg) {
        d.writeShort(EndOfKeyGroup)
        d.flush(); kgOut.close() // flushes the snappy frame; file stays open
        offsets(kg - kgStart) = pos
        kgOut = decorateOut(counting, compression)
        d = new DataOutputStream(kgOut)
        d.writeShort(r.stateId)
      } else if (r.stateId != prevStateId) {
        d.writeShort(r.stateId)
      }
      prevKg = kg; prevStateId = r.stateId; prev = r
    }
    writeRecord(d, prev, flag = true)
    d.writeShort(EndOfKeyGroup)
    d.flush(); kgOut.close()
    offsets.toSeq
  }

  /** Decode one key-group segment (stream positioned at its offset) —
    * the single-group mirror of RocksDBSavepointIterator's loop,
    * including its skip path for filtered states
    * (RocksDBSavepointIterator.java:178-191): unkept records are
    * length-skipped, with only the first key byte read to track the
    * metadata-follows flag. `needKey=false` likewise skips key bytes
    * after the flag byte.
    */
  def decodeGroup(
      in: InputStream,
      compression: Boolean,
      keep: Int => Boolean,
      needKey: Boolean = true,
      needValue: Boolean = true): Iterator[StateStreamFormat.Record] = {
    val d = new DataInputStream(decorateIn(in, compression))
    new Iterator[StateStreamFormat.Record] {
      private var stateId = d.readShort() & 0xffff
      private var nextRec: StateStreamFormat.Record = _
      private var done = false

      /** A record length; the key holds at least its flag byte. */
      private def length(field: String, min: Int): Int = {
        val n = d.readInt()
        if (n < min) throw new IOException(s"flink segment: impossible $field $n")
        n
      }

      private def skip(n: Long): Unit = Streams.skipFully(d, n, "segment")

      private def advance(): Unit = {
        while (nextRec == null && !done) {
          if (stateId == EndOfKeyGroup) { done = true }
          else {
            val kept = keep(stateId)
            val keyLen = length("keyLen", 1)
            val key0 = d.readByte()
            val key: Array[Byte] =
              if (kept && needKey) {
                val k = new Array[Byte](keyLen)
                k(0) = (key0 & ~MetaFlag).toByte
                d.readFully(k, 1, keyLen - 1)
                k
              } else { skip(keyLen - 1L); null }
            val valueLen = length("valueLen", 0)
            val value: Array[Byte] =
              if (kept && needValue) { val v = new Array[Byte](valueLen); d.readFully(v); v }
              else { skip(valueLen.toLong); null }
            if (kept) nextRec = StateStreamFormat.Record(stateId, key, value)
            if ((key0 & MetaFlag) != 0) stateId = d.readShort() & 0xffff
          }
        }
      }
      def hasNext: Boolean = { advance(); nextRec != null }
      def next(): StateStreamFormat.Record = {
        advance()
        if (nextRec == null) throw new NoSuchElementException
        val r = nextRec; nextRec = null; r
      }
    }
  }
}
