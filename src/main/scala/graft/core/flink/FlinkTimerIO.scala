package graft.core.flink

import graft.core.codec.{ByteReader, CodecRegistry}
import graft.core.io.SnapshotFs
import graft.core.meta.KeyedFileHandle

import java.io.{ByteArrayOutputStream, DataInputStream, DataOutputStream, InputStream}

/** Flink heap-timer raw-keyed-stream codec (the state behind next-round
  * item S-timers): a real Flink 1.7 window job snapshots its event/
  * processing-time timers into the RAW keyed stream, which graft stages
  * verbatim as `rawKeyedState` section bytes. This object decodes (and,
  * beyond the reference, encodes) that stream so timers become queryable
  * rows instead of opaque bytes.
  *
  * The reference never parses timers — it only preserves the handles
  * (OperatorStateWriter.java:266-280). The byte grammar here is
  * RECONSTRUCTED from the public Flink 1.7.1 sources (the version the
  * reference pins, build.gradle:8):
  *
  *  - the raw keyed handle is a KEY_GROUPS handle: per-group offsets
  *    into one stream (KeyedStateCheckpointOutputStream);
  *  - each key-group segment is an InternalTimerServiceSerializationProxy
  *    body: `i32 version=2 | i32 numServices`, then per service
  *    `UTF name | key snapshot | namespace snapshot | i32 nEvent |
  *    timers | i32 nProc | timers` (InternalTimersSnapshotReaderWriters,
  *    V2 writer);
  *  - each timer is `i64 flipSignBit(ts) | key | namespace`
  *    (TimerSerializer.serialize; MathUtils.flipSignBit = ^Long.MIN).
  *
  * Serializer snapshots ride the same envelope as state proxies
  * ([[FlinkSnapshots]]), so key/namespace codecs are self-describing.
  */
object FlinkTimerIO {

  /** InternalTimerServiceSerializationProxy.VERSION (Flink 1.7). */
  val ProxyVersion = 2

  def flipSignBit(v: Long): Long = v ^ Long.MinValue

  /** One timer, key/namespace still in wire bytes. */
  final case class Timer(keyBytes: Array[Byte], namespaceBytes: Array[Byte],
      timestamp: Long)

  /** One timer service's timers within one key group. */
  final case class ServiceGroup(
      name: String,
      keyCodecId: String,
      namespaceCodecId: String,
      eventTimers: Seq[Timer],
      processingTimers: Seq[Timer])

  /** Decoded timer row (flat, serializable for Dataset use). */
  final case class TimerRow(
      subtask: Int,
      service: String,
      keyCodecId: String,
      namespaceCodecId: String,
      eventTime: Boolean,
      keyBytes: Array[Byte],
      namespaceBytes: Array[Byte],
      timestamp: Long)

  // ---------------------------------------------------------------- encode

  /** Encode one key-group segment (proxy header + services). */
  def encodeGroup(services: Seq[ServiceGroup]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val d = new DataOutputStream(bos)
    d.writeInt(ProxyVersion)
    d.writeInt(services.size)
    services.foreach { sg =>
      d.writeUTF(sg.name)
      FlinkSnapshots.write(d, sg.keyCodecId)
      FlinkSnapshots.write(d, sg.namespaceCodecId)
      def writeTimers(ts: Seq[Timer]): Unit = {
        d.writeInt(ts.size)
        ts.foreach { t =>
          d.writeLong(flipSignBit(t.timestamp))
          d.write(t.keyBytes)
          d.write(t.namespaceBytes)
        }
      }
      writeTimers(sg.eventTimers)
      writeTimers(sg.processingTimers)
    }
    d.flush(); bos.toByteArray
  }

  /** Assemble a full raw-keyed handle SECTION (tag byte onward, the
    * `rawKeyedState` staging format): KEY_GROUPS handle whose inline
    * byte-stream delegate concatenates the per-group segments, offsets
    * pointing into it. Groups in [kgStart, kgStart+numKgs) absent from
    * `groups` get an empty proxy segment (a real job writes every group
    * of its range, timers or not). Driver-side assembly by design: one
    * raw stream per subtask is the natural unit, and timer volume is
    * bounded by live keys x open windows of ONE subtask.
    */
  def buildRawKeyedSection(
      kgStart: Int,
      numKgs: Int,
      groups: Map[Int, Seq[ServiceGroup]],
      handleName: String = "raw-keyed-timers"): Array[Byte] = {
    val delegate = new ByteArrayOutputStream()
    val offsets = (0 until numKgs).map { i =>
      val off = delegate.size().toLong
      delegate.write(encodeGroup(groups.getOrElse(kgStart + i, Seq.empty)))
      off
    }
    val bos = new ByteArrayOutputStream()
    val d = new DataOutputStream(bos)
    d.writeByte(FlinkMetadataIO.KeyGroupsHandle)
    d.writeInt(kgStart)
    d.writeInt(numKgs)
    offsets.foreach(d.writeLong)
    d.writeByte(FlinkMetadataIO.ByteStreamHandle)
    d.writeUTF(handleName)
    val bytes = delegate.toByteArray
    d.writeInt(bytes.length); d.write(bytes)
    d.flush(); bos.toByteArray
  }

  // ---------------------------------------------------------------- decode

  /** Parsed raw keyed handle: where each group's bytes live. */
  final case class RawKeyedHandle(
      kgStart: Int,
      offsets: Seq[Long],
      inline: Option[Array[Byte]],   // inline delegate bytes, or
      filePath: Option[String])      // a stream file to open+seek

  /** Parse a staged `rawKeyedState` section into its delegate + offsets.
    * Returns None for handle shapes that cannot carry timers (null /
    * incremental).
    */
  def parseSection(section: Array[Byte], basePath: String): Option[RawKeyedHandle] = {
    val d = new DataInputStream(new java.io.ByteArrayInputStream(section))
    d.readByte().toInt match {
      case FlinkMetadataIO.KeyGroupsHandle =>
        val kgStart = d.readInt()
        val numKgs = d.readInt()
        val offsets = (0 until numKgs).map(_ => d.readLong())
        d.readByte().toInt match {
          case FlinkMetadataIO.ByteStreamHandle =>
            d.readUTF()
            val len = d.readInt()
            val bytes = new Array[Byte](len)
            d.readFully(bytes)
            Some(RawKeyedHandle(kgStart, offsets, Some(bytes), None))
          case FlinkMetadataIO.FileStreamHandle =>
            d.readLong() // size
            val p = KeyedFileHandle.resolve(basePath, d.readUTF())
            Some(RawKeyedHandle(kgStart, offsets, None, Some(p.toString)))
          case FlinkMetadataIO.RelativeStreamHandle =>
            val p = d.readUTF()
            d.readLong()
            Some(RawKeyedHandle(kgStart, offsets, None,
              Some(new org.apache.hadoop.fs.Path(basePath, p).toString)))
          case _ => None
        }
      case _ => None
    }
  }

  /** Decode one key-group segment from a positioned stream. A single
    * underlying stream is read through BOTH a DataInputStream (format
    * structure: ints, UTF) and a ByteReader (codec-typed key/namespace
    * bytes); neither buffers, so interleaving is exact.
    */
  def decodeGroup(in: InputStream, subtask: Int): Iterator[TimerRow] = {
    val d = new DataInputStream(in)
    val version = d.readInt()
    require(version == ProxyVersion,
      s"unsupported timer-service proxy version $version (supported: 2)")
    val nServices = d.readInt()
    val br = new ByteReader(in)
    (0 until nServices).iterator.flatMap { _ =>
      val name = d.readUTF()
      val keyCodecId = FlinkSnapshots.read(d)
      val nsCodecId = FlinkSnapshots.read(d)
      val kc = CodecRegistry.resolve(keyCodecId)
        .asInstanceOf[graft.core.codec.Codec[Any]]
      val nsc = CodecRegistry.resolve(nsCodecId)
        .asInstanceOf[graft.core.codec.Codec[Any]]
      def readTimers(eventTime: Boolean): Seq[TimerRow] = {
        val n = d.readInt()
        (0 until n).map { _ =>
          val ts = flipSignBit(d.readLong())
          val key = kc.toBytes(kc.read(br))
          val ns = nsc.toBytes(nsc.read(br))
          TimerRow(subtask, name, keyCodecId, nsCodecId, eventTime, key, ns, ts)
        }
      }
      val event = readTimers(eventTime = true)
      val proc = readTimers(eventTime = false)
      event ++ proc
    }
  }

  /** Decode every timer of one staged section (driver- or executor-side;
    * the caller decides distribution granularity — see
    * [[graft.state.OperatorStateReader.readTimers]] for the
    * per-key-group parallel path). A file-backed section is opened once
    * and seeked per key group.
    */
  def decodeSection(section: Array[Byte], basePath: String,
      subtask: Int): Iterator[TimerRow] =
    parseSection(section, basePath).iterator.flatMap { h =>
      h.inline match {
        case Some(bytes) =>
          h.offsets.iterator.flatMap(off => decodeGroup(
            new java.io.ByteArrayInputStream(bytes, off.toInt, bytes.length - off.toInt),
            subtask))
        case None =>
          // one key group's rows held at a time; closed after the last
          val in = SnapshotFs.open(new org.apache.hadoop.fs.Path(h.filePath.get))
          h.offsets.iterator.flatMap { off =>
            try { in.seek(off); decodeGroup(in, subtask).toVector }
            catch { case t: Throwable => in.close(); throw t }
          } ++ { in.close(); Iterator.empty[TimerRow] }
      }
    }
}
