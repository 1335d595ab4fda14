package graft.core.codec

import java.io.{ByteArrayOutputStream, DataInputStream, DataOutputStream, EOFException,
  FilterOutputStream, InputStream, OutputStream}

/** Minimal DataInput/DataOutput-style views used by every codec and the
  * snapshot stream format. Big-endian, mirroring the reference's Java
  * DataInput framing (reference: bravo/src/main/java/com/king/bravo/utils/
  * RocksDBUtils.java:120-143 for var-ints).
  */
class ByteReader(in: InputStream) {
  def this(bytes: Array[Byte]) = this(new java.io.ByteArrayInputStream(bytes))

  /** Bytes consumed so far — lets callers measure how many bytes a codec
    * decode consumed (position delta), as the reference's key framing
    * does (RocksDBUtils.java:120-125).
    */
  private var pos = 0L
  def position: Long = pos

  private val counting: InputStream = new java.io.FilterInputStream(in) {
    override def read(): Int = {
      val b = in.read(); if (b >= 0) pos += 1; b
    }
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      val n = in.read(b, off, len); if (n > 0) pos += n; n
    }
    override def skip(n: Long): Long = {
      val s = in.skip(n); pos += s; s
    }
  }
  private val d = new DataInputStream(counting)

  def readByte(): Byte = d.readByte()
  def readBoolean(): Boolean = d.readBoolean()
  def readShort(): Short = d.readShort()
  def readInt(): Int = d.readInt()
  def readLong(): Long = d.readLong()
  def readFloat(): Float = d.readFloat()
  def readDouble(): Double = d.readDouble()
  def readFully(n: Int): Array[Byte] = { val b = new Array[Byte](n); d.readFully(b); b }

  /** Skips exactly `n` bytes; EOFException on truncated input. */
  def skip(n: Long): Unit = Streams.skipFully(d, n, "stream")

  /** Unsigned LEB128-style var-int. */
  def readVarInt(): Int = {
    var result = 0; var shift = 0; var b = 0
    do {
      b = d.readUnsignedByte()
      result |= (b & 0x7f) << shift
      shift += 7
    } while ((b & 0x80) != 0)
    result
  }

  def readVarLong(): Long = {
    var result = 0L; var shift = 0; var b = 0
    do {
      b = d.readUnsignedByte()
      result |= (b & 0x7fL) << shift
      shift += 7
    } while ((b & 0x80) != 0)
    result
  }

  def readString(): String = {
    val n = readVarInt()
    new String(readFully(n), java.nio.charset.StandardCharsets.UTF_8)
  }

  def readBytes(): Array[Byte] = readFully(readVarInt())

  /** -1 at clean EOF, otherwise 0-255. */
  def tryReadUnsignedByte(): Int =
    try d.readUnsignedByte() catch { case _: EOFException => -1 }
}

/** Stream plumbing shared by the snapshot stream formats. */
private[core] object Streams {

  /** Skips exactly `n` bytes of `in`; EOFException naming `what` on
    * truncated input (a bare `skip` loop would spin forever once
    * `InputStream.skip` returns 0).
    */
  def skipFully(in: InputStream, n: Long, what: String): Unit = {
    var left = n
    while (left > 0) {
      val s = in.skip(left)
      if (s > 0) left -= s
      else {
        if (in.read() == -1)
          throw new EOFException(s"truncated $what: $left bytes short of skip($n)")
        left -= 1
      }
    }
  }
}

/** Shields a file stream from the close of a per-key-group
  * (compression) stream wrapped around it.
  */
private[core] final class NonClosing(out: OutputStream) extends FilterOutputStream(out) {
  override def close(): Unit = flush()
  // FilterOutputStream.write(b[],off,len) writes byte-at-a-time; delegate
  override def write(b: Array[Byte], off: Int, len: Int): Unit = out.write(b, off, len)
}

/** Counts the bytes written through it: the encoders' segment offsets. */
private[core] final class CountingOutputStream(out: OutputStream)
    extends FilterOutputStream(out) {
  var count = 0L
  override def write(b: Int): Unit = { out.write(b); count += 1 }
  override def write(b: Array[Byte], off: Int, len: Int): Unit = {
    out.write(b, off, len); count += len
  }
}

final class ByteWriter(val out: ByteArrayOutputStream = new ByteArrayOutputStream()) {
  private val d = new DataOutputStream(out)

  /** Bytes written so far (for position-delta length measurement). */
  def size: Long = { d.flush(); out.size().toLong }

  def writeByte(v: Int): Unit = d.writeByte(v)
  def writeBoolean(v: Boolean): Unit = d.writeBoolean(v)
  def writeShort(v: Int): Unit = d.writeShort(v)
  def writeInt(v: Int): Unit = d.writeInt(v)
  def writeLong(v: Long): Unit = d.writeLong(v)
  def writeFloat(v: Float): Unit = d.writeFloat(v)
  def writeDouble(v: Double): Unit = d.writeDouble(v)
  def writeRaw(b: Array[Byte]): Unit = d.write(b)

  def writeVarInt(v0: Int): Unit = {
    var v = v0
    require(v >= 0, s"negative var-int $v")
    while ((v & ~0x7f) != 0) { d.writeByte((v & 0x7f) | 0x80); v >>>= 7 }
    d.writeByte(v)
  }

  def writeVarLong(v0: Long): Unit = {
    var v = v0
    require(v >= 0, s"negative var-long $v")
    while ((v & ~0x7fL) != 0) { d.writeByte(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
    d.writeByte(v.toInt)
  }

  def writeString(s: String): Unit = {
    val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    writeVarInt(b.length); d.write(b)
  }

  def writeBytes(b: Array[Byte]): Unit = { writeVarInt(b.length); d.write(b) }

  def toBytes: Array[Byte] = { d.flush(); out.toByteArray }
}
