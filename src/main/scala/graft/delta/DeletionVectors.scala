package graft.delta

import java.io.{ByteArrayInputStream, DataInputStream, DataOutputStream}
import java.nio.ByteBuffer
import java.util.UUID
import java.util.zip.CRC32

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.roaringbitmap.longlong.Roaring64NavigableMap

/** Deletion vectors (reference: kernel/src/actions/deletion_vector.rs).
  *
  * Storage forms:
  *  - 'i' inline: pathOrInlineDv = z85(magic(LE) + portable treemap)
  *  - 'u' relative: pathOrInlineDv = [prefix] + z85(uuid16); file name
  *    `deletion_vector_<uuid>.bin` under the table root (+prefix dir)
  *  - 'p' absolute path
  *
  * File layout (deletion_vector.rs:369-383): 1-byte version=1, then per
  * DV at `offset`: [4B BE size][4B LE magic=1681511377][bitmap (size-4
  * bytes)][4B BE crc32 of magic..bitmap]. The bitmap is the 64-bit
  * roaring "portable" format (u64 LE bucket count, then per bucket
  * u32 LE key + 32-bit roaring bitmap).
  */
object DeletionVectors {

  val PORTABLE_MAGIC: Int = 1681511377

  // ---------------- Z85 (ZeroMQ base85) ----------------
  private val Z85_CHARS =
    "0123456789abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ" +
      ".-:+=^!/*?&<>()[]{}@%$#"
  private val Z85_DEC: Array[Int] = {
    val a = Array.fill(128)(-1)
    Z85_CHARS.zipWithIndex.foreach { case (c, i) => a(c.toInt) = i }
    a
  }

  def z85Encode(bytes: Array[Byte]): String = {
    val full = bytes.length / 4 * 4
    val k = bytes.length - full
    val sb = new StringBuilder((bytes.length + 3) / 4 * 5)
    var i = 0
    while (i < full) {
      var v = 0L
      var j = 0
      while (j < 4) { v = (v << 8) | (bytes(i + j) & 0xffL); j += 1 }
      val out = new Array[Char](5)
      var c = 4
      while (c >= 0) { out(c) = Z85_CHARS((v % 85).toInt); v /= 85; c -= 1 }
      sb.appendAll(out)
      i += 4
    }
    // tail-padding convention (see z85Decode): (4-k) '#' markers +
    // (k+1) chars of the last k bytes' big-endian value
    if (k != 0) {
      var v = 0L
      while (i < bytes.length) { v = (v << 8) | (bytes(i) & 0xffL); i += 1 }
      val out = new Array[Char](k + 1)
      var c = k
      while (c >= 0) { out(c) = Z85_CHARS((v % 85).toInt); v /= 85; c -= 1 }
      sb.appendAll(Array.fill(4 - k)('#'))
      sb.appendAll(out)
    }
    sb.toString
  }

  def z85Decode(s: String): Array[Byte] = z85Decode(s, s.length / 5 * 4)

  /** Decode `expectedLength` bytes. When `expectedLength % 4 != 0` the
    * FINAL 5-char chunk uses the tail-padding convention of the z85
    * crate the reference engine encodes inline DVs with: (4-k) '#'
    * marker chars followed by (k+1) chars holding the last k bytes'
    * big-endian value. (A plain z85 chunk can never legally start with
    * '#': the largest 4-byte value only reaches digit 82 — which is
    * also why wrap-around decoding of such a chunk silently corrupts
    * the bitmap instead of failing.)
    */
  def z85Decode(s: String, expectedLength: Int): Array[Byte] = {
    require(s.length % 5 == 0, s"z85 input length ${s.length} not multiple of 5")
    val k = expectedLength % 4
    val fullChunks = if (k == 0) s.length / 5 else s.length / 5 - 1
    require(expectedLength <= fullChunks * 4 + (if (k == 0) 0 else k),
      s"z85 input too short for $expectedLength bytes")
    def digit(c: Char): Int = {
      val d = if (c < 128) Z85_DEC(c.toInt) else -1
      require(d >= 0, s"invalid z85 char '$c'")
      d
    }
    val out = new Array[Byte](expectedLength)
    var i = 0
    var o = 0
    while (i < fullChunks * 5) {
      var v = 0L
      var j = 0
      while (j < 5) { v = v * 85 + digit(s.charAt(i + j)); j += 1 }
      require(v <= 0xffffffffL, s"z85 chunk out of range at $i")
      out(o) = ((v >> 24) & 0xff).toByte
      out(o + 1) = ((v >> 16) & 0xff).toByte
      out(o + 2) = ((v >> 8) & 0xff).toByte
      out(o + 3) = (v & 0xff).toByte
      i += 5
      o += 4
    }
    if (k != 0) {
      val tail = s.substring(fullChunks * 5)
      val pad = 4 - k
      require(tail.take(pad).forall(_ == '#'),
        s"invalid z85 tail chunk '$tail' for $k trailing bytes")
      var v = 0L
      tail.drop(pad).foreach(c => v = v * 85 + digit(c))
      var shift = (k - 1) * 8
      while (shift >= 0) {
        out(o) = ((v >> shift) & 0xff).toByte
        o += 1
        shift -= 8
      }
    }
    out
  }

  def encodeUUID(u: UUID): String = {
    val bb = ByteBuffer.allocate(16)
    bb.putLong(u.getMostSignificantBits).putLong(u.getLeastSignificantBits)
    z85Encode(bb.array())
  }

  // ---------------- bitmap serde ----------------
  def bitmapBytes(rb: Roaring64NavigableMap): Array[Byte] = {
    rb.runOptimize()
    val bos = new java.io.ByteArrayOutputStream()
    val dos = new DataOutputStream(bos)
    rb.serializePortable(dos)
    dos.flush()
    bos.toByteArray
  }

  def serializeBitmap(positions: Array[Long]): Array[Byte] = {
    val rb = new Roaring64NavigableMap()
    positions.foreach(rb.addLong)
    bitmapBytes(rb)
  }

  def deserialize(bytes: Array[Byte]): Roaring64NavigableMap = {
    val rb = new Roaring64NavigableMap()
    rb.deserializePortable(new DataInputStream(new ByteArrayInputStream(bytes)))
    rb
  }

  /** OR two portable bitmaps — bitmap-level merge, no row-index arrays
    * materialize (reference transaction/update.rs keeps DV construction
    * streaming the same way).
    */
  def orBitmaps(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val ra = deserialize(a)
    ra.or(deserialize(b))
    bitmapBytes(ra)
  }

  /** a AND NOT b at bitmap level (reference
    * table_changes/resolve_dvs.rs — the DV-swap pre/post diff; no
    * row-index sets ever materialize).
    */
  def andNotBitmaps(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val ra = deserialize(a)
    ra.andNot(deserialize(b))
    bitmapBytes(ra)
  }

  def cardinality(bytes: Array[Byte]): Long =
    deserialize(bytes).getLongCardinality

  /** The empty portable bitmap. */
  lazy val emptyBitmap: Array[Byte] = bitmapBytes(new Roaring64NavigableMap())

  def deserializeBitmap(bytes: Array[Byte]): Array[Long] = {
    val rb = new Roaring64NavigableMap()
    rb.deserializePortable(new DataInputStream(new ByteArrayInputStream(bytes)))
    rb.toArray
  }

  // ---------------- descriptor read ----------------

  /** All deleted row indexes for a descriptor (reference
    * deletion_vector.rs `read` + `row_indexes`).
    */
  def readRowIndexes(dv: DeletionVectorDescriptor, tableRoot: Path,
      conf: Configuration): Array[Long] =
    deserializeBitmap(readBitmapBytes(dv, tableRoot, conf))

  /** Table-relative path of a `u` descriptor's file,
    * `[prefix/]deletion_vector_<uuid>.bin` ([[Storage.dvFile]] resolves
    * it under the table root).
    */
  def relativePath(pathOrInlineDv: String): String = {
    val enc = pathOrInlineDv
    val prefix = enc.substring(0, enc.length - 20)
    val uuidBytes = z85Decode(enc.substring(enc.length - 20))
    val bb = ByteBuffer.wrap(uuidBytes)
    val uuid = new UUID(bb.getLong, bb.getLong)
    val name = s"deletion_vector_$uuid.bin"
    if (prefix.isEmpty) name else s"${prefix.stripSuffix("/")}/$name"
  }

  /** The raw portable-bitmap bytes for a descriptor (no row-index
    * materialization — callers merging bitmaps stay at bitmap level).
    */
  def readBitmapBytes(dv: DeletionVectorDescriptor, tableRoot: Path,
      conf: Configuration): Array[Byte] = dv.storageType match {
    case "i" =>
      // sizeInBytes = raw data size incl. the 4-byte magic; non-4-aligned
      // sizes use the tail-padding chunk (see z85Decode)
      val bytes = z85Decode(dv.pathOrInlineDv, dv.sizeInBytes)
      val magic = leInt(bytes, 0)
      require(magic == PORTABLE_MAGIC, s"invalid inline DV magic $magic")
      bytes.drop(4)
    case "u" | "p" =>
      val path = Storage.dvFile(tableRoot, dv).get
      val fs = Storage.fs(path, conf)
      val len = fs.getFileStatus(path).getLen.toInt
      val all = new Array[Byte](len)
      val in = fs.open(path)
      try in.readFully(0, all) finally in.close()
      require(all(0) == 1, s"invalid DV file version ${all(0)}")
      val start = dv.offset.getOrElse(1)
      val size = beInt(all, start)
      require(size == dv.sizeInBytes,
        s"DV size mismatch: log=${dv.sizeInBytes} file=$size")
      val magic = leInt(all, start + 4)
      require(magic == PORTABLE_MAGIC, s"invalid DV magic $magic")
      val crcStart = start + 4 + size
      val crc = beInt(all, crcStart)
      val c = new CRC32()
      c.update(all, start + 4, size)
      require(crc == c.getValue.toInt,
        s"DV checksum mismatch for $path")
      java.util.Arrays.copyOfRange(all, start + 8, crcStart)
    case other =>
      throw new IllegalArgumentException(s"unknown DV storageType '$other'")
  }

  // ---------------- descriptor write ----------------

  /** Bitmaps at or below this raw size (magic included) are stored
    * INLINE in the log instead of a separate `.bin` file — a small
    * DELETE then costs zero extra storage objects.
    */
  val INLINE_MAX_BYTES: Int = 512

  /** An 'i' descriptor embedding the bitmap in the log line. */
  def inlineDescriptor(bitmap: Array[Byte],
      cardinality: Long): DeletionVectorDescriptor = {
    val data = new Array[Byte](bitmap.length + 4)
    data(0) = (PORTABLE_MAGIC & 0xff).toByte // LE magic
    data(1) = ((PORTABLE_MAGIC >> 8) & 0xff).toByte
    data(2) = ((PORTABLE_MAGIC >> 16) & 0xff).toByte
    data(3) = ((PORTABLE_MAGIC >> 24) & 0xff).toByte
    System.arraycopy(bitmap, 0, data, 4, bitmap.length)
    DeletionVectorDescriptor(
      storageType = "i",
      pathOrInlineDv = z85Encode(data),
      offset = None,
      sizeInBytes = data.length,
      cardinality = cardinality)
  }

  /** Write one DV file holding a bitmap per input file; returns
    * descriptors keyed like the input. Packs all DVs into a single
    * `deletion_vector_<uuid>.bin` with per-DV offsets (the layout above).
    */
  def write(deletes: Seq[(String, Array[Long])], tableRoot: Path,
      conf: Configuration): Map[String, DeletionVectorDescriptor] =
    writeBitmaps(
      deletes.map { case (k, pos) =>
        (k, serializeBitmap(pos), pos.length.toLong)
      }, tableRoot, conf)

  /** Like `write` but taking pre-serialized portable bitmaps (built on
    * executors) + their cardinalities — the driver never touches
    * row-index arrays.
    */
  def writeBitmaps(deletes: Seq[(String, Array[Byte], Long)],
      tableRoot: Path,
      conf: Configuration): Map[String, DeletionVectorDescriptor] =
    writeBitmaps(deletes, tableRoot, conf, prefix = "")

  /** As above, under a table-relative directory `prefix` (encoded into
    * the 'u' descriptor per the protocol's `<prefix>/<z85 uuid>` rule).
    * Content-tree construction persists inline DVs under
    * `_delta_log/_amt` so VACUUM — which only protects files the LOG
    * references — can never strand a tree entry.
    */
  def writeBitmaps(deletes: Seq[(String, Array[Byte], Long)],
      tableRoot: Path, conf: Configuration,
      prefix: String): Map[String, DeletionVectorDescriptor] = {
    val uuid = UUID.randomUUID()
    val dir = prefix.stripSuffix("/")
    val relName =
      (if (dir.isEmpty) "" else dir + "/") + s"deletion_vector_$uuid.bin"
    val out = new java.io.ByteArrayOutputStream()
    out.write(1) // version
    var offset = 1
    val result = deletes.map { case (key, bitmap, cardinality) =>
      val size = bitmap.length + 4 // magic + bitmap
      val buf = ByteBuffer.allocate(4 + size + 4)
      buf.putInt(size) // BE
      buf.putInt(Integer.reverseBytes(PORTABLE_MAGIC)) // LE magic
      buf.put(bitmap)
      val crc = new CRC32()
      crc.update(buf.array(), 4, size)
      buf.putInt(crc.getValue.toInt) // BE
      out.write(buf.array())
      val desc = DeletionVectorDescriptor(
        storageType = "u",
        pathOrInlineDv =
          (if (dir.isEmpty) "" else dir + "/") + encodeUUID(uuid),
        offset = Some(offset),
        sizeInBytes = size,
        cardinality = cardinality)
      offset += 4 + size + 4
      key -> desc
    }.toMap
    val fs = Storage.fs(tableRoot, conf)
    val p = new Path(tableRoot, relName)
    val os = fs.create(p, false)
    try os.write(out.toByteArray) finally os.close()
    result
  }

  private def beInt(b: Array[Byte], off: Int): Int =
    ((b(off) & 0xff) << 24) | ((b(off + 1) & 0xff) << 16) |
      ((b(off + 2) & 0xff) << 8) | (b(off + 3) & 0xff)
  private def leInt(b: Array[Byte], off: Int): Int =
    ((b(off + 3) & 0xff) << 24) | ((b(off + 2) & 0xff) << 16) |
      ((b(off + 1) & 0xff) << 8) | (b(off) & 0xff)
}
