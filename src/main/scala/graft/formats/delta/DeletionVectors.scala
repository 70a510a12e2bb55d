package graft.formats.delta

import java.nio.{ByteBuffer, ByteOrder}
import java.util.UUID
import java.util.zip.CRC32

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.roaringbitmap.RoaringBitmap

import graft.model.DvDescriptor

/** Delta deletion-vector codec — the public on-disk format from Delta
  * PROTOCOL.md §Deletion Vector Descriptor Schema / §Deletion Vector Format
  * (reference consumes these descriptors in
  * DeltaConversionSource.java:104-174 and ITDeltaDeleteVectorConvert.java).
  *
  * Layout of a DV file:
  *   byte 0           : format version (1)
  *   at descriptor.offset:
  *     int32 BE       : dataSize (== descriptor.sizeInBytes)
  *     dataSize bytes : serialized 64-bit roaring bitmap ("portable")
  *     int32 BE       : CRC-32 of the dataSize bytes
  *
  * The payload is the RoaringBitmapArray PORTABLE serialization (the
  * 64-bit "portable" format of the public RoaringFormatSpec, which
  * delta-spark's RoaringBitmapArray.scala documents verbatim): a 4-byte
  * little-endian magic (1681511377), an 8-byte little-endian count of
  * 32-bit bitmaps, then each bitmap IN ASCENDING KEY ORDER as a 4-byte
  * little-endian key followed by the standard 32-bit roaring portable
  * serialization. A deleted 64-bit row position p lives in the bitmap
  * keyed (p >>> 32) at 32-bit value p.toInt. (Iceberg v3 deletion
  * vectors reuse this exact payload — its blob magic bytes D1 D3 39 64
  * ARE this magic little-endian — so [[serializeBitmap]] /
  * [[deserializeBitmap]] back both formats; see
  * graft.formats.iceberg.Puffin.)
  *
  * `storageType` dispatch: `u` names a file `deletion_vector_<uuid>.bin`
  * under the table (optional random-prefix directory), with the UUID
  * z85-encoded as the last 20 chars of `pathOrInlineDv`; `p` is an
  * absolute path; `i` carries the payload itself z85-encoded.
  */
object DeletionVectors {

  val FormatVersion: Byte = 1
  private val PortableMagic = 1681511377

  // ---------------------------------------------------------------- z85

  private val Z85Chars =
    "0123456789abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ" +
      ".-:+=^!/*?&<>()[]{}@%$#"
  private val Z85Index: Array[Byte] = {
    val idx = Array.fill[Byte](128)(-1)
    Z85Chars.zipWithIndex.foreach { case (c, i) => idx(c.toInt) = i.toByte }
    idx
  }

  /** Encode bytes (zero-padded to a multiple of 4) as z85. */
  def z85Encode(bytes: Array[Byte]): String = {
    val padded =
      if (bytes.length % 4 == 0) bytes
      else bytes ++ Array.fill[Byte](4 - bytes.length % 4)(0)
    val sb = new StringBuilder(padded.length / 4 * 5)
    var i = 0
    while (i < padded.length) {
      var v = 0L
      var j = 0
      while (j < 4) { v = (v << 8) | (padded(i + j) & 0xffL); j += 1 }
      var div = 85L * 85 * 85 * 85
      while (div >= 1) {
        sb.append(Z85Chars(((v / div) % 85).toInt))
        div /= 85
      }
      i += 4
    }
    sb.toString
  }

  /** Decode z85, truncating to `outLen` bytes (padding discipline matches
    * the encoder above and delta-spark's Base85Codec).
    */
  def z85Decode(s: String, outLen: Int): Array[Byte] = {
    require(s.length % 5 == 0, s"z85 length ${s.length} not divisible by 5")
    val out = new Array[Byte](s.length / 5 * 4)
    var i = 0
    while (i < s.length) {
      var v = 0L
      var j = 0
      while (j < 5) {
        val c = s.charAt(i + j)
        val d = if (c < 128) Z85Index(c.toInt) else -1
        require(d >= 0, s"invalid z85 character '$c'")
        v = v * 85 + d
        j += 1
      }
      val o = i / 5 * 4
      out(o) = (v >>> 24).toByte; out(o + 1) = (v >>> 16).toByte
      out(o + 2) = (v >>> 8).toByte; out(o + 3) = v.toByte
      i += 5
    }
    if (outLen == out.length) out else out.take(outLen)
  }

  def encodeUuid(uuid: UUID): String = {
    val bb = ByteBuffer.allocate(16)
    bb.putLong(uuid.getMostSignificantBits)
    bb.putLong(uuid.getLeastSignificantBits)
    z85Encode(bb.array())
  }

  def decodeUuid(encoded: String): UUID = {
    val bb = ByteBuffer.wrap(z85Decode(encoded, 16))
    new UUID(bb.getLong, bb.getLong)
  }

  // ------------------------------------------------------- bitmap codec

  /** Serialize sorted 64-bit row positions as a portable
    * RoaringBitmapArray: each non-empty 32-bit bitmap prefixed by its
    * 4-byte little-endian key, keys ascending — the RoaringFormatSpec
    * 64-bit portable layout delta-spark writes (its in-memory array is
    * key-dense, so it serializes every key 0..max including empty ones;
    * we skip empties — both are valid portable streams and
    * [[deserializeBitmap]] reads either because it trusts the written
    * key, not the position).
    */
  def serializeBitmap(positions: Seq[Long]): Array[Byte] = {
    val byHigh = positions.groupBy(p => (p >>> 32).toInt).toSeq.sortBy(_._1)
    val bitmaps = byHigh.map { case (h, ps) =>
      val rb = new RoaringBitmap()
      ps.foreach(p => rb.add(p.toInt))
      rb.runOptimize()
      (h, rb)
    }
    val size = 4 + 8 +
      bitmaps.map(4L + _._2.serializedSizeInBytes().toLong).sum
    val buf = ByteBuffer.allocate(size.toInt).order(ByteOrder.LITTLE_ENDIAN)
    buf.putInt(PortableMagic)
    buf.putLong(bitmaps.length.toLong)
    bitmaps.foreach { case (h, rb) =>
      buf.putInt(h)
      val b = ByteBuffer.allocate(rb.serializedSizeInBytes())
        .order(ByteOrder.LITTLE_ENDIAN)
      rb.serialize(b)
      b.flip()
      buf.put(b)
    }
    buf.array()
  }

  /** Deleted 64-bit row positions from a portable RoaringBitmapArray. */
  def deserializeBitmap(payload: Array[Byte]): Array[Long] =
    readMask(payload).positions

  /** A decoded deletion vector kept as its 32-bit roaring bitmaps, keyed
    * (ascending) by the positions' high word: [[contains]] tests one row
    * position without expanding the vector into a position array.
    */
  final class RowMask(keys: Array[Int], maps: Array[RoaringBitmap]) {
    def contains(pos: Long): Boolean = {
      val i = java.util.Arrays.binarySearch(keys, (pos >>> 32).toInt)
      i >= 0 && maps(i).contains(pos.toInt)
    }

    def cardinality: Long = maps.iterator.map(_.getLongCardinality).sum

    def positions: Array[Long] = {
      val out = Array.newBuilder[Long]
      keys.indices.foreach { i =>
        val hi = keys(i).toLong << 32
        maps(i).forEach(new org.roaringbitmap.IntConsumer {
          override def accept(v: Int): Unit = out += (hi | (v & 0xffffffffL))
        })
      }
      out.result()
    }
  }

  /** Parse a portable RoaringBitmapArray into a [[RowMask]]. */
  def readMask(payload: Array[Byte]): RowMask = {
    val buf = ByteBuffer.wrap(payload).order(ByteOrder.LITTLE_ENDIAN)
    val magic = buf.getInt
    require(magic == PortableMagic,
      s"bad deletion-vector magic $magic (want $PortableMagic)")
    val n = buf.getLong
    val keys = Array.newBuilder[Int]
    val maps = Array.newBuilder[RoaringBitmap]
    var i = 0L
    var lastKey = -1L
    while (i < n) {
      val key = buf.getInt
      // pre-r13 builds of this engine wrote a KEYLESS dense stream (no
      // per-bitmap key word) — in that layout the first "key" read here
      // is a roaring serialization cookie. Name the migration instead of
      // failing on an unrelated-looking key-order/cookie error below.
      require(i > 0 || (key != 12346 && key != 12347),
        "deletion-vector payload is in the legacy keyless-dense layout " +
          "(written by a pre-portable-format build of this engine) — " +
          "rewrite the table's deletion vectors (e.g. updateWhere/" +
          "OPTIMIZE rewrite) to migrate them to the spec's keyed " +
          "portable format")
      require(key > lastKey,
        s"deletion-vector bitmap keys not ascending: $key after $lastKey")
      lastKey = key
      val slice = buf.slice().order(ByteOrder.LITTLE_ENDIAN)
      val rb = new RoaringBitmap()
      rb.deserialize(slice)
      buf.position(buf.position() + rb.serializedSizeInBytes())
      keys += key
      maps += rb
      i += 1
    }
    new RowMask(keys.result(), maps.result())
  }

  // ---------------------------------------------------------- file I/O

  /** Absolute path of a `u`/`p` descriptor's DV file. */
  def absolutePath(tablePath: String, d: DvDescriptor): String = d.storageType match {
    case "p" => graft.util.PathUtils.canonical(d.pathOrInlineDv)
    case "u" =>
      require(d.pathOrInlineDv.length >= 20,
        s"u-type pathOrInlineDv too short: '${d.pathOrInlineDv}'")
      val prefix = d.pathOrInlineDv.dropRight(20)
      val uuid = decodeUuid(d.pathOrInlineDv.takeRight(20))
      val dir = if (prefix.isEmpty) "" else s"$prefix/"
      s"${graft.util.PathUtils.canonical(tablePath)}/${dir}deletion_vector_$uuid.bin"
    case other =>
      throw new IllegalArgumentException(s"storageType '$other' has no file path")
  }

  /** Read + verify one descriptor's deleted positions. */
  def deletedPositions(conf: Configuration, tablePath: String,
      d: DvDescriptor): Array[Long] =
    rowMask(conf, tablePath, d).positions

  /** Read + verify one descriptor's vector as a [[RowMask]]. */
  def rowMask(conf: Configuration, tablePath: String,
      d: DvDescriptor): RowMask = {
    val payload = d.storageType match {
      case "i" => z85Decode(d.pathOrInlineDv, d.sizeInBytes)
      case "u" | "p" =>
        val p = new Path(absolutePath(tablePath, d))
        val fs = p.getFileSystem(conf)
        val in = fs.open(p)
        try {
          in.seek(d.offset.toLong)
          val dataSize = in.readInt()
          require(dataSize == d.sizeInBytes,
            s"DV size mismatch at $p offset ${d.offset}: " +
              s"file says $dataSize, descriptor says ${d.sizeInBytes}")
          val bytes = new Array[Byte](dataSize)
          in.readFully(bytes)
          val expected = in.readInt()
          val crc = new CRC32(); crc.update(bytes)
          require(crc.getValue.toInt == expected,
            s"DV checksum mismatch at $p offset ${d.offset}")
          bytes
        } finally in.close()
      case other =>
        throw new IllegalArgumentException(s"unknown DV storageType '$other'")
    }
    val mask = readMask(payload)
    require(d.cardinality < 0 || mask.cardinality == d.cardinality,
      s"DV cardinality mismatch: descriptor ${d.cardinality}, " +
        s"bitmap ${mask.cardinality}")
    mask
  }

  /** The descriptor as a scan carries it beside its data file (the
    * `graft_dv` file-constant field of [[DeltaRead]]'s scan): a
    * table-relative `u` path is resolved to the absolute `p` form, so an
    * executor decodes it without the table root. Layout
    * `storageType|offset|sizeInBytes|cardinality|pathOrInlineDv`; only
    * the last field, split off last, may itself hold a `|`.
    */
  def toScanField(tablePath: String, d: DvDescriptor): String = {
    val r =
      if (d.storageType != "u") d
      else d.copy(storageType = "p",
        pathOrInlineDv = absolutePath(tablePath, d))
    s"${r.storageType}|${r.offset}|${r.sizeInBytes}|${r.cardinality}|" +
      r.pathOrInlineDv
  }

  def fromScanField(s: String): DvDescriptor = {
    val f = s.split("\\|", 5)
    DvDescriptor(f(0), f(4), f(1).toInt, f(2).toInt, f(3).toLong)
  }

  /** Write one DV file holding `dvs.length` vectors; returns a descriptor
    * per vector. Fixture/writer side of the codec (graft targets never
    * produce DVs; this backs conformance specs and inline round-trips).
    */
  def writeDvFile(conf: Configuration, tablePath: String, prefix: String,
      uuid: UUID, dvs: Seq[Seq[Long]]): Seq[DvDescriptor] = {
    val encoded = prefix + encodeUuid(uuid)
    val rel = (if (prefix.isEmpty) "" else s"$prefix/") +
      s"deletion_vector_$uuid.bin"
    val p = new Path(s"${graft.util.PathUtils.canonical(tablePath)}/$rel")
    val fs = p.getFileSystem(conf)
    val out = fs.create(p, true)
    val descriptors = Seq.newBuilder[DvDescriptor]
    try {
      out.writeByte(FormatVersion.toInt)
      var offset = 1
      dvs.foreach { positions =>
        val payload = serializeBitmap(positions)
        val crc = new CRC32(); crc.update(payload)
        out.writeInt(payload.length)
        out.write(payload)
        out.writeInt(crc.getValue.toInt)
        descriptors += DvDescriptor("u", encoded, offset, payload.length,
          positions.size.toLong)
        offset += 4 + payload.length + 4
      }
    } finally out.close()
    descriptors.result()
  }

  /** One DV file holding the vectors of MANY data files — the delta-spark
    * per-task shape: descriptors share the file and differ by `offset`, so
    * a DELETE touching 10^6 data files writes O(write tasks) DV files,
    * not 10^6. `groups` streams (dataFilePath, sortedPositions); returns
    * the (dataFilePath, descriptor) pairs after the file is closed.
    */
  def writeDvFileGrouped(conf: Configuration, tablePath: String,
      prefix: String, uuid: UUID,
      groups: Iterator[(String, Array[Long])])
      : Iterator[(String, DvDescriptor)] = {
    val encoded = prefix + encodeUuid(uuid)
    val rel = (if (prefix.isEmpty) "" else s"$prefix/") +
      s"deletion_vector_$uuid.bin"
    val p = new Path(s"${graft.util.PathUtils.canonical(tablePath)}/$rel")
    val fs = p.getFileSystem(conf)
    val out = fs.create(p, true)
    val descriptors = Seq.newBuilder[(String, DvDescriptor)]
    try {
      out.writeByte(FormatVersion.toInt)
      var offset = 1
      groups.foreach { case (dataPath, positions) =>
        val payload = serializeBitmap(positions.toSeq)
        val crc = new CRC32(); crc.update(payload)
        out.writeInt(payload.length)
        out.write(payload)
        out.writeInt(crc.getValue.toInt)
        descriptors += dataPath -> DvDescriptor("u", encoded, offset,
          payload.length, positions.length.toLong)
        offset += 4 + payload.length + 4
      }
    } finally out.close()
    descriptors.result().iterator
  }

  /** An inline (`i`) descriptor for the given positions. */
  def inlineDescriptor(positions: Seq[Long]): DvDescriptor = {
    val payload = serializeBitmap(positions)
    DvDescriptor("i", z85Encode(payload), 0, payload.length,
      positions.size.toLong)
  }
}
