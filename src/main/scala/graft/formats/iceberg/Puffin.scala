package graft.formats.iceberg

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets
import java.util.zip.CRC32

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, Path}

import graft.io.TableStore
import graft.util.Jsons

/** Puffin file codec — the public Iceberg puffin-spec.md layout that
  * format-version 3 stores deletion vectors in (reference: the format
  * libraries the reference delegates to read these via
  * org.apache.iceberg.puffin; graft implements the spec natively).
  *
  * File layout:
  * {{{
  *   Magic ("PFA1")  Blob_1 .. Blob_n  Footer
  *   Footer = Magic  FooterPayload(JSON)  FooterPayloadSize(int32 LE)
  *            Flags(4 bytes)  Magic
  * }}}
  * FooterPayload is the FileMetadata JSON: `{"blobs":[BlobMetadata...],
  * "properties":{...}}`; BlobMetadata carries `type`, `fields`,
  * `snapshot-id`, `sequence-number`, `offset`, `length` and optional
  * `properties`. Flags byte 0 bit 0 marks an lz4-compressed footer
  * payload — graft writes uncompressed (flags all zero) and refuses the
  * compressed form loudly rather than misparse it.
  *
  * A `deletion-vector-v1` blob (Iceberg spec v3 §Deletion Vectors) is
  * byte-identical to a Delta deletion-vector file body — the spec chose
  * that deliberately so one physical vector can serve both formats:
  * {{{
  *   int32 BE : length of magic + vector
  *   4 bytes  : magic D1 D3 39 64   (== 1681511377 little-endian, the
  *              Delta RoaringBitmapArray portable magic)
  *   bytes    : the 64-bit roaring bitmap, RoaringFormatSpec "portable"
  *   int32 BE : CRC-32 of the magic + vector bytes
  * }}}
  * so the payload codec is shared with
  * [[graft.formats.delta.DeletionVectors]]. Blob metadata `offset` points
  * at the int32 length word and `length` covers the whole frame
  * (4 + payload + 4); DV blob properties carry `referenced-data-file`
  * and `cardinality` per the spec.
  */
object Puffin {

  private val Magic = Array[Byte](0x50, 0x46, 0x41, 0x31) // "PFA1"
  val DeletionVectorV1 = "deletion-vector-v1"

  final case class Blob(blobType: String, offset: Long, length: Long,
      snapshotId: Long, sequenceNumber: Long,
      properties: Map[String, String])

  /** One deletion vector to be written: the data file it masks and the
    * deleted 64-bit row positions.
    */
  final case class Dv(referencedDataFile: String, positions: Seq[Long])

  /** Write one puffin file holding one `deletion-vector-v1` blob per
    * [[Dv]] through `store`; returns the blob metadata in input order (the
    * manifest author needs each blob's offset/length for data_file fields
    * 144/145).
    */
  def writeDeletionVectors(path: String, snapshotId: Long,
      sequenceNumber: Long, dvs: Seq[Dv],
      store: TableStore = TableStore.active()): Seq[Blob] = {
    val out = new java.io.BufferedOutputStream(
      store.create(graft.util.PathUtils.canonical(path)))
    try {
      out.write(Magic)
      var offset = 4L
      val blobs = dvs.map { dv =>
        val payload = graft.formats.delta.DeletionVectors
          .serializeBitmap(dv.positions.sorted)
        val frame = ByteBuffer.allocate(4 + payload.length + 4)
          .order(ByteOrder.BIG_ENDIAN)
        frame.putInt(payload.length)
        frame.put(payload)
        val crc = new CRC32(); crc.update(payload)
        frame.putInt(crc.getValue.toInt)
        out.write(frame.array())
        val b = Blob(DeletionVectorV1, offset, frame.capacity().toLong,
          snapshotId, sequenceNumber,
          Map("referenced-data-file" -> dv.referencedDataFile,
            "cardinality" -> dv.positions.distinct.size.toString))
        offset += frame.capacity()
        b
      }
      val footerJson = {
        val o = Jsons.mapper.createObjectNode()
        val arr = o.putArray("blobs")
        blobs.foreach { b =>
          val bo = arr.addObject()
          bo.put("type", b.blobType)
          bo.putArray("fields")
          bo.put("snapshot-id", b.snapshotId)
          bo.put("sequence-number", b.sequenceNumber)
          bo.put("offset", b.offset)
          bo.put("length", b.length)
          val props = bo.putObject("properties")
          b.properties.toSeq.sortBy(_._1).foreach { case (k, v) =>
            props.put(k, v) }
        }
        o.putObject("properties").put("created-by", "graft")
        Jsons.mapper.writeValueAsString(o)
          .getBytes(StandardCharsets.UTF_8)
      }
      out.write(Magic)
      out.write(footerJson)
      val tail = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
      tail.putInt(footerJson.length)
      tail.putInt(0) // flags: uncompressed footer payload
      out.write(tail.array())
      out.write(Magic)
      blobs
    } finally out.close()
  }

  /** `path` opened through the FileSystem `conf` names, with a probe of
    * its length.
    */
  private def open[A](path: String, conf: Configuration)(
      read: (FSDataInputStream, () => Long) => A): A = {
    val p = new Path(graft.util.PathUtils.canonical(path))
    val fs = p.getFileSystem(conf)
    Using.resource(fs.open(p))(read(_, () => fs.getFileStatus(p).getLen))
  }

  /** Parse the footer: every blob's metadata plus the file properties. */
  def readBlobs(path: String, conf: Configuration)
      : (Seq[Blob], Map[String, String]) = open(path, conf) { (f, size) =>
    val len = size()
    require(len >= 20, s"puffin file $path too short (${len}B)")
    def readAt(pos: Long, n: Int): Array[Byte] = {
      val a = new Array[Byte](n); f.readFully(pos, a); a
    }
    require(readAt(0, 4).sameElements(Magic),
      s"$path is not a puffin file (bad leading magic)")
    require(readAt(len - 4, 4).sameElements(Magic),
      s"$path is not a puffin file (bad trailing magic)")
    val tail = ByteBuffer.wrap(readAt(len - 12, 8))
      .order(ByteOrder.LITTLE_ENDIAN)
    val payloadSize = tail.getInt
    val flags = tail.getInt
    require((flags & 1) == 0,
      s"puffin footer at $path is lz4-compressed — not implemented; " +
        "refusing rather than misparse")
    val payloadStart = len - 12 - payloadSize
    require(readAt(payloadStart - 4, 4).sameElements(Magic),
      s"$path puffin footer magic missing before payload")
    val json = Jsons.mapper.readTree(
      new String(readAt(payloadStart, payloadSize),
        StandardCharsets.UTF_8))
    val blobs = Option(json.get("blobs")).toSeq
      .flatMap(_.elements().asScala)
      .map { b =>
        Blob(b.get("type").asText(),
          b.get("offset").asLong(), b.get("length").asLong(),
          Option(b.get("snapshot-id")).map(_.asLong()).getOrElse(-1L),
          Option(b.get("sequence-number")).map(_.asLong()).getOrElse(-1L),
          Option(b.get("properties")).map(_.properties().asScala
            .map(e => e.getKey -> e.getValue.asText()).toMap)
            .getOrElse(Map.empty))
      }
    val props = Option(json.get("properties"))
      .map(_.properties().asScala
        .map(e => e.getKey -> e.getValue.asText()).toMap)
      .getOrElse(Map.empty)
    (blobs, props)
  }

  /** Read one deletion-vector blob at (offset, length) — the coordinates
    * a v3 delete manifest records in data_file fields 144/145 — and
    * return the deleted row positions. Verifies the frame length, magic
    * (via the shared payload codec) and CRC-32 before trusting a bit.
    */
  def readDeletionVector(path: String, offset: Long, length: Long,
      conf: Configuration): Array[Long] = open(path, conf) { (f, _) =>
    f.seek(offset)
    val payloadLen = f.readInt() // BE
    require(payloadLen.toLong == length - 8,
      s"deletion-vector frame at $path:$offset says $payloadLen payload " +
        s"bytes but blob length $length implies ${length - 8}")
    val payload = new Array[Byte](payloadLen)
    f.readFully(payload)
    val expected = f.readInt() // BE
    val crc = new CRC32(); crc.update(payload)
    require(crc.getValue.toInt == expected,
      s"deletion-vector CRC mismatch at $path:$offset")
    graft.formats.delta.DeletionVectors.deserializeBitmap(payload)
  }
}
