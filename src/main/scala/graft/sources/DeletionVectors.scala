package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Path}

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions.udf

/** Delta-protocol DELETION VECTORS, read side: the modern row-level
  * delete representation stock delta-spark writes by default — an
  * `add` action carries a `deletionVector` descriptor naming a roaring
  * bitmap of ordinal row indexes to HIDE from that file, so a DELETE
  * commits in O(deleted rows) bitmap bytes instead of copy-on-write
  * file rewrites (reference analog: the Delta tables of
  * `consumer_lake.py:48-54` read by any current Delta engine).
  *
  * Everything here follows the PUBLIC specs:
  *  - descriptor + storage formats: Delta PROTOCOL.md "Deletion
  *    Vectors" (storageType u/i/p, Z85 path-or-inline encoding, the
  *    1-byte-version + [size | data | CRC-32] file layout with
  *    BIG-endian size/checksum ints — DataOutputStream convention);
  *  - bitmap bytes: the "portable" RoaringBitmapArray format — magic
  *    1681511377 (little-endian) + 8-byte bitmap count + each 32-bit
  *    roaring bitmap in the official RoaringFormatSpec portable
  *    serialization (cookies 12346/12347, array/bitmap/run containers,
  *    all little-endian);
  *  - Z85: the ZeroMQ base-85 alphabet, 4 bytes → 5 chars big-endian
  *    per block, zero-padded to a block boundary (the descriptor's
  *    sizeInBytes recovers the true length).
  *
  * The write side here exists only to author protocol-conformant
  * fixtures (no delta jar ships in this environment): it emits
  * no-run-cookie bitmaps with array/bitmap containers plus the offset
  * header the spec mandates, so a stock reader could consume them.
  */
object DeletionVectors {

  // ------------------------------------------------------------- Z85

  private val z85Alphabet =
    "0123456789abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ" +
      ".-:+=^!/*?&<>()[]{}@%$#"
  private val z85Decode: Array[Int] = {
    val t = Array.fill(128)(-1)
    z85Alphabet.zipWithIndex.foreach { case (c, i) => t(c.toInt) = i }
    t
  }

  /** Z85-encode, zero-padding the input to a 4-byte boundary. */
  def z85Encode(bytes: Array[Byte]): String = {
    val padded =
      if (bytes.length % 4 == 0) bytes
      else bytes ++ Array.fill[Byte](4 - bytes.length % 4)(0)
    val sb = new StringBuilder(padded.length / 4 * 5)
    var i = 0
    while (i < padded.length) {
      var v = 0L
      var j = 0
      while (j < 4) { v = (v << 8) | (padded(i + j) & 0xFFL); j += 1 }
      var div = 85L * 85 * 85 * 85
      while (div > 0) {
        sb.append(z85Alphabet(((v / div) % 85).toInt))
        div /= 85
      }
      i += 4
    }
    sb.toString
  }

  /** Z85-decode to exactly `outLen` bytes (trims the block padding). */
  def z85Decode(s: String, outLen: Int): Array[Byte] = {
    require(s.length % 5 == 0, s"z85: length ${s.length} not a block multiple")
    val out = new Array[Byte](s.length / 5 * 4)
    var i = 0
    while (i < s.length) {
      var v = 0L
      var j = 0
      while (j < 5) {
        val c = s.charAt(i + j).toInt
        val d = if (c < 128) z85Decode(c) else -1
        require(d >= 0, s"z85: invalid character '${s.charAt(i + j)}'")
        v = v * 85 + d
        j += 1
      }
      var k = 3
      while (k >= 0) {
        out(i / 5 * 4 + (3 - k)) = ((v >>> (8 * k)) & 0xFF).toByte
        k -= 1
      }
      i += 5
    }
    require(outLen <= out.length, s"z85: want $outLen bytes, have ${out.length}")
    if (outLen == out.length) out else out.take(outLen)
  }

  // --------------------------------------------- roaring bitmap array

  private val MagicNumber = 1681511377
  private val SerialCookieNoRun = 12346
  private val SerialCookie = 12347

  /** One 32-bit roaring bitmap: containers keyed by the value's high 16
    * bits. Containers are the three spec shapes; keys/values are kept
    * as unsigned ints.
    */
  private sealed trait Container { def contains(low: Int): Boolean }
  private final case class ArrayC(values: Array[Int]) extends Container {
    def contains(low: Int): Boolean =
      java.util.Arrays.binarySearch(values, low) >= 0
  }
  private final case class BitmapC(words: Array[Long]) extends Container {
    def contains(low: Int): Boolean =
      (words(low >>> 6) & (1L << (low & 63))) != 0
  }
  private final case class RunC(runs: Array[(Int, Int)]) extends Container {
    def contains(low: Int): Boolean =
      runs.exists { case (start, len) => low >= start && low <= start + len }
  }
  private final case class Bitmap32(keys: Array[Int], containers: Array[Container]) {
    def contains(v: Int): Boolean = {
      val key = (v >>> 16) & 0xFFFF
      val i = java.util.Arrays.binarySearch(keys, key)
      i >= 0 && containers(i).contains(v & 0xFFFF)
    }
  }

  /** A parsed RoaringBitmapArray: 64-bit membership via (high-32 →
    * bitmap index, low-32 → 32-bit bitmap). */
  final class RoaringArray private[DeletionVectors] (bitmaps: Array[Bitmap32]) {
    def contains(v: Long): Boolean = {
      val idx = (v >>> 32).toInt
      idx >= 0 && idx < bitmaps.length && bitmaps(idx).contains((v & 0xFFFFFFFFL).toInt)
    }
    def cardinality: Long = bitmaps.map(b =>
      b.containers.map {
        case ArrayC(vs) => vs.length.toLong
        case BitmapC(ws) => ws.map(java.lang.Long.bitCount(_).toLong).sum
        case RunC(rs) => rs.map { case (_, len) => len.toLong + 1 }.sum
      }.sum).sum
    /** All set values in ascending order — the DV-merge path (a second
      * delete on an already-DV'd file unions old and new). Bounded by
      * the file's row count, enumerated in the executor. */
    def values: Iterator[Long] =
      bitmaps.iterator.zipWithIndex.flatMap { case (b, idx) =>
        val high = idx.toLong << 32
        b.keys.iterator.zip(b.containers.iterator).flatMap { case (key, c) =>
          val base = high | (key.toLong << 16)
          c match {
            case ArrayC(vs) => vs.iterator.map(v => base | v.toLong)
            case BitmapC(ws) => ws.iterator.zipWithIndex.flatMap { case (w, wi) =>
              (0 until 64).iterator.filter(bit => (w & (1L << bit)) != 0)
                .map(bit => base | (wi.toLong * 64 + bit))
            }
            case RunC(rs) => rs.iterator.flatMap { case (start, len) =>
              (start to start + len).iterator.map(v => base | v.toLong)
            }
          }
        }
      }
  }

  /** Parse the portable RoaringBitmapArray serialization. */
  def parse(bytes: Array[Byte]): RoaringArray = {
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val magic = bb.getInt()
    require(magic == MagicNumber,
      s"deletion vector: bad magic $magic (want $MagicNumber)")
    val n = bb.getLong()
    require(n >= 0 && n <= Int.MaxValue, s"deletion vector: $n bitmaps")
    new RoaringArray(Array.fill(n.toInt)(parseBitmap32(bb)))
  }

  private def parseBitmap32(bb: ByteBuffer): Bitmap32 = {
    val cookie = bb.getInt()
    val (nContainers, runFlags) =
      if ((cookie & 0xFFFF) == SerialCookie) {
        val n = (cookie >>> 16) + 1
        val flags = new Array[Byte]((n + 7) / 8)
        bb.get(flags)
        (n, Some(flags))
      } else {
        require(cookie == SerialCookieNoRun,
          s"roaring: unknown cookie $cookie")
        (bb.getInt(), None)
      }
    val keys = new Array[Int](nContainers)
    val cards = new Array[Int](nContainers)
    var i = 0
    while (i < nContainers) {
      keys(i) = bb.getShort() & 0xFFFF
      cards(i) = (bb.getShort() & 0xFFFF) + 1
      i += 1
    }
    // offset header: present when no runs, or when big enough that the
    // spec keeps it for random access — we read sequentially and skip it
    val hasOffsets = runFlags.isEmpty || nContainers >= 4
    if (hasOffsets) bb.position(bb.position() + 4 * nContainers)
    def isRun(i: Int): Boolean =
      runFlags.exists(f => (f(i / 8) & (1 << (i % 8))) != 0)
    val containers = new Array[Container](nContainers)
    i = 0
    while (i < nContainers) {
      containers(i) =
        if (isRun(i)) {
          val nRuns = bb.getShort() & 0xFFFF
          RunC(Array.fill(nRuns)((bb.getShort() & 0xFFFF, bb.getShort() & 0xFFFF)))
        } else if (cards(i) > 4096) {
          val words = new Array[Long](1024)
          var w = 0
          while (w < 1024) { words(w) = bb.getLong(); w += 1 }
          BitmapC(words)
        } else ArrayC(Array.fill(cards(i))(bb.getShort() & 0xFFFF))
      i += 1
    }
    Bitmap32(keys, containers)
  }

  /** Serialize a sorted set of 64-bit row indexes as a portable
    * RoaringBitmapArray (no-run cookie, array/bitmap containers) — the
    * fixture writer's half of the protocol.
    */
  def serialize(values: Seq[Long]): Array[Byte] = {
    require(values.nonEmpty, "deletion vector: empty bitmap")
    require(values.forall(_ >= 0), "deletion vector: negative row index")
    val byHigh = values.distinct.sorted.groupBy(v => (v >>> 32).toInt)
    val nBitmaps = byHigh.keys.max + 1
    val parts = (0 until nBitmaps).map { idx =>
      serializeBitmap32(byHigh.getOrElse(idx, Seq.empty).map(v => (v & 0xFFFFFFFFL).toInt))
    }
    val bb = ByteBuffer.allocate(12 + parts.map(_.length).sum)
      .order(ByteOrder.LITTLE_ENDIAN)
    bb.putInt(MagicNumber)
    bb.putLong(nBitmaps.toLong)
    parts.foreach(bb.put)
    bb.array()
  }

  private def serializeBitmap32(values: Seq[Int]): Array[Byte] = {
    val byKey = values.sorted.groupBy(v => (v >>> 16) & 0xFFFF).toSeq.sortBy(_._1)
    val n = byKey.size
    val contBytes = byKey.map { case (_, vs) =>
      if (vs.size > 4096) {
        val words = new Array[Long](1024)
        vs.foreach(v => words((v & 0xFFFF) >>> 6) |= 1L << (v & 63))
        val b = ByteBuffer.allocate(8192).order(ByteOrder.LITTLE_ENDIAN)
        words.foreach(b.putLong)
        b.array()
      } else {
        val b = ByteBuffer.allocate(2 * vs.size).order(ByteOrder.LITTLE_ENDIAN)
        vs.foreach(v => b.putShort((v & 0xFFFF).toShort))
        b.array()
      }
    }
    val headerLen = 4 + 4 + 4 * n + 4 * n // cookie + count + desc + offsets
    val bb = ByteBuffer.allocate(headerLen + contBytes.map(_.length).sum)
      .order(ByteOrder.LITTLE_ENDIAN)
    bb.putInt(SerialCookieNoRun)
    bb.putInt(n)
    byKey.foreach { case (key, vs) =>
      bb.putShort(key.toShort)
      bb.putShort((vs.size - 1).toShort)
    }
    var off = headerLen
    contBytes.foreach { c => bb.putInt(off); off += c.length }
    contBytes.foreach(bb.put)
    bb.array()
  }

  // ------------------------------------------------ descriptor + file

  private lazy val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** The `add.deletionVector` descriptor, verbatim per PROTOCOL.md. */
  final case class Descriptor(storageType: String, pathOrInlineDv: String,
      offset: Option[Int], sizeInBytes: Int, cardinality: Long) {
    /** The descriptor JSON, the inverse of [[parseDescriptor]]: spec key
      * order, `offset` only when set. */
    def render: String = {
      val n = mapper.createObjectNode()
      n.put("storageType", storageType)
      n.put("pathOrInlineDv", pathOrInlineDv)
      offset.foreach(n.put("offset", _))
      n.put("sizeInBytes", sizeInBytes)
      n.put("cardinality", cardinality)
      mapper.writeValueAsString(n)
    }
  }

  object Descriptor {
    /** A "u" descriptor for `deletion_vector_<uuid>.bin` under the table
      * root: pathOrInlineDv is the UUID's 16 big-endian bytes in Z85 (no
      * prefix directory), the inverse of [[uPath]]. */
    def u(uuid: java.util.UUID, offset: Int, sizeInBytes: Int,
        cardinality: Long): Descriptor = {
      val bb = ByteBuffer.allocate(16)
      bb.putLong(uuid.getMostSignificantBits).putLong(uuid.getLeastSignificantBits)
      Descriptor("u", z85Encode(bb.array()), Some(offset), sizeInBytes, cardinality)
    }
  }

  /** Absolute path of a "u"-style DV file: the LAST 20 chars of
    * pathOrInlineDv are the Z85 of the 16-byte UUID; anything before is
    * an optional random prefix directory.
    */
  private[sources] def uPath(table: Path, pathOrInlineDv: String): Path = {
    val enc = pathOrInlineDv.takeRight(20)
    val prefix = pathOrInlineDv.dropRight(20)
    val raw = z85Decode(enc, 16)
    val bb = ByteBuffer.wrap(raw) // big-endian: UUID(mostSig, leastSig)
    val uuid = new java.util.UUID(bb.getLong(), bb.getLong())
    val name = s"deletion_vector_$uuid.bin"
    if (prefix.isEmpty) table.resolve(name) else table.resolve(prefix).resolve(name)
  }

  /** Serialized bitmap bytes straight from a descriptor-JSON string —
    * the one-call form callers outside this package need (the DSv2
    * scan ships these to executors). */
  private[graft] def bytesOf(table: Path, descJson: String): Array[Byte] =
    readBytes(table, parseDescriptor(descJson))

  /** Fetch + integrity-check the serialized bitmap a descriptor names. */
  def readBytes(table: Path, d: Descriptor): Array[Byte] = d.storageType match {
    case "i" => z85Decode(d.pathOrInlineDv, d.sizeInBytes)
    case "u" | "p" =>
      val p = if (d.storageType == "u") uPath(table, d.pathOrInlineDv)
        else java.nio.file.Paths.get(d.pathOrInlineDv)
      val all = Files.readAllBytes(p)
      require(all.nonEmpty && all(0) == 1,
        s"$p: unsupported deletion-vector file version ${all.headOption.orNull}")
      val off = d.offset.getOrElse(
        sys.error(s"$p: file-backed deletion vector without offset"))
      val bb = ByteBuffer.wrap(all).order(ByteOrder.BIG_ENDIAN).position(off)
      val size = bb.getInt()
      require(size == d.sizeInBytes,
        s"$p@$off: stored size $size != descriptor sizeInBytes ${d.sizeInBytes}")
      val data = new Array[Byte](size)
      bb.get(data)
      val crc = bb.getInt()
      val c = new java.util.zip.CRC32
      c.update(data)
      require(crc == c.getValue.toInt,
        s"$p@$off: deletion-vector checksum mismatch")
      data
    case other => sys.error(s"deletion vector: unknown storageType '$other'")
  }

  /** Write one DV file holding `dvs` in order (fixture writer); returns
    * the per-DV offsets for the descriptors.
    */
  def writeDvFile(target: Path, dvs: Seq[Array[Byte]]): Seq[Int] = {
    val total = 1 + dvs.map(_.length + 8).sum
    val bb = ByteBuffer.allocate(total).order(ByteOrder.BIG_ENDIAN)
    bb.put(1.toByte)
    val offsets = dvs.map { d =>
      val off = bb.position()
      bb.putInt(d.length)
      bb.put(d)
      val c = new java.util.zip.CRC32
      c.update(d)
      bb.putInt(c.getValue.toInt)
      off
    }
    Files.write(target, bb.array())
    offsets
  }

  // ------------------------------------------------- Spark application

  private[graft] def parseDescriptor(json: String): Descriptor = {
    val n = mapper.readTree(json)
    Descriptor(
      n.get("storageType").asText(),
      n.get("pathOrInlineDv").asText(),
      Option(n.get("offset")).filterNot(_.isNull).map(_.asInt()),
      n.get("sizeInBytes").asInt(),
      Option(n.get("cardinality")).map(_.asLong()).getOrElse(-1L))
  }

  /** Executor-side parsed-bitmap cache: bitmaps are deserialized once
    * per (broadcast, file) per JVM, not per row. */
  private val parsedCache = TrieMap.empty[(Long, String), RoaringArray]

  /** Spec hook: drop the executor-side cache (memory hygiene tests). */
  private[graft] def clearCache(): Unit = parsedCache.clear()

  /** `(file_path, row_index) => keep` filter for DV-carrying scans.
    * The descriptors are RESOLVED on the driver (metadata-scale IO —
    * DV payloads total O(deleted rows) bitmap bytes, the same order as
    * the log itself) and the raw bytes broadcast; executors parse each
    * file's bitmap once. `descByPath` keys are table-relative data-file
    * paths; `_metadata.file_path` URIs are matched by their path form.
    */
  def keepUdf(spark: SparkSession, table: Path,
      descByPath: Map[String, String]): UserDefinedFunction = {
    val resolved: Map[String, Array[Byte]] = descByPath.map { case (rel, dJson) =>
      table.resolve(rel).toAbsolutePath.toString ->
        readBytes(table, parseDescriptor(dJson))
    }
    val bc = spark.sparkContext.broadcast(resolved)
    udf { (filePath: String, rowIndex: Long) =>
      val abs = new java.net.URI(filePath).getPath
      bc.value.get(abs) match {
        case None => true // a scan file without a DV keeps every row
        case Some(bytes) =>
          val bm = parsedCache.getOrElseUpdate((bc.id, abs), parse(bytes))
          !bm.contains(rowIndex)
      }
    }
  }
}
