package graft.io.hdf5

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.channels.FileChannel
import java.nio.file.{Paths, StandardOpenOption}

/** Minimal pure-Scala HDF5 *writer* for the same public-spec subset
  * [[Hdf5Reader]] consumes (https://docs.hdfgroup.org/hdf5/develop/
  * _f_m_t3.html — public documentation):
  *
  *   - superblock version 0, 8-byte offsets/lengths
  *   - version-1 object headers (single block, no continuations)
  *   - groups as v1-B-tree + local-heap symbol tables (entries sorted
  *     by name, as the spec requires)
  *   - datasets: contiguous, or chunked (v1 chunk B-tree, single node)
  *     with optional shuffle+deflate filters
  *   - datatypes: fixed-point, IEEE float, fixed-length strings
  *   - v1 attribute messages (scalar + 1-D)
  *
  * This is the interchange/export half of the reference's native
  * format (reference SPEC.md:1-101): `data/` column datasets with
  * `unit`/`description` attributes, `header/` attribute groups,
  * `data_linked/` and `index/` range datasets. Objects are written
  * bottom-up (children first, then the groups that reference them,
  * then the superblock), so everything streams through one channel —
  * no in-memory image of the file. The columns of a data group arrive
  * together through one iterator ([[writeDatasets]]), so the caller
  * streams its source once, one partition at a time.
  *
  * Files written here are read back by [[Hdf5Reader]]; both sides are
  * written independently against the published format document, and
  * the reader rejects (loudly) any construct outside the subset, so a
  * writer bug that bent the format would surface as a read failure,
  * not silent corruption.
  */
final class Hdf5Writer(val path: String) extends AutoCloseable {
  import Hdf5Writer._

  private val ch = FileChannel.open(Paths.get(path),
    StandardOpenOption.CREATE, StandardOpenOption.WRITE,
    StandardOpenOption.TRUNCATE_EXISTING)
  private var pos: Long = SuperblockSize // superblock patched in finish()

  private def writeAt(off: Long, b: Array[Byte], len: Int): Unit = {
    val bb = ByteBuffer.wrap(b, 0, len)
    var written = 0
    while (written < len) written += ch.write(bb, off + written)
  }

  /** Append a block, return its file offset. */
  def writeBlock(b: Array[Byte]): Long = {
    val at = pos
    writeAt(at, b, b.length)
    pos += b.length
    at
  }

  // ---- object headers ----------------------------------------------

  /** v1 object header from (type, data) messages; returns its addr. */
  private def writeObjectHeader(msgs: Seq[(Int, Array[Byte])]): Long = {
    msgs.foreach { case (t, d) =>
      require(d.length <= 0xFFF0,
        s"header message type 0x${t.toHexString} is ${d.length} bytes — " +
          "exceeds the v1 16-bit message size (e.g. an attribute over " +
          "thousands of columns); split or drop the attribute")
    }
    val padded = msgs.map { case (t, d) => (t, d ++ new Array[Byte](pad8(d.length) - d.length)) }
    val bodySize = padded.map(_._2.length + 8).sum
    val b = buf(16 + bodySize)
    b.put(1.toByte).put(0.toByte)             // version, reserved
    b.putShort(padded.size.toShort)           // message count
    b.putInt(1)                               // object reference count
    b.putInt(bodySize)                        // header size
    b.putInt(0)                               // pad to 8-byte boundary
    padded.foreach { case (t, d) =>
      b.putShort(t.toShort).putShort(d.length.toShort)
      b.put(0.toByte).put(0.toByte).put(0.toByte).put(0.toByte) // flags+reserved
      b.put(d)
    }
    writeBlock(b.array())
  }

  // ---- datasets -----------------------------------------------------

  /** Write several datasets in ONE pass over `data`. Each element of
    * `data` holds one block per dataset, in `specs` order, of any size
    * (a row, a batch of rows, a whole column or nothing); a block is
    * copied before the next element is pulled, so the caller may reuse
    * its arrays. Returns the object header addresses in `specs` order.
    *
    * Chunked layout when `chunkRows` > 0: every dataset buffers one
    * chunk of `chunkRows` rows and appends it, through the optional
    * shuffle+deflate filters, as soon as it fills, so chunks of
    * different datasets interleave in the file; the trailing partial
    * chunk is stored full-size, zero-padded (the spec's chunks are
    * uniform). The chunk B-trees and object headers follow the data.
    * Memory is one chunk per dataset — `chunkRows` × the summed row
    * width — refused loudly past 2 GiB. Contiguous layout when
    * `chunkRows` is 0: every dataset's extent is reserved up front and
    * its bytes land at their known offsets through a fixed
    * [[StageBytes]] buffer per dataset.
    *
    * Every dataset must receive exactly its dims-implied bytes: a
    * stream that ends short, or runs past them, fails loudly instead
    * of exporting zero-filled or overwritten rows.
    */
  def writeDatasets(specs: Seq[DatasetSpec], data: Iterator[Array[Array[Byte]]],
                    chunkRows: Int = 0, deflate: Boolean = false): Seq[Long] = {
    require(chunkRows > 0 || (!deflate && !specs.exists(_.shuffle)),
      "filters require a chunked layout")
    if (chunkRows > 0) {
      // chunkRows x rowBytes is unbounded (a wide array column
      // multiplies it); a silent Int wrap would mis-size a buffer or
      // the trailing-chunk pad, so refuse loudly before any data is
      // consumed. A negative product means the Long itself overflowed.
      val perDataset = specs.map(_.rowBytes * chunkRows)
      val buffered =
        if (perDataset.exists(b => b < 0 || b > Int.MaxValue)) -1L else perDataset.sum
      require(buffered >= 0 && buffered <= Int.MaxValue,
        s"chunk too large: chunkRows = $chunkRows rows x " +
          s"${specs.map(_.rowBytes).mkString(" + ")} B/row over ${specs.size} " +
          s"dataset(s) buffers ${if (buffered < 0) "over 2^63" else buffered.toString} B " +
          "(limit 2 GiB) — lower chunkRows")
    }
    val streams = specs.map(new DatasetStream(_, chunkRows, deflate)).toArray
    data.foreach { blocks =>
      require(blocks.length == streams.length,
        s"${blocks.length} blocks for ${streams.length} datasets")
      var i = 0
      while (i < blocks.length) { streams(i).append(blocks(i)); i += 1 }
    }
    streams.toSeq.map(_.finish())
  }

  /** The one-dataset case of [[writeDatasets]]. */
  def writeDataset(dtype: WDType, dims: Seq[Long],
                   data: Iterator[Array[Byte]],
                   attrs: Seq[(String, Any)] = Nil,
                   chunkRows: Int = 0,
                   deflate: Boolean = false,
                   shuffle: Boolean = false): Long =
    writeDatasets(Seq(DatasetSpec("", dtype, dims, attrs, shuffle)),
      data.map(Array(_)), chunkRows, deflate).head

  /** One dataset of a [[writeDatasets]] pass: its buffer, how many
    * bytes it has taken, and where its data went.
    */
  private final class DatasetStream(spec: DatasetSpec, chunkRows: Int,
                                    deflate: Boolean) {
    import spec.{dtype, dims}
    private val label = if (spec.name.isEmpty) "dataset" else s"dataset ${spec.name}"
    private val nRows = if (dims.isEmpty) 1L else dims.head
    private val totalBytes = nRows * spec.rowBytes
    private val chunked = chunkRows > 0
    private val stage = new Array[Byte](
      if (chunked) (chunkRows * spec.rowBytes).toInt
      else math.min(StageBytes.toLong, totalBytes).toInt)
    private var fill = 0
    private var received = 0L
    // contiguous: the reserved extent and how much of it is written
    private val base = if (chunked) 0L else { val at = pos; pos += totalBytes; at }
    private var flushed = 0L
    // chunked: (startRow, addr, storedBytes) per chunk written
    private val chunks = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int)]
    private val nChunks = if (chunked) (nRows + chunkRows - 1) / chunkRows else 0L
    // the single-node chunk B-tree counts its entries in 16 bits
    require(nChunks <= 0xFFFF, s"$label needs $nChunks chunks of $chunkRows " +
      "rows, past the 65535 one chunk B-tree node holds — raise chunkRows")

    def append(b: Array[Byte]): Unit = {
      require(received + b.length <= totalBytes,
        s"$label data stream has trailing bytes past dims-implied $totalBytes")
      received += b.length
      var off = 0
      while (off < b.length) {
        val k = math.min(b.length - off, stage.length - fill)
        System.arraycopy(b, off, stage, fill, k)
        fill += k; off += k
        if (fill == stage.length) flush()
      }
    }

    private def flush(): Unit =
      if (chunked) {
        java.util.Arrays.fill(stage, fill, stage.length, 0.toByte)
        val shuffled = if (spec.shuffle) shuffleBytes(stage, dtype.size) else stage
        val stored = if (deflate) deflateBytes(shuffled) else shuffled
        chunks += ((chunks.size.toLong * chunkRows, writeBlock(stored), stored.length))
        fill = 0
      } else {
        writeAt(base + flushed, stage, fill)
        flushed += fill; fill = 0
      }

    /** Write the trailing chunk (or staged bytes) and the object
      * header; returns the header's address.
      */
    def finish(): Long = {
      require(received == totalBytes,
        s"$label data stream ended at $received bytes; dims imply $totalBytes")
      // a zero-width row fills no buffer, so its chunks are written here
      if (chunked) while (chunks.size < nChunks) flush()
      else if (fill > 0) flush()
      writeObjectHeader(Seq(
        (0x0001, dataspace(dims)),
        (0x0003, dtype.encoded),
        (0x0008, if (chunked) chunkedLayout() else contiguousLayout())) ++
        filterPipeline ++
        spec.attrs.map { case (n, v) => (0x000C, attribute(n, v)) })
    }

    private def contiguousLayout(): Array[Byte] = {
      val b = buf(18)
      b.put(3.toByte).put(1.toByte).putLong(base).putLong(totalBytes)
      b.array()
    }

    /** v1 chunk B-tree (single level-0 node), then the layout message
      * pointing at it. Key: nbytes, filter mask, rank+1 chunk offsets
      * (trailing element offset 0).
      */
    private def chunkedLayout(): Array[Byte] = {
      val rank = dims.size.max(1)
      val keySize = 8 + 8 * (rank + 1)
      val b = buf(24 + chunks.size * (keySize + 8) + keySize)
      b.put("TREE".getBytes("US-ASCII")).put(1.toByte).put(0.toByte)
      b.putShort(chunks.size.toShort)
      b.putLong(Undef).putLong(Undef)
      def key(startRow: Long, nbytes: Int): Unit = {
        b.putInt(nbytes).putInt(0)
        b.putLong(startRow)
        (1 until rank).foreach(_ => b.putLong(0L))
        b.putLong(0L) // element offset
      }
      chunks.foreach { case (startRow, addr, nbytes) =>
        key(startRow, nbytes); b.putLong(addr)
      }
      key(nRows, 0) // final (upper-bound) key
      val btAddr = writeBlock(b.array())
      val lb = buf(11 + 4 * (rank + 1))
      lb.put(3.toByte).put(2.toByte).put((rank + 1).toByte).putLong(btAddr)
      lb.putInt(chunkRows)
      dims.tail.foreach(d => lb.putInt(d.toInt))
      lb.putInt(dtype.size)
      lb.array()
    }

    private def filterPipeline: Seq[(Int, Array[Byte])] =
      if (!deflate && !spec.shuffle) Nil
      else {
        // write-order pipeline: shuffle (id 2) before deflate (id 1)
        val ids = (if (spec.shuffle) Seq((2, dtype.size)) else Nil) ++
                  (if (deflate) Seq((1, 6)) else Nil)
        val b = buf(8 + ids.size * 16)
        b.put(1.toByte).put(ids.size.toByte)
        b.putShort(0.toShort).putInt(0)
        ids.foreach { case (id, cval) =>
          b.putShort(id.toShort).putShort(0.toShort) // name len 0
          b.putShort(1.toShort)                      // flags: optional
          b.putShort(1.toShort)                      // 1 client value
          b.putInt(cval).putInt(0)                   // padded to even count
        }
        Seq((0x000B, b.array()))
      }
  }

  // ---- groups -------------------------------------------------------

  /** Write a symbol-table group over already-written children
    * (name → object header addr); returns the group's header addr.
    */
  def writeGroup(children: Seq[(String, Long)],
                 attrs: Seq[(String, Any)] = Nil): Long = {
    val sorted = children.sortBy(_._1)
    // local heap: 8 reserved bytes, then null-terminated names, 8-padded
    val nameOffsets = Seq.newBuilder[Long]
    var heapLen = 8L
    val heapBody = new java.io.ByteArrayOutputStream()
    heapBody.write(new Array[Byte](8))
    sorted.foreach { case (name, _) =>
      nameOffsets += heapLen
      val nb = name.getBytes("UTF-8") :+ 0.toByte
      val padded = nb ++ new Array[Byte](pad8(nb.length) - nb.length)
      heapBody.write(padded)
      heapLen += padded.length
    }
    val heapData = heapBody.toByteArray
    val heapDataAddr = writeBlock(heapData)
    val hb = buf(32)
    hb.put("HEAP".getBytes("US-ASCII")).put(0.toByte)
      .put(0.toByte).put(0.toByte).put(0.toByte)
    hb.putLong(heapData.length.toLong).putLong(Undef).putLong(heapDataAddr)
    val heapAddr = writeBlock(hb.array())
    // single SNOD with all entries (fine for the column counts of a
    // dataset group; a huge group would need leaf splitting)
    val offs = nameOffsets.result()
    val sb = buf(8 + 40 * sorted.size)
    sb.put("SNOD".getBytes("US-ASCII")).put(1.toByte).put(0.toByte)
    sb.putShort(sorted.size.toShort)
    sorted.zip(offs).foreach { case ((_, addr), no) =>
      sb.putLong(no).putLong(addr).putInt(0).putInt(0)
      sb.put(new Array[Byte](16))
    }
    val snodAddr = writeBlock(sb.array())
    val tb = buf(24 + 8 + 16)
    tb.put("TREE".getBytes("US-ASCII")).put(0.toByte).put(0.toByte)
    tb.putShort(1.toShort)
    tb.putLong(Undef).putLong(Undef)
    tb.putLong(0L)                        // key 0
    tb.putLong(snodAddr)                  // child 0
    tb.putLong(offs.lastOption.getOrElse(0L)) // key 1
    val btreeAddr = writeBlock(tb.array())
    val stab = buf(16)
    stab.putLong(btreeAddr).putLong(heapAddr)
    writeObjectHeader(
      Seq((0x0011, stab.array())) ++
        attrs.map { case (n, v) => (0x000C, attribute(n, v)) })
  }

  /** Patch the superblock with the root group address and close. */
  def finish(rootAddr: Long): Unit = {
    val b = buf(SuperblockSize)
    b.put(Hdf5Reader.Signature)
    b.put(0.toByte)                        // superblock v0
    b.put(0.toByte).put(0.toByte)          // free-space, root-group versions
    b.put(0.toByte)                        // reserved
    b.put(0.toByte)                        // shared-header version
    b.put(8.toByte).put(8.toByte)          // sizeof offsets / lengths
    b.put(0.toByte)                        // reserved
    b.putShort(4.toShort)                  // group leaf k
    b.putShort(16.toShort)                 // group internal k
    b.putInt(0)                            // consistency flags
    b.putLong(0L)                          // base address
    b.putLong(Undef)                       // free-space address
    b.putLong(pos)                         // end of file
    b.putLong(Undef)                       // driver info
    b.putLong(0L).putLong(rootAddr)        // root symbol-table entry
    b.putInt(0).putInt(0)                  // cache type, reserved
    b.put(new Array[Byte](16))             // scratch
    writeAt(0, b.array(), SuperblockSize)
    close()
  }

  def close(): Unit = ch.close()
}

object Hdf5Writer {
  private val SuperblockSize = 96
  private val Undef = -1L // 0xFFFF…FF
  /** Staging buffer per dataset in the contiguous layout. */
  private val StageBytes: Int = 1 << 16

  /** One dataset of a [[Hdf5Writer.writeDatasets]] pass. `name` only
    * labels its errors; the caller links the returned address into a
    * group under whatever name it likes. `shuffle` needs a chunked
    * layout.
    */
  final case class DatasetSpec(name: String, dtype: WDType, dims: Seq[Long],
                               attrs: Seq[(String, Any)] = Nil,
                               shuffle: Boolean = false) {
    /** Bytes per row: the product of the trailing dims times the
      * element size.
      */
    val rowBytes: Long = (if (dims.size <= 1) 1L else dims.tail.product) * dtype.size
  }

  private def buf(n: Int): ByteBuffer =
    ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)
  private def pad8(n: Int): Int = (n + 7) & ~7

  /** Writable datatypes: the encoded v1 datatype message. */
  sealed trait WDType { def size: Int; def encoded: Array[Byte] }
  case object I64 extends WDType {
    val size = 8
    val encoded: Array[Byte] = fixedPoint(8)
  }
  case object I32 extends WDType {
    val size = 4
    val encoded: Array[Byte] = fixedPoint(4)
  }
  case object F64 extends WDType {
    val size = 8
    val encoded: Array[Byte] = float(8, 52, 11, 1023)
  }
  case object F32 extends WDType {
    val size = 4
    val encoded: Array[Byte] = float(4, 23, 8, 127)
  }
  final case class Str(size: Int) extends WDType {
    val encoded: Array[Byte] = {
      val b = buf(8)
      b.put(0x13.toByte)                  // v1, class 3 (string)
      b.put(0.toByte).put(0.toByte).put(0.toByte) // null-padded, ASCII
      b.putInt(size)
      b.array()
    }
  }

  private def fixedPoint(size: Int): Array[Byte] = {
    val b = buf(12)
    b.put(0x10.toByte)                    // v1, class 0 (fixed-point)
    b.put(0x08.toByte)                    // LE, signed two's-complement
    b.put(0.toByte).put(0.toByte)
    b.putInt(size)
    b.putShort(0.toShort)                 // bit offset
    b.putShort((size * 8).toShort)        // precision
    b.array()
  }

  private def float(size: Int, mantBits: Int, expBits: Int, bias: Int): Array[Byte] = {
    val b = buf(20)
    b.put(0x11.toByte)                    // v1, class 1 (float)
    b.put(0x20.toByte)                    // LE, implied-MSB normalization
    b.put((size * 8 - 1).toByte)          // sign bit position
    b.put(0.toByte)
    b.putInt(size)
    b.putShort(0.toShort)                 // bit offset
    b.putShort((size * 8).toShort)        // precision
    b.put(mantBits.toByte)                // exponent location
    b.put(expBits.toByte)                 // exponent size
    b.put(0.toByte)                       // mantissa location
    b.put(mantBits.toByte)                // mantissa size
    b.putInt(bias)
    b.array()
  }

  /** Simple dataspace (v1); [] = scalar. */
  private def dataspace(dims: Seq[Long]): Array[Byte] = {
    val b = buf(8 + 8 * dims.size)
    b.put(1.toByte).put(dims.size.toByte).put(0.toByte)
    b.put(new Array[Byte](5))
    dims.foreach(b.putLong)
    b.array()
  }

  /** v1 attribute message. Values: Long, Int, Double, Float, String,
    * or Array/Seq of those (1-D).
    */
  private def attribute(name: String, value: Any): Array[Byte] = {
    val (dt, dims, payload) = encodeAttrValue(value)
    val nb = name.getBytes("UTF-8") :+ 0.toByte
    val ds = dataspace(dims)
    val b = buf(8 + pad8(nb.length) + pad8(dt.encoded.length) + pad8(ds.length) + payload.length)
    b.put(1.toByte).put(0.toByte)
    b.putShort(nb.length.toShort)
    b.putShort(dt.encoded.length.toShort)
    b.putShort(ds.length.toShort)
    def padded(a: Array[Byte]): Unit = { b.put(a); b.put(new Array[Byte](pad8(a.length) - a.length)) }
    padded(nb); padded(dt.encoded); padded(ds)
    b.put(payload)
    b.array()
  }

  private def encodeAttrValue(value: Any): (WDType, Seq[Long], Array[Byte]) = value match {
    case l: Long   => (I64, Nil, buf(8).putLong(l).array())
    case i: Int    => (I64, Nil, buf(8).putLong(i.toLong).array())
    case d: Double => (F64, Nil, buf(8).putDouble(d).array())
    case f: Float  => (F32, Nil, buf(4).putFloat(f).array())
    case s: String =>
      val sb = s.getBytes("UTF-8") :+ 0.toByte
      (Str(sb.length), Nil, sb)
    case a: Array[_] => encodeAttrSeq(a.toSeq)
    case s: Seq[_]   => encodeAttrSeq(s)
    case other => throw new IllegalArgumentException(
      s"unsupported attribute value: $other (${other.getClass})")
  }

  private def encodeAttrSeq(s: Seq[Any]): (WDType, Seq[Long], Array[Byte]) = {
    require(s.nonEmpty, "empty attribute arrays unsupported")
    s.head match {
      case _: Double =>
        val b = buf(8 * s.size); s.foreach(v => b.putDouble(v.asInstanceOf[Double]))
        (F64, Seq(s.size.toLong), b.array())
      case _: Long =>
        val b = buf(8 * s.size); s.foreach(v => b.putLong(v.asInstanceOf[Long]))
        (I64, Seq(s.size.toLong), b.array())
      case _: Int =>
        val b = buf(8 * s.size); s.foreach(v => b.putLong(v.asInstanceOf[Int].toLong))
        (I64, Seq(s.size.toLong), b.array())
      case _: String =>
        val width = s.map(_.asInstanceOf[String].getBytes("UTF-8").length).max + 1
        val b = buf(width * s.size)
        s.foreach { v =>
          val vb = v.asInstanceOf[String].getBytes("UTF-8")
          b.put(vb); b.put(new Array[Byte](width - vb.length))
        }
        (Str(width), Seq(s.size.toLong), b.array())
      case other => throw new IllegalArgumentException(
        s"unsupported attribute array element: $other")
    }
  }

  private def shuffleBytes(data: Array[Byte], elemSize: Int): Array[Byte] = {
    if (elemSize <= 1) return data
    val n = data.length / elemSize
    val out = new Array[Byte](data.length)
    var i = 0
    while (i < n) {
      var b = 0
      while (b < elemSize) { out(b * n + i) = data(i * elemSize + b); b += 1 }
      i += 1
    }
    out
  }

  private def deflateBytes(data: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater(6)
    d.setInput(data); d.finish()
    val out = new java.io.ByteArrayOutputStream(data.length / 2 + 64)
    val tmp = new Array[Byte](8192)
    while (!d.finished()) out.write(tmp, 0, d.deflate(tmp))
    d.end()
    out.toByteArray
  }
}
