package graft.perfbench

import java.nio.{ByteBuffer, ByteOrder}

/** Writes uncompressed 64-bit little-endian `.sas7bdat` files: one meta
  * page carrying the subheaders, then data pages of fixed-width rows.
  * The layout is a port of the pandas-validated writer in
  * `tools/make_sas7bdat_fixtures.py` (its `build(u64=True,
  * page_kind="data")` branch); the benchmark ships its own copy so that it
  * depends on nothing outside its directory but the library under test. */
object SasFile {

  /** A column: `num` columns are 8-byte doubles (NaN = missing), text
    * columns are space-padded to `width` bytes. `format` is the SAS format
    * name (`DATE` turns a numeric column into a date). */
  final case class Col(name: String, num: Boolean, width: Int, format: String = "")

  private val Magic: Array[Byte] = Array(
    0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00,
    0x00, 0x00, 0x00, 0x00, 0xc2, 0xea, 0x81, 0x60,
    0xb3, 0x14, 0x11, 0xcf, 0xbd, 0x92, 0x08, 0x00,
    0x09, 0xc7, 0x31, 0x8c, 0x18, 0x1f, 0x10, 0x11).map(_.toByte)

  private def buf(n: Int) = ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)

  private def sig(b: Int): Array[Byte] = {
    // u64 widening of a 32-bit signature (row-size and column-size
    // subheaders are zero-extended, the rest 0xff-extended)
    val le = Array.fill(4)(b.toByte)
    if (b == 0xf7 || b == 0xf6) Array.fill[Byte](4)(0) ++ le
    else le ++ Array.fill[Byte](4)(0xff.toByte)
  }
  private def sig4(bytes: Int*): Array[Byte] =
    bytes.map(_.toByte).toArray ++ Array.fill[Byte](4)(0xff.toByte)

  /** File bytes for `rows` (each row one value per column: `Double` for
    * numeric, `String` for text). */
  def build(cols: Seq[Col], rows: IndexedSeq[Array[Any]], pageSize: Int = 65536): Array[Byte] = {
    val ilen = 8
    val bitOff = 32
    val ptrLen = 24
    val headerSize = 8192
    val rowLength = cols.map(_.width).sum

    val rs = buf(808)
    rs.put(0, sig(0xf7))
    rs.putLong(5 * ilen, rowLength.toLong)
    rs.putLong(6 * ilen, rows.size.toLong)
    rs.putLong(9 * ilen, cols.size.toLong)
    rs.putLong(10 * ilen, 0L)
    rs.putLong(15 * ilen, 0L)

    val cs = buf(3 * ilen)
    cs.put(0, sig(0xf6))
    cs.putLong(ilen, cols.size.toLong)

    // column text heap: [size:2][zeros to 28][names...][formats...]
    val heap = new java.io.ByteArrayOutputStream()
    heap.write(new Array[Byte](28))
    val namePos = cols.map { c =>
      val b = c.name.getBytes("UTF-8"); val at = heap.size(); heap.write(b); (at, b.length)
    }
    val fmtPos = cols.map { c =>
      val b = c.format.getBytes("UTF-8"); val at = heap.size(); heap.write(b); (at, b.length)
    }
    while (heap.size() % 4 != 0) heap.write(0)
    val blob = heap.toByteArray
    ByteBuffer.wrap(blob).order(ByteOrder.LITTLE_ENDIAN).putShort(0, blob.length.toShort)
    val ct = new Array[Byte](ilen + blob.length)
    System.arraycopy(sig4(0xfd, 0xff, 0xff, 0xff), 0, ct, 0, ilen)
    System.arraycopy(blob, 0, ct, ilen, blob.length)

    val cn = buf(2 * ilen + 12 + 8 * cols.size)
    cn.put(0, sig4(0xff, 0xff, 0xff, 0xff))
    namePos.zipWithIndex.foreach { case ((off, len), i) =>
      val base = ilen + 8 * (i + 1)
      cn.putShort(base, 0.toShort); cn.putShort(base + 2, off.toShort); cn.putShort(base + 4, len.toShort)
    }

    val esz = ilen + 8
    val ca = buf(2 * ilen + 12 + esz * cols.size)
    ca.put(0, sig4(0xfc, 0xff, 0xff, 0xff))
    var dataOff = 0
    cols.zipWithIndex.foreach { case (c, i) =>
      ca.putLong(ilen + 8 + i * esz, dataOff.toLong)
      ca.putInt(2 * ilen + 8 + i * esz, c.width)
      ca.put(2 * ilen + 14 + i * esz, (if (c.num) 1 else 2).toByte)
      dataOff += c.width
    }

    val fmts = fmtPos.map { case (off, len) =>
      val fl = buf(3 * ilen + 40)
      fl.put(0, sig4(0xfe, 0xfb, 0xff, 0xff))
      fl.putShort(3 * ilen + 24, off.toShort)
      fl.putShort(3 * ilen + 26, len.toShort)
      fl.array()
    }
    val subheaders: Seq[Array[Byte]] =
      Seq(rs.array(), cs.array(), ct, cn.array(), ca.array()) ++ fmts

    def rowBytes(r: Array[Any], into: ByteBuffer): Unit =
      cols.zipWithIndex.foreach { case (c, i) =>
        if (c.num) into.putDouble(r(i).asInstanceOf[Double])
        else {
          val b = r(i).asInstanceOf[String].getBytes("UTF-8")
          var j = 0
          while (j < c.width) { into.put(if (j < b.length) b(j) else ' '.toByte); j += 1 }
        }
      }

    val meta = buf(pageSize)
    var cursor = pageSize
    val offsets = subheaders.map { sh => cursor -= sh.length; meta.put(cursor, sh); cursor }
    meta.putShort(bitOff, 0.toShort)
    meta.putShort(bitOff + 2, subheaders.size.toShort)
    meta.putShort(bitOff + 4, subheaders.size.toShort)
    subheaders.zip(offsets).zipWithIndex.foreach { case ((sh, off), i) =>
      val p = bitOff + 8 + i * ptrLen
      meta.putLong(p, off.toLong)
      meta.putLong(p + ilen, sh.length.toLong)
    }
    require(bitOff + 8 + ptrLen * subheaders.size <= cursor, "meta page overflow")

    val perPage = (pageSize - bitOff - 8) / rowLength
    val pages = rows.grouped(perPage).map { chunk =>
      val page = buf(pageSize)
      page.putShort(bitOff, 0x0100.toShort)
      page.putShort(bitOff + 2, chunk.size.toShort)
      page.putShort(bitOff + 4, 0.toShort)
      page.position(bitOff + 8)
      chunk.foreach(rowBytes(_, page))
      page.array()
    }.toSeq

    val a1 = 4
    val hdr = buf(headerSize)
    hdr.put(0, Magic)
    hdr.put(32, 0x33.toByte)
    hdr.put(35, 0x33.toByte)
    hdr.put(37, 0x01.toByte)
    hdr.put(39, '1'.toByte)
    hdr.put(70, 20.toByte)
    hdr.put(92, "GRAFT_BENCH".padTo(64, ' ').getBytes("US-ASCII"))
    hdr.put(156, "DATA    ".getBytes("US-ASCII"))
    hdr.putDouble(164 + a1, 2.0e9)
    hdr.putDouble(172 + a1, 2.0e9)
    hdr.putInt(196 + a1, headerSize)
    hdr.putInt(200 + a1, pageSize)
    hdr.putLong(204 + a1, (1 + pages.size).toLong)
    hdr.put(216 + a1, "9.0401M2".getBytes("US-ASCII"))
    hdr.put(224 + a1, "X64_10PRO".padTo(16, ' ').getBytes("US-ASCII"))

    val out = new java.io.ByteArrayOutputStream(headerSize + pageSize * (1 + pages.size))
    out.write(hdr.array()); out.write(meta.array()); pages.foreach(out.write)
    out.toByteArray
  }
}
