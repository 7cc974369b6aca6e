package perfbench

import java.io.ByteArrayOutputStream

import org.apache.commons.compress.compressors.bzip2.BZip2CompressorOutputStream

/** Writes GEFS-`pgrb2a`-shaped GRIB2 files (WMO FM-92 edition 2),
  * independently of the decoder under test: a regular lat/lon grid
  * (template 3.0), APCP accumulations (discipline 0, category 1,
  * parameter 8), one message per ensemble member with product
  * template 4.11, one control message with template 4.8, complex
  * packing template 5.2 with a single group of 8-bit integers (E = D
  * = 0, so the packing is lossless for values below 256), the file
  * bzip2-wrapped like the NOMADS downloads. */
object Grib2Writer {

  /** Regular grid, north row first: `ni` × `nj` points from
    * (`lat1`, `lon1`) at `res` degrees. */
  final case class Grid(lat1: Double, lon1: Double, ni: Int, nj: Int, res: Double) {
    def points: Int = ni * nj
    def latLon(i: Int): (Double, Double) = (lat1 - (i / ni) * res, lon1 + (i % ni) * res)
  }

  private final class Builder {
    val out = new ByteArrayOutputStream()
    def u8(v: Int): Builder = { out.write(v & 0xFF); this }
    def u16(v: Int): Builder = { u8(v >> 8); u8(v) }
    def u32(v: Long): Builder = { u16((v >> 16).toInt); u16(v.toInt) }
    def u64(v: Long): Builder = { u32(v >> 32); u32(v) }
    def f32(v: Float): Builder = u32(java.lang.Float.floatToIntBits(v).toLong & 0xFFFFFFFFL)
    def raw(b: Array[Byte]): Builder = { out.write(b, 0, b.length); this }
    def bytes: Array[Byte] = out.toByteArray
  }

  private def section(num: Int)(body: Builder => Unit): Array[Byte] = {
    val b = new Builder
    body(b)
    val content = b.bytes
    new Builder().u32(content.length + 5L).u8(num).raw(content).bytes
  }

  private def micro(deg: Double): Long = math.round(deg * 1e6)

  private def section3(g: Grid): Array[Byte] = section(3) { b =>
    b.u8(0).u32(g.points).u8(0).u8(0).u16(0)
      .u8(6).u8(0).u32(0).u8(0).u32(0).u8(0).u32(0)
      .u32(g.ni).u32(g.nj)
      .u32(0).u32(0)
      .u32(micro(g.lat1)).u32(micro(g.lon1))
      .u8(0x30)
      .u32(micro(g.lat1 - (g.nj - 1) * g.res))
      .u32(micro(g.lon1 + (g.ni - 1) * g.res))
      .u32(micro(g.res)).u32(micro(g.res))
      .u8(0)
  }

  /** Product template 4.11 (member) or 4.8 (control, `member` < 0):
    * APCP accumulated over `window` hours ending at `lead`. */
  private def section4(member: Int, members: Int, lead: Int, window: Int): Array[Byte] =
    section(4) { b =>
      b.u16(0).u16(if (member >= 0) 11 else 8)
        .u8(1).u8(8)
        .u8(2).u8(0).u8(0)
        .u16(0).u8(0)
        .u8(1).u32(lead)
        .u8(1).u8(0).u32(0)
        .u8(255).u8(0).u32(0)
      if (member >= 0) b.u8(3).u8(member).u8(members)
      b.u16(2026).u8(1).u8(1 + lead / 24).u8(lead % 24).u8(0).u8(0)
        .u8(1).u32(0)
        .u8(1).u8(2).u8(1).u32(window).u8(255).u32(0)
    }

  private final class BitWriter {
    private var acc = 0L
    private var nbits = 0
    val out = new ByteArrayOutputStream()
    def write(v: Long, w: Int): Unit = {
      var i = w - 1
      while (i >= 0) {
        acc = (acc << 1) | ((v >> i) & 1); nbits += 1
        if (nbits == 8) { out.write(acc.toInt); acc = 0; nbits = 0 }
        i -= 1
      }
    }
    def align(): Unit = while (nbits != 0) write(0, 1)
    def bytes: Array[Byte] = { align(); out.toByteArray }
  }

  private def sections57(vals: Array[Int]): (Array[Byte], Array[Byte]) = {
    val s5 = section(5) { b =>
      b.u32(vals.length).u16(2)
        .f32(0f).u16(0).u16(0).u8(8)
        .u8(0).u8(1).u8(0)
        .u32(0).u32(0)
        .u32(1)
        .u8(8).u8(0)
        .u32(0).u8(1)
        .u32(vals.length)
        .u8(4)
    }
    val w = new BitWriter
    w.write(0, 8); w.align()
    w.align()
    w.write(0, 4); w.align()
    vals.foreach { v =>
      require(v >= 0 && v < 256, s"value $v does not fit the 8-bit packing")
      w.write(v.toLong, 8)
    }
    (s5, section(7)(_.raw(w.bytes)))
  }

  private def message(g: Grid, s4: Array[Byte], vals: Array[Int]): Array[Byte] = {
    val s1 = section(1)(_.u16(7).u16(0).u8(0).u8(0).u8(1)
      .u16(2026).u8(1).u8(1).u8(0).u8(0).u8(0).u8(0).u8(1))
    val s6 = section(6)(_.u8(255))
    val (s5, s7) = sections57(vals)
    val body = Array(s1, section3(g), s4, s5, s6, s7).flatten
    new Builder()
      .u8('G').u8('R').u8('I').u8('B').u16(0).u8(0).u8(2)
      .u64(16L + body.length + 4)
      .raw(body)
      .u8('7').u8('7').u8('7').u8('7')
      .bytes
  }

  /** One bzip2'd file: a message per member (1-based, `fields(m - 1)`)
    * followed by the control message `control`. */
  def file(g: Grid, lead: Int, window: Int, fields: IndexedSeq[Array[Int]],
           control: Array[Int]): Array[Byte] = {
    val msgs = fields.indices.map(m =>
      message(g, section4(m + 1, fields.size, lead, window), fields(m))) :+
      message(g, section4(-1, fields.size, lead, window), control)
    val bz = new ByteArrayOutputStream()
    val z = new BZip2CompressorOutputStream(bz)
    msgs.foreach(m => z.write(m))
    z.close()
    bz.toByteArray
  }
}
