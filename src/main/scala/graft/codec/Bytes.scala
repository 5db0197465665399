package graft.codec

/** A decoder's failure, carrying the status string its row reports.
  * Thrown from deep inside a walk (a bit reader, a table build, a
  * header read) and caught once per decoder, which turns it into the
  * status row — malformed bytes degrade to a row and never escape to
  * the task. Instances are preallocated and carry no stack trace, so a
  * throw costs no more than a return. */
final class Malformed(val status: String)
    extends RuntimeException(status, null, false, false)

object Malformed {
  /** The input ended before a read the format requires. */
  val Truncated = new Malformed("truncated")
  /** The bytes violate the format. */
  val BadData = new Malformed("bad_data")
}

/** The one bounds-checked byte layer under every from-scratch codec:
  * little- and big-endian reads at absolute offsets, a sequential
  * [[Cursor]], and a [[Writer]] for the fixture synthesizers. Every
  * read past the end raises [[Malformed.Truncated]], never an
  * `IndexOutOfBoundsException`. Hot loops (bit readers, pixel and
  * sample walks) call [[need]] once and then index the array
  * directly. */
object Bytes {
  import Malformed.Truncated

  /** `n` bytes at `i` lie inside `p`. */
  def need(p: Array[Byte], i: Int, n: Int): Unit =
    if (i < 0 || n < 0 || i.toLong + n > p.length) throw Truncated

  def u8(p: Array[Byte], i: Int): Int = {
    need(p, i, 1); p(i) & 0xff
  }

  def u16le(p: Array[Byte], i: Int): Int = {
    need(p, i, 2); (p(i) & 0xff) | (p(i + 1) & 0xff) << 8
  }

  def u16be(p: Array[Byte], i: Int): Int = {
    need(p, i, 2); (p(i) & 0xff) << 8 | (p(i + 1) & 0xff)
  }

  def u24le(p: Array[Byte], i: Int): Int = {
    need(p, i, 3)
    (p(i) & 0xff) | (p(i + 1) & 0xff) << 8 | (p(i + 2) & 0xff) << 16
  }

  /** The 32 bits at `i`, little-endian, as a signed Int. */
  def i32le(p: Array[Byte], i: Int): Int = {
    need(p, i, 4)
    (p(i) & 0xff) | (p(i + 1) & 0xff) << 8 | (p(i + 2) & 0xff) << 16 |
      (p(i + 3) & 0xff) << 24
  }

  /** The 32 bits at `i`, big-endian, as a signed Int. */
  def i32be(p: Array[Byte], i: Int): Int = {
    need(p, i, 4)
    (p(i) & 0xff) << 24 | (p(i + 1) & 0xff) << 16 | (p(i + 2) & 0xff) << 8 |
      (p(i + 3) & 0xff)
  }

  def u32le(p: Array[Byte], i: Int): Long = i32le(p, i) & 0xffffffffL
  def u32be(p: Array[Byte], i: Int): Long = i32be(p, i) & 0xffffffffL

  /** The `n`-byte (1..8) little-endian unsigned field at `i`. */
  def uleN(p: Array[Byte], i: Int, n: Int): Long = {
    need(p, i, n)
    var v = 0L
    var k = n - 1
    while (k >= 0) { v = v << 8 | (p(i + k) & 0xffL); k -= 1 }
    v
  }

  def u64le(p: Array[Byte], i: Int): Long = uleN(p, i, 8)

  /** 16/32-bit reads whose byte order is data (TIFF's II/MM mark). */
  def u16(p: Array[Byte], i: Int, big: Boolean): Int =
    if (big) u16be(p, i) else u16le(p, i)
  def u32(p: Array[Byte], i: Int, big: Boolean): Long =
    if (big) u32be(p, i) else u32le(p, i)

  /** `n` bytes at `i` as a US-ASCII string (tags, magics). */
  def ascii(p: Array[Byte], i: Int, n: Int): String = {
    need(p, i, n); new String(p, i, n, "US-ASCII")
  }

  /** A sequential reader over `p[pos, end)`. */
  final class Cursor(val p: Array[Byte], var pos: Int, val end: Int) {
    def this(p: Array[Byte], pos: Int) = this(p, pos, p.length)

    def remaining: Int = end - pos

    /** `n` more bytes are available before `end`. */
    def need(n: Int): Unit =
      if (n < 0 || pos.toLong + n > end) throw Truncated

    def skip(n: Int): Unit = { need(n); pos += n }

    def u8(): Int = { need(1); val v = p(pos) & 0xff; pos += 1; v }
    def u16le(): Int = { need(2); val v = Bytes.u16le(p, pos); pos += 2; v }
    def u16be(): Int = { need(2); val v = Bytes.u16be(p, pos); pos += 2; v }
    def u32le(): Long = { need(4); val v = Bytes.u32le(p, pos); pos += 4; v }
    def u24le(): Int = { need(3); val v = Bytes.u24le(p, pos); pos += 3; v }
    /** The next `n` (1..8) bytes as a little-endian unsigned field. */
    def uleN(n: Int): Long = { need(n); val v = Bytes.uleN(p, pos, n); pos += n; v }
  }

  /** The fixture synthesizers' byte writer: a growable buffer with
    * LE/BE integer emitters (each writes the low bytes of `v`);
    * [[u16]]/[[u32]] write in the writer's own byte order, `big`. */
  final class Writer(initial: Int = 64, big: Boolean = false)
      extends java.io.ByteArrayOutputStream(initial) {
    def u8(v: Int): this.type = { write(v & 0xff); this }
    def u16le(v: Int): this.type = { u8(v); u8(v >>> 8) }
    def u16be(v: Int): this.type = { u8(v >>> 8); u8(v) }
    def u24le(v: Int): this.type = { u16le(v); u8(v >>> 16) }
    def u32le(v: Int): this.type = { u16le(v); u16le(v >>> 16) }
    def u32be(v: Int): this.type = { u16be(v >>> 16); u16be(v) }
    /** The low `n` bytes of `v`, little-endian. */
    def uleN(v: Long, n: Int): this.type = {
      var k = 0
      while (k < n) { u8((v >>> (8 * k)).toInt); k += 1 }
      this
    }
    def u16(v: Int): this.type = if (big) u16be(v) else u16le(v)
    def u32(v: Int): this.type = if (big) u32be(v) else u32le(v)
    def bytes(b: Array[Byte]): this.type = { write(b, 0, b.length); this }
    def ascii(s: String): this.type = bytes(s.getBytes("US-ASCII"))
  }
}
