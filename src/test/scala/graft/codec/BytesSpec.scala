package graft.codec

import org.scalatest.funsuite.AnyFunSuite

/** The shared byte layer: reads agree with the writer in both byte
  * orders, and every read past either end raises the shared
  * `truncated` failure — never an IndexOutOfBoundsException. */
class BytesSpec extends AnyFunSuite {

  private val p = new Bytes.Writer(16)
    .u16le(0x0201).u16be(0x0304).u32le(0x08070605).u32be(0x090a0b0c)
    .u24le(0x0f0e0d).u8(0x10).toByteArray

  private def truncated(read: => Any): Unit = {
    val e = intercept[Malformed](read)
    assert(e eq Malformed.Truncated)
    assert(e.status === "truncated")
  }

  test("writer and reader agree in both byte orders") {
    assert(p.toSeq === (1 to 16).map(_.toByte))
    assert(Bytes.u16le(p, 0) === 0x0201)
    assert(Bytes.u16be(p, 2) === 0x0304)
    assert(Bytes.u32le(p, 4) === 0x08070605L)
    assert(Bytes.u32be(p, 8) === 0x090a0b0cL)
    assert(Bytes.u24le(p, 12) === 0x0f0e0d)
    assert(Bytes.u8(p, 15) === 0x10)
    assert(Bytes.u64le(p, 8) === 0x100f0e0d0c0b0a09L)
    assert(Bytes.u16(p, 2, big = true) === 0x0304)
    assert(Bytes.u32(p, 4, big = false) === 0x08070605L)
    val hi = Array.fill[Byte](4)(-1)
    assert(Bytes.u32le(hi, 0) === 0xffffffffL && Bytes.i32be(hi, 0) === -1)
    assert(new Bytes.Writer(4, big = true).u32(-2).toByteArray.toSeq ===
      Seq(-1, -1, -1, -2).map(_.toByte))
  }

  test("every absolute read past either end is truncated, never out of bounds") {
    val reads: Seq[(Int, Int => Any)] = Seq(
      1 -> (Bytes.u8(p, _)), 2 -> (Bytes.u16le(p, _)),
      2 -> (Bytes.u16be(p, _)), 3 -> (Bytes.u24le(p, _)),
      4 -> (Bytes.u32le(p, _)), 4 -> (Bytes.u32be(p, _)),
      4 -> (Bytes.i32le(p, _)), 4 -> (Bytes.i32be(p, _)),
      8 -> (Bytes.u64le(p, _)), 4 -> (Bytes.ascii(p, _, 4)),
      2 -> (Bytes.u16(p, _, big = true)), 4 -> (Bytes.u32(p, _, big = false)))
    for ((width, read) <- reads) {
      for (i <- 0 to p.length - width) read(i) // in bounds: no throw
      for (i <- Seq(p.length - width + 1, p.length, p.length + 7,
          Int.MaxValue - 1, -1, Int.MinValue))
        truncated(read(i))
    }
    truncated(Bytes.need(p, 0, -1))
    truncated(Bytes.u8(Array.emptyByteArray, 0))
  }

  test("cursor reads stop at the cursor's end, not the array's") {
    val c = new Bytes.Cursor(p, 4, 10)
    assert(c.u32le() === 0x08070605L && c.remaining === 2)
    truncated(c.u32le())
    truncated(c.u24le())
    truncated(c.uleN(3))
    truncated(c.skip(3))
    truncated(c.need(-1))
    assert(c.pos === 8) // a failed read consumes nothing
    assert(c.u16be() === 0x090a && c.remaining === 0)
    truncated(c.u8())
    val whole = new Bytes.Cursor(p, 0)
    whole.skip(p.length)
    truncated(whole.u16le())
    truncated(new Bytes.Cursor(p, p.length + 5).u8())
  }
}
