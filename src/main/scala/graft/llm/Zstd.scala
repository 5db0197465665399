package graft.llm

import graft.codec.{Bytes, Malformed}
import graft.codec.Malformed.{BadData, Truncated}

/** From-scratch zstd (RFC 8878) single-frame codec — the THIRTEENTH
  * decoder and the last transport format public corpora ship that the
  * crawl front door couldn't read (`.jsonl.zst` in RedPajama / Dolma /
  * FineWeb). Decode surface: single frames (single-segment or
  * windowed), raw / RLE / compressed blocks, literals in all four
  * forms (raw, RLE, Huffman-compressed with DIRECT or FSE-compressed
  * weights, treeless repeat), 1- and 4-stream Huffman, sequence
  * sections in all four symbol-compression modes (predefined, RLE,
  * FSE_Compressed, repeat), the three-slot repeat-offset history with
  * the literals-length-0 index shift, cross-block match history, and
  * the optional xxhash64-low32 content checksum — each arm exercised
  * either by the md5-driven fixture arms ([[zstdBytes]]) or by REAL
  * frames produced by the reference `zstd` CLI (ZstdSpec's interop
  * fixtures), so bitstream conventions are pinned against the spec's
  * own implementation, not just round-tripped against ourselves.
  * Decoder is TOTAL on arbitrary bytes (DecoderFuzzSpec discipline):
  * every read is bounds-checked and malformed input degrades to a
  * status, never a throw. Dictionary frames and skippable frames are
  * the honest `unsupported` arm.
  *
  * The fixture ENCODER is spec-faithful too: backward bitstreams with
  * the sentinel bit, canonical Huffman from real per-doc frequencies,
  * and FSE encoding by the reverse state walk (for each symbol the
  * decode table partitions the state space into [baseline,
  * baseline + 2^nbBits) ranges, so walking the symbol list backward
  * picks the UNIQUE predecessor state each time — the textbook tANS
  * encoder). Reference: RFC 8878; Duda 2013 (arXiv:1311.2540) for the
  * ANS construction.
  */
private[llm] object Zstd {

  // ------------------------------------------------------------------
  // xxhash64 (Collet's public spec) — the frame-checksum hash; the
  // frame stores the LOW 32 bits of the seed-0 digest.
  // ------------------------------------------------------------------
  private val P1 = 0x9E3779B185EBCA87L
  private val P2 = 0xC2B2AE3D27D4EB4FL
  private val P3 = 0x165667B19E3779F9L
  private val P4 = 0x85EBCA77C2B2AE63L
  private val P5 = 0x27D4EB2F165667C5L

  private[llm] def xxh64(data: Array[Byte], seed: Long = 0L): Long = {
    val n = data.length
    def rotl(x: Long, r: Int): Long = (x << r) | (x >>> (64 - r))
    var i = 0
    var h =
      if (n >= 32) {
        var v1 = seed + P1 + P2; var v2 = seed + P2
        var v3 = seed; var v4 = seed - P1
        while (i + 32 <= n) {
          v1 = rotl(v1 + Bytes.u64le(data, i) * P2, 31) * P1
          v2 = rotl(v2 + Bytes.u64le(data, i + 8) * P2, 31) * P1
          v3 = rotl(v3 + Bytes.u64le(data, i + 16) * P2, 31) * P1
          v4 = rotl(v4 + Bytes.u64le(data, i + 24) * P2, 31) * P1
          i += 32
        }
        var acc = rotl(v1, 1) + rotl(v2, 7) + rotl(v3, 12) + rotl(v4, 18)
        def merge(acc0: Long, v: Long): Long =
          (acc0 ^ (rotl(v * P2, 31) * P1)) * P1 + P4
        acc = merge(acc, v1); acc = merge(acc, v2)
        acc = merge(acc, v3); acc = merge(acc, v4)
        acc
      } else seed + P5
    h += n
    while (i + 8 <= n) {
      h = rotl(h ^ (rotl(Bytes.u64le(data, i) * P2, 31) * P1), 27) * P1 + P4
      i += 8
    }
    if (i + 4 <= n) {
      h = rotl(h ^ (Bytes.u32le(data, i) * P1), 23) * P2 + P3
      i += 4
    }
    while (i < n) {
      h = rotl(h ^ ((data(i) & 0xffL) * P5), 11) * P1
      i += 1
    }
    h ^= h >>> 33; h *= P2; h ^= h >>> 29; h *= P3; h ^= h >>> 32
    h
  }

  // ------------------------------------------------------------------
  // Backward bitstream reader (§4.1): the stream is one little-endian
  // bit container read from its most significant end; the highest set
  // bit of the last byte is the padding sentinel.
  // ------------------------------------------------------------------
  private final class BitsBack(p: Array[Byte], from: Int, to: Int) {
    if (to <= from) throw Truncated
    private var pos: Long = {
      val last = p(to - 1) & 0xff
      if (last == 0) throw BadData // no sentinel
      8L * (to - 1 - from) + (31 - Integer.numberOfLeadingZeros(last))
    }
    def remaining: Long = pos
    /** Consume n bits below the cursor (n ≤ 56). Reading past the
      * start returns the bits as if lower bits were zero ONLY when
      * explicitly allowed by the caller via `allowShort` — sequences
      * bitstreams must end exactly, Huffman streams may drain. */
    def read(n: Int): Int = {
      if (n == 0) return 0
      if (pos < n) throw BadData
      pos -= n
      bitsAt(pos, n)
    }
    /** Peek n bits below the cursor, zero-padded past the start (the
      * Huffman drain convention: the decoder may peek beyond, but a
      * SYMBOL consume beyond the start is the caller's error). */
    def peek(n: Int): Int = {
      val start = pos - n
      bitsAtPadded(start, n)
    }
    def skip(n: Int): Unit = {
      if (pos < n) throw BadData
      pos -= n
    }
    private def bitsAt(start: Long, n: Int): Int = {
      var v = 0L
      var k = n - 1
      while (k >= 0) {
        val bit = start + k
        val b = (p(from + (bit >>> 3).toInt) >> (bit & 7).toInt) & 1
        v = (v << 1) | b
        k -= 1
      }
      v.toInt
    }
    private def bitsAtPadded(start: Long, n: Int): Int = {
      var v = 0L
      var k = n - 1
      while (k >= 0) {
        val bit = start + k
        val b =
          if (bit < 0) 0
          else (p(from + (bit >>> 3).toInt) >> (bit & 7).toInt) & 1
        v = (v << 1) | b
        k -= 1
      }
      v.toInt
    }
  }

  /** Forward LSB-first bit reader — FSE table descriptions (§4.1.1)
    * are the one forward bitstream in the format. */
  private final class BitsFwd(p: Array[Byte], from: Int, to: Int) {
    private var bit = 0L
    private val limit = 8L * (to - from)
    def read(n: Int): Int = {
      if (bit + n > limit) throw Truncated
      var v = 0
      var k = 0
      while (k < n) {
        val b = bit + k
        v |= (((p(from + (b >>> 3).toInt) >> (b & 7).toInt) & 1) << k)
        k += 1
      }
      bit += n
      v
    }
    def peek(n: Int): Int = {
      var v = 0
      var k = 0
      while (k < n) {
        val b = bit + k
        if (b < limit)
          v |= (((p(from + (b >>> 3).toInt) >> (b & 7).toInt) & 1) << k)
        k += 1
      }
      v
    }
    def skip(n: Int): Unit = { bit += n }
    def bytesConsumed: Int = ((bit + 7) / 8).toInt
  }

  // ------------------------------------------------------------------
  // FSE (§4.1): decode-table build from normalized counts, and the
  // forward-bitstream table description reader/writer.
  // ------------------------------------------------------------------
  private[llm] final class FseTable(val tableLog: Int,
      val symbol: Array[Int], val nbBits: Array[Int],
      val baseline: Array[Int])

  /** The spec's spread-and-number construction: low-prob (−1) symbols
    * take single cells at the table's top with full-tableLog reads;
    * the rest spread by the (5/8·size + 3) step; each cell's
    * (nbBits, baseline) come from numbering the cells of a symbol in
    * spread order. */
  private[llm] def fseBuild(norm: Array[Int], tableLog: Int): FseTable = {
    val size = 1 << tableLog
    val sym = new Array[Int](size)
    var high = size - 1
    val freq = new Array[Int](norm.length)
    var s = 0
    while (s < norm.length) {
      if (norm(s) == -1) { sym(high) = s; high -= 1; freq(s) = 1 }
      else freq(s) = norm(s)
      s += 1
    }
    val step = (size >> 1) + (size >> 3) + 3
    val mask = size - 1
    var posn = 0
    s = 0
    while (s < norm.length) {
      var k = 0
      while (k < math.max(norm(s), 0)) {
        sym(posn) = s
        do { posn = (posn + step) & mask } while (posn > high)
        k += 1
      }
      s += 1
    }
    if (posn != 0) throw BadData // counts don't fill the table
    val next = java.util.Arrays.copyOf(freq, freq.length)
    val nb = new Array[Int](size)
    val base = new Array[Int](size)
    var i = 0
    while (i < size) {
      val sy = sym(i)
      val x = next(sy); next(sy) += 1
      val hb = 31 - Integer.numberOfLeadingZeros(x)
      nb(i) = tableLog - hb
      base(i) = (x << nb(i)) - size
      i += 1
    }
    new FseTable(tableLog, sym, nb, base)
  }

  /** §4.1.1 normalized-count reader (forward bits): 4-bit accuracy,
    * then per-symbol variable-width counts with the low-range
    * optimization and 2-bit zero-run repeats after a 0 count.
    * Returns (norm, accuracyLog); cursor left after the description. */
  private def fseReadNCount(br: BitsFwd, maxSymbol: Int,
      maxLog: Int): (Array[Int], Int) = {
    val accLog = br.read(4) + 5
    if (accLog > maxLog) throw BadData
    var remaining = (1 << accLog) + 1
    var threshold = 1 << accLog
    var nbBits = accLog + 1
    val norm = new Array[Int](maxSymbol + 1)
    var s = 0
    var prev0 = false
    while (remaining > 1) {
      if (s > maxSymbol) throw BadData
      if (prev0) {
        while (br.peek(2) == 3) {
          br.skip(2); s += 3; if (s > maxSymbol + 1) throw BadData
        }
        s += br.read(2)
        if (s > maxSymbol) throw BadData
        prev0 = false
      } else {
        val max = 2 * threshold - 1 - remaining
        var count = br.peek(nbBits) & (2 * threshold - 1)
        if ((count & (threshold - 1)) < max) {
          count &= threshold - 1
          br.skip(nbBits - 1)
        } else {
          if (count >= threshold) count -= max
          br.skip(nbBits)
        }
        val c = count - 1 // −1 = low-prob
        norm(s) = c
        remaining -= math.abs(c)
        if (c == 0) prev0 = true
        s += 1
        while (remaining > 1 && remaining < threshold) {
          threshold >>= 1; nbBits -= 1
        }
      }
    }
    if (remaining != 1) throw BadData
    (norm, accLog)
  }

  // Predefined distributions (§3.1.1.4.2).
  private[llm] val LlDefault = Array(4, 3, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2,
    2, 1, 1, 1, 2, 2, 2, 2, 2, 2, 2, 2, 2, 3, 2, 1, 1, 1, 1, 1,
    -1, -1, -1, -1)
  private[llm] val MlDefault = Array(1, 4, 3, 2, 2, 2, 2, 2, 2, 1, 1, 1,
    1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
    1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, -1, -1, -1, -1, -1, -1, -1)
  private[llm] val OfDefault = Array(1, 1, 1, 1, 1, 1, 2, 2, 2, 1, 1, 1,
    1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, -1, -1, -1, -1, -1)
  require(LlDefault.map(math.abs).sum == 64 &&
    MlDefault.map(math.abs).sum == 64 && OfDefault.map(math.abs).sum == 32)
  private lazy val LlTable = fseBuild(LlDefault, 6)
  private lazy val MlTable = fseBuild(MlDefault, 6)
  private lazy val OfTable = fseBuild(OfDefault, 5)

  // Code → (baseline, extra-bit count) for literals length (§3.1.1.5).
  private val LlBase = Array(0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12,
    13, 14, 15, 16, 18, 20, 22, 24, 28, 32, 40, 48, 64, 128, 256, 512,
    1024, 2048, 4096, 8192, 16384, 32768, 65536)
  private val LlBits = Array(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
    0, 0, 1, 1, 1, 1, 2, 2, 3, 3, 4, 6, 7, 8, 9, 10, 11, 12, 13, 14,
    15, 16)
  private val MlBase = Array(3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14,
    15, 16, 17, 18, 19, 20, 21, 22, 23, 24, 25, 26, 27, 28, 29, 30, 31,
    32, 33, 34, 35, 37, 39, 41, 43, 47, 51, 59, 67, 83, 99, 131, 259,
    515, 1027, 2051, 4099, 8195, 16387, 32771, 65539)
  private val MlBits = Array(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
    0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 1, 1, 1, 1,
    2, 2, 3, 3, 4, 4, 5, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16)

  // ------------------------------------------------------------------
  // Huffman (§4.2): weight-table read (direct + FSE-compressed), the
  // canonical code assignment, and a maxBits-indexed decode LUT.
  // ------------------------------------------------------------------
  private[llm] final class HufTable(val maxBits: Int,
      val lutSym: Array[Int], val lutBits: Array[Int],
      /** weight per symbol (encoder side reuses the table build) */
      val weights: Array[Int], val codes: Array[Int],
      val lens: Array[Int])

  /** Build the canonical table from weights (last weight already
    * resolved): nbBits = maxBits + 1 − weight; codes assigned from 0
    * upward starting at the LONGEST codes, in symbol order inside a
    * weight class — the §4.2.1 numbering. */
  private[llm] def hufBuild(weights: Array[Int]): HufTable = {
    var total = 0L
    var maxW = 0
    var s = 0
    while (s < weights.length) {
      if (weights(s) > 0) {
        total += (1L << (weights(s) - 1))
        if (weights(s) > maxW) maxW = weights(s)
      }
      s += 1
    }
    if (total == 0 || java.lang.Long.bitCount(total) != 1) throw BadData
    val maxBits = java.lang.Long.numberOfTrailingZeros(total) // log2
    if (maxBits < maxW || maxBits > 11) throw BadData
    val lens = new Array[Int](weights.length)
    s = 0
    while (s < weights.length) {
      lens(s) = if (weights(s) > 0) maxBits + 1 - weights(s) else 0
      s += 1
    }
    val codes = new Array[Int](weights.length)
    var code = 0
    var w = 1
    while (w <= maxW) {
      s = 0
      while (s < weights.length) {
        if (weights(s) == w) { codes(s) = code; code += 1 }
        s += 1
      }
      code >>= 1 // moving to codes one bit shorter
      w += 1
    }
    val lutSym = new Array[Int](1 << maxBits)
    val lutBits = new Array[Int](1 << maxBits)
    s = 0
    while (s < weights.length) {
      if (lens(s) > 0) {
        val shift = maxBits - lens(s)
        val base = codes(s) << shift
        var k = 0
        while (k < (1 << shift)) {
          lutSym(base + k) = s; lutBits(base + k) = lens(s); k += 1
        }
      }
      s += 1
    }
    new HufTable(maxBits, lutSym, lutBits, weights, codes, lens)
  }

  /** §4.2.1 tree description: direct 4-bit weights (header ≥ 128) or
    * an FSE-compressed weight stream (header < 128, two alternating
    * states over a ≤6-bit table); the LAST weight is implied so the
    * leaf sum completes a power of two. Returns (table, bytes read). */
  private def hufReadTree(p: Array[Byte], from: Int, to: Int): (HufTable, Int) = {
    if (from >= to) throw Truncated
    val hb = p(from) & 0xff
    val (ws, used) =
      if (hb >= 128) {
        val n = hb - 127 // transmitted weights; symbol n gets implied
        val bytes = (n + 1) / 2
        if (from + 1 + bytes > to) throw Truncated
        val w = new Array[Int](n + 1)
        var k = 0
        while (k < n) {
          val b = p(from + 1 + k / 2) & 0xff
          w(k) = if (k % 2 == 0) b >> 4 else b & 15
          k += 1
        }
        (w, 1 + bytes)
      } else {
        val csize = hb
        if (from + 1 + csize > to) throw Truncated
        val br = new BitsFwd(p, from + 1, from + 1 + csize)
        val (norm, accLog) = fseReadNCount(br, 15, 6)
        val tbl = fseBuild(norm, accLog)
        val bb = new BitsBack(p, from + 1 + br.bytesConsumed,
          from + 1 + csize)
        var st1 = bb.read(accLog)
        var st2 = bb.read(accLog)
        val buf = new scala.collection.mutable.ArrayBuffer[Int](64)
        var done = false
        // states alternate; a state whose update would read past the
        // stream start flushes its symbol and ends the stream (§4.2.1.1)
        while (!done) {
          buf += tbl.symbol(st1)
          if (bb.remaining < tbl.nbBits(st1)) {
            if (bb.remaining != 0) throw BadData
            buf += tbl.symbol(st2); done = true
          } else {
            st1 = tbl.baseline(st1) + bb.read(tbl.nbBits(st1))
            val t = st1; st1 = st2; st2 = t
          }
          if (buf.length > 255) throw BadData
        }
        (buf.toArray :+ 0, 1 + csize) // slot for the implied weight
      }
    // resolve the implied last weight
    var total = 0L
    var k = 0
    while (k < ws.length - 1) {
      if (ws(k) > 11) throw BadData
      if (ws(k) > 0) total += (1L << (ws(k) - 1))
      k += 1
    }
    if (total == 0) throw BadData
    val next = java.lang.Long.highestOneBit(total) * 2
    val rest = next - total
    if (java.lang.Long.bitCount(rest) != 1) throw BadData
    ws(ws.length - 1) =
      (63 - java.lang.Long.numberOfLeadingZeros(rest) + 1).toInt
    (hufBuild(ws), used)
  }

  /** One backward Huffman stream → exactly `outLen` symbols. */
  private def hufDecodeStream(tbl: HufTable, p: Array[Byte], from: Int,
      to: Int, out: Array[Byte], outOff: Int, outLen: Int): Unit = {
    val bb = new BitsBack(p, from, to)
    var k = 0
    while (k < outLen) {
      val idx = bb.peek(tbl.maxBits)
      val nb = tbl.lutBits(idx)
      if (nb == 0 || bb.remaining <= 0) throw BadData
      // the final symbols may peek past the start (zero padding); a
      // consume is still bounded by the remaining count going negative
      if (bb.remaining < nb) throw BadData
      bb.skip(nb)
      out(outOff + k) = tbl.lutSym(idx).toByte
      k += 1
    }
    if (bb.remaining != 0) throw BadData // stream must end exactly
  }

  // ------------------------------------------------------------------
  // Frame decode
  // ------------------------------------------------------------------
  /** (status, content, nBlocks, hasChecksum); content non-null iff
    * status == "ok". Total on arbitrary bytes. Single frame, trailing
    * bytes ignored — [[decodeFrames]] is the whole-file walk. */
  private[llm] def decode(p: Array[Byte],
      maxOut: Int = 1 << 24,
      dicts: Map[Long, ZDict] = Map.empty)
      : (String, Array[Byte], Int, Boolean) = {
    val (st, c, nb, hs, _) = decodeFrame(p, 0, maxOut, dicts)
    (st, c, nb, hs)
  }

  /** Parsed dictionary (RFC 8878 §5): the entropy tables seed the
    * frame's Repeat/Treeless state, `rep` seeds the offset history
    * (replacing {1,4,8}), and `content` is the virtual PAST a match
    * may reach behind the frame's own output. */
  private[llm] final case class ZDict(id: Long, huf: HufTable,
      ofT: FseTable, mlT: FseTable, llT: FseTable,
      rep: (Int, Int, Int), content: Array[Byte])

  /** Dictionary parser: magic 0xEC30A437, 4-byte ID, entropy tables
    * in Huffman/OF/ML/LL order (§5 — same encodings as in-frame
    * tables), three 4-byte little-endian initial repeat offsets, then
    * the content. Returns None on any malformation — a bad dictionary
    * must fail at REGISTRATION, not as bad_data on every frame. */
  private[llm] def parseDict(p: Array[Byte]): Option[ZDict] = try {
    if (p == null || Bytes.u32le(p, 0) != 0xEC30A437L) return None
    val id = Bytes.u32le(p, 4)
    var i = 8
    val (huf, hufUsed) = hufReadTree(p, i, p.length)
    i += hufUsed
    def fse(maxSym: Int, maxLog: Int): FseTable = {
      val br = new BitsFwd(p, i, p.length)
      val (norm, accLog) = fseReadNCount(br, maxSym, maxLog)
      i += br.bytesConsumed
      fseBuild(norm, accLog)
    }
    val ofT = fse(31, 8)
    val mlT = fse(52, 9)
    val llT = fse(35, 9)
    val r1 = Bytes.i32le(p, i); val r2 = Bytes.i32le(p, i + 4)
    val r3 = Bytes.i32le(p, i + 8)
    i += 12
    val content = java.util.Arrays.copyOfRange(p, i, p.length)
    // reference check: every initial repeat offset must point inside
    // the dictionary content (an out-of-range rep would alias
    // arbitrary memory in the C decoder; here it would throw later)
    if (r1 <= 0 || r2 <= 0 || r3 <= 0 || r1 > content.length ||
        r2 > content.length || r3 > content.length) return None
    Some(ZDict(id, huf, ofT, mlT, llT, (r1, r2, r3), content))
  } catch {
    case _: Malformed | _: IndexOutOfBoundsException => None
  }

  /** Whole-file walk — what a `.zst` on disk actually is: one or more
    * data frames CONCATENATED, with skippable frames (pzstd seek
    * tables, padding) interleaved anywhere. Content is the data
    * frames' contents in order; nFrames counts both kinds. */
  private[llm] def decodeFrames(p: Array[Byte],
      maxOut: Int = 1 << 24,
      dicts: Map[Long, ZDict] = Map.empty): (String, Array[Byte], Int) = {
    if (p == null || p.length == 0) return ("bad_magic", null, 0)
    var off = 0
    var n = 0
    val out = new java.io.ByteArrayOutputStream(1024)
    try {
      while (off < p.length) {
        val magic = Bytes.u32le(p, off)
        if (magic >= 0x184D2A50L && magic <= 0x184D2A5FL) {
          val sz = Bytes.u32le(p, off + 4)
          // a size of 2^31 or more wraps negative and fails too
          Bytes.need(p, off + 8, sz.toInt)
          off += 8 + sz.toInt
          n += 1
        } else {
          val (st, c, _, _, end) = decodeFrame(p, off, maxOut, dicts)
          if (st != "ok") return (st, null, n)
          if (out.size() + c.length > maxOut) return ("bad_data", null, n)
          out.write(c, 0, c.length)
          off = end
          n += 1
        }
      }
      ("ok", out.toByteArray, n)
    } catch { case f: Malformed => (f.status, null, n) }
  }

  /** One frame starting at `start`; last element = end offset. */
  private def decodeFrame(p: Array[Byte], start: Int,
      maxOut: Int = 1 << 24,
      dicts: Map[Long, ZDict] = Map.empty)
      : (String, Array[Byte], Int, Boolean, Int) = {
    var nBlocks = 0
    var hasSum = false
    try {
      if (p == null || p.length - start < 4)
        return ("bad_magic", null, 0, false, start)
      val magic = Bytes.u32le(p, start)
      if (magic >= 0x184D2A50L && magic <= 0x184D2A5FL)
        return ("unsupported", null, 0, false, start) // skippable frame
      if (magic != 0xFD2FB528L) return ("bad_magic", null, 0, false, start)
      val c = new Bytes.Cursor(p, start + 4)
      val fhd = c.u8()
      val fcsFlag = fhd >> 6
      val singleSeg = (fhd & 0x20) != 0
      hasSum = (fhd & 0x04) != 0
      if ((fhd & 0x08) != 0) throw BadData // reserved bit
      // Dictionary_ID field (§3.1.1.1.3): 1/2/4 bytes by flag value.
      // A frame naming a dictionary we don't hold stays the honest
      // `unsupported` arm — decoding it as dict-less would produce
      // wrong bytes, the one thing a decoder must never do.
      var dict: ZDict = null
      if ((fhd & 0x03) != 0) {
        val didBytes = (fhd & 0x03) match {
          case 1 => 1; case 2 => 2; case _ => 4
        }
        // window descriptor precedes the DID field in the header
        if (!singleSeg) c.skip(1)
        dict = dicts.getOrElse(c.uleN(didBytes), null)
        if (dict == null) return ("unsupported", null, 0, hasSum, c.pos)
      } else if (!singleSeg) c.skip(1) // window descriptor
      val fcsBytes = fcsFlag match {
        case 0 => if (singleSeg) 1 else 0
        case 1 => 2
        case 2 => 4
        case _ => 8
      }
      var fcs = -1L
      if (fcsBytes > 0) {
        fcs = c.uleN(fcsBytes)
        if (fcsBytes == 2) fcs += 256
      }
      if (fcs > maxOut) return ("unsupported", null, 0, hasSum, c.pos)
      // flat output array: match copies address the FULL decoded
      // history (cross-block offsets) by plain index
      var out = new Array[Byte](math.max(1024, fcs.toInt + 1))
      var outLen = 0
      def ensure(extra: Int): Unit = {
        if (outLen + extra > maxOut) throw BadData
        if (outLen + extra > out.length)
          out = java.util.Arrays.copyOf(out,
            math.max(out.length * 2, outLen + extra))
      }
      // frame-scoped repeated state: offsets, Huffman tree, FSE
      // tables. A dictionary SEEDS all of it (§5): its entropy tables
      // are the "previous" tables the first block's Treeless/Repeat
      // modes reference, its offsets replace {1,4,8}, and its content
      // is the history a match may reach behind the frame's output.
      var rep1 = 1; var rep2 = 4; var rep3 = 8
      var lastHuf: HufTable = null
      var llPrev: FseTable = null
      var ofPrev: FseTable = null
      var mlPrev: FseTable = null
      var hist: Array[Byte] = Array.emptyByteArray
      if (dict != null) {
        rep1 = dict.rep._1; rep2 = dict.rep._2; rep3 = dict.rep._3
        lastHuf = dict.huf
        llPrev = dict.llT; ofPrev = dict.ofT; mlPrev = dict.mlT
        hist = dict.content
      }
      var lastBlock = false
      while (!lastBlock) {
        val bh = c.u24le()
        lastBlock = (bh & 1) != 0
        val btype = (bh >> 1) & 3
        val bsize = bh >> 3
        nBlocks += 1
        // Block_Maximum_Size (§3.1.1.2.3): no block may REGENERATE
        // more than min(window, 128 KiB) — the reference rejects
        // oversized blocks, so accepting them would let our decoder
        // read frames the ecosystem cannot (the inverse of the
        // expanding-block rule pinned in r18)
        val blockOut0 = outLen
        def blockCap(): Unit =
          if (outLen - blockOut0 > (1 << 17)) throw BadData
        btype match {
          case 0 => // raw
            if (bsize > (1 << 17)) throw BadData
            c.need(bsize); ensure(bsize)
            System.arraycopy(p, c.pos, out, outLen, bsize)
            outLen += bsize; c.pos += bsize
          case 1 => // RLE: one byte repeated bsize times
            if (bsize > (1 << 17)) throw BadData
            val v = c.u8().toByte
            ensure(bsize)
            java.util.Arrays.fill(out, outLen, outLen + bsize, v)
            outLen += bsize
          case 2 => // compressed
            c.need(bsize)
            // reference rule (ZSTD_decompressBlock: srcSize >
            // dstCapacity → srcSize_wrong): a compressed block never
            // occupies more bytes than the content it has left to
            // produce — pinned empirically against zstd v1.5.7
            if (fcs >= 0 && bsize > fcs - outLen) throw BadData
            val blk = new Bytes.Cursor(p, c.pos, c.pos + bsize)
            c.pos += bsize
            // ---- literals section ----
            // the header's size fields sit above its 4 type/format
            // bits: one LE field of 1..5 bytes, shifted down by 4
            blk.need(1)
            val lh0 = p(blk.pos) & 0xff
            val ltype = lh0 & 3
            val sf = (lh0 >> 2) & 3
            var regen = 0
            var cmp = 0
            var nStreams = 1
            if (ltype <= 1) // raw / RLE literals
              regen = sf match {
                case 0 | 2 => blk.u8() >> 3
                case 1 => blk.u16le() >> 4
                case _ => blk.u24le() >> 4
              }
            else { // Huffman-compressed / treeless
              nStreams = if (sf == 0) 1 else 4
              val bits = if (sf <= 1) 10 else if (sf == 2) 14 else 18
              val v = blk.uleN(if (sf <= 1) 3 else sf + 2) >> 4
              regen = (v & ((1 << bits) - 1)).toInt; cmp = (v >> bits).toInt
            }
            if (regen > maxOut) throw BadData
            val lits = new Array[Byte](regen)
            ltype match {
              case 0 =>
                blk.need(regen)
                System.arraycopy(p, blk.pos, lits, 0, regen); blk.pos += regen
              case 1 =>
                java.util.Arrays.fill(lits, blk.u8().toByte)
              case _ =>
                blk.need(cmp)
                var litFrom = blk.pos
                val litEnd = blk.pos + cmp
                val tbl =
                  if (ltype == 2) {
                    val (t, used) = hufReadTree(p, litFrom, litEnd)
                    litFrom += used
                    lastHuf = t
                    t
                  } else {
                    if (lastHuf == null) throw BadData
                    lastHuf
                  }
                if (nStreams == 1)
                  hufDecodeStream(tbl, p, litFrom, litEnd, lits, 0, regen)
                else {
                  val jt = new Bytes.Cursor(p, litFrom, litEnd) // jump table
                  val s1 = jt.u16le(); val s2 = jt.u16le(); val s3 = jt.u16le()
                  val o1 = jt.pos
                  val o2 = o1 + s1; val o3 = o2 + s2; val o4 = o3 + s3
                  if (o4 > litEnd) throw BadData
                  val rs = (regen + 3) / 4
                  val r4 = regen - 3 * rs
                  if (r4 < 0) throw BadData
                  hufDecodeStream(tbl, p, o1, o2, lits, 0, rs)
                  hufDecodeStream(tbl, p, o2, o3, lits, rs, rs)
                  hufDecodeStream(tbl, p, o3, o4, lits, 2 * rs, rs)
                  hufDecodeStream(tbl, p, o4, litEnd, lits, 3 * rs, r4)
                }
                blk.pos = litEnd
            }
            // ---- sequences section ----
            val nb0 = blk.u8()
            val nbSeq =
              if (nb0 < 128) nb0
              else if (nb0 < 255) ((nb0 - 128) << 8) | blk.u8()
              else blk.u16le() + 0x7f00
            if (nbSeq == 0) {
              if (blk.remaining != 0) throw BadData
              ensure(lits.length)
              System.arraycopy(lits, 0, out, outLen, lits.length)
              outLen += lits.length
              blockCap()
            } else {
              val modes = blk.u8()
              if ((modes & 3) != 0) throw BadData // reserved bits
              def loadTable(mode: Int, default: FseTable, maxSym: Int,
                  maxLog: Int, prev: FseTable): FseTable = mode match {
                case 0 => default
                case 1 => // RLE: a 0-bit single-state table
                  val s0 = blk.u8()
                  if (s0 > maxSym) throw BadData
                  new FseTable(0, Array(s0), Array(0), Array(0))
                case 2 =>
                  val br = new BitsFwd(p, blk.pos, blk.end)
                  val (norm, accLog) = fseReadNCount(br, maxSym, maxLog)
                  blk.pos += br.bytesConsumed
                  fseBuild(norm, accLog)
                case _ =>
                  if (prev == null) throw BadData
                  prev
              }
              val llT = loadTable((modes >> 6) & 3, LlTable, 35, 9, llPrev)
              val ofT = loadTable((modes >> 4) & 3, OfTable, 31, 8, ofPrev)
              val mlT = loadTable((modes >> 2) & 3, MlTable, 52, 9, mlPrev)
              llPrev = llT; ofPrev = ofT; mlPrev = mlT
              val bb = new BitsBack(p, blk.pos, blk.end)
              var llSt = bb.read(llT.tableLog)
              var ofSt = bb.read(ofT.tableLog)
              var mlSt = bb.read(mlT.tableLog)
              var litPos = 0
              var seq = 0
              while (seq < nbSeq) {
                val llCode = llT.symbol(llSt)
                val ofCode = ofT.symbol(ofSt)
                val mlCode = mlT.symbol(mlSt)
                if (llCode > 35 || mlCode > 52 || ofCode > 30) throw BadData
                val ofVal =
                  (1L << ofCode) + (if (ofCode > 0) bb.read(ofCode) else 0)
                val ml = MlBase(mlCode) +
                  (if (MlBits(mlCode) > 0) bb.read(MlBits(mlCode)) else 0)
                val ll = LlBase(llCode) +
                  (if (LlBits(llCode) > 0) bb.read(LlBits(llCode)) else 0)
                var offset = 0
                if (ofVal > 3) {
                  offset = (ofVal - 3).toInt
                  rep3 = rep2; rep2 = rep1; rep1 = offset
                } else {
                  var ridx = ofVal.toInt
                  if (ll == 0) ridx += 1
                  ridx match {
                    case 1 => offset = rep1
                    case 2 =>
                      offset = rep2; rep2 = rep1; rep1 = offset
                    case 3 =>
                      offset = rep3; rep3 = rep2; rep2 = rep1
                      rep1 = offset
                    case _ =>
                      offset = rep1 - 1
                      if (offset <= 0) throw BadData
                      rep3 = rep2; rep2 = rep1; rep1 = offset
                  }
                }
                if (litPos + ll > lits.length) throw BadData
                ensure(ll + ml)
                System.arraycopy(lits, litPos, out, outLen, ll)
                litPos += ll; outLen += ll
                val src = outLen - offset
                if (ml < 0 || src + hist.length < 0) throw BadData
                var k = 0
                while (k < ml) { // byte-wise: overlap is the LZ idiom
                  val s = src + k
                  out(outLen) =
                    if (s < 0) hist(hist.length + s) else out(s)
                  outLen += 1; k += 1
                }
                blockCap()
                if (seq < nbSeq - 1) {
                  llSt = llT.baseline(llSt) + bb.read(llT.nbBits(llSt))
                  mlSt = mlT.baseline(mlSt) + bb.read(mlT.nbBits(mlSt))
                  ofSt = ofT.baseline(ofSt) + bb.read(ofT.nbBits(ofSt))
                }
                seq += 1
              }
              if (bb.remaining != 0) throw BadData
              val rest = lits.length - litPos
              ensure(rest)
              System.arraycopy(lits, litPos, out, outLen, rest)
              outLen += rest
              blockCap()
            }
          case _ => throw BadData // reserved block type
        }
      }
      val content = java.util.Arrays.copyOf(out, outLen)
      if (hasSum && (xxh64(content) & 0xffffffffL) != c.u32le())
        return ("bad_data", null, nBlocks, hasSum, c.pos)
      if (fcs >= 0 && content.length != fcs)
        return ("bad_data", null, nBlocks, hasSum, c.pos)
      ("ok", content, nBlocks, hasSum, c.pos)
    } catch {
      case f: Malformed => (f.status, null, nBlocks, hasSum, start)
      case _: IndexOutOfBoundsException | _: NegativeArraySizeException =>
        ("bad_data", null, nBlocks, hasSum, start)
    }
  }

  // ------------------------------------------------------------------
  // Fixture ENCODER — spec-faithful frames the decoder (and the
  // reference CLI, in dev cross-checks) can read.
  // ------------------------------------------------------------------
  /** Backward-bitstream builder: fields pushed in DECODE order land
    * below the sentinel bit; rendering little-endian makes the last
    * byte's highest set bit the §4.1 padding sentinel. */
  private final class BackWriter {
    private var acc = java.math.BigInteger.ONE
    def put(v: Long, n: Int): Unit = {
      if (n > 0)
        acc = acc.shiftLeft(n).or(java.math.BigInteger.valueOf(v))
    }
    def bytes: Array[Byte] = {
      val be = acc.toByteArray
      val trimmed = if (be(0) == 0) be.drop(1) else be
      trimmed.reverse
    }
  }

  /** Forward LSB-first bit builder (FSE table descriptions). */
  private final class FwdWriter {
    private val bits = new scala.collection.mutable.ArrayBuffer[Boolean]
    def put(v: Int, n: Int): Unit = {
      var k = 0
      while (k < n) { bits += ((v >> k) & 1) == 1; k += 1 }
    }
    def bytes: Array[Byte] = {
      val out = new Array[Byte]((bits.length + 7) / 8)
      var i = 0
      while (i < bits.length) {
        if (bits(i)) out(i / 8) = (out(i / 8) | (1 << (i % 8))).toByte
        i += 1
      }
      out
    }
  }

  /** The tANS reverse walk: the decode table's per-symbol
    * [baseline, baseline + 2^nbBits) ranges partition the state
    * space, so for a target next-state each symbol has EXACTLY ONE
    * predecessor — walk the code list backward picking it. */
  private def fseChoose(tbl: FseTable, codes: Array[Int]): Array[Int] = {
    val bySym = tbl.symbol.indices.groupBy(tbl.symbol)
    val st = new Array[Int](codes.length)
    st(codes.length - 1) = bySym(codes.last).head
    var i = codes.length - 2
    while (i >= 0) {
      val nxt = st(i + 1)
      st(i) = bySym(codes(i)).find { c =>
        nxt >= tbl.baseline(c) && nxt < tbl.baseline(c) + (1 << tbl.nbBits(c))
      }.get
      i -= 1
    }
    st
  }

  /** §4.1.1 normalized-count writer — the exact inverse of
    * [[fseReadNCount]], low-range optimization and zero-run repeat
    * flags included. */
  private def fseWriteNCount(norm: Array[Int], accLog: Int,
      w: FwdWriter): Unit = {
    w.put(accLog - 5, 4)
    var remaining = (1 << accLog) + 1
    var threshold = 1 << accLog
    var nbBits = accLog + 1
    var s = 0
    while (remaining > 1) {
      val c = norm(s)
      val count = c + 1 // −1 encodes as 0
      val max = 2 * threshold - 1 - remaining
      if (count < max) w.put(count, nbBits - 1)
      else if (count < threshold) w.put(count, nbBits)
      else w.put(count + max, nbBits)
      remaining -= math.abs(c)
      s += 1
      if (c == 0 && remaining > 1) {
        // zero-run repeat flags for any further zero counts
        var z = 0
        while (s + z < norm.length && norm(s + z) == 0 &&
            zAhead(norm, s + z)) z += 1
        var left = z
        while (left >= 3) { w.put(3, 2); left -= 3 }
        w.put(left, 2)
        s += z
      }
      while (remaining > 1 && remaining < threshold) {
        threshold >>= 1; nbBits -= 1
      }
    }
  }
  /** A zero at index k is coded in the repeat run only if some
    * nonzero count still follows (the reader stops at remaining==1,
    * trailing zeros are implicit). */
  private def zAhead(norm: Array[Int], k: Int): Boolean = {
    var j = k
    while (j < norm.length) { if (norm(j) != 0) return true; j += 1 }
    false
  }

  /** Deterministic Huffman depths (two smallest by weight, ties by
    * first-created), capped at 11 by falling back to the completed
    * fixed-length code; returns zstd weights (maxBits + 1 − len). */
  private[llm] def hufWeights(freq: Map[Int, Long]): Array[Int] = {
    val syms = freq.keys.toArray.sorted
    require(syms.length >= 2, "huffman needs 2+ symbols")
    final case class Node(w: Long, order: Int, syms: List[Int])
    var counter = 0
    var q = scala.collection.immutable.SortedSet.empty[(Long, Int)]
    var nodes = Map.empty[Int, Node]
    val depth = scala.collection.mutable.Map.empty[Int, Int]
      .withDefaultValue(0)
    for (s <- syms) {
      nodes += counter -> Node(freq(s), counter, List(s))
      q += ((freq(s), counter)); counter += 1
    }
    while (q.size > 1) {
      val a = q.head; q -= a
      val b = q.head; q -= b
      val na = nodes(a._2); val nb = nodes(b._2)
      (na.syms ++ nb.syms).foreach(s => depth(s) += 1)
      nodes += counter -> Node(na.w + nb.w, counter, na.syms ++ nb.syms)
      q += ((na.w + nb.w, counter)); counter += 1
    }
    var maxD = syms.map(depth).max
    val lens = scala.collection.mutable.Map.empty[Int, Int]
    if (maxD <= 11) syms.foreach(s => lens(s) = depth(s))
    else {
      // completed fixed-length code: 2^L − n symbols get length L−1
      val n = syms.length
      val L = 32 - Integer.numberOfLeadingZeros(n - 1) // ceil(log2 n)
      val promote = (1 << L) - n
      syms.zipWithIndex.foreach { case (s, k) =>
        lens(s) = if (k < promote) L - 1 else L
      }
      maxD = syms.map(lens).max
    }
    maxD = syms.map(lens).max
    val ws = new Array[Int](syms.max + 1)
    syms.foreach(s => ws(s) = maxD + 1 - lens(s))
    ws
  }

  /** Direct Huffman weight-table description (§4.2.1 headerByte ≥
    * 128): weights for symbols 0..last−1 as nibbles, the last present
    * symbol's weight implied. Shared by the literals writer and the
    * dictionary builder. */
  private def hufWriteTreeDesc(ws: Array[Int]): Array[Byte] = {
    val lastSym = ws.length - 1
    val tree = new java.io.ByteArrayOutputStream(80)
    tree.write(127 + lastSym) // Number_of_Weights = lastSym
    var k = 0
    var cur = 0
    while (k < lastSym) {
      if (k % 2 == 0) cur = ws(k) << 4
      else { cur |= ws(k); tree.write(cur); cur = 0 }
      k += 1
    }
    if (lastSym % 2 == 1) tree.write(cur)
    tree.toByteArray
  }

  /** Literals section: raw (size-format 1) or Huffman-compressed with
    * a DIRECT weight table, 1 stream (sf 0) or 4 streams (sf 2).
    * TOTAL on any lits < 4096 (r18 advice): the Huffman arm silently
    * degrades to the raw form when the direct weight header can't
    * express the alphabet (headerByte = 127 + N caps the last present
    * symbol at 128 — any literal byte ≥ 129 would wrap it past 255
    * and misread as FSE-compressed weights) or when the encoded
    * section would overflow its size-format caps (regen/cmp ≤ 1023
    * single-stream, ≤ 16383 four-stream) — an executor must degrade,
    * never throw, when the corpus outgrows the fixture assumptions. */
  private[llm] def literalsSection(lits: Array[Byte], huf: Boolean,
      fourStream: Boolean): Array[Byte] = {
    val out = new Bytes.Writer(lits.length + 16)
    if (!huf) { // Size_Format 01 (12-bit size), or 11 (20-bit) from 4096
      val n = lits.length
      require(n < (1 << 20), "a literals section holds under 1 MiB")
      if (n < 4096) out.u16le(n << 4 | 1 << 2) else out.u24le(n << 4 | 3 << 2)
      return out.bytes(lits).toByteArray
    }
    if (lits.exists(b => (b & 0xff) > 128))
      return literalsSection(lits, huf = false, fourStream = false)
    val freq = lits.groupBy(b => b & 0xff)
      .map { case (s, xs) => s -> xs.length.toLong }
    val ws = hufWeights(freq)
    val tbl = hufBuild(ws)
    // direct tree description: weights for symbols 0..last−1, the
    // last present symbol's weight implied
    val tree = hufWriteTreeDesc(ws)
    def stream(part: Array[Byte]): Array[Byte] = {
      val bw = new BackWriter
      part.foreach { b =>
        val s = b & 0xff
        bw.put(tbl.codes(s), tbl.lens(s))
      }
      bw.bytes
    }
    val body = new Bytes.Writer(lits.length)
    if (!fourStream) body.write(stream(lits))
    else {
      val rs = (lits.length + 3) / 4
      val parts = Array(
        lits.slice(0, rs), lits.slice(rs, 2 * rs),
        lits.slice(2 * rs, 3 * rs), lits.slice(3 * rs, lits.length))
      val enc = parts.map(stream)
      for (j <- 0 until 3) body.u16le(enc(j).length)
      enc.foreach(e => body.write(e, 0, e.length))
    }
    val cmp = tree.length + body.size()
    val regen = lits.length
    if ((!fourStream && (regen > 1023 || cmp > 1023)) ||
        (fourStream && (regen > 16383 || cmp > 16383)))
      return literalsSection(lits, huf = false, fourStream = false)
    if (!fourStream) out.u24le((regen | cmp << 10) << 4 | 2)
    else out.u32le((regen | cmp << 14) << 4 | 2 << 2 | 2)
    out.write(tree, 0, tree.length)
    body.writeTo(out)
    out.toByteArray
  }

  private[llm] final case class Sq(ll: Int, ml: Int, ofVal: Long)

  private def llCodeOf(v: Int): Int =
    if (v < 16) v
    else { var c = 35; while (LlBase(c) > v) c -= 1; c }
  private def mlCodeOf(v: Int): Int =
    if (v - 3 < 32) v - 3
    else { var c = 52; while (MlBase(c) > v) c -= 1; c }
  private def ofCodeOf(v: Long): Int =
    63 - java.lang.Long.numberOfLeadingZeros(v)

  /** Sequences section. Symbol-compression mode per field: 0
    * predefined, 1 RLE (requires a constant code), 2 FSE_Compressed
    * (a custom table equi-distributed over the used codes, its
    * description written with [[fseWriteNCount]]). */
  private[llm] def sequencesSection(seqs: Array[Sq], llMode: Int, ofMode: Int,
      mlMode: Int): Array[Byte] = {
    require(seqs.nonEmpty && seqs.length < 128)
    val out = new java.io.ByteArrayOutputStream(64)
    out.write(seqs.length)
    out.write((llMode << 6) | (ofMode << 4) | (mlMode << 2))
    val llCodes = seqs.map(s => llCodeOf(s.ll))
    val ofCodes = seqs.map(s => ofCodeOf(s.ofVal))
    val mlCodes = seqs.map(s => mlCodeOf(s.ml))
    def customNorm(codes: Array[Int], accLog: Int): Array[Int] = {
      val used = codes.distinct.sorted
      val size = 1 << accLog
      val share = size / used.length
      val rem = size - share * used.length
      val norm = new Array[Int](used.max + 1)
      used.zipWithIndex.foreach { case (c, k) =>
        norm(c) = share + (if (k < rem) 1 else 0)
      }
      norm
    }
    def mkTable(mode: Int, codes: Array[Int], default: FseTable,
        accLog: Int): FseTable = mode match {
      case 0 => default
      case 1 =>
        require(codes.distinct.length == 1, "RLE mode needs one code")
        out.write(codes(0))
        new FseTable(0, Array(codes(0)), Array(0), Array(0))
      case 2 =>
        val norm = customNorm(codes, accLog)
        val fw = new FwdWriter
        fseWriteNCount(norm, accLog, fw)
        val d = fw.bytes
        out.write(d, 0, d.length)
        fseBuild(norm, accLog)
      case _ => // Repeat: zero bytes; the PREVIOUS block's table —
        // the caller guarantees that was `default` (predefined)
        default
    }
    // table descriptions appear in LL, OF, ML order (§3.1.1.4)
    val llT = mkTable(llMode, llCodes, LlTable, 6)
    val ofT = mkTable(ofMode, ofCodes, OfTable, 5)
    val mlT = mkTable(mlMode, mlCodes, MlTable, 6)
    val llSt = fseChoose(llT, llCodes)
    val ofSt = fseChoose(ofT, ofCodes)
    val mlSt = fseChoose(mlT, mlCodes)
    val bw = new BackWriter
    bw.put(llSt(0), llT.tableLog)
    bw.put(ofSt(0), ofT.tableLog)
    bw.put(mlSt(0), mlT.tableLog)
    var i = 0
    while (i < seqs.length) {
      val s = seqs(i)
      val oc = ofCodes(i)
      bw.put(s.ofVal - (1L << oc), oc)
      val mc = mlCodes(i)
      bw.put((s.ml - MlBase(mc)).toLong, MlBits(mc))
      val lc = llCodes(i)
      bw.put((s.ll - LlBase(lc)).toLong, LlBits(lc))
      if (i < seqs.length - 1) {
        bw.put((llSt(i + 1) - llT.baseline(llSt(i))).toLong,
          llT.nbBits(llSt(i)))
        bw.put((mlSt(i + 1) - mlT.baseline(mlSt(i))).toLong,
          mlT.nbBits(mlSt(i)))
        bw.put((ofSt(i + 1) - ofT.baseline(ofSt(i))).toLong,
          ofT.nbBits(ofSt(i)))
      }
      i += 1
    }
    val bs = bw.bytes
    out.write(bs, 0, bs.length)
    out.toByteArray
  }

  /** Frame assembly. `blocks` = (blockType, rleSizeOrIgnored, payload);
    * for RLE the payload is the single byte and the size field is the
    * run length; for raw/compressed the size is payload.length. */
  private[llm] def frameOf(blocks: Seq[(Int, Int, Array[Byte])],
      content: Array[Byte], withSum: Boolean,
      dictId: Option[Long] = None, flipSum: Boolean = false)
      : Array[Byte] = {
    val out = new Bytes.Writer(content.length + 64)
    out.u32le(0xFD2FB528)
    // FCS field size by magnitude (RFC 8878 §3.1.1.1.1): 1 byte to
    // 255, 2 bytes (value − 256) to 65791, 4 bytes beyond — so the
    // synthesizer stays total on multi-MB docs instead of silently
    // wrapping the 2-byte field.
    val fcsFlag = if (content.length < 256) 0
      else if (content.length < 65792) 1 else 2
    // DID field size by magnitude (§3.1.1.1.3 flag values 1/2/3)
    val didFlag = dictId match {
      case None => 0
      case Some(d) if d < 256 => 1
      case Some(d) if d < 65536 => 2
      case _ => 3
    }
    out.write((fcsFlag << 6) | 0x20 | (if (withSum) 4 else 0) | didFlag)
    dictId.foreach(out.uleN(_, if (didFlag == 3) 4 else didFlag))
    if (fcsFlag == 0) out.u8(content.length)
    else if (fcsFlag == 1) out.u16le(content.length - 256)
    else out.u32le(content.length)
    blocks.zipWithIndex.foreach { case ((btype, size, payload), k) =>
      val bsize = if (btype == 1) size else payload.length
      val last = if (k == blocks.length - 1) 1 else 0
      out.u24le((bsize << 3) | (btype << 1) | last).bytes(payload)
    }
    if (withSum)
      out.u32le(xxh64(content).toInt ^ (if (flipSum) 0x55 else 0))
    out.toByteArray
  }

  /** Dictionary WRITER (§5 layout): magic 0xEC30A437, 4-byte ID,
    * entropy tables (Huffman direct weights, then OF/ML/LL FSE
    * NCounts — small valid equi-distributed tables; the fixture
    * frames reference only the content + offsets, but a conformant
    * decoder must parse the tables to FIND the content), 3 × 4-byte
    * initial repeat offsets, then the content (the virtual history).
    */
  private[llm] def buildDict(id: Long,
      content: Array[Byte]): Array[Byte] = {
    require(content.length >= 8, "dict content seeds rep offsets")
    val out = new Bytes.Writer(content.length + 64)
    out.u32le(0xEC30A437).u32le(id.toInt)
    // Huffman over {' ','a','e','t'} with distinct weights
    val hw = hufWriteTreeDesc(
      hufWeights(Map(32 -> 8L, 97 -> 4L, 101 -> 2L, 116 -> 1L)))
    out.write(hw, 0, hw.length)
    def writeFse(nCodes: Int, accLog: Int): Unit = {
      val norm = Array.fill(nCodes)((1 << accLog) / nCodes)
      val fw = new FwdWriter
      fseWriteNCount(norm, accLog, fw)
      val d = fw.bytes
      out.write(d, 0, d.length)
    }
    writeFse(8, 5) // OF
    writeFse(8, 6) // ML
    writeFse(8, 6) // LL
    Seq(1, 4, 8).foreach(out.u32le)
    out.write(content, 0, content.length)
    out.toByteArray
  }

  /** GENERAL-PURPOSE compressor — the WRITE side of the transport:
    * greedy hash-chain LZ77 (LZ4-style single-entry last-occurrence
    * table over 4-byte keys, matches extended maximally and capped at
    * the ML code range) emitted as REAL multi-block frames through
    * the same section writers the fixtures use: raw-or-Huffman
    * literals (whichever is shorter; the Huffman arm degrades
    * gracefully past its caps) + predefined-FSE sequences, blocks
    * flushed at 127 sequences / ~3.5 KiB literals, matches free to
    * reach across block boundaries. Honors the reference's
    * expanding-block rule: any block whose compressed payload would
    * not undercut its content is emitted as a raw block instead, so
    * `compress` never produces a frame the reference CLI rejects —
    * output verified against `zstd -d` (v1.5.7) in dev. Frames are
    * single-segment with content size and an xxh64 checksum, so
    * decode(compress(x)) == x is the full-frame gate. */
  private[llm] def compress(data: Array[Byte],
      withSum: Boolean = true): Array[Byte] = {
    val n = data.length
    val blocks = scala.collection.mutable.ArrayBuffer
      .empty[(Int, Int, Array[Byte])]
    if (n < 8) { // too short to match: one raw block
      return frameOf(Seq((0, 0, data)), data, withSum)
    }
    val MaxMl = 131074  // MlBase(52) + 16 extra bits
    val MaxLits = 3500  // under the 4096 raw-literals cap with margin
    val MaxBlock = 1 << 17 // Block_Maximum_Size (§3.1.1.2.3): 128 KiB
    val head = new java.util.HashMap[Int, Int](1 << 12)
    val lits = new java.io.ByteArrayOutputStream(1024)
    val seqs = scala.collection.mutable.ArrayBuffer.empty[Sq]
    var blockFrom = 0 // content offset where the open block starts
    var litPtr = 0    // first unconsumed literal
    // close the open block at content position `upto` (== litPtr or
    // the end of the last match): sequences + leftover literals,
    // falling back to raw when the payload would not undercut the
    // content (the reference rejects expanding compressed blocks)
    def flush(upto: Int): Unit = {
      val leftover = upto - litPtr
      if (leftover > 0) lits.write(data, litPtr, leftover)
      litPtr = upto
      val content = upto - blockFrom
      if (content == 0) { /* nothing buffered */ }
      else if (seqs.isEmpty) {
        // literal-only stretch: raw block(s)
        var o = blockFrom
        while (o < upto) {
          val len = math.min(upto - o, 1 << 17)
          blocks += ((0, 0,
            java.util.Arrays.copyOfRange(data, o, o + len)))
          o += len
        }
      } else {
        val l = lits.toByteArray
        val rawLits = literalsSection(l, huf = false, fourStream = false)
        val hufLits =
          if (l.length >= 16 && l.distinct.length >= 2)
            literalsSection(l, huf = true, fourStream = false)
          else rawLits
        val payload = (if (hufLits.length < rawLits.length) hufLits
          else rawLits) ++ sequencesSection(seqs.toArray, 0, 0, 0)
        if (payload.length <= content)
          blocks += ((2, 0, payload))
        else blocks += ((0, 0,
          java.util.Arrays.copyOfRange(data, blockFrom, upto)))
      }
      lits.reset(); seqs.clear(); blockFrom = upto
    }
    var i = 0
    while (i < n - 3) {
      val k = Bytes.i32le(data, i)
      val cand = head.getOrDefault(k, -1)
      head.put(k, i)
      if (cand >= 0 && Bytes.i32le(data, cand) == k) {
        // the pending literal run must fit the raw-literals section
        // TOGETHER with what the block already buffered (the two caps
        // compose — checking either alone can overflow the 4096
        // size-format limit), and a sequence must leave block budget
        if (lits.size() + (i - litPtr) > MaxLits ||
            i - blockFrom >= MaxBlock - 4) flush(i)
        // extend the guaranteed-4 match, capped by the ML code range
        // AND the 128 KiB block budget (§3.1.1.2.3 — the reference
        // rejects blocks regenerating more than Block_Maximum_Size,
        // so a long run spans sequences in consecutive blocks)
        val budget = MaxBlock - (i - blockFrom) - (i - litPtr)
        var ml = 4
        val mlCap = math.min(MaxMl, budget)
        while (i + ml < n && ml < mlCap &&
            data(cand + ml) == data(i + ml)) ml += 1
        val ll = i - litPtr
        if (ll > 0) lits.write(data, litPtr, ll)
        seqs += Sq(ll, ml, (i - cand) + 3L)
        i += ml
        litPtr = i
        if (seqs.length == 127 || lits.size() >= MaxLits ||
            i - blockFrom >= MaxBlock - 4) flush(i)
      } else {
        i += 1
        // a long literal-only stretch must not blow the caps — the
        // pending run counts TOGETHER with already-buffered literals
        if (lits.size() + (i - litPtr) >= MaxLits) flush(i)
      }
    }
    flush(n)
    frameOf(blocks.toSeq, data, withSum)
  }

  /** A frame that back-references `dict`'s content: ll=0 + match(m @
    * offset m) reaching m bytes into the dictionary history, then the
    * text as leftover literals — the shape a real dictionary
    * compressor emits for a doc sharing a prefix with the dictionary.
    * Returns (frame, expected content). Used by the trained-dictionary
    * lifecycle spec (any parseable dictionary, not just the fixture
    * one). */
  private[llm] def dictDemoFrame(dictBytes: Array[Byte], text: String,
      m: Int = 24): (Array[Byte], Array[Byte]) = {
    val d = parseDict(dictBytes).getOrElse(sys.error("dict must parse"))
    require(d.content.length >= m)
    val t = text.getBytes("ISO-8859-1")
    val c = d.content.takeRight(m) ++ t
    val payload = literalsSection(t, huf = false, fourStream = false) ++
      sequencesSection(Array(Sq(0, m, m + 3L)), 0, 0, 0)
    (frameOf(Seq((2, 0, payload)), c, withSum = true,
      dictId = Some(d.id)), c)
  }

  /** The corpus fixture dictionary: its content's LAST 24 BYTES are
    * the shared prefix every dict-arm frame's first sequence copies
    * out of the history, so the twin can state the decoded content
    * as a string literal. */
  private[llm] val FixtureDictId = 7L
  private[llm] val FixtureDictContent: Array[Byte] =
    "graft fixture dictionary the shared dict prefix24"
      .getBytes("ISO-8859-1")
  private[llm] lazy val fixtureDictBytes: Array[Byte] =
    buildDict(FixtureDictId, FixtureDictContent)
  private[llm] lazy val fixtureDicts: Map[Long, ZDict] =
    Map(FixtureDictId -> parseDict(fixtureDictBytes).getOrElse(
      sys.error("fixture dictionary must parse")))

  /** Synthesize a REAL zstd frame from a doc's (text, md5). Arms
    * (exclusive, precedence order): corrupted magic; a DICTIONARY
    * frame — DID known (the fixture dictionary: first sequence copies
    * the dictionary content's last 24 bytes from history, so content
    * = that prefix + text → `ok`) or DID unknown (→ the honest
    * `unsupported`: decoding without the named dictionary would
    * produce wrong bytes); truncation to 60% (mid-block — the torn
    * download); a flipped xxh64 checksum (→ `bad_data`); a reserved
    * block type (→ `bad_data`). Ok frames pick one of 8 encoding
    * modes from the hash: raw block / RLE block / predefined-FSE
    * sequences over raw literals / Huffman(1-stream) literals with a
    * repeat-offset second sequence / Huffman 4-stream + RLE-mode
    * sequences / custom FSE_Compressed tables + repeat offset /
    * two blocks with a cross-block match / a literals-only Huffman
    * block (nbSeq = 0). Content per mode is a pure function of the
    * text (t, t·2, t·3 space-joined, a char run, or t·2 unspaced), so
    * the DuckDB twin recomputes every census column without parsing
    * a byte. */
  private[llm] def zstdBytes(text: String, h: String): Array[Byte] = {
    val b = h.sliding(2, 2).map(Integer.parseInt(_, 16)).toArray
    val badMagic = b(11) % 16 == 4
    val dict = !badMagic && b(12) % 8 == 3
    val trunc = !badMagic && !dict && b(13) % 8 == 6
    val badSum = !badMagic && !dict && !trunc && b(15) % 8 == 2
    val reservedBlk = !badMagic && !dict && !trunc && !badSum &&
      b(14) % 8 == 5
    val t = text.getBytes("ISO-8859-1")
    val L = t.length
    val mode = if (L < 3) 0 else b(9) % 8
    val hasSum = badSum || b(8) % 2 == 0
    val sp = ' '.toByte
    def hufOk(xs: Array[Byte]) = xs.distinct.length >= 2
    // Block-level totality (r18 advice): the entropy-coded block
    // shapes cap their raw-literals fallback at 4095 bytes
    // (size-format 1's 12-bit field), so a doc too long for its
    // mode's literals emits the SAME content as one raw block per
    // content piece instead of throwing in an executor. Twin-
    // invisible: content and block count are unchanged (the census
    // never sees the encoding). Raw block sizes carry 21 bits — the
    // one hard format bound left, asserted here with the doc id-free
    // content length so an over-bound corpus fails loudly at synth,
    // not as a corrupt frame downstream.
    val entropyOk = L + 2 < 4096
    require(3 * L + 2 <= (1 << 17), s"doc of $L bytes exceeds the " +
      "single-block fixture bound (Block_Maximum_Size = 128 KiB, " +
      "§3.1.1.2.3); the twin's n_blocks contract fixes the block " +
      "count per arm, so chunked synthesis is out of scope")
    val (content, blocks): (Array[Byte], Seq[(Int, Int, Array[Byte])]) =
      mode match {
        case m if m >= 2 && !entropyOk =>
          val c: Array[Byte] = m match {
            case 2 | 4 => (t :+ sp) ++ t
            case 3 | 5 => (t :+ sp) ++ (t :+ sp) ++ t
            case 6 => t ++ t
            case _ => t
          }
          if (m == 6) (c, Seq((0, 0, t), (0, 0, t)))
          else (c, Seq((0, 0, c)))
        case 0 => (t, Seq((0, 0, t)))
        case 1 =>
          val ch = ('a' + b(2) % 26).toByte
          val n = 5 + b(3)
          (Array.fill(n)(ch), Seq((1, n, Array(ch))))
        case 2 =>
          val lits = t :+ sp
          val payload = literalsSection(lits, huf = false,
            fourStream = false) ++
            sequencesSection(Array(Sq(L + 1, L, L + 4L)), 0, 0, 0)
          ((t :+ sp) ++ t, Seq((2, 0, payload)))
        case 3 =>
          val lits = (t :+ sp) :+ sp
          val seqs = sequencesSection(
            Array(Sq(L + 1, L, L + 4L), Sq(1, L, 1L)), 0, 0, 0)
          val hufP = literalsSection(lits, huf = hufOk(lits),
            fourStream = false) ++ seqs
          val payload =
            if (hufP.length <= 3 * L + 2) hufP
            else literalsSection(lits, huf = false,
              fourStream = false) ++ seqs
          ((t :+ sp) ++ (t :+ sp) ++ t, Seq((2, 0, payload)))
        case 4 =>
          val lits = t :+ sp
          val seqs = sequencesSection(Array(Sq(L + 1, L, L + 4L)), 1, 1, 1)
          val hufP = literalsSection(lits, huf = hufOk(lits),
            fourStream = true) ++ seqs
          // reference rule: a compressed block must fit inside the
          // content budget — short docs can't amortize the ~60-byte
          // direct weight table, so they fall back to raw literals
          // (the RLE-mode sequence path is exercised either way)
          val payload =
            if (hufP.length <= 2 * L + 1) hufP
            else literalsSection(lits, huf = false,
              fourStream = false) ++ seqs
          ((t :+ sp) ++ t, Seq((2, 0, payload)))
        case 5 =>
          val lits = (t :+ sp) :+ sp
          val payload = literalsSection(lits, huf = false,
            fourStream = false) ++
            sequencesSection(Array(Sq(L + 1, L, L + 4L), Sq(1, L, 1L)),
              2, 2, 2)
          ((t :+ sp) ++ (t :+ sp) ++ t, Seq((2, 0, payload)))
        case 6 =>
          val payload = literalsSection(Array.emptyByteArray,
            huf = false, fourStream = false) ++
            sequencesSection(Array(Sq(0, L, L + 3L)), 0, 0, 0)
          (t ++ t, Seq((0, 0, t), (2, 0, payload)))
        case _ =>
          // literals-only block (nbSeq = 0): legal only when the
          // Huffman stream + tree genuinely undercut the content
          // (the reference rule above) — short docs emit a raw block
          val payload = literalsSection(t, huf = hufOk(t),
            fourStream = false) ++ Array(0.toByte) // nbSeq = 0
          if (payload.length <= L) (t, Seq((2, 0, payload)))
          else (t, Seq((0, 0, t)))
      }
    if (badMagic) {
      val f = frameOf(blocks, content, hasSum)
      f(1) = 0x77.toByte
      f
    } else if (dict) {
      if (b(4) % 2 == 0) {
        // known-DID arm: ll=0 + match(24 @ offset 24) reaches 24
        // bytes INTO the dictionary content (frame output is empty at
        // that point), then the text rides as leftover literals —
        // content = dict-suffix ++ text, one block. Oversized docs
        // degrade to one raw block of the same content (the dict is
        // then unused but the frame stays a valid dictionary frame).
        val d24 = FixtureDictContent.takeRight(24)
        val c = d24 ++ t
        if (entropyOk) {
          val payload =
            literalsSection(t, huf = false, fourStream = false) ++
              sequencesSection(Array(Sq(0, 24, 27L)), 0, 0, 0)
          frameOf(Seq((2, 0, payload)), c, hasSum,
            dictId = Some(FixtureDictId))
        } else frameOf(Seq((0, 0, c)), c, hasSum,
          dictId = Some(FixtureDictId))
      } else // unknown-DID arm: the honest `unsupported`
        frameOf(Seq((0, 0, t)), t, hasSum, dictId = Some(9L))
    } else if (reservedBlk)
      frameOf(Seq((3, 0, Array.emptyByteArray)), content, hasSum)
    else if (trunc) {
      val f = frameOf(Seq((0, 0, t)), t, withSum = true)
      f.take(f.length * 3 / 5)
    } else if (badSum)
      frameOf(blocks, content, withSum = true, flipSum = true)
    else frameOf(blocks, content, hasSum)
  }

  /** Treeless literals section (type 3): encode with the PREVIOUS
    * block's Huffman table, no tree bytes — the real-encoder steady
    * state on multi-block files. */
  private def literalsTreeless(lits: Array[Byte],
      tbl: HufTable): Array[Byte] = {
    val bw = new BackWriter
    lits.foreach { b =>
      val c = b & 0xff
      bw.put(tbl.codes(c), tbl.lens(c))
    }
    val body = bw.bytes
    val regen = lits.length
    val cmp = body.length
    require(regen <= 1023 && cmp <= 1023)
    new Bytes.Writer(cmp + 3).u24le((regen | cmp << 10) << 4 | 3).bytes(body)
      .toByteArray
  }

  /** Two-block frame exercising the FRAME-SCOPED reuse paths the
    * md5-arm fixture can't reach deterministically: block 2 reuses
    * block 1's Huffman tree (TREELESS literals) and its sequence
    * tables (REPEAT mode, here repeating the predefined set), plus a
    * cross-block match. Returns (frame, expected content). */
  private[llm] def treelessDemoFrame(
      text: String): (Array[Byte], Array[Byte]) = {
    val t = text.getBytes("ISO-8859-1")
    val L = t.length
    require(L >= 12 && t.distinct.length >= 2)
    val sp = ' '.toByte
    val lits1 = t :+ sp
    val c1 = (t :+ sp) ++ t
    val tbl = hufBuild(hufWeights(lits1.groupBy(b => b & 0xff)
      .map { case (k, xs) => k -> xs.length.toLong }))
    val p1 = literalsSection(lits1, huf = true, fourStream = false) ++
      sequencesSection(Array(Sq(L + 1, L, L + 4L)), 0, 0, 0)
    // block 2: lits = ' '+t (symbols ⊆ block 1's tree), then a match
    // copying the t just emitted (offset L → ofVal L+3)
    val lits2 = sp +: t
    val c2 = (sp +: t) ++ t
    val p2 = literalsTreeless(lits2, tbl) ++
      sequencesSection(Array(Sq(L + 1, L, L + 3L)), 3, 3, 3)
    val content = c1 ++ c2
    require(p1.length < c1.length + c2.length &&
      p2.length < c2.length, "demo blocks must genuinely compress")
    (frameOf(Seq((2, 0, p1), (2, 0, p2)), content, withSum = true),
      content)
  }

  /** `.jsonl.zst` fixture — the file shape public corpora actually
    * ship: the doc's words chunked into k contiguous JSON records
    * ({"id":j,"text":"…"}, newline-delimited), the JSONL bytes in ONE
    * data frame whose sequence parse is a GENUINE LZ match list (each
    * line after the first back-references the previous line's 6-byte
    * `{"id":` record prefix — k−1 predefined-table sequences with
    * varying literal lengths and offsets, the state-update path over
    * non-constant codes), preceded ~50% of the time by a SKIPPABLE
    * frame (the pzstd seek-table shape [[decodeFrames]] must skip).
    * Truncation arm cuts to 60%. Checksummed always.
    *
    * INPUT DOMAIN (r18 advice, shared with the DuckDB twin): the doc
    * text must be JSON-safe (no `"`, `\`, or control chars — the
    * records embed it unescaped) and single-space separated (the
    * rebuilt text re-joins words with one space, and the twin's
    * rebuilt_md5 == md5(text) gate assumes the re-join is lossless).
    * The documents fixture satisfies both; a dirtier corpus needs an
    * escaping pass here AND a twin that models it. The word count is
    * empty-token-filtered on BOTH sides (Spark filter(_.nonEmpty) ↔
    * twin list_filter(..., x -> x <> '')). */
  private[llm] def zstdJsonlBytes(text: String, h: String): Array[Byte] = {
    val b = h.sliding(2, 2).map(Integer.parseInt(_, 16)).toArray
    val words = text.split(" ").filter(_.nonEmpty)
    val k = math.min(2 + b(1) % 3, math.max(1, words.length))
    val lines = (0 until k).map { j =>
      val lo = j * words.length / k
      val hi = (j + 1) * words.length / k
      s"""{"id":$j,"text":"${words.slice(lo, hi).mkString(" ")}"}""" + "\n"
    }
    val content = lines.mkString.getBytes("ISO-8859-1")
    val pfx = 6 // the shared `{"id":` record head
    val seqs = (1 until k).map { j =>
      val ll = if (j == 1) lines(0).length else lines(j - 1).length - pfx
      Sq(ll, pfx, lines(j - 1).length + 3L)
    }.toArray
    val data =
      if (seqs.isEmpty)
        frameOf(Seq((0, 0, content)), content, withSum = true)
      else {
        val lits = (lines.head + lines.tail.map(_.drop(pfx)).mkString)
          .getBytes("ISO-8859-1")
        val payload =
          literalsSection(lits, huf = false, fourStream = false) ++
            sequencesSection(seqs, 0, 0, 0)
        // what a real encoder does: emit the compressed block only
        // when it genuinely undercuts the content (k=2 docs save one
        // 6-byte match — less than the sequence-section overhead —
        // and the reference rejects expanding blocks, see decode)
        if (payload.length < content.length)
          frameOf(Seq((2, 0, payload)), content, withSum = true)
        else frameOf(Seq((0, 0, content)), content, withSum = true)
      }
    val skip =
      if (b(7) % 2 != 0) Array.emptyByteArray
      else new Bytes.Writer(12).u32le(0x184D2A50 + b(6) % 16).u32le(4)
        .u8(b(2)).u8(b(3)).u8(b(4)).u8(b(5)).toByteArray
    val full = skip ++ data
    if (b(10) % 8 == 1) full.take(full.length * 3 / 5) else full
  }

  /** Per-doc census row — the decode-family contract: malformed
    * transport degrades to a status row, never a throw. Census
    * columns report only on "ok" rows so the twin never has to model
    * how far a torn frame got. */
  private[llm] def parseZstd(id: Long, p: Array[Byte]): ZstdMeta = {
    val (status, content, nBlocks, hasSum) = decode(p,
      dicts = fixtureDicts)
    if (status == "ok") {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(content).map(x => f"${x & 0xff}%02x").mkString
      ZstdMeta(id, status, Some(nBlocks),
        Some(if (hasSum) 1 else 0), Some(content.length), Some(md))
    } else ZstdMeta(id, status, None, None, None, None)
  }
}

/** Per-doc zstd ingest census row (decode family contract: malformed
  * transport degrades to a status row, never a throw). */
case class ZstdMeta(doc_id: Long, status: String, n_blocks: Option[Int],
  has_checksum: Option[Int], n_bytes: Option[Int],
  content_md5: Option[String])