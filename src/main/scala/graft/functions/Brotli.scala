package graft.functions

/** Pure-JVM brotli (RFC 7932) decoder for the crawl decode chain
  * (r18, the r17 verdict's #4: `br` Content-Encoding was a counted
  * refusal — on a real WARC slice that is a meaningful fraction of
  * responses lost). No managed dependency exists in this build
  * (zero-egress), so the format is implemented from the public spec,
  * the way `operators/Jpeg` implements T.81 and `Psl` implements
  * publicsuffix.org:
  *
  *  - the STATIC DICTIONARY (122,784 bytes, RFC 7932 Appendix A) and
  *    the 4-mode context lookup table (RFC 7932 Section 7.1) are
  *    vendored verbatim as resources (`graft/brotli_dictionary.bin`,
  *    `graft/brotli_context.bin`) — public spec data, same precedent
  *    as the vendored PSL snapshot. BrotliSpec pins the dictionary's
  *    published SHA-256
  *    (20e42eb1b511c21806d4d227d07e5dd06877d8ce7b3a817f378f313653f35c70)
  *    so a corrupted resource refuses loudly;
  *  - the 121 word transforms (RFC 7932 Section 8 / Appendix B) and
  *    the insert/copy/block-length range tables (Sections 5/6) are
  *    inlined below as data;
  *  - conformance is gated EMPIRICALLY: BrotliSpec round-trips a
  *    vendored corpus produced by the reference encoder at qualities
  *    0-11 (text that exercises dictionary references + transforms,
  *    UTF-8 multibyte, binary, empty, long repetitive) — see
  *    `src/test/resources/brotli_conformance/`.
  *
  * Scope: the RFC 7932 stream format, window bits 10-24. The
  * large-window extension (WBITS > 24, a post-RFC variant no HTTP
  * server emits under plain `br`) refuses loudly. Malformed input
  * throws `DataFormatException` — [[HttpBody]] turns that into a
  * counted null, never a silently-wrong body.
  *
  * Decoding is single-pass over heap arrays (a crawl body is
  * bounded); `maxOut` caps expansion the way the gzip arm caps
  * decompression bombs. */
object Brotli {

  import java.util.zip.DataFormatException

  // ---- vendored spec data ----------------------------------------

  /** RFC 7932 Appendix A: word-length -> log2(word count). */
  private val DictSizeBits: Array[Int] = Array(
    0, 0, 0, 0, 10, 10, 11, 11, 10, 10, 10, 10, 10, 9, 9, 8, 7,
    7, 8, 7, 7, 6, 6, 5, 5)

  /** RFC 7932 Appendix A: word-length -> byte offset of its section. */
  private val DictOffsets: Array[Int] = Array(
    0, 0, 0, 0, 0, 4096, 9216, 21504, 35840, 44032, 53248, 63488,
    74752, 87040, 93696, 100864, 104704, 106752, 108928, 113536,
    115968, 118528, 119872, 121280, 122016, 122784)

  private def resourceBytes(name: String, expectLen: Int): Array[Byte] = {
    val in = getClass.getResourceAsStream(name)
    if (in == null) throw new IllegalStateException(s"missing resource $name")
    try {
      val out = in.readAllBytes()
      if (out.length != expectLen) throw new IllegalStateException(
        s"$name: ${out.length} bytes, expected $expectLen")
      out
    } finally in.close()
  }

  /** The static dictionary (RFC 7932 Appendix A), 122,784 bytes. */
  lazy val Dictionary: Array[Byte] =
    resourceBytes("/graft/brotli_dictionary.bin", 122784)

  /** Context lookup table (RFC 7932 Section 7.1): 4 modes x (256
    * p1-entries + 256 p2-entries); ctx = t(m*512+p1) | t(m*512+256+p2). */
  private lazy val ContextLut: Array[Byte] =
    resourceBytes("/graft/brotli_context.bin", 2048)

  /** RFC 7932 Section 8: the 121 transforms as (prefix, kind, suffix);
    * kind 0 = identity, 1-9 = omit-last-N, 10 = uppercase-first,
    * 11 = uppercase-all, 12-20 = omit-first-N. Strings hold raw BYTES
    * (latin-1 chars 0-255). */
  private val TransformPrefix: Array[String] = Array("", "", " ", "", "",
    "", " ", "s ", "", "", "", "", "", ", ", "", " ", "", "", "e ", "", "",
    "", "", "", "", "", "", "", "", "", " ", "", ".", " ", "", "", "", "",
    "", "", "", " the ", "", "", "", "", "", "", "", "", "", "", " ", "",
    "", "", "", "", "", "", "", "", " the ", "", "", " ", "", ".", "", "",
    "", " ", ".com/", " the ", "", "", "", ".", "", "", "", " ", "", " ",
    "", " ", "", "", "", " ", "", " ", "", "", "", "", " ", "", " ", "", "",
    "", "\u00c2\u00a0", " ", "", "", "", "", "", " ", " ", " ", "", "", "",
    " ", "", " ", " ", " ", " ")

  private val TransformKind: Array[Int] = Array(0, 0, 0, 12, 10, 0, 0, 0, 0,
    10, 0, 13, 1, 0, 0, 10, 0, 0, 0, 0, 0, 0, 0, 3, 0, 0, 14, 2, 0, 0, 10,
    0, 0, 0, 15, 0, 0, 0, 0, 16, 17, 0, 4, 0, 11, 0, 0, 0, 7, 1, 0, 0, 0, 0,
    20, 18, 6, 0, 10, 8, 0, 0, 0, 5, 9, 10, 10, 0, 11, 10, 0, 0, 0, 0, 10,
    0, 0, 0, 10, 10, 0, 0, 0, 11, 0, 11, 0, 11, 10, 0, 0, 10, 0, 0, 11, 0,
    10, 11, 0, 10, 0, 11, 0, 0, 10, 11, 0, 11, 10, 10, 11, 11, 11, 11, 11,
    11, 11, 11, 10, 11, 10)

  private val TransformSuffix: Array[String] = Array("", " ", " ", "", " ",
    " the ", "", " ", " of ", "", " and ", "", "", " ", ", ", " ", " in ",
    " to ", " ", "\"", ".", "\">", "\u000a", "", "]", " for ", "", "",
    " a ", " that ", "", ". ", "", ", ", "", " with ", "'", " from ",
    " by ", "", "", "", "", ". The ", "", " on ", " as ", " is ", "",
    "ing ", "\u000a\u0009", ":", ". ", "ed ", "", "", "", "(", ", ", "",
    " at ", "ly ", " of ", "", "", ", ", "\"", "(", " ", "\">", "=\"", ".",
    "", " of the ", "'", ". This ", ",", " ", "(", ".", " not ", "=\"",
    "er ", " ", "al ", "", "='", "\"", ". ", "(", "ful ", ". ", "ive ",
    "less ", "'", "est ", ".", "\">", "='", ",", "ize ", ".", "", ",",
    "=\"", "=\"", "ous ", ", ", "='", ",", "=\"", ", ", ",", "(", ". ", ".",
    "='", ". ", "=\"", "='", "='")

  /** RFC 7932 Section 5: insert-length code -> (base, extra bits). */
  private val InsBase = Array(0, 1, 2, 3, 4, 5, 6, 8, 10, 14, 18, 26, 34,
    50, 66, 98, 130, 194, 322, 578, 1090, 2114, 6210, 22594)
  private val InsExtra = Array(0, 0, 0, 0, 0, 0, 1, 1, 2, 2, 3, 3, 4, 4,
    5, 5, 6, 7, 8, 9, 10, 12, 14, 24)

  /** RFC 7932 Section 5: copy-length code -> (base, extra bits). */
  private val CopyBase = Array(2, 3, 4, 5, 6, 7, 8, 9, 10, 12, 14, 18, 22,
    30, 38, 54, 70, 102, 134, 198, 326, 582, 1094, 2118)
  private val CopyExtra = Array(0, 0, 0, 0, 0, 0, 0, 0, 1, 1, 2, 2, 3, 3,
    4, 4, 5, 5, 6, 7, 8, 9, 10, 24)

  /** RFC 7932 Section 5: the 704-symbol insert-and-copy code is 11
    * groups of 64; groups 0-1 imply distance code 0 (reuse last
    * distance, no ring-buffer push). */
  private val InsRangeLut = Array(0, 0, 8, 8, 0, 16, 8, 16, 16)
  private val CopyRangeLut = Array(0, 8, 0, 8, 16, 0, 16, 8, 16)

  /** RFC 7932 Section 6: block-count code -> (base, extra bits). */
  private val BlockLenBase = Array(1, 5, 9, 13, 17, 25, 33, 41, 49, 65,
    81, 97, 113, 145, 177, 209, 241, 305, 369, 497, 753, 1265, 2289,
    4337, 8433, 16625)
  private val BlockLenExtra = Array(2, 2, 2, 2, 3, 3, 3, 3, 4, 4, 4, 4,
    5, 5, 5, 5, 6, 6, 7, 8, 9, 10, 11, 12, 13, 24)

  /** RFC 7932 Section 3.5: fixed code for code-length code lengths —
    * peek 4 bits, entry = (consumed bits, value). */
  private val ClclBits = Array(2, 2, 2, 3, 2, 2, 2, 4, 2, 2, 2, 3, 2, 2, 2, 4)
  private val ClclValue = Array(0, 4, 3, 2, 0, 4, 3, 1, 0, 4, 3, 2, 0, 4, 3, 5)

  /** RFC 7932 Section 3.5: order in which code-length code lengths
    * are read. */
  private val ClCodeOrder = Array(1, 2, 3, 4, 0, 5, 17, 6, 16, 7, 8, 9,
    10, 11, 12, 13, 14, 15)

  // ---- bit reader --------------------------------------------------

  private final class Reader(val in: Array[Byte]) {
    var bytePos = 0
    var bitBuf = 0L
    var bitCnt = 0
    def fail(why: String): Nothing = throw new DataFormatException(
      s"brotli: $why (at byte $bytePos)")
    private def fill(): Unit =
      while (bitCnt <= 56 && bytePos < in.length) {
        bitBuf |= (in(bytePos) & 0xffL) << bitCnt
        bitCnt += 8
        bytePos += 1
      }
    def readBits(n: Int): Int = {
      if (n == 0) return 0
      if (bitCnt < n) { fill(); if (bitCnt < n) fail("unexpected end of input") }
      val v = (bitBuf & ((1L << n) - 1)).toInt
      bitBuf >>>= n
      bitCnt -= n
      v
    }
    def readBit(): Int = readBits(1)
    /** Peek up to n bits, zero-padded past end of input. */
    def peek(n: Int): Int = {
      if (bitCnt < n) fill()
      (bitBuf & ((1L << n) - 1)).toInt
    }
    def drop(n: Int): Unit = {
      if (bitCnt < n) fail("unexpected end of input")
      bitBuf >>>= n
      bitCnt -= n
    }
    /** Discard bits to the next byte boundary; they must be zero. */
    def alignByte(): Unit = {
      val pad = bitCnt & 7
      if (pad > 0 && readBits(pad) != 0) fail("nonzero padding bits")
    }
    /** Copy n raw bytes (must be byte-aligned). */
    def rawBytes(n: Int, dst: Array[Byte], at: Int): Unit = {
      var i = 0
      while (i < n) {
        if (bitCnt >= 8) { dst(at + i) = (bitBuf & 0xff).toByte; bitBuf >>>= 8; bitCnt -= 8 }
        else if (bytePos < in.length) { dst(at + i) = in(bytePos); bytePos += 1 }
        else fail("unexpected end of input in uncompressed block")
        i += 1
      }
    }
  }

  // ---- canonical prefix codes --------------------------------------

  /** Canonical prefix decoder from code lengths 0-15: per-length
    * first-code/offset tables, decode walks one bit at a time (codes
    * pack MSB-of-code first into the LSB-first stream, as in
    * DEFLATE). A single-symbol code decodes with zero bits. */
  private final class Prefix(lengths: Array[Int]) {
    private val count = new Array[Int](16)
    private var nSym = 0
    private var only = -1
    var i = 0
    while (i < lengths.length) {
      val l = lengths(i)
      if (l < 0 || l > 15) throw new DataFormatException("brotli: bad code length")
      if (l > 0) { count(l) += 1; nSym += 1; only = i }
      i += 1
    }
    if (nSym == 0) throw new DataFormatException("brotli: empty prefix code")
    private val singleton = nSym == 1
    // completeness (Kraft sum == 1) required for multi-symbol codes
    if (!singleton) {
      var space = 1 << 15
      var l = 1
      while (l <= 15) { space -= count(l) << (15 - l); l += 1 }
      if (space != 0) throw new DataFormatException("brotli: incomplete prefix code")
    }
    private val firstCode = new Array[Int](16)
    private val offset = new Array[Int](16)
    private val symbols = new Array[Int](nSym)
    locally {
      var code = 0
      var off = 0
      var l = 1
      while (l <= 15) {
        firstCode(l) = code
        offset(l) = off
        code = (code + count(l)) << 1
        off += count(l)
        l += 1
      }
      val next = offset.clone()
      var s = 0
      while (s < lengths.length) {
        val ln = lengths(s)
        if (ln > 0) { symbols(next(ln)) = s; next(ln) += 1 }
        s += 1
      }
    }
    def read(r: Reader): Int = {
      if (singleton) return only
      var code = 0
      var l = 0
      while (l < 15) {
        code = (code << 1) | r.readBit()
        l += 1
        val idx = code - firstCode(l)
        if (idx >= 0 && idx < count(l)) return symbols(offset(l) + idx)
      }
      r.fail("invalid prefix code word")
    }
  }

  /** Read a prefix code over `alphabet` symbols (RFC 7932 3.4/3.5). */
  private def readPrefixCode(r: Reader, alphabet: Int): Prefix = {
    val lengths = new Array[Int](alphabet)
    val two = r.readBits(2)
    if (two == 1) {
      // simple code: 1-4 distinct symbols
      val nSym = r.readBits(2) + 1
      val alphaBits = 32 - Integer.numberOfLeadingZeros(math.max(1, alphabet - 1))
      val syms = new Array[Int](nSym)
      var i = 0
      while (i < nSym) {
        val s = r.readBits(alphaBits)
        if (s >= alphabet) r.fail("simple-code symbol out of range")
        var j = 0
        while (j < i) { if (syms(j) == s) r.fail("duplicate simple-code symbol"); j += 1 }
        syms(i) = s
        i += 1
      }
      nSym match {
        case 1 => lengths(syms(0)) = 1 // singleton: decodes with 0 bits
        case 2 =>
          java.util.Arrays.sort(syms)
          lengths(syms(0)) = 1; lengths(syms(1)) = 1
        case 3 =>
          if (syms(1) > syms(2)) { val t = syms(1); syms(1) = syms(2); syms(2) = t }
          lengths(syms(0)) = 1; lengths(syms(1)) = 2; lengths(syms(2)) = 2
        case 4 =>
          if (r.readBit() == 1) {
            if (syms(2) > syms(3)) { val t = syms(2); syms(2) = syms(3); syms(3) = t }
            lengths(syms(0)) = 1; lengths(syms(1)) = 2
            lengths(syms(2)) = 3; lengths(syms(3)) = 3
          } else {
            java.util.Arrays.sort(syms)
            var k = 0
            while (k < 4) { lengths(syms(k)) = 2; k += 1 }
          }
      }
      return new Prefix(lengths)
    }
    // complex code: first the code-length code (18 symbols, max len 5)
    val hskip = two // 0, 2 or 3 leading code-length codes skipped
    val clcl = new Array[Int](18)
    var space = 32
    var numCodes = 0
    var i = hskip
    while (i < 18 && space > 0) {
      val p = r.peek(4)
      val v = ClclValue(p)
      r.drop(ClclBits(p))
      clcl(ClCodeOrder(i)) = v
      if (v != 0) { space -= 32 >> v; numCodes += 1 }
      i += 1
    }
    if (numCodes != 1 && space != 0) r.fail("corrupt code-length code")
    val clCode = new Prefix(clcl)
    // then the symbol code lengths with repeat codes 16/17
    var symbol = 0
    var prevLen = 8
    var repeat = 0
    var repeatLen = 0
    var space2 = 1 << 15
    while (symbol < alphabet && space2 > 0) {
      val cl = clCode.read(r)
      if (cl < 16) {
        repeat = 0
        lengths(symbol) = cl
        symbol += 1
        if (cl != 0) { prevLen = cl; space2 -= (1 << 15) >> cl }
      } else {
        val extraBits = cl - 14 // 16 -> 2, 17 -> 3
        val newLen = if (cl == 16) prevLen else 0
        if (repeatLen != newLen) { repeat = 0; repeatLen = newLen }
        val oldRepeat = repeat
        // chained repeats scale by 1 << extraBits (4 for code 16,
        // 8 for code 17) — RFC 7932 Section 3.5
        if (repeat > 0) repeat = (repeat - 2) << extraBits
        repeat += r.readBits(extraBits) + 3
        val delta = repeat - oldRepeat
        if (symbol + delta > alphabet) r.fail("repeat past alphabet end")
        var k = 0
        while (k < delta) { lengths(symbol) = repeatLen; symbol += 1; k += 1 }
        if (repeatLen != 0) space2 -= delta << (15 - repeatLen)
      }
    }
    if (space2 < 0) r.fail("over-subscribed prefix code")
    new Prefix(lengths)
  }

  /** RFC 7932 Section 6: number of block types / context trees,
    * 1..256. */
  private def readVarCount(r: Reader): Int =
    if (r.readBit() == 0) 1
    else {
      val n = r.readBits(3)
      (1 << n) + 1 + r.readBits(n)
    }

  /** RFC 7932 Section 7.3: context map with run-length zeros and
    * optional inverse move-to-front. */
  private def readContextMap(r: Reader, size: Int, nTrees: Int): Array[Int] = {
    val map = new Array[Int](size)
    if (nTrees <= 1) return map
    val rleMax = if (r.readBit() == 1) r.readBits(4) + 1 else 0
    val code = readPrefixCode(r, nTrees + rleMax)
    var i = 0
    while (i < size) {
      val s = code.read(r)
      if (s == 0) { map(i) = 0; i += 1 }
      else if (s <= rleMax) {
        var reps = (1 << s) + r.readBits(s)
        if (i + reps > size) r.fail("context-map zero run past end")
        while (reps > 0) { map(i) = 0; i += 1; reps -= 1 }
      } else {
        map(i) = s - rleMax
        i += 1
      }
    }
    if (r.readBit() == 1) {
      // inverse move-to-front over the map values
      val mtf = new Array[Int](256)
      var k = 0
      while (k < 256) { mtf(k) = k; k += 1 }
      i = 0
      while (i < size) {
        val idx = map(i)
        val v = mtf(idx)
        var j = idx
        while (j > 0) { mtf(j) = mtf(j - 1); j -= 1 }
        mtf(0) = v
        map(i) = v
        i += 1
      }
    }
    map
  }

  /** RFC 7932 Section 8: uppercase ferment (UTF-8 aware). */
  private def ferment(buf: Array[Byte], from: Int, to: Int, all: Boolean): Unit = {
    var i = from
    var go = true
    while (i < to && go) {
      val c = buf(i) & 0xff
      if (c < 192) {
        if (c >= 'a' && c <= 'z') buf(i) = (c ^ 32).toByte
        i += 1
      } else if (c < 224) {
        if (i + 1 < to) buf(i + 1) = (buf(i + 1) ^ 32).toByte
        i += 2
      } else {
        if (i + 2 < to) buf(i + 2) = (buf(i + 2) ^ 5).toByte
        i += 3
      }
      go = all
    }
  }

  private def latin1(s: String): Array[Byte] =
    s.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)

  /** Growable output with ring-buffer-free backward copies (the whole
    * body stays in memory — crawl bodies are bounded by maxOut). */
  private final class Out(maxOut: Int) {
    var buf = new Array[Byte](64 * 1024)
    var len = 0
    def ensure(n: Int): Unit = {
      if (len + n > maxOut) throw new DataFormatException(
        s"brotli: output exceeds cap $maxOut")
      if (len + n > buf.length) {
        // grow in long space (doubling past 2^30 would wrap Int);
        // min(cap, maxOut) >= len + n because the cap check passed
        var cap = buf.length.toLong
        while (cap < len + n) cap <<= 1
        buf = java.util.Arrays.copyOf(buf, math.min(cap, maxOut.toLong).toInt)
      }
    }
    def put(b: Byte): Unit = { ensure(1); buf(len) = b; len += 1 }
    def putAll(src: Array[Byte], from: Int, n: Int): Unit = {
      ensure(n)
      System.arraycopy(src, from, buf, len, n)
      len += n
    }
    def copyBack(dist: Int, n: Int): Unit = {
      ensure(n)
      var i = 0
      val start = len - dist
      while (i < n) { buf(len + i) = buf(start + i); i += 1 } // overlap-safe
      len += n
    }
    def result: Array[Byte] = java.util.Arrays.copyOf(buf, len)
  }

  // ---- main decode --------------------------------------------------

  /** Decode a complete brotli stream; throws
    * `java.util.zip.DataFormatException` on malformed input or when
    * the output would exceed `maxOut` bytes. */
  def decompress(in: Array[Byte], maxOut: Int = 1 << 28): Array[Byte] = {
    val r = new Reader(in)
    // stream header: window bits (RFC 7932 Section 9.1)
    val wbits: Int =
      if (r.readBit() == 0) 16
      else {
        val n = r.readBits(3)
        if (n != 0) 17 + n
        else {
          val m = r.readBits(3)
          if (m == 0) 17
          else if (m == 1) r.fail("large-window brotli is not RFC 7932")
          else 8 + m
        }
      }
    if (wbits < 10 || wbits > 24) r.fail(s"invalid window bits $wbits")
    val maxBackward = (1 << wbits) - 16
    val out = new Out(maxOut)
    // last-distances ring (RFC 7932 Section 4): index 0 = most
    // recent; shared across meta-blocks. The spec's "16, 15, 11, 4"
    // init lists OLDEST first — "last" starts at 4 (adjudicated
    // empirically: repeat.q2's first short-code distance is
    // last-1 = 3, which only decodes right with this orientation)
    val last4 = Array(4, 11, 15, 16)

    var isLast = false
    while (!isLast) {
      isLast = r.readBit() == 1
      if (isLast && r.readBit() == 1) {
        // ISLASTEMPTY
        r.alignByte()
      } else {
        val nibbles = r.readBits(2)
        if (nibbles == 3) {
          // metadata meta-block: skipped, not part of the output
          if (isLast) r.fail("metadata block cannot be last")
          if (r.readBit() != 0) r.fail("reserved metadata bit set")
          val skipBytes = r.readBits(2)
          var skipLen = 0
          if (skipBytes > 0) {
            skipLen = r.readBits(8 * skipBytes)
            if (skipBytes > 1 && (skipLen >> (8 * (skipBytes - 1))) == 0)
              r.fail("non-minimal metadata length")
            skipLen += 1
          }
          r.alignByte()
          val junk = new Array[Byte](skipLen)
          r.rawBytes(skipLen, junk, 0)
        } else {
          val mn = nibbles + 4
          var mlen = 0
          var i = 0
          while (i < mn) { mlen |= r.readBits(4) << (4 * i); i += 1 }
          if (mn > 4 && (mlen >> (4 * (mn - 1))) == 0)
            r.fail("non-minimal MLEN nibble count")
          mlen += 1
          val uncompressed = !isLast && r.readBit() == 1
          if (uncompressed) {
            r.alignByte()
            out.ensure(mlen)
            r.rawBytes(mlen, out.buf, out.len)
            out.len += mlen
          } else {
            decodeCompressedMetaBlock(r, out, mlen, maxBackward, last4)
          }
        }
      }
    }
    r.alignByte()
    // trailing bytes after the last meta-block are not brotli
    if (!(r.bytePos >= r.in.length && r.bitCnt == 0)) {
      // allow fully-drained buffered zero bits only
      if (r.bitCnt > 0 || r.bytePos < r.in.length) r.fail("trailing garbage")
    }
    out.result
  }

  /** STORE-mode forward encoder: wraps `data` in a valid RFC 7932
    * stream of uncompressed meta-blocks plus the empty ISLAST block.
    * No entropy coding, no library dependency, trivially
    * deterministic — the fixture/sink direction (`brotli_bytes`),
    * analogous to [[HttpBodyRuntime.gzip]]; any conformant decoder
    * reads it (validated against libbrotli during development;
    * BrotliSpec round-trips it through [[decompress]]). */
  def compressStored(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(data.length + 16)
    var bitBuf = 0L
    var bitCnt = 0
    def bits(v: Int, n: Int): Unit = {
      bitBuf |= (v.toLong & ((1L << n) - 1)) << bitCnt
      bitCnt += n
      while (bitCnt >= 8) {
        out.write((bitBuf & 0xff).toInt); bitBuf >>>= 8; bitCnt -= 8
      }
    }
    def align(): Unit =
      if (bitCnt > 0) { out.write((bitBuf & 0xff).toInt); bitBuf = 0; bitCnt = 0 }
    bits(0, 1) // WBITS = 16
    var off = 0
    while (off < data.length) {
      val n = math.min(1 << 24, data.length - off)
      bits(0, 1) // ISLAST = 0
      // minimal nibble count for MLEN (MLEN-1 is stored)
      val nib = if (n <= (1 << 16)) 4 else if (n <= (1 << 20)) 5 else 6
      bits(nib - 4, 2)
      var m = n - 1
      var i = 0
      while (i < nib) { bits(m & 15, 4); m >>= 4; i += 1 }
      bits(1, 1) // ISUNCOMPRESSED
      align() // zero padding to the byte boundary
      out.write(data, off, n)
      off += n
    }
    bits(1, 1); bits(1, 1) // ISLAST + ISLASTEMPTY
    align()
    out.toByteArray
  }

  // mutable per-category block state
  private final class Blocks(r: Reader, val n: Int) {
    var typ = 0
    var prevTyp = 1
    var len = 1 << 28 // effectively infinite when n == 1
    var typeCode: Prefix = null
    var lenCode: Prefix = null
    if (n > 1) {
      typeCode = readPrefixCode(r, n + 2)
      lenCode = readPrefixCode(r, 26)
      len = readBlockLen(r)
    }
    def readBlockLen(r: Reader): Int = {
      val s = lenCode.read(r)
      BlockLenBase(s) + r.readBits(BlockLenExtra(s))
    }
    def switchType(r: Reader): Unit = {
      val s = typeCode.read(r)
      val nt =
        if (s == 0) prevTyp
        else if (s == 1) (typ + 1) % n
        else s - 2
      prevTyp = typ
      typ = nt
      len = readBlockLen(r)
    }
    def tick(r: Reader): Unit = {
      if (len == 0) switchType(r)
      len -= 1
    }
  }

  private def decodeCompressedMetaBlock(r: Reader, out: Out, mlenIn: Int,
      maxBackward: Int, last4: Array[Int]): Unit = {
    // push a real backward distance (dictionary references and
    // distance code 0 never enter the ring)
    def push(d: Int): Unit = {
      last4(3) = last4(2); last4(2) = last4(1); last4(1) = last4(0)
      last4(0) = d
    }
    var mlen = mlenIn
    val lit = new Blocks(r, readVarCount(r))
    val cmd = new Blocks(r, readVarCount(r))
    val dst = new Blocks(r, readVarCount(r))
    val npostfix = r.readBits(2)
    val ndirect = r.readBits(4) << npostfix
    val postfixMask = (1 << npostfix) - 1
    val contextModes = new Array[Int](lit.n)
    var i = 0
    while (i < lit.n) { contextModes(i) = r.readBits(2); i += 1 }
    val nTreesL = readVarCount(r)
    val cmapL = readContextMap(r, 64 * lit.n, nTreesL)
    val nTreesD = readVarCount(r)
    val cmapD = readContextMap(r, 4 * dst.n, nTreesD)
    val litCodes = Array.fill(nTreesL)(readPrefixCode(r, 256))
    val cmdCodes = Array.fill(cmd.n)(readPrefixCode(r, 704))
    val distAlphabet = 16 + ndirect + (48 << npostfix)
    val distCodes = Array.fill(nTreesD)(readPrefixCode(r, distAlphabet))

    while (mlen > 0) {
      cmd.tick(r)
      val cmdCode = cmdCodes(cmd.typ).read(r)
      val rangeIdx0 = cmdCode >> 6
      val implicitDist0 = rangeIdx0 < 2
      val rangeIdx = if (implicitDist0) rangeIdx0 else rangeIdx0 - 2
      val insCode = InsRangeLut(rangeIdx) + ((cmdCode >> 3) & 7)
      val copyCode = CopyRangeLut(rangeIdx) + (cmdCode & 7)
      var insLen = InsBase(insCode) + r.readBits(InsExtra(insCode))
      var copyLen = CopyBase(copyCode) + r.readBits(CopyExtra(copyCode))

      // literals
      while (insLen > 0) {
        if (mlen <= 0) r.fail("insert length exceeds meta-block length")
        lit.tick(r)
        val mode = contextModes(lit.typ)
        val p1 = if (out.len > 0) out.buf(out.len - 1) & 0xff else 0
        val p2 = if (out.len > 1) out.buf(out.len - 2) & 0xff else 0
        val ctx = (ContextLut(mode * 512 + p1) & 0xff) |
          (ContextLut(mode * 512 + 256 + p2) & 0xff)
        val tree = litCodes(cmapL(lit.typ * 64 + ctx))
        out.put(tree.read(r).toByte)
        mlen -= 1
        insLen -= 1
      }
      if (mlen <= 0) {
        // the last command may carry an unused copy part
        if (mlen < 0) r.fail("meta-block length underflow")
      } else {
        val maxDistance = math.min(maxBackward, out.len)
        var distance = 0
        var distCode0 = false
        if (implicitDist0) {
          distance = last4(0)
          distCode0 = true
        } else {
          dst.tick(r)
          val cid = math.min(copyLen, 5) - 2
          val tree = distCodes(cmapD(dst.typ * 4 + cid))
          val dcode = tree.read(r)
          if (dcode < 16) {
            // ring-buffer short codes (RFC 7932 Section 4)
            distance = dcode match {
              case 0 => distCode0 = true; last4(0)
              case 1 => last4(1)
              case 2 => last4(2)
              case 3 => last4(3)
              case _ =>
                val base = if (dcode < 10) last4(0) else last4(1)
                val d = dcode - (if (dcode < 10) 4 else 10)
                val delta = (d >> 1) + 1
                if ((d & 1) == 0) base - delta else base + delta
            }
            if (distance <= 0) r.fail("non-positive short-code distance")
          } else if (dcode < 16 + ndirect) {
            distance = dcode - 16 + 1
          } else {
            val d = dcode - ndirect - 16
            val hcode = d >> npostfix
            val lcode = d & postfixMask
            val nbits = 1 + (hcode >> 1)
            val offset = ((2 + (hcode & 1)) << nbits) - 4
            distance = ((offset + r.readBits(nbits)) << npostfix) +
              lcode + ndirect + 1
          }
        }
        if (distance <= maxDistance) {
          if (copyLen > mlen) r.fail("copy length exceeds meta-block length")
          out.copyBack(distance, copyLen)
          mlen -= copyLen
          if (!distCode0) push(distance)
        } else {
          // static dictionary reference (RFC 7932 Section 8)
          if (copyLen < 4 || copyLen > 24) r.fail(s"no dictionary words of length $copyLen")
          val wordId = distance - maxDistance - 1
          val shift = DictSizeBits(copyLen)
          val index = wordId & ((1 << shift) - 1)
          val transformId = wordId >>> shift
          if (transformId >= TransformKind.length) r.fail("invalid transform id")
          val wordOff = DictOffsets(copyLen) + copyLen * index
          val word = java.util.Arrays.copyOfRange(Dictionary, wordOff, wordOff + copyLen)
          val kind = TransformKind(transformId)
          val transformed: Array[Byte] = kind match {
            case 0 => word
            case k if k >= 1 && k <= 9 => // omit last N
              java.util.Arrays.copyOfRange(word, 0, math.max(0, copyLen - k))
            case 10 => ferment(word, 0, word.length, all = false); word
            case 11 => ferment(word, 0, word.length, all = true); word
            case k => // 12-20: omit first N
              java.util.Arrays.copyOfRange(word, math.min(copyLen, k - 11), copyLen)
          }
          val pre = latin1(TransformPrefix(transformId))
          val suf = latin1(TransformSuffix(transformId))
          val total = pre.length + transformed.length + suf.length
          if (total > mlen) r.fail("dictionary word exceeds meta-block length")
          out.putAll(pre, 0, pre.length)
          out.putAll(transformed, 0, transformed.length)
          out.putAll(suf, 0, suf.length)
          mlen -= total
          // dictionary references never enter the distance ring buffer
        }
      }
    }
  }
}
