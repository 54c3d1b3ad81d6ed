package graft.genomics

/** BGZF (blocked gzip) codec for BCL payloads — the NovaSeq-era rung above
  * the reference's flat HiSeq `.bcl` files (reference decodes flat BCL
  * only; public Illumina/htslib BGZF spec: every block is a complete gzip
  * member whose FEXTRA carries the `BC` subfield with the compressed
  * block size, and the file ends with a fixed 28-byte empty EOF block).
  *
  * Decode walks the blocks explicitly rather than feeding a multi-member
  * GZIPInputStream: the walk VALIDATES the structure a `.bcl.bgzf` file
  * promises (BC subfield present, per-block CRC32 and ISIZE correct),
  * so a truncated or miscopied tile fails loudly at the exact block
  * instead of decoding a silently-short payload — the same
  * fail-don't-truncate contract as the TopK spill reader. Each block is
  * ≤64 KiB uncompressed, so decode memory is block-bounded regardless of
  * tile size; blocks inflate sequentially inside the tile's own task,
  * the one that reads and transposes the tile (`Bcl.decodeRun`).
  *
  * CBCL (`.cbcl`, NovaSeq per-lane concatenated container: blocked tiles
  * + 2-bit quality BINNING + per-tile filter-excluded packing) is parsed
  * and decoded in [[Cbcl]].
  */
object Bgzf {

  /** gzip magic + FLG.FEXTRA — every BGZF block starts this way. */
  def isBgzf(b: Array[Byte]): Boolean =
    b.length >= 18 && (b(0) & 0xff) == 0x1f && (b(1) & 0xff) == 0x8b &&
      (b(2) & 0xff) == 8 && (b(3) & 0x04) != 0 && {
        // scan the extra field for the BC subfield
        val xlen = le16(b, 10)
        var off = 12
        val end = math.min(12 + xlen, b.length - 4)
        var found = false
        while (off + 4 <= end && !found) {
          val len = le16(b, off + 2)
          if (b(off) == 'B' && b(off + 1) == 'C' && len == 2) found = true
          off += 4 + len
        }
        found
      }

  private def le16(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)

  private def le32(b: Array[Byte], o: Int): Long =
    (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) |
      ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)

  /** Decompress a whole BGZF byte stream, validating every block's BC
    * size field, CRC32, and ISIZE. Tolerates (and stops at) the standard
    * 28-byte EOF marker block. Throws on any structural violation. */
  def decompress(b: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(math.max(64, b.length * 3))
    var off = 0
    var blockNo = 0
    while (off < b.length) {
      require(off + 18 <= b.length,
        s"bgzf: truncated block header at offset $off (block $blockNo)")
      require((b(off) & 0xff) == 0x1f && (b(off + 1) & 0xff) == 0x8b,
        s"bgzf: bad gzip magic at offset $off (block $blockNo)")
      require((b(off + 3) & 0x04) != 0,
        s"bgzf: block $blockNo missing FEXTRA — not a BGZF member")
      val xlen = le16(b, off + 10)
      // find BC subfield → BSIZE (total block size - 1)
      var xo = off + 12
      val xend = off + 12 + xlen
      var bsize = -1
      while (xo + 4 <= xend) {
        val slen = le16(b, xo + 2)
        if (b(xo) == 'B' && b(xo + 1) == 'C' && slen == 2)
          bsize = le16(b, xo + 4) + 1
        xo += 4 + slen
      }
      require(bsize > 0, s"bgzf: block $blockNo has no BC subfield")
      require(off + bsize <= b.length,
        s"bgzf: block $blockNo claims $bsize bytes, only ${b.length - off} left")
      val cdataOff = off + 12 + xlen
      val cdataLen = bsize - 12 - xlen - 8
      require(cdataLen >= 0, s"bgzf: block $blockNo has negative payload")
      val isize = le32(b, off + bsize - 4)
      val crcExpected = le32(b, off + bsize - 8)
      val inf = new java.util.zip.Inflater(true)
      inf.setInput(b, cdataOff, cdataLen)
      val buf = new Array[Byte](isize.toInt max 64)
      val crc = new java.util.zip.CRC32()
      var total = 0L
      while (!inf.finished()) {
        val n = inf.inflate(buf)
        if (n > 0) {
          crc.update(buf, 0, n)
          out.write(buf, 0, n)
          total += n
        } else if (!inf.finished() && inf.needsInput())
          // n == 0 without the stream ending (the EOF marker's EMPTY
          // deflate stream legitimately inflates to 0 bytes and finishes)
          throw new java.io.IOException(
            s"bgzf: block $blockNo deflate stream ended prematurely")
      }
      inf.end()
      require(total == isize,
        s"bgzf: block $blockNo ISIZE $isize != inflated $total")
      require(crc.getValue == crcExpected,
        s"bgzf: block $blockNo CRC mismatch — corrupt payload")
      off += bsize
      blockNo += 1
    }
    out.toByteArray
  }

  /** Compress into BGZF blocks of at most `blockSize` uncompressed bytes,
    * ending with the standard 28-byte EOF marker — the write half (sink
    * symmetry + spec fixtures). Output decodes with htslib/bgzip too. */
  def compress(data: Array[Byte], blockSize: Int = 0xff00): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(data.length / 2 + 64)
    var off = 0
    while (off < data.length || (off == 0 && data.length == 0)) {
      val len = math.min(blockSize, data.length - off)
      writeBlock(out, data, off, len)
      off += len
      if (data.length == 0) off = 1 // emitted the single empty block
    }
    out.write(EofBlock)
    out.toByteArray
  }

  private def writeBlock(out: java.io.ByteArrayOutputStream,
                         data: Array[Byte], off: Int, len: Int): Unit = {
    val def_ = new java.util.zip.Deflater(
      java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
    def_.setInput(data, off, len)
    def_.finish()
    val cbuf = new Array[Byte](len + 64)
    var clen = 0
    while (!def_.finished())
      clen += def_.deflate(cbuf, clen, cbuf.length - clen)
    def_.end()
    val crc = new java.util.zip.CRC32()
    crc.update(data, off, len)
    val bsize = 12 + 6 + clen + 8 // header + XLEN(6: BC subfield) + cdata + trailer
    def w16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    def w32(v: Long): Unit = (0 until 4).foreach(i => out.write(((v >> (8 * i)) & 0xff).toInt))
    out.write(0x1f); out.write(0x8b); out.write(8); out.write(4) // magic, CM, FEXTRA
    w32(0L); out.write(0); out.write(0xff)                       // MTIME, XFL, OS
    w16(6)                                                       // XLEN
    out.write('B'); out.write('C'); w16(2); w16(bsize - 1)       // BC subfield
    out.write(cbuf, 0, clen)
    w32(crc.getValue)
    w32(len.toLong)
  }

  /** The fixed 28-byte BGZF EOF marker block (htslib appendix). */
  val EofBlock: Array[Byte] = Array(
    0x1f, 0x8b, 0x08, 0x04, 0x00, 0x00, 0x00, 0x00, 0x00, 0xff,
    0x06, 0x00, 0x42, 0x43, 0x02, 0x00, 0x1b, 0x00, 0x03, 0x00,
    0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00).map(_.toByte)
}
