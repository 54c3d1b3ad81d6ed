package graft.genomics

/** CBCL (`.cbcl`) decode — the NovaSeq per-lane blocked container, the
  * format rung above `.bcl.bgzf` (public Illumina NovaSeq docs / picard's
  * `CbclReader` layout; the reference pipeline predates it and reads flat
  * HiSeq BCL only).
  *
  * One CBCL file holds EVERY tile of a lane surface for ONE cycle:
  *
  * {{{
  * version u16 | headerSize u32 | bitsPerBasecall u8 | bitsPerQscore u8
  * | numberOfBins u32 | bins × (from u32, to u32)   // qual-bin → Q map
  * | numTiles u32
  * | tiles × (tileNum u32, numClusters u32, uncompressedSize u32,
  *            compressedSize u32)
  * | excludeNonPF u8
  * | per-tile gzip streams, concatenated in tile order, from headerSize
  * }}}
  *
  * Tile payloads pack base (2 bits) + quality BIN (2 bits) per cluster,
  * two clusters per byte, low nibble first. Decode expands each cluster
  * back to the flat-BCL byte convention (`base | Q << 2`, 0 = no-call)
  * using the bin map — bin 0 is the no-call bin by the NovaSeq
  * convention — so downstream (`Bcl.decodeRun`'s tile transpose) sees
  * exactly what a flat tile would carry. Quality is bin-REPRESENTATIVE
  * (CBCL is lossy by design: 4 bins); a run whose quals already sit on
  * the bin values round-trips byte-identical (the GenomicsSpec golden).
  *
  * `excludeNonPF=1` files store only pass-filter clusters; the expansion
  * back to full cluster order needs the tile's `.filter` array, which the
  * tile's task in `Bcl.decodeRun` reads next to its cycles — decode
  * returns compact arrays tagged `pfOnly=true` and the transpose
  * re-inserts no-calls at filter-failed positions there.
  *
  * Scale shape: `Bcl.decodeRun` runs one task per tile. For each cycle
  * that task calls [[decodeTile]], which reads the file's header and then
  * only its own tile's gzip block at the offset the header gives — a
  * surface file is never inflated whole once per tile. The driver reads
  * one header per lane surface ([[readHeader]]) to learn its tiles.
  */
object Cbcl {

  case class TileRecord(tileNum: Int, nClusters: Int,
                        uncompressedSize: Int, compressedSize: Int)

  case class Header(version: Int, headerSize: Int, bitsPerBasecall: Int,
                    bitsPerQscore: Int, bins: IndexedSeq[(Int, Int)],
                    tiles: IndexedSeq[TileRecord], excludeNonPF: Boolean)

  private def le16(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
  private def le32(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8) |
      ((b(o + 2) & 0xff) << 16) | ((b(o + 3) & 0xff) << 24)

  /** Full header parse; a truncated bin table or tile-record list fails
    * loudly. */
  def parseHeader(b: Array[Byte]): Header = {
    require(b.length >= 12, s"cbcl: ${b.length} bytes is too short for a header")
    val version = le16(b, 0)
    val headerSize = le32(b, 2)
    val bitsBase = b(6) & 0xff
    val bitsQ = b(7) & 0xff
    val nBins = le32(b, 8)
    require(nBins >= 1 && nBins <= 256, s"cbcl: implausible bin count $nBins")
    var off = 12
    require(b.length >= off + nBins * 8 + 4, "cbcl: header truncated in bins")
    val bins = (0 until nBins).map { i =>
      (le32(b, off + i * 8), le32(b, off + i * 8 + 4))
    }
    off += nBins * 8
    val nTiles = le32(b, off); off += 4
    require(nTiles >= 0 && b.length >= off + nTiles * 16 + 1,
      s"cbcl: header truncated in tile records ($nTiles tiles)")
    val tiles = (0 until nTiles).map { i =>
      TileRecord(le32(b, off + i * 16), le32(b, off + i * 16 + 4),
        le32(b, off + i * 16 + 8), le32(b, off + i * 16 + 12))
    }
    off += nTiles * 16
    val excl = b(off) != 0
    Header(version, headerSize, bitsBase, bitsQ, bins, tiles, excl)
  }

  /** Decode every tile of one CBCL file to flat-BCL-convention byte
    * arrays: `(tileNum, bytes, pfOnly)`. Only the (ubiquitous) 2-bit
    * base + 2-bit quality packing is supported; anything else throws
    * loudly with the observed widths. */
  def decode(b: Array[Byte]): Seq[(Int, Array[Byte], Boolean)] = {
    val h = parseHeader(b)
    var off = h.headerSize
    h.tiles.map { t =>
      requireInFile(t, off, b.length)
      val outBytes = expand(h, t, b, off)
      off += t.compressedSize
      (t.tileNum, outBytes, h.excludeNonPF)
    }
  }

  /** Parse the header of a CBCL file through positioned reads —
    * `readAt(pos, len)` returns exactly `len` bytes at `pos` of a
    * `fileLen`-byte file. Reads the header only, no tile block. */
  def readHeader(fileLen: Long, readAt: (Long, Int) => Array[Byte]): Header = {
    require(fileLen >= 12, s"cbcl: $fileLen bytes is too short for a header")
    val headerSize = le32(readAt(2, 4), 0)
    require(headerSize >= 12 && headerSize <= fileLen,
      s"cbcl: header size $headerSize outside the $fileLen-byte file")
    parseHeader(readAt(0, headerSize))
  }

  /** Decode ONE tile of a CBCL file, read as in [[readHeader]]: the
    * header, then only this tile's gzip block. Returns `(bytes, pfOnly)`,
    * equal to the tile's entry in [[decode]]. Loud, naming the tile, when
    * the header does not list it or its block runs past the file end. */
  def decodeTile(fileLen: Long, readAt: (Long, Int) => Array[Byte],
                 tileNum: Int): (Array[Byte], Boolean) = {
    val h = readHeader(fileLen, readAt)
    val i = h.tiles.indexWhere(_.tileNum == tileNum)
    require(i >= 0, s"cbcl: tile $tileNum is not in the header " +
      s"(tiles ${h.tiles.map(_.tileNum).mkString(",")})")
    val t = h.tiles(i)
    val off = h.headerSize + h.tiles.take(i).map(_.compressedSize.toLong).sum
    requireInFile(t, off, fileLen)
    (expand(h, t, readAt(off, t.compressedSize), 0), h.excludeNonPF)
  }

  private def requireInFile(t: TileRecord, off: Long, fileLen: Long): Unit =
    require(t.compressedSize >= 0 && off + t.compressedSize <= fileLen,
      s"cbcl: tile ${t.tileNum} claims ${t.compressedSize} compressed " +
        s"bytes at $off, file has $fileLen")

  /** Inflate tile `t`'s gzip block at `b(off)` and expand its nibbles to
    * flat-BCL bytes. */
  private def expand(h: Header, t: TileRecord, b: Array[Byte],
                     off: Int): Array[Byte] = {
    require(h.bitsPerBasecall == 2 && h.bitsPerQscore == 2,
      s"cbcl: unsupported packing ${h.bitsPerBasecall}-bit base / " +
        s"${h.bitsPerQscore}-bit qual (NovaSeq writes 2/2)")
    // bin index -> flat-BCL qual value (the mapped Q, capped at 6 bits);
    // bin 0 is the no-call bin
    val qOf = h.bins.map(_._2 min 63).toArray
    val packed = gunzip(b, off, t.compressedSize, t.uncompressedSize,
      t.tileNum)
    val nStored = math.min(t.nClusters.toLong, packed.length * 2L).toInt
    require(packed.length >= (nStored + 1) / 2,
      s"cbcl: tile ${t.tileNum} payload too short")
    val outBytes = new Array[Byte](nStored)
    var i = 0
    while (i < nStored) {
      val nib = if ((i & 1) == 0) packed(i >> 1) & 0x0f
                else (packed(i >> 1) >> 4) & 0x0f
      val base = nib & 0x3
      val bin = (nib >> 2) & 0x3
      outBytes(i) =
        if (bin == 0) 0 // no-call bin → flat-BCL no-call byte
        else ((base | (qOf(bin) << 2)) & 0xff).toByte
      i += 1
    }
    outBytes
  }

  private def gunzip(b: Array[Byte], off: Int, clen: Int, ulen: Int,
                     tile: Int): Array[Byte] = {
    val in = new java.util.zip.GZIPInputStream(
      new java.io.ByteArrayInputStream(b, off, clen))
    try {
      val out = new Array[Byte](ulen)
      var got = 0
      var n = 0
      while (got < ulen && n >= 0) {
        n = in.read(out, got, ulen - got)
        if (n > 0) got += n
      }
      require(got == ulen,
        s"cbcl: tile $tile inflated to $got bytes, header claims $ulen")
      out
    } finally in.close()
  }

  /** Write half — primarily the spec fixture, but emits the real layout
    * (a decoder-independent reader like picard would parse it). Takes
    * per-tile flat-BCL-convention bytes; quals are snapped to their bin
    * via `binOf` (greatest bin whose `to` ≤ qual, never bin 0 for a
    * call), no-call bytes to bin 0. `excludeNonPF` drops clusters whose
    * filter flag is 0. */
  def write(tiles: Seq[(Int, Array[Byte], Array[Byte])],
            bins: IndexedSeq[(Int, Int)],
            excludeNonPF: Boolean): Array[Byte] = {
    require(bins.nonEmpty && bins.size <= 4, s"2-bit quals need <=4 bins")
    def binOf(q: Int): Int = {
      var best = 1
      var i = 1
      while (i < bins.size) {
        if (bins(i)._2 <= q) best = i
        i += 1
      }
      best
    }
    val payloads = tiles.map { case (tileNum, bcl, filter) =>
      val kept = (0 until bcl.length).filter(i => !excludeNonPF || filter(i) != 0)
      val packed = new Array[Byte]((kept.size + 1) / 2)
      kept.zipWithIndex.foreach { case (ci, outIdx) =>
        val byteVal = bcl(ci) & 0xff
        val nib =
          if (byteVal == 0) 0 // no-call → bin 0
          else (byteVal & 0x3) | (binOf(byteVal >> 2) << 2)
        if ((outIdx & 1) == 0) packed(outIdx >> 1) = nib.toByte
        else packed(outIdx >> 1) = (packed(outIdx >> 1) | (nib << 4)).toByte
      }
      val bos = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(bos)
      gz.write(packed); gz.close()
      (tileNum, kept.size, packed.length, bos.toByteArray)
    }
    val headerSize = 12 + bins.size * 8 + 4 + tiles.size * 16 + 1
    val out = new java.io.ByteArrayOutputStream()
    def w16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    def w32(v: Int): Unit = (0 until 4).foreach(i => out.write((v >> (8 * i)) & 0xff))
    w16(1); w32(headerSize); out.write(2); out.write(2)
    w32(bins.size); bins.foreach { case (f, t) => w32(f); w32(t) }
    w32(payloads.size)
    payloads.foreach { case (tn, n, ulen, gz) =>
      w32(tn); w32(n); w32(ulen); w32(gz.length)
    }
    out.write(if (excludeNonPF) 1 else 0)
    payloads.foreach { case (_, _, _, gz) => out.write(gz) }
    out.toByteArray
  }
}
