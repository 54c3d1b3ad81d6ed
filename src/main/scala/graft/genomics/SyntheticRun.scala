package graft.genomics

import java.nio.file.{Files, Path}

/** Deterministic synthetic BCL run + mock-aligner fixture — the catalog's
  * way of putting the reference's ACTUAL pipeline (R1→R10: BCL decode →
  * chastity filter → demux → pair → partitioned gzip PRQ → per-sample
  * align → SAM parse) under the driver's eye as `q_genomics_e2e`, not only
  * under GenomicsSpec. Content is a pure function of the cluster index, so
  * every invocation writes byte-identical tiles and the query's output is
  * rows-only-reproducible run to run.
  *
  * Layout mirrors the reference's flowcell shape (`bclreader` input,
  * SURVEY §1.4 D1): `L001/C<cycle>.1/s_1_<tile>.bcl` cycle-major tiles +
  * per-tile `.filter` chastity masks, little-endian u32 cluster-count
  * headers.
  */
object SyntheticRun {

  val rs: ReadStructure = ReadStructure(r1 = 4, index = 3, r2 = 4)
  val sheet: Seq[(String, String)] = Seq("sample1" -> "AAA", "sample2" -> "CCC")

  /** Barcode schedule by cluster index: exact/1-mismatch hits for both
    * samples, an unmatchable code, and every 7th cluster failing
    * chastity — all demux branches exercised. */
  private val barcodes = Vector("AAA", "AAC", "CCC", "CCA", "GGG")

  private def rotate(s: String, k: Int): String = {
    val i = ((k % s.length) + s.length) % s.length
    s.substring(i) + s.substring(0, i)
  }

  /** Cluster i: (r1, barcode, r2, passesChastity). */
  def cluster(i: Int): (String, String, String, Boolean) =
    (rotate("ACGT", i), barcodes(i % barcodes.size), rotate("TGCA", i), i % 7 != 6)

  /** Run manifest the metadata-driven decode derives structure/names
    * from; the <Reads> cycle layout spells [[rs]]. */
  val instrument = "M00001"
  val runNumber = 7
  val flowcell = "GRAFTFC01"
  def runInfoXml: String = runInfoXml(lanes = 1)
  def runInfoXml(lanes: Int): String =
    s"""<?xml version="1.0"?>
       |<RunInfo Version="5">
       |  <Run Id="220101_${instrument}_000${runNumber}_$flowcell" Number="$runNumber">
       |    <Flowcell>$flowcell</Flowcell>
       |    <Instrument>$instrument</Instrument>
       |    <Date>220101</Date>
       |    <Reads>
       |      <Read Number="1" NumCycles="${rs.r1}" IsIndexedRead="N"/>
       |      <Read Number="2" NumCycles="${rs.index}" IsIndexedRead="Y"/>
       |      <Read Number="3" NumCycles="${rs.r2}" IsIndexedRead="N"/>
       |    </Reads>
       |    <FlowcellLayout LaneCount="$lanes" SurfaceCount="1" SwathCount="1" TileCount="2"/>
       |  </Run>
       |</RunInfo>
       |""".stripMargin

  /** Deterministic cluster coordinates by LOCAL (within-tile) index.
    * All values are exact multiples of 0.5 (float-exact, inside the
    * 0.1-precision the lossy .clocs encoding carries, so both codecs
    * round-trip bit-exact), y rows advance by the 25-unit clocs bin
    * height per 40 clusters, and bin indices are provably non-decreasing
    * in j — the clocs writer's row-major contract. */
  def coord(j: Int): (Float, Float) =
    ((j % 40) * 2.5f + (j % 7) * 0.5f,
     (j / 40) * 25.0f + (j % 4) * 0.5f)

  /** Write per-tile coordinate files: tile 1101 as flat `.locs`, tile
    * 1102 as binned `.clocs` — both decode arms exercised in one run. */
  private def writeLocsFiles(laneDir: Path, lane: Int, tile: Int,
                             n: Int): Unit = {
    val cs = (0 until n).map(coord)
    if (tile % 2 == 1)
      Files.write(laneDir.resolve(f"s_${lane}_$tile.locs"),
        RunMeta.writeLocs(cs))
    else
      Files.write(laneDir.resolve(f"s_${lane}_$tile.clocs"),
        RunMeta.writeClocs(cs))
  }

  /** Encode (base, qual) to a BCL byte; 'N' → 0 (same packing the decoder
    * inverts: low 2 bits base, high 6 quality). */
  private def enc(base: Char, q: Int): Byte =
    if (base == 'N') 0
    else (("ACGT".indexOf(base)) | (q << 2)).toByte

  private def writeTile(dir: Path, lane: Int, tile: Int,
                        clusters: Seq[(String, String, String, Boolean)],
                        bgzf: Boolean): Unit = {
    val n = clusters.size
    val header = java.nio.ByteBuffer.allocate(4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(n).array()
    val laneDir = dir.resolve(f"L$lane%03d")
    for (c <- 1 to rs.totalCycles) {
      val cdir = laneDir.resolve(s"C$c.1")
      Files.createDirectories(cdir)
      val bytes = clusters.map { case (r1, bc, r2, _) =>
        val all = r1 + bc + r2
        enc(all(c - 1), 30 + (c % 10))
      }.toArray
      if (bgzf)
        // 16-byte blocks force multiple BGZF blocks even on spec-sized
        // tiles (the multi-block walk is really exercised)
        Files.write(cdir.resolve(f"s_${lane}_$tile.bcl.bgzf"),
          Bgzf.compress(header ++ bytes, blockSize = 16))
      else
        Files.write(cdir.resolve(f"s_${lane}_$tile.bcl"), header ++ bytes)
    }
    val fbytes = clusters.map(c => if (c._4) 1.toByte else 0.toByte).toArray
    Files.write(laneDir.resolve(f"s_${lane}_$tile.filter"), header ++ fbytes)
    writeLocsFiles(laneDir, lane, tile, clusters.size)
  }

  /** Write a run of `lanes` lanes with 2 tiles of `perTile` clusters
    * each (every lane carries the same clusters); returns the run dir.
    * `bgzf = true` writes the SAME tile payloads as NovaSeq-style
    * `.bcl.bgzf` blocked-gzip files (GenomicsSpec pins the decode
    * byte-identical to the flat run's). */
  def writeRun(dir: Path, perTile: Int = 24, bgzf: Boolean = false,
               lanes: Int = 1): Path = {
    Files.createDirectories(dir)
    Files.writeString(dir.resolve("RunInfo.xml"), runInfoXml(lanes))
    for (lane <- 1 to lanes) {
      writeTile(dir, lane, 1101, (0 until perTile).map(cluster), bgzf)
      writeTile(dir, lane, 1102, (perTile until 2 * perTile).map(cluster), bgzf)
    }
    dir
  }

  /** Mock aligner (the reference's external `bwa`/`seqal` stand-in, R10):
    * PRQ TSV in, minimal valid SAM out — header line then a 99/147 mate
    * pair per read. Positions derive from the read id's trailing numeric
    * field (cluster index for positional `lane_tile_i` names, the y
    * coordinate for Illumina `…:tile:x:y` names), so output is
    * independent of partition order and process batching. */
  def writeMockAligner(path: Path): Path = {
    val script =
      """#!/bin/sh
        |printf '@HD\tVN:1.6\tSO:unsorted\n'
        |while IFS='	' read -r id s1 q1 s2 q2; do
        |  c=${id##*:}; c=${c##*_}
        |  p=$(( (c + 1) * 10 ))
        |  printf '%s\t99\tchr1\t%d\t60\t4M\t=\t%d\t8\t%s\t%s\tNM:i:0\n' "$id" "$p" "$((p + 4))" "$s1" "$q1"
        |  printf '%s\t147\tchr1\t%d\t60\t4M\t=\t%d\t-8\t%s\t%s\tNM:i:0\n' "$id" "$((p + 4))" "$p" "$s2" "$q2"
        |done
        |""".stripMargin
    Files.writeString(path, script)
    path.toFile.setExecutable(true)
    path
  }
}
