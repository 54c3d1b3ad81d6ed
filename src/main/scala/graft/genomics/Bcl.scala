package graft.genomics

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Dataset, SparkSession}

import scala.util.matching.Regex

import graft.sources.SerializableHadoopConf

/** One decoded cluster (read pair + barcode), the PRQ record shape
  * (SURVEY §1.1 D2; reference writes these as gzipped text parts —
  * `workflow.py:368,398-405`).
  */
case class PrqRead(id: String, sample: String, seq1: String, qual1: String,
                   seq2: String, qual2: String, barcode: String,
                   passFilter: Boolean, lane: Int, tile: Int)

/** Read structure of a run: leading template cycles, index cycles, trailing
  * template cycles (paired-end with one index read).
  */
case class ReadStructure(r1: Int, index: Int, r2: Int) {
  def totalCycles: Int = r1 + index + r2
}

/** BCL scan + decode (SURVEY §2A R1/R2/R3/R5).
  *
  * The flowcell layout is cycle-major — one binary file per (lane, tile,
  * cycle), each byte packing base (2 bits) + quality (6 bits); byte 0 is a
  * no-call **[paper; public Illumina BCL format]**. Decoding is a
  * columnar→row transpose: all cycles of a tile are brought together and
  * each cluster's bytes across cycles become one read pair.
  *
  * Spark-first design, tile-local: the driver globs the run once through
  * the Hadoop `FileSystem` API, groups the cycle, `.filter` and coordinate
  * paths by (lane, tile) with the path regexes below, and hands one work
  * item per tile to `parallelize`. Each task reads its own tile's files
  * through a broadcast Hadoop conf and runs the transpose. A tile is the
  * unit of parallelism (as in the reference's Flink job): at 100 TB a run
  * has thousands of tiles, each a few hundred MB, which fit comfortably in
  * an executor. Building the dataset runs no Spark job, and decoding it is
  * one stage with no shuffle: the files are read once, where they are
  * decoded. Mate pairing (R5) is intrinsic: a cluster's R1/R2 bytes sit in
  * the same column slice, so no join is ever needed.
  */
object Bcl {

  /** Path grammar: .../L{lane}/C{cycle}.1/s_{lane}_{tile}.bcl[.bgzf] —
    * flat HiSeq tiles and NovaSeq-era blocked-gzip tiles side by side;
    * payload compression is resolved per file by magic ([[Bgzf.isBgzf]]),
    * so a mixed run decodes uniformly. */
  private val pathRe = ".*/L(\\d+)/C(\\d+)\\.1/s_\\d+_(\\d+)\\.bcl(?:\\.bgzf)?$".r
  /** CBCL files carry every tile of a lane surface per cycle:
    * .../L{lane}/C{cycle}.1/L{lane}_{surface}.cbcl */
  private val cbclRe = ".*/L(\\d+)/C(\\d+)\\.1/([^/]+\\.cbcl)$".r
  /** Filter files: .../L{lane}/s_{lane}_{tile}.filter (1 byte per cluster) */
  private val filterRe = ".*/L(\\d+)/s_\\d+_(\\d+)\\.filter$".r
  /** Cluster coordinates: .../L{lane}/s_{lane}_{tile}.locs or .clocs */
  private val locsRe = ".*/L(\\d+)/s_\\d+_(\\d+)\\.(?:locs|clocs)$".r

  private val bases = Array('A', 'C', 'G', 'T')

  /** Decode one BCL byte to (base, phred+33 qual char). */
  @inline def decodeByte(b: Byte): (Char, Char) =
    if (b == 0) ('N', '!')
    else (bases(b & 0x3), ((((b & 0xff) >> 2) & 0x3f) + 33).toChar)

  /** Scan a run folder and decode to PRQ reads (sample not yet assigned),
    * with caller-supplied cycle structure and positional read ids
    * (`lane_tile_index`). */
  def decodeRun(spark: SparkSession, runDir: String, rs: ReadStructure)
      : Dataset[PrqRead] = decodeRunImpl(spark, runDir, rs, None)

  /** Metadata-driven decode (round 12): derive the [[ReadStructure]] from
    * `<runDir>/RunInfo.xml` and read names from the per-tile `.locs` /
    * `.clocs` cluster coordinates — ids become the real Illumina grammar
    * `instrument:run:flowcell:lane:tile:x:y` (`RunMeta.RunInfo.readName`).
    * Loud on a missing/inconsistent manifest, a tile without coordinates,
    * or a coordinate count that disagrees with the tile's cluster count —
    * never a silently mis-named read. The coordinate files are read by the
    * same per-tile task as the chastity filters: no extra pass. */
  def decodeRun(spark: SparkSession, runDir: String): Dataset[PrqRead] = {
    val info = RunMeta.readRunInfo(runDir)
    decodeRunImpl(spark, runDir, info.rs, Some(info))
  }

  /** A file the driver listed: its path and length. */
  private final case class FileRef(path: String, len: Long)

  /** One cycle of a tile: a flat / bgzf file holding only this tile, or a
    * `.cbcl` surface file holding it among others. */
  private final case class CycleFile(cycle: Int, file: FileRef)

  /** Everything one tile's task reads. */
  private final case class TileFiles(lane: Int, tile: Int,
                                     cycles: Seq[CycleFile],
                                     filter: Option[FileRef],
                                     coords: Option[FileRef])

  private def decodeRunImpl(spark: SparkSession, runDir: String,
                            rs: ReadStructure,
                            info: Option[RunMeta.RunInfo])
      : Dataset[PrqRead] = {
    import spark.implicits._
    val hconf = spark.sessionState.newHadoopConf()
    val fs = new Path(runDir).getFileSystem(hconf)
    def glob(pattern: String): Seq[FileRef] =
      Option(fs.globStatus(new Path(s"$runDir/$pattern"))).toSeq.flatten
        .filter(_.isFile).map(st => FileRef(st.getPath.toString, st.getLen))
    def groups(re: Regex, f: FileRef): List[String] =
      re.unapplySeq(f.path).getOrElse(throw new IllegalArgumentException(
        s"${f.path}: file name does not follow the run layout under $runDir"))

    // the one listing: cycle files, then per-tile filters and coordinates
    val cycleFiles = glob("L*/C*.1/*.{bcl,bcl.bgzf,cbcl}")
    require(cycleFiles.nonEmpty, s"$runDir: no BCL cycle files " +
      "(L*/C*.1/*.bcl, *.bcl.bgzf or *.cbcl) — missing or empty run folder")
    val (cbclFiles, flatFiles) = cycleFiles.partition(_.path.endsWith(".cbcl"))
    val flat = flatFiles.map { f =>
      val List(lane, cycle, tile) = groups(pathRe, f)
      (lane.toInt, tile.toInt) -> CycleFile(cycle.toInt, f)
    }
    // CBCL: one file per (lane, cycle, surface) holding every tile of the
    // surface; one header per surface names its tiles, and each of those
    // tiles reads its own block from every cycle's file of the surface
    val cbcl = cbclFiles.map { f =>
      val List(lane, cycle, surface) = groups(cbclRe, f)
      (lane.toInt, surface) -> CycleFile(cycle.toInt, f)
    }.groupMap(_._1)(_._2).toSeq.flatMap { case ((lane, _), files) =>
      val first = files.minBy(_.cycle).file
      val tiles = withFile(first, hconf) { read =>
        Cbcl.readHeader(first.len, read).tiles.map(_.tileNum)
      }
      for (tile <- tiles; f <- files) yield (lane, tile) -> f
    }
    val cycles = (flat ++ cbcl).groupMap(_._1)(_._2)

    def perTile(files: Seq[FileRef], re: Regex) = files.map { f =>
      val List(lane, tile) = groups(re, f)
      (lane.toInt, tile.toInt) -> f
    }.toMap
    val metaFiles = glob("L*/*.{filter,locs,clocs}")
    val (filterFiles, locsFiles) = metaFiles.partition(_.path.endsWith(".filter"))
    val filters = perTile(filterFiles, filterRe)
    val coords =
      if (info.isDefined) perTile(locsFiles, locsRe) else Map.empty[(Int, Int), FileRef]

    val items = (cycles.keySet ++ filters.keySet ++ coords.keySet).toSeq.sorted
      .map { case key @ (lane, tile) =>
        TileFiles(lane, tile, cycles.getOrElse(key, Nil), filters.get(key),
          coords.get(key))
      }
    val conf = spark.sparkContext.broadcast(new SerializableHadoopConf(hconf))
    spark.createDataset(
      spark.sparkContext.parallelize(items, math.max(1, items.size))
        .flatMap(t => decodeTile(t, conf.value.value, rs, info)))
  }

  /** Run `f` with positioned reads on one file: `read(pos, len)` returns
    * exactly `len` bytes at `pos`. */
  private def withFile[A](f: FileRef, conf: Configuration)
                         (body: ((Long, Int) => Array[Byte]) => A): A = {
    val p = new Path(f.path)
    val in = p.getFileSystem(conf).open(p)
    try body { (pos, len) =>
      val buf = new Array[Byte](len)
      in.readFully(pos, buf)
      buf
    } finally in.close()
  }

  private def readAll(f: FileRef, conf: Configuration): Array[Byte] =
    withFile(f, conf)(read => read(0, Math.toIntExact(f.len)))

  /** One tile's task: read its cycles, filter and coordinates, then the
    * columnar→row transpose. */
  private def decodeTile(t: TileFiles, conf: Configuration,
                         rs: ReadStructure, info: Option[RunMeta.RunInfo])
      : Iterator[PrqRead] = {
    val (lane, tile) = (t.lane, t.tile)
    // flat / bgzf: header dropped and bgzf inflated HERE so the transpose
    // sees uniform per-cluster byte columns (pfOnly is always false);
    // CBCL: only this tile's block, compact when excludeNonPF
    val byCycle = t.cycles.map { c =>
      c.cycle -> {
        if (c.file.path.endsWith(".cbcl")) withFile(c.file, conf)(Cbcl.decodeTile(c.file.len, _, tile))
        else {
          val raw = readAll(c.file, conf)
          val bytes = if (Bgzf.isBgzf(raw)) Bgzf.decompress(raw) else raw
          (bytes.drop(4), false) // 4-byte LE cluster count
        }
      }
    }.toMap
    require(byCycle.size == rs.totalCycles,
      s"tile $lane/$tile has ${byCycle.size} cycles, expected ${rs.totalCycles}")
    val passOpt = t.filter.map(readAll(_, conf).drop(4))
    val coords: Option[Array[(Float, Float)]] = info.map { _ =>
      require(t.coords.isDefined,
        s"tile $lane/$tile: no .locs/.clocs file — metadata-driven " +
          "decode cannot synthesize read names without coordinates")
      val raw = readAll(t.coords.get, conf)
      if (t.coords.get.path.endsWith(".locs")) RunMeta.readLocs(raw)
      else RunMeta.readClocs(raw)
    }
    val anyPfOnly = byCycle.valuesIterator.exists(_._2)
    // excludeNonPF CBCL stores only pass-filter clusters; restoring
    // full cluster order REQUIRES the lane filter — no filter file
    // is a loud error there, never a silent mis-indexed tile
    require(!anyPfOnly || passOpt.isDefined,
      s"tile $lane/$tile: CBCL excludeNonPF payload but no .filter " +
        "file — cannot restore cluster positions")
    val nClusters =
      passOpt.map(_.length).getOrElse(byCycle(1)._1.length)
    val pass = passOpt.getOrElse(Array.fill(nClusters)(1.toByte))
    coords.foreach(cs => require(cs.length == nClusters,
      s"tile $lane/$tile: ${cs.length} coordinates for $nClusters " +
        "clusters — run metadata inconsistent with BCL payloads"))
    val nPf = pass.count(_ != 0)
    val cols = (1 to rs.totalCycles).map { c =>
      val (bytes, pfOnly) = byCycle(c)
      if (!pfOnly) bytes
      else {
        // re-insert no-calls at filter-failed positions
        require(bytes.length == nPf,
          s"tile $lane/$tile cycle $c: ${bytes.length} stored " +
            s"clusters, filter has $nPf pass-filter")
        val full = new Array[Byte](nClusters)
        var src = 0
        var i = 0
        while (i < nClusters) {
          if (pass(i) != 0) { full(i) = bytes(src); src += 1 }
          i += 1
        }
        full
      }
    }
    (0 until nClusters).iterator.map { i =>
      val sb1 = new StringBuilder; val qb1 = new StringBuilder
      val sbi = new StringBuilder
      val sb2 = new StringBuilder; val qb2 = new StringBuilder
      var c = 0
      while (c < rs.totalCycles) {
        val (base, qual) = decodeByte(cols(c)(i))
        if (c < rs.r1) { sb1 += base; qb1 += qual }
        else if (c < rs.r1 + rs.index) sbi += base
        else { sb2 += base; qb2 += qual }
        c += 1
      }
      val id = coords match {
        case Some(cs) =>
          info.get.readName(lane, tile, cs(i)._1, cs(i)._2)
        case None => s"${lane}_${tile}_$i"
      }
      PrqRead(id, sample = null,
        sb1.result(), qb1.result(), sb2.result(), qb2.result(),
        sbi.result(), pass(i) != 0, lane, tile)
    }
  }

  /** R3: drop clusters failing the chastity filter. */
  def applyFilter(reads: Dataset[PrqRead]): Dataset[PrqRead] =
    reads.filter(_.passFilter)
}
