package graft.genomics

import java.nio.file.{Files, Path, Paths}

import graft.SparkSpec

/** End-to-end genomics golden tests (SURVEY §5.2 #6): synthetic BCL fixture
  * → decode → chastity filter → demux (1-mismatch + Undetermined) → PRQ
  * partitioned gzip sink (no empty parts) → sample discovery → external
  * process map with a mock aligner, incl. fail-fast on nonzero exit.
  */
class GenomicsSpec extends SparkSpec {

  private val rs = ReadStructure(r1 = 4, index = 3, r2 = 4)

  /** Encode (base, qual) to a BCL byte; 'N' → 0. */
  private def enc(base: Char, q: Int): Byte =
    if (base == 'N') 0
    else (("ACGT".indexOf(base)) | (q << 2)).toByte

  /** Clusters for tile 1101: (r1, barcode, r2, pass). */
  private val t1101 = Seq(
    ("ACGT", "AAA", "TTTT", true),  // exact match sample1
    ("CCCC", "AAC", "GGGG", true),  // 1-mismatch of AAA → sample1
    ("GGGG", "CCC", "AAAA", true),  // exact match sample2
    ("TTTT", "GGG", "CCCC", true),  // no match → Undetermined
    ("AAAA", "AAA", "TTTT", false)  // fails chastity filter
  )
  private val t1102 = Seq(
    ("ACAC", "CCC", "TGTG", true),  // sample2
    ("GTGT", "CCA", "CACA", true)   // 1-mismatch of CCC → sample2
  )
  private val sheet = Seq("sample1" -> "AAA", "sample2" -> "CCC")

  private def writeTile(dir: Path, lane: Int, tile: Int,
                        clusters: Seq[(String, String, String, Boolean)]): Unit = {
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
      Files.write(cdir.resolve(f"s_${lane}_$tile.bcl"), header ++ bytes)
    }
    val fbytes = clusters.map(c => if (c._4) 1.toByte else 0.toByte).toArray
    Files.write(laneDir.resolve(f"s_${lane}_$tile.filter"), header ++ fbytes)
  }

  private lazy val runDir: String = {
    val dir = Files.createTempDirectory("graft_bcl")
    writeTile(dir, 1, 1101, t1101)
    writeTile(dir, 1, 1102, t1102)
    dir.toString
  }

  test("BCL decode transposes cycle-major bytes into read pairs") {
    val reads = Bcl.decodeRun(spark, runDir, rs).collect()
    assert(reads.length == 7)
    val r0 = reads.find(_.id == "1_1101_0").get
    assert(r0.seq1 == "ACGT" && r0.barcode == "AAA" && r0.seq2 == "TTTT")
    assert(r0.qual1.forall(q => q - 33 >= 30))
    assert(r0.passFilter)
    val r4 = reads.find(_.id == "1_1101_4").get
    assert(!r4.passFilter)
  }

  test("bgzf BCL tiles decode byte-identical to flat tiles") {
    // the SAME synthetic run written twice: flat HiSeq .bcl and NovaSeq
    // blocked .bcl.bgzf (16-byte blocks → multi-block walk exercised).
    // Every decoded field must be identical — bgzf is transparent.
    val flat = SyntheticRun.writeRun(
      Files.createTempDirectory("graft_bcl_flat"), perTile = 24)
    val bgzf = SyntheticRun.writeRun(
      Files.createTempDirectory("graft_bcl_bgzf"), perTile = 24, bgzf = true)
    val a = Bcl.decodeRun(spark, flat.toString, SyntheticRun.rs)
      .collect().sortBy(_.id).map(_.toString)
    val b = Bcl.decodeRun(spark, bgzf.toString, SyntheticRun.rs)
      .collect().sortBy(_.id).map(_.toString)
    assert(a.length === 48)
    assert(a.toSeq === b.toSeq)
  }

  test("bgzf codec: round-trip, EOF marker, loud corruption failures") {
    val rnd = new scala.util.Random(7)
    val data = Array.fill(100000)(rnd.nextInt(256).toByte)
    val packed = Bgzf.compress(data, blockSize = 4096)
    assert(Bgzf.isBgzf(packed))
    assert(Bgzf.decompress(packed).toSeq === data.toSeq)
    // ends with the standard EOF marker (htslib interop contract)
    assert(packed.takeRight(28).toSeq === Bgzf.EofBlock.toSeq)
    // plain gzip (no BC subfield) is NOT bgzf
    val plain = {
      val bos = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(bos)
      gz.write(data, 0, 100); gz.close(); bos.toByteArray
    }
    assert(!Bgzf.isBgzf(plain))
    // a flipped payload byte must fail the CRC check loudly, not decode
    val corrupt = packed.clone()
    corrupt(30) = (corrupt(30) ^ 0x41).toByte
    val e = intercept[Exception](Bgzf.decompress(corrupt))
    assert(e.getMessage.contains("bgzf"), e.getMessage)
    // truncation mid-block fails loudly
    intercept[Exception](Bgzf.decompress(packed.dropRight(40)))
    // empty payload round-trips
    assert(Bgzf.decompress(Bgzf.compress(Array.empty[Byte])).isEmpty)
  }

  // NovaSeq Q-bin table: bin 0 = no-call, bins 1..3 map to Q12/Q26/Q34
  private val cbclBins = IndexedSeq((0, 0), (1, 12), (2, 26), (3, 34))

  /** Flat-BCL-convention tile bytes whose quals sit ON the bin values —
    * CBCL is lossy by design, so exact round-trips use bin-resident
    * fixtures. Index 0 and every 7th cluster is a no-call. */
  private def binnedTile(seed: Int, n: Int): Array[Byte] =
    Array.tabulate(n) { i =>
      if (i % 7 == 0) 0.toByte
      else {
        val base = (i + seed) % 4
        val q = Seq(12, 26, 34)((i * 31 + seed) % 3)
        (base | (q << 2)).toByte
      }
    }

  test("CBCL codec: header, exact round-trip, lossy binning snap") {
    val t1 = binnedTile(1, 40); val t2 = binnedTile(2, 33)
    val f1 = Array.fill(40)(1.toByte); val f2 = Array.fill(33)(1.toByte)
    val file = Cbcl.write(Seq((1101, t1, f1), (1102, t2, f2)), cbclBins,
      excludeNonPF = false)
    val h = Cbcl.parseHeader(file)
    assert(h.version === 1 && h.bitsPerBasecall === 2 && h.bitsPerQscore === 2)
    assert(h.bins === cbclBins && !h.excludeNonPF)
    assert(h.tiles.map(t => (t.tileNum, t.nClusters)) ===
      IndexedSeq((1101, 40), (1102, 33)))
    val out = Cbcl.decode(file)
    assert(out.map(_._1) === Seq(1101, 1102))
    assert(out.forall(!_._3))
    assert(out(0)._2.toSeq === t1.toSeq, "bin-resident quals round-trip exactly")
    assert(out(1)._2.toSeq === t2.toSeq)
    // off-bin quals SNAP DOWN to their bin representative (Q30 → Q26)
    val lossy = Array(((2 | (30 << 2)) & 0xff).toByte)
    val snapped = Cbcl.decode(Cbcl.write(
      Seq((1, lossy, Array(1.toByte))), cbclBins, excludeNonPF = false))
    assert((snapped.head._2(0) >> 2) === 26 && (snapped.head._2(0) & 3) === 2)
  }

  test("CBCL excludeNonPF: PF-only payload expands against the filter") {
    val n = 24
    val tile = binnedTile(3, n)
    val filter = Array.tabulate(n)(i => if (i % 5 == 4) 0.toByte else 1.toByte)
    val file = Cbcl.write(Seq((1101, tile, filter)), cbclBins,
      excludeNonPF = true)
    val Seq((1101, compact, pfOnly)) = Cbcl.decode(file): @unchecked
    assert(pfOnly)
    assert(compact.length === filter.count(_ != 0))
    // expansion contract (what decodeRun's transpose does): no-call at
    // filter-failed positions, stored bytes at PF positions in order
    val expanded = new Array[Byte](n)
    var src = 0
    (0 until n).foreach { i =>
      if (filter(i) != 0) { expanded(i) = compact(src); src += 1 }
    }
    val masked = tile.zipWithIndex.map { case (b, i) =>
      if (filter(i) != 0) b else 0.toByte }
    assert(expanded.toSeq === masked.toSeq)
  }

  test("CBCL run decodes through decodeRun identical to its flat twin") {
    // same reads, two containers: (a) flat .bcl tiles with non-PF
    // clusters zeroed (what CBCL cannot carry), (b) one .cbcl per cycle
    // holding both tiles with excludeNonPF=1 + the lane filter
    val rs2 = SyntheticRun.rs
    val nPerTile = 20
    def tileData(tileSeed: Int): (IndexedSeq[Array[Byte]], Array[Byte]) = {
      val filter = Array.tabulate(nPerTile)(i =>
        if ((i + tileSeed) % 6 == 5) 0.toByte else 1.toByte)
      val cols = (1 to rs2.totalCycles).map { c =>
        binnedTile(tileSeed * 100 + c, nPerTile).zipWithIndex.map {
          case (b, i) => if (filter(i) != 0) b else 0.toByte }
      }
      (cols, filter)
    }
    val (cols1, filt1) = tileData(1)
    val (cols2, filt2) = tileData(2)
    def header(n: Int): Array[Byte] = java.nio.ByteBuffer.allocate(4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(n).array()
    // (a) flat twin
    val flatDir = Files.createTempDirectory("graft_cbcl_flat")
    val lane = flatDir.resolve("L001")
    for (c <- 1 to rs2.totalCycles) {
      val cdir = lane.resolve(s"C$c.1"); Files.createDirectories(cdir)
      Files.write(cdir.resolve(s"s_1_1101.bcl"), header(nPerTile) ++ cols1(c - 1))
      Files.write(cdir.resolve(s"s_1_1102.bcl"), header(nPerTile) ++ cols2(c - 1))
    }
    Files.write(lane.resolve("s_1_1101.filter"), header(nPerTile) ++ filt1)
    Files.write(lane.resolve("s_1_1102.filter"), header(nPerTile) ++ filt2)
    // (b) CBCL run
    val cbclDir = Files.createTempDirectory("graft_cbcl_run")
    val lane2 = cbclDir.resolve("L001")
    for (c <- 1 to rs2.totalCycles) {
      val cdir = lane2.resolve(s"C$c.1"); Files.createDirectories(cdir)
      Files.write(cdir.resolve("L001_1.cbcl"),
        Cbcl.write(Seq((1101, cols1(c - 1), filt1), (1102, cols2(c - 1), filt2)),
          cbclBins, excludeNonPF = true))
    }
    Files.write(lane2.resolve("s_1_1101.filter"), header(nPerTile) ++ filt1)
    Files.write(lane2.resolve("s_1_1102.filter"), header(nPerTile) ++ filt2)
    val a = Bcl.decodeRun(spark, flatDir.toString, rs2)
      .collect().sortBy(_.id).map(_.toString)
    val b = Bcl.decodeRun(spark, cbclDir.toString, rs2)
      .collect().sortBy(_.id).map(_.toString)
    assert(a.length === 2 * nPerTile)
    assert(a.toSeq === b.toSeq)
    // missing filter with excludeNonPF payload fails LOUDLY
    Files.delete(lane2.resolve("s_1_1101.filter"))
    Files.delete(lane2.resolve("s_1_1102.filter"))
    val e = intercept[org.apache.spark.SparkException](
      Bcl.decodeRun(spark, cbclDir.toString, rs2).collect())
    assert(e.getMessage.contains("filter") ||
      Option(e.getCause).exists(_.getMessage.contains("filter")), e.getMessage)
  }

  test("CBCL per-tile decode reads only its tile's block, equal to decode's entry") {
    val t1 = binnedTile(1, 40); val t2 = binnedTile(2, 33)
    val f1 = Array.tabulate(40)(i => if (i % 5 == 4) 0.toByte else 1.toByte)
    val f2 = Array.tabulate(33)(i => if (i % 3 == 0) 0.toByte else 1.toByte)
    /** Positioned reads on an in-memory file, loud past its end, logging
      * how many bytes each call read. */
    def reader(file: Array[Byte], log: collection.mutable.Buffer[Int])
        : (Long, Int) => Array[Byte] = { (pos, len) =>
      require(pos + len <= file.length, s"read of $len bytes at $pos")
      log += len
      file.slice(pos.toInt, pos.toInt + len)
    }
    for (excl <- Seq(false, true)) {
      val file = Cbcl.write(Seq((1101, t1, f1), (1102, t2, f2)), cbclBins,
        excludeNonPF = excl)
      val h = Cbcl.parseHeader(file)
      for (((tileNum, bytes, pfOnly), rec) <- Cbcl.decode(file).zip(h.tiles)) {
        val log = collection.mutable.Buffer.empty[Int]
        val (got, gotPf) = Cbcl.decodeTile(file.length, reader(file, log), tileNum)
        assert(got.toSeq === bytes.toSeq, s"tile $tileNum excludeNonPF=$excl")
        assert(gotPf === pfOnly)
        // the header (its size field, then all of it) and this tile's block
        assert(log.toSeq === Seq(4, h.headerSize, rec.compressedSize))
      }
      val e = intercept[IllegalArgumentException](
        Cbcl.decodeTile(file.length, reader(file, collection.mutable.Buffer()), 1199))
      assert(e.getMessage.contains("1199"), e.getMessage)
      // a truncated file: the last tile's block runs past the end, while
      // the first tile, read on its own, still decodes
      val cut = file.dropRight(5)
      val e2 = intercept[IllegalArgumentException](
        Cbcl.decodeTile(cut.length, reader(cut, collection.mutable.Buffer()), 1102))
      assert(e2.getMessage.contains("1102"), e2.getMessage)
      assert(Cbcl.decodeTile(cut.length, reader(cut, collection.mutable.Buffer()),
        1101)._1.toSeq === Cbcl.decode(file).head._2.toSeq)
    }
  }

  test("decodeRun on a nonexistent run folder fails naming it") {
    val missing = Files.createTempDirectory("graft_bcl_gone")
      .resolve("no_such_run").toString
    val e = intercept[IllegalArgumentException](
      Bcl.decodeRun(spark, missing, rs))
    assert(e.getMessage.contains(missing), e.getMessage)
    // the pipeline reports the failure instead of an empty success
    val prq = Files.createTempDirectory("graft_bcl_gone_prq").resolve("prq")
    intercept[IllegalArgumentException](
      Pipeline.run(spark, missing, rs, sheet, prq.toString, Seq("cat")))
  }

  test("decodeRun on an empty run folder fails naming it") {
    val empty = Files.createTempDirectory("graft_bcl_empty")
    Files.createDirectories(empty.resolve("L001").resolve("C1.1"))
    val e = intercept[IllegalArgumentException](
      Bcl.decodeRun(spark, empty.toString, rs))
    assert(e.getMessage.contains(empty.toString), e.getMessage)
  }

  test("decodeRun lists on the driver: no job to build, one task per tile to run") {
    // 2 lanes x 2 tiles x 11 cycles = 44 cycle files plus filters and
    // coordinates: more than the 32 paths above which Spark's file index
    // lists in a parallel job
    val dir = SyntheticRun.writeRun(
      Files.createTempDirectory("graft_bcl_shape"), lanes = 2)
    val (ds, buildJobs) = jobsOf(Bcl.decodeRun(spark, dir.toString, SyntheticRun.rs))
    assert(buildJobs === Seq())
    // the decode's own RDD: Dataset.count() would add the one-task global
    // aggregate that adaptive execution submits as a second job
    val (n, countJobs) = jobsOf(ds.rdd.count())
    assert(n === 2 * 2 * 24)
    assert(countJobs === Seq(Seq(4)), "one job, one stage, one task per tile")
  }

  /** A 2-lane x 2-tile run, decoded, filtered and demuxed; the sink's
    * input as `Pipeline.run` builds it. */
  private lazy val shapeRun: String = SyntheticRun.writeRun(
    Files.createTempDirectory("graft_sink_shape"), lanes = 2).toString
  private def assignedReads: org.apache.spark.sql.Dataset[PrqRead] =
    Demux.dropUndetermined(Demux.demux(
      Bcl.applyFilter(Bcl.decodeRun(spark, shapeRun, SyntheticRun.rs)),
      SyntheticRun.sheet))

  private type PairRow = (String, String, String, String, String, String)

  /** The sink's input as sorted (sample, id, seq1, qual1, seq2, qual2). */
  private def pairRows(reads: org.apache.spark.sql.Dataset[PrqRead]): Seq[PairRow] =
    reads.collect().map(r => (r.sample, r.id, r.seq1, r.qual1, r.seq2, r.qual2))
      .sorted.toSeq

  /** A PRQ directory read back through `format("prq")`, sorted like
    * [[pairRows]]. */
  private def prqRows(dir: String): Seq[PairRow] =
    spark.read.format("prq").load(dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getString(3), r.getString(4), r.getString(5))).sorted.toSeq

  /** Part files of a PRQ sink directory, by sample. */
  private def partsBySample(dir: String): Map[String, Seq[Path]] = {
    val it = Files.walk(Paths.get(dir)).iterator()
    val parts = Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
      .filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.startsWith("part-")).toSeq
    parts.groupBy(_.getParent.getFileName.toString.stripPrefix("sample="))
  }

  test("demux + sink run only the sink's jobs: the dictionary is built on the driver") {
    val out = Files.createTempDirectory("graft_sink_jobs").toString
    val (_, jobs) = jobsOf(Codecs.writePartitionedGzip(assignedReads, out))
    // the sink's shuffle-map job (one task per tile) and its write job; a
    // Spark-side dictionary (aggregate + broadcast) would add two more
    assert(jobs.size === 2, jobs)
    assert(jobs.head === Seq(4), "decode + demux + map side: one task per tile")
  }

  test("the PRQ sink spreads every sample over the session's width") {
    val out = Files.createTempDirectory("graft_sink_width").toString
    val reads = assignedReads
    Codecs.writePartitionedGzip(reads, out)
    val width = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val bySample = partsBySample(out)
    val counts = reads.groupBy("sample").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySample.keySet === counts.keySet)
    // every sample of the fixture has dozens of reads, more than the width
    assert(counts.values.forall(_ >= width), counts)
    bySample.foreach { case (sample, parts) =>
      assert(parts.size === width, s"$sample: $parts")
    }
  }

  test("the PRQ sink writes level-1 gzip") {
    import java.util.zip.{Deflater, GZIPInputStream}
    // gzip = 10-byte header + raw deflate + 8-byte trailer; the deflate
    // length pins the level (at the default level 6 these parts are ~15 %
    // shorter)
    def deflatedAtLevel1(p: Path): Long = {
      val in = new GZIPInputStream(Files.newInputStream(p))
      val content = try in.readAllBytes() finally in.close()
      val d = new Deflater(Deflater.BEST_SPEED, true)
      d.setInput(content); d.finish()
      val buf = new Array[Byte](1 << 16)
      var n = 0L
      while (!d.finished()) n += d.deflate(buf)
      d.end()
      n
    }
    val out = Files.createTempDirectory("graft_sink_level").toString
    Codecs.writePartitionedGzip(assignedReads, out)
    val parts = partsBySample(out).values.flatten
    assert(parts.nonEmpty)
    for (p <- parts) assert(Files.size(p) === 18 + deflatedAtLevel1(p), p)
  }

  test("chastity filter + demux assigns samples with 1-mismatch tolerance") {
    val reads = Bcl.applyFilter(Bcl.decodeRun(spark, runDir, rs))
    val demuxed = Demux.demux(reads, sheet).collect()
    val bySample = demuxed.groupBy(_.sample).view.mapValues(_.map(_.id).toSet).toMap
    assert(bySample("sample1") == Set("1_1101_0", "1_1101_1"))
    assert(bySample("sample2") == Set("1_1101_2", "1_1102_0", "1_1102_1"))
    assert(bySample(Demux.Undetermined) == Set("1_1101_3"))
  }

  test("ambiguous 1-mismatch variants fall to Undetermined") {
    val dict = Demux.dictionary(Seq("s1" -> "AAA", "s2" -> "AAT"))
    // AAC and AAT are each within one mismatch of both barcodes: dropped,
    // even AAT, which is s2's own barcode (exact match does not win)
    assert(!dict.contains("AAC"))
    assert(!dict.contains("AAT"))
    assert(dict("AGA") == "s1") // unambiguous 1-mismatch of AAA
    assert(dict("TAT") == "s2") // unambiguous 1-mismatch of AAT
  }

  test("partitioned gzip PRQ sink: layout, content, no empty parts") {
    val out = Files.createTempDirectory("graft_prq").toString
    val reads = Demux.dropUndetermined(
      Demux.demux(Bcl.applyFilter(Bcl.decodeRun(spark, runDir, rs)), sheet))
    Codecs.writePartitionedGzip(reads, out)

    // layout: out/sample=<s>/part-*.txt.gz, all parts non-trivial
    val parts = Files.walk(Paths.get(out)).iterator().asInstanceOf[java.util.Iterator[Path]]
    var partFiles = List.empty[Path]
    while (parts.hasNext) {
      val p = parts.next()
      if (Files.isRegularFile(p) && p.getFileName.toString.startsWith("part-"))
        partFiles ::= p
    }
    assert(partFiles.nonEmpty)
    assert(partFiles.forall(_.toString.endsWith(".txt.gz")))
    assert(partFiles.forall(p => p.getParent.getFileName.toString.startsWith("sample=")))
    assert(partFiles.forall(p => Files.size(p) >= 30), "empty gzip part written")

    // content round-trips: the reader gives back exactly the written rows
    val back = prqRows(out)
    assert(back === pairRows(reads))
    assert(back.length == 5)
  }

  test("prq DataSource V2: scan parity, pruning, sample column") {
    val s = spark
    val out = Files.createTempDirectory("graft_prq_v2").toString
    val reads = Demux.dropUndetermined(
      Demux.demux(Bcl.applyFilter(Bcl.decodeRun(spark, runDir, rs)), sheet))
    Codecs.writePartitionedGzip(reads, out)
    val v2 = s.read.format("prq").load(out)
    assert(v2.schema.fieldNames.toSeq ===
      Seq("sample", "id", "seq1", "qual1", "seq2", "qual2"))
    // row parity with the written reads (same 5 reads)
    val written = pairRows(reads)
    assert(prqRows(out) === written)
    assert(written.length === 5)
    // column pruning reaches the scan: an id-only projection's ReadSchema
    // carries no seq/qual fields
    val pruned = v2.select("id")
    val scans = pruned.queryExecution.executedPlan.collectLeaves()
    assert(scans.exists(p => p.toString.contains("prq:") ||
      p.schema.fieldNames.sameElements(Array("id"))), scans.mkString("\n"))
    assert(pruned.collect().map(_.getString(0)).sorted.head.nonEmpty)
    // partition-value decoding: per-sample filters work
    assert(v2.where(org.apache.spark.sql.functions.col("sample") === "sample1").count() ===
      written.count(_._1 == "sample1"))
  }

  test("RunInfo.xml parses structure, run identity, and rejects bad layouts") {
    val info = RunMeta.parseRunInfo(SyntheticRun.runInfoXml)
    assert(info.rs === SyntheticRun.rs)
    assert(info.instrument === "M00001" && info.runNumber === 7 &&
      info.flowcell === "GRAFTFC01")
    assert(info.readName(1, 1101, 2.5f, 0.0f) ===
      "M00001:7:GRAFTFC01:1:1101:1025:1000")
    // dual-index cycles sum into one block
    val dual = RunMeta.parseRunInfo(
      """<RunInfo><Run Number="2"><Flowcell>FC</Flowcell>
        |<Instrument>I</Instrument><Reads>
        |<Read Number="1" NumCycles="8" IsIndexedRead="N"/>
        |<Read Number="2" NumCycles="4" IsIndexedRead="Y"/>
        |<Read Number="3" NumCycles="4" IsIndexedRead="Y"/>
        |<Read Number="4" NumCycles="8" IsIndexedRead="N"/>
        |</Reads></Run></RunInfo>""".stripMargin)
    assert(dual.rs === ReadStructure(8, 8, 8))
    // index-first and interleaved layouts are loud errors
    intercept[IllegalArgumentException](RunMeta.parseRunInfo(
      """<RunInfo><Run Number="1"><Flowcell>F</Flowcell>
        |<Instrument>I</Instrument><Reads>
        |<Read Number="1" NumCycles="4" IsIndexedRead="Y"/>
        |<Read Number="2" NumCycles="8" IsIndexedRead="N"/>
        |</Reads></Run></RunInfo>""".stripMargin))
    intercept[IllegalArgumentException](RunMeta.parseRunInfo(
      """<RunInfo><Run Number="1"><Flowcell>F</Flowcell>
        |<Instrument>I</Instrument><Reads>
        |<Read Number="1" NumCycles="4" IsIndexedRead="N"/>
        |<Read Number="2" NumCycles="4" IsIndexedRead="Y"/>
        |<Read Number="3" NumCycles="4" IsIndexedRead="N"/>
        |<Read Number="4" NumCycles="4" IsIndexedRead="Y"/>
        |</Reads></Run></RunInfo>""".stripMargin))
    // out-of-order read numbers are a loud error
    intercept[IllegalArgumentException](RunMeta.parseRunInfo(
      """<RunInfo><Run Number="1"><Flowcell>F</Flowcell>
        |<Instrument>I</Instrument><Reads>
        |<Read Number="2" NumCycles="4" IsIndexedRead="N"/>
        |<Read Number="1" NumCycles="4" IsIndexedRead="N"/>
        |</Reads></Run></RunInfo>""".stripMargin))
    // missing manifest is loud
    val empty = Files.createTempDirectory("graft_norticulate")
    intercept[IllegalArgumentException](RunMeta.readRunInfo(empty.toString))
  }

  test("locs and clocs round-trip cluster coordinates exactly") {
    val cs = (0 until 57).map(SyntheticRun.coord)
    assert(RunMeta.readLocs(RunMeta.writeLocs(cs)).toSeq === cs)
    // 0.1-precision coords survive the lossy clocs binning exactly
    assert(RunMeta.readClocs(RunMeta.writeClocs(cs)).toSeq === cs)
    // multi-bin-row coords (y beyond one 25-unit row)
    val tall = Seq((3.0f, 1.0f), (12.5f, 26.0f), (30.0f, 52.5f))
    assert(RunMeta.readClocs(RunMeta.writeClocs(tall)).toSeq === tall)
    // truncated payloads are loud
    val bytes = RunMeta.writeClocs(cs)
    intercept[IllegalArgumentException](
      RunMeta.readClocs(bytes.dropRight(1)))
    intercept[IllegalArgumentException](
      RunMeta.readLocs(RunMeta.writeLocs(cs).dropRight(4)))
  }

  test("metadata-driven decode: coordinate read names, payload parity, loud gaps") {
    val s = spark
    val dir = Files.createTempDirectory("graft_runinfo_dec")
    SyntheticRun.writeRun(dir)
    val byMeta = Bcl.decodeRun(s, dir.toString).collect()
    val byRs = Bcl.decodeRun(s, dir.toString, SyntheticRun.rs).collect()
    // cluster-for-cluster parity: local index j of tile t carries the
    // SAME payload under both decodes, with the metadata path's id being
    // the coordinate-derived Illumina name for coord(j)
    val info = RunMeta.readRunInfo(dir.toString)
    val metaById = byMeta.map(r => r.id -> r).toMap
    val rsById = byRs.map(r => r.id -> r).toMap
    assert(metaById.size === byRs.length && rsById.size === byRs.length)
    for (tile <- Seq(1101, 1102); j <- 0 until 24) {
      val a = rsById(s"1_${tile}_$j")
      val (x, y) = SyntheticRun.coord(j)
      val b = metaById.getOrElse(info.readName(1, tile, x, y),
        fail(s"no read named ${info.readName(1, tile, x, y)}"))
      assert((a.seq1, a.qual1, a.seq2, a.qual2, a.barcode, a.passFilter) ===
        ((b.seq1, b.qual1, b.seq2, b.qual2, b.barcode, b.passFilter)),
        s"tile $tile cluster $j")
    }
    // name grammar golden: tile 1101 (locs arm) cluster 0 at (0,0) and
    // tile 1102 (clocs arm) cluster 1 at (3.0, 0.5)
    assert(byMeta.forall(_.id.startsWith("M00001:7:GRAFTFC01:1:")))
    assert(metaById.contains("M00001:7:GRAFTFC01:1:1101:1000:1000"))
    assert(metaById.contains("M00001:7:GRAFTFC01:1:1102:1030:1005"))
    // a tile without coordinates is a loud error on the metadata path
    // (and invisible to the explicit-structure path)
    Files.delete(dir.resolve("L001").resolve("s_1_1102.clocs"))
    val e = intercept[org.apache.spark.SparkException](
      Bcl.decodeRun(s, dir.toString).collect())
    assert(e.getMessage.contains("locs") ||
      Option(e.getCause).exists(_.getMessage.contains("locs")))
    assert(Bcl.decodeRun(s, dir.toString, SyntheticRun.rs).count() ===
      byRs.length.toLong)
    // a coordinate count that disagrees with the cluster count is loud
    Files.write(dir.resolve("L001").resolve("s_1_1102.locs"),
      RunMeta.writeLocs(Seq((1.0f, 1.0f))))
    val e2 = intercept[org.apache.spark.SparkException](
      Bcl.decodeRun(s, dir.toString).collect())
    assert(e2.getMessage.contains("coordinates") ||
      Option(e2.getCause).exists(_.getMessage.contains("coordinates")))
  }

  test("prq V2 keeps trailing empty fields and rejects missing paths loudly") {
    val dir = Files.createTempDirectory("graft_prq_edge")
    // empty seq2/qual2 legitimately writes as trailing tabs — the reader
    // must keep the empty fields (split with limit -1), not reject the line
    Files.writeString(dir.resolve("part-0.txt"), "r1\tACGT\tIIII\t\t\n")
    val rows = spark.read.format("prq").load(dir.toString).collect()
    assert(rows.length === 1)
    assert(rows(0).getString(1) === "r1" && rows(0).getString(2) === "ACGT")
    assert(rows(0).getString(4) === "" && rows(0).getString(5) === "")
    // a missing path is a loud error, matching the text source — never an
    // empty scan silently feeding stage 2 zero records
    intercept[Exception] {
      spark.read.format("prq").load(dir.resolve("nope").toString).collect()
    }
    intercept[Exception] {
      spark.read.format("fastq").load(dir.resolve("nope").toString).collect()
    }
    // the listing skips metadata files and descends into partition dirs
    Files.writeString(dir.resolve("_SUCCESS"), "")
    Files.writeString(dir.resolve(".part-0.txt.crc"), "crc")
    Files.createDirectories(dir.resolve("sample=x"))
    Files.writeString(dir.resolve("sample=x").resolve("part-1.txt"),
      "r2\tGGGG\tJJJJ\tTT\tKK\n")
    val listed = graft.sources.PrqFastqSource.listFiles(spark, dir.toString)
      .map { case (f, sample) => (f.stripPrefix(s"file:$dir/"), sample) }
    assert(listed == Seq(("part-0.txt", null), ("sample=x/part-1.txt", "x")),
      listed.toString)
    val all = spark.read.format("prq").load(dir.toString).collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(all == Seq((null, "r1"), ("x", "r2")), all.toString)
  }

  test("fastq DataSource V2: 4-line chunker parity with parseFastq") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft_fastq_v2")
    val rec = "@r1\nACGT\n+\nIIII\n@r2\nTTAA\n+\nJJJJ\n"
    Files.writeString(dir.resolve("a.fastq"), rec)
    Files.writeString(dir.resolve("b.fastq"), "@r3\nGGGG\n+\nKKKK\n")
    val v2 = s.read.format("fastq").load(dir.toString)
      .select("id", "seq", "qual").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).sorted.toSeq
    assert(v2 === Seq(("r1", "ACGT", "IIII"), ("r2", "TTAA", "JJJJ"),
      ("r3", "GGGG", "KKKK")))
    // a user-supplied schema fails at load, during analysis, not record by
    // record in the reader: no action runs
    val unsupported = intercept[UnsupportedOperationException] {
      s.read.format("fastq")
        .schema("sample string, id string, seq1 string, qual1 string, " +
          "seq2 string, qual2 string")
        .load(dir.toString)
    }
    assert(unsupported.getMessage.contains("user-specified schema"),
      unsupported.getMessage)
    // malformed record fails loudly
    Files.writeString(dir.resolve("bad.fastq"), "@r4\nACGT\n+\n")
    val e = intercept[Exception] {
      s.read.format("fastq").load(dir.resolve("bad.fastq").toString).count()
    }
    def msgs(t: Throwable): Seq[String] = Option(t).toSeq
      .flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("malformed FASTQ")), e.toString)
  }

  test("external-process map pipes PRQ through a mock aligner per sample") {
    val s = spark
    // mock aligner: tab→comma + ALN prefix (deterministic sed, R17 stand-in)
    val script = Files.createTempFile("mock_aligner", ".sh")
    Files.writeString(script, "#!/bin/sh\nsed 's/\\t/,/g; s/^/ALN /'\n")
    script.toFile.setExecutable(true)
    val prq = Files.createTempDirectory("graft_pipe_mock").toString
    Codecs.writePartitionedGzip(Demux.dropUndetermined(
      Demux.demux(Bcl.applyFilter(Bcl.decodeRun(spark, runDir, rs)), sheet)), prq)
    val out = Codecs.listSamplePartitions(s, prq).flatMap { sample =>
      ExternalProcessMap.pipePartitions(
        Pipeline.readSamplePrq(s, prq, sample), Seq(script.toString))
        .collect().map(sample -> _)
    }
    assert(out.length == 5)
    assert(out.forall(_._2.startsWith("ALN ")))
    assert(out.filter(_._1 == "sample2").length == 3)
    val line = out.find(_._2.contains("1_1101_0")).get._2
    assert(line == "ALN 1_1101_0,ACGT," + line.split(",")(2) + ",TTTT," + line.split(",")(4))
  }

  test("pipeline orchestration: stage1 -> concurrent per-sample align -> eager cleanup") {
    val s = spark
    val prq = Files.createTempDirectory("graft_pipe").toString
    val script = Files.createTempFile("mock_aln2", ".sh")
    Files.writeString(script, "#!/bin/sh\nsed 's/^/ALN /'\n")
    script.toFile.setExecutable(true)
    val done = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val res = Pipeline.run(s, runDir, rs, sheet, prq, Seq(script.toString),
      onSampleDone = done.add(_))
    assert(res.failed.isEmpty, res.failed.toString)
    assert(res.samples == Seq("sample1", "sample2"))
    assert(res.alignedCounts == Map("sample1" -> 2L, "sample2" -> 3L))
    assert(done.size == 2, "eager cleanup hook must fire per sample")
  }

  test("pipeline orchestration fails fast when one sample's aligner dies") {
    val s = spark
    val prq = Files.createTempDirectory("graft_pipe_f").toString
    val script = Files.createTempFile("mock_aln3", ".sh")
    // sample1's reads contain id prefix 1_1101_0 — die on that sample only
    Files.writeString(script,
      "#!/bin/sh\nwhile read l; do case \"$l\" in 1_1101_0*) exit 7;; *) echo \"ALN $l\";; esac; done\n")
    script.toFile.setExecutable(true)
    val res = Pipeline.run(s, runDir, rs, sheet, prq, Seq(script.toString))
    assert(res.failed.isDefined, "failure must propagate")
    assert(res.alignedCounts.size < 2, "failed sample must not report success")
  }

  test("stage-2 per-sample read scans exactly one sample partition") {
    val s = spark
    val prq = Files.createTempDirectory("graft_prq_prune").toString
    val reads = Demux.dropUndetermined(
      Demux.demux(Bcl.applyFilter(Bcl.decodeRun(spark, runDir, rs)), sheet))
    Codecs.writePartitionedGzip(reads, prq)
    assert(Codecs.listSamplePartitions(s, prq) == Seq("sample1", "sample2"))
    val one = Pipeline.readSamplePrq(s, prq, "sample1")
    // the V2 scan plans one InputPartition per file — all from this
    // sample's own partition dir
    val scan = one.queryExecution.executedPlan.collectLeaves().collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.get
    val files = scan.inputPartitions
      .map(_.asInstanceOf[graft.sources.LineFilePartition].file)
    assert(files.nonEmpty)
    assert(files.forall(_.contains("sample=sample1")),
      s"per-sample scan must touch only its own partition dir: $files")
    assert(one.count() == 2)
  }

  test("sample partition listing filters undetermined/_-prefixed and unescapes") {
    val dir = Files.createTempDirectory("graft_list")
    for (n <- Seq("sample=s1", "sample=Undetermined", "sample=Unknown1",
                  "sample=_tmp", "sample=a%20b", "_spark_metadata"))
      Files.createDirectories(dir.resolve(n))
    assert(Codecs.listSamplePartitions(spark, dir.toString) == Seq("a b", "s1"))
    // FS-agnostic: an explicit file:// URI must list identically (the Hadoop
    // FileSystem path — a java.nio listing would only ever see local paths)
    assert(Codecs.listSamplePartitions(spark, s"file://$dir") == Seq("a b", "s1"))
    assert(Codecs.listSamplePartitions(spark, dir.resolve("absent").toString).isEmpty)
    assert(Codecs.escapePartitionValue("a:b") == "a%3Ab")
  }

  private def writeFastqGz(dir: Path, name: String,
                           records: Seq[(String, String, String)], mate: Int): Unit = {
    val out = new java.util.zip.GZIPOutputStream(
      Files.newOutputStream(dir.resolve(name)))
    val sb = new StringBuilder
    records.foreach { case (id, seq, qual) =>
      sb.append('@').append(id).append('/').append(mate).append('\n')
        .append(seq).append("\n+\n").append(qual).append('\n')
    }
    out.write(sb.toString.getBytes("UTF-8")); out.close()
  }

  test("FASTQ baseline arm round-trips to the same PRQ as the BCL arm") {
    val s = spark
    // ground truth: the BCL arm's post-demux PRQ rows
    val bclReads = Demux.dropUndetermined(
      Demux.demux(Bcl.applyFilter(Bcl.decodeRun(s, runDir, rs)), sheet)).collect()
    // bcl2fastq-style mate files: sample1 in one L001 couple; sample2 SPLIT
    // across L001/L002 couples (exercises multi-file sorted positional
    // pairing, `baseline_workflow.py:137-138`), plus decoys discovery skips
    val dir = Files.createTempDirectory("graft_fastq")
    def writeSample(sample: String, lane: Int, rows: Seq[PrqRead]): Unit = {
      writeFastqGz(dir, f"${sample}_S1_L$lane%03d_R1_001.fastq.gz",
        rows.map(r => (r.id, r.seq1, r.qual1)), 1)
      writeFastqGz(dir, f"${sample}_S1_L$lane%03d_R2_001.fastq.gz",
        rows.map(r => (r.id, r.seq2, r.qual2)), 2)
    }
    val bySample = bclReads.groupBy(_.sample)
    writeSample("sample1", 1, bySample("sample1").toSeq.sortBy(_.id))
    val s2 = bySample("sample2").toSeq.sortBy(_.id)
    writeSample("sample2", 1, s2.take(1))
    writeSample("sample2", 2, s2.drop(1))
    writeFastqGz(dir, "Undetermined_S0_L001_R1_001.fastq.gz", Seq(("x", "A", "I")), 1)
    writeFastqGz(dir, "Undetermined_S0_L001_R2_001.fastq.gz", Seq(("x", "T", "I")), 2)
    Files.writeString(dir.resolve("notes.txt"), "not a fastq")

    val pairs = FastqBaseline.discoverMatePairs(s, dir.toString)
    assert(pairs.map(p => (p.sample, p.lane)) ==
      Seq(("sample1", 1), ("sample2", 1), ("sample2", 2)))

    val got = FastqBaseline.toPrq(s, dir.toString).collect()
    def key(r: PrqRead) = (r.sample, r.id, r.seq1, r.qual1, r.seq2, r.qual2)
    assert(got.map(key).toSet == bclReads.map(key).toSet,
      "baseline arm must reproduce the BCL arm's PRQ exactly")
    assert(got.forall(r => r.passFilter && r.barcode.isEmpty))
  }

  test("baseline sequential align loop: sorted order, eager per-sample release") {
    val s = spark
    // reuse the round-trip fixture layout: sample1 (2 reads), sample2 (3)
    val dir = Files.createTempDirectory("graft_fastq_seq")
    val bclReads = Demux.dropUndetermined(
      Demux.demux(Bcl.applyFilter(Bcl.decodeRun(s, runDir, rs)), sheet))
      .collect().groupBy(_.sample)
    for ((sample, rows) <- bclReads) {
      writeFastqGz(dir, s"${sample}_S1_L001_R1_001.fastq.gz",
        rows.toSeq.sortBy(_.id).map(r => (r.id, r.seq1, r.qual1)), 1)
      writeFastqGz(dir, s"${sample}_S1_L001_R2_001.fastq.gz",
        rows.toSeq.sortBy(_.id).map(r => (r.id, r.seq2, r.qual2)), 2)
    }
    val script = Files.createTempFile("mock_aln_seq", ".sh")
    Files.writeString(script, "#!/bin/sh\nsed 's/^/ALN /'\n")
    script.toFile.setExecutable(true)
    val done = scala.collection.mutable.ArrayBuffer.empty[String]
    val counts = FastqBaseline.runSequential(s, dir.toString,
      Seq(script.toString), onSampleDone = done += _)
    assert(counts == Map("sample1" -> 2L, "sample2" -> 3L))
    // strictly sequential in sorted sample order, cleanup hook per sample
    assert(done.toSeq == Seq("sample1", "sample2"))
  }

  test("FASTQ mate pairing fails loudly on mate-id mismatch") {
    val s = spark
    val dir = Files.createTempDirectory("graft_fastq_bad")
    writeFastqGz(dir, "sx_S1_L001_R1_001.fastq.gz",
      Seq(("a", "ACGT", "IIII"), ("b", "ACGT", "IIII")), 1)
    // R2 in swapped order: positional pairing must detect the id mismatch
    writeFastqGz(dir, "sx_S1_L001_R2_001.fastq.gz",
      Seq(("b", "TTTT", "IIII"), ("a", "TTTT", "IIII")), 2)
    val e = intercept[org.apache.spark.SparkException] {
      FastqBaseline.toPrq(s, dir.toString).collect()
    }
    val msg = e.getMessage + Option(e.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("mate id mismatch"), msg)
  }

  test("SAM dataset shape: schema, aligner round-trip, partitioned sink") {
    val s = spark
    import s.implicits._
    // mock aligner emitting minimal valid SAM from PRQ lines: a header line,
    // then one record per mate (flags 99/147, CIGAR 4M, NM tag)
    val script = Files.createTempFile("mock_sam", ".sh")
    Files.writeString(script,
      "#!/bin/sh\nprintf '@HD\\tVN:1.6\\tSO:unsorted\\n'\n" +
        "awk -F'\\t' '{ printf \"%s\\t99\\tchr1\\t%d\\t60\\t4M\\t=\\t%d\\t8\\t%s\\t%s\\tNM:i:0\\n\", " +
        "$1, NR*10, NR*10+4, $2, $3; " +
        "printf \"%s\\t147\\tchr1\\t%d\\t60\\t4M\\t=\\t%d\\t-8\\t%s\\t%s\\tNM:i:0\\n\", " +
        "$1, NR*10+4, NR*10, $4, $5 }'\n")
    script.toFile.setExecutable(true)
    val prq = Files.createTempDirectory("graft_sam_prq").toString
    Codecs.writePartitionedGzip(Demux.dropUndetermined(
      Demux.demux(Bcl.applyFilter(Bcl.decodeRun(s, runDir, rs)), sheet)), prq)
    val sam = Codecs.listSamplePartitions(s, prq).map { sample =>
      Sam.fromAligned(
        ExternalProcessMap.pipePartitions(
          Pipeline.readSamplePrq(s, prq, sample), Seq(script.toString))
        .map(sample -> _))
    }.reduce(_ unionByName _)

    // SURVEY §1.4 D4 schema: 11 mandatory SAM fields (+ sample, tags)
    import org.apache.spark.sql.types._
    val expected = Seq("sample" -> StringType, "qname" -> StringType,
      "flag" -> IntegerType, "rname" -> StringType, "pos" -> LongType,
      "mapq" -> IntegerType, "cigar" -> StringType, "rnext" -> StringType,
      "pnext" -> LongType, "tlen" -> LongType, "seq" -> StringType,
      "qual" -> StringType, "tags" -> StringType)
    assert(sam.schema.fields.map(f => f.name -> f.dataType).toSeq == expected)

    val rows = sam.collect()
    assert(rows.length == 10, "2 mates x 5 demuxed reads") // header dropped
    assert(rows.forall(_.getAs[String]("cigar") == "4M"))
    assert(rows.forall(_.getAs[String]("tags") == "NM:i:0"))
    assert(rows.count(_.getAs[Int]("flag") == 99) == 5)
    val r0 = rows.find(r => r.getAs[String]("qname") == "1_1101_0" &&
      r.getAs[Int]("flag") == 99).get
    assert(r0.getAs[String]("seq") == "ACGT" && r0.getAs[Long]("pos") > 0)

    // parse/serialize round-trip is exact (tags preserved verbatim)
    val line = "q1\t99\tchr1\t100\t60\t4M\t=\t104\t8\tACGT\tIIII\tNM:i:0\tAS:i:4"
    assert(Sam.toLine(Sam.parseLine(line)) == line)
    val bare = "q1\t4\t*\t0\t0\t*\t*\t0\t0\tACGT\tIIII"
    assert(Sam.toLine(Sam.parseLine(bare)) == bare)

    // partitioned text sink round-trips through the same typed shape
    val out = Files.createTempDirectory("graft_sam").toString
    Sam.writePartitioned(sam, out)
    val back = Sam.readPartitioned(s, out)
    assert(back.schema == sam.schema)
    def key(r: org.apache.spark.sql.Row) = r.toSeq.map(String.valueOf).mkString("|")
    assert(back.collect().map(key).toSet == rows.map(key).toSet)
    assert(Codecs.listSamplePartitions(s, out) == Seq("sample1", "sample2"))
  }

  test("SAM sink round-trips sample names Spark escapes in partition paths") {
    val s = spark
    import s.implicits._
    // ':' and '%' are Hive-escaped in partition directory names (sample=a%3A1)
    // — readPartitioned must unescape what writePartitioned's partitionBy wrote
    val names = Seq("sample:1", "100% cov", "plain")
    val line = "q1\t99\tchr1\t100\t60\t4M\t=\t104\t8\tACGT\tIIII\tNM:i:0"
    val sam = Sam.fromAligned(names.map(n => (n, line)).toDS())
    val out = Files.createTempDirectory("graft_sam_esc").toString
    Sam.writePartitioned(sam, out)
    val back = Sam.readPartitioned(s, out)
    assert(back.select("sample").as[String].collect().toSet == names.toSet,
      "escaped partition directories must unescape back to the sample name")
  }

  test("child that closes stdout but stops reading stdin fails, not hangs") {
    val script = Files.createTempFile("mock_wedge", ".sh")
    // closes stdout immediately, then sleeps holding stdin open UNREAD: the
    // writer blocks on the full pipe; the bounded join must kill + diagnose
    Files.writeString(script, "#!/bin/sh\nexec >&-\nsleep 30\n")
    script.toFile.setExecutable(true)
    val big = (1 to 200000).iterator.map(i => s"line_$i") // >> 64 KB pipe
    val e = intercept[RuntimeException] {
      ExternalProcessMap.pipe(big, Seq(script.toString), "test",
        writerJoinTimeoutMs = 500L).toList
    }
    assert(e.getMessage.contains("stopped reading stdin"), e.getMessage)
  }

  test("pipePartitions streams a large partition lazily through the process") {
    val s = spark
    import s.implicits._
    // 10^6 lines ≈ 40 MB of PRQ in one partition through `cat` — rows flow
    // straight to the downstream count, never materialized
    val n = 1000000
    val lines = s.range(0, n, 1, 1).map(i => s"id_$i\tACGT\tIIII\tTGCA\tIIII")
    assert(lines.rdd.getNumPartitions == 1)
    val out = ExternalProcessMap.pipePartitions(lines, Seq("cat"))
    assert(out.filter(_.startsWith("id_")).count() == n)
  }

  test("chatty stderr neither deadlocks the pipe nor is lost on failure") {
    val s = spark
    import s.implicits._
    // 200 KB of stderr (>> the ~64 KB pipe buffer) then clean echo: without
    // a drain thread this wedges forever on the full stderr pipe
    val chatty = Files.createTempFile("mock_chatty", ".sh")
    Files.writeString(chatty,
      "#!/bin/sh\ni=0; while [ $i -lt 3200 ]; do echo " +
        "0123456789012345678901234567890123456789012345678901234567890123" +
        " >&2; i=$((i+1)); done\nsed 's/^/OK /'\n")
    chatty.toFile.setExecutable(true)
    val ds = s.createDataset(Seq("x", "y")).repartition(1)
    val ok = ExternalProcessMap.pipePartitions(ds, Seq(chatty.toString)).collect()
    assert(ok.toSet == Set("OK x", "OK y"))

    // failing command: its stderr tail must reach the task error message
    val loud = Files.createTempFile("mock_loud", ".sh")
    Files.writeString(loud,
      "#!/bin/sh\ncat > /dev/null\necho 'reference panic: bad index' >&2\nexit 9\n")
    loud.toFile.setExecutable(true)
    val e = intercept[org.apache.spark.SparkException] {
      ExternalProcessMap.pipePartitions(ds, Seq(loud.toString)).collect()
    }
    val msg = e.getMessage + Option(e.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("exited 9") && msg.contains("reference panic"),
      s"stderr tail missing from: $msg")
  }

  test("process exiting 0 after partial stdin is an error, not silent truncation") {
    val s = spark
    import s.implicits._
    val headLike = Files.createTempFile("mock_head", ".sh")
    Files.writeString(headLike, "#!/bin/sh\nhead -n 1\n")
    headLike.toFile.setExecutable(true)
    // enough lines that the writer is still writing when head exits
    val ds = s.createDataset((1 to 200000).map(i => s"line_$i")).repartition(1)
    val e = intercept[org.apache.spark.SparkException] {
      ExternalProcessMap.pipePartitions(ds, Seq(headLike.toString)).collect()
    }
    val msg = e.getMessage + Option(e.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("truncated"), s"expected truncation error, got: $msg")
  }

  test("pipe feeds a coalesced multi-file sample scan through the process") {
    val prq = Files.createTempDirectory("graft_pipe_coalesce")
    val sampleDir = Files.createDirectories(prq.resolve("sample=s1"))
    val lines = (0 until 3).map(i => s"r$i\tACGT\tIIII\tTTTT\tJJJJ")
    lines.zipWithIndex.foreach { case (l, i) =>
      Files.writeString(sampleDir.resolve(s"part-$i.txt"), l + "\n")
    }
    // one task reads all three files; the stdin writer thread pulls the
    // input, so it opens the second and third files' readers
    val out = ExternalProcessMap.pipePartitions(
      Pipeline.readSamplePrq(spark, prq.toString, "s1").coalesce(1), Seq("cat"))
      .collect().toSeq
    assert(out.sorted == lines)
  }

  test("external-process map fails fast on nonzero exit (R11 contract)") {
    val s = spark
    import s.implicits._
    val script = Files.createTempFile("mock_fail", ".sh")
    Files.writeString(script, "#!/bin/sh\ncat > /dev/null\nexit 3\n")
    script.toFile.setExecutable(true)
    val ds = s.createDataset(Seq("a", "b"))
    val e = intercept[org.apache.spark.SparkException] {
      ExternalProcessMap.pipePartitions(ds.repartition(1), Seq(script.toString)).collect()
    }
    assert(e.getMessage.contains("exited 3") ||
      Option(e.getCause).exists(_.getMessage.contains("exited 3")))
  }
}
