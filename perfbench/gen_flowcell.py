"""Seeded Illumina flowcell for the genomics workload, with its ground truth.

Writes, under `out`:
  run/RunInfo.xml, run/L00<l>/C<c>.1/s_<l>_<tile>.bcl, s_<l>_<tile>.filter and
  s_<l>_<tile>.locs  -- the SyntheticRun layout: flat cycle-major BCL tiles
  (byte = base | quality << 2, 0 = no-call) behind a little-endian u32
  cluster count;
  sheet.tsv          -- the read structure, then the sample sheet;
  fastq/             -- (with_fastq) the same reads as bcl2fastq would write
                        them: <sample>_S<n>_L00<l>_R{1,2}_001.fastq.gz.

Returns the truth the output check compares against: each sample's read
count and order-insensitive digests of its reads and of the SAM records the
stand-in aligner must emit for them, under the demux rule (at most one
mismatch against exactly one barcode; anything else is Undetermined).

Sizing. The read structure is the one of the public human whole-genome
reads the paper's stack aligns (BWA-MEM against hs37d5): the Illumina
Platinum Genomes CEPH pedigree (NA12878, NA12891, NA12892, ...), sequenced on
a HiSeq 2000 as 2 x 101 bp paired-end reads; the 8-cycle index read is the
length of Illumina's single 8-base TruSeq HT / Nextera indexes. A HiSeq
2000/2500 tile holds on the order of two million clusters, so one real flat
BCL file (one tile, one cycle) is about 2 MB. Two lanes of eight tiles (four
tiles per core at local[4], as the workload asks) at that size and 210
cycles would be about 7 GB per run, which no run of a few minutes can
decode, align and check; the tiles here hold CLUSTERS_PER_TILE clusters
instead, so each BCL file is about 8 KB, some 1/250 of a real one, and
per-file costs (listing, opening, scheduling) weigh about that much more
against decode, gzip and alignment than on a real run. Sample shares, mismatch, Undetermined,
chastity-filter and no-call rates are choices that exercise every demux
path and give one dominant sample, not measurements of a real run.
"""
import gzip
import hashlib
import os

import numpy as np

LANES = 2
TILES_PER_LANE = 8          # 16 tiles: four per core at local[4]
CLUSTERS_PER_TILE = 8000
R1, INDEX, R2 = 101, 8, 101
# one dominant sample, a long tail, and reads no barcode claims
SAMPLES = ["NA12878", "NA12891", "NA12892", "HG00096", "HG00097", "HG00099"]
SHARES = [0.40, 0.18, 0.12, 0.10, 0.08, 0.05]
UNDETERMINED_SHARE = 0.07
MISMATCH_SHARE = 0.15       # assigned reads whose index carries one error
FAIL_FILTER_SHARE = 0.08
NO_CALL_RATE = 0.001
BASES = np.frombuffer(b"ACGT", dtype=np.uint8)
DIGEST_MOD = 1 << 128


def line_hash(line):
    """One line's term of an order-insensitive multiset digest: the digest
    of a set of lines is the sum of their terms modulo DIGEST_MOD."""
    return int.from_bytes(
        hashlib.blake2b(line.encode(), digest_size=16).digest(), "big")


def sam_lines(rid, s1, q1, s2, q2):
    """(qname, flag, pos, seq, qual) of the mate pair align.awk emits: the
    position derives from the read id's trailing number."""
    p = (int(rid.rsplit("_", 1)[1]) + 1) * 10
    return (f"{rid}\t99\t{p}\t{s1}\t{q1}",
            f"{rid}\t147\t{p + len(s1)}\t{s2}\t{q2}")


def _barcodes(rng):
    """Barcodes at pairwise distance >= 3, so one mismatch is unambiguous."""
    out = []
    while len(out) < len(SAMPLES):
        bc = rng.integers(0, 4, INDEX)
        if all((bc != o).sum() >= 3 for o in out):
            out.append(bc)
    return np.array(out)


def _decode(cols):
    """BCL bytes (clusters x cycles) -> (bases, quals) as ASCII arrays."""
    base = BASES[cols & 3]
    qual = ((cols >> 2) + 33).astype(np.uint8)
    nocall = cols == 0
    base[nocall] = ord("N")
    qual[nocall] = ord("!")
    return base, qual


def _strings(a):
    """Rows of an ASCII array as str."""
    return [r.decode() for r in
            np.ascontiguousarray(a).view(f"S{a.shape[1]}").ravel().tolist()]


def _write_info(run, out, barcodes):
    with open(os.path.join(run, "RunInfo.xml"), "w") as f:
        f.write(f"""<?xml version="1.0"?>
<RunInfo Version="2">
  <Run Id="261017_D00001_0042_APERFBENCH" Number="42">
    <Flowcell>APERFBENCH</Flowcell>
    <Instrument>D00001</Instrument>
    <Date>261017</Date>
    <Reads>
      <Read Number="1" NumCycles="{R1}" IsIndexedRead="N"/>
      <Read Number="2" NumCycles="{INDEX}" IsIndexedRead="Y"/>
      <Read Number="3" NumCycles="{R2}" IsIndexedRead="N"/>
    </Reads>
    <FlowcellLayout LaneCount="{LANES}" SurfaceCount="1" SwathCount="1" TileCount="{TILES_PER_LANE}"/>
  </Run>
</RunInfo>
""")
    with open(os.path.join(out, "sheet.tsv"), "w") as f:
        f.write(f"{R1}\t{INDEX}\t{R2}\n")
        for s, bc in zip(SAMPLES, barcodes):
            f.write(f"{s}\t{''.join('ACGT'[i] for i in bc)}\n")


def _tile(rng, barcodes, n):
    """One tile's BCL columns (clusters x cycles) and pass-filter flags."""
    kind = rng.choice(len(SAMPLES) + 1, n, p=SHARES + [UNDETERMINED_SHARE])
    index = barcodes[np.minimum(kind, len(SAMPLES) - 1)].copy()
    # one substituted index base for a share of the assigned reads
    mis = (kind < len(SAMPLES)) & (rng.random(n) < MISMATCH_SHARE)
    pos = rng.integers(0, INDEX, n)
    rows = np.nonzero(mis)[0]
    index[rows, pos[rows]] = (index[rows, pos[rows]] +
                              rng.integers(1, 4, rows.size)) % 4
    # Undetermined: random indexes at least two from every barcode
    und = np.nonzero(kind == len(SAMPLES))[0]
    while und.size:
        index[und] = rng.integers(0, 4, (und.size, INDEX))
        dist = (index[und, None, :] != barcodes[None]).sum(axis=2).min(axis=1)
        und = und[dist < 2]
    base = rng.integers(0, 4, (n, R1 + INDEX + R2))
    base[:, R1:R1 + INDEX] = index
    qual = np.clip(rng.normal(34, 6, base.shape), 2, 41).astype(np.int64)
    cols = (base | (qual << 2)).astype(np.uint8)
    cols[rng.random(base.shape) < NO_CALL_RATE] = 0
    return cols, rng.random(n) >= FAIL_FILTER_SHARE


def generate(out, seed, with_fastq):
    rng = np.random.default_rng(seed)
    barcodes = _barcodes(rng)
    run = os.path.join(out, "run")
    os.makedirs(run, exist_ok=True)
    _write_info(run, out, barcodes)
    fastq = _FastqWriter(os.path.join(out, "fastq")) if with_fastq else None
    bc_ascii = BASES[barcodes]
    counts = {s: 0 for s in SAMPLES}
    prq = {s: 0 for s in SAMPLES}
    sam, clusters, pf = 0, 0, 0
    n = CLUSTERS_PER_TILE
    hdr = np.uint32(n).tobytes()
    for lane in range(1, LANES + 1):
        lane_dir = os.path.join(run, f"L{lane:03d}")
        for t in range(TILES_PER_LANE):
            tile = 1101 + t
            cols, passes = _tile(rng, barcodes, n)
            for c in range(cols.shape[1]):
                cdir = os.path.join(lane_dir, f"C{c + 1}.1")
                os.makedirs(cdir, exist_ok=True)
                with open(os.path.join(cdir, f"s_{lane}_{tile}.bcl"), "wb") as f:
                    f.write(hdr + cols[:, c].tobytes())
            with open(os.path.join(lane_dir, f"s_{lane}_{tile}.filter"), "wb") as f:
                f.write(hdr + passes.astype(np.uint8).tobytes())
            xy = np.stack([rng.uniform(0, 2048, n), rng.uniform(0, 20000, n)],
                          axis=1).astype("<f4")
            with open(os.path.join(lane_dir, f"s_{lane}_{tile}.locs"), "wb") as f:
                f.write(np.int32(1).tobytes() + np.float32(1.0).tobytes() +
                        hdr + xy.tobytes())

            # truth: the demux rule applied to the decoded (no-call aware) index
            b, q = _decode(cols)
            idx = b[:, R1:R1 + INDEX]
            dist = (idx[:, None, :] != bc_ascii[None]).sum(axis=2)
            hits = dist <= 1
            sample = np.where(hits.sum(axis=1) == 1, hits.argmax(axis=1), -1)
            clusters += n
            pf += int(passes.sum())
            keep = np.nonzero(passes)[0]
            s1, q1 = _strings(b[keep, :R1]), _strings(q[keep, :R1])
            s2 = _strings(b[keep, R1 + INDEX:])
            q2 = _strings(q[keep, R1 + INDEX:])
            ix = _strings(idx[keep])
            for j, i in enumerate(keep.tolist()):
                rid = f"{lane}_{tile}_{i}"
                k = sample[i]
                if fastq:
                    fastq.write(SAMPLES[k] if k >= 0 else None, lane, rid,
                                ix[j], s1[j], q1[j], s2[j], q2[j])
                if k < 0:
                    continue
                name = SAMPLES[k]
                counts[name] += 1
                prq[name] += line_hash(f"{rid}\t{s1[j]}\t{q1[j]}\t{s2[j]}\t{q2[j]}")
                for line in sam_lines(rid, s1[j], q1[j], s2[j], q2[j]):
                    sam += line_hash(line)
    if fastq:
        fastq.close()
    return {
        "clusters": clusters, "pf": pf,
        "counts": {s: c for s, c in counts.items() if c},
        "prq": {s: d % DIGEST_MOD for s, d in prq.items() if counts[s]},
        "sam_records": 2 * sum(counts.values()),
        "sam": sam % DIGEST_MOD}


class _FastqWriter:
    """bcl2fastq-style per-(sample, lane) gzip FASTQ pairs."""

    def __init__(self, out):
        os.makedirs(out, exist_ok=True)
        self.out = out
        self.numbers = {s: k + 1 for k, s in enumerate(SAMPLES)}
        self.files = {}

    def write(self, sample, lane, rid, idx, s1, q1, s2, q2):
        name = sample or "Undetermined"
        pair = self.files.get((name, lane))
        if pair is None:
            stem = f"{name}_S{self.numbers.get(name, 0)}_L{lane:03d}"
            pair = self.files[(name, lane)] = [
                gzip.open(os.path.join(self.out, f"{stem}_R{r}_001.fastq.gz"),
                          "wt", compresslevel=1) for r in (1, 2)]
        pair[0].write(f"@{rid} 1:N:0:{idx}\n{s1}\n+\n{q1}\n")
        pair[1].write(f"@{rid} 2:N:0:{idx}\n{s2}\n+\n{q2}\n")

    def close(self):
        for pair in self.files.values():
            for f in pair:
                f.close()
