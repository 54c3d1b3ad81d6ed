# Stand-in aligner for the genomics workload: PRQ lines in
# (id, seq1, qual1, seq2, qual2), SAM out on stdout: a header line, then a
# 99/147 mate pair per read, the shape of SyntheticRun.writeMockAligner with
# read-length CIGARs. The position derives from the read id's trailing
# number, so output does not depend on partitioning. Every line also goes
# to the file named by -v out, which the output check reads.
BEGIN {
  FS = "\t"; OFS = "\t"
  hd = "@HD\tVN:1.6\tSO:unsorted"
  print hd; print hd > out
}
{
  n = split($1, f, /[_:]/)
  p = (f[n] + 1) * 10
  l1 = length($2); l2 = length($4)
  a = $1 OFS 99 OFS "chr1" OFS p OFS 60 OFS l1 "M" OFS "=" OFS (p + l1) OFS (l1 + l2) OFS $2 OFS $3 OFS "NM:i:0"
  b = $1 OFS 147 OFS "chr1" OFS (p + l1) OFS 60 OFS l2 "M" OFS "=" OFS p OFS (-(l1 + l2)) OFS $4 OFS $5 OFS "NM:i:0"
  print a; print b
  print a > out; print b > out
}
