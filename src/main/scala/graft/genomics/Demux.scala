package graft.genomics

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._

/** Barcode demultiplexing (SURVEY §2A R4): route each read pair to its
  * sample by index-read barcode with up to one mismatch; non-matching reads
  * go to the `Undetermined` pseudo-sample (`workflow.py:375-378`).
  *
  * Instead of a per-read hamming distance against every barcode, the
  * (tiny) samplesheet is EXPANDED on the driver to all of its ≤1-mismatch
  * variants, a plain `Map` from variant to sample, and each read looks its
  * barcode up in the decode stage: O(1) per read, no join, no shuffle and
  * no Spark job of its own. b barcodes × (1 + 4·len) variants is hundreds
  * of entries, shipped in the task closure. Ambiguous variants (within
  * distance 1 of two samples) are dropped from the dictionary → such reads
  * fall through to Undetermined, the conservative standard behavior.
  *
  * Scale note (SURVEY §7.4 #3): Undetermined is the classic hot key. The
  * demux itself doesn't shuffle, and the partitioned sink spreads reads by
  * id, so every writer holds an equal share of every sample and the hot
  * key costs nothing extra; AQE skew handling covers any downstream
  * groupBy(sample).
  */
object Demux {

  val Undetermined = "Undetermined"

  /** All exact + 1-mismatch variants of a barcode. */
  def variants(bc: String): Seq[String] =
    bc +: (for {
      i <- bc.indices
      b <- "ACGTN" if b != bc(i)
    } yield bc.updated(i, b))

  /** samplesheet(sample, barcode) → barcode variant → sample, variants
    * that reach more than one sample removed. */
  def dictionary(sheet: Seq[(String, String)]): Map[String, String] =
    sheet.flatMap { case (sample, bc) => variants(bc).map(_ -> sample) }
      .groupMap(_._1)(_._2)
      .collect { case (v, ss) if ss.distinct.size == 1 => v -> ss.head }

  /** Assign samples; unmatched barcodes become Undetermined. */
  def demux(reads: Dataset[PrqRead], sheet: Seq[(String, String)]): Dataset[PrqRead] = {
    import reads.sparkSession.implicits._
    val dict = dictionary(sheet)
    reads.map(r => r.copy(sample = dict.getOrElse(r.barcode, Undetermined)))
  }

  /** R8: drop the Undetermined pseudo-sample before alignment. */
  def dropUndetermined(reads: Dataset[PrqRead]): Dataset[PrqRead] =
    reads.filter(col("sample") =!= Undetermined)
}
