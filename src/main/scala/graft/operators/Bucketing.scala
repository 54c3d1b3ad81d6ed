package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bucketed-table layout: the co-located-join primitive (reference analogue:
  * the demux sink's per-sample partitioning that stage 2 reads back without
  * re-shuffling, `workflow.py`'s fan-out contract — generalized to the
  * equi-join case every warehouse hits).
  *
  * `bucketBy(n, key).sortBy(key)` at write time pre-shuffles AND pre-sorts
  * each file set by join key; two tables bucketed the same way then
  * sort-merge join with ZERO Exchange and ZERO per-query Sort — the join
  * cost at 100 TB collapses to a streaming zip of co-numbered buckets.
  * This is the "pay the shuffle once at ingest, never per query" pattern:
  * fact tables re-joined daily on the same key should land bucketed, which
  * is why it's exposed as a first-class sink + join here rather than a
  * conf flag. BucketingSpec asserts the no-Exchange / no-Sort plan shape;
  * the catalog entry proves result parity against the plain join oracle.
  *
  * Bucket-count choice at scale: buckets ≈ table bytes / target task input
  * (128–256 MB); both join sides MUST agree on count (Spark joins
  * mismatched counts by shuffling the smaller — still correct, no longer
  * free), so pick per key-domain, not per table.
  */
object Bucketing {

  /** Write `df` as a managed parquet table bucketed + in-bucket sorted on
    * `key`. Overwrites. The table lives in the session warehouse dir. */
  def writeBucketed(df: DataFrame, table: String, key: String,
                    buckets: Int): Unit = {
    require(buckets >= 1, s"buckets=$buckets")
    val spark = df.sparkSession
    // a crashed previous writer can leave the catalog entry gone but the
    // warehouse directory behind; overwrite mode refuses that orphan
    // location, so drop + clear it explicitly (idempotent)
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val loc = new org.apache.hadoop.fs.Path(wh, table.toLowerCase)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    // one file per bucket: without the pre-repartition every write task
    // emits its own file into every bucket (nTasks × nBuckets small
    // files) AND Spark distrusts the per-bucket sort at read time (a
    // bucket split over files has no global order), re-inserting the
    // Sort this layout exists to eliminate
    df.repartition(buckets, org.apache.spark.sql.functions.col(key))
      .write.format("parquet")
      .bucketBy(buckets, key).sortBy(key)
      .mode("overwrite").saveAsTable(table)
  }

  /** Equi-join two same-bucketed tables on `key` as a sort-merge join —
    * the `merge` hint pins SMJ (a small side would otherwise broadcast and
    * silently skip the bucketed path being exercised); with both sides
    * bucketed on `key` with equal counts the plan has no Exchange and no
    * Sort. The join runs in its own `newSession()` (managed tables are
    * shared across sessions), so its conf never reaches the caller's. */
  def bucketedJoin(spark: SparkSession, left: String, right: String,
                   key: String): DataFrame = {
    // Spark ≥3.0 ignores bucket sort order by default (reading it needs a
    // planning-time file listing, `spark.sql.legacy.bucketedTableScan.
    // outputOrdering`); with writeBucketed's one-file-per-bucket layout
    // that listing is bucket-count-cheap and buys Sort elimination on
    // every downstream join, so this engine turns it on at the join site
    val ns = spark.newSession()
    ns.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    ns.table(left).hint("merge")
      .join(ns.table(right).hint("merge"), key)
  }
}
