package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DmlScratch extends SparkSpec {
  private val s0 = spark
  import s0.implicits._

  test("scratch: SQL DELETE/UPDATE/MERGE through the snaplog catalog") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_dmlscr").toString
    val t = graft.operators.SnapshotLog.open(spark, tmp, "id")
    t.commitAppend((1L to 100L).map(i => (i, i * 10)).toDF("id", "n")
      .repartitionByRange(4, col("id")))

    // DELETE with a band condition → metadata path (deleteWhere)
    spark.sql(s"DELETE FROM graftsnap.`$tmp` WHERE id < 20")
    assert(t.read().count() == 81)

    // UPDATE → group-based COW
    spark.sql(s"UPDATE graftsnap.`$tmp` SET n = n + 1000 WHERE id BETWEEN 30 AND 40")
    assert(t.read().where(col("id") === 35L).select("n").as[Long].head() ==
      350L + 1000L)
    assert(t.read().count() == 81)

    // MERGE → group-based COW upsert
    (1L to 5L).map(i => (i + 95, i)).toDF("id", "n")
      .createOrReplaceTempView("scr_src2")
    spark.sql(
      s"MERGE INTO graftsnap.`$tmp` t USING scr_src2 s ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    assert(t.read().where(col("id") === 96L).select("n").as[Long].head() == 1L)
    assert(t.read().count() == 81, "5 matched updates, 0 inserts")

    // MERGE with real inserts
    (1L to 5L).map(i => (i + 200, i)).toDF("id", "n")
      .createOrReplaceTempView("scr_src3")
    spark.sql(
      s"MERGE INTO graftsnap.`$tmp` t USING scr_src3 s ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    assert(t.read().count() == 86)

    // complex DELETE (no band) → COW path
    spark.sql(s"DELETE FROM graftsnap.`$tmp` WHERE id % 2 = 0 AND n < 500")
    val expect = ((20L to 100L) ++ (201L to 205L))
      .map(i => (i, if (i >= 30 && i <= 40) i * 10 + 1000
                    else if (i >= 96 && i <= 100) i - 95
                    else if (i >= 201) i - 200
                    else i * 10))
      .filterNot { case (i, n) => i % 2 == 0 && n < 500 }
    assert(t.read().orderBy("id").as[(Long, Long)].collect().toSeq ==
      expect.sortBy(_._1), "final table must match the closed form")
  }
}
