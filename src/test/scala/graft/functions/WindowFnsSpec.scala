package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** GapSessionId — the native session-id window function: boundary
  * semantics (exactly-at-gap merges; strictly-beyond splits), 1-based ids,
  * per-key isolation. */
class WindowFnsSpec extends SparkSpec {

  test("session_id: gap rule boundaries, 1-based ids, per-user isolation") {
    val s = spark
    import s.implicits._
    // user 1: 0, 1800 (exactly gap → same session), 3601 (1801 later →
    // NEW session), 3602; user 2: single event → session 1
    val df = Seq(
      (1L, 0L), (1L, 1800L), (1L, 3601L), (1L, 3602L),
      (2L, 50L)
    ).toDF("user_id", "epoch")
    val w = Window.partitionBy(col("user_id")).orderBy(col("epoch"))
    val got = df.withColumn("sess", expr("session_id(epoch, 1800L)").over(w))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got((1L, 0L)) === 1L)
    assert(got((1L, 1800L)) === 1L, "exactly-at-gap must merge")
    assert(got((1L, 3601L)) === 2L, "strictly beyond the gap must split")
    assert(got((1L, 3602L)) === 2L)
    assert(got((2L, 50L)) === 1L, "each key starts at session 1")
  }

  test("session_id equals the lag+cumsum spelling on fixture events") {
    val s = spark
    val ev = graft.core.Tables.events(s, sf001)
      .withColumn("epoch", col("ts").cast("long"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("epoch"), col("event_id"))
    val native = ev
      .withColumn("sess", expr("session_id(epoch, 1800L)").over(w))
    val gap = col("epoch") - lag(col("epoch"), 1).over(w)
    val classic = ev.withColumn("sess",
      sum(when(gap.isNull || gap > 1800, 1L).otherwise(0L))
        .over(w.rowsBetween(Window.unboundedPreceding, 0)))
    val a = native.select("event_id", "sess").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = classic.select("event_id", "sess").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a === b)
    assert(a.nonEmpty)
  }
}
