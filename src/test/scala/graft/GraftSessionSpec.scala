package graft

import java.util.concurrent.atomic.AtomicInteger

/** The run clock Bench and ScaleSmoke share: what `Clock.timed` clears
  * before t0 and which stages its counters hold. */
class GraftSessionSpec extends SparkSpec {

  test("Clock.timed starts from an empty block manager and counts only its body's stages") {
    // a previous run's eager checkpoint: pinned until someone unpersists it
    spark.range(1000L).toDF("id").localCheckpoint(eager = true)
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty)
    val clock = new GraftSession.Clock(spark)
    try {
      var pinnedInside = -1
      val r = clock.timed {
        pinnedInside = spark.sparkContext.getPersistentRDDs.size
        spark.range(2000000L).selectExpr("sum(id)").collect()
      }
      assert(pinnedInside === 0)
      assert(r.wall > 0.0)
      assert(r.taskSec > 0.0)
      assert(r.cpuSec > 0.0)
      // counters reset at each run: stages outside a body never count
      spark.range(2000000L).selectExpr("sum(id)").collect()
      val empty = clock.timed(())
      assert(empty.taskSec === 0.0)
    } finally clock.close()
  }
}
