package graft

import org.apache.spark.sql.functions._

import graft.functions.{HllSketch, Scalars}

class HllSketchSpec extends SparkSpec {
  import spark.implicits._

  private def sketch(df: org.apache.spark.sql.DataFrame, colName: String) = {
    df.agg(expr(s"hll_sketch(CAST($colName AS STRING))").as("sk"))
      .select("sk.v_zero", "sk.mmax", "sk.num", "sk.registers")
      .head
  }

  test("registers match a JVM reference implementation (h60-derived, deterministic)") {
    val values = (1 to 500).map(_.toString)
    val expected = new Array[Long](64)
    values.foreach { v =>
      val h = Scalars.h60Jvm(v)
      val idx = (h % 64).toInt
      val w = h / 64
      val rho = if (w == 0L) 55L else 55L - (64 - java.lang.Long.numberOfLeadingZeros(w))
      if (rho > expected(idx)) expected(idx) = rho
    }
    val row = sketch(values.toDF("v"), "v")
    assert(row.getSeq[Long](3).toArray.toSeq === expected.toSeq)
    assert(row.getLong(0) === expected.count(_ == 0L).toLong)
    assert(row.getLong(1) === expected.max)
  }

  test("merge across partitionings is exact: 1 partition == 16 partitions") {
    val df = (1 to 2000).map(i => s"user$i").toDF("v")
    val one = sketch(df.coalesce(1), "v")
    val many = sketch(df.repartition(16), "v")
    assert(one.toString === many.toString)
  }

  test("duplicates do not move the sketch; estimate tracks distinct count") {
    val distinct = (1 to 1000).map(i => s"u$i")
    val withDups = distinct ++ distinct ++ distinct.take(300)
    val a = sketch(distinct.toDF("v"), "v")
    val b = sketch(withDups.toDF("v"), "v")
    assert(a.toString === b.toString, "duplicate values must not change registers")
    // raw HLL with m=64: standard error ~13%; allow 3 sigma
    val est = 0.7213 / (1.0 + 1.079 / 64.0) * 4096.0 *
      math.pow(2.0, a.getLong(1).toDouble) / a.getLong(2).toDouble
    assert(math.abs(est - 1000.0) / 1000.0 < 0.4, s"estimate $est too far from 1000")
  }

  test("small-range correction: linear counting kicks in and beats the raw estimate") {
    // tiny cardinalities are exactly where raw alpha*m^2/Z over-reads;
    // the corrected estimate must switch to linear counting (est <= 2.5m
    // and empty registers exist) and land near the true count
    for (n <- Seq(1, 5, 20, 50)) {
      val row = (1 to n).map(i => s"v$i").toDF("v")
        .agg(expr("hll_sketch(v)").as("sk"))
        .select(
          expr(HllSketch.estimateSql("sk.mmax", "sk.num")).as("raw"),
          expr(HllSketch.correctedSql("sk.v_zero",
            HllSketch.estimateSql("sk.mmax", "sk.num"))).as("corrected"))
        .head
      val (raw, corrected) = (row.getDouble(0), row.getDouble(1))
      assert(math.abs(corrected - n) <= math.abs(raw - n) + 1e-9,
        s"n=$n: corrected $corrected worse than raw $raw")
      // linear counting with m=64 is near-exact this small
      assert(math.abs(corrected - n) / n < 0.25,
        s"n=$n: corrected $corrected too far off")
    }
    // large range: the switch must leave the raw estimate untouched
    val big = (1 to 5000).map(i => s"u$i").toDF("v")
      .agg(expr("hll_sketch(v)").as("sk"))
      .select(
        expr(HllSketch.estimateSql("sk.mmax", "sk.num")).as("raw"),
        expr(HllSketch.correctedSql("sk.v_zero",
          HllSketch.estimateSql("sk.mmax", "sk.num"))).as("corrected"))
      .head
    assert(big.getDouble(0) === big.getDouble(1),
      "above the 2.5m threshold the corrected estimate must be the raw one")
  }

  test("corrected estimate replays bit-for-bit in DuckDB-equivalent JVM arithmetic") {
    // the CASE ladder ships PRECOMPUTED literals: selecting lut[v_zero]
    // and multiplying by 64.0 must equal the Scala-side reference exactly
    val row = (1 to 12).map(i => s"x$i").toDF("v")
      .agg(expr("hll_sketch(v)").as("sk"))
      .select(col("sk.v_zero"),
        expr(HllSketch.correctedSql("sk.v_zero",
          HllSketch.estimateSql("sk.mmax", "sk.num"))).as("corrected"))
      .head
    val vZero = row.getLong(0)
    val expected = 64.0 * java.lang.Double.parseDouble(
      java.lang.Double.toString(math.log(64.0 / vZero)))
    assert(java.lang.Double.doubleToRawLongBits(row.getDouble(1))
      === java.lang.Double.doubleToRawLongBits(expected))
  }

  test("estimates are within tolerance on real grouped data (vs exact)") {
    val rows = graft.sources.Tables(spark, sf("sf0.01"), "events")
      .groupBy("event_type")
      .agg(expr("hll_sketch(CAST(user_id AS STRING))").as("sk"),
        countDistinct(col("user_id")).as("exact"))
      .select(col("event_type"),
        expr(HllSketch.estimateSql("sk.mmax", "sk.num")).as("est"),
        col("exact").cast("double"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (est, exact) = (r.getDouble(1), r.getDouble(2))
      assert(math.abs(est - exact) / exact < 0.4,
        s"${r.getString(0)}: estimate $est vs exact $exact")
    }
  }
}
