package graft

import org.apache.spark.sql.functions._

import graft.functions.{CmsSketch, Scalars}
import graft.operators.TextOps

class CmsSketchSpec extends SparkSpec {
  import spark.implicits._
  import CmsSketch.{D, W}

  private def sketch(df: org.apache.spark.sql.DataFrame): Array[Long] = {
    df.agg(expr("cms_sketch(v)").as("cms"))
      .head.getSeq[Long](0).toArray
  }

  private def reference(values: Seq[String]): Array[Long] = {
    val buf = new Array[Long](D * W)
    values.foreach { s =>
      (0 until D).foreach { d =>
        buf(d * W + (Scalars.h60Jvm(s"$d:$s") % W).toInt) += 1L
      }
    }
    buf
  }

  test("counters match a JVM reference implementation (seeded-h60, deterministic)") {
    val values = (1 to 800).map(i => s"tok${i % 97}")
    assert(sketch(values.toDF("v")).toSeq === reference(values).toSeq)
  }

  test("merge across partitionings is exact: 1 partition == 16 partitions") {
    val df = (1 to 3000).map(i => s"w${i % 211}").toDF("v")
    assert(sketch(df.coalesce(1)).toSeq === sketch(df.repartition(16)).toSeq)
  }

  test("point estimate never underestimates and is exact without collisions") {
    val values = (1 to 500).flatMap(i => Seq.fill(i % 7 + 1)(s"item$i"))
    val exact = values.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val est = values.toDF("v")
      .agg(expr("cms_sketch(v)").as("cms"))
      .crossJoin(exact.keys.toSeq.toDF("t"))
      .select(col("t"), CmsSketch.estimateCol(col("cms"), col("t")).as("e"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, c) =>
      assert(est(k) >= c, s"CMS must never underestimate ($k: ${est(k)} < $c)")
    }
    // 500 distinct over 4x256 counters: some row of the 4 is collision-free
    // for MOST items; at least the minimum must stay within the 2N/W bound
    val n = values.size.toLong
    exact.foreach { case (k, c) =>
      assert(est(k) - c <= 2L * n / W + c,
        s"overcount for $k (${est(k) - c}) above the CM bound")
    }
  }

  test("null input is ignored, not counted") {
    val withNulls = Seq(Some("a"), None, Some("a"), None).toDF("v")
    val justAs = Seq("a", "a").toDF("v")
    assert(sketch(withNulls).toSeq === sketch(justAs).toSeq)
  }

  test("weighted update over grouped counts equals unit updates over the raw stream") {
    val raw = Seq("the", "cat", "the", "dog", "the", "cat").toDF("v")
    val grouped = raw.groupBy("v")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("c"))
    val unit = raw.selectExpr("cms_sketch(v) AS s").head.getSeq[Long](0)
    val weighted = grouped.selectExpr("cms_sketch(v, c) AS s").head.getSeq[Long](0)
    assert(weighted === unit,
      "count-weighted sketch must be identical to the raw-stream sketch")
  }

  test("cmsTokenCensus: estimates >= exact, top-k ordered, overcount consistent") {
    val docs = Seq(
      (1L, "the cat sat on the mat the cat"),
      (2L, "the dog sat on the log"),
      (3L, "a cat and a dog and a bird"))
      .toDF("doc_id", "text")
    val rows = TextOps.cmsTokenCensus(docs, topK = 5).collect()
    assert(rows.length === 5)
    assert(rows.head.getAs[String]("t") === "the", "corpus top token")
    assert(rows.head.getAs[Long]("exact_c") === 5L)
    val counts = rows.map(_.getAs[Long]("exact_c"))
    assert(counts.toSeq === counts.sortBy(-_).toSeq, "descending by exact count")
    rows.foreach { r =>
      assert(r.getAs[Long]("cms_est") >= r.getAs[Long]("exact_c"))
      assert(r.getAs[Long]("overcount") ===
        r.getAs[Long]("cms_est") - r.getAs[Long]("exact_c"))
    }
  }
}
