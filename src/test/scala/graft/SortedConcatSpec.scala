package graft

import org.apache.spark.sql.functions._

/** `sorted_multi_concat` (round-8 verdict item 1): the incremental
  * key-ordered concat aggregate must reproduce the collect_list →
  * sort_array → getField → array_join chain it replaces, byte for byte,
  * under partial aggregation (multi-partition input exercises
  * serialize/merge/deserialize). */
class SortedConcatSpec extends SparkSpec {
  import spark.implicits._

  private def corpus = (1 to 500).map { i =>
    val g = i % 7
    // keys deliberately non-monotone in insert order; value distinct from key
    (g, f"k${(i * 131) % 997}%03d-$i", s"<v$i/>", s"[t$i]")
  }.toDF("g", "k", "v", "t").repartition(5)

  test("matches the sort_array chain on both value columns") {
    val viaAgg = corpus.groupBy("g")
      .agg(expr("sorted_multi_concat(k, v, t)").as("j"))
      .select(col("g"), col("j.c0").as("vs"), col("j.c1").as("ts"))
    val viaChain = corpus.groupBy("g")
      .agg(sort_array(collect_list(struct(col("k"), col("v"), col("t")))).as("a"))
      .select(col("g"),
        array_join(col("a").getField("v"), "").as("vs"),
        array_join(col("a").getField("t"), "").as("ts"))
    val l = viaAgg.orderBy("g").collect()
    val r = viaChain.orderBy("g").collect()
    assert(l.toSeq == r.toSeq)
  }

  test("single-argument form concatenates the keys themselves in order") {
    val out = corpus.groupBy("g")
      .agg(expr("sorted_multi_concat(k).c0").as("ks"))
      .orderBy("g").collect()
    val exp = corpus.groupBy("g")
      .agg(array_join(array_sort(collect_list(col("k"))), "").as("ks"))
      .orderBy("g").collect()
    assert(out.toSeq == exp.toSeq)
  }

  test("null keys are skipped, null values contribute empty string") {
    val df = Seq(
      (1, Option("b"), Option("B")),
      (1, Option("a"), Option.empty[String]),
      (1, Option.empty[String], Option("dropped")),
      (1, Option("c"), Option("C"))
    ).toDF("g", "k", "v").repartition(3)
    val row = df.groupBy("g")
      .agg(expr("sorted_multi_concat(k, v).c0").as("s"))
      .head()
    // a → null (empty), b → B, c → C; the null-key row vanishes
    assert(row.getString(1) == "BC")
  }

  test("duplicate keys break ties on value columns, deterministically " +
    "across partitionings") {
    // Round-9 advice: a key-only sort left equal-key entries in
    // partial-merge arrival order — flaky output under any partitioning
    // change. Ties must order by the remaining columns (the sort_array
    // chain's full-struct order). 60 rows over 10 keys, 6 duplicates per
    // key, values shuffled so arrival order never equals sorted order.
    val rows = (0 until 60).map { i =>
      (1, f"k${i % 10}%02d", s"<v${(i * 37) % 60}/>", s"[t${(i * 53) % 60}]")
    }
    def run(parts: Int) = rows.toDF("g", "k", "v", "t").repartition(parts)
      .groupBy("g")
      .agg(expr("sorted_multi_concat(k, v, t)").as("j"))
      .select(col("j.c0").as("vs"), col("j.c1").as("ts"))
      .head()
    val chain = rows.toDF("g", "k", "v", "t").groupBy("g")
      .agg(sort_array(collect_list(struct(col("k"), col("v"), col("t")))).as("a"))
      .select(
        array_join(col("a").getField("v"), "").as("vs"),
        array_join(col("a").getField("t"), "").as("ts"))
      .head()
    val a = run(3)
    assert(a == chain, "tie order must match the full-struct sort_array chain")
    assert(run(7) == a && run(1) == a,
      "output must not depend on partition/merge arrival order")
  }

  test("binary key order matches DuckDB/string_agg collation on mixed bytes") {
    // 'Z' (0x5a) < 'a' (0x61) in binary order — the collation both
    // sort_array and DuckDB's default use; locale-aware sorts would flip it
    val df = Seq((1, "a1", "x"), (1, "Z9", "y")).toDF("g", "k", "v")
    val row = df.groupBy("g")
      .agg(expr("sorted_multi_concat(k, v).c0").as("s")).head()
    assert(row.getString(1) == "yx")
  }
}
