package graft

import org.apache.spark.sql.functions._

import graft.operators.{SimOps, TextOps}

class VectorExprsSpec extends SparkSpec {
  import spark.implicits._

  /** The round-1 interpreted HOF formulation dot_product must replay
    * bit-for-bit (same products, same left fold from 0.0). */
  private val hofDot =
    """aggregate(zip_with(a, b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
      |  CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)""".stripMargin

  test("dot_product is bit-identical to the aggregate(zip_with) fold on real embeddings") {
    val e = graft.sources.Tables(spark, sf("sf0.001"), "embeddings")
    // every unordered pair of the first 40 vectors, both float arrays
    val l = e.filter(col("vec_id") < 40).select(col("vec_id").as("ia"), col("embedding").as("a"))
    val r = e.filter(col("vec_id") < 40).select(col("vec_id").as("ib"), col("embedding").as("b"))
    val both = l.crossJoin(r)
      .selectExpr("ia", "ib", "dot_product(a, b) AS fast", s"$hofDot AS slow")
      .collect()
    assert(both.length === 1600)
    both.foreach { row =>
      val (fast, slow) = (row.getDouble(2), row.getDouble(3))
      assert(java.lang.Double.doubleToRawLongBits(fast)
          === java.lang.Double.doubleToRawLongBits(slow),
        s"pair (${row.get(0)}, ${row.get(1)}): $fast != $slow")
    }
  }

  test("dot_product handles mixed float/double arrays and mismatched lengths") {
    val out = Seq((Array(1.0f, 2.0f, 3.0f), Array(0.5, 0.25, 2.0)))
      .toDF("a", "b")
      .selectExpr("dot_product(a, b) AS d").head.getDouble(0)
    assert(out === 1.0 * 0.5 + 2.0 * 0.25 + 3.0 * 2.0)
    val mismatch = Seq((Array(1.0f, 2.0f), Array(1.0f)))
      .toDF("a", "b").selectExpr("dot_product(a, b) AS d").head
    assert(mismatch.isNullAt(0), "length mismatch must yield NULL like zip_with padding")
  }

  test("dot_product interpreted eval and codegen agree") {
    val df = graft.sources.Tables(spark, sf("sf0.001"), "embeddings")
      .selectExpr("dot_product(embedding, embedding) AS d")
    val codegen = df.agg(sum("d")).head.getDouble(0)
    withSQLConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      assert(df.agg(sum("d")).head.getDouble(0) === codegen)
    }
  }

  test("simhash_bits is identical to the nested-aggregate HOF formulation") {
    val docs = graft.sources.Tables(spark, sf("sf0.001"), "documents")
    val hs = s"transform(array_distinct(split(text, ' ')), t -> ${TextOps.h60x("t")})"
    val hof = docs.selectExpr("doc_id",
      s"""aggregate(transform(sequence(0, 31), b ->
         |  CASE WHEN aggregate($hs, 0L,
         |         (acc, h) -> acc + ((h div CAST(pow(2.0, b) AS BIGINT)) % 2L) * 2L - 1L) >= 0L
         |       THEN CAST(pow(2.0, b) AS BIGINT) ELSE 0L END),
         |  0L, (acc, x) -> acc + x) AS simhash""".stripMargin)
    val native = docs.selectExpr("doc_id", s"simhash_bits($hs, 32) AS simhash")
    assert(native.exceptAll(hof).count() === 0)
    assert(hof.exceptAll(native).count() === 0)
  }

  /** The replaced four-HOF quantization pipeline (max-abs aggregate, two
    * transforms, mse aggregate(zip_with)) — int8_quant must replay it
    * bit-for-bit on real embeddings. */
  private val hofQuant =
    """named_struct(
      |  'qscale', qscale,
      |  'qvec', qvec,
      |  'sum_q_abs', aggregate(qvec, 0L, (a, q) -> a + abs(q)),
      |  'mse', CASE WHEN size(embedding) = 0 THEN NULL ELSE
      |    aggregate(zip_with(embedding, qvec, (x, q) ->
      |        (CAST(x AS DOUBLE) - q * qscale)
      |          * (CAST(x AS DOUBLE) - q * qscale)),
      |      CAST(0.0 AS DOUBLE), (a, e) -> a + e) / size(embedding)
      |  END)""".stripMargin

  test("int8_quant is bit-identical to the four-HOF formulation on real embeddings") {
    val e = graft.sources.Tables(spark, sf("sf0.001"), "embeddings")
    val hof = e
      .withColumn("qscale", expr(
        """aggregate(embedding, CAST(0.0 AS DOUBLE),
          |  (m, x) -> greatest(m, abs(CAST(x AS DOUBLE)))) / 127.0D""".stripMargin))
      .withColumn("qvec", expr(
        """CASE WHEN qscale = 0.0D THEN transform(embedding, x -> 0L)
          |ELSE transform(embedding, x ->
          |  CAST(greatest(-127.0D, least(127.0D,
          |    floor(CAST(x AS DOUBLE) / qscale + 0.5D))) AS BIGINT)) END""".stripMargin))
      .selectExpr("vec_id", s"$hofQuant AS q")
    val native = e.selectExpr("vec_id", "int8_quant(embedding) AS q")
    // exceptAll compares doubles bit-wise through the row hash — both
    // directions empty means every field of every struct is identical
    assert(native.exceptAll(hof).count() === 0)
    assert(hof.exceptAll(native).count() === 0)
  }

  test("int8_quant edge cases: empty, zero, and null-element vectors") {
    val df = Seq(
      (1L, Some(Array(1.0f, -2.0f, 0.5f))),
      (2L, Some(Array.empty[Float])),
      (3L, Some(Array(0.0f, 0.0f))),
      (4L, None))
      .toDF("id", "embedding")
      .selectExpr("id", "int8_quant(embedding) AS q")
    val rows = df.collect().map(r => r.getLong(0) -> r).toMap
    val one = rows(1L).getStruct(1)
    assert(one.getDouble(0) === 2.0 / 127.0) // max-abs/127
    assert(one.getSeq[Long](1) === Seq(64L, -127L, 32L)) // floor(x/s + .5)
    assert(one.getLong(2) === 64L + 127L + 32L)
    assert(one.getDouble(3) > 0.0)
    val empty = rows(2L).getStruct(1)
    assert(empty.getDouble(0) === 0.0 && empty.getSeq[Long](1).isEmpty
      && empty.getLong(2) === 0L && empty.isNullAt(3), "empty vector: zero stats, NULL mse")
    val zeros = rows(3L).getStruct(1)
    assert(zeros.getDouble(0) === 0.0 && zeros.getSeq[Long](1) === Seq(0L, 0L)
      && zeros.getDouble(3) === 0.0, "zero vector quantizes to all-zero codes, mse 0")
    assert(rows(4L).isNullAt(1), "NULL vector yields NULL struct")
  }

  test("int8_quant interpreted eval and codegen agree") {
    val df = graft.sources.Tables(spark, sf("sf0.001"), "embeddings")
      .selectExpr("vec_id", "int8_quant(embedding) AS q")
      .selectExpr("vec_id", "q.qscale", "q.qvec", "q.sum_q_abs", "q.mse")
    val codegen = df.collect()
    withSQLConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      val interp = df.collect()
      assert(interp === codegen)
    }
  }

  test("poly_fingerprint is identical to the aggregate(transform) HOF formulation") {
    val docs = graft.sources.Tables(spark, sf("sf0.001"), "documents")
      .withColumn("tk", split(col("text"), " "))
    val hof = docs.selectExpr("doc_id",
      s"""aggregate(transform(tk, t -> ${TextOps.h60x("t")} % 1000003L),
         |  7L, (acc, x) -> (acc * 31L + x) % 1000000007L) AS fp""".stripMargin)
    val native = docs.selectExpr("doc_id", "poly_fingerprint(tk) AS fp")
    assert(native.exceptAll(hof).count() === 0)
    assert(hof.exceptAll(native).count() === 0)
  }

  test("poly_fingerprint edge cases and interpreted/codegen agreement") {
    val df = Seq(
      (1L, Some(Seq(Some("alpha"), Some("beta")))),
      (2L, Some(Seq.empty[Option[String]])),   // empty → init 7
      (3L, Some(Seq(Some("alpha"), None))),    // NULL token poisons
      (4L, None))                              // NULL array
      .toDF("id", "tk")
      .selectExpr("id", "poly_fingerprint(tk) AS fp")
    val codegen = df.collect()
    val byId = codegen.map(r => r.getLong(0) -> r).toMap
    assert(byId(2L).getLong(1) === 7L)
    assert(byId(3L).isNullAt(1) && byId(4L).isNullAt(1))
    withSQLConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      assert(df.collect() === codegen)
    }
  }

  test("h60 native expression is bit-identical to the CONV(SUBSTRING(MD5)) chain") {
    val convChain = (x: String) =>
      s"CAST(CONV(SUBSTRING(MD5($x), 1, 15), 16, 10) AS BIGINT)"
    // real corpus text AND every exploded token (covers multi-byte UTF-8,
    // punctuation, numerics — everything the hot paths hash)
    val docs = graft.sources.Tables(spark, sf("sf0.001"), "documents")
    val full = docs.selectExpr(
      s"h60(text) AS fast", s"${convChain("text")} AS slow")
      .filter("fast IS DISTINCT FROM slow").count()
    assert(full === 0L, "whole-text hashes must agree")
    val tokens = docs.selectExpr("explode(split(text, ' ')) AS t")
      .selectExpr(s"h60(t) AS fast", s"${convChain("t")} AS slow")
      .filter("fast IS DISTINCT FROM slow").count()
    assert(tokens === 0L, "per-token hashes must agree")
    // edge cases: empty string hashes like md5(''), NULL propagates,
    // and the JVM constant derivation matches the expression
    val edge = spark.sql(
      s"SELECT h60(''), ${convChain("''")}, h60(CAST(NULL AS STRING)), h60('p_1_0')")
      .head
    assert(edge.getLong(0) === edge.getLong(1))
    assert(edge.isNullAt(2))
    assert(edge.getLong(3) === graft.functions.Scalars.h60Jvm("p_1_0"))
  }

  test("h60 interpreted eval and codegen agree") {
    val df = graft.sources.Tables(spark, sf("sf0.001"), "documents")
      .selectExpr("doc_id", "h60(text) % 1000000007L AS h") // modded: raw 60-bit sums overflow
    val codegen = df.agg(sum("h")).head.getLong(0)
    withSQLConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      assert(df.agg(sum("h")).head.getLong(0) === codegen)
    }
  }

  test("l2_sq is identical to the unrolled element_at difference chain it replaced") {
    val mv = graft.sources.Tables(spark, sf("sf0.001"), "embeddings")
      .selectExpr("vec_id",
        "transform(embedding, x -> floor(CAST(x AS DOUBLE) * 1000000.0D + 0.5D)) AS mvec")
    val l = mv.filter(col("vec_id") < 30).select(col("vec_id").as("ia"), col("mvec").as("a"))
    val r = mv.filter(col("vec_id") < 30).select(col("vec_id").as("ib"), col("mvec").as("b"))
    val unrolled = (1 to 64)
      .map(i => s"((element_at(a, $i) - element_at(b, $i)) * " +
        s"(element_at(a, $i) - element_at(b, $i)))")
      .mkString(" + ")
    val both = l.crossJoin(r)
      .selectExpr("ia", "ib", "l2_sq(a, b) AS fast", s"$unrolled AS slow")
      .collect()
    assert(both.length === 900)
    both.foreach(row => assert(row.getLong(2) === row.getLong(3),
      s"pair (${row.get(0)}, ${row.get(1)})"))
  }

  test("l2_sq null conventions and interpreted/codegen agreement") {
    val df = Seq(
      (1L, Some(Seq(1L, 2L, 3L)), Some(Seq(4L, 6L, 3L))),
      (2L, Some(Seq(1L, 2L)), Some(Seq(1L))), // length mismatch
      (3L, None, Some(Seq(1L))))              // null array
      .toDF("id", "a", "b")
      .selectExpr("id", "l2_sq(a, b) AS d")
    val codegen = df.collect()
    val byId = codegen.map(r => r.getLong(0) -> r).toMap
    assert(byId(1L).getLong(1) === 9L + 16L + 0L)
    assert(byId(2L).isNullAt(1) && byId(3L).isNullAt(1))
    withSQLConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      assert(df.collect() === codegen)
    }
  }

  test("jl_project is identical to the unrolled jlSigns literal sums it replaced") {
    val (dim, outDim) = (64, 8)
    val signs = SimOps.jlSigns(dim, outDim)
    val mv = graft.sources.Tables(spark, sf("sf0.001"), "embeddings")
      .selectExpr("vec_id",
        "transform(embedding, x -> floor(CAST(x AS DOUBLE) * 1000000.0D + 0.5D)) AS mvec")
    val unrolledCols = (0 until outDim).map { j =>
      val terms = (1 to dim)
        .map(i => s"(${signs(j)(i - 1)}L * element_at(mvec, $i))")
        .mkString(" + ")
      s"($terms) AS s$j"
    }
    val both = mv
      .selectExpr(Seq("vec_id", s"jl_project(mvec, $dim, $outDim) AS p") ++ unrolledCols: _*)
      .collect()
    assert(both.nonEmpty)
    both.foreach { row =>
      val p = row.getSeq[Long](1)
      (0 until outDim).foreach(j =>
        assert(p(j) === row.getLong(2 + j), s"vec ${row.get(0)} dim $j"))
    }
  }

  test("jl_project null conventions and interpreted/codegen agreement") {
    val df = Seq(
      (1L, Some(Seq(3L, -2L, 5L, 7L))),
      (2L, Some(Seq(1L, 2L))), // wrong length vs dim=4
      (3L, None))
      .toDF("id", "mvec")
      .selectExpr("id", "jl_project(mvec, 4, 2) AS p")
    val codegen = df.collect()
    val byId = codegen.map(r => r.getLong(0) -> r).toMap
    val signs = SimOps.jlSigns(4, 2)
    val expect = (0 until 2).map(j =>
      (1 to 4).map(i => signs(j)(i - 1).toLong * Seq(3L, -2L, 5L, 7L)(i - 1)).sum)
    assert(byId(1L).getSeq[Long](1) === expect)
    assert(byId(2L).isNullAt(1) && byId(3L).isNullAt(1))
    withSQLConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      assert(df.collect() === codegen)
    }
  }

  test("simhash_bits interpreted eval and codegen agree") {
    val df = Seq(
      (1L, Array(7L, 12L, 255L, 1023L)),
      (2L, Array(0L, 1L)),
      (3L, Array.empty[Long]))
      .toDF("id", "hs")
      .selectExpr("id", "simhash_bits(hs, 32) AS s")
    val codegen = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // empty array: every bit vote is 0 >= 0, so all 32 bits set
    assert(codegen(3L) === (1L << 32) - 1L)
    withSQLConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      val interp = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(interp === codegen)
    }
  }

}
