package graft.queries

import org.apache.spark.sql.functions._

import graft.QueryDef, QueryDef.oracle
import graft.functions.Scalars
import graft.functions.Scalars.h60Sql
import graft.operators.{RefineOps, SampleOps, SimOps, TextOps}
import graft.sources.Tables

/** Corpus-refinement query family (q114+): keeper policies, intra-doc
  * repetition stripping, cross-source leakage, per-source keyword
  * profiles, dedup ROI, and the IVF nprobe tuning curve
  * ([[graft.operators.RefineOps]], [[graft.operators.SimOps]]).
  *
  * Oracle discipline: every double is either a single exact
  * division/multiply chain replayed verbatim (quality, tf-idf, cosine)
  * or avoided entirely via integer ppm — same rules as the rest of the
  * registry.
  */
object RefineQueries {

  /** DuckDB fragment: sequential double dot of two list columns (mirror
    * of [[graft.operators.SimOps.dotX]] — the q56/q76 form). */
  private def dotD(a: String, b: String): String =
    s"list_reduce([0.0::DOUBLE] || list_transform(range(1, len($a)+1), " +
      s"i -> $a[i]::DOUBLE * $b[i]::DOUBLE), (acc, x) -> acc + x)"

  /** DuckDB fragment: the q142-proven BM25 CTE chain for the literal
    * query `terms` — rational IDF, per-term ppm floor before the
    * cross-term sum — ending in `r(doc_id, score_ppm, n_tokens, "rank")`
    * ranked by (score desc, doc_id). Shared by q142 and the q157 RRF
    * fusion oracle so the lexical ranking can never skew between them. */
  private def bm25Ctes(terms: Seq[String]): String = {
    val inList = terms.map(t => s"'${t.replace("'", "''")}'").mkString(", ")
    s"""tk AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
       |lens AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS len FROM tk),
       |qt AS (
       |  SELECT doc_id, term
       |  FROM (SELECT doc_id, unnest(tk) AS term FROM tk)
       |  WHERE term IN ($inList)),
       |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
       |       FROM qt GROUP BY 1, 2),
       |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df
       |       FROM (SELECT DISTINCT doc_id, term FROM qt) GROUP BY 1),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |          CAST(sum(len) AS BIGINT) AS total_len FROM lens),
       |sc AS (
       |  SELECT tf.doc_id, lens.len,
       |    CAST(floor(
       |      ((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE))
       |        / (CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE)))
       |      * (CAST(tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE)))
       |      / (CAST(tf AS DOUBLE) + CAST(1.2 AS DOUBLE)
       |         * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
       |            + CAST(0.75 AS DOUBLE) * (CAST(len AS DOUBLE)
       |              / (CAST(total_len AS DOUBLE) / CAST(n_docs AS DOUBLE)))))
       |      * CAST(1000000.0 AS DOUBLE)) AS BIGINT) AS score_ppm
       |  FROM tf JOIN df USING (term)
       |  JOIN lens ON lens.doc_id = tf.doc_id CROSS JOIN tot),
       |ag AS (SELECT doc_id, CAST(sum(score_ppm) AS BIGINT) AS score_ppm,
       |         max(len) AS n_tokens FROM sc GROUP BY 1),
       |r AS (SELECT *, CAST(ROW_NUMBER() OVER
       |        (ORDER BY score_ppm DESC, doc_id) AS BIGINT) AS "rank" FROM ag)""".stripMargin
  }

  /** DuckDB fragment: per-doc quality score — verbatim the q113-proven
    * formula over `(doc_id, string_split tokens)`. Yields
    * `q(doc_id, quality)`. */
  /** q174's phrase — ONE Seq drives both the Spark call and the oracle
    * predicate (the q161 lockstep discipline). */
  private[queries] val PhraseQ: Seq[String] = Seq("slow", "hash", "batch")

  private val qualityCte: String =
    """SELECT doc_id,
      |    0.5 * (CAST(n_distinct AS DOUBLE) / n_tokens)
      |      + 0.3 * (1.0 - CAST(n_stop AS DOUBLE) / n_tokens)
      |      + 0.2 * least((CAST(sum_len AS DOUBLE) / n_tokens) / 8.0, 1.0)
      |      AS quality
      |  FROM (SELECT doc_id,
      |          CAST(len(tk) AS BIGINT) AS n_tokens,
      |          CAST(len(list_distinct(tk)) AS BIGINT) AS n_distinct,
      |          CAST(len(list_filter(tk,
      |            t -> list_contains(['the','a','of','and'], t))) AS BIGINT) AS n_stop,
      |          list_reduce([0::BIGINT] || list_transform(tk,
      |            t -> CAST(len(t) AS BIGINT)), (acc, x) -> acc + x) AS sum_len
      |        FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents))""".stripMargin

  /** DuckDB fragment: `(doc_id[, keep], lines)` — the fixed-width
    * token-window lines construction (mirror of [[TextOps.linesOf]], the
    * q110-proven form), parameterized by line width. */
  private def linesCte(lt: Int, keep: String = ""): String =
    s"""SELECT doc_id,$keep
       |    (CASE WHEN len(tk) = 0 THEN CAST([] AS VARCHAR[])
       |     ELSE list_transform(range(0, CAST(ceil(len(tk) / $lt.0) AS BIGINT)),
       |       i -> array_to_string(tk[i*$lt+1 : i*$lt+$lt], ' ')) END) AS lines
       |  FROM (SELECT doc_id,$keep string_split(text, ' ') AS tk FROM documents)""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // Quality-aware keeper: q34's manufactured-collision clusters, but
    // the argmax-quality copy wins instead of the first-seen one.
    oracle(
      "q114_quality_keeper",
      s"""WITH q AS ($qualityCte),
         |k AS (
         |  SELECT doc_id, md5(array_to_string(string_split(text, ' ')[1:3], ' ')) AS dedup_key
         |  FROM documents),
         |r AS (
         |  SELECT k.doc_id, k.dedup_key, q.quality,
         |    ROW_NUMBER() OVER (PARTITION BY k.dedup_key
         |      ORDER BY q.quality DESC, k.doc_id) AS rk
         |  FROM k JOIN q USING (doc_id)),
         |w AS (SELECT dedup_key, doc_id AS keeper_doc_id FROM r WHERE rk = 1)
         |SELECT r.doc_id, r.dedup_key, r.quality, w.keeper_doc_id,
         |  r.rk = 1 AS kept
         |FROM r JOIN w USING (dedup_key)
         |ORDER BY r.doc_id""",
      "Refine: quality-argmax dedup keeper (keep the cleanest copy)") { (s, d) =>
      RefineOps.qualityKeeperDedup(Tables(s, d, "documents"),
          "md5(array_join(slice(split(text, ' '), 1, 3), ' '))")
        .orderBy("doc_id")
    },

    // Intra-document repeated-line strip: zero-shuffle per-row HOF in
    // Spark; the oracle phrases the same first-occurrence semantics as
    // a window.
    oracle(
      "q115_within_doc_dedup",
      s"""WITH dl AS (${linesCte(2)}),
         |ex AS (
         |  SELECT doc_id, unnest(range(0, len(lines))) AS pos,
         |    unnest(lines) AS line
         |  FROM dl),
         |r AS (
         |  SELECT doc_id, pos, line,
         |    ROW_NUMBER() OVER (PARTITION BY doc_id, line ORDER BY pos) AS rk
         |  FROM ex),
         |kept AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
         |    string_agg(line, chr(10) ORDER BY pos) AS clean_text
         |  FROM r WHERE rk = 1 GROUP BY 1)
         |SELECT d.doc_id, CAST(len(d.lines) AS BIGINT) AS n_lines,
         |  coalesce(k.n_kept, 0)::BIGINT AS n_kept,
         |  CAST(len(d.lines) AS BIGINT) - coalesce(k.n_kept, 0)::BIGINT AS n_dropped,
         |  coalesce(k.clean_text, '') AS clean_text
         |FROM dl d LEFT JOIN kept k USING (doc_id)
         |ORDER BY d.doc_id""",
      "Refine: within-document repeated-line removal (zero-shuffle HOF)") { (s, d) =>
      RefineOps.dedupLinesWithinDoc(
          TextOps.linesOf(Tables(s, d, "documents"), lineTokens = 2))
        .orderBy("doc_id")
    },

    // Cross-source duplication leakage: exact shared-segment census per
    // source pair (q78's question, answered exactly).
    oracle(
      "q116_source_leakage",
      s"""WITH dl AS (${linesCte(8, " source,")}),
         |pres AS (
         |  SELECT DISTINCT source, seg
         |  FROM (SELECT source, unnest(lines) AS seg FROM dl)),
         |ps AS (SELECT source, CAST(count(*) AS BIGINT) AS n_segs
         |       FROM pres GROUP BY 1),
         |pairs AS (
         |  SELECT a.source AS source_a, b.source AS source_b,
         |    CAST(count(*) AS BIGINT) AS shared_segs
         |  FROM pres a JOIN pres b ON a.seg = b.seg AND a.source < b.source
         |  GROUP BY 1, 2)
         |SELECT p.source_a, p.source_b, p.shared_segs,
         |  pa.n_segs AS n_segs_a, pb.n_segs AS n_segs_b,
         |  (p.shared_segs * 1000000) // least(pa.n_segs, pb.n_segs)
         |    AS containment_ppm
         |FROM pairs p
         |JOIN ps pa ON pa.source = p.source_a
         |JOIN ps pb ON pb.source = p.source_b
         |ORDER BY p.source_a, p.source_b""",
      "Refine: cross-source shared-segment leakage matrix") { (s, d) =>
      RefineOps.sourceLeakageMatrix(Tables(s, d, "documents"), segTokens = 8)
        .orderBy("source_a", "source_b")
    },

    // Per-source TF-IDF keywords with the rational (log-free,
    // cross-engine-exact) IDF.
    oracle(
      "q117_tfidf_keywords",
      s"""WITH toks AS (
         |  SELECT doc_id, source, unnest(string_split(text, ' ')) AS term
         |  FROM documents),
         |tf AS (SELECT source, term, CAST(count(*) AS BIGINT) AS tf
         |       FROM toks GROUP BY 1, 2),
         |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df
         |       FROM (SELECT DISTINCT term, doc_id FROM toks) GROUP BY 1),
         |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
         |sc AS (
         |  SELECT tf.source, tf.term, tf.tf, df.df,
         |    CAST(tf.tf AS DOUBLE) * (CAST(nd.n_docs AS DOUBLE) / CAST(df.df AS DOUBLE))
         |      AS score
         |  FROM tf JOIN df USING (term) CROSS JOIN nd),
         |r AS (
         |  SELECT source, term, tf, df, score,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY source
         |      ORDER BY score DESC, term) AS BIGINT) AS "rank"
         |  FROM sc)
         |SELECT source, "rank", term, tf, df, score
         |FROM r WHERE "rank" <= 3
         |ORDER BY source, "rank"""",
      "Refine: per-source TF-IDF keywords (rational IDF, exact ranks)") { (s, d) =>
      RefineOps.tfidfKeywords(Tables(s, d, "documents"), topK = 3)
        .orderBy("source", "rank")
    },

    // Dedup ROI curve: what a keep-one-per-cluster pass would delete,
    // bucketed by cluster size.
    oracle(
      "q118_dedup_yield",
      """WITH keyed AS (
        |  SELECT md5(array_to_string(string_split(text, ' ')[1:3], ' ')) AS dedup_key,
        |    doc_id, n_chars
        |  FROM documents),
        |cl AS (
        |  SELECT dedup_key, CAST(count(*) AS BIGINT) AS cluster_size,
        |    CAST(sum(n_chars) AS BIGINT) AS cluster_chars,
        |    CAST(sum(n_chars) - arg_min(n_chars, doc_id) AS BIGINT) AS removable_chars
        |  FROM keyed GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_chars) AS BIGINT) AS total_chars FROM documents)
        |SELECT cl.cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
        |  CAST(sum(cl.cluster_chars) AS BIGINT) AS bucket_chars,
        |  CAST(sum(cl.removable_chars) AS BIGINT) AS removable_chars,
        |  (CAST(sum(cl.removable_chars) AS BIGINT) * 1000000) // tot.total_chars
        |    AS removable_ppm
        |FROM cl CROSS JOIN tot
        |GROUP BY cl.cluster_size, tot.total_chars
        |ORDER BY cl.cluster_size""",
      "Refine: dedup ROI curve (removable mass per cluster-size bucket)") { (s, d) =>
      RefineOps.dedupYieldCurve(Tables(s, d, "documents"),
        "md5(array_join(slice(split(text, ' '), 1, 3), ' '))")
    },

    // IVF nprobe tuning curve: recall@5 at nprobe ∈ {1,2,4} against the
    // exact brute-force top-k (q56's index + q76's recall discipline).
    oracle(
      "q119_ivf_nprobe_recall",
      s"""WITH e AS (
         |  SELECT vec_id, embedding,
         |    sqrt(${dotD("embedding", "embedding")}) AS norm
         |  FROM embeddings),
         |c AS (SELECT vec_id AS cent_id, embedding AS cent_emb, norm AS cent_norm
         |      FROM e WHERE vec_id < 16),
         |scored AS (
         |  SELECT v.vec_id, c.cent_id,
         |    ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
         |      ${dotD("v.embedding", "c.cent_emb")} / (v.norm * c.cent_norm) DESC,
         |      c.cent_id) AS cell_rank
         |  FROM e v CROSS JOIN c),
         |home AS (SELECT vec_id AS n_id, cent_id AS home_cell
         |         FROM scored WHERE cell_rank = 1),
         |pc AS (SELECT vec_id AS q_id, cent_id AS cell,
         |         CAST(cell_rank AS BIGINT) AS cell_rank
         |       FROM scored WHERE vec_id < 50 AND cell_rank <= 4),
         |truth AS (
         |  SELECT q_id, n_id FROM (
         |    SELECT q.vec_id AS q_id, cnd.vec_id AS n_id,
         |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
         |        ${dotD("q.embedding", "cnd.embedding")} / (q.norm * cnd.norm) DESC,
         |        cnd.vec_id) AS rnk
         |    FROM e q JOIN e cnd ON q.vec_id < 50 AND q.vec_id <> cnd.vec_id)
         |  WHERE rnk <= 5),
         |reach AS (
         |  SELECT t.q_id, t.n_id, min(pc.cell_rank) AS first_rank
         |  FROM truth t
         |  LEFT JOIN home h ON h.n_id = t.n_id
         |  LEFT JOIN pc ON pc.cell = h.home_cell AND pc.q_id = t.q_id
         |  GROUP BY 1, 2),
         |sw AS (SELECT first_rank, unnest([1, 2, 4]::BIGINT[]) AS nprobe
         |       FROM reach)
         |SELECT nprobe, CAST(count(*) AS BIGINT) AS n_truth,
         |  CAST(sum(CASE WHEN first_rank IS NOT NULL AND first_rank <= nprobe
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
         |  (CAST(sum(CASE WHEN first_rank IS NOT NULL AND first_rank <= nprobe
         |    THEN 1 ELSE 0 END) AS BIGINT) * 1000000) // count(*) AS recall_ppm
         |FROM sw GROUP BY 1 ORDER BY 1""",
      "Similarity: IVF recall-vs-nprobe tuning curve (integer ppm)") { (s, d) =>
      SimOps.ivfNprobeRecall(Tables(s, d, "embeddings"))
    },

    // Ingest-time near-dup gate: the 20 % batch (doc_id % 5 = 0) checked
    // against the 80 % index — candidate/verify work scales with the
    // batch, never index×index.
    oracle(
      "q120_incremental_dedup",
      s"""WITH sh AS (${NorthStarQueries.SH}),
         |sig AS (${NorthStarQueries.SIG()}),
         |bands AS (
         |  SELECT doc_id, unnest(range(0, 4)) AS band,
         |    unnest(list_transform(range(0, 4), b ->
         |      ${TextOps.h60d("b::VARCHAR || '|' || array_to_string(sig[b*4+1 : b*4+4], ',')")})) AS bucket
         |  FROM sig WHERE sig[1] <> -1),
         |cand AS (
         |  SELECT DISTINCT n.doc_id AS new_id, i.doc_id AS idx_id
         |  FROM bands n JOIN bands i ON n.band = i.band AND n.bucket = i.bucket
         |  WHERE n.doc_id % 5 = 0 AND i.doc_id % 5 <> 0),
         |pj AS (
         |  SELECT new_id, idx_id,
         |    CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
         |      / len(list_distinct(sa.sh || sb.sh)) AS jaccard
         |  FROM cand
         |  JOIN sh sa ON sa.doc_id = new_id
         |  JOIN sh sb ON sb.doc_id = idx_id),
         |best AS (
         |  SELECT new_id, idx_id, jaccard,
         |    ROW_NUMBER() OVER (PARTITION BY new_id
         |      ORDER BY jaccard DESC, idx_id) AS rk
         |  FROM pj WHERE jaccard >= 0.5)
         |SELECT d.doc_id, b.idx_id IS NOT NULL AS is_dup,
         |  coalesce(b.idx_id, -1) AS matched_doc_id,
         |  coalesce(b.jaccard, 0.0::DOUBLE) AS best_jaccard
         |FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 0) d
         |LEFT JOIN (SELECT * FROM best WHERE rk = 1) b ON b.new_id = d.doc_id
         |ORDER BY d.doc_id""",
      "Refine: incremental batch-vs-index near-dup gate (LSH, verified)") { (s, d) =>
      RefineOps.incrementalDedup(Tables(s, d, "documents"), "doc_id % 5 = 0")
        .orderBy("doc_id")
    },

    // Snapshot diff: v2 derived deterministically from v1 (10 % removed,
    // every 7th surviving doc revised, every 13th cloned as a new id).
    oracle(
      "q121_corpus_diff",
      s"""WITH v2 AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 7 = 0 THEN text || ' rev' ELSE text END AS text
         |  FROM documents WHERE doc_id % 10 <> 0
         |  UNION ALL
         |  SELECT doc_id + 1000000, text || ' new'
         |  FROM documents WHERE doc_id % 13 = 0),
         |a AS (SELECT doc_id, ${h60Sql("text")} AS h1 FROM documents),
         |b AS (SELECT doc_id, ${h60Sql("text")} AS h2 FROM v2)
         |SELECT doc_id, status FROM (
         |  SELECT doc_id,
         |    CASE WHEN h1 IS NULL THEN 'added'
         |         WHEN h2 IS NULL THEN 'removed'
         |         WHEN h1 <> h2 THEN 'modified' END AS status
         |  FROM a FULL JOIN b USING (doc_id))
         |WHERE status IS NOT NULL
         |ORDER BY doc_id""",
      "Refine: corpus snapshot diff (added / removed / modified)") { (s, d) =>
      val v1 = Tables(s, d, "documents")
      val v2 = v1.filter(col("doc_id") % 10 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 0, concat(col("text"), lit(" rev")))
            .otherwise(col("text")).as("text"))
        .unionByName(v1.filter(col("doc_id") % 13 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            concat(col("text"), lit(" new")).as("text")))
      RefineOps.corpusDiff(v1, v2).orderBy("doc_id")
    },

    // The tiered funnel: exact → verified LSH → SemDeDup, each tier over
    // the previous tier's survivors; tier 3 clusters ONLY the surviving
    // embedded docs, so its oracle seeds k-means by rank, not id value.
    oracle(
      "q122_dedup_funnel",
      s"""WITH t1 AS (
         |  SELECT doc_id FROM (
         |    SELECT doc_id, ROW_NUMBER() OVER (
         |      PARTITION BY md5(text) ORDER BY doc_id) AS rk
         |    FROM documents) WHERE rk = 1),
         |sh AS (SELECT * FROM (${NorthStarQueries.SH})
         |       WHERE doc_id IN (SELECT doc_id FROM t1)),
         |sig AS (${NorthStarQueries.SIG(from = "sh")}),
         |bands AS (
         |  SELECT doc_id, unnest(range(0, 4)) AS band,
         |    unnest(list_transform(range(0, 4), b ->
         |      ${TextOps.h60d("b::VARCHAR || '|' || array_to_string(sig[b*4+1 : b*4+4], ',')")})) AS bucket
         |  FROM sig WHERE sig[1] <> -1),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |  FROM bands x JOIN bands y ON x.band = y.band AND x.bucket = y.bucket
         |  WHERE x.doc_id < y.doc_id),
         |removed2 AS (
         |  SELECT DISTINCT b AS doc_id FROM (
         |    SELECT a, b,
         |      CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
         |        / len(list_distinct(sa.sh || sb.sh)) AS jaccard
         |    FROM cand JOIN sh sa ON sa.doc_id = a JOIN sh sb ON sb.doc_id = b)
         |  WHERE jaccard >= 0.5),
         |t2 AS (SELECT doc_id FROM t1
         |       WHERE doc_id NOT IN (SELECT doc_id FROM removed2)),
         |${ClusterQueries.kmeansCtesFor(
              "(SELECT e.vec_id, e.embedding FROM embeddings e " +
                "WHERE e.vec_id IN (SELECT doc_id FROM t2))", 8, "f",
              seedWhere = "vec_id IN (SELECT vec_id FROM fmdt ORDER BY vec_id LIMIT 8)")},
         |nrm AS (
         |  SELECT e.vec_id, e.embedding,
         |    sqrt(${dotD("e.embedding", "e.embedding")}) AS norm
         |  FROM embeddings e WHERE e.vec_id IN (SELECT doc_id FROM t2)),
         |removed3 AS (
         |  SELECT DISTINCT cb.vec_id AS doc_id
         |  FROM fa2 ca JOIN fa2 cb
         |    ON ca.cluster = cb.cluster AND ca.vec_id < cb.vec_id
         |  JOIN nrm x ON x.vec_id = ca.vec_id
         |  JOIN nrm y ON y.vec_id = cb.vec_id
         |  WHERE ${dotD("x.embedding", "y.embedding")} / (x.norm * y.norm) >= 0.3),
         |t3 AS (SELECT doc_id FROM t2
         |       WHERE doc_id NOT IN (SELECT doc_id FROM removed3)),
         |rows_ AS (
         |  SELECT '0_all' AS tier, CAST(count(*) AS BIGINT) AS docs_out,
         |    CAST(sum(n_chars) AS BIGINT) AS chars_out FROM documents
         |  UNION ALL
         |  SELECT '1_exact', CAST(count(*) AS BIGINT), CAST(sum(n_chars) AS BIGINT)
         |  FROM documents WHERE doc_id IN (SELECT doc_id FROM t1)
         |  UNION ALL
         |  SELECT '2_minhash', CAST(count(*) AS BIGINT), CAST(sum(n_chars) AS BIGINT)
         |  FROM documents WHERE doc_id IN (SELECT doc_id FROM t2)
         |  UNION ALL
         |  SELECT '3_semantic', CAST(count(*) AS BIGINT), CAST(sum(n_chars) AS BIGINT)
         |  FROM documents WHERE doc_id IN (SELECT doc_id FROM t3)),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS total_docs FROM documents)
         |SELECT tier, docs_in, docs_out,
         |  docs_in - docs_out AS removed_docs, chars_out,
         |  ((docs_in - docs_out) * 1000000) // total_docs AS removed_ppm
         |FROM (
         |  SELECT tier, docs_out, chars_out,
         |    coalesce(lag(docs_out) OVER (ORDER BY tier), docs_out) AS docs_in
         |  FROM rows_) CROSS JOIN tot
         |ORDER BY tier""",
      "Refine: tiered dedup funnel (exact → LSH-verified → SemDeDup)") { (s, d) =>
      // tier-1 key = md5 of the FULL text (true exact dedup — the
      // production tier-1 semantic; q34's manufactured prefix key would
      // swallow the planted near-dup clusters and starve tier 2, since
      // the planted pairs are prefix-identical by construction)
      RefineOps.dedupFunnel(Tables(s, d, "documents"),
        Tables(s, d, "embeddings"), "md5(text)")
    },

    // Cluster-level train/val/test assignment — duplicates can never
    // straddle a split boundary.
    oracle(
      "q124_leakage_safe_split",
      s"""WITH keyed AS (
         |  SELECT doc_id,
         |    md5(array_to_string(string_split(text, ' ')[1:3], ' ')) AS dedup_key
         |  FROM documents),
         |k AS (SELECT dedup_key, min(doc_id) AS keeper_doc_id
         |      FROM keyed GROUP BY 1)
         |SELECT doc_id, keeper_doc_id,
         |  CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM (
         |  SELECT keyed.doc_id, k.keeper_doc_id,
         |    ${h60Sql("k.keeper_doc_id::VARCHAR")} % 10 AS b
         |  FROM keyed JOIN k USING (dedup_key))
         |ORDER BY doc_id""",
      "Refine: leakage-safe split (cluster-hash, dups never straddle)") { (s, d) =>
      RefineOps.leakageSafeSplit(Tables(s, d, "documents"),
          "md5(array_join(slice(split(text, ' '), 1, 3), ' '))")
        .orderBy("doc_id")
    },

    // IVF-PQ with ADC scoring: q56's coarse cells route the probe, q88's
    // per-subspace codebooks compress the corpus to m code ids, and each
    // candidate is scored by summed query-to-codeword LUT distances.
    // Codebook centroids = means of the FINAL k-means members (the q93
    // statistic); the ranking key is the BIGINT-floored micro-unit²
    // distance, so tie-breaks are integer-exact across engines.
    oracle(
      "q125_ivfpq_adc",
      s"""WITH ${ClusterQueries.kmeansCtesFor(
             "(SELECT vec_id, embedding[1:len(embedding)//2] AS embedding FROM embeddings)",
             4, "x")},
         |${ClusterQueries.kmeansCtesFor(
             "(SELECT vec_id, embedding[len(embedding)//2+1:len(embedding)] AS embedding FROM embeddings)",
             4, "y")},
         |${finalCbCtes("x")},
         |${finalCbCtes("y")},
         |e AS (
         |  SELECT vec_id, embedding,
         |    sqrt(${dotD("embedding", "embedding")}) AS norm
         |  FROM embeddings),
         |c AS (SELECT vec_id AS cent_id, embedding AS cent_emb, norm AS cent_norm
         |      FROM e WHERE vec_id < 16),
         |scored AS (
         |  SELECT v.vec_id, c.cent_id,
         |    ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
         |      ${dotD("v.embedding", "c.cent_emb")} / (v.norm * c.cent_norm) DESC,
         |      c.cent_id) AS rn
         |  FROM e v CROSS JOIN c),
         |cell AS (SELECT vec_id, cent_id AS cell FROM scored WHERE rn = 1),
         |coded AS (
         |  SELECT x.vec_id, x.cluster AS code_0, y.cluster AS code_1
         |  FROM xa2 x JOIN ya2 y USING (vec_id)),
         |lx AS (
         |  SELECT q.vec_id AS q_id, cb.cluster AS code_0,
         |    q.m2 + cb.c2 - 2.0::DOUBLE * ${dotD("q.mvec", "cb.cvec")} AS pd0
         |  FROM xmdt q CROSS JOIN xfcn cb WHERE q.vec_id < 25),
         |ly AS (
         |  SELECT q.vec_id AS q_id, cb.cluster AS code_1,
         |    q.m2 + cb.c2 - 2.0::DOUBLE * ${dotD("q.mvec", "cb.cvec")} AS pd1
         |  FROM ymdt q CROSS JOIN yfcn cb WHERE q.vec_id < 25),
         |cand AS (
         |  SELECT qc.vec_id AS q_id, n.vec_id AS n_id, cd.code_0, cd.code_1
         |  FROM cell qc
         |  JOIN cell n ON qc.cell = n.cell
         |    AND qc.vec_id < 25 AND qc.vec_id <> n.vec_id
         |  JOIN coded cd ON cd.vec_id = n.vec_id),
         |sc AS (
         |  SELECT cand.q_id, cand.n_id,
         |    CAST(floor(lx.pd0 + ly.pd1) AS BIGINT) AS adc_dist2
         |  FROM cand
         |  JOIN lx ON lx.q_id = cand.q_id AND lx.code_0 = cand.code_0
         |  JOIN ly ON ly.q_id = cand.q_id AND ly.code_1 = cand.code_1),
         |r AS (
         |  SELECT q_id, n_id, adc_dist2,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id
         |      ORDER BY adc_dist2, n_id) AS BIGINT) AS "rank"
         |  FROM sc)
         |SELECT q_id, n_id, "rank", adc_dist2 FROM r WHERE "rank" <= 3
         |ORDER BY q_id, "rank"""",
      "Similarity: IVF-PQ ADC search (coarse cells + codebook LUT scoring)") { (s, d) =>
      SimOps.ivfPqAdc(Tables(s, d, "embeddings"))
        .orderBy("q_id", "rank")
    },

    // Per-source embedding-space affinity: micro-unit centroid per
    // source, pairwise cosine in integer ppm — the embedding sibling of
    // q97's token-distribution drift.
    oracle(
      "q126_source_affinity",
      s"""WITH v AS (
         |  SELECT vec_id,
         |    list_transform(embedding, x -> floor(CAST(x AS DOUBLE) * 1000000.0::DOUBLE + 0.5::DOUBLE)) AS mvec
         |  FROM embeddings),
         |j AS (SELECT d.source, v.mvec
         |      FROM documents d JOIN v ON v.vec_id = d.doc_id),
         |ex AS (
         |  SELECT source, unnest(range(1, len(mvec)+1)) AS dim,
         |    unnest(list_transform(range(1, len(mvec)+1), i -> CAST(mvec[i] AS BIGINT))) AS mv
         |  FROM j),
         |u AS (
         |  SELECT source, dim,
         |    CAST(sum(mv) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS cv,
         |    CAST(count(*) AS BIGINT) AS n
         |  FROM ex GROUP BY 1, 2),
         |ce AS (SELECT source, list(cv ORDER BY dim) AS cvec,
         |         max(n) AS n_docs
         |       FROM u GROUP BY 1),
         |cn AS (SELECT source, cvec, n_docs, ${dotD("cvec", "cvec")} AS c2
         |       FROM ce)
         |SELECT a.source AS source_a, b.source AS source_b,
         |  a.n_docs AS n_docs_a, b.n_docs AS n_docs_b,
         |  CAST(floor(${dotD("a.cvec", "b.cvec")} / (sqrt(a.c2) * sqrt(b.c2))
         |    * 1000000.0::DOUBLE) AS BIGINT) AS cosine_ppm
         |FROM cn a JOIN cn b ON a.source < b.source
         |ORDER BY source_a, source_b""",
      "Refine: per-source embedding-centroid affinity matrix (ppm cosine)") { (s, d) =>
      RefineOps.sourceEmbeddingAffinity(Tables(s, d, "documents"),
          Tables(s, d, "embeddings"))
        .orderBy("source_a", "source_b")
    },

    // Write-side training-shard layout: hash-sharded, hash-ordered — the
    // shuffle-once-at-write-time epoch permutation.
    oracle(
      "q127_training_shards",
      s"""SELECT doc_id, h % 8 AS shard,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY h % 8 ORDER BY h, doc_id)
         |    AS BIGINT) - 1 AS pos
         |FROM (SELECT doc_id, ${h60Sql("'shard:' || doc_id::VARCHAR")} AS h
         |      FROM documents)
         |ORDER BY doc_id""",
      "Refine: deterministic training-shard layout (hash shard + position)") { (s, d) =>
      RefineOps.trainingShards(Tables(s, d, "documents"))
        .orderBy("doc_id")
    },

    // Fixed-size uniform sample via bottom-k hashing: per-partition
    // k-heaps + one k-row merge (TakeOrderedAndProject) — never a
    // global sort; nested under the seed (bottom-100 ⊂ bottom-1000).
    oracle(
      "q128_bottomk_sample",
      s"""SELECT doc_id,
         |  CAST(ROW_NUMBER() OVER (ORDER BY h, doc_id) AS BIGINT) AS sample_rank
         |FROM (SELECT doc_id, ${Scalars.h60SeededSql("'rsv'", "doc_id::VARCHAR")} AS h
         |      FROM documents ORDER BY h, doc_id LIMIT 100)
         |ORDER BY doc_id""",
      "Sampling: fixed-size bottom-k hash sample (nested, sort-free)") { (s, d) =>
      SampleOps.bottomKSample(Tables(s, d, "documents"), "doc_id", 100)
        .orderBy("doc_id")
    },

    // Embedding-space health census: centroid norm / mean cosine-to-
    // centroid anisotropy diagnostics, all integer micro-units and ppm.
    oracle(
      "q129_embedding_health",
      s"""WITH v AS (
         |  SELECT vec_id,
         |    list_transform(embedding, x -> floor(CAST(x AS DOUBLE) * 1000000.0::DOUBLE + 0.5::DOUBLE)) AS mvec
         |  FROM embeddings),
         |vd AS (SELECT vec_id, mvec, ${dotD("mvec", "mvec")} AS m2 FROM v),
         |ex AS (
         |  SELECT unnest(range(1, len(mvec)+1)) AS dim,
         |    unnest(list_transform(range(1, len(mvec)+1), i -> CAST(mvec[i] AS BIGINT))) AS mv
         |  FROM vd),
         |u AS (SELECT dim, CAST(sum(mv) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS cv
         |      FROM ex GROUP BY 1),
         |ce AS (SELECT list(cv ORDER BY dim) AS cvec FROM u),
         |cn AS (SELECT cvec, ${dotD("cvec", "cvec")} AS c2 FROM ce),
         |per AS (
         |  SELECT CAST(floor(sqrt(vd.m2)) AS BIGINT) AS norm_micro,
         |    CASE WHEN vd.m2 > 0.0::DOUBLE THEN
         |      CAST(floor(${dotD("vd.mvec", "cn.cvec")} / (sqrt(vd.m2) * sqrt(cn.c2))
         |        * 1000000.0::DOUBLE) AS BIGINT) END AS cos_ppm,
         |    cn.c2 AS c2
         |  FROM vd CROSS JOIN cn)
         |SELECT CAST(count(*) AS BIGINT) AS n_vecs,
         |  CAST(floor(sqrt(first(c2))) AS BIGINT) AS centroid_norm_micro,
         |  CAST(sum(norm_micro) AS BIGINT) // count(*) AS avg_norm_micro,
         |  CAST(sum(cos_ppm) AS BIGINT) // count(cos_ppm) AS avg_cos_centroid_ppm,
         |  (1000000 * CAST(sum(CASE WHEN cos_ppm < 0 THEN 1 ELSE 0 END) AS BIGINT))
         |    // count(cos_ppm) AS neg_cos_ppm
         |FROM per""",
      "Similarity: embedding anisotropy/collapse health census") { (s, d) =>
      SimOps.embeddingHealth(Tables(s, d, "embeddings"))
    },

    // PPJoin prefix + positional filtering: the exact set-similarity
    // self-join whose candidate keys are each doc's RAREST shingles,
    // all-integer Jaccard gate — the third pair-generation paradigm
    // next to q36's LSH banding and q38's size blocking. Registered at
    // t = 0.7 (the planted near-dup families sit at J ≈ 0.9 per q77's
    // histogram): prefix length and candidate volume shrink
    // quadratically with t, and exact answers at loose thresholds are
    // q38's (blocked) or q36's (probabilistic) territory.
    oracle(
      "q131_ppjoin_pairs",
      s"""WITH tk AS (
         |  SELECT doc_id, n, ('0x' || substr(md5(tok0), 1, 15))::BIGINT AS tok
         |  FROM (SELECT doc_id, CAST(len(sh) AS BIGINT) AS n, unnest(sh) AS tok0
         |        FROM (${NorthStarQueries.SH}))),
         |dfc AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tk GROUP BY 1),
         |ranked AS (
         |  SELECT t.doc_id, t.tok, t.n,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY t.doc_id
         |      ORDER BY d.df, t.tok) AS BIGINT) AS rk
         |  FROM tk t JOIN dfc d USING (tok)),
         |pf AS (
         |  SELECT doc_id, tok, n, rk FROM ranked
         |  WHERE rk <= n - ((700000 * n + 999999) // 1000000) + 1),
         |cand AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    a.n AS na, b.n AS nb
         |  FROM pf a JOIN pf b ON a.tok = b.tok AND a.doc_id < b.doc_id
         |  WHERE 700000 * greatest(a.n, b.n) <= 1000000 * least(a.n, b.n)
         |  GROUP BY 1, 2, 3, 4
         |  HAVING max(least(a.n - a.rk, b.n - b.rk)) + 1 >=
         |    (700000 * (a.n + b.n) + 1699999) // 1700000),
         |ds AS (
         |  SELECT doc_id,
         |    list_transform(sh, g -> ('0x' || substr(md5(g), 1, 15))::BIGINT) AS hs
         |  FROM (${NorthStarQueries.SH})),
         |iv AS (
         |  SELECT c.doc_a, c.doc_b,
         |    CAST(len(x.hs) AS BIGINT) AS na, CAST(len(y.hs) AS BIGINT) AS nb,
         |    CAST(len(list_intersect(x.hs, y.hs)) AS BIGINT) AS inter
         |  FROM cand c
         |  JOIN ds x ON x.doc_id = c.doc_a
         |  JOIN ds y ON y.doc_id = c.doc_b)
         |SELECT doc_a, doc_b, inter, na + nb - inter AS union_size,
         |  (inter * 1000000) // (na + nb - inter) AS jaccard_ppm
         |FROM iv
         |WHERE inter * 1000000 >= 700000 * (na + nb - inter)
         |ORDER BY doc_a, doc_b""",
      "Dedup: PPJoin prefix+positional filtered exact similarity join") { (s, d) =>
      graft.operators.DedupOps.ppjoinPairs(Tables(s, d, "documents"),
          tPpm = 700000L)
        .orderBy("doc_a", "doc_b")
    },

    // Image perceptual-hash near-dup (round-7 verdict item 6): the
    // dedup modality for IMAGE columns. Fixture "images" fabricate
    // deterministic 17-byte payloads from doc_id — five docs per
    // div-5 group share all bytes except the last, so the
    // locality-preserving stub dHash (MultimodalOps.StubDHashAdapter:
    // bit j = bit (j div len) of byte (j mod len); a one-byte edit
    // flips ≤ 3 of the 60 bits here) puts group-mates within Hamming 3
    // exactly like re-encodes of one photo land near each other under
    // a real gradient dHash. Spark side: per-row hash →
    // 4×16-bit-banded candidate join → exact bit_count verify
    // (DedupOps.hammingCandidatePairs — pigeonhole-complete at
    // radius 3). Oracle: the identical bit-sampling formula in DuckDB
    // plus a brute-force all-pairs Hamming join — so the banded plan's
    // COMPLETENESS is what the hash check proves.
    oracle(
      "q132_image_phash_neardup",
      """WITH im AS (
        |  SELECT doc_id,
        |    'im:' || translate(substr(md5(CAST(doc_id // 5 AS VARCHAR)), 1, 13),
        |      '0123456789abcdef', '@ABCDEFGHIJKLMNO')
        |      || CAST(doc_id % 5 AS VARCHAR) AS s
        |  FROM documents),
        |ph AS (
        |  SELECT doc_id, CAST(list_sum(list_transform(range(0, 60), j ->
        |      CAST((ascii(substr(s, CAST(j % length(s) AS INT) + 1, 1))
        |            >> CAST(j // length(s) AS INT)) & 1 AS BIGINT) << CAST(j AS INT)))
        |    AS BIGINT) AS phash
        |  FROM im)
        |SELECT a.doc_id AS a, b.doc_id AS b,
        |  CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
        |FROM ph a JOIN ph b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.phash, b.phash)) <= 3
        |ORDER BY a, b""",
      "Dedup: image perceptual-hash (dHash) near-dup pairs, Hamming-banded") { (s, d) =>
      // group bytes come from md5 of the div-5 group, nibbles translated
      // to '@'..'O' so every byte's LOW FOUR BITS carry the full nibble —
      // distinct groups sit far apart in Hamming space in every band
      // (the first lpad-decimal fixture concentrated entropy in the low
      // digit positions: 1.3M pairs and a 2400-doc hot band bucket at
      // sf0.1; this one is exactly 2N pairs and ≤44-doc buckets)
      val files = Tables(s, d, "documents").select(col("doc_id"),
        expr("""CAST('im:' || translate(substr(md5(CAST(CAST(doc_id div 5 AS STRING) AS BINARY)), 1, 13),
               |  '0123456789abcdef', '@ABCDEFGHIJKLMNO')
               |  || CAST(doc_id % 5 AS STRING) AS BINARY)""".stripMargin)
          .as("content"))
      graft.operators.MultimodalOps.imageNearDupPairs(files)
        .orderBy("a", "b")
    },

    // Audio acoustic-fingerprint near-dup — the audio member of the
    // near-dup modality family (q132's treatment applied to the WAV
    // adapter): fixture payloads are GENUINE RIFF/PCM WAV bytes whose
    // samples derive from an md5 chain (MultimodalOps.synthGroupWav),
    // five docs per div-5 group sharing every frame but the last
    // (member-perturbed → group-mates within Hamming 1); the Spark side
    // round-trips the bytes through the REAL WavAudioAdapter parse into
    // 61 exact integer frame energies → 60 delta-sign bits →
    // 4×15-bit-banded candidate join. The oracle rebuilds the SAMPLE
    // VALUES from the same md5 formula and brute-forces all pairs — so
    // the hash check proves both the banded plan's COMPLETENESS at
    // radius 3 and the WAV container round-trip (a misparse would skew
    // every energy).
    oracle(
      "q154_audio_fp_neardup",
      """WITH blk AS (
        |  SELECT doc_id, CAST(doc_id % 5 AS BIGINT) AS m,
        |    unnest(range(0, 61)) AS b
        |  FROM documents),
        |fr AS (
        |  SELECT doc_id, b,
        |    CAST(list_sum(list_transform(
        |      list_transform(range(0, 16), j ->
        |        (CASE WHEN b = 60
        |          THEN (('0x' || substr(h, CAST(2*j+1 AS INT), 2))::BIGINT + m) % 256
        |          ELSE ('0x' || substr(h, CAST(2*j+1 AS INT), 2))::BIGINT
        |         END) * 256 - 32768),
        |      v -> v * v)) AS BIGINT) AS e
        |  FROM (SELECT doc_id, m, b,
        |          md5(CAST(doc_id // 5 AS VARCHAR) || ':' || CAST(b AS VARCHAR)) AS h
        |        FROM blk)),
        |fp AS (
        |  SELECT doc_id,
        |    CAST(list_sum(list_transform(range(1, 61), i ->
        |      CASE WHEN e[CAST(i+1 AS INT)] > e[CAST(i AS INT)]
        |        THEN CAST(1 AS BIGINT) << CAST(i-1 AS INT)
        |        ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS afp
        |  FROM (SELECT doc_id, list(e ORDER BY b) AS e FROM fr GROUP BY doc_id))
        |SELECT a.doc_id AS a, b.doc_id AS b,
        |  CAST(bit_count(xor(a.afp, b.afp)) AS BIGINT) AS hamming
        |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.afp, b.afp)) <= 3
        |ORDER BY a, b""",
      "Dedup: audio acoustic-fingerprint near-dup pairs (real WAV round-trip, Hamming-banded)") { (s, d) =>
      val synth = udf((g: Long, m: Int) =>
        graft.operators.MultimodalOps.synthGroupWav(g, m))
      val files = Tables(s, d, "documents").select(col("doc_id"),
        synth(expr("doc_id div 5"), expr("CAST(doc_id % 5 AS INT)"))
          .as("content"))
      graft.operators.MultimodalOps.audioNearDupPairs(files)
        .orderBy("a", "b")
    },

    // Video near-dup by exact frame-hash-set Jaccard — the VIDEO member
    // of the near-dup family (clip copying / shared scenes). Fixture:
    // stub-container clips of 20 md5-digest frames per div-5 group,
    // member m re-shooting the first m frames (synthGroupVideo), so
    // members a < b share exactly the frames >= b — Jaccard
    // (20-b)/(20+b), all 10 within-group pairs >= the 600000 ppm gate.
    // Spark candidates come ONLY from shared df<=64 frame hashes with
    // exact array_intersect verify (the q38 df-cap discipline on the
    // frame axis); the oracle brute-forces ALL pairs with NO cap — the
    // hash match proves the capped candidate generation complete on
    // this fixture. Frame hash = StubDHashAdapter's bit-sampling
    // formula (q132's SQL-replayable adapter) over each 16-byte frame.
    oracle(
      "q155_video_frame_jaccard",
      """WITH fb AS (
        |  SELECT doc_id, f,
        |    md5(CASE WHEN f < m
        |      THEN g || ':' || f || ':' || m
        |      ELSE g || ':' || f END) AS h
        |  FROM (SELECT doc_id, CAST(doc_id // 5 AS VARCHAR) AS g,
        |          doc_id % 5 AS m, unnest(range(0, 20)) AS f
        |        FROM documents)),
        |fh AS (
        |  SELECT DISTINCT doc_id,
        |    CAST(list_sum(list_transform(range(0, 60), j ->
        |      ((('0x' || substr(h, CAST(2*(j%16)+1 AS INT), 2))::BIGINT
        |        >> CAST(j // 16 AS INT)) & 1) << CAST(j AS INT)))
        |      AS BIGINT) AS fh
        |  FROM fb),
        |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM fh GROUP BY 1),
        |iv AS (
        |  SELECT x.doc_id AS a, y.doc_id AS b,
        |    CAST(count(*) AS BIGINT) AS inter
        |  FROM fh x JOIN fh y ON x.fh = y.fh AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2)
        |SELECT iv.a, iv.b, iv.inter,
        |  sa.n + sb.n - iv.inter AS union_size,
        |  (iv.inter * 1000000) // (sa.n + sb.n - iv.inter) AS jaccard_ppm
        |FROM iv
        |JOIN sz sa ON sa.doc_id = iv.a
        |JOIN sz sb ON sb.doc_id = iv.b
        |WHERE iv.inter * 1000000 >= 600000 * (sa.n + sb.n - iv.inter)
        |ORDER BY iv.a, iv.b""",
      "Dedup: video near-dup pairs by exact frame-hash-set Jaccard (df-capped candidates)") { (s, d) =>
      val synth = udf((g: Long, m: Int) =>
        graft.operators.MultimodalOps.synthGroupVideo(g, m))
      val media = Tables(s, d, "documents").select(col("doc_id"),
        synth(expr("doc_id div 5"), expr("CAST(doc_id % 5 AS INT)"))
          .as("content"))
      graft.operators.MultimodalOps.videoNearDupPairs(
          graft.operators.MultimodalOps.videoFrameHashes(media).toDF())
        .orderBy("a", "b")
    },

    // da/nb orthography tie-break (round-8 verdict item 6, the §8.10
    // function-word-inseparable residual). The planted pair is built so
    // the stopword vote CANNOT separate it: both snippets use only the
    // 18 function words da and nb share verbatim (og/i/er/til/ikke/jeg —
    // none of which any earlier profile claims), so s_da == s_nb on
    // every planted doc and the vote ladder alone would call all of
    // them 'da'. The content words differ ONLY in orthography
    // (vejen/veien, stationen/stasjonen, arbejdet/arbeidet,
    // gennem/gjennom, højre/høyre, løj/løy) — exactly what
    // TextOps.daNbOrtho counts. Unplanted docs stay on the plain vote
    // (mostly en/und), proving the margin gate leaves the eight earlier
    // profiles untouched.
    oracle(
      "q133_nordic_langid",
      {
        val scoreCols = graft.operators.TextOps.langProfiles.map { case (l, ws) =>
          s"CAST(len(list_filter(tk, t -> list_contains([${ws.map(w => s"'$w'").mkString(",")}], t))) AS BIGINT) AS s_$l"
        }.mkString(",\n  ")
        val lowSrc = "(' ' || lower(coalesce(text, '')) || ' ')"
        val tDa = graft.operators.TextOps.orthoCountSql(lowSrc,
          graft.operators.TextOps.daNbOrtho.head._2)
        val tNb = graft.operators.TextOps.orthoCountSql(lowSrc,
          graft.operators.TextOps.daNbOrtho(1)._2)
        s"""WITH aug AS (
           |  SELECT doc_id, coalesce(text, '') ||
           |    CASE WHEN doc_id % 9 = 1 THEN ' $nordicDaSnippet $nordicDaSnippet'
           |         WHEN doc_id % 9 = 2 THEN ' $nordicNbSnippet $nordicNbSnippet'
           |         ELSE '' END AS text
           |  FROM documents),
           |sc AS (
           |  SELECT doc_id,
           |  $scoreCols,
           |  $tDa AS t_da,
           |  $tNb AS t_nb
           |  FROM (SELECT doc_id, text, string_split(text, ' ') AS tk FROM aug)),
           |g AS (SELECT *, ${graft.operators.TextOps.langGuessSql} AS lang_guess
           |      FROM sc)
           |SELECT doc_id, s_da, s_nb, t_da, t_nb,
           |  ${graft.operators.TextOps.nordicFallbackSql(2)} AS lang_guess
           |FROM g ORDER BY doc_id""".stripMargin
      },
      "Text analysis: da/nb lang-ID via char-n-gram orthography tie-break") { (s, d) =>
      val aug = Tables.byOrder(s, d, "documents", "doc_id").select(col("doc_id"),
        concat(coalesce(col("text"), lit("")),
          when(col("doc_id") % 9 === 1,
            lit(s" $nordicDaSnippet $nordicDaSnippet"))
          .when(col("doc_id") % 9 === 2,
            lit(s" $nordicNbSnippet $nordicNbSnippet"))
          .otherwise(lit(""))).as("text"))
      graft.operators.TextOps.langScoredNordic(aug)
        .select("doc_id", "s_da", "s_nb", "t_da", "t_nb", "lang_guess")
        .orderBy("doc_id")
    },

    // pt/gl — the second function-word-inseparable pair, through the
    // GENERALIZED orthography machinery (langScoredOrtho applies every
    // registered pair; this query also proves the da/nb rule composes
    // with pt/gl without touching non-pair guesses). Snippets use only
    // the 13 function words pt and gl share verbatim (o/do/e/da/que/se/
    // para/no — none claimed by an earlier profile strongly enough to
    // win), so s_pt == s_gl dead-ties; content words differ only in
    // orthography (coração/corazón, filho/fillo, vinho/viño,
    // praça/praza, trabalho/traballo, verão/verán).
    oracle(
      "q134_ptgl_langid",
      {
        val scoreCols = graft.operators.TextOps.langProfiles.map { case (l, ws) =>
          s"CAST(len(list_filter(tk, t -> list_contains([${ws.map(w => s"'$w'").mkString(",")}], t))) AS BIGINT) AS s_$l"
        }.mkString(",\n  ")
        val lowSrc = "(' ' || lower(coalesce(text, '')) || ' ')"
        val censuses = graft.operators.TextOps.orthoPairs.flatten.map {
          case (lang, pats) =>
            s"${graft.operators.TextOps.orthoCountSql(lowSrc, pats)} AS t_$lang"
        }.mkString(",\n  ")
        val (chain, last) = graft.operators.TextOps.orthoRewriteCtes(2)
        s"""WITH aug AS (
           |  SELECT doc_id, coalesce(text, '') ||
           |    CASE WHEN doc_id % 9 = 3 THEN ' $ptSnippet $ptSnippet'
           |         WHEN doc_id % 9 = 4 THEN ' $glSnippet $glSnippet'
           |         ELSE '' END AS text
           |  FROM documents),
           |sc AS (
           |  SELECT doc_id,
           |  $scoreCols,
           |  $censuses
           |  FROM (SELECT doc_id, text, string_split(text, ' ') AS tk FROM aug)),
           |g AS (SELECT *, ${graft.operators.TextOps.langGuessSql} AS lang_guess
           |      FROM sc),
           |$chain
           |SELECT doc_id, s_pt, s_gl, t_pt, t_gl, lang_guess
           |FROM $last ORDER BY doc_id""".stripMargin
      },
      "Text analysis: pt/gl lang-ID via the generalized orthography tie-break") { (s, d) =>
      val aug = Tables.byOrder(s, d, "documents", "doc_id").select(col("doc_id"),
        concat(coalesce(col("text"), lit("")),
          when(col("doc_id") % 9 === 3, lit(s" $ptSnippet $ptSnippet"))
          .when(col("doc_id") % 9 === 4, lit(s" $glSnippet $glSnippet"))
          .otherwise(lit(""))).as("text"))
      graft.operators.TextOps.langScoredOrtho(aug)
        .select("doc_id", "s_pt", "s_gl", "t_pt", "t_gl", "lang_guess")
        .orderBy("doc_id")
    },

    // hr/sr-Latn — the third function-word-inseparable pair, shipped as
    // pure DATA through the generalized registry (round-9 verdict item
    // 7: a new pair is a pattern list in TextOps.orthoPairs plus two
    // appended profiles, zero new machinery). Snippets use only the 19
    // function words hr and sr share verbatim (je/i/za/ali/ne here —
    // tko/ko, the lone divergent pair, deliberately absent), so
    // s_hr == s_sr dead-ties; content words differ only in the yat
    // reflex (rijeka/reka, lijepa/lepa, vrijeme/vreme, uvijek/uvek,
    // mlijeko/mleko) and the kruh/hleb lexical split. The oracle's
    // rewrite chain comes from the same orthoRewriteCtes the q134
    // oracle uses, so Spark fold and DuckDB chain can never skew.
    oracle(
      "q135_hrsr_langid",
      {
        val scoreCols = graft.operators.TextOps.langProfiles.map { case (l, ws) =>
          s"CAST(len(list_filter(tk, t -> list_contains([${ws.map(w => s"'$w'").mkString(",")}], t))) AS BIGINT) AS s_$l"
        }.mkString(",\n  ")
        val lowSrc = "(' ' || lower(coalesce(text, '')) || ' ')"
        val censuses = graft.operators.TextOps.orthoPairs.flatten.map {
          case (lang, pats) =>
            s"${graft.operators.TextOps.orthoCountSql(lowSrc, pats)} AS t_$lang"
        }.mkString(",\n  ")
        val (chain, last) = graft.operators.TextOps.orthoRewriteCtes(2)
        s"""WITH aug AS (
           |  SELECT doc_id, coalesce(text, '') ||
           |    CASE WHEN doc_id % 9 = 5 THEN ' $hrSnippet $hrSnippet'
           |         WHEN doc_id % 9 = 6 THEN ' $srSnippet $srSnippet'
           |         ELSE '' END AS text
           |  FROM documents),
           |sc AS (
           |  SELECT doc_id,
           |  $scoreCols,
           |  $censuses
           |  FROM (SELECT doc_id, text, string_split(text, ' ') AS tk FROM aug)),
           |g AS (SELECT *, ${graft.operators.TextOps.langGuessSql} AS lang_guess
           |      FROM sc),
           |$chain
           |SELECT doc_id, s_hr, s_sr, t_hr, t_sr, lang_guess
           |FROM $last ORDER BY doc_id""".stripMargin
      },
      "Text analysis: hr/sr-Latn lang-ID via the orthography-pair registry") { (s, d) =>
      val aug = Tables.byOrder(s, d, "documents", "doc_id").select(col("doc_id"),
        concat(coalesce(col("text"), lit("")),
          when(col("doc_id") % 9 === 5, lit(s" $hrSnippet $hrSnippet"))
          .when(col("doc_id") % 9 === 6, lit(s" $srSnippet $srSnippet"))
          .otherwise(lit(""))).as("text"))
      graft.operators.TextOps.langScoredOrtho(aug)
        .select("doc_id", "s_hr", "s_sr", "t_hr", "t_sr", "lang_guess")
        .orderBy("doc_id")
    },

    // ms/id — the fourth function-word-inseparable pair, again pure
    // registry data (two appended profiles + one pattern list in
    // TextOps.msIdOrtho). Snippets use only function words ms and id
    // share verbatim (mereka/untuk/di/itu/dan/yang/ada/dari/juga —
    // kerana/karena and telah/sudah, the divergent top-20 forms,
    // deliberately absent), so s_ms == s_id dead-ties; content words
    // differ only in the loanword stratum (aktiviti/aktivitas,
    // universiti/universitas, kualiti/kualitas — the -iti/-itas census)
    // and the lexical splits (wang/uang, sahaja/saja, mahu/mau). The
    // oracle's rewrite chain comes from the same orthoRewriteCtes as
    // q134/q135, so Spark fold and DuckDB chain can never skew.
    oracle(
      "q136_msid_langid",
      {
        val scoreCols = graft.operators.TextOps.langProfiles.map { case (l, ws) =>
          s"CAST(len(list_filter(tk, t -> list_contains([${ws.map(w => s"'$w'").mkString(",")}], t))) AS BIGINT) AS s_$l"
        }.mkString(",\n  ")
        val lowSrc = "(' ' || lower(coalesce(text, '')) || ' ')"
        val censuses = graft.operators.TextOps.orthoPairs.flatten.map {
          case (lang, pats) =>
            s"${graft.operators.TextOps.orthoCountSql(lowSrc, pats)} AS t_$lang"
        }.mkString(",\n  ")
        val (chain, last) = graft.operators.TextOps.orthoRewriteCtes(2)
        s"""WITH aug AS (
           |  SELECT doc_id, coalesce(text, '') ||
           |    CASE WHEN doc_id % 9 = 7 THEN ' $msSnippet $msSnippet'
           |         WHEN doc_id % 9 = 8 THEN ' $idSnippet $idSnippet'
           |         ELSE '' END AS text
           |  FROM documents),
           |sc AS (
           |  SELECT doc_id,
           |  $scoreCols,
           |  $censuses
           |  FROM (SELECT doc_id, text, string_split(text, ' ') AS tk FROM aug)),
           |g AS (SELECT *, ${graft.operators.TextOps.langGuessSql} AS lang_guess
           |      FROM sc),
           |$chain
           |SELECT doc_id, s_ms, s_id, t_ms, t_id, lang_guess
           |FROM $last ORDER BY doc_id""".stripMargin
      },
      "Text analysis: ms/id lang-ID via the orthography-pair registry") { (s, d) =>
      val aug = Tables.byOrder(s, d, "documents", "doc_id").select(col("doc_id"),
        concat(coalesce(col("text"), lit("")),
          when(col("doc_id") % 9 === 7, lit(s" $msSnippet $msSnippet"))
          .when(col("doc_id") % 9 === 8, lit(s" $idSnippet $idSnippet"))
          .otherwise(lit(""))).as("text"))
      graft.operators.TextOps.langScoredOrtho(aug)
        .select("doc_id", "s_ms", "s_id", "t_ms", "t_id", "lang_guess")
        .orderBy("doc_id")
    },

    // Model-based quality filtering: hashing-trick linear classifier
    // inference (the fastText/DCLM scorer shape — weights load as a
    // broadcast table, every doc scores one integer logit). Weights
    // derive from h60 so the oracle replays the identical "model".
    oracle(
      "q138_quality_classifier",
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
         |f AS (
         |  SELECT doc_id, ${h60Sql("t")} % 256 AS j FROM tok),
         |w AS (
         |  SELECT j, (${h60Sql("'w_' || j::VARCHAR")} % 1000001) - 500000 AS w
         |  FROM (SELECT unnest(range(0, 256)) AS j)),
         |ag AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |    CAST(sum(w.w) AS BIGINT) AS logit
         |  FROM f JOIN w USING (j) GROUP BY 1)
         |SELECT doc_id, n_tokens, logit, logit > 0 AS kept
         |FROM ag ORDER BY doc_id""".stripMargin,
      "Quality: hashed linear-classifier inference (fastText/DCLM shape)") { (s, d) =>
      TextOps.qualityClassifier(Tables(s, d, "documents"))
        .orderBy("doc_id")
    },

    // Corpus-datasheet length quantiles: exact per-source p50/p90/p99
    // via the integer cumulative compare (no percentile_approx sketch —
    // the (source, len) domain is bounded, exactness is free).
    oracle(
      "q140_length_quantiles",
      """WITH tl AS (
        |  SELECT source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS len
        |  FROM documents),
        |g AS (
        |  SELECT source, len, CAST(count(*) AS BIGINT) AS c
        |  FROM tl GROUP BY 1, 2),
        |cmt AS (
        |  SELECT source, len, c,
        |    sum(c) OVER (PARTITION BY source ORDER BY len) AS cum,
        |    sum(c) OVER (PARTITION BY source) AS n_docs
        |  FROM g)
        |SELECT source, CAST(max(n_docs) AS BIGINT) AS n_docs,
        |  min(CASE WHEN cum * 100 >= n_docs * 50 THEN len END) AS p50,
        |  min(CASE WHEN cum * 100 >= n_docs * 90 THEN len END) AS p90,
        |  min(CASE WHEN cum * 100 >= n_docs * 99 THEN len END) AS p99
        |FROM cmt GROUP BY source ORDER BY source""",
      "Quality: exact per-source token-length quantiles (datasheet numbers)") { (s, d) =>
      TextOps.lengthQuantiles(Tables(s, d, "documents"))
        .orderBy("source")
    },

    // Unicode NFC hygiene: planted decomposed sequences (doc_id % 7 = 3)
    // must compose, the pre-composed control (% 7 = 4) must not change,
    // and the untouched ASCII corpus rides the identity fast path. The
    // full normalized text ships in the result, so the oracle hash
    // checks every codepoint.
    oracle(
      "q141_nfc_normalize",
      s"""WITH aug AS (
         |  SELECT doc_id, coalesce(text, '') ||
         |    CASE WHEN doc_id % 7 = 3 THEN ' $nfcDecomposed'
         |         WHEN doc_id % 7 = 4 THEN ' $nfcComposed'
         |         ELSE '' END AS text
         |  FROM documents),
         |n AS (SELECT doc_id, text, nfc_normalize(text) AS text_nfc FROM aug)
         |SELECT doc_id, text_nfc <> text AS changed,
         |  CAST(len(text_nfc) AS BIGINT) AS n_chars_nfc, text_nfc
         |FROM n ORDER BY doc_id""",
      "Quality: Unicode NFC normalization census (encoding hygiene)") { (s, d) =>
      val aug = Tables.byOrder(s, d, "documents", "doc_id").select(col("doc_id"),
        concat(coalesce(col("text"), lit("")),
          when(col("doc_id") % 7 === 3, lit(s" $nfcDecomposed"))
          .when(col("doc_id") % 7 === 4, lit(s" $nfcComposed"))
          .otherwise(lit(""))).as("text"))
      TextOps.unicodeNormalized(aug).orderBy("doc_id")
    },

    // BM25 ranked retrieval for a literal query: log-free rational IDF
    // (the q117 precedent) and per-term scores floored to BIGINT ppm
    // BEFORE the cross-term sum (FP addition order must not matter).
    oracle(
      "q142_bm25_topk",
      s"""WITH ${bm25Ctes(Seq("hash", "merge", "vector"))}
         |SELECT "rank", doc_id, score_ppm, n_tokens
         |FROM r WHERE "rank" <= 20 ORDER BY "rank"""".stripMargin,
      "Retrieval: BM25 top-k for a literal query (rational IDF, ppm-floored)") { (s, d) =>
      TextOps.bm25TopK(Tables(s, d, "documents"),
          Seq("hash", "merge", "vector"))
        .orderBy("rank")
    },

    // Dedup-graph health: component-size histogram of q57's closure +
    // the giant-component alarm (the threshold-too-loose / hub-document
    // failure a keeper pass must catch BEFORE deleting the corpus).
    oracle(
      "q143_component_histogram",
      {
        import graft.operators.TextOps.h60d
        s"""WITH RECURSIVE sh AS (${NorthStarQueries.SH}),
           |sig AS (${NorthStarQueries.SIG()}),
           |bands AS (
           |  SELECT doc_id, unnest(range(0, 4)) AS band,
           |    unnest(list_transform(range(0, 4), b ->
           |      ${h60d("b::VARCHAR || '|' || array_to_string(sig[b*4+1 : b*4+4], ',')")})) AS bucket
           |  FROM sig WHERE sig[1] <> -1),
           |cand AS (
           |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
           |  FROM bands x JOIN bands y ON x.band = y.band AND x.bucket = y.bucket
           |  WHERE x.doc_id < y.doc_id),
           |verified AS (
           |  SELECT a, b FROM cand
           |  JOIN sh sa ON sa.doc_id = a
           |  JOIN sh sb ON sb.doc_id = b
           |  WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
           |          / len(list_distinct(sa.sh || sb.sh)) >= 0.5),
           |edges AS (SELECT a AS u, b AS v FROM verified
           |          UNION SELECT b AS u, a AS v FROM verified),
           |reach(id, r) AS (
           |  SELECT doc_id, doc_id FROM documents
           |  UNION
           |  SELECT e.u, reach.r FROM edges e JOIN reach ON reach.id = e.v),
           |final AS (SELECT id AS doc_id, min(r) AS keeper_doc_id
           |          FROM reach GROUP BY id),
           |comps AS (SELECT keeper_doc_id, CAST(count(*) AS BIGINT) AS size
           |          FROM final GROUP BY 1),
           |tot AS (SELECT CAST(sum(size) AS BIGINT) AS n_docs_total,
           |          CAST(max(size) AS BIGINT) AS max_size FROM comps),
           |h AS (SELECT size, CAST(count(*) AS BIGINT) AS n_components
           |      FROM comps GROUP BY 1)
           |SELECT h.size, h.n_components, h.size * h.n_components AS n_docs,
           |  (h.size - 1) * h.n_components AS removed,
           |  (t.max_size * 1000000) // t.n_docs_total AS giant_share_ppm
           |FROM h CROSS JOIN tot t ORDER BY h.size""".stripMargin
      },
      "Dedup: component-size histogram + giant-component alarm") { (s, d) =>
      graft.operators.DedupOps.componentSizeHistogram(Tables(s, d, "documents"))
        .orderBy("size")
    },

    // Token-budget selection: the budget resolves to a quality threshold
    // over bounded ppt buckets (splitting the boundary bucket would need
    // a corpus-wide order — reported instead, the 100 TB-honest answer).
    oracle(
      "q144_budget_selection",
      """WITH s AS (
        |  SELECT doc_id,
        |    CAST(len(tk) AS BIGINT) AS n_tokens,
        |    CAST(len(list_distinct(tk)) AS BIGINT) AS n_distinct,
        |    CAST(len(list_filter(tk,
        |      t -> list_contains(['the','a','of','and'], t))) AS BIGINT) AS n_stop,
        |    list_reduce([0::BIGINT] || list_transform(tk,
        |      t -> CAST(len(t) AS BIGINT)), (acc, x) -> acc + x) AS sum_len
        |  FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents)),
        |q AS (
        |  SELECT doc_id, n_tokens,
        |    0.5 * (CAST(n_distinct AS DOUBLE) / n_tokens)
        |      + 0.3 * (1.0 - CAST(n_stop AS DOUBLE) / n_tokens)
        |      + 0.2 * least((CAST(sum_len AS DOUBLE) / n_tokens) / 8.0, 1.0)
        |      AS quality
        |  FROM s),
        |b AS (
        |  SELECT CAST(floor(quality * CAST(1000.0 AS DOUBLE)) AS BIGINT) AS bucket,
        |    CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(n_tokens) AS BIGINT) AS n_tokens
        |  FROM q GROUP BY 1),
        |c AS (
        |  SELECT *, CAST(sum(n_tokens) OVER (ORDER BY bucket DESC)
        |    AS BIGINT) AS cum_tokens
        |  FROM b)
        |SELECT bucket, n_docs, n_tokens, cum_tokens,
        |  cum_tokens <= 8000 AS kept,
        |  (NOT (cum_tokens <= 8000)) AND (cum_tokens - n_tokens <= 8000)
        |    AS boundary
        |FROM c ORDER BY bucket DESC""",
      "Refine: token-budget selection (budget resolves to a quality threshold)") { (s, d) =>
      RefineOps.budgetSelection(Tables(s, d, "documents"), budgetTokens = 8000L)
        .orderBy(col("bucket").desc)
    },

    // The FIFTH orthography pair, cs/sk — pure registry data like
    // hr/sr and ms/id: two appended profiles + one pattern list
    // (letters the other orthography does not have), zero new
    // machinery; the oracle rewrite chain regenerates from the
    // registry.
    oracle(
      "q145_cssk_langid",
      {
        val scoreCols = graft.operators.TextOps.langProfiles.map { case (l, ws) =>
          s"CAST(len(list_filter(tk, t -> list_contains([${ws.map(w => s"'$w'").mkString(",")}], t))) AS BIGINT) AS s_$l"
        }.mkString(",\n  ")
        val lowSrc = "(' ' || lower(coalesce(text, '')) || ' ')"
        val censuses = graft.operators.TextOps.orthoPairs.flatten.map {
          case (lang, pats) =>
            s"${graft.operators.TextOps.orthoCountSql(lowSrc, pats)} AS t_$lang"
        }.mkString(",\n  ")
        val (chain, last) = graft.operators.TextOps.orthoRewriteCtes(2)
        s"""WITH aug AS (
           |  SELECT doc_id, coalesce(text, '') ||
           |    CASE WHEN doc_id % 9 = 4 THEN ' $csSnippet $csSnippet'
           |         WHEN doc_id % 9 = 5 THEN ' $skSnippet $skSnippet'
           |         ELSE '' END AS text
           |  FROM documents),
           |sc AS (
           |  SELECT doc_id,
           |  $scoreCols,
           |  $censuses
           |  FROM (SELECT doc_id, text, string_split(text, ' ') AS tk FROM aug)),
           |g AS (SELECT *, ${graft.operators.TextOps.langGuessSql} AS lang_guess
           |      FROM sc),
           |$chain
           |SELECT doc_id, s_cs, s_sk, t_cs, t_sk, lang_guess
           |FROM $last ORDER BY doc_id""".stripMargin
      },
      "Text analysis: cs/sk lang-ID via the orthography-pair registry") { (s, d) =>
      val aug = Tables.byOrder(s, d, "documents", "doc_id").select(col("doc_id"),
        concat(coalesce(col("text"), lit("")),
          when(col("doc_id") % 9 === 4, lit(s" $csSnippet $csSnippet"))
          .when(col("doc_id") % 9 === 5, lit(s" $skSnippet $skSnippet"))
          .otherwise(lit(""))).as("text"))
      graft.operators.TextOps.langScoredOrtho(aug)
        .select("doc_id", "s_cs", "s_sk", "t_cs", "t_sk", "lang_guess")
        .orderBy("doc_id")
    },

    // bg/mk — the sixth function-word-inseparable pair and the first
    // CYRILLIC one, still pure registry data (two appended profiles +
    // one pattern list in TextOps.bgMkOrtho, zero new machinery — the
    // claim the five earlier pairs keep proving). Snippets use only
    // function words bg and mk share as identical Cyrillic strings
    // (на/и/е/се/за/но/му here — в/во, от/од, ще/ќе, the divergent
    // forms, deliberately absent), so s_bg == s_mk dead-ties; content
    // words differ only in the letters the other alphabet does not
    // have (bg ъ/щ/ю/я vs mk ќ/ѓ/љ/ѕ). The oracle's rewrite chain
    // regenerates from the same orthoRewriteCtes registry fold.
    oracle(
      "q152_bgmk_langid",
      {
        val scoreCols = graft.operators.TextOps.langProfiles.map { case (l, ws) =>
          s"CAST(len(list_filter(tk, t -> list_contains([${ws.map(w => s"'$w'").mkString(",")}], t))) AS BIGINT) AS s_$l"
        }.mkString(",\n  ")
        val lowSrc = "(' ' || lower(coalesce(text, '')) || ' ')"
        val censuses = graft.operators.TextOps.orthoPairs.flatten.map {
          case (lang, pats) =>
            s"${graft.operators.TextOps.orthoCountSql(lowSrc, pats)} AS t_$lang"
        }.mkString(",\n  ")
        val (chain, last) = graft.operators.TextOps.orthoRewriteCtes(2)
        s"""WITH aug AS (
           |  SELECT doc_id, coalesce(text, '') ||
           |    CASE WHEN doc_id % 9 = 2 THEN ' $bgSnippet $bgSnippet'
           |         WHEN doc_id % 9 = 3 THEN ' $mkSnippet $mkSnippet'
           |         ELSE '' END AS text
           |  FROM documents),
           |sc AS (
           |  SELECT doc_id,
           |  $scoreCols,
           |  $censuses
           |  FROM (SELECT doc_id, text, string_split(text, ' ') AS tk FROM aug)),
           |g AS (SELECT *, ${graft.operators.TextOps.langGuessSql} AS lang_guess
           |      FROM sc),
           |$chain
           |SELECT doc_id, s_bg, s_mk, t_bg, t_mk, lang_guess
           |FROM $last ORDER BY doc_id""".stripMargin
      },
      "Text analysis: bg/mk lang-ID via the orthography-pair registry (first Cyrillic pair)") { (s, d) =>
      val aug = Tables.byOrder(s, d, "documents", "doc_id").select(col("doc_id"),
        concat(coalesce(col("text"), lit("")),
          when(col("doc_id") % 9 === 2, lit(s" $bgSnippet $bgSnippet"))
          .when(col("doc_id") % 9 === 3, lit(s" $mkSnippet $mkSnippet"))
          .otherwise(lit(""))).as("text"))
      graft.operators.TextOps.langScoredOrtho(aug)
        .select("doc_id", "s_bg", "s_mk", "t_bg", "t_mk", "lang_guess")
        .orderBy("doc_id")
    },

    // uk/ru — the seventh function-word-inseparable pair, the second
    // Cyrillic one, and the largest-corpus instance (any web-scale
    // multilingual crawl is full of both): still pure registry data —
    // two appended profiles + one pattern list (TextOps.ukRuOrtho),
    // zero new machinery. Snippets use only the 10 function words uk
    // and ru share as identical Cyrillic strings (на/в/у/а/за/же/то
    // here — и/і, что/що, с/з, the divergent forms, deliberately
    // absent), so s_uk == s_ru dead-ties; content words differ only in
    // the letters the other alphabet does not have (uk і/ї/є/ґ vs ru
    // ы/э/ъ/ё). The oracle's rewrite chain regenerates from the same
    // orthoRewriteCtes registry fold — a seventh CTE appears in every
    // ortho oracle automatically.
    oracle(
      "q156_ukru_langid",
      {
        val scoreCols = graft.operators.TextOps.langProfiles.map { case (l, ws) =>
          s"CAST(len(list_filter(tk, t -> list_contains([${ws.map(w => s"'$w'").mkString(",")}], t))) AS BIGINT) AS s_$l"
        }.mkString(",\n  ")
        val lowSrc = "(' ' || lower(coalesce(text, '')) || ' ')"
        val censuses = graft.operators.TextOps.orthoPairs.flatten.map {
          case (lang, pats) =>
            s"${graft.operators.TextOps.orthoCountSql(lowSrc, pats)} AS t_$lang"
        }.mkString(",\n  ")
        val (chain, last) = graft.operators.TextOps.orthoRewriteCtes(2)
        s"""WITH aug AS (
           |  SELECT doc_id, coalesce(text, '') ||
           |    CASE WHEN doc_id % 9 = 6 THEN ' $ukSnippet $ukSnippet'
           |         WHEN doc_id % 9 = 7 THEN ' $ruSnippet $ruSnippet'
           |         ELSE '' END AS text
           |  FROM documents),
           |sc AS (
           |  SELECT doc_id,
           |  $scoreCols,
           |  $censuses
           |  FROM (SELECT doc_id, text, string_split(text, ' ') AS tk FROM aug)),
           |g AS (SELECT *, ${graft.operators.TextOps.langGuessSql} AS lang_guess
           |      FROM sc),
           |$chain
           |SELECT doc_id, s_uk, s_ru, t_uk, t_ru, lang_guess
           |FROM $last ORDER BY doc_id""".stripMargin
      },
      "Text analysis: uk/ru lang-ID via the orthography-pair registry (seventh pair, second Cyrillic)") { (s, d) =>
      val aug = Tables.byOrder(s, d, "documents", "doc_id").select(col("doc_id"),
        concat(coalesce(col("text"), lit("")),
          when(col("doc_id") % 9 === 6, lit(s" $ukSnippet $ukSnippet"))
          .when(col("doc_id") % 9 === 7, lit(s" $ruSnippet $ruSnippet"))
          .otherwise(lit(""))).as("text"))
      graft.operators.TextOps.langScoredOrtho(aug)
        .select("doc_id", "s_uk", "s_ru", "t_uk", "t_ru", "lang_guess")
        .orderBy("doc_id")
    },

    // nl/af — the eighth function-word-inseparable pair and the first
    // RESPELLING-separated one (Afrikaans kept 17th-century Dutch's
    // function-word skeleton but systematically respelled ij→y and
    // z→s): still pure registry data — one appended profile (nl has
    // been in the registry since round 8) + one pattern list
    // (TextOps.nlAfOrtho), zero new machinery. Snippets use only the
    // 13 function words nl and af share verbatim (het/en/is/dan/in/
    // met/op/om/te/ook here — die/de, nie/niet, vir/voor, the
    // divergent forms, deliberately absent), so s_nl == s_af
    // dead-ties; content words differ only in the respelled
    // orthography (nl ij/z vs af ê/ô). The oracle's rewrite chain
    // regenerates from the same orthoRewriteCtes registry fold — an
    // eighth CTE appears in every ortho oracle automatically.
    oracle(
      "q160_nlaf_langid",
      {
        val scoreCols = graft.operators.TextOps.langProfiles.map { case (l, ws) =>
          s"CAST(len(list_filter(tk, t -> list_contains([${ws.map(w => s"'$w'").mkString(",")}], t))) AS BIGINT) AS s_$l"
        }.mkString(",\n  ")
        val lowSrc = "(' ' || lower(coalesce(text, '')) || ' ')"
        val censuses = graft.operators.TextOps.orthoPairs.flatten.map {
          case (lang, pats) =>
            s"${graft.operators.TextOps.orthoCountSql(lowSrc, pats)} AS t_$lang"
        }.mkString(",\n  ")
        val (chain, last) = graft.operators.TextOps.orthoRewriteCtes(2)
        s"""WITH aug AS (
           |  SELECT doc_id, coalesce(text, '') ||
           |    CASE WHEN doc_id % 9 = 4 THEN ' $nlSnippet $nlSnippet'
           |         WHEN doc_id % 9 = 5 THEN ' $afSnippet $afSnippet'
           |         ELSE '' END AS text
           |  FROM documents),
           |sc AS (
           |  SELECT doc_id,
           |  $scoreCols,
           |  $censuses
           |  FROM (SELECT doc_id, text, string_split(text, ' ') AS tk FROM aug)),
           |g AS (SELECT *, ${graft.operators.TextOps.langGuessSql} AS lang_guess
           |      FROM sc),
           |$chain
           |SELECT doc_id, s_nl, s_af, t_nl, t_af, lang_guess
           |FROM $last ORDER BY doc_id""".stripMargin
      },
      "Text analysis: nl/af lang-ID via the orthography-pair registry (eighth pair, respelling census)") { (s, d) =>
      val aug = Tables.byOrder(s, d, "documents", "doc_id").select(col("doc_id"),
        concat(coalesce(col("text"), lit("")),
          when(col("doc_id") % 9 === 4, lit(s" $nlSnippet $nlSnippet"))
          .when(col("doc_id") % 9 === 5, lit(s" $afSnippet $afSnippet"))
          .otherwise(lit(""))).as("text"))
      graft.operators.TextOps.langScoredOrtho(aug)
        .select("doc_id", "s_nl", "s_af", "t_nl", "t_af", "lang_guess")
        .orderBy("doc_id")
    },

    // es/ca — the ninth function-word-inseparable pair: still pure
    // registry data — one appended profile (es has been a core profile
    // since round 1) + one pattern list (TextOps.esCaOrtho), zero new
    // machinery. Snippets use the 11 function words es and ca share
    // verbatim (la/de/en/el/que/del/no/una/al here); the es snippet
    // carries ONE standalone « y » (an es profile word — one vote of
    // margin, inside the ≤2 gate, and census evidence at once) plus
    // ñ content; the ca snippet is a true dead tie with ç/l·l content.
    oracle(
      "q166_esca_langid",
      {
        val scoreCols = graft.operators.TextOps.langProfiles.map { case (l, ws) =>
          s"CAST(len(list_filter(tk, t -> list_contains([${ws.map(w => s"'$w'").mkString(",")}], t))) AS BIGINT) AS s_$l"
        }.mkString(",\n  ")
        val lowSrc = "(' ' || lower(coalesce(text, '')) || ' ')"
        val censuses = graft.operators.TextOps.orthoPairs.flatten.map {
          case (lang, pats) =>
            s"${graft.operators.TextOps.orthoCountSql(lowSrc, pats)} AS t_$lang"
        }.mkString(",\n  ")
        val (chain, last) = graft.operators.TextOps.orthoRewriteCtes(2)
        s"""WITH aug AS (
           |  SELECT doc_id, coalesce(text, '') ||
           |    CASE WHEN doc_id % 9 = 0 THEN ' $esSnippet $esSnippet'
           |         WHEN doc_id % 9 = 1 THEN ' $caSnippet $caSnippet'
           |         ELSE '' END AS text
           |  FROM documents),
           |sc AS (
           |  SELECT doc_id,
           |  $scoreCols,
           |  $censuses
           |  FROM (SELECT doc_id, text, string_split(text, ' ') AS tk FROM aug)),
           |g AS (SELECT *, ${graft.operators.TextOps.langGuessSql} AS lang_guess
           |      FROM sc),
           |$chain
           |SELECT doc_id, s_es, s_ca, t_es, t_ca, lang_guess
           |FROM $last ORDER BY doc_id""".stripMargin
      },
      "Text analysis: es/ca lang-ID via the orthography-pair registry (ninth pair)") { (s, d) =>
      val aug = Tables.byOrder(s, d, "documents", "doc_id").select(col("doc_id"),
        concat(coalesce(col("text"), lit("")),
          when(col("doc_id") % 9 === 0, lit(s" $esSnippet $esSnippet"))
          .when(col("doc_id") % 9 === 1, lit(s" $caSnippet $caSnippet"))
          .otherwise(lit(""))).as("text"))
      graft.operators.TextOps.langScoredOrtho(aug)
        .select("doc_id", "s_es", "s_ca", "t_es", "t_ca", "lang_guess")
        .orderBy("doc_id")
    },

    // Reciprocal-rank-fusion hybrid retrieval: the q142 BM25 lexical
    // ranking and a q39-style cosine ranking against probe vector 0,
    // fused by integer RRF (1000000 div (60 + rank), absent list = 0)
    // so the fused score is an order-free BIGINT sum — doubles only
    // ORDER the semantic list, never cross engines. The lexical CTE is
    // the shared bm25Ctes text, so q142 and this oracle can never skew.
    oracle(
      "q157_rrf_fusion",
      s"""WITH ${bm25Ctes(Seq("hash", "merge", "vector"))},
         |e AS (
         |  SELECT vec_id, embedding,
         |    sqrt(${dotD("embedding", "embedding")}) AS norm
         |  FROM embeddings),
         |ss AS (
         |  SELECT c.vec_id AS doc_id,
         |    CASE WHEN q.norm * c.norm = 0 THEN 0.0
         |         ELSE ${dotD("q.embedding", "c.embedding")} / (q.norm * c.norm)
         |    END AS cosine
         |  FROM e q JOIN e c ON q.vec_id = 0 AND c.vec_id <> 0),
         |sr AS (
         |  SELECT doc_id, CAST(ROW_NUMBER() OVER
         |    (ORDER BY cosine DESC, doc_id) AS BIGINT) AS sem_rank FROM ss),
         |sem AS (SELECT doc_id, sem_rank FROM sr WHERE sem_rank <= 100),
         |lex AS (SELECT doc_id, "rank" AS lex_rank FROM r WHERE "rank" <= 100),
         |f AS (
         |  SELECT coalesce(lex.doc_id, sem.doc_id) AS doc_id, lex_rank, sem_rank,
         |    CAST(coalesce(1000000 // (60 + lex_rank), 0)
         |       + coalesce(1000000 // (60 + sem_rank), 0) AS BIGINT) AS rrf_ppm
         |  FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id),
         |fr AS (SELECT *, CAST(ROW_NUMBER() OVER
         |        (ORDER BY rrf_ppm DESC, doc_id) AS BIGINT) AS "rank" FROM f)
         |SELECT "rank", doc_id, rrf_ppm, lex_rank, sem_rank
         |FROM fr WHERE "rank" <= 20 ORDER BY "rank"""",
      "Retrieval: reciprocal-rank fusion of BM25 + cosine rankings (hybrid RAG retrieval)") { (s, d) =>
      SimOps.rrfFuseTopK(Tables(s, d, "documents"), Tables(s, d, "embeddings"),
          Seq("hash", "merge", "vector"))
        .orderBy("rank")
    },

    // Margin-based pair mining (Artetxe & Schwenk ratio margin, the
    // CCMatrix/LASER bitext selection rule) between the label-0 and
    // label-1 embedding populations: per-pair cosines floor to ppm
    // BEFORE the top-km neighborhood sums, so the margin ratio is exact
    // integer arithmetic in both engines and every division is
    // positive/positive (Spark div truncates, DuckDB // floors — they
    // agree only there).
    oracle(
      "q158_margin_mining",
      s"""WITH e AS (
         |  SELECT vec_id, label, embedding,
         |    sqrt(${dotD("embedding", "embedding")}) AS norm
         |  FROM embeddings),
         |a AS (SELECT vec_id AS a_id, embedding AS a_emb, norm AS a_norm
         |      FROM e WHERE label = 0),
         |b AS (SELECT vec_id AS b_id, embedding AS b_emb, norm AS b_norm
         |      FROM e WHERE label = 1),
         |p AS (
         |  SELECT a_id, b_id,
         |    CAST(floor((CASE WHEN a_norm * b_norm = 0 THEN 0.0
         |      ELSE ${dotD("a_emb", "b_emb")} / (a_norm * b_norm) END)
         |      * 1000000.0) AS BIGINT) AS cos_ppm
         |  FROM a CROSS JOIN b),
         |fw AS (
         |  SELECT a_id, CAST(sum(cos_ppm) AS BIGINT) AS fwd_sum,
         |    CAST(count(*) AS BIGINT) AS fwd_n
         |  FROM (SELECT *, ROW_NUMBER() OVER
         |          (PARTITION BY a_id ORDER BY cos_ppm DESC, b_id) AS r FROM p)
         |  WHERE r <= 4 GROUP BY 1),
         |bw AS (
         |  SELECT b_id, CAST(sum(cos_ppm) AS BIGINT) AS bwd_sum,
         |    CAST(count(*) AS BIGINT) AS bwd_n
         |  FROM (SELECT *, ROW_NUMBER() OVER
         |          (PARTITION BY b_id ORDER BY cos_ppm DESC, a_id) AS r FROM p)
         |  WHERE r <= 4 GROUP BY 1),
         |m AS (
         |  SELECT p.a_id, p.b_id, p.cos_ppm,
         |    CAST(CASE WHEN cos_ppm <= 0
         |           OR fwd_sum * bwd_n + bwd_sum * fwd_n <= 0 THEN 0
         |      ELSE (2 * cos_ppm * fwd_n * bwd_n * 1000000)
         |           // (fwd_sum * bwd_n + bwd_sum * fwd_n) END AS BIGINT)
         |      AS margin_ppm
         |  FROM p JOIN fw USING (a_id) JOIN bw USING (b_id)),
         |w AS (SELECT *, ROW_NUMBER() OVER
         |        (PARTITION BY a_id ORDER BY margin_ppm DESC, b_id) AS rn FROM m)
         |SELECT a_id, b_id, cos_ppm, margin_ppm,
         |  margin_ppm >= 1200000 AS aligned
         |FROM w WHERE rn = 1 ORDER BY a_id""",
      "Similarity: margin-based pair mining between embedding populations (ratio margin)") { (s, d) =>
      SimOps.marginMiningPairs(Tables(s, d, "embeddings"))
        .orderBy("a_id")
    },

    // Margin mining, IVF-GATED (the corpus-scale composition q158's
    // bounded-population contract defers to): candidates are the
    // same-cell equi-join over q56's sampled-centroid cells instead of
    // the |A|×|B| cross product; the margin machinery downstream is the
    // identical shared helper. An a_id only appears if its cell holds a
    // labelB partner — the recall trade every IVF deployment makes
    // (q119 measures it).
    oracle(
      "q167_margin_mining_gated",
      s"""WITH e AS (
         |  SELECT vec_id, label, embedding,
         |    sqrt(${dotD("embedding", "embedding")}) AS norm
         |  FROM embeddings),
         |c AS (SELECT vec_id AS cent_id, embedding AS cent_emb, norm AS cent_norm
         |      FROM e WHERE vec_id < 16),
         |scored AS (
         |  SELECT v.vec_id, c.cent_id,
         |    ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
         |      ${dotD("v.embedding", "c.cent_emb")} / (v.norm * c.cent_norm)
         |        DESC, c.cent_id) AS rn
         |  FROM e v CROSS JOIN c),
         |cl AS (SELECT vec_id, cent_id AS cell FROM scored WHERE rn = 1),
         |a AS (SELECT cl.cell, vec_id AS a_id, embedding AS a_emb, norm AS a_norm
         |      FROM e JOIN cl USING (vec_id) WHERE label = 0),
         |b AS (SELECT cl.cell, vec_id AS b_id, embedding AS b_emb, norm AS b_norm
         |      FROM e JOIN cl USING (vec_id) WHERE label = 1),
         |p AS (
         |  SELECT a_id, b_id,
         |    CAST(floor((CASE WHEN a_norm * b_norm = 0 THEN 0.0
         |      ELSE ${dotD("a_emb", "b_emb")} / (a_norm * b_norm) END)
         |      * 1000000.0) AS BIGINT) AS cos_ppm
         |  FROM a JOIN b USING (cell)),
         |fw AS (
         |  SELECT a_id, CAST(sum(cos_ppm) AS BIGINT) AS fwd_sum,
         |    CAST(count(*) AS BIGINT) AS fwd_n
         |  FROM (SELECT *, ROW_NUMBER() OVER
         |          (PARTITION BY a_id ORDER BY cos_ppm DESC, b_id) AS r FROM p)
         |  WHERE r <= 4 GROUP BY 1),
         |bw AS (
         |  SELECT b_id, CAST(sum(cos_ppm) AS BIGINT) AS bwd_sum,
         |    CAST(count(*) AS BIGINT) AS bwd_n
         |  FROM (SELECT *, ROW_NUMBER() OVER
         |          (PARTITION BY b_id ORDER BY cos_ppm DESC, a_id) AS r FROM p)
         |  WHERE r <= 4 GROUP BY 1),
         |m AS (
         |  SELECT p.a_id, p.b_id, p.cos_ppm,
         |    CAST(CASE WHEN cos_ppm <= 0
         |           OR fwd_sum * bwd_n + bwd_sum * fwd_n <= 0 THEN 0
         |      ELSE (2 * cos_ppm * fwd_n * bwd_n * 1000000)
         |           // (fwd_sum * bwd_n + bwd_sum * fwd_n) END AS BIGINT)
         |      AS margin_ppm
         |  FROM p JOIN fw USING (a_id) JOIN bw USING (b_id)),
         |w AS (SELECT *, ROW_NUMBER() OVER
         |        (PARTITION BY a_id ORDER BY margin_ppm DESC, b_id) AS rn FROM m)
         |SELECT a_id, b_id, cos_ppm, margin_ppm,
         |  margin_ppm >= 1200000 AS aligned
         |FROM w WHERE rn = 1 ORDER BY a_id""",
      "Similarity: IVF-gated margin mining (corpus-scale candidate generation)") { (s, d) =>
      SimOps.marginMiningPairsGated(Tables(s, d, "embeddings"))
        .orderBy("a_id")
    },

    // PII detection + redaction — the pre-release scrub every public
    // corpus pipeline runs (C4/Dolma/StarCoder mask emails, IPs,
    // phones; card shapes gate through the Luhn checksum: pattern for
    // recall, checksum for precision). Planted snippets per doc_id %
    // 11 exercise every detector incl. the Luhn-valid/invalid split;
    // the oracle hash-pins the redacted REWRITE via md5, not just the
    // tallies. Patterns interpolate from TextOps.Pii*Re so both
    // engines run the identical regex.
    oracle(
      "q168_pii_redaction",
      s"""WITH aug AS (
         |  SELECT doc_id, coalesce(text, '') ||
         |    CASE WHEN doc_id % 11 = 0 THEN ' contact alice.smith@example.org today'
         |         WHEN doc_id % 11 = 1 THEN ' card 4532015112830366 on file'
         |         WHEN doc_id % 11 = 2 THEN ' card 4532015112830367 on file'
         |         WHEN doc_id % 11 = 3 THEN ' call 555-867-5309 now'
         |         WHEN doc_id % 11 = 4 THEN ' host 192.168.10.1 up'
         |         WHEN doc_id % 11 = 5 THEN ' bob@test.io and 555-123-4567 both'
         |         ELSE '' END AS text
         |  FROM documents),
         |r AS (
         |  SELECT doc_id,
         |    CASE WHEN contains(text, '@')
         |      THEN regexp_replace(text, '${TextOps.PiiEmailRe}', '<EMAIL>', 'g')
         |      ELSE text END AS t1
         |  FROM aug),
         |r2 AS (
         |  SELECT doc_id, t1,
         |    regexp_replace(regexp_replace(regexp_replace(t1,
         |      '${TextOps.PiiCcRe}', '<CC>', 'g'),
         |      '${TextOps.PiiPhoneRe}', '<PHONE>', 'g'),
         |      '${TextOps.PiiIpRe}', '<IP>', 'g') AS red
         |  FROM r)
         |SELECT doc_id,
         |  CAST(len(string_split(red, '<EMAIL>')) - 1 AS BIGINT) AS n_emails,
         |  CAST(len(string_split(red, '<PHONE>')) - 1 AS BIGINT) AS n_phones,
         |  CAST(len(string_split(red, '<IP>')) - 1 AS BIGINT) AS n_ips,
         |  CAST(len(string_split(red, '<CC>')) - 1 AS BIGINT) AS n_cc_candidates,
         |  CASE WHEN contains(red, '<CC>')
         |    THEN CAST(len(list_filter(regexp_extract_all(t1, '${TextOps.PiiCcRe}'), c ->
         |      (list_sum(list_transform(range(1, length(c) + 1),
         |        i -> CASE WHEN (length(c) - i) % 2 = 1
         |          THEN CASE WHEN 2 * CAST(substr(c, i, 1) AS BIGINT) > 9
         |            THEN 2 * CAST(substr(c, i, 1) AS BIGINT) - 9
         |            ELSE 2 * CAST(substr(c, i, 1) AS BIGINT) END
         |          ELSE CAST(substr(c, i, 1) AS BIGINT) END)) % 10 = 0))) AS BIGINT)
         |    ELSE CAST(0 AS BIGINT) END AS n_cc_valid,
         |  CAST(length(red) AS BIGINT) AS redacted_len,
         |  md5(red) AS redacted_md5
         |FROM r2 ORDER BY doc_id""",
      "Curation: PII detection + redaction (emails/phones/IPv4/Luhn-gated cards, md5-pinned rewrite)") { (s, d) =>
      val aug = Tables.byOrder(s, d, "documents", "doc_id").select(col("doc_id"),
        concat(coalesce(col("text"), lit("")),
          when(col("doc_id") % 11 === 0, lit(" contact alice.smith@example.org today"))
            .when(col("doc_id") % 11 === 1, lit(" card 4532015112830366 on file"))
            .when(col("doc_id") % 11 === 2, lit(" card 4532015112830367 on file"))
            .when(col("doc_id") % 11 === 3, lit(" call 555-867-5309 now"))
            .when(col("doc_id") % 11 === 4, lit(" host 192.168.10.1 up"))
            .when(col("doc_id") % 11 === 5, lit(" bob@test.io and 555-123-4567 both"))
            .otherwise(lit(""))).as("text"))
      TextOps.piiScan(aug).orderBy("doc_id")
    },

    // Fill-in-the-middle example construction (Bavarian et al. — the
    // PSM transform code-model pipelines apply to a corpus slice): two
    // h60-derived split points cut each document into non-empty
    // prefix/middle/suffix, re-serialized <PRE>…<SUF>…<MID>… and
    // md5-pinned. Short documents pass through unsplit (fim=false).
    oracle(
      "q169_fim_examples",
      s"""WITH tk AS (
         |  SELECT doc_id, string_split(coalesce(text, ''), ' ') AS tk,
         |    CAST(len(string_split(coalesce(text, ''), ' ')) AS BIGINT) AS n_tokens
         |  FROM documents),
         |c1 AS (
         |  SELECT doc_id, tk, n_tokens,
         |    1 + ${h60Sql("CAST(doc_id AS VARCHAR) || '|fim1'")} % (n_tokens - 2) AS s1
         |  FROM tk WHERE n_tokens >= ${TextOps.FimMinTokens}),
         |c2 AS (
         |  SELECT doc_id, tk, n_tokens, s1,
         |    s1 + 1 + ${h60Sql("CAST(doc_id AS VARCHAR) || '|fim2'")} % (n_tokens - 1 - s1) AS s2
         |  FROM c1),
         |p AS (
         |  SELECT doc_id, n_tokens, s1, s2, TRUE AS fim,
         |    '<PRE>' || array_to_string(tk[1:s1], ' ') ||
         |    '<SUF>' || array_to_string(tk[s2+1:n_tokens], ' ') ||
         |    '<MID>' || array_to_string(tk[s1+1:s2], ' ') AS psm
         |  FROM c2
         |  UNION ALL
         |  SELECT doc_id, n_tokens, CAST(0 AS BIGINT), CAST(0 AS BIGINT),
         |    FALSE, array_to_string(tk, ' ')
         |  FROM tk WHERE n_tokens < ${TextOps.FimMinTokens})
         |SELECT doc_id, n_tokens, s1, s2, fim,
         |  CAST(length(psm) AS BIGINT) AS psm_len, md5(psm) AS psm_md5
         |FROM p ORDER BY doc_id""",
      "Training data: fill-in-the-middle PSM example construction (h60 split points, md5-pinned)") { (s, d) =>
      TextOps.fimExamples(Tables.byOrder(s, d, "documents", "doc_id")).orderBy("doc_id")
    },

    // Classifier-vs-rules calibration: the q138 hashed linear model's
    // confusion matrix against the q113 quality-rule label at each
    // candidate logit threshold — the governance readout before a team
    // swaps hand heuristics for the cheap model. All counts and ppm
    // ratios are non-negative integers (div ≡ //); the label reuses
    // the q113-proven double compare.
    oracle(
      "q161_classifier_calibration",
      s"""WITH q AS ($qualityCte),
         |tok AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
         |f AS (
         |  SELECT doc_id, ${h60Sql("t")} % ${TextOps.CalibDim} AS j FROM tok),
         |w AS (
         |  SELECT j, (${h60Sql("'w_' || j::VARCHAR")} % 1000001) - 500000 AS w
         |  FROM (SELECT unnest(range(0, ${TextOps.CalibDim})) AS j)),
         |ag AS (
         |  SELECT doc_id, CAST(sum(w.w) AS BIGINT) AS logit
         |  FROM f JOIN w USING (j) GROUP BY 1),
         |lab AS (
         |  SELECT ag.doc_id, logit,
         |    CASE WHEN quality >= ${TextOps.CalibQualityCut} THEN 1 ELSE 0 END AS label
         |  FROM ag JOIN q USING (doc_id)),
         |x AS (
         |  SELECT label, logit,
         |    unnest([${TextOps.CalibThresholds.mkString(", ")}]) AS threshold
         |  FROM lab),
         |c AS (
         |  SELECT CAST(threshold AS BIGINT) AS threshold,
         |    CAST(sum(CASE WHEN logit > threshold AND label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         |    CAST(sum(CASE WHEN logit > threshold AND label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         |    CAST(sum(CASE WHEN logit <= threshold AND label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
         |    CAST(sum(CASE WHEN logit <= threshold AND label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
         |  FROM x GROUP BY 1)
         |SELECT threshold, tp, fp, fn, tn,
         |  CAST(CASE WHEN tp + fp = 0 THEN 0
         |       ELSE (tp * 1000000) // (tp + fp) END AS BIGINT) AS precision_ppm,
         |  CAST(CASE WHEN tp + fn = 0 THEN 0
         |       ELSE (tp * 1000000) // (tp + fn) END AS BIGINT) AS recall_ppm
         |FROM c ORDER BY threshold""",
      "Governance: hashed-classifier vs quality-rule calibration sweep (confusion + ppm P/R)") { (s, d) =>
      TextOps.classifierCalibration(Tables(s, d, "documents"))
        .orderBy("threshold")
    },

    // Dedup-weighted training mass: the SOFT alternative to dropping
    // duplicates — every doc keeps a 1/cluster_size ppm loss weight
    // over q57's transitive-closure clusters, so duplicated content
    // counts once in expectation while the corpus (and its popularity
    // signal) stays intact. Oracle = q57's proven recursive-closure
    // chain + the census and token joins.
    oracle(
      "q162_dedup_weighted_mass",
      {
        import graft.operators.TextOps.h60d
        s"""WITH RECURSIVE sh AS (${NorthStarQueries.SH}),
           |sig AS (${NorthStarQueries.SIG()}),
           |bands AS (
           |  SELECT doc_id, unnest(range(0, 4)) AS band,
           |    unnest(list_transform(range(0, 4), b ->
           |      ${h60d("b::VARCHAR || '|' || array_to_string(sig[b*4+1 : b*4+4], ',')")})) AS bucket
           |  FROM sig WHERE sig[1] <> -1),
           |cand AS (
           |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
           |  FROM bands x JOIN bands y ON x.band = y.band AND x.bucket = y.bucket
           |  WHERE x.doc_id < y.doc_id),
           |verified AS (
           |  SELECT a, b FROM cand
           |  JOIN sh sa ON sa.doc_id = a
           |  JOIN sh sb ON sb.doc_id = b
           |  WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
           |          / len(list_distinct(sa.sh || sb.sh)) >= 0.5),
           |edges AS (SELECT a AS u, b AS v FROM verified
           |          UNION SELECT b AS u, a AS v FROM verified),
           |reach(id, r) AS (
           |  SELECT doc_id, doc_id FROM documents
           |  UNION
           |  SELECT e.u, reach.r FROM edges e JOIN reach ON reach.id = e.v),
           |final AS (SELECT id AS doc_id, min(r) AS cluster_id
           |          FROM reach GROUP BY id),
           |cs AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
           |       FROM final GROUP BY 1),
           |tk AS (SELECT doc_id,
           |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
           |       FROM documents)
           |SELECT f.doc_id, f.cluster_id, cs.cluster_size,
           |  CAST(1000000 // cs.cluster_size AS BIGINT) AS weight_ppm,
           |  tk.n_tokens,
           |  CAST((tk.n_tokens * 1000000) // cs.cluster_size AS BIGINT)
           |    AS weighted_tokens_ppm
           |FROM final f JOIN cs USING (cluster_id) JOIN tk USING (doc_id)
           |ORDER BY f.doc_id""".stripMargin
      },
      "Governance: dedup-weighted training mass (count-once loss weighting, soft dedup)") { (s, d) =>
      RefineOps.dedupWeightedMass(Tables(s, d, "documents"))
        .orderBy("doc_id")
    },

    // Dimension-truncation recall (Matryoshka evaluation): how much of
    // the full-dim exact top-5 survives when ranking with an 8/16/32-dim
    // PREFIX of each embedding — the memory/recall trade a serving
    // system reads before truncating its index. Oracle = one q39-style
    // chain per dim over the list prefix.
    oracle(
      "q163_truncation_recall",
      {
        def chain(tag: String, embSel: String) =
          s"""e$tag AS (SELECT vec_id, $embSel AS emb FROM embeddings),
             |n$tag AS (
             |  SELECT vec_id, emb, sqrt(${dotD("emb", "emb")}) AS nrm FROM e$tag),
             |s$tag AS (
             |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
             |    CASE WHEN q.nrm * c.nrm = 0 THEN 0.0
             |         ELSE ${dotD("q.emb", "c.emb")} / (q.nrm * c.nrm) END AS cosine
             |  FROM n$tag q JOIN n$tag c ON q.vec_id < 50 AND q.vec_id <> c.vec_id),
             |t$tag AS (
             |  SELECT q_id, n_id FROM (
             |    SELECT q_id, n_id, ROW_NUMBER() OVER
             |      (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rn
             |    FROM s$tag)
             |  WHERE rn <= 5)""".stripMargin
        val dims = Seq(8, 16, 32)
        val chains = (chain("f", "embedding") +:
          dims.map(d => chain(s"d$d", s"embedding[1:$d]"))).mkString(",\n")
        val perDim = dims.map { d =>
          s"""SELECT CAST($d AS BIGINT) AS trunc_dim, p.q_id,
             |  CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
             |  CAST((coalesce(h.n_hits, 0) * 1000000) // 5 AS BIGINT) AS recall_ppm
             |FROM qs p LEFT JOIN (
             |  SELECT t.q_id, count(*) AS n_hits
             |  FROM tf t JOIN td$d c ON t.q_id = c.q_id AND t.n_id = c.n_id
             |  GROUP BY 1) h ON p.q_id = h.q_id""".stripMargin
        }.mkString("\nUNION ALL\n")
        s"""WITH $chains,
           |qs AS (SELECT DISTINCT q_id FROM tf)
           |SELECT * FROM ($perDim)
           |ORDER BY trunc_dim, q_id""".stripMargin
      },
      "Similarity: dimension-truncation recall curve (Matryoshka serving evaluation)") { (s, d) =>
      SimOps.truncationRecall(Tables(s, d, "embeddings"))
        .orderBy("trunc_dim", "q_id")
    },

    // Max-passage BM25: long documents dilute whole-document BM25, so
    // retrieval scores the q63 token chunks and ranks each doc by its
    // BEST chunk — the classic max-passage rule, at chunk-granularity
    // document frequency. The q142 integer discipline verbatim; winner
    // = max(struct) partial agg (best score, earliest chunk on ties).
    oracle(
      "q164_maxpassage_bm25",
      s"""WITH ch AS (
         |  SELECT doc_id, CAST(start // 48 AS BIGINT) AS chunk_idx,
         |    CAST(len(tk[start + 1 : start + 64]) AS BIGINT) AS len,
         |    tk[start + 1 : start + 64] AS ctk
         |  FROM (SELECT doc_id, tk,
         |          unnest(range(0, greatest(len(tk), 1), 48)) AS start
         |        FROM (${NorthStarQueries.TK}))),
         |qt AS (
         |  SELECT doc_id, chunk_idx, term
         |  FROM (SELECT doc_id, chunk_idx, unnest(ctk) AS term FROM ch)
         |  WHERE term IN ('hash', 'merge', 'vector')),
         |tf AS (SELECT doc_id, chunk_idx, term, CAST(count(*) AS BIGINT) AS tf
         |       FROM qt GROUP BY 1, 2, 3),
         |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df
         |       FROM (SELECT DISTINCT doc_id, chunk_idx, term FROM qt) GROUP BY 1),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_chunks,
         |          CAST(sum(len) AS BIGINT) AS total_len FROM ch),
         |sc AS (
         |  SELECT tf.doc_id, tf.chunk_idx,
         |    CAST(floor(
         |      ((CAST(n_chunks AS DOUBLE) - CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE))
         |        / (CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE)))
         |      * (CAST(tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE)))
         |      / (CAST(tf AS DOUBLE) + CAST(1.2 AS DOUBLE)
         |         * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
         |            + CAST(0.75 AS DOUBLE) * (CAST(ch.len AS DOUBLE)
         |              / (CAST(total_len AS DOUBLE) / CAST(n_chunks AS DOUBLE)))))
         |      * CAST(1000000.0 AS DOUBLE)) AS BIGINT) AS score_ppm
         |  FROM tf JOIN df USING (term)
         |  JOIN ch ON ch.doc_id = tf.doc_id AND ch.chunk_idx = tf.chunk_idx
         |  CROSS JOIN tot),
         |cs AS (SELECT doc_id, chunk_idx, CAST(sum(score_ppm) AS BIGINT) AS score_ppm
         |       FROM sc GROUP BY 1, 2),
         |best AS (
         |  SELECT doc_id, chunk_idx, score_ppm, ROW_NUMBER() OVER
         |    (PARTITION BY doc_id ORDER BY score_ppm DESC, chunk_idx) AS rn
         |  FROM cs),
         |r AS (
         |  SELECT doc_id, chunk_idx, score_ppm, CAST(ROW_NUMBER() OVER
         |    (ORDER BY score_ppm DESC, doc_id) AS BIGINT) AS "rank"
         |  FROM best WHERE rn = 1)
         |SELECT "rank", doc_id, chunk_idx, score_ppm
         |FROM r WHERE "rank" <= 20 ORDER BY "rank"""",
      "Retrieval: max-passage BM25 over token chunks (passage scoring, doc-level ranking)") { (s, d) =>
      TextOps.bm25MaxPassageTopK(Tables(s, d, "documents"),
          Seq("hash", "merge", "vector"))
        .orderBy("rank")
    },

    // Near-dup pair evidence: for every verified pair, the 3 RAREST
    // shared shingles by corpus df — the explainability readout a
    // reviewer reads before trusting a merge (shared stop-grams
    // explain nothing; the rare overlap is the fingerprint). Ties
    // break by h60, never string collation.
    oracle(
      "q165_pair_evidence",
      {
        import graft.operators.TextOps.h60d
        s"""WITH sh AS (${NorthStarQueries.SH}),
           |sig AS (${NorthStarQueries.SIG()}),
           |bands AS (
           |  SELECT doc_id, unnest(range(0, 4)) AS band,
           |    unnest(list_transform(range(0, 4), b ->
           |      ${h60d("b::VARCHAR || '|' || array_to_string(sig[b*4+1 : b*4+4], ',')")})) AS bucket
           |  FROM sig WHERE sig[1] <> -1),
           |cand AS (
           |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
           |  FROM bands x JOIN bands y ON x.band = y.band AND x.bucket = y.bucket
           |  WHERE x.doc_id < y.doc_id),
           |verified AS (
           |  SELECT a, b FROM cand
           |  JOIN sh sa ON sa.doc_id = a
           |  JOIN sh sb ON sb.doc_id = b
           |  WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
           |          / len(list_distinct(sa.sh || sb.sh)) >= 0.5),
           |rows_ AS (SELECT doc_id, unnest(sh) AS g FROM sh),
           |dfc AS (SELECT g, CAST(count(*) AS BIGINT) AS df
           |        FROM rows_ GROUP BY 1),
           |shared AS (
           |  SELECT v.a, v.b, ra.g FROM verified v
           |  JOIN rows_ ra ON ra.doc_id = v.a
           |  JOIN rows_ rb ON rb.doc_id = v.b AND rb.g = ra.g),
           |ranked AS (
           |  SELECT s.a, s.b, s.g, dfc.df,
           |    ROW_NUMBER() OVER (PARTITION BY s.a, s.b
           |      ORDER BY dfc.df, ${h60d("s.g")}) AS rn
           |  FROM shared s JOIN dfc USING (g))
           |SELECT a, b, CAST(rn AS BIGINT) AS "rank", g AS shingle, df
           |FROM ranked WHERE rn <= 3 ORDER BY a, b, "rank"""".stripMargin
      },
      "Governance: near-dup pair evidence — rarest shared shingles per verified pair") { (s, d) =>
      graft.operators.DedupOps.pairEvidence(Tables(s, d, "documents"))
        .orderBy("a", "b", "rank")
    },

    // Statistical watermark detection (Kirchenbauer et al.'s public
    // green-list scheme): recompute each token's green membership from
    // the (prev, current) pair hash and flag documents whose green
    // count clears the one-sided z >= 4 test — exact integer form
    // (2g-T >= 0 AND (2g-T)^2 >= 16T). The provenance screen that
    // keeps another model's watermarked output out of a training
    // corpus. Planted green-green bigram runs on doc_id % 13 give the
    // detector true positives (the q168 planted-snippet pattern); the
    // plant string interpolates from TextOps.WmPlant on both sides.
    oracle(
      "q170_watermark_detect",
      {
        import graft.operators.TextOps.h60d
        s"""WITH aug AS (
           |  SELECT doc_id, coalesce(text, '') ||
           |    CASE WHEN doc_id % ${TextOps.WmPlantMod} = 0
           |      THEN ' ${TextOps.WmPlant}' ELSE '' END AS text
           |  FROM documents),
           |tk AS (SELECT doc_id, string_split(text, ' ') AS tk FROM aug),
           |g AS (
           |  SELECT doc_id, CAST(len(tk) - 1 AS BIGINT) AS t_scored,
           |    CAST(coalesce(list_sum(list_transform(range(2, len(tk) + 1), i ->
           |      CASE WHEN ${h60d("tk[i-1] || '|' || tk[i]")} % 2 = 0
           |        THEN 1 ELSE 0 END)), 0) AS BIGINT) AS green_cnt
           |  FROM tk WHERE len(tk) >= 2
           |  UNION ALL
           |  SELECT doc_id, CAST(0 AS BIGINT), CAST(0 AS BIGINT)
           |  FROM tk WHERE len(tk) < 2)
           |SELECT doc_id, t_scored, green_cnt,
           |  CAST(CASE WHEN t_scored = 0 THEN 0
           |    ELSE (green_cnt * 1000000) // t_scored END AS BIGINT) AS green_ppm,
           |  t_scored >= 1 AND 2 * green_cnt - t_scored >= 0
           |    AND (2 * green_cnt - t_scored) * (2 * green_cnt - t_scored)
           |      >= 16 * t_scored AS watermarked
           |FROM g ORDER BY doc_id""".stripMargin
      },
      "Provenance: green-list watermark detection (Kirchenbauer z>=4, exact integer test)") { (s, d) =>
      val aug = Tables.byOrder(s, d, "documents", "doc_id").select(col("doc_id"),
        concat(coalesce(col("text"), lit("")),
          when(col("doc_id") % TextOps.WmPlantMod === 0,
            lit(" " + TextOps.WmPlant)).otherwise(lit(""))).as("text"))
      TextOps.watermarkScan(aug).orderBy("doc_id")
    },

    // Character-level near-dup pairs by blocked Levenshtein — the
    // entity-resolution member of the near-dup matrix: token Jaccard
    // (q38) and MinHash (q36) miss in-word edits (OCR noise, typo
    // variants); edit distance catches them. Candidates gate through
    // the standard ER blocking key (first-3-token prefix + length
    // window — edit distance >= length difference makes the window a
    // sound pre-filter at this floor); similarity is the exact integer
    // ((maxLen-lev)*1e6) div maxLen. Defaults interpolate from
    // DedupOps.Lev* on both sides (the q161 lockstep discipline).
    oracle(
      "q171_lev_neardup",
      {
        import graft.operators.DedupOps.{LevPrefixTokens, LevLenWindow, LevSimMinPpm}
        s"""WITH t AS (
           |  SELECT doc_id, coalesce(text, '') AS text,
           |    string_split(coalesce(text, ''), ' ') AS tk
           |  FROM documents),
           |b AS (
           |  SELECT doc_id, text, CAST(length(text) AS BIGINT) AS len,
           |    array_to_string(tk[1:$LevPrefixTokens], '|') AS blk
           |  FROM t WHERE len(tk) >= $LevPrefixTokens),
           |p AS (
           |  SELECT x.doc_id AS a_id, y.doc_id AS b_id,
           |    CAST(levenshtein(x.text, y.text) AS BIGINT) AS lev,
           |    greatest(x.len, y.len) AS max_len
           |  FROM b x JOIN b y ON x.blk = y.blk AND x.doc_id < y.doc_id
           |    AND abs(x.len - y.len) <= $LevLenWindow)
           |SELECT a_id, b_id, lev, max_len,
           |  CAST(((max_len - lev) * 1000000) // max_len AS BIGINT) AS sim_ppm
           |FROM p WHERE ((max_len - lev) * 1000000) // max_len >= $LevSimMinPpm
           |ORDER BY a_id, b_id""".stripMargin
      },
      "Dedup: blocked Levenshtein near-dup pairs (char-level ER, prefix+length blocking)") { (s, d) =>
      graft.operators.DedupOps.levNearDupPairs(Tables(s, d, "documents"))
        .orderBy("a_id", "b_id")
    },

    // Scalar (int8) quantization recall — the serving evaluation
    // completing the compression matrix (PQ q88/q125, Matryoshka
    // truncation q163), for the quantization int8 vector indexes
    // actually ship: symmetric per-vector codes (floor(x*127/absmax),
    // one scale byte per vector) scored by the integer-dot kernel
    // with the per-vector scale correction at rank time (= cosine in
    // the code domain); recall@5 vs the exact float cosine top-5
    // prices the 4x memory cut. Quantize map is one float expression
    // replayed verbatim; code dots/norms exact BIGINT; the corrected
    // score is a single exact-integer-fed division used only to ORDER.
    oracle(
      "q172_sq8_recall",
      s"""WITH e AS (SELECT vec_id, embedding AS emb FROM embeddings),
         |qv AS (
         |  SELECT vec_id, list_transform(range(1, len(emb) + 1), i ->
         |    CASE WHEN s = CAST(0.0 AS DOUBLE) THEN 0
         |      ELSE CAST(floor(CAST(emb[i] AS DOUBLE)
         |        * CAST(127.0 AS DOUBLE) / s) AS BIGINT) END) AS qv
         |  FROM (SELECT vec_id, emb,
         |          list_max(list_transform(emb, x -> abs(CAST(x AS DOUBLE)))) AS s
         |        FROM e)),
         |qn AS (
         |  SELECT vec_id, qv,
         |    CAST(list_sum(list_transform(range(1, len(qv) + 1),
         |      i -> qv[i] * qv[i])) AS BIGINT) AS ss
         |  FROM qv),
         |sq AS (
         |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
         |    CASE WHEN q.ss = 0 OR c.ss = 0 THEN CAST(0.0 AS DOUBLE)
         |      ELSE CAST(list_sum(list_transform(range(1, len(q.qv) + 1),
         |        i -> q.qv[i] * c.qv[i])) AS DOUBLE)
         |        / sqrt(CAST(q.ss AS DOUBLE) * CAST(c.ss AS DOUBLE)) END AS score
         |  FROM qn q JOIN qn c ON q.vec_id < 50 AND q.vec_id <> c.vec_id),
         |tq AS (
         |  SELECT q_id, n_id FROM (
         |    SELECT q_id, n_id, ROW_NUMBER() OVER
         |      (PARTITION BY q_id ORDER BY score DESC, n_id) AS rn FROM sq)
         |  WHERE rn <= 5),
         |nf AS (SELECT vec_id, emb, sqrt(${dotD("emb", "emb")}) AS nrm FROM e),
         |sf AS (
         |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
         |    ${dotD("q.emb", "c.emb")} / (q.nrm * c.nrm) AS cosine
         |  FROM nf q JOIN nf c ON q.vec_id < 50 AND q.vec_id <> c.vec_id),
         |tf AS (
         |  SELECT q_id, n_id FROM (
         |    SELECT q_id, n_id, ROW_NUMBER() OVER
         |      (PARTITION BY q_id ORDER BY cosine DESC, n_id) AS rn FROM sf)
         |  WHERE rn <= 5),
         |qs AS (SELECT DISTINCT q_id FROM tf)
         |SELECT p.q_id,
         |  CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
         |  CAST((coalesce(h.n_hits, 0) * 1000000) // 5 AS BIGINT) AS recall_ppm
         |FROM qs p LEFT JOIN (
         |  SELECT t.q_id, count(*) AS n_hits
         |  FROM tf t JOIN tq c ON t.q_id = c.q_id AND t.n_id = c.n_id
         |  GROUP BY 1) h ON p.q_id = h.q_id
         |ORDER BY p.q_id""",
      "Similarity: uint8 scalar-quantization recall (SQ8 integer-code ranking vs float truth)") { (s, d) =>
      SimOps.sq8Recall(Tables(s, d, "embeddings"))
        .orderBy("q_id")
    },

    // Preference-pair construction for DPO/RLHF training data
    // (Rafailov et al.): within each (user, task) group of rated
    // events, top-rated = chosen, bottom-rated = rejected, ties toward
    // the earlier event id; >= 2 events and a strictly positive gap
    // required (a tie carries no preference signal). One groupBy, two
    // max/min(struct) partial aggs, no join — the q146/q147 shape.
    // The gap is the single subtraction of the two stored doubles.
    oracle(
      "q173_preference_pairs",
      """WITH e AS (
        |  SELECT * FROM events WHERE value IS NOT NULL),
        |g AS (
        |  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n_rated
        |  FROM e GROUP BY 1, 2),
        |ch AS (
        |  SELECT user_id, event_type, event_id AS chosen_id,
        |    value AS chosen_value
        |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type
        |          ORDER BY value DESC, event_id) AS rn FROM e)
        |  WHERE rn = 1),
        |rj AS (
        |  SELECT user_id, event_type, event_id AS rejected_id,
        |    value AS rejected_value
        |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type
        |          ORDER BY value ASC, event_id) AS rn FROM e)
        |  WHERE rn = 1)
        |SELECT g.user_id, g.event_type, n_rated, chosen_id, rejected_id,
        |  chosen_value, rejected_value,
        |  chosen_value - rejected_value AS gap
        |FROM g JOIN ch USING (user_id, event_type)
        |  JOIN rj USING (user_id, event_type)
        |WHERE n_rated >= 2 AND chosen_value > rejected_value
        |ORDER BY user_id, event_type""",
      "Training data: DPO preference-pair construction (chosen/rejected by rating, tie-stable)") { (s, d) =>
      graft.operators.RefineOps.preferencePairs(Tables(s, d, "events"))
        .orderBy("user_id", "event_type")
    },

    // Exact phrase occurrences — the grep-for-a-phrase primitive behind
    // contamination forensics ("which documents contain this benchmark
    // question verbatim, and where"): per matching doc the occurrence
    // count, first position, and the full 1-based position list. A
    // cheap array_contains conjunction gates the positional lambda so
    // non-matching docs never run it; scan-shaped, no shuffle but the
    // final sort. Both sides build the position predicate from the
    // same phrase Seq.
    oracle(
      "q174_phrase_match",
      {
        // Standard-SQL literal escaping ('' doubling) so a future phrase
        // containing a quote can't inject into / diverge from the oracle
        // (the Spark side already goes through sqlLit).
        val conj = PhraseQ.zipWithIndex.map { case (t, j) =>
          s"tk[i + $j] = '${t.replace("'", "''")}'"
        }.mkString(" AND ")
        s"""WITH tk AS (
           |  SELECT doc_id, string_split(coalesce(text, ''), ' ') AS tk
           |  FROM documents),
           |m AS (
           |  SELECT doc_id,
           |    list_transform(
           |      list_filter(range(1, len(tk) - ${PhraseQ.length - 2}), i -> $conj),
           |      p -> CAST(p AS BIGINT)) AS positions
           |  FROM tk WHERE len(tk) >= ${PhraseQ.length})
           |SELECT doc_id, CAST(len(positions) AS BIGINT) AS n_occurrences,
           |  positions[1] AS first_pos,
           |  array_to_string(positions, ',') AS positions_csv
           |FROM m WHERE len(positions) >= 1 ORDER BY doc_id""".stripMargin
      },
      "Retrieval: exact phrase match with positions (contamination forensics primitive)") { (s, d) =>
      // Lazy checkpoint of the BOUNDED match set (docs containing the
      // exact phrase — a tiny fraction of any corpus, the operator's
      // premise) before the total order: the range exchange's sampling
      // pass otherwise re-runs the array_contains conjunction scan — the
      // query's dominant cost — a second time (the q130 pattern).
      TextOps.phraseMatch(Tables(s, d, "documents"), PhraseQ)
        .localCheckpoint(false)
        .orderBy("doc_id")
    },

    // Multi-signal near-dup fusion — production dedup runs several
    // detectors because each has a blind spot (MinHash misses in-word
    // edits, SimHash misses local containment, Levenshtein only sees
    // inside its block); the merge decision wants the union WITH
    // provenance. One row per detected pair: signal bitmask
    // (1 = MinHash-verified Jaccard >= 0.5, 2 = SimHash Hamming <= 3,
    // 4 = blocked Levenshtein >= 0.9) + agreement count. The three
    // oracle chains are the q36/q59/q171 texts verbatim; fusion is one
    // pair-keyed groupBy over their bounded outputs.
    oracle(
      "q175_neardup_fusion",
      {
        import graft.operators.TextOps.h60d
        import graft.operators.DedupOps.{LevPrefixTokens, LevLenWindow, LevSimMinPpm}
        s"""WITH sh AS (${NorthStarQueries.SH}),
           |sig AS (${NorthStarQueries.SIG()}),
           |bands AS (
           |  SELECT doc_id, unnest(range(0, 4)) AS band,
           |    unnest(list_transform(range(0, 4), b ->
           |      ${h60d("b::VARCHAR || '|' || array_to_string(sig[b*4+1 : b*4+4], ',')")})) AS bucket
           |  FROM sig WHERE sig[1] <> -1),
           |cand AS (
           |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
           |  FROM bands x JOIN bands y ON x.band = y.band AND x.bucket = y.bucket
           |  WHERE x.doc_id < y.doc_id),
           |mh AS (
           |  SELECT a, b FROM cand
           |  JOIN sh sa ON sa.doc_id = a
           |  JOIN sh sb ON sb.doc_id = b
           |  WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
           |          / len(list_distinct(sa.sh || sb.sh)) >= 0.5),
           |sim AS (
           |  SELECT doc_id,
           |    list_reduce([0::BIGINT] || list_transform(range(0, 60), b ->
           |      CASE WHEN list_reduce([0::BIGINT] || list_transform(hs,
           |             h -> ((h // CAST(power(2.0, b) AS BIGINT)) % 2) * 2 - 1),
           |             (acc, x) -> acc + x) >= 0
           |           THEN CAST(power(2.0, b) AS BIGINT) ELSE 0 END),
           |      (acc, x) -> acc + x) AS simhash
           |  FROM (SELECT doc_id, list_transform(list_distinct(tk),
           |          t -> ${h60d("t")}) AS hs
           |        FROM (${NorthStarQueries.TK}))),
           |sbanded AS (
           |  SELECT doc_id, simhash, unnest(range(0, 4)) AS band,
           |    unnest(list_transform(range(0, 4), b ->
           |      (simhash // CAST(power(2.0, b * 15) AS BIGINT)) % 32768)) AS bucket
           |  FROM sim),
           |sp AS (
           |  SELECT a, b FROM (
           |    SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
           |      x.simhash AS sh_a, y.simhash AS sh_b
           |    FROM sbanded x JOIN sbanded y
           |      ON x.band = y.band AND x.bucket = y.bucket
           |    WHERE x.doc_id < y.doc_id)
           |  WHERE bit_count(xor(sh_a, sh_b)) <= 3),
           |lt AS (
           |  SELECT doc_id, coalesce(text, '') AS text,
           |    string_split(coalesce(text, ''), ' ') AS tk
           |  FROM documents),
           |lb AS (
           |  SELECT doc_id, text, CAST(length(text) AS BIGINT) AS len,
           |    array_to_string(tk[1:$LevPrefixTokens], '|') AS blk
           |  FROM lt WHERE len(tk) >= $LevPrefixTokens),
           |lv AS (
           |  SELECT x.doc_id AS a, y.doc_id AS b
           |  FROM lb x JOIN lb y ON x.blk = y.blk AND x.doc_id < y.doc_id
           |    AND abs(x.len - y.len) <= $LevLenWindow
           |  WHERE ((greatest(x.len, y.len) - levenshtein(x.text, y.text)) * 1000000)
           |          // greatest(x.len, y.len) >= $LevSimMinPpm),
           |fused AS (
           |  SELECT a, b, 1 AS signal FROM mh
           |  UNION ALL SELECT a, b, 2 FROM sp
           |  UNION ALL SELECT a, b, 4 FROM lv)
           |SELECT a, b, CAST(sum(signal) AS BIGINT) AS signal_mask,
           |  CAST(count(*) AS BIGINT) AS n_signals
           |FROM fused GROUP BY 1, 2 ORDER BY a, b""".stripMargin
      },
      "Dedup: multi-signal near-dup pair ledger (MinHash + SimHash + Levenshtein, provenance bitmask)") { (s, d) =>
      graft.operators.DedupOps.nearDupFusion(Tables(s, d, "documents"))
        .orderBy("a", "b")
    })

  /** The function-word-inseparable planted pair for q133: identical
    * shared-stopword skeletons, orthography-divergent content words.
    * lazy: referenced from `defs`' eager oracle-SQL construction, which
    * runs before this point of the object initializer. */
  private[queries] lazy val nordicDaSnippet =
    "jeg er ikke i vejen til stationen og arbejdet gennem højre er ikke løj og jeg"
  private[queries] lazy val nordicNbSnippet =
    "jeg er ikke i veien til stasjonen og arbeidet gjennom høyre er ikke løy og jeg"

  /** The pt/gl inseparable pair for q134, same construction. */
  private[queries] lazy val ptSnippet =
    "o coração do filho e o vinho da praça que se move para o trabalho no verão"
  private[queries] lazy val glSnippet =
    "o corazón do fillo e o viño da praza que se move para o traballo no verán"

  /** The hr/sr inseparable pair for q135, same construction: identical
    * shared-function-word skeletons (tko/ko absent), yat-reflex and
    * kruh/hleb content divergence only. */
  private[queries] lazy val hrSnippet =
    "rijeka je lijepa i vrijeme je uvijek dobro za mlijeko ali ne za kruh"
  private[queries] lazy val srSnippet =
    "reka je lepa i vreme je uvek dobro za mleko ali ne za hleb"

  /** The ms/id inseparable pair for q136, same construction: identical
    * shared-function-word skeletons (kerana/karena and telah/sudah
    * absent), loanword-suffix and lexical content divergence only. */
  private[queries] lazy val msSnippet =
    "mereka mahu wang untuk aktiviti di universiti itu sahaja dan kualiti yang ada dari itu juga"
  private[queries] lazy val idSnippet =
    "mereka mau uang untuk aktivitas di universitas itu saja dan kualitas yang ada dari itu juga"

  /** The cs/sk inseparable pair for q145, same construction: every
    * function word in both snippets is one of the 18 SHARED top-20
    * forms (a/je/už/v/ale/tak/že/si/to — a dead tie by construction);
    * the content words differ only in the letters the other
    * orthography does not have (ř/ě/ů vs ľ/ô/ä). */
  private[queries] lazy val csSnippet =
    "řeka a měsíc je tady už v zimě ale vůně dřeva je tak dobrá že si to pamatuji"
  private[queries] lazy val skSnippet =
    "rieka a mesiac je tu už v zime ale vôňa dreva je tak dobrá že si to pamätám ľudia"

  /** The bg/mk inseparable pair for q152, same construction: every
    * function word in both snippets is one of the 13 SHARED Cyrillic
    * forms (на/и/е/се/за/но/му — a dead tie by construction); the
    * content words differ only in the letters the other alphabet does
    * not have (bg ъ/щ/ю/я vs mk ќ/ѓ/љ/ѕ). */
  private[queries] lazy val bgSnippet =
    "пътят на съня е дълъг и нощта е тъмна но язовирът се пълни за бъдещето му"
  private[queries] lazy val mkSnippet =
    "куќата на луѓето е убава и ноќта е мирна но ѕвездата се гледа за љубовта му"

  /** The uk/ru inseparable pair for q156, same construction: every
    * function word in both snippets is one of the 10 SHARED Cyrillic
    * forms (на/в/у/а/за/же/то — a dead tie by construction; standalone
    * uk «і» and ru «и»/«это», the divergent forms, deliberately
    * absent); the content words differ only in the letters the other
    * alphabet does not have (uk і/ї/є/ґ vs ru ы/э/ъ/ё). */
  private[queries] lazy val ukSnippet =
    "їжак на ґанку в саду є тихий у світанні а літо за вікном же гарне то місяці"
  private[queries] lazy val ruSnippet =
    "ёжик на крыльце в саду есть тихий у подъезда а лето за этажом же ясное то сыры"

  /** The nl/af inseparable pair for q160, same construction: every
    * function word in both snippets is one of the 13 SHARED forms
    * (het/en/is/dan/in/met/op/om/te/ook here — a dead tie by
    * construction; die/de, nie/niet, vir/voor, een/'n, the divergent
    * forms, deliberately absent); the content words differ only in the
    * systematic respelling (nl ij/z — kijk/ijs/wijn/zee/zon — vs af
    * y/s + circumflex — kyk/tyd/see/son/sê/môre/wêreld). */
  private[queries] lazy val nlSnippet =
    "kijk het ijs en wijn is fijn dan zwemt tijd in zee met zon op blije dagen om te zien ook"
  private[queries] lazy val afSnippet =
    "kyk vanmôre sê ons lê by wêreld en môre is mooi dan kom tyd in see met son op bly dae om te loop ook"

  /** The es/ca pair for q166, same construction: function words only
    * from the 11 SHARED forms (la/de/en/el/que/del/no/una/al); the es
    * snippet's one standalone « y » is both its census evidence and a
    * single vote of margin (inside the ≤2 gate); content words carry
    * ñ vs ç/l·l — codepoints the other orthography does not use. */
  private[queries] lazy val esSnippet =
    "la caña de año pequeño en el jardín que mañana y señor del pueblo no dará una masa"
  private[queries] lazy val caSnippet =
    "la cançó del braç en el col·legi que any de companyia no fa una il·lusió al camí"

  /** Planted Unicode fixtures for q141: the decomposed form (combining
    * marks U+0301/U+0308, which NFC composes, plus o + U+030A which has
    * NO composed form and must survive) and the pre-composed control
    * (already NFC — must pass through unchanged). Both strings embed
    * the raw codepoints so Spark and the DuckDB SQL literal carry the
    * identical bytes. */
  private[queries] lazy val nfcDecomposed =
    "cafe\u0301 nai\u0308ve co\u030Ald e\u0301tude"
  private[queries] lazy val nfcComposed =
    "caf\u00e9 na\u00efve \u00e9tude"

  /** DuckDB fragment: final codebook centroids for prefix `p` — the mean
    * of each cluster's FINAL members as exact BIGINT micro-unit sums
    * divided in DOUBLE (the q93 final-centroid form), ending in
    * `${p}fcn(cluster, cvec, c2)`. */
  private def finalCbCtes(p: String): String =
    s"""${p}fex AS (
       |  SELECT a.cluster,
       |    unnest(range(1, len(v.mvec)+1)) AS dim,
       |    unnest(list_transform(range(1, len(v.mvec)+1), i -> CAST(v.mvec[i] AS BIGINT))) AS mv
       |  FROM ${p}a2 a JOIN ${p}mdt v USING (vec_id)),
       |${p}fu AS (
       |  SELECT cluster, dim,
       |    CAST(sum(mv) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS cv
       |  FROM ${p}fex GROUP BY 1, 2),
       |${p}fc AS (
       |  SELECT cluster, list(cv ORDER BY dim) AS cvec FROM ${p}fu GROUP BY 1),
       |${p}fcn AS (
       |  SELECT cluster, cvec, ${dotD("cvec", "cvec")} AS c2 FROM ${p}fc)""".stripMargin
}
