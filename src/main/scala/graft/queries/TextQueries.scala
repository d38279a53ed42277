package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops._
import SparkEntry.{HTML_EXTRACT_SQL, LOSERS_QUALITY_CTES, TRAIN_READY_CTES}

/** LLM-pipeline text analysis over the documents table. */
object TextQueries {

  /** Stored suffix-rank artifact (doc_id, p, key, r): the doubling
    * rounds are the dominant cost of the substring-dedup family and
    * both faces (census + removal) consume the SAME ranks — integral
    * columns, deterministic min-key class ids, so the frame
    * round-trips parquet exactly (the pair-list/components seam). */
  private def substrRanks(s: SparkSession, dir: String): DataFrame =
    Artifacts.cached(s, "substr", "w32", dir)(Dedup.substringRanks(Tables.documents(s, dir)))

  /** The messy-URL construction and canonicalization of
    * Curation.messyUrl/canonicalUrl, replayed step-for-step in DuckDB
    * RE2 (patterns identical by the RE2-safe design; replacements use
    * \1 where Spark uses $1 — same values). */
  private val URL_FRONTIER_CTES: String =
    """WITH base AS (SELECT doc_id,
      |    'https://' || CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END
      |      || source || '-' || CAST(doc_id % 100 AS VARCHAR) || '.'
      |      || (['com','org','net','io','edu'])[CAST(doc_id % 5 AS INT) + 1]
      |      || '/doc/' || CAST(doc_id AS VARCHAR) AS u
      |  FROM documents),
      |messy AS (SELECT doc_id,
      |    CASE doc_id % 6
      |      WHEN 1 THEN upper(regexp_extract(u, '^(https://[^/]*)', 1))
      |        || regexp_replace(u, '^https://[^/]*', '')
      |      WHEN 2 THEN regexp_replace(u, '^(https://[^/]*)', '\1:443')
      |      WHEN 3 THEN u || '?utm_source=feed&ref=r1&utm_campaign=c9'
      |      WHEN 4 THEN u || '#section-5'
      |      WHEN 5 THEN u || '/'
      |      ELSE u END AS m
      |  FROM base),
      |frontier AS (
      |  SELECT doc_id, u AS url_raw FROM base
      |  UNION ALL SELECT doc_id, m AS url_raw FROM messy),
      |canon AS (SELECT doc_id, url_raw,
      |    regexp_replace(
      |      regexp_replace(
      |        regexp_replace(
      |          regexp_replace(
      |            regexp_replace(
      |              regexp_replace(
      |                lower(regexp_extract(regexp_replace(url_raw, '#.*', ''),
      |                  '^([A-Za-z]+://[^/?]*)', 1))
      |                || regexp_replace(regexp_replace(url_raw, '#.*', ''),
      |                  '^[A-Za-z]+://[^/?]*', ''),
      |                '^(https://[^/?:]*):443([/?]|$)', '\1\2'),
      |              '^(http://[^/?:]*):80([/?]|$)', '\1\2'),
      |            '&(utm_[a-z]+|gclid|fbclid)=[^&#]*', '', 'g'),
      |          '\?(utm_[a-z]+|gclid|fbclid)=[^&#]*&', '?'),
      |        '\?(utm_[a-z]+|gclid|fbclid)=[^&#]*$', ''),
      |      '([^/])/$', '\1') AS url_canonical
      |  FROM frontier)""".stripMargin

  /** The image perceptual-hash pair chain (pixels -> cells -> bits ->
    * hex -> pigeonhole candidates -> exact hamming), ending at CTE
    * `ham`: pixels floor-mapped into `nCells` cells (`cl`), then
    * `bitsCtes` (ending at CTE `bits`, 64 bits per doc), the bits read
    * MSB-first into the hex column `hash`. */
  private def imageHashCtes(nCells: Int, bitsCtes: String, hash: String): String =
    s"""img AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 1),
      |alli AS (SELECT doc_id, text FROM img
      |  UNION ALL
      |  SELECT doc_id + 1000000 AS doc_id, 'x' || substr(text, 2) AS text
      |  FROM img WHERE doc_id % 30 = 0),
      |dims AS (SELECT doc_id, text, CAST(length(text) // 3 AS BIGINT) AS n
      |  FROM alli WHERE length(text) >= 3),
      |px AS (SELECT doc_id, n, $nCells * u.i // n AS cell,
      |    ord(substr(text, CAST(3 * u.i + 1 AS INT), 1))
      |      + ord(substr(text, CAST(3 * u.i + 2 AS INT), 1))
      |      + ord(substr(text, CAST(3 * u.i + 3 AS INT), 1)) AS gray
      |  FROM dims, unnest(range(dims.n)) AS u(i)),
      |cl AS (SELECT doc_id, cell, CAST(sum(gray) AS BIGINT) AS cs,
      |    CAST(count(*) AS BIGINT) AS cnt FROM px GROUP BY 1, 2),
      |$bitsCtes,
      |nib AS (SELECT doc_id, cell // 4 AS k,
      |    sum(b * CASE cell % 4 WHEN 0 THEN 8 WHEN 1 THEN 4
      |            WHEN 2 THEN 2 ELSE 1 END) AS v
      |  FROM bits GROUP BY 1, 2),
      |hash AS (SELECT doc_id,
      |    string_agg(substr('0123456789abcdef', CAST(v + 1 AS INT), 1),
      |      '' ORDER BY k) AS $hash
      |  FROM nib GROUP BY 1),
      |ch AS (SELECT doc_id, $hash, c.c AS chunk_idx,
      |    substr($hash, CAST(4 * c.c + 1 AS INT), 4) AS chunk
      |  FROM hash, unnest(range(4)) AS c(c)),
      |cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
      |  FROM ch a JOIN ch b ON a.chunk_idx = b.chunk_idx
      |    AND a.chunk = b.chunk AND a.doc_id < b.doc_id),
      |ham AS (SELECT c.id1, c.id2,
      |    CAST(sum(abs(x.b - y.b)) AS BIGINT) AS hamming
      |  FROM cand c
      |  JOIN bits x ON x.doc_id = c.id1
      |  JOIN bits y ON y.doc_id = c.id2 AND y.cell = x.cell
      |  GROUP BY 1, 2)""".stripMargin

  /** The image aHash pair chain: 64 cells, bit = the cell mean above the
    * image mean; shared by the image pair oracle and the cross-modality
    * components closure. Ends at CTE `ham`. */
  private val IMAGE_AHASH_CTES: String = imageHashCtes(64,
    """tt AS (SELECT doc_id, CAST(sum(cs) AS BIGINT) AS total
      |  FROM cl GROUP BY 1),
      |grid AS (SELECT d.doc_id, d.n, g.c AS cell
      |  FROM dims d, unnest(range(64)) AS g(c)),
      |bits AS (SELECT grid.doc_id, grid.cell,
      |    CASE WHEN coalesce(cl.cs, 0) * grid.n
      |              > tt.total * coalesce(cl.cnt, 0)
      |         THEN 1 ELSE 0 END AS b
      |  FROM grid
      |  LEFT JOIN cl ON cl.doc_id = grid.doc_id AND cl.cell = grid.cell
      |  JOIN tt ON tt.doc_id = grid.doc_id)""".stripMargin, "ahash")

  /** The audio dHash pair chain (samples -> bands -> gradient bits ->
    * pigeonhole candidates -> exact hamming), a_-prefixed so it
    * composes beside the image chain. Ends at CTE `a_ham`. */
  private val AUDIO_DHASH_CTES: String =
    """a_aud AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 1),
        |a_all AS (SELECT doc_id, text FROM a_aud
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, 'x' || substr(text, 2) AS text
        |  FROM a_aud WHERE doc_id % 30 = 1),
        |a_dims AS (SELECT doc_id, text, CAST(length(text) // 2 AS BIGINT) AS n
        |  FROM a_all WHERE length(text) >= 2),
        |a_raw AS (SELECT doc_id, n, u.i AS i,
        |    ord(substr(text, CAST(2 * u.i + 1 AS INT), 1))
        |      + 256 * ord(substr(text, CAST(2 * u.i + 2 AS INT), 1)) AS v
        |  FROM a_dims, unnest(range(a_dims.n)) AS u(i)),
        |a_smp AS (SELECT doc_id, n, 65 * i // n AS band,
        |    abs(CASE WHEN v >= 32768 THEN v - 65536 ELSE v END) AS amp
        |  FROM a_raw),
        |a_bl AS (SELECT doc_id, band, CAST(sum(amp) AS BIGINT) AS bs,
        |    CAST(count(*) AS BIGINT) AS cnt FROM a_smp GROUP BY 1, 2),
        |a_grid AS (SELECT d.doc_id, g.c AS c
        |  FROM a_dims d, unnest(range(64)) AS g(c)),
        |a_bits AS (SELECT a_grid.doc_id, a_grid.c,
        |    CASE WHEN coalesce(a.bs, 0) * coalesce(b.cnt, 0)
        |              > coalesce(b.bs, 0) * coalesce(a.cnt, 0)
        |         THEN 1 ELSE 0 END AS b
        |  FROM a_grid
        |  LEFT JOIN a_bl a ON a.doc_id = a_grid.doc_id AND a.band = a_grid.c
        |  LEFT JOIN a_bl b ON b.doc_id = a_grid.doc_id AND b.band = a_grid.c + 1),
        |a_chk AS (SELECT doc_id, c // 16 AS chunk_idx,
        |    sum(b << CAST(15 - c % 16 AS INT)) AS chunk
        |  FROM a_bits GROUP BY 1, 2),
        |a_cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
        |  FROM a_chk a JOIN a_chk b ON a.chunk_idx = b.chunk_idx
        |    AND a.chunk = b.chunk AND a.doc_id < b.doc_id),
        |a_ham AS (SELECT c.id1, c.id2,
        |    CAST(sum(abs(x.b - y.b)) AS BIGINT) AS hamming
        |  FROM a_cand c
        |  JOIN a_bits x ON x.doc_id = c.id1
        |  JOIN a_bits y ON y.doc_id = c.id2 AND y.c = x.c
        |  GROUP BY 1, 2)""".stripMargin

  /** The prefix-doubling CTE prefix shared by both substring-dedup
    * oracles: token grain with packed keys, rank0 on single tokens,
    * five doubling refinements to 32-token windows (the kCore
    * unrolling pattern) — ends at `r5`. */
  private val SUBSTR_CTES: String = {
    val rounds = Seq(1, 2, 4, 8, 16).zipWithIndex.map { case (s, i) =>
      s"""p${i + 1} AS (SELECT a.doc_id, a.p, a.key, a.r, b.r AS r2
         |  FROM r$i a JOIN r$i b ON a.doc_id = b.doc_id AND b.p = a.p + $s),
         |c${i + 1} AS (SELECT r, r2, min(key) AS nr FROM p${i + 1} GROUP BY r, r2),
         |r${i + 1} AS (SELECT doc_id, p, key, nr AS r
         |  FROM p${i + 1} JOIN c${i + 1} USING (r, r2))""".stripMargin
    }.mkString(",\n")
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w,
      |    CAST(generate_subscripts(string_split(text, ' '), 1) - 1 AS BIGINT) AS p
      |  FROM documents WHERE text IS NOT NULL),
      |k AS (SELECT doc_id, p, doc_id * 1048576 + p AS key, w FROM tok),
      |c0 AS (SELECT w, min(key) AS r FROM k GROUP BY w),
      |r0 AS (SELECT k.doc_id, k.p, k.key, c0.r FROM k JOIN c0 USING (w)),
      |""".stripMargin + rounds
  }

  /** Per-doc repeat census over the doubling ranks. */
  private val SUBSTR_DEDUP_SQL: String = {
    SUBSTR_CTES + """,
      |st AS (SELECT r, CAST(count(*) AS BIGINT) AS n_occ,
      |    CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
      |  FROM r5 GROUP BY r),
      |j AS (SELECT a.doc_id, st.n_occ, st.n_docs FROM r5 a JOIN st USING (r)),
      |cen AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows,
      |    CAST(sum(CASE WHEN n_occ >= 2 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_repeat_windows,
      |    CAST(sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_crossdoc_windows
      |  FROM j GROUP BY doc_id)
      |SELECT d.doc_id, CAST(coalesce(c.n_windows, 0) AS BIGINT) AS n_windows,
      |  CAST(coalesce(c.n_repeat_windows, 0) AS BIGINT) AS n_repeat_windows,
      |  CAST(coalesce(c.n_crossdoc_windows, 0) AS BIGINT)
      |    AS n_crossdoc_windows,
      |  CAST(CASE WHEN coalesce(c.n_windows, 0) > 0
      |       THEN 1000000 * c.n_repeat_windows // c.n_windows
      |       ELSE 0 END AS BIGINT) AS repeat_ppm
      |FROM documents d LEFT JOIN cen c USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin
  }

  /** The removal face: flagged starts cover [p, p+32); token covered
    * iff the running max of flag ends over p' <= p exceeds p; kept
    * reassembly md5'd in order (the lineDedup FILTER/string_agg
    * pattern). */
  private val SUBSTR_REMOVE_SQL: String = {
    SUBSTR_CTES + """,
      |st AS (SELECT r, CAST(count(*) AS BIGINT) AS n_occ FROM r5 GROUP BY r),
      |fl AS (SELECT a.doc_id, a.p, a.p + 32 AS flag_end
      |  FROM r5 a JOIN st USING (r) WHERE st.n_occ >= 2),
      |cv AS (SELECT k.doc_id, k.p, k.w,
      |    max(fl.flag_end) OVER (PARTITION BY k.doc_id ORDER BY k.p
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cov_end
      |  FROM k LEFT JOIN fl ON fl.doc_id = k.doc_id AND fl.p = k.p),
      |m AS (SELECT doc_id, p, w,
      |    CASE WHEN cov_end IS NOT NULL AND cov_end > p THEN 1 ELSE 0 END
      |      AS covered
      |  FROM cv)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
      |  CAST(sum(covered) AS BIGINT) AS n_removed,
      |  md5(coalesce(string_agg(w, ' ' ORDER BY p)
      |        FILTER (WHERE covered = 0), '')) AS kept_md5,
      |  1000000 * CAST(sum(covered) AS BIGINT) // count(*) AS removed_ppm
      |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** Shared CTE chain for the URL-hygiene family: rebuild the
    * deterministic doc URL (`u`), then extract host → registered
    * domain from the STRING (`h`, `d`) the way the engine does. */
  private val DOC_URL_CTES: String =
    """u AS (SELECT doc_id, source, n_chars,
      |    'https://' || CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END ||
      |    source || '-' || CAST(doc_id % 100 AS VARCHAR) || '.' ||
      |    ['com', 'org', 'net', 'io', 'edu'][CAST(doc_id % 5 AS INT) + 1] ||
      |    '/doc/' || CAST(doc_id AS VARCHAR) AS url
      |  FROM documents),
      |h AS (SELECT doc_id, source, n_chars,
      |    string_split(string_split(url, '://')[2], '/')[1] AS host FROM u),
      |d AS (SELECT doc_id, source, n_chars,
      |    CASE WHEN host LIKE 'www.%' THEN substr(host, 5) ELSE host END AS domain
      |  FROM h)""".stripMargin

  /** BM25 (k1=1.2, b=0.75, Lucene idf) doc-as-query scores over the
    * inverted index: idf and saturation in the exact Spark operation
    * order, each contribution quantized to micro-units BEFORE the
    * per-pair sum (`agg`), for the first 5 docs as queries. */
  private val BM25_SCORE_CTES: String =
    """tf AS (SELECT doc_id, w, count(*) AS tf
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
      |        FROM documents) GROUP BY 1, 2),
      |lens AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
      |stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(dl) AS BIGINT) AS n_tokens FROM lens),
      |dfreq AS (SELECT w, count(*) AS df FROM tf GROUP BY 1
      |  HAVING count(*) <= 1000),
      |q AS (SELECT doc_id AS query_id, w FROM tf WHERE doc_id < 5),
      |sc AS (SELECT q.query_id, t.doc_id,
      |    CAST(round(ln((CAST(s.n_docs AS DOUBLE) - CAST(d.df AS DOUBLE) + 0.5)
      |        / (CAST(d.df AS DOUBLE) + 0.5) + 1.0)
      |      * (CAST(t.tf AS DOUBLE) * 2.2)
      |      / (CAST(t.tf AS DOUBLE) + 1.2 * (0.25 + 0.75
      |        * CAST(l.dl AS DOUBLE)
      |        / (CAST(s.n_tokens AS DOUBLE) / CAST(s.n_docs AS DOUBLE))))
      |      * 1000000) AS BIGINT) AS qs
      |  FROM q JOIN tf t ON t.w = q.w AND t.doc_id <> q.query_id
      |  JOIN dfreq d ON d.w = q.w
      |  JOIN lens l ON l.doc_id = t.doc_id
      |  CROSS JOIN stats s),
      |agg AS (SELECT query_id, doc_id, CAST(sum(qs) AS BIGINT) AS score_q
      |  FROM sc GROUP BY 1, 2)""".stripMargin

  /** Shared CTE chain for the hybrid-retrieval family: BM25 lexical
    * ranks @10 (`lex`), brute-cosine dense ranks @10 (`dense`), their
    * floor-scaled RRF fusion (`fused`) and the fused rank frame (`rr`).
    * sim_hybrid_topk selects the fused top-5 verbatim; sim_mrr_audit
    * appends the truth/first-hit CTEs on the same chain. */
  private val HYBRID_RANK_CTES: String =
    BM25_SCORE_CTES + """,
      |lex AS (SELECT query_id, neighbor_id, lex_rank FROM (
      |  SELECT query_id, doc_id AS neighbor_id,
      |    CAST(row_number() OVER (PARTITION BY query_id
      |      ORDER BY score_q DESC, doc_id) AS BIGINT) AS lex_rank FROM agg)
      |  WHERE lex_rank <= 10),
      |dense AS (SELECT query_id, neighbor_id, dense_rank FROM (
      |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
      |    CAST(row_number() OVER (PARTITION BY a.vec_id
      |      ORDER BY list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
      |        CAST(b.embedding AS DOUBLE[])) DESC, b.vec_id) AS BIGINT)
      |      AS dense_rank
      |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
      |  WHERE a.vec_id < 5)
      |  WHERE dense_rank <= 10),
      |fused AS (SELECT coalesce(l.query_id, d.query_id) AS query_id,
      |    coalesce(l.neighbor_id, d.neighbor_id) AS neighbor_id,
      |    l.lex_rank, d.dense_rank,
      |    CAST(coalesce(1000000 // (60 + l.lex_rank), 0)
      |       + coalesce(1000000 // (60 + d.dense_rank), 0) AS BIGINT) AS rrf
      |  FROM lex l FULL OUTER JOIN dense d
      |    ON l.query_id = d.query_id AND l.neighbor_id = d.neighbor_id),
      |rr AS (SELECT query_id, neighbor_id, lex_rank, dense_rank, rrf,
      |    CAST(row_number() OVER (PARTITION BY query_id
      |      ORDER BY rrf DESC, neighbor_id) AS BIGINT) AS rank FROM fused)""".stripMargin

  /** DuckDB twin of QualityModel.train: the teacher rule (text_quality's
    * replay, micro-quantized), the exact integer ratio features (floor
    * division both engines share), the same 1944-candidate grid, and the
    * same (n_err, weights)-lexicographic argmin. */
  private val QUALITY_MODEL_CTES: String =
    """WITH lblq AS (SELECT doc_id,
      |    CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
      |      / len(string_split(text, ' ')) AS ttr,
      |    CAST(len(list_filter(string_split(text, ' '), w -> w IN ('the', 'a'))) AS DOUBLE)
      |      / len(string_split(text, ' ')) AS stopword_ratio,
      |    len(string_split(text, ' ')) AS n_tokens
      |  FROM documents),
      |lbl AS (SELECT doc_id,
      |    CAST(CASE WHEN CAST(floor((ttr * 0.4 + stopword_ratio * 0.3 +
      |      CASE WHEN n_tokens >= 40 THEN 0.3
      |        ELSE CAST(n_tokens AS DOUBLE) / 40.0 * 0.3 END) * 1000000.0) AS BIGINT)
      |      >= 500000 THEN 1 ELSE -1 END AS BIGINT) AS label
      |  FROM lblq),
      |rawf AS (SELECT doc_id,
      |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS nd,
      |    CAST(len(list_filter(string_split(text, ' '), w -> w IN ('the', 'a'))) AS BIGINT) AS sc,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
      |  FROM documents),
      |feats AS (SELECT f.doc_id,
      |    (f.nd * 1000000) // f.nt AS x1,
      |    (f.sc * 1000000) // f.nt AS x2,
      |    least(f.nt, 40) * 25000 AS x3,
      |    l.label
      |  FROM rawf f JOIN lbl l ON f.doc_id = l.doc_id),
      |cands AS (SELECT a.range AS w1, b.range AS w2, c.range AS w3,
      |    d.range AS w0
      |  FROM range(0, 6) a, range(0, 6) b, range(0, 6) c, range(-8, 1) d),
      |errs AS (SELECT c.w1, c.w2, c.w3, c.w0,
      |    CAST(sum(CASE WHEN
      |      ((c.w1*f.x1 + c.w2*f.x2 + c.w3*f.x3 + c.w0*1000000) > 0)
      |        = (f.label = 1)
      |      THEN 0 ELSE 1 END) AS BIGINT) AS n_err
      |  FROM feats f CROSS JOIN cands c GROUP BY 1, 2, 3, 4),
      |best AS (SELECT CAST(w1 AS BIGINT) AS w1, CAST(w2 AS BIGINT) AS w2,
      |    CAST(w3 AS BIGINT) AS w3, CAST(w0 AS BIGINT) AS w0, n_err
      |  FROM errs ORDER BY n_err, w1, w2, w3, w0 LIMIT 1)""".stripMargin

  private val QUALITY_MODEL_SQL: String = QUALITY_MODEL_CTES + """
    |SELECT w1, w2, w3, w0, n_err FROM best""".stripMargin

  private val QUALITY_SCORE_SQL: String = QUALITY_MODEL_CTES + """
    |SELECT f.doc_id,
    |  b.w1*f.x1 + b.w2*f.x2 + b.w3*f.x3 + b.w0*1000000 AS margin,
    |  CAST(CASE WHEN (b.w1*f.x1 + b.w2*f.x2 + b.w3*f.x3 + b.w0*1000000) > 0
    |    THEN 1 ELSE -1 END AS BIGINT) AS pred,
    |  f.label
    |FROM feats f CROSS JOIN best b ORDER BY f.doc_id""".stripMargin

  /** Shared by text_bigram_lp and its stored-model twin. */
  private val BIGRAM_LP_CTES: String =
      """tkl AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |bgf AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM (
        |  SELECT doc_id, unnest(list_transform(range(2, len(tk) + 1),
        |    i -> {'w1': tk[i - 1], 'w2': tk[i]})) AS b
        |  FROM tkl WHERE len(tk) >= 2)),
        |c12 AS (SELECT w1, w2, count(*) AS c12 FROM bgf GROUP BY 1, 2),
        |c1 AS (SELECT w1, count(*) AS c1 FROM bgf GROUP BY 1),
        |vv AS (SELECT count(DISTINCT w2) AS v FROM bgf),
        |q AS (SELECT f.doc_id,
        |    CAST(round(ln(CAST(p.c12 + 1 AS DOUBLE) / CAST(c.c1 + vv.v AS DOUBLE))
        |      * 1000000) AS BIGINT) AS qlp
        |  FROM bgf f JOIN c12 p ON f.w1 = p.w1 AND f.w2 = p.w2
        |  JOIN c1 c ON f.w1 = c.w1 CROSS JOIN vv),
        |agg AS (SELECT doc_id, count(*) AS n_bigram,
        |    CAST(sum(qlp) AS BIGINT) AS sum_qlp FROM q GROUP BY 1)""".stripMargin

  /** The robots parse + gate replayed whole (RFC 9309): the per-domain
    * robots.txt fixture classes, line split, comment strip, the
    * user-agent grouping window, empty-pattern drop, exact-agent-else-*
    * group choice, and longest-prefix-wins with Allow on ties. Shared
    * by the rules, gate, and budget oracles; ends at CTEs `rules`,
    * `cand`, and `gate`. */
  private val ROBOTS_CTES: String =
    """ub AS (SELECT doc_id, source,
        |    'https://' || CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END
        |      || source || '-' || CAST(doc_id % 100 AS VARCHAR) || '.'
        |      || (['com','org','net','io','edu'])[CAST(doc_id % 5 AS INT) + 1]
        |      || '/doc/' || CAST(doc_id AS VARCHAR) AS u
        |  FROM documents),
        |cand AS (SELECT doc_id, u AS url,
        |    CASE WHEN h LIKE 'www.%' THEN substr(h, 5) ELSE h END AS domain,
        |    CASE WHEN length(p) = 0 THEN '/' ELSE p END AS path
        |  FROM (SELECT doc_id, u,
        |      string_split(string_split(u, '://')[2], '/')[1] AS h,
        |      regexp_replace(u, '^[A-Za-z]+://[^/?]*', '') AS p
        |    FROM ub)),
        |rtxt AS (SELECT domain,
        |    CASE length(domain) % 3
        |      WHEN 0 THEN 'Sitemap: https://' || domain || '/sitemap-index.xml'
        |        || chr(10) || '# catch-all stands down; the bot group rules'
        |        || chr(10) || 'User-agent: *' || chr(10) || 'Disallow:'
        |        || chr(10) || chr(10) || 'User-agent: graftbot' || chr(10)
        |        || 'Disallow: /doc' || chr(10) || 'Allow: /doc/1' || chr(10)
        |        || 'Crawl-delay: 2' || chr(10)
        |      WHEN 1 THEN 'User-agent: *' || chr(10) || 'Disallow: /'
        |        || chr(10) || 'Allow: /doc' || chr(10)
        |        || 'Disallow: /doc/13' || chr(10) || 'Crawl-delay: 1' || chr(10)
        |      ELSE 'User-agent: graftbot' || chr(10) || 'User-agent: otherbot'
        |        || chr(10) || 'Allow: /doc/2' || chr(10) || 'Disallow: /doc/2'
        |        || chr(10) || 'Disallow: /doc/3' || chr(10) || chr(10)
        |        || 'User-agent: *' || chr(10) || 'Disallow: /' || chr(10)
        |        || 'Sitemap: https://' || domain || '/sitemap-index.xml' || chr(10)
        |    END AS robots_txt
        |  FROM (SELECT DISTINCT domain FROM cand)),
        |lns AS (SELECT domain, CAST(u.i AS BIGINT) AS line_no,
        |    trim(regexp_replace(ls[CAST(u.i + 1 AS INT)], '#.*', '')) AS ln
        |  FROM (SELECT domain, string_split(robots_txt, chr(10)) AS ls
        |        FROM rtxt), unnest(range(len(ls))) u(i)),
        |typ AS (SELECT domain, line_no,
        |    CASE WHEN lower(ln) LIKE 'user-agent:%' THEN 'ua'
        |         WHEN lower(ln) LIKE 'allow:%' THEN 'allow'
        |         WHEN lower(ln) LIKE 'disallow:%' THEN 'disallow'
        |         WHEN lower(ln) LIKE 'crawl-delay:%' THEN 'delay' END AS kind,
        |    trim(substr(ln, strpos(ln, ':') + 1)) AS value
        |  FROM lns
        |  WHERE lower(ln) LIKE 'user-agent:%' OR lower(ln) LIKE 'allow:%'
        |    OR lower(ln) LIKE 'disallow:%' OR lower(ln) LIKE 'crawl-delay:%'),
        |bnd AS (SELECT domain, line_no, kind, value,
        |    CASE WHEN kind = 'ua' AND coalesce(lag(kind) OVER
        |        (PARTITION BY domain ORDER BY line_no), '-') <> 'ua'
        |      THEN 1 ELSE 0 END AS boundary
        |  FROM typ),
        |grpd AS (SELECT domain, line_no, kind, value,
        |    sum(boundary) OVER (PARTITION BY domain ORDER BY line_no) AS grp
        |  FROM bnd),
        |ag AS (SELECT domain, grp, lower(value) AS agent FROM grpd
        |  WHERE kind = 'ua'),
        |rules AS (SELECT r.domain, a.agent, r.rule, r.prefix, r.line_no
        |  FROM ag a
        |  JOIN (SELECT domain, grp, kind AS rule, value AS prefix, line_no
        |        FROM grpd WHERE kind IN ('allow', 'disallow')
        |          AND length(value) > 0) r
        |    ON a.domain = r.domain AND a.grp = r.grp),
        |dly AS (SELECT d.domain, a.agent,
        |    CAST(min(CAST(d.value AS BIGINT)) AS BIGINT) AS delay_s
        |  FROM ag a
        |  JOIN (SELECT domain, grp, value FROM grpd
        |        WHERE kind = 'delay' AND regexp_matches(value, '^[0-9]+$')) d
        |    ON a.domain = d.domain AND a.grp = d.grp
        |  GROUP BY 1, 2),
        |arule AS (SELECT * FROM rules WHERE agent = 'graftbot'),
        |appl AS (SELECT * FROM arule
        |  UNION ALL
        |  SELECT * FROM rules r WHERE r.agent = '*' AND NOT EXISTS
        |    (SELECT 1 FROM arule a WHERE a.domain = r.domain)),
        |best AS (SELECT doc_id, rule, prefix FROM (
        |  SELECT c.doc_id, r.rule, r.prefix,
        |      row_number() OVER (PARTITION BY c.doc_id
        |        ORDER BY length(r.prefix) DESC, r.rule, r.line_no) AS rk
        |    FROM cand c JOIN appl r ON c.domain = r.domain
        |    WHERE substr(c.path, 1, length(r.prefix)) = r.prefix)
        |  WHERE rk = 1),
        |gate AS (SELECT c.doc_id, c.domain, c.path, b.rule, b.prefix,
        |    (b.rule IS NULL OR b.rule = 'allow') AS allowed
        |  FROM cand c LEFT JOIN best b ON c.doc_id = b.doc_id)""".stripMargin

  /** The sitemap build + walk replayed whole on top of [[ROBOTS_CTES]]
    * (reusing `cand` for the per-domain URL list, `appl` for the
    * precedence rules, `dly` for the effective delay): the two
    * discovered-only URLs per domain, the `<url>` blocks with their
    * mod-4 optional-field omissions, the cap-7 chunking, the
    * sitemapindex, and the parse back off the XML strings — ends at
    * CTE `sent` (domain, chunk_no, loc, lastmod, priority). Portable
    * pmod spelled ((x % m) + m) % m for the negative sort keys. */
  private val SITEMAP_CTES: String =
    """,smu AS (SELECT domain, CAST(doc_id AS BIGINT) AS ord, url AS loc FROM cand
        |  UNION ALL
        |  SELECT domain, CAST(-1 AS BIGINT), 'https://' || domain || '/doc/new-1'
        |  FROM (SELECT DISTINCT domain FROM cand)
        |  UNION ALL
        |  SELECT domain, CAST(-2 AS BIGINT), 'https://' || domain || '/private/new-2'
        |  FROM (SELECT DISTINCT domain FROM cand)),
        |smb AS (SELECT domain, ord,
        |    '<url><loc>' || loc || '</loc>'
        |    || CASE WHEN ((ord % 4) + 4) % 4 = 0 THEN '' ELSE
        |         '<lastmod>' || strftime(DATE '2020-01-01'
        |           + CAST(((ord % 365) + 365) % 365 AS INT), '%Y-%m-%d')
        |         || '</lastmod>' END
        |    || CASE WHEN ((ord % 4) + 4) % 4 = 1 THEN '' ELSE
        |         '<priority>0.' || CAST(((ord % 10) + 10) % 10 AS VARCHAR)
        |         || '</priority>' END
        |    || '</url>' AS blk,
        |    row_number() OVER (PARTITION BY domain ORDER BY ord) AS rn
        |  FROM smu),
        |smc AS (SELECT domain, CAST((rn - 1) // 7 AS BIGINT) AS chunk_no,
        |    '<?xml version="1.0" encoding="UTF-8"?><urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
        |      || string_agg(blk, '' ORDER BY ord) || '</urlset>' AS xml
        |  FROM smb GROUP BY 1, 2),
        |smi AS (SELECT domain,
        |    '<?xml version="1.0" encoding="UTF-8"?><sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
        |      || string_agg('<sitemap><loc>https://' || domain || '/sitemap-'
        |          || CAST(chunk_no AS VARCHAR) || '.xml</loc></sitemap>',
        |          '' ORDER BY chunk_no)
        |      || '</sitemapindex>' AS xml
        |  FROM smc GROUP BY 1),
        |sic AS (SELECT domain,
        |    CAST(regexp_extract(regexp_extract(blk, '<loc>([^<]*)</loc>', 1),
        |      'sitemap-([0-9]+)\.xml$', 1) AS BIGINT) AS chunk_no
        |  FROM (SELECT domain, unnest(regexp_extract_all(xml,
        |      '(?s)<sitemap(?:\s[^>]*)?>(.*?)</sitemap>', 1)) AS blk FROM smi)),
        |sie AS (SELECT c.domain, c.chunk_no, unnest(regexp_extract_all(k.xml,
        |      '(?s)<url(?:\s[^>]*)?>(.*?)</url>', 1)) AS blk
        |  FROM sic c JOIN smc k
        |    ON c.domain = k.domain AND c.chunk_no = k.chunk_no),
        |sent AS (SELECT domain, chunk_no,
        |    regexp_extract(blk, '<loc>([^<]*)</loc>', 1) AS loc,
        |    nullif(regexp_extract(blk, '<lastmod>([^<]*)</lastmod>', 1), '')
        |      AS lastmod,
        |    CAST(nullif(regexp_extract(blk, '<priority>([^<]*)</priority>', 1),
        |      '') AS DOUBLE) AS priority
        |  FROM sie)""".stripMargin

  /** The char-bigram frame both langid-NB oracles build on: one row
    * per 2-char window occurrence, labeled by the doc's lang. */
  private val LANGID_NB_CTES: String =
    """gf AS (SELECT doc_id, lang,
        |    unnest(list_transform(range(1, length(text)),
        |      i -> substr(text, CAST(i AS INT), 2))) AS g
        |  FROM documents
        |  WHERE text IS NOT NULL AND length(text) >= 2 AND lang IS NOT NULL)""".stripMargin

  /** Shared by text_langid_trained and its stored-model twin. */
  private val LANGID_SCORE_SQL: String =
    "WITH " + LANGID_NB_CTES + """,
        |sgf AS (SELECT doc_id, lang AS actual_lang,
        |    unnest(list_transform(range(1, length(text)),
        |      i -> substr(text, CAST(i AS INT), 2))) AS g
        |  FROM documents WHERE text IS NOT NULL AND length(text) >= 2),
        |pr AS (SELECT lang, g, CAST(count(*) AS BIGINT) AS c FROM gf GROUP BY 1, 2),
        |tt AS (SELECT lang, CAST(count(*) AS BIGINT) AS tot FROM gf GROUP BY 1),
        |vv AS (SELECT CAST(count(DISTINCT g) AS BIGINT) AS v FROM gf),
        |ts AS (SELECT d.g, t.lang,
        |    CAST(round(ln(CAST(coalesce(p.c, 0) + 1 AS DOUBLE)
        |      / CAST(t.tot + vv.v AS DOUBLE)) * 1000000) AS BIGINT) AS qlp
        |  FROM (SELECT DISTINCT g FROM sgf) d
        |  CROSS JOIN tt t
        |  LEFT JOIN pr p ON p.lang = t.lang AND p.g = d.g
        |  CROSS JOIN vv),
        |byd AS (SELECT s.doc_id, s.actual_lang, ts.lang,
        |    CAST(sum(ts.qlp) AS BIGINT) AS score
        |  FROM sgf s JOIN ts ON ts.g = s.g GROUP BY 1, 2, 3),
        |rk AS (SELECT doc_id, actual_lang, lang, score,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY score DESC, lang) AS rn FROM byd)
        |SELECT doc_id, lang AS predicted_lang, actual_lang,
        |  score AS score_qnat, lang = actual_lang AS match
        |FROM rk WHERE rn = 1 ORDER BY doc_id""".stripMargin

  private val BIGRAM_LP_SQL: String =
    "WITH " + BIGRAM_LP_CTES + """
        |SELECT d.doc_id,
        |  CAST(coalesce(agg.n_bigram, 0) AS BIGINT) AS n_bigram,
        |  CAST(coalesce(agg.sum_qlp, 0) AS BIGINT) AS sum_qlp,
        |  CASE WHEN agg.n_bigram > 0
        |       THEN CAST(agg.sum_qlp AS DOUBLE) / 1000000.0 / agg.n_bigram
        |  END AS mean_logprob
        |FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
        |ORDER BY d.doc_id""".stripMargin

  /** DSIR hashed-ngram models: features = unigrams + bigrams, bucket =
    * 12-bit md5 prefix mod 4096, add-one smoothing, per-bucket log-ratio
    * (English target vs whole corpus) quantized to micro-nats (`ratio`),
    * literals mirroring the Spark expression. */
  private val DSIR_SCORE_CTES: String =
    """WITH tkl AS (SELECT doc_id,
      |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_t,
      |    string_split(text, ' ') AS tk FROM documents),
      |uni AS (SELECT doc_id, is_t, unnest(tk) AS f FROM tkl),
      |bi AS (SELECT doc_id, is_t,
      |    unnest(list_transform(range(2, len(tk) + 1),
      |      i -> tk[i - 1] || ' ' || tk[i])) AS f
      |  FROM tkl WHERE len(tk) >= 2),
      |feats AS (SELECT doc_id, is_t,
      |    CAST(('0x' || substr(md5('dsir:' || f), 1, 3))::BIGINT % 4096
      |      AS INTEGER) AS bucket
      |  FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)),
      |bc AS (SELECT bucket, CAST(sum(is_t) AS BIGINT) AS ct,
      |    count(*) AS cr FROM feats GROUP BY 1),
      |tot AS (SELECT CAST(sum(ct) AS BIGINT) AS nt,
      |    CAST(sum(cr) AS BIGINT) AS nr FROM bc),
      |ratio AS (SELECT bucket,
      |    CAST(round((ln(CAST(ct + 1 AS DOUBLE) / CAST(nt + 4096 AS DOUBLE))
      |        - ln(CAST(cr + 1 AS DOUBLE) / CAST(nr + 4096 AS DOUBLE)))
      |      * 1000000) AS BIGINT) AS qlr
      |  FROM bc CROSS JOIN tot)""".stripMargin

  val all: Seq[Query] = Seq(

    Query("text_langid", (s, dir) => TextAnalysis.langId(Tables.documents(s, dir)).orderBy("doc_id"),
      Oracle("""SELECT doc_id, vowel_ratio, avg_word_len,
          |  CASE WHEN vowel_ratio >= 0.38 THEN 'es'
          |       WHEN avg_word_len >= 4.6 THEN 'de'
          |       WHEN vowel_ratio <= 0.33 THEN 'zh'
          |       ELSE 'en' END AS predicted_lang,
          |  actual_lang,
          |  (CASE WHEN vowel_ratio >= 0.38 THEN 'es'
          |        WHEN avg_word_len >= 4.6 THEN 'de'
          |        WHEN vowel_ratio <= 0.33 THEN 'zh'
          |        ELSE 'en' END) = actual_lang AS match
          |FROM (
          |  SELECT doc_id,
          |    CAST(length(text) - length(regexp_replace(text, '[aeiou]', '', 'g')) AS DOUBLE) / length(text) AS vowel_ratio,
          |    CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(string_split(text, ' ')) AS avg_word_len,
          |    lang AS actual_lang
          |  FROM documents)
          |ORDER BY doc_id""".stripMargin)),

    // TRAINED language ID, the model half: char-bigram naive Bayes as
    // one persistable (lang, g, n) frame — pair counts, per-lang
    // totals, one vocabulary row; the routed replacement for the
    // vowel-shape heuristic above (kept as the spec-side comparison)
    Query("text_langid_model", (s, dir) =>
      TextAnalysis.langIdModel(Tables.documents(s, dir))
        .orderBy(col("lang").asc_nulls_first, col("g").asc_nulls_first),
      // the NB model frame rebuilt whole: per-(lang, bigram) counts,
      // per-lang totals, one vocabulary row — column-for-column the
      // stored artifact
      Oracle("WITH " + LANGID_NB_CTES + """
          |SELECT lang, g, n FROM (
          |  SELECT lang, g, CAST(count(*) AS BIGINT) AS n FROM gf GROUP BY 1, 2
          |  UNION ALL
          |  SELECT lang, NULL AS g, CAST(count(*) AS BIGINT) AS n FROM gf GROUP BY 1
          |  UNION ALL
          |  SELECT NULL AS lang, NULL AS g,
          |    CAST(count(DISTINCT g) AS BIGINT) AS n FROM gf)
          |ORDER BY lang ASC NULLS FIRST, g ASC NULLS FIRST""".stripMargin)),

    // ... and the scoring half: per doc the add-one NB likelihood in
    // exact micro-nat integers under every language, argmax routed
    // with the lang-ascending tie rule — trained and scored on the
    // corpus, every step replayed by the oracle
    Query("text_langid_trained", (s, dir) =>
      TextAnalysis.langIdTrained(Tables.documents(s, dir))
        .orderBy("doc_id"),
      // scoring replayed whole: add-one NB in exact micro-nat integers
      // (quantize-before-sum, the bigram-LM discipline), argmax with the
      // lang-ascending tie rule as a doc-grain rank window
      Oracle(LANGID_SCORE_SQL)),

    // the train-once/score-many face: scoring through the STORED model
    // artifact — training is deterministic and counts round-trip
    // parquet exactly, so the served labels hash-match the live
    // trainer's oracle with ZERO training jobs on re-touch
    Query("text_langid_trained_stored", (s, dir) => {
      val docs = Tables.documents(s, dir)
      TextAnalysis.langIdScoreFrom(docs,
        Artifacts.cached(s, "lm", "langid_nb", dir)(
          TextAnalysis.langIdModel(docs).coalesce(1)))
        .orderBy("doc_id")
    },
      // the stored face scores through the SAME trained counts (the
      // artifact is a cache, never a fork) — shares the live replay
      Oracle(LANGID_SCORE_SQL)),
    Query("text_quality", (s, dir) => TextAnalysis.quality(Tables.documents(s, dir)).orderBy("doc_id"),
      Oracle("""SELECT doc_id, n_chars, n_tokens, ttr, stopword_ratio, avg_word_len,
          |  ttr * 0.4 + stopword_ratio * 0.3 +
          |    CASE WHEN n_tokens >= 40 THEN 0.3 ELSE CAST(n_tokens AS DOUBLE) / 40.0 * 0.3 END AS quality_score
          |FROM (
          |  SELECT doc_id, length(text) AS n_chars,
          |    len(string_split(text, ' ')) AS n_tokens,
          |    CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) / len(string_split(text, ' ')) AS ttr,
          |    CAST(len(list_filter(string_split(text, ' '), w -> w IN ('the', 'a'))) AS DOUBLE)
          |      / len(string_split(text, ' ')) AS stopword_ratio,
          |    CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(string_split(text, ' ')) AS avg_word_len
          |  FROM documents)
          |ORDER BY doc_id""".stripMargin)),
    Query("text_tokens", (s, dir) => TextAnalysis.tokenCounts(Tables.documents(s, dir)).orderBy("doc_id"),
      Oracle("""SELECT doc_id,
          |  len(string_split(text, ' ')) AS n_ws_tokens,
          |  len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_re_tokens,
          |  length(replace(text, ' ', '')) AS n_token_chars
          |FROM documents ORDER BY doc_id""".stripMargin)),
    Query("text_fingerprint", (s, dir) => TextAnalysis.fingerprint(Tables.documents(s, dir)).orderBy("doc_id"),
      Oracle("""SELECT doc_id,
          |  list_reduce(list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT)),
          |              (a, b) -> (a * 31 + b) % 1000000007) AS content_fp,
          |  list_reduce(list_transform(string_split(substring(text, 1, 64), ''), c -> CAST(ascii(c) AS BIGINT)),
          |              (a, b) -> (a * 31 + b) % 1000000007) AS prefix_fp
          |FROM documents ORDER BY doc_id""".stripMargin)),

    Query("text_tf", (s, dir) =>
      TextAnalysis.termFrequency(Tables.documents(s, dir)).orderBy("lang", "rnk"),
      Oracle("""SELECT lang, token, n, rnk FROM (
          |  SELECT lang, token, n,
          |    CAST(row_number() OVER (PARTITION BY lang ORDER BY n DESC, token) AS BIGINT) AS rnk
          |  FROM (
          |    SELECT lang, token, count(*) AS n FROM (
          |      SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents)
          |    GROUP BY 1, 2))
          |WHERE rnk <= 10 ORDER BY lang, rnk""".stripMargin)),

    Query("text_tfidf", (s, dir) =>
      TextAnalysis.distinctiveTerms(Tables.documents(s, dir))
        .orderBy(col("doc_id"), col("score").desc, col("token")),
      // the score is the log-free weight tf*(N+1)/(df+1): one exact-integer
      // division and one multiply, identical to the Spark expression
      Oracle("""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
          |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
          |df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
          |n AS (SELECT count(*) AS n FROM documents)
          |SELECT doc_id, token, tf, df, score FROM (
          |  SELECT doc_id, tf.token AS token, tf, df.df AS df,
          |    CAST(tf AS DOUBLE) * (CAST(n + 1 AS DOUBLE) / CAST(df + 1 AS DOUBLE)) AS score,
          |    row_number() OVER (PARTITION BY doc_id
          |      ORDER BY CAST(tf AS DOUBLE) * (CAST(n + 1 AS DOUBLE) / CAST(df + 1 AS DOUBLE)) DESC,
          |               tf.token) AS rnk
          |  FROM tf JOIN df ON df.token = tf.token CROSS JOIN n)
          |WHERE rnk <= 5 ORDER BY doc_id, score DESC, token""".stripMargin)),

    Query("text_top_shingles", (s, dir) =>
      Dedup.shingleDocFreq(Tables.documents(s, dir)),
      Oracle("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
          |idx AS (SELECT doc_id, w, unnest(range(1, greatest(len(w) - 1, 2))) AS i FROM w),
          |sh AS (SELECT DISTINCT doc_id, array_to_string(list_slice(w, i, i + 2), ' ') AS s FROM idx)
          |SELECT s, df FROM (SELECT s, count(*) AS df FROM sh GROUP BY 1)
          |ORDER BY df DESC, s LIMIT 50""".stripMargin)),

    // per-doc duplicated-shingle coverage: the substring-level dedup
    // signal (corpus-repeated fraction), exact counts + one division
    Query("text_dup_coverage", (s, dir) =>
      Dedup.dupShingleCoverage(Tables.documents(s, dir)).orderBy("doc_id"),
      // same shingle construction as text_top_shingles, aggregated back
      // per doc against the corpus df
      Oracle("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
          |idx AS (SELECT doc_id, w, unnest(range(1, greatest(len(w) - 1, 2))) AS i FROM w),
          |sh AS (SELECT DISTINCT doc_id, array_to_string(list_slice(w, i, i + 2), ' ') AS s FROM idx),
          |df AS (SELECT s, count(*) AS df FROM sh GROUP BY 1)
          |SELECT sh.doc_id, count(*) AS n_shingles,
          |  CAST(sum(CASE WHEN df.df > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_shingles,
          |  CAST(CAST(sum(CASE WHEN df.df > 1 THEN 1 ELSE 0 END) AS BIGINT) AS DOUBLE)
          |    / count(*) AS dup_rate
          |FROM sh JOIN df USING (s)
          |GROUP BY 1 ORDER BY doc_id""".stripMargin)),

    // sparse lexical retrieval next to the dense ANN stack: integer
    // idf-surrogate weights, postings self-join, per-doc top-k window
    Query("sim_lexical_topk", (s, dir) =>
      Dedup.lexicalTopK(Tables.documents(s, dir)).orderBy("doc_id", "rank"),
      // same integer idf surrogate as text_tfidf ((N+1)//(df+1), scaled
      // 10^6), same df cap as the engine, ties by neighbor id
      Oracle("""WITH tok AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS s
          |  FROM documents),
          |w AS (SELECT s, (1000000 * ((SELECT count(*) FROM documents) + 1)) // (df + 1) AS w
          |  FROM (SELECT s, count(*) AS df FROM tok GROUP BY 1 HAVING count(*) <= 1000)),
          |tw AS (SELECT tok.doc_id, tok.s, w.w FROM tok JOIN w USING (s)),
          |pairs AS (SELECT a.doc_id AS id1, b.doc_id AS id2, CAST(sum(a.w) AS BIGINT) AS score
          |  FROM tw a JOIN tw b ON a.s = b.s AND a.doc_id < b.doc_id
          |  GROUP BY 1, 2),
          |m AS (SELECT id1 AS doc_id, id2 AS nbr_id, score FROM pairs
          |      UNION ALL SELECT id2, id1, score FROM pairs),
          |r AS (SELECT doc_id, nbr_id, score,
          |    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, nbr_id)
          |      AS BIGINT) AS rank
          |  FROM m)
          |SELECT doc_id, nbr_id, score, rank FROM r WHERE rank <= 3
          |ORDER BY doc_id, rank""".stripMargin)),

    // true BM25 (k1=1.2, b=0.75, Lucene idf) over the inverted index —
    // exact micro-unit contributions, doc-as-query probes, df-capped
    Query("sim_bm25_topk", (s, dir) =>
      Dedup.bm25TopK(Tables.documents(s, dir)).orderBy("query_id", "rank"),
      // the BM25 arithmetic replayed term by term, then the top 5 per query
      Oracle("WITH " + BM25_SCORE_CTES + """,
          |r AS (SELECT query_id, doc_id, score_q,
          |    row_number() OVER (PARTITION BY query_id
          |      ORDER BY score_q DESC, doc_id) AS rank FROM agg)
          |SELECT query_id, CAST(rank AS BIGINT) AS rank,
          |  doc_id AS neighbor_id,
          |  CAST(score_q AS DOUBLE) / 1000000.0 AS bm25
          |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)),

    // reciprocal-rank fusion of the BM25 arm and the dense arm (depth 10
    // each, same doc-as-query probes): rrf = Σ 10^6 DIV (60 + rank) —
    // exact integers, one equi-join of two bounded rank frames
    Query("sim_hybrid_topk", (s, dir) =>
      Similarity.hybridTopK(Tables.documents(s, dir), Tables.embeddings(s, dir))
        .orderBy("query_id", "rank"),
      // both retrieval arms replayed at depth 10 (the BM25 chain above
      // verbatim, the dense brute scan), then the fusion's exact integer
      // arithmetic: 10^6 // (60 + rank), missing arm contributes 0
      Oracle("WITH " + HYBRID_RANK_CTES + """
          |SELECT query_id, rank, neighbor_id, rrf, lex_rank, dense_rank
          |FROM rr WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)),

    // MRR@5 of the fused stack vs brute-cosine truth: first-true-hit
    // rank and 10^6 DIV rank per serving list (lex/dense/fused) — the
    // position-aware quality number recall@k can't provide; the dense
    // arm is brute force, so its column is the calibration line
    Query("sim_mrr_audit", (s, dir) =>
      Similarity.mrrAudit(Tables.documents(s, dir), Tables.embeddings(s, dir))
        .orderBy("query_id"),
      // MRR@5 of each serving list (lexical @5, dense @5, fused @5)
      // against brute-force cosine truth: first-true-hit rank per arm,
      // rr_scaled = 10^6 // first_rank (0 on all-miss) — the dense arm IS
      // the truth generator here, so its row is the calibration line
      Oracle("WITH " + HYBRID_RANK_CTES + """,
          |truth AS (SELECT query_id, neighbor_id FROM dense WHERE dense_rank <= 5),
          |qs AS (SELECT query_id FROM lex UNION SELECT query_id FROM dense),
          |lh AS (SELECT t.query_id, CAST(min(l.lex_rank) AS BIGINT) AS fr
          |       FROM truth t JOIN lex l ON l.query_id = t.query_id
          |         AND l.neighbor_id = t.neighbor_id
          |       WHERE l.lex_rank <= 5 GROUP BY 1),
          |dh AS (SELECT t.query_id, CAST(min(d.dense_rank) AS BIGINT) AS fr
          |       FROM truth t JOIN dense d ON d.query_id = t.query_id
          |         AND d.neighbor_id = t.neighbor_id
          |       WHERE d.dense_rank <= 5 GROUP BY 1),
          |fh AS (SELECT t.query_id, CAST(min(r.rank) AS BIGINT) AS fr
          |       FROM truth t JOIN rr r ON r.query_id = t.query_id
          |         AND r.neighbor_id = t.neighbor_id
          |       WHERE r.rank <= 5 GROUP BY 1)
          |SELECT q.query_id,
          |  lh.fr AS lex_first_rank,
          |  CAST(coalesce(1000000 // lh.fr, 0) AS BIGINT) AS lex_rr,
          |  dh.fr AS dense_first_rank,
          |  CAST(coalesce(1000000 // dh.fr, 0) AS BIGINT) AS dense_rr,
          |  fh.fr AS fused_first_rank,
          |  CAST(coalesce(1000000 // fh.fr, 0) AS BIGINT) AS fused_rr
          |FROM qs q LEFT JOIN lh ON lh.query_id = q.query_id
          |LEFT JOIN dh ON dh.query_id = q.query_id
          |LEFT JOIN fh ON fh.query_id = q.query_id
          |ORDER BY q.query_id""".stripMargin)),

    // k-anonymity exposure over (lang, source, ceil-pow2 length) quasi-
    // identifiers — the indirect-identifier audit next to the PII scrub
    Query("q_anonymity_census", (s, dir) => {
      val d = Tables.documents(s, dir)
        .withColumn("len_bucket",
          when(col("n_chars") <= 1L, 1L)
            .otherwise(expr("CAST(shiftleft(1L, length(bin(n_chars - 1))) AS BIGINT)")))
      Expectations.kAnonymityCensus(d, Seq("lang", "source", "len_bucket"), k = 5L)
        .orderBy("lang")
    },
      // the q_length_buckets pow2 bucket reused as the third quasi-identifier
      Oracle("""WITH b AS (SELECT lang, source,
          |    CASE WHEN n_chars <= 1 THEN CAST(1 AS BIGINT)
          |         ELSE CAST(1 AS BIGINT) << length(bin(n_chars - 1)) END AS len_bucket
          |  FROM documents),
          |g AS (SELECT lang, source, len_bucket, count(*) AS n_rows
          |  FROM b GROUP BY 1, 2, 3)
          |SELECT lang, count(*) AS n_groups,
          |  CAST(sum(CASE WHEN n_rows < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_small_groups,
          |  CAST(sum(CASE WHEN n_rows < 5 THEN n_rows ELSE 0 END) AS BIGINT) AS n_rows_at_risk
          |FROM g GROUP BY 1 ORDER BY lang""".stripMargin)),

    // context-window prep: 16-token windows every 12 tokens (short docs in
    // this corpus still produce 2-3 overlapping chunks each)
    Query("text_chunks", (s, dir) =>
      TextAnalysis.chunkDocuments(Tables.documents(s, dir), window = 16, stride = 12)
        .orderBy("doc_id", "chunk_id"),
      // chunk starts every 12 tokens while < len; list_slice is 1-based
      // inclusive, so chunk i covers tokens [i*12+1, i*12+16]
      Oracle("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
          |c AS (SELECT doc_id, toks,
          |        unnest(range(0, CAST(floor(CAST(len(toks) - 1 AS DOUBLE) / 12) AS BIGINT) + 1)) AS chunk_id
          |      FROM t)
          |SELECT doc_id, chunk_id,
          |  array_to_string(list_slice(toks, CAST(chunk_id * 12 + 1 AS BIGINT), CAST(chunk_id * 12 + 16 AS BIGINT)), ' ') AS chunk_text,
          |  least(len(toks) - chunk_id * 12, 16) AS n_tokens
          |FROM c ORDER BY doc_id, chunk_id""".stripMargin)),

    Query("text_oov", (s, dir) =>
      TextAnalysis.oovRate(Tables.documents(s, dir)).orderBy("doc_id"),
      Oracle("""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
          |vocab AS (SELECT token FROM (
          |    SELECT token, count(*) AS n FROM tok GROUP BY 1)
          |  ORDER BY n DESC, token LIMIT 100)
          |SELECT doc_id, n_tokens, n_in_vocab,
          |  1.0 - CAST(n_in_vocab AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS oov_rate
          |FROM (
          |  SELECT doc_id, count(*) AS n_tokens,
          |    count(CASE WHEN vocab.token IS NOT NULL THEN 1 END) AS n_in_vocab
          |  FROM tok LEFT JOIN vocab ON vocab.token = tok.token
          |  GROUP BY 1)
          |ORDER BY doc_id""".stripMargin)),

    Query("text_unigram_lp", (s, dir) =>
      TextAnalysis.unigramLogLik(Tables.documents(s, dir)).orderBy("doc_id"),
      // per-token logprob quantized to integer micro-nats BEFORE the per-doc
      // sum (exact integer aggregate — the raw-double-sum rule); round() is
      // half-away-from-zero in both engines
      Oracle("""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
          |counts AS (SELECT w, count(*) AS cnt FROM toks GROUP BY 1),
          |tot AS (SELECT count(*) AS n_total FROM toks),
          |q AS (SELECT t.doc_id,
          |        CAST(round(ln(CAST(c.cnt AS DOUBLE) / n_total) * 1000000) AS BIGINT) AS qlp
          |      FROM toks t JOIN counts c ON t.w = c.w CROSS JOIN tot)
          |SELECT doc_id, count(*) AS n_tok,
          |  CAST(sum(qlp) AS BIGINT) AS sum_qlp,
          |  CAST(CAST(sum(qlp) AS BIGINT) AS DOUBLE) / 1000000.0 / count(*) AS mean_logprob
          |FROM q GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // order-sensitive fluency: corpus-trained bigram log-likelihood with
    // add-one smoothing, micro-nat quantized before the per-doc sum
    Query("text_bigram_lp", (s, dir) =>
      TextAnalysis.bigramLogLik(Tables.documents(s, dir)).orderBy("doc_id"),
      // bigram twin: P(w2|w1) = (c12+1)/(c1+V), c1 the bigram-prefix
      // count, V the distinct-suffix vocabulary (add-one smoothing);
      // same quantize-before-sum discipline, single-token docs total with
      // n_bigram 0 and a NULL mean
      Oracle(BIGRAM_LP_SQL)),

    // the fluency scorer's train-once/score-many face: scoring through
    // the STORED model artifact (pair/prefix/V frame) — on the training
    // corpus every pair is present, so the served scores hash-match the
    // live trainer's oracle; unseen pairs/prefixes back off to the
    // add-one floor (spec'd against a driver model)
    Query("text_bigram_lp_stored", (s, dir) => {
      val docs = Tables.documents(s, dir)
      TextAnalysis.bigramScoreFrom(docs,
        Artifacts.cached(s, "lm", "bigram", dir)(
          TextAnalysis.bigramModel(docs).coalesce(1)))
        .orderBy("doc_id")
    },
      // scoring THROUGH the stored model artifact: on the training corpus
      // every pair/prefix is present, so the served scores equal the live
      // trainer exactly — the oracle is literally the live entry's SQL
      Oracle(BIGRAM_LP_SQL)),

    // the TRAINED quality classifier: exact empirical-risk minimization
    // over a broadcast integer hypothesis grid in micro-ratio feature
    // space, teacher = the rule-based quality floor — the fitted weights
    // (it recovers the teacher's own (4,3,3,-5)) hash-checked end to end
    Query("text_quality_model", (s, dir) =>
      graft.ops.QualityModel.train(Tables.documents(s, dir)),
      Oracle(QUALITY_MODEL_SQL)),

    // the model's corpus scoring: exact integer margin, sign prediction
    // (ties negative), teacher label alongside — the confusion audit
    Query("text_quality_score", (s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.ops.QualityModel.scoreFrom(
        graft.ops.QualityModel.train(docs), docs).orderBy("doc_id")
    },
      Oracle(QUALITY_SCORE_SQL)),

    // the stored-model serving face (the bigramModel artifact pattern):
    // train once into a ≤513-row parquet artifact, score from it — no
    // training job on re-touch; shares the live entry's oracle
    Query("text_quality_score_stored", (s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.ops.QualityModel.scoreFrom(
        Artifacts.cached(s, "lm", "quality_erm", dir)(
          graft.ops.QualityModel.train(docs).coalesce(1)), docs)
        .orderBy("doc_id")
    },
      // the stored face scores through the SAME trained weights (the
      // artifact is a cache, never a fork) — shares the live replay
      Oracle(QUALITY_SCORE_SQL)),

    Query("text_source_scorecard", (s, dir) =>
      TextAnalysis.sourceScorecard(Tables.documents(s, dir)).orderBy("source"),
      // quality_score reproduced exactly as in text_quality's oracle; the
      // dominant language is the (n, lang)-max per source — the same
      // struct-max tie rule as Spark's max_by
      Oracle("""WITH q AS (
          |  SELECT doc_id,
          |    len(string_split(text, ' ')) AS n_tokens,
          |    CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) / len(string_split(text, ' ')) * 0.4 +
          |    CAST(len(list_filter(string_split(text, ' '), w -> w IN ('the', 'a'))) AS DOUBLE)
          |      / len(string_split(text, ' ')) * 0.3 +
          |    CASE WHEN len(string_split(text, ' ')) >= 40 THEN 0.3
          |         ELSE CAST(len(string_split(text, ' ')) AS DOUBLE) / 40.0 * 0.3 END AS quality_score
          |  FROM documents),
          |per_source AS (
          |  SELECT source, count(*) AS n_docs,
          |    CAST(sum(CAST(n_tokens AS BIGINT)) AS BIGINT) AS n_tokens_total,
          |    count(CASE WHEN floor(quality_score * 1000000) >= 500000 THEN 1 END)
          |      AS n_quality_pass
          |  FROM documents JOIN q USING (doc_id) GROUP BY 1),
          |lang_counts AS (
          |  SELECT source, lang, count(*) AS n FROM documents GROUP BY 1, 2),
          |dom AS (
          |  SELECT source, lang AS dominant_lang FROM (
          |    SELECT source, lang,
          |      row_number() OVER (PARTITION BY source ORDER BY n DESC, lang DESC) AS r
          |    FROM lang_counts) WHERE r = 1)
          |SELECT source, n_docs, n_tokens_total, n_quality_pass, dominant_lang
          |FROM per_source JOIN dom USING (source)
          |ORDER BY source""".stripMargin)),

    // corpus-balance inequality: rank-form Gini in ONE division
    Query("text_source_gini", (s, dir) =>
      TextAnalysis.sourceGini(Tables.documents(s, dir)).orderBy("source"),
      // ascending (n_chars, doc_id) row_number mirrors the engine's rank;
      // equal lengths commute so the tie order cannot move the statistic
      Oracle("""WITH r AS (SELECT source, n_chars,
          |    CAST(row_number() OVER (PARTITION BY source
          |      ORDER BY n_chars, doc_id) AS HUGEINT) AS r
          |  FROM documents
          |  WHERE n_chars IS NOT NULL AND doc_id IS NOT NULL),
          |m AS (SELECT source, CAST(count(*) AS HUGEINT) AS n,
          |    CAST(sum(n_chars) AS HUGEINT) AS tot, sum(r * n_chars) AS srx
          |  FROM r GROUP BY 1)
          |SELECT source, CAST(n AS BIGINT) AS n_docs,
          |  CAST(tot AS BIGINT) AS n_chars_total,
          |  CASE WHEN tot > 0 THEN
          |    CAST(2 * srx - (n + 1) * tot AS DOUBLE) / CAST(n * tot AS DOUBLE)
          |  END AS gini
          |FROM m ORDER BY source""".stripMargin)),

    // vocabulary diversity per source: token Shannon entropy in exact
    // integer micro-nats (template farms score low, prose high)
    Query("text_source_entropy", (s, dir) =>
      TextAnalysis.sourceEntropy(Tables.documents(s, dir)).orderBy("source"),
      // per-token −p·ln p quantized to integer micro-nats BEFORE the
      // per-source sum (the raw-double-sum rule); every term is ≥ 0 so
      // round() never faces a negative half-boundary; operation order
      // ((−ln p)·p)·1e6 mirrors the Spark expression left-associatively
      Oracle("""WITH toks AS (SELECT source, unnest(string_split(text, ' ')) AS w
          |  FROM documents),
          |counts AS (SELECT source, w, count(*) AS cnt FROM toks GROUP BY 1, 2),
          |tot AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS n_tokens
          |  FROM counts GROUP BY 1),
          |q AS (SELECT c.source, t.n_tokens,
          |    CAST(round(-ln(CAST(c.cnt AS DOUBLE) / t.n_tokens)
          |      * (CAST(c.cnt AS DOUBLE) / t.n_tokens) * 1000000) AS BIGINT) AS qent
          |  FROM counts c JOIN tot t ON c.source = t.source)
          |SELECT source, CAST(max(n_tokens) AS BIGINT) AS n_tokens,
          |  count(*) AS n_distinct_tokens,
          |  CAST(sum(qent) AS BIGINT) AS sum_qent,
          |  CAST(CAST(sum(qent) AS BIGINT) AS DOUBLE) / 1000000.0 AS entropy_nats
          |FROM q GROUP BY source ORDER BY source""".stripMargin)),

    // data-mixture drift: KL(source ‖ corpus) over token distributions,
    // exact integer micro-nats; shares the entropy state frame
    Query("text_source_kl", (s, dir) =>
      TextAnalysis.sourceKl(Tables.documents(s, dir)).orderBy("source"),
      // per-token (ln p_s − ln C_w)·p_s quantized to integer micro-nats
      // BEFORE the per-source sum, mirroring the Spark expression
      // left-associatively; the scalar +ln N lands on the #sources rollup
      Oracle("""WITH toks AS (SELECT source, unnest(string_split(text, ' ')) AS w
          |  FROM documents),
          |counts AS (SELECT source, w, count(*) AS cnt FROM toks GROUP BY 1, 2),
          |aug AS (SELECT source,
          |    CAST(sum(cnt) OVER (PARTITION BY source) AS BIGINT) AS n_tokens,
          |    CAST(sum(cnt) OVER (PARTITION BY w) AS BIGINT) AS cw, cnt
          |  FROM counts),
          |q AS (SELECT source, n_tokens,
          |    CAST(round((ln(CAST(cnt AS DOUBLE) / CAST(n_tokens AS DOUBLE))
          |        - ln(CAST(cw AS DOUBLE)))
          |      * (CAST(cnt AS DOUBLE) / CAST(n_tokens AS DOUBLE))
          |      * 1000000) AS BIGINT) AS qkl
          |  FROM aug),
          |r AS (SELECT source, CAST(max(n_tokens) AS BIGINT) AS n_tokens,
          |    CAST(sum(qkl) AS BIGINT) AS sum_qkl_rel FROM q GROUP BY 1),
          |f AS (SELECT source, n_tokens,
          |    CAST(sum(n_tokens) OVER () AS BIGINT) AS corpus_tokens,
          |    sum_qkl_rel FROM r)
          |SELECT source, n_tokens, corpus_tokens,
          |  CAST(sum_qkl_rel
          |    + CAST(round(ln(CAST(corpus_tokens AS DOUBLE)) * 1000000) AS BIGINT)
          |    AS BIGINT) AS sum_qkl,
          |  CAST(CAST(sum_qkl_rel
          |    + CAST(round(ln(CAST(corpus_tokens AS DOUBLE)) * 1000000) AS BIGINT)
          |    AS BIGINT) AS DOUBLE) / 1000000.0 AS kl_nats
          |FROM f ORDER BY source""".stripMargin)),

    // seasonal-naive forecast backtest: forecast(h) = actual(h − 24h),
    // exact micro-unit MAE/bias per type — one scan, dual-role explode,
    // gap-safe (no row-lag misalignment across missing hours)
    Query("q_seasonal_backtest", (s, dir) =>
      TimeSeries.seasonalBacktest(Tables.events(s, dir)).orderBy("event_type"),
      // hourly micro-unit sums matched to their prior-period hour by
      // integer bucket equi-join; MAE/bias are exact integer sums with
      // single final divisions mirroring the Spark order
      Oracle("""WITH q AS (SELECT event_type,
          |    epoch_us(ts) - epoch_us(ts) % 3600000000 AS bucket_us,
          |    CAST(round(value * 1000000.0) AS BIGINT) AS vq
          |  FROM events
          |  WHERE event_type IS NOT NULL AND value IS NOT NULL AND ts IS NOT NULL),
          |h AS (SELECT event_type, bucket_us, CAST(sum(vq) AS BIGINT) AS aq
          |  FROM q GROUP BY 1, 2),
          |j AS (SELECT a.event_type, a.aq, f.aq AS fq
          |  FROM h a JOIN h f ON a.event_type = f.event_type
          |    AND a.bucket_us = f.bucket_us + 86400000000)
          |SELECT event_type, count(*) AS n_hours,
          |  CAST(CAST(sum(abs(aq - fq)) AS BIGINT) AS DOUBLE)
          |    / count(*) / 1000000.0 AS mae,
          |  CAST(CAST(sum(aq - fq) AS BIGINT) AS DOUBLE)
          |    / count(*) / 1000000.0 AS bias
          |FROM j GROUP BY 1 ORDER BY 1""".stripMargin)),

    // DSIR importance weights: per-doc log-likelihood ratio between the
    // hashed-ngram model of the English subcorpus (the target) and the
    // whole-corpus model — the data-selection score, exact micro-nats
    Query("text_dsir_weights", (s, dir) =>
      Sampling.dsirWeights(Tables.documents(s, dir), col("lang") === "en")
        .orderBy("doc_id"),
      // the hashed-ngram models replayed bucket-for-bucket, summed per doc
      Oracle(DSIR_SCORE_CTES + """
          |SELECT f.doc_id, CAST(f.is_t AS INTEGER) AS is_target,
          |  count(*) AS n_feats, CAST(sum(r.qlr) AS BIGINT) AS sum_qlw,
          |  CAST(CAST(sum(r.qlr) AS BIGINT) AS DOUBLE) / 1000000.0
          |    AS logweight_nats
          |FROM feats f JOIN ratio r USING (bucket)
          |GROUP BY f.doc_id, f.is_t ORDER BY f.doc_id""".stripMargin)),

    // the resampling step those weights exist for: the top-100 most
    // target-resembling docs, TakeOrdered shape (never a global sort)
    Query("text_dsir_select", (s, dir) =>
      Sampling.dsirSelect(Tables.documents(s, dir), col("lang") === "en")
        .orderBy("rank"),
      // the selection replay: the same DSIR score CTEs, ordered by the
      // exact integer score with doc_id tie-break, rank over the head only
      Oracle(DSIR_SCORE_CTES + """,
          |sc AS (SELECT f.doc_id, f.is_t,
          |    CAST(sum(r.qlr) AS BIGINT) AS sum_qlw
          |  FROM feats f JOIN ratio r USING (bucket)
          |  GROUP BY f.doc_id, f.is_t),
          |head AS (SELECT * FROM sc ORDER BY sum_qlw DESC, doc_id LIMIT 100)
          |SELECT CAST(row_number() OVER (ORDER BY sum_qlw DESC, doc_id)
          |    AS INTEGER) AS rank,
          |  doc_id, CAST(is_t AS INTEGER) AS is_target, sum_qlw
          |FROM head ORDER BY rank""".stripMargin)),

    // count-min sketch certificate: exact top-20 token counts next to
    // their 4×1024-cell sketch estimates (overcount ≥ 0 by construction);
    // one scan — the counts frame is scope-cached like dedup postings
    Query("q_heavy_cms", (s, dir) =>
      graft.ops.Sketches.cmsCertificate(Tables.documents(s, dir))
        .orderBy(col("n_exact").desc, col("token")),
      // every CMS cell replayed: col_i = 12-bit prefix of md5('cms:i:'‖w)
      // mod 1024, cells exact integer sums, estimate = min over the 4 rows
      Oracle("""WITH counts AS (SELECT w, count(*) AS cnt
          |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
          |  GROUP BY w),
          |top AS (SELECT w, cnt AS n_exact FROM counts
          |  ORDER BY cnt DESC, w LIMIT 20),
          |cells AS (SELECT i AS row,
          |    CAST(('0x' || substr(md5('cms:' || CAST(i AS VARCHAR) || ':' || w),
          |      1, 3))::BIGINT % 1024 AS INTEGER) AS col,
          |    CAST(sum(cnt) AS BIGINT) AS cell
          |  FROM counts, (SELECT unnest([0, 1, 2, 3]) AS i)
          |  GROUP BY 1, 2),
          |probes AS (SELECT t.w, t.n_exact, c.cell
          |  FROM top t CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS i) r
          |  JOIN cells c ON c.row = r.i
          |    AND c.col = CAST(('0x' || substr(
          |      md5('cms:' || CAST(r.i AS VARCHAR) || ':' || t.w), 1, 3))::BIGINT
          |      % 1024 AS INTEGER))
          |SELECT w AS token, CAST(n_exact AS BIGINT) AS n_exact,
          |  CAST(min(cell) AS BIGINT) AS est_cms,
          |  CAST(min(cell) - n_exact AS BIGINT) AS overcount
          |FROM probes GROUP BY w, n_exact
          |ORDER BY n_exact DESC, token""".stripMargin)),

    // portable-HLL cardinality certificate: the md5-register sketch AND
    // the exact distinct count from one linear plan, realized error
    // reported next to the estimate (real 100 TB use calls
    // Sketches.hllRegisters and skips the exact pass)
    Query("q_distinct_hll", (s, dir) =>
      graft.ops.Sketches.hllCertificate(Tables.events(s, dir), col("user_id")),
      // every HLL register replayed from the same md5: bucket = 12-bit hex
      // prefix mod 512, rank = 61 − bitlen of the next 60 bits (bin() is
      // minimal in both engines); the indicator sum is EXACT integer
      // (1 << (63−M_j), absent registers 2^63) with one final double
      // division; literals mirror the Spark expression left-associatively
      Oracle("""WITH vals AS (SELECT user_id AS v, count(*) AS n_occ FROM events
          |  WHERE user_id IS NOT NULL GROUP BY 1),
          |hs AS (SELECT md5('hll:' || CAST(v AS VARCHAR)) AS h FROM vals),
          |pr AS (SELECT
          |    CAST(('0x' || substr(h, 1, 3))::BIGINT % 512 AS INTEGER) AS bucket,
          |    CAST(CASE WHEN ('0x' || substr(h, 4, 15))::BIGINT = 0 THEN 61
          |      ELSE 61 - length(bin(('0x' || substr(h, 4, 15))::BIGINT))
          |    END AS INTEGER) AS rho
          |  FROM hs),
          |regs AS (SELECT bucket, max(rho) AS m_j, count(*) AS n_vals
          |  FROM pr GROUP BY 1),
          |a AS (SELECT count(*) AS n_present,
          |    sum(1::BIGINT << (63 - m_j)) AS sum_present,
          |    sum(n_vals) AS n_exact FROM regs),
          |s AS (SELECT CAST(n_present AS BIGINT) AS n_present,
          |    CAST(COALESCE(n_exact, 0) AS BIGINT) AS n_exact,
          |    COALESCE(sum_present, 0)
          |      + (512 - n_present) * CAST('9223372036854775808' AS HUGEINT)
          |      AS sum_scaled FROM a),
          |e AS (SELECT n_present, n_exact,
          |    CAST(0.7213 AS DOUBLE)
          |      / (CAST(1.0 AS DOUBLE) + CAST(1.079 AS DOUBLE) / CAST(512.0 AS DOUBLE))
          |      * CAST(262144.0 AS DOUBLE) * CAST(9.223372036854775808e18 AS DOUBLE)
          |      / CAST(sum_scaled AS DOUBLE) AS est_raw,
          |    512 - n_present AS v_zero FROM s),
          |f AS (SELECT n_present, n_exact,
          |    CASE WHEN est_raw <= CAST(2.5 AS DOUBLE) * CAST(512.0 AS DOUBLE)
          |        AND v_zero > 0
          |      THEN CAST(512.0 AS DOUBLE)
          |        * ln(CAST(512.0 AS DOUBLE) / CAST(v_zero AS DOUBLE))
          |      ELSE est_raw END AS est_hll FROM e)
          |SELECT 512 AS m_registers, n_exact, n_present, est_hll,
          |  CASE WHEN n_exact > 0 THEN
          |    (est_hll - CAST(n_exact AS DOUBLE)) / CAST(n_exact AS DOUBLE)
          |  END AS rel_err
          |FROM f""".stripMargin)),

    // audience overlap from sketches alone: est(A∩B) by inclusion-
    // exclusion over the A/B/union register sets, exact flags beside it
    Query("q_distinct_overlap", (s, dir) =>
      graft.ops.Sketches.hllOverlapCertificate(Tables.events(s, dir),
        col("event_type"), col("user_id"), "click", "purchase"),
      // inclusion-exclusion replay: the A/B/union register sets from the
      // same per-user membership flags, three estimates, exact flag sums
      Oracle("""WITH pv AS (SELECT user_id AS v,
          |    max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS fa,
          |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS fb
          |  FROM events WHERE user_id IS NOT NULL
          |    AND (event_type = 'click' OR event_type = 'purchase')
          |  GROUP BY 1),
          |rl AS (SELECT v, unnest(['a', 'b', 'u']) AS role, fa, fb FROM pv),
          |rf AS (SELECT v, role FROM rl
          |  WHERE (role = 'a' AND fa = 1) OR (role = 'b' AND fb = 1)
          |     OR role = 'u'),
          |pr AS (SELECT role,
          |    CAST(('0x' || substr(md5('hll:' || CAST(v AS VARCHAR)), 1, 3))::BIGINT
          |      % 512 AS INTEGER) AS bucket,
          |    CAST(CASE WHEN
          |      ('0x' || substr(md5('hll:' || CAST(v AS VARCHAR)), 4, 15))::BIGINT = 0
          |      THEN 61 ELSE 61 - length(bin(
          |        ('0x' || substr(md5('hll:' || CAST(v AS VARCHAR)), 4, 15))::BIGINT))
          |    END AS INTEGER) AS rho
          |  FROM rf),
          |regs AS (SELECT role, bucket, max(rho) AS m_j FROM pr GROUP BY 1, 2),
          |a AS (SELECT role, count(*) AS n_present,
          |    sum(1::BIGINT << (63 - m_j)) AS sum_present FROM regs GROUP BY 1),
          |s AS (SELECT role, CAST(n_present AS BIGINT) AS n_present,
          |    COALESCE(sum_present, 0)
          |      + (512 - n_present) * CAST('9223372036854775808' AS HUGEINT)
          |      AS sum_scaled FROM a),
          |e AS (SELECT role, n_present,
          |    CAST(0.7213 AS DOUBLE)
          |      / (CAST(1.0 AS DOUBLE) + CAST(1.079 AS DOUBLE) / CAST(512.0 AS DOUBLE))
          |      * CAST(262144.0 AS DOUBLE) * CAST(9.223372036854775808e18 AS DOUBLE)
          |      / CAST(sum_scaled AS DOUBLE) AS est_raw,
          |    512 - n_present AS v_zero FROM s),
          |f AS (SELECT role,
          |    CASE WHEN est_raw <= CAST(2.5 AS DOUBLE) * CAST(512.0 AS DOUBLE)
          |        AND v_zero > 0
          |      THEN CAST(512.0 AS DOUBLE)
          |        * ln(CAST(512.0 AS DOUBLE) / CAST(v_zero AS DOUBLE))
          |      ELSE est_raw END AS est_hll FROM e),
          |p AS (SELECT max(CASE WHEN role = 'a' THEN est_hll END) AS est_a,
          |    max(CASE WHEN role = 'b' THEN est_hll END) AS est_b,
          |    max(CASE WHEN role = 'u' THEN est_hll END) AS est_union FROM f),
          |x AS (SELECT CAST(sum(fa) AS BIGINT) AS n_a_exact,
          |    CAST(sum(fb) AS BIGINT) AS n_b_exact,
          |    CAST(sum(fa * fb) AS BIGINT) AS n_overlap_exact FROM pv)
          |SELECT n_a_exact, n_b_exact, n_overlap_exact, est_a, est_b, est_union,
          |  est_a + est_b - est_union AS est_overlap,
          |  CASE WHEN n_overlap_exact > 0 THEN
          |    (est_a + est_b - est_union - CAST(n_overlap_exact AS DOUBLE))
          |      / CAST(n_overlap_exact AS DOUBLE)
          |  END AS rel_err_overlap
          |FROM x CROSS JOIN p""".stripMargin)),

    // the same sketch composed relationally: distinct users PER EVENT
    // TYPE in one pass — what a register-table representation buys over
    // an opaque blob (GROUP BY composes with it)
    Query("q_distinct_hll_by_type", (s, dir) =>
      graft.ops.Sketches.hllCertificateBy(Tables.events(s, dir),
        Seq("event_type"), col("user_id")).orderBy("event_type"),
      // the per-key composition of the same replay: every stage gains
      // event_type, one register table per type, same estimate arithmetic
      Oracle("""WITH vals AS (SELECT event_type, user_id AS v, count(*) AS n_occ
          |  FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2),
          |hs AS (SELECT event_type, md5('hll:' || CAST(v AS VARCHAR)) AS h
          |  FROM vals),
          |pr AS (SELECT event_type,
          |    CAST(('0x' || substr(h, 1, 3))::BIGINT % 512 AS INTEGER) AS bucket,
          |    CAST(CASE WHEN ('0x' || substr(h, 4, 15))::BIGINT = 0 THEN 61
          |      ELSE 61 - length(bin(('0x' || substr(h, 4, 15))::BIGINT))
          |    END AS INTEGER) AS rho
          |  FROM hs),
          |regs AS (SELECT event_type, bucket, max(rho) AS m_j,
          |    count(*) AS n_vals FROM pr GROUP BY 1, 2),
          |a AS (SELECT event_type, count(*) AS n_present,
          |    sum(1::BIGINT << (63 - m_j)) AS sum_present,
          |    sum(n_vals) AS n_exact FROM regs GROUP BY 1),
          |s AS (SELECT event_type, CAST(n_present AS BIGINT) AS n_present,
          |    CAST(COALESCE(n_exact, 0) AS BIGINT) AS n_exact,
          |    COALESCE(sum_present, 0)
          |      + (512 - n_present) * CAST('9223372036854775808' AS HUGEINT)
          |      AS sum_scaled FROM a),
          |e AS (SELECT event_type, n_present, n_exact,
          |    CAST(0.7213 AS DOUBLE)
          |      / (CAST(1.0 AS DOUBLE) + CAST(1.079 AS DOUBLE) / CAST(512.0 AS DOUBLE))
          |      * CAST(262144.0 AS DOUBLE) * CAST(9.223372036854775808e18 AS DOUBLE)
          |      / CAST(sum_scaled AS DOUBLE) AS est_raw,
          |    512 - n_present AS v_zero FROM s),
          |f AS (SELECT event_type, n_present, n_exact,
          |    CASE WHEN est_raw <= CAST(2.5 AS DOUBLE) * CAST(512.0 AS DOUBLE)
          |        AND v_zero > 0
          |      THEN CAST(512.0 AS DOUBLE)
          |        * ln(CAST(512.0 AS DOUBLE) / CAST(v_zero AS DOUBLE))
          |      ELSE est_raw END AS est_hll FROM e)
          |SELECT event_type, 512 AS m_registers, n_exact, n_present, est_hll,
          |  CASE WHEN n_exact > 0 THEN
          |    (est_hll - CAST(n_exact AS DOUBLE)) / CAST(n_exact AS DOUBLE)
          |  END AS rel_err
          |FROM f ORDER BY event_type""".stripMargin)),

    // KMV overlap: est(A∩B) as (sample fraction)·est(union) — a PRODUCT,
    // not HLL's difference of three estimates, so small intersections
    // keep bounded relative error; exact counts beside the estimates
    Query("q_distinct_kmv", (s, dir) =>
      graft.ops.Sketches.kmvOverlapCertificate(Tables.events(s, dir),
        col("event_type"), col("user_id"), "click", "purchase"),
      // KMV replay: bottom-256 of the 60-bit value hashes per role via
      // row_number windows; estimates (k-1)·2^60/h_k with the <k exact
      // regime; overlap = (flagged fraction of the union's bottom-k) ×
      // est_union — every double op mirrors the Spark expression literally
      Oracle("""WITH pv AS (SELECT user_id AS v,
          |    max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS fa,
          |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS fb
          |  FROM events WHERE user_id IS NOT NULL
          |    AND (event_type = 'click' OR event_type = 'purchase')
          |  GROUP BY 1),
          |hv AS (SELECT
          |    ('0x' || substr(md5('kmv:' || CAST(v AS VARCHAR)), 1, 15))::BIGINT AS h,
          |    fa, fb FROM pv),
          |ra AS (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM hv WHERE fa = 1),
          |ea AS (SELECT CASE WHEN count(*) < 256 THEN CAST(count(*) AS DOUBLE)
          |    ELSE CAST(255 AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE)
          |      / CAST(max(h) AS DOUBLE) END AS est_a
          |  FROM ra WHERE rn <= 256),
          |rb AS (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM hv WHERE fb = 1),
          |eb AS (SELECT CASE WHEN count(*) < 256 THEN CAST(count(*) AS DOUBLE)
          |    ELSE CAST(255 AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE)
          |      / CAST(max(h) AS DOUBLE) END AS est_b
          |  FROM rb WHERE rn <= 256),
          |ru AS (SELECT h, fa, fb, row_number() OVER (ORDER BY h) AS rn FROM hv),
          |ku AS (SELECT CAST(count(*) AS BIGINT) AS k_used,
          |    CAST(sum(fa * fb) AS BIGINT) AS n_both_in_k,
          |    CASE WHEN count(*) < 256 THEN CAST(count(*) AS DOUBLE)
          |      ELSE CAST(255 AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE)
          |        / CAST(max(h) AS DOUBLE) END AS est_union
          |  FROM ru WHERE rn <= 256),
          |x AS (SELECT CAST(sum(fa) AS BIGINT) AS n_a_exact,
          |    CAST(sum(fb) AS BIGINT) AS n_b_exact,
          |    CAST(sum(fa * fb) AS BIGINT) AS n_overlap_exact FROM pv)
          |SELECT n_a_exact, n_b_exact, n_overlap_exact, est_a, est_b, est_union,
          |  k_used, n_both_in_k,
          |  CAST(n_both_in_k AS DOUBLE) / CAST(k_used AS DOUBLE) AS jaccard_k,
          |  CAST(n_both_in_k AS DOUBLE) / CAST(k_used AS DOUBLE) * est_union
          |    AS est_overlap,
          |  CASE WHEN n_overlap_exact > 0 THEN
          |    (CAST(n_both_in_k AS DOUBLE) / CAST(k_used AS DOUBLE) * est_union
          |      - CAST(n_overlap_exact AS DOUBLE)) / CAST(n_overlap_exact AS DOUBLE)
          |  END AS rel_err_overlap
          |FROM x CROSS JOIN ea CROSS JOIN eb CROSS JOIN ku""".stripMargin)),

    // the KMV sketch composed relationally — distinct users PER EVENT
    // TYPE, k smallest hashes per key by one rank window, estimate and
    // exact count side by side (the GROUP-BY proof HLL already has)
    Query("q_distinct_kmv_by_type", (s, dir) =>
      graft.ops.Sketches.kmvCertificateBy(Tables.events(s, dir),
        Seq("event_type"), col("user_id")).orderBy("event_type"),
      // the per-key KMV replay: every stage gains event_type, one rank
      // window per key, same estimator with the <k exact regime
      Oracle("""WITH pv AS (SELECT event_type, user_id AS v FROM events
          |  WHERE user_id IS NOT NULL GROUP BY 1, 2),
          |hv AS (SELECT event_type,
          |    ('0x' || substr(md5('kmv:' || CAST(v AS VARCHAR)), 1, 15))::BIGINT AS h
          |  FROM pv),
          |rk AS (SELECT event_type, h,
          |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn FROM hv),
          |sk AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_in_sketch,
          |    max(h) AS h_k FROM rk WHERE rn <= 256 GROUP BY 1),
          |ex AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_exact
          |  FROM rk GROUP BY 1),
          |est AS (SELECT s.event_type, e.n_exact, s.n_in_sketch,
          |    CASE WHEN s.n_in_sketch < 256 THEN CAST(s.n_in_sketch AS DOUBLE)
          |      ELSE CAST(255 AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE)
          |        / CAST(s.h_k AS DOUBLE) END AS est_kmv
          |  FROM sk s JOIN ex e ON s.event_type = e.event_type)
          |SELECT event_type, n_exact, n_in_sketch, est_kmv,
          |  CASE WHEN n_exact > 0 THEN
          |    (est_kmv - CAST(n_exact AS DOUBLE)) / CAST(n_exact AS DOUBLE)
          |  END AS rel_err
          |FROM est ORDER BY event_type""".stripMargin)),

    // deterministic bottom-k row-sample quantile sketch: per-type
    // p50/p90 picked from the k hash-smallest rows, exact discrete
    // quantiles and the realized CDF error measured beside them
    Query("q_quantiles_sketch", (s, dir) =>
      graft.ops.Sketches.quantileCertificate(Tables.events(s, dir))
        .orderBy("event_type"),
      // quantile-sketch replay: per-type bottom-512 rows by md5(event_id),
      // rank rule ceil(p·n) over (v, h) on the sample and (value, event_id)
      // on the corpus — the q_quantiles selection — plus the CDF counts
      Oracle("""WITH base AS (SELECT event_type, event_id, value FROM events
          |  WHERE event_type IS NOT NULL AND value IS NOT NULL
          |    AND event_id IS NOT NULL),
          |hs AS (SELECT event_type, value AS v,
          |    ('0x' || substr(md5('qsk:' || CAST(event_id AS VARCHAR)), 1, 15))::BIGINT AS h
          |  FROM base),
          |samp AS (SELECT event_type, h, v,
          |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn FROM hs),
          |sk AS (SELECT event_type, h, v FROM samp WHERE rn <= 512),
          |skr AS (SELECT event_type, v,
          |    row_number() OVER (PARTITION BY event_type ORDER BY v, h) AS rn,
          |    count(*) OVER (PARTITION BY event_type) AS n_s FROM sk),
          |est AS (SELECT event_type,
          |    max(CASE WHEN rn = greatest(1, CAST(ceil(0.5 * n_s) AS BIGINT))
          |      THEN v END) AS p50_sketch,
          |    max(CASE WHEN rn = greatest(1, CAST(ceil(0.9 * n_s) AS BIGINT))
          |      THEN v END) AS p90_sketch,
          |    CAST(max(n_s) AS BIGINT) AS n_sample
          |  FROM skr GROUP BY 1),
          |exr AS (SELECT event_type, value,
          |    row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
          |    count(*) OVER (PARTITION BY event_type) AS n FROM base),
          |exq AS (SELECT event_type,
          |    max(CASE WHEN rn = greatest(1, CAST(ceil(0.5 * n) AS BIGINT))
          |      THEN value END) AS p50_exact,
          |    max(CASE WHEN rn = greatest(1, CAST(ceil(0.9 * n) AS BIGINT))
          |      THEN value END) AS p90_exact
          |  FROM exr GROUP BY 1),
          |cdf AS (SELECT b.event_type, CAST(count(*) AS BIGINT) AS n_rows,
          |    CAST(sum(CASE WHEN b.value <= e.p50_sketch THEN 1 ELSE 0 END) AS BIGINT)
          |      AS n_le_p50,
          |    CAST(sum(CASE WHEN b.value <= e.p90_sketch THEN 1 ELSE 0 END) AS BIGINT)
          |      AS n_le_p90
          |  FROM base b JOIN est e ON b.event_type = e.event_type GROUP BY 1)
          |SELECT e.event_type, c.n_rows, e.n_sample,
          |  e.p50_sketch, q.p50_exact,
          |  abs(CAST(c.n_le_p50 AS DOUBLE) / CAST(c.n_rows AS DOUBLE)
          |    - CAST(0.5 AS DOUBLE)) AS cdf_err_p50,
          |  e.p90_sketch, q.p90_exact,
          |  abs(CAST(c.n_le_p90 AS DOUBLE) / CAST(c.n_rows AS DOUBLE)
          |    - CAST(0.9 AS DOUBLE)) AS cdf_err_p90
          |FROM est e JOIN exq q ON e.event_type = q.event_type
          |JOIN cdf c ON e.event_type = c.event_type
          |ORDER BY e.event_type""".stripMargin)),

    // Zipf-law fit over the frequency head: OLS slope/intercept on the
    // micro-quantized log-rank/log-count line (healthy prose ≈ −1)
    Query("text_zipf", (s, dir) =>
      TextAnalysis.zipfFit(Tables.documents(s, dir)),
      // OLS moments as exact HUGEINT sums of micro-nat points; slope and
      // intercept are single divisions of the integer cross-products
      Oracle("""WITH counts AS (SELECT w, count(*) AS cnt
          |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
          |  GROUP BY w),
          |top AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, w) AS rnk
          |  FROM (SELECT w, cnt FROM counts ORDER BY cnt DESC, w LIMIT 500)),
          |pts AS (SELECT
          |    CAST(round(ln(CAST(rnk AS DOUBLE)) * 1000000) AS BIGINT) AS x,
          |    CAST(round(ln(CAST(cnt AS DOUBLE)) * 1000000) AS BIGINT) AS y
          |  FROM top),
          |m AS (SELECT CAST(count(*) AS BIGINT) AS k,
          |    CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
          |    SUM(CAST(x AS HUGEINT) * y) AS sxy,
          |    SUM(CAST(x AS HUGEINT) * x) AS sxx FROM pts)
          |SELECT k AS n_fit,
          |  CAST(k * sxy - sx * sy AS DOUBLE)
          |    / CAST(k * sxx - sx * sx AS DOUBLE) AS zipf_slope,
          |  CAST(sy * sxx - sx * sxy AS DOUBLE)
          |    / CAST(k * sxx - sx * sx AS DOUBLE) / 1000000.0 AS intercept_ln
          |FROM m""".stripMargin)),

    // quality-floor threshold sweep: docs/tokens surviving each candidate
    // floor — the curve read before committing to the scorecard floor
    Query("text_quality_calibration", (s, dir) =>
      TextAnalysis.qualityCalibration(Tables.documents(s, dir)).orderBy("floor_pct"),
      // quality_score reproduced exactly as in text_quality's oracle, then
      // floored to integer micro-units BEFORE bucketing (the money rule);
      // all division operands non-negative, so // == trunc == floor
      Oracle("""WITH q AS (
          |  SELECT len(string_split(text, ' ')) AS n_tokens,
          |    CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
          |      / len(string_split(text, ' ')) * 0.4 +
          |    CAST(len(list_filter(string_split(text, ' '), w -> w IN ('the', 'a'))) AS DOUBLE)
          |      / len(string_split(text, ' ')) * 0.3 +
          |    CASE WHEN len(string_split(text, ' ')) >= 40 THEN 0.3
          |         ELSE CAST(len(string_split(text, ' ')) AS DOUBLE) / 40.0 * 0.3 END
          |      AS quality_score
          |  FROM documents),
          |h AS (
          |  SELECT least(CAST(floor(quality_score * 1000000) AS BIGINT) // 50000, 20) AS b,
          |    count(*) AS h_docs, CAST(sum(n_tokens) AS BIGINT) AS h_tokens
          |  FROM q GROUP BY 1),
          |t AS (SELECT unnest(range(21)) AS t),
          |sweep AS (
          |  SELECT t.t AS t,
          |    CAST(coalesce(sum(h.h_docs), 0) AS BIGINT) AS n_docs_pass,
          |    CAST(coalesce(sum(h.h_tokens), 0) AS BIGINT) AS n_tokens_pass
          |  FROM t LEFT JOIN h ON h.b >= t.t GROUP BY t.t)
          |SELECT CAST(t * 5 AS INT) AS floor_pct, n_docs_pass, n_tokens_pass,
          |  CAST(n_docs_pass AS DOUBLE)
          |    / CAST(max(n_docs_pass) OVER () AS DOUBLE) AS doc_share,
          |  CAST(n_tokens_pass AS DOUBLE)
          |    / CAST(max(n_tokens_pass) OVER () AS DOUBLE) AS token_share
          |FROM sweep ORDER BY floor_pct""".stripMargin)),

    // Heaps-law checkpoints: distinct vocabulary among the first
    // 1%/10%/100% of doc ids — min-first-seen, no cumulative distinct
    Query("text_vocab_growth", (s, dir) =>
      TextAnalysis.vocabGrowth(Tables.documents(s, dir)).orderBy("pct"),
      // vocab(cut) = #tokens with min(doc_id) <= max_id*pct//100
      Oracle("""WITH f AS (SELECT tok, min(doc_id) AS first_id FROM (
          |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
          |  GROUP BY 1),
          |mx AS (SELECT max(doc_id) AS max_id FROM documents),
          |p AS (SELECT unnest([1, 10, 100]) AS pct),
          |v AS (SELECT pct, count(*) AS vocab
          |  FROM f, mx, p WHERE first_id <= max_id * pct // 100 GROUP BY 1),
          |d AS (SELECT pct, count(*) AS n_docs
          |  FROM documents, mx, p WHERE doc_id <= max_id * pct // 100 GROUP BY 1)
          |SELECT CAST(p.pct AS BIGINT) AS pct, d.n_docs, v.vocab
          |FROM p JOIN v USING (pct) JOIN d USING (pct) ORDER BY pct""".stripMargin)),

    // char-class composition: the C4-family debris detector (markup,
    // base64, emoji soup all surface as high other_share)
    Query("text_char_classes", (s, dir) =>
      TextAnalysis.charClasses(Tables.documents(s, dir)).orderBy("doc_id"),
      // DuckDB needs the explicit 'g' flag to delete ALL matches like
      // Spark does
      Oracle("""SELECT doc_id, len(text) AS n_chars,
          |  len(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
          |  len(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digit,
          |  len(regexp_replace(text, '[^ ]', '', 'g')) AS n_space,
          |  len(text) - len(regexp_replace(text, '[^A-Za-z]', '', 'g'))
          |    - len(regexp_replace(text, '[^0-9]', '', 'g'))
          |    - len(regexp_replace(text, '[^ ]', '', 'g')) AS n_other,
          |  CASE WHEN len(text) > 0 THEN
          |    CAST(len(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / len(text)
          |  END AS alpha_share,
          |  CASE WHEN len(text) > 0 THEN
          |    CAST(len(text) - len(regexp_replace(text, '[^A-Za-z]', '', 'g'))
          |      - len(regexp_replace(text, '[^0-9]', '', 'g'))
          |      - len(regexp_replace(text, '[^ ]', '', 'g')) AS DOUBLE) / len(text)
          |  END AS other_share
          |FROM documents ORDER BY doc_id""".stripMargin)),

    Query("sim_label_affinity", (s, dir) =>
      graft.ops.Similarity.labelAffinity(Tables.embeddings(s, dir))
        .orderBy("label_a", "label_b"),
      // cosine over the UNNORMALIZED quantized component-sum vectors
      // (scale-invariant, so identical to the mean-vector cosine) — every
      // dot is an exact decimal sum of integer products
      Oracle("""WITH x AS (SELECT label,
          |    unnest(CAST(embedding AS DOUBLE[])) AS e,
          |    unnest(range(len(embedding))) AS pos
          |  FROM embeddings),
          |q AS (SELECT label, pos, sum(CAST(floor(e * 1000000.0) AS BIGINT)) AS sq
          |  FROM x GROUP BY 1, 2)
          |SELECT label_a, label_b,
          |  CAST(dab AS DOUBLE) / (sqrt(CAST(daa AS DOUBLE)) * sqrt(CAST(dbb AS DOUBLE))) AS affinity
          |FROM (
          |  SELECT a.label AS label_a, b.label AS label_b,
          |    sum(CAST(a.sq AS DECIMAL(18,0)) * CAST(b.sq AS DECIMAL(18,0))) AS dab,
          |    sum(CAST(a.sq AS DECIMAL(18,0)) * CAST(a.sq AS DECIMAL(18,0))) AS daa,
          |    sum(CAST(b.sq AS DECIMAL(18,0)) * CAST(b.sq AS DECIMAL(18,0))) AS dbb
          |  FROM q a JOIN q b ON a.pos = b.pos AND a.label < b.label
          |  GROUP BY 1, 2)
          |ORDER BY label_a, label_b""".stripMargin)),

    // per-class cohesion: mean (micro-quantized before the sum) and
    // worst member->centroid cosine — the label-quality table
    Query("sim_label_cohesion", (s, dir) =>
      graft.ops.Similarity.labelCohesion(Tables.embeddings(s, dir)).orderBy("label"),
      // the q_embed_outliers per-member cosine, rolled up per label with
      // the micro-quantize-before-sum mean and the (sim, vec_id) argmin
      Oracle("""WITH x AS (SELECT label,
          |    unnest(CAST(embedding AS DOUBLE[])) AS e,
          |    unnest(range(len(embedding))) AS pos
          |  FROM embeddings),
          |c AS (SELECT label, pos, CAST(sum(CAST(floor(e * 1000000.0) AS BIGINT)) AS DOUBLE)
          |    / (1000000.0 * count(*)) AS mean
          |  FROM x GROUP BY label, pos),
          |cl AS (SELECT label, list(mean ORDER BY pos) AS cv FROM c GROUP BY label),
          |s AS (SELECT e.label, e.vec_id,
          |    list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), cl.cv) AS sim
          |  FROM embeddings e JOIN cl ON cl.label = e.label),
          |m AS (SELECT label, count(*) AS n,
          |    CAST(sum(CAST(floor(sim * 1000000.0) AS BIGINT)) AS BIGINT) AS sum_q,
          |    min(sim) AS min_sim
          |  FROM s GROUP BY 1),
          |w AS (SELECT label, vec_id AS worst_vec_id FROM (
          |    SELECT label, vec_id,
          |      row_number() OVER (PARTITION BY label ORDER BY sim, vec_id) AS rn
          |    FROM s) WHERE rn = 1)
          |SELECT m.label, m.n, CAST(sum_q AS DOUBLE) / 1000000.0 / m.n AS mean_sim,
          |  min_sim, worst_vec_id
          |FROM m JOIN w USING (label) ORDER BY label""".stripMargin)),

    // embedding drift between the vec_id-parity halves: cross-multiplied
    // exact centroid shift, decimal-string rendered
    Query("sim_centroid_drift", (s, dir) =>
      graft.ops.Similarity.centroidDrift(Tables.embeddings(s, dir),
        col("vec_id") % 2 === 1).orderBy("label"),
      // the mean difference rescaled integer: Ca*n_b - Cb*n_a per
      // component, squared and summed in HUGEINT, string-rendered
      Oracle("""WITH x AS (SELECT label, vec_id,
          |    unnest(CAST(embedding AS DOUBLE[])) AS e,
          |    unnest(range(len(embedding))) AS pos
          |  FROM embeddings),
          |s AS (SELECT label, pos,
          |    sum(CASE WHEN vec_id % 2 = 0 THEN CAST(floor(e * 1000000.0) AS BIGINT)
          |             ELSE 0 END) AS ca,
          |    sum(CASE WHEN vec_id % 2 = 1 THEN CAST(floor(e * 1000000.0) AS BIGINT)
          |             ELSE 0 END) AS cb
          |  FROM x GROUP BY 1, 2),
          |n AS (SELECT label,
          |    CAST(sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS HUGEINT) AS n_a,
          |    CAST(sum(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) AS HUGEINT) AS n_b
          |  FROM embeddings GROUP BY 1),
          |d AS (SELECT s.label,
          |    sum((CAST(ca AS HUGEINT) * n_b - CAST(cb AS HUGEINT) * n_a)
          |      * (CAST(ca AS HUGEINT) * n_b - CAST(cb AS HUGEINT) * n_a)) AS shift
          |  FROM s JOIN n USING (label) GROUP BY 1)
          |SELECT d.label, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
          |  CAST(shift AS VARCHAR) AS shift_sq
          |FROM d JOIN n USING (label) ORDER BY label""".stripMargin)),

    Query("text_curation", (s, dir) =>
      Curation.curationStats(Tables.documents(s, dir)),
      Oracle("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
          |idx AS (SELECT doc_id, w, unnest(range(1, greatest(len(w) - 1, 2))) AS i FROM w),
          |sh AS (SELECT DISTINCT doc_id, array_to_string(list_slice(w, i, i + 2), ' ') AS s FROM idx),
          |""".stripMargin + LOSERS_QUALITY_CTES + """,
          |curated AS (
          |  SELECT q.* FROM qual q LEFT JOIN losers l ON q.doc_id = l.doc_id
          |  WHERE l.doc_id IS NULL AND q.quality_score >= 0.46)
          |SELECT lang, count(*) AS n_kept,
          |  CAST(sum(CAST(quality_score AS DECIMAL(18,12))) AS DOUBLE) / count(*) AS mean_quality,
          |  min(quality_score) AS min_quality,
          |  max(quality_score) AS max_quality
          |FROM curated GROUP BY 1 ORDER BY lang""".stripMargin)),

    // the full raw→train-ready chain in one composed plan
    Query("text_train_ready", (s, dir) =>
      Curation.trainReadyStats(Tables.documents(s, dir)),
      Oracle(TRAIN_READY_CTES +
        """
          |SELECT lang, count(*) AS n_docs,
          |  CAST(sum(CAST(quality_score AS DECIMAL(18,12))) AS DOUBLE) / count(*) AS mean_quality
          |FROM kept GROUP BY 1 ORDER BY lang""".stripMargin)),

    // HTML→text extraction: expression-built doc-id-varied page, then
    // the single-pass codegen'd walk strips tags, elides script/style/
    // comments, decodes the core entities, and prices the boilerplate
    // signals; md5 of the extracted text pins the string end to end
    Query("text_html_extract", (s, dir) =>
      TextAnalysis.htmlExtractCensus(Tables.documents(s, dir))
        .orderBy("doc_id"),
      // the page is REBUILT by the same construction; every census column
      // is then priced ANALYTICALLY from it (the warcPayload pattern) —
      // extracted text = title + original text + decoded entity line,
      // entities = 5 + escaped [&<>] occurrences, tags = 15 + optionals
      Oracle(HTML_EXTRACT_SQL)),

    // the decode gate between container payloads and every string op:
    // doc-id-cycled ill-formed UTF-8 planted after the text bytes,
    // censused and REPAIRED (one U+FFFD per maximal subpart — the JDK
    // decoder's policy, property-pinned against new String(bytes)); the
    // oracle derives byte/codepoint/repair counts and the repaired
    // string's md5 from the construction classes, exact for any text
    Query("text_utf8_census", (s, dir) =>
      TextAnalysis.utf8Census(TextAnalysis.rawBytesFrame(
        Tables.documents(s, dir))).orderBy("doc_id"),
      // per planted class: (extra bytes, extra output codepoints, repairs,
      // repaired suffix) — class 1 C3 28 → U+FFFD + '('; 2 C0 AF → two
      // U+FFFDs; 3 ED A0 80 → ONE (the JDK decodes the CESU surrogate
      // structurally and substitutes the whole 3-byte unit — the kernel
      // matches it exactly);
      // 4 F0 90 28 → U+FFFD + '(' (the valid two-byte prefix is ONE
      // maximal subpart); DuckDB's md5 hashes the VARCHAR's UTF-8 bytes,
      // same as the engine's over the repaired string
      Oracle("""WITH d AS (SELECT doc_id, text, doc_id % 5 AS cls FROM documents)
          |SELECT doc_id,
          |  CAST(strlen(text) + CASE cls WHEN 1 THEN 2 WHEN 2 THEN 2
          |    WHEN 3 THEN 3 WHEN 4 THEN 3 ELSE 0 END AS BIGINT) AS n_bytes,
          |  CAST(length(text) + CASE cls WHEN 1 THEN 2 WHEN 2 THEN 2
          |    WHEN 3 THEN 1 WHEN 4 THEN 2 ELSE 0 END AS BIGINT) AS n_cp_out,
          |  CAST(CASE cls WHEN 1 THEN 1 WHEN 2 THEN 2 WHEN 3 THEN 1
          |    WHEN 4 THEN 1 ELSE 0 END AS BIGINT) AS n_bad,
          |  md5(text || CASE cls WHEN 1 THEN '�(' WHEN 2 THEN '��'
          |    WHEN 3 THEN '�' WHEN 4 THEN '�('
          |    ELSE '' END) AS clean_md5
          |FROM d ORDER BY doc_id""".stripMargin)),

    // crawl-frontier URL canonicalization: doc_id-cycled wire noise
    // (case, default port, tracking params, fragment, trailing slash)
    // normalized by RE2-safe regex steps the oracle replays verbatim —
    // raw and canonical STRINGS hash-compared end to end
    Query("text_url_canon", (s, dir) =>
      Curation.urlFrontier(Tables.documents(s, dir))
        .orderBy("doc_id", "url_raw"),
      // the messy-URL construction and every canonicalization step
      // replayed in DuckDB's RE2 (same patterns — RE2-safe by design;
      // replacement syntax differs, \1 vs $1, the VALUES are identical)
      Oracle(URL_FRONTIER_CTES + """
          |SELECT doc_id, url_raw, url_canonical
          |FROM canon ORDER BY doc_id, url_raw""".stripMargin)),

    // the frontier dedup census: fetch volume saved by canonicalization
    // (a kept query param is a DIFFERENT resource and must NOT merge)
    Query("text_url_dedup", (s, dir) =>
      Curation.urlDedupCensus(Curation.urlFrontier(
        Tables.documents(s, dir))),
      Oracle(URL_FRONTIER_CTES + """
          |SELECT CAST(sum(n_raw) AS BIGINT) AS n_urls,
          |  CAST(count(*) AS BIGINT) AS n_canonical,
          |  CAST(sum(n_raw - 1) AS BIGINT) AS n_merged
          |FROM (SELECT url_canonical, count(*) AS n_raw
          |      FROM canon GROUP BY url_canonical)""".stripMargin)),

    // RFC 9309 robots parse: per-domain robots.txt (deterministic
    // fixture classes — bot-specific override, block-all + re-allow,
    // shared user-agent group) → the (domain, agent, rule, prefix)
    // rule table a crawl frontier broadcasts
    Query("text_robots_rules", (s, dir) =>
      Curation.robotsRules(Curation.robotsTable(Tables.documents(s, dir)))
        .orderBy("domain", "line_no", "agent"),
      Oracle("WITH " + ROBOTS_CTES + """
          |SELECT domain, agent, rule, prefix, line_no FROM rules
          |ORDER BY domain, line_no, agent""".stripMargin)),

    // ... and the gate itself: per doc the winning rule under
    // longest-prefix-wins with Allow breaking ties (exact agent group
    // beats the catch-all) — the politeness filter that completes
    // canonicalUrl → url_dedup → robots
    Query("text_robots_gate", (s, dir) =>
      Curation.robotsGate(Tables.documents(s, dir))
        .orderBy("doc_id"),
      Oracle("WITH " + ROBOTS_CTES + """
          |SELECT doc_id, domain, path, rule, prefix, allowed FROM gate
          |ORDER BY doc_id""".stripMargin)),

    // the fetch budget the gate leaves: per source, docs and tokens a
    // polite crawler may actually pull — the census the frontier's
    // owner reads before dispatching the fleet
    Query("text_robots_budget", (s, dir) =>
      Curation.robotsBudget(Tables.documents(s, dir))
        .orderBy("source"),
      Oracle("WITH " + ROBOTS_CTES + """
          |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
          |  CAST(sum(CASE WHEN g.allowed THEN 1 ELSE 0 END) AS BIGINT)
          |    AS n_allowed,
          |  CAST(sum(CASE WHEN g.allowed
          |      THEN coalesce(len(string_split(d.text, ' ')), 0)
          |      ELSE 0 END) AS BIGINT) AS n_tokens_allowed
          |FROM gate g JOIN documents d ON g.doc_id = d.doc_id
          |GROUP BY 1 ORDER BY d.source""".stripMargin)),

    // ... and the politeness TIME budget: Crawl-delay parsed per
    // user-agent group (participating in the RFC grouping even though
    // the path rules don't emit it), exact-agent else catch-all else
    // the 1 s default, times the allowed count — the number that
    // decides how many crawler slots a domain needs
    Query("text_robots_crawl_time", (s, dir) =>
      Curation.robotsCrawlTime(Tables.documents(s, dir))
        .orderBy("domain"),
      // the politeness budget: exact-agent delay else the catch-all's
      // else the 1 s default, times the allowed count — per domain
      Oracle("WITH " + ROBOTS_CTES + """
          |, alw AS (SELECT domain,
          |    CAST(sum(CASE WHEN allowed THEN 1 ELSE 0 END) AS BIGINT)
          |      AS n_allowed
          |  FROM gate GROUP BY 1)
          |SELECT a.domain, a.n_allowed,
          |  CAST(coalesce(da.delay_s, ds.delay_s, 1) AS BIGINT) AS delay_s,
          |  CAST(a.n_allowed * coalesce(da.delay_s, ds.delay_s, 1) AS BIGINT)
          |    AS est_serial_s
          |FROM alw a
          |LEFT JOIN (SELECT domain, delay_s FROM dly WHERE agent = 'graftbot') da
          |  ON a.domain = da.domain
          |LEFT JOIN (SELECT domain, delay_s FROM dly WHERE agent = '*') ds
          |  ON a.domain = ds.domain
          |ORDER BY a.domain""".stripMargin)),

    // sitemap walk (sitemaps.org): per-domain TWO-LEVEL sitemaps —
    // a sitemapindex over urlset chunks capped at the protocol file
    // bound (cap 7 here so the index level carries real multi-chunk
    // traffic at test scale; production keeps the 50k default) —
    // built by expression, then parsed back off the XML STRINGS:
    // index → chunk locs → equi-join fetch → per-URL loc/lastmod/
    // priority with the optional fields NULL when omitted
    Query("text_sitemap_entries", (s, dir) =>
      Curation.sitemapEntries(Tables.documents(s, dir), cap = 7)
        .orderBy("domain", "loc"),
      // the sitemap walk replayed whole: build (chunking, optional-field
      // omissions, index), then parse back off the XML strings
      Oracle("WITH " + ROBOTS_CTES + SITEMAP_CTES + """
          |SELECT domain, chunk_no, loc, lastmod, priority FROM sent
          |ORDER BY domain, loc""".stripMargin)),

    // ... and the frontier seed census the walk feeds: per domain,
    // what the sitemap advertises vs what the corpus already has vs
    // what a POLITE crawler may fetch of the new (robots precedence on
    // each listed URL) and the serial cost at the effective
    // Crawl-delay — discovery, dedup, politeness, and budget composed
    // into one domain-grain frame
    Query("text_sitemap_frontier", (s, dir) =>
      Curation.sitemapFrontier(Tables.documents(s, dir), cap = 7)
        .orderBy("domain"),
      // the frontier seed census: listed vs already-have vs new vs
      // politely-fetchable, priced at the effective Crawl-delay
      Oracle("WITH " + ROBOTS_CTES + SITEMAP_CTES + """
          |, scand AS (SELECT domain, loc,
          |    CASE WHEN length(p) = 0 THEN '/' ELSE p END AS path
          |  FROM (SELECT domain, loc,
          |      regexp_replace(loc, '^[A-Za-z]+://[^/?]*', '') AS p FROM sent)),
          |sbest AS (SELECT domain, loc, rule FROM (
          |    SELECT c.domain, c.loc, r.rule,
          |      row_number() OVER (PARTITION BY c.domain, c.loc
          |        ORDER BY length(r.prefix) DESC, r.rule, r.line_no) AS rk
          |    FROM scand c JOIN appl r ON c.domain = r.domain
          |    WHERE substr(c.path, 1, length(r.prefix)) = r.prefix)
          |  WHERE rk = 1),
          |scen AS (SELECT e.domain,
          |    CAST(count(*) AS BIGINT) AS n_listed,
          |    CAST(sum(CASE WHEN cu.url IS NOT NULL THEN 1 ELSE 0 END)
          |      AS BIGINT) AS n_in_corpus,
          |    CAST(sum(CASE WHEN cu.url IS NULL THEN 1 ELSE 0 END)
          |      AS BIGINT) AS n_new,
          |    CAST(sum(CASE WHEN cu.url IS NULL
          |        AND (b.rule IS NULL OR b.rule = 'allow') THEN 1 ELSE 0 END)
          |      AS BIGINT) AS n_fetchable
          |  FROM sent e
          |  LEFT JOIN (SELECT DISTINCT domain, url FROM cand) cu
          |    ON e.domain = cu.domain AND e.loc = cu.url
          |  LEFT JOIN sbest b ON e.domain = b.domain AND e.loc = b.loc
          |  GROUP BY 1)
          |SELECT f.domain, f.n_listed, f.n_in_corpus, f.n_new, f.n_fetchable,
          |  CAST(coalesce(da.delay_s, ds.delay_s, 1) AS BIGINT) AS delay_s,
          |  CAST(f.n_fetchable * coalesce(da.delay_s, ds.delay_s, 1) AS BIGINT)
          |    AS est_fetch_s
          |FROM scen f
          |LEFT JOIN (SELECT domain, delay_s FROM dly WHERE agent = 'graftbot') da
          |  ON f.domain = da.domain
          |LEFT JOIN (SELECT domain, delay_s FROM dly WHERE agent = '*') ds
          |  ON f.domain = ds.domain
          |ORDER BY f.domain""".stripMargin)),

    // the robots → sitemap discovery handshake: Sitemap directives
    // advertised per domain (group- and position-independent per the
    // protocol), resolved against the index actually serving the
    // domain, with the chunk fan-out behind the resolved index —
    // zero directives is the convention-fallback branch
    Query("text_robots_sitemaps", (s, dir) =>
      Curation.robotsSitemapCensus(Tables.documents(s, dir), cap = 7)
        .orderBy("domain"),
      // the discovery handshake: Sitemap directives parsed off the raw
      // comment-stripped lines (group-independent), resolved against the
      // conventional index URL, chunk fan-out counted from the index
      Oracle("WITH " + ROBOTS_CTES + SITEMAP_CTES + """
          |, sdir AS (SELECT domain, line_no,
          |    trim(substr(ln, strpos(ln, ':') + 1)) AS sitemap_url
          |  FROM lns WHERE lower(ln) LIKE 'sitemap:%'
          |    AND length(trim(substr(ln, strpos(ln, ':') + 1))) > 0),
          |scc AS (SELECT domain, CAST(count(*) AS BIGINT) AS n_chunks
          |  FROM sic GROUP BY 1),
          |sdc AS (SELECT domain, CAST(count(*) AS BIGINT) AS n_directives,
          |    CAST(sum(CASE WHEN sitemap_url =
          |        'https://' || domain || '/sitemap-index.xml'
          |      THEN 1 ELSE 0 END) AS BIGINT) AS n_resolved
          |  FROM sdir GROUP BY 1)
          |SELECT dom.domain,
          |  CAST(coalesce(sdc.n_directives, 0) AS BIGINT) AS n_directives,
          |  CAST(coalesce(sdc.n_resolved, 0) AS BIGINT) AS n_resolved,
          |  CAST(coalesce(scc.n_chunks, 0) AS BIGINT) AS n_chunks
          |FROM (SELECT DISTINCT domain FROM cand) dom
          |LEFT JOIN sdc ON dom.domain = sdc.domain
          |LEFT JOIN scc ON dom.domain = scc.domain
          |ORDER BY dom.domain""".stripMargin)),

    // code-vs-prose routing: symbol density, camelCase, keyword and
    // indent counts in exact integer ppm; the gate a mixed corpus runs
    // before language-ID or perplexity scoring
    Query("text_code_detect", (s, dir) =>
      TextAnalysis.codeDetect(Tables.documents(s, dir))
        .orderBy("doc_id"),
      Oracle("""SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
          |  CAST(len(regexp_extract_all(text, '[{}();=<>\[\]]')) AS BIGINT)
          |    AS n_symbols,
          |  CAST(len(regexp_extract_all(text, '\b[a-z][a-z0-9]*[A-Z]'))
          |    AS BIGINT) AS n_camel,
          |  CAST(len(regexp_extract_all(text,
          |    '\b(def|class|return|import|void|int|function|var|const|if|else|for|while)\b'))
          |    AS BIGINT) AS n_keywords,
          |  CAST(len(regexp_extract_all(text, '\n  +[^ ]')) AS BIGINT)
          |    AS n_indented,
          |  CAST(1000000 * len(regexp_extract_all(text, '[{}();=<>\[\]]'))
          |    // greatest(length(text), 1) AS BIGINT) AS symbol_ppm,
          |  (1000000 * len(regexp_extract_all(text, '[{}();=<>\[\]]'))
          |     // greatest(length(text), 1) >= 40000
          |   OR (len(regexp_extract_all(text,
          |        '\b(def|class|return|import|void|int|function|var|const|if|else|for|while)\b')) >= 3
          |       AND len(regexp_extract_all(text, '[{}();=<>\[\]]')) >= 5)
          |   OR len(regexp_extract_all(text, '\n  +[^ ]')) >= 3) AS is_code
          |FROM documents ORDER BY doc_id""".stripMargin)),

    // CCNet-style perplexity buckets: head/middle/tail rank terciles of
    // mean bigram log-prob under the corpus-trained LM (exact micro-nat
    // floor means, doc_id tie-break) — the split a web corpus takes
    // before mixture weighting
    Query("text_ppl_buckets", (s, dir) =>
      TextAnalysis.pplBuckets(Tables.documents(s, dir))
        .orderBy("bucket"),
      // the same LM replay, then the exact floor mean (pmod subtracted so
      // the quotient divides exactly — any division semantics agree), the
      // (mq desc, doc_id) rank, and the rank-tercile buckets
      Oracle("WITH " + BIGRAM_LP_CTES + """,
          |scored AS (SELECT doc_id, n_bigram, sum_qlp,
          |    (sum_qlp - ((sum_qlp % n_bigram) + n_bigram) % n_bigram)
          |      // n_bigram AS mq
          |  FROM agg WHERE n_bigram > 0),
          |rk AS (SELECT doc_id, n_bigram, mq,
          |    row_number() OVER (ORDER BY mq DESC, doc_id) AS rn,
          |    count(*) OVER () AS n
          |  FROM scored),
          |bk AS (SELECT CASE WHEN rn * 3 <= n THEN 'head'
          |    WHEN rn * 3 <= n * 2 THEN 'middle' ELSE 'tail' END AS bucket,
          |    n_bigram, mq FROM rk)
          |SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
          |  CAST(sum(n_bigram) AS BIGINT) AS n_bigrams,
          |  CAST(min(mq) AS BIGINT) AS min_mq,
          |  CAST(max(mq) AS BIGINT) AS max_mq
          |FROM bk GROUP BY 1 ORDER BY bucket""".stripMargin)),

    // the 100 TB face of the same split: tercile CUT POINTS from a
    // deterministic bottom-k row sample (TakeOrdered — no global rank
    // window, no single-task corpus sort), then one broadcast compare
    // at scan speed; the portable md5 row hash makes the sample — and
    // so the whole face — oracle-replayable, not merely rows-only
    Query("text_ppl_buckets_sketch", (s, dir) =>
      TextAnalysis.pplBucketsSketch(Tables.documents(s, dir))
        .orderBy("bucket"),
      // the sketch face replayed whole: the 60-bit md5 row hash, the
      // bottom-k sample, the tercile-rank cut values, and the per-row
      // VALUE comparison (boundary-tied docs land together in the upper
      // bucket — the documented tie rule the exact face's rank split
      // does not share)
      Oracle("WITH " + BIGRAM_LP_CTES + """,
          |scored AS (SELECT doc_id, n_bigram, sum_qlp,
          |    (sum_qlp - ((sum_qlp % n_bigram) + n_bigram) % n_bigram)
          |      // n_bigram AS mq
          |  FROM agg WHERE n_bigram > 0),
          |hs AS (SELECT mq,
          |    ('0x' || substr(md5('pplq:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
          |  FROM scored),
          |samp AS (SELECT h, mq, row_number() OVER (ORDER BY h) AS srn FROM hs),
          |sk AS (SELECT h, mq FROM samp WHERE srn <= 512),
          |skr AS (SELECT mq, row_number() OVER (ORDER BY mq DESC, h) AS rn,
          |    count(*) OVER () AS n_s FROM sk),
          |cuts AS (SELECT
          |    max(CASE WHEN rn = greatest(1, n_s // 3) THEN mq END) AS cut_head,
          |    max(CASE WHEN rn = greatest(1, (n_s * 2) // 3) THEN mq END) AS cut_mid
          |  FROM skr),
          |bk AS (SELECT CASE WHEN mq >= cut_head THEN 'head'
          |    WHEN mq >= cut_mid THEN 'middle' ELSE 'tail' END AS bucket,
          |    n_bigram, mq FROM scored CROSS JOIN cuts)
          |SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
          |  CAST(sum(n_bigram) AS BIGINT) AS n_bigrams,
          |  CAST(min(mq) AS BIGINT) AS min_mq,
          |  CAST(max(mq) AS BIGINT) AS max_mq
          |FROM bk GROUP BY 1 ORDER BY bucket""".stripMargin)),

    // the split CCNet actually ships: per-LANGUAGE terciles (a global
    // cut would let a verbose language crowd out a terse one) — the
    // same sketch discipline keyed by lang, per-lang bottom-k samples
    // and one broadcast langs×1 cut frame
    Query("text_ppl_buckets_by_lang", (s, dir) =>
      TextAnalysis.pplBucketsSketchByLang(Tables.documents(s, dir))
        .orderBy("lang", "bucket"),
      // the per-language replay: identical machinery with every stage
      // keyed by lang (PARTITION BY lang in the sample/rank windows,
      // per-lang cut rows)
      Oracle("WITH " + BIGRAM_LP_CTES + """,
          |scored AS (SELECT a.doc_id, d.lang, a.n_bigram, a.sum_qlp,
          |    (a.sum_qlp - ((a.sum_qlp % a.n_bigram) + a.n_bigram) % a.n_bigram)
          |      // a.n_bigram AS mq
          |  FROM agg a JOIN documents d ON a.doc_id = d.doc_id
          |  WHERE a.n_bigram > 0),
          |hs AS (SELECT lang, mq,
          |    ('0x' || substr(md5('pplq:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
          |  FROM scored),
          |samp AS (SELECT lang, h, mq,
          |    row_number() OVER (PARTITION BY lang ORDER BY h) AS srn FROM hs),
          |sk AS (SELECT lang, h, mq FROM samp WHERE srn <= 512),
          |skr AS (SELECT lang, mq,
          |    row_number() OVER (PARTITION BY lang ORDER BY mq DESC, h) AS rn,
          |    count(*) OVER (PARTITION BY lang) AS n_s FROM sk),
          |cuts AS (SELECT lang,
          |    max(CASE WHEN rn = greatest(1, n_s // 3) THEN mq END) AS cut_head,
          |    max(CASE WHEN rn = greatest(1, (n_s * 2) // 3) THEN mq END) AS cut_mid
          |  FROM skr GROUP BY 1),
          |bk AS (SELECT s.lang,
          |    CASE WHEN s.mq >= c.cut_head THEN 'head'
          |      WHEN s.mq >= c.cut_mid THEN 'middle' ELSE 'tail' END AS bucket,
          |    s.n_bigram, s.mq
          |  FROM scored s JOIN cuts c ON s.lang = c.lang)
          |SELECT lang, bucket, CAST(count(*) AS BIGINT) AS n_docs,
          |  CAST(sum(n_bigram) AS BIGINT) AS n_bigrams,
          |  CAST(min(mq) AS BIGINT) AS min_mq,
          |  CAST(max(mq) AS BIGINT) AS max_mq
          |FROM bk GROUP BY 1, 2 ORDER BY lang, bucket""".stripMargin)),

    // gate-redundancy diagnostic: Cohen's kappa between the Gopher
    // minimum-length gate and the exact-integer repetition cap — how
    // much the second filter agrees with the first beyond chance;
    // every term an exact integer, ONE double division
    Query("text_gate_kappa", (s, dir) =>
      Curation.gateKappa(Tables.documents(s, dir)),
      // the same exact-integer gates replayed: Gopher length (>= 40
      // tokens) and the cross-multiplied repetition cap (bigram-less docs
      // pass vacuously), then the kappa identity over the 2x2 marginals
      Oracle("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
          |tok AS (SELECT doc_id, len(ws) AS n_tokens FROM w),
          |bi AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] AS b
          |       FROM (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i FROM w)),
          |bc AS (SELECT doc_id, b, count(*) AS c FROM bi GROUP BY 1, 2),
          |tb AS (SELECT doc_id, max(c) AS top_bc,
          |       CAST(sum(c) AS BIGINT) AS n_bigrams FROM bc GROUP BY 1),
          |g AS (SELECT t.doc_id,
          |    CASE WHEN t.n_tokens >= 40 THEN 1 ELSE 0 END AS a,
          |    CASE WHEN tb.doc_id IS NULL OR tb.top_bc * 10 <= tb.n_bigrams
          |         THEN 1 ELSE 0 END AS b
          |  FROM tok t LEFT JOIN tb ON tb.doc_id = t.doc_id),
          |s AS (SELECT CAST(count(*) AS BIGINT) AS n,
          |    CAST(sum(a) AS BIGINT) AS ap, CAST(sum(b) AS BIGINT) AS bp,
          |    CAST(sum(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT) AS agree
          |  FROM g)
          |SELECT n AS n_docs, ap AS a_pos, bp AS b_pos, agree AS n_agree,
          |  CASE WHEN n * n - ap * bp - (n - ap) * (n - bp) <> 0
          |    THEN CAST(n * agree - ap * bp - (n - ap) * (n - bp) AS DOUBLE)
          |       / CAST(n * n - ap * bp - (n - ap) * (n - bp) AS DOUBLE)
          |  END AS kappa
          |FROM s""".stripMargin)),

    // the composed Common-Crawl read path: page → response record →
    // WARC; the engine walks the record geometry, slices the response
    // payload back out of the raw bytes, and runs the extraction census
    // on what the container actually carried
    Query("q_multimodal_warc_html", (s, dir) =>
      Multimodal.warcHtmlTextCensus(Tables.documents(s, dir))
        .orderBy("doc_id"),
      // the composed Common-Crawl read path shares the SAME analytic oracle:
      // the WARC walk slices the response payload back bit-identically, so
      // the expected census is the page construction's, unchanged
      Oracle(HTML_EXTRACT_SQL)),

    // C4-style LINE-level dedup: fixed 8-word windows, boilerplate =
    // a line in >= 2 distinct docs; per-doc census + exact ppm + md5 of
    // the doc reassembled without its boilerplate lines
    Query("text_line_dedup", (s, dir) =>
      Dedup.lineDedup(Tables.documents(s, dir)).orderBy("doc_id"),
      // the same fixed-window line derivation, the same distinct-doc
      // boilerplate rule, and the same in-order reassembly (string_agg
      // ORDER BY i FILTER = the sorted-collect transform)
      Oracle("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
          |  FROM documents WHERE text IS NOT NULL),
          |l0 AS (SELECT doc_id, toks,
          |    unnest(range(CAST(ceil(len(toks) / 8.0) AS BIGINT))) AS i FROM t),
          |ln AS (SELECT doc_id, CAST(i AS BIGINT) AS i,
          |    array_to_string(toks[(i*8+1):(i*8+8)], ' ') AS line FROM l0),
          |c AS (SELECT line, count(DISTINCT doc_id) AS nd FROM ln GROUP BY 1),
          |j AS (SELECT ln.doc_id, ln.i, ln.line, c.nd
          |      FROM ln JOIN c USING (line))
          |SELECT doc_id, count(*) AS n_lines,
          |  CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
          |    AS n_dup_lines,
          |  md5(coalesce(string_agg(line, ' ' ORDER BY i)
          |        FILTER (WHERE nd < 2), '')) AS kept_md5,
          |  1000000 * CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
          |    // count(*) AS dup_line_ppm
          |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // exact substring dedup by prefix-doubling suffix ranks (Lee et al.
    // 2021): every position whose 32-token window recurs — anywhere /
    // cross-doc — flagged via log2(32) doubling rounds of rank classing
    // (no window string ever materialized); the oracle unrolls the same
    // five rounds
    // census and removal SHARE the stored rank artifact (the doubling
    // rounds run once per corpus, the pair-list seam)
    Query("dedup_substring", (s, dir) =>
      Dedup.substringDedupFromRanks(Tables.documents(s, dir),
        substrRanks(s, dir)).orderBy("doc_id"),
      // the prefix-doubling rounds replayed verbatim: rank0 classes
      // single tokens (class id = min packed doc_id*2^20+p key), each
      // round refines by the (rank(p), rank(p+s)) pair for s = 1,2,4,8,16,
      // then the per-class occurrence/distinct-doc stats and the per-doc
      // census — the same relations as the engine, never a window string
      Oracle(SUBSTR_DEDUP_SQL)),

    // the removal face: every token covered by a repeated 32-window is
    // CUT (the ExactSubstr rule — all occurrences) and the doc
    // reassembled; per-doc counts + kept-md5 + exact ppm
    Query("dedup_substring_remove", (s, dir) =>
      Dedup.substringDedupRemoveFromRanks(Tables.documents(s, dir),
        substrRanks(s, dir)).orderBy("doc_id"),
      // the removal tail over the same doubling CTEs: running-max
      // coverage, FILTERed in-order reassembly
      Oracle(SUBSTR_REMOVE_SQL)),

    // IMAGE near-dup: 64-bit integer average hash over the BMP pixel
    // walk (codegen'd, 16 hex chars), planted one-byte-perturbed twins,
    // hamming-banded pair join through the simhash pigeonhole — the
    // multimodal member of the dedup family; the oracle rebuilds both
    // pixel streams and replays hash, banding, and exact hamming
    Query("dedup_image_ahash", (s, dir) =>
      Dedup.imageAHashPairs(Multimodal.imageAHash(
        Multimodal.imageNearDupFrame(Tables.documents(s, dir))))
        .orderBy("id1", "id2"),
      // the average hash replayed from the construction: pixel stream =
      // the text bytes (ord on the verified-ASCII corpus), cells by the
      // floor mapping 64*i // n, bit = the cross-multiplied mean test,
      // nibbles MSB-first into hex; candidates by shared 4-hex-char
      // chunk, hamming re-derived exactly as sum |b1 - b2| over the 64
      // cell bits (= the engine's per-chunk bit_count(xor) sum)
      Oracle("WITH " + IMAGE_AHASH_CTES + """
          |SELECT id1, id2, hamming FROM ham WHERE hamming <= 3
          |ORDER BY id1, id2""".stripMargin)),

    // the gradient twin: 65-cell difference hash (adjacent-cell
    // comparisons — the axis that survives brightness ramps aHash
    // cannot), same planted twins, same pigeonhole bands
    Query("dedup_image_dhash", (s, dir) =>
      Dedup.imageHashPairs(Multimodal.imageDHash(
        Multimodal.imageNearDupFrame(Tables.documents(s, dir))), "dhash")
        .orderBy("id1", "id2"),
      // the dHash replay: 65 cells under the same floor mapping, bit c =
      // the cross-multiplied adjacent comparison mean(c) > mean(c+1)
      // (missing cells read 0), then the same banding + exact hamming
      Oracle("WITH " + imageHashCtes(65,
        """grid AS (SELECT d.doc_id, g.c AS cell
          |  FROM dims d, unnest(range(64)) AS g(c)),
          |bits AS (SELECT grid.doc_id, grid.cell,
          |    CASE WHEN coalesce(a.cs, 0) * coalesce(b.cnt, 0)
          |              > coalesce(b.cs, 0) * coalesce(a.cnt, 0)
          |         THEN 1 ELSE 0 END AS b
          |  FROM grid
          |  LEFT JOIN cl a ON a.doc_id = grid.doc_id AND a.cell = grid.cell
          |  LEFT JOIN cl b ON b.doc_id = grid.doc_id AND b.cell = grid.cell + 1)""".stripMargin, "dhash") + """
          |SELECT id1, id2, hamming FROM ham WHERE hamming <= 3
          |ORDER BY id1, id2""".stripMargin)),

    // the AUDIO member of the perceptual-hash family: 65 time bands of
    // mean |amplitude| over the WAV PCM stream, adjacent-band gradient
    // bits (uniform-gain invariant), planted one-byte twins recovered
    // through the SAME pigeonhole bands — dedup closed across text,
    // image, and audio
    Query("dedup_audio_dhash", (s, dir) =>
      Dedup.imageHashPairs(Multimodal.audioDHash(
        Multimodal.audioNearDupFrame(Tables.documents(s, dir))), "dhash")
        .orderBy("id1", "id2"),
      // the audio dHash replay: int16 LE samples from the WAV body (char
      // pairs — signed high byte), 65 floor-mapped time bands of |s|,
      // adjacent cross-multiplied gradient bits, 16-bit-chunk pigeonhole
      // candidates, exact hamming — the whole chain from the construction
      Oracle("WITH " + AUDIO_DHASH_CTES + """
          |SELECT id1, id2, hamming FROM a_ham WHERE hamming <= 3
          |ORDER BY id1, id2""".stripMargin)),

    // ONE terminal resolution across modalities: the image-aHash and
    // audio-dHash pair lists union into the SAME pointer-doubling
    // closure the text family uses — perceptual dup clusters for the
    // whole media corpus from one shared components engine. Rides the
    // Artifacts seam (the jaccardComponents shape): at 100 TB the
    // closure is a nightly job and every consumer reads its parquet
    Query("dedup_media_components", (s, dir) =>
      Artifacts.cached(s, "comps", "media", dir) {
        val docs = Tables.documents(s, dir)
        val img = Dedup.imageAHashPairs(Multimodal.imageAHash(
          Multimodal.imageNearDupFrame(docs)))
        val aud = Dedup.imageHashPairs(Multimodal.audioDHash(
          Multimodal.audioNearDupFrame(docs)), "dhash")
        Graph.connectedComponents(
          img.select("id1", "id2").unionByName(aud.select("id1", "id2")))
      }.orderBy("id"),
      // both pair chains replayed side by side (the audio chain is
      // a_-prefixed so the CTE namespaces compose), then the same
      // min-label recursive closure as the text components oracle
      Oracle("WITH RECURSIVE " + IMAGE_AHASH_CTES +
        ",\n" + AUDIO_DHASH_CTES + """,
          |pe AS (SELECT id1, id2 FROM ham WHERE hamming <= 3
          |  UNION SELECT id1, id2 FROM a_ham WHERE hamming <= 3),
          |me AS (SELECT id1 AS u, id2 AS v FROM pe UNION SELECT id2, id1 FROM pe),
          |mreach(id, lab) AS (
          |  SELECT u, u FROM me
          |  UNION
          |  SELECT me.u, r.lab FROM mreach r JOIN me ON me.v = r.id),
          |mcomp AS (SELECT id, min(lab) AS comp FROM mreach GROUP BY id)
          |SELECT id, comp FROM mcomp ORDER BY id""".stripMargin)),

    // C4-style URL hygiene: per-registered-domain census over doc URLs
    // (derived deterministically — the fixture has no URL column; the
    // extraction then reads the URL STRING, never the construction)
    Query("text_domain_census", (s, dir) =>
      Curation.domainCensus(Tables.documents(s, dir)).orderBy("domain"),
      // the URL is REBUILT by the same deterministic construction, then the
      // census extracts host/domain/tld from the string exactly as the
      // engine does (split on ://, first path segment, strip www., last
      // dot label)
      Oracle("WITH " + DOC_URL_CTES + """
          |SELECT domain, string_split(domain, '.')[-1] AS tld,
          |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS n_chars
          |FROM d GROUP BY 1, 2 ORDER BY domain""".stripMargin)),

    // the blocklist gate's census twin: per source, total/blocked/kept
    // counts under the default broadcast blocklist
    Query("text_domain_gated", (s, dir) =>
      Curation.domainGatedStats(Tables.documents(s, dir)).orderBy("source"),
      Oracle("WITH " + DOC_URL_CTES + """,
          |bl AS (SELECT unnest(['src0-7.net', 'src1-13.io', 'src2-21.org',
          |                      'src3-34.edu']) AS domain),
          |m AS (SELECT d.source, CASE WHEN bl.domain IS NULL THEN 0 ELSE 1 END AS blocked
          |      FROM d LEFT JOIN bl ON bl.domain = d.domain)
          |SELECT source, count(*) AS n_docs,
          |  CAST(sum(blocked) AS BIGINT) AS n_blocked,
          |  CAST(count(*) - sum(blocked) AS BIGINT) AS n_kept
          |FROM m GROUP BY 1 ORDER BY source""".stripMargin)),

    // PSL-aware URL hygiene: registered domains under multi-label
    // public suffixes (cdn.foo.co.uk -> foo.co.uk) via a plan-time
    // literal suffix CASE chain — the extraction that survives real
    // URLs where the last-dot-label rule calls the TLD "uk"
    Query("text_domain_psl", (s, dir) =>
      Curation.domainCensusPsl(Tables.documents(s, dir))
        .orderBy("domain", "suffix"),
      // PSL URL rebuilt (www/cdn cycles, multi-label suffix cycle), host
      // from the string, registered domain by the longest-suffix CASE
      // chain with the two-label fallback — the same per-row rules
      Oracle("""WITH u AS (SELECT doc_id, source, n_chars,
          |    'https://' || CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END
          |    || CASE WHEN doc_id % 7 = 0 THEN 'cdn.' ELSE '' END ||
          |    source || '-' || CAST(doc_id % 100 AS VARCHAR) || '.' ||
          |    (['com', 'co.uk', 'org', 'com.au', 'io'])[CAST(doc_id % 5 AS INT) + 1]
          |    || '/doc/' || CAST(doc_id AS VARCHAR) AS url
          |  FROM documents),
          |h AS (SELECT n_chars,
          |    string_split(string_split(url, '://')[2], '/')[1] AS host FROM u),
          |d AS (SELECT n_chars,
          |    CASE
          |      WHEN host LIKE '%.gov.uk' THEN
          |        string_split(substr(host, 1, length(host) - 7), '.')[-1] || '.gov.uk'
          |      WHEN host LIKE '%.com.au' THEN
          |        string_split(substr(host, 1, length(host) - 7), '.')[-1] || '.com.au'
          |      WHEN host LIKE '%.co.uk' THEN
          |        string_split(substr(host, 1, length(host) - 6), '.')[-1] || '.co.uk'
          |      WHEN host LIKE '%.ac.uk' THEN
          |        string_split(substr(host, 1, length(host) - 6), '.')[-1] || '.ac.uk'
          |      WHEN host LIKE '%.co.jp' THEN
          |        string_split(substr(host, 1, length(host) - 6), '.')[-1] || '.co.jp'
          |      WHEN len(string_split(host, '.')) >= 2 THEN
          |        string_split(host, '.')[-2] || '.' || string_split(host, '.')[-1]
          |      ELSE host END AS domain,
          |    CASE
          |      WHEN host LIKE '%.gov.uk' THEN 'gov.uk'
          |      WHEN host LIKE '%.com.au' THEN 'com.au'
          |      WHEN host LIKE '%.co.uk' THEN 'co.uk'
          |      WHEN host LIKE '%.ac.uk' THEN 'ac.uk'
          |      WHEN host LIKE '%.co.jp' THEN 'co.jp'
          |      ELSE string_split(host, '.')[-1] END AS suffix
          |  FROM h)
          |SELECT domain, suffix, count(*) AS n_docs,
          |  CAST(sum(n_chars) AS BIGINT) AS n_chars
          |FROM d GROUP BY 1, 2 ORDER BY domain, suffix""".stripMargin)),

    // the C4 "badwords" token gate's census: exact whitespace-token
    // match against a plan-time literal list — a pure per-row filter,
    // no join; per source, total/blocked/kept counts
    Query("text_token_gated", (s, dir) =>
      Curation.tokenGatedStats(Tables.documents(s, dir)).orderBy("source"),
      Oracle("""WITH m AS (SELECT source,
          |    CASE WHEN text IS NULL THEN 1
          |         WHEN list_has_any(string_split(text, ' '),
          |                           ['dup', 'spamword', 'badtoken']) THEN 1
          |         ELSE 0 END AS blocked
          |  FROM documents)
          |SELECT source, count(*) AS n_docs,
          |  CAST(sum(blocked) AS BIGINT) AS n_blocked,
          |  CAST(count(*) - sum(blocked) AS BIGINT) AS n_kept
          |FROM m GROUP BY 1 ORDER BY source""".stripMargin)),

    // the capstone budget: docs and tokens surviving the full chain,
    // priced by SOURCE — what the training run actually reads
    Query("text_token_budget", (s, dir) =>
      Curation.tokenBudget(Tables.documents(s, dir)).orderBy("source"),
      // the post-curation budget by SOURCE: the same kept set, priced in
      // whitespace tokens — what the training run actually reads
      Oracle(TRAIN_READY_CTES +
        """,
          |dtok AS (SELECT doc_id, source,
          |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
          |  FROM documents)
          |SELECT d.source, count(*) AS n_docs_kept,
          |  CAST(sum(d.n_tokens) AS BIGINT) AS n_tokens_kept
          |FROM kept k JOIN dtok d ON d.doc_id = k.doc_id
          |GROUP BY 1 ORDER BY d.source""".stripMargin)),

    // the mixture PLAN over that budget: α=½ temperature allocation of a
    // 1B-token budget across sources (sqrt is the one engine-portable
    // temperature; weights quantize to integer micro-units)
    Query("q_mix_temperature", (s, dir) =>
      Sampling.temperatureMix(Tables.documents(s, dir), 1000000000L)
        .orderBy("source"),
      Oracle("""WITH s AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
          |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
          |  FROM documents GROUP BY source),
          |w AS (SELECT *, CAST(floor(1000000.0 * sqrt(CAST(n_tokens AS DOUBLE)))
          |    AS BIGINT) AS weight FROM s),
          |t AS (SELECT CAST(sum(weight) AS BIGINT) AS tw FROM w)
          |SELECT source, n_docs, n_tokens, weight,
          |  CAST(weight AS DOUBLE) / CAST(tw AS DOUBLE) AS share,
          |  CAST(weight AS DOUBLE) * 1000000000.0 / CAST(tw AS DOUBLE)
          |    AS alloc_tokens,
          |  CAST(weight AS DOUBLE) * 1000000000.0 / CAST(tw AS DOUBLE)
          |    / CAST(n_tokens AS DOUBLE) AS epochs
          |FROM w, t ORDER BY source""".stripMargin)),
  )
}
