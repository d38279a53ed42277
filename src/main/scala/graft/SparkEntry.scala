package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops._
import graft.queries._

/** Driver contract: `entry` (the flagship smoke query), `queries` (every
  * implemented operator of SURVEY.md §2, by name) and `oracleSql` (the
  * DuckDB SQL each oracle-checked query must hash-match). Both maps are
  * derived from one registry: each query is declared once, as a
  * [[graft.queries.Query]] in its family object under `graft/queries/`,
  * with either its `Oracle(sql)` or its `RowsOnly(reason)`. This object
  * keeps only the helpers more than one family shares. Column names and
  * arithmetic are kept IDENTICAL between the Spark plan and the SQL so the
  * driver's sorted-column hash compare is exact (bit-deterministic double
  * ops: min/max + fixed fractions, no interpolated percentiles, no
  * unordered double sums). */
object SparkEntry {

  /** Water-level range scaled to the events data (value ∈ [0, ~330]);
    * reference defaults (-10, 50) would flag most rows anomalous. */
  private val WlMax = 300.0

  /** Deterministic stand-in for the reference's fallback-to-now()
    * (HRFCOStorageService.java:240-243) — injectable per SURVEY §7. */
  private[graft] def fixedFallback = to_timestamp(lit("1970-01-01 00:00:00"))

  /** Full hot path at data-scaled range. */
  private[graft] def enriched(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.fanOut(Tables.events(s, dir), col("event_id"))
    Hrfco.pipeline(ev, Thresholds.fromEvents(ev), fixedFallback, wlMax = WlMax)
  }

  /** Flagship: current alert state of every station — scan → parse/validate
    * → broadcast threshold join → classify → latest-per-station (window) →
    * counts per alert level. Driver smoke-checks rows > 0 on sf0.001. */
  def entry(spark: SparkSession): DataFrame =
    Monitoring.latestPerStation(enriched(spark, "/root/testdata/sf0.001"))
      .groupBy("alert_level")
      .agg(count(lit(1)).as("n_stations"))

  /** Every declared query, family by family. Lazy: the family objects
    * read this object's shared constants while they initialize. */
  lazy val registry: Seq[Query] =
    HrfcoQueries.all ++ RelationalQueries.all ++ SamplingQueries.all ++ DedupQueries.all ++
      SimilarityQueries.all ++ TextQueries.all ++ BpeQueries.all ++ MultimodalQueries.all

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.build).toMap

  lazy val oracleSql: Map[String, String] =
    registry.collect { case Query(name, _, Oracle(sql)) => name -> sql }.toMap

  // ---- DuckDB oracle SQL more than one family shares ---------------------

  /** Shared CTE chain mirroring the Spark pipeline expression-for-expression.
    * `events` is the driver-registered view over the same parquet. */
  private[graft] val C =
    """WITH raw AS (
      |  SELECT event_id,
      |    CASE WHEN event_id % 103 = 0 THEN '' ELSE event_type END AS wlobscd,
      |    strftime(ts, '%Y%m%d%H%M') AS ymdhm,
      |    CASE WHEN event_id % 97 = 0 THEN ' '
      |         WHEN event_id % 89 = 0 THEN 'abc'
      |         WHEN event_id % 83 = 0 THEN ''
      |         ELSE CAST(value AS VARCHAR) END AS wl,
      |    CASE WHEN event_id % 101 = 0 THEN 'x9.9'
      |         ELSE json_extract_string(props, '$.k') END AS fw,
      |    CASE WHEN event_id % 107 = 0 THEN '{bad json' ELSE props END AS raw_payload,
      |    ts
      |  FROM events),
      |dim AS (
      |  SELECT event_type AS wlobscd,
      |    CASE WHEN event_type IN ('click','purchase') THEN mn + 0.50*(mx-mn) END AS attwl,
      |    CASE WHEN event_type IN ('click','purchase') THEN mn + 0.70*(mx-mn) END AS wrnwl,
      |    CASE WHEN event_type IN ('click','purchase') THEN mn + 0.85*(mx-mn) END AS almwl,
      |    CASE WHEN event_type IN ('click','purchase','view') THEN mn + 0.95*(mx-mn) END AS srswl,
      |    'station ' || event_type AS obsnm,
      |    'addr ' || event_type AS addr
      |  FROM (SELECT event_type, min(value) AS mn, max(value) AS mx FROM events GROUP BY 1)
      |  WHERE event_type <> 'error'),
      |parsed AS (
      |  SELECT *,
      |    CASE WHEN trim(wl) = '' THEN NULL ELSE TRY_CAST(wl AS DOUBLE) END AS water_level,
      |    CASE WHEN trim(fw) = '' THEN NULL ELSE TRY_CAST(fw AS DOUBLE) END AS flow_rate,
      |    CASE WHEN length(ymdhm) = 12
      |         THEN substring(ymdhm, 1, 4) || '-' || substring(ymdhm, 5, 2) || '-' ||
      |              substring(ymdhm, 7, 2) || ' ' || substring(ymdhm, 9, 2) || ':' ||
      |              substring(ymdhm, 11, 2)
      |         ELSE ymdhm END AS obs_time_fmt,
      |    strptime(ymdhm, '%Y%m%d%H%M') - INTERVAL 9 HOUR AS obs_ts_utc
      |  FROM raw),
      |valid AS (
      |  SELECT * FROM parsed
      |  WHERE (CASE WHEN json_valid(raw_payload)
      |         THEN json_extract_string(raw_payload, '$.k') END) IS NOT NULL
      |    AND wlobscd IS NOT NULL AND trim(wlobscd) <> ''
      |    AND ymdhm IS NOT NULL AND trim(ymdhm) <> ''
      |    AND ((wl IS NOT NULL AND trim(wl) <> '') OR (fw IS NOT NULL AND trim(fw) <> ''))),
      |enriched AS (
      |  SELECT v.*, d.attwl, d.wrnwl, d.almwl, d.srswl,
      |    (d.wlobscd IS NOT NULL) AS dim_present,
      |    ((v.water_level IS NULL OR (v.water_level >= -10.0 AND v.water_level <= 300.0))
      |     AND (v.flow_rate IS NULL OR (v.flow_rate >= 0.0 AND v.flow_rate <= 50000.0))) AS range_valid,
      |    CASE WHEN d.wlobscd IS NULL THEN 0 ELSE
      |      (CASE WHEN d.attwl IS NOT NULL AND d.attwl > 0 THEN 1 ELSE 0 END
      |     + CASE WHEN d.wrnwl IS NOT NULL AND d.wrnwl > 0 THEN 1 ELSE 0 END
      |     + CASE WHEN d.almwl IS NOT NULL AND d.almwl > 0 THEN 1 ELSE 0 END
      |     + CASE WHEN d.srswl IS NOT NULL AND d.srswl > 0 THEN 1 ELSE 0 END) END AS valid_threshold_count
      |  FROM valid v LEFT JOIN dim d ON v.wlobscd = d.wlobscd),
      |classified AS (
      |  SELECT *, (NOT range_valid) AS is_anomaly,
      |    CASE WHEN NOT range_valid THEN 'Data out of physical range' END AS anomaly_reason,
      |    CASE WHEN NOT range_valid THEN NULL
      |         WHEN NOT dim_present THEN 'NO_THRESHOLD'
      |         WHEN water_level IS NOT NULL AND valid_threshold_count = 0 THEN 'NO_THRESHOLD'
      |         WHEN water_level IS NOT NULL AND valid_threshold_count = 1 THEN 'PARTIAL_THRESHOLD'
      |         ELSE COALESCE(
      |           CASE WHEN water_level IS NULL THEN NULL
      |                WHEN attwl IS NULL AND wrnwl IS NULL AND almwl IS NULL AND srswl IS NULL THEN NULL
      |                WHEN srswl IS NOT NULL AND water_level >= srswl THEN 'CRITICAL'
      |                WHEN almwl IS NOT NULL AND water_level >= almwl THEN 'WARNING'
      |                WHEN wrnwl IS NOT NULL AND water_level >= wrnwl THEN 'CAUTION'
      |                WHEN attwl IS NOT NULL AND water_level >= attwl THEN 'ATTENTION'
      |                ELSE 'NORMAL' END, 'NORMAL') END AS flood_warning_level
      |  FROM enriched),
      |alerts AS (
      |  SELECT *,
      |    CASE WHEN is_anomaly THEN 'ANOMALY'
      |         WHEN flood_warning_level IS NULL THEN 'NORMAL'
      |         WHEN flood_warning_level IN ('NO_THRESHOLD','PARTIAL_THRESHOLD') THEN 'NORMAL'
      |         ELSE flood_warning_level END AS alert_level
      |  FROM classified),
      |msgs AS (
      |  SELECT *,
      |    CASE WHEN is_anomaly AND water_level IS NULL
      |           THEN printf('관측소 %s에서 이상치 감지 (수위 미계측)', wlobscd)
      |         WHEN is_anomaly THEN printf('관측소 %s에서 이상치 감지 (수위: %.2f m)', wlobscd, water_level)
      |         WHEN water_level IS NULL THEN printf('관측소 %s에서 %s 수위 경보 (수위 미계측)', wlobscd, alert_level)
      |         ELSE printf('관측소 %s에서 %s 수위 경보 (수위: %.2f m)', wlobscd, alert_level, water_level)
      |    END AS message
      |  FROM alerts)
      |""".stripMargin

  /** Analytic oracle of the HTML extraction census — shared verbatim
    * by text_html_extract (pages built directly) and
    * q_multimodal_warc_html (pages sliced back out of the WARC by the
    * record walk): the container round-trip is lossless, so the
    * expected frame is the construction's either way. */
  private[graft] val HTML_EXTRACT_SQL: String =
    """WITH w AS (SELECT doc_id, text, 10 + doc_id % 7 AS w FROM documents
        |  WHERE text IS NOT NULL),
        |e AS (SELECT doc_id, text, w,
        |    replace(replace(replace(substr(text, 1, CAST(w AS INT)),
        |      '&', '&amp;'), '<', '&lt;'), '>', '&gt;') AS anch,
        |    replace(replace(replace(substr(text, CAST(w AS INT) + 1),
        |      '&', '&amp;'), '<', '&lt;'), '>', '&gt;') AS rest
        |  FROM w),
        |h AS (SELECT doc_id, text, w,
        |    '<!DOCTYPE html><html><head><title>Doc ' || CAST(doc_id AS VARCHAR)
        |    || '</title>'
        |    || CASE WHEN doc_id % 3 = 0 THEN '<style>p{margin:0}</style>' ELSE '' END
        |    || '</head><body>'
        |    || CASE WHEN doc_id % 4 = 0
        |         THEN '<script>var x=' || CAST(doc_id AS VARCHAR) || ';</script>'
        |         ELSE '' END
        |    || CASE WHEN doc_id % 5 = 0
        |         THEN '<!--c' || CAST(doc_id AS VARCHAR) || '-->' ELSE '' END
        |    || '<p><a href="/d/' || CAST(doc_id AS VARCHAR) || '">' || anch
        |    || '</a>' || rest
        |    || '</p><p>&amp;&lt;&gt;&quot;&apos;</p></body></html>' AS html
        |  FROM e),
        |x AS (SELECT doc_id,
        |    'Doc ' || CAST(doc_id AS VARCHAR) || text || '&<>"' || chr(39) AS xt,
        |    CAST(length(html) AS BIGINT) AS n_chars_html,
        |    CAST(4 + length(CAST(doc_id AS VARCHAR)) + length(text) + 5 AS BIGINT)
        |      AS n_chars_text,
        |    CAST(15 + CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 0 END
        |       + CASE WHEN doc_id % 4 = 0 THEN 2 ELSE 0 END AS BIGINT) AS n_tags,
        |    CAST(1 AS BIGINT) AS n_anchors,
        |    CAST(least(w, length(text)) AS BIGINT) AS n_anchor_chars,
        |    CAST(5 + (length(text) - length(replace(text, '&', '')))
        |       + (length(text) - length(replace(text, '<', '')))
        |       + (length(text) - length(replace(text, '>', ''))) AS BIGINT)
        |      AS n_entities,
        |    CAST(CASE WHEN doc_id % 3 = 0 THEN 11 ELSE 0 END
        |       + CASE WHEN doc_id % 4 = 0
        |           THEN 7 + length(CAST(doc_id AS VARCHAR)) ELSE 0 END
        |       + CASE WHEN doc_id % 5 = 0
        |           THEN 1 + length(CAST(doc_id AS VARCHAR)) ELSE 0 END AS BIGINT)
        |      AS n_elided_chars
        |  FROM h)
        |SELECT doc_id, md5(xt) AS text_md5, n_chars_html, n_chars_text, n_tags,
        |  n_anchors, n_anchor_chars, n_entities, n_elided_chars,
        |  CAST(0 AS BIGINT) AS malformed,
        |  1000000 * n_anchor_chars // n_chars_text AS link_density_ppm,
        |  1000000 * (n_chars_html - n_chars_text) // n_chars_html
        |    AS markup_ratio_ppm
        |FROM x ORDER BY doc_id""".stripMargin

  /** Over a word-shingle frame `sh` (doc_id, s): `losers` = the later doc
    * of every pair at shingle Jaccard >= 0.8, `qual` = the text_quality
    * score per doc. Shared by the curation and train-ready oracles. */
  private[graft] val LOSERS_QUALITY_CTES: String =
    """sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |prs AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS inter
      |        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
      |losers AS (
      |  SELECT DISTINCT id2 AS doc_id FROM prs
      |  JOIN sizes sa ON sa.doc_id = id1 JOIN sizes sb ON sb.doc_id = id2
      |  WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.8),
      |qual AS (
      |  SELECT doc_id, lang,
      |    ttr * 0.4 + stopword_ratio * 0.3 +
      |      CASE WHEN n_tokens >= 40 THEN 0.3 ELSE CAST(n_tokens AS DOUBLE) / 40.0 * 0.3 END AS quality_score
      |  FROM (
      |    SELECT doc_id, lang,
      |      len(string_split(text, ' ')) AS n_tokens,
      |      CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) / len(string_split(text, ' ')) AS ttr,
      |      CAST(len(list_filter(string_split(text, ' '), x -> x IN ('the', 'a'))) AS DOUBLE)
      |        / len(string_split(text, ' ')) AS stopword_ratio
      |    FROM documents))""".stripMargin

  /** The full train-ready chain (dedup losers, quality floor,
    * repetition cap, decontamination, split) shared by the
    * per-language census and the per-source token budget — the CTE
    * chain ends at the `kept` doc set, each consumer appends its own
    * final select (and extra CTEs via a leading comma). */
  private[graft] val TRAIN_READY_CTES: String =
    """WITH w AS (SELECT doc_id, lang, string_split(text, ' ') AS ws,
        |    CASE WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2) <= 'e5'
        |         THEN 0 ELSE 1 END AS is_eval
        |  FROM documents),
        |idx AS (SELECT doc_id, is_eval, ws,
        |        unnest(range(1, greatest(len(ws) - 1, 2))) AS i FROM w),
        |sh AS (SELECT DISTINCT doc_id, is_eval,
        |       array_to_string(list_slice(ws, i, i + 2), ' ') AS s FROM idx),
        |""".stripMargin + LOSERS_QUALITY_CTES + """,
        |bi AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] AS b
        |       FROM (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i FROM w)),
        |bc AS (SELECT doc_id, b, count(*) AS c FROM bi GROUP BY 1, 2),
        |tb AS (SELECT doc_id, CAST(max(c) AS DOUBLE) / sum(c) AS top_bigram_frac
        |       FROM bc GROUP BY 1),
        |evsz AS (SELECT doc_id, count(*) AS n FROM sh WHERE is_eval = 1 GROUP BY 1),
        |cint AS (SELECT t.doc_id AS train_id, e.doc_id AS eval_id, count(*) AS i
        |         FROM (SELECT doc_id, s FROM sh WHERE is_eval = 0) t
        |         JOIN (SELECT doc_id, s FROM sh WHERE is_eval = 1) e ON t.s = e.s
        |         GROUP BY 1, 2),
        |contaminated AS (
        |  SELECT DISTINCT train_id AS doc_id FROM cint
        |  JOIN evsz ON evsz.doc_id = eval_id
        |  WHERE CAST(i AS DOUBLE) / evsz.n >= 0.5),
        |kept AS (
        |  SELECT q.doc_id, q.lang, q.quality_score FROM qual q
        |  LEFT JOIN losers l ON q.doc_id = l.doc_id
        |  LEFT JOIN contaminated c ON q.doc_id = c.doc_id
        |  LEFT JOIN tb ON tb.doc_id = q.doc_id
        |  JOIN w ON w.doc_id = q.doc_id
        |  WHERE l.doc_id IS NULL AND c.doc_id IS NULL
        |    AND q.quality_score >= 0.46
        |    AND coalesce(tb.top_bigram_frac, 0.0) <= 0.1
        |    AND w.is_eval = 0)""".stripMargin

  /** DuckDB twin of Bpe.train: the same 16 greedy merge rounds unrolled
    * as chained CTEs (weighted word vocab capped by (n desc, seq); per
    * round, adjacent-pair counts via list_zip, argmax with the
    * (c desc, t1, t2) tie, merge applied by the shared double-space
    * replace). MATERIALIZED is load-bearing: p_r and w_r both reference
    * w_{r-1}, so inlined CTEs would double the plan per round — 2^16
    * scans of `documents` (observed as an fd-exhaustion failure). */
  private[graft] val BPE_R = 16

  private[graft] val BPE_TRAIN_CTES: String = {
    val sb = new StringBuilder
    sb ++= """w0 AS MATERIALIZED (
      |  SELECT ' ' || array_to_string(string_split(word, ''), '  ') || ' ' AS seq,
      |         CAST(count(*) AS BIGINT) AS n
      |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      |  WHERE word ~ '^[a-z]+$'
      |  GROUP BY 1 ORDER BY n DESC, seq LIMIT 65536)""".stripMargin
    for (r <- 1 to BPE_R) {
      val p = r - 1
      sb ++= s""",
        |p$r AS (SELECT z.pr[1] AS t1, z.pr[2] AS t2, CAST(sum(z.n) AS BIGINT) AS c
        |  FROM (SELECT n, unnest(list_zip(tk[1:len(tk)-1], tk[2:len(tk)])) AS pr
        |        FROM (SELECT n, string_split(trim(seq), '  ') AS tk FROM w$p)
        |        WHERE len(tk) > 1) z
        |  GROUP BY 1, 2),
        |b$r AS MATERIALIZED (SELECT CAST($r AS INT) AS rank, t1, t2, c FROM p$r ORDER BY c DESC, t1, t2 LIMIT 1),
        |w$r AS MATERIALIZED (SELECT replace(w.seq, ' ' || b.t1 || '  ' || b.t2 || ' ', ' ' || b.t1 || b.t2 || ' ') AS seq, w.n
        |  FROM w$p w, b$r b)""".stripMargin
    }
    sb.toString
  }

  /** The application fragment: every word re-encoded and replayed
    * through b1..bR in rank order. LEFT JOIN ON true + chr(1) guards
    * keep exhausted rounds (empty b_r) from annihilating the frame the
    * way a bare cross join would. */
  private[graft] val BPE_REPL: String =
    (1 to BPE_R).foldLeft("seq0") { (e, r) =>
      s"replace($e, coalesce(' '||b$r.t1||'  '||b$r.t2||' ', chr(1)), coalesce(' '||b$r.t1||b$r.t2||' ', chr(1)))"
    }

  private[graft] val BPE_JOINS: String =
    (1 to BPE_R).map(r => s" LEFT JOIN b$r ON true").mkString

  private[graft] val BPE_APPLY_CTES: String =
    s""",
      |dw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
      |wt AS (SELECT doc_id, word,
      |    CASE WHEN word ~ '^[a-z]+$$' THEN NULL ELSE CAST(1 AS BIGINT) END AS fixed,
      |    ' ' || array_to_string(string_split(word, ''), '  ') || ' ' AS seq0
      |  FROM dw),
      |applied AS (SELECT doc_id, coalesce(fixed,
      |    CAST(len(string_split(trim($BPE_REPL), '  ')) AS BIGINT)) AS ntok
      |  FROM wt$BPE_JOINS)""".stripMargin

  /** DuckDB twin of Similarity.kCenterSelect: the same 8 greedy rounds
    * unrolled as chained CTEs (seed = min vec_id; per round, coverage
    * mc = max cosine to the selected set, pick = argmin (mc, vec_id)).
    * Generated, not hand-written, so k changes in ONE place — and the
    * CTE chain is shared by the k-center and SemDeDup oracles. */
  private val KCENTER_K = 8

  /** `seedWhere` restricts the corpus the greedy rounds SELECT FROM
    * (empty = whole corpus) — the increment oracle seeds its exemplars
    * from the stored slice only, everything else shares this chain.
    * `prelude` injects extra leading CTEs and `corpusSql` redefines the
    * corpus itself (the SemDeDup oracles run the chain over the
    * reconstructed planted-cluster corpus); the defaults regenerate the
    * original text byte-for-byte. */
  private[graft] def kcenterCtes(seedWhere: String, prelude: String = "",
      corpusSql: String =
        "SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings")
      : String = {
    val k = KCENTER_K
    val sb = new StringBuilder
    sb ++= s"WITH ${prelude}corpus AS ($corpusSql),\n"
    val src =
      if (seedWhere.isEmpty) "corpus"
      else {
        sb ++= s"seedcorp AS (SELECT vec_id, v FROM corpus WHERE $seedWhere),\n"
        "seedcorp"
      }
    sb ++= s"s1 AS (SELECT CAST(1 AS INT) AS rank, vec_id, CAST(NULL AS DOUBLE) AS nearest_cos, v FROM $src ORDER BY vec_id LIMIT 1),\n"
    sb ++= s"m1 AS (SELECT e.vec_id, e.v, list_cosine_similarity(e.v, s.v) AS mc FROM $src e, s1 s WHERE e.vec_id <> s.vec_id)"
    for (i <- 2 to k) {
      sb ++= s",\ns$i AS (SELECT CAST($i AS INT) AS rank, vec_id, mc AS nearest_cos, v FROM m${i - 1} ORDER BY mc ASC, vec_id LIMIT 1)"
      if (i < k)
        sb ++= s",\nm$i AS (SELECT m.vec_id, m.v, greatest(m.mc, list_cosine_similarity(m.v, s.v)) AS mc FROM m${i - 1} m, s$i s WHERE m.vec_id <> s.vec_id)"
    }
    sb ++= ",\nsel AS (" +
      (1 to k).map(i => s"SELECT rank, vec_id, nearest_cos, v FROM s$i")
        .mkString(" UNION ALL ") + ")"
    sb.toString
  }
}
