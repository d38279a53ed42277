package graft
package queries

import org.apache.spark.sql.functions._

import graft.ops._
import SparkEntry.{BPE_TRAIN_CTES, BPE_APPLY_CTES}

/** LLM-pipeline reproducible sampling, packing and layout. */
object SamplingQueries {

  /** DuckDB twin of Layout.hilbertKey: the same rotate/reflect walk
    * unrolled as one CTE per level, each carrying (id, hx, hy, hd) — a
    * LINEAR chain, where an expression-tree form would duplicate the
    * coordinate state ~3× per level. Reflection uses n−1 (values stay in
    * [0, n)), digits by the same (3rx) xor ry table written as a CASE. */
  private def hilbertCtes(bits: Int, src: String, idCol: String,
                          xExpr: String, yExpr: String): String = {
    val n1 = (1L << bits) - 1L
    val sb = new StringBuilder
    sb ++= s"WITH h0 AS (SELECT $idCol, (($xExpr) & $n1) AS hx, " +
      s"(($yExpr) & $n1) AS hy, CAST(0 AS BIGINT) AS hd FROM $src)"
    for (i <- 0 until bits) {
      val k = bits - 1 - i
      val s2 = (1L << k) * (1L << k)
      sb ++=
        s""",
           |h${i + 1} AS (SELECT $idCol,
           |  CASE WHEN ((hy >> $k) & 1) = 1 THEN hx
           |       WHEN ((hx >> $k) & 1) = 1 THEN $n1 - hy
           |       ELSE hy END AS hx,
           |  CASE WHEN ((hy >> $k) & 1) = 1 THEN hy
           |       WHEN ((hx >> $k) & 1) = 1 THEN $n1 - hx
           |       ELSE hx END AS hy,
           |  hd + CAST($s2 AS BIGINT) * (CASE
           |    WHEN ((hx >> $k) & 1) = 1 AND ((hy >> $k) & 1) = 1 THEN 2
           |    WHEN ((hx >> $k) & 1) = 1 THEN 3
           |    WHEN ((hy >> $k) & 1) = 1 THEN 1
           |    ELSE 0 END) AS hd
           |FROM h$i)""".stripMargin
    }
    sb.toString
  }

  private val HILBERT_LAYOUT_SQL: String =
    hilbertCtes(16, "part", "p_partkey",
      "p_size", "CAST(floor(p_retailprice) AS BIGINT)") + """
      |SELECT p_partkey, hd AS hkey FROM h16
      |ORDER BY hkey, p_partkey""".stripMargin

  /** The best-fit-decreasing fold (Sampling.packSequencesBfd, budget
    * 256) as a recursive CTE: per shard, docs advance in (n desc,
    * doc_id) rank order and each recursion step re-derives the chosen
    * bin and the updated load list — exact integers, so the per-doc
    * frame hash-matches the engine's aggregate() fold. */
  private val BFD_CTES: String =
    """WITH RECURSIVE t0 AS (
      |  SELECT doc_id, md5('pack:' || CAST(doc_id AS VARCHAR)) AS h,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n
      |  FROM documents),
      |t AS (
      |  SELECT doc_id, n,
      |    CAST(instr('0123456789abcdef', substr(h, 1, 1)) - 1 AS INT) AS shard,
      |    CAST(row_number() OVER (
      |      PARTITION BY CAST(instr('0123456789abcdef', substr(h, 1, 1)) - 1 AS INT)
      |      ORDER BY n DESC, doc_id) AS BIGINT) AS rn
      |  FROM t0),
      |fold AS (
      |  SELECT shard, CAST(0 AS BIGINT) AS rn, CAST(NULL AS BIGINT) AS doc_id,
      |         CAST(NULL AS BIGINT) AS n, CAST(NULL AS BIGINT) AS bin,
      |         CAST([] AS BIGINT[]) AS loads
      |  FROM (SELECT DISTINCT shard FROM t)
      |  UNION ALL
      |  SELECT t.shard, f.rn + 1, t.doc_id, t.n,
      |    CASE WHEN len(list_filter(f.loads, l -> l + t.n <= 256)) = 0
      |         THEN CAST(len(f.loads) AS BIGINT)
      |         ELSE CAST(list_position(f.loads,
      |           list_max(list_filter(f.loads, l -> l + t.n <= 256))) - 1 AS BIGINT)
      |    END AS bin,
      |    CASE WHEN len(list_filter(f.loads, l -> l + t.n <= 256)) = 0
      |         THEN list_append(f.loads, t.n)
      |         ELSE f.loads[1:list_position(f.loads,
      |                list_max(list_filter(f.loads, l -> l + t.n <= 256))) - 1]
      |              || [f.loads[list_position(f.loads,
      |                   list_max(list_filter(f.loads, l -> l + t.n <= 256)))] + t.n]
      |              || f.loads[list_position(f.loads,
      |                   list_max(list_filter(f.loads, l -> l + t.n <= 256))) + 1:]
      |    END AS loads
      |  FROM fold f JOIN t ON t.shard = f.shard AND t.rn = f.rn + 1)""".stripMargin

  val all: Seq[Query] = Seq(

    Query("q_split_census", (s, dir) =>
      Sampling.splitCensus(Tables.documents(s, dir)).orderBy("lang", "split"),
      Oracle("""SELECT lang,
          |  CASE WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2) <= 'e5'
          |       THEN 'train' ELSE 'eval' END AS split,
          |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS n_chars
          |FROM documents GROUP BY 1, 2 ORDER BY lang, split""".stripMargin)),

    // deterministic k-fold assignment census: fold = md5 byte mod k,
    // per-row and engine-portable like the split column
    Query("q_kfold_census", (s, dir) =>
      Sampling.kfoldCensus(Tables.documents(s, dir), k = 5).orderBy("fold", "lang"),
      // the first md5 byte parsed with plain string ops (the q_seq_pack
      // hex-digit trick), then mod k — same fold ids as the engine
      Oracle("""WITH f AS (
          |  SELECT lang, n_chars,
          |    CAST((
          |      (instr('0123456789abcdef',
          |         substr(md5('fold:' || CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
          |      + instr('0123456789abcdef',
          |          substr(md5('fold:' || CAST(doc_id AS VARCHAR)), 2, 1)) - 1
          |    ) % 5 AS INT) AS fold
          |  FROM documents)
          |SELECT fold, lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS n_chars
          |FROM f GROUP BY 1, 2 ORDER BY fold, lang""".stripMargin)),

    // ceil-pow2 token-length histogram + pad-waste — integer-only bucket
    // via bit length, no float log2 to mis-bin at exact powers of two
    Query("q_length_buckets", (s, dir) =>
      Sampling.lengthBuckets(Tables.documents(s, dir)).orderBy("bucket"),
      // ceil-pow2 by bit length of n-1 — integer-only in both engines
      Oracle("""WITH t AS (
          |  SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
          |  FROM documents),
          |b AS (
          |  SELECT n_tokens,
          |    CASE WHEN n_tokens <= 1 THEN CAST(1 AS BIGINT)
          |         ELSE CAST(1 AS BIGINT) << length(bin(n_tokens - 1)) END AS bucket
          |  FROM t)
          |SELECT bucket, count(*) AS n_docs,
          |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens_total,
          |  CAST(sum(bucket - n_tokens) AS BIGINT) AS pad_tokens
          |FROM b GROUP BY 1 ORDER BY bucket""".stripMargin)),

    Query("q_source_cap", (s, dir) =>
      Sampling.perSourceCap(Tables.documents(s, dir), cap = 100)
        .select(col("source"), col("rank_in_source").cast("long").as("rank_in_source"),
          col("doc_id"), col("n_chars"))
        .orderBy("source", "rank_in_source"),
      Oracle("""SELECT source, rank_in_source, doc_id, n_chars FROM (
          |  SELECT source, doc_id, n_chars,
          |    row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id)
          |      AS rank_in_source
          |  FROM documents)
          |WHERE rank_in_source <= 100 ORDER BY source, rank_in_source""".stripMargin)),

    // two-phase hot-source form; same oracle as q_source_cap because the
    // salted pre-prune provably never changes the output
    Query("q_source_cap_salted", (s, dir) =>
      Sampling.perSourceCapSalted(Tables.documents(s, dir), cap = 100, salts = 8)
        .select(col("source"), col("rank_in_source").cast("long").as("rank_in_source"),
          col("doc_id"), col("n_chars"))
        .orderBy("source", "rank_in_source"),
      Oracle("""SELECT source, rank_in_source, doc_id, n_chars FROM (
          |  SELECT source, doc_id, n_chars,
          |    row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id)
          |      AS rank_in_source
          |  FROM documents)
          |WHERE rank_in_source <= 100 ORDER BY source, rank_in_source""".stripMargin)),

    // contiguous-fill sequence packing in reproducible hash order
    Query("q_seq_pack", (s, dir) =>
      Sampling.packSequences(Tables.documents(s, dir), budgetTokens = 2048L)
        .orderBy("doc_id"),
      Oracle("""WITH t AS (
          |  SELECT doc_id, md5('pack:' || CAST(doc_id AS VARCHAR)) AS h,
          |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
          |  FROM documents),
          |s AS (
          |  SELECT doc_id, h, n_tokens,
          |    CAST(instr('0123456789abcdef', substr(h, 1, 1)) - 1 AS INT) AS shard
          |  FROM t),
          |c AS (
          |  SELECT doc_id, shard, n_tokens,
          |    CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY h, doc_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
          |  FROM s)
          |SELECT doc_id, shard, n_tokens,
          |  (cum_tokens - n_tokens) // 2048 AS pack_id,
          |  (cum_tokens - n_tokens) % 2048 AS pack_offset
          |FROM c ORDER BY doc_id""".stripMargin)),

    // whole-doc best-fit-decreasing packing beside the contiguous-fill
    // spans: per-shard sequential fold (the ewmaServe discipline), bins
    // never overfill, ties to the smallest bin id; oracle = the same
    // fold as a recursive CTE
    Query("q_seq_pack_bfd", (s, dir) =>
      Sampling.packSequencesBfd(Tables.documents(s, dir), budgetTokens = 256L)
        .orderBy("doc_id"),
      // the BFD fold replayed as a recursive CTE: one anchor row per
      // shard, each step filters the open-bin loads for fit, best fit =
      // max fitting load, list_position takes the FIRST occurrence (= the
      // smallest bin id on load ties), loads updated by list slicing
      Oracle(BFD_CTES +
        """
          |SELECT doc_id, shard, n AS n_tokens, bin
          |FROM fold WHERE rn >= 1 ORDER BY doc_id""".stripMargin)),

    // what best-fit bought: per-shard bins/waste vs the greedy next-fit
    // packer on the same decreasing order
    Query("q_seq_pack_waste", (s, dir) =>
      Sampling.packWasteReport(Tables.documents(s, dir), budgetTokens = 256L)
        .orderBy("shard"),
      Oracle(BFD_CTES +
        """,
          |nf AS (
          |  SELECT shard, CAST(0 AS BIGINT) AS rn, CAST(0 AS BIGINT) AS nbins,
          |         CAST(256 AS BIGINT) AS cur
          |  FROM (SELECT DISTINCT shard FROM t)
          |  UNION ALL
          |  SELECT t.shard, f.rn + 1,
          |    CASE WHEN f.cur + t.n <= 256 THEN f.nbins ELSE f.nbins + 1 END,
          |    CASE WHEN f.cur + t.n <= 256 THEN f.cur + t.n ELSE t.n END
          |  FROM nf f JOIN t ON t.shard = f.shard AND t.rn = f.rn + 1),
          |blast AS (SELECT shard, max(rn) AS mx FROM fold GROUP BY 1),
          |bfinal AS (SELECT f.shard, CAST(len(f.loads) AS BIGINT) AS bins_bfd
          |  FROM fold f JOIN blast l ON f.shard = l.shard AND f.rn = l.mx),
          |nlast AS (SELECT shard, max(rn) AS mx FROM nf GROUP BY 1),
          |nfinal AS (SELECT f.shard, f.nbins AS bins_greedy
          |  FROM nf f JOIN nlast l ON f.shard = l.shard AND f.rn = l.mx),
          |stats AS (SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
          |    CAST(sum(n) AS BIGINT) AS total_tokens
          |  FROM t GROUP BY 1)
          |SELECT s.shard, s.n_docs, s.total_tokens, b.bins_bfd,
          |  b.bins_bfd * 256 - s.total_tokens AS waste_bfd,
          |  g.bins_greedy, g.bins_greedy * 256 - s.total_tokens AS waste_greedy,
          |  (g.bins_greedy - b.bins_bfd) * 256 AS waste_delta
          |FROM stats s JOIN bfinal b USING (shard) JOIN nfinal g USING (shard)
          |ORDER BY s.shard""".stripMargin)),

    // the same packer dealing in BPE tokens — pack boundaries land where
    // the trainer's actual budget runs out, not where whitespace does
    Query("q_seq_pack_bpe", (s, dir) => {
      val docs = Tables.documents(s, dir)
      Sampling.packSequencesBy(docs,
        Bpe.tokenCountColumn(col("text"), Bpe.train(docs)), budgetTokens = 2048L)
        .orderBy("doc_id")
    },
      Oracle("WITH " + BPE_TRAIN_CTES + BPE_APPLY_CTES + """,
        |dtok AS (SELECT doc_id, CAST(sum(ntok) AS BIGINT) AS n_tokens
        |         FROM applied GROUP BY 1),
        |pt AS (SELECT doc_id, md5('pack:' || CAST(doc_id AS VARCHAR)) AS h, n_tokens
        |       FROM dtok),
        |ps AS (SELECT doc_id, h, n_tokens,
        |         CAST(instr('0123456789abcdef', substr(h, 1, 1)) - 1 AS INT) AS shard
        |       FROM pt),
        |pc AS (SELECT doc_id, shard, n_tokens,
        |         CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY h, doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
        |       FROM ps)
        |SELECT doc_id, shard, n_tokens,
        |  (cum_tokens - n_tokens) // 2048 AS pack_id,
        |  (cum_tokens - n_tokens) % 2048 AS pack_offset
        |FROM pc ORDER BY doc_id""".stripMargin)),

    // write-path layout key: Z-order interleave of (p_size, floor(price))
    // — the two-dimensional pruning sort key, bit-exact across engines
    Query("q_zorder_layout", (s, dir) =>
      Tables.part(s, dir).select(col("p_partkey"),
        Layout.zorderKey(col("p_size"), floor(col("p_retailprice"))).as("zkey"))
        .orderBy("zkey", "p_partkey"),
      Oracle(s"""SELECT p_partkey,
           |  ${Layout.zorderSql("p_size", "CAST(floor(p_retailprice) AS BIGINT)")} AS zkey
           |FROM part ORDER BY zkey, p_partkey""".stripMargin)),

    // the better-locality curve over the same two dimensions: the Hilbert
    // key's rotate/reflect state machine runs in a codegen'd custom
    // Expression; the oracle unrolls the same 16 levels as chained CTEs
    Query("q_hilbert_layout", (s, dir) =>
      Tables.part(s, dir).select(col("p_partkey"),
        Layout.hilbertKey(col("p_size"), floor(col("p_retailprice"))).as("hkey"))
        .orderBy("hkey", "p_partkey"),
      Oracle(HILBERT_LAYOUT_SQL)),

    // weighted sampling WITHOUT replacement (Efraimidis–Spirakis):
    // priority ln(u)/w from the row's md5 draw, top-100 by priority —
    // inclusion probability proportional to the weight (doc length
    // here), the quality-weighted pick a plain shuffle can't express
    Query("q_weighted_sample", (s, dir) =>
      Sampling.weightedSample(Tables.documents(s, dir), col("n_chars")),
      // the E-S priority replay: one quantized ln per row, one exact
      // division, top-100 by (priority desc, doc_id)
      Oracle("""WITH p AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS w,
          |    CAST(round(ln(CAST(
          |      ('0x' || substr(md5('wsample:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
          |      + 1 AS DOUBLE) / CAST(1152921504606846976 AS DOUBLE)) * 1000000.0)
          |      AS BIGINT) AS qln
          |  FROM documents)
          |SELECT doc_id, w, CAST(qln AS DOUBLE) / CAST(w AS DOUBLE) AS priority
          |FROM p ORDER BY priority DESC, doc_id LIMIT 100""".stripMargin)),

    // corpus mixing: keep 50% of en, 25% of zh, everything else whole —
    // membership purely per-row off the portable md5, exact vs the oracle
    Query("q_stratified_sample", (s, dir) =>
      Sampling.stratifiedSample(Tables.documents(s, dir),
          rates = Map("en" -> 0.5, "zh" -> 0.25))
        .select("doc_id", "lang", "source").orderBy("doc_id"),
      // bounds are first-16-bit hex of ceil(rate*65536)-1: 0.5 → 7fff,
      // 0.25 → 3fff — the same fixed-width-hex compare the split uses
      Oracle("""SELECT doc_id, lang, source FROM documents
          |WHERE CASE
          |  WHEN lang = 'en' THEN substr(md5('strat:' || CAST(doc_id AS VARCHAR)), 1, 4) <= '7fff'
          |  WHEN lang = 'zh' THEN substr(md5('strat:' || CAST(doc_id AS VARCHAR)), 1, 4) <= '3fff'
          |  ELSE TRUE END
          |ORDER BY doc_id""".stripMargin)),

    Query("text_normalize", (s, dir) =>
      TextAnalysis.normalize(Tables.documents(s, dir)).orderBy("doc_id"),
      Oracle("""SELECT doc_id, CAST(length(text) AS INT) AS n_chars_raw,
          |  trim(regexp_replace(lower(text), '[ \t\n\x0B\f\r]+', ' ', 'g')) AS normalized,
          |  CAST(length(trim(regexp_replace(lower(text), '[ \t\n\x0B\f\r]+', ' ', 'g'))) AS INT) AS n_chars_norm
          |FROM documents ORDER BY doc_id""".stripMargin)),

    // PII scrub over a PLANTED corpus (the synthetic documents carry no
    // natural emails/IPs, so deterministic ones are appended for some ids
    // — mirrored in the oracle — making counts AND redacted text
    // hash-checkable)
    Query("text_pii", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val planted = docs.select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 7 === 0,
            concat(lit(" contact user"), col("doc_id"), lit("@example.com now")))
            .otherwise(lit("")),
          when(col("doc_id") % 13 === 0,
            concat(lit(" card 4111-1111-1111-"), col("doc_id") % 9000 + 1000,
              lit(" used")))
            .otherwise(lit("")),
          when(col("doc_id") % 5 === 0,
            concat(lit(" call 555-"), col("doc_id") % 900 + 100, lit("-0199 ok")))
            .otherwise(lit("")),
          when(col("doc_id") % 11 === 0,
            concat(lit(" from 10.0."), col("doc_id") % 256, lit(".1 logged")))
            .otherwise(lit(""))).as("text"))
      TextAnalysis.piiScrub(planted).orderBy("doc_id")
    },
      Oracle("""WITH planted AS (
          |  SELECT doc_id, text ||
          |    CASE WHEN doc_id % 7 = 0
          |         THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
          |         ELSE '' END ||
          |    CASE WHEN doc_id % 13 = 0
          |         THEN ' card 4111-1111-1111-' || CAST(doc_id % 9000 + 1000 AS VARCHAR) || ' used'
          |         ELSE '' END ||
          |    CASE WHEN doc_id % 5 = 0
          |         THEN ' call 555-' || CAST(doc_id % 900 + 100 AS VARCHAR) || '-0199 ok'
          |         ELSE '' END ||
          |    CASE WHEN doc_id % 11 = 0
          |         THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1 logged'
          |         ELSE '' END AS text
          |  FROM documents)
          |SELECT doc_id,
          |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
          |  CAST(len(regexp_extract_all(text, '\b[0-9]{4}([- ]?[0-9]{4}){3}\b')) AS BIGINT) AS n_cards,
          |  CAST(len(regexp_extract_all(text, '\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\b')) AS BIGINT) AS n_phones,
          |  CAST(len(regexp_extract_all(text, '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS BIGINT) AS n_ipv4,
          |  regexp_replace(
          |    regexp_replace(
          |      regexp_replace(
          |        regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
          |        '\b[0-9]{4}([- ]?[0-9]{4}){3}\b', '<CARD>', 'g'),
          |      '\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\b', '<PHONE>', 'g'),
          |    '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g') AS redacted
          |FROM planted ORDER BY doc_id""".stripMargin)),

    Query("q_shuffle_order", (s, dir) =>
      Sampling.deterministicShuffle(Tables.documents(s, dir), seed = "epoch1:")
        .select("doc_id", "shuffle_key").limit(100),
      Oracle("""SELECT doc_id, md5('epoch1:' || CAST(doc_id AS VARCHAR)) AS shuffle_key
          |FROM documents ORDER BY shuffle_key LIMIT 100""".stripMargin)),

    // repetition metrics: top-word and top-bigram shares per doc
    Query("text_repetition", (s, dir) =>
      TextAnalysis.repetition(Tables.documents(s, dir)).orderBy("doc_id"),
      Oracle("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
          |words AS (SELECT doc_id, unnest(ws) AS w FROM w),
          |wc AS (SELECT doc_id, w, count(*) AS c FROM words GROUP BY 1, 2),
          |tw AS (SELECT doc_id, max(c) AS top_wc, CAST(sum(c) AS BIGINT) AS n_words
          |       FROM wc GROUP BY 1),
          |bi AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] AS b
          |       FROM (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i FROM w)),
          |bc AS (SELECT doc_id, b, count(*) AS c FROM bi GROUP BY 1, 2),
          |tb AS (SELECT doc_id, max(c) AS top_bc, CAST(sum(c) AS BIGINT) AS n_bigrams
          |       FROM bc GROUP BY 1)
          |SELECT tw.doc_id AS doc_id, tw.n_words,
          |  CAST(tw.top_wc AS DOUBLE) / tw.n_words AS top_word_frac,
          |  CAST(tb.top_bc AS DOUBLE) / tb.n_bigrams AS top_bigram_frac
          |FROM tw JOIN tb ON tw.doc_id = tb.doc_id ORDER BY doc_id""".stripMargin)),

    // decontamination: train docs containing >=50% of an eval doc's
    // shingles, with the eval side drawn by the reproducible split
    Query("text_decontaminate", (s, dir) =>
      Dedup.decontaminate(Tables.documents(s, dir),
          isEval = Sampling.splitColumn(col("doc_id")) === "eval")
        .orderBy("train_id", "eval_id"),
      Oracle("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w,
          |    CASE WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2) <= 'e5'
          |         THEN 0 ELSE 1 END AS is_eval
          |  FROM documents),
          |idx AS (SELECT doc_id, is_eval, w,
          |        unnest(range(1, greatest(len(w) - 1, 2))) AS i FROM w),
          |sh AS (SELECT DISTINCT doc_id, is_eval,
          |       array_to_string(list_slice(w, i, i + 2), ' ') AS s FROM idx),
          |ev AS (SELECT doc_id, s FROM sh WHERE is_eval = 1),
          |tr AS (SELECT doc_id, s FROM sh WHERE is_eval = 0),
          |sizes AS (SELECT doc_id, count(*) AS n FROM ev GROUP BY 1),
          |inter AS (SELECT t.doc_id AS train_id, e.doc_id AS eval_id, count(*) AS i
          |          FROM tr t JOIN ev e ON t.s = e.s GROUP BY 1, 2)
          |SELECT train_id, eval_id, containment FROM (
          |  SELECT train_id, eval_id, CAST(i AS DOUBLE) / sizes.n AS containment
          |  FROM inter JOIN sizes ON sizes.doc_id = eval_id)
          |WHERE containment >= 0.5 ORDER BY train_id, eval_id""".stripMargin)),
  )
}
