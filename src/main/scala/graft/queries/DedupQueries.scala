package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops._
import SparkEntry.kcenterCtes

/** LLM-pipeline dedup: exact, near-duplicate and semantic. */
object DedupQueries {

  /** Near-dup pair-list artifact: the candidate generators are
    * deterministic (exact inverted index / xxhash64 band family), so the
    * three component-resolution entries share ONE generation pass per
    * corpus instead of re-shingling ~2 s each — the offline shape, where
    * the pair list is a nightly artifact and cluster resolution consumes
    * it. */
  private def jaccardPairs(s: SparkSession, dir: String): DataFrame =
    Artifacts.cached(s, "pairs", "jaccard", dir)(Dedup.ngramJaccard(Tables.documents(s, dir)))

  private def minhashPairs(s: SparkSession, dir: String): DataFrame =
    Artifacts.cached(s, "pairs", "minhash", dir)(Dedup.minhashLsh(Tables.documents(s, dir)))

  /** Resolved-components artifact (id, comp): pointer doubling is
    * deterministic (min-label fixpoint over a deterministic pair list),
    * so like the pair list it is a write-once artifact — the closure runs
    * ONCE per corpus and every consumer in the components family
    * (components, canonical mapping, cluster histogram, leakage-safe
    * split, source dup rate) reads the resolved frame. At 100 TB the
    * closure is the dominant dedup cost and runs as a nightly job; this
    * is that job's output seam. */
  private def jaccardComponents(s: SparkSession, dir: String): DataFrame =
    Artifacts.cached(s, "comps", "jaccard", dir)(Graph.connectedComponents(jaccardPairs(s, dir)))

  private def minhashComponents(s: SparkSession, dir: String): DataFrame =
    Artifacts.cached(s, "comps", "minhash", dir)(Graph.connectedComponents(minhashPairs(s, dir)))

  /** The shared canonical resolution every downstream entry consumes:
    * one left equi-join of the corpus against the components artifact. */
  private def canonicalDocs(s: SparkSession, dir: String): DataFrame =
    Graph.canonicalizeFromComponents(Tables.documents(s, dir), jaccardComponents(s, dir))

  /** The planted-cluster corpus (Similarity.plantedClusterCorpus with
    * seeds=8, copies=6) reconstructed in SQL — the same construction
    * PLANTED_TOPK_SQL inlines, shaped as a kcenterCtes prelude. */
  private val PLANTED_PRELUDE: String =
    """base AS (
      |  SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]), x -> x) AS v
      |  FROM embeddings),
      |members AS (
      |  SELECT CASE WHEN j = 0 THEN s.vec_id
      |              ELSE 1000 + s.vec_id * 6 + j END AS vec_id,
      |         list_transform(s.v, x -> x + 0.002 * j) AS v
      |  FROM (SELECT vec_id, v FROM base WHERE vec_id < 8) s
      |  CROSS JOIN (SELECT unnest(range(6)) AS j) js),
      |bg AS (SELECT vec_id + 1000000 AS vec_id, v FROM base WHERE vec_id >= 8),
      |""".stripMargin

  /** k-center chain over the planted corpus + per-row assignment + the
    * within-cell thresholded pair stage — shared by the SemDeDup pair
    * and keeper oracles. asg and sempairs are MATERIALIZED: each is
    * referenced more than once downstream and carries the whole
    * selection chain (the r13 inlining lesson). */
  private val SEMDEDUP_CTES: String =
    kcenterCtes("", PLANTED_PRELUDE,
      "SELECT vec_id, v FROM members UNION ALL SELECT vec_id, v FROM bg") +
      """,
        |asg AS MATERIALIZED (SELECT vec_id, center_id, v FROM (
        |  SELECT e.vec_id, e.v, sel.vec_id AS center_id,
        |    row_number() OVER (PARTITION BY e.vec_id
        |      ORDER BY list_cosine_similarity(e.v, sel.v) DESC, sel.vec_id) AS rn
        |  FROM corpus e CROSS JOIN sel)
        |  WHERE rn = 1),
        |sempairs AS MATERIALIZED (SELECT center_id, id1, id2, cos FROM (
        |  SELECT a.center_id, a.vec_id AS id1, b.vec_id AS id2,
        |    list_cosine_similarity(a.v, b.v) AS cos
        |  FROM asg a JOIN asg b ON a.center_id = b.center_id
        |    AND a.vec_id < b.vec_id)
        |  WHERE cos >= 0.9)""".stripMargin

  /** The incremental SemDeDup replay: exemplars greedily selected from
    * the STORED slice of the planted corpus, stored keeper frame by the
    * within-cell smaller-id rule, then the batch pruned against stored
    * KEPT cellmates (pruned stored docs never prune — the corpus AS
    * SERVED) and smaller-id batch cellmates. */
  private val DEDUP_SEM_INCR_SQL: String = {
    val assignFrom = (src: String, name: String) =>
      s"""$name AS MATERIALIZED (SELECT vec_id, center_id, v FROM (
         |  SELECT e.vec_id, e.v, c.center_id,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.center_id) AS rn
         |  FROM $src e CROSS JOIN kc c) WHERE rn = 1)""".stripMargin
    kcenterCtes("vec_id % 5 <> 4", PLANTED_PRELUDE,
      "SELECT vec_id, v FROM members UNION ALL SELECT vec_id, v FROM bg") +
      s""",
         |stored AS MATERIALIZED (SELECT vec_id, v FROM corpus WHERE vec_id % 5 <> 4),
         |batch AS MATERIALIZED (SELECT vec_id, v FROM corpus WHERE vec_id % 5 = 4),
         |kc AS (SELECT vec_id AS center_id, v AS cv FROM sel),
         |${assignFrom("stored", "sasg")},
         |sprune AS (SELECT DISTINCT b.vec_id FROM sasg a JOIN sasg b
         |  ON a.center_id = b.center_id AND a.vec_id < b.vec_id
         |  WHERE list_cosine_similarity(a.v, b.v) >= 0.9),
         |skept AS MATERIALIZED (SELECT s.vec_id, s.center_id, s.v FROM sasg s
         |  LEFT JOIN sprune p ON p.vec_id = s.vec_id WHERE p.vec_id IS NULL),
         |${assignFrom("batch", "basg")},
         |cand AS (
         |  SELECT b.vec_id, s.vec_id AS cand_id,
         |    list_cosine_similarity(b.v, s.v) AS cos
         |  FROM basg b JOIN skept s ON s.center_id = b.center_id
         |  UNION ALL
         |  SELECT b.vec_id, o.vec_id AS cand_id,
         |    list_cosine_similarity(b.v, o.v) AS cos
         |  FROM basg b JOIN basg o ON o.center_id = b.center_id
         |    AND o.vec_id < b.vec_id),
         |pr AS (SELECT vec_id, min(cand_id) AS pruned_by, max(cos) AS max_cos
         |  FROM cand WHERE cos >= 0.9 GROUP BY 1)
         |SELECT g.vec_id, g.center_id, p.pruned_by,
         |  CAST(CASE WHEN p.pruned_by IS NULL THEN 1 ELSE 0 END AS BIGINT) AS keep,
         |  p.max_cos
         |FROM basg g LEFT JOIN pr p ON p.vec_id = g.vec_id
         |ORDER BY g.vec_id""".stripMargin
  }

  /** Brute-force word-shingle Jaccard (DuckDB side of dedup_jaccard and
    * the verification bar for dedup_minhash). */
  private val JACCARD_SQL =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |idx AS (SELECT doc_id, w, unnest(range(1, greatest(len(w) - 1, 2))) AS i FROM w),
      |sh AS (SELECT DISTINCT doc_id, array_to_string(list_slice(w, i, i + 2), ' ') AS s FROM idx),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |pairs AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS inter
      |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
      |SELECT id1, id2, jaccard FROM (
      |  SELECT id1, id2, CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jaccard
      |  FROM pairs JOIN sizes sa ON sa.doc_id = id1 JOIN sizes sb ON sb.doc_id = id2)
      |WHERE jaccard >= 0.8 ORDER BY id1, id2""".stripMargin

  /** The portable-SimHash replay: the shared shingle CTEs, the 60-bit
    * md5 slice, 60 generated sign-sum columns, the fingerprint as a sum
    * of disjoint powers, 4×15-bit pigeonhole pairing with
    * bit_count(xor) hamming. */
  private val SIMHASH_MD5_SQL: String = {
    val bitSums = (0 until 60).map(j =>
      s"sum(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS b$j")
      .mkString(",\n      ")
    val fp = (0 until 60).map(j =>
      s"(CASE WHEN b$j > 0 THEN ${1L << j} ELSE 0 END)").mkString(" + ")
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |idx AS (SELECT doc_id, w, unnest(range(1, greatest(len(w) - 1, 2))) AS i FROM w),
       |sh AS (SELECT DISTINCT doc_id, array_to_string(list_slice(w, i, i + 2), ' ') AS s FROM idx),
       |hs AS (SELECT doc_id, ('0x' || substr(md5('sh:' || s), 1, 15))::BIGINT AS h FROM sh),
       |bits AS (SELECT doc_id,
       |      $bitSums
       |  FROM hs GROUP BY 1),
       |fp AS (SELECT doc_id, CAST($fp AS BIGINT) AS simhash FROM bits),
       |ch AS (SELECT doc_id, simhash, CAST(i.range AS INT) AS chunk_idx,
       |    (simhash >> CAST(i.range * 15 AS INT)) & 32767 AS chunk
       |  FROM fp, range(0, 4) i)
       |SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2,
       |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
       |FROM ch a JOIN ch b
       |  ON a.chunk_idx = b.chunk_idx AND a.chunk = b.chunk
       |  AND a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
       |ORDER BY id1, id2""".stripMargin
  }

  /** Capped variant: shingles in more than 5 docs are dropped before BOTH
    * the intersections and the sizes (same universe, or capping would
    * deflate every score). */
  private val JACCARD_CAPPED_SQL =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |idx AS (SELECT doc_id, w, unnest(range(1, greatest(len(w) - 1, 2))) AS i FROM w),
      |sh AS (SELECT DISTINCT doc_id, array_to_string(list_slice(w, i, i + 2), ' ') AS s FROM idx),
      |df AS (SELECT s, count(*) AS c FROM sh GROUP BY 1),
      |shf AS (SELECT sh.doc_id, sh.s FROM sh JOIN df ON sh.s = df.s WHERE df.c <= 5),
      |sizes AS (SELECT doc_id, count(*) AS n FROM shf GROUP BY 1),
      |pairs AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS inter
      |          FROM shf a JOIN shf b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
      |SELECT id1, id2, jaccard FROM (
      |  SELECT id1, id2, CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jaccard
      |  FROM pairs JOIN sizes sa ON sa.doc_id = id1 JOIN sizes sb ON sb.doc_id = id2)
      |WHERE jaccard >= 0.8 ORDER BY id1, id2""".stripMargin

  /** Shared CTE chain for the component-resolution oracles: the JACCARD_SQL
    * pair derivation (verbatim semantics), then symmetric edges, then the
    * transitive closure as a recursive CTE ending in per-node min label. */
  private val COMPONENT_CTES =
    """w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |idx AS (SELECT doc_id, w, unnest(range(1, greatest(len(w) - 1, 2))) AS i FROM w),
      |sh AS (SELECT DISTINCT doc_id, array_to_string(list_slice(w, i, i + 2), ' ') AS s FROM idx),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |cand AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS inter
      |         FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
      |p AS (SELECT id1, id2 FROM (
      |    SELECT id1, id2, CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jaccard
      |    FROM cand JOIN sizes sa ON sa.doc_id = id1 JOIN sizes sb ON sb.doc_id = id2)
      |  WHERE jaccard >= 0.8),
      |e AS (SELECT id1 AS u, id2 AS v FROM p UNION SELECT id2, id1 FROM p),
      |reach(id, lab) AS (
      |  SELECT u, u FROM e
      |  UNION
      |  SELECT e.u, r.lab FROM reach r JOIN e ON e.v = r.id),
      |comp AS (SELECT id, min(lab) AS comp FROM reach GROUP BY id)""".stripMargin

  private val COMPONENTS_SQL =
    s"""WITH RECURSIVE
       |$COMPONENT_CTES
       |SELECT id, comp FROM comp ORDER BY id""".stripMargin

  private val CANONICAL_SQL =
    s"""WITH RECURSIVE
       |$COMPONENT_CTES
       |SELECT d.doc_id, coalesce(c.comp, d.doc_id) AS canonical_id
       |FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** Cluster-size histogram over the same recursive canonical closure
    * (`csz`, not `sizes` — COMPONENT_CTES already binds `sizes` to the
    * shingle-set cardinalities). */
  private val CLUSTER_SIZES_SQL =
    s"""WITH RECURSIVE
       |$COMPONENT_CTES,
       |canon AS (SELECT d.doc_id, coalesce(c.comp, d.doc_id) AS canonical_id
       |  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id),
       |csz AS (SELECT canonical_id, count(*) AS cluster_size FROM canon GROUP BY 1)
       |SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
       |  count(*) AS n_clusters,
       |  CAST(cluster_size * count(*) AS BIGINT) AS n_docs
       |FROM csz GROUP BY cluster_size ORDER BY cluster_size""".stripMargin

  val all: Seq[Query] = Seq(

    Query("dedup_exact", (s, dir) => Dedup.exact(Tables.documents(s, dir)).orderBy("keep_id"),
      Oracle("""SELECT min(doc_id) AS keep_id, count(*) AS n_copies
          |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin)),

    // append-only ingest: docs >= 250 arrive as the new batch, docs < 250
    // are the accumulated corpus — survivors are batch-unseen texts
    Query("dedup_incremental", (s, dir) => {
      val all = Tables.documents(s, dir)
      Dedup.exactIncrement(
        all.filter(col("doc_id") >= 250),
        all.filter(col("doc_id") < 250)).orderBy("keep_id")
    },
      // NOT EXISTS (not NOT IN) + explicit null-text filters: pins the same
      // null semantics as the Scala side's isNotNull + anti join
      Oracle("""WITH seen AS (SELECT md5(text) AS h FROM documents WHERE doc_id < 250 AND text IS NOT NULL),
          |b AS (SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id >= 250 AND text IS NOT NULL)
          |SELECT min(doc_id) AS keep_id, count(*) AS n_copies
          |FROM b WHERE NOT EXISTS (SELECT 1 FROM seen WHERE seen.h = b.h)
          |GROUP BY b.h ORDER BY keep_id""".stripMargin)),

    // the Bloom pre-filter in front of that anti-join: probe the batch
    // against the corpus Bloom — zero false negatives structurally, only
    // the FPR slice of unseen texts pays the exact check. The probe set
    // plants the corpus's first 50 docs so the no-false-negative invariant
    // is exercised on real members, not vacuously
    Query("dedup_bloom_prefilter", (s, dir) => {
      val all = Tables.documents(s, dir)
      graft.ops.Sketches.bloomCertificate(
        all.filter(col("doc_id") < 250),
        all.filter(col("doc_id") >= 250 || col("doc_id") < 50), col("text"))
    },
      // the Bloom set-bit table replayed: 4 positions sliced from one md5
      // (4 hex chars each, mod 32768), hit ⇔ all 4 set; exact membership
      // reconciled by full-string join — false negatives must be 0
      Oracle("""WITH corpus AS (SELECT DISTINCT text AS v FROM documents
          |  WHERE doc_id < 250 AND text IS NOT NULL),
          |probes AS (SELECT DISTINCT text AS v FROM documents
          |  WHERE (doc_id >= 250 OR doc_id < 50) AND text IS NOT NULL),
          |cpos AS (SELECT DISTINCT pos FROM (SELECT unnest([
          |    ('0x' || substr(md5('bloom:' || v), 1, 4))::BIGINT % 32768,
          |    ('0x' || substr(md5('bloom:' || v), 5, 4))::BIGINT % 32768,
          |    ('0x' || substr(md5('bloom:' || v), 9, 4))::BIGINT % 32768,
          |    ('0x' || substr(md5('bloom:' || v), 13, 4))::BIGINT % 32768
          |  ]) AS pos FROM corpus)),
          |ppos AS (SELECT v, unnest([
          |    ('0x' || substr(md5('bloom:' || v), 1, 4))::BIGINT % 32768,
          |    ('0x' || substr(md5('bloom:' || v), 5, 4))::BIGINT % 32768,
          |    ('0x' || substr(md5('bloom:' || v), 9, 4))::BIGINT % 32768,
          |    ('0x' || substr(md5('bloom:' || v), 13, 4))::BIGINT % 32768
          |  ]) AS pos FROM probes),
          |hit AS (SELECT p.v, count(c.pos) = 4 AS bloom_hit
          |  FROM ppos p LEFT JOIN cpos c ON c.pos = p.pos GROUP BY p.v),
          |fl AS (SELECT h.bloom_hit, (c.v IS NOT NULL) AS is_member
          |  FROM hit h LEFT JOIN corpus c ON c.v = h.v),
          |a AS (SELECT count(*) AS n_probes,
          |    CAST(sum(CASE WHEN is_member THEN 1 ELSE 0 END) AS BIGINT)
          |      AS n_members,
          |    CAST(sum(CASE WHEN bloom_hit THEN 1 ELSE 0 END) AS BIGINT)
          |      AS n_bloom_hits,
          |    CAST(sum(CASE WHEN bloom_hit AND NOT is_member THEN 1 ELSE 0 END)
          |      AS BIGINT) AS n_false_pos,
          |    CAST(sum(CASE WHEN NOT bloom_hit AND is_member THEN 1 ELSE 0 END)
          |      AS BIGINT) AS n_false_neg FROM fl)
          |SELECT n_probes, n_members, n_bloom_hits, n_false_pos, n_false_neg,
          |  CASE WHEN n_probes - n_members > 0 THEN
          |    CAST(n_false_pos AS DOUBLE) / CAST(n_probes - n_members AS DOUBLE)
          |  END AS fpr_measured
          |FROM a""".stripMargin)),

    // the fuzzy twin: batch docs near-duplicating the accumulated corpus
    // via the banded MinHash table (what a rolling ingest drops nightly)
    Query("dedup_incremental_lsh", (s, dir) => {
      val all = Tables.documents(s, dir)
      Dedup.minhashIncrement(
        all.filter(col("doc_id") >= 250),
        all.filter(col("doc_id") < 250)).orderBy("batch_id", "seen_id")
    },
      // LSH candidates + exact-Jaccard verify against the brute-force
      // batch×seen cross scoring (misses are governed by the 16×4 band
      // family — ~2e-4 at j=0.8, vanishing at the planted-dup 1.0)
      Oracle("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
          |idx AS (SELECT doc_id, w, unnest(range(1, greatest(len(w) - 1, 2))) AS i FROM w),
          |sh AS (SELECT DISTINCT doc_id, array_to_string(list_slice(w, i, i + 2), ' ') AS s FROM idx),
          |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
          |pairs AS (SELECT b.doc_id AS batch_id, a.doc_id AS seen_id, count(*) AS inter
          |          FROM sh b JOIN sh a ON b.s = a.s AND b.doc_id >= 250 AND a.doc_id < 250
          |          GROUP BY 1, 2)
          |SELECT batch_id, seen_id, jaccard FROM (
          |  SELECT batch_id, seen_id, CAST(inter AS DOUBLE) / (sb.n + sa.n - inter) AS jaccard
          |  FROM pairs JOIN sizes sb ON sb.doc_id = batch_id JOIN sizes sa ON sa.doc_id = seen_id)
          |WHERE jaccard >= 0.8 ORDER BY batch_id, seen_id""".stripMargin)),

    Query("dedup_jaccard", (s, dir) =>
      Dedup.ngramJaccard(Tables.documents(s, dir)).orderBy("id1", "id2"),
      // dedup_minhash verifies its LSH candidates with exact jaccard, so its
      // oracle is the same brute-force inverted-index query.
      Oracle(JACCARD_SQL)),

    Query("dedup_minhash", (s, dir) =>
      Dedup.minhashLsh(Tables.documents(s, dir)).orderBy("id1", "id2"),
      Oracle(JACCARD_SQL)),

    // the 100 TB scale guard: drop shingles present in more than
    // maxDocFreq docs BEFORE the pair-generating self-join (a ubiquitous
    // shingle's posting list is a quadratic blowup and carries no dedup
    // signal). 5 bites on this corpus (max df is 7-9 at test SFs).
    Query("dedup_jaccard_capped", (s, dir) =>
      Dedup.ngramJaccard(Tables.documents(s, dir), maxDocFreq = 5).orderBy("id1", "id2"),
      Oracle(JACCARD_CAPPED_SQL)),

    // terminal dedup stage: resolve the jaccard pair list into connected
    // components (min-label + pointer doubling, O(log n) rounds), then map
    // EVERY corpus doc to its cluster representative. BOTH stages come
    // through write-once artifacts (see jaccardPairs /
    // jaccardComponents) — generation and closure are deterministic,
    // so artifact and recompute are result-identical and each entry's
    // oracle still certifies the full composition; the whole components
    // family shares ONE closure run per corpus.
    Query("dedup_components", (s, dir) => jaccardComponents(s, dir).orderBy("id"),
      // component resolution over the jaccard pairs: DuckDB computes the
      // transitive closure with a recursive CTE (UNION dedups, labels are a
      // finite id set → terminates); min reachable id per node is exactly
      // the min-label fixpoint the engine's pointer-doubling loop certifies.
      Oracle(COMPONENTS_SQL)),

    Query("dedup_canonical", (s, dir) => canonicalDocs(s, dir).orderBy("doc_id"),
      Oracle(CANONICAL_SQL)),

    // how BAD is duplication: clusters and docs per cluster size — the
    // corpus-report curve over the same canonical resolution
    Query("dedup_cluster_sizes", (s, dir) => Graph.clusterSizeHistogram(
      canonicalDocs(s, dir)).orderBy("cluster_size"),
      Oracle(CLUSTER_SIZES_SQL)),

    // cluster-keyed split over the same canonical resolution: near-dups
    // can never straddle the train/eval boundary
    Query("q_split_leakage_safe", (s, dir) =>
      Sampling.leakageSafeSplitFromCanon(canonicalDocs(s, dir))
        .orderBy("doc_id"),
      // the canonical-id CTE then the SAME 256-bucket md5 rule as
      // q_split_census, keyed on the cluster representative
      Oracle(s"""WITH RECURSIVE
           |$COMPONENT_CTES
           |SELECT d.doc_id, coalesce(c.comp, d.doc_id) AS canonical_id,
           |  CASE WHEN substr(md5('split:' || CAST(coalesce(c.comp, d.doc_id) AS VARCHAR)), 1, 2) <= 'e5'
           |       THEN 'train' ELSE 'eval' END AS split
           |FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
           |ORDER BY d.doc_id""".stripMargin)),

    // cluster-representative selection by QUALITY: per near-dup cluster
    // keep the highest-quality member (micro-quantized exact longs, tie
    // → min doc_id) — the curation refinement of min-id
    // canonicalization ("keep the best copy, not the first copy"), over
    // the same shared closure artifact; one join + one aggregate
    Query("dedup_best_of_cluster", (s, dir) => {
      val qm = TextAnalysis.quality(Tables.documents(s, dir))
        .select(col("doc_id"),
          floor(col("quality_score") * 1000000.0).cast("long").as("qm"))
      canonicalDocs(s, dir).join(qm, "doc_id")
        .groupBy("canonical_id")
        .agg(count(lit(1)).as("n_members"),
          max("qm").as("best_q_micro"),
          min_by(col("doc_id"), struct((-col("qm")).as("nq"), col("doc_id")))
            .as("keep_id"))
        .select("canonical_id", "keep_id", "n_members", "best_q_micro")
        .orderBy("canonical_id")
    },
      // quality-argmax representative over the same recursive closure: the
      // micro-quantized score is the identical per-row double floored, so
      // max/argmax compare exact longs in both engines
      Oracle(s"""WITH RECURSIVE
           |$COMPONENT_CTES,
           |qv AS (SELECT doc_id,
           |    CAST(floor((ttr * 0.4 + stopword_ratio * 0.3 +
           |      CASE WHEN n_tokens >= 40 THEN 0.3
           |           ELSE CAST(n_tokens AS DOUBLE) / 40.0 * 0.3 END) * 1000000.0) AS BIGINT) AS qm
           |  FROM (
           |    SELECT doc_id,
           |      len(string_split(text, ' ')) AS n_tokens,
           |      CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
           |        / len(string_split(text, ' ')) AS ttr,
           |      CAST(len(list_filter(string_split(text, ' '), x -> x IN ('the', 'a'))) AS DOUBLE)
           |        / len(string_split(text, ' ')) AS stopword_ratio
           |    FROM documents)),
           |cmap AS (SELECT d.doc_id, coalesce(c.comp, d.doc_id) AS canonical_id
           |  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id),
           |sel AS (SELECT cm.canonical_id, cm.doc_id, q.qm,
           |    row_number() OVER (PARTITION BY cm.canonical_id ORDER BY q.qm DESC, cm.doc_id) AS rn,
           |    count(*) OVER (PARTITION BY cm.canonical_id) AS n_members,
           |    max(q.qm) OVER (PARTITION BY cm.canonical_id) AS best_q_micro
           |  FROM cmap cm JOIN qv q ON q.doc_id = cm.doc_id)
           |SELECT canonical_id, doc_id AS keep_id,
           |  CAST(n_members AS BIGINT) AS n_members, best_q_micro
           |FROM sel WHERE rn = 1 ORDER BY canonical_id""".stripMargin)),

    // per-user DAILY ingest throttle on the event stream (day bucket:
    // this corpus tops out at 3 events per user-hour but 10 per user-day,
    // so the cap provably drops rows here)
    Query("q_rate_cap", (s, dir) =>
      Sampling.rateCap(Tables.events(s, dir), cap = 5, bucket = "day")
        .select("event_id", "user_id", "rank_in_bucket")
        .orderBy("event_id"),
      Oracle("""SELECT event_id, user_id, rank_in_bucket FROM (
          |  SELECT event_id, user_id,
          |    CAST(row_number() OVER (PARTITION BY user_id, date_trunc('day', ts)
          |      ORDER BY ts, event_id) AS BIGINT) AS rank_in_bucket
          |  FROM events WHERE ts IS NOT NULL)
          |WHERE rank_in_bucket <= 5 ORDER BY event_id""".stripMargin)),

    // curation dashboards over the same pair artifact: which sources copy
    // which, and how much of each source a dedup pass would drop
    Query("dedup_source_matrix", (s, dir) => Graph.sourceDupMatrix(
      Tables.documents(s, dir), jaccardPairs(s, dir)).orderBy("source_a", "source_b"),
      Oracle(s"""WITH RECURSIVE
           |$COMPONENT_CTES
           |SELECT source_a, source_b, count(*) AS n_pairs FROM (
           |  SELECT least(da.source, db.source) AS source_a,
           |         greatest(da.source, db.source) AS source_b
           |  FROM p
           |  JOIN documents da ON da.doc_id = p.id1
           |  JOIN documents db ON db.doc_id = p.id2)
           |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    Query("dedup_source_rate", (s, dir) => Graph.sourceDupRateFromCanon(
      canonicalDocs(s, dir), Tables.documents(s, dir)).orderBy("source"),
      Oracle(s"""WITH RECURSIVE
           |$COMPONENT_CTES
           |SELECT d.source, count(*) AS n_docs,
           |  count(CASE WHEN coalesce(c.comp, d.doc_id) <> d.doc_id THEN 1 END) AS n_dups
           |FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
           |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // the volume-weighted companion: source_rate counts DOCS a dedup
    // pass drops; this weighs them in CHARS — at 100 TB the byte bill,
    // not the row count, is what the scan budget reads. Same shared
    // canonical resolution, one join + one aggregate
    Query("dedup_savings", (s, dir) =>
      canonicalDocs(s, dir)
        .join(Tables.documents(s, dir).select("doc_id", "source", "n_chars"), "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_chars").as("chars_total"),
          sum(when(col("canonical_id") =!= col("doc_id"), col("n_chars"))
            .otherwise(0L)).as("chars_dropped"))
        .withColumn("drop_share",
          col("chars_dropped").cast("double") / col("chars_total"))
        .orderBy("source"),
      Oracle(s"""WITH RECURSIVE
           |$COMPONENT_CTES,
           |cmap AS (SELECT d.doc_id, d.source, d.n_chars,
           |    coalesce(c.comp, d.doc_id) AS canonical_id
           |  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id)
           |SELECT source, count(*) AS n_docs,
           |  CAST(sum(n_chars) AS BIGINT) AS chars_total,
           |  CAST(sum(CASE WHEN canonical_id <> doc_id THEN n_chars ELSE 0 END) AS BIGINT)
           |    AS chars_dropped,
           |  CAST(sum(CASE WHEN canonical_id <> doc_id THEN n_chars ELSE 0 END) AS DOUBLE)
           |    / sum(n_chars) AS drop_share
           |FROM cmap GROUP BY source ORDER BY source""".stripMargin)),

    // the 100 TB composition: CC over the MinHash-LSH pair generator —
    // same oracle as dedup_components because LSH+verify reproduces the
    // exact pair set on this corpus (the dedup_minhash contract); its own
    // components artifact, keyed by its generator
    Query("dedup_components_lsh", (s, dir) => minhashComponents(s, dir).orderBy("id"),
      Oracle(COMPONENTS_SQL)),

    // incremental closure maintenance: a STORED components frame (itself
    // a write-once artifact — the state a nightly job maintains, read
    // here, never re-resolved per query) merged with a new pair batch
    // through the batch-bounded quotient closure — no corpus re-walk.
    // The result is split-invariant, so the oracle is the same full
    // transitive closure as dedup_components: merge ≡ recompute, end to
    // end
    Query("dedup_components_increment", (s, dir) => {
      val pairs = jaccardPairs(s, dir)
      val isNew = pmod(col("id1") + col("id2"), lit(4L)) === 0L
      val stored = Artifacts.cached(s, "comps", "jaccard_seen", dir)(
        Graph.connectedComponents(pairs.filter(!isNew)))
      Graph.componentsIncrement(stored, pairs.filter(isNew)).orderBy("id")
    },
      // merge ≡ recompute: the incremental result is split-invariant, so
      // the full-closure oracle certifies the quotient merge exactly
      Oracle(COMPONENTS_SQL)),

    Query("dedup_simhash", (s, dir) =>
      Dedup.simhashPairs(Tables.documents(s, dir)).orderBy("id1", "id2"),
      RowsOnly("xxhash64 fingerprints have no DuckDB twin; dedup_simhash_planted and " +
        "the portable dedup_simhash_md5 check the same pipeline against oracles")),

    // the portable md5 twin: the SAME sign-aggregate + pigeonhole
    // pipeline over a 60-bit md5 slice, so the FULL near-dup pair set
    // hash-matches a DuckDB replay — the verification face the xxhash64
    // hot path (rows-only by design) gets checked against
    Query("dedup_simhash_md5", (s, dir) =>
      Dedup.simhashPairsPortable(Tables.documents(s, dir)).orderBy("id1", "id2"),
      Oracle(SIMHASH_MD5_SQL)),

    // simhash's hash family isn't SQL-expressible, but identical shingle
    // SETS imply identical simhash structurally — so planting exact copies
    // (and pairing at hamming 0) reduces the operator to an
    // oracle-checkable one: the pair set must equal the identical-
    // shingle-set (jaccard = 1.0) pairs over the same planted universe,
    // recall 1.0 by construction. The universe is docs 0..99 — measured
    // free of natural near-dups at every SF — because simhash at hamming 0
    // legitimately pairs the generator's planted near-dups too (2-3
    // differing shingles need not flip any of 64 bit-sums), and no jaccard
    // threshold separates those from non-pairs. The probabilistic
    // hamming<=3 variant above stays rows-only.
    Query("dedup_simhash_planted", (s, dir) => {
      val base = Tables.documents(s, dir).select("doc_id", "text")
        .filter(col("doc_id") < 100)
      val planted = base.filter(col("doc_id") < 20)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      Dedup.simhashPairs(base.unionByName(planted), maxHamming = 0)
        .select("id1", "id2").orderBy("id1", "id2")
    },
      // dedup_simhash / sim_topk_ivf: hash-family/ANN internals are not
      // SQL-expressible; the driver records rows-only checks for them. The
      // planted reductions below ARE hash-checked (identical shingle sets /
      // full probing make the probabilistic machinery exact).
      Oracle("""WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id < 100),
          |planted AS (SELECT doc_id + 1000000 AS doc_id, text FROM base WHERE doc_id < 20),
          |corpus AS (SELECT * FROM base UNION ALL SELECT * FROM planted),
          |w AS (SELECT doc_id, string_split(text, ' ') AS w FROM corpus),
          |idx AS (SELECT doc_id, w, unnest(range(1, greatest(len(w) - 1, 2))) AS i FROM w),
          |sh AS (SELECT DISTINCT doc_id, array_to_string(list_slice(w, i, i + 2), ' ') AS s FROM idx),
          |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
          |pairs AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS inter
          |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
          |SELECT id1, id2
          |FROM pairs JOIN sizes sa ON sa.doc_id = id1 JOIN sizes sb ON sb.doc_id = id2
          |WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 1.0
          |ORDER BY id1, id2""".stripMargin)),

    Query("dedup_embedding", (s, dir) =>
      Dedup.embeddingNearDup(Tables.embeddings(s, dir)).orderBy("id1", "id2"),
      Oracle("""SELECT id1, id2, label, cosine FROM (
          |  SELECT a.vec_id AS id1, b.vec_id AS id2, a.label AS label,
          |    list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) AS cosine
          |  FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id)
          |WHERE cosine >= 0.3 ORDER BY id1, id2""".stripMargin)),

    // unlabeled scale path: banded SRP-LSH buckets + exact-cosine verify.
    // The corpus has no natural near-dups (max pairwise cosine ≈ 0.48), so
    // the query PLANTS scaled copies of the first 20 vectors: a scaled
    // copy has structurally identical projection signs → recall 1.0 by
    // construction, precision exact by verification — which is what lets a
    // probabilistic LSH operator be hash-compared against a brute-force
    // DuckDB oracle over the same planted corpus. Compared output is the
    // pair SET only: a scaled pair's cosine is degenerate (≈1.0), where
    // DuckDB's list_cosine_similarity clamps to exactly 1.0 while the
    // mirrored arithmetic lands one ulp below — cosine VALUES are
    // hash-checked by dedup_embedding, whose natural pairs sit far from
    // the boundary.
    Query("dedup_embedding_lsh", (s, dir) => {
      val base = Tables.embeddings(s, dir)
        .select(col("vec_id"), Similarity.toDouble(col("embedding")).as("embedding"))
      val planted = base.filter(col("vec_id") < 20)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          transform(col("embedding"), _ * lit(1.001)).as("embedding"))
      Dedup.embeddingNearDupLsh(base.unionByName(planted), threshold = 0.99)
        .select("id1", "id2").orderBy("id1", "id2")
    },
      Oracle("""WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          |planted AS (SELECT vec_id + 1000000 AS vec_id,
          |                   list_transform(v, x -> x * CAST(1.001 AS DOUBLE)) AS v
          |            FROM base WHERE vec_id < 20),
          |corpus AS (SELECT * FROM base UNION ALL SELECT * FROM planted)
          |SELECT id1, id2 FROM (
          |  SELECT a.vec_id AS id1, b.vec_id AS id2, list_cosine_similarity(a.v, b.v) AS cosine
          |  FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id)
          |WHERE cosine >= 0.99 ORDER BY id1, id2""".stripMargin)),

    // SemDeDup over the planted-cluster corpus (the embeddings table has
    // no natural semantic dups — max pairwise cosine ≈ 0.5): k-center
    // cells bound the pair stage, within-cell cosine >= 0.9 prunes to
    // the cell-local min-id keeper. Both faces replay fully in DuckDB
    // through the shared unrolled k-center chain.
    Query("dedup_semantic_pairs", (s, dir) =>
      Similarity.semanticDedupPairs(
        Similarity.plantedClusterCorpusMaterialized(Tables.embeddings(s, dir)))
        .orderBy("id1", "id2"),
      // the SemDeDup faces: planted corpus + k-center chain + within-cell
      // pair stage shared via SEMDEDUP_CTES
      Oracle(SEMDEDUP_CTES + """
        |SELECT center_id, id1, id2, cos FROM sempairs
        |ORDER BY id1, id2""".stripMargin)),
    Query("dedup_semantic", (s, dir) =>
      Similarity.semanticDedup(
        Similarity.plantedClusterCorpusMaterialized(Tables.embeddings(s, dir)))
        .orderBy("vec_id"),
      Oracle(SEMDEDUP_CTES + """,
        |pruned AS (SELECT id2 AS vec_id, min(id1) AS pruned_by,
        |    max(cos) AS max_cos
        |  FROM sempairs GROUP BY 1)
        |SELECT g.vec_id, g.center_id, p.pruned_by,
        |  CAST(CASE WHEN p.pruned_by IS NULL THEN 1 ELSE 0 END AS BIGINT) AS keep,
        |  p.max_cos
        |FROM asg g LEFT JOIN pruned p ON p.vec_id = g.vec_id
        |ORDER BY g.vec_id""".stripMargin)),

    // the terminal's incremental-maintenance face: late batch (% 5 = 4,
    // the sim_index_increment split) pruned against stored KEPT
    // cellmates and smaller-id batch cellmates, exemplars from the
    // stored slice only — the whole increment replays in DuckDB
    Query("dedup_semantic_increment", (s, dir) => {
      val planted = Similarity.plantedClusterCorpusMaterialized(Tables.embeddings(s, dir))
      Similarity.semanticDedupIncrement(
        planted.filter(col("vec_id") % 5 =!= 4),
        planted.filter(col("vec_id") % 5 === 4))
        .orderBy("vec_id")
    },
      Oracle(DEDUP_SEM_INCR_SQL)),

    Query("dedup_editdist", (s, dir) =>
      // candidates come through the same write-once jaccard pair artifact
      // the component-resolution entries consume — the DP verify is the
      // only per-run cost (the offline shape: pair list nightly, verify on
      // demand); generation-vs-artifact equality is Artifacts' determinism
      // contract, and the oracle below stays the full brute-force check
      Dedup.editDistanceFrom(jaccardPairs(s, dir), Tables.documents(s, dir))
        .orderBy("id1", "id2"),
      Oracle("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
          |idx AS (SELECT doc_id, w, unnest(range(1, greatest(len(w) - 1, 2))) AS i FROM w),
          |sh AS (SELECT DISTINCT doc_id, array_to_string(list_slice(w, i, i + 2), ' ') AS s FROM idx),
          |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
          |prs AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS inter
          |        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
          |cand AS (
          |  SELECT id1, id2, CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jaccard
          |  FROM prs JOIN sizes sa ON sa.doc_id = id1 JOIN sizes sb ON sb.doc_id = id2
          |  WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.8)
          |SELECT id1, id2, jaccard,
          |  CAST(levenshtein(d1.text, d2.text) AS INT) AS edit_dist,
          |  1.0 - CAST(levenshtein(d1.text, d2.text) AS DOUBLE)
          |    / greatest(length(d1.text), length(d2.text)) AS edit_sim
          |FROM cand JOIN documents d1 ON d1.doc_id = id1 JOIN documents d2 ON d2.doc_id = id2
          |ORDER BY id1, id2""".stripMargin)),
  )
}
