package graft
package queries

import org.apache.spark.sql.functions._

import graft.ops._
import SparkEntry.kcenterCtes

/** LLM-pipeline similarity search over the embeddings table. */
object SimilarityQueries {

  /** Brute-force top-5 over the SQL-reconstructed planted-cluster corpus —
    * the shared certificate oracle for sim_topk_ivf_clustered,
    * sim_topk_pq_planted, and sim_topk_ivfpq_planted. */
  private val PLANTED_TOPK_SQL =
    """WITH base AS (
      |  SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]), x -> x) AS v
      |  FROM embeddings),
      |members AS (
      |  SELECT CASE WHEN j = 0 THEN s.vec_id
      |              ELSE 1000 + s.vec_id * 6 + j END AS vec_id,
      |         list_transform(s.v, x -> x + 0.002 * j) AS v
      |  FROM (SELECT vec_id, v FROM base WHERE vec_id < 8) s
      |  CROSS JOIN (SELECT unnest(range(6)) AS j) js),
      |bg AS (SELECT vec_id + 1000000 AS vec_id, v FROM base WHERE vec_id >= 8),
      |corpus AS (SELECT vec_id, v FROM members UNION ALL SELECT vec_id, v FROM bg)
      |SELECT query_id, rank, neighbor_id, cosine FROM (
      |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
      |    list_cosine_similarity(a.v, b.v) AS cosine,
      |    row_number() OVER (PARTITION BY a.vec_id
      |      ORDER BY list_cosine_similarity(a.v, b.v) DESC, b.vec_id) AS rank
      |  FROM corpus a JOIN corpus b ON a.vec_id <> b.vec_id
      |  WHERE a.vec_id < 8)
      |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** DuckDB twin of Similarity.principalDirection: the SAME exact Gram
    * sketch (one integer-summed pass over the milli-quantized corpus)
    * and the same 8 driver rounds unrolled as CTEs over that d×d
    * relation — every cross-term sum is integer (order-free) and every
    * float step a single correctly-rounded scalar op, so each loading
    * hash-matches bit-for-bit. */
  private val PCA_K = 8

  /** The shared one-scan Gram CTEs: per-element milli-longs, exact
    * HUGEINT-safe pair sums for i ≤ j (1-based, DuckDB list indexing),
    * mirrored to the full symmetric matrix the rounds multiply by. */
  private val PCA_GRAM_CTES: String = """qr AS (SELECT vec_id, list_transform(x, xe -> CAST(floor(1000.0 * xe) AS BIGINT)) AS q FROM e),
    |qx AS MATERIALIZED (SELECT vec_id, u.pr.i AS i, u.pr.e AS e
    |  FROM (SELECT vec_id, unnest(list_transform(q, (e, i) -> {'i': i, 'e': e})) AS pr FROM qr) u),
    |gram AS MATERIALIZED (SELECT a.i AS i, b.i AS j, CAST(sum(a.e * b.e) AS BIGINT) AS g
    |  FROM qx a JOIN qx b ON a.vec_id = b.vec_id AND a.i <= b.i GROUP BY 1, 2),
    |gramfull AS MATERIALIZED (SELECT i, j, g FROM gram UNION ALL SELECT j AS i, i AS j, g FROM gram WHERE i < j),
    |dims AS MATERIALIZED (SELECT DISTINCT i AS j FROM gram),
    |dd AS (SELECT CAST(count(*) AS DOUBLE) AS d FROM dims)""".stripMargin

  /** One unrolled Gram-power block, CTE names prefixed so blocks chain;
    * `priors` are the earlier components' quantized-axis CTEs the
    * iterate re-orthogonalizes against each round (the driver's
    * one-sided deflation, float part per-element only). */
  private def pcaIterCtes(pfx: String, priors: Seq[String]): String = {
    val sb = new StringBuilder
    sb ++= s"${pfx}v0q AS (SELECT j, CAST(floor(1000000.0 / sqrt(dd.d)) AS BIGINT) AS vq FROM dims, dd)"
    for (r <- 1 to PCA_K) {
      val p = r - 1
      sb ++= s""",
        |${pfx}ya$r AS MATERIALIZED (SELECT g.j AS j, SUM(CAST(g.g AS HUGEINT) * v.vq) AS y
        |  FROM gramfull g JOIN ${pfx}v${p}q v ON g.i = v.j GROUP BY 1)""".stripMargin
      var prev = s"${pfx}ya$r"
      priors.zipWithIndex.foreach { case (u, pi) =>
        sb ++= s""",
          |${pfx}dp${r}_$pi AS (SELECT SUM(CAST(u.vq AS HUGEINT) * y.y) AS dp FROM $u u JOIN $prev y ON u.j = y.j),
          |${pfx}yb${r}_$pi AS MATERIALIZED (SELECT y.j AS j,
          |    y.y - CAST(floor(CAST(d.dp AS DOUBLE) / 1000000000000.0 * CAST(u.vq AS DOUBLE)) AS HUGEINT) AS y
          |  FROM $prev y JOIN $u u ON y.j = u.j, ${pfx}dp${r}_$pi d)""".stripMargin
        prev = s"${pfx}yb${r}_$pi"
      }
      sb ++= s""",
        |${pfx}n$r AS (SELECT sqrt(CAST(SUM(y * y) AS DOUBLE)) AS norm FROM $prev),
        |${pfx}v$r AS MATERIALIZED (SELECT j, CAST(y AS DOUBLE) / n.norm AS v FROM $prev y, ${pfx}n$r n),
        |${pfx}v${r}q AS (SELECT j, CAST(floor(1000000.0 * v) AS BIGINT) AS vq FROM ${pfx}v$r)""".stripMargin
    }
    sb.toString
  }

  private val PCA_CTES: String =
    "WITH e AS MATERIALIZED (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS x FROM embeddings),\n" +
      PCA_GRAM_CTES + ",\n" + pcaIterCtes("", Nil) + s""",
    |axis1 AS (SELECT list(v ORDER BY j) AS v FROM v$PCA_K)""".stripMargin

  private val PCA_SQL: String = PCA_CTES + s"""
    |SELECT v.j - 1 AS dim, v.v AS loading, n.norm / 1000000000000.0 AS lambda
    |FROM v$PCA_K v, n$PCA_K n ORDER BY dim""".stripMargin

  /** The projection consumer: each vector's kernel dot with the final
    * axis — scores are per-row doubles, oracle-exact. */
  private val PCA_SCORES_SQL: String = PCA_CTES + s"""
    |SELECT e.vec_id, list_inner_product(e.x, a.v) AS score
    |FROM e, axis1 a ORDER BY e.vec_id""".stripMargin

  /** Rank-2 twin: component 2 runs the SAME Gram rounds with the
    * component-1 quantized axis as deflation prior — zero extra corpus
    * passes, exactly the driver's arithmetic. */
  private val PCA2_CTES: String = PCA_CTES + ",\n" +
    pcaIterCtes("c2", Seq(s"v${PCA_K}q")) + s""",
    |axis2 AS (SELECT list(v ORDER BY j) AS v FROM c2v$PCA_K)""".stripMargin

  private val PCA2_SQL: String = PCA2_CTES + s"""
    |SELECT CAST(1 AS INT) AS component, v.j - 1 AS dim, v.v AS loading,
    |  n.norm / 1000000000000.0 AS lambda
    |FROM v$PCA_K v, n$PCA_K n
    |UNION ALL
    |SELECT CAST(2 AS INT), v.j - 1, v.v, n.norm / 1000000000000.0
    |FROM c2v$PCA_K v, c2n$PCA_K n
    |ORDER BY component, dim""".stripMargin

  /** The 2-D map: c1 on the corpus frame, c2 on the per-row RESIDUAL
    * (x minus the axis-1 coordinate) — the apply-side convention the
    * engine's principalCoords uses. */
  private val PCA_COORDS_SQL: String = PCA2_CTES + s""",
    |e2 AS MATERIALIZED (SELECT q2.vec_id, list_transform(q2.x, (xe, i) -> xe - q2.s * q2.v[i]) AS x
    |  FROM (SELECT e.vec_id, e.x, a.v, list_inner_product(e.x, a.v) AS s FROM e, axis1 a) q2)
    |SELECT e.vec_id, list_inner_product(e.x, a.v) AS c1,
    |  list_inner_product(e2.x, b.v) AS c2
    |FROM e JOIN e2 USING (vec_id), axis1 a, axis2 b
    |ORDER BY e.vec_id""".stripMargin

  /** The drift screen: per-label exact median/MAD of the micro-quantized
    * axis coordinate (the q_value_mad rank selection) and the k·MAD
    * outlier count. */
  private val PCA_OUTLIERS_SQL: String = PCA_CTES + s""",
    |sq AS (SELECT e.label,
    |    CAST(floor(1000000.0 * list_inner_product(e.x, a.v)) AS BIGINT) AS qv
    |  FROM e, axis1 a WHERE e.label IS NOT NULL),
    |sr AS (SELECT label, qv,
    |    row_number() OVER (PARTITION BY label ORDER BY qv) AS rn,
    |    count(*) OVER (PARTITION BY label) AS n FROM sq),
    |smed AS (SELECT label, qv AS med_q FROM sr WHERE rn = (n + 1) // 2),
    |sd AS (SELECT sq.label, sq.qv, smed.med_q, abs(sq.qv - smed.med_q) AS dev
    |       FROM sq JOIN smed USING (label)),
    |srd AS (SELECT label, dev,
    |    row_number() OVER (PARTITION BY label ORDER BY dev) AS rn,
    |    count(*) OVER (PARTITION BY label) AS n FROM sd),
    |smad AS (SELECT label, dev AS mad_q FROM srd WHERE rn = (n + 1) // 2)
    |SELECT sd.label, count(*) AS n, max(sd.med_q) AS med_q,
    |  max(smad.mad_q) AS mad_q,
    |  CAST(sum(CASE WHEN sd.dev > 3 * smad.mad_q THEN 1 ELSE 0 END) AS BIGINT) AS n_out
    |FROM sd JOIN smad USING (label)
    |GROUP BY sd.label ORDER BY sd.label""".stripMargin

  private val KCENTER_CTES: String = kcenterCtes("")

  /** The increment replay: exemplars greedily selected from the STORED
    * slice only, the late-arriving batch assigned per-row (cos desc,
    * center-id ties) against them — the full incremental-maintenance
    * path in SQL, which the Lloyd IVF increment can never have. */
  private val KCENTER_INCR_SQL: String =
    kcenterCtes("vec_id % 5 <> 4") + """,
      |kcenters AS (SELECT vec_id AS centroid_id, v AS cv FROM sel),
      |batch AS (SELECT vec_id, v FROM corpus WHERE vec_id % 5 = 4)
      |SELECT vec_id, cell, assign_cos FROM (
      |  SELECT e.vec_id, c.centroid_id AS cell,
      |    list_cosine_similarity(e.v, c.cv) AS assign_cos,
      |    row_number() OVER (PARTITION BY e.vec_id
      |      ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.centroid_id) AS crank
      |  FROM batch e CROSS JOIN kcenters c) WHERE crank = 1
      |ORDER BY vec_id""".stripMargin

  private val KCENTER_SQL: String =
    KCENTER_CTES + "\nSELECT rank, vec_id, nearest_cos FROM sel ORDER BY rank"

  /** The k-center IVF SERVING replay (DuckDB side of sim_topk_kcenter):
    * the selected exemplars become cells, the corpus assigns probe-1,
    * queries probe their 3 nearest cells, candidates rank per query —
    * the same (cosine desc, id) tie rules as assignCells/topKIvfKCenter,
    * every cosine the shared sequential-sum kernel. */
  private val KCENTER_SERVE_CTES: String =
    KCENTER_CTES + """,
      |kcenters AS (SELECT vec_id AS centroid_id, v AS cv FROM sel),
      |kcells AS (SELECT vec_id, v, centroid_id AS cell FROM (
      |  SELECT e.vec_id, e.v, c.centroid_id,
      |    row_number() OVER (PARTITION BY e.vec_id
      |      ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.centroid_id) AS crank
      |  FROM corpus e CROSS JOIN kcenters c) WHERE crank = 1),
      |kqcells AS (SELECT vec_id AS query_id, v AS qv, centroid_id AS cell FROM (
      |  SELECT e.vec_id, e.v, c.centroid_id,
      |    row_number() OVER (PARTITION BY e.vec_id
      |      ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.centroid_id) AS crank
      |  FROM corpus e CROSS JOIN kcenters c WHERE e.vec_id < 10) WHERE crank <= 3),
      |kserved AS (SELECT query_id, rank, neighbor_id, cosine FROM (
      |  SELECT q.query_id, n.vec_id AS neighbor_id,
      |    list_cosine_similarity(q.qv, n.v) AS cosine,
      |    row_number() OVER (PARTITION BY q.query_id
      |      ORDER BY list_cosine_similarity(q.qv, n.v) DESC, n.vec_id) AS rank
      |  FROM kqcells q JOIN kcells n USING (cell)
      |  WHERE q.query_id <> n.vec_id) WHERE rank <= 5)""".stripMargin

  private val KCENTER_TOPK_SQL: String = KCENTER_SERVE_CTES + """
    |SELECT query_id, rank, neighbor_id, cosine FROM kserved
    |ORDER BY query_id, rank""".stripMargin

  /** Recall@5 of the k-center serving path vs brute-force truth — both
    * sides replayed, intersection by exact pair join, recall one
    * correctly-rounded division of small exact longs. */
  private val RECALL_AUDIT_SQL: String = KCENTER_SERVE_CTES + """,
    |ktruth AS (SELECT query_id, neighbor_id FROM (
    |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
    |    row_number() OVER (PARTITION BY a.vec_id
    |      ORDER BY list_cosine_similarity(a.v, b.v) DESC, b.vec_id) AS rank
    |  FROM corpus a JOIN corpus b ON a.vec_id <> b.vec_id
    |  WHERE a.vec_id < 10) WHERE rank <= 5),
    |kservedp AS (SELECT DISTINCT query_id AS sq, neighbor_id AS sn FROM kserved)
    |SELECT t.query_id, CAST(count(*) AS BIGINT) AS n_true,
    |  CAST(sum(CASE WHEN s.sn IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
    |  CAST(sum(CASE WHEN s.sn IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
    |    / count(*) AS recall
    |FROM ktruth t LEFT JOIN kservedp s
    |  ON t.query_id = s.sq AND t.neighbor_id = s.sn
    |GROUP BY t.query_id ORDER BY t.query_id""".stripMargin

  /** The recall audit's position-aware sibling over the same CTE
    * chain: first-true-hit rank in the k-center-served list, 10^6 DIV
    * rank, 0 on all-miss — queries from the truth side, so all-miss
    * rows survive. */
  private val MRR_KCENTER_SQL: String = KCENTER_SERVE_CTES + """,
    |ktruth AS (SELECT query_id, neighbor_id FROM (
    |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
    |    row_number() OVER (PARTITION BY a.vec_id
    |      ORDER BY list_cosine_similarity(a.v, b.v) DESC, b.vec_id) AS rank
    |  FROM corpus a JOIN corpus b ON a.vec_id <> b.vec_id
    |  WHERE a.vec_id < 10) WHERE rank <= 5),
    |kfh AS (SELECT t.query_id, CAST(min(s.rank) AS BIGINT) AS fr
    |        FROM ktruth t JOIN kserved s
    |          ON s.query_id = t.query_id AND s.neighbor_id = t.neighbor_id
    |        GROUP BY 1),
    |kqs AS (SELECT DISTINCT query_id FROM ktruth)
    |SELECT q.query_id, kfh.fr AS first_rank,
    |  CAST(coalesce(1000000 // kfh.fr, 0) AS BIGINT) AS rr_scaled
    |FROM kqs q LEFT JOIN kfh ON kfh.query_id = q.query_id
    |ORDER BY q.query_id""".stripMargin

  /** The assignment twin: every vector to its most-similar exemplar
    * ((cos desc, center_id) tie), per-exemplar census with the
    * micro-quantized-exact mean. */
  private val KCENTER_ASSIGN_SQL: String =
    KCENTER_CTES + """,
      |asg AS (SELECT e.vec_id, sel.rank, sel.vec_id AS center_id,
      |    list_cosine_similarity(e.v, sel.v) AS c,
      |    row_number() OVER (PARTITION BY e.vec_id
      |      ORDER BY list_cosine_similarity(e.v, sel.v) DESC, sel.vec_id) AS rn
      |  FROM corpus e CROSS JOIN sel)
      |SELECT rank, center_id, count(*) AS n_assigned,
      |  CAST(sum(CAST(floor(c * 1000000.0) AS BIGINT)) AS BIGINT) AS sum_cos_micro,
      |  CAST(sum(CAST(floor(c * 1000000.0) AS BIGINT)) AS DOUBLE) / 1000000.0
      |    / count(*) AS mean_cos
      |FROM asg WHERE rn = 1 GROUP BY rank, center_id ORDER BY rank""".stripMargin

  /** Exact top-k cosine (DuckDB side of sim_topk_brute, and of
    * sim_topk_ivf_full — full-probe IVF reduces to the same scan). */
  private val TOPK_SQL =
    """SELECT query_id, rank, neighbor_id, cosine FROM (
      |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
      |    list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) AS cosine,
      |    row_number() OVER (PARTITION BY a.vec_id
      |      ORDER BY list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) DESC,
      |               b.vec_id) AS rank
      |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
      |  WHERE a.vec_id < 10)
      |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  val all: Seq[Query] = Seq(

    Query("sim_topk_brute", (s, dir) =>
      Similarity.topKBrute(Tables.embeddings(s, dir)).orderBy("query_id", "rank"),
      Oracle(TOPK_SQL)),

    // class prototypes + belongs-to-its-class scoring: the centroid is
    // quantized-integer-exact, so it is bit-identical across engines
    Query("q_label_centroid", (s, dir) =>
      Similarity.labelCentroids(Tables.embeddings(s, dir))
        .select(col("label"), col("pos").cast("long").as("pos"), col("mean"))
        .orderBy("label", "pos"),
      // centroid = mean of floor(e*1e6) integers (exact long sum, pure
      // double mean) — no decimal-cast rounding conventions in play;
      // multi-unnest zips, range() is 0-based like posexplode
      Oracle("""WITH x AS (SELECT label,
          |    unnest(CAST(embedding AS DOUBLE[])) AS e,
          |    unnest(range(len(embedding))) AS pos
          |  FROM embeddings)
          |SELECT label, pos, CAST(sum(CAST(floor(e * 1000000.0) AS BIGINT)) AS DOUBLE)
          |    / (1000000.0 * count(*)) AS mean
          |FROM x GROUP BY label, pos ORDER BY label, pos""".stripMargin)),

    Query("q_embed_outliers", (s, dir) =>
      Similarity.centroidOutliers(Tables.embeddings(s, dir)),
      Oracle("""WITH x AS (SELECT label,
          |    unnest(CAST(embedding AS DOUBLE[])) AS e,
          |    unnest(range(len(embedding))) AS pos
          |  FROM embeddings),
          |c AS (SELECT label, pos, CAST(sum(CAST(floor(e * 1000000.0) AS BIGINT)) AS DOUBLE)
          |    / (1000000.0 * count(*)) AS mean
          |  FROM x GROUP BY label, pos),
          |cl AS (SELECT label, list(mean ORDER BY pos) AS cv FROM c GROUP BY label)
          |SELECT vec_id, e.label,
          |  list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), cl.cv) AS centroid_sim
          |FROM embeddings e JOIN cl ON cl.label = e.label
          |ORDER BY centroid_sim, vec_id LIMIT 25""".stripMargin)),

    // All three IVF entries run the train-once/apply-many shape a real
    // deployment uses: centroids come from a persisted artifact (trained
    // on first touch, a tiny parquet read afterwards), so repeated query
    // sets — and bench steady-state — pay only assign + probe, never the
    // count + Lloyd jobs. Training is bit-deterministic, so the artifact
    // path is output-identical to self-training (LlmOpsSpec asserts it).
    Query("sim_topk_ivf", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.topKIvf(emb, pretrained =
        Some(Similarity.centroidArtifact(emb, Artifacts.path("ivf", "base", dir),
          k = 16, iterations = 2)))
        .orderBy("query_id", "rank")
    },
      RowsOnly("ANN candidate internals at nprobe=3 are not SQL-expressible; " +
        "sim_topk_ivf_full checks the same machinery exactly")),

    // exactness dial at full: probing EVERY cell makes IVF equivalent to
    // the brute scan, so the whole machinery (Lloyd training, cell
    // assignment, probing, candidate ranking) is oracle-checked exactly;
    // the approximate nprobe=3 variant above stays rows-only because ANN
    // candidate internals aren't SQL-expressible.
    Query("sim_topk_ivf_full", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.topKIvf(emb, nprobe = Int.MaxValue, pretrained =
        Some(Similarity.centroidArtifact(emb, Artifacts.path("ivf", "base", dir),
          k = 16, iterations = 2)))
        .orderBy("query_id", "rank")
    },
      // full-probe IVF == the brute scan (see the queries entry)
      Oracle(TOPK_SQL)),

    // IVF recall certificate: on the planted-cluster corpus the true top-5
    // of each query are its cluster siblings BY CONSTRUCTION, so the
    // approximate path (nprobe=3 of 16 cells) structurally achieves recall
    // 1.0 and the output is hash-checkable against DuckDB brute force —
    // the clustered-data recall claim sim_topk_ivf rests on, proven.
    Query("sim_topk_ivf_clustered", (s, dir) => {
      val corpus = Similarity.plantedClusterCorpusMaterialized(Tables.embeddings(s, dir))
      Similarity.topKIvf(corpus, k = 5, numQueries = 8, numCells = 16, nprobe = 3,
        pretrained = Some(Similarity.centroidArtifact(corpus,
          Artifacts.path("ivf", "clustered", dir), k = 16, iterations = 2)))
        .orderBy("query_id", "rank")
    },
      // brute force over the planted-cluster corpus: recall 1.0 is structural
      // there, so approximate IVF (nprobe=3) must reproduce it exactly
      Oracle(PLANTED_TOPK_SQL)),

    Query("sim_topk_pq", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.topKPqRerank(emb, pretrained =
        Some(Similarity.pqCodebookArtifact(emb, Artifacts.path("pq", "base", dir))))
        .orderBy("query_id", "rank")
    },
      RowsOnly("PQ codebook internals are not SQL-expressible; " +
        "sim_topk_pq_planted is its oracle-green companion")),

    // full-shortlist PQ ≡ brute (the sim_topk_ivf_full pattern): the cut
    // keeps everything, so the exact rerank IS the brute scan — proves
    // the rerank arithmetic against the same TOPK oracle
    Query("sim_topk_pq_full", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.topKPqRerank(emb, numQueries = 10, shortlist = Int.MaxValue,
        pretrained = Some(Similarity.pqCodebookArtifact(emb, Artifacts.path("pq", "base", dir))))
        .orderBy("query_id", "rank")
    },
      Oracle(TOPK_SQL)),

    // PQ recall certificate, the sim_topk_ivf_clustered pattern: cluster
    // siblings share near-identical codes, so the ADC shortlist keeps the
    // true top-5 structurally and the exact rerank reproduces brute force
    // — hash-checked against the SAME DuckDB brute-force oracle
    Query("sim_topk_pq_planted", (s, dir) => {
      val corpus = Similarity.plantedClusterCorpusMaterialized(Tables.embeddings(s, dir))
      Similarity.topKPqRerank(corpus, pretrained =
        Some(Similarity.pqCodebookArtifact(corpus, Artifacts.path("pq", "planted", dir))))
        .orderBy("query_id", "rank")
    },
      // identical to sim_topk_ivf_clustered's oracle: the planted corpus is
      // SQL-reconstructible and the certified output IS brute-force top-5
      Oracle(PLANTED_TOPK_SQL)),

    // the production composition: IVF probe restriction × PQ ADC scoring
    // × exact rerank
    Query("sim_topk_ivfpq", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.topKIvfPq(emb,
        centroids = Some(Similarity.centroidArtifact(emb,
          Artifacts.path("ivf", "base", dir), k = 16, iterations = 2)),
        codebooks = Some(Similarity.pqCodebookArtifact(emb, Artifacts.path("pq", "base", dir))))
        .orderBy("query_id", "rank")
    },
      RowsOnly("IVF probing with PQ scoring is not SQL-expressible on the real " +
        "corpus; sim_topk_ivfpq_planted certifies it")),

    // composed certificate: siblings land in the probed cells (IVF
    // argument) with dominant ADC scores (PQ argument) — output is brute
    // force, hash-checked against the same clustered oracle
    Query("sim_topk_ivfpq_planted", (s, dir) => {
      val corpus = Similarity.plantedClusterCorpusMaterialized(Tables.embeddings(s, dir))
      Similarity.topKIvfPq(corpus,
        centroids = Some(Similarity.centroidArtifact(corpus,
          Artifacts.path("ivf", "clustered", dir), k = 16, iterations = 2)),
        codebooks = Some(Similarity.pqCodebookArtifact(corpus, Artifacts.path("pq", "planted", dir))))
        .orderBy("query_id", "rank")
    },
      Oracle(PLANTED_TOPK_SQL)),

    // rolling-ingest ANN maintenance: assign a NEW batch (vec_id % 8 == 7)
    // against centroid/codebook artifacts trained on the SEEN corpus and
    // emit exactly the index rows to append — no retrain, no touch of
    // seen-corpus state
    Query("sim_index_increment", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val base = emb.filter(col("vec_id") % 8 =!= 7)
      val batch = emb.filter(col("vec_id") % 8 === 7)
      Similarity.indexIncrement(batch,
        Similarity.centroidArtifact(base, Artifacts.path("ivf", "incr", dir),
          k = 16, iterations = 2),
        Similarity.pqCodebookArtifact(base, Artifacts.path("pq", "incr", dir)))
        .orderBy("vec_id", "sub")
    },
      RowsOnly("cell and code internals are not SQL-expressible; a spec checks it " +
        "bit-equal to a full rebuild, and sim_index_increment_planted serves through it")),

    // the increment certificate, end to end: serve top-k THROUGH an
    // incremented index — stored rows for the base planted corpus plus
    // indexIncrement rows for a late-arriving batch (the j∈{4,5} cluster
    // members), models trained on the base only — and the output is brute
    // force over the full planted corpus, hash-checked against the SAME
    // oracle as sim_topk_ivfpq_planted: the late siblings are found ONLY
    // if the appended rows land in the right cells with the right codes.
    Query("sim_index_increment_planted", (s, dir) => {
      val corpus = Similarity.plantedClusterCorpusMaterialized(Tables.embeddings(s, dir))
      val isBatch = col("vec_id") >= 1000L && col("vec_id") < 1000000L &&
        pmod(col("vec_id") - 1000L, lit(6L)) >= 4L
      val base = corpus.filter(!isBatch)
      val cents = Similarity.centroidArtifact(base,
        Artifacts.path("ivf", "incr_planted", dir), k = 16, iterations = 2)
      val books = Similarity.pqCodebookArtifact(base, Artifacts.path("pq", "incr_planted", dir))
      // the base index is the STORED serving state (what a deployment
      // keeps on disk and annIndexStateSink maintains) — an artifact,
      // not a per-query rebuild; only the increment and the serve are
      // per-run work
      val index = Artifacts.cached(s, "idx", "incr_planted", dir)(
          Similarity.buildIndex(base, cents, books))
        .unionByName(Similarity.indexIncrement(corpus.filter(isBatch), cents, books))
      Similarity.serveFromIndex(corpus, index, cents, books,
        k = 5, numQueries = 8, nprobe = 3, m = 4, shortlist = 32)
        .orderBy("query_id", "rank")
    },
      // the increment certificate serves brute force over the SAME planted
      // corpus — late-arriving cluster members reachable only through the
      // indexIncrement-appended rows
      Oracle(PLANTED_TOPK_SQL)),

    // embedding-space diversity selection: greedy k-center exemplars
    // (farthest-first, min-vec_id seed, (mc, vec_id) argmin tie rule) —
    // the oracle unrolls the same 8 rounds as chained CTEs and the frame
    // hash-matches bit-for-bit (shared sequential-sum cosine kernel,
    // order-insensitive max, raw-double argmin compare)
    Query("q_diverse_kcenter", (s, dir) =>
      Similarity.kCenterSelect(Tables.embeddings(s, dir), k = 8).orderBy("rank"),
      Oracle(KCENTER_SQL)),

    // the selection's PURPOSE: corpus vectors mapped to their nearest
    // exemplar — the strata a curation pass samples from, with the
    // coverage census that says whether k exemplars span the space
    Query("q_diverse_kcenter_assign", (s, dir) =>
      Similarity.kCenterAssign(Tables.embeddings(s, dir), k = 8).orderBy("rank"),
      Oracle(KCENTER_ASSIGN_SQL)),

    // the increment through the k-center path — unlike the Lloyd IVF's
    // rows-only increment this one is FULLY oracle-replayed: exemplars
    // selected from the stored 80% only, the late-arriving 20% assigned
    // per-row against the broadcast exemplar set, appended rows
    // hash-checked end to end (and spec'd ≡ full-rebuild assignment)
    Query("sim_index_increment_kcenter", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.kCenterIndexIncrement(
        emb.filter(col("vec_id") % 5 =!= 4), emb.filter(col("vec_id") % 5 === 4))
        .orderBy("vec_id")
    },
      Oracle(KCENTER_INCR_SQL)),

    // the k-center IVF serving path end-to-end: farthest-first centers,
    // probe-1 corpus cells, nprobe-3 query fan-out, per-cell candidate
    // ranking — every step is engine-portable relational arithmetic, so
    // unlike the Lloyd-trained IVF this ANN serving result hash-matches
    // a FULL DuckDB replay on the real corpus (no planted certificate)
    Query("sim_topk_kcenter", (s, dir) =>
      Similarity.topKIvfKCenter(Tables.embeddings(s, dir))
        .orderBy("query_id", "rank"),
      Oracle(KCENTER_TOPK_SQL)),

    // the serving-quality monitor a production ANN stack actually
    // tracks: exact recall@5 of the k-center IVF path against
    // brute-force truth on the bounded query sample — n_true/n_hits by
    // exact set intersection, recall one exact small-int division;
    // the oracle replays BOTH sides (brute truth and the k-center
    // serving path) and the spec pins full-probe recall ≡ 1.0
    Query("sim_recall_audit", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.recallAudit(emb, Similarity.topKIvfKCenter(emb))
        .orderBy("query_id")
    },
      Oracle(RECALL_AUDIT_SQL)),

    // the recall audit's position-aware sibling: rank of the FIRST
    // brute-truth neighbor in the k-center-served list, rr = 10^6 DIV
    // rank (0 on all-miss) — measures real ANN serving degradation,
    // not just set overlap
    Query("sim_mrr_kcenter", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.mrrServedAudit(emb, Similarity.topKIvfKCenter(emb))
        .orderBy("query_id")
    },
      Oracle(MRR_KCENTER_SQL)),

    // the Matryoshka question: recall@5 of first-d/2-coordinate serving
    // vs full-dimension truth — both arms exact brute passes, so the
    // oracle replays the whole audit
    Query("sim_dim_truncation", (s, dir) =>
      Similarity.dimTruncationAudit(Tables.embeddings(s, dir))
        .orderBy("query_id"),
      // both audit arms are exact brute passes: truth over the full
      // vectors, serving over the first len//2 coordinates
      Oracle("""WITH t AS (SELECT vec_id,
          |    list_slice(CAST(embedding AS DOUBLE[]), 1, len(embedding) // 2) AS tv
          |  FROM embeddings),
          |serv AS (SELECT query_id, neighbor_id FROM (
          |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
          |    row_number() OVER (PARTITION BY a.vec_id
          |      ORDER BY list_cosine_similarity(a.tv, b.tv) DESC, b.vec_id) AS rank
          |  FROM t a JOIN t b ON a.vec_id <> b.vec_id WHERE a.vec_id < 10)
          |  WHERE rank <= 5),
          |truth AS (SELECT query_id, neighbor_id FROM (
          |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
          |    row_number() OVER (PARTITION BY a.vec_id
          |      ORDER BY list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
          |        CAST(b.embedding AS DOUBLE[])) DESC, b.vec_id) AS rank
          |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
          |  WHERE a.vec_id < 10)
          |  WHERE rank <= 5)
          |SELECT t.query_id, CAST(count(*) AS BIGINT) AS n_true,
          |  CAST(sum(CASE WHEN s.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
          |    AS BIGINT) AS n_hits,
          |  CAST(sum(CASE WHEN s.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
          |    AS DOUBLE) / count(*) AS recall
          |FROM truth t LEFT JOIN serv s
          |  ON t.query_id = s.query_id AND t.neighbor_id = s.neighbor_id
          |GROUP BY t.query_id ORDER BY t.query_id""".stripMargin)),

    // top principal direction by portable power iteration — the
    // spectral axis for drift/whitening/outlier projection; every
    // loading hash-matches the oracle's unrolled iterations
    Query("q_embed_principal", (s, dir) =>
      Similarity.principalDirection(Tables.embeddings(s, dir)).orderBy("dim"),
      Oracle(PCA_SQL)),

    // the axis's consumer: every vector's 1-D coordinate on the stored
    // principal direction (train-once/apply-many, like the BPE pricer)
    Query("q_embed_principal_scores", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val axis = Similarity.principalDirection(emb)
        .orderBy("dim").collect().map(_.getDouble(1)).toSeq
      Similarity.principalScores(emb, axis).orderBy("vec_id")
    },
      Oracle(PCA_SCORES_SQL)),

    // per-class drift screen on the axis coordinate: exact median/MAD
    // of the projection, count beyond 3·MAD
    Query("q_embed_axis_outliers", (s, dir) =>
      Similarity.axisOutliers(Tables.embeddings(s, dir)).orderBy("label"),
      Oracle(PCA_OUTLIERS_SQL)),

    // the rank-2 spectral sketch: leading two directions by deflated
    // power iteration, near-orthogonal (lambdas order once converged)
    Query("q_embed_principal2", (s, dir) =>
      Similarity.principalDirections(Tables.embeddings(s, dir), components = 2)
        .orderBy("component", "dim"),
      Oracle(PCA2_SQL)),

    // the 2-D drift map: every vector's coordinates on the two trained
    // axes (c2 by the residual convention — exactly what the deflated
    // iteration optimized)
    Query("q_embed_coords2", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val both = Similarity.principalDirections(emb, components = 2)
        .orderBy("component", "dim").collect()
      val a1 = both.filter(_.getInt(0) == 1).map(_.getDouble(2)).toSeq
      val a2 = both.filter(_.getInt(0) == 2).map(_.getDouble(2)).toSeq
      Similarity.principalCoords(emb, a1, a2).orderBy("vec_id")
    },
      Oracle(PCA_COORDS_SQL)),

    // representation-health check: exact mean pairwise cosine +
    // mean-vector norm over the unit-normalized corpus, one scan, no
    // pairwise join (the sum-of-sums identity on micro-quantized coords)
    Query("q_embed_isotropy", (s, dir) =>
      Similarity.isotropy(Tables.embeddings(s, dir)),
      Oracle("""WITH e AS (SELECT CAST(embedding AS DOUBLE[]) AS x FROM embeddings
          |  WHERE embedding IS NOT NULL),
          |b AS (SELECT x, sqrt(list_inner_product(x, x)) AS nr FROM e),
          |bq AS (SELECT list_transform(x, xe ->
          |    CAST(floor(1000000.0 * xe / nr) AS BIGINT)) AS q
          |  FROM b WHERE nr > 0),
          |qx AS (SELECT u.pr.i AS i, u.pr.e AS e
          |  FROM (SELECT unnest(list_transform(q, (e, i) -> {'i': i, 'e': e})) AS pr
          |        FROM bq) u),
          |dims AS (SELECT i, CAST(count(*) AS BIGINT) AS cnt,
          |    CAST(sum(e) AS HUGEINT) AS s, SUM(CAST(e AS HUGEINT) * e) AS t2
          |  FROM qx GROUP BY i),
          |tot AS (SELECT CAST(count(*) AS BIGINT) AS d, max(cnt) AS n,
          |    SUM(s * s) AS ss, SUM(t2) AS t FROM dims)
          |SELECT n AS n_vectors, d AS n_dims,
          |  CAST(ss - t AS DOUBLE)
          |    / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE) * 1000000000000.0)
          |    AS mean_pair_cosine,
          |  sqrt(CAST(ss AS DOUBLE)) / CAST(n AS DOUBLE) / 1000000.0
          |    AS mean_vector_norm
          |FROM tot""".stripMargin)),

    Query("q_embed_quantize", (s, dir) => {
      val q = Quantization.quantize(Tables.embeddings(s, dir))
      q.select(
        (Seq(col("vec_id"), col("qmin"), col("qscale")) ++
          (0 until 8).map(i => element_at(col("codes"), i + 1).as(s"q$i"))): _*)
        .orderBy("vec_id")
    },
      Oracle("""SELECT vec_id,
          |  list_aggregate(CAST(embedding AS DOUBLE[]), 'min') AS qmin,
          |  (list_aggregate(CAST(embedding AS DOUBLE[]), 'max')
          |   - list_aggregate(CAST(embedding AS DOUBLE[]), 'min')) / 255.0 AS qscale,
          |""".stripMargin +
          (0 until 8).map(i =>
            s"""  CAST(CASE WHEN list_aggregate(CAST(embedding AS DOUBLE[]), 'max')
               |            = list_aggregate(CAST(embedding AS DOUBLE[]), 'min') THEN -128
               |    ELSE round((CAST(embedding[${i + 1}] AS DOUBLE) - list_aggregate(CAST(embedding AS DOUBLE[]), 'min'))
               |    / ((list_aggregate(CAST(embedding AS DOUBLE[]), 'max')
               |        - list_aggregate(CAST(embedding AS DOUBLE[]), 'min')) / 255.0)) - 128 END AS TINYINT) AS q$i""".stripMargin)
            .mkString(",\n") +
          "\nFROM embeddings ORDER BY vec_id")),
  )
}
