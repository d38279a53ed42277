package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Distributed cardinality sketching — a HyperLogLog built from the
  * repo's portable md5 hash (Flajolet/Fusy/Gandouet/Meunier 2007), as
  * relational operators instead of an opaque binary blob: the register
  * table IS a DataFrame, so it merges by `max`, persists as parquet,
  * serves from streaming state, and — unlike `approx_count_distinct`'s
  * engine-private HLL++ — replays bit-for-bit in ANY engine that can
  * render md5 hex and a minimal binary string (the DuckDB oracle
  * recomputes every register and the whole estimate).
  *
  * Scale shape: the builder is one corpus scan into a ≤m-group hash
  * aggregate — map-side combine collapses each partition to ≤m rows
  * before the (tiny) shuffle, so a 1000-executor run moves KBs. The
  * certificate entry additionally prices the EXACT distinct count
  * (value-grain shuffle) to report the sketch's realized error; real
  * 100 TB use calls [[hllRegisters]]/[[hllEstimate]] and skips it. */
object Sketches {

  /** Register index and rank for one hashed value: bucket = 12-bit hex
    * prefix mod m (uniform while m divides 4096, i.e. b ≤ 12); rank =
    * leading zeros in the NEXT 60 hash bits + 1 ∈ [1, 61] (via the
    * minimal binary rendering both engines share: bitlen = length(bin x),
    * rank = 61 − bitlen, x = 0 ⇒ 61). */
  private[ops] def bucketCol(h: Column, m: Int): Column =
    (conv(substring(h, 1, 3), 16, 10).cast("int") % m).as("bucket")

  private[ops] def rhoCol(h: Column): Column = {
    val x = conv(substring(h, 4, 15), 16, 10).cast("long")
    when(x === 0L, 61).otherwise(lit(61) - length(bin(x))).cast("int").as("rho")
  }

  private def hash(value: Column, seed: String): Column =
    md5(concat(lit(seed), value.cast("string")))

  private def requireB(b: Int): Int = {
    // lower bound 7, not 4: the alpha constant below (0.7213/(1+1.079/m))
    // is the published approximation only for m >= 128 — at m=16/32/64
    // the published constants are 0.673/0.697/0.709 and the closed form
    // would carry ~0.4-1% systematic bias while claiming exactness
    require(b >= 7 && b <= 12, s"HLL precision b must be in [7, 12], got $b")
    1 << b
  }

  /** The sketch builder — the 100 TB path: one scan, per-partition
    * combine to ≤m register rows, one tiny shuffle. Output (bucket, m_j)
    * is the mergeable state: union two register frames and re-max to
    * merge sketches (see [[hllMerge]]); maintain it from a stream the
    * same way. */
  def hllRegisters(df: DataFrame, value: Column, b: Int = 9,
                   seed: String = "hll:"): DataFrame = {
    val m = requireB(b)
    val h = hash(value, seed)
    df.filter(value.isNotNull)
      .select(bucketCol(h, m), rhoCol(h))
      .groupBy("bucket").agg(max("rho").as("m_j"))
  }

  /** Sketch union: registers merge by plain max — the property that makes
    * HLL shardable across days/sources/executors with zero error added. */
  def hllMerge(regsA: DataFrame, regsB: DataFrame): DataFrame =
    regsA.unionByName(regsB).groupBy("bucket").agg(max("m_j").as("m_j"))

  /** Estimate from a (bucket, m_j) register frame (≤m rows). The raw
    * harmonic-mean estimate keeps the indicator sum EXACT: each register
    * contributes the integer 2^(63−m_j) (absent registers contribute
    * 2^63), summed in decimal(38,0) — no float accumulation — with ONE
    * final double division; the small-range (linear counting) correction
    * applies below 2.5m when empty registers remain, exactly as
    * published. Every double op mirrors the oracle literally. */
  def hllEstimate(regs: DataFrame, b: Int = 9): DataFrame = {
    val m = requireB(b)
    estimateCore(regs.agg(
      count(lit(1)).as("n_present"),
      sum(expr("shiftleft(CAST(1 AS BIGINT), 63 - m_j)").cast(DecimalType(38, 0)))
        .as("sum_present")), m)
      .select("m_registers", "n_present", "est_hll")
  }

  /** The oracle-checked certificate: sketch AND exact distinct count from
    * one linear plan (value-grain pre-aggregate → register aggregate →
    * single-row estimate), reporting the realized relative error next to
    * the estimate. This is the expensive form — the exact count is the
    * thing the sketch exists to avoid — run at audit time, not per-batch. */
  def hllCertificate(df: DataFrame, value: Column, b: Int = 9,
                     seed: String = "hll:"): DataFrame =
    hllCertificateBy(df, Seq.empty, value, b, seed)

  /** Per-key certificate: estimate + exact + realized error, one row per
    * key, one linear plan (the [[hllCertificate]] shape with the key
    * threaded through every grain). */
  def hllCertificateBy(df: DataFrame, keys: Seq[String], value: Column,
                       b: Int = 9, seed: String = "hll:"): DataFrame = {
    val m = requireB(b)
    val h = hash(col("v"), seed)
    val kc = keys.map(col)
    val regs = df.filter(value.isNotNull)
      .select(kc :+ value.as("v"): _*)
      .groupBy(kc :+ col("v"): _*).agg(count(lit(1)).as("n_occ"))
      .select(kc :+ bucketCol(h, m) :+ rhoCol(h): _*)
      .groupBy(kc :+ col("bucket"): _*)
      .agg(max("rho").as("m_j"), count(lit(1)).as("n_vals"))
    val agg1 = regs.groupBy(kc: _*).agg(
      count(lit(1)).as("n_present"),
      sum(expr("shiftleft(CAST(1 AS BIGINT), 63 - m_j)").cast(DecimalType(38, 0)))
        .as("sum_present"),
      sum("n_vals").as("n_exact"))
    estimateCore(agg1, m, keys)
      .select(kc ++ Seq(col("m_registers"), col("n_exact"), col("n_present"),
        col("est_hll"),
        when(col("n_exact") > 0L,
          (col("est_hll") - col("n_exact").cast("double")) /
            col("n_exact").cast("double")).as("rel_err")): _*)
  }

  /** Set-overlap certificate by inclusion–exclusion over THREE register
    * sets (A, B, A∪B) — the audience-overlap question ("how many users
    * did both?") answered from sketches alone: est(A∩B) = est(A) +
    * est(B) − est(A∪B), since HLL unions are exact register maxes. One
    * value-grain pass builds per-value membership flags (scope-cached);
    * a role explode derives all three register sets from it, and the
    * exact flag sums sit beside the estimates. The overlap estimate is
    * a DIFFERENCE of estimates, so its relative error is amplified when
    * |A∩B| ≪ |A∪B| — the certificate exists to measure exactly that. */
  def hllOverlapCertificate(df: DataFrame, key: Column, value: Column,
                            keyA: String, keyB: String, b: Int = 9,
                            seed: String = "hll:"): DataFrame = {
    val m = requireB(b)
    val perValue = df
      .filter(value.isNotNull && (key === keyA || key === keyB))
      .select(value.as("v"),
        when(key === keyA, 1L).otherwise(0L).as("fa"),
        when(key === keyB, 1L).otherwise(0L).as("fb"))
      .groupBy("v").agg(max("fa").as("fa"), max("fb").as("fb"))
    Dedup.withScopedCache(perValue) { pu =>
      val h = hash(col("v"), seed)
      val regs = pu
        .select(col("v"), explode(array(
          when(col("fa") === 1L, "a"), when(col("fb") === 1L, "b"),
          lit("u"))).as("role"))
        .filter(col("role").isNotNull)
        .select(col("role"), bucketCol(h, m), rhoCol(h))
        .groupBy("role", "bucket").agg(max("rho").as("m_j"))
      val ests = estimateCore(regs.groupBy("role").agg(
        count(lit(1)).as("n_present"),
        sum(expr("shiftleft(CAST(1 AS BIGINT), 63 - m_j)").cast(DecimalType(38, 0)))
          .as("sum_present")), m, Seq("role"))
        .agg(
          max(when(col("role") === "a", col("est_hll"))).as("est_a"),
          max(when(col("role") === "b", col("est_hll"))).as("est_b"),
          max(when(col("role") === "u", col("est_hll"))).as("est_union"))
      val exact = pu.agg(
        sum("fa").as("n_a_exact"), sum("fb").as("n_b_exact"),
        sum(col("fa") * col("fb")).as("n_overlap_exact"))
      exact.crossJoin(ests)
        .select(col("n_a_exact"), col("n_b_exact"), col("n_overlap_exact"),
          col("est_a"), col("est_b"), col("est_union"),
          (col("est_a") + col("est_b") - col("est_union")).as("est_overlap"),
          when(col("n_overlap_exact") > 0L,
            (col("est_a") + col("est_b") - col("est_union") -
              col("n_overlap_exact").cast("double")) /
              col("n_overlap_exact").cast("double")).as("rel_err_overlap"))
    }
  }

  // ---------------------------------------------------------------------
  // Count-min sketch (Cormode/Muthukrishnan 2005) — the frequency sibling
  // of the HLL: d=4 salted md5 rows × w=1024 columns of EXACT counted
  // cells, so point estimates are never under the truth (min over rows ≥
  // true count, overcount bounded by 2N/w per row in expectation). Cells
  // merge by plain SUM — shard/stream union is lossless, the same
  // monoid discipline as the HLL's max and the BPE vocab's add.
  // ---------------------------------------------------------------------

  private val cmsDepth = 4
  private val cmsWidth = 1024

  private def cmsCol(i: Int, token: Column): Column =
    (conv(substring(md5(concat(lit(s"cms:$i:"), token)), 1, 3), 16, 10)
      .cast("int") % cmsWidth).as("col")

  /** Sketch cells from a (w, cnt) token-count frame: ≤ d·w = 4096 rows.
    * The explode is per-VOCAB-row (d structs each), not per-corpus-row —
    * the corpus was already collapsed by the counts aggregate. */
  def cmsCells(counts: DataFrame): DataFrame = {
    val rows = (0 until cmsDepth).map { i =>
      struct(lit(i).as("row"), cmsCol(i, col("w")).as("col"))
    }
    counts
      .select(explode(array(rows: _*)).as("rc"), col("cnt"))
      .groupBy(col("rc.row").as("row"), col("rc.col").as("col"))
      .agg(sum("cnt").as("cell"))
  }

  /** Sketch union: cells merge by sum (counts are a monoid). */
  def cmsMerge(cellsA: DataFrame, cellsB: DataFrame): DataFrame =
    cellsA.unionByName(cellsB).groupBy("row", "col").agg(sum("cell").as("cell"))

  /** Point estimates for a frame of probe tokens (column `w`): min over
    * the d probed cells. The cells side is ≤4096 rows — broadcast, so a
    * million-token probe frame runs join-local with zero shuffle. The
    * probe join is LEFT with absent cells counting 0 — a true count-min
    * cell never touched by the corpus is implicitly zero, so a probe for
    * a never-seen token estimates 0 instead of vanishing (inner join) or
    * over-estimating as the min over only its present cells. */
  def cmsEstimate(cells: DataFrame, probes: DataFrame): DataFrame = {
    val rows = (0 until cmsDepth).map { i =>
      struct(lit(i).as("row"), cmsCol(i, col("w")).as("col"))
    }
    probes
      .select(col("w"), explode(array(rows: _*)).as("rc"))
      .select(col("w"), col("rc.row").as("row"), col("rc.col").as("col"))
      .join(broadcast(cells), Seq("row", "col"), "left")
      .groupBy("w").agg(min(coalesce(col("cell"), lit(0L))).as("est_cms"))
  }

  /** The oracle-checked certificate: exact top-k token counts next to
    * their sketch estimates, overcount on display. ONE corpus scan — the
    * token-count frame is scope-cached (the dedup postings pattern) and
    * feeds both the 4096-cell sketch and the exact top-k head. */
  def cmsCertificate(docs: DataFrame, k: Int = 20): DataFrame = {
    val counts = docs
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
    Dedup.withScopedCache(counts) { c =>
      val top = c.orderBy(col("cnt").desc, col("w")).limit(k)
        .select(col("w"), col("cnt").as("n_exact"))
      cmsEstimate(cmsCells(c), top.select("w"))
        .join(broadcast(top), Seq("w"))
        .select(col("w").as("token"), col("n_exact"), col("est_cms"),
          (col("est_cms") - col("n_exact")).as("overcount"))
    }
  }

  // ---------------------------------------------------------------------
  // Bloom filter (Bloom 1970) — the membership sibling: k=4 positions
  // sliced from ONE md5 (4 hex chars each, 16 bits mod m=32768 — uniform
  // since 65536 = 2·32768) into a ≤m-row set-bit table. The table is a
  // DataFrame like the other sketches: bits merge by plain DISTINCT
  // union, persist as parquet, and broadcast for probe joins. Use: the
  // incremental-dedup pre-filter — probe a new batch against the corpus
  // Bloom before paying the exact anti-join; no member ever slips
  // through (no false negatives, structurally), only an FPR-bounded
  // slice of non-members pays the exact check.
  // ---------------------------------------------------------------------

  private val bloomM = 32768
  private val bloomK = 4

  private def bloomPositionArray(value: Column, seed: String): Column = {
    val h = md5(concat(lit(seed), value.cast("string")))
    array((0 until bloomK).map { i =>
      conv(substring(h, 1 + 4 * i, 4), 16, 10).cast("int") % bloomM
    }: _*)
  }

  /** The set-bit table of a value column: ≤m rows, one scan, map-side
    * distinct combine. */
  def bloomBits(df: DataFrame, value: Column, seed: String = "bloom:"): DataFrame =
    df.filter(value.isNotNull)
      .select(explode(bloomPositionArray(value, seed)).as("pos"))
      .distinct()

  /** Per-probe verdict: bloom_hit ⇔ all k positions are set. The bits
    * side is ≤m rows — broadcast; the count-of-matches==k form needs no
    * bitmap type and no UDF. */
  def bloomProbe(bits: DataFrame, probes: DataFrame, value: Column,
                 seed: String = "bloom:"): DataFrame =
    probes.filter(value.isNotNull)
      .select(value.as("v")).distinct()
      .select(col("v"), explode(bloomPositionArray(col("v"), seed)).as("pos"))
      .join(broadcast(bits.withColumnRenamed("pos", "bpos")),
        col("pos") === col("bpos"), "left")
      .groupBy("v")
      .agg((count(col("bpos")) === bloomK).as("bloom_hit"))

  /** The oracle-checked certificate: probe one corpus slice against the
    * other slice's Bloom and reconcile with EXACT membership — zero
    * false negatives is structural (asserted by the oracle: every member
    * is a hit), and the measured false-positive rate sits next to it. */
  def bloomCertificate(corpus: DataFrame, probes: DataFrame,
                       value: Column, seed: String = "bloom:"): DataFrame =
    Dedup.withScopedCache(
      corpus.filter(value.isNotNull).select(value.as("v")).distinct()) { cv =>
      bloomCertificateFromCorpus(cv, probes, value, seed)
    }

  private def bloomCertificateFromCorpus(cv: DataFrame, probes: DataFrame,
                                         value: Column, seed: String): DataFrame = {
    val bits = cv.select(explode(bloomPositionArray(col("v"), seed)).as("pos"))
      .distinct()
    val members = cv.withColumn("is_member", lit(1L))
    bloomProbe(bits, probes, value, seed)
      .join(members, Seq("v"), "left")
      .agg(
        count(lit(1)).as("n_probes"),
        sum(coalesce(col("is_member"), lit(0L))).as("n_members"),
        sum(when(col("bloom_hit"), 1L).otherwise(0L)).as("n_bloom_hits"),
        sum(when(col("bloom_hit") && col("is_member").isNull, 1L).otherwise(0L))
          .as("n_false_pos"),
        sum(when(!col("bloom_hit") && col("is_member").isNotNull, 1L).otherwise(0L))
          .as("n_false_neg"))
      .select(col("n_probes"), col("n_members"), col("n_bloom_hits"),
        col("n_false_pos"), col("n_false_neg"),
        when(col("n_probes") - col("n_members") > 0L,
          col("n_false_pos").cast("double") /
            (col("n_probes") - col("n_members")).cast("double"))
          .as("fpr_measured"))
  }

  // ---------------------------------------------------------------------
  // K-minimum-values sketch (Bar-Yossef et al. 2002) — the distinct-count
  // sibling with NATIVE set operations: the state is the k smallest
  // 60-bit value hashes as a ≤k-row DataFrame, merged by union +
  // re-bottom-k (a monoid). Where HLL inclusion–exclusion amplifies
  // relative error when |A∩B| ≪ |A∪B| (a DIFFERENCE of three estimates),
  // KMV reads the intersection DIRECTLY: the bottom-k of the union is a
  // uniform sample of the union, so the fraction of it flagged in both
  // sets estimates the Jaccard index with bounded relative error.
  // ---------------------------------------------------------------------

  /** 2^60 as an exact double — the hash-space size for 15 hex chars. */
  private val kmvSpace = 1.152921504606846976e18

  /** A 60-bit hash of one value: the first 15 hex chars of the seeded
    * md5, always in [0, 2^60) so the long never goes negative and the
    * fraction h/2^60 is uniform. */
  private[ops] def kmv60(value: Column, seed: String): Column =
    conv(substring(md5(concat(lit(seed), value.cast("string"))), 1, 15), 16, 10)
      .cast("long")

  /** The sketch builder — one scan, distinct by hash (map-side combine
    * collapses duplicates per partition), then TakeOrdered(k): no global
    * sort materializes, each partition contributes its own bottom-k. */
  def kmvSketch(df: DataFrame, value: Column, k: Int = 256,
                seed: String = "kmv:"): DataFrame = {
    require(k >= 16, s"KMV k must be >= 16, got $k")
    df.filter(value.isNotNull)
      .select(kmv60(value, seed).as("h"))
      .distinct()
      .orderBy("h").limit(k)
  }

  /** Sketch union: union, dedup, re-take the bottom k — the KMV monoid.
    * Exact for the union's distinct set because the k smallest hashes of
    * A∪B are all among (bottom-k of A) ∪ (bottom-k of B). */
  def kmvMerge(skA: DataFrame, skB: DataFrame, k: Int = 256): DataFrame =
    skA.unionByName(skB).distinct().orderBy("h").limit(k)

  /** Distinct estimate from a sketch frame: (k−1)·2^60 / h_(k) when the
    * sketch is full, the EXACT retained count when fewer than k distinct
    * values exist (the sketch then holds every hash). The product
    * (k−1)·2^60 is exact in double for any sane k, so the single
    * division is the only rounding step — mirrored literally by the
    * oracle. */
  def kmvEstimate(sk: DataFrame, k: Int = 256): DataFrame =
    sk.agg(count(lit(1)).cast("long").as("n_in_sketch"), max("h").as("h_k"))
      .select(col("n_in_sketch"),
        when(col("n_in_sketch") < k, col("n_in_sketch").cast("double"))
          .otherwise(lit((k - 1).toDouble) * lit(kmvSpace) /
            col("h_k").cast("double")).as("est_kmv"))

  /** Per-key KMV certificate — the GROUP-BY composition proof (HLL has
    * hllCertificateBy; this is the bottom-k sibling): one value-grain
    * pass builds per-(key, value) rows, the k smallest hashes PER KEY
    * are selected by a key-partitioned rank window, and each key's
    * estimate sits beside its exact distinct count and realized error.
    * State stays ≤k rows per key and merges by the same
    * union+dedup+re-bottom-k monoid shard-by-shard. */
  def kmvCertificateBy(df: DataFrame, keys: Seq[String], value: Column,
                       k: Int = 256, seed: String = "kmv:"): DataFrame = {
    require(k >= 16, s"KMV k must be >= 16, got $k")
    val kc = keys.map(col)
    val perValue = df.filter(value.isNotNull)
      .select(kc :+ value.as("v"): _*)
      .groupBy(kc :+ col("v"): _*).agg(count(lit(1)).as("n_occ"))
      .select(kc :+ kmv60(col("v"), seed).as("h"): _*)
    val ranked = perValue
      .withColumn("__rn", row_number().over(
        Window.partitionBy(kc: _*).orderBy(col("h"))))
    val sk = ranked.filter(col("__rn") <= k)
      .groupBy(kc: _*)
      .agg(count(lit(1)).cast("long").as("n_in_sketch"), max("h").as("h_k"))
    val exact = ranked.groupBy(kc: _*)
      .agg(count(lit(1)).cast("long").as("n_exact"))
    sk.join(exact, keys)
      .select(kc ++ Seq(col("n_exact"), col("n_in_sketch"),
        when(col("n_in_sketch") < k, col("n_in_sketch").cast("double"))
          .otherwise(lit((k - 1).toDouble) * lit(kmvSpace) /
            col("h_k").cast("double")).as("est_kmv")): _*)
      .withColumn("rel_err",
        when(col("n_exact") > 0L,
          (col("est_kmv") - col("n_exact").cast("double")) /
            col("n_exact").cast("double")))
  }

  /** The oracle-checked overlap certificate — KMV's reason to exist next
    * to [[hllOverlapCertificate]]: est(A∩B) = (|K_U ∩ A ∩ B| / |K_U|) ·
    * est(|A∪B|), a PRODUCT of a sample fraction and one estimate instead
    * of HLL's difference of three, so small intersections keep bounded
    * relative error. One value-grain pass builds per-value membership
    * flags (scope-cached); the three bottom-k sketches are TakeOrdered
    * heads of the hashed frame (never a global sort); exact counts sit
    * beside the estimates. Below k distinct values every estimate — and
    * the overlap — is exact by construction. */
  def kmvOverlapCertificate(df: DataFrame, key: Column, value: Column,
                            keyA: String, keyB: String, k: Int = 256,
                            seed: String = "kmv:"): DataFrame = {
    require(k >= 16, s"KMV k must be >= 16, got $k")
    val perValue = df
      .filter(value.isNotNull && (key === keyA || key === keyB))
      .select(value.as("v"),
        when(key === keyA, 1L).otherwise(0L).as("fa"),
        when(key === keyB, 1L).otherwise(0L).as("fb"))
      .groupBy("v").agg(max("fa").as("fa"), max("fb").as("fb"))
    Dedup.withScopedCache(perValue) { pu =>
      val hv = pu.select(kmv60(col("v"), seed).as("h"), col("fa"), col("fb"))
      def estFrom(sk: DataFrame, name: String): DataFrame =
        sk.agg(count(lit(1)).cast("long").as("n_in"), max("h").as("h_k"))
          .select(
            when(col("n_in") < k, col("n_in").cast("double"))
              .otherwise(lit((k - 1).toDouble) * lit(kmvSpace) /
                col("h_k").cast("double")).as(name))
      val estA = estFrom(hv.filter(col("fa") === 1L).orderBy("h").limit(k), "est_a")
      val estB = estFrom(hv.filter(col("fb") === 1L).orderBy("h").limit(k), "est_b")
      val ku = hv.orderBy("h").limit(k)
        .agg(count(lit(1)).cast("long").as("k_used"), max("h").as("h_k"),
          sum(col("fa") * col("fb")).cast("long").as("n_both_in_k"))
        .select(col("k_used"), col("n_both_in_k"),
          when(col("k_used") < k, col("k_used").cast("double"))
            .otherwise(lit((k - 1).toDouble) * lit(kmvSpace) /
              col("h_k").cast("double")).as("est_union"))
      val exact = pu.agg(
        sum("fa").cast("long").as("n_a_exact"),
        sum("fb").cast("long").as("n_b_exact"),
        sum(col("fa") * col("fb")).cast("long").as("n_overlap_exact"))
      exact.crossJoin(estA).crossJoin(estB).crossJoin(ku)
        .select(col("n_a_exact"), col("n_b_exact"), col("n_overlap_exact"),
          col("est_a"), col("est_b"), col("est_union"),
          col("k_used"), col("n_both_in_k"),
          (col("n_both_in_k").cast("double") / col("k_used").cast("double"))
            .as("jaccard_k"),
          (col("n_both_in_k").cast("double") / col("k_used").cast("double") *
            col("est_union")).as("est_overlap"),
          when(col("n_overlap_exact") > 0L,
            (col("n_both_in_k").cast("double") / col("k_used").cast("double") *
              col("est_union") - col("n_overlap_exact").cast("double")) /
              col("n_overlap_exact").cast("double")).as("rel_err_overlap"))
    }
  }

  // ---------------------------------------------------------------------
  // Quantile sketch — a deterministic bottom-k ROW sample (the KMV idea
  // applied to row identity instead of value identity): hash each row's
  // UNIQUE key, keep the k hash-smallest rows per group. The state is a
  // ≤k-row (h, v) frame per key — mergeable by union + re-bottom-k, a
  // monoid over disjoint row sets — and every selected quantile is an
  // actual data point picked by the repo's rank rule (ceil(p·n), the
  // discreteQuantiles convention), so the whole pipeline replays
  // bit-for-bit in DuckDB. Rank error is the classic sample bound
  // O(1/√k); the certificate REPORTS the realized CDF error next to the
  // exact discrete quantile instead of asking for trust.
  // ---------------------------------------------------------------------

  /** Per-key bottom-k of a frame already shaped (keys..., h, v). */
  private def bottomKByHash(df: DataFrame, keys: Seq[String], k: Int): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col("h"))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .drop("__rn")
  }

  /** The sample builder — one scan, shuffle by key, per-key bottom-k by
    * row-key hash. `rowKey` MUST be unique per row (an event/doc id):
    * uniqueness is what makes the sample uniform over ROWS (multiplicity
    * preserved) and the merge a monoid over disjoint shards. */
  def quantileSample(df: DataFrame, keys: Seq[String], rowKey: Column,
                     value: Column, k: Int = 512,
                     seed: String = "qsk:"): DataFrame = {
    require(k >= 16, s"quantile sample k must be >= 16, got $k")
    val kc = keys.map(col)
    bottomKByHash(
      df.filter(value.isNotNull && rowKey.isNotNull)
        .select(kc :+ kmv60(rowKey, seed).as("h") :+ value.as("v"): _*),
      keys, k)
  }

  /** Sample union: dedup by (keys, h) — idempotent under batch replay,
    * harmless on disjoint shards — then re-take the per-key bottom k. */
  def quantileSampleMerge(sA: DataFrame, sB: DataFrame, keys: Seq[String],
                          k: Int = 512): DataFrame =
    bottomKByHash(
      sA.unionByName(sB)
        .groupBy((keys :+ "h").map(col): _*).agg(max("v").as("v")),
      keys, k)

  /** Quantiles from a sample frame: per key, the value at rank
    * ceil(p·n_s) in (v, h) order — the discreteQuantiles selection rule
    * applied to the sample, interpolation-free so the result is an
    * actual sampled data point. */
  def quantilesFromSample(sample: DataFrame, keys: Seq[String],
                          ps: Seq[Double] = Seq(0.5, 0.9)): DataFrame = {
    val kc = keys.map(col)
    val ranked = sample
      .withColumn("__rn", row_number().over(
        Window.partitionBy(kc: _*).orderBy(col("v"), col("h"))))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(kc: _*)))
    val aggs = ps.map { p =>
      max(when(col("__rn") === greatest(lit(1L), ceil(lit(p) * col("__n"))),
        col("v"))).as(s"p${math.round(p * 100)}_sketch")
    } :+ max("__n").cast("long").as("n_sample")
    ranked.groupBy(kc: _*).agg(aggs.head, aggs.tail: _*)
  }

  /** The oracle-checked certificate: per event type, the sketch's
    * p50/p90 next to the EXACT discrete quantiles and the realized CDF
    * error |F(v_sketch) − p| measured against the full corpus. One
    * scope-cached corpus projection feeds all three arms (sample window,
    * exact-rank window, and the CDF count join against the broadcast
    * 1-row-per-key estimates) — three cache passes, zero re-reads of
    * the source. Real 100 TB use calls [[quantileSample]] /
    * [[quantilesFromSample]] and skips both exact arms. */
  def quantileCertificate(events: DataFrame, k: Int = 512,
                          seed: String = "qsk:"): DataFrame = {
    val base = events
      .filter(col("event_type").isNotNull && col("value").isNotNull &&
        col("event_id").isNotNull)
      .select(col("event_type"), col("event_id"), col("value"))
    Dedup.withScopedCache(base) { b =>
      val ests = quantilesFromSample(
        quantileSample(b, Seq("event_type"), col("event_id"), col("value"),
          k, seed),
        Seq("event_type"))
      val exact = Monitoring.discreteQuantiles(b)
        .select(col("event_type"), col("p50").as("p50_exact"),
          col("p90").as("p90_exact"))
      val cdf = b.join(broadcast(ests), "event_type")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("value") <= col("p50_sketch"), 1L).otherwise(0L))
            .as("n_le_p50"),
          sum(when(col("value") <= col("p90_sketch"), 1L).otherwise(0L))
            .as("n_le_p90"))
      ests.join(exact, "event_type").join(cdf, "event_type")
        .select(col("event_type"), col("n_rows"), col("n_sample"),
          col("p50_sketch"), col("p50_exact"),
          abs(col("n_le_p50").cast("double") / col("n_rows").cast("double")
            - lit(0.5)).as("cdf_err_p50"),
          col("p90_sketch"), col("p90_exact"),
          abs(col("n_le_p90").cast("double") / col("n_rows").cast("double")
            - lit(0.9)).as("cdf_err_p90"))
    }
  }

  /** Shared final-select: alpha_m·m²·2^63 / Σ 2^(63−M_j) with the
    * linear-counting branch. All literals combine left-associatively in
    * the exact order the oracle writes them. */
  private def estimateCore(agg1: DataFrame, m: Int,
                           keys: Seq[String] = Seq.empty): DataFrame = {
    val md = m.toDouble
    val two63 = lit(9.223372036854775808e18)
    val withExact = agg1.columns.contains("n_exact")
    val kc = keys.map(col)
    val base = agg1.select(
      (kc ++ Seq(
        lit(m).as("m_registers"),
        col("n_present").cast("long").as("n_present"),
        (coalesce(col("sum_present"), lit(0).cast(DecimalType(38, 0))) +
          (lit(m) - col("n_present")).cast(DecimalType(38, 0)) *
            lit(BigDecimal(2).pow(63)).cast(DecimalType(38, 0))).as("sum_scaled")) ++
        (if (withExact) Seq(coalesce(col("n_exact"), lit(0L)).cast("long").as("n_exact"))
         else Seq.empty)): _*)
    base.select(
      (kc ++ Seq(
        col("m_registers"), col("n_present"),
        (lit(0.7213) / (lit(1.0) + lit(1.079) / lit(md)) * lit(md * md) *
          two63 / col("sum_scaled").cast("double")).as("est_raw"),
        (lit(m).cast("long") - col("n_present")).as("v_zero")) ++
        (if (withExact) Seq(col("n_exact")) else Seq.empty)): _*)
      .withColumn("est_hll",
        when(col("est_raw") <= lit(2.5) * lit(md) && col("v_zero") > 0L,
          lit(md) * log(lit(md) / col("v_zero").cast("double")))
          .otherwise(col("est_raw")))
  }
}
