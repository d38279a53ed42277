package graft

import graft.functions.GraftExtensions

/** The SQL-function surface of the native expressions. */
class ExtensionsSpec extends SparkSpec {

  test("graft_dot is callable from SQL after registration") {
    GraftExtensions.register(spark)
    GraftExtensions.register(spark) // idempotent
    val r = spark.sql(
      "SELECT graft_dot(array(1.0d, 2.0d, 3.0d), array(4.0d, 5.0d, 6.0d)) AS d")
      .collect()(0).getDouble(0)
    assert(r === 32.0)
  }

  test("graft_dot null behaviour matches expression semantics") {
    GraftExtensions.register(spark)
    assert(spark.sql("SELECT graft_dot(NULL, array(1.0d)) AS d").collect()(0).isNullAt(0))
  }

  test("graft_shingles is callable from SQL; n must be a literal") {
    GraftExtensions.register(spark)
    val r = spark.sql("SELECT graft_shingles('a b c d', 3) AS s")
      .collect()(0).getSeq[String](0)
    assert(r === Seq("a b c", "b c d"))
    assert(spark.sql("SELECT graft_shingles(NULL, 3) AS s").collect()(0).isNullAt(0))
    intercept[Exception] {
      spark.sql("SELECT graft_shingles('a b', length('xx'))").collect()
    }
  }

  test("graft_minhash_sigs equals the HOF form AND the exploded-aggregate band table") {
    GraftExtensions.register(spark)
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "a much longer second document with quite a few more words in it"),
      (3L, "x")).toDF("doc_id", "text")
    val sh = graft.ops.Dedup.shingles(col("text"), 3)
    // 1) per-hash equality with the interpreted HOF chain it replaced
    val both = docs.select(col("doc_id"),
      graft.functions.TextFunctions.minhashSigs(sh, 8).as("kernel"),
      array((0 until 8).map(i =>
        array_min(transform(sh, x => xxhash64(lit(i), x)))): _*).as("hof"))
    assert(both.filter(col("kernel") =!= col("hof")).count() === 0,
      both.collect().mkString("\n"))
    // 2) per-doc minima equal the batch bandSigs aggregate's row minima
    //    (same family: min over exploded postings of xxhash64(i, s))
    val agg = graft.ops.Dedup.postings(docs, 3).groupBy("doc_id")
      .agg(array((0 until 8).map(i => min(xxhash64(lit(i), col("s")))): _*).as("agg"))
    val joined = both.join(agg, "doc_id")
    assert(joined.filter(col("kernel") =!= col("agg")).count() === 0)
    // 3) SQL registration, literal enforcement
    val viaSql = spark.sql(
      "SELECT graft_minhash_sigs(graft_shingles('a b c d', 3), 4) AS s")
      .collect()(0).getSeq[Long](0)
    assert(viaSql.length === 4)
    intercept[Exception] {
      spark.sql("SELECT graft_minhash_sigs(graft_shingles('a b', 3), length('xx'))").collect()
    }
  }

  test("wrong arity fails with the function signature, not an index error") {
    GraftExtensions.register(spark)
    for ((bad, expected) <- Seq(
        "graft_dot(array(1.0d))" -> "expects 2 arguments",
        "graft_shingles('a', 2, 3)" -> "expects 2 arguments",
        "graft_srp_sig(array(1.0d))" -> "expects 2 arguments",
        "graft_utf8_stats(CAST('a' AS BINARY), 1)" ->
          "graft_utf8_stats(bytes) expects 1 argument, got 2",
        "graft_byte_channel_stats_at(CAST(x'00' AS BINARY), 0, 2)" ->
          "graft_byte_channel_stats_at(payload, offsetExpr, stride, tailTrim) expects 4 arguments, got 3")) {
      val e = intercept[Exception] { spark.sql(s"SELECT $bad").collect() }
      def chain(t: Throwable): Seq[Throwable] =
        if (t == null) Nil else t +: chain(t.getCause)
      assert(chain(e).exists(c => Option(c.getMessage).exists(_.contains(expected))),
        s"$bad: ${e.getMessage}")
    }
  }

  test("dsp functions are callable from SQL with literal offsets") {
    GraftExtensions.register(spark)
    // 4 bytes = samples [+256, +1]: rms = sqrt((65536+1)/2), zcr = 0
    val r = spark.sql(
      "SELECT graft_pcm_stats(CAST(x'00010100' AS BINARY), 0) AS s")
      .collect()(0).getSeq[Double](0)
    assert(r === Seq(math.sqrt((256.0 * 256 + 1) / 2), 0.0))
    // bytes [1,2,3,4] at stride 2: ch0 = {1,3} mean 2, ch1 = {2,4} mean 3
    val c = spark.sql(
      "SELECT graft_byte_channel_stats(CAST(x'01020304' AS BINARY), 0, 2) AS s")
      .collect()(0).getSeq[Double](0)
    assert(c === Seq(2.0, 3.0, 1.0, 1.0))
    for (bad <- Seq("graft_pcm_stats(CAST(x'00' AS BINARY))",
                    "graft_byte_channel_stats(CAST(x'00' AS BINARY), 0)")) {
      val e = intercept[Exception] { spark.sql(s"SELECT $bad").collect() }
      def chain(t: Throwable): Seq[Throwable] =
        if (t == null) Nil else t +: chain(t.getCause)
      assert(chain(e).exists(c => Option(c.getMessage).exists(_.contains("arguments"))))
    }
  }

  test("dynamic-offset channel stats work from SQL and null out on bad offsets") {
    GraftExtensions.register(spark)
    // bytes [9,9,1,2,3,4,9,9]: dynamic offset 2 + tailTrim 2 → body [1,2,3,4]
    // at stride 2 → same values as the fixed-offset test
    val c = spark.sql(
      "SELECT graft_byte_channel_stats_at(CAST(x'0909010203040909' AS BINARY), 1 + 1, 2, 2) AS s")
      .collect()(0).getSeq[Double](0)
    assert(c === Seq(2.0, 3.0, 1.0, 1.0))
    // negative runtime offset → null result, not a crash
    assert(spark.sql(
      "SELECT graft_byte_channel_stats_at(CAST(x'0102' AS BINARY), -1, 1, 0) AS s")
      .collect()(0).isNullAt(0))
    // offset past the trimmed end → null
    assert(spark.sql(
      "SELECT graft_byte_channel_stats_at(CAST(x'01020304' AS BINARY), 3, 1, 2) AS s")
      .collect()(0).isNullAt(0))
  }

  test("gzip deflate/inflate and the perceptual-hash pair are callable from SQL") {
    GraftExtensions.register(spark)
    // the real-deflate round trip, entirely in SQL: compress at a
    // literal level, inflate with our RFC 1951 inflater, decode back
    val rt = spark.sql(
      "SELECT CAST(graft_gzip_inflate(graft_gzip_deflate(" +
        "CAST('squeeze me properly please, repetitive repetitive' AS BINARY), 6)) AS STRING) AS s")
      .collect()(0).getString(0)
    assert(rt === "squeeze me properly please, repetitive repetitive")
    // level must be a literal; garbage inflate nulls, never throws
    intercept[Exception] {
      spark.sql("SELECT graft_gzip_deflate(CAST('x' AS BINARY), length('xxx'))").collect()
    }
    assert(spark.sql("SELECT graft_gzip_inflate(CAST('not gzip' AS BINARY)) AS s")
      .collect()(0).isNullAt(0))
    // both hashes over a minimal BMP: 'BM' + 52 header bytes + 3 pixels
    val bmpHex = "424d" + "00" * 52 + "0a0a0a" + "c8c8c8" + "0a0a0a"
    val h = spark.sql(
      s"SELECT graft_bmp_ahash(CAST(x'$bmpHex' AS BINARY)) AS a, " +
        s"graft_bmp_dhash(CAST(x'$bmpHex' AS BINARY)) AS d").collect()(0)
    assert(h.getString(0).length === 16 && h.getString(1).length === 16)
    assert(h.getString(0) === graft.functions.DspKernel.bmpAHash(
      java.util.HexFormat.of().parseHex(bmpHex)).toString)
    // non-BMP payloads null out
    assert(spark.sql("SELECT graft_bmp_ahash(CAST('nope' AS BINARY)) AS a")
      .collect()(0).isNullAt(0))
  }

  test("tar walk functions are callable from SQL, composing with the inflater") {
    GraftExtensions.register(spark)
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // a real shard built by the expression builder, censused FROM SQL
    // through the .tar.gz layer — gzip inflate feeding the tar walk
    graft.ops.Multimodal.tarGzFrame(
      Seq((7L, "sql-surface shard"), (8L, "two members here"))
        .toDF("doc_id", "text"))
      .createOrReplaceTempView("shards")
    val r = spark.sql(
      """SELECT doc_id,
        |  element_at(graft_tar_stats(graft_gzip_inflate(payload)), 1) AS n_members,
        |  size(graft_tar_member_table(graft_gzip_inflate(payload))) DIV 7 AS n_rows
        |FROM shards ORDER BY doc_id""".stripMargin).collect()
    assert(r(0).getLong(1) === 2L && r(0).getLong(2) === 2L) // doc 7: 7%3+1
    assert(r(1).getLong(1) === 3L && r(1).getLong(2) === 3L) // doc 8: 8%3+1
    // non-tar payloads null out, never throw
    assert(spark.sql("SELECT graft_tar_stats(CAST('not a tar' AS BINARY)) AS s")
      .collect()(0).isNullAt(0))
  }

  test("zip walk functions are callable from SQL over a JDK-written archive") {
    GraftExtensions.register(spark)
    import org.apache.spark.sql.functions._
    import spark.implicits._
    graft.ops.Multimodal.zipRealFrame(
      Seq((4L, "zipped from sql"), (9L, "another doc")).toDF("doc_id", "text"))
      .createOrReplaceTempView("zips")
    val r = spark.sql(
      """SELECT doc_id,
        |  element_at(graft_zip_stats(payload), 1) AS n_entries,
        |  element_at(graft_zip_stats(payload), 6) AS crc_ok,
        |  size(graft_zip_entry_table(payload)) DIV 10 AS n_rows
        |FROM zips ORDER BY doc_id""".stripMargin).collect()
    r.foreach { row =>
      assert(row.getLong(1) === 1L && row.getLong(2) === 1L && row.getLong(3) === 1L)
    }
    // non-zip payloads null out, never throw
    assert(spark.sql("SELECT graft_zip_stats(CAST('PK nope' AS BINARY)) AS s")
      .collect()(0).isNullAt(0))
  }

  test("utf8 decode gate is callable from SQL and total on garbage bytes") {
    GraftExtensions.register(spark)
    // repair + census from SQL: a broken 2-byte pair becomes U+FFFD '('
    val r = spark.sql(
      "SELECT graft_utf8_sanitize(CAST(x'68690AC328' AS BINARY)) AS s, " +
        "element_at(graft_utf8_stats(CAST(x'68690AC328' AS BINARY)), 7) AS bad")
      .collect()(0)
    assert(r.getString(0) === "hi\n�(")
    assert(r.getLong(1) === 1L)
    // pure garbage repairs to SOMETHING, never throws or nulls
    val g = spark.sql(
      "SELECT graft_utf8_sanitize(CAST(x'FFFEFD' AS BINARY)) AS s").collect()(0)
    assert(g.getString(0) === "���")
  }

  test("SRP hyperplane table cache stays bounded under heterogeneous dims") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    GraftExtensions.register(spark)
    // 80 distinct dims > the 64-entry cap: every row must still compute
    // (per-call derivation over the cap), and the cache must not grow
    // past the bound
    val n = (1 to 80).toDF("d")
      .select(expr("graft_srp_sig(transform(sequence(1, d), x -> cast(x as double)), 16)").as("s"))
      .distinct().count()
    assert(n > 1)
    assert(graft.functions.SrpKernel.cachedTableCount <= 64)
  }
}
