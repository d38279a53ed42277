package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions entry point: makes the native expressions
  * available as SQL functions, so `spark.sql("SELECT graft_dot(a, b)")`
  * works for SQL-only users. Activate with
  * `.config("spark.sql.extensions", "graft.functions.GraftExtensions")`
  * or programmatically via `GraftExtensions.register(spark)`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    // band-join rewrite: abs(x − y) <= d inner joins become bucketed
    // equi-joins instead of nested loops (graft.plans.RangeJoinRewrite)
    ext.injectOptimizerRule(_ => graft.plans.RangeJoinRewrite)
  }
}

object GraftExtensions {
  /** Plan-time parameters (shingle width, signature bits) must be integer
    * literals, not data. */
  private def literalInt(fn: String, e: Expression): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$fn: parameter must be an integer literal, got $other")
  }

  /** A SQL call with the wrong argument count must fail at analysis with
    * the function's signature, not with an IndexOutOfBounds from the
    * builder. */
  private def arity(sig: String, n: Int, children: Seq[Expression]): Unit =
    if (children.size != n) throw new IllegalArgumentException(
      s"$sig expects $n argument${if (n == 1) "" else "s"}, got ${children.size}")

  private val functions = Seq(
    (FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (children: Seq[Expression]) => {
        arity("graft_dot(a, b)", 2, children)
        DotProduct(children(0), children(1)): Expression
      }),
    (FunctionIdentifier("graft_shingles"),
      new ExpressionInfo(classOf[WordShingles].getName, "graft_shingles"),
      (children: Seq[Expression]) => {
        arity("graft_shingles(text, n)", 2, children)
        WordShingles(children.head, literalInt("graft_shingles(text, n)", children(1))): Expression
      }),
    (FunctionIdentifier("graft_minhash_sigs"),
      new ExpressionInfo(classOf[MinHashSigs].getName, "graft_minhash_sigs"),
      (children: Seq[Expression]) => {
        arity("graft_minhash_sigs(shingles, numHashes)", 2, children)
        MinHashSigs(children.head,
          literalInt("graft_minhash_sigs(shingles, numHashes)", children(1))): Expression
      }),
    (FunctionIdentifier("graft_srp_sig"),
      new ExpressionInfo(classOf[SrpSignature].getName, "graft_srp_sig"),
      (children: Seq[Expression]) => {
        arity("graft_srp_sig(vec, numBits)", 2, children)
        SrpSignature(children.head, literalInt("graft_srp_sig(vec, numBits)", children(1))): Expression
      }),
    (FunctionIdentifier("graft_pcm_stats"),
      new ExpressionInfo(classOf[PcmStats].getName, "graft_pcm_stats"),
      (children: Seq[Expression]) => {
        arity("graft_pcm_stats(payload, offset)", 2, children)
        PcmStats(children.head, literalInt("graft_pcm_stats(payload, offset)", children(1))): Expression
      }),
    (FunctionIdentifier("graft_byte_channel_stats"),
      new ExpressionInfo(classOf[ByteChannelStats].getName, "graft_byte_channel_stats"),
      (children: Seq[Expression]) => {
        arity("graft_byte_channel_stats(payload, offset, stride)", 3, children)
        ByteChannelStats(children.head,
          literalInt("graft_byte_channel_stats(payload, offset, stride)", children(1)),
          literalInt("graft_byte_channel_stats(payload, offset, stride)", children(2))): Expression
      }),
    (FunctionIdentifier("graft_byte_channel_stats_at"),
      new ExpressionInfo(classOf[ByteChannelStatsAt].getName, "graft_byte_channel_stats_at"),
      (children: Seq[Expression]) => {
        val sig = "graft_byte_channel_stats_at(payload, offsetExpr, stride, tailTrim)"
        arity(sig, 4, children)
        ByteChannelStatsAt(children(0), children(1),
          literalInt(sig, children(2)), literalInt(sig, children(3))): Expression
      }),
    (FunctionIdentifier("graft_jpeg_scan_stats"),
      new ExpressionInfo(classOf[JpegScanStats].getName, "graft_jpeg_scan_stats"),
      (children: Seq[Expression]) => {
        arity("graft_jpeg_scan_stats(payload)", 1, children)
        JpegScanStats(children.head): Expression
      }),
    (FunctionIdentifier("graft_gzip_inflate"),
      new ExpressionInfo(classOf[GzipInflate].getName, "graft_gzip_inflate"),
      (children: Seq[Expression]) => {
        arity("graft_gzip_inflate(payload)", 1, children)
        GzipInflate(children.head): Expression
      }),
    (FunctionIdentifier("graft_gzip_deflate"),
      new ExpressionInfo(classOf[GzipDeflate].getName, "graft_gzip_deflate"),
      (children: Seq[Expression]) => {
        arity("graft_gzip_deflate(payload, level)", 2, children)
        GzipDeflate(children.head,
          literalInt("graft_gzip_deflate(payload, level)", children(1))): Expression
      }),
    (FunctionIdentifier("graft_bmp_ahash"),
      new ExpressionInfo(classOf[BmpAHash].getName, "graft_bmp_ahash"),
      (children: Seq[Expression]) => {
        arity("graft_bmp_ahash(payload)", 1, children)
        BmpAHash(children.head): Expression
      }),
    (FunctionIdentifier("graft_bmp_dhash"),
      new ExpressionInfo(classOf[BmpDHash].getName, "graft_bmp_dhash"),
      (children: Seq[Expression]) => {
        arity("graft_bmp_dhash(payload)", 1, children)
        BmpDHash(children.head): Expression
      }),
    (FunctionIdentifier("graft_wav_dhash"),
      new ExpressionInfo(classOf[WavDHash].getName, "graft_wav_dhash"),
      (children: Seq[Expression]) => {
        arity("graft_wav_dhash(payload)", 1, children)
        WavDHash(children.head): Expression
      }),
    (FunctionIdentifier("graft_tar_stats"),
      new ExpressionInfo(classOf[TarStats].getName, "graft_tar_stats"),
      (children: Seq[Expression]) => {
        arity("graft_tar_stats(payload)", 1, children)
        TarStats(children.head): Expression
      }),
    (FunctionIdentifier("graft_tar_member_table"),
      new ExpressionInfo(classOf[TarMemberTable].getName, "graft_tar_member_table"),
      (children: Seq[Expression]) => {
        arity("graft_tar_member_table(payload)", 1, children)
        TarMemberTable(children.head): Expression
      }),
    (FunctionIdentifier("graft_zip_stats"),
      new ExpressionInfo(classOf[ZipStats].getName, "graft_zip_stats"),
      (children: Seq[Expression]) => {
        arity("graft_zip_stats(payload)", 1, children)
        ZipStats(children.head): Expression
      }),
    (FunctionIdentifier("graft_zip_entry_table"),
      new ExpressionInfo(classOf[ZipEntryTable].getName, "graft_zip_entry_table"),
      (children: Seq[Expression]) => {
        arity("graft_zip_entry_table(payload)", 1, children)
        ZipEntryTable(children.head): Expression
      }),
    (FunctionIdentifier("graft_char_bigram_counts"),
      new ExpressionInfo(classOf[CharBigramCounts].getName, "graft_char_bigram_counts"),
      (children: Seq[Expression]) => {
        arity("graft_char_bigram_counts(text)", 1, children)
        CharBigramCounts(children.head): Expression
      }),
    (FunctionIdentifier("graft_utf8_stats"),
      new ExpressionInfo(classOf[Utf8Stats].getName, "graft_utf8_stats"),
      (children: Seq[Expression]) => {
        arity("graft_utf8_stats(bytes)", 1, children)
        Utf8Stats(children.head): Expression
      }),
    (FunctionIdentifier("graft_utf8_sanitize"),
      new ExpressionInfo(classOf[Utf8Sanitize].getName, "graft_utf8_sanitize"),
      (children: Seq[Expression]) => {
        arity("graft_utf8_sanitize(bytes)", 1, children)
        Utf8Sanitize(children.head): Expression
      }))

  /** Idempotent in-session registration (for sessions built without the
    * extensions config — e.g. the driver's own). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    functions.foreach { case (id, info, builder) =>
      if (!registry.functionExists(id)) registry.registerFunction(id, info, builder)
    }
  }
}
