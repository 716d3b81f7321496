package graft.functions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/**
 * Native-function surface: registration of graft's custom Catalyst
 * expressions so they are callable from SQL text as well as the Column
 * API.
 *
 * Two entry points, same registry payload:
 *  - `spark.sql.extensions=graft.functions.GraftExtensions` (config-time,
 *    the standard `SparkSessionExtensions` hook), or
 *  - [[GraftFunctions.register]] on a live session (test/REPL-friendly).
 */
object GraftFunctions {

  private val cosineId = FunctionIdentifier("graft_cosine")
  private val cosineInfo =
    new ExpressionInfo(classOf[CosineSimilarity].getName, "graft_cosine")
  private val cosineBuilder: Seq[Expression] => Expression = { args =>
    require(args.length == 2, s"graft_cosine expects 2 arguments, got ${args.length}")
    CosineSimilarity(args.head, args(1))
  }

  private val nearestCentroidId = FunctionIdentifier("graft_nearest_centroid")
  private val nearestCentroidInfo = new ExpressionInfo(
    classOf[NearestCentroidKernel].getName, "graft_nearest_centroid")
  private val nearestCentroidBuilder: Seq[Expression] => Expression = { args =>
    require(args.length == 3,
      s"graft_nearest_centroid expects (vector, ids, centroids), got ${args.length} args")
    NearestCentroidKernel(args.head,
      constArray(args(1), "graft_nearest_centroid", "ids", LongType)
        .map(_.asInstanceOf[Long]),
      constArray(args(2), "graft_nearest_centroid", "centroids", ArrayType(DoubleType))
        .map(c => c.asInstanceOf[Seq[Any]].map(_.asInstanceOf[Double])))
  }

  private val winnowId = FunctionIdentifier("graft_winnow")
  private val winnowInfo =
    new ExpressionInfo(classOf[WinnowingFingerprints].getName, "graft_winnow")
  private val winnowBuilder: Seq[Expression] => Expression = { args =>
    require(args.length == 3, s"graft_winnow expects (text, k, w), got ${args.length} args")
    def intLit(e: Expression, name: String): Int = e match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
      case other => throw new IllegalArgumentException(
        s"graft_winnow $name must be an integer literal, got $other")
    }
    WinnowingFingerprints(args.head, intLit(args(1), "k"), intLit(args(2), "w"))
  }

  private def intLit(e: Expression, fn: String, name: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$fn $name must be an integer literal, got $other")
  }

  private def doubleLit(e: Expression, fn: String, name: String): Double = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Double, _) => v
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v.toDouble
    case org.apache.spark.sql.catalyst.expressions.Literal(v: java.math.BigDecimal, _) =>
      v.doubleValue // SQL parses 0.33 as a DECIMAL literal
    case org.apache.spark.sql.catalyst.expressions.Literal(v: org.apache.spark.sql.types.Decimal, _) =>
      v.toDouble
    case other => throw new IllegalArgumentException(
      s"$fn $name must be a numeric literal, got $other")
  }

  /** The elements of a constant, null-free array argument whose element
    * type is `elem` (a nested array's containsNull is not checked —
    * its elements are checked one by one), as Scala values. */
  private def constArray(e: Expression, fn: String, name: String, elem: DataType): Seq[Any] = {
    def sameType(a: DataType, b: DataType): Boolean = (a, b) match {
      case (ArrayType(x, _), ArrayType(y, _)) => sameType(x, y)
      case _ => a == b
    }
    def fail(why: String) = throw new IllegalArgumentException(
      s"$fn $name must be a constant null-free array<${elem.sql}>, got $e ($why)")
    if (!e.foldable) fail("not constant")
    e.dataType match {
      case ArrayType(t, _) if sameType(t, elem) =>
      case other => fail(other.sql)
    }
    def scala(v: Any, t: DataType): Any = (v, t) match {
      case (null, _) => fail("null value")
      case (a: ArrayData, ArrayType(et, _)) =>
        (0 until a.numElements()).map(i => scala(a.get(i, et), et))
      case (x, _) => x
    }
    scala(e.eval(), e.dataType).asInstanceOf[Seq[Any]]
  }

  private val htmlMainId = FunctionIdentifier("graft_html_main")
  private val htmlMainInfo =
    new ExpressionInfo(classOf[HtmlMainKernel].getName, "graft_html_main")
  private val htmlMainBuilder: Seq[Expression] => Expression = { args =>
    require(args.length == 3,
      s"graft_html_main expects (html, minChars, maxLinkDensity), got ${args.length} args")
    HtmlMainKernel(args.head,
      intLit(args(1), "graft_html_main", "minChars"),
      doubleLit(args(2), "graft_html_main", "maxLinkDensity"))
  }

  private val tokenCountId = FunctionIdentifier("graft_token_count")
  private val tokenCountInfo =
    new ExpressionInfo(classOf[TokenCountKernel].getName, "graft_token_count")
  private val tokenCountBuilder: Seq[Expression] => Expression = { args =>
    require(args.length == 1,
      s"graft_token_count expects 1 argument, got ${args.length}")
    TokenCountKernel(args.head)
  }

  private val langIdId = FunctionIdentifier("graft_lang_id")
  private val langIdInfo =
    new ExpressionInfo(classOf[LangIdKernel].getName, "graft_lang_id")
  private val langIdBuilder: Seq[Expression] => Expression = { args =>
    require(args.length == 1, s"graft_lang_id expects 1 argument, got ${args.length}")
    LangIdKernel(args.head)
  }

  private val dupRatioId = FunctionIdentifier("graft_dup_ratio")
  private val dupRatioInfo =
    new ExpressionInfo(classOf[DupShingleRatioKernel].getName, "graft_dup_ratio")
  private val dupRatioBuilder: Seq[Expression] => Expression = { args =>
    require(args.length == 2,
      s"graft_dup_ratio expects (text, n), got ${args.length} args")
    DupShingleRatioKernel(args.head, intLit(args(1), "graft_dup_ratio", "n"))
  }

  private val entropyId = FunctionIdentifier("graft_char_entropy")
  private val entropyInfo =
    new ExpressionInfo(classOf[CharEntropyKernel].getName, "graft_char_entropy")
  private val entropyBuilder: Seq[Expression] => Expression = { args =>
    require(args.length == 1,
      s"graft_char_entropy expects 1 argument, got ${args.length}")
    CharEntropyKernel(args.head)
  }

  private val wordShinglesId = FunctionIdentifier("graft_word_shingles")
  private val wordShinglesInfo =
    new ExpressionInfo(classOf[WordShinglesKernel].getName, "graft_word_shingles")
  private val wordShinglesBuilder: Seq[Expression] => Expression = { args =>
    require(args.length == 2,
      s"graft_word_shingles expects (text, n), got ${args.length} args")
    WordShinglesKernel(args.head, intLit(args(1), "graft_word_shingles", "n"))
  }

  private val sortedIntersectId = FunctionIdentifier("graft_sorted_intersect")
  private val sortedIntersectInfo =
    new ExpressionInfo(classOf[SortedIntersectCount].getName, "graft_sorted_intersect")
  private val sortedIntersectBuilder: Seq[Expression] => Expression = { args =>
    require(args.length == 2,
      s"graft_sorted_intersect expects 2 arguments, got ${args.length}")
    SortedIntersectCount(args.head, args(1))
  }

  private val sortedIntersectWsumId =
    FunctionIdentifier("graft_sorted_intersect_wsum")
  private val sortedIntersectWsumInfo = new ExpressionInfo(
    classOf[SortedIntersectWeightedSum].getName, "graft_sorted_intersect_wsum")
  private val sortedIntersectWsumBuilder: Seq[Expression] => Expression = { args =>
    require(args.length == 3,
      s"graft_sorted_intersect_wsum expects (ids_a, weights_a, ids_b), " +
        s"got ${args.length} args")
    SortedIntersectWeightedSum(args.head, args(1), args(2))
  }

  private val bpeCountId = FunctionIdentifier("graft_bpe_count")
  private val bpeCountInfo =
    new ExpressionInfo(classOf[BpeCountKernel].getName, "graft_bpe_count")
  private val bpeCountBuilder: Seq[Expression] => Expression = { args =>
    require(args.length == 2,
      s"graft_bpe_count expects (text, mergeSpec), got ${args.length} args")
    BpeCountKernel(args.head, args(1))
  }

  private val nfcId = FunctionIdentifier("graft_nfc")
  private val nfcInfo =
    new ExpressionInfo(classOf[NfcNormalizeKernel].getName, "graft_nfc")
  private val nfcBuilder: Seq[Expression] => Expression = { args =>
    require(args.length == 1, s"graft_nfc expects 1 argument, got ${args.length}")
    NfcNormalizeKernel(args.head)
  }

  private val robotsRulesId = FunctionIdentifier("graft_robots_rules")
  private val robotsRulesInfo =
    new ExpressionInfo(classOf[RobotsRulesKernel].getName, "graft_robots_rules")
  private val robotsRulesBuilder: Seq[Expression] => Expression = { args =>
    require(args.length == 2,
      s"graft_robots_rules expects (content, agent), got ${args.length} args")
    RobotsRulesKernel(args.head, args(1))
  }

  private val robotsAllowedId = FunctionIdentifier("graft_robots_allowed")
  private val robotsAllowedInfo =
    new ExpressionInfo(classOf[RobotsAllowedKernel].getName, "graft_robots_allowed")
  private val robotsAllowedBuilder: Seq[Expression] => Expression = { args =>
    require(args.length == 2,
      s"graft_robots_allowed expects (path, rules), got ${args.length} args")
    RobotsAllowedKernel(args.head, args(1))
  }

  private val sniffMimeId = FunctionIdentifier("graft_sniff_mime")
  private val sniffMimeInfo =
    new ExpressionInfo(classOf[SniffMimeKernel].getName, "graft_sniff_mime")
  private val sniffMimeBuilder: Seq[Expression] => Expression = { args =>
    require(args.length == 1, s"graft_sniff_mime expects 1 argument, got ${args.length}")
    SniffMimeKernel(args.head)
  }

  private val detectCharsetId = FunctionIdentifier("graft_detect_charset")
  private val detectCharsetInfo =
    new ExpressionInfo(classOf[DetectCharsetKernel].getName, "graft_detect_charset")
  private val detectCharsetBuilder: Seq[Expression] => Expression = { args =>
    require(args.length == 1,
      s"graft_detect_charset expects 1 argument, got ${args.length}")
    DetectCharsetKernel(args.head)
  }

  private val decodeTextId = FunctionIdentifier("graft_decode_text")
  private val decodeTextInfo =
    new ExpressionInfo(classOf[DecodeTextKernel].getName, "graft_decode_text")
  private val decodeTextBuilder: Seq[Expression] => Expression = { args =>
    require(args.length == 1,
      s"graft_decode_text expects 1 argument, got ${args.length}")
    DecodeTextKernel(args.head)
  }

  private val htmlTitleId = FunctionIdentifier("graft_html_title")
  private val htmlTitleInfo =
    new ExpressionInfo(classOf[HtmlTitleKernel].getName, "graft_html_title")
  private val htmlTitleBuilder: Seq[Expression] => Expression = { args =>
    require(args.length == 1, s"graft_html_title expects 1 argument, got ${args.length}")
    HtmlTitleKernel(args.head)
  }

  private val piiStatsId = FunctionIdentifier("graft_pii_stats")
  private val piiStatsInfo =
    new ExpressionInfo(classOf[PiiStatsKernel].getName, "graft_pii_stats")
  private val piiStatsBuilder: Seq[Expression] => Expression = { args =>
    require(args.length == 1, s"graft_pii_stats expects 1 argument, got ${args.length}")
    PiiStatsKernel(args.head)
  }

  private val piiScrubId = FunctionIdentifier("graft_pii_scrub")
  private val piiScrubInfo =
    new ExpressionInfo(classOf[PiiScrubKernel].getName, "graft_pii_scrub")
  private val piiScrubBuilder: Seq[Expression] => Expression = { args =>
    require(args.length == 1, s"graft_pii_scrub expects 1 argument, got ${args.length}")
    PiiScrubKernel(args.head)
  }

  private val htmlAnchorsId = FunctionIdentifier("graft_html_anchors")
  private val htmlAnchorsInfo =
    new ExpressionInfo(classOf[HtmlAnchorsKernel].getName, "graft_html_anchors")
  private val htmlAnchorsBuilder: Seq[Expression] => Expression = { args =>
    require(args.length == 1,
      s"graft_html_anchors expects 1 argument, got ${args.length}")
    HtmlAnchorsKernel(args.head)
  }

  private val sitemapUrlsId = FunctionIdentifier("graft_sitemap_urls")
  private val sitemapUrlsInfo =
    new ExpressionInfo(classOf[SitemapUrlsKernel].getName, "graft_sitemap_urls")
  private val sitemapUrlsBuilder: Seq[Expression] => Expression = { args =>
    require(args.length == 1,
      s"graft_sitemap_urls expects 1 argument, got ${args.length}")
    SitemapUrlsKernel(args.head)
  }

  private val robotsDelayId = FunctionIdentifier("graft_robots_delay")
  private val robotsDelayInfo =
    new ExpressionInfo(classOf[RobotsDelayKernel].getName, "graft_robots_delay")
  private val robotsDelayBuilder: Seq[Expression] => Expression = { args =>
    require(args.length == 2,
      s"graft_robots_delay expects (content, agent), got ${args.length} args")
    RobotsDelayKernel(args.head, args(1))
  }

  private val foldAccentsId = FunctionIdentifier("graft_fold_accents")
  private val foldAccentsInfo =
    new ExpressionInfo(classOf[FoldAccentsKernel].getName, "graft_fold_accents")
  private val foldAccentsBuilder: Seq[Expression] => Expression = { args =>
    require(args.length == 1,
      s"graft_fold_accents expects 1 argument, got ${args.length}")
    FoldAccentsKernel(args.head)
  }

  private val unigramPiecesId = FunctionIdentifier("graft_unigram_pieces")
  private val unigramPiecesInfo =
    new ExpressionInfo(classOf[UnigramPiecesKernel].getName, "graft_unigram_pieces")
  private val unigramPiecesBuilder: Seq[Expression] => Expression = { args =>
    require(args.length == 2,
      s"graft_unigram_pieces expects (word, modelSpec), got ${args.length} args")
    UnigramPiecesKernel(args.head, args(1))
  }

  private val unigramCountId = FunctionIdentifier("graft_unigram_count")
  private val unigramCountInfo =
    new ExpressionInfo(classOf[UnigramCountKernel].getName, "graft_unigram_count")
  private val unigramCountBuilder: Seq[Expression] => Expression = { args =>
    require(args.length == 2,
      s"graft_unigram_count expects (text, modelSpec), got ${args.length} args")
    UnigramCountKernel(args.head, args(1))
  }

  private val pageDirectivesId = FunctionIdentifier("graft_page_directives")
  private val pageDirectivesInfo =
    new ExpressionInfo(classOf[PageDirectivesKernel].getName, "graft_page_directives")
  private val pageDirectivesBuilder: Seq[Expression] => Expression = { args =>
    require(args.length == 1,
      s"graft_page_directives expects 1 argument, got ${args.length}")
    PageDirectivesKernel(args.head)
  }

  private val exifMetaId = FunctionIdentifier("graft_exif_meta")
  private val exifMetaInfo =
    new ExpressionInfo(classOf[ExifMetaKernel].getName, "graft_exif_meta")
  private val exifMetaBuilder: Seq[Expression] => Expression = { args =>
    require(args.length == 1,
      s"graft_exif_meta expects 1 argument, got ${args.length}")
    ExifMetaKernel(args.head)
  }

  private val scriptProfileId = FunctionIdentifier("graft_script_profile")
  private val scriptProfileInfo =
    new ExpressionInfo(classOf[ScriptProfileKernel].getName, "graft_script_profile")
  private val scriptProfileBuilder: Seq[Expression] => Expression = { args =>
    require(args.length == 1,
      s"graft_script_profile expects 1 argument, got ${args.length}")
    ScriptProfileKernel(args.head)
  }

  private val audioStatsId = FunctionIdentifier("graft_audio_stats")
  private val audioStatsInfo =
    new ExpressionInfo(classOf[AudioStatsKernel].getName, "graft_audio_stats")
  private val audioStatsBuilder: Seq[Expression] => Expression = { args =>
    require(args.length == 1,
      s"graft_audio_stats expects 1 argument, got ${args.length}")
    AudioStatsKernel(args.head)
  }

  private val lcsCountId = FunctionIdentifier("graft_lcs_count")
  private val lcsCountInfo =
    new ExpressionInfo(classOf[LcsCountKernel].getName, "graft_lcs_count")
  private val lcsCountBuilder: Seq[Expression] => Expression = { args =>
    require(args.length == 2,
      s"graft_lcs_count expects 2 arguments, got ${args.length}")
    LcsCountKernel(args.head, args(1))
  }

  private val wordPiecePiecesId = FunctionIdentifier("graft_wordpiece_pieces")
  private val wordPiecePiecesInfo =
    new ExpressionInfo(classOf[WordPiecePiecesKernel].getName, "graft_wordpiece_pieces")
  private val wordPiecePiecesBuilder: Seq[Expression] => Expression = { args =>
    require(args.length == 2,
      s"graft_wordpiece_pieces expects (word, vocabSpec), got ${args.length} args")
    WordPiecePiecesKernel(args.head, args(1))
  }

  private val wordPieceCountId = FunctionIdentifier("graft_wordpiece_count")
  private val wordPieceCountInfo =
    new ExpressionInfo(classOf[WordPieceCountKernel].getName, "graft_wordpiece_count")
  private val wordPieceCountBuilder: Seq[Expression] => Expression = { args =>
    require(args.length == 2,
      s"graft_wordpiece_count expects (text, vocabSpec), got ${args.length} args")
    WordPieceCountKernel(args.head, args(1))
  }

  private val all = Seq(
    (wordPiecePiecesId, wordPiecePiecesInfo, wordPiecePiecesBuilder),
    (wordPieceCountId, wordPieceCountInfo, wordPieceCountBuilder),
    (lcsCountId, lcsCountInfo, lcsCountBuilder),
    (audioStatsId, audioStatsInfo, audioStatsBuilder),
    (scriptProfileId, scriptProfileInfo, scriptProfileBuilder),
    (exifMetaId, exifMetaInfo, exifMetaBuilder),
    (pageDirectivesId, pageDirectivesInfo, pageDirectivesBuilder),
    (unigramPiecesId, unigramPiecesInfo, unigramPiecesBuilder),
    (unigramCountId, unigramCountInfo, unigramCountBuilder),
    (foldAccentsId, foldAccentsInfo, foldAccentsBuilder),
    (robotsDelayId, robotsDelayInfo, robotsDelayBuilder),
    (sitemapUrlsId, sitemapUrlsInfo, sitemapUrlsBuilder),
    (piiStatsId, piiStatsInfo, piiStatsBuilder),
    (piiScrubId, piiScrubInfo, piiScrubBuilder),
    (htmlAnchorsId, htmlAnchorsInfo, htmlAnchorsBuilder),
    (robotsRulesId, robotsRulesInfo, robotsRulesBuilder),
    (robotsAllowedId, robotsAllowedInfo, robotsAllowedBuilder),
    (htmlTitleId, htmlTitleInfo, htmlTitleBuilder),
    (sniffMimeId, sniffMimeInfo, sniffMimeBuilder),
    (detectCharsetId, detectCharsetInfo, detectCharsetBuilder),
    (decodeTextId, decodeTextInfo, decodeTextBuilder),
    (cosineId, cosineInfo, cosineBuilder),
    (nearestCentroidId, nearestCentroidInfo, nearestCentroidBuilder),
    (winnowId, winnowInfo, winnowBuilder),
    (tokenCountId, tokenCountInfo, tokenCountBuilder),
    (langIdId, langIdInfo, langIdBuilder),
    (dupRatioId, dupRatioInfo, dupRatioBuilder),
    (entropyId, entropyInfo, entropyBuilder),
    (wordShinglesId, wordShinglesInfo, wordShinglesBuilder),
    (sortedIntersectId, sortedIntersectInfo, sortedIntersectBuilder),
    (sortedIntersectWsumId, sortedIntersectWsumInfo, sortedIntersectWsumBuilder),
    (bpeCountId, bpeCountInfo, bpeCountBuilder),
    (nfcId, nfcInfo, nfcBuilder),
    (htmlMainId, htmlMainInfo, htmlMainBuilder))

  def inject(ext: SparkSessionExtensions): Unit =
    all.foreach(ext.injectFunction)

  /** Idempotent in-session registration. Skips names that already
    * resolve — re-registering logs a "replaced a previously registered
    * function" WARN per call, and this runs inside every Column helper. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    all.foreach { case (id, info, builder) =>
      if (!registry.functionExists(id)) registry.registerFunction(id, info, builder)
    }
  }

  /** Column-API handle on the codegen'd kernel. Registers on the given
    * session first (idempotent), then resolves by name — Column
    * construction from a raw Expression is sealed off in Spark 4. */
  def cosine(spark: SparkSession, a: Column, b: Column): Column = {
    register(spark)
    org.apache.spark.sql.functions.call_function("graft_cosine", a, b)
  }

  /** Column-API handle on the fused nearest-centroid kernel
    * ([[NearestCentroidKernel]]): the id of `centroids`' member with
    * the greatest 6-decimal cosine to `vec`, ties → lowest id. */
  def nearestCentroid(
      spark: SparkSession, vec: Column, centroids: Seq[(Long, Seq[Double])]): Column = {
    register(spark)
    org.apache.spark.sql.functions.call_function("graft_nearest_centroid", vec,
      org.apache.spark.sql.functions.typedlit(centroids.map(_._1)),
      org.apache.spark.sql.functions.typedlit(centroids.map(_._2)))
  }

  /** Column-API handle on the winnowing kernel. */
  def winnow(spark: SparkSession, text: Column, k: Int, w: Int): Column = {
    register(spark)
    org.apache.spark.sql.functions.call_function("graft_winnow", text,
      org.apache.spark.sql.functions.lit(k), org.apache.spark.sql.functions.lit(w))
  }

  /** Column-API handle on the page-title kernel — see
    * [[HtmlExtract.title]]. */
  def htmlTitle(spark: SparkSession, html: Column): Column = {
    register(spark)
    org.apache.spark.sql.functions.call_function("graft_html_title", html)
  }

  /** Column-API handle on the payload MIME sniffer — see
    * [[SniffKernels.sniffMime]]. */
  def sniffMime(spark: SparkSession, payload: Column): Column = {
    register(spark)
    org.apache.spark.sql.functions.call_function("graft_sniff_mime", payload)
  }

  /** Column-API handle on the charset detector — see
    * [[SniffKernels.detectCharset]]. */
  def detectCharset(spark: SparkSession, payload: Column): Column = {
    register(spark)
    org.apache.spark.sql.functions.call_function("graft_detect_charset", payload)
  }

  /** Column-API handle on the sniffed-charset text decoder — see
    * [[SniffKernels.decodeText]]. */
  def decodeText(spark: SparkSession, payload: Column): Column = {
    register(spark)
    org.apache.spark.sql.functions.call_function("graft_decode_text", payload)
  }

  /** Column-API handle on the HTML main-content kernel — see
    * [[HtmlExtract.mainContent]]. */
  def htmlMain(
      spark: SparkSession, html: Column,
      minChars: Int = 25, maxLinkDensity: Double = 0.33): Column = {
    register(spark)
    org.apache.spark.sql.functions.call_function("graft_html_main", html,
      org.apache.spark.sql.functions.lit(minChars),
      org.apache.spark.sql.functions.lit(maxLinkDensity))
  }

  /** Column-API handle on the token-count kernel. */
  def tokenCount(spark: SparkSession, text: Column): Column = {
    register(spark)
    org.apache.spark.sql.functions.call_function("graft_token_count", text)
  }

  /** Column-API handle on the language-ID kernel. */
  def langId(spark: SparkSession, text: Column): Column = {
    register(spark)
    org.apache.spark.sql.functions.call_function("graft_lang_id", text)
  }

  /** Column-API handle on the word-shingles kernel — the codegen'd
    * replacement for [[graft.ops.TextOps.wordShingles]]'s HOF form on
    * every shingle-explode hot path (identical output array). */
  def wordShingles(spark: SparkSession, text: Column, n: Int): Column = {
    register(spark)
    org.apache.spark.sql.functions.call_function("graft_word_shingles", text,
      org.apache.spark.sql.functions.lit(n))
  }

  /** Column-API handle on the sorted-intersect-count kernel (both
    * arrays must be `sort_array`-sorted and duplicate-free). */
  def sortedIntersect(spark: SparkSession, a: Column, b: Column): Column = {
    register(spark)
    org.apache.spark.sql.functions.call_function("graft_sorted_intersect", a, b)
  }

  /** Column-API handle on the weighted sorted-intersect kernel
    * ([[SortedIntersectWeightedSum]]): Σ weightsA[i] where idsA[i] ∈
    * idsB, over sorted distinct long-id arrays. */
  def sortedIntersectWsum(
      spark: SparkSession, idsA: Column, weightsA: Column, idsB: Column): Column = {
    register(spark)
    org.apache.spark.sql.functions.call_function(
      "graft_sorted_intersect_wsum", idsA, weightsA, idsB)
  }

  /** Column-API handle on the char-entropy kernel (UNROUNDED nats;
    * apply `round(…, 6)` for the oracle-parity form). */
  def charEntropy(spark: SparkSession, text: Column): Column = {
    register(spark)
    org.apache.spark.sql.functions.call_function("graft_char_entropy", text)
  }

  /** Column-API handle on the duplicate-shingle-ratio kernel
    * (UNROUNDED; apply `round(…, 6)` for the oracle-parity form). */
  def dupShingleRatio(spark: SparkSession, text: Column, n: Int): Column = {
    register(spark)
    org.apache.spark.sql.functions.call_function("graft_dup_ratio", text,
      org.apache.spark.sql.functions.lit(n))
  }

  /** Column-API handle on the BPE segment-count kernel — the
    * production encoder for a learned merge list
    * ([[graft.ops.Bpe.train]]); parity-pinned against the portable
    * fold-of-`replace` form ([[graft.ops.Bpe.segmentCountPortable]]). */
  def bpeCount(
      spark: SparkSession, text: Column, merges: Seq[(String, String)]): Column = {
    register(spark)
    org.apache.spark.sql.functions.call_function("graft_bpe_count", text,
      org.apache.spark.sql.functions.lit(BpeCountKernel.spec(merges)))
  }

  /** Column-API handle on the JPEG/EXIF metadata kernel — see
    * [[ExifExtract.meta]]: `struct<width, height, orientation, make,
    * datetime>`; null struct for non-JPEG payloads. */
  def exifMeta(spark: SparkSession, payload: Column): Column = {
    register(spark)
    org.apache.spark.sql.functions.call_function("graft_exif_meta", payload)
  }

  /** Column-API handle on the page-directives kernel — see
    * [[MetaRobots.directives]]: robots-meta noindex/nofollow flags +
    * the declared canonical URL. */
  def pageDirectives(spark: SparkSession, html: Column): Column = {
    register(spark)
    org.apache.spark.sql.functions.call_function("graft_page_directives", html)
  }

  /** Column-API handle on the unigram Viterbi-segmentation kernel —
    * see [[UnigramKernels.pieces]]. `model` = (piece, logp_micro) of a
    * trained [[graft.ops.Unigram]] model. */
  def unigramPieces(
      spark: SparkSession, word: Column, model: Seq[(String, Long)]): Column = {
    register(spark)
    org.apache.spark.sql.functions.call_function("graft_unigram_pieces", word,
      org.apache.spark.sql.functions.lit(UnigramKernels.spec(model)))
  }

  /** Column-API handle on the unigram token-count kernel — see
    * [[UnigramKernels.count]]: the production encoder for a trained
    * unigram model (the unigram twin of [[bpeCount]]). */
  def unigramCount(
      spark: SparkSession, text: Column, model: Seq[(String, Long)]): Column = {
    register(spark)
    org.apache.spark.sql.functions.call_function("graft_unigram_count", text,
      org.apache.spark.sql.functions.lit(UnigramKernels.spec(model)))
  }

  /** Column-API handle on the WordPiece greedy-segmentation kernel —
    * see [[WordPieceKernels.pieces]]. `vocab` = piece list of a
    * trained [[graft.ops.WordPiece]] vocabulary. */
  def wordPiecePieces(
      spark: SparkSession, word: Column, vocab: Seq[String]): Column = {
    register(spark)
    org.apache.spark.sql.functions.call_function("graft_wordpiece_pieces", word,
      org.apache.spark.sql.functions.lit(WordPieceKernels.spec(vocab)))
  }

  /** Column-API handle on the WordPiece token-count kernel — see
    * [[WordPieceKernels.count]]: the production encoder for a trained
    * WordPiece vocabulary (the greedy twin of [[unigramCount]]). */
  def wordPieceCount(
      spark: SparkSession, text: Column, vocab: Seq[String]): Column = {
    register(spark)
    org.apache.spark.sql.functions.call_function("graft_wordpiece_count", text,
      org.apache.spark.sql.functions.lit(WordPieceKernels.spec(vocab)))
  }

  /** Column-API handle on the PII audit kernel — see
    * [[PiiKernels.piiStats]]: `[n_email, n_phone, n_ipv4, n_card]`. */
  def piiStats(spark: SparkSession, text: Column): Column = {
    register(spark)
    org.apache.spark.sql.functions.call_function("graft_pii_stats", text)
  }

  /** Column-API handle on the PII redaction kernel — see
    * [[PiiKernels.piiScrub]]. */
  def piiScrub(spark: SparkSession, text: Column): Column = {
    register(spark)
    org.apache.spark.sql.functions.call_function("graft_pii_scrub", text)
  }

  /** Column-API handle on the sitemap-entry kernel — see
    * [[SitemapExtract.urls]]. */
  def sitemapUrls(spark: SparkSession, xml: Column): Column = {
    register(spark)
    org.apache.spark.sql.functions.call_function("graft_sitemap_urls", xml)
  }

  /** Column-API handle on the outbound-link kernel — see
    * [[HtmlExtract.anchors]]. */
  def htmlAnchors(spark: SparkSession, html: Column): Column = {
    register(spark)
    org.apache.spark.sql.functions.call_function("graft_html_anchors", html)
  }

  /** Column-API handle on the NFC normalization kernel
    * ([[TextKernels.nfcNormalize]] — ASCII/already-NFC fast paths). */
  def nfc(spark: SparkSession, text: Column): Column = {
    register(spark)
    org.apache.spark.sql.functions.call_function("graft_nfc", text)
  }

  /** Column-API handle on the accent-folding kernel
    * ([[TextKernels.foldAccents]] — lossy; match keys only). */
  def foldAccents(spark: SparkSession, text: Column): Column = {
    register(spark)
    org.apache.spark.sql.functions.call_function("graft_fold_accents", text)
  }

  /** Column-API handle on the one-pass Unicode-script profile kernel
    * ([[TextKernels.scriptProfile]] — pinned BMP block ranges). */
  def scriptProfile(spark: SparkSession, text: Column): Column = {
    register(spark)
    org.apache.spark.sql.functions.call_function("graft_script_profile", text)
  }

  /** Column-API handle on the integer-exact WAV quality-stats kernel
    * ([[AudioStats.stats]] — NULL for malformed/non-PCM payloads). */
  def audioStats(spark: SparkSession, payload: Column): Column = {
    register(spark)
    org.apache.spark.sql.functions.call_function("graft_audio_stats", payload)
  }

  /** Column-API handle on the token-LCS (ROUGE-L) kernel
    * ([[LcsCount.tokenLcs]] — pass the short side as `b`). */
  def lcsCount(spark: SparkSession, a: Column, b: Column): Column = {
    register(spark)
    org.apache.spark.sql.functions.call_function("graft_lcs_count", a, b)
  }
}

/** `--conf spark.sql.extensions=graft.functions.GraftExtensions`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = GraftFunctions.inject(ext)
}
