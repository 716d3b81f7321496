package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.PortableSql
import graft.functions.PortableSql.{DuckDialect => DD, SparkDialect => SD}
import graft.io.Layers
import graft.ops.{Aggregate, Clean, Dedup, ImageDedup, Multimodal, Quality, Similarity}
import graft.ops.Aggregate.{AggSpec, Metric}

/** media slice of the [[SparkEntry]] registry — multimodal: image/audio/video decode (real codecs), perceptual hashes, constellation fingerprints, cross-modal clusters, media stats.
  * Split by family for maintainability; entries and oracles are
  * verbatim registry content (no behavior change). */
private[graft] trait EntryMedia extends EntryContext {

  protected def mediaQueries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- north-star multimodal: binary payload plumbing + metadata stats
    "q25_media_stats" -> ((s, dir) =>
      Multimodal.mediaStats(
        Multimodal.demoMediaTable(T(s, dir, "documents"), "doc_id", "text").toDF())),


    // ---- north-star CAPSTONE: the full web-ingestion pipeline — render
    //      pages (duplicate crawl for every 3rd doc, UTF-8 BOM on every
    //      2nd payload), land them as a splittable WARC archive, then
    //      re-ingest: boundary-synced WARC scan → MIME sniff → charset-
    //      sniffed decode → HTML main-content extraction → robots.txt
    //      gate (messy-cased hosts, /private/ paths denied) → exact
    //      dedup + char accounting. Every stage is one of the round's
    //      oracle-proven operators, so the END-TO-END oracle is purely
    //      constructive over the source table.
    "q146_web_capstone" -> ((s, dir) => {
      import s.implicits._
      val g = graft.functions.GraftFunctions
      val out = tmp("q146_warc")
      val docs = T(s, dir, "documents").filter(col("text").isNotNull)
      def pathFor(stem: String) = when(col("doc_id") % 7 === 0,
          concat(lit("/private/" + stem), col("doc_id")))
        .otherwise(concat(lit("/docs/" + stem), col("doc_id")))
      def page(d: DataFrame, pathCol: org.apache.spark.sql.Column) = d.select(
        concat(lit("HTTP://Corpus.LOCAL"), pathCol).as("target_uri"),
        lit("2026-03-01T00:00:00Z").as("warc_date"),
        concat(lit("<urn:web:"), col("doc_id"), lit(":"), pathCol, lit(">"))
          .as("record_id"),
        lit("text/html").as("content_type"),
        when(col("doc_id") % 2 === 0,
          concat(lit(Array(0xEF.toByte, 0xBB.toByte, 0xBF.toByte)),
            encode(syntheticPage(col("doc_id"), col("text")), "UTF-8")))
          .otherwise(encode(syntheticPage(col("doc_id"), col("text")), "UTF-8"))
          .as("payload"))
      graft.sources.WarcIO.writeWarc(
        page(docs, pathFor("doc"))
          .unionByName(
            page(docs.filter(col("doc_id") % 3 === 0), pathFor("copy")))
          .repartition(4),
        out)
      val robots = Seq(("corpus.local", "User-agent: *\nDisallow: /private/"))
        .toDF("host", "robots_txt")
      val fetched = s.read.format("graft.sources.WarcSource")
        .option("path", out).option("splitBytes", "32768").load()
        .filter(g.sniffMime(s, col("payload")) === "text/html")
        .select(col("target_uri").as("url"),
          g.htmlMain(s, g.decodeText(s, col("payload")), minChars = 5)
            .as("content"))
      graft.ops.Robots.filterAllowed(s, fetched, "url", robots, "graftbot")
        .agg(
          count(lit(1)).as("n_allowed"),
          countDistinct(col("content")).as("n_unique"),
          sum(length(col("content"))).as("sum_chars"))
    }),


    // ---- north-star: full web-corpus capstone — render PII-laden
    //      pages (duplicate crawl of every 3rd doc) → WARC archive →
    //      re-ingest across forced splits → charset-sniffed decode →
    //      main-content extraction → PII redaction → token-count
    //      fence → exact dedup. Every stage is identity-or-known
    //      (q139/q140/q145/q148/q149 pin each seam), so the oracle is
    //      pure arithmetic over documents.
    "q166_corpus_capstone" -> ((s, dir) => {
      val g = graft.functions.GraftFunctions
      val out = tmp("q166_warc")
      val docs = T(s, dir, "documents").filter(col("text").isNotNull)
      val id = col("doc_id")
      def page(d: DataFrame, crawl: String) = d.select(
        concat(lit("http://c.local/doc/"), col("doc_id")).as("target_uri"),
        lit("2026-04-01T00:00:00Z").as("warc_date"),
        concat(lit("<urn:cc:" + crawl + ":"), col("doc_id"), lit(">"))
          .as("record_id"),
        lit("text/html").as("content_type"),
        encode(syntheticPage(col("doc_id"), piiMessy(col("doc_id"))), "UTF-8")
          .as("payload"))
      graft.sources.WarcIO.writeWarc(
        page(docs, "a")
          .unionByName(page(docs.filter(id % 3 === 0), "b"))
          .repartition(4),
        out)
      s.read.format("graft.sources.WarcSource")
        .option("path", out).option("splitBytes", "32768").load()
        .select(g.htmlMain(s, g.decodeText(s, col("payload")), minChars = 5)
          .as("content"))
        .select(g.piiScrub(s, col("content")).as("t"))
        .filter(g.tokenCount(s, col("t")) >= 20)
        .agg(
          count(lit(1)).as("n_kept"),
          countDistinct(col("t")).as("n_unique"),
          sum(length(col("t"))).as("sum_chars"))
    }),


    // ---- north-star multimodal: JPEG/EXIF metadata extraction —
    //      dimensions + orientation + camera make + capture datetime
    //      parsed from REAL assembled bytes (SOI/APP1/SOF0 markers,
    //      both TIFF byte orders), no pixel decode; every field is a
    //      pure function of doc_id, truncated payloads (id%13=0) must
    //      yield null fields. The oracle is modular arithmetic while
    //      the kernel walks actual JPEG segments.
    "q179_exif_meta" -> ((s, dir) => {
      import s.implicits._
      val docs = T(s, dir, "documents").filter(col("text").isNotNull)
      val payloads = docs.select(col("doc_id")).as[Long]
        .map(id => (id, graft.ops.Multimodal.demoJpeg(id)))
        .toDF("doc_id", "payload")
      val id = col("doc_id")
      payloads.select(id,
          graft.functions.GraftFunctions.exifMeta(s, col("payload")).as("m"))
        .select(id, col("m.width").as("w"), col("m.height").as("h"),
          col("m.orientation").as("o"), col("m.make").as("mk"),
          col("m.datetime").as("dt"))
        .groupBy(col("o").as("orientation"))
        .agg(
          count(lit(1)).as("n_images"),
          sum(id).as("sum_ids"),
          sum(when(col("w") === (lit(200) + id % 30) &&
            col("h") === (lit(100) + id % 50), 1L).otherwise(0L))
            .as("n_dims_ok"),
          sum(when(col("mk") === concat(lit("Cam"), id % 3), 1L)
            .otherwise(0L)).as("n_make_ok"),
          sum(when(col("dt") === concat(lit("2026:01:"),
            lpad((id % 27 + 1).cast("string"), 2, "0"),
            lit(" 12:00:00")), 1L).otherwise(0L)).as("n_dt_ok"))
    }),


    // ---- north-star: audio quality triage — integer-exact clipping/
    //      peak/DC stats over REAL constructed WAV bytes (every sample
    //      a pure function of doc_id, so the oracle replays the per-
    //      sample arithmetic); corrupt payloads (id%13=0) must land in
    //      the NULL bucket, not crash.
    "q186_audio_quality" -> ((s, dir) => {
      import s.implicits._
      val docs = T(s, dir, "documents").filter(col("text").isNotNull)
      val payloads = docs.select(col("doc_id")).as[Long]
        .map(id => (id, graft.ops.Multimodal.demoWav(id)))
        .toDF("doc_id", "payload")
      val id = col("doc_id")
      payloads
        .select(id,
          graft.functions.GraftFunctions.audioStats(s, col("payload")).as("a"))
        .groupBy((id % 5).as("bucket"))
        .agg(
          count(lit(1)).as("n_payloads"),
          sum(when(col("a").isNull, 1L).otherwise(0L)).as("n_corrupt"),
          sum(col("a.n_samples")).as("sum_samples"),
          max(col("a.peak")).as("max_peak"),
          sum(col("a.n_clipped")).as("n_clipped"),
          sum(col("a.sum_abs")).as("sum_abs"),
          sum(col("a.sum_val")).as("sum_val"),
          sum(when(col("a.sample_rate") === 8000 && col("a.channels") === 1,
            1L).otherwise(0L)).as("n_fmt_ok"))
    }),


    // ---- north-star: image perceptual hashes over REAL PNG payloads —
    //      constructive grayscale PNGs (zlib/CRC assembled by hand,
    //      decoded back through javax.imageio), BT.601 luma pooled to a
    //      9×8 integer grid, aHash/dHash packed into signed 64-bit
    //      words. PNG is lossless and integer pooling is exact, so the
    //      oracle replays decode→pool→hash as pure modular arithmetic
    //      from the pixel formula (Multimodal.demoPng) — the codec
    //      itself is inside the verified chain, not stubbed around.
    "q276_image_phash" -> ((s, dir) => {
      ImageDedup.perceptualHashes(
        demoImageTable(s, dir), "media_id", "payload")
    }),


    // ---- north-star: image near-dup pairs — Hamming ball over the
    //      aHash via 16-bit band LSH (the q31 SimHash shape on image
    //      content): candidates share a band, verify is
    //      bit_count(xor) <= 6, never an all-pairs product. The demo
    //      corpus stripes ids into structural clusters, so the answer
    //      set is the within-cluster pair lattice minus jitter-broken
    //      edges — replayed by the oracle with identical banding.
    "q277_image_neardup" -> ((s, dir) => {
      val hashes = ImageDedup.perceptualHashes(
        demoImageTable(s, dir), "media_id", "payload")
      ImageDedup.hammingNearDups(
        hashes, "media_id", "ahash", maxHamming = 6)
    }),


    // ---- north-star: audio constellation fingerprints (Wang 2003's
    //      peak-pair landmarks) over REAL WAV payloads decoded through
    //      javax.sound — square-wave filter bank instead of an FFT so
    //      frame → signed-top-two signature → landmark is exact
    //      integer arithmetic the oracle replays from the tone formula
    //      (PCM is lossless; the codec is inside the verified chain).
    //      16 bins: the bank must cover the corpus's period range AND
    //      carry enough per-frame entropy that landmark classes exceed
    //      the source count — an 8-bin bank saturated at the sf1
    //      fixture's 5000 sources (measured 4× false-pair floor; the
    //      1024-bin FFT of the public system is this dial at scale).
    "q278_audio_fingerprint" -> ((s, dir) =>
      graft.ops.AudioDedup.fingerprints(
        demoToneTable(s, dir), "media_id", "payload", bins = 16)),


    // ---- north-star: audio near-dup pairs — shared-landmark counting
    //      through the inverted fp→doc join (the Shazam index probe;
    //      never all-pairs). The demo corpus clusters ids by dominant
    //      square period, so cluster mates share most landmarks and
    //      strangers share almost none; the oracle replays landmarking
    //      AND the same threshold count.
    "q279_audio_neardup" -> ((s, dir) => audioPairs(s, dir)),


    // ---- north-star: the DURABLE audio-fingerprint probe — q279's
    //      production shape (the q60/q286 convention): the corpus
    //      slice's landmarks live in io/AudioIndex (built once,
    //      geometry pinned in meta), and the % 10 == 0 batch decodes
    //      map-side and probes the store — batch×store + batch-
    //      internal, never store×store, the corpus never re-decoded.
    //      Result ≡ q279 restricted to pairs touching the batch.
    "q295_audio_index_probe" -> ((s, dir) =>
      graft.io.AudioIndex.probe(
        demoToneTable(s, dir).filter(col("media_id") % 10 === 0),
        "payload", durableAudioIndex(s, dir), minShared = 8L)),


    // ---- north-star: right-to-be-forgotten on the audio store — the
    //      % 7 == 0 sources are deleted (one anti-join rewrite, stage
    //      + two renames); the same probe must never pair with them
    //      again ≡ an index built without them (AudioIndexSpec pins
    //      the rebuild equivalence; this query pins it vs the oracle).
    "q296_audio_index_forget" -> ((s, dir) =>
      graft.io.AudioIndex.probe(
        demoToneTable(s, dir).filter(col("media_id") % 10 === 0),
        "payload", forgottenAudioIndex(s, dir), minShared = 8L)),


    // ---- north-star: streaming audio near-dup gating end-to-end —
    //      WAV payloads land as WARC waves (evens, then odds), each
    //      drain O(new files) via the folded-files ledger, decode →
    //      landmark → probe the standing store → append committed
    //      marker-last (streaming/AudioIngest — ImageIngest's q282
    //      shape in the landmark domain). Result = drain 2's pairs:
    //      odd batch × even standing + odd-internal evidence.
    "q297_audio_ingest" -> ((s, dir) => mediaIngestPairs(s, dir, "audio")),


    // ---- north-star: streaming video near-dup gating end-to-end —
    //      Y4M payloads land as WARC waves (evens, then odds), each
    //      drain O(new files), decode → per-sampled-frame aHash →
    //      probe the standing frame-hash store for ALIGNED-frame
    //      near-dups → append committed marker-last
    //      (streaming/VideoIngest — the q282/q297 shape in the frame
    //      domain; the store extends ImageIngest's keyed by
    //      (asset, frame_idx)). Result = drain 2's pairs.
    "q298_video_ingest" -> ((s, dir) => mediaIngestPairs(s, dir, "video")),


    // ---- north-star: CROSS-MODAL duplicate clusters — the fusion
    //      capstone of the multimodal dedup family: image Hamming
    //      pairs (q277) and audio shared-landmark pairs (q279) over
    //      the SAME asset ids union into one evidence graph, and
    //      transitive closure merges what no single modality sees
    //      (A≈B by image, B≈C by audio ⇒ {A,B,C} one dup group — the
    //      re-encoded-copy case: visual match survives, audio was
    //      re-mastered, or vice versa). Per cluster: member count +
    //      per-modality edge counts (the agreement report).
    "q281_multimodal_clusters" -> ((s, dir) => {
      val img = ImageDedup.hammingNearDups(
          ImageDedup.perceptualHashes(
            demoImageTable(s, dir), "media_id", "payload"),
          "media_id", "ahash", maxHamming = 6)
        .select(col("id_a"), col("id_b"), lit("image").as("modality"))
      // the audio stem is the SHARED published pair artifact
      // (EntryContext.audioPairs) — the capstone consumes it instead
      // of re-paying the corpus decode + landmark join
      val aud = audioPairs(s, dir)
        .select(col("id_a"), col("id_b"), lit("audio").as("modality"))
      // materialized once: the edge set feeds the closure AND the
      // per-modality agreement counts
      val edges = img.unionByName(aud).localCheckpoint()
      val labels = Dedup.components(edges.select("id_a", "id_b"))
        .select(col("id").as("id_a"), col("label").as("cluster_id"))
      val members = labels.groupBy("cluster_id")
        .agg(count(lit(1)).as("n_members"))
      val byModality = edges.join(labels, Seq("id_a"))
        .groupBy("cluster_id")
        .agg(
          sum(when(col("modality") === "image", 1L).otherwise(0L))
            .as("n_image_edges"),
          sum(when(col("modality") === "audio", 1L).otherwise(0L))
            .as("n_audio_edges"))
      members.join(byModality, Seq("cluster_id"))
    }),


    // ---- north-star: streaming image near-dup gate — the perceptual-
    //      hash maintainer end-to-end: WARC wave 1 (even ids) builds
    //      the standing hash index through the exactly-once archive
    //      drain, WARC wave 2 (odd ids) decodes, probes the standing
    //      index (batch bands only — never store×store), and appends.
    //      Result = drain 2's verified Hamming pairs; the oracle
    //      replays decode→hash from the pixel formula plus the same
    //      banding with the odd-side-required candidate rule.
    "q282_image_ingest" -> ((s, dir) => mediaIngestPairs(s, dir, "image")),


    // ---- north-star: video perceptual hashes over REAL Y4M frame
    //      decode (uncompressed planar YUV — pure byte parsing, no
    //      codec; the last modality leaves the stub): every sampled
    //      frame pools to a 9×8 luma grid and hashes with the exact
    //      q276 aHash kernel. The oracle replays decode→pool→hash from
    //      the luma formula — raw video is lossless, so the codec sits
    //      inside the verified chain.
    "q288_video_phash" -> ((s, dir) =>
      graft.ops.VideoDedup.frameHashes(
        demoVideoTable(s, dir), "media_id", "payload")),


    // ---- north-star: video near-dup via ALIGNED frames — candidates
    //      share an identical (frame_idx, 16-bit band, value) bucket,
    //      alignments verify at Hamming ≤ 6, pairs report at ≥ 2
    //      aligned sampled frames (the audio shared-landmark evidence
    //      convention in the frame-timing domain).
    "q289_video_neardup" -> ((s, dir) =>
      graft.ops.VideoDedup.videoNearDups(
        graft.ops.VideoDedup.frameHashes(
          demoVideoTable(s, dir), "media_id", "payload"),
        "media_id")),


    // ---- north-star: TRI-modal duplicate clusters — the q281
    //      capstone with the video modality joined in: image Hamming
    //      pairs ∪ audio shared-landmark pairs ∪ video aligned-frame
    //      pairs over the same asset ids form one evidence graph;
    //      min-label closure; per-cluster member and per-modality
    //      edge counts. All three decoders are REAL (PNG, WAV, Y4M).
    "q290_trimodal_clusters" -> ((s, dir) => {
      val img = ImageDedup.hammingNearDups(
          ImageDedup.perceptualHashes(
            demoImageTable(s, dir), "media_id", "payload"),
          "media_id", "ahash", maxHamming = 6)
        .select(col("id_a"), col("id_b"), lit("image").as("modality"))
      // consumes the shared published audio-pair stem
      // (EntryContext.audioPairs) — see q281's note
      val aud = audioPairs(s, dir)
        .select(col("id_a"), col("id_b"), lit("audio").as("modality"))
      val vid = graft.ops.VideoDedup.videoNearDups(
          graft.ops.VideoDedup.frameHashes(
            demoVideoTable(s, dir), "media_id", "payload"),
          "media_id")
        .select(col("id_a"), col("id_b"), lit("video").as("modality"))
      val edges = img.unionByName(aud).unionByName(vid).localCheckpoint()
      val labels = Dedup.components(edges.select("id_a", "id_b"))
        .select(col("id").as("id_a"), col("label").as("cluster_id"))
      val members = labels.groupBy("cluster_id")
        .agg(count(lit(1)).as("n_members"))
      val byModality = edges.join(labels, Seq("id_a"))
        .groupBy("cluster_id")
        .agg(
          sum(when(col("modality") === "image", 1L).otherwise(0L))
            .as("n_image_edges"),
          sum(when(col("modality") === "audio", 1L).otherwise(0L))
            .as("n_audio_edges"),
          sum(when(col("modality") === "video", 1L).otherwise(0L))
            .as("n_video_edges"))
      members.join(byModality, Seq("cluster_id"))
    })
  )

  protected def mediaOracles: Map[String, String] = Map(

    // EXIF replay: the injected metadata is modular in doc_id — valid
    // ids recover every field (checks == counts), truncated ids
    // (%13=0) land in the NULL-orientation group with zero recoveries
    "q179_exif_meta" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 13 = 0 THEN NULL
        |         ELSE CAST(doc_id % 8 + 1 AS INT) END AS o
        |  FROM documents WHERE text IS NOT NULL)
        |SELECT o AS orientation, count(*) AS n_images,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_ids,
        |  CAST(sum(CASE WHEN o IS NULL THEN 0 ELSE 1 END) AS BIGINT)
        |    AS n_dims_ok,
        |  CAST(sum(CASE WHEN o IS NULL THEN 0 ELSE 1 END) AS BIGINT)
        |    AS n_make_ok,
        |  CAST(sum(CASE WHEN o IS NULL THEN 0 ELSE 1 END) AS BIGINT)
        |    AS n_dt_ok
        |FROM p GROUP BY o""".stripMargin,


    "q25_media_stats" ->
      s"""SELECT CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
         |  count(*) AS n_assets,
         |  CAST(sum(strlen(text)) AS BIGINT) AS total_bytes,
         |  CAST(max(strlen(text) * 10) AS BIGINT) AS max_duration_ms
         |FROM documents GROUP BY 1""".stripMargin,


    // capstone replay: every stage is identity-or-known (WARC roundtrip
    // byte-exact per q139, decode strips the BOM per q145, extraction
    // recovers text per q140, robots denies exactly the /private/
    // paths per q144), so the oracle is pure arithmetic on documents —
    // duplicate crawl rows included
    "q146_web_capstone" ->
      """WITH pages AS (
        |  SELECT doc_id, text FROM documents WHERE text IS NOT NULL
        |  UNION ALL
        |  SELECT doc_id, text FROM documents
        |  WHERE text IS NOT NULL AND doc_id % 3 = 0),
        |allowed AS (SELECT * FROM pages WHERE doc_id % 7 <> 0)
        |SELECT count(*) AS n_allowed,
        |  count(DISTINCT text) AS n_unique,
        |  CAST(sum(length(text)) AS BIGINT) AS sum_chars
        |FROM allowed""".stripMargin,


    // audio replay: per-sample modular arithmetic over unnest(range),
    // same clip/peak/abs/DC sums; id%13 payloads are corrupt by
    // construction and must count only in n_corrupt
    "q186_audio_quality" ->
      """WITH d AS (SELECT doc_id FROM documents WHERE text IS NOT NULL),
        |g AS (SELECT doc_id FROM d WHERE doc_id % 13 <> 0),
        |s AS (SELECT doc_id, unnest(range(0, 200 + doc_id % 50)) AS i FROM g),
        |v AS (SELECT doc_id,
        |        CASE WHEN doc_id % 9 = 0 AND i % 25 = 0 THEN 32767
        |             ELSE ((doc_id*31 + i*17) % 2001 - 1000) * 16 END AS v
        |      FROM s),
        |a AS (SELECT doc_id, count(*) AS n_samples, max(abs(v)) AS peak,
        |        sum(CASE WHEN v = 32767 OR v = -32768 THEN 1 ELSE 0 END)
        |          AS n_clipped,
        |        sum(abs(v)) AS sum_abs, sum(v) AS sum_val
        |      FROM v GROUP BY doc_id)
        |SELECT d.doc_id % 5 AS bucket, count(*) AS n_payloads,
        |  CAST(sum(CASE WHEN a.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_corrupt,
        |  CAST(sum(a.n_samples) AS BIGINT) AS sum_samples,
        |  CAST(max(a.peak) AS BIGINT) AS max_peak,
        |  CAST(sum(a.n_clipped) AS BIGINT) AS n_clipped,
        |  CAST(sum(a.sum_abs) AS BIGINT) AS sum_abs,
        |  CAST(sum(a.sum_val) AS BIGINT) AS sum_val,
        |  CAST(sum(CASE WHEN a.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_fmt_ok
        |FROM d LEFT JOIN a ON a.doc_id = d.doc_id
        |GROUP BY 1""".stripMargin,


    // corpus-capstone replay: WARC/decode/extract are identity
    // (q139/q145/q140), the scrub is the q149 construction, token and
    // char deltas per suffix are fixed (+2 tokens each; 16/13/10/12/21
    // chars) — pure arithmetic incl. the duplicate-crawl union
    "q166_corpus_capstone" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    len(string_split(text, ' '))
        |      + CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 0 END
        |      + CASE WHEN doc_id % 4 = 0 THEN 2 ELSE 0 END
        |      + CASE WHEN doc_id % 6 = 0 THEN 2 ELSE 0 END
        |      + CASE WHEN doc_id % 5 IN (0, 1) THEN 2 ELSE 0 END AS toks,
        |    length(text)
        |      + CASE WHEN doc_id % 3 = 0 THEN 16 ELSE 0 END
        |      + CASE WHEN doc_id % 4 = 0 THEN 13 ELSE 0 END
        |      + CASE WHEN doc_id % 6 = 0 THEN 10 ELSE 0 END
        |      + CASE WHEN doc_id % 5 = 0 THEN 12
        |             WHEN doc_id % 5 = 1 THEN 21 ELSE 0 END AS chars,
        |    text
        |      || CASE WHEN doc_id % 3 = 0 THEN ' contact <EMAIL>' ELSE '' END
        |      || CASE WHEN doc_id % 4 = 0 THEN ' call <PHONE>' ELSE '' END
        |      || CASE WHEN doc_id % 6 = 0 THEN ' host <IP>' ELSE '' END
        |      || CASE WHEN doc_id % 5 = 0 THEN ' card <CARD>'
        |              WHEN doc_id % 5 = 1 THEN ' ref 4532015112830367'
        |              ELSE '' END AS scrub
        |  FROM documents WHERE text IS NOT NULL),
        |pages AS (
        |  SELECT * FROM base
        |  UNION ALL
        |  SELECT * FROM base WHERE doc_id % 3 = 0),
        |kept AS (SELECT * FROM pages WHERE toks >= 20)
        |SELECT count(*) AS n_kept, count(DISTINCT scrub) AS n_unique,
        |  CAST(sum(chars) AS BIGINT) AS sum_chars
        |FROM kept""".stripMargin,


    // perceptual-hash replay: the WHOLE decode→pool→hash chain as
    // modular arithmetic — PNG is lossless, gray-raster luma is the
    // pixel value, pooling is integer block means, bits pack into a
    // signed BIGINT (bit 63 is the two's-complement sign term, spelled
    // as a literal because 1<<63 overflows)
    "q276_image_phash" -> (imagePhashSql +
      """
        |SELECT ah.id AS media_id, ah.ahash, dh.dhash
        |FROM ah JOIN dh ON dh.id = ah.id""".stripMargin),


    // near-dup replay: identical 16-bit banding over the oracle's own
    // ahash, then the bit_count(xor) verify — band recall is part of
    // the CONTRACT (both engines surface exactly the banded pairs)
    "q277_image_neardup" -> (imagePhashSql +
      """,
        |bands AS (SELECT id, b.b AS band,
        |    (ahash >> CAST(b.b * 16 AS INTEGER)) & 65535 AS v
        |  FROM ah, generate_series(0, 3) b(b)),
        |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
        |  FROM bands a JOIN bands b
        |    ON b.band = a.band AND b.v = a.v AND a.id < b.id)
        |SELECT c.id_a, c.id_b,
        |  CAST(bit_count(xor(x.ahash, y.ahash)) AS BIGINT) AS hamming
        |FROM cand c JOIN ah x ON x.id = c.id_a JOIN ah y ON y.id = c.id_b
        |WHERE bit_count(xor(x.ahash, y.ahash)) <= 6""".stripMargin),


    // video replay: luma formula → sampled frames (t even, t < nf) →
    // 4×4 block means → per-frame aHash (the q276 packing, with the
    // frame dimension threaded through every CTE)
    "q288_video_phash" -> (videoPhashSql +
      """
        |SELECT id AS media_id, CAST(t AS BIGINT) AS frame_idx, ahash
        |FROM vah""".stripMargin),


    // aligned-frame near-dup replay: identical 16-bit banding per
    // (frame_idx, band), Hamming ≤ 6 verify per alignment, pairs at
    // ≥ 2 aligned sampled frames
    "q289_video_neardup" -> (videoPhashSql +
      """,
        |vbands AS (SELECT id, t, b.b AS band,
        |    (ahash >> CAST(b.b * 16 AS INTEGER)) & 65535 AS v
        |  FROM vah, generate_series(0, 3) b(b)),
        |vcand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.t
        |  FROM vbands a JOIN vbands b
        |    ON b.t = a.t AND b.band = a.band AND b.v = a.v AND a.id < b.id),
        |valign AS (SELECT DISTINCT c.id_a, c.id_b, c.t
        |  FROM vcand c JOIN vah x ON x.id = c.id_a AND x.t = c.t
        |  JOIN vah y ON y.id = c.id_b AND y.t = c.t
        |  WHERE bit_count(xor(x.ahash, y.ahash)) <= 6)
        |SELECT id_a, id_b, count(*) AS n_frames FROM valign
        |GROUP BY id_a, id_b HAVING count(*) >= 2""".stripMargin),


    // constellation replay: tone formula → 32-sample frames → 16-bin
    // square-wave responses → signed top-two signature
    // sig = ((top·2+sgn_top)·16 + second)·2 + sgn_second ∈ [0, 4·bins²=1024)
    // → fanout-3 landmark packing fp = (sig_t·1024 + sig_{t+d})·3 + (Δt−1)
    "q278_audio_fingerprint" -> (audioPeaksSql +
      """
        |SELECT a.id AS media_id, CAST(a.t AS BIGINT) AS t,
        |  CAST((a.sig * 1024 + b.sig) * 3 + (b.t - a.t - 1) AS BIGINT) AS fp
        |FROM pk a JOIN pk b
        |  ON b.id = a.id AND b.t > a.t AND b.t <= a.t + 3""".stripMargin),


    // shared-landmark replay: distinct per-doc landmarks, inverted
    // fp join, same >= 8 threshold
    "q279_audio_neardup" -> (audioPeaksSql +
      """,
        |fp AS (SELECT DISTINCT a.id,
        |    (a.sig * 1024 + b.sig) * 3 + (b.t - a.t - 1) AS fp
        |  FROM pk a JOIN pk b
        |    ON b.id = a.id AND b.t > a.t AND b.t <= a.t + 3)
        |SELECT x.id AS id_a, y.id AS id_b, count(*) AS n_shared
        |FROM fp x JOIN fp y ON y.fp = x.fp AND x.id < y.id
        |GROUP BY x.id, y.id HAVING count(*) >= 8""".stripMargin),


    // durable-probe replay: q279's pair set restricted to pairs
    // touching the % 10 == 0 batch (the q60 equivalence convention)
    "q295_audio_index_probe" -> (audioPeaksSql +
      """,
        |fp AS (SELECT DISTINCT a.id,
        |    (a.sig * 1024 + b.sig) * 3 + (b.t - a.t - 1) AS fp
        |  FROM pk a JOIN pk b
        |    ON b.id = a.id AND b.t > a.t AND b.t <= a.t + 3)
        |SELECT x.id AS id_a, y.id AS id_b, count(*) AS n_shared
        |FROM fp x JOIN fp y ON y.fp = x.fp AND x.id < y.id
        |WHERE x.id % 10 = 0 OR y.id % 10 = 0
        |GROUP BY x.id, y.id HAVING count(*) >= 8""".stripMargin),


    // forget replay: q295's pair set minus any pair whose STORE-side
    // member (% 10 <> 0) was deleted (% 7 = 0) — batch docs are not
    // in the store and survive regardless of their own % 7
    "q296_audio_index_forget" -> (audioPeaksSql +
      """,
        |fp AS (SELECT DISTINCT a.id,
        |    (a.sig * 1024 + b.sig) * 3 + (b.t - a.t - 1) AS fp
        |  FROM pk a JOIN pk b
        |    ON b.id = a.id AND b.t > a.t AND b.t <= a.t + 3)
        |SELECT x.id AS id_a, y.id AS id_b, count(*) AS n_shared
        |FROM fp x JOIN fp y ON y.fp = x.fp AND x.id < y.id
        |WHERE (x.id % 10 = 0 OR y.id % 10 = 0)
        |  AND (x.id % 10 = 0 OR x.id % 7 <> 0)
        |  AND (y.id % 10 = 0 OR y.id % 7 <> 0)
        |GROUP BY x.id, y.id HAVING count(*) >= 8""".stripMargin),


    // audio-ingest drain replay: landmarks from the tone formula, WARC
    // record URN identities, drain 2's odd-side batch rule with
    // lexicographic pair normalization (the q282 convention)
    "q297_audio_ingest" -> (audioPeaksSql +
      """,
        |rfp AS (SELECT DISTINCT
        |    '<urn:graft:aud:' || CAST(a.id AS VARCHAR) || '>' AS rid,
        |    a.id % 2 <> 0 AS is_odd,
        |    (a.sig * 1024 + b.sig) * 3 + (b.t - a.t - 1) AS fp
        |  FROM pk a JOIN pk b
        |    ON b.id = a.id AND b.t > a.t AND b.t <= a.t + 3)
        |SELECT least(p.rid, s.rid) AS id_a, greatest(p.rid, s.rid) AS id_b,
        |  count(DISTINCT p.fp) AS n_shared
        |FROM rfp p JOIN rfp s ON s.fp = p.fp AND s.rid <> p.rid
        |WHERE p.is_odd
        |GROUP BY 1, 2 HAVING count(DISTINCT p.fp) >= 8""".stripMargin),


    // video-ingest drain replay: frame hashes from the luma formula,
    // WARC record URN identities, drain 2's odd-side batch rule with
    // lexicographic pair normalization and aligned-frame counting
    "q298_video_ingest" -> (videoPhashSql +
      """,
        |rvh AS (SELECT '<urn:graft:vid:' || CAST(id AS VARCHAR) || '>' AS rid,
        |    id % 2 <> 0 AS is_odd, t, ahash
        |  FROM vah),
        |vpb AS (SELECT rid, t, ahash, b.b AS band,
        |    (ahash >> CAST(b.b * 16 AS INTEGER)) & 65535 AS v
        |  FROM rvh, generate_series(0, 3) b(b) WHERE is_odd),
        |vsb AS (SELECT rid, t, ahash, b.b AS band,
        |    (ahash >> CAST(b.b * 16 AS INTEGER)) & 65535 AS v
        |  FROM rvh, generate_series(0, 3) b(b)),
        |valn AS (SELECT DISTINCT least(p.rid, s.rid) AS id_a,
        |    greatest(p.rid, s.rid) AS id_b, p.t
        |  FROM vpb p JOIN vsb s ON s.t = p.t AND s.band = p.band
        |    AND s.v = p.v AND s.rid <> p.rid
        |  WHERE bit_count(xor(p.ahash, s.ahash)) <= 6)
        |SELECT id_a, id_b, count(*) AS n_frames FROM valn
        |GROUP BY id_a, id_b HAVING count(*) >= 2""".stripMargin),


    // cross-modal cluster replay: both modality stems, identical pair
    // derivations, union → recursive min-id closure → per-cluster
    // member and per-modality edge counts
    "q281_multimodal_clusters" -> {
      val img = imagePhashSql.stripPrefix("WITH ")
      val aud = audioPeaksSql.stripPrefix("WITH ")
      s"""WITH RECURSIVE $img,
         |$aud,
         |ibands AS (SELECT id, b.b AS band,
         |    (ahash >> CAST(b.b * 16 AS INTEGER)) & 65535 AS v
         |  FROM ah, generate_series(0, 3) b(b)),
         |ipairs AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
         |  FROM ibands a JOIN ibands b
         |    ON b.band = a.band AND b.v = a.v AND a.id < b.id
         |  JOIN ah x ON x.id = a.id JOIN ah y ON y.id = b.id
         |  WHERE bit_count(xor(x.ahash, y.ahash)) <= 6),
         |afp AS (SELECT DISTINCT a.id,
         |    (a.sig * 1024 + b.sig) * 3 + (b.t - a.t - 1) AS fp
         |  FROM pk a JOIN pk b
         |    ON b.id = a.id AND b.t > a.t AND b.t <= a.t + 3),
         |apairs AS (SELECT x.id AS id_a, y.id AS id_b
         |  FROM afp x JOIN afp y ON y.fp = x.fp AND x.id < y.id
         |  GROUP BY x.id, y.id HAVING count(*) >= 8),
         |medges AS (SELECT id_a, id_b, 'image' AS modality FROM ipairs
         |  UNION ALL SELECT id_a, id_b, 'audio' FROM apairs),
         |mp AS (SELECT DISTINCT id_a, id_b FROM medges),
         |${closureCtesOver("mp")},
         |mm AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members
         |  FROM labels GROUP BY cluster_id),
         |ec AS (SELECT l.cluster_id,
         |    CAST(sum(CASE WHEN e.modality = 'image' THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_image_edges,
         |    CAST(sum(CASE WHEN e.modality = 'audio' THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_audio_edges
         |  FROM medges e JOIN labels l ON l.doc_id = e.id_a
         |  GROUP BY l.cluster_id)
         |SELECT mm.cluster_id, mm.n_members, ec.n_image_edges, ec.n_audio_edges
         |FROM mm JOIN ec ON ec.cluster_id = mm.cluster_id""".stripMargin
    },


    // tri-modal cluster replay: all three modality stems (image
    // pixels, audio tones, video frames — every decoder lossless, so
    // each replays from its formula), identical pair derivations,
    // union → recursive min-id closure → per-cluster member and
    // per-modality edge counts
    "q290_trimodal_clusters" -> {
      val img = imagePhashSql.stripPrefix("WITH ")
      val aud = audioPeaksSql.stripPrefix("WITH ")
      val vid = videoPhashSql.stripPrefix("WITH ")
      s"""WITH RECURSIVE $img,
         |$aud,
         |$vid,
         |ibands AS (SELECT id, b.b AS band,
         |    (ahash >> CAST(b.b * 16 AS INTEGER)) & 65535 AS v
         |  FROM ah, generate_series(0, 3) b(b)),
         |ipairs AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
         |  FROM ibands a JOIN ibands b
         |    ON b.band = a.band AND b.v = a.v AND a.id < b.id
         |  JOIN ah x ON x.id = a.id JOIN ah y ON y.id = b.id
         |  WHERE bit_count(xor(x.ahash, y.ahash)) <= 6),
         |afp AS (SELECT DISTINCT a.id,
         |    (a.sig * 1024 + b.sig) * 3 + (b.t - a.t - 1) AS fp
         |  FROM pk a JOIN pk b
         |    ON b.id = a.id AND b.t > a.t AND b.t <= a.t + 3),
         |apairs AS (SELECT x.id AS id_a, y.id AS id_b
         |  FROM afp x JOIN afp y ON y.fp = x.fp AND x.id < y.id
         |  GROUP BY x.id, y.id HAVING count(*) >= 8),
         |vbands AS (SELECT id, t, b.b AS band,
         |    (ahash >> CAST(b.b * 16 AS INTEGER)) & 65535 AS v
         |  FROM vah, generate_series(0, 3) b(b)),
         |vcand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.t
         |  FROM vbands a JOIN vbands b
         |    ON b.t = a.t AND b.band = a.band AND b.v = a.v AND a.id < b.id),
         |valign AS (SELECT DISTINCT c.id_a, c.id_b, c.t
         |  FROM vcand c JOIN vah x ON x.id = c.id_a AND x.t = c.t
         |  JOIN vah y ON y.id = c.id_b AND y.t = c.t
         |  WHERE bit_count(xor(x.ahash, y.ahash)) <= 6),
         |vpairs AS (SELECT id_a, id_b FROM valign
         |  GROUP BY id_a, id_b HAVING count(*) >= 2),
         |medges AS (SELECT id_a, id_b, 'image' AS modality FROM ipairs
         |  UNION ALL SELECT id_a, id_b, 'audio' FROM apairs
         |  UNION ALL SELECT id_a, id_b, 'video' FROM vpairs),
         |mp AS (SELECT DISTINCT id_a, id_b FROM medges),
         |${closureCtesOver("mp")},
         |mm AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members
         |  FROM labels GROUP BY cluster_id),
         |ec AS (SELECT l.cluster_id,
         |    CAST(sum(CASE WHEN e.modality = 'image' THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_image_edges,
         |    CAST(sum(CASE WHEN e.modality = 'audio' THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_audio_edges,
         |    CAST(sum(CASE WHEN e.modality = 'video' THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_video_edges
         |  FROM medges e JOIN labels l ON l.doc_id = e.id_a
         |  GROUP BY l.cluster_id)
         |SELECT mm.cluster_id, mm.n_members, ec.n_image_edges,
         |  ec.n_audio_edges, ec.n_video_edges
         |FROM mm JOIN ec ON ec.cluster_id = mm.cluster_id""".stripMargin
    },


    // image-ingest drain replay: hashes from the pixel formula, WARC
    // record URN identities, the probe's banding with the odd-side
    // (drain-2 batch) candidate rule, lexicographic pair normalization
    "q282_image_ingest" -> (imagePhashSql +
      """,
        |rid AS (SELECT '<urn:graft:img:' || CAST(id AS VARCHAR) || '>' AS rid,
        |    id % 2 <> 0 AS is_odd, ahash
        |  FROM ah),
        |pb AS (SELECT rid, ahash, b.b AS band,
        |    (ahash >> CAST(b.b * 16 AS INTEGER)) & 65535 AS v
        |  FROM rid, generate_series(0, 3) b(b) WHERE is_odd),
        |sb AS (SELECT rid, ahash, b.b AS band,
        |    (ahash >> CAST(b.b * 16 AS INTEGER)) & 65535 AS v
        |  FROM rid, generate_series(0, 3) b(b))
        |SELECT DISTINCT least(p.rid, s.rid) AS id_a,
        |  greatest(p.rid, s.rid) AS id_b,
        |  CAST(bit_count(xor(p.ahash, s.ahash)) AS BIGINT) AS hamming
        |FROM pb p JOIN sb s ON s.band = p.band AND s.v = p.v
        |  AND s.rid <> p.rid
        |WHERE bit_count(xor(p.ahash, s.ahash)) <= 6""".stripMargin)
  )
}
