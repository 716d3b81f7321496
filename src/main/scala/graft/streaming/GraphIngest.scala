package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.io.{Commits, GraphIndex}

/**
 * Incremental navigation-graph maintenance at the ingest front door —
 * the graph member of the streaming-maintainer family
 * ([[CorpusIngest.maintainVectors]] keeps the IVF index current; this
 * keeps the NSW graph current): vector batches land as JSONL, each
 * drain advances them into silver exactly once
 * ([[IngestStream.drainFresh]]), and the not-yet-indexed silver files
 * search-then-link into the standing graph
 * ([[GraphIndex.ingestBatch]] — one shared-rounds beam search per
 * drain, touched-nodes-only adjacency rewrite).
 *
 * Ledger discipline (the [[SearchIngest]] folded-files record, the
 * r15/r16 lesson applied from the start): the drain's batch is the
 * silver FILES not yet folded, judged against a durable `folded/v=<n>`
 * record — every drain reads only new files (O(drain), never an
 * O(silver) rescan), and the folded record commits LAST so a crash
 * anywhere replays the same files, where the graph ledger's id
 * anti-join (inside [[GraphIndex.ingestBatch]]) heals the replay to a
 * no-op. The whole drain serializes under the index claim; a
 * concurrent drain fails visibly on the claim or a version CAS.
 *
 * The first drain with data BUILDS the graph ([[GraphIndex.build]] —
 * banded-LSH kNN construction); every later drain inserts. Search
 * corpora: callers probe with [[GraphIndex.search]] over the silver
 * store — the beam's per-round `isin` point lookups prune that scan,
 * so the store is never rescanned per round.
 */
object GraphIngest {

  /**
   * One drain: land → silver → search-then-link the unfolded files
   * into the graph. Returns the number of vectors inserted (0 for an
   * empty or fully-replayed drain; the BOOTSTRAP drain returns the
   * corpus size it built from).
   */
  def maintainGraph(
      spark: SparkSession,
      landingDir: String,
      schema: StructType,
      idCol: String,
      vecCol: String,
      silverDir: String,
      checkpointDir: String,
      indexDir: String,
      dims: Int,
      k: Int = 8,
      planesPerBand: Int = 6,
      bands: Int = 4,
      maxBucketSize: Int = 400,
      nEntries: Int = 4,
      beamWidth: Int = 16,
      maxSteps: Int = 10,
      maxBatchLink: Int = 4096,
      candidateK: Int = 0,
      alphaNum: Int = 0,
      alphaDen: Int = 10): Long = Commits.withClaim(spark, indexDir) {
    // a missing silver dir has no fresh files
    IngestStream.drainFresh(spark, landingDir, schema, Seq(idCol, vecCol),
        silverDir, checkpointDir, s"$indexDir/folded").fold(0L) {
      case (fresh, commitFolded) =>
      val batch = fresh.select(col(idCol), col(vecCol))
      val n =
        if (!Commits.hasMeta(spark, indexDir)) {
          // bootstrap: the first data drain trains the graph (build
          // resets only its own parts — the held claim and the
          // folded record committed below survive it)
          val cnt = batch.count()
          // the α policy rides the bootstrap into the index meta;
          // every later drain's ingestBatch reads it from there and
          // RobustPrunes its merges (GraphIndex.Meta)
          GraphIndex.build(batch, idCol, vecCol, indexDir, dims, k,
            planesPerBand, bands, maxBucketSize, nEntries, beamWidth,
            maxSteps, candidateK, alphaNum, alphaDen)
          cnt
        } else {
          // the α policy is the STORE's identity (committed at
          // bootstrap): a non-bootstrap drain passing a DIFFERENT
          // explicit policy is a misconfiguration that would
          // otherwise be silently ignored — fail loudly NAMING the
          // drifting field. Each parameter carries its own
          // "use the committed policy" sentinel (alphaNum = 0,
          // candidateK = 0), so a drain passing the correct alpha
          // with candidateK left at the default never trips on a
          // candidate_k it didn't specify (and the drain-local k,
          // which is ignored post-bootstrap, is never consulted)
          val m = GraphIndex.meta(spark, indexDir)
          val drift = Seq(
            (alphaNum != 0 &&
              (alphaNum != m.alphaNum || alphaDen != m.alphaDen)) ->
              s"alpha=$alphaNum/$alphaDen vs committed ${m.alphaNum}/${m.alphaDen}",
            (candidateK > 0 && math.max(candidateK, m.k) != m.candidateK) ->
              (s"candidate_k=$candidateK (normalized " +
                s"${math.max(candidateK, m.k)}) vs committed ${m.candidateK}"))
            .collect { case (true, msg) => msg }
          require(drift.isEmpty,
            s"graph-maintainer α-policy drift at $indexDir: " +
              s"${drift.mkString("; ")} — rebuild to change the policy")
          // corpus for the searches = standing silver ∪ batch; the
          // beam's isin point lookups prune this scan per round
          GraphIndex.ingestBatch(spark, indexDir,
            spark.read.schema(schema).parquet(silverDir)
              .select(col(idCol), col(vecCol)),
            batch, maxBatchLink)
        }
      // folded record LAST: a crash before this line re-reads the
      // same files next drain; the graph ledger anti-join heals it
      commitFolded()
      n
    }
  }
}
