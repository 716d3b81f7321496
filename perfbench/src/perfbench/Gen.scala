package perfbench

import java.io.{BufferedOutputStream, OutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.security.{DigestOutputStream, MessageDigest}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.Random

/**
 * Seeded input generators. Each writes plain JSONL with a single PRNG
 * seeded from `--seed`, so one seed always yields byte-identical files;
 * each returns the ground truth the output checks compare against and the
 * SHA-256 of every byte it wrote.
 */
object Gen {

  /** Writes lines to `path` while hashing them. */
  final class Sink(path: Path) {
    private val md = MessageDigest.getInstance("SHA-256")
    private val out: OutputStream =
      new DigestOutputStream(new BufferedOutputStream(Files.newOutputStream(path), 1 << 16), md)
    def line(s: String): Unit = { out.write(s.getBytes(UTF_8)); out.write('\n') }
    def close(): String = { out.close(); md.digest().map(b => f"$b%02x").mkString }
  }

  private def q(s: String): String = if (s == null) "null" else Json.str(s)

  // ---- medallion_daily: brewery records served as one paged "API" file

  final case class Breweries(expectedSilver: Long, lines: Int, sha256: String)

  private val BreweryTypes = Array("micro", "nano", "regional", "brewpub", "large",
    "planning", "bar", "contract", "proprietor", "closed")
  private val Countries = Array("United States", "Ireland", "England", "Scotland",
    "Portugal", "South Korea", "Poland", "Austria")

  /** Case and whitespace noise, as the paged API returns it. */
  private def noisy(rng: Random, s: String): String = rng.nextInt(6) match {
    case 0 => s.toUpperCase
    case 1 => s.toLowerCase
    case 2 => s"  $s "
    case 3 => s" ${s.toUpperCase}"
    case _ => s
  }

  /** `n` records: ~5% repeat an earlier id with a different `updated_at`
    * (and freshly noised fields), ~1% carry a null required field (such
    * records never share an id), every string is case/whitespace noised.
    * Expected silver rows: distinct ids whose latest record has every
    * required field set — which by construction is the distinct non-null
    * ids of complete records. */
  def breweries(seed: Long, n: Int, path: Path): Breweries = {
    val rng = new Random(seed * 7919L + 1L)
    val sink = new Sink(path)
    val cities = Array.tabulate(400)(i => s"City ${i % 97} ${(i * 31) % 13}")
    val states = Array.tabulate(50)(i => s"State ${('A' + i % 26).toChar}${i / 26}")
    final case class Base(id: String, city: Int, state: Int, country: Int, typ: Int)
    val bases = ArrayBuffer.empty[Base]
    val latest = mutable.HashMap.empty[String, (Long, Boolean)]
    val usedTs = mutable.HashMap.empty[String, mutable.Set[Long]]
    val t0 = 1735689600L // 2025-01-01T00:00:00Z
    def ts(s: Long): String = java.time.Instant.ofEpochSecond(s).toString.stripSuffix("Z")
    def emit(id: String, name: String, b: Base, state: String, country: String, sec: Long): Unit = {
      val lat = -90.0 + rng.nextInt(1800000) / 10000.0
      val lon = -180.0 + rng.nextInt(3600000) / 10000.0
      sink.line(
        s"""{"id": ${q(id)}, "name": ${q(name)}, "brewery_type": ${q(noisy(rng, BreweryTypes(b.typ)))}, """ +
          s""""city": ${q(noisy(rng, cities(b.city)))}, "state": ${q(state)}, "country": ${q(country)}, """ +
          s""""latitude": $lat, "longitude": $lon, "phone": "${1000000000L + rng.nextInt(900000000)}", """ +
          s""""updated_at": "${ts(sec)}", "ingestion_date": "2025-10-15"}""")
      if (id != null) {
        val complete = name != null && state != null && country != null
        latest.get(id) match {
          case Some((prev, _)) if prev > sec =>
          case _ => latest(id) = (sec, complete)
        }
      }
    }
    var i = 0
    while (i < n) {
      val p = rng.nextDouble()
      if (p < 0.05 && bases.nonEmpty) {
        val b = bases(rng.nextInt(bases.length))
        val seen = usedTs(b.id)
        var sec = t0 + rng.nextInt(60 * 86400)
        while (seen(sec)) sec += 1
        seen += sec
        emit(b.id, noisy(rng, s"Brewery ${b.id.take(6)}"), b,
          noisy(rng, states(b.state)), noisy(rng, Countries(b.country)), sec)
      } else {
        val b = Base(f"${rng.nextLong() & 0xffffffffffffL}%012x-$i%07d",
          rng.nextInt(cities.length), rng.nextInt(states.length),
          rng.nextInt(Countries.length), rng.nextInt(BreweryTypes.length))
        val sec = t0 + rng.nextInt(60 * 86400)
        val name = noisy(rng, s"Brewery ${b.id.take(6)}")
        val state = noisy(rng, states(b.state))
        val country = noisy(rng, Countries(b.country))
        if (p < 0.06) rng.nextInt(4) match { // ~1%: one required field null
          case 0 => emit(null, name, b, state, country, sec)
          case 1 => emit(b.id, null, b, state, country, sec)
          case 2 => emit(b.id, name, b, null, country, sec)
          case _ => emit(b.id, name, b, state, null, sec)
        } else {
          bases += b
          usedTs(b.id) = mutable.Set(sec)
          emit(b.id, name, b, state, country, sec)
        }
      }
      i += 1
    }
    Breweries(latest.count(_._2._2).toLong, n, sink.close())
  }

  // ---- curation_dedup: ScaleGen's document recipe under a seed

  final case class Corpus(texts: Array[String], exactDups: Seq[(Long, Long)], sha256: String)

  private val Vocab: Array[String] = Array(
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row",
    "the", "agg", "key", "query", "a", "scan", "batch")
  private val Langs = Array("en" -> 0.41, "zh" -> 0.15, "es" -> 0.15, "fr" -> 0.15, "de" -> 0.14)

  /** `n` docs: 30-word vocab, 10–100 words, 5 weighted languages, 20
    * round-robin sources, ~5% near-dups (8% of tokens re-drawn), ~0.2%
    * exact dups, 20% of fresh docs splice a chunk of an earlier one. */
  def corpus(seed: Long, n: Int, path: Path): Corpus = {
    val rng = new Random(seed * 104729L + 3L)
    val texts = new Array[String](n)
    val dups = ArrayBuffer.empty[(Long, Long)]
    val sink = new Sink(path)
    var i = 0
    while (i < n) {
      val p = rng.nextDouble()
      texts(i) =
        if (p < 0.05 && i > 0) {
          texts(rng.nextInt(i)).split(" ").map(w =>
            if (rng.nextDouble() < 0.08) Vocab(rng.nextInt(Vocab.length)) else w).mkString(" ")
        } else if (p < 0.052 && i > 0) {
          val src = rng.nextInt(i)
          dups += ((i.toLong, src.toLong))
          texts(src)
        } else {
          val words = Array.fill(10 + rng.nextInt(91))(Vocab(rng.nextInt(Vocab.length)))
          if (rng.nextDouble() < 0.20 && i > 0) {
            val src = texts(rng.nextInt(i)).split(" ")
            if (src.length >= 12) {
              val cl = 8 + rng.nextInt(math.min(13, src.length - 8))
              val from = rng.nextInt(src.length - cl + 1)
              val at = rng.nextInt(math.max(1, words.length - cl))
              System.arraycopy(src, from, words, at, math.min(cl, words.length - at))
            }
          }
          words.mkString(" ")
        }
      val u = rng.nextDouble()
      var acc = 0.0
      val lang = Langs.find { case (_, w) => acc += w; u < acc }.getOrElse(Langs.last)._1
      sink.line(s"""{"doc_id": $i, "text": ${q(texts(i))}, "lang": "$lang", "source": "src${i % 20}"}""")
      i += 1
    }
    Corpus(texts, dups.toSeq, sink.close())
  }

  /** Distinct word 3-shingles, as the program's shingle kernel cuts them
    * (split on single spaces; a short doc is one shingle). */
  def shingles(text: String, n: Int = 3): Set[String] = {
    val toks = text.split(" ", -1)
    val total = math.max(toks.length - n + 1, 1)
    (0 until total).map(i => toks.slice(i, math.min(i + n, toks.length)).mkString(" ")).toSet
  }

  def jaccard(a: String, b: String): Double = {
    val (sa, sb) = (shingles(a), shingles(b))
    val inter = sa.count(sb)
    inter.toDouble / (sa.size + sb.size - inter)
  }

  // ---- vector_serving: clustered 64-dim vectors

  final case class Vectors(
      base: Array[Array[Float]],
      queries: Array[Array[Float]],
      batches: Array[Array[(Long, Array[Float], Boolean)]],
      sha256: Seq[String])

  val Dims = 64
  val LandingIdBase = 10000000L

  /** `nBase` corpus vectors and `nQueries` held-out queries drawn from
    * `clusters` well-separated clusters (v = μ_c + 0.8·g/|g|, unit
    * length), plus `nBatches` landing batches of `batchSize` vectors of
    * which ~5% are near-duplicates of a corpus vector (cosine ≈ 0.999)
    * and the rest fresh cluster members (cosine to any stored vector far
    * below the dedup threshold). Corpus ids are 0…nBase-1; landing ids
    * start at [[LandingIdBase]]. Files: base.jsonl, queries.jsonl,
    * landing/batch_NNNN.jsonl under `dir`. */
  def vectors(seed: Long, nBase: Int, nQueries: Int, nBatches: Int, batchSize: Int,
      clusters: Int, dir: Path): Vectors = {
    val rng = new Random(seed * 15485863L + 5L)
    def unit(v: Array[Double]): Array[Float] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    def gauss(): Array[Double] = Array.fill(Dims)(rng.nextGaussian())
    val centers = Array.fill(clusters)(unit(gauss()))
    def member(): Array[Float] = {
      val c = centers(rng.nextInt(clusters))
      val g = unit(gauss())
      unit(Array.tabulate(Dims)(d => c(d) + 0.8 * g(d)))
    }
    def nearDup(v: Array[Float]): Array[Float] = {
      val g = unit(gauss())
      unit(Array.tabulate(Dims)(d => v(d) + 0.05 * g(d)))
    }
    def row(id: Long, v: Array[Float]): String =
      s"""{"id": $id, "embedding": [${v.mkString(", ")}]}"""
    def write(p: Path, rows: Seq[(Long, Array[Float])]): String = {
      val s = new Sink(p)
      rows.foreach { case (id, v) => s.line(row(id, v)) }
      s.close()
    }
    val base = Array.fill(nBase)(member())
    val queries = Array.fill(nQueries)(member())
    val batches = Array.tabulate(nBatches) { b =>
      Array.tabulate(batchSize) { j =>
        val id = LandingIdBase + b.toLong * batchSize + j
        if (rng.nextDouble() < 0.05) (id, nearDup(base(rng.nextInt(nBase))), true)
        else (id, member(), false)
      }
    }
    Files.createDirectories(dir.resolve("landing"))
    val hashes = Seq(
      write(dir.resolve("base.jsonl"), base.indices.map(i => (i.toLong, base(i)))),
      write(dir.resolve("queries.jsonl"), queries.indices.map(i => (i.toLong, queries(i))))) ++
      batches.indices.map(b => write(dir.resolve(f"landing/batch_$b%04d.jsonl"),
        batches(b).map { case (id, v, _) => (id, v) }.toSeq))
    Vectors(base, queries, batches, hashes)
  }
}
