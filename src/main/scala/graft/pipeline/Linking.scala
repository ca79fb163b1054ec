package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Dataset, Observation}
import org.apache.spark.sql.functions._

/** Candidate entity linking, one pass per mention row:
  *   1. BLOCKING — MinHash-LSH over character 3-gram shingles of surface
  *      forms vs dictionary aliases. The [[AliasIndex]] is built on the
  *      driver from the dictionary: exact alias → entities plus band
  *      bucket → entities, oversized buckets quarantined. Identical strings
  *      are always candidates (exact recall 1); near-duplicate surfaces
  *      (case/spacing variants) share ≥1 band with high probability.
  *   2. SCORING — TF-IDF cosine between the mention's paragraph tokens and
  *      the entity profile (name + topic tokens). Document frequencies are
  *      ONE aggregation over the mention table; idf, the entity vectors and
  *      their norms are built from it on the driver and shipped with the
  *      index in one broadcast.
  *   3. TOP-1 — per row, (score desc, entity_iri asc).
  *
  * Bound: the dictionary, the profiles and the idf vocabulary live on the
  * driver and in every executor (the old relational plan broadcast the
  * same three tables); the mention table never shuffles.
  */
object Linking {

  // 2 bands × 8 rows: P(candidate) = 1-(1-s^8)^2 — steep around s≈0.8.
  // Identical strings still share every band (exact recall guaranteed);
  // loose banding (4×4) floods the join with near-name collisions when the
  // alias universe is self-similar, creating hot band-hash keys.
  val NumHashes = 16
  val Bands = 2
  val RowsPerBand: Int = NumHashes / Bands

  /** Seeded 64-bit hash for minhashing (seed-mixed FNV). */
  def seededHash(s: String, seed: Int): Long = {
    var h = 0xcbf29ce484222325L ^ (seed.toLong * 0x9E3779B97F4A7C15L)
    var k = 0
    while (k < s.length) {
      h ^= s.charAt(k).toLong
      h *= 0x100000001b3L
      k += 1
    }
    // final avalanche (splitmix64 tail)
    h ^= h >>> 30; h *= 0xbf58476d1ce4e5b9L
    h ^= h >>> 27; h *= 0x94d049bb133111ebL
    h ^ (h >>> 31)
  }

  /** Character 3-gram shingles of the case/space-normalized string. */
  def shingles(s: String): Seq[String] = {
    val n = ("^^" + s.toLowerCase(java.util.Locale.ROOT).replace(" ", "") + "$$")
    (0 to n.length - 3).map(i => n.substring(i, i + 3)).distinct
  }

  /** MinHash signature → per-band keys `(bandId, bandHash)`. */
  def bandKeys(s: String): Seq[(Int, Long)] = {
    val sh = shingles(s)
    val sig = Array.tabulate(NumHashes) { i =>
      var min = Long.MaxValue
      sh.foreach { g => val h = seededHash(g, i); if (h < min) min = h }
      min
    }
    (0 until Bands).map { b =>
      var h = 0xcbf29ce484222325L
      var r = 0
      while (r < RowsPerBand) {
        h ^= sig(b * RowsPerBand + r)
        h *= 0x100000001b3L
        r += 1
      }
      (b, h)
    }
  }

  def tokenize(s: String): Seq[String] =
    s.toLowerCase(java.util.Locale.ROOT).split("[^\\p{L}\\p{N}&]+").toSeq.filter(_.nonEmpty)

  /** Entity profile tokens: name words + planted topic tokens. */
  def entityProfile(entityIri: String, name: String, topics: Seq[String]): Seq[String] =
    (tokenize(name) ++ topics.map(_.toLowerCase(java.util.Locale.ROOT))).distinct

  /** Alias band-buckets holding more dictionary rows than this are
    * quarantined from blocking (a self-similar alias universe floods a
    * band; every surface in such a bucket would fan out to the whole
    * bucket). Exact surface == alias matches stay candidates regardless,
    * so only near-miss (fuzzy) recall inside the flooded bucket is traded —
    * the bucket is, by construction, noise.
    */
  val MaxAliasBandBucket = 1024

  /** AUDIT surface for the quarantine (no silent caps — the td09/td12
    * `*HotBands` discipline): (band_id, band_hash, n_aliases) of every
    * alias band-bucket larger than the cap, from the [[AliasIndex]]'s own
    * bucketing. [[block]] and [[link]] warn whenever it would be non-empty.
    */
  def aliasHotBands(
      dict: Dataset[EntityAlias],
      maxAliasBandBucket: Int = MaxAliasBandBucket): DataFrame = {
    val spark = dict.sparkSession
    import spark.implicits._
    AliasIndex(dict.collect().toSeq, maxAliasBandBucket).hotBands
      .map { case ((b, h), n) => (b, h, n) }.toDF("band_id", "band_hash", "n_aliases")
  }

  private val logger = org.slf4j.LoggerFactory.getLogger("graft.pipeline.Linking")

  /** The dictionary's index, built on the driver; a quarantined bucket is a
    * data-quality event and always surfaces as a warning.
    */
  private def index(dict: Dataset[EntityAlias], maxAliasBandBucket: Int): AliasIndex = {
    val ix = AliasIndex(dict.collect().toSeq, maxAliasBandBucket)
    if (ix.hotBands.nonEmpty)
      logger.warn(s"Linking: quarantined ${ix.hotBands.size} alias band-bucket(s) " +
        s"larger than $maxAliasBandBucket from blocking " +
        "(exact-match recall unaffected; see Linking.aliasHotBands)")
    ix
  }

  /** Blocking alone: the candidates [[link]] scores. `mentions` needs
    * (mention_id, surface) columns. Output: (mention_id, entity_iri), one
    * row per candidate of each mention row.
    */
  def block(
      mentions: DataFrame,
      dict: Dataset[EntityAlias],
      maxAliasBandBucket: Int = MaxAliasBandBucket): DataFrame = {
    val spark = mentions.sparkSession
    import spark.implicits._
    val ix = spark.sparkContext.broadcast(index(dict, maxAliasBandBucket))
    mentions.select($"mention_id", $"surface").as[(Long, String)].flatMap { case (id, s) =>
      val x = ix.value
      x.candidates(s).map(e => (id, x.entities(e)))
    }.toDF("mention_id", "entity_iri")
  }

  /** A context's token ids: Spark's `lower`, `split` on non-word runs,
    * empties dropped, each token dictionary-encoded by `xxhash64`
    * (vocabulary interning, reference `src/build.rs:75-91`). A 64-bit
    * collision would merge two vocabulary terms; at 2^64 over a web
    * vocabulary the expected count is ~0, and any collision is
    * deterministic. The context sits in the once-per-row argument, never
    * inside a lambda.
    */
  private def tokenIds(context: Column): Column =
    transform(filter(split(lower(context), "[^\\p{L}\\p{N}&]+"), t => length(t) > 0), xxhash64(_))

  /** Everything the per-row pass reads, in one broadcast. An entity's
    * vector is its corpus tids (weight idf) sorted, so identical profiles score
    * bit-identically and a tie falls to the lower entity index, i.e. the
    * lower IRI.
    */
  private final case class Scorer(
      index: AliasIndex,
      idf: Map[Long, Double],
      entityTids: Array[Array[Long]],
      entityNorm: Array[Double]) {

    /** TF-IDF cosine top-1 of one mention row: w = tf·idf; a candidate is
      * scored only if it shares ≥1 token; (score desc, entity_iri asc).
      */
    def best(mentionId: Long, surface: String, tids: Array[Long]): Option[Candidate] = {
      val cands = index.candidates(surface)
      if (cands.isEmpty || tids == null) None
      else {
        val w = tids.groupMapReduce(identity)(_ => 1L)(_ + _)
          .collect { case (t, tf) if idf.contains(t) => t -> tf * idf(t) }
        val mNorm = math.sqrt(w.valuesIterator.map(x => x * x).sum)
        var bestE = -1
        var bestScore = 0.0
        cands.foreach { e =>
          val ts = entityTids(e)
          var dot = 0.0
          var shared = false
          var j = 0
          while (j < ts.length) {
            w.get(ts(j)).foreach { x => dot += x * idf(ts(j)); shared = true }
            j += 1
          }
          // candidates ascend, so only a strictly higher score displaces
          if (shared) {
            val score = dot / (mNorm * entityNorm(e))
            if (bestE < 0 || score > bestScore) { bestE = e; bestScore = score }
          }
        }
        if (bestE < 0) None else Some(Candidate(mentionId, index.entities(bestE), bestScore))
      }
    }
  }

  /** Full linking stage over (mention_id, surface, context) rows and the
    * (entity_iri, token) profiles: one document-frequency aggregation
    * (idf = ln(1 + N/df), N = mention rows, counted on the same job), then
    * a lazy per-row pass — the caller's write is its only other action.
    */
  def link(
      mentions: DataFrame,
      dict: Dataset[EntityAlias],
      profiles: DataFrame): Dataset[Candidate] = {
    val spark = mentions.sparkSession
    import spark.implicits._
    val ix = index(dict, MaxAliasBandBucket)
    val rows = mentions.select($"mention_id", $"surface", tokenIds($"context").as("tids"))

    val n = new Observation()
    val df = rows.observe(n, count(lit(1)).as("n"))
      .select(explode(array_distinct($"tids")).as("tid"))
      .groupBy($"tid").count().as[(Long, Long)].collect()
    val nRows = n.get("n").asInstanceOf[Long].toDouble
    // StrictMath: Spark's `log` — the same idf bits as a SQL evaluation
    val idf = df.iterator.map { case (t, d) => t -> StrictMath.log(1.0 + nRows / d) }.toMap

    // tokens absent from the corpus can't contribute
    val pos = ix.entities.zipWithIndex.toMap
    val vecs = profiles.select($"entity_iri", xxhash64($"token")).as[(String, Long)].collect()
      .filter { case (e, t) => pos.contains(e) && idf.contains(t) }
      .groupMap(p => pos(p._1))(_._2)
    val tids = Array.tabulate(ix.entities.length)(e => vecs.get(e).fold(Array.emptyLongArray)(_.sorted))
    val norms = tids.map(ts => math.sqrt(ts.map(idf).map(x => x * x).sum))
    val scorer = spark.sparkContext.broadcast(Scorer(ix, idf, tids, norms))

    rows.as[(Long, String, Array[Long])].flatMap { case (id, s, t) => scorer.value.best(id, s, t) }
  }
}

/** Driver-built blocking index over the dictionary. Entity IRIs are sorted
  * and numbered, so candidate order is IRI order. A band bucket holding
  * more than the cap's dictionary rows is quarantined and listed in
  * [[hotBands]]. Every dictionary alias's candidate set (exact entities ∪
  * its kept band buckets) is precomputed — Aho–Corasick surfaces are
  * aliases, so the band fan-out runs once per unique string; any other
  * surface falls back to its [[Linking.bandKeys]].
  */
final class AliasIndex private (
    val entities: Array[String],
    byAlias: Map[String, Array[Int]],
    buckets: Map[(Int, Long), Array[Int]],
    val hotBands: Seq[((Int, Long), Long)]) extends Serializable {

  /** Candidate entity indices of a surface, ascending. */
  def candidates(surface: String): Array[Int] =
    if (surface == null) Array.emptyIntArray
    else byAlias.getOrElse(surface, AliasIndex.fanOut(Nil, Linking.bandKeys(surface), buckets))
}

object AliasIndex {
  def apply(dict: Seq[EntityAlias], cap: Int): AliasIndex = {
    val entities = dict.map(_.entity_iri).distinct.sorted.toArray
    val pos = entities.zipWithIndex.toMap
    val keys = dict.map(_.alias).distinct.map(a => a -> Linking.bandKeys(a)).toMap
    val bands = dict.flatMap(ea => keys(ea.alias).map(_ -> pos(ea.entity_iri))).groupMap(_._1)(_._2)
    val (hot, kept) = bands.partition(_._2.size > cap)
    val buckets = kept.map { case (k, es) => k -> es.distinct.sorted.toArray }
    val byAlias = dict.groupMap(_.alias)(ea => pos(ea.entity_iri))
      .map { case (a, exact) => a -> fanOut(exact, keys(a), buckets) }
    new AliasIndex(entities, byAlias, buckets,
      hot.map { case (k, es) => k -> es.size.toLong }.toSeq.sorted)
  }

  private def fanOut(
      exact: Seq[Int], keys: Seq[(Int, Long)], buckets: Map[(Int, Long), Array[Int]]): Array[Int] =
    (exact ++ keys.flatMap(buckets.getOrElse(_, Array.emptyIntArray))).distinct.sorted.toArray
}
