package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.TextOps._

/** Training-data curation catalog over `documents`: exact + near
  * deduplication (MinHash/LSH, SimHash, n-gram Jaccard), token counting,
  * quality scoring, language ID, and winnowing-style fingerprints.
  *
  * Oracle coverage: EVERY TextCatalog query has a registered DuckDB
  * oracle, hash-checked by the driver each round. The shingle/token
  * hashes are md5-derived ([[graft.functions.TextOps.md5Upper64]] =
  * DuckDB's `md5_number_upper`), the MinHash permutations are XOR-seed
  * bijections of that space, band keys are md5 hex of the joined
  * signature slice, and the dedup-cluster connected components replay as
  * a recursive CTE — the full family graduated from rows-only to oracled
  * in round 5. TextSpec holds the independent ScalaTest oracles
  * (LSH == exact truth, prefix-filter losslessness) on top.
  *
  * Scale posture (100 TB): every per-doc computation is a narrow map over
  * the corpus. Exact dedup shuffles on a 128-bit content hash (uniform —
  * no skew). LSH shuffles on band keys (8×) and never materializes the
  * O(n²) pair space — only within-bucket candidates; the direct pairwise
  * query is deliberately restricted to a per-source block and exists as
  * the small-scale baseline the LSH path is checked against.
  */
object TextCatalog {

  /** A1 at corpus scale: exact dedup via content hash, profiled per lang.
    * At 100 TB dedup keys on md5(text) (128-bit, collision-negligible),
    * never on the raw text — the shuffle moves 16-byte keys, not documents. */
  def exactDedup(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(md5(col("text"))).as("n_unique"),
        sum(col("n_chars")).as("total_chars"))
      .orderBy("lang")

  val exactDedupSql: String =
    """SELECT lang, COUNT(*) AS n_docs, COUNT(DISTINCT md5(text)) AS n_unique,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
      |FROM documents
      |GROUP BY lang
      |ORDER BY lang""".stripMargin

  /** URL-canonicalized dedup — the one common curation key the catalog
    * had not exercised: crawled corpora carry the same page under
    * scheme/case/www/port/tracking-param/trailing-slash variants, and
    * dedup must key on the CANONICAL url, not the raw string. The
    * fixture has no url column, so the query PLANTS deterministic
    * variants (4 per (source, id-bucket) family, mixed case, `:80`,
    * `utm_*` params, `#fragment`, trailing slash — the same
    * plant-then-detect pattern [[graft.queries.VectorCatalog
    * .nearDupCorpus]] uses) and canonicalizes: lowercase scheme+host,
    * strip `www.`/default ports/fragments/`utm_*` params/trailing
    * slashes. Every regex rewrite matches at most once, so Spark's
    * replace-all and DuckDB's replace-first agree and the oracle is
    * cell-exact.
    *
    * Scale shape: canonicalization is a narrow per-row map; the dedup
    * groupBy shuffles one short url string + 8-byte id per doc (never
    * the document payload) on a key whose cardinality is
    * near-input-linear — the same input-linear class as
    * [[exactDedup]]'s hash key. */
  /** Canonicalize a url column: https scheme, lowercase host, strip
    * `www.`/default ports/fragment/`utm_*` params/trailing slash. Every
    * rewrite matches at most once per url, so the Spark (replace-all)
    * and DuckDB (replace-first) spellings agree; PropertySpec proves
    * idempotence — canonical urls are fixed points. */
  def normalizeUrl(url: Column): Column = {
    val host = regexp_replace(regexp_replace(
      lower(regexp_extract(url, "^[a-zA-Z]+://([^/?#]+)", 1)),
      "^www\\.", ""), ":(80|443)$", "")
    val rest = regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      regexp_extract(url, "^[a-zA-Z]+://[^/?#]+(.*)$", 1),
      "#.*", ""), "&utm_[^&]*", ""), "/\\?", "?"), "/$", "")
    concat(lit("https://"), host, rest)
  }

  def urlDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir)
    val n = (col("doc_id") % 50).cast("string")
    val raw = d.withColumn("url",
      when(col("doc_id") % 4 === 0, concat(lit("https://WWW.Example-"),
        col("source"), lit(".com/docs/"), n, lit("?id="), n, lit("&utm_source=feed")))
      .when(col("doc_id") % 4 === 1, concat(lit("http://www.example-"),
        col("source"), lit(".com:80/docs/"), n, lit("/?id="), n))
      .when(col("doc_id") % 4 === 2, concat(lit("https://example-"),
        col("source"), lit(".com/docs/"), n, lit("?id="), n,
        lit("&utm_campaign=y#frag")))
      .otherwise(concat(lit("HTTPS://Example-"), col("source"),
        lit(".COM/docs/"), n, lit("?id="), n)))
    raw.withColumn("norm_url", normalizeUrl(col("url")))
      .groupBy(col("norm_url"))
      .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_dups"))
      .orderBy("norm_url")
  }

  val urlDedupSql: String =
    """WITH raw AS (
      |  SELECT doc_id,
      |    CASE CAST(doc_id % 4 AS INT)
      |      WHEN 0 THEN 'https://WWW.Example-' || source || '.com/docs/' ||
      |        (doc_id % 50) || '?id=' || (doc_id % 50) || '&utm_source=feed'
      |      WHEN 1 THEN 'http://www.example-' || source || '.com:80/docs/' ||
      |        (doc_id % 50) || '/?id=' || (doc_id % 50)
      |      WHEN 2 THEN 'https://example-' || source || '.com/docs/' ||
      |        (doc_id % 50) || '?id=' || (doc_id % 50) || '&utm_campaign=y#frag'
      |      ELSE 'HTTPS://Example-' || source || '.COM/docs/' ||
      |        (doc_id % 50) || '?id=' || (doc_id % 50)
      |    END AS url
      |  FROM documents),
      |parts AS (
      |  SELECT doc_id,
      |    regexp_replace(regexp_replace(
      |      lower(regexp_extract(url, '^[a-zA-Z]+://([^/?#]+)', 1)),
      |      '^www\.', ''), ':(80|443)$', '') AS host,
      |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      |      regexp_extract(url, '^[a-zA-Z]+://[^/?#]+(.*)$', 1),
      |      '#.*', ''), '&utm_[^&]*', ''), '/\?', '?'), '/$', '') AS rest
      |  FROM raw)
      |SELECT 'https://' || host || rest AS norm_url,
      |  MIN(doc_id) AS canonical_id, COUNT(*) AS n_dups
      |FROM parts
      |GROUP BY 1
      |ORDER BY 1""".stripMargin

  /** Token counting: whitespace tokens + a BPE-ish regex token stream
    * (letter runs / digit runs / single punctuation). */
  def tokenCounts(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(
        col("doc_id"),
        size(tokens(col("text"))).as("n_ws_tokens"),
        regexp_count(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]")).as("n_re_tokens"),
        col("n_chars"))
      .orderBy("doc_id")

  val tokenCountsSql: String =
    """SELECT doc_id,
      |  len(string_split(text, ' ')) AS n_ws_tokens,
      |  len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_re_tokens,
      |  n_chars
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** Quality scoring: word count, stopword ratio, average word length —
    * the standard cheap filters of a pretraining-data pipeline. */
  def qualityScore(spark: SparkSession, sfDir: String): DataFrame = {
    val t = tokens(col("text"))
    val en = LangProfiles.toMap.apply("en")
    Tables.documents(spark, sfDir)
      .select(
        col("doc_id"),
        size(t).as("n_words"),
        (stopwordHits(t, en).cast("double") / size(t)).as("stop_ratio"),
        ((length(col("text")) - (size(t) - 1)).cast("double") / size(t)).as("avg_word_len"))
      .orderBy("doc_id")
  }

  val qualityScoreSql: String = {
    val en = LangProfiles.toMap.apply("en").map(w => s"'$w'").mkString(", ")
    s"""SELECT doc_id,
       |  len(string_split(text, ' ')) AS n_words,
       |  CAST(len(list_filter(string_split(text, ' '), t -> t IN ($en))) AS DOUBLE)
       |    / len(string_split(text, ' ')) AS stop_ratio,
       |  CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
       |    / len(string_split(text, ' ')) AS avg_word_len
       |FROM documents
       |ORDER BY doc_id""".stripMargin
  }

  /** Winnowing-style document fingerprint: minimum md5 over the 5-word
    * shingle set — one stable 128-bit id per document that survives
    * reordering of unrelated edits far from the minimal shingle. */
  def fingerprint(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      // typed flatMap shingling (shingleSet — the column form built every
      // shingle inside an interpreted transform() lambda); md5 stays a
      // codegen'd column over the exploded rows (md5 inside a lambda
      // measured 2.5× slower); the min-agg shuffles only
      // (doc_id, 32-byte hash) pairs
      .filter(col("text").isNotNull)
      .select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .flatMap { case (id, t) => shingleSet(t, 5).map(s => (id, s)) }
      .toDF("doc_id", "s")
      .groupBy(col("doc_id"))
      .agg(min(md5(col("s"))).as("fp"))
      .orderBy("doc_id")
  }

  val fingerprintSql: String =
    """SELECT doc_id,
      |  list_aggregate(list_transform(
      |    CASE WHEN len(string_split(text, ' ')) >= 5
      |         THEN list_distinct(list_transform(range(0, len(string_split(text,' ')) - 4),
      |                i -> array_to_string(string_split(text,' ')[i+1:i+5], ' ')))
      |         ELSE [text] END,
      |    s -> md5(s)), 'min') AS fp
      |FROM documents
      |WHERE text IS NOT NULL
      |ORDER BY doc_id""".stripMargin

  /** n-gram Jaccard near-dup: exact pairwise similarity within a source
    * block — the small-scale truth the LSH paths are checked against.
    * Runs the prefix-filtered plan: measured faster than the
    * count-all-postings join at every tested SF (sf0.01: 0.9 s vs 1.6 s;
    * sf0.1: 2.3 s vs 6.3 s — the verify join costs less than the
    * postings it prunes), and it is also the only shape that survives
    * corpus-scale hot shingles. The count-based plan below remains as
    * the independently-derived baseline TextSpec proves it equal to. */
  def ngramSimilarity(spark: SparkSession, sfDir: String): DataFrame =
    ngramSimilarityPrefix(spark, sfDir)

  /** Inverted-index similarity join: explode (doc, shingle-hash) postings
    * and count co-occurrences per pair — |A∩B| materializes ONLY for
    * pairs actually sharing a shingle (the full O(n²) array-intersect
    * version measured 11× slower at sf0.1). |A∪B| = |A|+|B|-|A∩B| since
    * shingle sets are distinct. 64-bit shingle hashing makes the postings
    * shuffle 8-byte keys; collision probability over the corpus is ~1e-8.
    * (Measured: pre-pruning df==1 shingles via an extra groupBy+join
    * costs more than the self-join saves at this corpus shape.) */
  def ngramSimilarityCount(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), shingles(col("text"), 3).as("sh"))
      .withColumn("ns", size(col("sh")))
    val posts = d.select(col("source"), col("doc_id"), col("ns"),
      explode(transform(col("sh"), s => xxhash64(s))).as("h"))
    posts.as("a").join(posts.as("b"),
        col("a.source") === col("b.source") && col("a.h") === col("b.h") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        col("a.ns").as("na"), col("b.ns").as("nb"))
      .agg(count(lit(1)).as("inter"))
      .select(col("d1"), col("d2"), col("inter"),
        (col("na") + col("nb") - col("inter")).as("uni"))
      .withColumn("jac", col("inter").cast("double") / col("uni"))
      .filter(col("jac") >= 0.5)
      .orderBy("d1", "d2")
  }

  /** The 100 TB form: PPJoin-style prefix filtering. Order every doc's
    * hashed shingles in one global order (ascending hash); a pair with
    * Jaccard ≥ t MUST share a shingle within each side's first
    * |X| − ⌈t·|X|⌉ + 1 shingles (if the prefixes were disjoint, the
    * intersection would fit in the ⌈t·|X|⌉ − 1 suffix, below the t·|X|
    * overlap that Jaccard ≥ t forces) — so only prefixes become join
    * postings, capping hot-shingle buckets, and a length filter
    * (t·|A| ≤ |B| ≤ |A|/t) prunes mismatched sizes inside the join.
    * Survivors get exact verification on the full shingle sets.
    * TextSpec proves the bound lossless on adversarial set pairs and the
    * whole query equal to the count-based plan on the fixture corpus. */
  def ngramSimilarityPrefix(spark: SparkSession, sfDir: String,
                            t: Double = 0.5): DataFrame = {
    import spark.implicits._
    // typed shingle+hash+sort loop (shingleSet/fnv64 — the internal keys
    // are hash-agnostic, see fnv64 scaladoc; the column form ran the
    // shingle construction AND the hash inside interpreted lambdas)
    val d = Tables.documents(spark, sfDir)
      .filter(col("text").isNotNull)
      .select(col("doc_id").cast("long"), col("source"), col("text"))
      .as[(Long, String, String)]
      .map { case (id, src, txt) =>
        (id, src, shingleSet(txt, 3).map(fnv64).sorted) }
      .toDF("doc_id", "source", "sh")
      .withColumn("ns", size(col("sh")))
      // reused by the posting explode and the verify join (see minhashPairs)
      .localCheckpoint(false)
    val prefixLen = (col("ns") - ceil(col("ns") * lit(t)) + lit(1)).cast("int")
    val posts = d.select(col("source"), col("doc_id"), col("ns"),
      explode(slice(col("sh"), lit(1), prefixLen)).as("h"))
    val cand = posts.as("a").join(posts.as("b"),
        col("a.source") === col("b.source") && col("a.h") === col("b.h") &&
          col("a.doc_id") < col("b.doc_id") &&
          col("a.ns") * lit(t) <= col("b.ns") &&
          col("b.ns") * lit(t) <= col("a.ns"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()
    cand
      .join(d.select(col("doc_id").as("d1"), col("sh").as("sh1"), col("ns").as("na")), "d1")
      .join(d.select(col("doc_id").as("d2"), col("sh").as("sh2"), col("ns").as("nb")), "d2")
      .select(col("d1"), col("d2"),
        size(array_intersect(col("sh1"), col("sh2"))).cast("long").as("inter"),
        col("na"), col("nb"))
      .select(col("d1"), col("d2"), col("inter"),
        (col("na") + col("nb") - col("inter")).as("uni"))
      .withColumn("jac", col("inter").cast("double") / col("uni"))
      .filter(col("jac") >= t)
      .orderBy("d1", "d2")
  }

  val ngramSimilaritySql: String =
    """WITH s AS (
      |  SELECT doc_id, source,
      |    CASE WHEN len(string_split(text, ' ')) >= 3
      |         THEN list_distinct(list_transform(range(0, len(string_split(text,' ')) - 2),
      |                i -> array_to_string(string_split(text,' ')[i+1:i+3], ' ')))
      |         ELSE [text] END AS sh
      |  FROM documents
      |)
      |SELECT a.doc_id AS d1, b.doc_id AS d2,
      |  len(list_intersect(a.sh, b.sh)) AS inter,
      |  len(list_distinct(list_concat(a.sh, b.sh))) AS uni,
      |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |    / len(list_distinct(list_concat(a.sh, b.sh))) AS jac
      |FROM s a JOIN s b ON a.source = b.source AND a.doc_id < b.doc_id
      |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |    / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5
      |ORDER BY d1, d2""".stripMargin

  /** MinHash + LSH near-dup detection — the scale path. 64-hash signature,
    * 8 bands × 8 rows (threshold ≈ 0.77); candidates from shared band keys
    * only, then exact-Jaccard verification at 0.8. Fully oracled as of
    * round 5: the whole sketch is md5-derived (shingle hash =
    * `md5_number_upper`, permutations = XOR with fixed interpolated
    * seeds, band key = md5 of the joined slice), so DuckDB rebuilds the
    * exact candidate set and the exact-Jaccard verification is engine-
    * independent arithmetic. TextSpec additionally asserts LSH recovers
    * exactly the ≥0.8 pairs the unblocked pairwise scan finds. */
  def minhashLsh(spark: SparkSession, sfDir: String): DataFrame =
    minhashPairs(spark, sfDir).orderBy("d1", "d2")

  /** The DuckDB spelling of the [[minhashIndexOf]]→[[minhashPairs]]
    * pipeline, through the verified ≥0.8 pairs — shared by the LSH and
    * cluster oracles. Seeds interpolate from [[MinHasher.XorSeeds]] (one
    * definition for both engines); `md5_number_upper` is the u64 twin of
    * [[graft.functions.TextOps.md5Upper64]], wrapped to signed BIGINT via
    * HUGEINT so `xor()` and `MIN()` see the same bit patterns and order
    * the JVM loop does. */
  private def minhashPairsCte(src: String = "documents"): String = {
    val seeds = MinHasher.XorSeeds.zipWithIndex
      .map { case (c, i) => s"($i, ${c}::BIGINT)" }.mkString(", ")
    s"""seeds(i, c) AS (VALUES $seeds),
      |mh_d AS (
      |  SELECT doc_id, text, string_split(text, ' ') AS toks
      |  FROM $src WHERE text IS NOT NULL AND text <> ''
      |), mh_sh AS (
      |  SELECT doc_id,
      |    CASE WHEN len(toks) >= 3
      |         THEN list_distinct(list_transform(range(1, len(toks) - 1),
      |                i -> array_to_string(toks[i : i + 2], ' ')))
      |         ELSE [text] END AS sh
      |  FROM mh_d
      |), mh_h AS (
      |  SELECT doc_id,
      |    CAST(u - CASE WHEN u >= 9223372036854775808::HUGEINT
      |             THEN 18446744073709551616::HUGEINT ELSE 0::HUGEINT END
      |         AS BIGINT) AS h
      |  FROM (SELECT doc_id, md5_number_upper(unnest(sh)) AS u FROM mh_sh) t
      |), mh_sig AS (
      |  SELECT doc_id, i, MIN(xor(h, c)) AS sv
      |  FROM mh_h, seeds GROUP BY doc_id, i
      |), mh_bands AS (
      |  SELECT doc_id, i // 8 AS band,
      |    md5(string_agg(sv::VARCHAR, '|' ORDER BY i)) AS key
      |  FROM mh_sig GROUP BY doc_id, i // 8
      |), mh_cand AS (
      |  SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
      |  FROM mh_bands x JOIN mh_bands y
      |    ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id
      |), mh_pairs AS (
      |  SELECT d1, d2,
      |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |      / len(list_distinct(list_concat(a.sh, b.sh))) AS jac
      |  FROM mh_cand JOIN mh_sh a ON a.doc_id = mh_cand.d1
      |               JOIN mh_sh b ON b.doc_id = mh_cand.d2
      |  WHERE jac >= 0.8  -- DuckDB allows lateral alias reuse in WHERE
      |)""".stripMargin
  }

  val minhashLshSql: String =
    s"""WITH ${minhashPairsCte()}
      |SELECT d1, d2, jac FROM mh_pairs ORDER BY d1, d2""".stripMargin

  // bounded per-key memo (same rationale as Listings.landedRun): the
  // index build runs outside the shared lock. Eviction deliberately does
  // NOT try to free the aged-out entry's checkpoint blocks eagerly: the
  // frames are localCheckpoint'd, so their blocks ARE their lineage —
  // an eager unpersist would make any plan still holding the frames fail
  // with missing-block on re-execution (and Dataset.unpersist doesn't
  // release localCheckpoint blocks anyway; they are RDD storage, not
  // CacheManager entries). Reclamation is the JVM's: once eviction drops
  // the only strong reference, the checkpointed RDD becomes unreachable
  // and Spark's ContextCleaner unpersists its blocks at the next GC —
  // lazily, but safely, and bounded by the memo's 4-entry cap.
  private val minhashIndex =
    new graft.core.BoundedMemo[(SparkSession, String), (DataFrame, DataFrame)](4)((_, _) => ())

  /** The shingled corpus + banded MinHash signature index, built ONCE per
    * (session, corpus) and cached — at scale the LSH band index is a
    * stored artifact built by one job and consumed by many (near-dup
    * listing, cluster dedup, incremental re-index), not something every
    * query rebuilds. The checkpointed frames hold ~(doc, 8 band keys).
    * Assumes the corpus under `sfDir` is immutable for the session's
    * life — true for landed artifacts, which is what this models. */
  /** Shingled (doc_id, sh) view of a (doc_id, text) frame. Null/empty
    * text can't participate (it would shingle to [NULL] and make all
    * null docs mutual "near-dups" at jac 1.0). */
  private def shingleFrame(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.filter(col("text").isNotNull && col("text") =!= "")
      .select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .map { case (id, t) => (id, shingleSet(t, 3)) }
      .toDF("doc_id", "sh")
  }

  /** Banded MinHash signatures of a shingled frame — shingle hashing
    * (md5-u64 — cross-engine deterministic, see MinHasher scaladoc) +
    * 64-way signature + banding as one JIT'd per-row loop (60x over
    * nested HOF lambdas). */
  private def bandsOf(shingled: DataFrame): DataFrame = {
    val spark = shingled.sparkSession
    import spark.implicits._
    shingled
      .as[(Long, Seq[String])]
      .flatMap { case (id, sh) =>
        val sig = MinHasher.signature(sh.map(md5Upper64), 64)
        MinHasher.bandKeys(sig, bands = 8, rows = 8)
          .zipWithIndex.map { case (key, b) => (id, b, key) }
      }
      .toDF("doc_id", "band", "key")
  }

  private def minhashIndexOf(spark: SparkSession, sfDir: String): (DataFrame, DataFrame) =
    minhashIndex.get((spark, sfDir)) {
      // reused by the self-join and both verification joins — checkpoint
      // or the dominant shingle+signature stage recomputes up to 4×
      val docs = shingleFrame(Tables.documents(spark, sfDir))
        .localCheckpoint(false)
      val bands = bandsOf(docs).localCheckpoint(false)
      (docs, bands)
    }

  /** The band index's two manifest-store roots and their stored row
    * shapes — snapshot-isolated [[graft.core.EpochManifest]] stores
    * since r11, like the IVF-PQ codes store. */
  def bandsRoot(indexDir: String): String = s"$indexDir/bands"
  def shinglesRoot(indexDir: String): String = s"$indexDir/shingles"

  val bandsSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("band",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("key",
        org.apache.spark.sql.types.StringType)))

  val shinglesSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("sh",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.StringType, containsNull = false))))

  /** Persist the MinHash band index — the stored-artifact form of the
    * session-memoized [[minhashIndexOf]]: band keys + shingled docs as
    * parquet, built by one job and probed by every subsequent
    * [[dedupAgainstIndex]] batch. Epoch 0 is the base build;
    * [[appendBandIndex]] extends it idempotently. */
  def buildBandIndex(docs: DataFrame, indexDir: String): Unit =
    appendBandIndex(docs, indexDir, epoch = 0L)

  /** Extend a persisted band index with a new batch: each store lands
    * an immutable attempt dir committed by an atomic manifest rename —
    * a streaming retry commits a REPLACEMENT entry for its epoch instead
    * of double-appending, keeping [[dedupAgainstIndex]] exactly-once
    * downstream of checkpointed streams ([[graft.streaming.Jobs
    * .dedupIngest]]), and a concurrent probe keeps the snapshot it
    * opened. Shingles commit BEFORE bands: the probe finds candidates
    * in bands and verifies against shingles, so any epoch visible on
    * the candidate side must already be visible on the verify side. */
  def appendBandIndex(docs: DataFrame, indexDir: String, epoch: Long): Unit = {
    import graft.core.EpochManifest
    val sh = shingleFrame(docs).localCheckpoint(false)
    EpochManifest.append(sh, shinglesRoot(indexDir), epoch)
    EpochManifest.append(bandsOf(sh), bandsRoot(indexDir), epoch)
  }

  /** Incremental near-dup detection: find each NEW document's ≥ t
    * near-duplicates in the persisted historical index WITHOUT ever
    * shuffling the history — the shape that matters at 100 TB, where
    * re-running the full self-join per arriving batch would re-shuffle
    * the entire corpus. The new batch's bands and shingles are tiny, so
    * they BROADCAST: candidate selection is a narrow hash probe over
    * the index band scan, and exact verification is a narrow probe over
    * the stored shingle scan. Returns (d1 = historical id, d2 = new id,
    * jac). New-batch ids must not collide with historical ids.
    *
    * `maxEpoch` bounds the history to index epochs <= maxEpoch (a
    * manifest-entry filter — excluded epochs are never listed, let
    * alone read). Streaming retries NEED this: [[graft.streaming.Jobs
    * .dedupIngest]] extends the index (epoch = stream epoch + 1) before
    * its checkpoint commits, so a retried batch would otherwise probe an
    * index already holding its own signatures and emit self/intra-batch
    * pairs. The ingest passes its stream epoch, making the retry read
    * exactly what the first attempt read. */
  def dedupAgainstIndex(newDocs: DataFrame, indexDir: String,
                        t: Double = 0.8,
                        maxEpoch: Long = Long.MaxValue): DataFrame = {
    val spark = newDocs.sparkSession
    val newSh = shingleFrame(newDocs).localCheckpoint(false)
    // r13: both index sides read through the DSv2 connector (pinned
    // manifest scan; epochs above maxEpoch pruned at planning) — the
    // same EpochStoreScan surface every store table uses
    dedupProbe(
      graft.sources.EpochStore.read(spark, bandsRoot(indexDir), bandsSchema,
        maxEpoch = maxEpoch),
      graft.sources.EpochStore.read(spark, shinglesRoot(indexDir),
        shinglesSchema, maxEpoch = maxEpoch),
      newSh, t)
  }

  /** The incremental probe join [[dedupAgainstIndex]] and [[dedupIncrQ]]
    * share: history bands/shingles are probed by the BROADCAST new side
    * (candidate selection and exact verification are both narrow — the
    * history never shuffles). */
  private def dedupProbe(histBands: DataFrame, histSh: DataFrame,
                         newSh: DataFrame, t: Double): DataFrame = {
    val cand = histBands.as("x")
      .join(broadcast(bandsOf(newSh).as("y")),
        col("x.band") === col("y.band") && col("x.key") === col("y.key"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
      .distinct()
    histSh
      .select(col("doc_id").as("d1"), col("sh").as("sh1"))
      .join(broadcast(cand), "d1")
      .join(broadcast(newSh.select(col("doc_id").as("d2"), col("sh").as("sh2"))), "d2")
      .select(col("d1"), col("d2"), jaccard(col("sh1"), col("sh2")).as("jac"))
      .filter(col("jac") >= t)
      .orderBy("d1", "d2")
  }

  /** The driver-checked form of incremental dedup: a deterministic "new
    * batch" (exact copies of docs 0-9 under ids +10^6) probed against
    * the session-memoized history index through the SAME
    * [[dedupProbe]] join the persisted path uses. The DuckDB oracle
    * replays the full MinHash pipeline over the union corpus and keeps
    * only cross pairs (historical d1, new d2) — so candidate banding,
    * verification, and thresholding of the incremental path are all
    * hash-checked cell-exact, not just spec'd. Expected output: each
    * copy pairs with its original at jac 1.0, plus any organic ≥ 0.8
    * near-dup of those ten docs. */
  def dedupIncrQ(spark: SparkSession, sfDir: String): DataFrame = {
    val (histSh, histBands) = minhashIndexOf(spark, sfDir)
    val newDocs = Tables.documents(spark, sfDir)
      .filter(col("doc_id") < 10)
      .select((col("doc_id") + lit(1000000L)).as("doc_id"), col("text"))
    val newSh = shingleFrame(newDocs).localCheckpoint(false)
    dedupProbe(histBands, histSh, newSh, 0.8)
  }

  val dedupIncrSql: String = {
    val union =
      """SELECT doc_id, text FROM documents
        | UNION ALL
        | SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id < 10""".stripMargin
    s"""WITH ${minhashPairsCte(s"($union)")}
      |SELECT d1, d2, jac FROM mh_pairs
      |WHERE d1 < 1000000 AND d2 >= 1000000
      |ORDER BY d1, d2""".stripMargin
  }

  /** The unsorted pair stage — shared by [[minhashLsh]] (which presents
    * them ordered) and [[dedupClustersQ]] (which doesn't need the sort). */
  def minhashPairs(spark: SparkSession, sfDir: String): DataFrame = {
    val (docs, bands) = minhashIndexOf(spark, sfDir)
    val cand = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
      .distinct()
    cand
      .join(docs.select(col("doc_id").as("d1"), col("sh").as("sh1")), "d1")
      .join(docs.select(col("doc_id").as("d2"), col("sh").as("sh2")), "d2")
      .select(col("d1"), col("d2"), jaccard(col("sh1"), col("sh2")).as("jac"))
      .filter(col("jac") >= 0.8)
  }

  /** SimHash sketch per document. Fully oracled: the token hash is
    * md5-derived (= DuckDB's `md5_number_upper`), so DuckDB can rebuild
    * the exact 64-bit signature with bit arithmetic — graduated from
    * rows-only in round 4. */
  def simhashSketch(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .filter(col("text").isNotNull) // typed map below would NPE
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) => (id, simhash64Fast(text)) }
      .toDF("doc_id", "simhash")
      .orderBy("doc_id")
  }

  /** The common signature pipeline the simhash oracles share (src = any
    * relation with doc_id + text): votes per bit over the token multiset,
    * then the HUGEINT bit-sum wrapped back into a signed BIGINT (DuckDB
    * raises on `1::BIGINT << 63`; the two's-complement wrap is exact in
    * HUGEINT). */
  private def simhashSigSqlOver(src: String): String =
    s"""toks AS (
      |  SELECT doc_id, md5_number_upper(unnest(string_split(text, ' '))) AS h
      |  FROM $src WHERE text IS NOT NULL
      |), votes AS (
      |  SELECT doc_id, b, SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
      |  FROM toks, range(0, 64) r(b)
      |  GROUP BY doc_id, b
      |), acc AS (
      |  SELECT doc_id, SUM(CASE WHEN v > 0 THEN (1::HUGEINT << b) ELSE 0::HUGEINT END) AS u
      |  FROM votes GROUP BY doc_id
      |), sig AS (
      |  SELECT doc_id,
      |    CAST(u - CASE WHEN u >= 9223372036854775808::HUGEINT
      |                  THEN 18446744073709551616::HUGEINT ELSE 0::HUGEINT END AS BIGINT)
      |      AS simhash
      |  FROM acc
      |)""".stripMargin

  val simhashSketchSql: String =
    s"""WITH ${simhashSigSqlOver("documents")}
       |SELECT doc_id, simhash FROM sig ORDER BY doc_id""".stripMargin

  /** SimHash near-dup pairs — the sketch completed into a dedup operator:
    * split each 64-bit simhash into 4×16-bit bands; docs sharing any band
    * (pigeonhole: hamming ≤ 3 guarantees a shared band; larger distances
    * are found probabilistically) are candidates, verified by exact
    * hamming ≤ 6. Shuffles (band, key) pairs — never O(n²). Oracled
    * since round 4 (md5-derived signature + DuckDB bit_count/xor). */
  def simhashNearDup(spark: SparkSession, sfDir: String): DataFrame =
    simhashPairsOf(Tables.documents(spark, sfDir)).orderBy("d1", "d2")

  /** The banded near-dup pair stage over ANY frame with (doc_id, text) —
    * shared by [[simhashNearDup]] (whole corpus) and
    * [[curationPipeline]] (the post-dedup survivor set). */
  def simhashPairsOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val sk = docs
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) => (id, simhash64Fast(text)) }
      .toDF("doc_id", "simhash")
    val bands = sk.select(col("doc_id"), col("simhash"),
      explode(expr("transform(sequence(0, 3), b -> " +
        "struct(b AS band, shiftright(simhash, b * 16) & 65535 AS key))")).as("bk"))
      .select(col("doc_id"), col("simhash"), col("bk.band"), col("bk.key"))
    bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"),
        hamming(col("x.simhash"), col("y.simhash")).as("dist"))
      .filter(col("dist") <= 6)
      .dropDuplicates("d1", "d2")
  }

  val simhashNearDupSql: String =
    s"""WITH ${simhashSigSqlOver("documents")}, bands AS (
       |  SELECT doc_id, simhash, b AS band, (simhash >> CAST(b * 16 AS INTEGER)) & 65535 AS key
       |  FROM sig, range(0, 4) r(b)
       |)
       |SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2,
       |  CAST(bit_count(xor(x.simhash, y.simhash)) AS INTEGER) AS dist
       |FROM bands x JOIN bands y
       |  ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id
       |WHERE bit_count(xor(x.simhash, y.simhash)) <= 6
       |ORDER BY d1, d2""".stripMargin

  /** The full dedup decision: MinHash/LSH pairs → connected components →
    * one kept representative per cluster (min doc_id). Output is the
    * cluster inventory; subtracting `keep=false` docs from the corpus IS
    * the dedup. Fully oracled as of round 5: the pair set is md5-derived
    * (see [[minhashPairsCte]]) and DuckDB computes the same min-label
    * components with a recursive transitive-closure CTE — tractable at
    * oracle SF because near-dup clusters are tiny; the engine side runs
    * `Graph.connectedComponents`' min-label rounds, one co-partitioned
    * RDD job per round, which scale with the pair count. GraphSpec
    * additionally proves convergence, job counts and null handling. */
  def dedupClustersQ(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = minhashPairs(spark, sfDir).select(col("d1"), col("d2"))
    graft.functions.Graph.dedupClusters(pairs, "d1", "d2")
      .groupBy(col("comp"))
      .agg(count(lit(1)).as("cluster_size"),
        sum(when(col("keep"), 0L).otherwise(1L)).as("n_dropped"))
      .orderBy("comp")
  }

  /** Min-label connected components in DuckDB over `mh_pairs`:
    * transitive closure by recursive CTE (node reaches anc), comp = min
    * reachable id. The UNION (not UNION ALL) dedups the frontier,
    * guaranteeing termination. ONE definition shared by the three
    * cluster-consuming oracles (`dedupClustersSql`, `clusterSplitSql`,
    * `dedupKeepBestSql`) — the same single-source rule
    * [[minhashPairsCte]] established for the band pipeline: a clustering
    * tweak applied to one copy must not silently diverge the other two.
    * Emits `<p>edges`, `<p>reach`, `<p>cc(id, comp)`. */
  private def ccCteSql(p: String): String =
    s"""${p}edges AS (
      |  SELECT d1 AS src, d2 AS dst FROM mh_pairs
      |  UNION ALL SELECT d2, d1 FROM mh_pairs
      |), ${p}reach(id, anc) AS (
      |  SELECT DISTINCT src, src FROM ${p}edges
      |  UNION
      |  SELECT r.id, e.dst FROM ${p}reach r JOIN ${p}edges e ON e.src = r.anc
      |), ${p}cc AS (
      |  SELECT id, MIN(anc) AS comp FROM ${p}reach GROUP BY id
      |)""".stripMargin

  val dedupClustersSql: String =
    s"""WITH RECURSIVE ${minhashPairsCte()},
      |${ccCteSql("cc_")}
      |SELECT comp, COUNT(*) AS cluster_size,
      |  COUNT(*) - 1 AS n_dropped  -- exactly one kept (id = comp) per cluster
      |FROM cc_cc GROUP BY comp ORDER BY comp""".stripMargin

  /** TF-IDF top terms per document — the classic text-analysis reduction
    * (term frequency × inverse document frequency), fully oracle-able.
    * Scores round to 6 decimals so libm ln() last-ulp differences can't
    * surface. */
  def tfidf(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, sfDir)
    // corpus size as a broadcast 1-row aggregate INSIDE the plan — a
    // docs.count() here would run a separate driver-side job per call
    val n = docs.agg(count(lit(1)).cast("double").as("n_docs"))
    val terms = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    val tf = terms.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val df_ = terms.select(col("doc_id"), col("term")).distinct()
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term").asc)
    tf.join(df_, "term").crossJoin(broadcast(n))
      .withColumn("score", round(col("tf") * log(col("n_docs") / col("df")), 6))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3 && col("doc_id") < 50)
      .select(col("doc_id"), col("rn"), col("term"), col("score"))
      .orderBy("doc_id", "rn")
  }

  val tfidfSql: String =
    """WITH terms AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
      |), tf AS (
      |  SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY doc_id, term
      |), df AS (
      |  SELECT term, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, term FROM terms)
      |  GROUP BY term
      |), n AS (SELECT COUNT(*) AS n FROM documents)
      |SELECT doc_id, rn, term, score FROM (
      |  SELECT tf.doc_id, tf.term,
      |    ROUND(tf.tf * ln(CAST(n.n AS DOUBLE) / df.df), 6) AS score,
      |    ROW_NUMBER() OVER (PARTITION BY tf.doc_id
      |      ORDER BY ROUND(tf.tf * ln(CAST(n.n AS DOUBLE) / df.df), 6) DESC,
      |               tf.term ASC) AS rn
      |  FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
      |)
      |WHERE rn <= 3 AND doc_id < 50
      |ORDER BY doc_id, rn""".stripMargin

  /** Language-ID heuristic — deterministic stopword-hit argmax with
    * profile-order ties, so it oracles exactly (graduated from rows-only
    * in round 4). The synthetic corpus text is English word soup
    * regardless of its `lang` label; TextSpec checks the mechanism on
    * constructed fixtures, the oracle checks the computation. */
  def langIdQuery(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), langId(col("text")).as("pred_lang"))
      .orderBy("doc_id")

  val langIdSql: String = {
    val hits = LangProfiles.map { case (lang, ws) =>
      s"    len(list_filter(toks, x -> x IN (${ws.map(w => s"'$w'").mkString(", ")}))) AS $lang"
    }.mkString(",\n")
    val names = LangProfiles.map(_._1)
    val best = s"greatest(${names.mkString(", ")})"
    // COALESCE: null text yields null hit counts in DuckDB but "und" in
    // the engine (its when-chain falls through to the otherwise)
    val arms = names.map(l => s"    WHEN $l = $best THEN '$l'").mkString("\n")
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |h AS (
       |  SELECT doc_id,
       |$hits
       |  FROM t
       |)
       |SELECT doc_id,
       |  CASE WHEN COALESCE($best, 0) = 0 THEN 'und'
       |$arms
       |  END AS pred_lang
       |FROM h
       |ORDER BY doc_id""".stripMargin
  }

  /** Document chunking — the step between curation and tokenized shards:
    * split each doc into fixed-size token windows (100 tokens, stride 80
    * → 20-token overlap so no boundary context is lost). A doc of n
    * tokens yields 1 chunk if n ≤ 100, else ⌈(n−100)/80⌉ + 1. Pure
    * integer arithmetic + list slicing → exact oracle; emits the chunk
    * md5 rather than the text so the result stays narrow. Narrow map +
    * generator per doc: embarrassingly parallel at any scale. */
  def docChunks(spark: SparkSession, sfDir: String): DataFrame =
    docChunksOf(Tables.documents(spark, sfDir))

  /** Chunker over any frame with (doc_id, text) — the fixture docs all
    * fit one chunk, so TextSpec drives the multi-chunk/overlap/short-tail
    * branches through this with constructed long documents. */
  // One definition feeds BOTH engines: the Scala defaults and the oracle
  // SQL interpolate these (same pattern as curationPipelineSql's stopword
  // list) — a future default change diverging the two would otherwise be
  // silent until the driver's hash check.
  val DefaultChunk = 100
  val DefaultStride = 80
  val DefaultPackCapacity = 2048

  def docChunksOf(docs: DataFrame, chunk: Int = DefaultChunk,
                  stride: Int = DefaultStride): DataFrame = {
    val t = tokens(col("text"))
    val n = size(t)
    val nChunks = when(n <= chunk, lit(1))
      .otherwise(ceil((n - lit(chunk)).cast("double") / stride).cast("int") + lit(1))
    docs
      .filter(col("text").isNotNull)
      .select(col("doc_id"), t.as("toks"), nChunks.as("nc"))
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), col("nc") - 1),
          i => slice(col("toks"), i * stride + 1, lit(chunk)))).as(Seq("chunk_id", "ctoks")))
      .select(col("doc_id"), col("chunk_id"),
        size(col("ctoks")).as("n_toks"),
        md5(concat_ws(" ", col("ctoks"))).as("chunk_md5"))
      .orderBy("doc_id", "chunk_id")
  }

  val docChunksSql: String =
    s"""WITH d AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks,
      |    len(string_split(text, ' ')) AS n
      |  FROM documents WHERE text IS NOT NULL
      |), c AS (
      |  SELECT doc_id, toks,
      |    CASE WHEN n <= $DefaultChunk THEN 1
      |         ELSE CAST(ceil(CAST(n - $DefaultChunk AS DOUBLE) / $DefaultStride) AS INTEGER) + 1 END AS nc
      |  FROM d
      |), x AS (
      |  -- scalar-list range + unnest: DuckDB's lateral range() cannot
      |  -- take a column argument
      |  SELECT doc_id, toks, unnest(range(0, nc)) AS i FROM c
      |)
      |SELECT doc_id, CAST(i AS INTEGER) AS chunk_id,
      |  len(toks[i*$DefaultStride + 1 : i*$DefaultStride + $DefaultChunk]) AS n_toks,
      |  md5(array_to_string(toks[i*$DefaultStride + 1 : i*$DefaultStride + $DefaultChunk], ' ')) AS chunk_md5
      |FROM x
      |ORDER BY doc_id, chunk_id""".stripMargin

  /** Sequence packing — assign docs to fixed-capacity context bins
    * (2048 tokens) by cumulative token count in doc_id order: bin =
    * ⌊(cumsum − n_toks) / capacity⌋, i.e. contiguous fill where a doc
    * spanning a boundary counts toward the bin it started in. This is
    * the scalable deterministic variant of greedy first-fit (true
    * first-fit is a sequential scan; contiguous fill is one window
    * cumsum — the standard trade at corpus scale). Reports per-bin
    * occupancy so a packing run can see its fill efficiency. */
  def docPack(spark: SparkSession, sfDir: String,
              capacity: Int = DefaultPackCapacity): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Distributed prefix sum, NOT `Window.orderBy(doc_id)` with no
    // partition key — that plans as Exchange SinglePartition + one task
    // holding the whole corpus, the textbook window scale-killer.
    // Two-phase instead: range-partition by doc_id (partition i holds
    // strictly smaller ids than i+1), cumsum locally per partition, and
    // add each partition's starting offset — computed from the tiny
    // per-partition totals frame (n_partitions rows), the only thing
    // that ever passes through a single task.
    val d = Tables.documents(spark, sfDir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), size(tokens(col("text"))).as("n_toks"))
      .repartitionByRange(col("doc_id"))
      .withColumn("pid", spark_partition_id())
      // pin ONE materialization: the offsets branch and the main branch
      // must see identical sampled range boundaries / pid assignments
      .localCheckpoint(false)
    val wLocal = Window.partitionBy(col("pid")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wOffset = Window.orderBy(col("pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = d.groupBy(col("pid")).agg(sum(col("n_toks")).as("ptot"))
      .withColumn("offset", coalesce(sum(col("ptot")).over(wOffset), lit(0L)))
      .select(col("pid"), col("offset"))
    d.withColumn("lcum", sum(col("n_toks")).over(wLocal))
      .join(broadcast(offsets), "pid")
      .withColumn("cum", col("lcum") + col("offset"))
      // integer division on BOTH engines: `/` would go through double,
      // where Spark's long cast truncates but DuckDB's rounds
      .withColumn("bin", expr(s"(cum - n_toks) div $capacity"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("bin_toks"))
      .orderBy("bin")
  }

  val docPackSql: String =
    s"""WITH d AS (
      |  SELECT doc_id, len(string_split(text, ' ')) AS n_toks
      |  FROM documents WHERE text IS NOT NULL
      |), c AS (
      |  SELECT doc_id, n_toks,
      |    SUM(n_toks) OVER (ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM d
      |)
      |SELECT CAST((cum - n_toks) // $DefaultPackCapacity AS BIGINT) AS bin,
      |  COUNT(*) AS n_docs, CAST(SUM(n_toks) AS BIGINT) AS bin_toks
      |FROM c
      |GROUP BY 1
      |ORDER BY bin""".stripMargin

  /** Benchmark decontamination — the pretraining hygiene op: flag every
    * training doc sharing at least one 8-gram with the held-out eval
    * set, reporting how many distinct grams leak. The eval set here is
    * every 10th doc_id (a corpus-internal stand-in — in production it is
    * an external benchmark corpus, which only strengthens the plan
    * shape: eval gram sets are tiny, so the distinct gram side
    * BROADCASTS and the corpus side stays one narrow explode — no
    * corpus-vs-corpus shuffle, no O(n²)). */
  def decontam(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = decontamGrams(spark, sfDir, evalSide = true)
      .select(col("gram")).distinct()
    decontamGrams(spark, sfDir, evalSide = false)
      .join(broadcast(ev), "gram")
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("gram")).as("n_shared"))
      .orderBy("doc_id")
  }

  /** (doc_id, gram) exploded 8-gram frame both decontamination variants
    * share (short docs contribute their whole text, mirroring the
    * oracle's CASE arm). */
  private[graft] def decontamGramFrame(spark: SparkSession, sfDir: String): DataFrame =
    gramsOf(Tables.documents(spark, sfDir))

  /** One split side's gram frame, with the doc_id % 10 split applied
    * BEFORE the shingle flatMap: the closure is opaque to Catalyst, so
    * a filter written above it does NOT push down and each consumer
    * would shingle the WHOLE corpus and throw its other split away —
    * r18's shape shingled everything twice (eval pass + train pass).
    * Filtering the scan first makes the two passes shingle 10% + 90% =
    * one corpus's worth total; per-row explode commutes with a per-row
    * filter, so rows are identical (guide §4: project/filter before the
    * opaque op). */
  private def decontamGrams(spark: SparkSession, sfDir: String,
                            evalSide: Boolean): DataFrame =
    gramsOf(Tables.documents(spark, sfDir).filter(
      if (evalSide) col("doc_id") % 10 === 0 else col("doc_id") % 10 =!= 0))

  private def gramsOf(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .filter(col("text").isNotNull)
      .select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .flatMap { case (id, t) => shingleSet(t, 8).map(s => (id, s)) }
      .toDF("doc_id", "gram")
  }

  /** [[decontam]]'s scale path for when the eval side does NOT broadcast
    * — a real regime: decontaminating against the union of every eval
    * benchmark plus their paraphrases can reach billions of distinct
    * grams, far past broadcast limits, while a Bloom filter over those
    * grams stays a broadcast-trivial few MB at ANY eval size. The
    * corpus gram stream is pre-filtered by the distributed
    * [[graft.plans.BloomJoin]] filter INSIDE its scan stage (codegen'd
    * `might_contain`, upstream of any exchange), so the shuffle join
    * that follows moves only candidate grams — overwhelmingly true
    * leaks plus the filter's ~3% false positives — instead of the whole
    * corpus. The equi-join then removes the false positives exactly:
    * the result is cell-identical to [[decontam]] (same DuckDB oracle
    * checks both), which TextSpec pins together with the pruning
    * factor. The eval gram frame is evaluated twice (filter build, then
    * verify join) — at deployment scale the build pass is amortized
    * over the corpus scan it saves, and a long-lived pipeline would
    * persist the eval grams to disk once. */
  def decontamBloom(spark: SparkSession, sfDir: String): DataFrame = {
    // the eval gram set feeds the filter BUILD and the verify JOIN —
    // materialize it once (the "persist the eval grams once" deployment
    // posture the scaladoc promises) instead of re-exploding the eval
    // corpus for each consumer
    val ev = decontamGrams(spark, sfDir, evalSide = true)
      .select(col("gram")).distinct()
      .localCheckpoint()
    val tr = decontamGrams(spark, sfDir, evalSide = false)
    val pruned = graft.plans.BloomJoin.buildFilter(ev, col("gram"), 1000000L) match {
      case Some(bf) => tr.filter(graft.plans.BloomJoin.mightContain(bf, col("gram")))
      case None     => tr.filter(lit(false))
    }
    pruned.join(ev, "gram") // shuffle join: at scale `ev` is beyond broadcast
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("gram")).as("n_shared"))
      .orderBy("doc_id")
  }

  val decontamSql: String =
    """WITH s AS (
      |  SELECT doc_id,
      |    CASE WHEN len(string_split(text,' ')) >= 8
      |         THEN list_distinct(list_transform(range(0, len(string_split(text,' ')) - 7),
      |                i -> array_to_string(string_split(text,' ')[i+1:i+8], ' ')))
      |         ELSE [text] END AS sh
      |  FROM documents WHERE text IS NOT NULL
      |), ev AS (SELECT DISTINCT unnest(sh) AS gram FROM s WHERE doc_id % 10 = 0),
      |tr AS (SELECT doc_id, unnest(sh) AS gram FROM s WHERE doc_id % 10 <> 0)
      |SELECT tr.doc_id, COUNT(DISTINCT tr.gram) AS n_shared
      |FROM tr JOIN ev ON tr.gram = ev.gram
      |GROUP BY tr.doc_id
      |ORDER BY doc_id""".stripMargin

  // --------------------------------------- deterministic sampling & segment dedup

  /** Deterministic hash-threshold Bernoulli sampling — the 100 TB
    * sampling path: keep a doc iff salted-md5(doc_id) mod 100 < 20. No
    * RNG state, no seed plumbing, no shuffle — one narrow codegen'd
    * map, reproducible across runs, engines, and re-partitionings (the
    * same [[hashMod]] family as the train/val/test split, a different
    * salt so the two streams are independent). The oracled deterministic
    * sibling of the RNG-based `q_doc_sample` (rows-only by design):
    * when a sample must be auditable and replayable — the normal
    * training-data requirement — hash-threshold is the op to use. */
  def hashSample(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"),
        hashMod(col("doc_id"), "|sample", 100).as("bucket"))
      .filter(col("bucket") < 20)
      .orderBy("doc_id")

  val hashSampleSql: String =
    """SELECT doc_id, source,
      |  CAST(md5_number_upper(CAST(doc_id AS VARCHAR) || '|sample') % 100 AS INTEGER) AS bucket
      |FROM documents
      |WHERE md5_number_upper(CAST(doc_id AS VARCHAR) || '|sample') % 100 < 20
      |ORDER BY doc_id""".stripMargin

  /** Hashed-linear quality classifier (`q_doc_ml_quality`) — the
    * fastText/CCNet scoring shape every curation stack runs as its
    * model-based filter, with the full plumbing real and the weights
    * derandomized: features are unigrams + word bigrams pushed through
    * the hashing trick (bucket = md5-u64(gram|salt) mod D, so the model
    * is a FIXED D-vector regardless of vocabulary), the model ships as a
    * plan-literal int array (the broadcast-model deployment shape — swap
    * the array for trained weights and nothing else changes), and the
    * logit is summed in integer centi-units, only divided at the end —
    * bit-exact in any engine, no float accumulation anywhere. The
    * md5-derived pseudo-weights let DuckDB rebuild the model BY FORMULA,
    * so the oracle cross-checks the literal array against the derivation
    * as well as the scoring. Scale: pure narrow map (hash + array lookup
    * per gram), zero shuffle before the presentation sort; the model is
    * D×4 bytes in the task binary.
    *
    * The per-gram hash+lookup runs in the codegen'd
    * [[graft.plans.HashedLinearLogit]] expression — one primitive loop
    * per document, digest bytes straight to u64 — instead of the
    * declarative `aggregate(transform(grams, …md5ModCol…))` chain, which
    * paid an interpreted-lambda + hex-string + Decimal-mod tax per gram
    * (6.3 s → sub-second at sf0.1; TextSpec pins the two forms equal,
    * and the DuckDB oracle replays the same integers either way). */
  def mlQuality(spark: SparkSession, sfDir: String): DataFrame = {
    val D = 4096
    val weights: Array[Int] = Array.tabulate(D)(j =>
      (java.lang.Long.remainderUnsigned(
        graft.functions.TextOps.md5Upper64(s"$j|wt"), 2001L) - 1000L).toInt)
    Tables.documents(spark, sfDir)
      .filter(col("text").isNotNull)
      .withColumn("ws", split(col("text"), " "))
      // n_feats = unigrams + bigrams = n + (n-1 when n>=2) = 2n-1 for n>=2
      .select(col("doc_id"),
        when(size(col("ws")) >= 2, size(col("ws")) * 2 - 1)
          .otherwise(size(col("ws"))).cast("long").as("n_feats"),
        graft.plans.HashedLinearLogit
          .hashedLinearLogit(col("ws"), "|qf", weights).as("lm"))
      .select(col("doc_id"), col("n_feats"),
        (col("lm").cast("double") / 1000.0).as("logit"),
        (col("lm") > 0).as("keep"))
      .orderBy("doc_id")
  }

  val mlQualitySql: String =
    """WITH d AS (
      |  SELECT doc_id, string_split(text, ' ') AS ws
      |  FROM documents WHERE text IS NOT NULL
      |), g AS (
      |  SELECT doc_id, ws || CASE WHEN len(ws) >= 2
      |    THEN list_transform(range(2, len(ws)+1), i -> ws[i-1] || ' ' || ws[i])
      |    ELSE CAST([] AS VARCHAR[]) END AS grams
      |  FROM d
      |), f AS (
      |  SELECT doc_id, len(grams) AS n_feats, unnest(grams) AS t FROM g
      |), s AS (
      |  SELECT doc_id, MAX(n_feats) AS n_feats,
      |    SUM(CAST(md5_number_upper(
      |          CAST(md5_number_upper(t || '|qf') % 4096 AS VARCHAR) || '|wt')
      |        % 2001 AS BIGINT) - 1000) AS lm
      |  FROM f GROUP BY doc_id
      |)
      |SELECT doc_id, n_feats, CAST(lm AS DOUBLE) / 1000.0 AS logit,
      |  lm > 0 AS keep
      |FROM s
      |ORDER BY doc_id""".stripMargin

  /** Deterministic weighted sample ([[graft.core.Sampling.weightedTopK]],
    * hash-derandomized A-ES): per language, the 20 documents drawn
    * without replacement with probability proportional to length — the
    * curation move for "sample a review set biased to the long docs" or
    * token-weighted mixture draws. Cell-exact in DuckDB because the
    * A-ES keys are ln(md5-uniform)/weight: the uniform is 53 exact bits
    * (bit-identical doubles in both engines), and ln + IEEE division
    * replay identically (the `q_doc_lm_score` ln-parity precedent). */
  def weightedSample(spark: SparkSession, sfDir: String): DataFrame =
    graft.core.Sampling.weightedTopK(
        Tables.documents(spark, sfDir).select(col("doc_id"), col("lang"), col("n_chars")),
        "doc_id", "lang", "n_chars", 20, "|aes")
      .select(col("doc_id"), col("lang"), col("aes_rank").cast("long").as("rk"))
      .orderBy("lang", "rk")

  val weightedSampleSql: String =
    """WITH keyed AS (
      |  SELECT doc_id, lang,
      |    ln(CAST(md5_number_upper(CAST(doc_id AS VARCHAR) || '|aes') % 9007199254740992 + 1 AS DOUBLE)
      |       / 9007199254740992.0) / CAST(n_chars AS DOUBLE) AS aes_key
      |  FROM documents
      |  WHERE n_chars IS NOT NULL AND n_chars > 0
      |)
      |SELECT doc_id, lang, rk FROM (
      |  SELECT doc_id, lang,
      |    ROW_NUMBER() OVER (PARTITION BY lang
      |                       ORDER BY aes_key DESC, doc_id ASC) AS rk
      |  FROM keyed)
      |WHERE rk <= 20
      |ORDER BY lang, rk""".stripMargin

  /** Exact per-stratum quota sampling: within every source, rank docs
    * by an independent salted hash and keep the first ⌈20%⌉ — exact
    * quota per stratum, deterministic, no RNG. The rank is a
    * per-stratum sort (window over `source`): right when strata are
    * plentiful and individually bounded (the usual source/domain
    * layout). If one stratum dominates the corpus, switch that stratum
    * to [[hashSample]]'s threshold form (approximate quota, zero sort)
    * — the window form funnels each stratum through one reducer.
    * Integer quota arithmetic ((n+4) div 5) keeps both engines exact. */
  def stratifiedSample(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byStratum = Window.partitionBy(col("source"))
    val w = byStratum.orderBy(col("h").asc, col("doc_id").asc)
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"),
        md5(concat(col("doc_id").cast("string"), lit("|strat"))).as("h"))
      .withColumn("cnt", count(lit(1)).over(byStratum))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= expr("(cnt + 4) div 5"))
      .select(col("doc_id"), col("source"), col("rn").cast("long").as("rn"))
      .orderBy("source", "rn")
  }

  val stratifiedSampleSql: String =
    """WITH strat AS (
      |  SELECT doc_id, source,
      |    md5(CAST(doc_id AS VARCHAR) || '|strat') AS h
      |  FROM documents
      |), ranked AS (
      |  SELECT doc_id, source,
      |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY h ASC, doc_id ASC) AS rn,
      |    COUNT(*) OVER (PARTITION BY source) AS cnt
      |  FROM strat
      |)
      |SELECT doc_id, source, rn FROM ranked
      |WHERE rn <= (cnt + 4) // 5
      |ORDER BY source, rn""".stripMargin

  /** C4-style segment-level exact dedup: split every doc into disjoint
    * [[SegWords]]-word segments, keep only the globally FIRST occurrence
    * of each distinct segment (order: doc_id, position), and report per
    * doc the surviving segment count plus an md5 over the kept segment
    * hashes in position order — the reconstruction fingerprint a
    * downstream rewrite pass would verify against. Unlike whole-doc
    * dedup this removes boilerplate repeated ACROSS different documents
    * (headers, licence blocks, injected templates) — the near-dup spans
    * the fixture plants are exactly what it catches. Scale:
    * segmentation is a narrow generator ([[docChunksOf]] with
    * stride = chunk); the first-occurrence rank partitions on the
    * 128-bit segment hash — uniform, skew-free — and shuffles
    * (hash, doc_id, pos) triples, never text; the rebuild groups by
    * doc_id. Nothing is O(n²) anywhere. */
  val SegWords = 32

  def chunkDedup(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("chunk_md5")).orderBy(col("doc_id"), col("chunk_id"))
    docChunksOf(Tables.documents(spark, sfDir), SegWords, SegWords)
      .withColumn("kept", row_number().over(w) === 1)
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_segs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("kept_segs"),
        // collect_list drops the nulls the `when` leaves for dropped
        // segments; array_sort on (chunk_id, md5) structs restores
        // position order deterministically under any aggregation order
        md5(concat_ws(" ",
          transform(
            array_sort(collect_list(when(col("kept"),
              struct(col("chunk_id"), col("chunk_md5"))))),
            x => x.getField("chunk_md5")))).as("dedup_md5"))
      .orderBy("doc_id")
  }

  val chunkDedupSql: String =
    s"""WITH d AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks,
      |    len(string_split(text, ' ')) AS n
      |  FROM documents WHERE text IS NOT NULL
      |), c AS (
      |  SELECT doc_id, toks,
      |    CASE WHEN n <= $SegWords THEN 1
      |         ELSE CAST(ceil(CAST(n - $SegWords AS DOUBLE) / $SegWords) AS INTEGER) + 1 END AS nc
      |  FROM d
      |), x AS (
      |  SELECT doc_id, toks, unnest(range(0, nc)) AS i FROM c
      |), s AS (
      |  SELECT doc_id, CAST(i AS INTEGER) AS chunk_id,
      |    md5(array_to_string(toks[i*$SegWords + 1 : i*$SegWords + $SegWords], ' ')) AS chunk_md5
      |  FROM x
      |), r AS (
      |  SELECT doc_id, chunk_id, chunk_md5,
      |    ROW_NUMBER() OVER (PARTITION BY chunk_md5 ORDER BY doc_id, chunk_id) AS rn
      |  FROM s
      |)
      |SELECT doc_id, COUNT(*) AS n_segs,
      |  CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS kept_segs,
      |  md5(coalesce(string_agg(CASE WHEN rn = 1 THEN chunk_md5 END, ' ' ORDER BY chunk_id), '')) AS dedup_md5
      |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Fuzzy-dedup canonical selection: for every near-dup cluster
    * (`q_dedup_clusters`' connected components over the MinHash/LSH
    * pair graph), keep the highest-quality member — stopword-ratio
    * argmax, doc_id tie-break — instead of the arbitrary min-id. This
    * is the curation decision a production dedup actually wants:
    * near-dup groups contain degraded variants (truncations,
    * boilerplate-injected copies) and the kept one should be the best,
    * not the first-crawled. Scale: inherits the LSH pair graph (never
    * O(n²)); cluster membership is a tiny fraction of the corpus, so
    * the quality join and the per-cluster argmax window both run over
    * clusters of bounded size, not the corpus. */
  def dedupKeepBest(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = minhashPairs(spark, sfDir).select(col("d1"), col("d2"))
    val members = graft.functions.Graph.dedupClusters(pairs, "d1", "d2")
      .select(col("id"), col("comp"))
    val quality = qualityScore(spark, sfDir).select(col("doc_id"), col("stop_ratio"))
    val w = Window.partitionBy(col("comp"))
      .orderBy(col("stop_ratio").desc, col("id").asc)
    members.join(quality, col("id") === col("doc_id"))
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("comp"))))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("comp"), col("cluster_size"), col("id").as("best_doc"),
        round(col("stop_ratio"), 6).as("best_stop_ratio"))
      .orderBy("comp")
  }

  val dedupKeepBestSql: String = {
    val en = LangProfiles.toMap.apply("en").map(w => s"'$w'").mkString(", ")
    s"""WITH RECURSIVE ${minhashPairsCte()},
      |${ccCteSql("kb_")},
      |kb_q AS (
      |  SELECT doc_id,
      |    CAST(len(list_filter(string_split(text, ' '), t -> t IN ($en))) AS DOUBLE)
      |      / len(string_split(text, ' ')) AS stop_ratio
      |  FROM documents
      |), kb AS (
      |  SELECT c.comp, c.id, q.stop_ratio,
      |    COUNT(*) OVER (PARTITION BY c.comp) AS cluster_size,
      |    ROW_NUMBER() OVER (PARTITION BY c.comp
      |      ORDER BY q.stop_ratio DESC, c.id ASC) AS rn
      |  FROM kb_cc c JOIN kb_q q ON q.doc_id = c.id
      |)
      |SELECT comp, cluster_size, id AS best_doc,
      |  ROUND(stop_ratio, 6) AS best_stop_ratio
      |FROM kb WHERE rn = 1 ORDER BY comp""".stripMargin
  }

  /** The flagship end-to-end curation pipeline — the composition a
    * training-data run actually executes, as ONE oracled query:
    * quality gate (≥5 words, stopword ratio ≤ 0.6) → exact dedup
    * (min doc_id per md5(text)) → simhash near-dup drop (any doc with a
    * hamming≤6 neighbor of smaller id is dropped) → per-lang survivor
    * stats. Every stage is md5-derived, so DuckDB replays the whole
    * pipeline bit-for-bit. Scale: quality is a narrow map, exact dedup
    * shuffles 16-byte hashes, the near-dup stage shuffles (band, key)
    * pairs — nothing materializes O(n²). */
  /** The curation survivor set (quality filter → exact dedup → simhash
    * near-dup drop) — shared by [[curationPipeline]] (which reduces it
    * to per-lang stats) and [[pipelineE2e]] (which carries it on through
    * split + mixture). */
  private def curationKept(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = tokens(col("text"))
    val en = LangProfiles.toMap.apply("en")
    val quality = Tables.documents(spark, sfDir)
      .filter(col("text").isNotNull)
      .withColumn("n_words", size(t))
      .withColumn("stop_ratio", stopwordHits(t, en).cast("double") / size(t))
      .filter(col("n_words") >= 5 && col("stop_ratio") <= 0.6)
    // the exact-dedup survivor set feeds THREE subtrees (both sides of
    // the simhash band self-join plus the anti-join's left) — without a
    // materialization Catalyst recomputes the quality scan + md5 window
    // dedup once per consumer (three full passes at 100 TB; the r18
    // before-plan shows 3 parquet scans). localCheckpoint runs the
    // pass ONCE inside the query and the consumers reread the
    // materialized survivors.
    // DURABILITY (conscious choice): localCheckpoint stores the blocks
    // executor-LOCAL, non-replicated — on a cluster, one executor loss
    // mid-query fails the job instead of recomputing, and this survivor
    // set is corpus-sized. The query is a single bounded job (retry =
    // rerun), so availability beats the write-amplification of a
    // replicated persist(MEMORY_AND_DISK_2) or a checkpoint-to-storage;
    // a long-lived deployment sharing the survivor set ACROSS jobs
    // would write it to the store instead.
    val exact = quality
      .withColumn("_rn", row_number().over(
        Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))))
      .filter(col("_rn") === 1).drop("_rn")
      .localCheckpoint(false) // lazy: materializes inside the main action
    val dropped = simhashPairsOf(exact.select(col("doc_id"), col("text")))
      .select(col("d2")).distinct()
    exact.join(dropped, exact("doc_id") === dropped("d2"), "left_anti")
  }

  def curationPipeline(spark: SparkSession, sfDir: String): DataFrame =
    curationKept(spark, sfDir).groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_kept"),
        sum(col("n_chars")).as("total_chars"),
        (sum(col("n_words")).cast("double") / count(lit(1))).as("avg_words"))
      .orderBy("lang")

  /** The curation WITH-body (quality → exact → simhash-dropped) shared
    * by [[curationPipelineSql]] and [[pipelineE2eSql]]; survivors =
    * `exact` rows whose doc_id is not in `dropped`. */
  private val curationCtesSql: String = {
    val en = LangProfiles.toMap.apply("en").map(w => s"'$w'").mkString(", ")
    s"""quality AS (
       |  SELECT doc_id, lang, n_chars, text,
       |    len(string_split(text, ' ')) AS n_words,
       |    CAST(len(list_filter(string_split(text, ' '), t -> t IN ($en))) AS DOUBLE)
       |      / len(string_split(text, ' ')) AS stop_ratio
       |  FROM documents
       |  WHERE text IS NOT NULL
       |), qf AS (
       |  SELECT * FROM quality WHERE n_words >= 5 AND stop_ratio <= 0.6
       |), exact AS (
       |  SELECT * FROM qf
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1
       |), ${simhashSigSqlOver("exact")}, bands AS (
       |  SELECT doc_id, simhash, b AS band,
       |    (simhash >> CAST(b * 16 AS INTEGER)) & 65535 AS key
       |  FROM sig, range(0, 4) r(b)
       |), dropped AS (
       |  SELECT DISTINCT y.doc_id AS d2
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id
       |  WHERE bit_count(xor(x.simhash, y.simhash)) <= 6
       |)""".stripMargin
  }

  val curationPipelineSql: String =
    s"""WITH $curationCtesSql
       |SELECT lang, COUNT(*) AS n_kept,
       |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       |  CAST(CAST(SUM(n_words) AS BIGINT) AS DOUBLE) / COUNT(*) AS avg_words
       |FROM exact
       |WHERE doc_id NOT IN (SELECT d2 FROM dropped)
       |GROUP BY lang
       |ORDER BY lang""".stripMargin

  /** Gopher-style repetition signals — the standard pretraining-data
    * repetition filters at word and 2-gram granularity (duplicate-word
    * fraction, most-frequent-word fraction, duplicate-2-gram fraction).
    * The corpus is single-line synthetic text, so the line-level Gopher
    * rules land on their word/n-gram counterparts.
    *
    * Scale shape: ONE narrow per-row map, zero shuffles before the
    * compare-determinism sort. Per row this is token-linear hash-set
    * work — the per-row imperative carve-out ([[graft.functions.TextOps.MinHasher]]
    * precedent): the same logic as column HOFs ran interpreted inside
    * the lambdas (measured 7.6 s at sf0.1), and the explode → groupBy →
    * groupBy histogram form costs two shuffles + a 1:1 self-join
    * (measured ~3 s; worth it only when single documents are too large
    * for one task). This map benches sub-second. All ratios are single
    * double divides of exact integers — cross-engine deterministic
    * (`String.split(" ", -1)` = Spark `split` = DuckDB `string_split`,
    * the established token parity). */
  def repetitionSignals(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val words = text.split(" ", -1)
        val n = words.length
        val distinct = new java.util.HashSet[String]()
        words.foreach(distinct.add)
        // longest equal-run in the sorted array = max word multiplicity
        val sorted = words.sorted
        var best = 1L; var run = 1L; var i = 1
        while (i < n) {
          if (sorted(i) == sorted(i - 1)) { run += 1; if (run > best) best = run }
          else run = 1
          i += 1
        }
        val dup2 =
          if (n >= 2) {
            val grams = new java.util.HashSet[String]()
            var j = 0
            while (j < n - 1) { grams.add(words(j) + " " + words(j + 1)); j += 1 }
            1.0 - grams.size.toDouble / (n - 1)
          } else 0.0
        (id, n.toLong,
          1.0 - distinct.size.toDouble / n,
          best.toDouble / n,
          dup2)
      }
      .toDF("doc_id", "n_words", "dup_word_frac", "top_word_frac", "dup_2gram_frac")
      .orderBy("doc_id")
  }

  val repetitionSignalsSql: String =
    """WITH w AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
      |), c AS (
      |  SELECT doc_id, word, COUNT(*) AS n FROM w GROUP BY doc_id, word
      |), ws AS (
      |  SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_words,
      |    CAST(1.0 AS DOUBLE) - CAST(COUNT(*) AS DOUBLE) / CAST(SUM(n) AS BIGINT) AS dup_word_frac,
      |    CAST(MAX(n) AS DOUBLE) / CAST(SUM(n) AS BIGINT) AS top_word_frac
      |  FROM c GROUP BY doc_id
      |), gs AS (
      |  SELECT doc_id,
      |    CASE WHEN len(g) >= 1 THEN
      |      CAST(1.0 AS DOUBLE) - CAST(len(list_distinct(g)) AS DOUBLE) / len(g)
      |    ELSE CAST(0.0 AS DOUBLE) END AS dup_2gram_frac
      |  FROM (SELECT doc_id,
      |          list_transform(range(1, len(string_split(text, ' '))),
      |            i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]) AS g
      |        FROM documents)
      |)
      |SELECT ws.doc_id, n_words, dup_word_frac, top_word_frac, dup_2gram_frac
      |FROM ws JOIN gs ON ws.doc_id = gs.doc_id
      |ORDER BY ws.doc_id""".stripMargin

  private val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private val phoneRe = "\\b[0-9]{3}-[0-9]{4}\\b"

  /** PII redaction — the scrubbing stage of a training-data pipeline:
    * mask emails and phone-shaped tokens, report per-doc counts plus the
    * md5 of the fully redacted text (the strongest cross-engine check —
    * one flipped character anywhere fails the hash). The synthetic
    * corpus contains no organic PII, so the query PLANTS a
    * deterministic contact line on every 7th document (pure string
    * concat — byte-identical cross-engine) before scrubbing; the other
    * six sevenths exercise the no-op path. Both regexes stay in the
    * Java∩RE2 common dialect so Spark and DuckDB match identically, and
    * scrubbing is a narrow per-row map — no shuffle at any scale. */
  def redactPii(spark: SparkSession, sfDir: String): DataFrame = {
    val withPii = when(col("doc_id") % 7 === 0,
      concat(col("text"), lit(" contact user"), col("doc_id"),
        lit("@example.com or call 555-"),
        lpad(col("doc_id").cast("string"), 4, "0")))
      .otherwise(col("text"))
    val redacted = regexp_replace(
      regexp_replace(withPii, lit(emailRe), lit("<EMAIL>")),
      lit(phoneRe), lit("<PHONE>"))
    Tables.documents(spark, sfDir)
      .select(
        col("doc_id"),
        regexp_count(withPii, lit(emailRe)).as("n_emails"),
        regexp_count(withPii, lit(phoneRe)).as("n_phones"),
        length(redacted).as("n_chars_redacted"),
        md5(redacted).as("redacted_md5"))
      .orderBy("doc_id")
  }

  val redactPiiSql: String =
    s"""WITH p AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 7 = 0 THEN
      |      text || ' contact user' || doc_id || '@example.com or call 555-' ||
      |      lpad(CAST(doc_id AS VARCHAR), 4, '0')
      |    ELSE text END AS t
      |  FROM documents
      |), r AS (
      |  SELECT doc_id, t,
      |    regexp_replace(regexp_replace(t, '$emailRe', '<EMAIL>', 'g'),
      |      '$phoneRe', '<PHONE>', 'g') AS red
      |  FROM p
      |)
      |SELECT doc_id,
      |  len(regexp_extract_all(t, '$emailRe')) AS n_emails,
      |  len(regexp_extract_all(t, '$phoneRe')) AS n_phones,
      |  length(red) AS n_chars_redacted,
      |  md5(red) AS redacted_md5
      |FROM r
      |ORDER BY doc_id""".stripMargin

  /** Deterministic hash-based train/val/test split (90/5/5).
    *
    * Training pipelines split by HASH, not by random sample: the
    * assignment is a pure function of the document key, so it is stable
    * across runs, engines, and re-partitionings, needs no RNG state or
    * seed plumbing, and new documents land in splits without touching
    * old assignments. The plan is a narrow map — zero shuffles at any
    * scale. The hash is salted (`'|split'`) so the split stream is
    * independent of every other doc_id-derived hash in the pipeline.
    *
    * Bucket = little-endian u64 of md5 bytes 0..7 (= DuckDB
    * `md5_number_upper`, the [[graft.functions.TextOps.md5Upper64]]
    * convention) mod 100 — here built from codegen'd column functions
    * alone (md5 → byte-reversed hex via substring → conv base 16→10):
    * no UDF, no JVM loop, stays inside whole-stage codegen.
    *
    * Near-dup leakage guard at 100 TB: hash the dedup-cluster
    * representative (q_dedup_clusters' min-doc_id) instead of doc_id, so
    * near-duplicates can never straddle train/val — that variant is
    * [[clusterSplit]] (`q_doc_split_safe`): same expression, different
    * key column. */
  /** Salted md5-u64(key) mod 100: the split bucket. Factored out so
    * every query that must AGREE with the split (e.g. [[lmScore]] training
    * only on `bucket < 90`) derives it from the same expression — which
    * is the shared [[graft.functions.TextOps.md5ModCol]] contract. */
  private def hashMod(key: Column, salt: String, mod: Int): Column =
    graft.functions.TextOps.md5ModCol(key, salt, mod)

  private def splitBucketOf(key: Column): Column = hashMod(key, "|split", 100)

  private def splitBucket: Column = splitBucketOf(col("doc_id"))

  private def splitName(bucket: Column): Column =
    when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test")

  def trainSplit(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), splitBucket.as("bucket"))
      .withColumn("split", splitName(col("bucket")))
      .orderBy("doc_id")

  val trainSplitSql: String =
    """SELECT doc_id,
      |  CAST(md5_number_upper(CAST(doc_id AS VARCHAR) || '|split') % 100 AS INTEGER) AS bucket,
      |  CASE WHEN md5_number_upper(CAST(doc_id AS VARCHAR) || '|split') % 100 < 90 THEN 'train'
      |       WHEN md5_number_upper(CAST(doc_id AS VARCHAR) || '|split') % 100 < 95 THEN 'val'
      |       ELSE 'test' END AS split
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** Leakage-guarded train/val/test split (`q_doc_split_safe`): the
    * near-dup-aware variant of [[trainSplit]] the plain split's scaladoc
    * promises. A hash split keyed on doc_id leaks: two near-duplicate
    * documents hash independently, so one can land in train and its
    * twin in val/test — the eval set then contains (near-)copies of
    * training data and every metric on it is inflated. The guard: key
    * the SAME salted-md5 bucket expression ([[splitBucketOf]]) on the
    * document's dedup-cluster representative (the min-doc_id connected
    * component over MinHash/LSH ≥0.8 pairs, exactly `q_dedup_clusters`'
    * labeling) instead of the doc_id itself. Whole clusters then move
    * between splits atomically; singletons (rep = own doc_id, the
    * overwhelming majority) keep the identical assignment the plain
    * split gives them.
    *
    * Scale shape: the cluster map is proportional to DUPLICATED docs
    * only (pairs → components), a small fraction of the corpus, so the
    * left join against it shuffles the corpus once on doc_id and
    * nothing else; the bucket expression stays a codegen'd narrow map.
    * At 100 TB the pair/component stages are the already-banded LSH
    * pipeline — never O(n²).
    *
    * Oracle: same recursive transitive-closure CTE as
    * [[dedupClustersSql]], COALESCE(comp, doc_id) as the rep, then the
    * `md5_number_upper` bucket — cell-exact, including every rep id. */
  def clusterSplit(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = minhashPairs(spark, sfDir).select(col("d1"), col("d2"))
    val comps = graft.functions.Graph.dedupClusters(pairs, "d1", "d2")
      .select(col("id").as("doc_id"), col("comp"))
    Tables.documents(spark, sfDir)
      .select(col("doc_id"))
      .join(comps, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("comp"), col("doc_id")).as("rep"))
      .withColumn("bucket", splitBucketOf(col("rep")))
      .withColumn("split", splitName(col("bucket")))
      .orderBy("doc_id")
  }

  val clusterSplitSql: String =
    s"""WITH RECURSIVE ${minhashPairsCte()},
      |${ccCteSql("cc_")},
      |reps AS (
      |  SELECT d.doc_id, COALESCE(cc.comp, d.doc_id) AS rep
      |  FROM documents d LEFT JOIN cc_cc cc ON cc.id = d.doc_id
      |)
      |SELECT doc_id, rep,
      |  CAST(md5_number_upper(CAST(rep AS VARCHAR) || '|split') % 100 AS INTEGER) AS bucket,
      |  CASE WHEN md5_number_upper(CAST(rep AS VARCHAR) || '|split') % 100 < 90 THEN 'train'
      |       WHEN md5_number_upper(CAST(rep AS VARCHAR) || '|split') % 100 < 95 THEN 'val'
      |       ELSE 'test' END AS split
      |FROM reps
      |ORDER BY doc_id""".stripMargin

  /** Data-mixture resampling (`q_doc_mixture`) — the "data mixing" step
    * every LLM training run performs between curation and tokenization:
    * given target token-share weights per group (here `lang`), resample
    * the corpus so each group contributes its target share of the token
    * budget (budget = the corpus's own total, i.e. resample-in-place).
    *
    * Per group g: rate r_g = (w_g · total_toks) / toks_g. A document in
    * g is emitted floor(r_g) times, plus one more copy iff its salted
    * hash fraction falls below frac(r_g) — deterministic Bernoulli, the
    * same hash-not-RNG discipline as [[trainSplit]], so the resample is
    * reproducible across runs, engines, and partitionings, and both the
    * downsampling branch (r < 1: overrepresented group, some docs emit
    * zero copies) and the integer-upsampling branch (r > 1: each doc at
    * least once, hash decides the extra copy) are pure column math.
    * Groups absent from the weight map get rate 0 and drop out.
    *
    * Scale shape: two tiny aggregates (per-group token sums; the 1-row
    * total) broadcast back onto the corpus — the corpus itself never
    * shuffles; copy expansion is a narrow explode. At 100 TB this is a
    * single pass over the documents.
    *
    * Oracle parity: rates are IEEE-double expressions with identical
    * shape on both engines ((w · T) / toks — each op correctly rounded,
    * so bit-identical); the Bernoulli threshold is integerized
    * (floor(frac·1e6) vs hash mod 1e6) so the comparison is exact. */
  private val MixWeights = Seq(
    "en" -> 0.30, "zh" -> 0.20, "es" -> 0.20, "de" -> 0.15, "fr" -> 0.15)

  /** The mixture's copy computation over ANY (doc_id, lang, n_toks)
    * frame — shared by [[mixture]] (whole corpus), [[pipelineE2e]]
    * (the curated train split), and PropertySpec (random weight maps).
    * Adds `copies`; rows with 0 copies are sampled out. */
  private[graft] def mixtureCopies(
      docs: DataFrame,
      weights: Seq[(String, Double)] = MixWeights): DataFrame = {
    val langToks = docs.groupBy("lang").agg(sum("n_toks").as("lang_toks"))
    val total = docs.agg(sum("n_toks").as("total_toks"))
    val w = weights.foldLeft(lit(0.0)) { case (acc, (l, v)) =>
      when(col("lang") === l, lit(v)).otherwise(acc)
    }
    val rate = (w * col("total_toks").cast("double")) / col("lang_toks").cast("double")
    val thr = floor((rate - floor(rate)) * 1000000.0)
    val copies = (floor(rate).cast("int") +
      when(hashMod(col("doc_id"), "|mix", 1000000) < thr, 1).otherwise(0)).as("copies")
    docs.join(langToks, Seq("lang")).crossJoin(total)
      .select(col("doc_id"), col("lang"), col("n_toks"), copies)
      .filter(col("copies") >= 1)
  }

  def mixture(spark: SparkSession, sfDir: String): DataFrame =
    mixtureCopies(
      Tables.documents(spark, sfDir)
        .filter(col("text").isNotNull)
        .select(col("doc_id"), col("lang"), size(split(col("text"), " ")).as("n_toks")))
      .select(col("doc_id"), explode(expr("sequence(1, copies)")).as("copy"),
        col("lang"), col("n_toks"))
      .orderBy("doc_id", "copy")

  /** The mixture copy-count CTE chain over docs CTE `src` (doc_id, lang,
    * n_toks), ending in `mx_c` with a `copies` column — the SQL twin of
    * [[mixtureCopies]], weights interpolated from [[MixWeights]]. */
  private def mixtureCtesSql(src: String): String = {
    val cases = MixWeights
      .map { case (l, v) => s"WHEN '$l' THEN $v::DOUBLE" }.mkString(" ")
    s"""mx_lt AS (
      |  SELECT lang, SUM(n_toks) AS lang_toks FROM $src GROUP BY lang
      |), mx_t AS (
      |  SELECT SUM(n_toks) AS total_toks FROM $src
      |), mx_r AS (
      |  SELECT d.doc_id, d.lang, d.n_toks,
      |    (CASE d.lang $cases ELSE 0.0::DOUBLE END
      |     * CAST(t.total_toks AS DOUBLE)) / CAST(lt.lang_toks AS DOUBLE) AS rate
      |  FROM $src d JOIN mx_lt lt USING (lang) CROSS JOIN mx_t t
      |), mx_c AS (
      |  SELECT doc_id, lang, n_toks,
      |    CAST(floor(rate) AS INTEGER)
      |      + CASE WHEN md5_number_upper(CAST(doc_id AS VARCHAR) || '|mix') % 1000000
      |               < CAST(floor((rate - floor(rate)) * 1000000.0) AS BIGINT)
      |             THEN 1 ELSE 0 END AS copies
      |  FROM mx_r
      |)""".stripMargin
  }

  val mixtureSql: String =
    s"""WITH d AS (
      |  SELECT doc_id, lang, len(string_split(text, ' ')) AS n_toks
      |  FROM documents WHERE text IS NOT NULL
      |), ${mixtureCtesSql("d")}
      |SELECT doc_id, CAST(unnest(range(1, copies + 1)) AS INTEGER) AS copy, lang, n_toks
      |FROM mx_c
      |ORDER BY doc_id, copy""".stripMargin

  /** The full training-data pipeline as ONE query (`q_pipeline_e2e`) —
    * the flagship composition a user of this engine actually runs:
    * quality filter → exact dedup → simhash near-dup drop (the
    * [[curationKept]] survivor set) → deterministic hash split
    * ([[splitBucket]]) → data-mixture resampling of the TRAIN portion
    * ([[mixtureCopies]], rates computed over the curated train tokens —
    * you mix what you train on, not the raw corpus) → per-(lang, split)
    * doc/copy/token accounting. Every stage is the same shared code its
    * standalone query uses, so this proves the operators COMPOSE.
    *
    * The curated survivor frame is localCheckpoint'd (the file's
    * standard reused-frame discipline, see [[minhashIndexOf]]): it feeds
    * the train branch, the rest branch, AND mixtureCopies' three scans
    * of its input — uncheckpointed, the whole quality+dedup+near-dup
    * subplan re-executes ~4-5× per run (branch-specific filter pushdowns
    * defeat exchange reuse).
    *
    * Scale: inherits each stage's shape — banded simhash (never O(n²)),
    * zero-shuffle split expr, broadcast mixture rates; the only
    * additions are the final small aggregation. */
  def pipelineE2e(spark: SparkSession, sfDir: String): DataFrame = {
    val sp = curationKept(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("n_words").as("n_toks"))
      .withColumn("split", splitName(splitBucket))
      .localCheckpoint(false)
    val train = mixtureCopies(sp.filter(col("split") === "train")
        .select(col("doc_id"), col("lang"), col("n_toks")))
      .select(col("lang"), lit("train").as("split"), col("doc_id"),
        col("copies"), col("n_toks"))
    val rest = sp.filter(col("split") =!= "train")
      .select(col("lang"), col("split"), col("doc_id"),
        lit(1).as("copies"), col("n_toks"))
    train.unionByName(rest)
      .groupBy(col("lang"), col("split"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        sum(col("copies")).cast("long").as("n_copies"),
        sum(col("copies") * col("n_toks")).cast("long").as("n_toks"))
      .orderBy("lang", "split")
  }

  val pipelineE2eSql: String =
    s"""WITH $curationCtesSql,
      |kept AS (
      |  SELECT doc_id, lang, n_words AS n_toks,
      |    CASE WHEN md5_number_upper(CAST(doc_id AS VARCHAR) || '|split') % 100 < 90 THEN 'train'
      |         WHEN md5_number_upper(CAST(doc_id AS VARCHAR) || '|split') % 100 < 95 THEN 'val'
      |         ELSE 'test' END AS split
      |  FROM exact
      |  WHERE doc_id NOT IN (SELECT d2 FROM dropped)
      |), tr AS (
      |  SELECT doc_id, lang, n_toks FROM kept WHERE split = 'train'
      |), ${mixtureCtesSql("tr")},
      |fin AS (
      |  SELECT lang, 'train' AS split, doc_id, copies, n_toks
      |  FROM mx_c WHERE copies >= 1
      |  UNION ALL
      |  SELECT lang, split, doc_id, 1 AS copies, n_toks
      |  FROM kept WHERE split <> 'train'
      |)
      |SELECT lang, split,
      |  COUNT(DISTINCT doc_id) AS n_docs,
      |  CAST(SUM(copies) AS BIGINT) AS n_copies,
      |  CAST(SUM(copies * n_toks) AS BIGINT) AS n_toks
      |FROM fin
      |GROUP BY lang, split
      |ORDER BY lang, split""".stripMargin

  /** Corpus profile / dataset card (`q_corpus_profile`): the summary
    * every dataset release ships — doc/token/char mass and short-doc
    * counts per language, per source, and overall, in ONE grouping-sets
    * pass (no three separate scans). Exact integer sums; the one double
    * (avg tokens) is an exact bigint→double division, identical in both
    * engines. At 100 TB this is the same single-shuffle shape as any
    * grouped aggregate — grouping sets replicate rows per matching set
    * inside the partial aggregation, not via re-scans. */
  def corpusProfile(spark: SparkSession, sfDir: String): DataFrame =
    // pure DataFrame composition via Dataset.groupingSets — the earlier
    // spark.sql form registered a session-global temp view, the
    // catalog's only name-keyed side effect: two concurrent calls on one
    // session raced on the name and could silently profile each other's
    // corpus
    Tables.documents(spark, sfDir)
      .filter(col("text").isNotNull)
      .select(col("lang"), col("source"),
        size(split(col("text"), " ")).as("n_toks"), col("n_chars"))
      .groupingSets(Seq(Seq(col("lang")), Seq(col("source")), Seq()),
        col("lang"), col("source"))
      .agg(
        grouping(col("lang")).cast("int").as("g_lang"),
        grouping(col("source")).cast("int").as("g_source"),
        count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("n_tokens"),
        sum(col("n_chars")).as("total_chars"),
        (sum(col("n_toks")).cast("double") / count(lit(1))).as("avg_toks"),
        sum(when(col("n_toks") < 10, 1).otherwise(0)).as("n_short"))
      .orderBy(col("g_lang"), col("g_source"),
        col("lang").asc_nulls_first, col("source").asc_nulls_first)

  val corpusProfileSql: String =
    """WITH d AS (
      |  SELECT lang, source, len(string_split(text, ' ')) AS n_toks, n_chars
      |  FROM documents WHERE text IS NOT NULL
      |)
      |SELECT lang, source,
      |  CAST(grouping(lang) AS INT) AS g_lang,
      |  CAST(grouping(source) AS INT) AS g_source,
      |  COUNT(*) AS n_docs,
      |  CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      |  CAST(CAST(SUM(n_toks) AS BIGINT) AS DOUBLE) / COUNT(*) AS avg_toks,
      |  CAST(SUM(CASE WHEN n_toks < 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_short
      |FROM d
      |GROUP BY GROUPING SETS ((lang), (source), ())
      |ORDER BY g_lang, g_source,
      |  lang ASC NULLS FIRST, source ASC NULLS FIRST""".stripMargin

  /** Per-source KMV minhash sketches ([[graft.plans.KmvSketchAgg]]) —
    * the set-operation summary of the dataset card: each source's
    * k-minimum document hashes are a fixed k·8-byte sample of its
    * content-identity space, from which cross-source overlap /
    * dedup-rate / union cardinality answer in O(k) per pair, with no
    * join over the raw corpora (KmvSpec exercises the distinct /
    * Jaccard / intersection estimators). The hashes are 63-bit
    * md5-derived (`md5_number_upper // 2` — nonnegative, so BIGINT
    * order IS hash order in both engines), and DuckDB rebuilds the
    * exact k-minimum set with a windowed rank: the driver hash-checks
    * the sketch STATE cell-exact. */
  def kmvMinhashesQ(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .filter(col("text").isNotNull)
      .groupBy(col("source"))
      .agg(graft.plans.KmvSketchAgg.kmv(col("text"), KmvK).as("mins"))
      .select(col("source"), posexplode(col("mins")).as(Seq("pos", "h")))
      .orderBy("source", "pos")

  private val KmvK = 16

  val kmvMinhashesSql: String =
    s"""WITH d AS (
      |  SELECT DISTINCT source, md5_number_upper(text || '|kmv') // 2 AS h
      |  FROM documents WHERE text IS NOT NULL
      |), r AS (
      |  SELECT source, h, ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn
      |  FROM d
      |)
      |SELECT source, CAST(rn - 1 AS INTEGER) AS pos, CAST(h AS BIGINT) AS h
      |FROM r WHERE rn <= $KmvK
      |ORDER BY source, pos""".stripMargin

  /** Pairwise source overlap FROM the KMV sketches — the sketch algebra
    * run as a plan, not driver code: per-source k-min arrays (20×16
    * longs — model-sized) pair up in a tiny sources² join, the union's
    * k-min re-minimizes with `array_union`+`slice`, and the shared-member
    * count (the integer numerator of the Jaccard estimate — every union
    * k-min member is below both thresholds, so membership is decidable
    * exactly) comes from two `array_intersect`s. At 100 TB the ONE pass
    * over raw data is the sketch build; this cross-source comparison
    * touches only summaries. All-integer output → cell-exact oracle
    * (DuckDB replays the identical list algebra). */
  def kmvOverlapQ(spark: SparkSession, sfDir: String): DataFrame = {
    val m = Tables.documents(spark, sfDir)
      .filter(col("text").isNotNull)
      .groupBy(col("source"))
      .agg(graft.plans.KmvSketchAgg.kmv(col("text"), KmvK).as("mins"))
    val a = m.select(col("source").as("src1"), col("mins").as("am"))
    val b = m.select(col("source").as("src2"), col("mins").as("bm"))
    a.join(b, col("src1") < col("src2"))
      .withColumn("u", slice(array_sort(array_union(col("am"), col("bm"))), 1, KmvK))
      .select(col("src1"), col("src2"),
        size(array_intersect(array_intersect(col("u"), col("am")), col("bm"))).as("shared"),
        size(col("u")).as("union_size"))
      .orderBy("src1", "src2")
  }

  val kmvOverlapSql: String =
    s"""WITH d AS (
      |  SELECT DISTINCT source, md5_number_upper(text || '|kmv') // 2 AS h
      |  FROM documents WHERE text IS NOT NULL
      |), r AS (
      |  SELECT source, h, ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn
      |  FROM d
      |), m AS (
      |  SELECT source, list_sort(list(h)) AS mins FROM r WHERE rn <= $KmvK GROUP BY source
      |), p AS (
      |  SELECT a.source AS src1, b.source AS src2, a.mins AS am, b.mins AS bm,
      |    list_sort(list_distinct(a.mins || b.mins))[1:$KmvK] AS u
      |  FROM m a JOIN m b ON a.source < b.source
      |)
      |SELECT src1, src2,
      |  CAST(len(list_intersect(list_intersect(u, am), bm)) AS INTEGER) AS shared,
      |  CAST(len(u) AS INTEGER) AS union_size
      |FROM p
      |ORDER BY src1, src2""".stripMargin

  /** Per-source token-budget cap (`q_doc_source_cap`) — quota curation:
    * cap every source's contribution by keeping its most valuable
    * documents (longest first — n_chars DESC, doc_id tiebreak) until the
    * running token total crosses 60% of that source's own token mass
    * (the crossing document is kept, so a budget is never left unfilled
    * by one doc). The budget is RELATIVE, so the query is scale-free —
    * the same 60% rule at any SF — and the standard guard against one
    * crawl dump swamping the mixture.
    *
    * Shape: one window pass partitioned by source computes both the
    * source total and the exclusive running sum — one shuffle, no join,
    * no second aggregation. Caveat at 100 TB: a mega-source serializes
    * its running sum into one partition's sort; for bounded-k caps use
    * the [[graft.plans.TopKAggregate]] bounded-heap aggregate instead —
    * this form is for token-mass (not count) budgets, where the full
    * per-source ordering is inherent to the semantics. */
  def sourceCap(spark: SparkSession, sfDir: String): DataFrame =
    sourceCapAt(spark, sfDir, 0.6)

  private[graft] def sourceCapAt(spark: SparkSession, sfDir: String,
      frac: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bySrc = Window.partitionBy(col("source"))
    val ord = bySrc.orderBy(col("n_chars").desc, col("doc_id").asc)
    Tables.documents(spark, sfDir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"), col("n_chars"),
        size(split(col("text"), " ")).as("n_toks"))
      .withColumn("src_toks", sum(col("n_toks")).over(bySrc))
      .withColumn("cum_before",
        coalesce(sum(col("n_toks")).over(ord.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("rank_in_source", row_number().over(ord))
      .filter(col("cum_before").cast("double") < lit(frac) * col("src_toks").cast("double"))
      .select(col("source"), col("rank_in_source"), col("doc_id"), col("n_toks"))
      .orderBy("source", "rank_in_source")
  }

  val sourceCapSql: String =
    """WITH d AS (
      |  SELECT doc_id, source, n_chars, len(string_split(text, ' ')) AS n_toks
      |  FROM documents WHERE text IS NOT NULL
      |), w AS (
      |  SELECT doc_id, source, n_toks,
      |    SUM(n_toks) OVER (PARTITION BY source) AS src_toks,
      |    COALESCE(SUM(n_toks) OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before,
      |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id)
      |      AS rank_in_source
      |  FROM d
      |)
      |SELECT source, rank_in_source, doc_id, n_toks
      |FROM w
      |WHERE CAST(cum_before AS DOUBLE) < 0.6 * CAST(src_toks AS DOUBLE)
      |ORDER BY source, rank_in_source""".stripMargin

  /** Bigram language-model quality score (perplexity-style filter).
    *
    * The canonical curation step this models: train a cheap n-gram LM on
    * in-distribution text, score every candidate document by average
    * token log-probability, and filter/re-weight on that score. Counts
    * here come from the TRAIN split only ([[splitBucket]] < 90 — the
    * same expression as `q_doc_split`, so the two queries can never
    * disagree about membership), and ALL documents are scored; val/test
    * docs genuinely exercise the unseen-bigram backoff.
    *
    * Model: stupid backoff (Brants et al. 2007, "Large Language Models in
    * Machine Translation" — designed precisely for distributed map-reduce
    * LM scoring). S(w2|w1) = c(w1,w2)/c(w1·) when the bigram was seen,
    * else 0.4·c(w2)/N over train unigrams, else an OOV half-count floor
    * 0.4·0.5/N.
    *
    * Scale shape: the count tables grow with corpus vocabulary, so they
    * are NOT broadcastable at 100 TB — the scoring joins are deliberate
    * shuffle hash joins on the bigram/unigram keys, the standard
    * distributed-LM layout. Only the 1-row token total broadcasts. The
    * backoff CASE + ln are evaluated once per bigram TYPE (a scored
    * dictionary); the occurrence-sized row set joins that dictionary
    * once rather than passing through every count table.
    *
    * Oracle parity: JVM `Math.log` and DuckDB `ln` are bit-identical
    * (probed over 20k inputs), integer→double division is correctly
    * rounded in both, and each per-bigram log-prob is cast to
    * DECIMAL(20,10) before summing (the [[graft.queries.Parity]] move) so
    * the per-doc sum is order-independent — double sums would drift with
    * Spark's partial-aggregation order. */
  def lmScore(spark: SparkSession, sfDir: String): DataFrame = {
    val Dec = org.apache.spark.sql.types.DecimalType(20, 10)
    val docs = Tables.documents(spark, sfDir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), splitBucket.as("bucket"), split(col("text"), " ").as("ws"))
    val bi = docs.filter(size(col("ws")) >= 2)
      .select(col("doc_id"), col("bucket"),
        explode(expr(
          "transform(sequence(1, size(ws)-1), i -> struct(ws[i-1] AS w1, ws[i] AS w2))")).as("b"))
      .select(col("doc_id"), col("bucket"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val train = bi.filter(col("bucket") < 90)
    // the count tables are TYPE-sized (vocabulary, not occurrences) —
    // materialize each once and DERIVE the marginals from them instead
    // of re-exploding the train corpus per table: c(w1·) is the exact
    // rollup of c(w1,w2), and N is the exact sum of the unigram counts.
    // Before: 4 corpus explodes (bc, cc, uc, N) — after: 2 (bc, uc).
    // MEASURED AND REVERTED, TWICE: r18 materialized bc/uc behind a
    // checkpoint (~0.7 s slower — the barrier serialized subtrees the
    // planner runs in parallel); r19 went further and fused ALL FOUR
    // tables into ONE tagged-union explode + one groupBy(w1,w2) +
    // checkpoint + derived marginals (4 corpus explodes → 1) — and it
    // STILL lost on measurement (alternating same-box micro A/B ×3:
    // fused {3.23, 3.36, 2.72} vs this flow {3.06, 2.57, 2.75} s;
    // full-bench min-of-2 1.44 → 2.50 s). At this fixture every scan
    // is one task, so the four explodes run CONCURRENTLY on idle cores
    // and cost near-zero wall time, while the fused pass serializes
    // everything behind one barrier and doubles the pre-combine explode
    // row count (bigram + unigram rows). A deployment whose scans
    // parallelize would revisit — and a long-lived one persists bc/uc
    // to storage, a different op than this per-query score.
    val bc = train.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    val cc = train.groupBy("w1").agg(count(lit(1)).as("c1"))
    val trainToks = docs.filter(col("bucket") < 90).select(explode(col("ws")).as("w2"))
    val uc = trainToks.groupBy("w2").agg(count(lit(1)).as("cu"))
    val n = trainToks.agg(count(lit(1)).as("nt"))
    val lp = log(
      when(col("c2").isNotNull, col("c2").cast("double") / col("c1").cast("double"))
        .when(col("cu").isNotNull, lit(0.4) * (col("cu").cast("double") / col("nt").cast("double")))
        .otherwise(lit(0.4) * (lit(0.5) / col("nt").cast("double"))))
      .cast(Dec)
    // score each bigram TYPE once, then join occurrences against the
    // scored dictionary: at scale, distinct bigrams ≪ token occurrences,
    // so the backoff CASE + ln run per type and the corpus-sized row set
    // shuffles once (the dictionary join) instead of through every count
    // table
    val dict = bi.select(col("w1"), col("w2")).distinct()
      .join(bc, Seq("w1", "w2"), "left")
      .join(cc, Seq("w1"), "left")
      .join(uc, Seq("w2"), "left")
      .crossJoin(broadcast(n))
      .select(col("w1"), col("w2"), lp.as("lp"))
    bi.join(dict, Seq("w1", "w2"))
      .groupBy(col("doc_id"), col("bucket"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("lp")).as("slp"))
      .select(col("doc_id"), splitName(col("bucket")).as("split"), col("n_bigrams"),
        col("slp").cast("double").as("logprob_sum"),
        round(col("slp").cast("double") / col("n_bigrams"), 6).as("avg_logprob"))
      .orderBy("doc_id")
  }

  val lmScoreSql: String =
    """WITH d AS (
      |  SELECT doc_id,
      |    md5_number_upper(CAST(doc_id AS VARCHAR) || '|split') % 100 AS bucket,
      |    string_split(text, ' ') AS ws
      |  FROM documents WHERE text IS NOT NULL
      |), pos AS (
      |  SELECT doc_id, bucket, ws, unnest(range(2, len(ws)+1)) AS i
      |  FROM d WHERE len(ws) >= 2
      |), bi AS (
      |  SELECT doc_id, bucket, ws[i-1] AS w1, ws[i] AS w2 FROM pos
      |), bc AS (
      |  SELECT w1, w2, COUNT(*) AS c2 FROM bi WHERE bucket < 90 GROUP BY w1, w2
      |), cc AS (
      |  SELECT w1, COUNT(*) AS c1 FROM bi WHERE bucket < 90 GROUP BY w1
      |), tok AS (
      |  SELECT unnest(ws) AS w2 FROM d WHERE bucket < 90
      |), uc AS (
      |  SELECT w2, COUNT(*) AS cu FROM tok GROUP BY w2
      |), n AS (SELECT COUNT(*) AS nt FROM tok),
      |scored AS (
      |  SELECT bi.doc_id, bi.bucket,
      |    CAST(ln(CASE
      |      WHEN bc.c2 IS NOT NULL THEN CAST(bc.c2 AS DOUBLE) / CAST(cc.c1 AS DOUBLE)
      |      WHEN uc.cu IS NOT NULL THEN CAST(0.4 AS DOUBLE) * (CAST(uc.cu AS DOUBLE) / CAST(n.nt AS DOUBLE))
      |      ELSE CAST(0.4 AS DOUBLE) * (CAST(0.5 AS DOUBLE) / CAST(n.nt AS DOUBLE))
      |    END) AS DECIMAL(20,10)) AS lp
      |  FROM bi
      |  LEFT JOIN bc ON bi.w1 = bc.w1 AND bi.w2 = bc.w2
      |  LEFT JOIN cc ON bi.w1 = cc.w1
      |  LEFT JOIN uc ON bi.w2 = uc.w2
      |  CROSS JOIN n
      |)
      |SELECT doc_id,
      |  CASE WHEN bucket < 90 THEN 'train' WHEN bucket < 95 THEN 'val'
      |       ELSE 'test' END AS split,
      |  COUNT(*) AS n_bigrams,
      |  CAST(SUM(lp) AS DOUBLE) AS logprob_sum,
      |  ROUND(CAST(SUM(lp) AS DOUBLE) / COUNT(*), 6) AS avg_logprob
      |FROM scored
      |GROUP BY doc_id, bucket
      |ORDER BY doc_id""".stripMargin

  /** Inverted-index build (`q_doc_inverted`) — the search-side structure
    * a curation stack materializes for keyword filtering, contamination
    * lookup, and corpus exploration: token → document frequency, total
    * term frequency, and the head of the (ascending) posting list. The
    * per-token posting head is bounded by the engine's own heap
    * aggregate ([[graft.plans.TopKAgg]] on ord = −doc_id, so the k
    * smallest doc ids survive) — NEVER `collect_list`/`collect_set`,
    * whose per-group state is unbounded exactly where an inverted index
    * hurts (a stopword's posting list is the whole corpus). The df ≥ 20
    * floor keeps the catalog result head-sized; a real index build drops
    * the floor and writes every token's postings to a bucketed sink.
    *
    * Scale shape: two shuffles, both on token-keyed SHORT rows — the
    * (token, doc_id) pre-aggregation collapses within-doc repeats
    * map-side (combiner), the second pass carries one 8-byte tf per
    * (token, doc) plus the fixed-k heap per token. Nothing carries
    * text payloads past the tokenizer. */
  def invertedIndex(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .groupBy(col("token"), col("doc_id"))
      .agg(count(lit(1)).as("tf_doc"))
      .groupBy(col("token"))
      .agg(
        count(lit(1)).as("df"),
        sum(col("tf_doc")).as("tf"),
        graft.plans.TopKAgg.topK((-col("doc_id")).cast("double"),
          col("doc_id"), 5).as("top"))
      .filter(col("df") >= 20)
      .select(col("token"), col("df"), col("tf"),
        concat_ws(",",
          transform(col("top"), x => x.getField("id").cast("string")))
          .as("posting_head"))
      .orderBy("token")

  val invertedIndexSql: String =
    """WITH t AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
      |  FROM documents WHERE text IS NOT NULL
      |), pd AS (
      |  SELECT token, doc_id, COUNT(*) AS tf_doc
      |  FROM t GROUP BY token, doc_id
      |)
      |SELECT token, COUNT(*) AS df, CAST(SUM(tf_doc) AS BIGINT) AS tf,
      |  array_to_string(
      |    list_transform(list_sort(list(doc_id))[1:5], x -> CAST(x AS VARCHAR)),
      |    ',') AS posting_head
      |FROM pd
      |GROUP BY token
      |HAVING COUNT(*) >= 20
      |ORDER BY token""".stripMargin

  // ------------------------------------------- persisted inverted index

  /** The persisted inverted index's manifest root and stored row shape —
    * the serving-grade form of [[invertedIndex]], completing the text
    * search stack the way the persisted IVF stores complete the vector
    * one: built once in batch, extended by [[graft.streaming.Jobs
    * .invertedIngest]] micro-batches, compacted under the
    * [[graft.core.EpochManifest]] snapshot protocol, and probed by
    * [[searchInvertedIndexStore]] reading ONLY the token-hash bucket
    * partitions of the probe terms. */
  def postingsRoot(indexDir: String): String = s"$indexDir/postings"

  /** Token-hash partition fanout. 64 keeps the fixture's directory count
    * test-sized; a 100 TB index raises it (the probe cost is independent
    * of the fanout — a term still reads exactly one bucket per epoch). */
  val InvBuckets = 64

  val postingsSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("token",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("tf",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("bucket",
        org.apache.spark.sql.types.IntegerType)))

  /** Document-length sidecar root: (doc_id, dl) per epoch — the BM25
    * length norms ([[searchInvertedIndexBm25]]). 16 bytes/doc, the slim
    * store class. */
  def doclensRoot(indexDir: String): String = s"$indexDir/doclens"

  val doclensSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("dl",
        org.apache.spark.sql.types.LongType)))

  /** A doc batch's postings rows: (token, doc_id, tf) plus the md5
    * token-hash bucket that becomes the stored partition directory.
    * Same two-shuffle shape as [[invertedIndex]]'s first pass; rows
    * never carry text past the tokenizer. */
  private def postingsOf(docs: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .groupBy(col("token"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("bucket", md5ModCol(col("token"), "|inv", InvBuckets))

  /** Base build = epoch 0; [[appendInvertedIndex]] extends it. */
  def buildInvertedIndexStore(docs: DataFrame, indexDir: String): Unit =
    appendInvertedIndex(docs, indexDir, epoch = 0L)

  /** Extend the persisted index with a batch as epoch `epoch` — an
    * immutable bucket-partitioned attempt dir committed by one atomic
    * manifest rename, so a streaming retry REPLACES its epoch's entry
    * (exactly-once under the checkpoint, the [[appendBandIndex]]
    * contract) and a concurrent search keeps the snapshot it opened.
    * Doclens commit BEFORE postings for the same reason shingles commit
    * before bands: the BM25 probe finds candidates in postings and
    * norms them from doclens, so any epoch visible on the candidate
    * side must already be visible on the norm side. */
  def appendInvertedIndex(docs: DataFrame, indexDir: String, epoch: Long): Unit = {
    graft.core.EpochManifest.append(
      docs.filter(col("text").isNotNull)
        .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("dl")),
      doclensRoot(indexDir), epoch)
    graft.core.EpochManifest.append(postingsOf(docs), postingsRoot(indexDir),
      epoch, partitionBy = Seq("bucket"))
  }

  /** Probe the persisted index: per term, the top-`k` documents by term
    * frequency (ties broken by ascending doc_id). Reads ONLY the probe
    * terms' bucket partitions of each committed epoch — `bucket` is a
    * stored partition directory, computed driver-side for the terms, so
    * the scan never lists the other buckets (TextSpec proves
    * `selectedPartitions` == probed buckets, the persisted-IVF pruning
    * proof). Epochs merge by SUMMING tf per (token, doc): a document
    * whose text arrives split across epochs accumulates, and a
    * compacted store returns identical sums (fold = union). The per-term
    * ranking is the bounded [[graft.plans.TopKAgg]] heap — the probe
    * result is k rows per term no matter how long the posting list. */
  def searchInvertedIndexStore(spark: SparkSession, indexDir: String,
                               terms: Seq[String], k: Int = 10,
                               maxEpoch: Long = Long.MaxValue): DataFrame = {
    val buckets = terms.map(t => java.lang.Long.remainderUnsigned(
      md5Upper64(s"$t|inv"), InvBuckets.toLong).toInt).distinct
    // r12: reads through the DSv2 connector — the bucket In-filter pushes
    // into the scan and prunes the store's partition dirs there
    // (EpochStoreSpec/TextSpec gate selected == probed), replacing the
    // per-epoch glob + union the r11 path hand-built
    graft.sources.EpochStore.read(spark, postingsRoot(indexDir),
        postingsSchema, "bucket", maxEpoch)
      .filter(col("bucket").isin(buckets: _*))
      .filter(col("token").isin(terms: _*))
      .groupBy(col("token"), col("doc_id"))
      .agg(sum(col("tf")).as("tf"))
      .groupBy(col("token"))
      .agg(graft.plans.TopKAgg.topK(col("tf").cast("double"),
        col("doc_id"), k).as("top"))
      .select(col("token"), posexplode(col("top")))
      .select(col("token"), (col("pos") + 1).as("rank"),
        col("col.id").as("doc_id"), col("col.ord").cast("long").as("tf"))
      .orderBy("token", "rank")
  }

  /** Persisted-index keyword search as an oracled catalog row
    * (`q_doc_search`): builds the inverted store ONCE per
    * (session, sfDir) from the documents table, then probes it for a
    * fixed 5-term query — per term, the top-8 docs by (tf DESC, doc_id
    * ASC). This is the driver-checkable twin of the store's spec
    * coverage: DuckDB recomputes the ranking straight from the raw
    * documents, so a store that dropped, duplicated, or mis-merged a
    * posting fails the oracle — the same build-once/probe-every-round
    * shape as [[graft.queries.MiscCatalog.orcRoundtrip]]. Scale notes
    * live on [[searchInvertedIndexStore]] (bucket-pruned probe, bounded
    * heap ranking). */
  def docSearch(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = graft.core.Landed.dir(spark, s"inv_store:$sfDir", "graft_inv_store")(
      d => buildInvertedIndexStore(
        Tables.documents(spark, sfDir).select(col("doc_id"), col("text")), d))
    searchInvertedIndexStore(spark, dir,
      Seq("vector", "stream", "join", "window", "hash"), k = 8)
  }

  val docSearchSql: String =
    """WITH t AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
      |  FROM documents WHERE text IS NOT NULL
      |), pd AS (
      |  SELECT token, doc_id, COUNT(*) AS tf FROM t
      |  WHERE token IN ('vector', 'stream', 'join', 'window', 'hash')
      |  GROUP BY token, doc_id
      |), r AS (
      |  SELECT token, doc_id, tf,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY token
      |                            ORDER BY tf DESC, doc_id ASC) AS INT) AS rank
      |  FROM pd
      |)
      |SELECT token, rank, doc_id, tf FROM r
      |WHERE rank <= 8
      |ORDER BY token, rank""".stripMargin

  /** The ONE spelling of the per-(doc, term) Okapi BM25 component
    * (k1=1.2, b=0.75, Lucene non-negative idf), shared by the
    * declarative [[bm25]] and the persisted-index
    * [[searchInvertedIndexBm25]] so the two paths produce bit-identical
    * doubles: IEEE ops are deterministic given the expression tree, and
    * the DECIMAL(20,10) cast makes the later per-doc sum
    * order-independent. */
  private def bm25Component(tf: Column, df: Column, dl: Column,
                            nd: Column, tdl: Column): Column =
    (log(
      (nd.cast("double") - df.cast("double") + lit(0.5)) /
        (df.cast("double") + lit(0.5)) + lit(1.0))
      * (tf.cast("double") * lit(2.2))
      / (tf.cast("double") + lit(1.2) *
          (lit(0.25) + lit(0.75) * dl.cast("double") /
            (tdl.cast("double") / nd.cast("double")))))
      .cast(org.apache.spark.sql.types.DecimalType(20, 10))

  /** BM25 over the PERSISTED index — the serving-path twin of [[bm25]]:
    * candidate postings come bucket-pruned from the manifest store
    * ([[searchInvertedIndexStore]]'s probe contract), length norms from
    * the doclens sidecar, corpus stats (N, total length) fold from the
    * slim doclens scan to one broadcast row, and the score is the SAME
    * [[bm25Component]] expression — TextSpec proves the index path
    * returns bit-identical (doc, n_terms, score) rows to the
    * declarative query over the same corpus. A user can switch from
    * recomputing BM25 per query to probing the maintained index (epochs
    * streaming in via [[graft.streaming.Jobs.invertedIngest]]) without
    * scores moving by one ulp.
    *
    * Scale: probe reads |terms| bucket dirs per epoch plus the
    * 16-byte/doc doclens store; df and stats are broadcast-sized; the
    * doclens join shuffles only candidate (doc, tf) rows and the slim
    * norms — never text or full postings. */
  def searchInvertedIndexBm25(spark: SparkSession, indexDir: String,
                              terms: Seq[String], k: Int = 20,
                              maxEpoch: Long = Long.MaxValue): DataFrame = {
    val buckets = terms.map(t => java.lang.Long.remainderUnsigned(
      md5Upper64(s"$t|inv"), InvBuckets.toLong).toInt).distinct
    val posts = graft.sources.EpochStore.read(spark, postingsRoot(indexDir),
        postingsSchema, "bucket", maxEpoch)
      .filter(col("bucket").isin(buckets: _*))
      .filter(col("token").isin(terms: _*))
      .groupBy(col("token"), col("doc_id"))
      .agg(sum(col("tf")).as("tf"))
    val lens = graft.sources.EpochStore.read(spark, doclensRoot(indexDir),
        doclensSchema, maxEpoch = maxEpoch)
      .groupBy(col("doc_id")).agg(sum(col("dl")).as("dl"))
    val stats = lens.agg(count(lit(1)).as("nd"), sum(col("dl")).as("tdl"))
    val dfreq = posts.groupBy(col("token")).agg(count(lit(1)).as("df"))
    posts
      .join(broadcast(dfreq), Seq("token"))
      .join(lens, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"),
        bm25Component(col("tf"), col("df"), col("dl"),
          col("nd"), col("tdl")).as("comp"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"), sum(col("comp")).as("sc"))
      .select(col("doc_id"), col("n_terms"), col("sc").cast("double").as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
  }

  /** BM25 ranked retrieval (`q_doc_bm25`) — the scoring half of the
    * search stack the inverted index ([[invertedIndex]]) is built for,
    * and the standard "rank corpus docs against a probe query" curation
    * move (e.g. retrieving docs similar to a benchmark prompt before
    * decontamination review). Okapi BM25 with k1=1.2, b=0.75 over a
    * fixed 3-term query; idf = ln((N − df + ½)/(df + ½) + 1) (the
    * non-negative Lucene variant).
    *
    * Scale shape: the corpus-level stats (N, total length) fold to ONE
    * row and broadcast back in-plan ([[tfidf]]'s corpus-count move); the
    * per-term df table is |terms| rows and broadcasts; the only
    * corpus-sized shuffle is the (doc, term) tf aggregation, keyed on
    * (doc_id, term) with map-side combine — rows carry 8-byte ids and
    * short terms, never text. Top-20 compiles to TakeOrderedAndProject
    * (PlanAudit-gated), not a global sort.
    *
    * Oracle parity: every arithmetic step is written with the SAME
    * literal constants and operation order in both engines (IEEE double
    * ops are deterministic given the tree; JVM `Math.log` == DuckDB `ln`
    * — the [[lmScore]] precedent), and each per-(doc,term) component is
    * cast to DECIMAL(20,10) before the per-doc sum, so the fold is
    * order-independent under Spark's partial aggregation. */
  def bm25(spark: SparkSession, sfDir: String): DataFrame = {
    val terms = Seq("vector", "stream", "join")
    val docs = Tables.documents(spark, sfDir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), col("ws"), size(col("ws")).cast("long").as("dl"))
    val stats = docs.agg(count(lit(1)).as("nd"), sum(col("dl")).as("tdl"))
    val tf = docs
      .select(col("doc_id"), col("dl"), explode(col("ws")).as("token"))
      .filter(col("token").isin(terms: _*))
      .groupBy(col("doc_id"), col("dl"), col("token"))
      .agg(count(lit(1)).as("tf"))
      // consumed twice (df build + scoring join): without this the
      // tokenize+explode corpus pass recomputes per consumer — two full
      // corpus passes at scale for a (docs × |terms|)-bounded frame.
      // Lazy: materializes inside the main action, no extra driver job.
      .localCheckpoint(false)
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val comp = tf
      .join(broadcast(dfreq), Seq("token"))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"),
        bm25Component(col("tf"), col("df"), col("dl"),
          col("nd"), col("tdl")).as("comp"))
    comp.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"), sum(col("comp")).as("sc"))
      .select(col("doc_id"), col("n_terms"), col("sc").cast("double").as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(20)
  }

  val bm25Sql: String =
    """WITH dd AS (
      |  SELECT doc_id, string_split(text, ' ') AS ws,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
      |  FROM documents WHERE text IS NOT NULL
      |), stats AS (
      |  SELECT COUNT(*) AS nd, CAST(SUM(dl) AS BIGINT) AS tdl FROM dd
      |), tok AS (
      |  SELECT doc_id, dl, unnest(ws) AS token FROM dd
      |), tf AS (
      |  SELECT doc_id, dl, token, COUNT(*) AS tf FROM tok
      |  WHERE token IN ('vector', 'stream', 'join')
      |  GROUP BY doc_id, dl, token
      |), dfreq AS (
      |  SELECT token, COUNT(*) AS df FROM tf GROUP BY token
      |), comp AS (
      |  SELECT tf.doc_id,
      |    CAST(
      |      ln((CAST(nd AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
      |         / (CAST(df AS DOUBLE) + 0.5) + 1.0)
      |      * (CAST(tf AS DOUBLE) * 2.2)
      |      / (CAST(tf AS DOUBLE) + 1.2 *
      |          (0.25 + 0.75 * CAST(dl AS DOUBLE)
      |            / (CAST(tdl AS DOUBLE) / CAST(nd AS DOUBLE))))
      |      AS DECIMAL(20,10)) AS comp
      |  FROM tf JOIN dfreq USING (token) CROSS JOIN stats
      |)
      |SELECT doc_id, COUNT(*) AS n_terms, CAST(SUM(comp) AS DOUBLE) AS score
      |FROM comp GROUP BY doc_id
      |ORDER BY score DESC, doc_id ASC
      |LIMIT 20""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_doc_split"       -> (trainSplit _),
    "q_doc_split_safe"  -> (clusterSplit _),
    "q_doc_mixture"     -> (mixture _),
    "q_doc_source_cap"  -> (sourceCap _),
    "q_pipeline_e2e"    -> (pipelineE2e _),
    "q_corpus_profile"  -> (corpusProfile _),
    "q_kmv_minhashes"   -> (kmvMinhashesQ _),
    "q_kmv_overlap"     -> (kmvOverlapQ _),
    "q_doc_lm_score"    -> (lmScore _),
    "q_doc_repetition"  -> (repetitionSignals _),
    "q_doc_redact"      -> (redactPii _),
    "q_doc_dedup_incr"  -> (dedupIncrQ _),
    "q_doc_exact_dedup" -> (exactDedup _),
    "q_doc_urldedup"    -> (urlDedup _),
    "q_doc_tokens"      -> (tokenCounts _),
    "q_doc_quality"     -> (qualityScore _),
    "q_doc_fingerprint" -> (fingerprint _),
    "q_doc_ngram_sim"   -> (ngramSimilarity _),
    "q_doc_minhash_lsh" -> (minhashLsh _),
    "q_doc_simhash"     -> (simhashSketch _),
    "q_doc_simhash_nd"  -> (simhashNearDup _),
    "q_dedup_clusters"  -> (dedupClustersQ _),
    "q_curation"        -> (curationPipeline _),
    "q_doc_chunks"      -> ((s, dir) => docChunks(s, dir)),
    "q_doc_pack"        -> ((s, dir) => docPack(s, dir)),
    "q_doc_decontam"    -> (decontam _),
    "q_doc_decontam_bloom" -> (decontamBloom _),
    "q_tfidf"           -> (tfidf _),
    "q_doc_langid"      -> (langIdQuery _),
    "q_doc_sample_hash"  -> (hashSample _),
    "q_doc_sample_weighted" -> (weightedSample _),
    "q_doc_ml_quality"   -> (mlQuality _),
    "q_doc_sample_strat" -> (stratifiedSample _),
    "q_doc_seg_dedup"    -> (chunkDedup _),
    "q_dedup_keep_best"  -> (dedupKeepBest _),
    "q_doc_inverted"     -> (invertedIndex _),
    "q_doc_bm25"         -> (bm25 _),
    "q_doc_search"       -> (docSearch _)
  )

  val oracle: Map[String, String] = Map(
    "q_doc_split"       -> trainSplitSql,
    "q_doc_split_safe"  -> clusterSplitSql,
    "q_doc_mixture"     -> mixtureSql,
    "q_doc_source_cap"  -> sourceCapSql,
    "q_pipeline_e2e"    -> pipelineE2eSql,
    "q_corpus_profile"  -> corpusProfileSql,
    "q_kmv_minhashes"   -> kmvMinhashesSql,
    "q_kmv_overlap"     -> kmvOverlapSql,
    "q_doc_lm_score"    -> lmScoreSql,
    "q_doc_repetition"  -> repetitionSignalsSql,
    "q_doc_redact"      -> redactPiiSql,
    "q_doc_dedup_incr"  -> dedupIncrSql,
    "q_doc_exact_dedup" -> exactDedupSql,
    "q_doc_urldedup"    -> urlDedupSql,
    "q_doc_tokens"      -> tokenCountsSql,
    "q_doc_quality"     -> qualityScoreSql,
    "q_doc_fingerprint" -> fingerprintSql,
    "q_doc_ngram_sim"   -> ngramSimilaritySql,
    "q_doc_minhash_lsh" -> minhashLshSql,
    "q_dedup_clusters"  -> dedupClustersSql,
    "q_doc_simhash"     -> simhashSketchSql,
    "q_doc_simhash_nd"  -> simhashNearDupSql,
    "q_doc_langid"      -> langIdSql,
    "q_curation"        -> curationPipelineSql,
    "q_doc_chunks"      -> docChunksSql,
    "q_doc_pack"        -> docPackSql,
    "q_doc_decontam"    -> decontamSql,
    "q_doc_decontam_bloom" -> decontamSql,
    "q_tfidf"           -> tfidfSql,
    "q_doc_sample_hash"  -> hashSampleSql,
    "q_doc_sample_weighted" -> weightedSampleSql,
    "q_doc_ml_quality"   -> mlQualitySql,
    "q_doc_sample_strat" -> stratifiedSampleSql,
    "q_doc_seg_dedup"    -> chunkDedupSql,
    "q_dedup_keep_best"  -> dedupKeepBestSql,
    "q_doc_inverted"     -> invertedIndexSql,
    "q_doc_bm25"         -> bm25Sql,
    "q_doc_search"       -> docSearchSql
  )
}
