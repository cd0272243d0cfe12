package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftvec.RunPairs

import graft.core.Tables
import graft.functions.TextFunctions._

/** Deduplication family for a training-data pipeline (SURVEY.md §2.D).
  *
  * The synthetic corpus has no natural duplicates, so the operators run
  * over `corpus()` = documents ∪ planted exact copies ∪ planted near
  * copies — the same deterministic-drift pattern the reconciliation
  * operators use, applied identically in the DuckDB oracle so results
  * are exactly checkable.
  *
  * Scale design (100 TB): every candidate generator is
  * explode → groupBy/join on a bounded key (fingerprint, shingle,
  * band bucket) — never an O(n²) cross join. Frequent shingles and
  * oversized buckets are dropped by a frequency cap (the standard
  * "stopword shingle" guard), which both bounds skew and kills the
  * quadratic blowup of boilerplate-heavy buckets.
  */
object Dedup {

  /** Modulus shared by every portable sketch hash in this family. */
  private[graft] final val P = org.apache.spark.sql.graftvec.SketchPerms.P

  /** DuckDB twin of the base token hash (graftvec.PolyHash — already in
    * [0, P)): one list_reduce over the string's characters. The Spark
    * side hashes inside the native sketch kernels (Shingles3Hashed,
    * SimHash64). */
  private[graft] val baseHashSql: String =
    """list_reduce(list_prepend(CAST(0 AS BIGINT),
      |  list_transform(string_split(%s, ''), c -> CAST(unicode(c) AS BIGINT))),
      |  (acc, c) -> (acc * 131 + c) %% 1000000007)""".stripMargin

  /** Deterministic affine permutation params (split-mix style) — the
    * canonical definition lives in graftvec.SketchPerms so the native
    * sketch kernels (MinHashBands, SimHash64) and the oracle-SQL
    * generators here derive identical constants. */
  private[graft] def perm(j: Int): (Long, Long) =
    org.apache.spark.sql.graftvec.SketchPerms.perm(j)

  /** The dedup corpus: base docs + exact copies (doc_id%17==0, re-keyed
    * +1_000_000) + near copies (doc_id%10==0, re-keyed +2_000_000, every
    * 7th word dropped). One parquet scan: the planted branches are a
    * conditional-array explode of the base row (a 3-way union would scan
    * the table three times — at 100 TB, three full passes). */
  def corpus(spark: SparkSession, dir: String): DataFrame =
    corpusOf(Tables.documents(spark, dir))

  /** The same augmentation over any (doc_id, text) relation — stateless
    * per-row, so it applies unchanged to a document STREAM
    * (stream_near_dedup ingests the identical corpus the batch dedup
    * family analyzes). */
  def corpusOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("text"))
      .select(explode(array_compact(array(
        struct(col("doc_id"), col("text")),
        when(col("doc_id") % 17 === 0,
          struct((col("doc_id") + 1000000L).as("doc_id"), col("text"))),
        when(col("doc_id") % 10 === 0,
          struct((col("doc_id") + 2000000L).as("doc_id"),
            array_join(filter(split(col("text"), " "), (_, i) => (i + 1) % 7 =!= 0), " ")
              .as("text")))))).as("r"))
      .select(col("r.doc_id").as("doc_id"), col("r.text").as("text"))

  /** DuckDB rendering of the same corpus (list_filter index is 1-based —
    * matches Spark's 0-based `i + 1`). */
  val corpusSql: String =
    """SELECT doc_id, text FROM documents
      |UNION ALL
      |SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 17 = 0
      |UNION ALL
      |SELECT doc_id + 2000000,
      |  array_to_string(list_filter(string_split(text, ' '), (w, i) -> i % 7 <> 0), ' ')
      |FROM documents WHERE doc_id % 10 = 0""".stripMargin

  /** Generic exact-duplicate grouping over any (id, text) relation:
    * group by normalized-text md5. One shuffle on the 128-bit
    * fingerprint; group sizes are the duplicate cluster sizes. */
  def exactDuplicatesOf(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol), md5(normText(col(textCol)).cast("binary")).as("fp"))
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("n_docs"),
        min(col(idCol)).as(s"min_$idCol"),
        max(col(idCol)).as(s"max_$idCol"))
      .filter(col("n_docs") > 1)

  /** dedup_exact — exact duplicates of the planted corpus. */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    exactDuplicatesOf(corpus(spark, dir), "doc_id", "text")
      .orderBy(col("fp"))

  val dedupExactSql: String =
    s"""WITH corpus AS ($corpusSql)
      |SELECT md5(${normTextSql("text")}) AS fp, COUNT(*) AS n_docs,
      |  MIN(doc_id) AS min_doc_id, MAX(doc_id) AS max_doc_id
      |FROM corpus
      |GROUP BY 1 HAVING COUNT(*) > 1
      |ORDER BY fp""".stripMargin

  /** Max number of docs a shingle may appear in before it is dropped as
    * non-discriminative ("stopword shingle") — bounds bucket skew. */
  val ShingleFreqCap = 50

  /** Per-doc distinct 3-gram shingle HASHES of any (doc_id, text)
    * relation — (doc_id, h) rows via the native Shingles3Hashed
    * expression: the shingle string is never materialized (hashing runs
    * incrementally over the word bytes), and every downstream consumer
    * (frequency window, pair self-join, minhash permutations) wants the
    * 8-byte portable key, not the ~25-byte string. */
  def shinglesOf(docs: DataFrame): DataFrame =
    docs
      .withColumn("ws", words(col("text")))
      .select(col("doc_id"), explode(shingles3HashedFromWords(col("ws"))).as("h"))

  private[graft] def corpusShingles(spark: SparkSession, dir: String): DataFrame =
    shinglesOf(corpus(spark, dir))

  /** Rare-shingle doc-id groups, persisted: the sorted distinct doc ids
    * of each shingle hash held by 2 to ShingleFreqCap docs, from one
    * [[bucketRuns]] pass over the hashed shingle rows — the ONLY shuffle
    * of the full shingle set. Candidate pairs expand from each group
    * through the pair loop the LSH buckets use, and per-doc rare-set
    * sizes re-explode the same cached groups.
    *
    * Shingles travel as their portable polyhash (8-byte longs): the
    * DuckDB oracle applies the identical hash, so the rare multiset —
    * collisions included — is identical on both sides.
    *
    * Memory stays bounded however hot a shingle is: the pass holds at
    * most ShingleFreqCap ids of one run and only counts the rest, so a
    * billion-doc stopword shingle is counted past the cap and dropped,
    * never buffered (a plain collect_list of it is an executor OOM at
    * 100 TB). A run is read whole before it is sized, so every kept
    * group is complete. */
  private[graft] def rareShingleGroups(spark: SparkSession, dir: String): Dataset[Array[Long]] =
    rareShingleGroupsOf(corpusShingles(spark, dir))

  private[graft] def rareShingleGroupsOf(shingles: DataFrame): Dataset[Array[Long]] =
    bucketRuns(shingles, col("h"), 2, ShingleFreqCap).persist()

  private val PairEncoder = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
  private val RunEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()

  /** Per-bucket doc-id runs: one hash exchange on the bucket `key`
    * (non-null), each partition sorted by the key alone (a single long
    * key takes Spark's radix sort; a run's ids are sorted in the pass,
    * at most maxSz of them), then one pass
    * ([[org.apache.spark.sql.graftvec.RunPairs]]) that reads each key's
    * run, counts its true size and yields the run's sorted distinct
    * doc_ids when that size is in [minSz, maxSz]. Runs outside it are
    * dropped (the oversize guard — those buckets are boilerplate, not
    * near-dups). Memory per task is one run of at most maxSz ids,
    * however hot a key. Runs rather than a grouped collect: bucket rows
    * fall mostly into singleton buckets, and a grouped collect would
    * allocate, serialise and merge a buffer for each of them, then sort
    * anyway past Spark's object-hash-aggregate fallback threshold. */
  private[graft] def bucketRuns(rows: DataFrame, key: Column, minSz: Int, maxSz: Int): Dataset[Array[Long]] =
    sortedByKey(rows, key).mapPartitions(RunPairs.runs(_, minSz, maxSz))(RunEncoder)

  /** Candidate pairs doc_a < doc_b of every run [[bucketRuns]] yields,
    * expanded in the same task as the runs are read. */
  private[graft] def bucketPairs(rows: DataFrame, key: Column, minSz: Int, maxSz: Int): DataFrame =
    sortedByKey(rows, key)
      .mapPartitions(it => RunPairs.pairs(RunPairs.runs(it, minSz, maxSz)))(PairEncoder)
      .toDF("doc_a", "doc_b")

  private def sortedByKey(rows: DataFrame, key: Column): Dataset[(Long, java.lang.Long)] =
    rows.select(key.as("k"), col("doc_id"))
      .repartition(col("k"))
      .sortWithinPartitions(col("k"))
      .as(Encoders.tuple(Encoders.scalaLong, Encoders.LONG))

  /** One long bucket key per (band id, band hash): the id in the high
    * word, the hash in the low one, so the exchange carries one key
    * column. Injective for hashes in [0, 2^32), which both band families
    * are (MinHash bands < P, SimHash bands 16 bits). */
  private def bandKey(bandId: Column, hash: Column): Column =
    shiftleft(bandId.cast("long"), 32).bitwiseOR(hash)

  /** Shared oracle CTEs: planted corpus → word lists → distinct 3-gram
    * shingle hashes per doc (`sh`). DISTINCT is on (doc_id, hash), the
    * same dedup the Shingles3Hashed kernel applies, so both engines see
    * the identical multiset even under an (astronomically rare)
    * intra-doc collision. */
  private lazy val shinglesCtes: String =
    s"""corpus AS ($corpusSql),
      |toks AS (
      |  SELECT doc_id, ${wordsSql("text")} AS ws FROM corpus
      |),
      |sh AS (
      |  SELECT DISTINCT doc_id, ${baseHashSql.format("s")} AS h FROM (
      |    SELECT doc_id, unnest(list_transform(range(1, greatest(len(ws) - 1, 1)),
      |      i -> ws[i] || '_' || ws[i+1] || '_' || ws[i+2])) AS s
      |    FROM toks WHERE len(ws) >= 3)
      |)""".stripMargin

  private lazy val docShinglesSql: String =
    s"""$shinglesCtes,
      |rare AS (
      |  SELECT h FROM sh GROUP BY h HAVING COUNT(*) BETWEEN 2 AND $ShingleFreqCap
      |),
      |rsh AS (SELECT sh.doc_id, sh.h FROM sh JOIN rare USING (h))""".stripMargin

  /** Distinct-shingle count per doc (unfiltered — the true set size, so
    * jaccard denominators are exact even when rare-filtering candidates).
    * NOTE: candidate generation uses rare shingles only; the intersection
    * is computed over rare shingles too, so jaccard here is defined over
    * the rare-shingle space on BOTH sides (identical in the oracle). */
  def dedupNgramJaccard(spark: SparkSession, dir: String): DataFrame =
    jaccardPairs(spark, dir).orderBy(col("doc_a"), col("doc_b"))

  /** Unordered jaccard pairs — shared by dedup_ngram_jaccard (adds the
    * presentation sort) and dedup_clusters (feeds the component loop,
    * where a sort would be wasted work).
    *
    * Both branches read the cached rare-shingle GROUPS: the intersection
    * count expands each group's pairs through the bucket pair loop and
    * counts per pair; the per-doc rare-set size re-explodes the group
    * members. Only the full shingle set's exchange on h shuffles big
    * data — the pair and size aggregates shuffle candidate-bounded slim
    * rows. (The previous bucket self-join formulation computed the same
    * pairs via a window count + cached two-sided sort-merge join — one
    * more wide shuffle and two extra cache passes; measured slower.) */
  private[graft] def jaccardPairs(spark: SparkSession, dir: String,
                                  minJaccard: Double = 0.35d): DataFrame =
    interSizePairs(spark, dir)
      .filter(col("jaccard") >= minJaccard)
      .select(col("doc_a"), col("doc_b"), col("inter"), col("n_a"), col("n_b"), col("jaccard"))

  /** Unfiltered rare-shingle overlap pairs (inter, sizes, jaccard) —
    * the shared candidate relation jaccardPairs and dedup_containment
    * threshold differently. */
  private[graft] def interSizePairs(spark: SparkSession, dir: String): DataFrame =
    interSizePairsOf(rareShingleGroups(spark, dir))

  private[graft] def interSizePairsOf(groups: Dataset[Array[Long]]): DataFrame = {
    val sizes = groups.toDF("ds").select(explode(col("ds")).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val inter = groups.mapPartitions(RunPairs.pairs)(PairEncoder).toDF("doc_a", "doc_b")
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_sh").as("n_a")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_sh").as("n_b")), Seq("doc_b"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")))
  }

  val ContainmentMin = 0.8d
  val ContainmentMinRare = 5L

  /** dedup_containment — asymmetric near-SUPERSET detection, the pair
    * class symmetric jaccard structurally misses: a short doc quoted
    * whole inside a long aggregation page has containment
    * |A∩B| / min(|A|,|B|) ≈ 1 while jaccard ≈ |A|/|B| can sit near 0,
    * so no jaccard threshold catches it without drowning in noise
    * (the Lee et al. dedup line treats these as distinct dup classes).
    * Same candidate generation as dedup_ngram_jaccard — rare-shingle
    * co-occurrence groups, df ∈ [2, ShingleFreqCap], the only
    * full-corpus shuffle — then thresholds containment ≥ 0.8 over the
    * rare-shingle space (both engines identically), with a ≥ 5
    * rare-shingle floor on the contained side so two-shingle fragments
    * don't alias as containment hits. Jaccard rides along so
    * downstream can split true near-dups (high j) from proper
    * subset/superset pairs (low j). Scale shape = dedup_ngram_jaccard:
    * candidate-bounded slim rows after one exchange on h; reference
    * semantics: verify_replication.py's notion of "row contained in
    * the other table" generalized to shingle sets. */
  def dedupContainment(spark: SparkSession, dir: String): DataFrame =
    containmentOf(interSizePairs(spark, dir))

  /** Containment thresholding over any (doc_id, text) relation's
    * rare-shingle overlap pairs — the generic entry DedupSpec plants a
    * true quote-in-superset corpus through. */
  def containmentPairsOf(docs: DataFrame): DataFrame =
    containmentOf(interSizePairsOf(rareShingleGroupsOf(shinglesOf(docs))))

  private def containmentOf(pairs: DataFrame): DataFrame =
    pairs
      .withColumn("containment",
        col("inter").cast("double") / least(col("n_a"), col("n_b")).cast("double"))
      .filter(col("containment") >= ContainmentMin &&
        least(col("n_a"), col("n_b")) >= ContainmentMinRare)
      .select(col("doc_a"), col("doc_b"), col("inter"), col("n_a"), col("n_b"),
        col("containment"), col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))

  val dedupContainmentSql: String =
    s"""WITH $docShinglesSql,
      |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM rsh GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
      |  FROM rsh a JOIN rsh b ON a.h = b.h AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |)
      |SELECT doc_a, doc_b, inter, sa.n_sh AS n_a, sb.n_sh AS n_b,
      |  CAST(inter AS DOUBLE) / least(sa.n_sh, sb.n_sh) AS containment,
      |  CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter) AS jaccard
      |FROM inter
      |JOIN sizes sa ON sa.doc_id = doc_a
      |JOIN sizes sb ON sb.doc_id = doc_b
      |WHERE CAST(inter AS DOUBLE) / least(sa.n_sh, sb.n_sh) >= $ContainmentMin
      |  AND least(sa.n_sh, sb.n_sh) >= $ContainmentMinRare
      |ORDER BY doc_a, doc_b""".stripMargin

  val dedupNgramJaccardSql: String =
    s"""WITH $docShinglesSql,
      |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM rsh GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
      |  FROM rsh a JOIN rsh b ON a.h = b.h AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |)
      |SELECT doc_a, doc_b, inter, sa.n_sh AS n_a, sb.n_sh AS n_b,
      |  CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter) AS jaccard
      |FROM inter
      |JOIN sizes sa ON sa.doc_id = doc_a
      |JOIN sizes sb ON sb.doc_id = doc_b
      |WHERE CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter) >= 0.35
      |ORDER BY doc_a, doc_b""".stripMargin

  // ---- MinHash + LSH ------------------------------------------------------

  val NumHashes = 64
  val NumBands = 32 // 32 bands x 2 rows — tuned for j≈0.4 near-dups:
  // P(band match) = j², P(≥2 of 32 bands) ≈ 99% at j=0.44 and ≈ 2e-5 at
  // j=0.02, so requiring 2 shared bands keeps recall high with near-zero
  // false candidates.
  /** Generic MinHash+LSH near-dup candidate pairs over any (doc_id,
    * text) relation: shingle → 64 minhashes → 32 band hashes → bucket
    * pair expansion, requiring ≥ 2 shared bands.
    *
    * The whole sketch (64 affine-perm minima folded into 32 band keys)
    * is ONE native codegen node (graftvec.MinHashBands) applied to the
    * per-doc hashed-shingle array — no shingle explode, no shuffle, no
    * 64-column aggregate: the first shuffle in the plan is the band key
    * exchange of [[bucketPairs]] (32 slim rows per doc). A shingle-less
    * doc has no bands, so no filter is needed — one on the array would be
    * pushed below the projection and run the shingle chain twice. The exploded
    * `groupBy(doc_id).agg(64 × min(...))` formulation this replaces
    * shuffled every shingle row and paid a wide HashAggregate — pure
    * overhead when the shingle set is already a per-doc array. */
  def minhashPairsOf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.graftvec.MinHashExpressions.minhashBands
    val bands = docs
      .withColumn("hs", shingles3HashedFromWords(words(col("text"))))
      .select(col("doc_id"),
        posexplode(minhashBands(col("hs"), NumHashes, NumBands)).as(Seq("band_id", "band_hash")))
    bucketPairs(bands, bandKey(col("band_id"), col("band_hash")), 2, 100) // skew cap
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared_bands"))
      .filter(col("n_shared_bands") >= 2)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** dedup_minhash — MinHash+LSH near-dup candidate pairs:
    * shingle → 64 minhashes → 32 band hashes → bucket pair expansion.
    * Oracle-checked: every hash in the chain is portable arithmetic
    * (polyhash base, affine permutations, polynomial band combine), so
    * the DuckDB oracle replays it exactly; DedupSpec asserts planted
    * near-dup recall. */
  def dedupMinhash(spark: SparkSession, dir: String): DataFrame =
    minhashPairsOf(corpus(spark, dir))

  /** MinHash candidate-pair CTEs (build on `shinglesCtes`'s `sh`):
    * polyhash base → 64 affine-perm minima (generated literals) →
    * polynomial band keys → bucket-size cap → self-join requiring ≥2
    * shared bands, as `mh_cand`. Shared by the dedup_minhash oracle and
    * the dedup_minhash_audit oracle. */
  /** MinHash band CTEs (build on `shinglesCtes`'s `sh`), ending in
    * `bands(doc_id, band_id, band_hash)` — shared by the batch
    * candidate chain below and the stream_near_dedup oracle. */
  private[graft] lazy val minhashBandsCtes: String = {
    val mins = (0 until NumHashes).map { j =>
      val (a, b) = perm(j)
      s"MIN((h * $a + $b) % $P) AS m$j"
    }.mkString(",\n    ")
    val rows = NumHashes / NumBands
    val bandStructs = (0 until NumBands).map { b =>
      val combined = (b * rows until (b + 1) * rows)
        .map(j => s"m$j")
        .reduce((acc, m) => s"(($acc) * 1000003 + $m) % $P")
      s"{'band_id': $b, 'band_hash': $combined}"
    }.mkString(",\n      ")
    s"""sig AS (
      |  SELECT doc_id,
      |    $mins
      |  FROM sh GROUP BY doc_id
      |),
      |bands AS (
      |  SELECT doc_id, unnest([
      |      $bandStructs
      |    ], recursive := true)
      |  FROM sig
      |)""".stripMargin
  }

  private lazy val minhashCandCtes: String = {
    s"""$minhashBandsCtes,
      |bounded AS (
      |  SELECT doc_id, band_id, band_hash FROM (
      |    SELECT *, COUNT(*) OVER (PARTITION BY band_id, band_hash) AS bs FROM bands)
      |  WHERE bs BETWEEN 2 AND 100
      |),
      |mh_cand AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared_bands
      |  FROM bounded a JOIN bounded b
      |    ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 2
      |)""".stripMargin
  }

  /** Streaming near-dup bucket memory: each (band, hash) bucket
    * remembers its first StreamBucketCap arrivals; later arrivals pair
    * against the remembered members but are not added past the cap.
    * An INDEX cap, not the batch drop-whole cap: a stream cannot
    * retract already-emitted pairs, so oversize buckets degrade to
    * "first cap members act as the bucket's index" instead of
    * disappearing. Below the cap the two semantics coincide. */
  val StreamBucketCap = 100

  /** DuckDB oracle for stream_near_dedup: the arrival order of the
    * replay is doc_id order (single AvailableNow batch, sorted within
    * each bucket group), so "remembered" = ROW_NUMBER by doc_id ≤ cap
    * and the stream's pair set is exactly {(a,b): same bucket, a < b,
    * rank(a) ≤ cap}, confirmed at ≥ 2 shared bands like dedup_minhash.
    * (At gate SFs no bucket exceeds the cap, so this equals the batch
    * dedup_minhash pair set — DedupSpec pins that equality.) */
  lazy val streamNearDedupSql: String =
    s"""WITH $shinglesCtes,
      |$minhashBandsCtes,
      |ranked AS (
      |  SELECT doc_id, band_id, band_hash,
      |    ROW_NUMBER() OVER (PARTITION BY band_id, band_hash ORDER BY doc_id) AS rnk
      |  FROM bands
      |),
      |hits AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.band_id
      |  FROM ranked a JOIN ranked b
      |    ON a.band_id = b.band_id AND a.band_hash = b.band_hash
      |   AND b.doc_id > a.doc_id
      |  WHERE a.rnk <= $StreamBucketCap
      |)
      |SELECT doc_a, doc_b, CAST(COUNT(DISTINCT band_id) AS BIGINT) AS n_shared_bands
      |FROM hits GROUP BY 1, 2
      |HAVING COUNT(DISTINCT band_id) >= 2
      |ORDER BY doc_a, doc_b""".stripMargin

  /** DuckDB oracle for dedup_minhash — exact replay via the shared
    * candidate CTEs. */
  lazy val dedupMinhashSql: String =
    s"""WITH $shinglesCtes,
      |$minhashCandCtes
      |SELECT doc_a, doc_b, n_shared_bands FROM mh_cand
      |ORDER BY doc_a, doc_b""".stripMargin

  /** dedup_minhash_audit — index-quality eval of the MinHash+LSH path
    * against exact rare-shingle Jaccard (the knn_recall_audit loop
    * closed for text dedup): every true near-dup pair (jaccard ≥ 0.35)
    * is checked for presence in the banded candidate set, rolled into
    * 0.1-wide Jaccard buckets with per-bucket recall as ONE IEEE divide
    * of exact counts. This is the curve that justifies (or indicts) the
    * band/row tuning: LSH theory says recall should climb steeply with
    * similarity — a flat bucket here means the banding is mis-tuned for
    * the corpus. Candidate detection is a count-only left join on the
    * pair key; nothing heavier than the two ops it audits. */
  def dedupMinhashAudit(spark: SparkSession, dir: String): DataFrame = {
    val exact = jaccardPairs(spark, dir)
    val cand = minhashPairsOf(corpus(spark, dir))
      .select(col("doc_a"), col("doc_b"), lit(1L).as("detected"))
    exact.join(cand, Seq("doc_a", "doc_b"), "left")
      .withColumn("bucket", floor(col("jaccard") * 10d).cast("long"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(coalesce(col("detected"), lit(0L))).as("n_detected"))
      .withColumn("recall",
        col("n_detected").cast("double") / col("n_pairs").cast("double"))
      .withColumn("bucket_lo", col("bucket").cast("double") / lit(10d))
      .select(col("bucket"), col("bucket_lo"), col("n_pairs"),
        col("n_detected"), col("recall"))
      .orderBy(col("bucket"))
  }

  lazy val dedupMinhashAuditSql: String =
    s"""WITH $docShinglesSql,
      |$minhashCandCtes,
      |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM rsh GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
      |  FROM rsh a JOIN rsh b ON a.h = b.h AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |),
      |exact AS (
      |  SELECT doc_a, doc_b,
      |    CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter) AS jaccard
      |  FROM inter
      |  JOIN sizes sa ON sa.doc_id = doc_a
      |  JOIN sizes sb ON sb.doc_id = doc_b
      |  WHERE CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter) >= 0.35
      |),
      |joined AS (
      |  SELECT CAST(FLOOR(e.jaccard * 10) AS BIGINT) AS bucket,
      |    CASE WHEN m.doc_a IS NOT NULL THEN 1 ELSE 0 END AS detected
      |  FROM exact e LEFT JOIN mh_cand m
      |    ON e.doc_a = m.doc_a AND e.doc_b = m.doc_b
      |)
      |SELECT bucket, CAST(bucket AS DOUBLE) / 10.0 AS bucket_lo,
      |  COUNT(*) AS n_pairs,
      |  CAST(SUM(detected) AS BIGINT) AS n_detected,
      |  CAST(CAST(SUM(detected) AS BIGINT) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS recall
      |FROM joined GROUP BY bucket
      |ORDER BY bucket""".stripMargin

  /** dedup_pair_precision — the PRECISION complement of the recall
    * audits: every banded MinHash candidate pair, bucketed by its exact
    * rare-shingle Jaccard (0.0 for pairs sharing no rare shingle at
    * all — pure band collisions). Buckets below the 0.35 near-dup
    * threshold ARE the wasted verification work; their mass is the
    * operational cost of the current (bands, rows) choice, read
    * together with the recall curve when retuning. Candidate-bounded
    * joins only — the exact side reuses the rare-shingle pair pipeline
    * unthresholded, never an all-pairs product. */
  def dedupPairPrecision(spark: SparkSession, dir: String): DataFrame = {
    val cand = minhashPairsOf(corpus(spark, dir))
      .select(col("doc_a"), col("doc_b"))
    val exact = jaccardPairs(spark, dir, minJaccard = 0.0d)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
    cand.join(exact, Seq("doc_a", "doc_b"), "left")
      .withColumn("j", coalesce(col("jaccard"), lit(0.0d)))
      .withColumn("bucket", floor(col("j") * 10d).cast("long"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_candidates"),
        sum(when(col("j") >= 0.35d, 1L).otherwise(0L)).as("n_true"))
      .withColumn("bucket_lo", col("bucket").cast("double") / lit(10d))
      .select(col("bucket"), col("bucket_lo"), col("n_candidates"), col("n_true"))
      .orderBy(col("bucket"))
  }

  lazy val dedupPairPrecisionSql: String =
    s"""WITH $docShinglesSql,
      |$minhashCandCtes,
      |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM rsh GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
      |  FROM rsh a JOIN rsh b ON a.h = b.h AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |),
      |exact_all AS (
      |  SELECT doc_a, doc_b,
      |    CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter) AS jaccard
      |  FROM inter
      |  JOIN sizes sa ON sa.doc_id = doc_a
      |  JOIN sizes sb ON sb.doc_id = doc_b
      |),
      |graded AS (
      |  SELECT COALESCE(e.jaccard, 0.0) AS j
      |  FROM mh_cand m LEFT JOIN exact_all e
      |    ON m.doc_a = e.doc_a AND m.doc_b = e.doc_b
      |)
      |SELECT CAST(FLOOR(j * 10) AS BIGINT) AS bucket,
      |  CAST(FLOOR(j * 10) AS BIGINT) / 10.0 AS bucket_lo,
      |  COUNT(*) AS n_candidates,
      |  CAST(SUM(CASE WHEN j >= 0.35 THEN 1 ELSE 0 END) AS BIGINT) AS n_true
      |FROM graded
      |GROUP BY 1
      |ORDER BY bucket""".stripMargin

  /** dedup_simhash_audit — the SimHash twin of [[dedupMinhashAudit]]:
    * per 0.1-Jaccard-bucket recall of the hamming-confirmed SimHash
    * candidate set against exact rare-shingle Jaccard (≥ 0.35). Read
    * the two audit curves together: MinHash recall should dominate at
    * every bucket (it measures set overlap directly; SimHash blurs it
    * through 64 parity votes) — a corpus where SimHash wins means the
    * shingle cap is biting, not that SimHash is better. Count-only
    * left join on the pair key; one IEEE divide per bucket. */
  def dedupSimhashAudit(spark: SparkSession, dir: String): DataFrame = {
    val exact = jaccardPairs(spark, dir)
    val cand = simhashPairsOf(corpus(spark, dir))
      .select(col("doc_a"), col("doc_b"), lit(1L).as("detected"))
    exact.join(cand, Seq("doc_a", "doc_b"), "left")
      .withColumn("bucket", floor(col("jaccard") * 10d).cast("long"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(coalesce(col("detected"), lit(0L))).as("n_detected"))
      .withColumn("recall",
        col("n_detected").cast("double") / col("n_pairs").cast("double"))
      .withColumn("bucket_lo", col("bucket").cast("double") / lit(10d))
      .select(col("bucket"), col("bucket_lo"), col("n_pairs"),
        col("n_detected"), col("recall"))
      .orderBy(col("bucket"))
  }

  lazy val dedupSimhashAuditSql: String =
    s"""WITH $docShinglesSql,
      |$simhashCandCtes,
      |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM rsh GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
      |  FROM rsh a JOIN rsh b ON a.h = b.h AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |),
      |exact AS (
      |  SELECT doc_a, doc_b,
      |    CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter) AS jaccard
      |  FROM inter
      |  JOIN sizes sa ON sa.doc_id = doc_a
      |  JOIN sizes sb ON sb.doc_id = doc_b
      |  WHERE CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter) >= 0.35
      |),
      |joined AS (
      |  SELECT CAST(FLOOR(e.jaccard * 10) AS BIGINT) AS bucket,
      |    CASE WHEN m.doc_a IS NOT NULL THEN 1 ELSE 0 END AS detected
      |  FROM exact e LEFT JOIN sh_pairs m
      |    ON e.doc_a = m.doc_a AND e.doc_b = m.doc_b
      |)
      |SELECT bucket, CAST(bucket AS DOUBLE) / 10.0 AS bucket_lo,
      |  COUNT(*) AS n_pairs,
      |  CAST(SUM(detected) AS BIGINT) AS n_detected,
      |  CAST(CAST(SUM(detected) AS BIGINT) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS recall
      |FROM joined GROUP BY bucket
      |ORDER BY bucket""".stripMargin

  /** dedup_shingle_df_profile — shingle document-frequency histogram in
    * power-of-two bands (explicit CASE ladder — no libm log2 the two
    * engines could round differently): how many distinct shingles occur
    * in 1 doc, 2, 3–4, 5–8, … 129+. THE tuning evidence for
    * ShingleFreqCap: the mass above the cap is exactly what the
    * rare-shingle Jaccard path discards, and a fat high band means
    * boilerplate is polluting the pair candidates. One groupBy(h) the
    * family already pays, then a ≤9-row aggregate; corpus share is one
    * IEEE divide. */
  def dedupShingleDfProfile(spark: SparkSession, dir: String): DataFrame = {
    val dfreq = shinglesOf(corpus(spark, dir))
      .groupBy(col("h")).agg(count(lit(1)).as("df"))
    val band = when(col("df") === 1, "01_unique")
      .when(col("df") === 2, "02_pair")
      .when(col("df") <= 4, "03_le4")
      .when(col("df") <= 8, "04_le8")
      .when(col("df") <= 16, "05_le16")
      .when(col("df") <= 32, "06_le32")
      .when(col("df") <= 64, "07_le64")
      .when(col("df") <= 128, "08_le128")
      .otherwise("09_gt128")
    val tot = dfreq.agg(count(lit(1)).as("n_shingles_total"))
    dfreq.withColumn("df_band", band)
      .groupBy(col("df_band"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(col("df")).as("occurrences"))
      .crossJoin(broadcast(tot))
      .withColumn("shingle_share",
        col("n_shingles").cast("double") / col("n_shingles_total").cast("double"))
      .select(col("df_band"), col("n_shingles"), col("occurrences"),
        col("shingle_share"))
      .orderBy(col("df_band"))
  }

  lazy val dedupShingleDfProfileSql: String =
    s"""WITH $shinglesCtes,
      |dfreq AS (SELECT h, COUNT(*) AS df FROM sh GROUP BY h),
      |tot AS (SELECT COUNT(*) AS n_shingles_total FROM dfreq),
      |banded AS (
      |  SELECT df,
      |    CASE WHEN df = 1 THEN '01_unique'
      |         WHEN df = 2 THEN '02_pair'
      |         WHEN df <= 4 THEN '03_le4'
      |         WHEN df <= 8 THEN '04_le8'
      |         WHEN df <= 16 THEN '05_le16'
      |         WHEN df <= 32 THEN '06_le32'
      |         WHEN df <= 64 THEN '07_le64'
      |         WHEN df <= 128 THEN '08_le128'
      |         ELSE '09_gt128' END AS df_band
      |  FROM dfreq
      |)
      |SELECT df_band, COUNT(*) AS n_shingles,
      |  CAST(SUM(df) AS BIGINT) AS occurrences,
      |  CAST(COUNT(*) AS DOUBLE) /
      |    CAST((SELECT n_shingles_total FROM tot) AS DOUBLE) AS shingle_share
      |FROM banded GROUP BY df_band
      |ORDER BY df_band""".stripMargin

  // ---- SimHash ------------------------------------------------------------

  /** Salt decorrelating the simhash bit-vote perms from the minhash
    * permutation family (both draw from `perm`). */
  private[graft] val SimSalt = 100

  /** DuckDB oracle for dedup_simhash: polyhash word hash → 64 affine
    * parity votes → per-doc bit sums → 4×16-bit band keys → bucket-size
    * cap → band-equality candidates → hamming via per-band popcount of
    * xor. Exact replay of the Spark sketch (which packs the same bits
    * into one 64-bit value). */
  /** SimHash candidate-pair CTE chain (builds on a `corpus` CTE defined
    * upstream): per-word affine-parity bit votes → 4×16-bit band keys →
    * bucket-size cap → band-equality candidates → hamming ≤ 8 confirm,
    * as `sh_pairs(doc_a, doc_b, hamming)`. Shared by the dedup_simhash
    * oracle and the dedup_simhash_audit oracle. */
  private lazy val simhashCandCtes: String = {
    val h = baseHashSql.format("w")
    val bitSums = (0 until 64).map { j =>
      val (a, b) = perm(j + SimSalt)
      s"SUM(CASE WHEN (h * $a + $b) % $P % 2 = 1 THEN 1 ELSE -1 END) AS b$j"
    }.mkString(",\n    ")
    val bandKeys = (0 until 4).map { k =>
      val key = (0 until 16)
        .map(i => s"CASE WHEN b${k * 16 + i} > 0 THEN ${1 << i} ELSE 0 END")
        .mkString(" + ")
      s"($key) AS band$k"
    }.mkString(",\n    ")
    val bandStructs = (0 until 4).map(k => s"{'band_id': $k, 'band_key': band$k}")
      .mkString(",\n      ")
    val hamming = (0 until 4).map(k => s"bit_count(xor(sa.band$k, sb.band$k))")
      .mkString(" + ")
    s"""w AS (SELECT doc_id, unnest(${wordsSql("text")}) AS w FROM corpus),
      |wh AS (SELECT doc_id, $h AS h FROM w),
      |bsum AS (
      |  SELECT doc_id,
      |    $bitSums
      |  FROM wh GROUP BY doc_id
      |),
      |sigs AS (
      |  SELECT doc_id,
      |    $bandKeys
      |  FROM bsum
      |),
      |eb AS (
      |  SELECT doc_id, unnest([
      |      $bandStructs
      |    ], recursive := true)
      |  FROM sigs
      |),
      |bounded AS (
      |  SELECT doc_id, band_id, band_key FROM (
      |    SELECT *, COUNT(*) OVER (PARTITION BY band_id, band_key) AS bs FROM eb)
      |  WHERE bs BETWEEN 2 AND 100
      |),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM bounded a JOIN bounded b
      |    ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id
      |),
      |sh_pairs AS (
      |  SELECT doc_a, doc_b, $hamming AS hamming
      |  FROM cand
      |  JOIN sigs sa ON sa.doc_id = doc_a
      |  JOIN sigs sb ON sb.doc_id = doc_b
      |  WHERE $hamming <= 8
      |)""".stripMargin
  }

  lazy val dedupSimhashSql: String =
    s"""WITH corpus AS ($corpusSql),
      |$simhashCandCtes
      |SELECT doc_a, doc_b, hamming FROM sh_pairs
      |ORDER BY doc_a, doc_b""".stripMargin

  /** Generic 64-bit SimHash near-dup pairs over any (doc_id, text)
    * relation; near-dup candidates via 4×16-bit band equality, confirmed
    * by hamming distance ≤ 8. Bit j's per-word ±1 vote comes from the
    * parity of an affine transform of the word's portable polyhash
    * (64 independent (a,b) pairs), so the whole sketch is replayable in
    * the DuckDB oracle — `shiftright(xxhash64(w), j)` is not.
    *
    * The fingerprint is ONE native codegen node (graftvec.SimHash64)
    * over the per-doc words array — the exploded form (explode words →
    * 64 conditional-sum aggregate columns → pack) shuffled every word
    * row and paid a 64-column aggregate for a per-doc-computable value.
    * sigs is tiny (doc_id, word count, one long) and is persisted: it
    * feeds the band explode plus both hamming-confirm joins. */
  def simhashPairsOf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.graftvec.MinHashExpressions.simhash64
    val sigs = docs
      .select(col("doc_id"), words(col("text")).as("ws"))
      .select(col("doc_id"), size(col("ws")).as("n_ws"), simhash64(col("ws"), SimSalt).as("simhash"))
      .persist()
      // Explode semantics: null AND empty word arrays produce no signature.
      // (SimHash64 over an empty array would be 0 for every such doc —
      // they would all band-match each other.) size(null) is null → filtered.
      // Filtered after the persist: on the words, Catalyst would push it
      // below the projection and split every doc's text twice.
      .filter(col("n_ws") > 0)
    val bandCols = (0 until 4).map { k =>
      struct(lit(k).as("band_id"),
        shiftrightunsigned(col("simhash"), k * 16).bitwiseAND(0xFFFFL).as("band_key"))
    }
    val bands = sigs.select(col("doc_id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band_id"), col("bb.band_key"))
    val cand = bucketPairs(bands, bandKey(col("band_id"), col("band_key")), 2, 100).distinct()
    cand
      .join(sigs.select(col("doc_id").as("doc_a"), col("simhash").as("sim_a")), Seq("doc_a"))
      .join(sigs.select(col("doc_id").as("doc_b"), col("simhash").as("sim_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).as("hamming"))
      .filter(col("hamming") <= 8)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** dedup_simhash — SimHash near-dup pairs of the planted corpus.
    * Rows-only; DedupSpec asserts planted near-dup recall. */
  def dedupSimhash(spark: SparkSession, dir: String): DataFrame =
    simhashPairsOf(corpus(spark, dir))

  // ---- Benchmark decontamination ------------------------------------------

  /** dedup_decontaminate — eval-set decontamination, the training-data
    * hygiene step run before every pretraining job: flag training docs
    * that share ≥ 3 distinct 3-gram shingles with any EVAL document, so
    * benchmark text never leaks into the training mix. Eval set here =
    * base docs with doc_id % 10 == 0 (whose planted near/exact copies in
    * the corpus are exactly the leaks the op must catch); training pool =
    * the rest of the planted corpus.
    *
    * Scale shape (100 TB): the eval side is tiny by construction
    * (benchmarks are MBs, corpora are TBs) — its distinct shingle set
    * broadcasts, so the training side is a scan + broadcast semi-probe +
    * per-doc count, never a shuffle of the full corpus shingle set.
    * n_sh (the doc's own rare-free shingle count) rides along from the
    * same scan, so the overlap ratio costs nothing extra. */
  def dedupDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val isEval = col("doc_id") < 1000000L && col("doc_id") % 10 === 0
    // per-doc shingle count from the array BEFORE the explode (map-only) —
    // a count window over the exploded rows would shuffle the full
    // training shingle set just to annotate it
    val docsH = corpus(spark, dir)
      .withColumn("hs", shingles3HashedFromWords(words(col("text"))))
      .select(col("doc_id"), size(col("hs")).as("n_sh"), explode(col("hs")).as("h"))
    val evalSh = docsH.filter(isEval).select(col("h")).distinct()
    docsH.filter(!isEval)
      .join(broadcast(evalSh), Seq("h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_overlap"), max(col("n_sh")).as("n_sh"))
      .filter(col("n_overlap") >= 3)
      .withColumn("overlap_ratio", col("n_overlap").cast("double") / col("n_sh"))
      .orderBy(col("doc_id"))
  }

  val dedupDecontaminateSql: String =
    s"""WITH $shinglesCtes,
      |eval_sh AS (
      |  SELECT DISTINCT h FROM sh WHERE doc_id < 1000000 AND doc_id % 10 = 0
      |),
      |train AS (
      |  SELECT doc_id, h, COUNT(*) OVER (PARTITION BY doc_id) AS n_sh
      |  FROM sh WHERE NOT (doc_id < 1000000 AND doc_id % 10 = 0)
      |)
      |SELECT doc_id, COUNT(*) AS n_overlap, MAX(n_sh) AS n_sh,
      |  CAST(COUNT(*) AS DOUBLE) / MAX(n_sh) AS overlap_ratio
      |FROM train JOIN eval_sh USING (h)
      |GROUP BY doc_id HAVING COUNT(*) >= 3
      |ORDER BY doc_id""".stripMargin

  // ---- Duplicate clustering (connected components) ------------------------

  /** fmix64 (MurmurHash3 finalizer) route of an opposite endpoint into
    * [0, fan), SEEDED by the hub's virtual base: raw `id % fan`
    * residues of strided or block-allocated id spaces (every doc_id a
    * multiple of the fan, say) would collapse a hub's whole edge set
    * onto ONE virtual node — and an UNSEEDED hash repeats the exact
    * partition across rounds whenever two consecutive rounds pick the
    * same fan (a round-1 virtual node's edges all share their round-1
    * route value, so a same-fan round 2 re-routes the entire
    * neighborhood onto one sub-virtual node and the iteration never
    * reduces the degree — measured: a flat 2·10⁷-degree star under
    * fan cap 4 stayed at 5·10⁶ per virtual node through 4 "splits").
    * The seed is unique per hub per round (bases strictly increase),
    * so every round's partition is independent. */
  private def fanRoute(x: Long, seed: Long, fan: Long): Long = {
    var z = x ^ (seed * 0x9e3779b97f4a7c15L)
    z ^= (z >>> 33); z *= 0xff51afd7ed558ccdL
    z ^= (z >>> 33); z *= 0xc4ceb9fe1a85ec53L
    z ^= (z >>> 33)
    val m = z % fan
    if (m < 0) m + fan else m
  }

  /** Connected components over an undirected pair set (doc_a, doc_b) →
    * (doc_id, cluster_id) where cluster_id = min doc_id of the component.
    *
    * Alternating large-star / small-star contraction (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14 — the
    * same algorithm GraphFrames ships): each round every node hooks
    * its larger neighbors (large-star) then its smaller neighborhood
    * (small-star) onto its neighborhood minimum, CONTRACTING the graph
    * toward one star per component in O(log n) rounds regardless of
    * diameter — min-label propagation needs diameter rounds, so a
    * 1M-doc near-dup chain costs ~20 rounds here instead of ~1M.
    * Per-round work stays ∝ current edge count, which only shrinks.
    *
    * The loop itself runs on pair RDDs, not DataFrames — the one place
    * in this engine that drops below Catalyst, and deliberately so: an
    * iterative fixpoint re-plans, re-optimizes, and AQE-materializes
    * every round under Catalyst (measured ≈0.6 s/round on a ~2k-edge
    * graph — pure planning overhead), while the RDD loop keeps one
    * hash partitioner across rounds and unpersists each superseded
    * edge set. At 100 TB the partition count scales with the edge
    * count (~500k edges/partition) and per-round persists would become
    * reliable checkpoints every few rounds. Hub skew past
    * [[componentsWithStats]]'s `splitDegree` is handled by pre-loop
    * high-degree node splitting — proven at 3·10⁶-member planted
    * stars (CC_SPLIT in HUB_SF1.json); below the threshold a
    * high-degree star center is exactly the shape the algorithm
    * contracts first.
    *
    * Convergence: each star op maps every surviving edge to one input
    * edge of greater-or-equal endpoint sum, and dedup only removes
    * positive-sum edges — so the endpoint sum is unchanged IFF the
    * round was the identity. One tiny fold per round decides
    * termination (ids must be non-negative, which doc ids are), and at
    * the fixpoint every component is a star centered on its minimum. */
  def connectedComponentsOf(pairs: DataFrame): DataFrame =
    componentsWithStats(pairs)._1

  /** What one [[componentsWithStats]] call did:
    *  - `rounds`: star rounds to converge, the O(log n) bound;
    *  - `splitRounds`: high-degree split rounds (0 = no split; > 1 =
    *    the fan cap bound and the pass iterated);
    *  - `splitHubs`: hub nodes split, summed over split rounds;
    *  - `censusCands`: pigeonhole candidates collected to the driver,
    *    summed over census rounds;
    *  - `censusOverflows`: census rounds whose candidate emission
    *    overflowed `censusCandCap` and so paid the full 2|E| census
    *    (degenerate-geometry rounds, localT < 64, take the same
    *    fallback but are not counted). */
  private[graft] case class CcStats(
      rounds: Int, splitRounds: Int, splitHubs: Int,
      censusCands: Int, censusOverflows: Int)

  /** [[connectedComponentsOf]] with its limits as parameters and what
    * it did as its result.
    *
    * @param splitDegree degree above which a node is split into chained
    *   virtual nodes before the CC loop. 2^17 keeps the largest
    *   single-task neighborhood ≈ 131k ids (~3 MB boxed): far under
    *   executor memory, far over every gate/bench graph, whose total
    *   edge counts are smaller, so the split machinery is skipped
    *   entirely there.
    * @param fanCap max virtual nodes per split hub per round. It caps
    *   the id arithmetic (virtual id = base + hubIndex·fanCap + j) and
    *   bounds the chain star a split hub keeps. When it binds (a
    *   10⁹-degree hub still lands ~10⁶ ids per virtual node after one
    *   round) the splitting pass iterates, splitting the over-threshold
    *   virtual nodes again (≤ 4 rounds cover degree ~T·1024⁴ ≈ 10²³).
    * @param censusCandCap max pigeonhole candidates one partition may
    *   emit to the driver in the narrow census. The candidate set is
    *   otherwise bounded only by 2|E|/(localT+1): an adversarial
    *   near-threshold degree distribution (many nodes just above
    *   ⌊T/nPart⌋ locally, all below T globally) could push tens of
    *   millions of ids into the driver collect while the real hub
    *   roster stays tiny. A partition that overflows the cap sets a
    *   flag instead of emitting the tail, and the round falls back to
    *   the full exact census. 4·fanCap keeps the worst-case collect at
    *   nPart·4096 longs while real corpora (candidates ≈ hubs ≪ cap)
    *   stay on the narrow path. */
  private[graft] def componentsWithStats(
      pairs: DataFrame,
      splitDegree: Long = 1L << 17,
      fanCap: Long = 1024L,
      censusCandCap: Int = 4096): (DataFrame, CcStats) = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val raw = pairs.select(col("doc_a"), col("doc_b")).as[(Long, Long)].rdd
      .filter { case (a, b) => a != b }
    // canonical (larger, smaller) undirected edges
    var edges = raw.map { case (a, b) => if (a > b) (a, b) else (b, a) }
      .distinct().persist()
    // one pass for count AND endpoint sum (the loop's convergence seed):
    // two separate jobs over the persisted edges were pure scheduling
    // overhead — the sum is only valid while `edges` is this RDD, so the
    // split pass below recomputes it when it rewrites the graph.
    val (edgeCount, edgeSum0) = edges.mapPartitions { it =>
      var c = 0L; var s = 0L
      it.foreach { case (a, b) => c += 1L; s += a + b }
      Iterator.single((c, s))
    }.fold((0L, 0L))((x, y) => (x._1 + y._1, x._2 + y._2))
    val nPart = math.max(2, (edgeCount / 500000L).toInt)
    val part = new org.apache.spark.HashPartitioner(nPart)

    // ---- high-degree node splitting (pre-loop) -----------------------
    // The loop below holds each node's FULL neighborhood in one
    // groupByKey task; a boilerplate hub duplicated 10⁶–10⁸ times
    // concentrates a component's whole edge set there (HUB_SF1 priced
    // 5.3·10⁵ as fine; past ~10⁶ the single task becomes the straggler,
    // at 10⁸ an OOM). Mitigation: any node whose degree exceeds
    // `splitDegree` is salted into ≤ `fanCap` virtual
    // nodes — each incident edge re-hangs off virtual node
    // base + hubIdx·fanCap + fanRoute(otherEndpoint), and the real node
    // keeps a fan-sized star to its virtual nodes — so connectivity is
    // exactly preserved while the max neighborhood drops to
    // ~degree/fan. The pass ITERATES (≤ 4 rounds): when the fan cap
    // binds, a first split leaves virtual nodes of degree ~d/fanCap,
    // which the next round splits again — 4 rounds of 1024-way fan
    // cover degree ~T·1024⁴ ≈ 10²³, so no realizable hub survives
    // above the threshold. Virtual ids start past every real id (each
    // round allocates past the previous), so they can never become a
    // component's min label; the output filter drops everything ≥ the
    // first round's base, making the split semantically invisible
    // (oracle unchanged). A graph with fewer total edges than the
    // threshold cannot contain a hub — the guard skips the machinery
    // entirely at gate/bench sizes.
    //
    // The census is NARROW in the common, hubless case: one
    // mapPartitions pass over the persisted edges counts degrees
    // per-partition and emits only pigeonhole candidates — a node of
    // global degree > T must count > ⌊T/nPart⌋ inside at least one of
    // its nPart partitions (⌈(T+1)/n⌉ = ⌊T/n⌋+1) — so a graph with no
    // hub pays zero shuffle and zero extra stage beyond collecting
    // empty candidate lists, where the old reduceByKey census paid a
    // 2|E|-row combiner shuffle on EVERY large CC call (measured
    // 1.15–1.16× on the sf10 dedup cluster family, the r13 watch
    // item). Candidates are exact-counted (map-side filtered shuffle
    // of only their incident edges) only when any exist; false
    // positives die there. A caller-side "my edge stream is
    // hub-bounded" hint would be UNSOUND instead: the two-level star
    // emitters still produce local roots of degree ~group/StarSalt —
    // unbounded at the 10⁸-copy groups this pass exists for — so the
    // census stays inside the operator where it cannot be lied to.
    var virtBase = Long.MaxValue
    var splitHubs = 0
    var censusCands = 0
    var censusOverflows = 0
    var splitRound = 0
    var moreHubs = edgeCount > splitDegree
    while (moreHubs && splitRound < 4) {
      val nPartE = edges.getNumPartitions
      val localT = splitDegree / nPartE
      // full exact census: the 2|E| combiner shuffle — the fallback
      // when pigeonhole filtering can't run (degenerate geometry) or
      // would flood the driver (candidate-cap overflow)
      def fullCensus(): (Long, Array[(Long, Long)]) = {
        val hubs = edges
          .flatMap { case (a, b) => Iterator((a, 1L), (b, 1L)) }
          .reduceByKey(part, _ + _)
          .filter(_._2 > splitDegree)
          .collect()
        (edges.map(_._1).fold(0L)(math.max), hubs)
      }
      // (maxRealOrVirtualId, exact (hub, degree) roster) for this round
      val (maxId, hubArr): (Long, Array[(Long, Long)]) =
        if (localT >= 64) {
          val partStats = edges.mapPartitions { it =>
            val deg = new scala.collection.mutable.LongMap[Long]()
            var mx = 0L
            it.foreach { case (a, b) =>
              if (a > mx) mx = a // canonical a > b
              deg(a) = deg.getOrElse(a, 0L) + 1L
              deg(b) = deg.getOrElse(b, 0L) + 1L
            }
            val over = deg.iterator
              .collect { case (u, d) if d > localT => (u, d) }.toArray
            // bounded emission: a partition crowded with near-threshold
            // local degrees emits only its top-censusCandCap by local degree
            // plus an overflow flag — the driver collect stays ≤
            // nPart·censusCandCap primitive longs no matter the distribution
            val cand =
              if (over.length <= censusCandCap) over.map(_._1)
              else over.sortBy(-_._2).take(censusCandCap).map(_._1)
            Iterator.single((mx, cand, over.length > censusCandCap))
          }.collect()
          val mx = partStats.foldLeft(0L)((m, p) => math.max(m, p._1))
          if (partStats.exists(_._3)) {
            // a truncated partition could hide a true hub below its
            // top-censusCandCap (the pigeonhole guarantee names only ONE
            // partition where a hub exceeds localT) — soundness needs
            // the full census here
            censusOverflows += 1
            fullCensus()
          } else {
            // dedup + sort into a primitive array; membership below is
            // a binary search, no boxing at 2|E| probes
            val sorted = partStats.iterator.flatMap(_._2).toArray
            java.util.Arrays.sort(sorted)
            var n = 0
            var i = 0
            while (i < sorted.length) {
              if (n == 0 || sorted(n - 1) != sorted(i)) { sorted(n) = sorted(i); n += 1 }
              i += 1
            }
            val cands = java.util.Arrays.copyOf(sorted, n)
            censusCands += n
            if (cands.isEmpty) (mx, Array.empty[(Long, Long)])
            else {
              val bcC = spark.sparkContext.broadcast(cands)
              val hubs = edges.mapPartitions { it =>
                val cs = bcC.value
                it.flatMap { case (a, b) =>
                  (if (java.util.Arrays.binarySearch(cs, a) >= 0) Iterator((a, 1L))
                   else Iterator.empty) ++
                    (if (java.util.Arrays.binarySearch(cs, b) >= 0) Iterator((b, 1L))
                     else Iterator.empty)
                }
              }.reduceByKey(_ + _).filter(_._2 > splitDegree).collect()
              bcC.unpersist(blocking = false)
              (mx, hubs)
            }
          }
        } else {
          // degenerate geometry (threshold within ~64× of the partition
          // count — the spec-forced tiny thresholds, or a pathological
          // partitioning): pigeonhole filtering would pass everything,
          // so pay the full census
          fullCensus()
        }
      if (hubArr.isEmpty) moreHubs = false
      else {
        splitRound += 1
        splitHubs += hubArr.length
        val base = maxId + 1L
        if (virtBase == Long.MaxValue) virtBase = base
        // The hub roster is bounded by construction (degree > splitDegree
        // caps it at 2|E|/splitDegree entries — ~76k at 10¹⁰ edges), so it
        // lives on the DRIVER, sorted by hub id: virtual bases are a
        // pure function of the sorted roster, never of shuffle order
        // (a zipWithIndex over shuffled partitions could re-index on a
        // task retry or cache eviction and silently re-wire
        // connectivity between the rewrite and the chains). Applied
        // map-side via broadcast — the old per-hub leftOuterJoin
        // cogrouped a hub's whole edge list into one task's buffer,
        // recreating at 10⁸–10⁹ degrees the very skew this pass exists
        // to remove.
        val hubMapLocal: Map[Long, (Long, Long)] =
          hubArr.sortBy(_._1).zipWithIndex.map { case ((u, d), idx) =>
            // aim each virtual node at ≈ (63/64)·T, not exactly T: the
            // fmix64 route spreads a hub's d edges binomially with
            // σ ≈ √(d/fan), so a mean AT the threshold leaves ~half a σ
            // of slack and a third of the virtual nodes statistically
            // cross T — buying a guaranteed extra census+rewrite round
            // whose only work is fan-2 residual splits (measured at
            // 10⁸: slack 182 vs σ 362). The 1/64 margin is ≥ 6σ there
            // and grows with d, so the non-binding split converges in
            // ONE round; when fanCap binds the cap dominates anyway.
            val fan = math.min(fanCap, d / (splitDegree - splitDegree / 64L) + 1L)
            (u, (base + idx.toLong * fanCap, fan))
          }.toMap
        val bc = spark.sparkContext.broadcast(hubMapLocal)
        // rewrite both endpoints map-side (an edge may touch two
        // hubs); the routing key is the opposite endpoint as already
        // rewritten, mixed through fanRoute
        val rewritten = edges.mapPartitions { it =>
          val hm = bc.value
          it.map { case (a, b) =>
            val a2 = hm.get(a) match {
              case Some((vb, fan)) => vb + fanRoute(b, vb, fan)
              case None            => a
            }
            val b2 = hm.get(b) match {
              case Some((vb, fan)) => vb + fanRoute(a2, vb, fan)
              case None            => b
            }
            (a2, b2)
          }
        }
        val chains = spark.sparkContext
          .parallelize(hubMapLocal.toSeq.sortBy(_._1),
            math.max(1, hubMapLocal.size / 1024))
          .flatMap { case (u, (vb, fan)) =>
            Iterator.range(0, fan.toInt).map(j => (vb + j, u))
          }
        val split = (rewritten ++ chains)
          .filter { case (a, b) => a != b }
          .map { case (a, b) => if (a > b) (a, b) else (b, a) }
          .distinct().persist()
        split.count() // materialize before dropping the originals
        edges.unpersist(blocking = false)
        edges = split
        // iterate ONLY while some fan was cap-bound (residual virtual
        // degree ~d/fanCap can still exceed T). An uncapped split aims
        // every virtual node ≥ 6σ UNDER the threshold, so a re-census
        // of the rewritten graph finds no true hub — it would only
        // chase binomial ghosts: post-split virtual nodes sit just
        // under localT per partition, so the pigeonhole pass would
        // flag nearly all of them and the exact count would shuffle
        // ~the whole edge set, a full-census price for nothing. (If a
        // tail event does leave a virtual node slightly above T, the
        // CC loop provably absorbs it: single-task neighborhoods are
        // priced fine to ~5·10⁵, 4× the default threshold.)
        moreHubs = hubArr.exists { case (_, d) =>
          d / (splitDegree - splitDegree / 64L) + 1L >= fanCap
        }
        // bc stays referenced by split's lineage and is reclaimed by
        // the ContextCleaner with it; a recompute through the lineage
        // is deterministic now (driver-assigned bases), so eviction or
        // retry can no longer mis-wire the graph.
      }
    }

    def endpointSum(e: org.apache.spark.rdd.RDD[(Long, Long)]): Long =
      e.map { case (u, v) => u + v }.fold(0L)(_ + _)
    // reuse the entry pass's sum unless the split pass rewrote the graph
    // (rare — only when a hub census fired); emptiness likewise falls out
    // of the entry count: a split only ever runs on a non-empty graph.
    var prevSum = if (splitRound > 0) endpointSum(edges) else edgeSum0
    var rounds = 0
    var converged = edgeCount == 0L
    while (!converged) {
      // large-star: per node u over its FULL neighborhood, hook every
      // larger neighbor onto min(N(u) ∪ {u}) — output stays canonical
      // because v > u ≥ m
      // ls carries cross-group duplicates (two emitters can hook the same
      // v onto the same m): they are deduped IN-GROUP by the small-star
      // sort below instead of by a dedicated `.distinct` — that distinct
      // was a full extra shuffle of the ls pair set every round, paid only
      // to remove a few collision rows before the very groupByKey that can
      // absorb them for free.
      val ls = edges
        .flatMap { case (u, v) => Iterator((u, v), (v, u)) }
        .groupByKey(part)
        .flatMap { case (u, nbrs) =>
          val m = math.min(u, nbrs.min)
          nbrs.iterator.filter(_ > u).map(v => (v, m))
        }
      // small-star: per node u over its smaller neighbors (all of them,
      // post-large-star), hook u and every non-min neighbor onto the min.
      // Every ls value is < its key, so u > every nbr here; sort+unique
      // replaces both the old `(nbrs ∪ {u}).filter(_ != m)` set algebra
      // and the removed ls.distinct.
      val ss = ls
        .groupByKey(part)
        .flatMap { case (u, nbrs) =>
          val arr = nbrs.toArray
          java.util.Arrays.sort(arr)
          val m = arr(0)
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
          var prev = m
          var i = 1
          while (i < arr.length) {
            val x = arr(i)
            if (x != prev) { out += ((x, m)); prev = x }
            i += 1
          }
          if (u != m) out += ((u, m))
          out.iterator
        }
        .distinct(nPart)
        .persist()
      val newSum = endpointSum(ss)
      rounds += 1
      converged = newSum == prevSum
      prevSum = newSum
      edges.unpersist(blocking = false)
      edges = ss
    }
    // at the fixpoint each component is a star (leaf, center=min);
    // centers label themselves. The labels stay persisted via `edges`:
    // downstream consumes them more than once (sizes + join) and a
    // recompute would replay the whole loop; the few-KB blocks are
    // reclaimed by the ContextCleaner once the result is GC'd.
    // virtual split nodes (ids ≥ virtBase) are scaffolding: drop them.
    // A component's min is always a REAL node (every virtual node is
    // chained to its real hub, whose id is smaller), so cluster_id
    // never needs rewriting. virtBase is Long.MaxValue when no split
    // ran — the filter is a no-op then.
    val realBound = virtBase // stable val for the task closure
    val labels = edges.flatMap { case (v, m) => Iterator((v, m), (m, m)) }
      .reduceByKey(part, math.min(_: Long, _: Long))
      .filter { case (v, _) => v < realBound }
      .toDF("doc_id", "cluster_id")
    (labels, CcStats(rounds, splitRound, splitHubs, censusCands, censusOverflows))
  }

  /** The duplicate edge set of the planted corpus: exact-duplicate
    * edges (same normalized-text md5) ∪ near-dup pairs (rare-shingle
    * jaccard ≥ 0.35 — the confirmed pairs, not LSH candidates, so the
    * edge set is deterministic and oracle-expressible).
    *
    * Exact duplicates contribute STAR edges (group-min → member), not
    * the full clique: the consumers are the connected-components ops,
    * and a star spans exactly the same component as the clique with
    * O(n) edges instead of O(n²) — for a text duplicated a million
    * times at 100 TB that is the difference between 10⁶ and 10¹² edge
    * rows. (The oracle's recursive closure over full clique pairs
    * yields the same components, which is all that is compared.) */
  private[graft] def dupPairs(spark: SparkSession, dir: String): DataFrame =
    // No `.distinct()` here: the only consumer is connectedComponentsOf,
    // which canonicalizes (a > b) and runs its own RDD distinct on entry —
    // the DF-level distinct was a second full exchange+aggregate over the
    // same pair set for zero semantic effect (star edges and jaccard pairs
    // overlap on exact-dup groups, and CC dedups that union anyway).
    exactDupStarEdges(corpus(spark, dir))
      .unionByName(jaccardPairs(spark, dir).select(col("doc_a"), col("doc_b")))

  /** Salt fan for [[exactDupStarEdges]]: a duplicate group's members
    * spread across up to this many window partitions, so no emitter
    * task ever buffers the whole group — the same single-task-hub
    * concern the CC split pass handles one stage downstream, fixed at
    * the shared emitter altitude. */
  private[graft] val StarSalt = 64

  /** The exact-duplicate STAR edge emitter (group-min → members over
    * the normalized-text fingerprint) that [[dupPairs]] unions in —
    * factored out so a planted-hub stress can exercise the very code
    * the pipeline runs. Emitted as a TWO-LEVEL star:
    * members hook onto a per-(fp, doc_id mod [[StarSalt]]) local
    * minimum, and the ≤ StarSalt local minima hook onto the group
    * minimum (a tiny second window over the distinct local roots) —
    * a 10⁸-copy boilerplate group costs StarSalt parallel window
    * partitions instead of one 10⁸-row sort. Spans exactly the same
    * components as the flat star (≤ StarSalt-1 extra edges per group);
    * every consumer is a connected-components closure, so labels are
    * identical. Null fingerprints (null text) emit nothing — the
    * oracle's join-on-value semantics, where NULL never matches. */
  private[graft] def exactDupStarEdges(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val local = docs
      .select(col("doc_id"), md5(normText(col("text")).cast("binary")).as("fp"))
      .filter(col("fp").isNotNull)
      .withColumn("salt", pmod(col("doc_id"), lit(StarSalt.toLong)))
      .withColumn("lroot",
        min(col("doc_id")).over(Window.partitionBy(col("fp"), col("salt"))))
    val leaf = local.filter(col("doc_id") =!= col("lroot"))
      .select(col("lroot").as("doc_a"), col("doc_id").as("doc_b"))
    val roots = local.select(col("fp"), col("lroot")).distinct()
      .withColumn("groot", min(col("lroot")).over(Window.partitionBy(col("fp"))))
      .filter(col("lroot") =!= col("groot"))
      .select(col("groot").as("doc_a"), col("lroot").as("doc_b"))
    leaf.unionByName(roots)
  }

  /** dedup_clusters — duplicate clusters: connected components over
    * exact-dup ∪ near-dup pairs, labeling every clustered doc with the
    * min doc_id of its component plus the component size (the "keep one
    * per cluster" step of a dedup pipeline). Oracle: DuckDB recursive-CTE
    * transitive closure — tractable because components are tiny; the
    * Spark side never materializes the closure, only labels. */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame = {
    val labels = connectedComponentsOf(dupPairs(spark, dir))
    val sizes = labels.groupBy(col("cluster_id")).agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
      .orderBy(col("doc_id"))
  }

  /** Shared oracle CTE chain ending in `lab(doc_id, cluster_id)` — the
    * recursive-CTE transitive closure of the duplicate edge set. */
  private val clusterLabCtes: String =
    s"""$docShinglesSql,
      |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM rsh GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
      |  FROM rsh a JOIN rsh b ON a.h = b.h AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |),
      |nearp AS (
      |  SELECT doc_a, doc_b FROM inter
      |  JOIN sizes sa ON sa.doc_id = doc_a
      |  JOIN sizes sb ON sb.doc_id = doc_b
      |  WHERE CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter) >= 0.35
      |),
      |fps AS (SELECT doc_id, md5(${normTextSql("text")}) AS fp FROM corpus),
      |exactp AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
      |),
      |pairs AS (SELECT * FROM exactp UNION SELECT * FROM nearp),
      |edges AS (
      |  SELECT doc_a AS a, doc_b AS b FROM pairs
      |  UNION SELECT doc_b, doc_a FROM pairs
      |),
      |reach(a, b) AS (
      |  SELECT a, b FROM edges
      |  UNION
      |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
      |),
      |lab AS (SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id FROM reach GROUP BY a)""".stripMargin

  val dedupClustersSql: String =
    s"""WITH RECURSIVE $clusterLabCtes,
      |csz AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM lab GROUP BY 1)
      |SELECT doc_id, cluster_id, cluster_size
      |FROM lab JOIN csz USING (cluster_id)
      |ORDER BY doc_id""".stripMargin

  /** dedup_canonical — the dedup end-product: the full corpus manifest
    * with each doc's cluster id and a keep flag (the component's min
    * doc_id survives; unclustered docs are their own cluster and are
    * kept). Downstream training reads `WHERE is_kept`. One left join of
    * the corpus against the (small) cluster labels. */
  def dedupCanonical(spark: SparkSession, dir: String): DataFrame = {
    val labels = connectedComponentsOf(dupPairs(spark, dir))
    corpus(spark, dir).select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
      .withColumn("is_kept", col("cluster_id") === col("doc_id"))
      .orderBy(col("doc_id"))
  }

  val dedupCanonicalSql: String =
    s"""WITH RECURSIVE $clusterLabCtes
      |SELECT c.doc_id,
      |  COALESCE(lab.cluster_id, c.doc_id) AS cluster_id,
      |  COALESCE(lab.cluster_id, c.doc_id) = c.doc_id AS is_kept
      |FROM corpus c LEFT JOIN lab ON c.doc_id = lab.doc_id
      |ORDER BY c.doc_id""".stripMargin

  /** dedup_survivorship — "what did dedup delete": per-source census of
    * the canonical manifest — documents and character mass kept vs
    * dropped, as exact counts and basis points. The QA read-out a
    * pipeline owner checks AFTER dedup and BEFORE training: a source
    * whose mass collapses here is dup-heavy (mirror sites, boilerplate
    * farms), and a source untouched by dedup deserves suspicion of the
    * opposite failure. Plants are attributed to their base document's
    * source via the corpus id convention (plant id = base + 1M/2M, so
    * base = id % 1M). Cost: the CC labels the cluster family already
    * computes + one id-keyed join + a sources-sized rollup; shares
    * everything with dedup_canonical. */
  def dedupSurvivorship(spark: SparkSession, dir: String): DataFrame = {
    val labels = connectedComponentsOf(dupPairs(spark, dir))
    val man = corpus(spark, dir)
      .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"))
      .join(labels, Seq("doc_id"), "left")
      .withColumn("is_kept", coalesce(col("cluster_id"), col("doc_id")) === col("doc_id"))
    val src = Tables.documents(spark, dir)
      .select(col("doc_id").as("base_id"), col("source"))
    man.withColumn("base_id", col("doc_id") % 1000000L)
      .join(src, Seq("base_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("is_kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(col("n_chars")).as("chars_total"),
        sum(when(col("is_kept"), col("n_chars")).otherwise(0L)).as("chars_kept"))
      .withColumn("docs_kept_bp", expr("(n_kept * 10000L) DIV n_docs"))
      .withColumn("chars_kept_bp", expr("(chars_kept * 10000L) DIV chars_total"))
      .orderBy(col("source"))
  }

  /** DuckDB oracle: the dedup_canonical label closure, char mass from
    * the same corpus text, source attributed through id % 1M. */
  lazy val dedupSurvivorshipSql: String =
    s"""WITH RECURSIVE $clusterLabCtes,
      |man AS (
      |  SELECT c.doc_id, CAST(length(c.text) AS BIGINT) AS n_chars,
      |    COALESCE(lab.cluster_id, c.doc_id) = c.doc_id AS is_kept
      |  FROM corpus c LEFT JOIN lab ON c.doc_id = lab.doc_id
      |),
      |attr AS (
      |  SELECT m.*, d.source
      |  FROM man m JOIN documents d ON d.doc_id = m.doc_id % 1000000
      |)
      |SELECT source,
      |  COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN is_kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  CAST(SUM(n_chars) AS BIGINT) AS chars_total,
      |  CAST(SUM(CASE WHEN is_kept THEN n_chars ELSE 0 END) AS BIGINT) AS chars_kept,
      |  CAST((SUM(CASE WHEN is_kept THEN 1 ELSE 0 END) * 10000) // COUNT(*) AS BIGINT) AS docs_kept_bp,
      |  CAST((SUM(CASE WHEN is_kept THEN n_chars ELSE 0 END) * 10000) // SUM(n_chars) AS BIGINT) AS chars_kept_bp
      |FROM attr GROUP BY 1
      |ORDER BY 1""".stripMargin

  /** text_dup_coverage — per-document duplicated-text coverage: the
    * fraction of a doc's distinct 3-gram shingles that occur in at least
    * one OTHER doc, classified NEAR_DUP (≥0.8) / PARTIAL (≥0.2) /
    * UNIQUE. This is the shingle-granular cousin of suffix-array
    * substring dedup ("how much of this doc is copied text?") — pair
    * enumeration only says WHICH docs overlap; coverage says HOW MUCH of
    * each doc is boilerplate/duplicate, the actual Gopher/C4-style drop
    * signal.
    *
    * Scale shape: one groupBy(h) over the hashed shingle stream computes
    * every shingle's document frequency (map-side combine; the same
    * shuffle the dedup family already pays), one join back tags each
    * (doc, shingle) row with its df — no cap, EXACT for arbitrarily hot
    * shingles, because only a count travels, never a doc list — and the
    * per-doc rollup is a slim (doc_id)-keyed aggregation. */
  /** Generic duplicated-text coverage of any (doc_id, text) relation —
    * see textDupCoverage for semantics and scale shape. */
  def dupCoverageOf(docs: DataFrame): DataFrame = {
    // df via count-over-window instead of groupBy(h)+join-back: the join
    // shape planned the scan+tokenize+explode subtree TWICE (column
    // pruning de-unifies the two branches, so nothing is reusable) and
    // exchanged the shingle stream twice (raw rows for the join, partial
    // counts for the aggregate). One window over h = one tokenize pass,
    // one exchange; the hot-shingle exposure is unchanged (the join's
    // exchange-by-h funneled a hot h to one task exactly the same way,
    // and the window buffer spills where the SMJ sort spilled).
    import org.apache.spark.sql.expressions.Window
    val sh = shinglesOf(docs)
    sh.withColumn("df", count(lit(1)).over(Window.partitionBy(col("h"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_dup_shingles"))
      .withColumn("dup_frac",
        col("n_dup_shingles").cast("double") / col("n_shingles"))
      .withColumn("dup_class",
        when(col("dup_frac") >= 0.8d, "NEAR_DUP")
          .when(col("dup_frac") >= 0.2d, "PARTIAL")
          .otherwise("UNIQUE"))
  }

  def textDupCoverage(spark: SparkSession, dir: String): DataFrame =
    dupCoverageOf(corpus(spark, dir)).orderBy(col("doc_id"))

  val textDupCoverageSql: String =
    s"""WITH $shinglesCtes,
      |dfreq AS (SELECT h, COUNT(*) AS df FROM sh GROUP BY h)
      |SELECT doc_id, COUNT(*) AS n_shingles,
      |  CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_shingles,
      |  CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS dup_frac,
      |  CASE WHEN CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) >= 0.8 THEN 'NEAR_DUP'
      |       WHEN CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) >= 0.2 THEN 'PARTIAL'
      |       ELSE 'UNIQUE' END AS dup_class
      |FROM sh JOIN dfreq USING (h)
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  /** Minimum consecutive duplicated shingles for a reportable span
    * (8 shingles = a 10-word copied substring). */
  val MinSpanShingles = 8

  /** Longest-span threshold (in words) above which a doc is a drop
    * candidate — the Lee et al. exact-substring signal scaled to the
    * test corpus (the paper drops 50-token spans). */
  val DropSpanWords = 30

  /** text_dup_spans — duplicated SUBSTRING spans per document: runs of
    * consecutive position-ordered shingles whose hash occurs ≥2 times
    * corpus-wide. This is the suffix-array dedup signal (Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better":
    * exact duplicated substrings of ≥ k tokens) made shingle-granular
    * and distributed: a run of R consecutive duplicated 3-gram
    * shingles pins a copied substring of R+2 words, where
    * text_dup_coverage only says what FRACTION of a doc is duplicated
    * — spans say WHERE and HOW LONG, the actual drop/trim signal.
    *
    * APPROXIMATION, precisely: each 3-gram in the run is duplicated
    * SOMEWHERE, but not necessarily all against the same place — a
    * chain of independently-duplicated 3-grams can merge into a
    * phantom span that no other document (or position) contains as a
    * whole, so reported spans OVER-cover the true exact-substring set
    * (never under: every true duplicated ≥10-word substring does
    * produce a qualifying run). [[dupSpansExactOf]] removes the
    * over-coverage by hashing whole k-word windows; DedupSpec pins
    * both behaviors on hand-built adversarial docs.
    *
    * Scale shape: positional shingle hashes come from ONE codegen
    * kernel pass (graftvec.Shingles3HashedSeq — duplicates kept, so
    * runs are detectable); the document-frequency rollup is the same
    * groupBy(h) shuffle the dedup family pays (counts travel, never
    * doc lists); islands form with a per-doc window (partitioned by
    * doc_id — no global sort); output rows ∝ offending spans, never
    * corpus size. */
  def dupSpansOf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val psh = docs
      .withColumn("ws", words(col("text")))
      .select(col("doc_id"),
        posexplode(shingles3HashedSeqFromWords(col("ws"))).as(Seq("pos", "h")))
      .withColumn("pos", col("pos").cast("long"))
    // df via count-over-window, not groupBy(h)+join-back — see
    // dupCoverageOf: one tokenize pass and one exchange instead of two
    // of each, identical df values and identical hot-key exposure.
    val wPos = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val runs = psh
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("h"))))
      .filter(col("df") >= 2)
      .withColumn("grp", col("pos") - row_number().over(wPos))
      .groupBy(col("doc_id"), col("grp"))
      .agg(count(lit(1)).as("run_len"), min(col("pos")).as("span_start"))
      .filter(col("run_len") >= MinSpanShingles)
    val wBest = Window.partitionBy(col("doc_id"))
      .orderBy(col("run_len").desc, col("span_start"))
    runs.withColumn("rn", row_number().over(wBest))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_dup_spans"),
        sum(col("run_len")).as("dup_span_shingles"),
        (max(col("run_len")) + 2L).as("longest_span_words"),
        min(when(col("rn") === 1, col("span_start"))).as("longest_span_start"),
        (max(col("run_len")) + 2L >= DropSpanWords.toLong).as("drop_candidate"))
  }

  def textDupSpans(spark: SparkSession, dir: String): DataFrame =
    dupSpansOf(corpus(spark, dir)).orderBy(col("doc_id"))

  val textDupSpansSql: String =
    s"""WITH corpus AS ($corpusSql),
      |toks AS (SELECT doc_id, ${wordsSql("text")} AS ws FROM corpus),
      |psh AS (
      |  SELECT doc_id, i - 1 AS pos,
      |    ${baseHashSql.format("ws[i] || '_' || ws[i+1] || '_' || ws[i+2]")} AS h
      |  FROM toks, LATERAL (SELECT unnest(range(1, greatest(len(ws) - 1, 1))) AS i)
      |  WHERE len(ws) >= 3
      |),
      |dfreq AS (SELECT h, COUNT(*) AS df FROM psh GROUP BY h),
      |dup AS (
      |  SELECT doc_id, pos,
      |    pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      |  FROM psh JOIN dfreq USING (h) WHERE df >= 2
      |),
      |runs AS (
      |  SELECT doc_id, grp, COUNT(*) AS run_len, MIN(pos) AS span_start
      |  FROM dup GROUP BY 1, 2 HAVING COUNT(*) >= $MinSpanShingles
      |),
      |rk AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
      |    ORDER BY run_len DESC, span_start) AS rn
      |  FROM runs
      |)
      |SELECT doc_id, COUNT(*) AS n_dup_spans,
      |  CAST(SUM(run_len) AS BIGINT) AS dup_span_shingles,
      |  CAST(MAX(run_len) + 2 AS BIGINT) AS longest_span_words,
      |  CAST(MIN(CASE WHEN rn = 1 THEN span_start END) AS BIGINT) AS longest_span_start,
      |  MAX(run_len) + 2 >= $DropSpanWords AS drop_candidate
      |FROM rk GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  /** Exact-substring window width in words: a span is reported iff a
    * WHOLE k-word substring is duplicated (Lee et al. use 50 BPE
    * tokens; 10 words ≈ the same granularity at this corpus's doc
    * length, and equals text_dup_spans' minimum reportable span so the
    * two ops are directly comparable). */
  val ExactSpanWords = 10

  /** text_dup_spans_exact — the EXACT Lee-et-al substring dedup signal,
    * upgrading [[dupSpansOf]]'s shingle-run approximation: positions
    * carry the polyhash of their whole k-word window (one
    * ShinglesKHashedSeq kernel pass), a position is duplicated iff its
    * k-window hash occurs ≥ 2 times corpus-wide, and maximal runs of
    * consecutive duplicated positions are reported as spans of
    * run+k−1 words.
    *
    * Why this is exact (hash collisions aside): a duplicated substring
    * of length L ≥ k contributes L−k+1 consecutive duplicated
    * k-windows, and conversely every duplicated k-window IS a
    * duplicated k-word substring — so the union of reported spans
    * equals the union of all duplicated substrings of length ≥ k,
    * which is precisely ExactSubstr's removal set at threshold k
    * ("Deduplicating Training Data Makes Language Models Better",
    * §4.1, the suffix-array dedup), including self-repeats within one
    * document (the paper dedups those too). The 3-shingle
    * approximation in [[dupSpansOf]] instead certifies only each
    * 3-word piece: a chain of independently-duplicated 3-grams can
    * merge into a phantom span no other document contains as a whole
    * (DedupSpec pins the divergence on hand-built docs).
    *
    * Scale shape identical to dupSpansOf: one codegen kernel pass, one
    * count-only groupBy(h) shuffle (counts travel, never doc lists),
    * per-doc windows for island detection, output ∝ offending spans. */
  def dupSpansExactOf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val k = ExactSpanWords
    val psh = docs
      .withColumn("ws", words(col("text")))
      .select(col("doc_id"),
        posexplode(shinglesKHashedSeqFromWords(col("ws"), k)).as(Seq("pos", "h")))
      .withColumn("pos", col("pos").cast("long"))
    // df via count-over-window, not groupBy(h)+join-back — see
    // dupCoverageOf: one tokenize pass and one exchange instead of two
    // of each, identical df values and identical hot-key exposure.
    val wPos = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val runs = psh
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("h"))))
      .filter(col("df") >= 2)
      .withColumn("grp", col("pos") - row_number().over(wPos))
      .groupBy(col("doc_id"), col("grp"))
      .agg(count(lit(1)).as("run_len"), min(col("pos")).as("span_start"))
    val wBest = Window.partitionBy(col("doc_id"))
      .orderBy(col("run_len").desc, col("span_start"))
    runs.withColumn("rn", row_number().over(wBest))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_dup_spans"),
        sum(col("run_len") + lit(k - 1).cast("long")).as("dup_span_words"),
        (max(col("run_len")) + lit(k - 1).cast("long")).as("longest_span_words"),
        min(when(col("rn") === 1, col("span_start"))).as("longest_span_start"),
        (max(col("run_len")) + lit(k - 1).cast("long") >= DropSpanWords.toLong)
          .as("drop_candidate"))
  }

  def textDupSpansExact(spark: SparkSession, dir: String): DataFrame =
    dupSpansExactOf(corpus(spark, dir)).orderBy(col("doc_id"))

  val textDupSpansExactSql: String = {
    val k = ExactSpanWords
    val win = (0 until k).map(j => s"ws[i+$j]").mkString(" || '_' || ")
    s"""WITH corpus AS ($corpusSql),
      |toks AS (SELECT doc_id, ${wordsSql("text")} AS ws FROM corpus),
      |psh AS (
      |  SELECT doc_id, i - 1 AS pos, ${baseHashSql.format(win)} AS h
      |  FROM toks, LATERAL (SELECT unnest(range(1, greatest(len(ws) - $k + 2, 1))) AS i)
      |  WHERE len(ws) >= $k
      |),
      |dfreq AS (SELECT h, COUNT(*) AS df FROM psh GROUP BY h),
      |dup AS (
      |  SELECT doc_id, pos,
      |    pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      |  FROM psh JOIN dfreq USING (h) WHERE df >= 2
      |),
      |runs AS (
      |  SELECT doc_id, grp, COUNT(*) AS run_len, MIN(pos) AS span_start
      |  FROM dup GROUP BY 1, 2
      |),
      |rk AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
      |    ORDER BY run_len DESC, span_start) AS rn
      |  FROM runs
      |)
      |SELECT doc_id, COUNT(*) AS n_dup_spans,
      |  CAST(SUM(run_len + ${k - 1}) AS BIGINT) AS dup_span_words,
      |  CAST(MAX(run_len) + ${k - 1} AS BIGINT) AS longest_span_words,
      |  CAST(MIN(CASE WHEN rn = 1 THEN span_start END) AS BIGINT) AS longest_span_start,
      |  MAX(run_len) + ${k - 1} >= $DropSpanWords AS drop_candidate
      |FROM rk GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin
  }

  /** Words per synthetic line for [[textLineDedup]] — the corpus is
    * flat word soup, so the C4-style "line" is a fixed word window. */
  val LineWords = 10

  /** Generic line-level dedup accounting (the C4/RefinedWeb
    * repeated-line removal step, one granularity below doc-level
    * dedup): each doc's word stream splits into fixed [[LineWords]]-word
    * lines, a line is duplicated when it appears in ≥2 distinct docs,
    * and the per-doc report carries the duplicated-line count plus the
    * md5 fingerprint of the doc with its duplicated lines REMOVED —
    * the verifiable artifact of the cleaning step.
    *
    * Scale shape: lines explode ∝ corpus words / LineWords; the
    * distinct-doc frequency is one groupBy on the 128-bit line
    * fingerprint (map-side combined), joined back and rolled up per
    * doc. Only fingerprints shuffle twice; line text shuffles once
    * into the per-doc rollup (and a production variant would carry
    * line hashes + reconstruct from the source). */
  def lineDedupOf(docs: DataFrame): DataFrame = {
    // line fan-out runs as the native WordLines kernel — one codegen'd
    // loop per doc instead of an interpreted lambda + slice per line
    val lines = docs
      .select(col("doc_id"),
        posexplode(org.apache.spark.sql.graftvec.NgramExpressions
          .wordLines(words(col("text")), LineWords)).as(Seq("l", "line")))
      .withColumn("fp", md5(col("line").cast("binary")))
    // ndocs (distinct docs per fp) via dense_rank+max over one window
    // instead of distinct→groupBy(fp)→join-back: the old shape planned
    // the corpus line fan-out TWICE and exchanged the line rows twice
    // (the (fp, doc_id) distinct and the join); dense_rank over
    // (fp, doc_id) numbers a group's distinct docs 1..K and its
    // unordered max is K — one tokenize pass, one exchange, identical
    // values and identical hot-fp exposure (the join funneled a hot fp
    // to one task exactly the same way).
    import org.apache.spark.sql.expressions.Window
    lines
      .withColumn("dr", dense_rank()
        .over(Window.partitionBy(col("fp")).orderBy(col("doc_id"))))
      .withColumn("ndocs", max(col("dr")).over(Window.partitionBy(col("fp"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("ndocs") >= 2, 1L).otherwise(0L)).as("n_dup_lines"),
        array_join(transform(
          array_sort(collect_list(when(col("ndocs") < 2,
            struct(col("l"), col("line"))))),
          s => s.getField("line")), " ").as("clean_text"))
      .withColumn("dup_line_frac",
        col("n_dup_lines").cast("double") / col("n_lines"))
      .withColumn("clean_fp", md5(col("clean_text").cast("binary")))
      .drop("clean_text")
  }

  /** text_line_dedup — line-level dedup over the planted corpus: exact
    * copies (+1M) share every line with their original, near copies
    * (+2M) share almost none (the dropped 7th words shift every
    * subsequent line boundary), so the report separates wholesale
    * copying from incidental line reuse. */
  def textLineDedup(spark: SparkSession, dir: String): DataFrame =
    lineDedupOf(corpus(spark, dir)).orderBy(col("doc_id"))

  val textLineDedupSql: String =
    s"""WITH corpus AS ($corpusSql),
      |ws AS (SELECT doc_id, ${wordsSql("text")} AS w FROM corpus),
      |lines AS (
      |  SELECT doc_id, i AS l,
      |    array_to_string(w[i*$LineWords+1 : i*$LineWords+$LineWords], ' ') AS line
      |  FROM ws, LATERAL (SELECT unnest(range(0,
      |    CAST(CEIL(len(w) / $LineWords.0) AS BIGINT))) AS i)
      |),
      |lf AS (SELECT doc_id, l, line, md5(line) AS fp FROM lines),
      |dfreq AS (
      |  SELECT fp, COUNT(*) AS ndocs FROM (SELECT DISTINCT fp, doc_id FROM lf)
      |  GROUP BY 1
      |)
      |SELECT doc_id, COUNT(*) AS n_lines,
      |  CAST(SUM(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_lines,
      |  CAST(SUM(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
      |    AS dup_line_frac,
      |  md5(COALESCE(string_agg(CASE WHEN ndocs < 2 THEN line END, ' ' ORDER BY l), ''))
      |    AS clean_fp
      |FROM lf JOIN dfreq USING (fp)
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  /** sample_dedup_aware — duplicate-weighted downsampling: instead of
    * hard-dropping duplicates (dedup_canonical), each doc keeps with
    * probability 1/cluster_size of its exact-duplicate cluster, so
    * every cluster contributes ~1 doc in expectation while unique docs
    * always survive — the soft dedup-aware mixture discipline for
    * training sets where duplicate counts should stop influencing the
    * data distribution but hard canonicalization is too aggressive.
    * Realized deterministically: keep iff affine-hash(doc_id) mod
    * cluster_size == 0 (size-1 clusters always keep). Output is the
    * per-cluster-size audit: clusters, docs, kept docs, kept-id
    * checksum.
    *
    * Scale shape: one fingerprint aggregation (map-side combined,
    * shuffle ∝ distinct fingerprints), sizes broadcast-joined back on
    * fp, a map-only keep filter, and a rollup whose output is ∝
    * distinct cluster sizes. */
  def sampleDedupAware(spark: SparkSession, dir: String): DataFrame = {
    // cluster_size via count-over-window, not groupBy(fp)+join-back —
    // see dupCoverageOf: one normText+md5 corpus pass and one exchange
    // instead of two of each, identical sizes.
    import org.apache.spark.sql.expressions.Window
    val docs = corpus(spark, dir)
      .select(col("doc_id"), md5(normText(col("text")).cast("binary")).as("fp"))
    docs
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("fp"))))
      .withColumn("kept",
        (col("doc_id") * 2654435761L % 1000000007L) % col("cluster_size") === 0L)
      .groupBy(col("cluster_size"))
      .agg(countDistinct(col("fp")).as("n_clusters"),
        count(lit(1)).as("n_docs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("kept"), col("doc_id"))).as("kept_id_checksum"))
      .orderBy(col("cluster_size"))
  }

  val sampleDedupAwareSql: String =
    s"""WITH corpus AS ($corpusSql),
      |fps AS (SELECT doc_id, md5(${normTextSql("text")}) AS fp FROM corpus),
      |sizes AS (SELECT fp, COUNT(*) AS cluster_size FROM fps GROUP BY 1),
      |k AS (
      |  SELECT f.doc_id, f.fp, s.cluster_size,
      |    (f.doc_id * 2654435761 % 1000000007) % s.cluster_size = 0 AS kept
      |  FROM fps f JOIN sizes s USING (fp)
      |)
      |SELECT cluster_size, COUNT(DISTINCT fp) AS n_clusters,
      |  COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  CAST(SUM(CASE WHEN kept THEN doc_id END) AS BIGINT) AS kept_id_checksum
      |FROM k GROUP BY 1
      |ORDER BY cluster_size""".stripMargin

  /** Generic incremental dedup: classify each `delta` doc against a
    * registered `index` corpus by exact normalized-text fingerprint —
    * DUP_OF_INDEX (fingerprint already registered), DUP_IN_DELTA (new
    * fingerprint, but an earlier delta doc claims it first), or NEW,
    * with `dup_of` naming the claiming doc. This is the production
    * dedup shape at 100 TB: the standing corpus is deduped ONCE and
    * registered as a fingerprint index; every new crawl deduplicates
    * its delta against the index and itself, never re-scanning corpus
    * text. Index side reduces to (fp, min id) before the join — ∝
    * distinct fingerprints, not corpus bytes (a deployed index would be
    * a bucketed table on fp, making the join co-located); delta work is
    * ∝ delta size. */
  def incrementalOf(index: DataFrame, delta: DataFrame,
                    idCol: String, textCol: String): DataFrame = {
    def fps(df: DataFrame) = df.select(col(idCol),
      md5(normText(col(textCol)).cast("binary")).as("fp"))
    val registered = fps(index).groupBy(col("fp"))
      .agg(min(col(idCol)).as("index_doc"))
    // first_delta_doc via min-over-window, not groupBy(fp)+join-back —
    // see dupCoverageOf: one delta fingerprint pass and one delta
    // exchange instead of two of each, identical values. The index side
    // is untouched (it reduces to (fp, min id) before the join).
    val d = fps(delta)
      .withColumn("first_delta_doc", min(col(idCol))
        .over(org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))))
    d.join(registered, Seq("fp"), "left")
      .select(col(idCol),
        when(col("index_doc").isNotNull, "DUP_OF_INDEX")
          .when(col(idCol) > col("first_delta_doc"), "DUP_IN_DELTA")
          .otherwise("NEW").as("status"),
        when(col("index_doc").isNotNull, col("index_doc"))
          .when(col(idCol) > col("first_delta_doc"), col("first_delta_doc"))
          .as("dup_of"))
  }

  /** The arriving-crawl delta planted against the base documents table
    * (shared by dedup_incremental and the drift audit): exact copies of
    * every 17th doc (+1M), a modified version of every 10th (+2M,
    * every 7th word dropped), and a second copy of that modification
    * for every 20th (+3M). One scan via conditional-array explode, as
    * in [[corpus]]. */
  private[graft] def incrementalDelta(base: DataFrame): DataFrame = {
    val modified = array_join(
      filter(split(col("text"), " "), (_, i) => (i + 1) % 7 =!= 0), " ")
    base
      .select(explode(array_compact(array(
        when(col("doc_id") % 17 === 0,
          struct((col("doc_id") + 1000000L).as("doc_id"), col("text"))),
        when(col("doc_id") % 10 === 0,
          struct((col("doc_id") + 2000000L).as("doc_id"), modified.as("text"))),
        when(col("doc_id") % 20 === 0,
          struct((col("doc_id") + 3000000L).as("doc_id"), modified.as("text")))))).as("r"))
      .select(col("r.doc_id").as("doc_id"), col("r.text").as("text"))
  }

  private[graft] val incrementalDeltaSql: String =
    """SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 17 = 0
      |UNION ALL
      |SELECT doc_id + 2000000,
      |  array_to_string(list_filter(string_split(text, ' '), (w, i) -> i % 7 <> 0), ' ')
      |FROM documents WHERE doc_id % 10 = 0
      |UNION ALL
      |SELECT doc_id + 3000000,
      |  array_to_string(list_filter(string_split(text, ' '), (w, i) -> i % 7 <> 0), ' ')
      |FROM documents WHERE doc_id % 20 = 0""".stripMargin

  /** dedup_incremental — the planted incremental scenario: the index is
    * the base documents table; the [[incrementalDelta]] classifies as
    * DUP_OF_INDEX (+1M exact copies), NEW (+2M modifications), and
    * DUP_IN_DELTA (+3M second copies, claimed by the +2M doc). */
  def dedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    incrementalOf(base, incrementalDelta(base), "doc_id", "text")
      .orderBy(col("doc_id"))
  }

  val dedupIncrementalSql: String =
    s"""WITH delta AS (
      |$incrementalDeltaSql
      |),
      |registered AS (
      |  SELECT md5(${normTextSql("text")}) AS fp, MIN(doc_id) AS index_doc
      |  FROM documents GROUP BY 1
      |),
      |d AS (SELECT doc_id, md5(${normTextSql("text")}) AS fp FROM delta),
      |first_d AS (SELECT fp, MIN(doc_id) AS first_delta_doc FROM d GROUP BY 1)
      |SELECT d.doc_id,
      |  CASE WHEN r.index_doc IS NOT NULL THEN 'DUP_OF_INDEX'
      |       WHEN d.doc_id > f.first_delta_doc THEN 'DUP_IN_DELTA'
      |       ELSE 'NEW' END AS status,
      |  CASE WHEN r.index_doc IS NOT NULL THEN r.index_doc
      |       WHEN d.doc_id > f.first_delta_doc THEN f.first_delta_doc END AS dup_of
      |FROM d LEFT JOIN registered r USING (fp) JOIN first_d f USING (fp)
      |ORDER BY doc_id""".stripMargin

  /** dedup_cluster_stats — the dedup savings report: duplicate-cluster
    * size histogram (n clusters of each size), docs covered, docs
    * REMOVABLE (size − 1 per cluster — what "keep one per cluster"
    * deletes), and each bucket's share of the corpus. This is the
    * number a 100 TB dedup run is judged by before anyone commits to
    * the delete. Reuses the component labels; the histogram aggregates
    * one row per CLUSTER, so everything after the labeling is
    * negligible. Share is one IEEE divide against the scalar corpus
    * count. */
  def dedupClusterStats(spark: SparkSession, dir: String): DataFrame = {
    val labels = connectedComponentsOf(dupPairs(spark, dir))
    val nDocs = corpus(spark, dir).agg(count(lit(1)).as("n_docs"))
    labels.groupBy(col("cluster_id")).agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
      .crossJoin(broadcast(nDocs))
      .withColumn("docs_in_bucket", col("cluster_size") * col("n_clusters"))
      .withColumn("removable", (col("cluster_size") - 1L) * col("n_clusters"))
      .withColumn("pct_of_corpus",
        col("docs_in_bucket").cast("double") / col("n_docs").cast("double"))
      .select(col("cluster_size"), col("n_clusters"), col("docs_in_bucket"),
        col("removable"), col("pct_of_corpus"))
      .orderBy(col("cluster_size"))
  }

  val dedupClusterStatsSql: String =
    s"""WITH RECURSIVE $clusterLabCtes,
      |csz AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM lab GROUP BY 1),
      |nd AS (SELECT COUNT(*) AS n_docs FROM corpus)
      |SELECT cluster_size, COUNT(*) AS n_clusters,
      |  cluster_size * COUNT(*) AS docs_in_bucket,
      |  (cluster_size - 1) * COUNT(*) AS removable,
      |  CAST(cluster_size * COUNT(*) AS DOUBLE) /
      |    CAST((SELECT n_docs FROM nd) AS DOUBLE) AS pct_of_corpus
      |FROM csz GROUP BY cluster_size
      |ORDER BY cluster_size""".stripMargin

  /** text_ngram_novelty — per-document novelty in arrival order
    * (doc_id): the fraction of a doc's distinct 3-gram shingles whose
    * FIRST corpus occurrence is this doc. The growth-curve signal a
    * crawl is steered by — novelty trending to zero means the new data
    * is re-crawl, not new content; `text_dup_coverage` asks "how much
    * of this doc exists elsewhere", this asks "was it here FIRST".
    * Scale shape: the same hashed-shingle stream the dedup family
    * already pays for, one groupBy(h) min-reduction for the first
    * claimant (a count-free min — no doc list ever travels), one join
    * back, one per-doc rollup. */
  def textNgramNovelty(spark: SparkSession, dir: String): DataFrame = {
    // first_doc via min-over-window, not groupBy(h)+join-back — see
    // dupCoverageOf: one tokenize pass and one exchange instead of two
    // of each, identical values and identical hot-key exposure.
    import org.apache.spark.sql.expressions.Window
    val sh = shinglesOf(corpus(spark, dir))
    sh.withColumn("first_doc",
        min(col("doc_id")).over(Window.partitionBy(col("h"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty",
        col("n_novel").cast("double") / col("n_shingles").cast("double"))
      .withColumn("novelty_class",
        when(col("novelty") >= 0.9d, "FRESH")
          .when(col("novelty") >= 0.3d, "MIXED")
          .otherwise("STALE"))
      .select(col("doc_id"), col("n_shingles"), col("n_novel"),
        col("novelty"), col("novelty_class"))
      .orderBy(col("doc_id"))
  }

  lazy val textNgramNoveltySql: String =
    s"""WITH $shinglesCtes,
      |firstd AS (SELECT h, MIN(doc_id) AS first_doc FROM sh GROUP BY h)
      |SELECT sh.doc_id, COUNT(*) AS n_shingles,
      |  CAST(SUM(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
      |  CAST(SUM(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END) AS DOUBLE) /
      |    CAST(COUNT(*) AS DOUBLE) AS novelty,
      |  CASE WHEN CAST(SUM(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END) AS DOUBLE) /
      |         CAST(COUNT(*) AS DOUBLE) >= 0.9 THEN 'FRESH'
      |       WHEN CAST(SUM(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END) AS DOUBLE) /
      |         CAST(COUNT(*) AS DOUBLE) >= 0.3 THEN 'MIXED'
      |       ELSE 'STALE' END AS novelty_class
      |FROM sh JOIN firstd f USING (h)
      |GROUP BY sh.doc_id
      |ORDER BY sh.doc_id""".stripMargin

  /** dedup_cross_source — near-duplicate overlap matrix between
    * sources: every MinHash+LSH candidate pair attributed to its
    * (source, source) cell with canonical lo/hi ordering. The
    * mixture-weighting prerequisite: duplicates WITHIN a source deflate
    * that source's effective size; duplicates ACROSS sources mean the
    * mixture double-counts content no matter how the weights are set —
    * the two need different fixes, and this is the report that splits
    * them.
    *
    * Scale shape: everything up to the pair stream is exactly
    * dedup_minhash (banded, capped, never all-pairs); the source decode
    * joins the PAIR stream (∝ near-dup pairs, tiny vs corpus) against
    * the (doc_id, source) projection; output ≤ sources². Planted dup
    * doc_ids fold back to their original via the +1M/+2M id convention
    * (corpus(), Dedup.scala:50). */
  def dedupCrossSource(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables.documents(spark, dir)
      .select(col("doc_id").as("orig_id"), col("source"))
    minhashPairsOf(corpus(spark, dir))
      .join(src.select(col("orig_id"), col("source").as("src_a")),
        col("doc_a") % 1000000L === col("orig_id"))
      .drop("orig_id")
      .join(src.select(col("orig_id"), col("source").as("src_b")),
        col("doc_b") % 1000000L === col("orig_id"))
      .groupBy(least(col("src_a"), col("src_b")).as("source_lo"),
        greatest(col("src_a"), col("src_b")).as("source_hi"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("n_shared_bands")).as("sum_shared_bands"))
      .withColumn("is_cross", col("source_lo") =!= col("source_hi"))
      .orderBy(col("source_lo"), col("source_hi"))
  }

  lazy val dedupCrossSourceSql: String =
    s"""WITH $shinglesCtes,
      |$minhashCandCtes
      |SELECT least(da.source, db.source) AS source_lo,
      |  greatest(da.source, db.source) AS source_hi,
      |  COUNT(*) AS n_pairs,
      |  CAST(SUM(n_shared_bands) AS BIGINT) AS sum_shared_bands,
      |  least(da.source, db.source) <> greatest(da.source, db.source) AS is_cross
      |FROM mh_cand
      |JOIN documents da ON da.doc_id = doc_a % 1000000
      |JOIN documents db ON db.doc_id = doc_b % 1000000
      |GROUP BY 1, 2
      |ORDER BY source_lo, source_hi""".stripMargin

  /** text_boilerplate_share — per-source boilerplate mass: lines (the
    * LineWords-word line convention of text_line_dedup) whose
    * fingerprint appears in ≥ 2 documents are boilerplate; each source
    * is charged the line count, the CHARACTER mass, and the distinct
    * template count it carries. The ingestion-side twin of
    * text_line_dedup: that op cleans documents, this one ranks FEEDS by
    * how much of what they deliver is nav-bars/footers/licence
    * blocks — the signal that de-prioritizes a crawl source before
    * paying to process it.
    *
    * Scale shape: line fan-out is the WordLines codegen kernel (rows ∝
    * corpus lines, no payload duplication); the doc-frequency table
    * shuffles 16-byte fingerprints only; the rollup is sources-sized.
    * Char accounting is exact BIGINT; the share is one divide per
    * source. */
  def textBoilerplateShare(spark: SparkSession, dir: String): DataFrame = {
    val lines = Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"),
        explode(org.apache.spark.sql.graftvec.NgramExpressions
          .wordLines(words(col("text")), LineWords)).as("line"))
      .withColumn("fp", md5(col("line").cast("binary")))
      .withColumn("nchars", length(col("line")).cast("long"))
    // ndocs via dense_rank+max over one window — see lineDedupOf: one
    // line fan-out pass and one exchange instead of two of each.
    import org.apache.spark.sql.expressions.Window
    lines
      .withColumn("dr", dense_rank()
        .over(Window.partitionBy(col("fp")).orderBy(col("doc_id"))))
      .withColumn("ndocs", max(col("dr")).over(Window.partitionBy(col("fp"))))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("ndocs") >= 2, 1L).otherwise(0L)).as("n_boiler_lines"),
        sum(col("nchars")).as("total_chars"),
        sum(when(col("ndocs") >= 2, col("nchars")).otherwise(0L)).as("boiler_chars"),
        countDistinct(when(col("ndocs") >= 2, col("fp"))).as("n_templates"))
      .withColumn("boiler_char_share",
        col("boiler_chars").cast("double") / col("total_chars").cast("double"))
      .orderBy(col("source"))
  }

  val textBoilerplateShareSql: String =
    s"""WITH ws AS (
      |  SELECT source, doc_id, ${wordsSql("text")} AS w FROM documents
      |),
      |lines AS (
      |  SELECT source, doc_id,
      |    array_to_string(w[i*$LineWords+1 : i*$LineWords+$LineWords], ' ') AS line
      |  FROM ws, LATERAL (SELECT unnest(range(0,
      |    CAST(CEIL(len(w) / $LineWords.0) AS BIGINT))) AS i)
      |),
      |lf AS (
      |  SELECT source, doc_id, line, md5(line) AS fp,
      |    CAST(length(line) AS BIGINT) AS nchars
      |  FROM lines
      |),
      |dfreq AS (
      |  SELECT fp, COUNT(*) AS ndocs FROM (SELECT DISTINCT fp, doc_id FROM lf)
      |  GROUP BY 1
      |)
      |SELECT source, COUNT(*) AS n_lines,
      |  CAST(SUM(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler_lines,
      |  CAST(SUM(nchars) AS BIGINT) AS total_chars,
      |  CAST(SUM(CASE WHEN ndocs >= 2 THEN nchars ELSE 0 END) AS BIGINT) AS boiler_chars,
      |  COUNT(DISTINCT CASE WHEN ndocs >= 2 THEN fp END) AS n_templates,
      |  CAST(SUM(CASE WHEN ndocs >= 2 THEN nchars ELSE 0 END) AS DOUBLE) /
      |    CAST(SUM(nchars) AS DOUBLE) AS boiler_char_share
      |FROM lf JOIN dfreq USING (fp)
      |GROUP BY source
      |ORDER BY source""".stripMargin

  /** dedup_threshold_sweep — the near-dup threshold tuning curve:
    * candidate pairs bucketed by exact Jaccard decile with the
    * cumulative pair count at-or-above each decile. Every dedup
    * deployment picks a τ; this is the evidence it's picked FROM — how
    * many pairs (and therefore how much corpus) each candidate
    * threshold would merge. The 0.35 the family ships (jaccardPairs)
    * sits on this curve's knee or it's the wrong τ.
    *
    * Determinism: the decile is (10·inter) DIV union — EXACT integer
    * arithmetic on exact set sizes; no double touches a bucket
    * boundary. The cumulative window runs over ≤ 11 pre-aggregated
    * rows. The pairs are dedup_ngram_jaccard's ([[interSizePairs]] over
    * the capped rare-shingle groups), just unfiltered. */
  def dedupThresholdSweep(spark: SparkSession, dir: String): DataFrame = {
    val hist = interSizePairs(spark, dir)
      .withColumn("union_sh", col("n_a") + col("n_b") - col("inter"))
      .withColumn("decile", expr("(10 * inter) DIV union_sh"))
      .groupBy(col("decile")).agg(count(lit(1)).as("n_pairs"))
    hist
      .withColumn("cum_pairs_at_or_above",
        sum(col("n_pairs")).over(
          org.apache.spark.sql.expressions.Window.orderBy(col("decile").desc)
            .rowsBetween(Long.MinValue, 0)))
      .withColumn("threshold", col("decile").cast("double") / lit(10d))
      .select(col("decile"), col("threshold"), col("n_pairs"),
        col("cum_pairs_at_or_above"))
      .orderBy(col("decile"))
  }

  val dedupThresholdSweepSql: String =
    s"""WITH $docShinglesSql,
      |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM rsh GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
      |  FROM rsh a JOIN rsh b ON a.h = b.h AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |),
      |hist AS (
      |  SELECT (10 * inter) // (sa.n_sh + sb.n_sh - inter) AS decile,
      |    COUNT(*) AS n_pairs
      |  FROM inter
      |  JOIN sizes sa ON sa.doc_id = doc_a
      |  JOIN sizes sb ON sb.doc_id = doc_b
      |  GROUP BY 1
      |)
      |SELECT decile, CAST(decile AS DOUBLE) / 10 AS threshold, n_pairs,
      |  CAST(SUM(n_pairs) OVER (ORDER BY decile DESC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS cum_pairs_at_or_above
      |FROM hist
      |ORDER BY decile""".stripMargin

  /** text_effective_tokens — the dedup-adjusted token budget per
    * source: raw token count versus the tokens surviving canonical
    * dedup (cluster representatives only). Raw corpus size is the
    * headline number; EFFECTIVE tokens is what a training run actually
    * gets after dedup — and the per-source retention ratio is the
    * honest way to compare feeds (a source that is 95 % self-copies
    * contributes almost nothing at any raw size). The budget view over
    * dedup_canonical's keep-set.
    *
    * Scale shape: the keep-set labels come from the CC pipeline the
    * dedup family already runs; token counts are a map-only projection
    * of the corpus; the source decode joins on the original-id fold
    * (+1M/+2M convention) and the rollup is sources-sized. */
  def textEffectiveTokens(spark: SparkSession, dir: String): DataFrame = {
    val kept = dedupCanonical(spark, dir).select(col("doc_id"), col("is_kept"))
    val toks = corpus(spark, dir)
      .select(col("doc_id"), size(words(col("text"))).cast("long").as("n_toks"))
    val src = Tables.documents(spark, dir)
      .select(col("doc_id").as("orig_id"), col("source"))
    kept.join(toks, Seq("doc_id"))
      .join(src, col("doc_id") % 1000000L === col("orig_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("total_tokens"),
        sum(when(col("is_kept"), 1L).otherwise(0L)).as("kept_docs"),
        sum(when(col("is_kept"), col("n_toks")).otherwise(0L)).as("effective_tokens"))
      .withColumn("token_retention", col("effective_tokens").cast("double") /
        col("total_tokens").cast("double"))
      .orderBy(col("source"))
  }

  lazy val textEffectiveTokensSql: String =
    s"""WITH RECURSIVE $clusterLabCtes,
      |canon AS (
      |  SELECT c.doc_id,
      |    COALESCE(lab.cluster_id, c.doc_id) = c.doc_id AS is_kept
      |  FROM corpus c LEFT JOIN lab ON c.doc_id = lab.doc_id
      |),
      |tokcnt AS (
      |  SELECT doc_id, CAST(len(${wordsSql("text")}) AS BIGINT) AS n_toks
      |  FROM corpus
      |)
      |SELECT d.source, COUNT(*) AS n_docs,
      |  CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
      |  CAST(SUM(CASE WHEN is_kept THEN 1 ELSE 0 END) AS BIGINT) AS kept_docs,
      |  CAST(SUM(CASE WHEN is_kept THEN n_toks ELSE 0 END) AS BIGINT)
      |    AS effective_tokens,
      |  CAST(SUM(CASE WHEN is_kept THEN n_toks ELSE 0 END) AS DOUBLE) /
      |    CAST(SUM(n_toks) AS DOUBLE) AS token_retention
      |FROM canon JOIN tokcnt USING (doc_id)
      |JOIN documents d ON d.doc_id = canon.doc_id % 1000000
      |GROUP BY d.source
      |ORDER BY d.source""".stripMargin
}
