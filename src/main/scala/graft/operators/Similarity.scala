package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Similarity search over the embeddings table (SURVEY.md §2.D).
  *
  * Cosine similarity is computed on a deterministic fixed-point grid:
  * per-element products are quantized to 1e-9 (floor(x*y*1e9 + 0.5) as
  * long) and summed as exact longs, so the value is bit-identical
  * regardless of summation order or engine — double sums would diverge
  * between Spark and the DuckDB oracle. The final divide/sqrt are single
  * IEEE ops on identical inputs.
  *
  * Scale design: brute-force kNN is O(Q×N) with the (small) query set
  * broadcast — never N×N. The LSH variant prunes to same-bucket
  * candidates across L hash tables. Embedding near-dup restricts pairs
  * to a blocking key (label), the embarrassing-parallel blocked form.
  */
object Similarity {

  /** Quantized dot product of two double-array columns (exact long) —
    * the codegen'd QuantizedDot expression (see graftvec.QuantizedDot). */
  def qdot(a: Column, b: Column): Column =
    org.apache.spark.sql.graftvec.VectorExpressions.qdot(a, b)

  private def toDouble(c: Column): Column = transform(c, _.cast("double"))

  /** Quantized cosine from precomputed dot and squared norms. */
  private def qcos(dot: Column, na: Column, nb: Column): Column =
    dot.cast("double") / sqrt(na.cast("double") * nb.cast("double"))

  /** Embeddings with doubled vector + precomputed quantized squared norm. */
  private[graft] def vecs(spark: SparkSession, dir: String): DataFrame = {
    val v = toDouble(col("embedding"))
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"), v.as("v"))
      .withColumn("nrm", qdot(col("v"), col("v")))
  }

  private[graft] val vecsSql: String =
    """SELECT vec_id, label, embedding,
      |  CAST(list_sum(list_transform(embedding,
      |    (x, i) -> CAST(FLOOR(CAST(x AS DOUBLE) * CAST(embedding[i] AS DOUBLE) * 1e9 + 0.5) AS BIGINT)))
      |    AS BIGINT) AS nrm
      |FROM embeddings""".stripMargin

  /** Quantized-dot SQL between two embedding expressions. */
  private[graft] def dotSql(ae: String, be: String): String =
    s"""CAST(list_sum(list_transform($ae,
      |  (x, i) -> CAST(FLOOR(CAST(x AS DOUBLE) * CAST($be[i] AS DOUBLE) * 1e9 + 0.5) AS BIGINT)))
      |  AS BIGINT)""".stripMargin

  private val pairDotSql: String = dotSql("a.embedding", "b.embedding")

  // dedup_embedding LSH geometry: 16 tables × adaptive-width
  // random-hyperplane signatures (stride-12 planes of the shared
  // deterministic Rademacher family — table t's bit k is plane t·12+k,
  // so wider signatures refine narrower ones bit-for-bit). 16 bands
  // give ≥ 99.9% recall for true near-dups (cos ≥ 0.9) and a
  // calibrated sample of the 0.30-tail. Width scales with the mean
  // (label, table, sig) occupancy — the knn_lsh lesson (§11) applied
  // at the bucket key this op actually uses: at sf10 the fixed 8-bit
  // geometry's mean bucket hit 78 and the hot-bucket cap started
  // dropping true near-dup pairs.
  val EmbTables = 16
  val EmbBits = 8 // minimum width; also the width at every gate SF
  val EmbBitsMax = 12
  val EmbTargetBucket = 25
  // Hot-bucket cap, the ShingleFreqCap discipline: a (label, table,
  // signature) bucket larger than this is dropped whole — a bucket that
  // hot means degenerate/collapsed vectors, and its O(cap²) pair
  // expansion would dominate the shuffle at corpus scale. With adaptive
  // width it is a degenerate-bucket backstop, not a steady-state filter.
  val EmbBucketCap = 100

  /** Adaptive dedup_embedding width: b grows while the mean bucket
    * N / (labels · 2^b) would exceed EmbTargetBucket — exact integer
    * comparisons (N > target·labels·2^j), replayed in the oracle. */
  def embBitsFor(n: Long, labels: Long): Int =
    EmbBits + (EmbBits until EmbBitsMax).count(j =>
      n > EmbTargetBucket.toLong * labels * (1L << j))

  private[graft] def embSigModSql(nExpr: String, lExpr: String): String =
    s"(${1L << EmbBits}" + (EmbBits until EmbBitsMax).map(j =>
      s" * (CASE WHEN $nExpr > ${EmbTargetBucket.toLong * (1L << j)} * $lExpr THEN 2 ELSE 1 END)").mkString + ")"

  /** dedup_embedding — embedding-cosine near-duplicate pairs above a
    * threshold. Candidates come from random-hyperplane LSH banding
    * WITHIN the label block (same label + same [[EmbBits]]-bit signature
    * in any of [[EmbTables]] tables), then survive an exact
    * quantized-cosine ≥ 0.30 re-check — the SemDeDup shape. The label
    * self-join of the previous formulation compared N²/labels pairs
    * (quadratic in the corpus — 100× the pairs at 10× the data,
    * measured); here candidates come from the sorted-run bucket pass
    * ([[Dedup.bucketPairs]], never a self-join), so shuffle and pair
    * count are ∝ corpus × tables with bounded per-bucket fan-out. The
    * bucket key is one exact long: the label's position among the
    * distinct labels above bit 16 (a null label its own bucket, as under
    * a groupBy), the table id in bits 12–15 and the signature
    * (< 2^[[EmbBitsMax]]) below. Exact, not hashed: two merged buckets
    * could cross the cap together and drop pairs. Recall is
    * banding-bounded and rises steeply with similarity (≥ 99.9% at
    * cos 0.9, the dup regime; the 0.30-tail is deliberately sampled —
    * embed_sim_hist is the calibration curve for that trade). All 16
    * signatures come from ONE native kernel node (graftvec
    * .LshSignatures); the oracle replays the identical planes as SQL
    * literals, so both engines see the same buckets bit-for-bit. */
  def dedupEmbedding(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graftvec.VectorExpressions.lshSigs
    val e = vecs(spark, dir)
    // adaptive width from (corpus count, label count) and the labels
    // themselves — one bounded aggregate, the knn_lsh §11 discipline
    val perLabel = e.groupBy(col("label")).count().collect()
    val labels = perLabel.map(_.get(0)).filter(_ != null)
    val bits = embBitsFor(perLabel.map(_.getLong(1)).sum, labels.length)
    // 1-based position of the label, 0 for a null label: a scan of a
    // literal array, cheap while labels stay a coarse blocking key
    val labelPos = coalesce(array_position(array(labels.map(lit): _*), col("label")), lit(0L))
    val banded = e.select(col("vec_id").as("doc_id"), labelPos.as("label_pos"),
      posexplode(lshSigs(col("v"), EmbTables, bits, Dim, EmbBitsMax)).as(Seq("t", "sig")))
    val key = shiftleft(col("label_pos"), 16)
      .bitwiseOR(shiftleft(col("t").cast("long"), EmbBitsMax)).bitwiseOR(col("sig").cast("long"))
    val cand = Dedup.bucketPairs(banded, key, 2, EmbBucketCap)
      .distinct() // a pair may share a bucket in several tables
      .select(col("doc_a").as("vec_a"), col("doc_b").as("vec_b"))
    cand
      .join(e.select(col("vec_id").as("vec_a"), col("label"), col("v").as("va"), col("nrm").as("na")),
        Seq("vec_a"))
      .join(e.select(col("vec_id").as("vec_b"), col("v").as("vb"), col("nrm").as("nb")), Seq("vec_b"))
      .withColumn("cos_sim", qcos(qdot(col("va"), col("vb")), col("na"), col("nb")))
      .filter(col("cos_sim") >= 0.30d)
      .select(col("label"), col("vec_a"), col("vec_b"), col("cos_sim"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** DuckDB oracle for dedup_embedding: replays the banded-LSH pipeline
    * with the deterministic planes embedded as ±1 literal lists (the
    * knn_lsh oracle technique) — per-table full-width signatures from
    * quantized plane dots masked to the adaptive width (integer
    * threshold chain over the corpus/label counts), bucket-size window
    * count with the same [2, cap] bound, distinct within-label
    * same-bucket pairs, exact quantized-cosine ≥ 0.30 re-check. */
  lazy val dedupEmbeddingSql: String = {
    import org.apache.spark.sql.graftvec.{LshSignatures => LS}
    def planeList(p: Int): String =
      (0 until Dim).map(i => if (LS.planeSign(p, i) > 0) "1.0" else "-1.0")
        .mkString("[", ",", "]")
    def sigExpr(t: Int): String =
      (0 until EmbBitsMax).map { k =>
        val pl = planeList(t * EmbBitsMax + k)
        s"""CASE WHEN list_sum(list_transform(embedding,
           |  (x, i) -> CAST(FLOOR(CAST(x AS DOUBLE) * ($pl)[i] * 1e9 + 0.5) AS BIGINT))) > 0
           |  THEN ${1 << k} ELSE 0 END""".stripMargin
      }.mkString("(", " + ", ")")
    val sigSelects = (0 until EmbTables).map { t =>
      s"SELECT vec_id, label, $t AS t, ${sigExpr(t)} AS sig12 FROM e"
    }.mkString("\nUNION ALL\n")
    s"""WITH e AS ($vecsSql),
      |bm AS (SELECT ${embSigModSql("COUNT(*)", "COUNT(DISTINCT label)")} AS bmod FROM e),
      |sigs12 AS (
      |$sigSelects
      |),
      |sigs AS (SELECT vec_id, label, t, sig12 % (SELECT bmod FROM bm) AS sig FROM sigs12),
      |sized AS (SELECT *, COUNT(*) OVER (PARTITION BY label, t, sig) AS bs FROM sigs),
      |bounded AS (SELECT label, t, sig, vec_id FROM sized WHERE bs BETWEEN 2 AND $EmbBucketCap),
      |cand AS (
      |  SELECT DISTINCT ca.label, ca.vec_id AS vec_a, cb.vec_id AS vec_b
      |  FROM bounded ca JOIN bounded cb
      |    ON ca.label = cb.label AND ca.t = cb.t AND ca.sig = cb.sig
      |   AND ca.vec_id < cb.vec_id
      |)
      |SELECT cand.label AS label, vec_a, vec_b,
      |  CAST($pairDotSql AS DOUBLE) / sqrt(CAST(a.nrm AS DOUBLE) * CAST(b.nrm AS DOUBLE)) AS cos_sim
      |FROM cand JOIN e a ON a.vec_id = vec_a JOIN e b ON b.vec_id = vec_b
      |WHERE CAST($pairDotSql AS DOUBLE) / sqrt(CAST(a.nrm AS DOUBLE) * CAST(b.nrm AS DOUBLE)) >= 0.30
      |ORDER BY vec_a, vec_b""".stripMargin
  }

  // Semantic-duplicate threshold: this corpus plants its near-dup band
  // at cos ≥ 0.35 (gate SFs top out at 0.47; ScaleGen additionally
  // plants ≥ 0.9 exact-copy mass at sf1+, where banded recall is
  // complete — LSH_ADAPTIVE_r09.json). The clusters are the transitive
  // closure of the pairs dedup_embedding EMITS at this threshold —
  // identical in both engines by construction.
  val SemDupCos = 0.35d

  /** embed_dup_clusters — semantic duplicate clusters: connected
    * components over the cos ≥ [[SemDupCos]] embedding near-dup pairs,
    * emitted as the full corpus manifest (cluster id, size, keep flag —
    * min vec_id per component survives). This is SemDeDup's cluster
    * step: dedup_clusters answers "which DOCUMENTS are copies" over
    * shingle overlap; this answers "which items SAY the same thing"
    * over embedding geometry — paraphrases and re-encodings that share
    * no 3-shingle cluster together here and nowhere else. Reuses
    * dedup_embedding's adaptive banded-LSH candidates and the
    * large-star/small-star CC loop (Dedup.connectedComponentsOf — one
    * reused hash partitioning, endpoint-sum convergence); downstream
    * training reads `WHERE is_kept`, exactly like dedup_canonical.
    *
    * EXACT-duplicate vectors additionally feed the pair stream as STAR
    * edges (group-min → member over the 1e-6-quantized array, the
    * embed_dup_vectors relation — no cap, no pair join, O(group) edges
    * per group). This closes the hub blindness HUB_SF1 measured: a
    * vector duplicated past EmbBucketCap overflows every LSH bucket it
    * touches, so the banded path alone emits ZERO pairs for exactly the
    * highest-multiplicity duplicates (mirror-farm embeddings, license
    * boilerplate) — the text path's own star-edge trick applied to the
    * embedding space. At gate SFs the raw corpus has no exact-dup
    * vectors, so the stream is empty there and behavior is unchanged;
    * both engines compute the identical union regardless. */
  def embedDupClusters(spark: SparkSession, dir: String): DataFrame = {
    val lshPairs = dedupEmbedding(spark, dir)
      .filter(col("cos_sim") >= SemDupCos)
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
    // group by an md5 FINGERPRINT of the quantized array, not the array
    // itself — the dupPairs text discipline: the shuffle ships 40 B/row
    // (id + hex digest) instead of the 520 B vq array, and window
    // passes replace a groupBy + array-keyed join back (measured ~4 s
    // of the op's 27 s at sf10's 2M vectors, ∝ corpus at 100 TB). The
    // star is TWO-LEVEL exactly like Dedup.exactDupStarEdges — members
    // hook a per-(fp, salt) local minimum, local minima hook the group
    // minimum — so a mega-hub never sorts in one window task; the
    // closure-consuming CC makes the extra level invisible. Null
    // embeddings emit nothing (oracle JOIN-on-vq semantics: NULL never
    // matches). Oracle groups by the exact array — identical modulo
    // md5 collision, the same equivalence dedup_clusters rests on.
    val w = org.apache.spark.sql.expressions.Window
    val local = Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        md5(transform(toDouble(col("embedding")),
          x => floor(x * 1e6 + 0.5).cast("long")).cast("string").cast("binary"))
          .as("fp"))
      .filter(col("fp").isNotNull)
      .withColumn("salt", pmod(col("vec_id"), lit(Dedup.StarSalt.toLong)))
      .withColumn("lroot",
        min(col("vec_id")).over(w.partitionBy(col("fp"), col("salt"))))
    val starEdges = local.filter(col("vec_id") =!= col("lroot"))
      .select(col("lroot").as("doc_a"), col("vec_id").as("doc_b"))
      .unionByName(local.select(col("fp"), col("lroot")).distinct()
        .withColumn("groot", min(col("lroot")).over(w.partitionBy(col("fp"))))
        .filter(col("lroot") =!= col("groot"))
        .select(col("groot").as("doc_a"), col("lroot").as("doc_b")))
    val labels = Dedup.connectedComponentsOf(lshPairs.unionByName(starEdges))
      .select(col("doc_id").as("vec_id"), col("cluster_id"))
    val man = vecs(spark, dir).select(col("vec_id"))
      .join(labels, Seq("vec_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("vec_id")))
    val sizes = man.groupBy(col("cluster_id")).agg(count(lit(1)).as("cluster_size"))
    man.join(sizes, Seq("cluster_id"))
      .withColumn("is_kept", col("cluster_id") === col("vec_id"))
      .select(col("vec_id"), col("cluster_id"), col("cluster_size"), col("is_kept"))
      .orderBy(col("vec_id"))
  }

  /** DuckDB oracle: the dedup_embedding pipeline thresholded at
    * [[SemDupCos]], unioned with the exact-dup star edges (group-min →
    * member over the 1e-6-quantized array — the same relation the
    * Spark side feeds the CC loop), closed transitively by a recursive
    * CTE (the dedup_clusters oracle shape), left-joined back onto the
    * corpus. */
  lazy val embedDupClustersSql: String =
    s"""WITH RECURSIVE
      |semp AS (SELECT vec_a, vec_b FROM ($dedupEmbeddingSql) WHERE cos_sim >= $SemDupCos),
      |qv AS (SELECT vec_id, list_transform(embedding,
      |         x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1e6 + 0.5) AS BIGINT)) AS vq
      |       FROM embeddings),
      |star AS (
      |  SELECT r.root AS vec_a, v.vec_id AS vec_b
      |  FROM qv v JOIN (SELECT vq, MIN(vec_id) AS root FROM qv
      |                  GROUP BY vq HAVING COUNT(*) >= 2) r USING (vq)
      |  WHERE v.vec_id <> r.root
      |),
      |allp AS (SELECT vec_a, vec_b FROM semp UNION SELECT vec_a, vec_b FROM star),
      |edges AS (SELECT vec_a AS a, vec_b AS b FROM allp
      |          UNION SELECT vec_b, vec_a FROM allp),
      |reach(a, b) AS (
      |  SELECT a, b FROM edges
      |  UNION
      |  SELECT r.a, e2.b FROM reach r JOIN edges e2 ON r.b = e2.a
      |),
      |lab AS (SELECT a AS vec_id, LEAST(a, MIN(b)) AS cluster_id FROM reach GROUP BY a),
      |man AS (
      |  SELECT v.vec_id, COALESCE(l.cluster_id, v.vec_id) AS cluster_id
      |  FROM (SELECT vec_id FROM embeddings) v LEFT JOIN lab l USING (vec_id)
      |),
      |csz AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM man GROUP BY 1)
      |SELECT vec_id, cluster_id, cluster_size, (cluster_id = vec_id) AS is_kept
      |FROM man JOIN csz USING (cluster_id)
      |ORDER BY vec_id""".stripMargin

  val K = 5

  /** Query-batch cap. The serving queries are `vec_id % 100 == 0 AND
    * vec_id < QueryCap` — a FIXED batch of ≤ QueryCap/100 vectors no
    * matter how large the corpus grows, so every knn_* serving path is
    * O(Q×N) with constant Q (linear in the corpus), never O(N²/100).
    * Below N = QueryCap (the sf0.01 correctness gate and the sf0.1
    * bench, max vec_id 1999) the cap is inert and behavior is
    * bit-for-bit unchanged; it binds only at scale-proof SFs. This is
    * the production shape: a fixed query workload against a growing
    * corpus. */
  val QueryCap = 10000L

  /** The fixed serving-query predicate (see [[QueryCap]]). */
  private def isQuery(c: Column): Column = c % 100 === 0 && c < QueryCap

  /** The one kNN ranking policy: `knn_rank` numbers each query's rows
    * by `score` descending, ties to the lower `neighbor_id`, and only
    * ranks ≤ `k` stay — the order the oracles' ROW_NUMBER windows use.
    * A distance ranks nearest-first as its negation. */
  private[graft] def topKPerQuery(scored: DataFrame, score: Column, k: Int): DataFrame =
    scored
      .withColumn("knn_rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(score.desc, col("neighbor_id"))))
      .filter(col("knn_rank") <= k)

  /** Generic exact top-k cosine neighbors: `queries` (query_id, qv, qn)
    * is broadcast against `corpus` (neighbor_id, v, nrm) — O(Q×N) work,
    * no N×N blowup, deterministic tiebreak on neighbor id. */
  def knnOf(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val scored = corpus
      .crossJoin(broadcast(queries))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos_sim", qcos(qdot(col("qv"), col("v")), col("qn"), col("nrm")))
    topKPerQuery(scored, col("cos_sim"), k)
      .select(col("query_id"), col("neighbor_id"), col("knn_rank"), col("cos_sim"))
  }

  /** The serving queries among arriving embedding rows (vec_id,
    * embedding) as (query_id, qv, qn) — the fixed [[QueryCap]] batch. */
  private def servedQueries(rows: DataFrame): DataFrame =
    rows.filter(isQuery(col("vec_id")))
      .select(col("vec_id").as("query_id"), toDouble(col("embedding")).as("qv"))
      .withColumn("qn", qdot(col("qv"), col("qv")))

  /** stream_knn's per-micro-batch step: the batch's QUERY vectors
    * retrieve their exact top-K against the static corpus through
    * [[knnOf]] — the online-serving shape (a retrieval endpoint fed by
    * an event stream). Each query's candidates all come from its own
    * row, so the answer is batching-invariant and equals knn_brute
    * restricted to the batch's queries — the oracle is knn_brute's,
    * verbatim. The step is a batch plan: it cannot be applied to a
    * streaming frame. */
  def knnServe(spark: SparkSession, dir: String): DataFrame => DataFrame = {
    val corpus = vecs(spark, dir).select(col("vec_id").as("neighbor_id"), col("v"), col("nrm"))
    batch => knnOf(servedQueries(batch), corpus, K)
  }

  /** The knn_lsh bucket index over corpus `e` (vec_id, v, nrm): each
    * member's (t, sig) row in every table whose bucket holds 2 to
    * [[LshBucketCap]] members, as (t, sig, neighbor_id, v, nrm).
    * The bucket census repartitions BEFORE aggregating: the cache-fill
    * pass for the signatures is whatever stage materializes them first,
    * and fusing the signature kernel + explode with a partial aggregate
    * produces an oversized generated method, measured 3-4x slower than
    * its parts on the MinHash band aggregate at sf10 (fused 88.6 s,
    * split 22.1 s); the exchange keeps the kernel-heavy producer stage
    * clean. */
  private def lshIndex(e: DataFrame, bits: Int): DataFrame = {
    val sigs = e.select(col("vec_id"), col("v"), col("nrm"),
      posexplode(org.apache.spark.sql.graftvec.VectorExpressions
        .lshSigs(col("v"), LshTables, bits, Dim, LshBitsMax)).as(Seq("t", "sig")))
      .persist() // feeds both the bucket census and the index rows
    // the census is ∝ distinct buckets (tables × 2^bits rows), broadcast
    // back onto the signature rows
    val okBuckets = sigs.repartition(col("t"), col("sig"))
      .groupBy(col("t"), col("sig"))
      .agg(count(lit(1)).as("bs"))
      .filter(col("bs") >= 2 && col("bs") <= LshBucketCap)
      .select(col("t"), col("sig"))
    sigs.join(broadcast(okBuckets), Seq("t", "sig"))
      .select(col("t"), col("sig"), col("vec_id").as("neighbor_id"), col("v"), col("nrm"))
  }

  /** knn_lsh's candidate/rank core: each query (query_id, qv, qn)
    * computes its L signatures through the same kernel and equi-joins
    * `index` on (t, sig), so it touches only its own buckets' members
    * (≤ L·cap candidates), never the corpus; a neighbor met in several
    * tables counts once, and the exact quantized cosine ranks the
    * candidates. Candidates are scored before the dedup, so the one
    * exchange on query_id, which serves both the dedup and the rank
    * window, carries no vectors. */
  private def lshTopK(queries: DataFrame, index: DataFrame, bits: Int): DataFrame = {
    val cands = queries
      .select(col("query_id"), col("qv"), col("qn"),
        posexplode(org.apache.spark.sql.graftvec.VectorExpressions
          .lshSigs(col("qv"), LshTables, bits, Dim, LshBitsMax)).as(Seq("t", "sig")))
      .join(index, Seq("t", "sig"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        qcos(qdot(col("qv"), col("v")), col("qn"), col("nrm")).as("cos_sim"))
      .repartition(col("query_id"))
      .dropDuplicates("query_id", "neighbor_id")
    topKPerQuery(cands, col("cos_sim"), K)
      .select(col("query_id"), col("neighbor_id"), col("knn_rank"), col("cos_sim"))
  }

  /** stream_knn_lsh's per-micro-batch step: the adaptive LSH index as
    * the static side. [[knnServe]] scores the WHOLE corpus per query
    * batch — right at 200k vectors, impossible at 100 TB; the production
    * serving path looks arriving queries up in a prebuilt index instead.
    * The index is [[knnLsh]]'s ([[lshIndex]]), built once when the serve
    * is constructed and persisted; each batch runs [[knnLsh]]'s own
    * candidate/rank core ([[lshTopK]]) on its query rows, so the answer
    * is batching-invariant (pinned by StreamingSpec). Oracle: the batch
    * [[knnLshSql]] verbatim. At deployment the index side would be
    * bucketed storage co-partitioned on (t, sig); the equi-join shape
    * (and the results) are identical. */
  def knnLshServe(spark: SparkSession, dir: String): DataFrame => DataFrame = {
    val e = vecs(spark, dir)
    val bits = lshBitsFor(e.count())
    val index = lshIndex(e, bits).persist()
    batch => lshTopK(servedQueries(batch), index, bits)
  }

  /** The CODE-WIDTH serving index [[knnIvfPqServe]] probes, factored
    * out so a test or measurement inspects exactly the frames the
    * operator serves from (never a reconstruction that could drift):
    * the persisted (cent_id, neighbor_id, codes) index, the
    * broadcast ADC codebook, and the adaptive (roster, nprobe,
    * shortlistN) for the corpus at hand. */
  private[graft] def ivfPqServeIndex(spark: SparkSession, e: DataFrame)
      : (DataFrame, DataFrame, (Array[Long], Array[Double]), Int, Int) = {
    val nVecs = e.count()
    val roster = ivfRoster(e, ivfCellsFor(nVecs))
    val nprobe = ivfNprobeFor(nVecs)
    val shortlistN = pqShortlistFor(nVecs)
    // --- static index: rank-1 cell + one packed code long per
    // corpus member — CODE WIDTH, no exact vectors
    val subParts = (0 until PqSub).map { m =>
      struct(lit(m).as("m"), slice(col("v"), m * PqDim + 1, PqDim).as("sv"))
    }
    val subs = e.select(col("vec_id"), explode(array(subParts: _*)).as("p"))
      .select(col("vec_id"), col("p.m").as("m"), col("p.sv").as("sv"))
      .withColumn("snrm", qdot(col("sv"), col("sv")))
    val cb = subs.filter(col("vec_id") % PqCentMod === 0 &&
        col("vec_id") < lit(PqCentMod.toLong * PqCentCap))
      .select(col("vec_id").as("cent_id"), col("m"),
        col("sv").as("cv"), col("snrm").as("cnrm"))
    // the 8 subspace codes packed into ONE long (subspace m in byte m):
    // every codeword id is a vec_id multiple of PqCentMod below
    // PqCentMod·PqCentCap, so id/PqCentMod is byte-exact — the 8-bit-PQ
    // deployment layout, 8 bytes of codes per member instead of an
    // unpacked array<int> (~48 B). Packing is a shift-or, so no
    // m-ordering pass is needed.
    require(PqCentCap <= 256 && PqSub <= 8,
      "one packed long holds 8 subspace bytes: PqCentCap <= 256, PqSub <= 8")
    // Cell assignment and code packing are both per-row arithmetic
    // against driver-side arrays (the ≤ 512 KiB roster, the ≤ 128 KiB
    // codebook), so the whole index is ONE kernel pass over the corpus:
    // the kernel's codeword SLOT maps to its packed byte through the
    // collected slot → cent_id roster (slot i's byte is centIds(i) /
    // PqCentMod — the same value the unpacked (m, code) path produced).
    // The previous shape paid a second full corpus scan, a
    // groupBy(vec_id) exchange and a join for this per-row arithmetic.
    val (flat, nC, centIds) = pqCodebookArrays(cb)
    val slotDiv: Array[Long] = centIds.map(_ / PqCentMod)
    val index = e
      .select(col("vec_id").as("neighbor_id"),
        element_at(ivfAssignCol(col("v"), roster, 1), 1).as("cent_id"),
        org.apache.spark.sql.graftvec.PqCodes
          .pqCodes(col("v"), flat, PqSub, nC, PqDim).as("slots"))
      .select(col("neighbor_id"), col("cent_id"),
        (0 until PqSub).map(m => shiftleft(element_at(typedLit(slotDiv),
          element_at(col("slots"), m + 1) + 1), m * 8)).reduce(_ + _)
          .as("code_pack"))
      .persist()
    val cbJoin = broadcast(cb.select(col("m"), col("cent_id").as("code"),
      col("cv"), col("cnrm")))
    (index, cbJoin, roster, nprobe, shortlistN)
  }

  /** stream_knn_ivfpq's per-micro-batch step: the IVF+PQ index as the
    * static side — the serving twin of [[knnIvfPq]], the layout a
    * billion-vector deployment actually serves from (cells prune I/O,
    * codes shrink what's scanned). The index the probed-cell join scans
    * is CODE WIDTH ([[ivfPqServeIndex]]): each corpus member's rank-1
    * IVF cell and its [[PqSub]] PQ codes packed into one long (byte m =
    * subspace m's codeword slot — the 8-bit-PQ deployment layout) —
    * nothing else — persisted co-keyed on cent_id (at deployment:
    * bucketed storage partitioned by cell — the [[knnLshServe]] index
    * discipline). That is PQ's whole point on the serving path: the
    * per-query candidate scan reads ~32× fewer bytes than vector-width
    * rows would. The index, codebook and roster are built once, when the
    * serve is constructed. Each batch query explodes to its
    * adaptive-Nprobe probe cells against the centroid roster (the
    * ≤ 512 KiB [[ivfRoster]] collect), equi-joins the code-only index on
    * cent_id — touching only probed cells' members, never the corpus —
    * and computes its per-subspace ADC terms declaratively (the codebook
    * is a broadcast join, the query's subvector slice a column
    * expression). The terms sum per (query, neighbor) in exact longs,
    * all [[PqSub]] subspaces required (the batch nm == PqSub guard), and
    * the [[pqShortlistFor]] shortlist keeps the closest by
    * (adc_d2, neighbor_id). Exact vectors enter only AFTER the shortlist
    * — the batch composite's own post-shortlist discipline: two joins
    * fetch the query's and each surviving neighbor's exact vector from
    * the corpus (≤ shortlist rows per query), and [[topKPerQuery]]
    * re-ranks top-[[K]] by (cos desc, neighbor_id). A query's candidates
    * all derive from its own row, so the answer is batching-invariant
    * (pinned by StreamingSpec). Oracle: the batch [[knnIvfPqSql]]
    * verbatim. */
  def knnIvfPqServe(spark: SparkSession, dir: String): DataFrame => DataFrame = {
    val e = vecs(spark, dir)
    val (index, cbJoin, roster, nprobe, shortlistN) = ivfPqServeIndex(spark, e)
    val q = e.select(col("vec_id").as("query_id"), col("v").as("qev"), col("nrm").as("qen"))
    val n = e.select(col("vec_id").as("neighbor_id"), col("v"), col("nrm"))
    batch => {
      // each (query, neighbor, m) term occurs once: a neighbor sits in one
      // cell, the probe cells are distinct and (m, code) keys the codebook.
      // One exchange on query_id serves both the sum and the shortlist.
      val adc = servedQueries(batch)
        .withColumn("cent_id", explode(ivfAssignCol(col("qv"), roster, nprobe)))
        .join(index, Seq("cent_id"))
        .filter(col("neighbor_id") =!= col("query_id"))
        .select(col("query_id"), col("neighbor_id"), col("qv"), col("code_pack"),
          explode(typedLit((0 until PqSub).toArray)).as("m"))
        // unpack byte m back to its codeword id (the cbJoin key)
        .withColumn("code",
          expr(s"(shiftright(code_pack, m * 8) & 255) * ${PqCentMod}L"))
        .withColumn("qv_s", slice(col("qv"), col("m") * PqDim + 1, lit(PqDim)))
        .join(cbJoin, Seq("m", "code"))
        .select(col("query_id"), col("neighbor_id"), (qdot(col("qv_s"), col("qv_s")) + col("cnrm")
          - lit(2L) * qdot(col("qv_s"), col("cv"))).as("d2"))
        .repartition(col("query_id"))
        .groupBy(col("query_id"), col("neighbor_id"))
        .agg(sum(col("d2")).as("adc_d2"), count(lit(1)).as("nm"))
        .filter(col("nm") === PqSub)
      val shortlist = topKPerQuery(adc, -col("adc_d2"), shortlistN)
        .select(col("query_id"), col("neighbor_id"))
      val scored = shortlist.join(q, Seq("query_id")).join(n, Seq("neighbor_id"))
        .withColumn("cos_sim", qcos(qdot(col("qev"), col("v")), col("qen"), col("nrm")))
      topKPerQuery(scored, col("cos_sim"), K)
        .select(col("query_id"), col("neighbor_id"), col("knn_rank"), col("cos_sim"))
    }
  }

  /** embed_index_plan — the index planner's decisions as data: for the
    * corpus at hand, the adaptive parameters every ANN/dedup index in
    * this engine would build with — knn_lsh signature width, the
    * dedup_embedding banding width, IVF cell count, PQ codewords —
    * derived ONLY from (N, labels) by the §11 integer threshold chains,
    * and therefore oracle-checkable: a config drift between engines (or
    * a silently mis-sized index after a data growth step) fails the
    * hash gate. One bounded scalar aggregate; one output row. */
  def embedIndexPlan(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    e.agg(count(lit(1)).as("n_vectors"), countDistinct(col("label")).as("n_labels"))
      .withColumn("lsh_bits",
        (LshBitsMin until LshBitsMax).foldLeft(lit(LshBitsMin)) { (acc, j) =>
          acc + when(col("n_vectors") > lit(LshTargetBucket.toLong << j), 1).otherwise(0)
        })
      .withColumn("emb_bits",
        (EmbBits until EmbBitsMax).foldLeft(lit(EmbBits)) { (acc, j) =>
          acc + when(col("n_vectors") >
            lit(EmbTargetBucket.toLong * (1L << j)) * col("n_labels"), 1).otherwise(0)
        })
      .withColumn("ivf_cells",
        least(
          (0 until IvfGrowSteps).foldLeft(lit(IvfCentMin.toLong)) { (acc, j) =>
            acc * when(col("n_vectors") > lit(IvfCellThresh << (2 * j)), 2L).otherwise(1L)
          },
          ceil(col("n_vectors").cast("double") / IvfSampleMod).cast("long")))
      .withColumn("ivf_nprobe",
        (0 until IvfGrowSteps).foldLeft(lit(Nprobe)) { (acc, j) =>
          acc + when(col("n_vectors") > lit(IvfCellThresh << (2 * j)), 2).otherwise(0)
        })
      .withColumn("pq_codewords",
        least(lit(PqCentCap.toLong), ceil(col("n_vectors").cast("double") / PqCentMod)
          .cast("long")))
      .withColumn("pq_shortlist",
        (0 until IvfGrowSteps).foldLeft(lit(PqShortlist)) { (acc, j) =>
          acc + when(col("n_vectors") > lit(IvfCellThresh << (2 * j)), 25).otherwise(0)
        })
      .select(col("n_vectors"), col("n_labels"), col("lsh_bits"), col("emb_bits"),
        col("ivf_cells"), col("ivf_nprobe"), col("pq_codewords"), col("pq_shortlist"))
  }

  lazy val embedIndexPlanSql: String = {
    val lshBits = s"($LshBitsMin" + (LshBitsMin until LshBitsMax).map(j =>
      s" + (CASE WHEN n_vectors > ${LshTargetBucket.toLong << j} THEN 1 ELSE 0 END)").mkString + ")"
    val embBits = s"($EmbBits" + (EmbBits until EmbBitsMax).map(j =>
      s" + (CASE WHEN n_vectors > ${EmbTargetBucket.toLong * (1L << j)} * n_labels THEN 1 ELSE 0 END)").mkString + ")"
    s"""WITH st AS (
      |  SELECT COUNT(*) AS n_vectors, COUNT(DISTINCT label) AS n_labels FROM embeddings
      |)
      |SELECT n_vectors, n_labels,
      |  CAST($lshBits AS INT) AS lsh_bits,
      |  CAST($embBits AS INT) AS emb_bits,
      |  CAST(LEAST(${ivfCellsSqlExpr("n_vectors")}, CAST(CEIL(CAST(n_vectors AS DOUBLE) / $IvfSampleMod) AS BIGINT)) AS BIGINT) AS ivf_cells,
      |  CAST(${ivfNprobeSqlExpr("n_vectors")} AS INT) AS ivf_nprobe,
      |  CAST(LEAST($PqCentCap, CAST(CEIL(CAST(n_vectors AS DOUBLE) / $PqCentMod) AS BIGINT)) AS BIGINT) AS pq_codewords,
      |  CAST(${pqShortlistSqlExpr("n_vectors")} AS INT) AS pq_shortlist
      |FROM st""".stripMargin
  }

  /** knn_brute — exact top-k cosine neighbors for each query vector
    * (the fixed [[QueryCap]]-bounded batch: vec_id % 100 == 0 AND
    * vec_id < QueryCap). */
  def knnBrute(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    val q = e.filter(isQuery(col("vec_id")))
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    knnOf(q, e.select(col("vec_id").as("neighbor_id"), col("v"), col("nrm")), K)
      .orderBy(col("query_id"), col("knn_rank"))
  }

  val knnBruteSql: String =
    s"""WITH e AS ($vecsSql)
      |SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
      |  ROW_NUMBER() OVER (PARTITION BY a.vec_id
      |    ORDER BY CAST($pairDotSql AS DOUBLE) / sqrt(CAST(a.nrm AS DOUBLE) * CAST(b.nrm AS DOUBLE)) DESC,
      |             b.vec_id) AS knn_rank,
      |  CAST($pairDotSql AS DOUBLE) / sqrt(CAST(a.nrm AS DOUBLE) * CAST(b.nrm AS DOUBLE)) AS cos_sim
      |FROM e a JOIN e b ON a.vec_id % 100 = 0 AND a.vec_id < $QueryCap AND b.vec_id <> a.vec_id
      |QUALIFY knn_rank <= $K
      |ORDER BY query_id, knn_rank""".stripMargin

  val RadiusTau = 0.35d

  /** knn_radius — cosine range search: ALL corpus vectors within a
    * similarity radius of each query (not a fixed k) — the retrieval
    * shape for "everything this similar", e.g. contamination sweeps
    * where the match count is the answer and k would truncate it.
    * Same O(Q×N) broadcast discipline as knn_brute (queries small and
    * broadcast, corpus streamed, never N×N); output ∝ matches. Also
    * reports each query's match count windowed over its own result —
    * the radius-calibration signal (a query with thousands of matches
    * needs a tighter τ or an ANN pre-filter). */
  def knnRadius(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    val q = e.filter(isQuery(col("vec_id")))
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    e.select(col("vec_id").as("neighbor_id"), col("v"), col("nrm"))
      .crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos_sim", qcos(qdot(col("qv"), col("v")), col("qn"), col("nrm")))
      .filter(col("cos_sim") >= RadiusTau)
      .withColumn("n_in_radius",
        count(lit(1)).over(Window.partitionBy(col("query_id"))))
      .select(col("query_id"), col("neighbor_id"), col("cos_sim"), col("n_in_radius"))
      .orderBy(col("query_id"), col("neighbor_id"))
  }

  val knnRadiusSql: String =
    s"""WITH e AS ($vecsSql),
      |hits AS (
      |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
      |    CAST($pairDotSql AS DOUBLE) / sqrt(CAST(a.nrm AS DOUBLE) * CAST(b.nrm AS DOUBLE)) AS cos_sim
      |  FROM e a JOIN e b ON a.vec_id % 100 = 0 AND a.vec_id < $QueryCap AND b.vec_id <> a.vec_id
      |  WHERE CAST($pairDotSql AS DOUBLE) / sqrt(CAST(a.nrm AS DOUBLE) * CAST(b.nrm AS DOUBLE)) >= $RadiusTau
      |)
      |SELECT query_id, neighbor_id, cos_sim,
      |  COUNT(*) OVER (PARTITION BY query_id) AS n_in_radius
      |FROM hits
      |ORDER BY query_id, neighbor_id""".stripMargin

  /** embed_dim_profile — per-dimension distribution profile of the
    * embedding corpus on the 1e-6 quantized grid: min/max/mean and
    * exact spread per coordinate — the training input for any scalar
    * quantizer (embed_quantize_int8 consumes exactly these bounds) and
    * the per-dim drift gate between embedding-model versions (a
    * coordinate whose range shifts silently poisons every stored code).
    * One posexplode (rows ∝ N×D, bytes ∝ the floats already read) →
    * map-side-combined aggregate to D rows; the mean is ONE IEEE
    * divide of the exact quantized sum. */
  def embedDimProfile(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(posexplode(toDouble(col("embedding"))).as(Seq("pos", "x")))
      .withColumn("vq", floor(col("x") * 1e6 + 0.5).cast("long"))
      .groupBy(col("pos"))
      .agg(count(lit(1)).as("n"),
        min(col("vq")).as("min_q"),
        max(col("vq")).as("max_q"),
        sum(col("vq")).as("sum_q"))
      .withColumn("range_q", col("max_q") - col("min_q"))
      .withColumn("mean_q", col("sum_q").cast("double") / col("n").cast("double"))
      .orderBy(col("pos"))

  val embedDimProfileSql: String =
    """WITH e AS (
      |  SELECT CAST(FLOOR(CAST(x AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS vq,
      |         CAST(pos - 1 AS INTEGER) AS pos
      |  FROM (SELECT unnest(embedding) AS x,
      |               generate_subscripts(embedding, 1) AS pos
      |        FROM embeddings)
      |)
      |SELECT pos, COUNT(*) AS n, MIN(vq) AS min_q, MAX(vq) AS max_q,
      |  CAST(SUM(vq) AS BIGINT) AS sum_q,
      |  MAX(vq) - MIN(vq) AS range_q,
      |  CAST(CAST(SUM(vq) AS BIGINT) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_q
      |FROM e GROUP BY pos
      |ORDER BY pos""".stripMargin

  /** embed_dup_vectors — EXACT duplicate embedding detection: vectors
    * identical on the 1e-6 quantized grid, grouped BY THE QUANTIZED
    * ARRAY ITSELF (the grouping key is the value — no lossy hash, no
    * pair join; Spark hashes the array for the shuffle internally).
    * The corpus plants copies (vec_id % 13 == 0, re-keyed +1_000_000,
    * the Dedup.corpus discipline) so the detector's output is
    * non-vacuous and oracle-checked. Exact-dup vectors are the classic
    * symptom of an upstream batch re-run or a collapsed encoder —
    * cosine near-dup (dedup_embedding) can't tell "same content" from
    * "same bytes"; this can. Shuffle ∝ corpus, output ∝ duplicate
    * groups. */
  def embedDupVectors(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"), col("embedding"))
    val planted = base.select(explode(array_compact(array(
        struct(col("vec_id"), col("label"), col("embedding")),
        when(col("vec_id") % 13 === 0,
          struct((col("vec_id") + 1000000L).as("vec_id"), col("label"),
            col("embedding")))))).as("r"))
      .select(col("r.vec_id").as("vec_id"), col("r.label").as("label"),
        col("r.embedding").as("embedding"))
    planted
      .withColumn("vq", transform(toDouble(col("embedding")),
        x => floor(x * 1e6 + 0.5).cast("long")))
      .groupBy(col("vq"))
      .agg(min(col("vec_id")).as("canonical_vec_id"),
        count(lit(1)).as("n_copies"),
        sum(col("vec_id")).as("id_checksum"),
        min(col("label")).as("label"))
      .filter(col("n_copies") >= 2)
      .select(col("canonical_vec_id"), col("n_copies"), col("id_checksum"),
        col("label"))
      .orderBy(col("canonical_vec_id"))
  }

  val embedDupVectorsSql: String =
    """WITH planted AS (
      |  SELECT vec_id, label, embedding FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + 1000000, label, embedding FROM embeddings
      |  WHERE vec_id % 13 = 0
      |),
      |q AS (
      |  SELECT vec_id, label,
      |    list_transform(embedding,
      |      x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1e6 + 0.5) AS BIGINT)) AS vq
      |  FROM planted
      |)
      |SELECT MIN(vec_id) AS canonical_vec_id,
      |  COUNT(*) AS n_copies,
      |  CAST(SUM(vec_id) AS BIGINT) AS id_checksum,
      |  MIN(label) AS label
      |FROM q GROUP BY vq
      |HAVING COUNT(*) >= 2
      |ORDER BY canonical_vec_id""".stripMargin

  /** Pair-sample window for embed_sim_hist: only pairs within
    * [[SimHistBand]] of each other in vec_id space are scored. Ids are
    * assigned independent of content, so the window is an unbiased
    * sample of the within-label pair population — and it turns the pair
    * count from quadratic (N²/labels) to LINEAR (≤ N × window/labels):
    * the blocked band join below never enumerates a cross-band pair.
    * Below N = SimHistBand (the correctness gate and the sf0.1 bench,
    * max vec_id 1999) every within-label pair is inside the window, so
    * the histogram is exhaustive and bit-for-bit the pre-window one. */
  val SimHistBand = 2000L

  /** embed_sim_hist — within-label pairwise cosine histogram (0.05-wide
    * buckets): the calibration curve behind every similarity threshold
    * in this family — knn_radius's τ, dedup_embedding's 0.30 — read off
    * a distribution instead of guessed. Pairs are blocked by (label,
    * id-band): each vector is scored only against same-label vectors
    * within [[SimHistBand]] ids (exhaustive at calibration SF, a linear
    * unbiased sample at scale — see SimHistBand). The band key is IN the
    * join (b-side exploded to its own and previous band), so candidate
    * enumeration itself is linear, not a post-filtered N² join; the pair
    * stream collapses to ≤ labels × 41 bucket rows with map-side
    * combine. Bucket index is floor(cos·20) on the exact quantized
    * cosine; bucket_lo is ONE IEEE divide of the exact int. */
  def embedSimHist(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    val a = e.select(col("label"), col("vec_id").as("vec_a"), col("v").as("va"), col("nrm").as("na"))
      .withColumn("band", floor(col("vec_a") / SimHistBand))
    val b = e.select(col("label"), col("vec_id").as("vec_b"), col("v").as("vb"), col("nrm").as("nb"))
      // b lands in its own band and the previous one, so a.band = b.band
      // pairs each a with every b in [a's band, the next band] — a
      // superset of the (0, SimHistBand] window, trimmed exactly below
      .withColumn("band", explode(array(floor(col("vec_b") / SimHistBand),
        floor(col("vec_b") / SimHistBand) - 1)))
    a.join(b, Seq("label", "band"))
      .filter(col("vec_a") < col("vec_b") &&
        col("vec_b") - col("vec_a") <= SimHistBand)
      .withColumn("cos_sim", qcos(qdot(col("va"), col("vb")), col("na"), col("nb")))
      .withColumn("bucket", floor(col("cos_sim") * 20d).cast("long"))
      .groupBy(col("label"), col("bucket"))
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("bucket_lo", col("bucket").cast("double") / lit(20d))
      .orderBy(col("label"), col("bucket"))
  }

  val embedSimHistSql: String =
    s"""WITH e AS ($vecsSql),
      |pairs AS (
      |  SELECT a.label AS label,
      |    CAST(FLOOR(CAST($pairDotSql AS DOUBLE) / sqrt(CAST(a.nrm AS DOUBLE) * CAST(b.nrm AS DOUBLE)) * 20) AS BIGINT) AS bucket
      |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
      |    AND b.vec_id - a.vec_id <= $SimHistBand
      |)
      |SELECT label, bucket, COUNT(*) AS n_pairs,
      |  CAST(bucket AS DOUBLE) / 20.0 AS bucket_lo
      |FROM pairs GROUP BY label, bucket
      |ORDER BY label, bucket""".stripMargin

  /** embed_norm_profile — per-label norm audit of the embedding corpus:
    * the pre-indexing quality gate that catches unnormalized, zero, or
    * exploded vectors BEFORE they poison an ANN index (cosine assumes
    * comparable norms; a zero vector NaNs every similarity it touches).
    * Works entirely on the exact quantized squared norms the whole
    * similarity family shares: min/max are order-free, the mean is ONE
    * IEEE divide of an exact long sum, and the zero/low-norm count is
    * integral — nothing in the hash path floats. One scan straight to
    * ≤#labels rows with map-side combine. */
  def embedNormProfile(spark: SparkSession, dir: String): DataFrame =
    vecs(spark, dir)
      .select(col("label"), col("nrm"), size(col("v")).as("dims"))
      .groupBy(col("label"))
      .agg(
        count(lit(1)).as("n_vecs"),
        min(col("dims")).as("min_dims"),
        max(col("dims")).as("max_dims"),
        min(col("nrm")).as("min_nrm2"),
        max(col("nrm")).as("max_nrm2"),
        sum(col("nrm")).as("sum_nrm2"),
        sum(when(col("nrm") <= 0L, 1L).otherwise(0L)).as("n_degenerate"))
      .withColumn("avg_nrm2",
        col("sum_nrm2").cast("double") / col("n_vecs").cast("double"))
      .orderBy(col("label"))

  val embedNormProfileSql: String =
    s"""WITH e AS ($vecsSql)
      |SELECT label, COUNT(*) AS n_vecs,
      |  MIN(len(embedding)) AS min_dims,
      |  MAX(len(embedding)) AS max_dims,
      |  MIN(nrm) AS min_nrm2,
      |  MAX(nrm) AS max_nrm2,
      |  CAST(SUM(nrm) AS BIGINT) AS sum_nrm2,
      |  CAST(SUM(CASE WHEN nrm <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_degenerate,
      |  CAST(CAST(SUM(nrm) AS BIGINT) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_nrm2
      |FROM e GROUP BY label
      |ORDER BY label""".stripMargin

  // ---- IVF (inverted-file) ANN -------------------------------------------

  val IvfSampleMod = 50 // centroid "training" sample: vec_id % 50 == 0

  // Adaptive coarse-quantizer size (round 10): the fixed 128-cell cap
  // was the same fixed-geometry parameter class as the pre-§11 LSH
  // width — at sf10 every cell sat in embed_ivf_balance's 65+ band and
  // recall survived only because Nprobe/C over-scanned 6% of the
  // corpus per query. Production IVF sizes C ≈ √N (the FAISS guideline)
  // so per-probe cell occupancy N/C and probe count both grow as √N;
  // here cells double when the corpus quadruples past [[IvfCellThresh]]
  //   C = IvfCentMin · 2^|{ j ∈ [0, IvfGrowSteps) : N > thresh·4^j }|
  // — exact integer comparisons over the corpus COUNT, replayed
  // identically in the DuckDB oracle (no float at a threshold
  // boundary can diverge between engines). Nprobe widens 2 per
  // doubling so the probed MASS still shrinks ~1.6× per step while
  // recall headroom grows. N ≤ 256k → 128 cells / 8 probes (every
  // gate SF and sf1 — bit-for-bit the round-9 geometry); sf10's 2M →
  // 512 cells / 12 probes; the 4.096M cap step → 1024 / 14.
  val IvfCentMin = 128
  val IvfCellThresh = 256000L
  val IvfGrowSteps = 3 // cell-count cap: 128·2³ = 1024
  val Nprobe = 8 // probe floor; +2 per doubling step

  /** Adaptive IVF cell count for a corpus of n vectors. */
  def ivfCellsFor(n: Long): Int =
    IvfCentMin << (0 until IvfGrowSteps).count(j => n > (IvfCellThresh << (2 * j)))

  /** Adaptive probe count, widening with the cell chain. */
  def ivfNprobeFor(n: Long): Int =
    Nprobe + 2 * (0 until IvfGrowSteps).count(j => n > (IvfCellThresh << (2 * j)))

  /** Oracle-side twin of [[ivfCellsFor]] — the same integer threshold
    * chain as a SQL expression over a COUNT. */
  private[graft] def ivfCellsSqlExpr(nExpr: String): String =
    s"($IvfCentMin" + (0 until IvfGrowSteps).map(j =>
      s" * (CASE WHEN $nExpr > ${IvfCellThresh << (2 * j)} THEN 2 ELSE 1 END)").mkString + ")"

  /** Oracle-side twin of [[ivfNprobeFor]]. */
  private[graft] def ivfNprobeSqlExpr(nExpr: String): String =
    s"($Nprobe" + (0 until IvfGrowSteps).map(j =>
      s" + (CASE WHEN $nExpr > ${IvfCellThresh << (2 * j)} THEN 2 ELSE 0 END)").mkString + ")"

  /** Shared oracle CTE: the adaptive centroid roster (expects an `e`
    * relation from [[vecsSql]]). The sample filter is
    * `vec_id % 50 = 0 AND vec_id < 50·C(N)` — at most C(N) cells
    * however the ids are distributed, and exactly C(N) on the dense-id
    * testdata layout. */
  private[graft] lazy val ivfCentsCteSql: String =
    s"cents AS (SELECT vec_id AS cent_id, embedding AS ce, nrm AS cn FROM e " +
      s"WHERE vec_id % $IvfSampleMod = 0 AND vec_id < $IvfSampleMod * " +
      s"(SELECT ${ivfCellsSqlExpr("COUNT(*)")} FROM e))"

  /** Shared oracle scalar: the adaptive probe count over `e`. */
  private[graft] lazy val ivfNprobeSubSql: String =
    s"(SELECT ${ivfNprobeSqlExpr("COUNT(*)")} FROM e)"

  /** The collected IVF coarse-quantizer roster: (cent_ids ascending,
    * centroid vectors flattened centroid-major). Bounded by construction
    * at ivfCellsFor ≤ 1024 centroids × [[Dim]] doubles (≤ 512 KiB) — the
    * offline-trained quantizer a production IVF index ships to every
    * scan worker (the [[pqCodesOf]] codebook discipline). */
  private def ivfRoster(e: DataFrame, cells: Int): (Array[Long], Array[Double]) = {
    val rows = e.filter(col("vec_id") % IvfSampleMod === 0 &&
        col("vec_id") < IvfSampleMod.toLong * cells)
      .select(col("vec_id"), col("v")).collect()
      .sortBy(_.getLong(0))
    require(rows.nonEmpty, "IVF centroid roster is empty")
    val ids = rows.map(_.getLong(0))
    val flat = new Array[Double](rows.length * Dim)
    var j = 0
    rows.foreach { r =>
      val arr = r.getSeq[Double](1)
      val len = math.min(arr.length, Dim)
      var d = 0
      while (d < len) { flat(j + d) = arr(d); d += 1 }
      j += Dim
    }
    (ids, flat)
  }

  /** Top-`n` cell ids of `v` against the collected roster — one
    * graftvec.IvfAssign kernel pass, bit-identical to the
    * crossJoin+window rank the oracle replays (see the kernel scaladoc).
    * The N×C assignment never materializes as rows: with the adaptive
    * cell count the old window form would shuffle N×C rows (2M×512 at
    * sf10) just to sort C per vector. */
  private def ivfAssignCol(v: Column, roster: (Array[Long], Array[Double]), n: Int): Column =
    org.apache.spark.sql.graftvec.IvfAssign.ivfAssign(v, roster._2, roster._1, n, Dim)

  /** knn_ivf — IVF-style ANN: a deterministic sample of the corpus acts
    * as the coarse quantizer (no iterative k-means — reproducible and
    * cheap; at deployment the centroid set would come from an offline
    * training job), sized adaptively with the corpus ([[ivfCellsFor]] —
    * C ≈ √N growth). Every vector is assigned to its nearest centroid
    * by one roster-broadcast kernel scan (never an N×C row blowup);
    * queries probe their [[ivfNprobeFor]] nearest cells and
    * exact-re-rank only those cells' members. Scale path: assignment is
    * a map-side kernel pass; the probe join broadcasts Q×Nprobe slim
    * rows onto the corpus scan, so per-query probe cost is Nprobe·N/C —
    * both factors √N-controlled by the chain.
    * Rows-only; SimilaritySpec measures recall vs knn_brute. */
  def knnIvf(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    val n = e.count() // bounded-scalar metadata job: sizes the geometry
    val roster = ivfRoster(e, ivfCellsFor(n))
    val cells = e.select(col("vec_id").as("neighbor_id"), col("v"), col("nrm"),
      element_at(ivfAssignCol(col("v"), roster, 1), 1).as("cent_id"))
    val probes = e.filter(isQuery(col("vec_id")))
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"),
        explode(ivfAssignCol(col("v"), roster, ivfNprobeFor(n))).as("cent_id"))
    val scored = cells.join(broadcast(probes), Seq("cent_id"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos_sim", qcos(qdot(col("qv"), col("v")), col("qn"), col("nrm")))
    topKPerQuery(scored, col("cos_sim"), K)
      .select(col("query_id"), col("neighbor_id"), col("knn_rank"), col("cos_sim"))
      .orderBy(col("query_id"), col("knn_rank"))
  }

  /** DuckDB oracle for knn_ivf: the coarse quantizer is a deterministic
    * sample (vec_id % 50 == 0) sized by the [[ivfCellsFor]] chain, so
    * the oracle replays sizing, assignment (nearest centroid by
    * quantized cosine, rank-1), adaptive-Nprobe probing, and the exact
    * re-rank — one N×C cross join, tractable at oracle SF. */
  lazy val knnIvfSql: String = {
    val centDot = dotSql("n.embedding", "c.ce")
    s"""WITH e AS ($vecsSql),
      |$ivfCentsCteSql,
      |asg AS (
      |  SELECT vec_id, cent_id,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cent_cos DESC, cent_id) AS rnk
      |  FROM (
      |    SELECT n.vec_id, c.cent_id,
      |      CAST($centDot AS DOUBLE) / sqrt(CAST(n.nrm AS DOUBLE) * CAST(c.cn AS DOUBLE)) AS cent_cos
      |    FROM e n CROSS JOIN cents c)
      |),
      |cells AS (SELECT vec_id AS neighbor_id, cent_id FROM asg WHERE rnk = 1),
      |probes AS (SELECT vec_id AS query_id, cent_id FROM asg
      |           WHERE vec_id % 100 = 0 AND vec_id < $QueryCap AND rnk <= $ivfNprobeSubSql),
      |cand AS (
      |  SELECT query_id, neighbor_id FROM probes JOIN cells USING (cent_id)
      |  WHERE neighbor_id <> query_id
      |),
      |scored AS (
      |  SELECT query_id, neighbor_id,
      |    CAST($pairDotSql AS DOUBLE) / sqrt(CAST(a.nrm AS DOUBLE) * CAST(b.nrm AS DOUBLE)) AS cos_sim
      |  FROM cand JOIN e a ON a.vec_id = query_id JOIN e b ON b.vec_id = neighbor_id
      |)
      |SELECT query_id, neighbor_id,
      |  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS knn_rank,
      |  cos_sim
      |FROM scored
      |QUALIFY knn_rank <= $K
      |ORDER BY query_id, knn_rank""".stripMargin
  }

  // ---- random-hyperplane LSH ---------------------------------------------

  val LshTables = 16
  // Adaptive signature width (round 9): the sf1 recall audit measured
  // the fixed 6-bit geometry at TRUE recall 0.0 on 20k vectors — every
  // hot bucket blows past LshBucketCap and is dropped whole, so the
  // index degenerates exactly when the corpus grows. Production LSH
  // scales bits with N (bits ≈ log2(N / target_bucket)); here the
  // kernel always computes the full LshBitsMax-bit signature and the
  // query masks it down to b bits, where
  //   b = LshBitsMin + |{ j ∈ [min, max) : N > LshTargetBucket·2^j }|
  // — b-bit prefixes of the same plane family, so widening is a pure
  // refinement. b derives from the corpus COUNT via exact integer
  // comparisons, replayed identically in the DuckDB oracle (no float
  // log2 at a threshold boundary can diverge between engines).
  // N=500 → 6 bits, 2k → 7, 20k → 10, 200k → 12 (mean bucket 16-49).
  val LshBitsMin = 6
  val LshBitsMax = 12
  val LshTargetBucket = 25
  val Dim = 64
  // Hot-bucket cap, matching the oracle's [2, cap] bound: a (table, sig)
  // bucket above this is dropped whole — with adaptive width this is a
  // skew backstop (a genuinely degenerate bucket, e.g. the zero vector),
  // not the steady-state filter it silently became at fixed width.
  // knn_recall_audit quantifies the recall cost of the drop.
  // The sf1 oracle replay caught the Spark side missing this bound (every
  // bucket fits below it at the gate SFs, so sf0.01/sf0.1 are unchanged).
  val LshBucketCap = 100

  /** Adaptive signature bit width for a corpus of n vectors. */
  def lshBitsFor(n: Long): Int =
    LshBitsMin + (LshBitsMin until LshBitsMax).count(j => n > (LshTargetBucket.toLong << j))

  /** Bucket modulus 2^b from the corpus count as SQL — the oracle-side
    * twin of [[lshBitsFor]]; both walk the same integer threshold chain
    * so the width is identical across engines. The oracle computes the
    * full LshBitsMax-bit signature and masks with this modulus; the
    * kernel computes only the surviving b plane dots (stride indexing
    * makes the two bit-for-bit equal — pinned in SimilaritySpec). */
  private[graft] def lshSigModSql(nExpr: String): String =
    s"(${1L << LshBitsMin}" + (LshBitsMin until LshBitsMax).map(j =>
      s" * (CASE WHEN $nExpr > ${LshTargetBucket.toLong << j} THEN 2 ELSE 1 END)").mkString + ")"

  /** knn_lsh — bucketed approximate kNN: L hash tables of b-bit
    * random-hyperplane signatures; candidates = same-bucket vectors in
    * any table; exact quantized cosine re-rank of candidates.
    * All L signatures come from ONE native expression node
    * (graftvec.LshSignatures — the composed 96-dot-product plan spent
    * more time in Catalyst analysis than in execution), posexploded into
    * (t, sig) bucket rows. The 1e-9 quantization of the plane dot cannot
    * flip a sign except at |dot| < 5e-10, immaterial for bucketing.
    * Rows-only; SimilaritySpec measures recall against knn_brute. */
  def knnLsh(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    // adaptive width: the corpus count (one metadata-count job, the
    // repo's bounded-scalar discipline) picks b; the kernel computes
    // exactly b bits per table at stride LshBitsMax, so the geometry is
    // the low-b-bit prefix of the full-width family the oracle masks.
    val bits = lshBitsFor(e.count())
    val q = e.filter(isQuery(col("vec_id")))
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    lshTopK(q, lshIndex(e, bits), bits)
      .orderBy(col("query_id"), col("knn_rank"))
  }

  /** DuckDB oracle for knn_lsh: the signature planes are deterministic
    * (split-mix Rademacher signs), so the oracle embeds them as literal
    * ±1 lists and replays the exact pipeline — per-table full-width
    * signature from quantized plane dots masked to the adaptive width
    * (the same integer threshold chain over COUNT(*)), bucket-size cap
    * via window count, distinct same-bucket candidates, exact
    * quantized-cosine re-rank. Generated programmatically (16 tables ×
    * 12 planes × 64 dims of literals ≈ 60 KB of SQL — cheap for a
    * once-per-run oracle). */
  lazy val knnLshSql: String = {
    import org.apache.spark.sql.graftvec.{LshSignatures => LS}
    def planeList(p: Int): String =
      (0 until Dim).map(i => if (LS.planeSign(p, i) > 0) "1.0" else "-1.0")
        .mkString("[", ",", "]")
    def sigExpr(t: Int): String =
      (0 until LshBitsMax).map { k =>
        val pl = planeList(t * LshBitsMax + k)
        s"""CASE WHEN list_sum(list_transform(embedding,
           |  (x, i) -> CAST(FLOOR(CAST(x AS DOUBLE) * ($pl)[i] * 1e9 + 0.5) AS BIGINT))) > 0
           |  THEN ${1 << k} ELSE 0 END""".stripMargin
      }.mkString("(", " + ", ")")
    val sigSelects = (0 until LshTables).map { t =>
      s"SELECT vec_id, $t AS t, ${sigExpr(t)} AS sig12 FROM e"
    }.mkString("\nUNION ALL\n")
    s"""WITH e AS ($vecsSql),
      |bm AS (SELECT ${lshSigModSql("COUNT(*)")} AS bmod FROM e),
      |sigs12 AS (
      |$sigSelects
      |),
      |sigs AS (SELECT vec_id, t, sig12 % (SELECT bmod FROM bm) AS sig FROM sigs12),
      |b AS (SELECT *, COUNT(*) OVER (PARTITION BY t, sig) AS bs FROM sigs),
      |bounded AS (SELECT vec_id, t, sig FROM b WHERE bs BETWEEN 2 AND $LshBucketCap),
      |q AS (SELECT t, sig, vec_id AS query_id FROM bounded WHERE vec_id % 100 = 0 AND vec_id < $QueryCap),
      |cands AS (
      |  SELECT DISTINCT q.query_id, c.vec_id AS neighbor_id
      |  FROM bounded c JOIN q ON c.t = q.t AND c.sig = q.sig AND c.vec_id <> q.query_id
      |),
      |scored AS (
      |  SELECT query_id, neighbor_id,
      |    CAST($pairDotSql AS DOUBLE) / sqrt(CAST(a.nrm AS DOUBLE) * CAST(b.nrm AS DOUBLE)) AS cos_sim
      |  FROM cands JOIN e a ON a.vec_id = query_id JOIN e b ON b.vec_id = neighbor_id
      |)
      |SELECT query_id, neighbor_id,
      |  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS knn_rank,
      |  cos_sim
      |FROM scored
      |QUALIFY knn_rank <= $K
      |ORDER BY query_id, knn_rank""".stripMargin
  }

  // ---- Product quantization (PQ) ANN --------------------------------------

  val PqSub = 8 // subspaces
  val PqDim = 8 // dims per subspace (PqSub * PqDim = Dim)
  val PqCentMod = 25 // codebook sample stride: vec_id % 25 == 0
  // Codebook size cap: production PQ trains a FIXED number of codewords per
  // subspace (8-bit PQ = 256); an uncapped corpus-density sample (C = N/25)
  // makes the encode join O(N x M x C) = O(N^2) — the sf1 scale bench
  // measured exactly that (knn_pq grew 13.8x on 10x data, the one
  // super-linear query of 225). Capping at the first 256 sampled ids keeps
  // behavior bit-for-bit identical below N = 6400 (every correctness-gate
  // SF) and makes encode linear beyond it.
  val PqCentCap = 256 // codewords per subspace (8-bit PQ)
  val PqShortlist = 50 // ADC re-rank depth floor; adaptive via [[pqShortlistFor]]

  /** Adaptive ADC re-rank depth — +25 per IVF chain step (50 at every
    * gate SF ≤ 256k vectors, 100 at 2M). The round-12 sweep at 2M
    * (IVF_ACTIVE_2M.json ivfpq_sweep) showed the SHORTLIST, not Nprobe,
    * is the binding recall constraint: at fixed shortlist 50, recall
    * FALLS as probes rise (0.976 @ 8 probes → 0.830 @ 24 — more ADC
    * candidates crowd the fixed-depth shortlist with quantization
    * noise), while shortlist 100 reads recall 1.000 at both 8 and 12
    * probes for ~5% extra wall. Growing the depth with the same integer
    * threshold chain as cells/probes keeps both engines bit-identical
    * and tracks the candidate volume (∝ Nprobe·N/C) that causes the
    * dilution. Exact re-rank cost is Q·depth true dots — trivial. */
  def pqShortlistFor(n: Long): Int =
    PqShortlist + 25 * (0 until IvfGrowSteps).count(j => n > (IvfCellThresh << (2 * j)))

  /** Oracle-side twin of [[pqShortlistFor]]. */
  private[graft] def pqShortlistSqlExpr(nExpr: String): String =
    s"($PqShortlist" + (0 until IvfGrowSteps).map(j =>
      s" + (CASE WHEN $nExpr > ${IvfCellThresh << (2 * j)} THEN 25 ELSE 0 END)").mkString + ")"

  /** Shared oracle scalar: the adaptive shortlist over `e`. */
  private[graft] lazy val pqShortlistSubSql: String =
    s"(SELECT ${pqShortlistSqlExpr("COUNT(*)")} FROM e)"

  /** (vec_id, m, code) PQ codes for every corpus vector, via the
    * graftvec.PqCodes kernel: one generated loop per vector replaces
    * the N×M×C encode join (broadcast-hash-join + hash-aggregate over
    * 410 M rows at the sf10 spot-bench — same arithmetic, all operator
    * overhead). The codebook is collected to the driver ONCE per query
    * composition — bounded by construction at PqSub×PqCentCap entries
    * (≤ 128 KiB of doubles, the offline-trained codebook a production
    * PQ index ships to every scan worker; the Prefix boundary-array
    * precedent for small driver-side plan inputs). Codes are emitted as
    * codebook SLOTS and mapped back to cent_ids through the collected
    * roster, so downstream (m, code) joins see exactly the ids the
    * declarative argmin produced; ties break toward the lowest slot =
    * lowest cent_id, the min(struct(d2, cent_id)) contract. */
  /** The collected PQ codebook as kernel-ready driver arrays:
    * (codewords flattened m-major, codewords per subspace, slot →
    * cent_id). Factored out of [[pqCodesOf]] so the serving-index build
    * can map kernel slots without the posexplode round-trip. */
  private def pqCodebookArrays(cb: DataFrame): (Array[Double], Int, Array[Long]) = {
    // single-stage collect (the vec_id < 6400 cent filter pushes to the
    // scan); the m-major ordering the kernel layout needs is applied
    // driver-side — a Spark orderBy here would add a shuffle stage to a
    // 2048-row job
    val rows = cb.select(col("m"), col("cent_id"), col("cv")).collect()
      .sortBy(r => (r.getInt(0), r.getLong(1)))
    require(rows.nonEmpty && rows.length % PqSub == 0,
      s"PQ codebook must hold the same codeword count per subspace; got ${rows.length} rows for $PqSub subspaces")
    val nC = rows.length / PqSub
    val flat = new Array[Double](rows.length * PqDim)
    var j = 0
    rows.foreach { r =>
      val arr = r.getSeq[Double](2)
      var d = 0
      while (d < PqDim) { flat(j) = arr(d); j += 1; d += 1 }
    }
    val centIds = rows.take(nC).map(_.getLong(1))
    // slot->cent_id mapping assumes every subspace carries the SAME cent_id
    // roster in the same order (true for a vec_id-only codebook filter);
    // fail loudly if a subspace-dependent codebook ever breaks that.
    var s = 1
    while (s < PqSub) {
      var k = 0
      while (k < nC) {
        require(rows(s * nC + k).getLong(1) == centIds(k),
          s"PQ codebook cent_id roster differs between subspace 0 and $s at slot $k")
        k += 1
      }
      s += 1
    }
    (flat, nC, centIds)
  }

  /** The ADC stage's two frames, restructured from per-(vector,
    * subspace) join rows to per-vector lookups (guide §2.3/§2.4 —
    * shuffle and evaluate 8× fewer rows, drop the (query, neighbor)
    * re-aggregation entirely):
    *
    *  - `packed`: ONE kernel pass over the corpus emitting the 8
    *    subspace SLOTS packed into one long (byte m = slot of subspace
    *    m; nC ≤ 256 so a slot is byte-exact) — the serving index's
    *    packing discipline ([[ivfPqServeIndex]]) applied to the batch
    *    ADC.
    *  - `qlut`: per query, the full ADC lookup table laid out m-major —
    *    lut[m·nC + slot] = qnrm_m + cnrm − 2·qdot(qv_m, cv), the EXACT
    *    long the old per-(m, code) broadcast join computed, built from
    *    the same Q×8×nC-row join (tiny: ≤ 100 queries × 2048 entries)
    *    and ordered positionally by array_sort on the unique index.
    *
    * adc_d2 then folds as 8 element_at lookups added in fixed order —
    * long addition is exact and commutative, so the value is
    * bit-identical to the old sum() aggregate over 8 join rows. Every
    * (m, code) pair the old path joined exists in the LUT (codes come
    * from the same codebook), so dropping the old vestigial
    * `nm == PqSub` guard loses nothing: all 8 subspaces are always
    * present by construction. */
  private def pqAdcParts(e: DataFrame, cb: DataFrame, qsubs: DataFrame)
      : (DataFrame, DataFrame, Column) = {
    import org.apache.spark.sql.graftvec.PqCodes.pqCodes
    val (flat, nC, centIds) = pqCodebookArrays(cb)
    require(nC <= 256 && PqSub <= 8,
      "one packed long holds 8 subspace slot bytes: nC <= 256, PqSub <= 8")
    val packed = e
      .select(col("vec_id"), pqCodes(col("v"), flat, PqSub, nC, PqDim).as("slots"))
      .select(col("vec_id"),
        (0 until PqSub).map(m => shiftleft(element_at(col("slots"), m + 1)
          .cast("long"), m * 8)).reduce(_ + _).as("code_pack"))
    val slotOf = map_from_arrays(typedLit(centIds), typedLit((0 until nC).toArray))
    val qlut = qsubs
      .join(broadcast(cb), Seq("m"))
      .withColumn("d2",
        col("qnrm_s") + col("cnrm") - lit(2L) * qdot(col("qv_s"), col("cv")))
      .withColumn("idx",
        col("m").cast("long") * nC + element_at(slotOf, col("cent_id")).cast("long"))
      .groupBy(col("query_id"))
      .agg(transform(array_sort(collect_list(struct(col("idx"), col("d2")))),
        s => s.getField("d2")).as("lut"))
    val adcD2 = (0 until PqSub).map { m =>
      element_at(col("lut"), (shiftright(col("code_pack"), m * 8)
        .bitwiseAND(lit(255L)) + lit(m.toLong * nC) + lit(1L)).cast("int"))
    }.reduce(_ + _)
    (packed, qlut, adcD2)
  }

  /** knn_pq — product-quantization ANN with exact re-rank: split each
    * vector into 8 subvectors of 8 dims; the codebook per subspace is a
    * deterministic corpus sample (as with IVF, the iterative k-means
    * refinement would run offline at deployment); every vector is
    * encoded as its 8 nearest-codeword ids (argmin quantized squared L2
    * per subspace); queries rank the corpus by ADC — the sum of per-
    * subspace distances to the CODEWORDS, not the vectors — then the
    * ADC top-[[pqShortlistFor]] shortlist (50 at gate SFs, widening
    * with the corpus) is exact-re-ranked by true quantized cosine.
    *
    * Everything is exact long arithmetic: per-subspace squared L2 is
    * snrm_a + snrm_b − 2·qdot(a,b) of the 1e-9-quantized products, so
    * the DuckDB oracle replays codes, ADC scores, and the final ranking
    * bit-for-bit.
    *
    * Scale shape (100 TB): codes are 8 small ints per vector versus a
    * 256-byte raw vector — the ADC scan reads ~32× less than brute
    * force, and encoding is a broadcast map-side pass against a
    * FIXED-size codebook (min(N/`PqCentMod`, `PqCentCap`) sampled
    * vectors per subspace — capped so encode stays O(N), the 8-bit-PQ
    * production shape) plus one (vec, subspace)-keyed aggregation. The declarative ADC
    * here materializes Q×N×M rows; a production kernel would fold the
    * per-query distance LUT into one native expression (the
    * LshSignatures pattern), which changes cost, not results. */
  def knnPq(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    val nVecs = e.count()
    // per-(vector, subspace) slice + its quantized squared norm
    def subsOf(df: DataFrame, idAs: String): DataFrame = {
      val parts = (0 until PqSub).map { m =>
        struct(lit(m).as("m"), slice(col("v"), m * PqDim + 1, PqDim).as("sv"))
      }
      df.select(col("vec_id").as(idAs), explode(array(parts: _*)).as("p"))
        .select(col(idAs), col("p.m").as("m"), col("p.sv").as("sv"))
        .withColumn("snrm", qdot(col("sv"), col("sv")))
    }
    // codebook and query subvectors from FILTERED scans (the vec_id
    // predicates push to the parquet scan), not from a persisted
    // full-corpus 8-way explode: the full `subs` materialization was
    // N×8 sliced rows held only so two tiny sides could filter it.
    val cb = subsOf(e.filter(col("vec_id") % PqCentMod === 0 &&
        col("vec_id") < lit(PqCentMod.toLong * PqCentCap)), "cent_id")
      .select(col("cent_id"), col("m"),
        col("sv").as("cv"), col("snrm").as("cnrm"))
    val qsubs = subsOf(e.filter(isQuery(col("vec_id"))), "query_id")
      .select(col("query_id"), col("m"),
        col("sv").as("qv_s"), col("snrm").as("qnrm_s"))
    // ADC via packed codes × per-query LUT (see pqAdcParts): Q×N rows
    // with 8 array lookups each, instead of Q×N×8 broadcast-join rows
    // re-aggregated per (query, vector) — bit-identical long sums.
    val (packed, qlut, adcD2) = pqAdcParts(e, cb, qsubs)
    val adc = packed.withColumnRenamed("vec_id", "neighbor_id")
      .crossJoin(broadcast(qlut))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("adc_d2", adcD2)
    val shortlist = topKPerQuery(adc, -col("adc_d2"), pqShortlistFor(nVecs))
      .select(col("query_id"), col("neighbor_id"))
    // exact re-rank of the shortlist
    val q = e.select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    val n = e.select(col("vec_id").as("neighbor_id"), col("v"), col("nrm"))
    val scored = shortlist.join(q, Seq("query_id")).join(n, Seq("neighbor_id"))
      .withColumn("cos_sim", qcos(qdot(col("qv"), col("v")), col("qn"), col("nrm")))
    topKPerQuery(scored, col("cos_sim"), K)
      .select(col("query_id"), col("neighbor_id"), col("knn_rank"), col("cos_sim"))
      .orderBy(col("query_id"), col("knn_rank"))
  }

  /** DuckDB oracle for knn_pq: replay subvector slices, codeword
    * assignment, ADC sums, and the exact re-rank — all in the same
    * quantized-long domain. */
  lazy val knnPqSql: String = {
    val subDot = dotSql("s.sv", "c.cv")
    val qDot = dotSql("q.sv", "c.cv")
    s"""WITH e AS ($vecsSql),
      |subs AS (
      |  SELECT vec_id, m, list_slice(embedding, m * $PqDim + 1, (m + 1) * $PqDim) AS sv
      |  FROM e CROSS JOIN (SELECT unnest(range(0, $PqSub)) AS m)
      |),
      |subn AS (
      |  SELECT vec_id, m, sv,
      |    ${dotSql("sv", "sv")} AS snrm
      |  FROM subs
      |),
      |cb AS (SELECT vec_id AS cent_id, m, sv AS cv, snrm AS cnrm FROM subn
      |       WHERE vec_id % $PqCentMod = 0 AND vec_id < ${PqCentMod.toLong * PqCentCap}),
      |codes AS (
      |  SELECT vec_id, m, cent_id AS code FROM (
      |    SELECT s.vec_id, s.m, c.cent_id,
      |      ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
      |        ORDER BY s.snrm + c.cnrm - 2 * ($subDot), c.cent_id) AS rnk
      |    FROM subn s JOIN cb c ON s.m = c.m)
      |  WHERE rnk = 1
      |),
      |adc AS (
      |  SELECT q.vec_id AS query_id, t.vec_id,
      |    CAST(SUM(q.snrm + c.cnrm - 2 * ($qDot)) AS BIGINT) AS adc_d2
      |  FROM codes t
      |  JOIN subn q ON q.m = t.m AND q.vec_id % 100 = 0 AND q.vec_id < $QueryCap
      |  JOIN cb c ON c.m = t.m AND c.cent_id = t.code
      |  WHERE t.vec_id <> q.vec_id
      |  GROUP BY 1, 2
      |),
      |shortlist AS (
      |  SELECT query_id, vec_id AS neighbor_id FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
      |      ORDER BY adc_d2, vec_id) AS adc_rank
      |    FROM adc)
      |  WHERE adc_rank <= $pqShortlistSubSql
      |),
      |scored AS (
      |  SELECT query_id, neighbor_id,
      |    CAST($pairDotSql AS DOUBLE) / sqrt(CAST(a.nrm AS DOUBLE) * CAST(b.nrm AS DOUBLE)) AS cos_sim
      |  FROM shortlist JOIN e a ON a.vec_id = query_id JOIN e b ON b.vec_id = neighbor_id
      |)
      |SELECT query_id, neighbor_id,
      |  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS knn_rank,
      |  cos_sim
      |FROM scored
      |QUALIFY knn_rank <= $K
      |ORDER BY query_id, knn_rank""".stripMargin
  }

  /** knn_ivfpq — the production ANN composite (FAISS IVF+PQ layout):
    * the IVF coarse quantizer prunes the corpus to the Nprobe nearest
    * cells per query, then ADC scores ONLY those cells' members against
    * the PQ codes, then the ADC shortlist is exact-re-ranked. knn_ivf
    * scans exact vectors of probed cells (Nprobe/C of corpus I/O);
    * knn_pq ADC-scans ALL codes (~32× smaller rows); the composite does
    * both prunes at once — Nprobe/C of the corpus at code width, which
    * is how billion-vector indexes actually serve queries.
    *
    * Everything stays in the exact quantized-long domain of knn_pq, so
    * the oracle replays assignment, probing, candidate ADC, and the
    * re-rank bit-for-bit. Rows-only recall is measured in
    * SimilaritySpec against knn_brute. */
  def knnIvfPq(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    // --- IVF prune (as in knn_ivf): rank-1 cell per vector via the
    // roster-broadcast kernel, adaptive Nprobe per query
    val nVecs = e.count()
    val roster = ivfRoster(e, ivfCellsFor(nVecs))
    val cells = e.select(col("vec_id").as("neighbor_id"),
      element_at(ivfAssignCol(col("v"), roster, 1), 1).as("cent_id"))
    val probes = e.filter(isQuery(col("vec_id")))
      .select(col("vec_id").as("query_id"),
        explode(ivfAssignCol(col("v"), roster, ivfNprobeFor(nVecs))).as("cent_id"))
    // each vector lives in exactly one cell (rank-1) — no candidate dups
    val cand = cells.join(broadcast(probes), Seq("cent_id"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"))
    // --- PQ codes (as in knn_pq): subvector slices, sampled codebook, encode
    def subsOf(df: DataFrame, idAs: String): DataFrame = {
      val parts = (0 until PqSub).map { m =>
        struct(lit(m).as("m"), slice(col("v"), m * PqDim + 1, PqDim).as("sv"))
      }
      df.select(col("vec_id").as(idAs), explode(array(parts: _*)).as("p"))
        .select(col(idAs), col("p.m").as("m"), col("p.sv").as("sv"))
        .withColumn("snrm", qdot(col("sv"), col("sv")))
    }
    // codebook and query subvectors from FILTERED scans — see knnPq:
    // no full-corpus 8-way explode is ever materialized.
    val cb = subsOf(e.filter(col("vec_id") % PqCentMod === 0 &&
        col("vec_id") < lit(PqCentMod.toLong * PqCentCap)), "cent_id")
      .select(col("cent_id"), col("m"),
        col("sv").as("cv"), col("snrm").as("cnrm"))
    val qsubs = subsOf(e.filter(isQuery(col("vec_id"))), "query_id")
      .select(col("query_id"), col("m"),
        col("sv").as("qv_s"), col("snrm").as("qnrm_s"))
    // --- ADC on the IVF candidates only (the composite's whole point),
    // via packed codes × per-query LUT (see pqAdcParts): one row per
    // candidate with 8 array lookups, instead of 8 join rows per
    // candidate re-aggregated — bit-identical long sums.
    val (packed, qlut, adcD2) = pqAdcParts(e, cb, qsubs)
    val adc = cand
      .join(packed.withColumnRenamed("vec_id", "neighbor_id"), Seq("neighbor_id"))
      .join(broadcast(qlut), Seq("query_id"))
      .withColumn("adc_d2", adcD2)
    val shortlisted = topKPerQuery(adc, -col("adc_d2"), pqShortlistFor(nVecs))
      .select(col("query_id"), col("neighbor_id"))
    // --- exact re-rank of the shortlist
    val q = e.select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    val n = e.select(col("vec_id").as("neighbor_id"), col("v"), col("nrm"))
    val scored = shortlisted.join(q, Seq("query_id")).join(n, Seq("neighbor_id"))
      .withColumn("cos_sim", qcos(qdot(col("qv"), col("v")), col("qn"), col("nrm")))
    topKPerQuery(scored, col("cos_sim"), K)
      .select(col("query_id"), col("neighbor_id"), col("knn_rank"), col("cos_sim"))
      .orderBy(col("query_id"), col("knn_rank"))
  }

  /** DuckDB oracle for knn_ivfpq: the knn_ivf assignment/probing CTEs
    * composed with the knn_pq code/ADC CTEs, ADC restricted to the IVF
    * candidate pairs. */
  lazy val knnIvfPqSql: String = {
    val centDot = dotSql("n.embedding", "c.ce")
    val subDot = dotSql("s.sv", "c.cv")
    val qDot = dotSql("q.sv", "c.cv")
    s"""WITH e AS ($vecsSql),
      |$ivfCentsCteSql,
      |asg AS (
      |  SELECT vec_id, cent_id,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cent_cos DESC, cent_id) AS rnk
      |  FROM (
      |    SELECT n.vec_id, c.cent_id,
      |      CAST($centDot AS DOUBLE) / sqrt(CAST(n.nrm AS DOUBLE) * CAST(c.cn AS DOUBLE)) AS cent_cos
      |    FROM e n CROSS JOIN cents c)
      |),
      |cells AS (SELECT vec_id AS neighbor_id, cent_id FROM asg WHERE rnk = 1),
      |probes AS (SELECT vec_id AS query_id, cent_id FROM asg
      |           WHERE vec_id % 100 = 0 AND vec_id < $QueryCap AND rnk <= $ivfNprobeSubSql),
      |cand AS (
      |  SELECT query_id, neighbor_id FROM probes JOIN cells USING (cent_id)
      |  WHERE neighbor_id <> query_id
      |),
      |subs AS (
      |  SELECT vec_id, m, list_slice(embedding, m * $PqDim + 1, (m + 1) * $PqDim) AS sv
      |  FROM e CROSS JOIN (SELECT unnest(range(0, $PqSub)) AS m)
      |),
      |subn AS (
      |  SELECT vec_id, m, sv,
      |    ${dotSql("sv", "sv")} AS snrm
      |  FROM subs
      |),
      |cb AS (SELECT vec_id AS cent_id, m, sv AS cv, snrm AS cnrm FROM subn
      |       WHERE vec_id % $PqCentMod = 0 AND vec_id < ${PqCentMod.toLong * PqCentCap}),
      |codes AS (
      |  SELECT vec_id, m, cent_id AS code FROM (
      |    SELECT s.vec_id, s.m, c.cent_id,
      |      ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
      |        ORDER BY s.snrm + c.cnrm - 2 * ($subDot), c.cent_id) AS rnk
      |    FROM subn s JOIN cb c ON s.m = c.m)
      |  WHERE rnk = 1
      |),
      |adc AS (
      |  SELECT cd.query_id, cd.neighbor_id,
      |    CAST(SUM(q.snrm + c.cnrm - 2 * ($qDot)) AS BIGINT) AS adc_d2
      |  FROM cand cd
      |  JOIN codes t ON t.vec_id = cd.neighbor_id
      |  JOIN subn q ON q.m = t.m AND q.vec_id = cd.query_id
      |  JOIN cb c ON c.m = t.m AND c.cent_id = t.code
      |  GROUP BY 1, 2
      |),
      |shortlist AS (
      |  SELECT query_id, neighbor_id FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
      |      ORDER BY adc_d2, neighbor_id) AS adc_rank
      |    FROM adc)
      |  WHERE adc_rank <= $pqShortlistSubSql
      |),
      |scored AS (
      |  SELECT query_id, neighbor_id,
      |    CAST($pairDotSql AS DOUBLE) / sqrt(CAST(a.nrm AS DOUBLE) * CAST(b.nrm AS DOUBLE)) AS cos_sim
      |  FROM shortlist JOIN e a ON a.vec_id = query_id JOIN e b ON b.vec_id = neighbor_id
      |)
      |SELECT query_id, neighbor_id,
      |  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS knn_rank,
      |  cos_sim
      |FROM scored
      |QUALIFY knn_rank <= $K
      |ORDER BY query_id, knn_rank""".stripMargin
  }

  /** Per-(label, pos) exact quantized mean — the shared "train the coarse
    * quantizer" aggregation behind embed_centroids and the Lloyd
    * iteration: per-dimension 1e-9-quantized sums (longs, order-
    * independent), floor-divided by the label count. One explode + one
    * shuffle on (label, pos) with map-side combine — at 100 TB this is
    * the canonical scalable centroid computation (no vector ever
    * collects to the driver). */
  private def centroidMeans(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("label"), posexplode(toDouble(col("embedding"))).as(Seq("pos", "x")))
      .withColumn("q", floor(col("x") * 1e9 + 0.5).cast("long"))
      .groupBy(col("label"), col("pos"))
      .agg(count(lit(1)).as("n"), sum(col("q")).as("sq"))
      // floor of the double quotient == floor toward -inf on BOTH engines
      // (sums are exact in double at this magnitude); JVM long division
      // would truncate toward zero and disagree on negative dims
      .withColumn("mean_q", floor(col("sq").cast("double") / col("n")).cast("long"))

  /** DuckDB CTE bodies mirroring centroidMeans: expects `WITH` prefix;
    * defines relations g (sums) and m (label, pos, n, mean_q). */
  private val centroidMeansCtes: String =
    """ce AS (
      |  SELECT label, unnest(list_transform(embedding, (x, i) ->
      |    {'pos': i - 1,
      |     'q': CAST(FLOOR(CAST(x AS DOUBLE) * 1e9 + 0.5) AS BIGINT)}), recursive := true)
      |  FROM embeddings
      |),
      |g AS (
      |  SELECT label, pos, COUNT(*) AS n, CAST(SUM(q) AS BIGINT) AS sq
      |  FROM ce GROUP BY 1, 2
      |),
      |m AS (
      |  SELECT label, pos, n,
      |    CAST(FLOOR(CAST(sq AS DOUBLE) / n) AS BIGINT) AS mean_q
      |  FROM g
      |)""".stripMargin

  /** embed_centroids — per-label mean embedding fingerprints (the
    * "train the coarse quantizer" step as a batch op): the shared
    * centroidMeans aggregation rolled up to one fingerprint string per
    * label, ordered by dimension. */
  def embedCentroids(spark: SparkSession, dir: String): DataFrame = {
    centroidMeans(spark, dir)
      .groupBy(col("label"))
      .agg(max(col("n")).as("n_vecs"),
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("mean_q")))),
            s => s.getField("mean_q").cast("string")), ",").as("centroid_fp"))
      .orderBy(col("label"))
  }

  val embedCentroidsSql: String =
    s"""WITH $centroidMeansCtes
      |SELECT label, MAX(n) AS n_vecs,
      |  string_agg(CAST(mean_q AS VARCHAR), ',' ORDER BY pos) AS centroid_fp
      |FROM m GROUP BY label
      |ORDER BY label""".stripMargin

  /** embed_kmeans_iter — one exact Lloyd iteration over the label-mean
    * centroids: re-assign every vector to its nearest centroid by
    * quantized squared L2 (‖v‖² + ‖c‖² − 2⟨v,c⟩, all three terms exact
    * longs on the 1e-9 product grid) and roll up the new clustering —
    * assigned size, how many vectors moved off their seed label, and the
    * exact inertia (sum of assigned distances; THE k-means convergence
    * metric). With the iteration count as a loop this is distributed
    * k-means; one audited step keeps the oracle replay tractable.
    *
    * Scale shape: the centroid table is K×D longs — broadcast; the
    * assignment pass is a map-side broadcast nested loop (K rows per
    * vector) reduced by a min(struct) aggregate on vec_id with partial
    * aggregation, so the shuffle carries one slim row per (vector,
    * centroid) pre-combine and one per vector after; the final rollup is
    * K rows. No vector ever collects to the driver. */
  def embedKmeansIter(spark: SparkSession, dir: String): DataFrame = {
    val cent = centroidMeans(spark, dir)
      .groupBy(col("label"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("mean_q")))),
        s => s.getField("mean_q").cast("double") * lit(1e-9)).as("cv"))
      .select(col("label").as("cent_label"), col("cv"))
      .withColumn("cn", qdot(col("cv"), col("cv")))
    vecs(spark, dir)
      .crossJoin(broadcast(cent))
      .withColumn("dist_q",
        col("nrm") + col("cn") - lit(2L) * qdot(col("v"), col("cv")))
      .groupBy(col("vec_id"), col("label"))
      // argmin via min(struct): lexicographic (dist, label) — exact longs,
      // deterministic tiebreak, keeps partial aggregation (no window sort)
      .agg(min(struct(col("dist_q"), col("cent_label"))).as("m"))
      .select(col("label"), col("m.cent_label").as("assigned_label"),
        col("m.dist_q").as("dist_q"))
      .groupBy(col("assigned_label"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("label") =!= col("assigned_label"), 1L).otherwise(0L)).as("n_moved"),
        sum(col("dist_q")).as("inertia_q"))
      .orderBy(col("assigned_label"))
  }

  lazy val embedKmeansIterSql: String = {
    val vcDot = dotSql("e.embedding", "c.cv")
    s"""WITH $centroidMeansCtes,
      |cent AS (
      |  SELECT label AS cent_label,
      |    list(CAST(mean_q AS DOUBLE) * 1e-9 ORDER BY pos) AS cv
      |  FROM m GROUP BY label
      |),
      |cent2 AS (
      |  SELECT cent_label, cv,
      |    CAST(list_sum(list_transform(cv,
      |      (x, i) -> CAST(FLOOR(x * cv[i] * 1e9 + 0.5) AS BIGINT))) AS BIGINT) AS cn
      |  FROM cent
      |),
      |e AS ($vecsSql),
      |scored AS (
      |  SELECT e.vec_id, e.label, c.cent_label,
      |    e.nrm + c.cn - 2 * $vcDot AS dist_q
      |  FROM e CROSS JOIN cent2 c
      |),
      |asg AS (
      |  SELECT vec_id, label, cent_label, dist_q,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist_q, cent_label) AS rn
      |  FROM scored
      |)
      |SELECT cent_label AS assigned_label, COUNT(*) AS n_vecs,
      |  CAST(SUM(CASE WHEN label <> cent_label THEN 1 ELSE 0 END) AS BIGINT) AS n_moved,
      |  CAST(SUM(dist_q) AS BIGINT) AS inertia_q
      |FROM asg WHERE rn = 1
      |GROUP BY cent_label
      |ORDER BY assigned_label""".stripMargin
  }

  /** embed_quantize_int8 — scalar (SQ8) quantization of the embedding
    * corpus, the FAISS-SQ serving layout: per-dimension global [min, max]
    * over the corpus (one tiny aggregate), every component mapped to an
    * 8-bit code `(v - min) * 255 div range`, and the reconstruction
    * error audited exactly. 64 float dims become 64 bytes — 4× less
    * scan I/O than float32 at serving time. All arithmetic happens on
    * the 1e-6-quantized long grid (components and bounds alike), so
    * codes, reconstructions, and error totals are exact integers the
    * oracle replays bit-for-bit.
    *
    * Scale shape: the bounds pass is posexplode → 64-row aggregate with
    * map-side combine (at 100 TB: one scan, negligible shuffle), bounds
    * broadcast back, and the coding pass is map-only. Output is the
    * per-label audit: element counts, total/max absolute reconstruction
    * error (in 1e-6 units), and the exact code checksum. */
  def embedQuantizeInt8(spark: SparkSession, dir: String): DataFrame = {
    val elems = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"),
        posexplode(toDouble(col("embedding"))).as(Seq("pos", "x")))
      .withColumn("vq", floor(col("x") * 1e6 + 0.5).cast("long"))
    val bounds = elems.groupBy(col("pos"))
      .agg(min(col("vq")).as("minq"), max(col("vq")).as("maxq"))
      .withColumn("rng", greatest(col("maxq") - col("minq"), lit(1L)))
    elems.join(broadcast(bounds), Seq("pos"))
      .withColumn("code", expr("((vq - minq) * 255) div rng"))
      .withColumn("recon", col("minq") + expr("(code * rng) div 255"))
      .withColumn("err", abs(col("vq") - col("recon")))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_elems"),
        countDistinct(col("vec_id")).as("n_vecs"),
        sum(col("err")).as("total_err_q"),
        max(col("err")).as("max_err_q"),
        sum(col("code") * (col("pos") + 1L)).as("code_checksum"))
      .orderBy(col("label"))
  }

  val embedQuantizeInt8Sql: String =
    """WITH elems AS (
      |  SELECT vec_id, label, unnest(list_transform(embedding, (x, i) ->
      |    {'pos': i - 1,
      |     'vq': CAST(FLOOR(CAST(x AS DOUBLE) * 1e6 + 0.5) AS BIGINT)}), recursive := true)
      |  FROM embeddings
      |), bounds AS (
      |  SELECT pos, MIN(vq) AS minq, MAX(vq) AS maxq,
      |    GREATEST(MAX(vq) - MIN(vq), 1) AS rng
      |  FROM elems GROUP BY pos
      |), coded AS (
      |  SELECT e.vec_id, e.label, e.pos,
      |    ((e.vq - b.minq) * 255) // b.rng AS code,
      |    e.vq, b.minq, b.rng
      |  FROM elems e JOIN bounds b USING (pos)
      |), audited AS (
      |  SELECT label, vec_id, pos, code,
      |    abs(vq - (minq + (code * rng) // 255)) AS err
      |  FROM coded
      |)
      |SELECT label, COUNT(*) AS n_elems, COUNT(DISTINCT vec_id) AS n_vecs,
      |  CAST(SUM(err) AS BIGINT) AS total_err_q,
      |  CAST(MAX(err) AS BIGINT) AS max_err_q,
      |  CAST(SUM(code * (pos + 1)) AS BIGINT) AS code_checksum
      |FROM audited GROUP BY label
      |ORDER BY label""".stripMargin

  /** mm_doc_embed — cross-modal join: the text table and the embedding
    * table joined on their shared id (doc_id = vec_id — the "every doc
    * has an embedding row" layout of a multimodal corpus), rolled up per
    * (source, label): doc counts, token volume, and the exact quantized
    * norm total. At scale this is the canonical fact-fact equi-join —
    * both sides bucketed/co-partitioned on the id so the join is
    * shuffle-free; here AQE picks a broadcast. */
  def mmDocEmbed(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        size(graft.functions.TextFunctions.words(col("text"))).as("n_words"))
    val e = vecs(spark, dir).select(col("vec_id"), col("label"), col("nrm"))
    d.join(e, d("doc_id") === e("vec_id"))
      .groupBy(col("source"), col("label"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_words")).as("total_words"),
           sum(col("nrm")).as("sum_nrm"))
      .orderBy(col("source"), col("label"))
  }

  val mmDocEmbedSql: String =
    s"""WITH e AS ($vecsSql),
      |d AS (SELECT doc_id, source, len(${graft.functions.TextFunctions.wordsSql("text")}) AS n_words FROM documents)
      |SELECT d.source, e.label, COUNT(*) AS n_docs,
      |  CAST(SUM(d.n_words) AS BIGINT) AS total_words, CAST(SUM(e.nrm) AS BIGINT) AS sum_nrm
      |FROM d JOIN e ON d.doc_id = e.vec_id
      |GROUP BY 1, 2
      |ORDER BY source, label""".stripMargin

  /** embed_outliers — embedding-space quality gate per label: every
    * vector's quantized squared L2 to its OWN label centroid (‖v‖² +
    * ‖c‖² − 2⟨v,c⟩, exact longs on the 1e-9 product grid), flagged an
    * outlier when dist² exceeds 4× the label mean dist² (beyond 2× the
    * RMS radius) — the "corrupt/mislabeled embedding" filter run before
    * training on an embedding corpus. The outlier rule compares exact
    * integers cross-multiplied (dist_q · n > 4 · Σdist_q — no float
    * threshold; carriers stay under 2^63 through ~1e9 vectors per
    * label, then DECIMAL(38)), so membership and every output replay
    * exactly.
    *
    * Scale shape: centroids are K×D longs broadcast back onto one
    * equi-join by label (map-side), the label rollup aggregates with
    * partial combine, and the flagging pass re-joins the ≤K-row stats
    * broadcast — two scans of the vector table, no shuffle of vectors
    * beyond the label rollup. Output ∝ labels. */
  def embedOutliers(spark: SparkSession, dir: String): DataFrame = {
    val cent = centroidMeans(spark, dir)
      .groupBy(col("label"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("mean_q")))),
        s => s.getField("mean_q").cast("double") * lit(1e-9)).as("cv"))
      .withColumn("cn", qdot(col("cv"), col("cv")))
    val scored = vecs(spark, dir)
      .join(broadcast(cent), Seq("label"))
      .withColumn("dist_q",
        col("nrm") + col("cn") - lit(2L) * qdot(col("v"), col("cv")))
      .select(col("label"), col("vec_id"), col("dist_q"))
    val stats = scored.groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("dist_q")).as("sum_dist_q"),
        max(col("dist_q")).as("max_dist_q"))
    scored.join(broadcast(stats), Seq("label"))
      .withColumn("is_outlier",
        col("dist_q") * col("n_vecs") > lit(4L) * col("sum_dist_q"))
      .groupBy(col("label"))
      .agg(max(col("n_vecs")).as("n_vecs"),
        max(col("sum_dist_q")).as("sum_dist_q"),
        max(col("max_dist_q")).as("max_dist_q"),
        sum(when(col("is_outlier"), 1L).otherwise(0L)).as("n_outliers"),
        sum(when(col("is_outlier"), col("vec_id"))).as("outlier_id_checksum"))
      .withColumn("mean_dist_q",
        col("sum_dist_q").cast("double") / col("n_vecs"))
      .select(col("label"), col("n_vecs"), col("mean_dist_q"), col("max_dist_q"),
        col("n_outliers"), col("outlier_id_checksum"))
      .orderBy(col("label"))
  }

  lazy val embedOutliersSql: String = {
    val vcDot = dotSql("e.embedding", "c.cv")
    s"""WITH $centroidMeansCtes,
      |cent AS (
      |  SELECT label, list(CAST(mean_q AS DOUBLE) * 1e-9 ORDER BY pos) AS cv
      |  FROM m GROUP BY label
      |),
      |cent2 AS (
      |  SELECT label, cv,
      |    CAST(list_sum(list_transform(cv,
      |      (x, i) -> CAST(FLOOR(x * cv[i] * 1e9 + 0.5) AS BIGINT))) AS BIGINT) AS cn
      |  FROM cent
      |),
      |e AS ($vecsSql),
      |scored AS (
      |  SELECT e.label, e.vec_id, e.nrm + c.cn - 2 * $vcDot AS dist_q
      |  FROM e JOIN cent2 c ON e.label = c.label
      |),
      |stats AS (
      |  SELECT label, COUNT(*) AS n_vecs, CAST(SUM(dist_q) AS BIGINT) AS sum_dist_q,
      |    MAX(dist_q) AS max_dist_q
      |  FROM scored GROUP BY label
      |)
      |SELECT s.label, MAX(st.n_vecs) AS n_vecs,
      |  CAST(MAX(st.sum_dist_q) AS DOUBLE) / MAX(st.n_vecs) AS mean_dist_q,
      |  MAX(st.max_dist_q) AS max_dist_q,
      |  CAST(SUM(CASE WHEN s.dist_q * st.n_vecs > 4 * st.sum_dist_q
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
      |  CAST(SUM(CASE WHEN s.dist_q * st.n_vecs > 4 * st.sum_dist_q
      |    THEN s.vec_id END) AS BIGINT) AS outlier_id_checksum
      |FROM scored s JOIN stats st ON s.label = st.label
      |GROUP BY s.label
      |ORDER BY s.label""".stripMargin
  }

  /** knn_recall_audit — recall@K of the approximate ANN paths against
    * exact brute force, per method: the eval every ANN deployment runs
    * before trusting an index (FAISS's own benchmark discipline). Hits
    * are (query, neighbor) pairs the approximate method shares with the
    * exact top-K; recall is one IEEE divide of exact counts. Audited
    * here: the two serving shapes — LSH buckets and IVF+PQ — whose
    * recall bounds the others'. The audit recomputes both pipelines
    * (the contract is one self-contained DataFrame per query key);
    * shapes and costs are those of the audited operators plus two
    * count-only joins on (query, neighbor) keys. */
  def knnRecallAudit(spark: SparkSession, dir: String): DataFrame = {
    // Brute ground truth appears TWICE in this plan (one semi-join build
    // side + one denominator count), not four times: the two approx sets
    // union with a method tag and share a single semi-join, so the old
    // shape's four independent brute subtrees (a 34-scan plan) collapse
    // and Catalyst can reuse the brute subtree's exchanges between the
    // two remaining consumers. (A persist of the brute pair set was
    // measured BOTH ways in round 15 and LOSES at sf1 — the subtrees
    // recompute in parallel on idle cores while a persist serializes a
    // cache build in front of them; kept unpersisted on that evidence.)
    import spark.implicits._
    val brute = knnBrute(spark, dir).select(col("query_id"), col("neighbor_id"))
    val approx =
      knnIvfPq(spark, dir).select(lit("knn_ivfpq").as("method"),
          col("query_id"), col("neighbor_id"))
        .unionByName(knnLsh(spark, dir).select(lit("knn_lsh").as("method"),
          col("query_id"), col("neighbor_id")))
    val hits = approx
      .join(brute, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy(col("method")).agg(count(lit(1)).as("n_hits"))
    // a method with zero hits must still report its row (the old
    // per-method global agg produced n_hits = 0, never a missing row)
    Seq("knn_ivfpq", "knn_lsh").toDF("method")
      .join(hits, Seq("method"), "left")
      .na.fill(0L, Seq("n_hits"))
      .crossJoin(broadcast(brute.agg(count(lit(1)).as("n_pairs"))))
      .select(col("method"), col("n_pairs"), col("n_hits"),
        (col("n_hits").cast("double") / col("n_pairs")).as("recall_at_k"))
      .orderBy(col("method"))
  }

  lazy val knnRecallAuditSql: String = {
    def methodSql(name: String, sql: String): String =
      s"""SELECT '$name' AS method,
        |  (SELECT COUNT(*) FROM brute) AS n_pairs,
        |  (SELECT COUNT(*) FROM (SELECT query_id, neighbor_id FROM ($sql)) a
        |     JOIN brute b ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id)
        |    AS n_hits""".stripMargin
    s"""WITH brute AS (SELECT query_id, neighbor_id FROM ($knnBruteSql))
      |SELECT method, n_pairs, n_hits,
      |  CAST(n_hits AS DOUBLE) / n_pairs AS recall_at_k
      |FROM (
      |${methodSql("knn_ivfpq", knnIvfPqSql)}
      |UNION ALL
      |${methodSql("knn_lsh", knnLshSql)}
      |)
      |ORDER BY method""".stripMargin
  }

  /** knn_filtered — metadata-filtered exact top-k: each query retrieves
    * only among corpus vectors sharing its label (the tenant/class
    * pre-filter every production vector store supports; "filtered
    * search" in the FAISS/vector-db sense). Filter-BEFORE-score: the
    * label predicate prunes the candidate stream ahead of the dot
    * product, so selectivity 1/L cuts compute 1/L — the whole point of
    * pre-filtered ANN vs post-filtering a larger top-k.
    *
    * Same broadcast discipline as knn_brute (queries tiny + broadcast,
    * corpus streamed once, never N×N); per-query k smaller than the
    * per-label candidate count by construction. */
  def knnFiltered(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    val q = e.filter(isQuery(col("vec_id")))
      .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
        col("v").as("qv"), col("nrm").as("qn"))
    val scored = e.select(col("vec_id").as("neighbor_id"), col("label"), col("v"), col("nrm"))
      .crossJoin(broadcast(q))
      .filter(col("label") === col("qlabel") &&
        col("neighbor_id") =!= col("query_id"))
      .withColumn("cos_sim", qcos(qdot(col("qv"), col("v")), col("qn"), col("nrm")))
    topKPerQuery(scored, col("cos_sim"), K)
      .select(col("query_id"), col("qlabel").as("label"), col("neighbor_id"),
        col("knn_rank"), col("cos_sim"))
      .orderBy(col("query_id"), col("knn_rank"))
  }

  val knnFilteredSql: String =
    s"""WITH e AS ($vecsSql)
      |SELECT a.vec_id AS query_id, a.label AS label, b.vec_id AS neighbor_id,
      |  ROW_NUMBER() OVER (PARTITION BY a.vec_id
      |    ORDER BY CAST($pairDotSql AS DOUBLE) / sqrt(CAST(a.nrm AS DOUBLE) * CAST(b.nrm AS DOUBLE)) DESC,
      |             b.vec_id) AS knn_rank,
      |  CAST($pairDotSql AS DOUBLE) / sqrt(CAST(a.nrm AS DOUBLE) * CAST(b.nrm AS DOUBLE)) AS cos_sim
      |FROM e a JOIN e b ON a.vec_id % 100 = 0 AND a.vec_id < $QueryCap AND b.label = a.label AND b.vec_id <> a.vec_id
      |QUALIFY knn_rank <= $K
      |ORDER BY query_id, knn_rank""".stripMargin

  /** embed_anisotropy — embedding-space collapse diagnostic: the
    * anisotropy ratio ‖μ‖² / E‖x‖² (share of the corpus's second moment
    * sitting in the mean direction — the "cone effect" of Ethayarajh
    * EMNLP'19) plus the dominant single dimension's share of ‖μ‖². A
    * healthy embedding model scores near 0; a collapsed or
    * un-centered one pushes toward 1, silently wrecking cosine
    * retrieval (knn_*) and kmeans cells (knn_ivf) — this one row is
    * the gate that catches it at ingest.
    *
    * Determinism discipline: coordinates quantize to the 1e-3 grid so
    * per-dim sums S_i and the global Σmq² are exact BIGINTs; both
    * ratios are single IEEE divides of exact products (ΣS_i² ~
    * (N·10³)²·D holds to ~10M vectors at this quantum; the quantum —
    * not the algorithm — coarsens beyond).
    *
    * Scale shape: one posexplode (rows ∝ N×D), map-side-combined to D
    * per-dim rows, then a D-row reduction to ONE row. Nothing else
    * moves. */
  def embedAnisotropy(spark: SparkSession, dir: String): DataFrame = {
    val perDim = Tables.embeddings(spark, dir)
      .select(posexplode(toDouble(col("embedding"))).as(Seq("pos", "x")))
      .withColumn("mq", floor(col("x") * lit(1000d) + lit(0.5d)).cast("long"))
      .groupBy(col("pos"))
      .agg(count(lit(1)).as("n"), sum(col("mq")).as("s"),
        sum(col("mq") * col("mq")).as("ssq"))
    perDim.agg(max(col("n")).as("n_vecs"), count(lit(1)).as("dim"),
        sum(col("s") * col("s")).as("ssum2"),
        max(col("s") * col("s")).as("smax2"),
        sum(col("ssq")).as("q2"))
      .withColumn("mean_norm_sq", col("q2").cast("double") /
        col("n_vecs").cast("double") / lit(1000000d))
      .withColumn("mu_norm_sq", col("ssum2").cast("double") /
        (col("n_vecs") * col("n_vecs")).cast("double") / lit(1000000d))
      .withColumn("anisotropy", col("ssum2").cast("double") /
        (col("n_vecs") * col("q2")).cast("double"))
      .withColumn("dominant_dim_share",
        col("smax2").cast("double") / col("ssum2").cast("double"))
      .select(col("n_vecs"), col("dim"), col("mean_norm_sq"),
        col("mu_norm_sq"), col("anisotropy"), col("dominant_dim_share"))
  }

  val embedAnisotropySql: String =
    """WITH e AS (
      |  SELECT CAST(pos - 1 AS INTEGER) AS pos,
      |    CAST(FLOOR(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT) AS mq
      |  FROM (SELECT unnest(embedding) AS x,
      |               generate_subscripts(embedding, 1) AS pos
      |        FROM embeddings)
      |), per_dim AS (
      |  SELECT pos, COUNT(*) AS n, CAST(SUM(mq) AS BIGINT) AS s,
      |    CAST(SUM(mq*mq) AS BIGINT) AS ssq
      |  FROM e GROUP BY pos
      |), agg AS (
      |  SELECT MAX(n) AS n_vecs, COUNT(*) AS dim,
      |    CAST(SUM(s*s) AS BIGINT) AS ssum2,
      |    MAX(s*s) AS smax2,
      |    CAST(SUM(ssq) AS BIGINT) AS q2
      |  FROM per_dim
      |)
      |SELECT n_vecs, dim,
      |  CAST(q2 AS DOUBLE) / CAST(n_vecs AS DOUBLE) / 1000000 AS mean_norm_sq,
      |  CAST(ssum2 AS DOUBLE) / CAST(n_vecs * n_vecs AS DOUBLE) / 1000000
      |    AS mu_norm_sq,
      |  CAST(ssum2 AS DOUBLE) / CAST(n_vecs * q2 AS DOUBLE) AS anisotropy,
      |  CAST(smax2 AS DOUBLE) / CAST(ssum2 AS DOUBLE) AS dominant_dim_share
      |FROM agg""".stripMargin

  /** embed_label_cohesion — per-class intra-cluster cohesion: each
    * label's member-to-centroid cosine distribution (mean and worst
    * member). The supervised twin of knn_recall_audit's eval loop: if a
    * label's own members barely point at its centroid, that class is
    * incoherent and both classification heads and IVF cells built on
    * these vectors will smear — caught here before training.
    *
    * Determinism discipline: coordinates quantize to the 1e-3 grid;
    * per-label per-dim sums are exact BIGINTs; the centroid carrier is
    * floor(S/n) computed as FLOOR of an exact double quotient (S ≪
    * 2^53), identical in both engines — NOT integer division, whose
    * negative-operand semantics differ between Spark (truncate) and
    * DuckDB (floor). Dots/norms against the integral centroid are exact
    * BIGINTs; per-vector cosine spends IEEE sqrt+divide and re-quantizes
    * to millis, so label means are exact sums with one final divide.
    *
    * Scale shape: one posexplode feeds BOTH the centroid aggregate
    * (L×D rows) and the re-join (on (label, pos) — co-partitioned,
    * centroid side tiny and broadcast); per-vector reduction then
    * L-row rollup. */
  def embedLabelCohesion(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"),
        posexplode(toDouble(col("embedding"))).as(Seq("pos", "x")))
      .withColumn("mq", floor(col("x") * lit(1000d) + lit(0.5d)).cast("long"))
    val centroid = e.groupBy(col("label"), col("pos"))
      .agg(sum(col("mq")).as("s"), count(lit(1)).as("n"))
      .withColumn("cq", floor(col("s").cast("double") / col("n").cast("double"))
        .cast("long"))
      .select(col("label"), col("pos"), col("cq"))
    val perVec = e.join(broadcast(centroid), Seq("label", "pos"))
      .groupBy(col("label"), col("vec_id"))
      .agg(sum(col("mq") * col("cq")).as("dot"),
        sum(col("mq") * col("mq")).as("nx"),
        sum(col("cq") * col("cq")).as("nc"))
      .withColumn("cosq", floor(col("dot").cast("double") /
        sqrt(col("nx").cast("double") * col("nc").cast("double"))
        * lit(1000d) + lit(0.5d)).cast("long"))
    perVec.groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        (sum(col("cosq")).cast("double") / count(lit(1)).cast("double") /
          lit(1000d)).as("mean_cos"),
        (min(col("cosq")).cast("double") / lit(1000d)).as("worst_cos"))
      .orderBy(col("label"))
  }

  val embedLabelCohesionSql: String =
    """WITH e AS (
      |  SELECT vec_id, label, CAST(pos - 1 AS INTEGER) AS pos,
      |    CAST(FLOOR(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT) AS mq
      |  FROM (SELECT vec_id, label, unnest(embedding) AS x,
      |               generate_subscripts(embedding, 1) AS pos
      |        FROM embeddings)
      |), centroid AS (
      |  SELECT label, pos,
      |    CAST(FLOOR(CAST(CAST(SUM(mq) AS BIGINT) AS DOUBLE) /
      |      CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS cq
      |  FROM e GROUP BY 1, 2
      |), per_vec AS (
      |  SELECT e.label, e.vec_id,
      |    CAST(SUM(e.mq * c.cq) AS BIGINT) AS dot,
      |    CAST(SUM(e.mq * e.mq) AS BIGINT) AS nx,
      |    CAST(SUM(c.cq * c.cq) AS BIGINT) AS nc
      |  FROM e JOIN centroid c ON c.label = e.label AND c.pos = e.pos
      |  GROUP BY 1, 2
      |), scored AS (
      |  SELECT label, vec_id,
      |    CAST(FLOOR(CAST(dot AS DOUBLE) /
      |      sqrt(CAST(nx AS DOUBLE) * CAST(nc AS DOUBLE)) * 1000 + 0.5)
      |      AS BIGINT) AS cosq
      |  FROM per_vec
      |)
      |SELECT label, COUNT(*) AS n_vecs,
      |  CAST(SUM(cosq) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1000 AS mean_cos,
      |  CAST(MIN(cosq) AS DOUBLE) / 1000 AS worst_cos
      |FROM scored
      |GROUP BY label
      |ORDER BY label""".stripMargin

  /** embed_pq_distortion — quantization-error eval of the PQ codebook:
    * per subspace, the mean squared error between subvectors and their
    * assigned codewords (the training objective k-means minimizes) plus
    * codebook utilization (distinct codes actually used). The
    * distortion-side twin of knn_recall_audit's recall side: recall
    * tells you the end-to-end damage, distortion tells you WHICH
    * subspace's codebook is under-trained (high MSE) or collapsed (low
    * utilization) — the dial you turn is per-subspace codebook size.
    *
    * Determinism: the encode argmin replays knn_pq's exactly (quantized
    * squared distances are BIGINTs; deterministic cent_id tie-break);
    * per-subspace Σd² is an exact BIGINT; MSE and utilization are one
    * divide each.
    *
    * Scale shape: identical to knn_pq's encode stage (slice explode ∝
    * N×M rows, codebook broadcast, argmin map-side combined) — then an
    * M-row rollup. Nothing the index build doesn't already pay. */
  def embedPqDistortion(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    val parts = (0 until PqSub).map { m =>
      struct(lit(m).as("m"), slice(col("v"), m * PqDim + 1, PqDim).as("sv"))
    }
    val subs = e.select(col("vec_id"), explode(array(parts: _*)).as("p"))
      .select(col("vec_id"), col("p.m").as("m"), col("p.sv").as("sv"))
      .withColumn("snrm", qdot(col("sv"), col("sv")))
    val cb = subs.filter(col("vec_id") % PqCentMod === 0 &&
        col("vec_id") < lit(PqCentMod.toLong * PqCentCap))
      .select(col("vec_id").as("cent_id"), col("m"),
        col("sv").as("cv"), col("snrm").as("cnrm"))
    // codes via the kernel; the winning d2 is recomputed for ONLY the
    // chosen codeword (N×M slim join vs the old N×M×C expansion) — the
    // exact same long the argmin minimized. The code and its subvector
    // are emitted in ONE projection over the corpus (slice(v, m·8+1, 8)
    // next to the kernel's posexplode, v carried through) instead of
    // re-deriving subs separately and re-aligning on (vec_id, m) —
    // that join shuffled two N×M-row relations purely to glue back
    // columns of the same source row (r16; guide §2.4).
    val best = {
      import org.apache.spark.sql.graftvec.PqCodes.pqCodes
      val (flat, nC, centIds) = pqCodebookArrays(cb)
      e.select(col("v"),
          posexplode(pqCodes(col("v"), flat, PqSub, nC, PqDim)).as(Seq("m", "slot")))
        .select(col("m"),
          element_at(typedLit(centIds), col("slot") + 1).as("code"),
          slice(col("v"), col("m") * lit(PqDim) + lit(1), lit(PqDim)).as("sv"))
        .join(broadcast(cb.select(col("m"), col("cent_id").as("code"),
          col("cv"), col("cnrm"))), Seq("m", "code"))
        .withColumn("best_d2",
          qdot(col("sv"), col("sv")) + col("cnrm") - lit(2L) * qdot(col("sv"), col("cv")))
        .select(col("m"), col("best_d2"), col("code"))
    }
    val cbSize = cb.groupBy(col("m")).agg(count(lit(1)).as("cb_size"))
    best.groupBy(col("m"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("best_d2")).as("total_d2"),
        countDistinct(col("code")).as("codes_used"))
      .join(broadcast(cbSize), Seq("m"))
      .withColumn("mean_d2",
        col("total_d2").cast("double") / col("n_vecs").cast("double"))
      .withColumn("utilization",
        col("codes_used").cast("double") / col("cb_size").cast("double"))
      .select(col("m"), col("n_vecs"), col("total_d2"), col("mean_d2"),
        col("codes_used"), col("cb_size"), col("utilization"))
      .orderBy(col("m"))
  }

  lazy val embedPqDistortionSql: String = {
    val subDot = dotSql("s.sv", "c.cv")
    s"""WITH e AS ($vecsSql),
      |subs AS (
      |  SELECT vec_id, m, list_slice(embedding, m * $PqDim + 1, (m + 1) * $PqDim) AS sv
      |  FROM e CROSS JOIN (SELECT unnest(range(0, $PqSub)) AS m)
      |),
      |subn AS (
      |  SELECT vec_id, m, sv,
      |    ${dotSql("sv", "sv")} AS snrm
      |  FROM subs
      |),
      |cb AS (SELECT vec_id AS cent_id, m, sv AS cv, snrm AS cnrm FROM subn
      |       WHERE vec_id % $PqCentMod = 0 AND vec_id < ${PqCentMod.toLong * PqCentCap}),
      |best AS (
      |  SELECT vec_id, m, d2 AS best_d2, cent_id AS code FROM (
      |    SELECT s.vec_id, s.m, c.cent_id,
      |      s.snrm + c.cnrm - 2 * ($subDot) AS d2,
      |      ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
      |        ORDER BY s.snrm + c.cnrm - 2 * ($subDot), c.cent_id) AS rnk
      |    FROM subn s JOIN cb c ON s.m = c.m)
      |  WHERE rnk = 1
      |),
      |cbsize AS (SELECT m, COUNT(*) AS cb_size FROM cb GROUP BY 1)
      |SELECT b.m, COUNT(*) AS n_vecs,
      |  CAST(SUM(best_d2) AS BIGINT) AS total_d2,
      |  CAST(SUM(best_d2) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_d2,
      |  COUNT(DISTINCT code) AS codes_used, cb_size,
      |  CAST(COUNT(DISTINCT code) AS DOUBLE) / CAST(cb_size AS DOUBLE)
      |    AS utilization
      |FROM best b JOIN cbsize USING (m)
      |GROUP BY b.m, cb_size
      |ORDER BY m""".stripMargin
  }

  /** embed_lsh_entropy — LSH index-balance audit: per hash table, the
    * bucket-size distribution's entropy and max-bucket share. A healthy
    * random-hyperplane table spreads the corpus near-uniformly over its
    * 2^bits buckets (entropy → ln(min(N, 2^bits))); a collapsed table
    * (anisotropic corpus: every vector on one side of most planes)
    * concentrates mass in few buckets, its probe cost degenerates
    * toward brute force, and this audit names the table BEFORE queries
    * slow down. Determinism discipline: ln quantized to integral
    * millinats (the text_zipf/text_lm_ce convention), Σ n·ln(n) an
    * exact BIGINT, entropy = ln(N) − Σ/N with integer division of
    * non-negative carriers. One kernel pass + a (table, sig) count
    * shuffle; output is LshTables rows. */
  def embedLshEntropy(spark: SparkSession, dir: String): DataFrame = {
    val lnq = (c: Column) => floor(log(c.cast("double")) * 1000d + 0.5d).cast("long")
    val e = vecs(spark, dir)
    val bits = lshBitsFor(e.count())
    e.select(posexplode(org.apache.spark.sql.graftvec.VectorExpressions
        .lshSigs(col("v"), LshTables, bits, Dim, LshBitsMax)).as(Seq("t", "sig")))
      .groupBy(col("t"), col("sig"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("t"))
      .agg(sum(col("n")).as("n_vectors"),
        count(lit(1)).as("n_buckets"),
        max(col("n")).as("max_bucket"),
        sum(col("n") * lnq(col("n"))).as("sum_nlnn_mn"))
      .withColumn("max_share_bp", expr("(max_bucket * 10000L) DIV n_vectors"))
      .withColumn("entropy_mn",
        lnq(col("n_vectors")) - expr("sum_nlnn_mn DIV n_vectors"))
      .orderBy(col("t"))
  }

  /** DuckDB oracle for embed_lsh_entropy: same literal-plane signature
    * replay as knn_lsh (full width masked to the adaptive width), rolled
    * up to per-table bucket statistics. */
  lazy val embedLshEntropySql: String = {
    import org.apache.spark.sql.graftvec.{LshSignatures => LS}
    def planeList(p: Int): String =
      (0 until Dim).map(i => if (LS.planeSign(p, i) > 0) "1.0" else "-1.0")
        .mkString("[", ",", "]")
    def sigExpr(t: Int): String =
      (0 until LshBitsMax).map { k =>
        val pl = planeList(t * LshBitsMax + k)
        s"""CASE WHEN list_sum(list_transform(embedding,
           |  (x, i) -> CAST(FLOOR(CAST(x AS DOUBLE) * ($pl)[i] * 1e9 + 0.5) AS BIGINT))) > 0
           |  THEN ${1 << k} ELSE 0 END""".stripMargin
      }.mkString("(", " + ", ")")
    val sigSelects = (0 until LshTables).map { t =>
      s"SELECT vec_id, $t AS t, ${sigExpr(t)} AS sig12 FROM e"
    }.mkString("\nUNION ALL\n")
    s"""WITH e AS ($vecsSql),
      |bm AS (SELECT ${lshSigModSql("COUNT(*)")} AS bmod FROM e),
      |sigs12 AS (
      |$sigSelects
      |),
      |sigs AS (SELECT vec_id, t, sig12 % (SELECT bmod FROM bm) AS sig FROM sigs12),
      |b AS (SELECT t, sig, COUNT(*) AS n FROM sigs GROUP BY 1, 2),
      |agg AS (
      |  SELECT t, CAST(SUM(n) AS BIGINT) AS n_vectors, COUNT(*) AS n_buckets,
      |    CAST(MAX(n) AS BIGINT) AS max_bucket,
      |    CAST(SUM(n * CAST(FLOOR(ln(CAST(n AS DOUBLE)) * 1000 + 0.5) AS BIGINT)) AS BIGINT) AS sum_nlnn_mn
      |  FROM b GROUP BY 1)
      |SELECT t, n_vectors, n_buckets, max_bucket,
      |  CAST((max_bucket * 10000) // n_vectors AS BIGINT) AS max_share_bp,
      |  sum_nlnn_mn,
      |  CAST(CAST(FLOOR(ln(CAST(n_vectors AS DOUBLE)) * 1000 + 0.5) AS BIGINT)
      |    - (sum_nlnn_mn // n_vectors) AS BIGINT) AS entropy_mn
      |FROM agg
      |ORDER BY t""".stripMargin
  }

  /** embed_ivf_balance — IVF cell-occupancy census, the coarse-quantizer
    * twin of embed_lsh_entropy: every vector assigned to its rank-1
    * centroid (the knn_ivf assignment, replayed), cell sizes banded
    * GEOMETRY-RELATIVE — against the mean occupancy m = max(N div C, 1)
    * of the adaptive [[ivfCellsFor]] chain, at the quarter/half/1×/2×
    * edges (floor division, so both engines derive the same integer
    * edges from the same COUNT). Fixed absolute bands saturate exactly
    * where the census matters: at 2M vectors / 512 cells every cell sat
    * in a "65+" bucket (IVF_ACTIVE_2M r11) — relative bands keep
    * discriminating at every rung of the chain. Heavy bands (> 2m) mean
    * Nprobe scans too much per probe; a fat ≤ m/4 band means wasted
    * centroids and recall cliffs. `mean_occ` rides along so readers can
    * reconstruct the absolute edges. One broadcast assignment pass + a
    * cells-sized rollup; the scalar total broadcasts back for the
    * share divide. */
  def embedIvfBalance(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    val n = e.count()
    val roster = ivfRoster(e, ivfCellsFor(n))
    // mean occupancy against the ACTUAL roster size (== ivfCellsFor(n)
    // on the dense-id layout at scale, smaller at tiny SF where the
    // id space runs out before 50·C) — both engines count the same
    // sampled-centroid relation.
    val m = math.max(n / roster._1.length, 1L)
    val (t1, t2) = (math.max(m / 4, 1L), math.max(m / 2, 1L))
    val cellSizes = e
      .select(element_at(ivfAssignCol(col("v"), roster, 1), 1).as("cent_id"))
      .groupBy(col("cent_id"))
      .agg(count(lit(1)).as("n"))
    val banded = cellSizes
      .withColumn("band",
        when(col("n") <= t1, "1_le_qtr_mean")
          .when(col("n") <= t2, "2_le_half_mean")
          .when(col("n") <= m, "3_le_mean")
          .when(col("n") <= 2L * m, "4_le_2x_mean")
          .otherwise("5_gt_2x_mean"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_cells"), sum(col("n")).as("n_vectors"))
    val total = banded.agg(sum(col("n_vectors")).as("total_vectors"))
    banded.crossJoin(broadcast(total))
      .withColumn("share_bp",
        expr("(n_vectors * 10000L) DIV greatest(total_vectors, 1L)"))
      .select(col("band"), col("n_cells"), col("n_vectors"), col("share_bp"),
        lit(m).as("mean_occ"))
      .orderBy(col("band"))
  }

  lazy val embedIvfBalanceSql: String = {
    val centDot = dotSql("n.embedding", "c.ce")
    s"""WITH e AS ($vecsSql),
      |$ivfCentsCteSql,
      |asg AS (
      |  SELECT vec_id, cent_id,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cent_cos DESC, cent_id) AS rnk
      |  FROM (
      |    SELECT n.vec_id, c.cent_id,
      |      CAST($centDot AS DOUBLE) / sqrt(CAST(n.nrm AS DOUBLE) * CAST(c.cn AS DOUBLE)) AS cent_cos
      |    FROM e n CROSS JOIN cents c)
      |),
      |cellsz AS (
      |  SELECT cent_id, COUNT(*) AS n FROM asg WHERE rnk = 1 GROUP BY 1
      |),
      |geo AS (
      |  SELECT CAST(GREATEST((SELECT COUNT(*) FROM e)
      |    // (SELECT COUNT(*) FROM cents), 1) AS BIGINT) AS m
      |),
      |banded AS (
      |  SELECT CASE WHEN n <= GREATEST(m // 4, 1) THEN '1_le_qtr_mean'
      |              WHEN n <= GREATEST(m // 2, 1) THEN '2_le_half_mean'
      |              WHEN n <= m THEN '3_le_mean'
      |              WHEN n <= 2 * m THEN '4_le_2x_mean'
      |              ELSE '5_gt_2x_mean' END AS band,
      |    COUNT(*) AS n_cells, CAST(SUM(n) AS BIGINT) AS n_vectors,
      |    CAST(MAX(m) AS BIGINT) AS mean_occ
      |  FROM cellsz, geo GROUP BY 1
      |), tot AS (SELECT CAST(SUM(n_vectors) AS BIGINT) AS total_vectors FROM banded)
      |SELECT band, n_cells, n_vectors,
      |  CAST((n_vectors * 10000) // GREATEST(total_vectors, 1) AS BIGINT) AS share_bp,
      |  mean_occ
      |FROM banded, tot
      |ORDER BY band""".stripMargin
  }

  val DiversityQuota = 8

  /** embed_diversity_sample — cluster-balanced coverage sampling: every
    * vector is assigned to its rank-1 IVF centroid (the knn_ivf coarse
    * quantizer, replayed), then each cell contributes its top-8 members
    * by a deterministic per-id priority (the Knuth multiplicative hash
    * sample_weighted already established engine-portably). Uniform
    * sampling of a skewed corpus over-represents its dense modes; quota
    * per CELL caps any mode at DiversityQuota draws, so the sample
    * covers the embedding space rather than its density peaks — the
    * cluster-balanced curation step of a training-data pipeline (the
    * SemDeDup/coverage-sampling shape), with cell_size riding along so
    * downstream reweighting can undo the flattening where it matters.
    * Scale shape: one O(N×C) broadcast assignment pass + one shuffle on
    * cent_id; the per-cell top-q window sorts only within cells, whose
    * sizes embed_ivf_balance audits. Deterministic end-to-end: stable
    * across runs, engines, and partition layouts. */
  def embedDiversitySample(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    val roster = ivfRoster(e, ivfCellsFor(e.count()))
    val assigned = e.select(
      element_at(ivfAssignCol(col("v"), roster, 1), 1).as("cent_id"),
      col("vec_id"))
    val cellW = Window.partitionBy(col("cent_id"))
    val rankW = cellW.orderBy(col("priority"), col("vec_id"))
    assigned
      .withColumn("priority", pmod(col("vec_id") * lit(2654435761L), lit(1000000007L)))
      .withColumn("cell_size", count(lit(1)).over(cellW))
      .withColumn("cell_rank", row_number().over(rankW))
      .filter(col("cell_rank") <= DiversityQuota)
      .select(col("cent_id"), col("vec_id"), col("cell_rank"), col("cell_size"))
      .orderBy(col("cent_id"), col("cell_rank"))
  }

  lazy val embedDiversitySampleSql: String = {
    val centDot = dotSql("n.embedding", "c.ce")
    s"""WITH e AS ($vecsSql),
      |$ivfCentsCteSql,
      |asg AS (
      |  SELECT vec_id, cent_id,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cent_cos DESC, cent_id) AS rnk
      |  FROM (
      |    SELECT n.vec_id, c.cent_id,
      |      CAST($centDot AS DOUBLE) / sqrt(CAST(n.nrm AS DOUBLE) * CAST(c.cn AS DOUBLE)) AS cent_cos
      |    FROM e n CROSS JOIN cents c)
      |),
      |cells AS (SELECT cent_id, vec_id FROM asg WHERE rnk = 1),
      |pri AS (
      |  SELECT cent_id, vec_id,
      |    (vec_id * 2654435761 % 1000000007) AS priority,
      |    COUNT(*) OVER (PARTITION BY cent_id) AS cell_size
      |  FROM cells
      |)
      |SELECT cent_id, vec_id,
      |  ROW_NUMBER() OVER (PARTITION BY cent_id ORDER BY priority, vec_id) AS cell_rank,
      |  cell_size
      |FROM pri
      |QUALIFY cell_rank <= $DiversityQuota
      |ORDER BY cent_id, cell_rank""".stripMargin
  }

  /** knn_label_purity — neighborhood label agreement: for each query,
    * how many of its top-K exact neighbors carry the query's own label,
    * rolled up per label as a basis-point purity. This is the 1-NN/k-NN
    * classifier eval run BEFORE trusting an embedding for
    * classification or clustering: a label whose members' neighborhoods
    * are mostly other labels is not linearly separated in the space,
    * whatever the training loss said. Same O(Q×N) broadcast discipline
    * as knn_brute (labels ride the corpus row — no extra join against
    * the fact side); per-label rollup over Q·K exact-count rows. */
  def knnLabelPurity(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    val q = e.filter(isQuery(col("vec_id")))
      .select(col("vec_id").as("query_id"), col("label").as("q_label"),
        col("v").as("qv"), col("nrm").as("qn"))
    val corpus = e.select(col("vec_id").as("neighbor_id"),
      col("label").as("n_label"), col("v"), col("nrm"))
    val scored = corpus.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos_sim", qcos(qdot(col("qv"), col("v")), col("qn"), col("nrm")))
    topKPerQuery(scored, col("cos_sim"), K)
      .groupBy(col("q_label"))
      .agg(count_distinct(col("query_id")).as("n_queries"),
        count(lit(1)).as("k_edges"),
        sum(when(col("n_label") === col("q_label"), 1L).otherwise(0L))
          .as("label_matches"))
      .withColumn("purity_bp", expr("(label_matches * 10000L) DIV k_edges"))
      .orderBy(col("q_label"))
  }

  val knnLabelPuritySql: String =
    s"""WITH e AS ($vecsSql),
      |knn AS (
      |  SELECT a.vec_id AS qid, a.label AS q_label, b.label AS n_label,
      |    ROW_NUMBER() OVER (PARTITION BY a.vec_id
      |      ORDER BY CAST($pairDotSql AS DOUBLE) / sqrt(CAST(a.nrm AS DOUBLE) * CAST(b.nrm AS DOUBLE)) DESC,
      |               b.vec_id) AS rk
      |  FROM e a JOIN e b ON a.vec_id % 100 = 0 AND a.vec_id < $QueryCap AND b.vec_id <> a.vec_id
      |  QUALIFY rk <= $K
      |)
      |SELECT q_label,
      |  CAST(COUNT(DISTINCT qid) AS BIGINT) AS n_queries,
      |  COUNT(*) AS k_edges,
      |  CAST(SUM(CASE WHEN n_label = q_label THEN 1 ELSE 0 END) AS BIGINT) AS label_matches,
      |  CAST((CAST(SUM(CASE WHEN n_label = q_label THEN 1 ELSE 0 END) AS BIGINT) * 10000)
      |    // COUNT(*) AS BIGINT) AS purity_bp
      |FROM knn
      |GROUP BY q_label
      |ORDER BY q_label""".stripMargin

  /** knn_mutual_rate — kNN-graph symmetry audit: for each query's top-K
    * edge q→n, is q in n's own top-K (a mutual edge)? Low mutuality
    * flags hub vectors (anisotropy's graph-level symptom): hubs appear
    * in everyone's top-K while reciprocating almost none, and retrieval
    * built on such a graph skews toward them. Two broadcast passes of
    * the knn_brute discipline — forward kNN for the Q queries, reverse
    * kNN for the ≤ Q·K distinct forward neighbors (both query sets
    * bounded and broadcast, corpus streamed, never N×N) — then a
    * Q·K-row edge join. mutual_bp divides non-negative exact longs. */
  def knnMutualRate(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    val corpus = e.select(col("vec_id").as("neighbor_id"), col("v"), col("nrm"))
    val q = e.filter(isQuery(col("vec_id")))
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    val fwd = knnOf(q, corpus, K)
    val revQueries = fwd.select(col("neighbor_id").as("rq")).distinct()
      .join(e, col("rq") === col("vec_id"))
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    val rev = knnOf(revQueries, corpus, K)
      .select(col("query_id").as("r_q"), col("neighbor_id").as("r_n"))
    fwd.join(rev,
        fwd("neighbor_id") === rev("r_q") && fwd("query_id") === rev("r_n"),
        "left_outer")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("k_edges"),
        sum(when(col("r_q").isNotNull, 1L).otherwise(0L)).as("mutual_edges"))
      .withColumn("mutual_bp", expr("(mutual_edges * 10000L) DIV k_edges"))
      .orderBy(col("query_id"))
  }

  val knnMutualRateSql: String =
    s"""WITH e AS ($vecsSql),
      |fwd AS (
      |  SELECT a.vec_id AS qid, b.vec_id AS nid,
      |    ROW_NUMBER() OVER (PARTITION BY a.vec_id
      |      ORDER BY CAST($pairDotSql AS DOUBLE) / sqrt(CAST(a.nrm AS DOUBLE) * CAST(b.nrm AS DOUBLE)) DESC,
      |               b.vec_id) AS rk
      |  FROM e a JOIN e b ON a.vec_id % 100 = 0 AND a.vec_id < $QueryCap AND b.vec_id <> a.vec_id
      |  QUALIFY rk <= $K
      |),
      |rev AS (
      |  SELECT a.vec_id AS qid, b.vec_id AS nid,
      |    ROW_NUMBER() OVER (PARTITION BY a.vec_id
      |      ORDER BY CAST($pairDotSql AS DOUBLE) / sqrt(CAST(a.nrm AS DOUBLE) * CAST(b.nrm AS DOUBLE)) DESC,
      |               b.vec_id) AS rk
      |  FROM e a JOIN e b ON a.vec_id IN (SELECT DISTINCT nid FROM fwd)
      |    AND b.vec_id <> a.vec_id
      |  QUALIFY rk <= $K
      |)
      |SELECT fwd.qid AS query_id,
      |  COUNT(*) AS k_edges,
      |  CAST(SUM(CASE WHEN rev.qid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS mutual_edges,
      |  CAST((CAST(SUM(CASE WHEN rev.qid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) * 10000)
      |    // COUNT(*) AS BIGINT) AS mutual_bp
      |FROM fwd LEFT JOIN rev ON rev.qid = fwd.nid AND rev.nid = fwd.qid
      |GROUP BY fwd.qid
      |ORDER BY query_id""".stripMargin

  /** Similarity floor for [[dedupSemanticDecontaminate]] — the
    * knn_radius τ: low enough to produce a real flagged set on the gate
    * corpus, the production knob a decontamination run tunes upward. */
  val SemDecontTau = 0.35d

  /** dedup_semantic_decontaminate — eval-set decontamination in
    * EMBEDDING space, the semantic complement of the shingle-based
    * dedup_decontaminate: every corpus vector whose cosine to ANY
    * held-out eval embedding (the fixed query batch) reaches
    * [[SemDecontTau]] is flagged with its hit count, nearest eval item
    * and max similarity — the manifest a training run EXCLUDES so
    * benchmark neighbors can't leak in paraphrased form (shingle
    * overlap catches verbatim leakage; embedding similarity catches
    * rewordings). Deterministic nearest tie-break (max cos, then min
    * eval id) on the exact quantized-cosine grid.
    *
    * Scale shape: the eval set is broadcast (bounded, the knn_brute
    * discipline) against one corpus scan — O(N·E) with no shuffle
    * before the flagged-set window, which runs over hits only
    * (∝ contamination, not corpus). */
  def dedupSemanticDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    val ev = e.filter(isQuery(col("vec_id")))
      .select(col("vec_id").as("eval_id"), col("v").as("qv"), col("nrm").as("qn"))
    val hits = e.filter(!isQuery(col("vec_id")))
      .select(col("vec_id"), col("label"), col("v"), col("nrm"))
      .crossJoin(broadcast(ev))
      .withColumn("cos_sim", qcos(qdot(col("qv"), col("v")), col("qn"), col("nrm")))
      .filter(col("cos_sim") >= SemDecontTau)
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cos_sim").desc, col("eval_id"))
    hits
      .withColumn("rn", row_number().over(w))
      .withColumn("n_eval_hits", count(lit(1)).over(Window.partitionBy(col("vec_id"))))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("label"), col("n_eval_hits"),
        col("eval_id").as("nearest_eval_id"), col("cos_sim").as("max_cos"))
      .orderBy(col("vec_id"))
  }

  lazy val dedupSemanticDecontaminateSql: String =
    s"""WITH e AS ($vecsSql),
      |ev AS (SELECT vec_id AS eval_id, embedding, nrm FROM e
      |       WHERE vec_id % 100 = 0 AND vec_id < $QueryCap),
      |hits AS (
      |  SELECT c.vec_id, c.label, ev.eval_id,
      |    CAST(${dotSql("c.embedding", "ev.embedding")} AS DOUBLE)
      |      / sqrt(CAST(c.nrm AS DOUBLE) * CAST(ev.nrm AS DOUBLE)) AS cos_sim
      |  FROM e c CROSS JOIN ev
      |  WHERE NOT (c.vec_id % 100 = 0 AND c.vec_id < $QueryCap)
      |), flagged AS (
      |  SELECT vec_id, label, eval_id, cos_sim,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos_sim DESC, eval_id) AS rn,
      |    COUNT(*) OVER (PARTITION BY vec_id) AS n_eval_hits
      |  FROM hits WHERE cos_sim >= $SemDecontTau
      |)
      |SELECT vec_id, label, CAST(n_eval_hits AS BIGINT) AS n_eval_hits,
      |  eval_id AS nearest_eval_id, cos_sim AS max_cos
      |FROM flagged WHERE rn = 1
      |ORDER BY vec_id""".stripMargin

  /** Truncation widths audited by [[knnTruncationRecall]]. */
  val TruncDims = Seq(8, 16, 32)

  /** knn_truncation_recall — Matryoshka-style truncated-dimension
    * retrieval audit: recall@K and top-1 agreement of exact search over
    * only the FIRST d ∈ [[TruncDims]] dimensions, against full-width
    * exact search. If an embedding holds its retrieval quality when
    * truncated (MRL-trained models are built to), every downstream pass
    * — ANN index, dedup banding, shuffle payload — can run at d/64 of
    * the width; this measures exactly what that truncation costs on THE
    * corpus at hand, per width. embed_rp_distortion asks the same
    * question of a random projection at the cosine level; this asks it
    * of prefix truncation at the retrieval-result level.
    *
    * Scale shape: one broadcast O(Q×N) pass per width (the knn_brute
    * discipline, widths a 3-element constant); counts join on the
    * (query, neighbor) edge key; 3-row output. Degenerate truncations
    * (all-zero prefix) are filtered on BOTH engines before ranking so
    * no NaN ever enters an ORDER BY. */
  def knnTruncationRecall(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = vecs(spark, dir)
    val full = knnBrute(spark, dir)
      .select(col("query_id"), col("neighbor_id"))
    // The three widths' top-K sets union with a trunc_dim tag and share
    // ONE join against the full-width ground truth, and the denominator
    // aggregates full ONCE — the old per-width formulation planned the
    // knnBrute subtree SIX times (3× hit join + 3× denominator), the
    // same repeated-ground-truth disease knn_recall_audit had (r16;
    // guide §2.4). count(neighbor_id) (never null — it is a vec_id)
    // rather than count(1) keeps both full consumers' projections
    // identical so the exchange inside knnBrute stays runtime-reusable.
    val tops = TruncDims.map { d =>
      val ed = e.withColumn("vd", slice(col("v"), 1, d))
        .withColumn("nd", qdot(col("vd"), col("vd")))
        .filter(col("nd") > 0L)
      val q = ed.filter(isQuery(col("vec_id")))
        .select(col("vec_id").as("query_id"), col("vd").as("qv"), col("nd").as("qn"))
      knnOf(q,
        ed.select(col("vec_id").as("neighbor_id"), col("vd").as("v"), col("nd").as("nrm")), K)
        .select(lit(d.toLong).as("trunc_dim"), col("query_id"),
          col("neighbor_id"), col("knn_rank"))
    }.reduce(_ unionAll _)
    val hitsByDim = tops.join(full, Seq("query_id", "neighbor_id"))
      .groupBy(col("trunc_dim"))
      .agg(count(lit(1)).as("n_hits"),
        sum(when(col("knn_rank") === 1, 1L).otherwise(0L)).as("top1_hits"))
    val base = full.agg(countDistinct(col("query_id")).as("n_queries"),
      count(col("neighbor_id")).as("n_edges"))
    // a width with ZERO overlapping edges must still emit its row
    // (n_hits = 0) — drive the output from the literal width list, the
    // knn_recall_audit zero-hit discipline
    TruncDims.map(_.toLong).toDF("trunc_dim")
      .join(hitsByDim, Seq("trunc_dim"), "left")
      .crossJoin(base)
      .select(col("trunc_dim"), col("n_queries"), col("n_edges"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        coalesce(col("top1_hits"), lit(0L)).as("top1_hits"))
      .withColumn("recall",
        col("n_hits").cast("double") / col("n_edges").cast("double"))
      .orderBy(col("trunc_dim"))
  }

  lazy val knnTruncationRecallSql: String = {
    def sliceDot(a: String, b: String, d: Int): String =
      dotSql(s"list_slice($a, 1, $d)", s"list_slice($b, 1, $d)")
    val perDim = TruncDims.map { d =>
      s"""SELECT $d AS trunc_dim, t.query_id, t.neighbor_id, t.knn_rank
        |FROM (
        |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |    ROW_NUMBER() OVER (PARTITION BY a.vec_id
        |      ORDER BY CAST(${sliceDot("a.embedding", "b.embedding", d)} AS DOUBLE)
        |        / sqrt(CAST(a.nd AS DOUBLE) * CAST(b.nd AS DOUBLE)) DESC,
        |        b.vec_id) AS knn_rank
        |  FROM ed a JOIN ed b
        |    ON a.vec_id % 100 = 0 AND a.vec_id < $QueryCap AND b.vec_id <> a.vec_id
        |  WHERE a.d = $d AND b.d = $d
        |) t WHERE t.knn_rank <= $K""".stripMargin
    }.mkString("\nUNION ALL\n")
    val edSelects = TruncDims.map { d =>
      s"""SELECT vec_id, embedding, $d AS d,
        |  ${dotSql(s"list_slice(embedding, 1, $d)", s"list_slice(embedding, 1, $d)")} AS nd
        |FROM embeddings""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH e AS ($vecsSql),
      |ed0 AS (
      |$edSelects
      |),
      |ed AS (SELECT * FROM ed0 WHERE nd > 0),
      |full_knn AS (
      |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
      |    ROW_NUMBER() OVER (PARTITION BY a.vec_id
      |      ORDER BY CAST($pairDotSql AS DOUBLE)
      |        / sqrt(CAST(a.nrm AS DOUBLE) * CAST(b.nrm AS DOUBLE)) DESC,
      |        b.vec_id) AS knn_rank
      |  FROM e a JOIN e b
      |    ON a.vec_id % 100 = 0 AND a.vec_id < $QueryCap AND b.vec_id <> a.vec_id
      |  QUALIFY knn_rank <= $K
      |),
      |fk AS (SELECT query_id, neighbor_id FROM full_knn),
      |base AS (SELECT COUNT(DISTINCT query_id) AS n_queries, COUNT(*) AS n_edges FROM fk),
      |trunc AS (
      |$perDim
      |),
      |hits AS (
      |  SELECT t.trunc_dim, COUNT(*) AS n_hits,
      |    CAST(SUM(CASE WHEN t.knn_rank = 1 THEN 1 ELSE 0 END) AS BIGINT) AS top1_hits
      |  FROM trunc t JOIN fk USING (query_id, neighbor_id)
      |  GROUP BY t.trunc_dim
      |),
      |-- the output is driven from the width list, not the hit set: a
      |-- truncation width with ZERO overlapping edges must still produce
      |-- its row (n_hits = 0), mirroring the Spark side's guaranteed
      |-- one-row-per-TruncDims output in the degenerate zero-recall case
      |dims AS (SELECT unnest([${TruncDims.mkString(", ")}]) AS trunc_dim)
      |SELECT d.trunc_dim, (SELECT n_queries FROM base) AS n_queries,
      |  (SELECT n_edges FROM base) AS n_edges,
      |  COALESCE(h.n_hits, 0) AS n_hits,
      |  COALESCE(h.top1_hits, 0) AS top1_hits,
      |  CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / CAST((SELECT n_edges FROM base) AS DOUBLE) AS recall
      |FROM dims d LEFT JOIN hits h USING (trunc_dim)
      |ORDER BY trunc_dim""".stripMargin
  }

  // embed_rp_distortion geometry: 16 Rademacher projection planes from
  // the shared deterministic family, DISJOINT from the LSH plane ranges
  // (knn_lsh and dedup_embedding both use planes [0, 192)).
  val RpDim = 16
  val RpPlaneBase = 192
  // projection rescale: pj ≤ 64·1e9 on the 1e-9 grid; ÷1e5 keeps every
  // 16-term product-sum exact in int64 (|pjm| ≤ 2²⁰ ⇒ dot ≤ 2⁴⁴)
  val RpScale = 100000d

  /** embed_rp_distortion — Johnson-Lindenstrauss distortion audit of a
    * 64 → 16 sparse random projection (Achlioptas ±1 planes): for every
    * same-label pair within the [[SimHistBand]] id window (the
    * embed_sim_hist pair space), the error |cos₆₄ − cos₁₆| between the
    * original and the projected cosine, bucketed in 25-milli bands.
    * This is the go/no-go measurement for running the CHEAP 16-dim
    * pipeline (4× less shuffle and state in every downstream ANN/dedup
    * pass) — JL says the histogram should concentrate near zero; the
    * tail mass is exactly what a 100 TB operator would trade away.
    *
    * Determinism: projections are quantized plane dots (exact longs,
    * the kernel's 1e-9 grid), rescaled by ⌊pⱼ/1e5⌋ via double FLOOR
    * (pⱼ ≤ 2³⁶ is exact in double) so the 16-term dot/norms are exact
    * int64 on both engines; each cosine is millis-quantized BEFORE the
    * subtraction so the error carrier is an exact integer.
    *
    * Scale shape: 16 qdot kernel calls per row (one projection pass,
    * map-side), the banded self-join is linear in N (each vector joins
    * ≤ band neighbors), and the rollup is a handful of buckets. */
  def embedRpDistortion(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graftvec.{LshSignatures => LS}
    val e = vecs(spark, dir)
    def planeCol(j: Int): Column =
      array((0 until Dim).map(i => lit(LS.planeSign(RpPlaneBase + j, i))): _*)
    val projected = e
      .withColumn("pm", array((0 until RpDim).map(j =>
        floor(qdot(col("v"), planeCol(j)).cast("double") / RpScale).cast("long")): _*))
      // ldot kernel, not a 16-element element_at unroll: combined with
      // the post-join qdot tree the unrolled forest pushed the fused
      // stage's generated method past the code-split threshold (9×
      // slower than interpreted, measured). Same long arithmetic.
      .withColumn("n16",
        org.apache.spark.sql.graftvec.VectorExpressions.ldot(col("pm"), col("pm")))
    val a = projected.select(col("label"), col("vec_id").as("vec_a"),
      col("v").as("va"), col("nrm").as("na"), col("pm").as("pa"), col("n16").as("n16a"))
      .withColumn("band", floor(col("vec_a") / SimHistBand))
    val b = projected.select(col("label"), col("vec_id").as("vec_b"),
      col("v").as("vb"), col("nrm").as("nb"), col("pm").as("pb"), col("n16").as("n16b"))
      .withColumn("band", explode(array(floor(col("vec_b") / SimHistBand),
        floor(col("vec_b") / SimHistBand) - 1)))
    val dot16 =
      org.apache.spark.sql.graftvec.VectorExpressions.ldot(col("pa"), col("pb"))
    a.join(b, Seq("label", "band"))
      .filter(col("vec_a") < col("vec_b") &&
        col("vec_b") - col("vec_a") <= SimHistBand)
      .withColumn("cos64", qcos(qdot(col("va"), col("vb")), col("na"), col("nb")))
      .withColumn("cos16",
        when(col("n16a") > 0L && col("n16b") > 0L,
          dot16.cast("double") / sqrt(col("n16a").cast("double") * col("n16b").cast("double")))
          .otherwise(lit(0d)))
      .withColumn("err_mn",
        abs(floor(col("cos64") * 1000d + 0.5d).cast("long")
          - floor(col("cos16") * 1000d + 0.5d).cast("long")))
      // Select ONLY err_mn before grouping: withColumn would collapse
      // into one Project where err_bucket duplicates the whole
      // cos64/cos16 pair tree (Catalyst inlines column refs on
      // projection collapse, and nothing merges a Project into the
      // Aggregate above it — the boundary makes the per-pair tail
      // evaluate ONCE per pair).
      .select(col("err_mn"))
      .withColumn("err_bucket", expr("err_mn DIV 25"))
      .groupBy(col("err_bucket"))
      .agg(count(lit(1)).as("n_pairs"),
        min(col("err_mn")).as("err_min_mn"),
        max(col("err_mn")).as("err_max_mn"))
      .withColumn("bucket_lo_mn", col("err_bucket") * 25L)
      .select(col("err_bucket"), col("bucket_lo_mn"), col("n_pairs"),
        col("err_min_mn"), col("err_max_mn"))
      .orderBy(col("err_bucket"))
  }

  lazy val embedRpDistortionSql: String = {
    import org.apache.spark.sql.graftvec.{LshSignatures => LS}
    def planeList(j: Int): String =
      (0 until Dim).map(i =>
        if (LS.planeSign(RpPlaneBase + j, i) > 0) "1.0" else "-1.0")
        .mkString("[", ",", "]")
    val pmList = (0 until RpDim).map { j =>
      val pl = planeList(j)
      s"""CAST(FLOOR(CAST(list_sum(list_transform(embedding,
         |  (x, i) -> CAST(FLOOR(CAST(x AS DOUBLE) * ($pl)[i] * 1e9 + 0.5) AS BIGINT)))
         |  AS DOUBLE) / $RpScale) AS BIGINT)""".stripMargin
    }.mkString("[", ",\n", "]")
    s"""WITH e AS ($vecsSql),
      |proj AS (
      |  SELECT vec_id, label, embedding, nrm, $pmList AS pm FROM e
      |), pr AS (
      |  SELECT *, CAST(list_sum(list_transform(pm, x -> x * x)) AS BIGINT) AS n16
      |  FROM proj
      |), pairs AS (
      |  SELECT
      |    CAST(FLOOR(CAST(${dotSql("a.embedding", "b.embedding")} AS DOUBLE)
      |      / sqrt(CAST(a.nrm AS DOUBLE) * CAST(b.nrm AS DOUBLE)) * 1000 + 0.5) AS BIGINT)
      |    - CAST(FLOOR((CASE WHEN a.n16 > 0 AND b.n16 > 0 THEN
      |        CAST(list_sum(list_transform(a.pm, (x, i) -> x * b.pm[i])) AS DOUBLE)
      |          / sqrt(CAST(a.n16 AS DOUBLE) * CAST(b.n16 AS DOUBLE))
      |        ELSE 0.0 END) * 1000 + 0.5) AS BIGINT) AS d_mn
      |  FROM pr a JOIN pr b ON a.label = b.label AND a.vec_id < b.vec_id
      |    AND b.vec_id - a.vec_id <= $SimHistBand
      |)
      |SELECT abs(d_mn) // 25 AS err_bucket,
      |  (abs(d_mn) // 25) * 25 AS bucket_lo_mn,
      |  COUNT(*) AS n_pairs,
      |  CAST(MIN(abs(d_mn)) AS BIGINT) AS err_min_mn,
      |  CAST(MAX(abs(d_mn)) AS BIGINT) AS err_max_mn
      |FROM pairs GROUP BY 1
      |ORDER BY err_bucket""".stripMargin
  }
}
