package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Similarity}

class DedupSpec extends SparkSpec {

  private def plantedPairs(mod: Long, offset: Long): Set[(Long, Long)] =
    spark.read.parquet(s"$sf/documents.parquet")
      .filter(col("doc_id") % mod === 0).select("doc_id")
      .collect().map(_.getLong(0)).map(d => (d, d + offset)).toSet

  private def labelsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Driver-side union-find with min-root labels over the endpoints of
    * `edges`: the reference the connected-components cases compare to. */
  private def unionFindLabels(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.toSeq.map(v => v -> find(v)).toMap
  }

  // two 40-degree stars joined by a hub-hub edge (the double-rewrite
  // path), a chain hanging off one leaf, and a separate component
  private val twoHubGraph: Seq[(Long, Long)] = {
    val star1 = (1L to 40L).map(i => (100L, 100L + i))
    val star2 = (1L to 40L).map(i => (500L, 500L + i))
    val bridge = Seq((100L, 500L))
    val chain = (0L until 5L).map(i => (101L + 60 * i, 101L + 60 * (i + 1)))
    val other = Seq((9000L, 9001L), (9001L, 9002L))
    star1 ++ star2 ++ bridge ++ chain ++ other
  }

  test("dedup_exact: exactly the planted copies, cluster size 2") {
    val res = Dedup.dedupExact(spark, sf).collect()
    val planted = plantedPairs(17, 1000000L)
    assert(res.length === planted.size)
    val found = res.map(r => (r.getAs[Long]("min_doc_id"), r.getAs[Long]("max_doc_id"))).toSet
    assert(found === planted)
    assert(res.forall(_.getAs[Long]("n_docs") === 2L))
  }

  test("dedup_ngram_jaccard: recovers planted near copies with high jaccard") {
    val res = Dedup.dedupNgramJaccard(spark, sf)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val near = plantedPairs(10, 2000000L)
    val recalled = near.count(res.contains)
    assert(recalled >= near.size * 9 / 10, s"recall $recalled/${near.size}")
  }

  test("dedup_minhash: planted near + exact copies recalled >= 90%") {
    val res = Dedup.dedupMinhash(spark, sf)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = plantedPairs(10, 2000000L) ++ plantedPairs(17, 1000000L)
    val recalled = planted.count(res.contains)
    assert(recalled >= planted.size * 9 / 10, s"recall $recalled/${planted.size}")
  }

  test("dedup_simhash: planted near copies recalled, exact copies hamming 0") {
    val res = Dedup.dedupSimhash(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) -> r.getAs[Int]("hamming")).toMap
    val exact = plantedPairs(17, 1000000L)
    val exactRecalled = exact.count(res.contains)
    assert(exactRecalled === exact.size)
    exact.foreach(p => assert(res(p) === 0))
    val near = plantedPairs(10, 2000000L)
    val nearRecalled = near.count(res.contains)
    assert(nearRecalled >= near.size / 2, s"near recall $nearRecalled/${near.size}")
  }

  test("dedup_embedding: symmetric-free pairs, cos within [-1,1]") {
    val res = Similarity.dedupEmbedding(spark, sf).collect()
    assert(res.nonEmpty)
    res.foreach { r =>
      assert(r.getAs[Long]("vec_a") < r.getAs[Long]("vec_b"))
      val c = r.getAs[Double]("cos_sim")
      assert(c >= 0.30 && c <= 1.0 + 1e-9)
    }
  }

  test("dedup_embedding: every true near-dup pair (cos >= 0.9) is recovered") {
    // The gate corpus has no within-label pair above cos 0.47, so PLANT
    // the dup regime: every 10th vector gets a same-label twin with one
    // coordinate nudged (cos ~0.99). Ground truth is then computed HERE
    // with plain floating-point cosine over the written table —
    // independent of the LshSignatures kernel and of the shared-constant
    // oracle — so this test falsifies a bug in the 16-table x 8-bit
    // banding geometry that the oracle compare cannot see.
    val base = spark.read.parquet(s"$sf/embeddings.parquet")
    val twins = base.filter(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 5000000L).as("vec_id"),
        concat(array(element_at(col("embedding"), 1) + lit(0.1f)),
          slice(col("embedding"), 2, 63)).as("embedding"),
        col("label"))
    val dir = tempDir("graft-embrecall")
    base.unionByName(twins).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val raw = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("label").cast("string"),
        transform(col("embedding"), _.cast("double")).as("v"))
      .collect()
      .map { r =>
        val v = r.getSeq[Double](2).toArray
        (r.getLong(0), r.getString(1), v, math.sqrt(v.map(x => x * x).sum))
      }
    val truth = for {
      (ida, la, va, na) <- raw
      (idb, lb, vb, nb) <- raw
      if la == lb && ida < idb
      cos = va.zip(vb).map { case (x, y) => x * y }.sum / (na * nb)
      if cos >= 0.9
    } yield (ida, idb)
    assert(truth.length >= 40, s"planting must create the dup regime; got ${truth.length}")
    val found = Similarity.dedupEmbedding(spark, dir)
      .select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val missed = truth.filterNot(found.contains)
    assert(missed.isEmpty,
      s"banding missed ${missed.length}/${truth.length} true near-dup pairs: ${missed.take(5).mkString(", ")}")
  }

  test("dedup_embedding: a null label is a bucket of its own") {
    // four copies of one vector: two keep its label, two have a null
    // label. Every copy shares every signature, so only the label part
    // of the bucket key keeps the null pair apart from the labelled one
    val x = spark.read.parquet(s"$sf/embeddings.parquet").orderBy(col("vec_id")).limit(1)
    val copies = x.select(col("vec_id"), col("embedding"), col("label"))
      .unionByName(x.select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"), col("label")))
      .unionByName(x.select((col("vec_id") + 2000000L).as("vec_id"), col("embedding"),
        lit(null).cast("int").as("label")))
      .unionByName(x.select((col("vec_id") + 3000000L).as("vec_id"), col("embedding"),
        lit(null).cast("int").as("label")))
    val dir = tempDir("graft-embnull")
    copies.write.parquet(s"$dir/embeddings.parquet")
    val id = x.select(col("vec_id")).head().getLong(0)
    val label = x.select(col("label")).head().getInt(0)
    val got = Similarity.dedupEmbedding(spark, dir)
      .select(col("label"), col("vec_a"), col("vec_b")).collect()
      .map(r => (Option(r.get(0)), r.getLong(1), r.getLong(2))).toSet
    assert(got === Set((Some(label), id, id + 1000000L), (None, id + 2000000L, id + 3000000L)))
  }
  test("connectedComponentsOf: chains and cycles collapse to min label") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L), (22L, 20L))
      .toDF("doc_a", "doc_b")
    val lab = Dedup.connectedComponentsOf(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lab === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("dedup_clusters: exact copies land in their base's cluster") {
    val lab = Dedup.dedupClusters(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    val bases = spark.read.parquet(s"$sf/documents.parquet")
      .filter(col("doc_id") % 17 === 0).select("doc_id")
      .collect().map(_.getLong(0))
    bases.foreach { d =>
      assert(lab.contains(d) && lab.contains(d + 1000000L))
      assert(lab(d + 1000000L) === lab(d))
    }
  }

  test("dedup_canonical: one kept doc per cluster, all corpus docs present") {
    val man = Dedup.dedupCanonical(spark, sf)
    assert(man.count() === Dedup.corpus(spark, sf).count())
    // exactly one kept doc per cluster
    val bad = man.groupBy("cluster_id")
      .agg(sum(when(col("is_kept"), 1).otherwise(0)).as("kept"))
      .filter(col("kept") =!= 1)
    assert(bad.count() === 0)
    // every planted exact copy is dropped (its base doc_id is always
    // smaller; the base itself may lose to an even smaller natural
    // near-dup — doc 391 ≈ doc 260 in the synthetic corpus)
    val bases = spark.read.parquet(s"$sf/documents.parquet")
      .filter(col("doc_id") % 17 === 0).select("doc_id")
      .collect().map(_.getLong(0))
    val kept = man.filter(col("is_kept")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    bases.foreach { d => assert(!kept.contains(d + 1000000L)) }
  }

  test("connectedComponentsOf: empty pair set yields empty labels (no NPE)") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(Dedup.connectedComponentsOf(empty).count() === 0)
  }

  test("dupSpansOf: span length and location pin the copied substring") {
    import spark.implicits._
    val w = (1 to 40).map(i => s"w$i")
    val full = w.mkString(" ")                    // docs 1,2: identical 40 words
    val shared = (1 to 12).map(i => s"s$i")       // docs 3,4: a 12-word common run
    val doc3 = (shared ++ (1 to 20).map(i => s"a$i")).mkString(" ")
    val doc4 = ((1 to 20).map(i => s"b$i") ++ shared).mkString(" ")
    val unique = (1 to 30).map(i => s"u$i").mkString(" ")
    val docs = Seq((1L, full), (2L, full), (3L, doc3), (4L, doc4), (5L, unique))
      .toDF("doc_id", "text")
    val res = Dedup.dupSpansOf(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("longest_span_words"), r.getAs[Long]("longest_span_start"),
          r.getAs[Boolean]("drop_candidate")))).toMap
    // identical docs: the whole 40 words duplicate from position 0 → drop
    assert(res(1L) === ((40L, 0L, true)))
    assert(res(2L) === ((40L, 0L, true)))
    // 12-word shared run: 10 consecutive duplicated shingles → span of
    // 12 words, located at its true offset in each doc, below the
    // 30-word drop bar
    assert(res(3L) === ((12L, 0L, false)))
    assert(res(4L) === ((12L, 20L, false)))
    // the unique doc has no qualifying span at all
    assert(!res.contains(5L))
  }

  test("text_dup_spans: planted exact copies are drop candidates, spans ≥ minimum") {
    val res = Dedup.textDupSpans(spark, sf).collect()
    assert(res.nonEmpty)
    assert(res.forall(_.getAs[Long]("longest_span_words") >= Dedup.MinSpanShingles + 2L))
    // planted full copies (base % 17 == 0, copy = base + 1e6) share their
    // entire text: every long-enough base/copy pair must flag for drop
    val longDocs = spark.read.parquet(s"$sf/documents.parquet")
      .filter(col("doc_id") % 17 === 0)
      .withColumn("nw", size(split(col("text"), " ")))
      .filter(col("nw") >= 40).select("doc_id")
      .collect().map(_.getLong(0))
    val byId = res.map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("drop_candidate")).toMap
    longDocs.foreach { d =>
      assert(byId.getOrElse(d, false), s"base $d should be a drop candidate")
      assert(byId.getOrElse(d + 1000000L, false), s"copy of $d should be a drop candidate")
    }
  }

  test("dupSpansExactOf: exact spans, merged overlaps, period-3 self-repeats") {
    import spark.implicits._
    val shared = (1 to 12).map(i => s"s$i")
    val doc1 = ((1 to 15).map(i => s"a$i") ++ shared).mkString(" ")
    val doc2 = (shared ++ (1 to 15).map(i => s"b$i")).mkString(" ")
    // overlapping duplicated substrings: doc5 holds t1..t15, doc6 holds
    // t6..t20, doc7 holds all of t1..t20 — in doc7 the two overlapping
    // 15-word duplications must merge into ONE maximal 20-word span
    val t = (1 to 20).map(i => s"t$i")
    val doc5 = (t.take(15) ++ (1 to 12).map(i => s"c$i")).mkString(" ")
    val doc6 = ((1 to 12).map(i => s"d$i") ++ t.drop(5)).mkString(" ")
    val doc7 = t.mkString(" ")
    // period-3 self-repeat: "x y z" × 12 = 36 words; every 10-window
    // recurs within the doc itself (Lee et al. dedup self-repeats too)
    val doc8 = Seq.fill(12)("x y z").mkString(" ")
    val unique = (1 to 30).map(i => s"u$i").mkString(" ")
    val docs = Seq((1L, doc1), (2L, doc2), (5L, doc5), (6L, doc6),
      (7L, doc7), (8L, doc8), (9L, unique)).toDF("doc_id", "text")
    val res = Dedup.dupSpansExactOf(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_dup_spans"), r.getAs[Long]("longest_span_words"),
          r.getAs[Long]("longest_span_start"), r.getAs[Boolean]("drop_candidate")))).toMap
    // the 12-word shared substring: one span, exact length and offset
    assert(res(1L) === ((1L, 12L, 15L, false)))
    assert(res(2L) === ((1L, 12L, 0L, false)))
    // overlap merge: doc7 reports ONE 20-word span covering both copies
    assert(res(7L) === ((1L, 20L, 0L, false)))
    assert(res(5L)._2 === 15L && res(6L)._2 === 15L)
    // self-repeat: the whole 36-word doc is one duplicated span → drop
    assert(res(8L) === ((1L, 36L, 0L, true)))
    assert(!res.contains(9L))
  }

  test("dupSpansExactOf kills the phantom chain dupSpansOf reports") {
    import spark.implicits._
    // doc 100 is stitched from 3-word pieces, each duplicated in a
    // DIFFERENT donor doc; no 10-word window of it exists anywhere else
    val p = (1 to 12).map(i => s"p$i")
    val stitched = p.mkString(" ")
    val donors = (0 to 9).map { i =>
      (200L + i, ((1 to 8).map(j => s"f${i}_$j") ++ p.slice(i, i + 3)).mkString(" "))
    }
    val docs = ((100L, stitched) +: donors).toDF("doc_id", "text")
    // the 3-shingle approximation chains the independently-duplicated
    // pieces into a phantom 12-word span…
    val approx = Dedup.dupSpansOf(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("longest_span_words")).toMap
    assert(approx(100L) === 12L)
    // …the exact op reports nothing: no whole 10-word window recurs
    val exact = Dedup.dupSpansExactOf(docs).collect()
    assert(exact.isEmpty)
  }

  test("shinglesKHashedSeq kernel matches the portable polyhash of the joined window") {
    import spark.implicits._
    val df = Seq((1 to 14).map(i => s"m$i").mkString(" ")).toDF("text")
      .withColumn("ws", graft.functions.TextFunctions.words(col("text")))
    val k = 10
    val kernel = df.select(
      org.apache.spark.sql.graftvec.StringExpressions.shinglesKHashedSeq(col("ws"), k).as("hs"))
      .collect()(0).getSeq[Long](0)
    def polyhash(s: String): Long =
      s.getBytes("UTF-8").foldLeft(0L)((a, b) => (a * 131L + (b & 0xFF)) % 1000000007L)
    val ws = df.select("ws").collect()(0).getSeq[String](0)
    val oracle = (0 to ws.length - k).map(i => polyhash(ws.slice(i, i + k).mkString("_")))
    assert(kernel.length === 5)
    assert(kernel === oracle)
  }

  test("connectedComponentsOf: 256-node path converges in O(log n) rounds, not diameter") {
    import spark.implicits._
    // worst case for min-label propagation: a path needs diameter
    // rounds (255 here); star contraction must stay logarithmic
    val path = (0L until 255L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val (labels, stats) = Dedup.componentsWithStats(path)
    val lab = labelsOf(labels)
    assert(lab.size === 256 && lab.values.forall(_ === 0L))
    assert(stats.rounds <= 16, s"expected O(log 256) star rounds, got ${stats.rounds}")
  }

  test("connectedComponentsOf: random graphs match driver-side union-find") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 3) {
      val n = 60
      val edges = (1 to 120).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      val got = labelsOf(Dedup.connectedComponentsOf(edges.toDF("doc_a", "doc_b")))
      assert(got === unionFindLabels(edges), s"trial $trial")
    }
  }

  test("connectedComponentsOf: high-degree node splitting is semantically invisible") {
    import spark.implicits._
    // with the threshold lowered both hubs of the two-hub graph must
    // split, and the labels must be bit-identical to the unsplit run
    val edges = twoHubGraph.toDF("doc_a", "doc_b")
    val (unsplit, unsplitStats) = Dedup.componentsWithStats(edges)
    val want = labelsOf(unsplit)
    assert(unsplitStats.splitHubs === 0) // default threshold
    val (split, stats) = Dedup.componentsWithStats(edges, splitDegree = 8)
    val got = labelsOf(split)
    assert(stats.splitHubs >= 2, "both hubs must split")
    assert(got === want, "split run must match unsplit labels exactly")
    assert(got.keys.forall(_ <= 9002L), "no virtual scaffolding in output")
  }

  test("connectedComponentsOf: fan-capped splitting iterates and stays invisible") {
    import spark.implicits._
    // a 64-degree star with threshold 4 and fan cap 2: one split round
    // leaves ~32-degree virtual nodes, so the pass must iterate (the
    // 10⁹-degree scenario in miniature) and still label exactly
    val star = (1L to 64L).map(i => (7L, 100L + i))
    val tail = Seq((164L, 200L), (200L, 201L)) // hang a path off a leaf
    val edges = (star ++ tail).toDF("doc_a", "doc_b")
    val want = labelsOf(Dedup.connectedComponentsOf(edges))
    val (split, stats) = Dedup.componentsWithStats(edges, splitDegree = 4, fanCap = 2)
    val got = labelsOf(split)
    assert(stats.splitHubs > 1,
      "fan cap 2 must force multiple split rounds (cumulative hubs > 1)")
    assert(got === want, "iterated split must match unsplit labels exactly")
    assert(got.keys.forall(_ <= 201L), "no virtual scaffolding in output")
  }

  test("connectedComponentsOf: narrow census fast path engages and splits exactly") {
    import spark.implicits._
    // force the pigeonhole fast path: repartition(2) keeps the edge RDD
    // at 2 partitions, so localT = 256/2 = 128 ≥ 64 — the production
    // census geometry on a spec-sized graph. A 400-leaf star (degree
    // 400 > 256) must be found by the per-partition candidate scan and
    // split via the broadcast rewrite, with labels identical to the
    // unsplit run; the disjoint path must stay untouched.
    val star = (1L to 400L).map(i => (5L, 1000L + i))
    val path = (0L until 4L).map(i => (8000L + i, 8001L + i))
    val edges = (star ++ path).toDF("doc_a", "doc_b").repartition(2)
    val want = labelsOf(Dedup.connectedComponentsOf(edges))
    val (split, stats) = Dedup.componentsWithStats(edges, splitDegree = 256)
    val got = labelsOf(split)
    assert(stats.splitHubs >= 1, "the 400-degree hub must split")
    assert(stats.splitRounds >= 1)
    assert(got === want, "fast-path split must match unsplit labels exactly")
    assert(got.keys.forall(_ <= 8004L), "no virtual scaffolding in output")
  }

  test("connectedComponentsOf: hubless graph above the edge guard skips splitting via the narrow census") {
    import spark.implicits._
    // 400 edges > threshold 256 arms the census, but max degree is 2 —
    // the per-partition scan must find zero candidates (no shuffle, no
    // split round) and labels must be the plain path contraction
    val path = (0L until 400L).map(i => (i, i + 1))
    val edges = path.toDF("doc_a", "doc_b").repartition(2)
    val (labels, stats) = Dedup.componentsWithStats(edges, splitDegree = 256)
    val lab = labelsOf(labels)
    assert(stats.splitHubs === 0, "no hub may be reported")
    assert(stats.splitRounds === 0)
    assert(lab.size === 401 && lab.values.forall(_ === 0L))
  }

  test("componentsWithStats: two concurrent calls each get their own stats") {
    import spark.implicits._
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val path = (0L until 255L).map(i => (i, i + 1))
    val pathDf = path.toDF("doc_a", "doc_b")
    val hubDf = twoHubGraph.toDF("doc_a", "doc_b")
    def pathCall() = { val (l, s) = Dedup.componentsWithStats(pathDf); (labelsOf(l), s) }
    def hubCall() = {
      val (l, s) = Dedup.componentsWithStats(hubDf, splitDegree = 8); (labelsOf(l), s)
    }
    val (_, pathAlone) = pathCall()
    val (_, hubAlone) = hubCall()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
      val pathF = Future(pathCall())
      val hubF = Future(hubCall())
      val (pathLab, pathStats) = Await.result(pathF, 5.minutes)
      val (hubLab, hubStats) = Await.result(hubF, 5.minutes)
      assert(pathStats === pathAlone)
      assert(hubStats === hubAlone)
      assert(pathStats.splitHubs === 0)
      assert(pathStats.rounds <= 16, s"expected O(log 256) star rounds, got ${pathStats.rounds}")
      assert(hubStats.splitHubs >= 2, "both hubs must split")
      assert(pathLab === unionFindLabels(path))
      assert(hubLab === unionFindLabels(twoHubGraph))
    } finally pool.shutdown()
  }

  test("connectedComponentsOf: candidate-cap overflow pays the exact census and labels stay exact") {
    import spark.implicits._
    // adversarial near-threshold degree distribution: 40 medium nodes
    // of global degree 128 (= splitT, NOT hubs) scatter local degrees
    // around localT = 128/2 = 64 across the 2 partitions — pigeonhole
    // candidates by the dozen — plus one true 340-degree hub. With the
    // per-partition candidate cap forced to 2 the emission overflows,
    // so the round must fall back to the full exact census (the driver
    // sees only the hub roster, never the candidate flood), still
    // split the true hub, and label exactly.
    val medium = (0 until 40).flatMap { i =>
      val m = 1000L + i
      (0 until 127).map(j => (m, 100000L + i * 1000L + j)) :+ ((m, 5L))
    }
    val hubStar = (0 until 300).map(j => (5L, 500000L + j))
    val path = (0L until 4L).map(i => (8000L + i, 8001L + i))
    val edges = (medium ++ hubStar ++ path).toDF("doc_a", "doc_b").repartition(2)
    val want = labelsOf(Dedup.connectedComponentsOf(edges))
    val (split, stats) =
      Dedup.componentsWithStats(edges, splitDegree = 128, censusCandCap = 2)
    val got = labelsOf(split)
    assert(stats.censusOverflows >= 1, "overflow must pay the exact census")
    assert(stats.censusCands === 0,
      "no candidate flood may reach the driver on the overflow path")
    assert(stats.splitHubs >= 1, "the true hub must still split")
    assert(got === want, "overflow-path labels must match the unsplit run exactly")
    assert(got.keys.forall(_ <= 500299L), "no virtual scaffolding in output")
    // same graph, default cap: the narrow path must carry it — the
    // bounded collect holds the ~41 candidates, the exact count
    // kills the 40 mediums (global degree = splitDegree, not above),
    // and labels are unchanged
    val (split2, stats2) = Dedup.componentsWithStats(edges, splitDegree = 128)
    val got2 = labelsOf(split2)
    assert(stats2.censusOverflows === 0, "default cap must never overflow here")
    assert(stats2.censusCands >= 1)
    assert(stats2.censusCands <= 2 * 41,
      "collect must be bounded by the real candidate population")
    assert(stats2.splitHubs >= 1)
    assert(got2 === want)
  }

  test("dedup_containment: thresholds hold and every planted exact copy is a containment-1.0 pair") {
    val res = Dedup.dedupContainment(spark, sf).collect()
    assert(res.nonEmpty)
    res.foreach { r =>
      val c = r.getAs[Double]("containment")
      val j = r.getAs[Double]("jaccard")
      assert(c >= 0.8d && c <= 1.0d + 1e-12)
      assert(c >= j, "containment dominates jaccard by definition")
      assert(math.min(r.getAs[Long]("n_a"), r.getAs[Long]("n_b")) >= 5L)
    }
    // exact copies (mod-17 plants) are containment-1.0 pairs by
    // construction — all must be recovered (ngram deletion junctions
    // make the mod-10 plants only PARTIALLY containment-eligible; the
    // oracle pins that boundary exactly, so no recall floor here)
    val exact = plantedPairs(17, 1000000L)
    val found = res.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    val missed = exact.diff(found)
    assert(missed.isEmpty, s"exact copies missing from containment: $missed")
    exact.foreach { p =>
      val r = res.find(x => (x.getAs[Long]("doc_a"), x.getAs[Long]("doc_b")) == p).get
      assert(r.getAs[Double]("containment") === 1.0d, s"pair $p")
    }
  }

  test("dedup_containment: catches a full quote inside a superset that jaccard misses") {
    import spark.implicits._
    val quote = (0 until 30).map(i => s"alpha$i").mkString(" ")
    val extra = (0 until 100).map(i => s"extra$i").mkString(" ")
    // doc 2 quotes doc 1 whole; doc 3 shares doc 2's extra content so
    // the extra shingles stay in the rare (df >= 2) space
    val docs = Seq((1L, quote), (2L, s"$quote $extra"), (3L, extra))
      .toDF("doc_id", "text")
    val res = Dedup.containmentPairsOf(docs).collect()
    val ab = res.find(r => r.getAs[Long]("doc_a") == 1L && r.getAs[Long]("doc_b") == 2L)
    assert(ab.isDefined, s"the quote pair must be found (got ${res.toSeq})")
    assert(ab.get.getAs[Double]("containment") === 1.0d)
    assert(ab.get.getAs[Double]("jaccard") < 0.35d,
      "this pair is invisible to the dedup_ngram_jaccard threshold")
  }


  test("ScaleGen containment plants: scaled data yields exactly the planted quote-in-superset pairs") {
    // factor-2 scale-up of sf0.001 into a temp dir; the plants must be
    // recovered by dedup_containment at the SCALED data (the round-9
    // gap: fan-out df growth silenced the op at sf10)
    val dst = java.nio.file.Files.createTempDirectory("graft-scalegen").toString
    graft.tools.ScaleGen.run(spark, sf, dst, 2)
    val nSrc = spark.read.parquet(s"$sf/documents.parquet").count()
    val docs = spark.read.parquet(s"$dst/documents.parquet")
    assert(docs.count() === nSrc * 2 + 3L * graft.tools.ScaleGen.PlantFamilies)
    val base = docs.filter(col("source") === "plant")
      .agg(min(col("doc_id"))).head.getLong(0)
    val res = Dedup.dedupContainment(spark, dst).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Double]("containment"), r.getAs[Double]("jaccard")))
    (0 until graft.tools.ScaleGen.PlantFamilies).foreach { i =>
      val (q, a, b) = (base + 3L * i, base + 3L * i + 1, base + 3L * i + 2)
      Seq(a, b).foreach { sup =>
        val hit = res.find(t => t._1 == q && t._2 == sup)
        assert(hit.isDefined, s"planted containment pair ($q, $sup) not recovered")
        assert(hit.get._3 === 1.0d, s"containment of ($q, $sup)")
        assert(hit.get._4 < 0.35d, "the pair class jaccard can't see")
      }
      // the superset twins are rare-space near-dups (their private
      // boundary shingles are df 1 — invisible to the rarity window —
      // unless a corpusOf %10/%17 copy of that very doc rescues them)
      val ab = res.find(t => t._1 == a && t._2 == b)
      assert(ab.isDefined && ab.get._4 >= 0.8d, s"planted near-dup pair ($a, $b): $ab")
      val jac = Dedup.dedupNgramJaccard(spark, dst)
        .filter(col("doc_a") === a && col("doc_b") === b).count()
      assert(jac === 1L, s"planted jaccard pair ($a, $b)")
    }
    // plant shingle df stays inside the rarity window after ANOTHER step
    // (the property that makes these plants scale-surviving): 2 copies
    // of Q/A/B each → df ≤ 6 + corpus-expansion copies, well under 50.
    // Asserted structurally: every plant pair above came FROM the scaled
    // corpus, so the window did not drop them.
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dst))
  }

  test("dedup_survivorship: conserves the corpus; every source shows plant-driven drops") {
    val res = Dedup.dedupSurvivorship(spark, sf).collect()
    val nCorpus = Dedup.corpus(spark, sf).count()
    assert(res.map(_.getAs[Long]("n_docs")).sum === nCorpus, "per-source docs partition the corpus")
    res.foreach { r =>
      val (n, k) = (r.getAs[Long]("n_docs"), r.getAs[Long]("n_kept"))
      assert(k >= 1L && k <= n)
      assert(r.getAs[Long]("chars_kept") <= r.getAs[Long]("chars_total"))
      assert(r.getAs[Long]("docs_kept_bp") <= 10000L)
      assert(r.getAs[Long]("chars_kept_bp") <= 10000L)
      // the mod-17 exact plants guarantee every populous source drops docs
      if (n >= 17L) assert(k < n, s"source ${r.getAs[String]("source")} shows no dedup at all")
    }
  }
}
