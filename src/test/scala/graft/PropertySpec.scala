package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.cdc.CdcOps
import graft.core.Skew

/** Property-style invariants on ScalaCheck-generated data (raw Gen with
  * fixed seeds — no scalatest bridge in the dependency set). */
class PropertySpec extends SparkSpec {

  private def sample[A](g: Gen[A], seed: Long): A =
    g.pureApply(Gen.Parameters.default, Seed(seed))

  private val vecGen: Gen[List[Double]] =
    Gen.listOfN(16, Gen.chooseNum(-10.0, 10.0))

  test("search_sorted equals the when-chain fold for random bounds and keys") {
    import spark.implicits._
    import org.apache.spark.sql.graftvec.SearchSortedExpressions.searchSorted
    val boundsGen = Gen.nonEmptyListOf(Gen.chooseNum(-1000.0, 1000.0))
    val keyGen = Gen.listOfN(300, Gen.chooseNum(-1100.0, 1100.0))
    for (seed <- 1 to 3) {
      val bounds = sample(boundsGen, seed).distinct.sorted.toArray
      // keys include every boundary exactly (ties must rank low side)
      val keys = (sample(keyGen, seed + 50) ++ bounds).zipWithIndex
        .map { case (k, i) => (i.toLong, k) }
      val df = keys.toDF("id", "k")
      val got = df.select(col("id"), searchSorted(col("k"), bounds).as("s"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val fold = bounds.foldLeft(lit(0)) { (acc, b) =>
        acc + when(col("k") > lit(b), 1).otherwise(0)
      }.cast("long")
      val want = df.select(col("id"), fold.as("s"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === want, s"seed $seed (${bounds.length} bounds)")
    }
  }

  test("chunk_hashes partitions the payload exactly for random sizes") {
    import spark.implicits._
    import org.apache.spark.sql.graftvec.ChunkExpressions.chunkHashes
    val textGen = Gen.chooseNum(0, 700).flatMap(n => Gen.stringOfN(n, Gen.alphaNumChar))
    for ((seed, cb) <- Seq((1, 7), (2, 64), (3, 256))) {
      val texts = (1 to 30).map(i => (i.toLong, sample(textGen, seed * 100 + i)))
      val df = texts.toDF("id", "p")
      val rows = df.select(col("id"),
          explode(chunkHashes(col("p").cast("binary"), cb)).as("c"))
        .select(col("id"), col("c.chunk_i"), col("c.chunk_bytes"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      val byId = rows.groupBy(_._1)
      texts.foreach { case (id, t) =>
        val n = t.getBytes("UTF-8").length
        val expected = (n + cb - 1) / cb
        val got = byId.getOrElse(id, Array.empty).sortBy(_._2)
        assert(got.length === expected, s"id $id n $n cb $cb")
        // indices contiguous, sizes exact: full chunks then the remainder
        assert(got.map(_._2).toSeq === (0L until expected.toLong))
        assert(got.map(_._3).sum === n)
        got.dropRight(1).foreach(c => assert(c._3 === cb))
      }
    }
  }

  test("qdot equals the quantized reference sum for random vectors") {
    import spark.implicits._
    val pairs = (1 to 10).map(i => (sample(vecGen, i), sample(vecGen, i + 1000)))
    val got = pairs.toDF("a", "b")
      .select(org.apache.spark.sql.graftvec.VectorExpressions.qdot(col("a"), col("b")).as("d"))
      .collect().map(_.getLong(0))
    pairs.zip(got).foreach { case ((a, b), g) =>
      val expected = a.zip(b).map { case (x, y) => math.floor(x * y * 1e9 + 0.5).toLong }.sum
      assert(g === expected)
    }
  }

  test("latestStateOf picks the max-offset row for every key (random logs)") {
    import spark.implicits._
    val logGen = Gen.nonEmptyListOf(for {
      k <- Gen.chooseNum(1L, 5L)
      off <- Gen.chooseNum(1L, 1000L)
      v <- Gen.chooseNum(-100.0, 100.0)
    } yield (k, off, v))
    for (seed <- 1 to 5) {
      val uniq = sample(logGen, seed).groupBy(r => (r._1, r._2)).map(_._2.head).toList
      val got = CdcOps.latestStateOf(uniq.toDF("k", "off", "v"), "k", "off", Seq("v"))
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      val expected = uniq.groupBy(_._1).map { case (k, rs) =>
        val m = rs.maxBy(_._2); k -> ((m._2, m._3))
      }
      assert(got === expected, s"seed $seed")
    }
  }

  test("simhash64 is order-invariant; minhash_bands are order-invariant and subset-bounded") {
    import spark.implicits._
    import org.apache.spark.sql.graftvec.MinHashExpressions._
    val wordsGen = Gen.nonEmptyListOf(Gen.oneOf("alpha", "beta", "gamma", "delta", "epsilon"))
    for (seed <- 1 to 5) {
      val ws = sample(wordsGen, seed)
      val perm = sample(wordsGen, seed) // same multiset, then shuffled below
      val shuffled = scala.util.Random.javaRandomToRandom(new java.util.Random(seed)).shuffle(perm)
      val df = Seq((ws, shuffled)).toDF("a", "b")
        .select(simhash64(col("a"), 100).as("sa"), simhash64(col("b"), 100).as("sb"))
        .collect()(0)
      // SimHash is a bag-of-words sketch: word order cannot change it
      assert(df.getLong(0) === df.getLong(1), s"seed $seed")
    }
    val hsGen = Gen.nonEmptyListOf(Gen.chooseNum(0L, 1000000006L))
    for (seed <- 1 to 5) {
      val hs = sample(hsGen, seed)
      val shuffled = scala.util.Random.javaRandomToRandom(new java.util.Random(seed)).shuffle(hs)
      val r = Seq((hs, shuffled, hs ++ shuffled)).toDF("a", "b", "u")
        .select(minhashBands(col("a"), 64, 32, 0).as("ba"),
          minhashBands(col("b"), 64, 32, 0).as("bb"),
          minhashBands(col("u"), 64, 32, 0).as("bu"))
        .collect()(0)
      assert(r.getSeq[Long](0) === r.getSeq[Long](1), s"seed $seed order")
      // a ∪ a-permuted has the same distinct set -> identical bands
      assert(r.getSeq[Long](0) === r.getSeq[Long](2), s"seed $seed union")
    }
  }

  test("sorted_pairs emits exactly C(n,2) pairs of the distinct set (random arrays)") {
    import spark.implicits._
    import graft.operators.Dedup
    val dsGen = Gen.listOfN(12, Gen.chooseNum(1L, 8L))
    for (seed <- 1 to 8) {
      val ds = sample(dsGen, seed)
      // one bucket holding the whole array, repeats included
      val rows = Dedup.bucketPairs(ds.map(id => (0L, id)).toDF("k", "doc_id"), col("k"), 1, ds.size)
        .as[(Long, Long)].collect()
      val d = ds.distinct.sorted
      val expected = for { i <- d.indices; j <- i + 1 until d.size } yield (d(i), d(j))
      assert(rows.length === d.size * (d.size - 1) / 2, s"seed $seed")
      assert(rows.toSeq.sorted === expected.sorted, s"seed $seed")
    }
  }

  /** Every pair a < b of the distinct non-null ids of each bucket whose
    * row count (repeats and nulls included) is in [minSz, maxSz]. */
  private def refBucketPairs(rows: Seq[(Long, Option[Long])], minSz: Int, maxSz: Int): Seq[(Long, Long)] =
    rows.groupBy(_._1).values.toSeq
      .filter(run => run.size >= minSz && run.size <= maxSz)
      .flatMap { run =>
        val d = run.flatMap(_._2).distinct.sorted
        for { i <- d.indices; j <- i + 1 until d.size } yield (d(i), d(j))
      }.sorted

  test("bucketPairs equals collect_capped + sorted_pairs per bucket (random multisets)") {
    import spark.implicits._
    import graft.operators.Dedup
    // hot keys (runs around the cap, repeated ids) among rare ones (singletons);
    // the reference is plain Scala over the same rows
    val keyGen = Gen.frequency(4 -> Gen.chooseNum(0L, 30L), 1 -> Gen.chooseNum(100L, 600L))
    val idGen = Gen.frequency(30 -> Gen.chooseNum(0L, 40L).map(Option(_)), 1 -> Gen.const(None))
    val rowsGen = Gen.listOfN(500, Gen.zip(keyGen, idGen))
    for (seed <- 1 to 6) {
      val maxSz = 10 + seed % 4
      val rows = sample(rowsGen, seed)
      val got = Dedup.bucketPairs(rows.toDF("k", "doc_id"), col("k"), 2, maxSz)
        .as[(Long, Long)].collect().sorted.toSeq
      val sizes = rows.groupBy(_._1).values.map(_.size)
      assert(sizes.exists(_ > maxSz) && sizes.exists(n => n >= 2 && n <= maxSz), s"seed $seed")
      val want = refBucketPairs(rows, 2, maxSz)
      assert(want.nonEmpty && got === want, s"seed $seed")
    }
  }

  test("interSizePairsOf(rareShingleGroupsOf) equals plain-Scala inter, sizes and Jaccard (random multisets)") {
    import spark.implicits._
    import graft.operators.Dedup
    import Ordering.Double.TotalOrdering
    val cap = Dedup.ShingleFreqCap
    // skewed shingles over few docs; a (doc, h) row may repeat, and a
    // repeat counts toward the shingle's document frequency
    val hGen = Gen.frequency(3 -> Gen.chooseNum(0L, 40L), 1 -> Gen.chooseNum(1000L, 1300L))
    val rowsGen = Gen.listOfN(600, Gen.zip(Gen.chooseNum(0L, 60L), hGen))
    for (seed <- 1 to 4) {
      // one shingle held by exactly cap docs (kept) and one by cap + 1 (dropped)
      val atCap = (0L until cap.toLong).map(d => (d, 900001L))
      val pastCap = (0L to cap.toLong).map(d => (d + 5, 900002L))
      val rows = sample(rowsGen, seed) ++ atCap ++ pastCap
      val got = Dedup.interSizePairsOf(Dedup.rareShingleGroupsOf(rows.toDF("doc_id", "h")))
        .select(col("doc_a"), col("doc_b"), col("inter"), col("n_a"), col("n_b"), col("jaccard"))
        .as[(Long, Long, Long, Long, Long, Double)].collect().sorted.toSeq
      val rareByH = rows.groupBy(_._2)
        .filter { case (_, run) => run.size >= 2 && run.size <= cap }
        .map { case (h, run) => h -> run.map(_._1).distinct.sorted }
      assert(rareByH.get(900001L).map(_.size).contains(cap) && !rareByH.contains(900002L),
        s"seed $seed")
      val rare = rareByH.values.toSeq
      val size = rare.flatten.groupBy(identity).map { case (d, hs) => d -> hs.size.toLong }
      val inter = rare.flatMap(ds => for { i <- ds.indices; j <- i + 1 until ds.size } yield (ds(i), ds(j)))
        .groupBy(identity).map { case (p, n) => p -> n.size.toLong }
      val want = inter.toSeq.map { case ((a, b), n) =>
        val (na, nb) = (size(a), size(b))
        (a, b, n, na, nb, n.toDouble / (na + nb - n))
      }.sorted
      assert(want.nonEmpty && got === want, s"seed $seed")
    }
  }

  test("topKPerQuery equals a plain-Scala sort by (-score, neighbor_id) per query (planted ties)") {
    import spark.implicits._
    import graft.operators.Similarity
    val k = 5
    // few distinct scores, so exact ties are common; query ids above 40
    // hold fewer than k rows
    val rowGen = for {
      q <- Gen.frequency(6 -> Gen.chooseNum(0L, 40L), 1 -> Gen.chooseNum(41L, 80L))
      n <- Gen.chooseNum(0L, 300L)
      s <- Gen.chooseNum(1, 12)
    } yield (q, n, s)
    for (seed <- 1 to 6) {
      // one row per (query, neighbor), as every kNN path scores, plus one
      // query whose seven rows tie on score across the rank-k boundary
      val rows = (sample(Gen.listOfN(500, rowGen), seed)
        .filter(r => r._1 <= 40L || r._2 % 50 == 0)
        .groupBy(r => (r._1, r._2)).values.map(_.head).toSeq
        ++ (0L until 7L).map(n => (999L, 100L - n, 3)))
      val byQuery = rows.groupBy(_._1)
      assert(byQuery.values.exists(_.size < k) && byQuery.values.exists(_.size > k), s"seed $seed")
      assert(byQuery.values.exists(rs => rs.map(_._3).distinct.size < rs.size), s"seed $seed")
      def want(order: ((Long, Long, Int)) => (Int, Long)): Set[(Long, Long, Int)] =
        byQuery.values.flatMap(_.sortBy(order).take(k).zipWithIndex
          .map { case (r, i) => (r._1, r._2, i + 1) }).toSet
      // a cosine ranks highest first
      val cos = rows.map(r => (r._1, r._2, r._3 / 8.0)).toDF("query_id", "neighbor_id", "cos_sim")
      val gotCos = Similarity.topKPerQuery(cos, col("cos_sim"), k)
        .select("query_id", "neighbor_id", "knn_rank").as[(Long, Long, Int)].collect().toSet
      assert(gotCos === want(r => (-r._3, r._2)), s"seed $seed")
      // a distance ranks nearest first through its negation, the ADC shortlist's order
      val adc = rows.map(r => (r._1, r._2, r._3.toLong * 1000000007L)).toDF("query_id", "neighbor_id", "adc_d2")
      val gotAdc = Similarity.topKPerQuery(adc, -col("adc_d2"), k)
        .select("query_id", "neighbor_id", "knn_rank").as[(Long, Long, Int)].collect().toSet
      assert(gotAdc === want(r => (r._3, r._2)), s"seed $seed")
    }
  }

  test("saltedJoin is equivalent to plain join for any salt count (random data)") {
    import spark.implicits._
    val bigGen = Gen.nonEmptyListOf(Gen.zip(Gen.chooseNum(1L, 4L), Gen.chooseNum(0, 100)))
    val smallGen = Gen.nonEmptyListOf(Gen.zip(Gen.chooseNum(1L, 6L), Gen.alphaStr.map(_.take(4))))
    for (seed <- 1 to 5) {
      val big = sample(bigGen, seed)
      val small = sample(smallGen, seed + 500).distinctBy(_._1)
      val salts = (seed % 7) + 1
      val b = big.toDF("k", "payload")
      val s = small.toDF("k", "name")
      val plain = b.join(s, Seq("k")).collect().map(_.toSeq).toList.sortBy(_.toString)
      val salted = Skew.saltedJoin(b, s, Seq("k"), salts)
        .collect().map(_.toSeq).toList.sortBy(_.toString)
      assert(salted === plain, s"seed $seed salts $salts")
    }
  }

  test("piiScrubOf is idempotent and count-consistent on random PII-laced text") {
    import spark.implicits._
    val word = Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString.take(8))
    val piiBit = Gen.oneOf(
      word.map(w => s"$w@example.com"),
      Gen.chooseNum(0, 255).map(n => s"10.0.$n.1"),
      Gen.chooseNum(0, 9999).map(n => f"555-$n%04d"))
    val docGen = Gen.listOfN(6, Gen.oneOf(word, piiBit)).map(_.mkString(" "))
    val docs = (1 to 30).map(i => (i.toLong, sample(docGen, i))).toDF("id", "t")
    val once = graft.operators.TextAnalysis.piiScrubOf(docs, "id", "t")
    val onceRows = once.collect().map(r => r.getAs[Long]("id") -> r).toMap
    // scrub the scrubbed text: no matches remain, text unchanged
    val twice = graft.operators.TextAnalysis.piiScrubOf(
      once.select(col("id"), col("redacted").as("t")), "id", "t")
      .collect().map(r => r.getAs[Long]("id") -> r).toMap
    onceRows.foreach { case (id, r1) =>
      val r2 = twice(id)
      assert(!r2.getAs[Boolean]("pii_found"), s"doc $id: matches survive redaction")
      assert(r2.getAs[String]("redacted") === r1.getAs[String]("redacted"),
        s"doc $id: second scrub changed the text")
    }
  }

  test("dupCoverageOf fractions bounded and exact-copy pairs always reach 1.0 (random corpora)") {
    import spark.implicits._
    val word = Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString.take(6))
    val textGen = Gen.listOfN(10, word).map(_.mkString(" "))
    for (seed <- 1 to 3) {
      val base = (1 to 10).map(i => (i.toLong, sample(textGen, seed * 100 + i)))
      // plant one exact copy
      val docs = (base :+ (99L, base.head._2)).toDF("doc_id", "text")
      val cov = graft.operators.Dedup.dupCoverageOf(docs).collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("dup_frac")).toMap
      cov.values.foreach(f => assert(f >= 0.0 && f <= 1.0))
      assert(cov(1L) === 1.0, s"seed $seed: copied doc's source not fully covered")
      assert(cov(99L) === 1.0, s"seed $seed: planted copy not fully covered")
    }
  }

  test("shardPackOf conserves rows and bytes for random layouts") {
    import spark.implicits._
    val rowsGen = Gen.nonEmptyListOf(for {
      id <- Gen.chooseNum(1L, 10000L)
      g <- Gen.oneOf("a", "b", "c")
      nb <- Gen.chooseNum(1, 500)
    } yield (id, g, nb))
    for (seed <- 1 to 5) {
      val rows = sample(rowsGen, seed).groupBy(r => (r._1, r._2)).map(_._2.head).toList
      val res = graft.operators.TextAnalysis
        .shardPackOf(rows.toDF("id", "g", "nb"), "g", "id", col("nb"), 256L)
        .collect()
      assert(res.map(_.getAs[Long]("n_docs")).sum === rows.length, s"seed $seed")
      assert(res.map(_.getAs[Long]("shard_bytes")).sum === rows.map(_._3.toLong).sum,
        s"seed $seed")
      // every group's first shard is 0 (first row's offset is 0); ids may
      // skip slots when a jumbo row spans multiple shard widths
      res.groupBy(_.getAs[String]("g")).foreach { case (_, rs) =>
        val ids = rs.map(_.getAs[Long]("shard_id")).sorted
        assert(ids.head === 0L, s"seed $seed")
        assert(ids.distinct.length === ids.length, s"seed $seed")
      }
    }
  }

  test("markovOf rows always normalize to 1 (random state logs)") {
    import spark.implicits._
    val logGen = Gen.nonEmptyListOf(for {
      k <- Gen.chooseNum(1L, 4L)
      off <- Gen.chooseNum(1L, 500L)
      st <- Gen.oneOf("X", "Y", "Z")
    } yield (k, off, st))
    for (seed <- 1 to 5) {
      val uniq = sample(logGen, seed).groupBy(r => (r._1, r._2)).map(_._2.head).toList
      val res = graft.operators.Analytics.markovOf(uniq.toDF("k", "off", "s"), "k", "off", "s")
        .collect()
      val totalTrans = uniq.groupBy(_._1).map { case (_, rs) => math.max(0, rs.size - 1) }.sum
      assert(res.map(_.getAs[Long]("n")).sum === totalTrans, s"seed $seed")
      res.groupBy(_.getAs[String]("prev_type")).foreach { case (_, rs) =>
        assert(math.abs(rs.map(_.getAs[Double]("p")).sum - 1.0) < 1e-9, s"seed $seed")
      }
    }
  }

  test("chunkDedupOf: stored never exceeds logical; singleton corpus stores everything once") {
    import spark.implicits._
    val strGen = Gen.nonEmptyListOf(for {
      g <- Gen.oneOf("a", "b")
      s <- Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString)
    } yield (g, s))
    for (seed <- 1 to 5) {
      val rows = sample(strGen, seed)
      val res = graft.operators.Multimodal
        .chunkDedupOf(rows.toDF("g", "p"), "g", col("p"), 16)
        .collect()
      res.foreach { r =>
        assert(r.getAs[Long]("stored_bytes") <= r.getAs[Long]("logical_bytes"), s"seed $seed")
        assert(r.getAs[Double]("dedup_ratio") >= 1.0, s"seed $seed")
      }
      assert(res.map(_.getAs[Long]("logical_bytes")).sum === rows.map(_._2.length.toLong).sum,
        s"seed $seed")
    }
  }

  test("Prefix.runningSum/lag1 ≡ window ground truth on random skewed data") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import graft.core.Prefix
    val rowGen = Gen.nonEmptyListOf(for {
      g <- Gen.oneOf("a", "b", "hot", "hot", "hot") // skewed groups
      id <- Gen.chooseNum(1L, 100000L)
      v <- Gen.option(Gen.chooseNum(-50L, 50L))     // nullable values
    } yield (g, id, v))
    for ((seed, ranges) <- Seq((1, 2), (2, 7), (3, 33))) {
      val uniq = sample(rowGen, seed).groupBy(r => (r._1, r._2)).map(_._2.head).toList
      val df = uniq.toDF("g", "id", "v")
      val got = Prefix.runningSum(df, Seq("g"), Seq(col("id")), col("v"), "cum", ranges)
        .orderBy("g", "id").select("g", "id", "cum").collect()
      val w = Window.partitionBy("g").orderBy("id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val want = df.withColumn("cum", sum(col("v")).over(w))
        .orderBy("g", "id").select("g", "id", "cum").collect()
      assert(got.toSeq === want.toSeq, s"seed $seed ranges $ranges")

      val ids = df.select("id").distinct()
      val gotLag = Prefix.lag1(ids, "id", "prev", ranges)
        .orderBy("id").select("prev").collect()
      val wantLag = ids.withColumn("prev", lag(col("id"), 1).over(Window.orderBy("id")))
        .orderBy("id").select("prev").collect()
      assert(gotLag.toSeq === wantLag.toSeq, s"lag seed $seed ranges $ranges")
    }
  }
}
