package graft

import org.apache.spark.sql.functions._
import graft.operators.Similarity

class SimilaritySpec extends SparkSpec {

  test("knn_brute: k neighbors per query, descending cosine, no self-match") {
    val res = Similarity.knnBrute(spark, sf).collect()
    val byQuery = res.groupBy(_.getAs[Long]("query_id"))
    byQuery.foreach { case (q, rows) =>
      assert(rows.length === Similarity.K)
      assert(rows.forall(_.getAs[Long]("neighbor_id") != q))
      val cos = rows.sortBy(_.getAs[Int]("knn_rank")).map(_.getAs[Double]("cos_sim"))
      assert(cos.zip(cos.tail).forall { case (a, b) => a >= b })
    }
  }

  test("knn_ivf: candidates nonempty; recall@1 vs brute >= 30%") {
    val brute = Similarity.knnBrute(spark, sf)
      .filter(col("knn_rank") === 1).collect()
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id")).toMap
    val ivf = Similarity.knnIvf(spark, sf).collect()
      .groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rows) => q -> rows.map(_.getAs[Long]("neighbor_id")).toSet }
    assert(ivf.nonEmpty)
    val hits = brute.count { case (q, n1) => ivf.get(q).exists(_.contains(n1)) }
    assert(hits * 10 >= brute.size * 3, s"recall@1 $hits/${brute.size}")
  }

  test("ivf_assign kernel: bit-identical to the declarative crossJoin+window rank") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.graftvec.IvfAssign.ivfAssign
    import org.apache.spark.sql.graftvec.VectorExpressions.qdot
    val e = graft.core.Tables.embeddings(spark, sf)
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
      .withColumn("nrm", qdot(col("v"), col("v")))
    // roster: same deterministic sample the operators use
    val centRows = e.filter(col("vec_id") % Similarity.IvfSampleMod === 0 &&
        col("vec_id") < Similarity.IvfSampleMod.toLong * Similarity.IvfCentMin)
      .select(col("vec_id"), col("v")).collect().sortBy(_.getLong(0))
    val ids = centRows.map(_.getLong(0))
    val flat = centRows.flatMap(_.getSeq[Double](1)).toArray
    val nprobe = 4
    val kernel = e.select(col("vec_id"),
      posexplode(ivfAssign(col("v"), flat, ids, nprobe, Similarity.Dim))
        .as(Seq("rnk0", "cent_id"))).collect()
      .map(r => (r.getLong(0), r.getInt(1) + 1, r.getLong(2))).toSet
    // declarative twin: crossJoin + ROW_NUMBER over (cos DESC, cent_id)
    val cents = e.filter(col("vec_id") % Similarity.IvfSampleMod === 0 &&
        col("vec_id") < Similarity.IvfSampleMod.toLong * Similarity.IvfCentMin)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"), col("nrm").as("cn"))
    val w = Window.partitionBy(col("vec_id")).orderBy(col("cent_cos").desc, col("cent_id"))
    val decl = e.crossJoin(broadcast(cents))
      .withColumn("cent_cos", qdot(col("v"), col("cv")).cast("double") /
        sqrt(col("nrm").cast("double") * col("cn").cast("double")))
      .withColumn("rnk", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("rnk") <= nprobe)
      .select(col("vec_id"), col("rnk"), col("cent_id")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(kernel === decl)
  }

  test("knn_lsh: candidates nonempty; recall@1 vs brute >= 30%") {
    val brute = Similarity.knnBrute(spark, sf)
      .filter(col("knn_rank") === 1).collect()
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id")).toMap
    val lsh = Similarity.knnLsh(spark, sf).collect()
      .groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rows) => q -> rows.map(_.getAs[Long]("neighbor_id")).toSet }
    assert(lsh.nonEmpty)
    // recall@1-in-top5: the true nearest neighbor appears in LSH's top-5
    val hits = brute.count { case (q, n1) => lsh.get(q).exists(_.contains(n1)) }
    assert(hits * 10 >= brute.size * 3, s"recall@1 $hits/${brute.size}")
  }
  test("knn_pq: recall@5 well above chance for every query") {
    // PQ approximates BOTH sides of the distance through 8 codewords, so
    // on this near-random corpus exact-top-1 recall is not its contract —
    // top-5 overlap with the exact top-5 is (chance: 5·5/N ≈ 0.05/query).
    val brute = Similarity.knnBrute(spark, sf).collect()
      .groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rows) => q -> rows.map(_.getAs[Long]("neighbor_id")).toSet }
    val pq = Similarity.knnPq(spark, sf).collect()
      .groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rows) => q -> rows.map(_.getAs[Long]("neighbor_id")).toSet }
    assert(pq.keySet === brute.keySet)
    val overlaps = brute.map { case (q, bs) => pq(q).intersect(bs).size }
    assert(overlaps.forall(_ >= 1), s"some query had zero overlap: $overlaps")
    assert(overlaps.sum >= brute.size, s"mean overlap below 1: $overlaps")
    pq.values.foreach(ns => assert(ns.size == Similarity.K))
  }

  test("knn_ivfpq: composite prune still overlaps the exact top-5 above chance") {
    // double approximation (IVF cells + PQ codes) — same contract as
    // knn_pq: nonzero exact-top-5 overlap per query, mean >= 1
    val brute = Similarity.knnBrute(spark, sf).collect()
      .groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rows) => q -> rows.map(_.getAs[Long]("neighbor_id")).toSet }
    val ivfpq = Similarity.knnIvfPq(spark, sf).collect()
      .groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rows) => q -> rows.map(_.getAs[Long]("neighbor_id")).toSet }
    assert(ivfpq.keySet === brute.keySet)
    val overlaps = brute.map { case (q, bs) => ivfpq(q).intersect(bs).size }
    assert(overlaps.sum * 2 >= brute.size, s"mean overlap below 0.5: $overlaps")
    ivfpq.values.foreach(ns => assert(ns.size == Similarity.K))
  }

  test("mm_doc_embed: join is complete (every doc has its embedding row)") {
    val res = Similarity.mmDocEmbed(spark, sf)
    val nDocs = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(res.agg(sum(col("n_docs"))).first().getLong(0) === nDocs)
    assert(res.filter(col("sum_nrm") <= 0).count() === 0)
  }

  test("embed_centroids: every label has a full-dimension centroid; counts add up") {
    val res = Similarity.embedCentroids(spark, sf).collect()
    val nVecs = spark.read.parquet(s"$sf/embeddings.parquet").count()
    assert(res.map(_.getAs[Long]("n_vecs")).sum === nVecs)
    res.foreach { r =>
      val dims = r.getAs[String]("centroid_fp").split(",")
      assert(dims.length === 64)
      dims.foreach(d => assert(math.abs(d.toLong) <= 1100000000L)) // |mean| <= ~1.1 on the 1e-9 grid
    }
  }

  test("embed_quantize_int8: exact tiling and bounded reconstruction error") {
    val res = Similarity.embedQuantizeInt8(spark, sf).collect()
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    assert(res.map(_.getAs[Long]("n_vecs")).sum === emb.count())
    res.foreach { r =>
      assert(r.getAs[Long]("n_elems") === 64L * r.getAs[Long]("n_vecs"))
    }
    // reconstruction error is bounded by rng/255 + 1 on the 1e-6 grid
    val elems = emb.select(posexplode(transform(col("embedding"), _.cast("double"))).as(Seq("pos", "x")))
      .withColumn("vq", floor(col("x") * 1e6 + 0.5).cast("long"))
    val rngMax = elems.groupBy(col("pos"))
      .agg((max(col("vq")) - min(col("vq"))).as("rng"))
      .agg(max(col("rng"))).collect()(0).getLong(0)
    val bound = rngMax / 255L + 1L
    res.foreach(r => assert(r.getAs[Long]("max_err_q") <= bound))
  }

  test("adaptive LSH width: threshold chain and stride-prefix equivalence") {
    import Similarity._
    // the integer threshold chain, at and around each boundary
    assert(lshBitsFor(500) === 6)
    assert(lshBitsFor(1600) === 6)
    assert(lshBitsFor(1601) === 7)
    assert(lshBitsFor(2000) === 7)
    assert(lshBitsFor(20000) === 10)
    assert(lshBitsFor(200000) === 12)
    assert(lshBitsFor(10000000L) === 12) // clamped at max width
    // dedup_embedding's width scales with mean (label, t, sig) occupancy
    assert(embBitsFor(500, 10) === 8)
    assert(embBitsFor(20000, 10) === 8) // sf1: mean bucket 7.8, inert
    assert(embBitsFor(64000, 10) === 8)
    assert(embBitsFor(64001, 10) === 9)
    assert(embBitsFor(200000, 10) === 10) // sf10: mean 19.5 post-fix
    assert(embBitsFor(2000000, 10) === 12)
    assert(embBitsFor(2000000000L, 10) === 12) // clamped
    // b-bit stride-indexed kernel signature == low-b-bit mask of the
    // full-width signature — the invariant that lets the oracle replay
    // full width while the kernel computes only b plane dots
    import org.apache.spark.sql.graftvec.VectorExpressions.lshSigs
    val e = graft.core.Tables.embeddings(spark, sf).limit(50)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    for (b <- Seq(LshBitsMin, 9, LshBitsMax)) {
      val mism = e.select(
          lshSigs(col("v"), LshTables, b, Dim, LshBitsMax).as("pre"),
          lshSigs(col("v"), LshTables, LshBitsMax, Dim).as("full"))
        .select(posexplode(col("pre")).as(Seq("t", "p")), col("full"))
        .filter(col("p") =!= pmod(element_at(col("full"), col("t") + 1), lit(1 << b)))
        .count()
      assert(mism === 0L, s"stride-prefix mismatch at b=$b")
    }
  }

  test("embed_dup_clusters: exact manifest; every emitted pair co-clustered; min-id kept") {
    val res = Similarity.embedDupClusters(spark, sf).collect()
    val n = graft.core.Tables.embeddings(spark, sf).count()
    assert(res.length.toLong === n, "manifest covers the corpus")
    assert(res.map(_.getAs[Long]("vec_id")).distinct.length.toLong === n)
    val byCluster = res.groupBy(_.getAs[Long]("cluster_id"))
    byCluster.foreach { case (c, rs) =>
      assert(rs.map(_.getAs[Long]("vec_id")).min === c, s"cluster $c labeled by min member")
      assert(rs.count(_.getAs[Boolean]("is_kept")) === 1, s"cluster $c keeps exactly one")
      assert(rs.forall(_.getAs[Long]("cluster_size") === rs.length.toLong))
    }
    // transitivity floor: every emitted pair must share a cluster
    val lab = res.map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cluster_id")).toMap
    val pairs = Similarity.dedupEmbedding(spark, sf)
      .filter(col("cos_sim") >= Similarity.SemDupCos).collect()
    assert(pairs.nonEmpty, "gate corpus must plant semantic dups")
    pairs.foreach { p =>
      assert(lab(p.getAs[Long]("vec_a")) === lab(p.getAs[Long]("vec_b")))
    }
  }

  test("embed_dup_clusters: over-cap exact-dup hub clusters via star edges (r13 fix)") {
    import org.apache.spark.sql.functions.broadcast
    // plant a 150-copy exact-dup hub — 1.5x EmbBucketCap, so the banded
    // LSH path drops every bucket it touches and emits ZERO pairs for
    // it (the r12 HUB_SF1 blindness); the exact-dup star edges must
    // carry it into ONE cluster with a single keeper
    val dir = java.nio.file.Files.createTempDirectory("graft-hubspec").toString
    val base = graft.core.Tables.embeddings(spark, sf)
    val maxId = base.agg(max(col("vec_id"))).head.getLong(0)
    val nCopies = Similarity.EmbBucketCap + 50L
    val proto = base.filter(col("vec_id") === 1L).select(col("embedding"), col("label"))
    val copies = spark.range(maxId + 1, maxId + 1 + nCopies)
      .crossJoin(broadcast(proto))
      .select(col("id").as("vec_id"), col("embedding"), col("label"))
    base.unionByName(copies).write.parquet(s"$dir/embeddings.parquet")
    val hubLshPairs = Similarity.dedupEmbedding(spark, dir)
      .filter(col("vec_a") > maxId || col("vec_b") > maxId).count()
    assert(hubLshPairs === 0L, "over-cap hub must emit no LSH pairs")
    // expected membership: the exact 1e-6-quantized group of vec 1
    val qv = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), transform(col("embedding"),
        x => floor(x.cast("double") * 1e6 + 0.5).cast("long")).as("vq"))
    val protoVq = qv.filter(col("vec_id") === 1L).select(col("vq"))
    val grp = qv.join(broadcast(protoVq), Seq("vq"))
    val expSize = grp.count()
    val expRoot = grp.agg(min(col("vec_id"))).head.getLong(0)
    assert(expSize >= nCopies + 1)
    val res = Similarity.embedDupClusters(spark, dir).collect()
    val hub = res.filter(_.getAs[Long]("vec_id") > maxId)
    assert(hub.length.toLong === nCopies)
    assert(hub.forall(_.getAs[Long]("cluster_id") === expRoot), "hub hangs off the group min")
    val cluster = res.filter(_.getAs[Long]("cluster_id") === expRoot)
    assert(cluster.length.toLong === expSize, "exact membership")
    assert(cluster.count(_.getAs[Boolean]("is_kept")) === 1, "single keeper")
    assert(cluster.forall(_.getAs[Long]("cluster_size") === expSize))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("embed_diversity_sample: per-cell quota, dense ranks, disjoint cells") {
    val res = Similarity.embedDiversitySample(spark, sf).collect()
    assert(res.nonEmpty)
    val byCell = res.groupBy(_.getAs[Long]("cent_id"))
    byCell.foreach { case (c, rs) =>
      val size = rs.head.getAs[Long]("cell_size")
      assert(rs.forall(_.getAs[Long]("cell_size") === size), s"cell $c size column")
      // a cell contributes min(quota, size) rows with ranks 1..n
      assert(rs.length === math.min(Similarity.DiversityQuota.toLong, size), s"cell $c quota")
      assert(rs.map(_.getAs[Int]("cell_rank")).sorted.toSeq === (1 to rs.length), s"cell $c ranks")
    }
    // rank-1 assignment partitions the corpus: no vector sampled twice
    val ids = res.map(_.getAs[Long]("vec_id"))
    assert(ids.distinct.length === ids.length)
    // every corpus vector belongs to some cell; cells' sizes must sum to N
    val n = spark.read.parquet(s"$sf/embeddings.parquet").count()
    val sumSizes = byCell.values.map(_.head.getAs[Long]("cell_size")).sum
    assert(sumSizes === n, "cell sizes must partition the corpus exactly")
  }


  test("embed_index_plan: one row agreeing with the planner functions") {
    val r = Similarity.embedIndexPlan(spark, sf).collect()
    assert(r.length === 1)
    val row = r.head
    val n = row.getAs[Long]("n_vectors")
    val l = row.getAs[Long]("n_labels")
    assert(n === graft.core.Tables.embeddings(spark, sf).count())
    assert(row.getAs[Int]("lsh_bits") === Similarity.lshBitsFor(n))
    assert(row.getAs[Int]("emb_bits") === Similarity.embBitsFor(n, l))
    assert(row.getAs[Long]("ivf_cells") <= Similarity.ivfCellsFor(n).toLong)
    assert(row.getAs[Int]("ivf_nprobe") === Similarity.ivfNprobeFor(n))
    assert(row.getAs[Long]("pq_codewords") <= Similarity.PqCentCap.toLong)
  }

  test("embed_rp_distortion: covers the exact banded pair space, buckets coherent") {
    val res = Similarity.embedRpDistortion(spark, sf).collect()
      .map(r => (r.getAs[Long]("err_bucket"), r.getAs[Long]("bucket_lo_mn"),
        r.getAs[Long]("n_pairs"), r.getAs[Long]("err_min_mn"), r.getAs[Long]("err_max_mn")))
    // pair space = embed_sim_hist's (same-label, id window): counts must match
    val expectedPairs = Similarity.embedSimHist(spark, sf)
      .agg(sum("n_pairs")).collect()(0).getLong(0)
    assert(res.map(_._3).sum === expectedPairs)
    res.foreach { case (b, lo, _, mn, mx) =>
      assert(lo === b * 25L)
      assert(mn >= lo && mx < lo + 25L && mn <= mx)
    }
    // JL sanity at 16 dims: the bulk of pair errors sits under 0.5 cosine
    val under500 = res.filter(_._1 < 20).map(_._3).sum
    assert(under500 * 10L >= expectedPairs * 9L,
      s"JL distortion tail too heavy: $under500 of $expectedPairs under 500mn")
  }

  test("knn_truncation_recall: monotone in width, full-width prefix would be exact") {
    val res = Similarity.knnTruncationRecall(spark, sf).collect()
      .map(r => (r.getAs[Long]("trunc_dim"), r.getAs[Long]("n_edges"),
        r.getAs[Long]("n_hits"), r.getAs[Long]("top1_hits"), r.getAs[Double]("recall")))
      .sortBy(_._1)
    assert(res.map(_._1).toSeq === Similarity.TruncDims.map(_.toLong))
    val edges = Similarity.knnBrute(spark, sf).count()
    res.foreach { case (_, ne, nh, t1, rec) =>
      assert(ne === edges)
      assert(nh >= 0L && nh <= ne && t1 <= nh)
      assert(rec === nh.toDouble / ne.toDouble)
    }
    // the widest prefix must beat the narrowest on this corpus
    assert(res.last._3 >= res.head._3,
      s"32-dim recall below 8-dim: ${res.last._5} < ${res.head._5}")
  }

  test("dedup_semantic_decontaminate: flagged set equals knn_radius's corpus-side hits") {
    val flagged = Similarity.dedupSemanticDecontaminate(spark, sf).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("n_eval_hits"),
        r.getAs[Long]("nearest_eval_id"), r.getAs[Double]("max_cos")))
    assert(flagged.nonEmpty, "gate corpus produced no flagged vectors at tau")
    // knn_radius lists (query, neighbor) pairs at the same tau over the
    // same eval batch — its neighbor side, restricted to non-eval ids,
    // must be exactly the flagged set with matching hit counts
    val radius = Similarity.knnRadius(spark, sf).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Double]("cos_sim")))
      .filter { case (_, n, _) => !(n % 100 == 0 && n < Similarity.QueryCap) }
    val byNeighbor = radius.groupBy(_._2)
    assert(flagged.map(_._1).toSet === byNeighbor.keySet)
    flagged.foreach { case (v, n, nearest, mx) =>
      val hits = byNeighbor(v)
      assert(n === hits.length.toLong)
      val best = hits.maxBy(h => (h._3, -h._1))
      assert(mx === best._3 && nearest === best._1)
    }
  }

  test("ivfpq serving index: one-pass build (no exchange/join), valid packed codes") {
    // r16: the serving index is ONE kernel scan — cell assignment and
    // code packing are per-row arithmetic against driver-side arrays,
    // so the build plan must carry no Exchange, Join, Generate or
    // Aggregate (the old shape paid a second corpus scan, a
    // groupBy(vec_id) exchange and a join for the same values)
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    val e = Similarity.vecs(spark, sf)
    val (index, _, _, _, _) = Similarity.ivfPqServeIndex(spark, e)
    try {
      val cached = index.queryExecution.optimizedPlan.collectFirst {
        case r: InMemoryRelation => r.cachedPlan
      }.getOrElse(fail("serving index is not persisted"))
      val offenders = cached.collect {
        case p if Seq("Exchange", "Join", "Generate", "Aggregate")
          .exists(p.nodeName.contains) => p.nodeName
      }
      assert(offenders.isEmpty, s"index build plan regressed: $offenders")
      // every corpus member appears exactly once, each packed byte is a
      // valid codebook slot (< PqCentCap), bytes above PqSub are zero
      val rows = index.collect()
      assert(rows.length.toLong === e.count())
      rows.foreach { r =>
        val pack = r.getAs[Long]("code_pack")
        (0 until Similarity.PqSub).foreach { m =>
          val slot = (pack >> (m * 8)) & 255L
          assert(slot >= 0 && slot < Similarity.PqCentCap,
            s"subspace $m slot $slot out of codebook range")
        }
        if (Similarity.PqSub < 8) // with PqSub == 8 all bytes are used
          assert((pack >>> (Similarity.PqSub * 8)) === 0L,
            "bytes beyond PqSub must be zero in the packed code long")
      }
    } finally index.unpersist(blocking = true)
  }
}
