package graft

import org.apache.spark.sql.functions._
import graft.operators.Multimodal

class MultimodalSpec extends SparkSpec {

  test("mm_frames: sampled count matches the stride arithmetic per doc") {
    import org.apache.spark.sql.functions._
    val rows = graft.operators.Multimodal.mmFrames(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val nf = r.getAs[Long]("n_frames")
      val sampled = r.getAs[Long]("n_sampled")
      assert(sampled == (nf + 3) / 4, s"doc ${r.getAs[Long]("doc_id")}: $sampled of $nf frames")
      assert(r.getAs[Long]("n_distinct_sampled") <= sampled)
    }
    // stride arithmetic must agree with mm_features' frameSample counter
    val feats = graft.operators.Multimodal.mmFeatures(spark, sf)
      .select(col("doc_id"), col("n_frames")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("n_frames")).toMap
    rows.foreach { r =>
      assert(feats(r.getAs[Long]("doc_id")) == r.getAs[Long]("n_sampled"),
        s"doc ${r.getAs[Long]("doc_id")}: mm_features frame count disagrees")
    }
  }

  test("mm_features: schema, byte counts, and unit-norm features") {
    val res = Multimodal.mmFeatures(spark, sf)
    assert(res.columns.toSeq ===
      Seq("doc_id", "width", "height", "n_bytes", "feature_fp", "feature_norm",
        "resized_fp", "n_frames"))
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), length(col("text")).as("len"))
    val joined = res.join(docs, "doc_id")
      .filter(col("n_bytes") =!= col("len"))
    assert(joined.count() === 0) // ascii text: 1 byte per char
    res.collect().foreach { r =>
      // feature_norm is the raw histogram magnitude: for a non-empty
      // ascii doc it is at least sqrt(n_bytes) (all bytes in one bin
      // would give exactly n_bytes)
      val nb = r.getAs[Int]("n_bytes")
      val fn = r.getAs[Double]("feature_norm")
      assert(fn >= math.sqrt(nb.toDouble) - 1e-6 && fn <= nb.toDouble + 1e-6)
      // the fingerprinted feature vector is unit-norm on the 1e-9 grid
      val f = r.getAs[String]("feature_fp").split(",").map(_.toLong / 1e9)
      assert(f.length === 16)
      assert(math.abs(math.sqrt(f.map(x => x * x).sum) - 1.0) < 1e-6)
      assert(r.getAs[String]("resized_fp").split(",").length === 8)
      val expectFrames = ((r.getAs[Int]("n_bytes") + 255) / 256 + 3) / 4
      assert(r.getAs[Int]("n_frames") === expectFrames)
    }
  }

  test("mm_chunk_dedup: byte accounting exact, planted duplicates dedup") {
    val res = graft.operators.Multimodal.mmChunkDedup(spark, sf).collect()
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val byteTotal = docs.select(sum(length(col("text")))).collect()(0).getLong(0)
    assert(res.map(_.getAs[Long]("logical_bytes")).sum === byteTotal)
    res.foreach { r =>
      assert(r.getAs[Long]("stored_bytes") <= r.getAs[Long]("logical_bytes"))
      assert(r.getAs[Double]("dedup_ratio") >= 1.0)
      assert(r.getAs[Long]("n_distinct_chunks") <= r.getAs[Long]("n_chunks"))
    }
    // the dedup corpus plants exact duplicate docs: some source must dedup
    assert(res.exists(_.getAs[Long]("max_chunk_refs") > 1))
  }

  test("mmFramesOf: empty payload yields no frames, short payload yields one") {
    import spark.implicits._
    // unguarded sequence(0, -1) would fabricate a phantom frame 0 for
    // the empty payload (it survives the stride filter) — the empty doc
    // must be absent from the rollup, not report a frame of ""
    val df = Seq((1L, ""), (2L, "abc"), (3L, "x" * 600)).toDF("id", "p")
    val res = Multimodal.mmFramesOf(df, "id", col("p"), frameChars = 256, stride = 4)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("n_frames")).toMap
    assert(res === Map(2L -> 1L, 3L -> 3L)) // no entry for the empty payload
  }

  test("chunkDedupOf: empty payloads emit no chunks; bytes counted, not characters") {
    import spark.implicits._
    // "" must contribute nothing (sequence(0,-1) would have emitted two
    // phantom chunks); an all-empty group must vanish, not 0/0 → NaN
    val df = Seq(("a", "xy"), ("a", ""), ("b", ""), ("b", "")).toDF("g", "p")
    val res = Multimodal.chunkDedupOf(df, "g", col("p"), 128).collect()
    assert(res.length === 1)
    val a = res(0)
    assert(a.getAs[String]("g") === "a")
    assert(a.getAs[Long]("n_chunks") === 1L && a.getAs[Long]("logical_bytes") === 2L)

    // 3 code points but 8 UTF-8 bytes (2+4+2): chunking at 4 must split
    // on BYTE boundaries (octet_length accounting), not characters
    val uni = Seq(("u", "é😀é")).toDF("g", "p")
    val bytes = "é😀é".getBytes("UTF-8").length
    val r = Multimodal.chunkDedupOf(uni, "g", col("p"), 4).collect()(0)
    assert(r.getAs[Long]("logical_bytes") === bytes.toLong)
    assert(r.getAs[Long]("n_chunks") === math.ceil(bytes / 4.0).toLong)
  }

  test("mm_dup_manifest: per-asset share exact, exact copies fully shared") {
    val res = Multimodal.mmDupManifest(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_chunks"), r.getAs[Long]("shared_chunks"),
          r.getAs[Long]("shared_bp"), r.getAs[Boolean]("drop_candidate"))).toMap
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    // every non-empty doc appears, chunk counts match ceil(bytes/128)
    assert(res.keySet === docs.filter(_._2.nonEmpty).map(_._1).toSet)
    docs.filter(_._2.nonEmpty).foreach { case (id, text) =>
      val n = math.ceil(text.getBytes("UTF-8").length / 128.0).toLong
      val (nc, sc, bp, drop) = res(id)
      assert(nc === n)
      assert(sc >= 0L && sc <= nc)
      assert(bp === sc * 10000L / nc)
      assert(drop === (bp >= 5000L))
    }
  }

  test("mm_dup_manifest: cross-asset sharing only — planted copies flagged, repeats within one asset not") {
    import spark.implicits._
    val block = "b" * 128
    val tmp = tempDir("mmdup")
    Seq(
      (1L, "a" * 256, "x", "x", 256L),        // copied whole into doc 2
      (2L, "a" * 256, "x", "x", 256L),
      (3L, block + block + block, "x", "x", 384L), // self-repeats only
      (4L, "z" * 300, "x", "x", 300L))        // unique
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val m = Multimodal.mmDupManifest(spark, tmp).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("shared_bp"), r.getAs[Boolean]("drop_candidate"))).toMap
    assert(m(1L) === ((10000L, true)) && m(2L) === ((10000L, true)))
    assert(m(3L) === ((0L, false)), "within-asset repeats must not count as shared")
    assert(m(4L) === ((0L, false)))
  }
}
