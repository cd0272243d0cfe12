package graft

import org.apache.spark.sql.functions._
import graft.operators.TextAnalysis
import graft.functions.TextFunctions

class TextSpec extends SparkSpec {

  test("text_langid: confusion matrix covers all docs") {
    val res = TextAnalysis.textLangid(spark, sf)
    val total = res.agg(sum("n_docs")).collect()(0).getLong(0)
    assert(total === spark.read.parquet(s"$sf/documents.parquet").count())
  }

  test("text_quality: ratios in range, classes valid") {
    val res = TextAnalysis.textQuality(spark, sf).collect()
    res.foreach { r =>
      val sr = r.getAs[Double]("stop_ratio")
      assert(sr >= 0.0 && sr <= 1.0)
      assert(Set("TOO_SHORT", "BOILERPLATE", "OK")(r.getAs[String]("quality_class")))
    }
  }

  test("text_tokens: regex tokens >= whitespace tokens (punct splits)") {
    val res = TextAnalysis.textTokens(spark, sf).collect()
    res.foreach { r =>
      assert(r.getAs[Long]("total_re_tokens") >= r.getAs[Long]("total_ws_tokens"))
    }
  }

  test("rolling hash: deterministic and shift-sensitive") {
    import spark.implicits._
    val df = Seq(("abc"), ("abd"), ("abc")).toDF("text")
      .select(TextFunctions.rollingHash(col("text")).as("h"))
    val hs = df.collect().map(_.getLong(0))
    assert(hs(0) === hs(2))
    assert(hs(0) !== hs(1))
  }
  test("text_ngram_topk: contiguous ranks 1..k per lang, counts non-increasing") {
    val rows = TextAnalysis.textNgramTopk(spark, sf).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Int]("rnk"), r.getAs[Long]("n")))
    rows.groupBy(_._1).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq === (1 to sorted.length).toSeq)
      assert(sorted.sliding(2).forall { case Array(a, b) => a._3 >= b._3; case _ => true })
    }
  }

  test("text_clean: cleaning never grows text, fingerprint is of cleaned form") {
    val res = TextAnalysis.textClean(spark, sf)
    assert(res.filter(col("clean_len") > col("raw_len")).count() === 0)
    assert(res.filter(length(col("clean_fp")) =!= 32).count() === 0)
  }

  test("sample_stratified: exact quota per source, deterministic across runs") {
    val a = TextAnalysis.sampleStratified(spark, sf).collect().map(_.toSeq)
    val b = TextAnalysis.sampleStratified(spark, sf).collect().map(_.toSeq)
    assert(a.toSeq === b.toSeq)
    val perSource = TextAnalysis.sampleStratified(spark, sf)
      .groupBy("source").count().collect().map(r => r.getString(0) -> r.getLong(1))
    perSource.foreach { case (_, n) => assert(n <= 20) }
  }

  test("shingles3 native expression equals the declarative HOF form") {
    val docs = graft.core.Tables.documents(spark, sf).select(col("text")).limit(200)
      .withColumn("ws", TextFunctions.words(col("text")))
    val declarative = when(size(col("ws")) >= 3,
      array_distinct(transform(sequence(lit(0), size(col("ws")) - 3), i =>
        concat_ws("_", element_at(col("ws"), i + 1), element_at(col("ws"), i + 2),
          element_at(col("ws"), i + 3)))))
      .otherwise(array().cast("array<string>"))
    val diff = docs
      .withColumn("native", TextFunctions.shingles3FromWords(col("ws")))
      .withColumn("hof", declarative)
      .filter(!(col("native") <=> col("hof"))) // null-safe: a null side must FAIL
    assert(diff.count() === 0)
    // short + empty + null inputs all yield empty arrays
    import spark.implicits._
    val edge = Seq(Some("one two"), Some(""), None).toDF("text")
      .withColumn("ws", TextFunctions.words(col("text")))
      .withColumn("sh", TextFunctions.shingles3FromWords(col("ws")))
    assert(edge.filter(size(col("sh")) =!= 0).count() === 0)
  }

  test("shingles3_hashed equals poly_hash over the string shingles") {
    // the hashed kernel folds word bytes incrementally and must land on
    // the exact hash of the '_'-joined string form, doc by doc
    val docs = graft.core.Tables.documents(spark, sf).select(col("text")).limit(200)
      .withColumn("ws", TextFunctions.words(col("text")))
    val viaString = transform(TextFunctions.shingles3FromWords(col("ws")),
      s => org.apache.spark.sql.graftvec.VectorExpressions.polyHash(s))
    val diff = docs
      .withColumn("hashed", TextFunctions.shingles3HashedFromWords(col("ws")))
      .withColumn("via_string", viaString)
      .filter(!(col("hashed") <=> col("via_string")))
    assert(diff.count() === 0)
  }

  test("pipeline_manifest: funnel is monotone and sample respects the quota") {
    val res = graft.operators.TextAnalysis.pipelineManifest(spark, sf).collect()
    assert(res.nonEmpty)
    res.foreach { r =>
      val (docs, q, kept, sampled) = (r.getAs[Long]("n_docs"), r.getAs[Long]("n_quality_ok"),
        r.getAs[Long]("n_kept"), r.getAs[Long]("n_sampled"))
      assert(docs >= q && q >= kept && kept >= sampled)
      assert(sampled === math.min(kept, graft.operators.TextAnalysis.SampleQuota.toLong))
      val ids = r.getAs[String]("sample_ids")
      assert((if (ids.isEmpty) 0 else ids.split(",").length).toLong === sampled)
    }
  }

  test("sample_hash_split: splits partition the corpus near 80/10/10") {
    val res = TextAnalysis.sampleHashSplit(spark, sf)
    val total = graft.core.Tables.documents(spark, sf).count()
    val bySplit = res.groupBy("split").agg(sum("n_docs").as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySplit.values.sum === total)
    val trainFrac = bySplit.getOrElse("train", 0L).toDouble / total
    assert(trainFrac > 0.65 && trainFrac < 0.95)
    // determinism: same doc always lands in the same split
    val again = TextAnalysis.sampleHashSplit(spark, sf)
    assert(res.unionAll(again).distinct().count() === res.count())
  }

  test("shard_pack: shards tile each source exactly, ids contiguous from 0") {
    val res = TextAnalysis.shardPack(spark, sf).collect()
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    assert(res.map(_.getAs[Long]("n_docs")).sum === docs.count())
    val byteTotal = docs.select(sum(octet_length(col("text")))).collect()(0).getLong(0)
    assert(res.map(_.getAs[Long]("shard_bytes")).sum === byteTotal)
    res.groupBy(_.getAs[String]("source")).foreach { case (_, rows) =>
      val ids = rows.map(_.getAs[Long]("shard_id")).sorted
      assert(ids.head === 0L && ids === (0L until ids.length).toArray.toSeq.toArray)
      // doc id ranges of consecutive shards never overlap (sequential layout)
      val sortedRows = rows.sortBy(_.getAs[Long]("shard_id"))
      sortedRows.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[Long]("last_doc") < b.getAs[Long]("first_doc"))
        case _ =>
      }
    }
  }

  test("text_vocab: hapax <= vocab <= tokens, top word is the max count") {
    val res = TextAnalysis.textVocab(spark, sf).collect()
    assert(res.nonEmpty)
    res.foreach { r =>
      assert(r.getAs[Long]("hapax_count") <= r.getAs[Long]("vocab_size"))
      assert(r.getAs[Long]("vocab_size") <= r.getAs[Long]("n_tokens"))
      val ttr = r.getAs[Double]("ttr")
      assert(ttr > 0 && ttr <= 1)
    }
    // recompute the max word count for one language independently
    val lang = res(0).getAs[String]("lang")
    val mx = spark.read.parquet(s"$sf/documents.parquet")
      .filter(col("lang") === lang)
      .select(explode(TextFunctions.words(col("text"))).as("w"))
      .groupBy(col("w")).count()
      .agg(max(col("count"))).collect()(0).getLong(0)
    assert(res(0).getAs[Long]("top_word_n") === mx)
  }


  test("text_bpe_pairs: descending counts, pairs are 2-char, top matches recount") {
    val res = TextAnalysis.textBpePairs(spark, sf).collect()
    assert(res.length === 20)
    val ns = res.map(_.getAs[Long]("n"))
    assert(ns.zip(ns.tail).forall { case (a, b) => a >= b })
    res.foreach(r => assert(r.getAs[String]("pair").length === 2))
    // independent recount of the winning pair
    val top = res(0)
    val n = spark.read.parquet(s"$sf/documents.parquet")
      .select(explode(TextFunctions.words(col("text"))).as("w"))
      .select(explode(expr("filter(transform(sequence(1, length(w) - 1), i -> substring(w, i, 2)), p -> length(p) = 2)")).as("pair"))
      .filter(col("pair") === top.getAs[String]("pair")).count()
    assert(n === top.getAs[Long]("n"))
  }

  test("sample_split_leakage: planted copies accounted, leaks only from copies") {
    val res = TextAnalysis.sampleSplitLeakage(spark, sf).collect()
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val nDocs = docs.count()
    val nCopies = docs.filter(col("doc_id") % 11 === 0).count()
    assert(res.map(_.getAs[Long]("n_docs")).sum === nDocs + nCopies)
    // every multi-split signature is flagged leaky, single-split never
    res.foreach { r =>
      assert(r.getAs[Boolean]("leaky") === r.getAs[String]("splits").contains(","))
      // a leaky signature needs at least 2 docs per fingerprint
      if (r.getAs[Boolean]("leaky"))
        assert(r.getAs[Long]("n_docs") >= 2 * r.getAs[Long]("n_fingerprints"))
    }
  }

  test("text_chunks: exact chunk geometry per doc (count, sizes, starts)") {
    val S = TextAnalysis.ChunkStride
    val W = TextAnalysis.ChunkTokens
    val chunks = TextAnalysis.textChunks(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_idx"),
        r.getAs[Long]("tok_start"), r.getAs[Long]("n_toks")))
    val nWords = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), size(TextFunctions.words(col("text"))).cast("long").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val byDoc = chunks.groupBy(_._1)
    assert(byDoc.keySet === nWords.keySet) // every doc chunks (>= 1 token each)
    byDoc.foreach { case (doc, cs) =>
      val n = nWords(doc)
      // chunk k exists iff its start k*S < n
      assert(cs.map(_._2).sorted.toSeq === (0L to (n - 1) / S).toSeq)
      cs.foreach { case (_, k, start, toks) =>
        assert(start === k * S)
        // chunk k holds tokens [k*S, min(k*S + W, n)) exactly
        assert(toks === math.min(W, n - k * S))
      }
    }
  }

  test("text_chunks: fingerprint is position-sensitive within the chunk") {
    // two docs, same multiset of tokens in different order, long enough
    // for one chunk each: fingerprints must differ
    import spark.implicits._
    val tmp = tempDir("chunkfp")
    Seq((1L, "alpha beta gamma", "x", "x", 1L), (2L, "beta alpha gamma", "x", "x", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val fps = TextAnalysis.textChunks(spark, tmp).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("chunk_fp")).toMap
    assert(fps(1L) !== fps(2L))
  }

  test("text_winnow_fp: census matches an independent Scala winnow") {
    val K = TextAnalysis.WinnowK
    val W = TextAnalysis.WinnowW
    def polyHash(s: String): Long =
      s.getBytes("UTF-8").foldLeft(0L)((acc, b) => (acc * 131L + (b & 0xFF)) % 1000000007L)
    val res = TextAnalysis.textWinnowFp(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_grams"), r.getAs[Long]("n_windows"),
          r.getAs[Long]("n_fps"), r.getAs[Long]("fp_digest"))).toMap
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    var covered = 0
    docs.foreach { case (id, text) =>
      val ws = text.trim.toLowerCase.replaceAll("\\s+", " ").split(" ", -1)
      val grams = (0 to ws.length - K).map(i => polyHash(ws.slice(i, i + K).mkString("_")))
      if (grams.length >= W) {
        covered += 1
        val mins = (0 to grams.length - W).map(i => grams.slice(i, i + W).min)
        val (g, w, f, d) = res(id)
        assert(g === grams.length.toLong)
        assert(w === mins.length.toLong)
        assert(f === mins.distinct.length.toLong)
        assert(d === mins.distinct.sum % 1000000007L)
      } else assert(!res.contains(id))
    }
    assert(covered > 0)
  }

  test("sample_epoch_plan: exact integer epoch arithmetic, budget conserved") {
    val res = TextAnalysis.sampleEpochPlan(spark, sf).collect()
    assert(res.nonEmpty)
    val totalUnique = res.map(_.getAs[Long]("unique_tokens")).sum
    res.foreach { r =>
      val u = r.getAs[Long]("unique_tokens")
      val t = r.getAs[Long]("target_tokens")
      val fe = r.getAs[Long]("full_epochs")
      val pt = r.getAs[Long]("partial_tokens")
      // DIV/MOD consistency: target decomposes exactly
      assert(fe * math.max(u, 1L) + pt === t)
      assert(pt >= 0L && pt < math.max(u, 1L))
      assert(r.getAs[Long]("repeat_bp") === t * 10000L / math.max(u, 1L))
    }
    // targets sum to <= budget (integer DIV loses at most sources-1 tokens)
    val targets = res.map(_.getAs[Long]("target_tokens")).sum
    val budget = totalUnique * TextAnalysis.EpochBudgetX
    assert(targets <= budget && targets > budget - res.length)
    // the weight spread must produce BOTH regimes at this SF
    assert(res.exists(_.getAs[Long]("full_epochs") >= 1L))
  }

  test("sample_curriculum: phases partition the corpus and band monotonically") {
    val res = TextAnalysis.sampleCurriculum(spark, sf).collect()
      .map(r => (r.getAs[Long]("phase"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("difficulty_min"), r.getAs[Long]("difficulty_max")))
      .sortBy(_._1)
    assert(res.map(_._2).sum === spark.read.parquet(s"$sf/documents.parquet").count())
    assert(res.forall(p => p._1 >= 1 && p._1 <= 10))
    res.foreach(p => assert(p._3 <= p._4))
    // value-banded: each phase's max difficulty <= the next phase's min
    res.sliding(2).foreach {
      case Array(a, b) => assert(a._4 <= b._3)
      case _ =>
    }
  }
}
