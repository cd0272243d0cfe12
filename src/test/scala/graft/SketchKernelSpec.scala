package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftvec.MinHashExpressions._
import org.apache.spark.sql.graftvec.{RunPairs, SketchPerms}

import graft.functions.TextFunctions
import graft.operators.Dedup

/** Equivalence tests for the native sketch kernels against the
  * declarative (exploded / wide-aggregate) formulations they replaced —
  * parquet-backed input so codegen actually runs (literals would be
  * constant-folded before the kernel is exercised). */
class SketchKernelSpec extends SparkSpec {

  private val P = SketchPerms.P

  private def docsWithWords = {
    spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
      .withColumn("ws", TextFunctions.words(col("text")))
  }

  test("minhash_bands equals the exploded 64-min-aggregate + band fold") {
    val numHashes = Dedup.NumHashes
    val numBands = Dedup.NumBands
    val rows = numHashes / numBands
    val hashed = docsWithWords
      .withColumn("hs", TextFunctions.shingles3HashedFromWords(col("ws")))
      .filter(size(col("hs")) > 0)

    val native = hashed
      .select(col("doc_id"),
        posexplode(minhashBands(col("hs"), numHashes, numBands)).as(Seq("band_id", "band_hash")))

    val mins = (0 until numHashes).map { j =>
      val (a, b) = SketchPerms.perm(j)
      min(pmod(col("h") * a + b, lit(P))).as(s"m$j")
    }
    val sigs = hashed.select(col("doc_id"), explode(col("hs")).as("h"))
      .groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
    val bandCols = (0 until numBands).map { b =>
      val combined = (b * rows until (b + 1) * rows)
        .map(j => col(s"m$j"))
        .reduce((acc, m) => pmod(acc * 1000003L + m, lit(P)))
      struct(lit(b).as("band_id"), combined.as("band_hash"))
    }
    val declarative = sigs
      .select(col("doc_id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band_id").cast("int").as("band_id"), col("bb.band_hash"))

    assert(native.exceptAll(declarative).isEmpty && declarative.exceptAll(native).isEmpty)
  }

  test("minhash_bands: empty in, empty out") {
    // spark.range keeps the kernel in generated code (no constant folding)
    val df = spark.range(4).select(col("id"),
      minhashBands(when(col("id") % 2 === 0, typedLit(Seq.empty[Long]))
        .otherwise(array(col("id"))), Dedup.NumHashes, Dedup.NumBands).as("b"))
    val got = df.collect().map(r => r.getLong(0) -> r.getSeq[Long](1).size).toMap
    assert(got === Map(0L -> 0, 1L -> Dedup.NumBands, 2L -> 0, 3L -> Dedup.NumBands))
    assert(df.select(posexplode(col("b"))).count() === 2L * Dedup.NumBands)
  }

  test("simhash64 equals the exploded 64-bit-vote aggregate") {
    val native = docsWithWords
      .select(col("doc_id"), simhash64(col("ws"), Dedup.SimSalt).as("simhash"))

    val toks = docsWithWords
      .select(col("doc_id"), explode(col("ws")).as("w"))
      .withColumn("h", org.apache.spark.sql.graftvec.VectorExpressions.polyHash(col("w")))
    val bitSums = (0 until 64).map { j =>
      val (a, b) = SketchPerms.perm(j + Dedup.SimSalt)
      sum(when(pmod(col("h") * a + b, lit(P)).bitwiseAND(1L) === 1L, 1).otherwise(-1)).as(s"b$j")
    }
    val packed = (0 until 64).map { j =>
      when(col(s"b$j") > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))
    val declarative = toks.groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), packed.as("simhash"))

    assert(native.exceptAll(declarative).isEmpty && declarative.exceptAll(native).isEmpty)
  }

  test("sorted_pairs emits every unordered pair of the distinct elements, sorted") {
    // the bucket pass: each run's ids come back sorted and distinct, and
    // the pair loop expands a run into its pairs a < b
    import spark.implicits._
    val rows = Seq(
      (1L, Some(5L)), (1L, Some(3L)), (1L, Some(9L)), (1L, Some(3L)), // dup element collapses
      (2L, Some(7L)), // singleton -> no pairs
      (3L, None) // a run of one null id -> empty
    ).toDF("k", "doc_id")
    val runs = Dedup.bucketRuns(rows, col("k"), 1, 10).collect().map(_.toSeq).sortBy(_.headOption)
    assert(runs.toSeq === Seq(Seq.empty[Long], Seq(3L, 5L, 9L), Seq(7L)))
    val want = Seq((3L, 5L), (3L, 9L), (5L, 9L))
    assert(RunPairs.pairs(runs.iterator.map(_.toArray)).toSeq === want)
    assert(Dedup.bucketPairs(rows, col("k"), 1, 10).as[(Long, Long)].collect().sorted.toSeq === want)
  }

  test("collect_capped: complete below the cap, truncated at the cap, exact count alongside") {
    // the bucket pass keeps what the capped collect guaranteed: a run at
    // or below the cap comes back whole, a run past it is counted and
    // dropped, and the count includes repeated ids
    import spark.implicits._
    val df = (1 to 30).map(i => ((i % 3).toLong, i.toLong)).toDF("g", "doc_id")
    assert(Dedup.bucketRuns(df, col("g"), 2, 4).isEmpty) // 10 rows a run, cap 4
    val small = Dedup.bucketRuns(df.filter(col("doc_id") <= 6), col("g"), 2, 4)
      .collect().map(_.toSeq).toSet
    assert(small === (0 to 2).map(g => (1 to 6).filter(_ % 3 == g).map(_.toLong)).toSet)
    // 3 distinct ids in 5 rows: the row count, not the distinct count, meets the cap
    val repeats = Seq(1L, 1L, 2L, 3L, 3L).map(v => (0L, v)).toDF("g", "doc_id")
    assert(Dedup.bucketRuns(repeats, col("g"), 2, 4).isEmpty)
    assert(Dedup.bucketRuns(repeats, col("g"), 2, 5).collect().map(_.toSeq).toSeq ===
      Seq(Seq(1L, 2L, 3L)))
  }

  test("bucketPairs: runs in [minSz, maxSz] pair their distinct ids; others yield nothing") {
    import spark.implicits._
    val rows = Seq(
      (1L, 13L), (1L, 10L), (1L, 12L), (1L, 11L), // exactly maxSz rows: expanded
      (2L, 20L), (2L, 21L), (2L, 22L), (2L, 23L), (2L, 23L), // maxSz + 1 with a repeat: dropped
      (3L, 30L), (3L, 31L), (3L, 30L), // a repeat counts, never pairs with itself
      (4L, 40L), // singleton
      (5L, 50L), (5L, 50L) // size 2, one distinct id: no pair
    ).toDF("k", "doc_id")
      // a null id counts toward its run's size: 4 ids + null = maxSz + 1
      .union(Seq((6L, 60L), (6L, 61L), (6L, 62L), (6L, 63L)).toDF("k", "doc_id"))
      .union(spark.range(1).select(lit(6L).as("k"), lit(null).cast("long").as("doc_id")))
    val got = Dedup.bucketPairs(rows, col("k"), 2, 4).as[(Long, Long)].collect().sorted.toSeq
    assert(got === Seq((10L, 11L), (10L, 12L), (10L, 13L), (11L, 12L), (11L, 13L), (12L, 13L),
      (30L, 31L)))
  }

  test("word_bigrams equals the zip_with-over-slices HOF form") {
    import org.apache.spark.sql.graftvec.NgramExpressions
    val d = docsWithWords.filter(size(col("ws")) >= 2)
    val kernel = d.select(col("doc_id"),
      explode(NgramExpressions.wordBigrams(col("ws"))).as("bg"))
    val hof = d.select(col("doc_id"),
      explode(zip_with(
        slice(col("ws"), lit(1), size(col("ws")) - 1),
        slice(col("ws"), lit(2), size(col("ws")) - 1),
        (a, b) => concat_ws(" ", a, b))).as("bg"))
    assert(kernel.exceptAll(hof).count() === 0)
    assert(hof.exceptAll(kernel).count() === 0)
    // short arrays yield empty (explode drops the row)
    import spark.implicits._
    val short = Seq(Seq("one")).toDF("ws")
      .select(explode(NgramExpressions.wordBigrams(col("ws"))))
    assert(short.count() === 0)
  }

  test("char_pairs equals the explode-words + split + zip_with form") {
    import org.apache.spark.sql.graftvec.NgramExpressions
    val kernel = docsWithWords.select(col("doc_id"),
      explode(NgramExpressions.charPairs(col("ws"))).as("pair"))
    val hof = docsWithWords
      .select(col("doc_id"), explode(col("ws")).as("w"))
      .select(col("doc_id"), split(col("w"), "").as("cs"))
      .filter(size(col("cs")) >= 2)
      .select(col("doc_id"), explode(zip_with(
        slice(col("cs"), lit(1), size(col("cs")) - 1),
        slice(col("cs"), lit(2), size(col("cs")) - 1),
        (a, b) => concat(a, b))).as("pair"))
    assert(kernel.exceptAll(hof).count() === 0)
    assert(hof.exceptAll(kernel).count() === 0)
  }

  test("chunk_hashes equals the explode(sequence) + substring + md5 form, any stride") {
    import org.apache.spark.sql.graftvec.ChunkExpressions.chunkHashes
    import spark.implicits._
    // parquet-backed edge corpus: empty, shorter-than-chunk, exact
    // multiple, long, and multi-byte UTF-8 that a byte-true chunker
    // must split mid-codepoint
    val tmp = tempDir("chunkkernel")
    (Seq((1L, ""), (2L, "short"), (3L, "x" * 128), (4L, "y" * 1000),
      (5L, "é😀é" * 40), (6L, "z" * 129)).toDF("id", "p")
      .write.mode("overwrite").parquet(tmp))
    val d = spark.read.parquet(tmp).select(col("id"), col("p").cast("binary").as("p"))
    for (stride <- Seq(1, 4)) {
      val kernel = d.select(col("id"),
          explode(chunkHashes(col("p"), 128, stride)).as("c"))
        .select(col("id"), col("c.chunk_i"), col("c.chunk_fp"), col("c.chunk_bytes"))
      val declarative = d
        .withColumn("n_chunks",
          ceil(octet_length(col("p")).cast("double") / 128).cast("long"))
        .filter(col("n_chunks") >= 1)
        .select(col("id"), col("p"),
          explode(sequence(lit(0L), col("n_chunks") - 1L)).as("chunk_i"))
        .filter(col("chunk_i") % stride === 0)
        .withColumn("chunk", substring(col("p"),
          (col("chunk_i") * 128 + 1).cast("int"), lit(128)))
        .select(col("id"), col("chunk_i"), md5(col("chunk")).as("chunk_fp"),
          length(col("chunk")).as("chunk_bytes"))
      assert(kernel.exceptAll(declarative).count() === 0, s"stride $stride")
      assert(declarative.exceptAll(kernel).count() === 0, s"stride $stride")
    }
  }

  test("new kernels run under CODEGEN_ONLY (no silent interpreted fallback)") {
    import org.apache.spark.sql.graftvec.ChunkExpressions.chunkHashes
    import org.apache.spark.sql.graftvec.SearchSortedExpressions.searchSorted
    import graft.functions.TextFunctions
    // fallback=false turns a broken doGenCode into a hard failure
    // instead of a quiet interpreted path
    val saved = spark.conf.get("spark.sql.codegen.fallback", "true")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val d = spark.read.parquet(s"$sf/documents.parquet")
        .select(col("doc_id"), col("text"))
      val n1 = d.select(explode(chunkHashes(col("text").cast("binary"), 64)).as("c"))
        .filter(col("c.chunk_bytes") > 0).count()
      assert(n1 > 0)
      val n2 = d.select(searchSorted(col("doc_id").cast("double"),
          Array(10.0, 100.0, 400.0)).as("s"))
        .groupBy(col("s")).count().count()
      assert(n2 >= 2)
      val n3 = d.select(explode(
          TextFunctions.shingles3HashedSeqFromWords(TextFunctions.words(col("text")))).as("h"))
        .count()
      assert(n3 > 0)
    } finally spark.conf.set("spark.sql.codegen.fallback", saved)
  }

  test("char_class_counts equals the regex strip-count form, incl. edge strings") {
    import org.apache.spark.sql.graftvec.CharClassExpressions.charClassCounts
    import spark.implicits._
    val corpus = spark.read.parquet(s"$sf/documents.parquet").select(col("text"))
    val edges = Seq("", " ", "\t\n\r", "abc123 XYZ!?", "ünïcødé mixé 42",
      "é世界 ascii", "a" * 1000).toDF("text")
    for (d <- Seq(corpus, edges)) {
      val both = d.select(
        charClassCounts(col("text")).as("k"),
        length(col("text")).cast("long").as("r_chars"),
        (length(col("text")) - length(regexp_replace(col("text"), "[A-Za-z]", "")))
          .cast("long").as("r_alpha"),
        (length(col("text")) - length(regexp_replace(col("text"), "[0-9]", "")))
          .cast("long").as("r_digit"),
        (length(col("text")) - length(regexp_replace(col("text"), "[ \\t\\n\\r]", "")))
          .cast("long").as("r_space"))
      assert(both.filter(
        col("k").getItem(0) =!= col("r_chars") ||
        col("k").getItem(1) =!= col("r_alpha") ||
        col("k").getItem(2) =!= col("r_digit") ||
        col("k").getItem(3) =!= col("r_space")).isEmpty)
    }
  }

  test("char_class_counts runs under CODEGEN_ONLY") {
    import org.apache.spark.sql.graftvec.CharClassExpressions.charClassCounts
    val saved = spark.conf.get("spark.sql.codegen.fallback", "true")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val n = spark.read.parquet(s"$sf/documents.parquet")
        .select(charClassCounts(col("text")).getItem(1).as("a"))
        .filter(col("a") > 0).count()
      assert(n > 0)
    } finally spark.conf.set("spark.sql.codegen.fallback", saved)
  }

  test("marker_hits equals the size(filter(isin)) HOF form for every set") {
    import org.apache.spark.sql.graftvec.MarkerHitsExpressions
    val sets = Seq(Seq("the", "a", "of"), Seq("el", "la", "de"), Seq("und", "ist"))
    val d = docsWithWords
    val kernel = d.select(col("doc_id"),
      MarkerHitsExpressions.markerHits(col("ws"), sets).as("h")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    sets.zipWithIndex.foreach { case (set, i) =>
      val hof = d.select(col("doc_id"),
        size(filter(col("ws"), w => w.isin(set: _*))).as("n")).collect()
      hof.foreach(r => assert(kernel(r.getLong(0))(i) === r.getInt(1), s"set $i"))
    }
  }

  test("pq_codes equals the codebook-join argmin, ties toward the lowest cent_id") {
    import org.apache.spark.sql.graftvec.PqCodes.pqCodes
    import org.apache.spark.sql.graftvec.VectorExpressions.qdot
    import graft.operators.Similarity.{PqCentMod, PqDim, PqSub}
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
    // declarative form: slice → broadcast codebook join → min(struct) argmin
    val parts = (0 until PqSub).map { m =>
      struct(lit(m).as("m"), slice(col("v"), m * PqDim + 1, PqDim).as("sv"))
    }
    val subs = e.select(col("vec_id"), explode(array(parts: _*)).as("p"))
      .select(col("vec_id"), col("p.m").as("m"), col("p.sv").as("sv"))
      .withColumn("snrm", qdot(col("sv"), col("sv")))
    val cb = subs.filter(col("vec_id") % PqCentMod === 0)
      .select(col("vec_id").as("cent_id"), col("m"),
        col("sv").as("cv"), col("snrm").as("cnrm"))
    val declarative = subs.join(broadcast(cb), Seq("m"))
      .withColumn("d2", col("snrm") + col("cnrm") - lit(2L) * qdot(col("sv"), col("cv")))
      .groupBy(col("vec_id"), col("m"))
      .agg(min(struct(col("d2"), col("cent_id"))).as("best"))
      .select(col("vec_id"), col("m"), col("best.cent_id").as("code"))
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    // kernel form, codebook collected + m-major flattened as pqCodesOf does
    val rows = cb.select(col("m"), col("cent_id"), col("cv")).collect()
      .sortBy(r => (r.getInt(0), r.getLong(1)))
    val nC = rows.length / PqSub
    val flat = rows.flatMap(_.getSeq[Double](2))
    val centIds = rows.take(nC).map(_.getLong(1))
    val kernel = e.select(col("vec_id"),
        posexplode(pqCodes(col("v"), flat, PqSub, nC, PqDim)).as(Seq("m", "slot")))
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> centIds(r.getInt(2))).toMap
    assert(kernel.nonEmpty && kernel.size === declarative.size)
    kernel.foreach { case (k, code) => assert(declarative(k) === code, s"at $k") }
  }

  test("pq_codes clamps short vectors to zero-extension in eval AND codegen") {
    import org.apache.spark.sql.graftvec.PqCodes.pqCodes
    import graft.operators.Similarity.{PqDim, PqSub}
    import spark.implicits._
    val dim = PqSub * PqDim
    val flat = Array.tabulate(PqSub * 3 * PqDim)(i => (i % 11 - 5).toDouble / 6)
    // a short (17-element) vector must encode exactly like its 0-padded twin
    val short = (0 until 17).map(i => (i % 5 - 2).toDouble / 3)
    val padded = short ++ Seq.fill(dim - short.length)(0d)
    val df = Seq(("short", short), ("padded", padded)).toDF("tag", "v")
    def codesUnder(fallback: String): Map[String, Seq[Int]] = {
      val saved = spark.conf.get("spark.sql.codegen.fallback", "true")
      spark.conf.set("spark.sql.codegen.fallback", fallback)
      try df.select(col("tag"), pqCodes(col("v"), flat, PqSub, 3, PqDim).as("c"))
        .collect().map(r => r.getString(0) -> r.getSeq[Int](1)).toMap
      finally spark.conf.set("spark.sql.codegen.fallback", saved)
    }
    val gen = codesUnder("false") // CODEGEN_ONLY path
    assert(gen("short") === gen("padded"))
    // interpreted eval agrees with codegen on the short vector
    val expr = org.apache.spark.sql.graftvec.PqCodes(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        short, org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType)),
      flat, PqSub, 3, PqDim)
    val evald = expr.eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toIntArray().toSeq
    assert(evald === gen("short"))
  }

  test("pq_codes runs under CODEGEN_ONLY (no silent interpreted fallback)") {
    import org.apache.spark.sql.graftvec.PqCodes.pqCodes
    import graft.operators.Similarity.{PqDim, PqSub}
    val saved = spark.conf.get("spark.sql.codegen.fallback", "true")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val flat = Array.tabulate(PqSub * 2 * PqDim)(i => (i % 7 - 3).toDouble / 4)
      val n = spark.read.parquet(s"$sf/embeddings.parquet")
        .select(transform(col("embedding"), _.cast("double")).as("v"))
        .select(posexplode(pqCodes(col("v"), flat, PqSub, 2, PqDim)).as(Seq("m", "slot")))
        .groupBy(col("slot")).count().count()
      assert(n >= 1 && n <= 2)
    } finally spark.conf.set("spark.sql.codegen.fallback", saved)
  }
}
