package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.graftvec.{CharPairs, KmvDistinct, LshSignatures, MinHashBands, PolyHash, QuantizedDot, Shingles3, Shingles3Hashed, SimHash64, TopBigramCount, WordBigrams, WordLines}

/** SparkSessionExtensions entry point: registers graft's native
  * expressions as SQL functions, so `spark.sql("... qdot(a, b) ...")`
  * works next to the Column API. Activate with
  * `spark.sql.extensions=graft.GraftExtensions` or call
  * `GraftExtensions.register(spark)` on a live session. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.descriptors.foreach(ext.injectFunction)
}

object GraftExtensions {

  private def intArg(e: Expression, name: String): Int = e match {
    case Literal(v: Int, org.apache.spark.sql.types.IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$name expects a literal INT argument, got $other")
  }

  private val descriptors: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("qdot"),
      new ExpressionInfo(classOf[QuantizedDot].getName, null, "qdot",
        "qdot(a, b) - exact fixed-point dot product: sum of floor(a_i*b_i*1e9 + 0.5) as BIGINT",
        ""),
      (children: Seq[Expression]) => QuantizedDot(children(0), children(1))),
    (FunctionIdentifier("poly_hash"),
      new ExpressionInfo(classOf[PolyHash].getName, null, "poly_hash",
        "poly_hash(s) - portable polynomial hash of s's bytes: fold (acc*131 + byte) mod 1e9+7",
        ""),
      (children: Seq[Expression]) => PolyHash(children.head)),
    (FunctionIdentifier("shingles3"),
      new ExpressionInfo(classOf[Shingles3].getName, null, "shingles3",
        "shingles3(words) - distinct word-3-gram shingle strings ('_'-joined)",
        ""),
      (children: Seq[Expression]) => Shingles3(children.head)),
    (FunctionIdentifier("shingles3_hashed"),
      new ExpressionInfo(classOf[Shingles3Hashed].getName, null, "shingles3_hashed",
        "shingles3_hashed(words) - distinct word-3-gram shingles as portable polyhash BIGINTs",
        ""),
      (children: Seq[Expression]) => Shingles3Hashed(children.head)),
    (FunctionIdentifier("lsh_sigs"),
      new ExpressionInfo(classOf[LshSignatures].getName, null, "lsh_sigs",
        "lsh_sigs(v, tables, bits, dim) - all random-hyperplane LSH table signatures of v",
        ""),
      (children: Seq[Expression]) => LshSignatures(children(0),
        intArg(children(1), "lsh_sigs.tables"),
        intArg(children(2), "lsh_sigs.bits"),
        intArg(children(3), "lsh_sigs.dim"))),
    (FunctionIdentifier("minhash_bands"),
      new ExpressionInfo(classOf[MinHashBands].getName, null, "minhash_bands",
        "minhash_bands(hs, numHashes, numBands, salt) - LSH band hashes of a shingle-hash array (affine-perm minhash minima folded per band)",
        ""),
      (children: Seq[Expression]) => MinHashBands(children(0),
        intArg(children(1), "minhash_bands.numHashes"),
        intArg(children(2), "minhash_bands.numBands"),
        intArg(children(3), "minhash_bands.salt"))),
    (FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[SimHash64].getName, null, "simhash64",
        "simhash64(words, salt) - 64-bit SimHash of a words array via portable polyhash parity votes",
        ""),
      (children: Seq[Expression]) => SimHash64(children(0),
        intArg(children(1), "simhash64.salt"))),
    (FunctionIdentifier("word_bigrams"),
      new ExpressionInfo(classOf[WordBigrams].getName, null, "word_bigrams",
        "word_bigrams(words) - all adjacent word bigrams (' '-joined, duplicates preserved); empty for arrays shorter than 2",
        ""),
      (children: Seq[Expression]) => WordBigrams(children.head)),
    (FunctionIdentifier("char_pairs"),
      new ExpressionInfo(classOf[CharPairs].getName, null, "char_pairs",
        "char_pairs(words) - adjacent character pairs of every word, concatenated across words (the BPE pair-count fan-out; code-point boundaries)",
        ""),
      (children: Seq[Expression]) => CharPairs(children.head)),
    (FunctionIdentifier("word_lines"),
      new ExpressionInfo(classOf[WordLines].getName, null, "word_lines",
        "word_lines(words, lineWords) - fixed word-window lines (' '-joined), the line-dedup fan-out; lineWords must be a literal INT",
        ""),
      (children: Seq[Expression]) => WordLines(children(0),
        intArg(children(1), "word_lines.lineWords"))),
    (FunctionIdentifier("top_bigram_count"),
      new ExpressionInfo(classOf[TopBigramCount].getName, null, "top_bigram_count",
        "top_bigram_count(words) - occurrence count of the most frequent adjacent-word bigram",
        ""),
      (children: Seq[Expression]) => TopBigramCount(children.head)),
    (FunctionIdentifier("shingles_k_hashed_seq"),
      new ExpressionInfo(classOf[org.apache.spark.sql.graftvec.ShinglesKHashedSeq].getName,
        null, "shingles_k_hashed_seq",
        "shingles_k_hashed_seq(words, k) - positional polyhashes of every k-word window (duplicates kept); k must be a literal INT",
        ""),
      (children: Seq[Expression]) => org.apache.spark.sql.graftvec.ShinglesKHashedSeq(
        children(0), intArg(children(1), "shingles_k_hashed_seq.k"))),
    (FunctionIdentifier("kmv_distinct"),
      new ExpressionInfo(classOf[KmvDistinct].getName, null, "kmv_distinct",
        "kmv_distinct(h, k) - KMV approximate distinct count over a BIGINT hash column",
        ""),
      (children: Seq[Expression]) => KmvDistinct(children(0),
        intArg(children(1), "kmv_distinct.k")).toAggregateExpression()),
  )

  /** Register on an already-built session (tests, spark-shell). */
  def register(spark: SparkSession): Unit =
    descriptors.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
}
