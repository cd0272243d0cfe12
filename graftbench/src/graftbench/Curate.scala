package graftbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity}

/** Training-data curation, which bypasses the CDC, streaming and lake
  * code. The corpus is `baseDocs` documents of vocabulary-sampled words
  * plus `exactCopies` verbatim copies and `nearCopies` copies with 5–30%
  * of their words replaced, each copy of a distinct original. Every
  * document has a 64-d embedding; each of `queries` query documents has
  * `k` planted neighbours (its vector plus small noise), far closer than
  * any random vector. An operation runs exact dedup, MinHash near-dup
  * pairs, connected components over those pairs, and exact top-k for
  * the queries, each checked against the planted truth. */
final class Curate(spark: SparkSession, dir: String, seed: Long,
                   p: Curate.Params = Curate.Params()) extends Workload {
  import Curate._
  import spark.implicits._

  private val docsPath = s"$dir/docs"
  private val vecsPath = s"$dir/vecs"
  private val truth = planted(seed, p)

  def setup(): Unit = {
    val (seedL, params, orig) = (seed, p, originals(seed, p))
    spark.range(0, p.docs.toLong, 1, Workload.inputPartitions(spark)).as[Long]
      .map(d => (d, text(seedL, params, orig, d)))
      .toDF("doc_id", "text")
      .write.parquet(docsPath)
    spark.range(0, p.docs.toLong, 1, Workload.inputPartitions(spark)).as[Long]
      .map(d => (d, embedding(seedL, params, d)))
      .toDF("neighbor_id", "v")
      .withColumn("nrm", Similarity.qdot(col("v"), col("v")))
      .write.parquet(vecsPath)
  }

  def op(i: Int, t: Tracer): OpOutcome = {
    val t0 = System.nanoTime()
    val docs = spark.read.parquet(docsPath)
    val exact = t.span("dedup.exact")(
      Dedup.exactDuplicatesOf(docs, "doc_id", "text")
        .select("min_doc_id", "max_doc_id").as[(Long, Long)].collect().toSeq)
    val bad1 = Truth.sameSet("exact duplicates", truth.exact, exact)
    val pairs = t.span("dedup.minhash")(
      Dedup.minhashPairsOf(docs).select("doc_a", "doc_b").as[(Long, Long)].collect().toSeq)
    val bad2 = Truth.covers("minhash pairs (exact copies)", truth.exact, pairs)
    val found = pairs.toSet
    val recall = truth.near.count(found).toDouble / truth.near.size
    val bad3 = if (recall >= MinRecall) Nil else Seq(f"near-dup recall $recall%.3f < $MinRecall")
    val labels = t.span("dedup.components")(
      Dedup.connectedComponentsOf(pairs.toDF("doc_a", "doc_b"))
        .select("doc_id", "cluster_id").as[(Long, Long)].collect().toSeq)
    val bad4 = Truth.sameSet("components", Truth.components(pairs), labels)
    val t1 = System.nanoTime()

    val vecs = spark.read.parquet(vecsPath)
    val queries = vecs.filter(col("neighbor_id").isin(truth.queries: _*))
      .select(col("neighbor_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    val knn = t.span("similarity.knn")(
      Similarity.knnOf(queries, vecs, p.k)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSeq)
    val bad5 = Truth.sameSet("knn", truth.knn, knn)
    t.gauge("candidate_pairs", pairs.size.toDouble)
    t.gauge("pair_precision",
      found.count(pr => truth.exact(pr) || truth.near(pr)).toDouble / math.max(1, found.size))
    t.gauge("pairs_scored", truth.queries.length.toDouble * (p.docs - 1))
    val t2 = System.nanoTime()
    OpOutcome((t1 - t0) / 1e9, (t2 - t0) / 1e9, p.docs, recall, bad1 ++ bad2 ++ bad3 ++ bad4 ++ bad5)
  }
}

object Curate {
  final case class Params(baseDocs: Int = 20000, exactCopies: Int = 500, nearCopies: Int = 1000,
                          vocabulary: Int = 20000, queries: Int = 64, k: Int = 5, dims: Int = 64) {
    def docs: Int = baseDocs + exactCopies + nearCopies
    def queryStride: Int = baseDocs / queries
  }

  /** A sanity floor, far below the recall the planted copies give, so
    * only a broken sketch fails it; the measured recall is reported. */
  val MinRecall = 0.5

  final case class Planted(exact: Set[(Long, Long)], near: Set[(Long, Long)],
                           queries: Array[Long], knn: Set[(Long, Long)])

  /** Original of copy c (copies are numbered from 0, exact ones first). */
  def originals(seed: Long, p: Params): Array[Int] = Gen.permutation(seed, 35, p.baseDocs)

  def planted(seed: Long, p: Params): Planted = {
    val orig = originals(seed, p)
    val copies = (0 until p.exactCopies + p.nearCopies).map(c => (orig(c).toLong, p.baseDocs.toLong + c))
    val queries = Array.tabulate(p.queries)(q => q.toLong * p.queryStride)
    Planted(copies.take(p.exactCopies).toSet, copies.drop(p.exactCopies).toSet, queries,
      queries.flatMap(q => (1 to p.k).map(r => (q, q + r))).toSet)
  }

  private def word(v: Int): String = "w" + Integer.toString(v, 36)

  /** Vocabulary index of word t of base document d: Zipf(1) popularity. */
  private def wordOf(seed: Long, p: Params, d: Long, t: Int): Int =
    math.min(p.vocabulary - 1,
      math.exp(Gen.u01(Gen.h(Gen.h(seed, 31, d), 32, t)) * math.log(p.vocabulary.toDouble)).toInt - 1)

  private def baseWords(seed: Long, p: Params, d: Long): Array[Int] =
    Array.tabulate(100 + Gen.below(Gen.h(seed, 33, d), 41).toInt)(t => wordOf(seed, p, d, t))

  /** Text of document d; `orig` is [[originals]]. */
  def text(seed: Long, p: Params, orig: Array[Int], d: Long): String = {
    val words =
      if (d < p.baseDocs) baseWords(seed, p, d)
      else {
        val c = (d - p.baseDocs).toInt
        val ws = baseWords(seed, p, orig(c))
        if (c >= p.exactCopies) {
          val rate = 0.05 + 0.25 * Gen.u01(Gen.h(seed, 36, c))
          val hs = Gen.h(seed, 37, c)
          var changed = false
          for (t <- ws.indices if Gen.u01(Gen.h(hs, 38, t)) < rate || (t == ws.length - 1 && !changed)) {
            ws(t) = (ws(t) + 1 + Gen.below(Gen.h(hs, 39, t), p.vocabulary - 1L).toInt) % p.vocabulary
            changed = true
          }
        }
        ws
      }
    words.map(word).mkString(" ")
  }

  /** Gaussian vector of document d; a query's planted neighbours are the
    * query's own vector plus noise of 0.15 per dimension. */
  def embedding(seed: Long, p: Params, d: Long): Array[Double] = {
    val q = d / p.queryStride * p.queryStride
    val r = d - q
    val planted = d < p.baseDocs && q / p.queryStride < p.queries && r >= 1 && r <= p.k
    Array.tabulate(p.dims) { j =>
      if (planted) Gen.gauss(seed, 41, q * p.dims + j) + 0.15 * Gen.gauss(seed, 41, d * p.dims + j)
      else Gen.gauss(seed, 41, d * p.dims + j)
    }
  }
}
