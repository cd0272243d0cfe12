package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Result of one closed-loop operation.
  *  - `verifiedS`: from publishing the operation's input (or starting
  *    it) until its primary output has been checked against planted truth
  *  - `totalS`: the whole operation, its follow-up calls included
  *  - `items`: change events applied or documents curated
  *  - `recall`: share of planted items the detector reported
  *  - `mismatches`: planted-truth violations; empty when correct */
final case class OpOutcome(verifiedS: Double, totalS: Double, items: Long, recall: Double,
                           mismatches: Seq[String])

/** A closed-loop workload: one client that starts operation i+1 only
  * after operation i has been verified. */
trait Workload {
  /** Generate this instance's inputs (and any initial state). */
  def setup(): Unit
  /** Run operation `i`, check it against planted truth. */
  def op(i: Int, t: Tracer): OpOutcome
}

object Workload {
  /** Partitions for writing generated inputs: two per core. */
  def inputPartitions(spark: SparkSession): Int = 2 * spark.sparkContext.defaultParallelism
}

/** Planted-truth checks. Each returns human-readable mismatches, empty
  * when the result is exactly right. */
object Truth {

  /** `got` must hold exactly the elements of `expected`, each once. */
  def sameSet[T](what: String, expected: Set[T], got: Seq[T]): Seq[String] = {
    val gotSet = got.toSet
    val dups = got.size - gotSet.size
    val missing = expected -- gotSet
    val extra = gotSet -- expected
    (if (missing.nonEmpty) Seq(s"$what: ${missing.size} planted missing, e.g. ${missing.take(3).mkString(", ")}") else Nil) ++
      (if (extra.nonEmpty) Seq(s"$what: ${extra.size} unexpected, e.g. ${extra.take(3).mkString(", ")}") else Nil) ++
      (if (dups > 0) Seq(s"$what: $dups duplicate rows") else Nil)
  }

  /** Every element of `expected` must be in `got`. */
  def covers[T](what: String, expected: Set[T], got: Seq[T]): Seq[String] = {
    val missing = expected -- got.toSet
    if (missing.isEmpty) Nil
    else Seq(s"$what: ${missing.size} planted missing, e.g. ${missing.take(3).mkString(", ")}")
  }

  /** Connected components of an edge list, each node labelled with its
    * component's minimum: the reference for Dedup.connectedComponentsOf. */
  def components(edges: Seq[(Long, Long)]): Set[(Long, Long)] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.toSeq.map(n => (n, find(n))).toSet
  }
}

/** The bucket-digest compare both CDC workloads run over (key, amount). */
object Digest {
  /** Exact per-row digest, bounded so a bucket's sum cannot overflow. */
  val row: Column = pmod(xxhash64(col("key"), col("amount")), lit(1000000007L))

  /** Gauges of a digest compare: how many buckets mismatched and which
    * share of the compared rows the drill-down has to revisit. */
  def record(t: Tracer, digest: DataFrame): Unit = {
    val rows = digest.select(
      (coalesce(col("src_count"), lit(0L)) + coalesce(col("tgt_count"), lit(0L))).as("n"),
      col("bucket_match")).collect().map(r => (r.getLong(0), r.getBoolean(1)))
    val bad = rows.filterNot(_._2)
    t.gauge("bad_buckets", bad.length.toDouble)
    t.gauge("drill_rows_ratio", bad.map(_._1).sum.toDouble / math.max(1L, rows.map(_._1).sum))
  }
}
