package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: one workload, one seed, one closed-loop
  * client. Driven by graftbench/run.py, which builds the classes, sizes
  * the JVM and owns the scratch directory. Prints its result as the
  * last stdout line, prefixed with `GRAFTBENCH_RESULT `. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        cores: Int, scratch: String, traceOut: String)

  /** Set-ups per run; setup_s is their median. */
  val SetupRepeats = 2
  /** Untimed operations before the measured ones. */
  val WarmupOps = 2
  /** Fewest measured operations per run, however long they take. */
  val MinOps = 3
  /** Operations in the traced phase. */
  val TracedOps = 2

  val Workloads = Seq("replicate", "backfill_verify", "curate")

  /** `tiny` shrinks the inputs to a few thousand rows, for [[train]]. */
  def make(name: String, spark: SparkSession, dir: String, seed: Long,
           tiny: Boolean = false): Workload = name match {
    case "replicate" =>
      new Replicate(spark, dir, seed,
        if (tiny) Replicate.Params(initialKeys = 2000, churn = 100, updates = 300) else Replicate.Params())
    case "backfill_verify" =>
      new Backfill(spark, dir, seed,
        if (tiny) Backfill.Params(events = 20000, keys = 5000, plantedPerKind = 10) else Backfill.Params())
    case "curate" =>
      new Curate(spark, dir, seed,
        if (tiny) Curate.Params(baseDocs = 640, exactCopies = 10, nearCopies = 20, queries = 8)
        else Curate.Params())
  }

  def main(argv: Array[String]): Unit = {
    val code =
      try argv.headOption match {
        case Some("selftest") => if (Selftest.run()) 0 else 1
        case Some("train")    => train(argv(1))
        case _                => run(parse(argv))
      } catch { case e: Throwable => e.printStackTrace(); 2 }
    sys.exit(code)
  }

  /** Run every workload once on tiny inputs, traced, so a
    * JVM started with -XX:ArchiveClassesAtExit archives the classes a
    * real run loads (build.py does this once per build). Class loading
    * from the archive halves Spark's cold start, which repeats in every
    * run. */
  def train(scratch: String): Int = {
    val (spark, counters) = session(Runtime.getRuntime.availableProcessors, scratch)
    val ok = Workloads.forall { w =>
      val wl = make(w, spark, s"$scratch/train/$w", 1L, tiny = true)
      wl.setup()
      val t = new Tracer(true, spark, counters, w)
      t.span("op")(wl.op(0, t)).mismatches.isEmpty
    }
    spark.stop()
    if (ok) 0 else 1
  }

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val w = m("workload")
    require(Workloads.contains(w), s"unknown workload $w; one of ${Workloads.mkString(", ")}")
    Args(w, m("seed").toLong, m("seconds").toDouble, m("trace") == "1", m("cores").toInt,
      m("scratch"), m.getOrElse("trace-out", ""))
  }

  def session(cores: Int, scratch: String): (SparkSession, Counters) = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // sized to the machine like the heap: at Spark's default of 200,
      // every replicate cycle reloads and commits 200 state-store
      // partitions (~14 s a cycle on 4 cores), which no run budget holds
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val c = new Counters
    spark.sparkContext.addSparkListener(c)
    spark.listenerManager.register(c)
    (spark, c)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def rmTree(p: java.nio.file.Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))

  final case class OpRecord(phase: String, index: Int, outcome: OpOutcome)

  def run(a: Args): Int = {
    var (spark, counters) = session(a.cores, a.scratch)
    val records = ArrayBuffer.empty[OpRecord]
    var index = 0

    val setupS = ArrayBuffer.empty[Double]
    var dir = ""
    var wl: Workload = null
    for (k <- 0 until SetupRepeats) {
      val prev = dir
      dir = s"${a.scratch}/data/setup-$k"
      val t0 = System.nanoTime()
      wl = make(a.workload, spark, dir, a.seed)
      wl.setup()
      setupS += (System.nanoTime() - t0) / 1e9
      if (prev.nonEmpty) rmTree(Paths.get(prev))
    }

    def ok = records.forall(_.outcome.mismatches.isEmpty)
    def runOp(t: Tracer, phase: String): OpOutcome = {
      t.op = index
      val o =
        try t.span("op")(wl.op(index, t))
        catch { case e: Exception => OpOutcome(0, 0, 0, 0, Seq(s"operation $index threw $e")) }
      records += OpRecord(phase, index, o)
      o.mismatches.foreach(m => System.err.println(s"graftbench: MISMATCH $m"))
      index += 1
      o
    }

    val plain = new Tracer(false, spark, counters, a.workload)
    // checked but untimed: the first operations in a JVM pay for JIT and
    // code generation, which would otherwise dominate the median
    for (_ <- 0 until WarmupOps if ok) runOp(plain, "warmup")
    val start = System.nanoTime()
    while (ok && ((System.nanoTime() - start) / 1e9 < a.seconds ||
        records.count(_.phase == "measured") < MinOps))
      runOp(plain, "measured")

    val measured = records.filter(_.phase == "measured").map(_.outcome).toSeq
    val runS = median(measured.map(_.totalS))
    val endToEnd = Seq(
      ("setup_s", "s", median(setupS.toSeq)),
      ("run_s", "s", runS),
      ("rows_per_s", "1/s", if (runS > 0) measured.head.items / runS else 0.0),
      ("cycle_p50_s", "s", median(measured.map(_.verifiedS))),
      ("near_dup_recall", "ratio", median(measured.map(_.recall))))

    var perLayer = Seq.empty[(String, String, Double)]
    var tracer: Tracer = null
    if (a.trace && ok) {
      tracer = new Tracer(true, spark, counters, a.workload)
      val heap = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
      heap.foreach(_.resetPeakUsage())
      for (_ <- 0 until TracedOps if ok) runOp(tracer, "traced")
      val peakHeapMb = heap.map(_.getPeakUsage.getUsed).sum / 1e6
      // the same workload on one core: fresh session, same inputs on disk
      spark.stop()
      val one = session(1, a.scratch)
      spark = one._1; counters = one._2
      wl = make(a.workload, spark, dir, a.seed)
      val single = if (ok) runOp(new Tracer(false, spark, counters, a.workload), "one_core").totalS else 0.0
      perLayer = Layers.metrics(tracer, records.filter(_.phase == "traced").map(r => (r.index, r.outcome)).toSeq,
        a.cores, runS, peakHeapMb, if (runS > 0) single / runS else 0.0)
    }
    spark.stop()

    val correct = ok
    val attempted = records.size
    val failed = records.count(_.outcome.mismatches.nonEmpty)
    val shown = if (a.trace) perLayer else endToEnd
    println(f"graftbench: workload=${a.workload} seed=${a.seed} cores=${a.cores} " +
      f"heap_mb=${Runtime.getRuntime.maxMemory / 1e6}%.0f setups=${setupS.size} " +
      f"measured_ops=${measured.size} attempted=$attempted failed=$failed " +
      s"setup_s=${setupS.map(x => f"$x%.2f").mkString(",")} " +
      s"op_s=${measured.map(o => f"${o.totalS}%.2f").mkString(",")}")
    if (a.traceOut.nonEmpty && tracer != null)
      writeTrace(a, setupS.toSeq, records.toSeq, tracer, endToEnd, perLayer)
    val metrics = Json.obj(shown.map { case (n, u, v) =>
      n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })
    println("GRAFTBENCH_RESULT " + Json.obj(Seq(
      "correct" -> correct.toString, "attempted" -> attempted.toString,
      "failed" -> failed.toString, "metrics" -> metrics)))
    if (correct) 0 else 1
  }

  private def writeTrace(a: Args, setupS: Seq[Double], records: Seq[OpRecord], t: Tracer,
                         endToEnd: Seq[(String, String, Double)],
                         perLayer: Seq[(String, String, Double)]): Unit = {
    def metricList(ms: Seq[(String, String, Double)]) = Json.arr(ms.map { case (n, u, v) =>
      Json.obj(Seq("name" -> Json.str(n), "unit" -> Json.str(u), "value" -> Json.num(v))) })
    val doc = Json.obj(Seq(
      "workload" -> Json.str(a.workload), "seed" -> a.seed.toString,
      "cores" -> a.cores.toString, "heap_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1e6),
      "setup_s" -> Json.arr(setupS.map(Json.num)),
      "operations" -> Json.arr(records.map(r => Json.obj(Seq(
        "phase" -> Json.str(r.phase), "index" -> r.index.toString,
        "verified_s" -> Json.num(r.outcome.verifiedS), "total_s" -> Json.num(r.outcome.totalS),
        "recall" -> Json.num(r.outcome.recall),
        "mismatches" -> Json.arr(r.outcome.mismatches.map(Json.str)))))),
      "spans" -> Json.arr(t.spans.toSeq.map(s => Json.obj(Seq(
        "id" -> s.id.toString, "parent" -> s.parent.toString, "name" -> Json.str(s.name),
        "workload" -> Json.str(s.workload), "op" -> s.op.toString,
        "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString,
        "self_s" -> Json.num(t.selfSeconds(s)),
        "counters" -> Json.obj(s.counters.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }))))),
      "gauges" -> Json.arr(t.gauges.toSeq.map { case (o, n, v) =>
        Json.obj(Seq("op" -> o.toString, "name" -> Json.str(n), "value" -> Json.num(v))) }),
      "end_to_end" -> metricList(endToEnd),
      "per_layer" -> metricList(perLayer)))
    val out = Paths.get(a.traceOut)
    Files.createDirectories(out.getParent)
    Files.write(out, doc.getBytes(UTF_8))
  }
}

/** Just enough JSON for the result line and the trace file. */
object Json {
  def str(s: String): String = s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c    => c.toString
  }.mkString("\"", "", "\"")

  /** Full precision; a non-finite value (never expected) becomes 0. */
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "0" else java.lang.Double.toString(d)

  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")

  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
}
