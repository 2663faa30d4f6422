package perfbench

import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Benchmark entry point. Runs one workload in one `local[4]` JVM:
  * session start, set-up (repeated where cheap; median), warm-up
  * (`warmup_ops` discarded operations), then timed operations on fresh
  * copies of the set-up state until at least `--seconds` have passed
  * and `min_samples` are taken. Untraced runs report the end-to-end
  * metrics. Traced runs warm up with one untraced and one traced
  * operation, alternate untraced and traced operations (at least
  * `min_traced` pairs) and report the per-layer metrics. The last
  * stdout line starting with `PERFBENCH_RESULT ` carries the result.
  *
  * {{{
  * perfbench.Main --workload crawl_resume --seed 1 --seconds 8 --trace 0
  *   --work <scratch dir> [--trace-out <file>]
  * }}}
  */
object Main {
  val Workloads: Seq[String] =
    Seq("crawl_cold", "crawl_resume", "dedup")

  /** Input sizes and operation counts, chosen so one operation takes a
    * few seconds at `local[4]` and every run of BENCHMARK.json fits its
    * time budget. Set-up is repeated (median reported) where it is
    * cheap, and run once where it is a multi-second crawl commit or index
    * build. */
  private val Sizes: Map[String, Long] = Map(
    "crawl_cold.pages" -> 500L, "crawl_cold.setup_repeats" -> 3L,
    "crawl_resume.pages" -> 500L, "crawl_resume.setup_repeats" -> 1L,
    "dedup.batch_docs" -> 5000L, "dedup.index_docs" -> 10000L,
    "dedup.arriving_docs" -> 2000L, "dedup.setup_repeats" -> 1L,
    "warmup_ops" -> 2L, "min_samples" -> 2L, "min_traced" -> 2L,
    "max_samples" -> 200L)

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: String, traceOut: Option[String])

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) => (k, v) }.toSeq
    def one(k: String): Option[String] = kv.reverse.collectFirst { case (`k`, v) => v }
    def req(k: String): String =
      one(k).getOrElse(throw new IllegalArgumentException(s"missing $k"))
    val workload = req("--workload")
    require(Workloads.contains(workload),
      s"unknown workload $workload (one of ${Workloads.mkString(", ")})")
    val trace = req("--trace")
    require(trace == "0" || trace == "1", "--trace is 0 or 1")
    Args(workload, req("--seed").toLong, req("--seconds").toDouble,
      trace == "1", req("--work"), one("--trace-out"))
  }

  private def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def workload(a: Args, spark: SparkSession): Workload = {
    def p(k: String) = Sizes(s"${a.workload}.$k")
    a.workload match {
      case "crawl_cold" => new CrawlWorkload(spark, a.work, a.seed,
        resume = false, p("pages").toInt)
      case "crawl_resume" => new CrawlWorkload(spark, a.work, a.seed,
        resume = true, p("pages").toInt)
      case "dedup" => new DedupWorkload(spark, a.work, a.seed,
        p("batch_docs"), p("index_docs"), p("arriving_docs"))
    }
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(Paths.get(a.work))
    val t0 = Clock.now()
    val spark = session(a.work)
    val listener = new GroupListener
    spark.sparkContext.addSparkListener(listener)
    val sessionS = Clock.secondsSince(t0)
    try println("PERFBENCH_RESULT " + run(a, spark, listener, sessionS))
    finally spark.stop()
  }

  private def run(a: Args, spark: SparkSession, listener: GroupListener,
      sessionS: Double): String = {
    val w = workload(a, spark)
    val setupRuns = (1L to Sizes(s"${a.workload}.setup_repeats"))
      .map(_ => Clock.timed(w.setup())._2)
    // JIT and codegen warm-up: full operations, discarded; operation
    // times keep falling for several operations after the first
    val (_, warmS) = Clock.timed {
      if (!a.trace)
        (1L to Sizes("warmup_ops")).foreach(_ => w.sample(None, checked = false))
      else {
        w.sample(None, checked = false)
        w.sample(Some(new Tracer(spark, listener, s"${w.name}-warm")),
          checked = false)
      }
    }
    val setupS = sessionS + warmS + Clock.median(setupRuns)
    System.err.println(f"[perfbench] ${w.name} session=$sessionS%.2fs " +
      f"warmup=$warmS%.2fs setup=${setupRuns.map(s => f"$s%.2f").mkString(",")}s")

    val plain = collection.mutable.ArrayBuffer.empty[Sample]
    val traced = collection.mutable.ArrayBuffer.empty[Sample]
    var attempted = 0
    var thrown = 0
    def attempt(tr: Option[Tracer]): Unit = {
      attempted += 1
      try {
        val s = w.sample(tr)
        (if (tr.isDefined) traced else plain) += s
        s.failures.foreach(f => System.err.println(s"[perfbench] check failed: $f"))
      } catch {
        case NonFatal(e) =>
          thrown += 1
          System.err.println(s"[perfbench] operation threw: $e")
          e.printStackTrace()
      }
    }
    val start = Clock.now()
    val minSamples = Sizes(if (a.trace) "min_traced" else "min_samples")
    val maxSamples = Sizes("max_samples")
    var i = 0
    while ((i < minSamples || Clock.secondsSince(start) < a.seconds) &&
        i < maxSamples) {
      attempt(None)
      if (a.trace) attempt(Some(new Tracer(spark, listener, s"${w.name}-$i")))
      i += 1
    }
    val failed = thrown + (plain ++ traced).count(_.failures.nonEmpty)
    if (plain.isEmpty || (a.trace && traced.isEmpty))
      throw new IllegalStateException(s"${w.name}: every operation threw")

    val runS = Clock.median(plain.map(_.seconds).toSeq)
    val e2e = Seq(
      ("items_per_s", Clock.median(plain.map(s => s.items / s.seconds).toSeq), "1/s"),
      ("run_s", runS, "s"),
      ("setup_s", setupS, "s"),
      ("live_heap_mb", Clock.median(plain.map(_.liveHeapMb).toSeq), "MB"))
    report(w.name, plain.toSeq, e2e)

    val metrics =
      if (!a.trace) e2e
      else {
        val perLayer = Layers.metrics(traced.toSeq, runS)
        a.traceOut.foreach(f => writeSpans(f, w.name, a, traced.toSeq))
        perLayer.map { case (k, v) => (k, v, Layers.unitOf(k)) }
      }
    Json.obj(Seq(
      "correct" -> (failed == 0).toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (k, v, u) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      })))
  }

  /** Human-readable summary: the end-to-end metrics, the timing median
    * and highest supported percentile with the sample count, and the
    * pinned storage left by each operation. */
  private def report(name: String, plain: Seq[Sample],
      e2e: Seq[(String, Double, String)]): Unit = {
    val secs = plain.map(_.seconds).sorted
    val n = secs.size
    // the highest percentile with at least ten samples beyond it, else max
    val (pName, pVal) =
      if (n >= 20) {
        val q = 1.0 - 10.0 / n
        (f"p${q * 100}%.0f", secs(math.min(n - 1, math.ceil(q * n).toInt - 1)))
      } else ("max", secs.last)
    val items = plain.map(_.items).distinct.mkString("/")
    println(f"[perfbench] $name samples=$n items=$items " +
      f"run_s median=${Clock.median(secs)}%.4f $pName=$pVal%.4f " +
      plain.map(s => f"${s.seconds}%.3f").mkString("[", " ", "]"))
    e2e.foreach { case (k, v, u) => println(f"[perfbench] $name $k = $v%.4f $u") }
    println(f"[perfbench] $name pinned_mb median=" +
      f"${Clock.median(plain.map(_.pinnedMb))}%.2f")
  }

  private def writeSpans(file: String, name: String, a: Args,
      traced: Seq[Sample]): Unit = {
    val spans = traced.flatMap(_.trace.toSeq).flatMap(_.spans.map(_.json))
    val counters = traced.flatMap(_.trace.toSeq).map(t => Json.obj(
      ("run_id" -> Json.str(t.runId)) +:
        t.counters.toSeq.map { case (k, v) => k -> Json.num(v) }))
    val out = Json.obj(Seq("workload" -> Json.str(name),
      "seed" -> a.seed.toString, "spans" -> Json.arr(spans),
      "counters" -> Json.arr(counters)))
    Files.createDirectories(Paths.get(file).toAbsolutePath.getParent)
    Files.writeString(Paths.get(file), out + "\n")
  }
}
