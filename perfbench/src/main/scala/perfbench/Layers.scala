package perfbench

/** The per-layer metrics of a traced run. Every name is reported on
  * every workload; a layer the workload does not call reads 0. */
object Layers {
  val CrawlSpans: Seq[String] = Seq("frontier.expand", "frontier.harvest",
    "frontier.build", "table.read_seen", "seen.build", "seen.probe",
    "politeness.schedule", "fetch.encode", "table.commit")
  val DedupSpans: Seq[String] =
    Seq("ops.exact", "ops.pairs", "ops.components", "ops.survivors")
  val IndexSpans: Seq[String] =
    Seq("ops.index.candidates", "ops.index.probe", "ops.index.append")

  val Counters: Seq[(String, String)] = Seq(
    "frontier.keep_ratio" -> "ratio",
    "table.read_seen.rows" -> "count",
    "seen.probe.maybe_rows" -> "count",
    "seen.probe.confirmed_rows" -> "count",
    "seen.false_maybe_rate" -> "ratio",
    "politeness.status.success" -> "count",
    "politeness.status.no_data" -> "count",
    "politeness.status.error" -> "count",
    "politeness.status.corrupt" -> "count",
    "politeness.status.skipped" -> "count",
    "politeness.attempts_per_row" -> "ratio",
    "fetch.images" -> "count",
    "fetch.mb" -> "MB",
    "table.commit.rows" -> "count",
    "ops.pairs.count" -> "count",
    "ops.survivors.rows" -> "count",
    "ops.index.verify_yield" -> "ratio",
    "spark.pinned_mb_after" -> "MB")

  /** Traced total (median), its gap to the untraced `run_s` median, and
    * that gap as a share of `run_s`. */
  val Overhead: Seq[(String, String)] = Seq(
    "trace.total_s" -> "s", "trace.overhead_s" -> "s",
    "trace.overhead_ratio" -> "ratio")

  private def statUnit(stat: String): String =
    if (stat.endsWith("_s")) "s" else if (stat.endsWith("_mb")) "MB" else "ratio"

  val all: Seq[(String, String)] =
    (CrawlSpans ++ DedupSpans ++ IndexSpans).flatMap(s =>
      Tracer.SpanStats.map(st => s"$s.$st" -> statUnit(st))) ++
      Counters ++ Overhead

  private lazy val units = all.toMap
  def unitOf(name: String): String = units(name)

  /** Median over the traced operations of every per-layer metric. */
  def metrics(traced: Seq[Sample], untracedRunS: Double): Seq[(String, Double)] = {
    val per = traced.flatMap(_.trace.toSeq).map(_.metrics)
    val total = Clock.median(traced.map(_.seconds))
    val overhead = Map(
      "trace.total_s" -> total,
      "trace.overhead_s" -> (total - untracedRunS),
      "trace.overhead_ratio" -> (total - untracedRunS) / untracedRunS)
    all.map { case (k, _) =>
      k -> overhead.getOrElse(k, Clock.median(per.map(_.getOrElse(k, 0.0))))
    }
  }
}
