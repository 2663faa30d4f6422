package perfbench

import java.nio.file.Paths

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.{bit_xor, col, count, length, lit, sum}

import graft.ReferenceSimulator
import graft.fetch.SyntheticWeb
import graft.frontier.SeedExpansion
import graft.jobs.CrawlJob
import graft.model._
import graft.ops.{DedupIndex, DedupOps}
import graft.seen.BloomSeen
import graft.table.TableIO

/** One timed operation's readings. `items` is the work it completed
  * (crawl-log rows decided, or documents processed); `failures` are the
  * output checks it failed. */
final case class Sample(items: Long, seconds: Double, failures: Seq[String],
    liveHeapMb: Double, pinnedMb: Double, trace: Option[Tracer])

/** Marks the end of the timed part of an operation and takes the
  * readings that belong to it: live heap and pinned storage are read
  * here, before the operation's frames are released. */
final class Stopwatch(spark: SparkSession) {
  private val t0 = Clock.now()
  var seconds = Double.NaN
  var liveHeapMb = Double.NaN
  var pinnedMb = Double.NaN

  def stop(): Unit = {
    seconds = Clock.secondsSince(t0)
    pinnedMb = Jvm.pinnedMb(spark)
    liveHeapMb = Jvm.liveHeapMb()
  }

  def sample(items: Long, failures: Seq[String], tr: Option[Tracer]): Sample = {
    tr.foreach(_.count("spark.pinned_mb_after", pinnedMb))
    Sample(items, seconds, failures, liveHeapMb, pinnedMb, tr)
  }
}

/** A workload: inputs made from the seed, persisted state built once,
  * then timed operations that each start from that same state. */
abstract class Workload(val spark: SparkSession, val work: String) {
  def name: String

  /** Build the persisted state every operation starts from. Repeatable. */
  def setup(): Unit

  /** One operation on a fresh copy of the set-up state; with a tracer,
    * composed from the layers' public calls with a span around each.
    * Its output is checked when `checked` (warm-up skips the checks). */
  def sample(tr: Option[Tracer], checked: Boolean = true): Sample

  protected def span[T](tr: Option[Tracer], name: String)(body: => T): T =
    tr match {
      case Some(t) => t.span(name)(body)
      case None => body
    }

  protected def cached[T](ds: Dataset[T]): (Dataset[T], Long) = {
    val c = ds.cache()
    (c, c.count())
  }

  protected def checkThat(failures: collection.mutable.Buffer[String],
      what: String)(ok: => Boolean): Unit =
    try { if (!ok) failures += what }
    catch { case NonFatal(e) => failures += s"$what: threw $e" }

  protected def release(): Unit = spark.catalog.clearCache()
}

/** `crawl_cold` (months 1-6 into an empty table) and `crawl_resume`
  * (set-up commits months 1-11; each operation re-crawls months 1-12
  * against a fresh copy of that table). A wide web of independent
  * synthetic gov-br sites, one host each, `maxPages = 20`, holding
  * `pages` listing pages (within 2%) in the crawled months, so every
  * seed crawls a web of about the same size. */
final class CrawlWorkload(spark: SparkSession, work: String, seed: Long,
    resume: Boolean, pages: Int)
    extends Workload(spark, work) {
  val name: String = if (resume) "crawl_resume" else "crawl_cold"
  private val runMonths = if (resume) 1 to 12 else 1 to 6
  private val baseMonths = 1 to 11
  private val tag = f"${Rng.mix(seed, 0x517EL) >>> 40}%06x"
  private val webSeed = Rng.mix(seed, 0x3EBL)
  private val maxPages = 20

  /** Candidate sites in seeded order; one that would take the total past
    * `targetPages` + 2% is passed over, and the list is complete once the
    * total is within 2% of the target. Operation time at these sizes is
    * mostly per-job overhead, so an input that varies in size would
    * show up in `items_per_s` as noise. */
  private def sitesFor(targetPages: Int): Seq[String] = {
    val tol = math.max(1, targetPages / 50)
    val names = Iterator.from(0).map(i => f"pb$tag-$i%03d")
    val out = collection.mutable.ArrayBuffer.empty[String]
    var total = 0
    while (total < targetPages - tol) {
      val site = names.next()
      val pages = runMonths.map(m =>
        SyntheticWeb.pageCount(site, 2024, m, maxPages, webSeed)).sum
      if (total + pages <= targetPages + tol) {
        out += site
        total += pages
      }
    }
    out.toSeq
  }

  private def config(sites: Seq[String], months: Seq[Int]) =
    CrawlConfig(sites = sites,
      years = YearSelector.Single(2024),
      months = MonthSelector.Multiple(months),
      nowYear = 2024, nowMonth = 12, maxPages = maxPages, webSeed = webSeed)

  private val cfg = config(sitesFor(pages), runMonths)
  private val baseDir = s"$work/$name-base"
  private val runDir = s"$work/$name-run"
  /** Sites re-crawled by the reference simulator: sites are independent
    * politeness domains, so their log rows must match exactly. */
  private val sampleSites = cfg.sites.take(3)

  private var committed = Set.empty[Long]
  private var parent: Option[TableIO.Snapshot] = None
  private var expected = Map.empty[String, (Long, Long)]

  def setup(): Unit = {
    Dirs.deleteRec(Paths.get(baseDir))
    if (resume) {
      val (r, _) = CrawlJob.runResumable(spark, config(cfg.sites, baseMonths),
        baseDir, "base")
      r.unpersist()
      release()
    }
    parent = TableIO.currentSnapshot(baseDir)
    committed =
      if (resume) TableIO.readSeen(spark, baseDir).collect().toSet
      else Set.empty
    expected = statusDigest(ReferenceSimulator
      .crawl(cfg.copy(sites = sampleSites), committed).log
      .map(l => (l.status, l.urlHash)))
  }

  private def statusDigest(rows: Seq[(String, Long)]): Map[String, (Long, Long)] =
    rows.groupBy(_._1).map { case (s, rs) =>
      s -> (rs.size.toLong, rs.map(_._2).foldLeft(0L)(_ ^ _))
    }

  private def crawl(c: CrawlConfig, dir: String, tr: Option[Tracer]): CrawlOut =
    tr match {
      case None =>
        val (r, snap) = CrawlJob.runResumable(spark, c, dir, "run")
        CrawlOut(r.log, snap, Seq(r.frontier, r.log))
      case Some(t) => tracedCrawl(c, dir, t)
    }

  /** `CrawlJob.runResumable` (Bloom backend) composed from its public
    * pieces with the same arguments, materialized at each boundary.
    * The filter set is built exactly as the private `flagViaBloom`
    * builds it. */
  private def tracedCrawl(c: CrawlConfig, dir: String, t: Tracer): CrawlOut = {
    val runId = "run"
    val seeds = t.span("frontier.expand")(SeedExpansion.expand(c))
    val (raw, rawRows) =
      t.span("frontier.harvest")(cached(CrawlJob.harvest(spark, c, seeds)))
    val (frontier, frontierRows) =
      t.span("frontier.build")(cached(CrawlJob.buildFrontier(spark, raw)))
    val (seenTable, seenCount) =
      t.span("table.read_seen")(cached(TableIO.readSeen(spark, dir)))
    val bloomDir = s"$dir/_bloom/$runId"
    val meta = t.span("seen.build") {
      Dirs.deleteRec(Paths.get(dir, "_bloom"))
      val parts = math.max(1, math.min(
        math.max(spark.sessionState.conf.numShufflePartitions / 2,
          math.ceil(seenCount / 100e6).toInt),
        math.ceil(seenCount / 5e4).toInt))
      if (seenCount == 0) None
      else Some(BloomSeen.write(seenTable, bloomDir, parts = parts,
        expectedKeys = math.max(seenCount, 1024L), fpp = 0.01))
    }
    val (flagged, _) = t.span("seen.probe")(cached(meta match {
      case None => CrawlJob.flagSeen(frontier, seenTable, None)
      case Some(m) => CrawlJob.flagSeenPersisted(frontier, seenTable, bloomDir, m)
    }))
    val (log, _) = t.span("politeness.schedule")(cached(
      CrawlJob.scheduleAndFetchFlagged(flagged, c.budget, c.strictPerHost,
        c.hostBudgets)))
    val (images, imageRows) =
      t.span("fetch.encode")(cached(CrawlJob.materializeImages(log)))
    val snap = t.span("table.commit")(TableIO.commit(spark, dir, images,
      CrawlJob.newSeenFrom(log), runId,
      seeds.map(p => s"${p.site}/${p.year}/${p.month}")))
    CrawlOut(log, snap, Seq(raw, frontier, seenTable, flagged, log, images),
      () => countLayers(t, rawRows, frontierRows, seenCount, meta, bloomDir,
        frontier, flagged, log, images, imageRows, snap))
  }

  /** Layer counters, read from the traced operation's cached frames
    * after its clock has stopped. */
  private def countLayers(t: Tracer, rawRows: Long, frontierRows: Long,
      seenCount: Long, meta: Option[BloomSeen.BloomMeta], bloomDir: String,
      frontier: Dataset[ScheduledEntry], flagged: Dataset[_],
      log: Dataset[CrawlLogEntry], images: Dataset[ImageRecord],
      imageRows: Long, snap: TableIO.Snapshot): Unit = {
    t.count("frontier.keep_ratio", frontierRows.toDouble / math.max(rawRows, 1L))
    t.count("table.read_seen.rows", seenCount.toDouble)
    val maybe = meta.map(m => BloomSeen.probeAligned(frontier.toDF(), "urlHash",
      bloomDir, m).filter(col("maybeSeen")).count()).getOrElse(0L)
    val confirmed = flagged.filter(col("_2")).count()
    t.count("seen.probe.maybe_rows", maybe.toDouble)
    t.count("seen.probe.confirmed_rows", confirmed.toDouble)
    t.count("seen.false_maybe_rate",
      (maybe - confirmed).toDouble / math.max(frontierRows - confirmed, 1L))
    val byStatus = log.groupBy(col("status")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    Seq(CrawlStatus.Success, CrawlStatus.NoData, CrawlStatus.Error,
      CrawlStatus.Corrupt, CrawlStatus.Skipped).foreach { s =>
      t.count(s"politeness.status.$s", byStatus.getOrElse(s, 0L).toDouble)
    }
    val logRows = byStatus.values.sum
    val attempts = log.agg(sum(col("attempts")).cast("long")).head().getLong(0)
    t.count("politeness.attempts_per_row", attempts.toDouble / math.max(logRows, 1L))
    t.count("fetch.images", imageRows.toDouble)
    val bytes = images.agg(sum(length(col("bytes"))).cast("long")).head()
    t.count("fetch.mb",
      (if (bytes.isNullAt(0)) 0L else bytes.getLong(0)) / (1024.0 * 1024.0))
    t.count("table.commit.rows",
      (snap.totalRows - parent.map(_.totalRows).getOrElse(0L)).toDouble)
  }

  def sample(tr: Option[Tracer], checked: Boolean): Sample = {
    if (resume) Dirs.copyTree(baseDir, runDir)
    else Dirs.deleteRec(Paths.get(runDir))
    val sw = new Stopwatch(spark)
    val out = crawl(cfg, runDir, tr)
    sw.stop()
    try {
      out.countLayers()
      val items = out.log.count()
      sw.sample(items, if (checked) check(out) else Nil, tr)
    } finally {
      out.release()
      release()
      Dirs.deleteRec(Paths.get(runDir))
    }
  }

  private def check(out: CrawlOut): Seq[String] = {
    val failures = collection.mutable.ArrayBuffer.empty[String]
    val log = out.log.toDF()
    checkThat(failures, "sample sites match the reference simulator") {
      val got = log.filter(col("site").isin(sampleSites: _*))
        .groupBy(col("status"))
        .agg(count(lit(1)), bit_xor(col("urlHash")))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
        .toMap
      got == expected
    }
    val rows = log.select(col("urlHash"), col("status")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val success = rows.count(_._2 == CrawlStatus.Success).toLong
    val parentRows = parent.map(_.totalRows).getOrElse(0L)
    val newData = out.snap.dataDirs.drop(parent.map(_.dataDirs.size).getOrElse(0))
    val newSeen = out.snap.seenDirs.drop(parent.map(_.seenDirs.size).getOrElse(0))
    checkThat(failures, "images = success rows = snapshot row delta") {
      val images = newData.map(d => spark.read.parquet(s"$runDir/$d").count()).sum
      images == success && out.snap.totalRows - parentRows == success
    }
    checkThat(failures, "skipped set = frontier ∩ committed seen set") {
      val skipped = rows.collect { case (h, CrawlStatus.Skipped) => h }.toSet
      skipped == rows.map(_._1).toSet.filter(committed.contains)
    }
    checkThat(failures, "new seen delta is disjoint from the committed set") {
      val delta = newSeen.flatMap(d =>
        spark.read.parquet(s"$runDir/$d").collect().map(_.getLong(0)))
      val fetched = rows.collect { case (h, CrawlStatus.Success) => h }.toSet
      delta.distinct.size == delta.size && delta.toSet == fetched &&
        !delta.exists(committed.contains)
    }
    failures.toSeq
  }
}

/** A crawl operation's output: its log, the snapshot it committed, the
  * frames it left cached and, when traced, its layer counters. */
final case class CrawlOut(log: Dataset[CrawlLogEntry],
    snap: TableIO.Snapshot, frames: Seq[Dataset[_]],
    countLayers: () => Unit = () => ()) {
  def release(): Unit = frames.foreach(_.unpersist(blocking = false))
}

/** `dedup`: one operation runs both dedup paths on their own corpora.
  *  - Batch: exact dedup, MinHash-LSH pairs at threshold 0.5, then
  *    cluster survivors, over `batchDocs` documents of which 10% are
  *    planted near-dup copies.
  *  - Incremental: set-up writes a persisted MinHash index over
  *    `indexDocs` documents; the operation probes an arriving batch of
  *    `arrivingDocs` against a fresh copy of that index, then appends
  *    the batch. 10% of the batch are near-dup copies of indexed
  *    documents.
  * Items are the documents processed: `batchDocs + arrivingDocs`. */
final class DedupWorkload(spark: SparkSession, work: String, seed: Long,
    batchDocs: Long, indexDocs: Long, arrivingDocs: Long)
    extends Workload(spark, work) {
  val name = "dedup"
  private val batch = Corpus(seed, batchDocs, batchDocs - batchDocs / 10,
    batchDocs / 10)
  private val stream = Corpus(Rng.mix(seed, 0x1D3L), indexDocs + arrivingDocs,
    indexDocs, arrivingDocs / 10)
  private val baseDir = s"$work/$name-index-base"
  private val runDir = s"$work/$name-index-run"
  private var batchPlanted = Set.empty[(Long, Long)]
  private var crossPlanted = Set.empty[(Long, Long)]
  private var meta0: DedupIndex.IndexMeta = _

  private def indexed: DataFrame = stream.docs(spark, 0L, stream.copyFrom)
  private def arriving: DataFrame = stream.docs(spark, stream.copyFrom, stream.n)

  def setup(): Unit = {
    meta0 = DedupOps.withMaterializeScope(
      DedupIndex.write(indexed, "id", "text", baseDir))
    release()
    batchPlanted = batch.planted
    crossPlanted = stream.planted
  }

  private def pairSet(df: DataFrame): Array[(Long, Long)] =
    df.select(col("id_a"), col("id_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))

  def sample(tr: Option[Tracer], checked: Boolean): Sample = try {
    Dirs.copyTree(baseDir, runDir)
    val sw = new Stopwatch(spark)
    val (groups, pairs, survivors, candidates, probed, meta) =
      DedupOps.withMaterializeScope {
        val docs = batch.docs(spark, 0L, batch.n)
        val groups = span(tr, "ops.exact")(
          DedupOps.exactDedup(docs, "id", "text").count())
        val (pairs, _) = span(tr, "ops.pairs")(cached(
          DedupOps.minhashPairs(docs, "id", "text", threshold = 0.5)))
        tr.foreach(_.span("ops.components")(
          DedupOps.connectedComponents(pairs, "id_a", "id_b").count()))
        val survivors = span(tr, "ops.survivors")(
          DedupOps.dedupSurvivors(docs, "id", pairs).count())

        val candidates = tr.map(_.span("ops.index.candidates")(
          DedupIndex.probeCandidates(arriving, "id", "text", runDir).count()))
        val (probed, _) = span(tr, "ops.index.probe")(cached(
          DedupIndex.probePairs(arriving, indexed, "id", "text", runDir,
            threshold = 0.5)))
        val meta = span(tr, "ops.index.append")(
          DedupIndex.append(arriving, "id", "text", runDir))
        sw.stop()
        (groups, pairs, survivors, candidates, probed, meta)
      }
    val got = pairSet(pairs)
    val cross = pairSet(probed)
    tr.foreach { t =>
      t.count("ops.pairs.count", got.length.toDouble)
      t.count("ops.survivors.rows", survivors.toDouble)
      t.count("ops.index.verify_yield",
        cross.length.toDouble / math.max(candidates.getOrElse(0L), 1L))
    }
    val failures = collection.mutable.ArrayBuffer.empty[String]
    if (checked) {
      checkThat(failures, "exact dedup keeps every distinct document")(
        groups == batch.n)
      checkThat(failures, "pair set = planted pairs")(
        got.length == batchPlanted.size && got.toSet == batchPlanted)
      checkThat(failures, "survivors = n - planted")(
        survivors == batch.n - batchPlanted.size)
      checkThat(failures, "probe pairs = planted cross pairs")(
        cross.length == crossPlanted.size && cross.toSet == crossPlanted)
      checkThat(failures, "index meta advanced by one delta of batch size")(
        meta.docs == meta0.docs + arrivingDocs &&
          meta.deltas.size == meta0.deltas.size + 1 &&
          meta.deltas.startsWith(meta0.deltas) &&
          DedupIndex.readMeta(runDir).contains(meta))
    }
    sw.sample(batchDocs + arrivingDocs, failures.toSeq, tr)
  } finally {
    release()
    Dirs.deleteRec(Paths.get(runDir))
  }
}
