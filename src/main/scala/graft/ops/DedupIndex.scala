package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.table.DeltaLog

/** Persisted MinHash-LSH signature index — INCREMENTAL near-duplicate
  * detection for a growing corpus.
  *
  * The batch dataflow ([[DedupOps.minhashPairs]]) recomputes the
  * signature pass over the WHOLE corpus and self-joins it every run —
  * the right shape for a one-shot curation pass, but O(corpus) CPU
  * per batch once documents arrive continuously (a crawl commits new
  * pages every run; re-shingling 10^10 settled documents to dedup one
  * day's 10^7 is the dominant waste). This index is the document-level
  * analog of the persisted cuckoo URL-seen sketch: signatures are
  * computed ONCE per document, persist in table storage as (id,
  * bandHash) rows — 16 bytes × bands per document, ~0.3% of a 10 KB
  * document — and each new batch
  *
  *   1. computes signatures for ITS documents only (O(batch) CPU),
  *   2. probes the index with a BROADCAST hash join on bandHash —
  *      the index side streams map-side in its parquet partition
  *      order; the 10^11-row index is never shuffled, never sorted,
  *      and only its two 8-byte columns are read (column pruning);
  *      pathologically large batches fall back to a shuffle merge
  *      join behind an EXPLICIT bloom prune: a filter built over the
  *      batch's band hashes drops non-candidate index rows before
  *      the exchange (measured: `merge_fallback_*` keys in the
  *      dedupindex bench mode),
  *   3. exact-verifies candidates through the same measured verify
  *      tail as the batch dataflow ([[DedupOps.exactVerifyPairs]]),
  *   4. appends its signatures as a new delta dir, so the next batch
  *      sees this one — append-only deltas with an atomically-swapped
  *      meta file, the [[graft.table.TableIO]] commit pattern.
  *
  * Determinism: signatures derive from fixed splitmix64 seeds
  * ([[DedupOps.bandKeys]]), so index contents are reproducible across
  * runs, partitionings and cluster sizes, and probe results equal the
  * batch recompute exactly (spec-pinned: probe ∪ within-batch pairs ==
  * full-recompute pairs touching a batch id, jaccard values included).
  *
  * Caller contract: batch ids are NEW (not already indexed) — a
  * re-appended id would pair with itself across deltas. Single-writer,
  * like the table layer. Reference: the reference's dedup is a
  * per-listing in-memory seen set rebuilt per run
  * (portal_saude_mg.py:404-414); this is the corpus-scale
  * re-expression of "never pay for settled documents again".
  */
object DedupIndex {

  /** Index geometry + lineage. `kind`: "char" (k-shingles) or "word"
    * (k-grams). `deltas`: append-only list of signature dirs, oldest
    * first. `docs`: total indexed documents (advisory, for sizing).
    * `runIds`: the replay guard ([[graft.table.DeltaLog.Chain]]). */
  final case class IndexMeta(kind: String, k: Int, numHashes: Int,
      bands: Int, docs: Long, deltas: Seq[String],
      runIds: Seq[String] = Nil) extends DeltaLog.Chain[IndexMeta] {
    def withChain(docs: Long, deltas: Seq[String], runIds: Seq[String]) =
      copy(docs = docs, deltas = deltas, runIds = runIds)
  }

  private val log = new DeltaLog.Chained[IndexMeta]("index-meta.json",
      "index", "sig/v") {
    protected def land(rows: DataFrame, dir: String, delta: String,
        m: IndexMeta): IndexMeta = {
      writeSigs(rows, s"$dir/$delta", 0L, m)
      // docs count survives compaction; deletes recount from the rows
      m.withChain(rows.sparkSession.read.parquet(s"$dir/$delta")
        .select("id").distinct().count(), Seq(delta), m.runIds)
    }
  }

  def readMeta(dir: String): Option[IndexMeta] = log.read(dir)

  private def shinglerOf(m: IndexMeta): String => Array[Long] =
    m.kind match {
      case "char" => DedupOps.shingles(_, m.k)
      case "word" => DedupOps.wordNgrams(_, m.k)
      case other => throw new IllegalArgumentException(
        s"unknown index kind '$other' (expected char|word)")
    }

  /** Signature-pass shingler: the raw (unsorted multiset) char variant
    * — MinHash signatures, and therefore every band key stored or
    * probed, are bit-identical to the sorted-distinct form (min is
    * order- and duplicate-invariant) without the per-document sort.
    * The verify tail keeps [[shinglerOf]]. */
  private def sigShinglerOf(m: IndexMeta): String => Array[Long] =
    m.kind match {
      case "char" => DedupOps.shinglesRaw(_, m.k)
      case _ => shinglerOf(m)
    }

  /** (id, bandHash) signature rows of one document set — the fused
    * shingle→minhash→band pass, map-side only. */
  private def banded(docs: DataFrame, idCol: String, textCol: String,
      m: IndexMeta): DataFrame = {
    val sh = sigShinglerOf(m)
    val nh = m.numHashes
    val nb = m.bands
    val bandsUdf = udf((t: String) => DedupOps.bandKeys(t, sh, nh, nb))
    docs.select(col(idCol).as("id"),
      explode(bandsUdf(col(textCol))).as("bandHash"))
  }

  /** One signature delta: repartitioned + SORTED by bandHash so parquet
    * row-group min/max stats stay tight (the shuffle-join fallback's
    * runtime bloom filter prunes row groups against them); ~4M
    * signature rows per file for large batches. */
  private def writeSigs(rows: DataFrame, path: String, docs: Long,
      m: IndexMeta): Unit =
    DeltaLog.writeSorted(rows, "bandHash",
      DeltaLog.deltaParts(rows.sparkSession, docs.toDouble * m.bands / 4e6),
      path)

  /** Initialize an EMPTY index (geometry only, no deltas) — the
    * streaming entry point: the first micro-batch probes an empty
    * index (within-batch pairs only) and appends itself. Drops any
    * existing index at `dir`. */
  def init(dir: String, kind: String = "char", k: Int = 5,
      numHashes: Int = 64, bands: Int = 16): IndexMeta = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    log.init(dir, IndexMeta(kind, k, numHashes, bands, 0L, Nil))()
  }

  /** Initialize the index over a corpus (drops any existing index at
    * `dir` first — geometry must be uniform across deltas). */
  def write(docs: DataFrame, idCol: String, textCol: String, dir: String,
      kind: String = "char", k: Int = 5, numHashes: Int = 64,
      bands: Int = 16): IndexMeta = {
    init(dir, kind, k, numHashes, bands)
    append(docs, idCol, textCol, dir)
  }

  /** Append one batch's signatures as a new delta dir. O(batch) CPU —
    * settled documents are never re-shingled. A non-empty `runId`
    * makes the append IDEMPOTENT ([[graft.table.DeltaLog.Chained]]). */
  def append(docs: DataFrame, idCol: String, textCol: String,
      dir: String, runId: String = ""): IndexMeta =
    log.append(dir, runId) { (m, delta) =>
      val n = docs.count()
      writeSigs(banded(docs, idCol, textCol, m), s"$dir/$delta", n, m)
      n
    }

  /** Compact the delta chain into ONE signature dir; runIds survive.
    * Old delta dirs are deleted after the atomic meta swap (the index
    * is derived data: no time travel). */
  def compact(dir: String): IndexMeta = log.compact(dir)

  /** Remove documents from the index (the revised-corpus workflow:
    * [[graft.table.TableIO.invalidatePeriods]] re-opens a period, and
    * its documents must stop pairing). Rewrites the signature rows
    * anti-joined on id — O(index bytes), ~0.3% of the corpus (16 B ×
    * bands per doc), not a corpus rewrite. */
  def deleteIds(ids: DataFrame, dir: String): IndexMeta =
    log.deleteIds(ids, dir)

  /** Near-dup pairs a NEW batch introduces: (batch ↔ indexed corpus)
    * cross pairs plus within-batch pairs, exact-verified at
    * `threshold` — exactly the pairs [[DedupOps.minhashPairs]] over
    * (corpus ∪ batch) would emit that touch ≥1 batch id. Does NOT
    * append — probe first, then [[append]] the batch (the order makes
    * a crashed run re-probe instead of self-pair).
    *
    * `corpusTexts` supplies (id → text) for indexed ids; only
    * candidate ids' texts are ever read/shuffled (semi-join in the
    * verify tail), so passing the full corpus table is free.
    *
    * Scale: the batch side is broadcast when small (its signature
    * rows are counted AFTER materialization, so the decision is
    * measured, not estimated) — the index then streams map-side with
    * no exchange; a huge batch falls back to a shuffle merge join.
    */
  def probePairs(newDocs: DataFrame, corpusTexts: DataFrame,
      idCol: String, textCol: String, dir: String,
      threshold: Double = 0.6,
      maxBroadcastRows: Long = 4000000L): DataFrame = {
    val m = log.current(dir)
    val cand = DedupOps.materialize(
      probeCandidates(newDocs, idCol, textCol, dir, maxBroadcastRows))
    val texts = corpusTexts
      .select(col(idCol).as("id"), col(textCol).as("text"))
      .unionByName(newDocs
        .select(col(idCol).as("id"), col(textCol).as("text")))
    DedupOps.exactVerifyPairs(cand, texts, shinglerOf(m), threshold)
  }

  /** Candidate pairs of [[probePairs]] WITHOUT the exact verify —
    * (id_a, id_b) sharing ≥1 band bucket, cross ∪ within-batch,
    * distinct. Public for callers that run their own verification (or
    * want bucket-collision stats) and for the plan-audit spec, which
    * asserts the index side streams into the probe join with no
    * exchange. */
  def probeCandidates(newDocs: DataFrame, idCol: String, textCol: String,
      dir: String, maxBroadcastRows: Long = 4000000L): DataFrame = {
    val m = log.current(dir)
    val spark = newDocs.sparkSession
    import spark.implicits._
    val newBanded = DedupOps.materialize(
      banded(newDocs, idCol, textCol, m))
    val batchSigRows = newBanded.count() // free: materialized
    val nb = newBanded.select($"id".as("n_id"), $"bandHash")
    val l = newBanded.as("l")
    val r = newBanded.as("r")
    val within = l.join(r, col("l.bandHash") === col("r.bandHash") &&
        col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
    val cross =
      if (m.deltas.isEmpty) within.limit(0)
      else {
        val index = log.readDeltas(spark, dir, m)
        val joined =
          if (batchSigRows <= maxBroadcastRows)
            index.join(broadcast(nb), Seq("bandHash"))
          else {
            // pathological batch (> broadcast cap): shuffle merge join.
            // Prune the index EXPLICITLY before the exchange with a
            // bloom built over the batch's band hashes — Spark's own
            // InjectRuntimeFilter cannot help here (the creation side
            // is materialized, so the selective filter it requires is
            // no longer visible in the plan), and without pruning the
            // whole 10^11-row index streams through the shuffle to
            // match a batch that touches a sliver of its buckets. The
            // bloom costs one cheap pass over the ALREADY-materialized
            // signatures; sizing is measured (batchSigRows), fpp 3% —
            // a false positive only forwards a row the join drops.
            // Capped: past ~2^27 distinct hashes the filter itself is
            // driver-heavy (~200 MB); such a "batch" is a backfill —
            // run the batch dataflow instead.
            val pruned =
              if (batchSigRows <= (1L << 27)) {
                val bf = nb.stat.bloomFilter("bandHash",
                  batchSigRows, 0.03)
                val bc = spark.sparkContext.broadcast(bf)
                val mightContain =
                  udf((h: Long) => bc.value.mightContainLong(h))
                    .withName("graft_bloom_prune")
                index.filter(mightContain($"bandHash"))
              } else index
            pruned.hint("merge").join(nb.hint("merge"), Seq("bandHash"))
          }
        joined
          .filter($"id" =!= $"n_id")
          .select(least($"id", $"n_id").as("id_a"),
            greatest($"id", $"n_id").as("id_b"))
      }
    cross.union(within).distinct()
  }
}
