package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.table.DeltaLog

/** Persisted IVF ANN index — similarity search over a GROWING
  * embedding corpus without re-clustering or re-scanning it.
  *
  * [[AnnOps.ivfTopK]] trains its coarse quantizer and assigns every
  * candidate per CALL — right for one-shot search, O(corpus) per
  * query batch once the corpus is settled. This index persists both
  * halves of the model:
  *
  *  - `centroids/` — the quantizer (nlist × dim doubles, MODEL state,
  *    trained once by the same deterministic spherical k-means);
  *  - `cells/vNNNNN/cl=N/` — candidate vectors with precomputed norms,
  *    PARTITIONED BY their cell: a probe reads ONLY its nProbe cells'
  *    partition directories (static partition pruning — expected IO
  *    fraction nProbe/nlist of the index, the IVF contract made
  *    literal in the file layout).
  *
  * New vectors [[append]] by assigning against the FROZEN centroids —
  * O(batch), no retrain, the standard IVF practice (FAISS `add`);
  * heavy drift degrades recall, at which point [[build]] retrains (a
  * rebuild, amortized over the table's life like the cuckoo sketch's
  * occupancy rebuilds). Appends are runId-guarded for streaming
  * replay idempotence. Scores are bit-identical to scoring the same
  * frozen centroids in one pass — spec-pinned across appends. */
object AnnIndex {

  final case class Meta(dim: Int, nlist: Int, docs: Long,
      deltas: Seq[String], runIds: Seq[String] = Nil)
      extends DeltaLog.Chain[Meta] {
    def withChain(docs: Long, deltas: Seq[String], runIds: Seq[String]) =
      copy(docs = docs, deltas = deltas, runIds = runIds)
  }

  private val log = new DeltaLog.Chained[Meta]("ann-meta.json",
      "ANN index", "cells/v", idCol = "cid") {
    // one scan per delta, each with its own basePath so the cl
    // partition column survives
    override def readDeltas(spark: SparkSession, dir: String,
        m: Meta): DataFrame =
      m.deltas.map(d => readCells(spark, s"$dir/$d"))
        .reduce(_.unionByName(_))

    protected def land(rows: DataFrame, dir: String, delta: String,
        m: Meta): Meta = {
      writeCells(rows, s"$dir/$delta")
      m.withChain(readCells(rows.sparkSession, s"$dir/$delta").count(),
        Seq(delta), m.runIds)
    }
  }

  private def readCells(spark: SparkSession, path: String): DataFrame =
    spark.read.option("basePath", path).parquet(path)

  private def writeCells(rows: DataFrame, path: String): Unit =
    rows.write.mode(SaveMode.Overwrite).partitionBy("cl").parquet(path)

  def readMeta(dir: String): Option[Meta] = log.read(dir)

  /** The frozen quantizer, ordered by cell index. */
  def readCentroids(spark: SparkSession, dir: String)
      : Array[Array[Double]] =
    spark.read.parquet(s"$dir/centroids")
      .orderBy("cl").select("c").collect()
      .map(_.getSeq[Double](0).toArray)

  /** Train the quantizer on `candidates` ((cid, cv ARRAY<FLOAT>)) and
    * index them. Drops any existing index at `dir`. */
  def build(candidates: DataFrame, dir: String, nlist: Int = 16,
      iters: Int = 2): Meta =
    buildFrozen(candidates, dir,
      AnnOps.trainCentroids(candidates, nlist, iters))

  /** [[build]] with an ALREADY-TRAINED quantizer (deterministic, so
    * bit-identical to [[build]] at the same params) — callers that
    * also need the per-call path on the same corpus (the parity gate)
    * train once and share instead of paying the k-means chain twice. */
  def buildFrozen(candidates: DataFrame, dir: String,
      centroids: Array[Array[Double]]): Meta = {
    val spark = candidates.sparkSession
    import spark.implicits._
    log.init(dir, Meta(centroids(0).length, centroids.length, 0L, Nil)) {
      spark.createDataset(centroids.toIndexedSeq.zipWithIndex
          .map { case (c, i) => (i, c.toSeq) })
        .toDF("cl", "c")
        .coalesce(1)
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/centroids")
    }
    append(candidates, dir)
  }

  /** Assign one batch against the frozen centroids and add its
    * vectors as a new cell-partitioned delta — O(batch), no retrain.
    * Non-empty `runId` = idempotent streaming replay guard. */
  def append(vectors: DataFrame, dir: String,
      runId: String = ""): Meta =
    log.append(dir, runId) { (_, delta) =>
      val centroids = readCentroids(vectors.sparkSession, dir)
      val n = vectors.count()
      writeCells(vectors
        .withColumn("cl", AnnOps.assignCell(vectors, "cv", centroids))
        .withColumn("cnorm",
          graft.functions.VecExpressions.vec_norm(col("cv"))),
        s"$dir/$delta")
      n
    }

  /** Compact the cell-partitioned delta chain into ONE dir; the
    * frozen centroids (and thus every assignment) are untouched, so
    * probe results are bit-identical. runIds survive. */
  def compact(dir: String): Meta = log.compact(dir)

  /** Remove vectors by cid (revised-corpus workflow — a deleted
    * document's embedding must stop surfacing as a neighbor).
    * O(index) rewrite preserving the cell partitioning. */
  def deleteIds(ids: DataFrame, dir: String): Meta =
    log.deleteIds(ids, dir)

  /** IVF top-k over the persisted index: queries ((qid, qv)) assign
    * to their nProbe nearest cells against the frozen centroids, and
    * ONLY those cells' partition directories are read (the cell set
    * is collected — ≤ nlist values — so the pruning predicate is
    * static and provable in the plan). Exact cosine + deterministic
    * per-query top-k on the probed cells, same scoring tail as
    * [[AnnOps.ivfTopK]]. */
  def topK(queries: DataFrame, dir: String, k: Int,
      nProbe: Int = 4): DataFrame = {
    val m = log.current(dir)
    val spark = queries.sparkSession
    // an emptied index (deleteIds removed every vector → deltas=Nil)
    // has no neighbors to return: an empty frame in the result shape,
    // like the other two indexes' empty-index guards — the unguarded
    // deltas.reduce below would throw on the empty list
    if (m.deltas.isEmpty)
      return queries.select(col("qid"), col("qid").as("cid"),
        lit(0.0).as("cosine"), lit(0L).as("rk")).limit(0)
    val centroids = readCentroids(spark, dir)
    val qs = DedupOps.materialize(
      AnnOps.probedQueries(queries, centroids, nProbe))
    val cells = qs.select("cl").distinct().collect()
      .map(r => Int.box(r.getInt(0))).toSeq
    // the static isin prunes each delta's scan to the probed cells'
    // directories
    val index = log.readDeltas(spark, dir, m)
    AnnOps.topKByCell(qs, index.filter(col("cl").isin(cells: _*)), k)
  }

  /** Incremental SemDeDup probe — the semantic complement of
    * [[DedupIndex.probePairs]]: near-dup pairs `(id_a, id_b, cl,
    * cosine)` with cosine ≥ threshold and a shared FROZEN-quantizer
    * cell, between the batch and EVERYTHING indexed plus within the
    * batch itself — without re-clustering or re-scoring the settled
    * corpus. The batch's cell set is collected (≤ nlist values), so
    * only those cells' partition directories are ever read (the same
    * static pruning [[topK]] proves in its plan); per-pair scoring is
    * the codegen cosine over the index's PRECOMPUTED norms — a settled
    * vector's norm is computed once at append time, ever.
    *
    * Bit-identical to [[SemDedup.semanticPairsFrozen]] on the same
    * frozen centroids over indexed ∪ batch restricted to
    * batch-touching pairs (cosine symmetry makes pair orientation
    * score-stable) — the parity the `semdedup_index_parity` oracle
    * gate replays. Batch ids must be disjoint from indexed ids, the
    * table contract shared by every index here. Read-only: the caller
    * decides when to [[append]] the batch (runId-guarded). */
  def probePairs(batch: DataFrame, dir: String,
      threshold: Double = 0.95): DataFrame = {
    val m = log.current(dir)
    val spark = batch.sparkSession
    import spark.implicits._
    val centroids = readCentroids(spark, dir)
    val b = DedupOps.materialize(batch.select(col("cid"), col("cv"))
      .withColumn("cl", AnnOps.assignCell(batch, "cv", centroids))
      .withColumn("cnorm",
        graft.functions.VecExpressions.vec_norm($"cv")))
    def scored(j: DataFrame): DataFrame = j
      .withColumn("cosine",
        round(graft.functions.VecExpressions.vec_cosine(
          $"va", $"vb", $"na", $"nb"), 6))
      .filter($"cosine" >= threshold)
      .select($"id_a", $"id_b", $"cl", $"cosine")
    val within = scored(
      b.select($"cid".as("id_a"), $"cv".as("va"), $"cnorm".as("na"),
          $"cl")
        .join(b.select($"cid".as("id_b"), $"cv".as("vb"),
          $"cnorm".as("nb"), $"cl"), Seq("cl"))
        .filter($"id_a" < $"id_b"))
    if (m.deltas.isEmpty) return within
    val cells = b.select("cl").distinct().collect()
      .map(r => Int.box(r.getInt(0))).toSeq
    val idx = log.readDeltas(spark, dir, m)
      .filter(col("cl").isin(cells: _*))
    // cross pairs: orientation by id (cosine is symmetric — dot and
    // norm products commute bit-exactly, so flipping sides never
    // changes the rounded score)
    val cross = scored(
      idx.select($"cid".as("iid"), $"cv".as("va"), $"cnorm".as("na"),
          $"cl")
        .join(b.select($"cid".as("bid"), $"cv".as("vb"),
          $"cnorm".as("nb"), $"cl"), Seq("cl"))
        .withColumn("id_a", least($"iid", $"bid"))
        .withColumn("id_b", greatest($"iid", $"bid")))
    cross.unionByName(within)
  }
}
