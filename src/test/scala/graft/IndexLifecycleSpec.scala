package graft

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{AnnIndex, ContainmentIndex, DedupIndex, SketchIndex}
import graft.table.DeltaLog

/** The delta-log lifecycle every persisted index shares, driven over
  * all four: a crash between a delta write and its meta swap (append
  * or compact) is invisible to probes and healed by the next write;
  * a replayed runId writes nothing; deleting every id empties the
  * chain; a legacy meta without runIds reads with an empty guard.
  *
  * Each index gets the same batches of "items" (documents, sketches,
  * vectors): `items(from, until, 0)` are originals, a non-zero offset
  * gives near copies of the same items under ids shifted by it, and
  * copies of one item pair with each other and with the original. */
class IndexLifecycleSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private case class Ix(name: String,
      items: (Int, Int, Long) => DataFrame,
      build: (DataFrame, String) => Any,
      append: (DataFrame, String, String) => Any,
      probe: (DataFrame, String) => Set[Seq[Any]],
      compact: String => Any,
      deleteIds: (DataFrame, String) => Any,
      meta: String => Option[DeltaLog.Chain[_]],
      metaFile: String,
      // artifacts a compact lands after its delta, in write order
      compactArtifacts: Seq[String] = Nil)

  private def pairs(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  private val M = 1000000L

  private lazy val docs = spark.read.parquet(s"$sf/documents.parquet")
    .select("doc_id", "text")
  private def textItems(from: Int, until: Int, off: Long) = {
    val d = docs.filter(col("doc_id") >= from && col("doc_id") < until)
    if (off == 0) d
    else d.select((col("doc_id") + off).as("doc_id"),
      concat(col("text"), lit(" anexo")).as("text"))
  }
  // every text an index below may hold, for the verify tail
  private lazy val allTexts = Seq(0L, M, 2 * M, 3 * M)
    .map(textItems(0, 40, _)).reduce(_.unionByName(_))

  private def sketchItems(from: Int, until: Int, off: Long) = {
    import spark.implicits._
    (from until until).map { i =>
      val flip = if (off == 0) 0L else 1L << (off / M).toInt
      (i + off, graft.url.Hashing.mix(0xABCL + i) ^ flip)
    }.toDF("id", "sim")
  }

  private def vectorItems(from: Int, until: Int, off: Long) =
    spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("vec_id") >= from && col("vec_id") < until)
      .select((col("vec_id") + off).as("cid"), col("embedding").as("cv"))

  private def gramItems(from: Int, until: Int, off: Long) = {
    import spark.implicits._
    (from until until).map { i =>
      val toks = (0 until 20).map(j => s"w${i}x$j")
      (i + off, (if (off == 0) toks else toks.take(12)).mkString(" "))
    }.toDF("doc_id", "text")
  }

  private val cases = Seq(
    Ix("DedupIndex", textItems,
      (b, d) => DedupIndex.write(b, "doc_id", "text", d),
      (b, d, r) => DedupIndex.append(b, "doc_id", "text", d, r),
      (b, d) => pairs(DedupIndex.probePairs(b, allTexts, "doc_id", "text",
        d, threshold = 0.5)),
      DedupIndex.compact, DedupIndex.deleteIds, DedupIndex.readMeta,
      "index-meta.json"),
    Ix("SketchIndex", sketchItems,
      (b, d) => {
        SketchIndex.init(d, maxDist = 4)
        SketchIndex.append(b, "id", "sim", d)
      },
      (b, d, r) => SketchIndex.append(b, "id", "sim", d, r),
      (b, d) => pairs(SketchIndex.probePairs(b, "id", "sim", d)),
      SketchIndex.compact, SketchIndex.deleteIds, SketchIndex.readMeta,
      "sketch-meta.json"),
    Ix("AnnIndex", vectorItems,
      (b, d) => AnnIndex.build(b, d, nlist = 4, iters = 2),
      (b, d, r) => AnnIndex.append(b, d, r),
      (b, d) => pairs(AnnIndex.probePairs(b, d, threshold = 0.99)),
      AnnIndex.compact, AnnIndex.deleteIds, AnnIndex.readMeta,
      "ann-meta.json"),
    Ix("ContainmentIndex", gramItems,
      (b, d) => ContainmentIndex.build(b, "doc_id", "text", d),
      (b, d, r) => ContainmentIndex.append(b, "doc_id", "text", d, r),
      (b, d) => pairs(ContainmentIndex.probePairs(b, "doc_id", "text", d)),
      ContainmentIndex.compact, ContainmentIndex.deleteIds,
      ContainmentIndex.readMeta, "cont-meta.json",
      compactArtifacts = Seq("stops-")))

  // ---- file-tree helpers ---------------------------------------------

  private def files(root: Path): Seq[String] = {
    val ls = Files.walk(root)
    try ls.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => root.relativize(p).toString).toVector.sorted
    finally ls.close()
  }

  private def copyTree(from: Path): Path = {
    val to = Files.createTempDirectory("graft-lifecycle")
    files(from).foreach { rel =>
      Files.createDirectories(to.resolve(rel).getParent)
      Files.copy(from.resolve(rel), to.resolve(rel),
        StandardCopyOption.REPLACE_EXISTING)
    }
    to
  }

  /** The on-disk state of an operation that crashed before its meta
    * swap: the files `op` adds to a copy of `dir`, landed in `dir`
    * (only those whose path passes `landed`); `dir`'s meta untouched. */
  private def crashBeforeSwap(dir: Path, landed: String => Boolean)(
      op: String => Any): Path = {
    val scratch = copyTree(dir)
    op(scratch.toString)
    val before = files(dir).toSet
    val orphans = files(scratch).filterNot(before).filter(landed)
    assert(orphans.nonEmpty, "the crashed operation landed nothing")
    orphans.foreach { rel =>
      Files.createDirectories(dir.resolve(rel).getParent)
      Files.copy(scratch.resolve(rel), dir.resolve(rel))
    }
    scratch
  }

  /** Crash points of a compact: its delta landed, then each artifact. */
  private def crashPoints(c: Ix): Seq[String => Boolean] =
    (0 to c.compactArtifacts.size).map { k =>
      val pending = c.compactArtifacts.drop(k)
      (rel: String) => !pending.exists(rel.startsWith)
    }

  // base state of every scenario: originals 0..39 plus a committed
  // append (runId "r1") of copies of 0..9 — two deltas
  private val bases = scala.collection.mutable.Map.empty[String, Path]
  private def base(c: Ix): Path = bases.getOrElseUpdate(c.name, {
    val dir = Files.createTempDirectory("graft-lifecycle-base")
    c.build(c.items(0, 40, 0L), dir.toString)
    c.append(c.items(0, 10, M), dir.toString, "r1")
    assert(c.meta(dir.toString).get.deltas.size === 2)
    dir
  })

  private def ids(c: Ix, parts: (Int, Int, Long)*): DataFrame =
    parts.map { case (f, u, o) =>
      val b = c.items(f, u, o)
      b.select(b.columns.head)
    }.reduce(_.unionByName(_))

  private val y = (10, 20, 2 * M)  // the batch that commits
  private val x = (20, 30, 3 * M)  // the batch whose append crashes
  private val p = (0, 30, 9 * M)   // probe batch: copies of all of them

  for (c <- cases) {
    def items(t: (Int, Int, Long)) = c.items(t._1, t._2, t._3)
    def probeP(dir: Path) = c.probe(items(p), dir.toString)
    def meta(dir: Path) = c.meta(dir.toString).get
    // whether any pair has an id of batch `t`
    def touches(ps: Set[Seq[Any]], t: (Int, Int, Long)) =
      ps.exists(_.take(2).exists { v =>
        val id = v.asInstanceOf[Long]
        id >= t._3 + t._1 && id < t._3 + t._2
      })

    test(s"${c.name}: (a) a delta landed without its meta swap is invisible; the next append overwrites it") {
      val clean = copyTree(base(c))
      val crashed = copyTree(base(c))
      val committedX = crashBeforeSwap(crashed, _ => true)(
        c.append(items(x), _, "rx"))
      // non-vacuous: once committed, x's copies do pair with the probe
      assert(touches(probeP(committedX), x))
      assert(meta(crashed) === meta(clean))
      val cleanPairs = probeP(clean)
      assert(probeP(crashed) === cleanPairs)
      assert(!touches(cleanPairs, x))

      c.append(items(y), clean.toString, "r2")
      c.append(items(y), crashed.toString, "r2")
      assert(meta(crashed) === meta(clean))
      val recovered = probeP(crashed)
      assert(recovered === probeP(clean))
      assert(touches(recovered, y) && !touches(recovered, x))
    }

    test(s"${c.name}: (b) a compact that crashed after landing is invisible; the next compact overwrites it") {
      val clean = copyTree(base(c))
      val before = probeP(clean)
      c.compact(clean.toString)
      val cleanMeta = meta(clean)
      assert(cleanMeta.deltas.size === 1)
      val cleanPairs = probeP(clean)
      assert(cleanPairs === before)
      for (landed <- crashPoints(c)) {
        val crashed = copyTree(base(c))
        crashBeforeSwap(crashed, landed)(c.compact)
        assert(meta(crashed) === meta(base(c)))
        assert(probeP(crashed) === before)
        c.compact(crashed.toString)
        assert(meta(crashed) === cleanMeta)
        assert(probeP(crashed) === cleanPairs)
      }
    }

    test(s"${c.name}: (c) replaying a committed runId writes nothing") {
      val dir = copyTree(base(c))
      val tree = files(dir)
      val metaJson = Files.readString(dir.resolve(c.metaFile))
      val m = c.append(items(y), dir.toString, "r1")
      assert(m === meta(dir))
      assert(files(dir) === tree)
      assert(Files.readString(dir.resolve(c.metaFile)) === metaJson)
    }

    test(s"${c.name}: (d) deleting every id empties the chain; a later append works") {
      val dir = copyTree(base(c))
      val old = meta(dir).deltas
      val one = c.items(10, 11, 9 * M)
      assert(c.probe(one, dir.toString).nonEmpty)
      c.deleteIds(ids(c, (0, 40, 0L), (0, 10, M)), dir.toString)
      val m = meta(dir)
      assert(m.deltas === Nil && m.docs === 0L)
      assert(m.committedRunIds === Set("r1"))
      assert(c.probe(one, dir.toString).isEmpty)
      assert(files(dir).forall(f => !old.exists(d => f.contains(s"$d/"))),
        s"superseded deltas left on disk: ${files(dir)}")

      c.append(items(y), dir.toString, "r2")
      assert(meta(dir).deltas.size === 1 && meta(dir).docs === 10L)
      assert(c.probe(one, dir.toString).nonEmpty)
    }

    test(s"${c.name}: (e) a legacy meta without runIds reads with an empty guard") {
      val dir = copyTree(base(c))
      val path = dir.resolve(c.metaFile)
      val json = Files.readString(path)
      val legacy = json.replaceAll(",\\s*\"runIds\"\\s*:\\s*\\[[^\\]]*\\]", "")
      assert(legacy != json && !legacy.contains("runIds"))
      Files.writeString(path, legacy)
      val m = meta(dir)
      assert(m.runIds === Nil && m.committedRunIds.isEmpty)
      assert(m.deltas === meta(base(c)).deltas)
      c.append(items(y), dir.toString, "r9")
      assert(meta(dir).committedRunIds === Set("r9"))
      val tree = files(dir)
      c.append(items(y), dir.toString, "r9")
      assert(files(dir) === tree)
    }
  }
}
