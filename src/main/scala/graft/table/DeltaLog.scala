package graft.table

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, LinkOption, Path, Paths, StandardCopyOption}

import scala.reflect.ClassTag

import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col

/** The one home of persisted-state file handling: the JSON codec, the
  * tmp + atomic-rename write (the reference's commit step,
  * portal_saude_mg.py:777-791), the recursive delete, and the delta
  * log behind every persisted index ([[Chained]]).
  *
  * Every file of persisted state is written through [[atomicWrite]],
  * on the driver and inside tasks alike, so a reader sees either the
  * previous content or the new one, never a torn file. [[TableIO]]'s
  * snapshot chain keeps its own layout and shares only the codec, the
  * atomic write and the delete. */
object DeltaLog {

  // ---- JSON codec ---------------------------------------------------

  private val mapper = new ObjectMapper()
    .registerModule(DefaultScalaModule)
    .configure(DeserializationFeature.FAIL_ON_UNKNOWN_PROPERTIES, false)

  /** The JSON file at `path` decoded as `cls`; None when it is absent. */
  def readJson[T](path: Path, cls: Class[T]): Option[T] =
    if (Files.exists(path))
      Some(mapper.readValue(Files.readString(path), cls))
    else None

  // ---- atomic writes ------------------------------------------------

  /** Replace `target` atomically: write a hidden sibling tmp file, then
    * ATOMIC_MOVE it over the target. Inside a task the tmp name carries
    * the task ATTEMPT id: under speculative execution (or a zombie task
    * racing its retry) two attempts of one partition must not
    * interleave writes into one tmp file — each writes its own, and
    * whichever move lands last wins with a complete file. */
  def atomicWrite(target: Path, bytes: Array[Byte]): Unit = {
    Files.createDirectories(target.getParent)
    val attempt = Option(TaskContext.get()).map(_.taskAttemptId())
      .getOrElse(0L)
    val tmp = target.resolveSibling(s".${target.getFileName}.$attempt.tmp")
    Files.write(tmp, bytes)
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  def atomicWrite(target: Path, text: String): Unit =
    atomicWrite(target, text.getBytes(UTF_8))

  def writeJson(target: Path, value: Any, pretty: Boolean = false): Unit =
    atomicWrite(target, (if (pretty) mapper.writerWithDefaultPrettyPrinter()
      else mapper.writer()).writeValueAsString(value))

  // ---- delete -------------------------------------------------------

  /** Delete `p` and everything below it; a no-op when absent. Never
    * follows a symbolic link: a link is removed itself and its target
    * is left untouched. */
  def delete(p: Path): Unit = {
    if (Files.isDirectory(p, LinkOption.NOFOLLOW_LINKS)) {
      val ls = Files.list(p)
      try ls.forEach(c => delete(c)) finally ls.close()
    }
    Files.deleteIfExists(p)
  }

  def delete(dir: String): Unit = delete(Paths.get(dir))

  // ---- delta-chained indexes ----------------------------------------

  /** Next version after the LIVE names `vNNNNN` (any prefix): max + 1,
    * never size + 1 — after a compaction (`[v00005]`, size 1) size-based
    * naming would eventually overwrite the live dir. */
  def nextVersion(names: Seq[String]): Int =
    names.map(d => d.substring(d.lastIndexOf('v') + 1).toInt)
      .foldLeft(0)(math.max) + 1

  /** Files per delta: a quarter of the session's shuffle partitions (at
    * least one), raised to `ceil(scaled)` for large batches. */
  def deltaParts(spark: SparkSession, scaled: Double = 0.0): Int =
    math.max(math.max(1, spark.sessionState.conf.numShufflePartitions / 4),
      math.ceil(scaled).toInt)

  /** Write `rows` to `path` hash-partitioned on `key` into `parts` files,
    * each sorted by `key`, so parquet row-group min/max stats stay
    * tight for the probes' pruning. */
  def writeSorted(rows: DataFrame, key: String, parts: Int,
      path: String): Unit =
    rows.repartition(parts, col(key)).sortWithinPartitions(key)
      .write.mode(SaveMode.Overwrite).parquet(path)

  /** The chain state every delta-chained index meta carries: `deltas`
    * are the live delta dirs oldest first, `docs` the indexed document
    * count, `runIds` the ids of committed appends — the replay guard
    * for streaming micro-batches (a replayed foreachBatch must not
    * re-append, which would self-pair every future probe). */
  trait Chain[M] {
    def docs: Long
    def deltas: Seq[String]
    def runIds: Seq[String]
    def withChain(docs: Long, deltas: Seq[String], runIds: Seq[String]): M
    def committedRunIds: Set[String] = runIds.toSet
  }

  /** The delta log of one index kind. The index supplies its meta file
    * name, its delta dir prefix and its delta row layout ([[land]],
    * plus [[readDeltas]] / [[deltaPaths]] / [[extraPaths]] when it
    * differs from one parquet dir per delta); the log owns the meta,
    * the runId guard, delta naming and the compact/deleteIds rewrite.
    *
    * Commit order is always: data dirs land, then the meta swaps
    * atomically, then superseded dirs go. A crash before the swap
    * leaves an unreferenced dir at the next version, which readers
    * never see (they go through the meta) and the next write of that
    * version overwrites. Single writer. */
  abstract class Chained[M <: Chain[M]](metaName: String, what: String,
      prefix: String, idCol: String = "id")(implicit tag: ClassTag[M]) {

    /** Write `rows` as the single `delta` a rewrite leaves (plus any
      * extra artifact) and return the next meta. */
    protected def land(rows: DataFrame, dir: String, delta: String, m: M): M

    /** Every live delta of `m` as one frame. */
    def readDeltas(spark: SparkSession, dir: String, m: M): DataFrame =
      spark.read.parquet(m.deltas.map(d => s"$dir/$d"): _*)

    /** Dirs (relative to the index dir) one delta occupies. */
    protected def deltaPaths(delta: String): Seq[String] = Seq(delta)

    /** Dirs `m` references besides its deltas. */
    protected def extraPaths(m: M): Seq[String] = Nil

    private def metaPath(dir: String) = Paths.get(dir, metaName)

    /** The committed meta; a legacy meta without `runIds` reads with an
      * empty guard. */
    def read(dir: String): Option[M] =
      readJson(metaPath(dir), tag.runtimeClass.asInstanceOf[Class[M]])
        .map(m => if (m.runIds == null) m.withChain(m.docs, m.deltas, Nil)
          else m)

    def current(dir: String): M = read(dir).getOrElse(
      throw new IllegalStateException(s"no $what at $dir"))

    /** Replace whatever is at `dir` with the empty index `m`; `artifacts`
      * (state the deltas depend on) land before the meta. */
    def init(dir: String, m: M)(artifacts: => Unit = ()): M = {
      delete(dir)
      artifacts
      writeJson(metaPath(dir), m)
      m
    }

    private def nextDelta(m: M): String =
      f"$prefix${nextVersion(m.deltas)}%05d"

    /** Append one delta. A non-empty `runId` already committed returns
      * the current meta and writes nothing. `write(meta, delta)` lands
      * the delta's dirs and returns the documents it adds. */
    def append(dir: String, runId: String)(write: (M, String) => Long): M = {
      val m = current(dir)
      if (runId.nonEmpty && m.committedRunIds.contains(runId)) m
      else {
        val delta = nextDelta(m)
        val n = write(m, delta)
        val next = m.withChain(m.docs + n, m.deltas :+ delta,
          if (runId.isEmpty) m.runIds else m.runIds :+ runId)
        writeJson(metaPath(dir), next)
        next
      }
    }

    /** Fold the chain into ONE delta (a long-lived stream appends one
      * delta per micro-batch; without compaction every read plans
      * O(batches) scans). runIds survive. */
    def compact(dir: String): M = {
      val m = current(dir)
      if (m.deltas.size <= 1) m else rewrite(dir, m, identity)
    }

    /** Remove documents by id (the revised-corpus workflow: a stale row
      * would emit phantom pairs against deleted documents on every
      * future probe). O(index bytes); compacts as a side effect. */
    def deleteIds(ids: DataFrame, dir: String): M = {
      val m = current(dir)
      if (m.deltas.isEmpty) m
      else {
        val del = ids.toDF("del_id")
        rewrite(dir, m,
          _.join(del, col(idCol) === col("del_id"), "left_anti"))
      }
    }

    /** Land `f(every live row)` as one new delta, swap the meta, then
      * remove the dirs only the old meta referenced. An emptied index
      * references no delta (a schema-less empty parquet dir would poison
      * the next read). */
    protected def rewrite(dir: String, m: M, f: DataFrame => DataFrame): M = {
      val rows = f(readDeltas(SparkSession.active, dir, m))
      val next =
        if (rows.isEmpty) m.withChain(0L, Nil, m.runIds)
        else land(rows, dir, nextDelta(m), m)
      writeJson(metaPath(dir), next)
      (paths(m).toSet -- paths(next)).foreach(p => delete(Paths.get(dir, p)))
      next
    }

    private def paths(m: M): Seq[String] =
      m.deltas.flatMap(deltaPaths) ++ extraPaths(m)
  }
}
