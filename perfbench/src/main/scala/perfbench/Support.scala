package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Seeded randomness owned by the benchmark (splitmix64), so the
  * generated inputs do not move when the engine's hashing changes. */
object Rng {
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def mix(x: Long, salt: Long): Long = mix(x ^ mix(salt))
}

object Clock {
  def now(): Long = System.nanoTime()
  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def timed[T](body: => T): (T, Double) = {
    val t0 = now()
    val out = body
    (out, secondsSince(t0))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** JVM-side readings: GC time, live heap and the block storage Spark
  * holds pinned. In `local[4]` the driver is also the executor, so these
  * cover every task. */
object Jvm {
  private val Mb = 1024.0 * 1024.0

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1000.0

  /** Heap in use after a full collection: the live set, including every
    * frame and block the last operation left pinned. (With the fixed
    * heap the benchmark runs with, an operation usually triggers no
    * collection of its own, so there is no in-operation post-GC reading
    * to take.) */
  def liveHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / Mb
  }

  def pinnedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / Mb
}

object Dirs {
  def deleteRec(p: Path): Unit =
    if (Files.exists(p)) {
      if (Files.isDirectory(p)) {
        val children = Files.list(p)
        try children.iterator().asScala.toList.foreach(deleteRec)
        finally children.close()
      }
      Files.deleteIfExists(p)
    }

  def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val dst = Paths.get(to)
    deleteRec(dst)
    val walk = Files.walk(src)
    try walk.iterator().asScala.foreach { p =>
      val target = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(target)
      else Files.copy(p, target, StandardCopyOption.COPY_ATTRIBUTES)
    } finally walk.close()
  }
}

/** Just enough JSON writing for the result line and the span dump. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null"
    else if (x == math.rint(x) && math.abs(x) < 1e15) x.toLong.toString
    else x.toString

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")

  def arr(items: Seq[String]): String = items.mkString("[", ", ", "]")
}
