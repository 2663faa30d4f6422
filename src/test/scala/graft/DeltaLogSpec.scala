package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.jobs.CrawlJob
import graft.model._
import graft.ops.DedupIndex
import graft.table.{DeltaLog, TableIO}

/** The shared file layer: deletes never follow symbolic links (at any
  * of the sites that clear persisted state), and the atomic-rename
  * write and the JSON mapper live in `DeltaLog.scala` only. */
class DeltaLogSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** A directory outside the deleted tree holding one file, and a link
    * to it planted at `linkAt`. */
  private def plantLink(linkAt: Path): Path = {
    val outside = Files.createTempDirectory("graft-link-target")
    Files.writeString(outside.resolve("precious.txt"), "keep me")
    Files.createDirectories(linkAt.getParent)
    Files.createSymbolicLink(linkAt, outside)
    outside
  }

  private def assertTargetIntact(outside: Path, linkAt: Path): Unit = {
    assert(Files.exists(outside.resolve("precious.txt")),
      s"delete followed the link at $linkAt into $outside")
    assert(!Files.exists(linkAt, java.nio.file.LinkOption.NOFOLLOW_LINKS),
      s"the link itself must be removed: $linkAt")
  }

  test("recursive delete removes a symlink, never its target") {
    val root = Files.createTempDirectory("graft-del")
    Files.writeString(root.resolve("a.txt"), "x")
    val link = root.resolve("sub/link")
    val outside = plantLink(link)
    DeltaLog.delete(root)
    assert(!Files.exists(root))
    assertTargetIntact(outside, link)
    // absent path: no-op
    DeltaLog.delete(root)
  }

  test("index init, table expire and the bloom sweep do not follow symlinks") {
    // an index dir re-initialized over a link
    val idx = Files.createTempDirectory("graft-del-idx")
    val idxLink = idx.resolve("sig/link")
    val idxTarget = plantLink(idxLink)
    DedupIndex.init(idx.toString)
    assertTargetIntact(idxTarget, idxLink)

    // a resumable crawl clears _bloom/ of prior runs; then expire()
    // reclaims an orphaned data dir holding a link
    val table = Files.createTempDirectory("graft-del-table")
    val bloomLink = table.resolve("_bloom/stale-run/link")
    val bloomTarget = plantLink(bloomLink)
    val cfg = CrawlConfig(sites = Seq("portal_saude_mg"),
      years = YearSelector.Single(2024),
      months = MonthSelector.Single(1),
      nowYear = 2024, nowMonth = 6, maxPages = 1)
    CrawlJob.runResumable(spark, cfg, table.toString, "run-1")
    assertTargetIntact(bloomTarget, bloomLink)

    val orphanLink = table.resolve("data/v00099/link")
    val orphanTarget = plantLink(orphanLink)
    TableIO.expire(table.toString)
    assert(!Files.exists(table.resolve("data/v00099")))
    assertTargetIntact(orphanTarget, orphanLink)
  }

  test("atomic writes and the JSON mapper live only in DeltaLog.scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: $root")
    val banned = Seq("Files.move(", "ObjectMapper()", "Files.delete(",
      "deleteIfExists(")
    val ls = Files.walk(root)
    val offenders =
      try ls.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") &&
          p.getFileName.toString != "DeltaLog.scala")
        .flatMap { p =>
          val text = Files.readString(p)
          banned.filter(text.contains).map(b => s"$p: $b")
        }
        .toVector
      finally ls.close()
    assert(offenders.isEmpty,
      s"use graft.table.DeltaLog instead:\n${offenders.mkString("\n")}")
  }
}
