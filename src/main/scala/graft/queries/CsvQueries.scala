package graft.queries

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.CsvDialect

/** CSV dialect-cascade queries (SURVEY §2.1 S8 + §2.7 A7).
  *
  * The reference's report artifacts are Latin-1, `;`-separated CSVs
  * with a preamble line (mds_parcelas.py:564-572, mds_saldo.py:
  * 852-892). `csv_dialect_counts` writes such fixtures derived from
  * the nation/region tables (accented Portuguese text included, so
  * the ISO-8859-1 decode is actually exercised), reads them back
  * through [[CsvDialect.read]]'s distributed decode + dialect
  * cascade, and aggregates — the DuckDB oracle recomputes the same
  * aggregates from the parquet ground truth, proving the bytes →
  * latin-1 → parse → typed-columns path lossless. */
object CsvQueries {

  private lazy val fixtureBase: java.nio.file.Path =
    java.nio.file.Files.createTempDirectory("graft_csv_")

  private def writeFixtures(s: SparkSession, dir: String): String = {
    // per-process fixture root: concurrent Verify/Bench JVMs must not
    // overwrite each other's staged CSVs
    val outPath = fixtureBase.resolve(math.abs(dir.hashCode).toString)
    val out = outPath.toString
    graft.table.DeltaLog.delete(outPath)
    Files.createDirectories(outPath)
    val nations = s.read.parquet(s"$dir/nation.parquet")
      .select("n_nationkey", "n_name", "n_regionkey")
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(2)))
      .sortBy(_._1)
    // one report file per region, latin-1, ';'-separated, preamble
    nations.groupBy(_._3).foreach { case (region, rows) =>
      val sb = new StringBuilder
      sb.append("Relatório de Saldo Detalhado por Município;;\n")
      sb.append("chave;nome;regiao\n")
      rows.sortBy(_._1).foreach { case (k, name, r) =>
        sb.append(s"$k;São João do $name;$r\n")
      }
      Files.write(Paths.get(out, f"saldo_regiao_$region%02d.csv"),
        sb.toString.getBytes(StandardCharsets.ISO_8859_1))
    }
    out
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "csv_dialect_counts" -> ((s: SparkSession, dir: String) => {
      val fixtureDir = writeFixtures(s, dir)
      CsvDialect.read(s, fixtureDir, skipLines = 1)
        .groupBy(col("regiao"))
        .agg(count(lit(1)).as("n_records"),
          sum(col("chave").cast("long")).as("sum_keys"),
          min(col("nome")).as("first_nome"))
        .orderBy(col("regiao"))
    })
  )

  val oracleSql: Map[String, String] = Map(
    "csv_dialect_counts" ->
      """SELECT CAST(n_regionkey AS VARCHAR) AS regiao,
        | count(*) AS n_records,
        | CAST(sum(n_nationkey) AS BIGINT) AS sum_keys,
        | min('São João do ' || n_name) AS first_nome
        |FROM nation GROUP BY 1 ORDER BY 1""".stripMargin
  )
}
