package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  * `SPARK_GRAFT_QUERIES=q_a,q_b` limits a local run to those queries
  * ([[SparkEntry.selected]]); the driver never sets it. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val names = SparkEntry.selected()
    val spark = LocalSession(LocalSession.cpus("4"))
    new java.io.File(outDir).mkdirs()
    if (names.size < SparkEntry.queries.size)
      System.err.println(s"[verify] FILTERED run: ${names.size} " +
        s"of ${SparkEntry.queries.size} queries — outDir will hold a PARTIAL " +
        "result set; don't point the driver (or check.py baselines) at it")
    names.foreach { name =>
      try SparkEntry.queries(name)(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // rows-only queries have no DuckDB oracle; compare their content
    // fingerprint against the recorded golden (Goldens) so semantic
    // drift is caught there too → golden_match.json per query
    val sfName = Paths.get(sfDir).getFileName.toString
    Goldens.expected.get(sfName).filter(_.nonEmpty).foreach { golden =>
      val entries = Goldens.rowsOnly.toSeq.sortBy(_._1)
        .filter { case (name, _) => names.contains(name) }
        .map { case (name, (exclude, dp)) =>
        val entry =
          try {
            val fp = Goldens.fingerprint(SparkEntry.queries(name)(spark, sfDir), exclude, dp)
            val ok = golden.get(name).contains(fp)
            s"""${q(name)}: {"golden_match": $ok, "fingerprint": ${q(fp)}, "golden": ${q(golden.getOrElse(name, ""))}}"""
          } catch { case e: Throwable =>
            s"""${q(name)}: {"golden_match": false, "error": ${q(String.valueOf(e.getMessage))}}"""
          }
        entry
      }
      Files.writeString(Paths.get(s"$outDir/golden_match.json"),
        entries.mkString("{", ",", "}"))
      val bad = entries.filter(_.contains("\"golden_match\": false"))
      if (bad.nonEmpty) System.err.println(s"[verify] golden mismatches: ${bad.size}")
    }
    spark.stop()
  }
}
