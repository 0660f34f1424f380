package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg (dev only): substring filter over query names —
    // the driver always calls with exactly (sfDir, outDir)
    val (sfDir, outDir, only) = args match {
      case Array(a, b)    => (a, b, "")
      case Array(a, b, p) => (a, b, p)
    }
    // the same session every test and bench run builds, so the oracle
    // gate checks the plans they run
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.build(s"local[$cpus]", "graft-verify")
    new java.io.File(outDir).mkdirs()
    // The byte-level mm_* oracles index CHARACTERS in DuckDB but UTF-8
    // BYTES in Spark; they coincide only on a pure-ASCII corpus. The
    // ScalaTest assertion covers the test SFs — this check travels with
    // the oracle run itself, so a Verify against a NEW scale factor
    // fails the mm_* results loudly instead of silently diverging.
    // Lazy + caught: a corpus-less or unreadable SF dir must poison
    // only the mm_* entries (which read documents anyway), never abort
    // the whole run before the per-query try/catch loop can do its job.
    lazy val corpusAscii: Boolean = try {
      import org.apache.spark.sql.functions.{col, expr, length}
      spark.read.parquet(s"$sfDir/documents.parquet")
        .filter(length(col("text")) =!= expr("octet_length(text)")).isEmpty
    } catch { case e: Throwable =>
      System.err.println(s"[verify] ASCII precondition unverifiable: ${e.getMessage}")
      false
    }
    SparkEntry.queries.filter(_._1.contains(only)).foreach { case (name, fn) =>
      try {
        // only the ops whose oracle hashes document BYTES depend on the
        // ASCII precondition; the codec family reads the committed
        // image/audio corpora against formula sidecars (round 10:
        // mm_decode_meta / mm_feature_extract migrated off documents)
        if (Set("mm_phash", "mm_dedup_bytes").contains(name) && !corpusAscii)
          sys.error("non-ASCII documents: byte-level mm oracle precondition violated")
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // Split-oracle aux dumps live OUTSIDE outDir (the driver treats
    // every outDir subdirectory as an operator result) but are DERIVED
    // from it — a sibling `<outDir>_aux/<sf>` — so each Verify run's
    // dumps are self-contained: a repo clone at any path works, and a
    // later run with a different outDir can never re-point an older
    // run's oracle_sql.json at freshly rewritten dumps. Keyed by the
    // sf basename so a multi-SF check never reads a stale dump. The
    // `__AUX__` token in the oracle SQL is rewritten below. The aux
    // dir is CLEARED first: if a dump regresses, its oracle must fail
    // loudly on a missing file, not silently compare against the
    // previous run's stale parquet.
    val auxBase = new java.io.File(
      s"${outDir.stripSuffix("/")}_aux/${new java.io.File(sfDir).getName}").getAbsolutePath
    new scala.reflect.io.Directory(new java.io.File(auxBase)).deleteRecursively()
    SparkEntry.auxDumps.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$auxBase/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] aux $name failed: ${e.getMessage}")
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
    // __OUT__ points an oracle at a PRIMARY result dump — the
    // certificate-oracle pattern (dd_kcore) audits the very table the
    // driver hash-compares, instead of paying a second run of the
    // operator into an aux dump
    val outAbs = new java.io.File(outDir).getAbsolutePath
    val json = SparkEntry.oracleSql
      .map { case (k, v) =>
        s"${q(k)}: ${q(v.replace("__AUX__", auxBase).replace("__OUT__", outAbs))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
