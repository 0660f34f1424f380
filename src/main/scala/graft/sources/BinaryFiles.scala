package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.network.util.JavaUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, regexp_extract}

/** The one committed-corpus front door: binaryFile scan (the
  * distributed object-store listing at 100 TB — many small files is
  * the pathological-listing shape this scan handles) + the
  * file-name / dated-dir projection every decoder needs. Shared by
  * the statement, PDF, XLSX, image and audio sources so a change to
  * the glob/recursion/date-extraction logic lands once.
  */
object BinaryFiles {

  /** The committed corpus root: the `data` folder of the checkout these
    * classes were compiled from (the nearest ancestor of the class
    * output that holds `data/statements`). Every corpus folder, and
    * every oracle that reads one, derives from it, so a checkout reads
    * and oracle-checks its own corpus.
    */
  val dataRoot: String = {
    val classes = Paths.get(getClass.getProtectionDomain.getCodeSource.getLocation.toURI)
    Iterator.iterate(classes)(_.getParent).takeWhile(_ != null)
      .map(_.resolve("data"))
      .find(d => Files.isDirectory(d.resolve("statements")))
      .getOrElse(Paths.get("data").toAbsolutePath)
      .toString
  }

  /** (path, content, file_name, batch_date) for every file matching
    * glob under dirs; batch_date is "" when the file is not under a
    * YYYYMMDD dir. Decode happens downstream, per partition — nothing
    * is per-file on the driver.
    *
    * Sizing: the scan reads in `max(defaultParallelism,
    * ceil(bytes / spark.sql.files.maxPartitionBytes))` partitions,
    * where `bytes` is the listed size the relation already holds
    * (reading it runs no job). Spark charges every file its 4 MB open
    * cost, so a tree of sub-KB files otherwise splits into one task
    * per 32 files (1,508 files: 48 splits, scanned twice by a range
    * sort); the coalesce packs them into about one task per core. A
    * coalesce never adds partitions, so a large input keeps Spark's own
    * splits. Listing runs on the driver (see the listing threshold in
    * [[graft.GraftSession]]); pass folders, not leaf files.
    */
  def scan(s: SparkSession, glob: String, dirs: String*): DataFrame = {
    val raw = s.read.format("binaryFile")
      .option("pathGlobFilter", glob)
      .option("recursiveFileLookup", "true")
      .load(dirs: _*)
    val bytes = raw.queryExecution.optimizedPlan.stats.sizeInBytes
    val perPartition = JavaUtils.byteStringAsBytes(s.conf.get("spark.sql.files.maxPartitionBytes"))
    val parts = ((bytes + perPartition - 1) / perPartition).min(Int.MaxValue).toInt
    projectPaths(raw.coalesce(math.max(s.sparkContext.defaultParallelism, parts)))
  }

  /** The path → (file_name, batch_date) projection, factored out so
    * the batch scan above and the STREAMING sources
    * (EventStreams.statementStream / statementPipeline) share one
    * definition — a change to the date-extraction logic must land in
    * every reader of the dated-folder layout at once, or stream and
    * batch silently diverge on the same files. The stream path keeps
    * Spark's own split sizing.
    */
  def projectPaths(raw: DataFrame): DataFrame =
    raw.select(col("path"), col("content"),
      regexp_extract(col("path"), "([^/]+)$", 1).as("file_name"),
      regexp_extract(col("path"), "([0-9]{8})/[^/]+$", 1).as("batch_date"))
}
