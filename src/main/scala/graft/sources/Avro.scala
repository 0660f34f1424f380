package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import org.apache.avro.Schema
import org.apache.avro.file.{DataFileReader, DataFileWriter, SeekableByteArrayInput}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}

/** Avro object-container source/sink over the bundled Avro library
  * (no spark-avro connector in this deployment — the container format
  * is decoded per partition, the same real-decoder pattern as
  * [[Xlsx]]/PdfExprs: binaryFile scan, nothing per-file on the
  * driver). Corrupt containers (bad magic, truncated blocks) surface
  * as `avro_ok = false` rows — per-file failure tracking, never a
  * thrown scan, the contract every committed-corpus decoder here
  * follows. The committed corpus at data/avro is written by an
  * INDEPENDENT generator (tools/gen_avro.py hand-rolls the container
  * bytes from the public spec) with a source-derived expected.parquet
  * sidecar, so reader bugs cannot self-confirm.
  */
object Avro {

  private[graft] val avroDir = s"${BinaryFiles.dataRoot}/avro"

  val navSchemaJson: String =
    """{"type":"record","name":"FundNav","fields":[
      |{"name":"row_id","type":"long"},
      |{"name":"fund_code","type":"string"},
      |{"name":"nav","type":"double"},
      |{"name":"trade_date","type":"string"},
      |{"name":"units","type":"long"}]}""".stripMargin

  /** Zigzag-varint long at pos; returns (value, next pos). */
  private def readLong(b: Array[Byte], pos: Int): (Long, Int) = {
    var p = pos; var shift = 0; var acc = 0L; var more = true
    while (more) {
      val x = b(p)
      acc |= (x & 0x7FL) << shift
      shift += 7; p += 1
      more = (x & 0x80) != 0
    }
    (((acc >>> 1) ^ -(acc & 1L)), p)
  }

  /** Structural walk of an object container per the PUBLIC spec
    * (magic, metadata map, sync marker, length-prefixed blocks each
    * ending in the sync): returns the total declared row count, or
    * throws on any violation — wrong magic, sync mismatch, or a file
    * that does not terminate exactly at a block boundary. Exists
    * because DataFileReader treats a TORN TAIL as a graceful end of
    * stream, which would turn a truncated container into a silent
    * undercount; the walk is independent of the library, so the two
    * must agree row-for-row.
    */
  private def declaredRows(bytes: Array[Byte]): Long = {
    require(bytes.length > 20 && bytes(0) == 'O' && bytes(1) == 'b' &&
      bytes(2) == 'j' && bytes(3) == 1, "bad container magic")
    var pos = 4
    // metadata map: positive entry count (or negative count + byte
    // size), entries, zero terminator
    // every decoded length/count is bounds-checked before use: a
    // corrupt varint decoding negative (or absurdly large) must THROW
    // into the corrupt-row path, never move the cursor backwards — an
    // unchecked negative size cycles the walk forever, which is worse
    // than the thrown scan this module exists to prevent
    def checked(v: Long, what: String): Int = {
      require(v >= 0L && v <= bytes.length.toLong, s"corrupt $what: $v")
      v.toInt
    }
    var n = { val (v, p) = readLong(bytes, pos); pos = p; v }
    while (n != 0L) {
      if (n < 0L) { val (_, p) = readLong(bytes, pos); pos = p; n = -n }
      require(n <= bytes.length.toLong, s"corrupt metadata entry count: $n")
      (0L until n).foreach { _ =>
        val (klen, p1) = readLong(bytes, pos)
        val (vlen, p2) = readLong(bytes, p1 + checked(klen, "metadata key length"))
        pos = p2 + checked(vlen, "metadata value length")
      }
      n = { val (v, p) = readLong(bytes, pos); pos = p; v }
    }
    val sync = bytes.slice(pos, pos + 16); pos += 16
    var rows = 0L
    while (pos < bytes.length) {
      val (cnt, p1) = readLong(bytes, pos)
      require(cnt >= 0L, s"corrupt block row count: $cnt")
      val (size, p2) = readLong(bytes, p1)
      pos = p2 + checked(size, "block byte size")
      require(pos + 16 <= bytes.length &&
        java.util.Arrays.equals(bytes.slice(pos, pos + 16), sync),
        "sync marker mismatch — torn or corrupt block")
      pos += 16
      rows += cnt
    }
    require(pos == bytes.length, "container does not end on a block boundary")
    rows
  }

  /** Per-file aggregate view of every .avro container under dirs:
    * (file_name, avro_ok, n_rows, sum_units, nav_e4_sum, first_code,
    * last_code, n_codes). An ALL-OR-NOTHING per-file read: a container
    * that fails anywhere (magic, sync, mid-block truncation) yields
    * one corrupt row rather than a partial aggregate — partial reads
    * of a torn file are how silent undercounts happen.
    */
  def navIngest(s: SparkSession, dirs: String*): DataFrame = {
    import s.implicits._
    BinaryFiles.scan(s, "*.avro", dirs: _*)
      .select(col("file_name"), col("content"))
      .as[(String, Array[Byte])]
      .mapPartitions { batch =>
        batch.map { case (name, bytes) =>
          try {
            val declared = declaredRows(bytes)
            val reader = new DataFileReader[GenericRecord](
              new SeekableByteArrayInput(bytes),
              new GenericDatumReader[GenericRecord]())
            try {
              var n = 0L; var sumUnits = 0L; var navE4 = 0L
              var first: String = null; var last: String = null
              val codes = scala.collection.mutable.HashSet.empty[String]
              while (reader.hasNext) {
                val r = reader.next()
                val code = r.get("fund_code").toString
                if (first == null) first = code
                last = code
                codes += code
                n += 1
                sumUnits += r.get("units").asInstanceOf[Long]
                navE4 += math.floor(
                  r.get("nav").asInstanceOf[Double] * 10000 + 0.5).toLong
              }
              if (n != declared)
                sys.error(s"library read $n rows of $declared declared")
              (name, true, n, sumUnits, navE4,
                Option(first), Option(last), codes.size.toLong)
            } finally reader.close()
          } catch {
            case _: Exception =>
              (name, false, 0L, 0L, 0L, None: Option[String], None: Option[String], 0L)
          }
        }
      }
      .toDF("file_name", "avro_ok", "n_rows", "sum_units", "nav_e4_sum",
        "first_code", "last_code", "n_codes")
  }

  /** Avro sink: each partition of a (row_id, fund_code, nav,
    * trade_date, units) frame becomes one container file
    * `part-<partition>.avro` under dir — the write stays distributed
    * (foreachPartition), the library owns the byte format, and empty
    * partitions write nothing. The roundtrip spec reads these back
    * through [[navIngest]], so the two Avro implementations
    * (library-written here, hand-rolled generator for the committed
    * corpus) cross-validate the reader.
    *
    * Contract: dir must be on a filesystem SHARED by driver and
    * executors (local mode, NFS/DBFS-style mounts; a real deployment
    * points at the object store). The write is whole-directory: any
    * part-*.avro from a previous run is removed first, so a rerun
    * with fewer partitions can never leave stale containers for
    * [[navIngest]] to silently mix into its aggregates.
    */
  def writeNav(df: DataFrame, dir: String): Unit = {
    val schemaJson = navSchemaJson
    val d = new java.io.File(dir)
    d.mkdirs()
    Option(d.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".avro"))
      .foreach(f => require(f.delete(), s"cannot clear stale ${f.getName}"))
    df.select(col("row_id").cast("long"), col("fund_code"),
        col("nav").cast("double"), col("trade_date"), col("units").cast("long"))
      .foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
        if (rows.hasNext) {
          val schema = new Schema.Parser().parse(schemaJson)
          val pid = org.apache.spark.TaskContext.getPartitionId()
          val w = new DataFileWriter[GenericRecord](
            new GenericDatumWriter[GenericRecord](schema))
          val f = new java.io.File(dir, f"part-$pid%05d.avro")
          w.create(schema, f)
          try rows.foreach { r =>
            val rec = new GenericData.Record(schema)
            rec.put("row_id", r.getLong(0))
            rec.put("fund_code", r.getString(1))
            rec.put("nav", r.getDouble(2))
            rec.put("trade_date", r.getString(3))
            rec.put("units", r.getLong(4))
            w.append(rec)
          } finally w.close()
        }
      }
  }
}
