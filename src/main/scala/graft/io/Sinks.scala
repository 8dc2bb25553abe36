package graft.io

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.DataFrame

/** Sinks S9/S13 (SURVEY §2.1): artifact TSV/CSV writers and the atomic
  * parquet swap the merge sinks rely on.
  *
  * The reference writes one flat file per artifact (create_sheets.py:
  * 114-119,159-161); `single=true` coalesces to one part — correct for
  * dashboard/submission artifacts, intentionally NOT the default for
  * data-scale tables. */
object Sinks {

  /** The filesystem that owns `path` (its scheme and authority), not the
    * session's default one: an `s3a://` table on a `file://`-default
    * session must resolve to S3A. */
  private[io] def fileSystem(spark: org.apache.spark.sql.SparkSession,
      path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** S9 — delimited artifact write (header, custom sep). Returns the
    * final file path when single=true. */
  def writeDelimited(df: DataFrame, path: String, sep: String = "\t",
      single: Boolean = true): Unit = {
    val out = if (single) df.coalesce(1) else df
    out.write.mode("overwrite")
      .option("sep", sep).option("header", "true")
      .csv(path)
  }

  /** JSONL corpus export (the [[Sources.readJsonl]] counterpart):
    * partitioned by default — a training corpus export is data-scale,
    * one file per task is the shape downstream shard loaders want. */
  def writeJsonl(df: DataFrame, path: String,
      single: Boolean = false): Unit = {
    val out = if (single) df.coalesce(1) else df
    out.write.mode("overwrite").json(path)
  }

  /** Table swap: write to `<path>.tmp`, rename the live table aside to
    * `<path>.old`, rename tmp into place, delete `.old` LAST. Readers
    * never observe a half-written table, and no crash point loses the
    * previous version: if the process dies between the two renames, the
    * data survives in `.old` (and [[readOrEmpty]] falls back to it). A
    * brief absent-dir window between the renames is inherent to
    * rename-based swaps on HDFS-like filesystems — what the hardening
    * buys is durability, not zero-window.
    *
    * `sidecar` (name → contents) rides INSIDE the swapped directory
    * (written to tmp before the rename), so metadata and data commit
    * in the same atomic step — the transaction-marker slot for sinks
    * whose merge is not idempotent (underscore names are invisible to
    * parquet readers; fetch with [[readSidecar]]). */
  def atomicParquetSwap(df: DataFrame, path: String,
      sidecar: Map[String, String] = Map.empty): Unit = {
    val spark = df.sparkSession
    val tmp = path + ".tmp"
    df.write.mode("overwrite").parquet(tmp)
    val fs = fileSystem(spark, path)
    sidecar.foreach { case (name, body) =>
      require(name.startsWith("_"),
        s"sidecar files must be underscore-prefixed (parquet-invisible), got $name")
      val out = fs.create(new Path(tmp, name), true)
      try out.write(body.getBytes("UTF-8")) finally out.close()
    }
    val dst = new Path(path)
    val old = new Path(path + ".old")
    fs.delete(old, true) // leftover from a crashed previous swap
    val hadPrevious = fs.exists(dst)
    if (hadPrevious && !fs.rename(dst, old))
      throw new java.io.IOException(s"swap rename-aside failed: $path -> $old")
    if (!fs.rename(new Path(tmp), dst)) {
      if (hadPrevious) fs.rename(old, dst) // restore before failing
      throw new java.io.IOException(s"swap rename failed: $tmp -> $path")
    }
    fs.delete(old, true)
  }

  /** Backfill a single sidecar file into an EXISTING swapped table
    * without rewriting its data — the upgrade path for targets built
    * before a new marker existed (a lone metadata file create, not a
    * swap: acceptable exactly because the marker being absent is the
    * state being repaired). */
  def writeSidecar(spark: org.apache.spark.sql.SparkSession, path: String,
      name: String, body: String): Unit = {
    require(name.startsWith("_"),
      s"sidecar files must be underscore-prefixed (parquet-invisible), got $name")
    val fs = fileSystem(spark, path)
    val out = fs.create(new Path(path, name), true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
  }

  /** Read a [[atomicParquetSwap]] sidecar file — None when the table
    * or the sidecar doesn't exist (fresh target, or a table written
    * without one). */
  def readSidecar(spark: org.apache.spark.sql.SparkSession, path: String,
      name: String): Option[String] = {
    val fs = fileSystem(spark, path)
    val p = new Path(path, name)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
      finally in.close()
    }
  }

  /** S14 — done-marker gate (Snakemake `touch(...)`,
    * download_reads.smk:45,60,86): run the write action, then create the
    * zero-byte marker only after it succeeded. Downstream stages gate on
    * [[markerExists]]; a crashed write leaves no marker, so the stage
    * re-runs — the same at-least-once contract as the reference's
    * checkpoint files. */
  def withDoneMarker(spark: org.apache.spark.sql.SparkSession,
      marker: String)(write: => Unit): Unit = {
    write
    val fs = fileSystem(spark, marker)
    fs.create(new Path(marker), true).close()
  }

  def markerExists(spark: org.apache.spark.sql.SparkSession,
      marker: String): Boolean =
    fileSystem(spark, marker).exists(new Path(marker))

  /** S14 — step-log sink (update_reads_by_lane.py:179-209 writes a
    * per-lane log file): one text file of log lines. Driver-composed
    * lines, single file by design — logs are artifacts, not data. */
  def writeLog(spark: org.apache.spark.sql.SparkSession,
      lines: Seq[String], path: String): Unit = {
    import spark.implicits._
    lines.toDF("value").coalesce(1).write.mode("overwrite").text(path)
  }

  /** Read-back helper for swap-managed tables. Falls back to the
    * `.old` snapshot when the live dir is missing (crash between the two
    * swap renames); empty frame with the given schema when neither
    * exists. */
  def readOrEmpty(spark: org.apache.spark.sql.SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val fs = fileSystem(spark, path)
    if (fs.exists(new Path(path))) spark.read.parquet(path)
    else if (fs.exists(new Path(path + ".old"))) spark.read.parquet(path + ".old")
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }
}
