package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Versioned snapshot table — the lakehouse-lite sink (the commit-log
  * core of Delta/Iceberg, reduced to what plain parquet + atomic rename
  * can guarantee): every write is an isolated VERSION, readers see only
  * COMMITTED versions, and any past snapshot stays readable (time
  * travel). This is the missing piece between [[Sinks.atomicParquetSwap]]
  * (atomic but history-free) and a real table format, and what a
  * 100-TB ingest actually needs from its landing tables: concurrent
  * writers cannot corrupt, readers never see partial data, yesterday's
  * snapshot is reproducible.
  *
  * Layout:
  * {{{
  *   path/v=3-a1b2c3d4/...parquet   — one ATTEMPT-UNIQUE dir per version
  *   path/_commits/3.json           — single-line commit record (names the dir)
  * }}}
  * The COMMIT LOG is authoritative: a version exists iff its commit
  * file exists, and the commit record names the data directory. The
  * writer protocol is
  *   1. next = latest committed + 1
  *   2. write data to `v=<next>-a<nonce>` — unique PER ATTEMPT, so two
  *      writers racing for the same version can never touch each
  *      other's bytes (with a shared `v=<next>` dir, the loser's data
  *      write could land AFTER the winner's commit and silently clobber
  *      the committed snapshot — the classic same-base two-writer hole)
  *   3. write `_commits/_tmp_<next>` then RENAME to `<next>.json`
  * Rename-to-existing FAILS on Hadoop filesystems, so step 3 is the
  * optimistic-concurrency point: of two racing writers one commits; the
  * other throws, DELETES its own staged dir, and retries on a fresh
  * version. A crash before step 3 leaves an orphan data dir that
  * readers never see; [[vacuum]] reclaims orphans once their version
  * number is committed (any writer still staging one of those versions
  * is guaranteed to lose its commit race, so the deletion is safe).
  *
  * `append` versions stack on the previous snapshot; `overwrite` starts
  * a new base. A snapshot at version V = the latest overwrite ≤ V plus
  * every append in between, read as a multi-directory parquet scan with
  * schema merge (append-time column evolution reads back as nulls on
  * old versions). Commit records are parsed driver-side — the log is
  * |versions| tiny files, a bounded driver materialization by design
  * (same contract as Delta's log replay).
  */
object SnapshotTable {

  private def commitDir(path: String) = new Path(path, "_commits")

  private final case class Commit(version: Long, action: String, rows: Long,
      batchId: Long = -1L, dirName: String = null) {
    /** Pre-r11 records carry no dir — they used the shared `v=<n>`. */
    def dir: String = if (dirName == null) s"v=$version" else dirName
  }

  private def commits(spark: SparkSession, path: String): Seq[Commit] = {
    val f = Sinks.fileSystem(spark, path)
    val dir = commitDir(path)
    if (!f.exists(dir)) return Seq.empty
    f.listStatus(dir).toSeq
      .map(_.getPath.getName)
      .filter(_.matches("[0-9]+\\.json"))
      .map { name =>
        val in = f.open(new Path(dir, name))
        val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
                   finally in.close()
        def fieldOpt(k: String) =
          s""""$k":(-?[0-9]+|"[a-z]+")""".r.findFirstMatchIn(body)
            .map(_.group(1).stripPrefix("\"").stripSuffix("\""))
        def field(k: String) = fieldOpt(k)
          .getOrElse(throw new IllegalStateException(
            s"corrupt commit record $name: $body"))
        val dirName = """"dir":"([^"]+)"""".r
          .findFirstMatchIn(body).map(_.group(1)).orNull
        Commit(field("version").toLong, field("action"), field("rows").toLong,
          fieldOpt("batch").map(_.toLong).getOrElse(-1L), dirName)
      }
      .sortBy(_.version)
  }

  def latestVersion(spark: SparkSession, path: String): Option[Long] =
    commits(spark, path).lastOption.map(_.version)

  /** Write `df` as the next version. Returns the committed version.
    * Throws if a concurrent writer committed the same version first —
    * the caller retries (the data dir it wrote is orphaned debris the
    * winning chain never reads and a later attempt reclaims). */
  def write(df: DataFrame, path: String, mode: String = "append"): Long =
    write(df, path, mode, batchId = -1L)

  private def write(df: DataFrame, path: String, mode: String,
      batchId: Long): Long = {
    val next = latestVersion(df.sparkSession, path).getOrElse(0L) + 1L
    writeAttempt(df, path, next, mode, batchId)
  }

  /** One write ATTEMPT at an explicit version — the unit the
    * optimistic-concurrency race decides (separated so the two-writer
    * same-base race is testable deterministically). Stages data in an
    * attempt-unique dir; on a lost commit race the staged dir is
    * DELETED before rethrowing, so the loser leaves no debris. */
  private[graft] def writeAttempt(df: DataFrame, path: String, next: Long,
      mode: String, batchId: Long = -1L): Long = {
    require(mode == "append" || mode == "overwrite",
      s"mode must be append|overwrite, got $mode")
    val spark = df.sparkSession
    val nonce = java.util.UUID.randomUUID.toString.replace("-", "").take(8)
    val dirName = s"v=$next-a$nonce"
    val dataDir = new Path(path, dirName)
    df.write.mode("overwrite").parquet(dataDir.toString)
    // footer-driven count of what was actually written (no extra
    // materialization of df, which may be expensive lineage)
    val rows = spark.read.parquet(dataDir.toString).count()
    try commit(spark, path, next, mode, rows, batchId, dirName)
    catch { case e: java.io.IOException =>
      Sinks.fileSystem(spark, path).delete(dataDir, true) // reclaim the loser's staging
      throw e
    }
    next
  }

  /** Delete data dirs no commit record references, for versions at or
    * below the latest committed one — crash debris from attempts that
    * never reached their commit rename. Safe under concurrency: a
    * writer still staging one of those version numbers is guaranteed
    * to lose its commit race (the version is already committed), so
    * at worst its doomed attempt fails a step earlier.
    * @return the deleted directory names */
  def vacuum(spark: SparkSession, path: String): Seq[String] = {
    val all = commits(spark, path)
    if (all.isEmpty) return Seq.empty
    val latest = all.last.version
    val referenced = all.map(_.dir).toSet
    val f = Sinks.fileSystem(spark, path)
    val root = new Path(path)
    if (!f.exists(root)) return Seq.empty
    f.listStatus(root).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(_.startsWith("v="))
      .filterNot(referenced)
      .filter { n =>
        val v = n.stripPrefix("v=").takeWhile(_.isDigit)
        v.nonEmpty && v.toLong <= latest
      }
      .map { n => f.delete(new Path(path, n), true); n }
  }

  /** Idempotent streaming append for `foreachBatch`: a batch id already
    * in the commit log is SKIPPED, so Structured Streaming's replay of
    * the last uncommitted micro-batch after a restart cannot double-
    * write — the commit log doubles as the sink's transaction log
    * (exactly-once landing on top of at-least-once delivery). */
  def appendBatch(df: DataFrame, path: String, batchId: Long): Option[Long] = {
    if (commits(df.sparkSession, path).exists(_.batchId == batchId)) None
    else Some(write(df, path, "append", batchId))
  }

  /** foreachBatch-ready writer: `stream` lands as one snapshot version
    * per micro-batch with replay-safe batch ids. */
  def appendStream(stream: DataFrame, path: String,
      checkpoint: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (df: DataFrame, bid: Long) =>
        appendBatch(df, path, bid); ()
      }

  /** The atomic commit step (separated so the race can be tested):
    * stage the record, then rename-without-overwrite onto the final
    * name. A concurrent writer that already committed this version
    * makes the rename refuse — we throw and the caller retries. */
  private[graft] def commit(spark: SparkSession, path: String,
      version: Long, mode: String, rows: Long, batchId: Long = -1L,
      dataDirName: String = null): Unit = {
    val f = Sinks.fileSystem(spark, path)
    val dir = commitDir(path)
    f.mkdirs(dir)
    val tmp = new Path(dir, s"_tmp_$version")
    val out = f.create(tmp, true)
    val dirField =
      if (dataDirName == null) "" else s""","dir":"$dataDirName""""
    try out.write(
      s"""{"version":$version,"action":"$mode","rows":$rows,"batch":$batchId$dirField}\n"""
        .getBytes("UTF-8"))
    finally out.close()
    val fin = new Path(dir, s"$version.json")
    // FileContext.rename (no Rename.OVERWRITE) refuses an existing
    // destination — FileSystem.rename on the local FS silently
    // overwrites, which would let a losing writer clobber the winner
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      fin.toUri, spark.sparkContext.hadoopConfiguration)
    try fc.rename(fc.makeQualified(tmp), fc.makeQualified(fin))
    catch { case e: java.io.IOException =>
      f.delete(tmp, false)
      throw new java.io.IOException(
        s"concurrent commit lost the race for version $version of $path", e)
    }
  }

  /** Read the snapshot as of `asOf` (default: latest committed). */
  def read(spark: SparkSession, path: String,
      asOf: Option[Long] = None): DataFrame = {
    val all = commits(spark, path)
    require(all.nonEmpty, s"no committed versions at $path")
    val upTo = asOf match {
      case Some(v) =>
        require(all.exists(_.version == v),
          s"version $v was never committed at $path")
        all.filter(_.version <= v)
      case None => all
    }
    val baseIdx = upTo.lastIndexWhere(_.action == "overwrite")
    val chain = if (baseIdx < 0) upTo else upTo.drop(baseIdx)
    val dirs = chain.map(c => s"$path/${c.dir}")
    spark.read.option("mergeSchema", "true").parquet(dirs: _*)
  }

  /** Incrementally-maintained aggregate over a snapshot table — the
    * materialized-view refresh that makes the commit log pay off twice:
    * the state table (count + sum per key) folds in ONLY the source
    * versions committed since the last refresh, and the refresh
    * watermark is the state table's own commit `batchId` — the log is
    * simultaneously the source's version history, the sink's
    * transaction log, and the view's refresh bookmark. An `overwrite`
    * in the unseen range invalidates incrementality, so the state
    * rebuilds from the new base (correct, just not incremental that
    * one time). A refresh with nothing new is a metadata no-op.
    *
    * Scale shape: count/sum partials are associative — the delta scan
    * touches only the NEW versions' files, the merge is one key-keyed
    * aggregate of (state ∪ delta-partials), both map-side combinable.
    * At a 100-TB source with daily appends, refresh cost tracks the
    * day's data, never the table.
    *
    * @return the new watermark (the latest folded source version) */
  def refreshAgg(spark: SparkSession, sourcePath: String, statePath: String,
      keyCols: Seq[String], sumCol: String): Long = {
    import org.apache.spark.sql.functions._
    require(keyCols.nonEmpty, "refreshAgg needs at least one key column")
    val wm = commits(spark, statePath).lastOption.map(_.batchId).getOrElse(0L)
    val src = commits(spark, sourcePath)
    require(src.nonEmpty, s"no committed versions at $sourcePath")
    val latest = src.last.version
    if (latest <= wm) return wm
    val fresh = src.filter(_.version > wm)
    val rebuild = wm == 0L || fresh.exists(_.action == "overwrite")
    def partials(df: DataFrame) = df
      .groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n"), sum(col(sumCol)).as("total"))
    val newState =
      if (rebuild) partials(read(spark, sourcePath, Some(latest)))
      else {
        val deltaDirs = fresh.map(c => s"$sourcePath/${c.dir}")
        val delta = partials(
          spark.read.option("mergeSchema", "true").parquet(deltaDirs: _*))
        read(spark, statePath).unionByName(delta)
          .groupBy(keyCols.map(col): _*)
          .agg(sum(col("n")).as("n"), sum(col("total")).as("total"))
      }
    write(newState, statePath, "overwrite", batchId = latest)
    latest
  }

  /** The commit log as a frame: (version, action, rows). */
  def history(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    commits(spark, path).map(c => (c.version, c.action, c.rows))
      .toDF("version", "action", "rows")
  }
}
