package graft

import java.nio.file.Files
import org.apache.spark.sql.types.{LongType, StructType}
import graft.io.{Sinks, SnapshotTable}

/** Snapshot-table contract: committed-only visibility, append chains,
  * overwrite bases, time travel, commit-race loss, orphan reclaim, and
  * append-time schema evolution. */
class SnapshotTableSpec extends SparkSpec {

  import spark.implicits._

  private def tmpDir() =
    Files.createTempDirectory("graft-snap").toString

  private def ids(path: String, asOf: Option[Long] = None): Set[Long] =
    SnapshotTable.read(spark, path, asOf)
      .select("id").collect().map(_.getLong(0)).toSet

  test("append chain stacks; overwrite resets the base; time travel sees both") {
    val p = tmpDir()
    assert(SnapshotTable.write(Seq(1L, 2L).toDF("id"), p, "overwrite") === 1L)
    assert(SnapshotTable.write(Seq(3L).toDF("id"), p, "append") === 2L)
    assert(SnapshotTable.write(Seq(4L).toDF("id"), p, "append") === 3L)
    assert(ids(p) === Set(1L, 2L, 3L, 4L))
    assert(ids(p, Some(2L)) === Set(1L, 2L, 3L))
    assert(SnapshotTable.write(Seq(9L).toDF("id"), p, "overwrite") === 4L)
    assert(ids(p) === Set(9L))
    assert(ids(p, Some(3L)) === Set(1L, 2L, 3L, 4L)) // history intact
    val hist = SnapshotTable.history(spark, p)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(hist.toSeq === Seq((1L, "overwrite", 2L), (2L, "append", 1L),
      (3L, "append", 1L), (4L, "overwrite", 1L)))
  }

  test("an uncommitted data directory is invisible and its version reclaimed") {
    val p = tmpDir()
    SnapshotTable.write(Seq(1L).toDF("id"), p, "overwrite")
    // simulate a crash between data write and commit: v=2 dir, no record
    Seq(99L).toDF("id").write.parquet(s"$p/v=2")
    assert(SnapshotTable.latestVersion(spark, p) === Some(1L))
    assert(ids(p) === Set(1L))
    // next writer claims version 2, clobbering the debris
    assert(SnapshotTable.write(Seq(2L).toDF("id"), p, "append") === 2L)
    assert(ids(p) === Set(1L, 2L))
  }

  test("losing the commit race throws instead of corrupting the log") {
    val p = tmpDir()
    SnapshotTable.write(Seq(1L).toDF("id"), p, "overwrite")
    // a "concurrent writer" commits version 2 AFTER our writer read the
    // log (so both claim version 2); our commit step must then refuse
    val f = new java.io.File(s"$p/_commits/2.json")
    val w = new java.io.PrintWriter(f)
    w.write("""{"version":2,"action":"append","rows":0}"""); w.close()
    val e = intercept[java.io.IOException](
      SnapshotTable.commit(spark, p, 2L, "append", 7L))
    assert(e.getMessage.contains("version 2"))
    // the winner's record survives untouched (rows = 0, not 7)
    val hist = SnapshotTable.history(spark, p)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(hist(2L) === 0L)
    assert(SnapshotTable.latestVersion(spark, p) === Some(2L))
  }

  test("two-writer append race on the SAME base version: the loser cannot " +
      "clobber the winner's committed bytes, and its staging dir is reclaimed") {
    val p = tmpDir()
    SnapshotTable.write(Seq(1L).toDF("id"), p, "overwrite")
    // both writers read latest=1 and target version 2; A stages+commits
    // first, then B runs its FULL attempt (stage, count, commit) at the
    // same version — the post-commit data write that corrupted the
    // shared-dir layout
    assert(SnapshotTable.write(Seq(10L).toDF("id"), p, "append") === 2L)
    val e = intercept[java.io.IOException](
      SnapshotTable.writeAttempt(Seq(99L).toDF("id"), p, 2L, "append"))
    assert(e.getMessage.contains("version 2"))
    // the committed snapshot holds A's bytes, not B's
    assert(ids(p) === Set(1L, 10L))
    val hist = SnapshotTable.history(spark, p)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(hist(2L) === 1L)
    // B's staging dir was deleted on the lost race: only referenced
    // data dirs remain
    val dirs = new java.io.File(p).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("v=")).toSet
    assert(dirs.size === 2, s"unexpected dirs: $dirs")
    // and nothing is left for vacuum to reclaim
    assert(SnapshotTable.vacuum(spark, p).isEmpty)
  }

  test("reader during a concurrent write: a snapshot handle stays stable " +
      "across later appends/overwrites; staged commits are invisible") {
    val p = tmpDir()
    SnapshotTable.write(Seq(1L, 2L).toDF("id"), p, "overwrite")
    val reader = SnapshotTable.read(spark, p, Some(1L))
    // concurrent writers: an append, a mid-commit _tmp record, and a
    // full OVERWRITE all land while the reader's handle is open
    SnapshotTable.write(Seq(3L).toDF("id"), p, "append")
    val w = new java.io.PrintWriter(s"$p/_commits/_tmp_9")
    w.write("""{"version":9,"action":"append","rows":0}"""); w.close()
    SnapshotTable.write(Seq(100L).toDF("id"), p, "overwrite")
    // the v=1 handle still reads version 1, exactly
    assert(reader.collect().map(_.getLong(0)).toSet === Set(1L, 2L))
    // staged (_tmp) commits never count as versions
    assert(SnapshotTable.latestVersion(spark, p) === Some(3L))
    assert(ids(p) === Set(100L))
    // old snapshots remain readable after the overwrite (time travel)
    assert(SnapshotTable.read(spark, p, Some(2L))
      .collect().map(_.getLong(0)).toSet === Set(1L, 2L, 3L))
  }

  test("vacuum reclaims crash debris but never a referenced or future dir") {
    val p = tmpDir()
    SnapshotTable.write(Seq(1L).toDF("id"), p, "overwrite")
    SnapshotTable.write(Seq(2L).toDF("id"), p, "append")
    // crash debris: attempts at versions 1 and 2 that never committed
    Seq(99L).toDF("id").write.parquet(s"$p/v=1-adeadbeef")
    Seq(99L).toDF("id").write.parquet(s"$p/v=2")
    // a LIVE staging attempt at the NEXT (uncommitted) version
    Seq(42L).toDF("id").write.parquet(s"$p/v=3-alivelive")
    val deleted = SnapshotTable.vacuum(spark, p).toSet
    assert(deleted === Set("v=1-adeadbeef", "v=2"))
    assert(ids(p) === Set(1L, 2L)) // committed chain untouched
    val dirs = new java.io.File(p).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("v=")).toSet
    assert(dirs.contains("v=3-alivelive")) // future attempt untouched
  }

  test("append-time schema evolution merges; old versions read new column as null") {
    val p = tmpDir()
    SnapshotTable.write(Seq(1L).toDF("id"), p, "overwrite")
    SnapshotTable.write(Seq((2L, "en")).toDF("id", "lang"), p, "append")
    val out = SnapshotTable.read(spark, p)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(out.toSeq === Seq((1L, null), (2L, "en")))
  }

  test("appendBatch is idempotent per batch id (streaming replay safety)") {
    val p = tmpDir()
    assert(SnapshotTable.appendBatch(Seq(1L).toDF("id"), p, 0L).isDefined)
    assert(SnapshotTable.appendBatch(Seq(2L).toDF("id"), p, 1L).isDefined)
    // a restarted stream re-delivers batch 1: must be a no-op
    assert(SnapshotTable.appendBatch(Seq(2L).toDF("id"), p, 1L).isEmpty)
    assert(ids(p) === Set(1L, 2L))
    assert(SnapshotTable.history(spark, p).count() === 2L)
  }

  test("crash window: data dir written, commit lost — readers never see it, " +
      "the replayed batch reclaims the version, nothing double-lands") {
    val p = tmpDir()
    assert(SnapshotTable.write(Seq(1L, 2L).toDF("id"), p, "overwrite") === 1L)
    // a crashed append attempt: v=2 data landed, _commits/2.json did not
    Seq(3L, 4L).toDF("id").write.parquet(s"$p/v=2")
    assert(ids(p) === Set(1L, 2L)) // orphan is invisible
    assert(SnapshotTable.latestVersion(spark, p) === Some(1L))
    // the at-least-once replay of the same logical batch reclaims v=2
    assert(SnapshotTable.appendBatch(Seq(3L, 4L).toDF("id"), p, 7L) === Some(2L))
    assert(ids(p) === Set(1L, 2L, 3L, 4L))
    assert(SnapshotTable.read(spark, p).count() === 4L) // not 6: debris clobbered
    // and a SECOND delivery of that batch id is the metadata no-op
    assert(SnapshotTable.appendBatch(Seq(3L, 4L).toDF("id"), p, 7L).isEmpty)
    assert(SnapshotTable.read(spark, p).count() === 4L)
  }

  test("appendStream lands one committed version per micro-batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val p = tmpDir()
    val ckpt = tmpDir()
    val input = MemoryStream[Long]
    val q = SnapshotTable.appendStream(input.toDF().toDF("id"), p, ckpt).start()
    try {
      input.addData(1L, 2L)
      q.processAllAvailable()
      input.addData(3L)
      q.processAllAvailable()
      assert(ids(p) === Set(1L, 2L, 3L))
      assert(SnapshotTable.history(spark, p).count() === 2L)
    } finally q.stop()
  }

  private def state(p: String) =
    SnapshotTable.read(spark, p)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap

  test("refreshAgg folds ONLY the delta: old version files are never re-read") {
    val src = tmpDir(); val st = tmpDir()
    SnapshotTable.write(Seq(("a", 1L), ("b", 2L)).toDF("k", "v"), src, "overwrite")
    assert(SnapshotTable.refreshAgg(spark, src, st, Seq("k"), "v") === 1L)
    assert(state(st) === Map("a" -> ((1L, 1L)), "b" -> ((1L, 2L))))
    // DESTROY version 1's data files: an incremental refresh that
    // touched them would now fail or change results
    val v1 = new java.io.File(src).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("v=1")).head
    v1.listFiles.foreach(_.delete())
    SnapshotTable.write(Seq(("a", 10L)).toDF("k", "v"), src, "append")
    assert(SnapshotTable.refreshAgg(spark, src, st, Seq("k"), "v") === 2L)
    assert(state(st) === Map("a" -> ((2L, 11L)), "b" -> ((1L, 2L))))
    // no new source versions: refresh is a watermark no-op
    val versions = SnapshotTable.history(spark, st).count()
    assert(SnapshotTable.refreshAgg(spark, src, st, Seq("k"), "v") === 2L)
    assert(SnapshotTable.history(spark, st).count() === versions)
  }

  test("refreshAgg rebuilds from the new base after an overwrite") {
    val src = tmpDir(); val st = tmpDir()
    SnapshotTable.write(Seq(("a", 1L)).toDF("k", "v"), src, "overwrite")
    SnapshotTable.refreshAgg(spark, src, st, Seq("k"), "v")
    SnapshotTable.write(Seq(("z", 7L), ("z", 3L)).toDF("k", "v"), src, "overwrite")
    SnapshotTable.refreshAgg(spark, src, st, Seq("k"), "v")
    assert(state(st) === Map("z" -> ((2L, 10L)))) // 'a' gone with the base
  }

  test("reading an empty or never-committed table fails loudly") {
    val p = tmpDir()
    val e = intercept[IllegalArgumentException](SnapshotTable.read(spark, p))
    assert(e.getMessage.contains("no committed versions"))
    val e2 = intercept[IllegalArgumentException](
      { SnapshotTable.write(Seq(1L).toDF("id"), p, "overwrite")
        SnapshotTable.read(spark, p, Some(5L)) })
    assert(e2.getMessage.contains("never committed"))
  }

  test("swap and snapshot tables resolve their path's filesystem, not the default one") {
    val conf = spark.sparkContext.hadoopConfiguration
    val saved = conf.get("fs.defaultFS")
    val root = new java.io.File(tmpDir()).toURI.toString // file:/.../
    val swap = s"${root}swap"
    val snap = s"${root}snap"
    try {
      // no filesystem is registered for this scheme: resolving the
      // default filesystem anywhere in the sinks fails the test
      conf.set("fs.defaultFS", "graftunregistered://nowhere")
      Sinks.atomicParquetSwap(Seq(1L, 2L).toDF("id"), swap)
      Sinks.atomicParquetSwap(Seq(3L).toDF("id"), swap) // renames the live table aside
      val swapped = Sinks.readOrEmpty(spark, swap, new StructType().add("id", LongType))
      assert(swapped.collect().map(_.getLong(0)).toSet === Set(3L))
      SnapshotTable.write(Seq(4L).toDF("id"), snap, "overwrite")
      SnapshotTable.write(Seq(5L).toDF("id"), snap, "append")
      assert(ids(snap) === Set(4L, 5L))
    } finally {
      if (saved == null) conf.unset("fs.defaultFS") else conf.set("fs.defaultFS", saved)
    }
  }
}
