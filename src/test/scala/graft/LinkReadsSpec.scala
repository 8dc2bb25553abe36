package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Generate
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
import org.apache.spark.sql.functions._
import graft.io.Listing
import graft.ops.{Linkage, Upsert}
import graft.pipelines.LinkReads

class LinkReadsSpec extends SparkSpec {

  test("S6 listing source: metadata-only scan of a directory") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-listing").toString
    Files.write(java.nio.file.Paths.get(s"$dir/a_R1.fastq.gz"), "x".getBytes)
    Files.write(java.nio.file.Paths.get(s"$dir/a_R2.fastq.gz"), "xyz".getBytes)
    Files.write(java.nio.file.Paths.get(s"$dir/notes.txt"), "n".getBytes)

    val all = Listing.listFiles(spark, dir)
    assert(all.count() === 3)
    val gz = Listing.listFiles(spark, dir, "*.gz")
      .collect().map(r => r.getAs[String]("file_name") -> r.getAs[Long]("filesize")).toMap
    assert(gz === Map("a_R1.fastq.gz" -> 1L, "a_R2.fastq.gz" -> 3L))
    // metadata-only: content column is not even present
    assert(!all.columns.contains("content"))
  }

  test("discovery merge is insert-only; full linkage round-trip updates both tables") {
    import spark.implicits._
    val samples = Fixtures.samples(spark)
    val reads0 = Fixtures.reads(spark)

    // discovery: existing file re-listed with a different size (ignored),
    // plus one new file
    val listing = Seq(
      ("AB-1_R1.fastq.gz", 9999L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
      ("NEW_FILE_R1.fastq.gz", 42L, java.sql.Timestamp.valueOf("2024-01-02 00:00:00")))
      .toDF("file_name", "filesize", "mdate")
    val reads = LinkReads.discover(reads0, listing)
    val byName = reads.collect().map(r => r.getAs[String]("file_name") -> r).toMap
    assert(byName("AB-1_R1.fastq.gz").getAs[Long]("filesize") === 200L) // not clobbered
    assert(byName("NEW_FILE_R1.fastq.gz").getAs[Long]("filesize") === 42L) // inserted
    assert(byName("NEW_FILE_R1.fastq.gz").getAs[Boolean]("orphan") === true)

    val (updSamples, updReads) = LinkReads.run(samples, reads)
    val s1 = updSamples.where(col("sample_name") === "s1").collect()(0)
    assert(s1.getAs[scala.collection.Seq[String]]("files").size === 4)
    assert(s1.getAs[Long]("filesize_sum") === 460L)
    val orphans = updReads.where(col("orphan")).select("file_name")
      .collect().map(_.getString(0)).toSet
    assert(orphans.contains("ORPHAN_X_R1.fastq.gz"))
    assert(orphans.contains("NEW_FILE_R1.fastq.gz"))
    assert(!orphans.contains("AB-1_R1.fastq.gz"))
  }

  test("run links once: both outputs read one materialized linkage and equal the lazy composition") {
    val samples = Fixtures.samples(spark)
    val reads = Fixtures.reads(spark)
    val (updSamples, updReads) = LinkReads.run(samples, reads)

    val cleaned = samples.withColumn("files",
      when(col("files").isNotNull, Upsert.pull(col("files"), Seq("", "NaN"))))
    val linked = Linkage.resolveConflicts(Linkage.linkScalable(cleaned, reads))
    val expSamples = Upsert.merge(cleaned, Linkage.aggregates(linked),
      Seq("sample_name"), Map("files" -> Upsert.AddToSet))
    val expReads = Linkage.markOrphans(reads, linked)

    // the token explode and the residual BNLJ mark a plan that re-runs
    // the tiered linkage: the lazy composition has both, run's outputs neither
    def linkageOps(df: DataFrame): (Int, Int) = {
      val qe = df.queryExecution
      (qe.optimizedPlan.collect { case g: Generate => g }.size,
        qe.sparkPlan.collect { case j: BroadcastNestedLoopJoinExec => j }.size)
    }
    for (df <- Seq(expSamples, expReads)) {
      val (gen, bnlj) = linkageOps(df)
      assert(gen > 0 && bnlj > 0)
    }
    for (df <- Seq(updSamples, updReads)) assert(linkageOps(df) === ((0, 0)))

    def rows(df: DataFrame): Seq[String] =
      df.select(df.columns.sorted.toSeq.map(c => col(c)): _*)
        .collect().map(_.toString).sorted.toSeq
    assert(rows(updSamples) === rows(expSamples))
    assert(rows(updReads) === rows(expReads))
  }
}
