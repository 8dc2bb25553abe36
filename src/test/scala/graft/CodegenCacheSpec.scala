package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.Sources
import graft.ops.Upsert
import graft.pipelines.{CreateSheets, IngestMetadata, LinkReads, UpdateDashboard}

/** A repeated CCGP batch reuses its compiled classes. Spark keeps
  * generated classes in one JVM-wide LRU whose default capacity (100)
  * is below a batch's working set, so at the default every repeat of
  * the batch recompiled nearly all of them; [[LocalSession]] sizes the
  * cache above it.
  *
  * The batch runs in its own session with
  * `spark.sql.codegen.useIdInClassName=false`. By default a whole-stage
  * class is named after its codegen stage id, and AQE numbers stages in
  * the order it re-plans them, which follows stage completion order; a
  * repeat then recompiles a few stages under a new name (0–18 per
  * repeat on the fixtures). Without the id, a recompile can only come
  * from an eviction, which is what this spec pins. The batch still
  * needs over 120 distinct classes, above the default capacity. */
class CodegenCacheSpec extends SparkSpec {

  private val fixtures = "src/test/resources/fixtures"

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** One batch on the fixtures, every output written through `noop`:
    * ingest both sheet kinds, upsert into the samples state, discover a
    * listing slice, link, one workflow sheet per project, dashboard. */
  private def batch(spark: SparkSession): Unit = {
    import spark.implicits._
    val speciesProjects =
      Sources.readSpeciesProjects(spark, s"$fixtures/species_projects.csv")
    val assemblies = spark.read.option("header", "true").csv(s"$fixtures/assemblies.csv")
    val (ingested, ledger) = IngestMetadata.ingestMany(spark, Seq(
      s"$fixtures/samples_minicore.csv" -> "minicore",
      s"$fixtures/samples_non_minicore.tsv" -> "non-minicore"),
      speciesProjects, assemblies)
    noop(ledger)
    val fresh = ingested.get.select(col("`*sample_name`").as("sample_name"),
      col("`*organism`").as("organism"), col("ccgp_project_id"),
      col("expected_species"), col("ref_genome_accession"),
      col("lat"), col("long"), col("project_type"), col("extra"))
    val samples = Upsert.merge(Fixtures.samples(spark), fresh, Seq("sample_name"))
    noop(samples)

    val listing = Seq(
      ("AB-1_R1.fastq.gz", 9999L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
      ("MC_1_a_R1.fastq.gz", 42L, java.sql.Timestamp.valueOf("2024-01-02 00:00:00")),
      ("MC_1_a_R2.fastq.gz", 43L, java.sql.Timestamp.valueOf("2024-01-02 00:00:00")))
      .toDF("file_name", "filesize", "mdate")
    val reads = LinkReads.discover(Fixtures.reads(spark), listing)
    noop(reads)
    val (linkedSamples, linkedReads) = LinkReads.run(samples, reads.where(col("orphan")))
    noop(linkedSamples)
    noop(Upsert.merge(reads, linkedReads.select("file_name", "orphan"), Seq("file_name")))

    val projects = linkedSamples.where(col("ccgp_project_id").isNotNull)
      .select("ccgp_project_id").distinct().as[String].collect().sorted
    projects.foreach(pid => noop(CreateSheets.workflowSheet(linkedSamples, pid)))
    val referenceProgress = Seq(("1-Sceloporus", "3-scaffolded"), ("2-Quercus", "1-received"))
      .toDF("project_id", "stage")
    val expectedCounts = Seq(("1-Sceloporus", 4L), ("2-Quercus", 2L), ("3-Shared", 1L))
      .toDF("project_id", "n_expected")
    noop(UpdateDashboard.summary(linkedSamples, referenceProgress, expectedCounts)
      .withColumn("samples_missing_data", concat_ws(";", col("samples_missing_data"))))
  }

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("the session's codegen cache is LocalSession's size") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ===
      LocalSession.codegenCacheMaxEntries.toString)
  }

  test("a repeated CCGP batch compiles no class again") {
    val session = spark.newSession()
    session.conf.set("spark.sql.codegen.useIdInClassName", "false")
    val c0 = compiles
    batch(session)
    val c1 = compiles
    batch(session)
    val c2 = compiles
    info(s"compiles: first batch ${c1 - c0}, repeat ${c2 - c1}")
    assert(c2 - c1 === 0L)
  }
}
