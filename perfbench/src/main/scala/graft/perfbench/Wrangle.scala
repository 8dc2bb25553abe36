package graft.perfbench

import java.io.File
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.io.{Sinks, Sources}
import graft.ops.Upsert
import graft.pipelines.{CreateSheets, IngestMetadata, LinkReads, UpdateDashboard}

/** A workload is a sequence of passes, each a sequence of named
  * operations. The operations of a pass are produced as it runs, so a later
  * one can depend on what an earlier one found. */
trait Workload {
  def pass(p: Int): Iterator[(String, () => Unit)]
  /** An unreported warm-up pass; by default an ordinary pass. */
  def warmup(p: Int): Iterator[(String, () => Unit)] = pass(p)
}

/** The `wrangle` workload: the CCGP batch job. One pass is one batch of
  * generated inputs (`inputs/batch_NNN/`), run as five stages through the
  * program's public functions, with the samples and reads state kept
  * between batches as versioned parquet tables written by `graft.io`. Each
  * state commit and each workflow sheet is an operation of its own, inside
  * the span of its stage. */
final class Wrangle(spark: SparkSession, inputs: String, work: String,
    tr: Tracer) extends Workload {

  private val batches = new File(inputs).listFiles()
    .filter(f => f.isDirectory && f.getName.startsWith("batch_"))
    .map(_.getPath).sorted

  private def dim(name: String): DataFrame =
    spark.read.option("header", "true").csv(s"$inputs/dims/$name")
  private lazy val speciesProjects =
    Sources.readSpeciesProjects(spark, s"$inputs/dims/species_projects.csv")
  private lazy val assemblies = dim("assemblies.csv")
  private lazy val referenceProgress = dim("reference_progress.csv")
  private lazy val expectedCounts = dim("expected_counts.csv")
    .withColumn("n_expected", col("n_expected").cast("long"))

  private val listingSchema = StructType(Seq(
    StructField("file_name", StringType), StructField("filesize", LongType),
    StructField("mdate", TimestampType)))
  private val readsSchema = listingSchema.add("orphan", BooleanType)

  /** Versioned state: every commit writes `v<n+1>` with an atomic swap
    * and later reads use it, so no lazy plan ever reads a table that is
    * being replaced. Versions two behind are deleted. */
  private final class State(name: String) {
    var version = 0
    def path(v: Int) = s"$work/state/$name/v$v"
    def read(schema: StructType): DataFrame =
      tr.span("io.read")(Sinks.readOrEmpty(spark, path(version), schema))
    def commit(df: DataFrame): Unit = {
      tr.span("io.commit")(Sinks.atomicParquetSwap(df, path(version + 1)))
      version += 1
      deleteDir(new File(path(version - 2)))
    }
  }
  private val samples = new State("samples")
  private val reads = new State("reads")
  private var samplesSchema: StructType = _
  private var touched: Seq[String] = Nil
  private var fresh: DataFrame = _
  private var mergedReads: DataFrame = _

  /** (batch, project, sheet directory) of every workflow sheet written. */
  val sheets = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String)]
  def dashboard(b: Int): String = s"$work/artifacts/b$b/dashboard"

  def pass(b: Int): Iterator[(String, () => Unit)] = Iterator(
    "ingest" -> (() => tr.span("pipelines.ingest")(ingest(b))),
    "upsert" -> (() => tr.span("pipelines.ingest")(upsert())),
    "discover" -> (() => tr.span("pipelines.discover")(discover(b))),
    "link" -> (() => tr.span("pipelines.link")(link())),
    "link_reads" -> (() => tr.span("pipelines.link")(reads.commit(mergedReads)))) ++
    // one sheet per project the batch's ingest touched
    touched.iterator.map(pid => "sheet" -> (() => tr.span("pipelines.sheets")(createSheet(b, pid)))) ++
    Iterator("dashboard" -> (() => tr.span("pipelines.dashboard")(updateDashboard(b))))

  private def ingest(b: Int): Unit = {
    val dir = batches(b)
    val files = new File(dir).listFiles().map(_.getPath).sorted.collect {
      case p if p.endsWith("/sheet.csv") => p -> "minicore"
      case p if p.endsWith("/sheet.tsv") => p -> "non-minicore"
    }.toSeq
    val (got, ledger) = IngestMetadata.ingestMany(spark, files, speciesProjects, assemblies)
    val errors = ledger.where(col("status") =!= "ok").collect()
    if (errors.nonEmpty || got.isEmpty)
      sys.error(s"ingest ledger errors: ${errors.mkString("; ")}")
    val manifest = tr.span("io.read")(
      spark.read.option("header", "true").csv(s"$dir/manifest.csv"))
    fresh = canonical(got.get).join(manifest, Seq("sample_name"), "left")
    touched = fresh.select("ccgp_project_id").distinct().collect()
      .map(_.getString(0)).sorted.toSeq
    if (samplesSchema == null)
      samplesSchema = fresh.schema.add("files", ArrayType(StringType))
        .add("received", TimestampType).add("filesize_sum", LongType)
  }

  private def upsert(): Unit = {
    val state = samples.read(samplesSchema)
    samples.commit(tr.span("ops.upsert")(Upsert.merge(state, fresh, Seq("sample_name"))))
  }

  /** The sample columns the state keeps, whichever sheet kind they came from. */
  private def canonical(df: DataFrame): DataFrame = {
    def c(name: String) =
      if (df.columns.contains(name)) col(s"`$name`") else lit(null).cast("string")
    df.select(c("*sample_name").as("sample_name"), c("*organism").as("organism"),
      col("ccgp_project_id"), col("expected_species"), col("ref_genome_accession"),
      c("lat").cast("double").as("lat"), c("long").cast("double").as("long"),
      c("*collection_date").as("collection_date"), col("project_type"),
      col("metadata_file"), col("extra"))
  }

  private def discover(b: Int): Unit = {
    val current = reads.read(readsSchema)
    val listing = tr.span("io.read")(spark.read.schema(listingSchema)
      .option("header", "true").csv(s"${batches(b)}/listing.csv"))
    reads.commit(LinkReads.discover(current, listing))
  }

  /** Links the samples against the reads that are still orphans, so each
    * batch's linkage sees only files not yet linked; the `link_reads`
    * operation then commits the merged reads. */
  private def link(): Unit = {
    val s = samples.read(samplesSchema)
    val r = reads.read(readsSchema)
    val (linkedSamples, checkedReads) = LinkReads.run(s, r.where(col("orphan")))
    mergedReads = tr.span("ops.upsert")(Upsert.merge(r,
      checkedReads.select("file_name", "orphan"), Seq("file_name")))
    samples.commit(linkedSamples)
  }

  private def createSheet(b: Int, pid: String): Unit = {
    val s = samples.read(samplesSchema)
    val path = s"$work/artifacts/b$b/workflow_${pid.replaceAll("[^A-Za-z0-9]", "_")}"
    val sheet = CreateSheets.workflowSheet(s, pid)
    tr.span("io.commit")(Sinks.writeDelimited(sheet, path, sep = ","))
    sheets += ((b, pid, path))
  }

  private def updateDashboard(b: Int): Unit = {
    val summary = UpdateDashboard.summary(samples.read(samplesSchema),
      referenceProgress, expectedCounts)
      .withColumn("samples_missing_data", concat_ws(";", col("samples_missing_data")))
    tr.span("io.commit")(Sinks.writeDelimited(summary, dashboard(b)))
  }

  /** Final state for the planted-truth checks, read outside the timed
    * batches: (sample, project, files, filesize_sum) and (file, orphan). */
  def finalState(): (Seq[(String, String, Seq[String], Option[Long])], Seq[(String, Boolean)]) = {
    val s = samples.read(samplesSchema)
      .select("sample_name", "ccgp_project_id", "files", "filesize_sum").collect()
      .map(r => (r.getString(0), r.getString(1),
        Option(r.getSeq[String](2)).map(_.toSeq).getOrElse(Nil),
        if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSeq
    val r = reads.read(readsSchema).select("file_name", "orphan").collect()
      .map(x => (x.getString(0), x.getBoolean(1))).toSeq
    (s, r)
  }

  private def deleteDir(f: File): Unit = if (f.exists()) {
    Option(f.listFiles()).foreach(_.foreach(deleteDir))
    f.delete()
  }
}
