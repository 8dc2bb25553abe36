package graft.pipelines

import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, GraftSqlShim, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.CleaningFunctions._
import graft.io.Sources

/** Metadata-ingestion pipeline (SURVEY §3.1 — update_metadata.py +
  * utils/parse.py): sheet read → species/project lookup → accession
  * lookup → cleaning → finalize. The sheet itself stays narrow, but
  * [[withProjectId]] aggregates the species dimension twice (two
  * shuffles of the dimension, then two broadcast joins into the sheet).
  *
  * [[ingestMany]] materializes each validated sheet once, with an eager
  * `localCheckpoint` (`GraftSqlShim.measuredBarrier`): a batch consumes
  * its samples in several sinks (a state merge, a per-project scan), and
  * a lazy frame would re-parse the sheet and repeat the dimension
  * shuffles for every one. The checkpoint lives in executor
  * block storage, so a lost executor fails the batch; the state sinks
  * commit with an atomic swap, so re-running the batch is safe.
  */
object IngestMetadata {

  /** J1 — two-tier species→project lookup (parse.py:108-142): key is the
    * first two whitespace tokens when the name has ≥3 (subspecies
    * dropped); exact genus-species match wins (expected=1), else
    * genus-only (expected=0), else "Unknown project-id" (expected=0). */
  def withProjectId(df: DataFrame, organismCol: String,
      speciesProjects: DataFrame): DataFrame = {
    val toks = split(trim(col(organismCol)), "\\s+")
    val key = when(size(toks) >= 3, concat_ws(" ", toks.getItem(0), toks.getItem(1)))
      .otherwise(trim(col(organismCol)))
    val genus = toks.getItem(0)

    // reference dict construction: later rows win. Spark's last() is
    // shuffle-order-dependent, so pin "later" with an explicit row index
    // taken BEFORE any shuffle: max_by is deterministic however the
    // dimension gets partitioned.
    val indexed = speciesProjects.withColumn("_row_idx", monotonically_increasing_id())
    val spp = indexed
      .select(col("genus_species").as("_spp_key"), col("project_id").as("_spp_pid"),
        col("_row_idx"))
      .groupBy("_spp_key").agg(max_by(col("_spp_pid"), col("_row_idx")).as("_spp_pid"))
    val gen = indexed
      .select(col("genus").as("_gen_key"), col("project_id").as("_gen_pid"),
        col("_row_idx"))
      .groupBy("_gen_key").agg(max_by(col("_gen_pid"), col("_row_idx")).as("_gen_pid"))

    df.withColumn("_match_key", key).withColumn("_genus", genus)
      .join(broadcast(spp), col("_match_key") === col("_spp_key"), "left")
      .join(broadcast(gen), col("_genus") === col("_gen_key"), "left")
      .withColumn("ccgp_project_id",
        coalesce(col("_spp_pid"), col("_gen_pid"), lit("Unknown project-id")))
      .withColumn("expected_species", col("_spp_pid").isNotNull.cast("int"))
      .drop("_match_key", "_genus", "_spp_key", "_spp_pid", "_gen_key", "_gen_pid")
  }

  /** J2 — reference-accession lookup with "NaN" default
    * (parse.py:177-179, gsheets.py:47-54). */
  def withRefAccession(df: DataFrame, assemblies: DataFrame): DataFrame =
    df.join(broadcast(assemblies.select(
        col("project_id").as("_acc_pid"), col("accession").as("_acc"))),
        col("ccgp_project_id") === col("_acc_pid"), "left")
      .withColumn("ref_genome_accession", coalesce(col("_acc"), lit("NaN")))
      .drop("_acc_pid", "_acc")

  /** Canonical sample columns (SURVEY §1.4): the anticipated fields in
    * raw-sheet (`*name` / `name*`) and normalized spellings, plus the
    * three taxon-specific attribute whitelists (single source of truth:
    * [[CreateSheets.taxonCols]]). Anything else a submitter invents is
    * "unanticipated" and routes into the `extra` map. */
  lazy val CanonicalColumns: Set[String] = {
    val base = Seq(
      "sample_name", "organism", "ccgp_project_id", "expected_species",
      "preferred_seq_id", "Preferred Sequence ID", "minicore_seq_id",
      "old_minicore_seq_id", "minicore_sequenced", "lat", "long", "lat_lon",
      "collection_date", "geo_loc_name", "locality_description",
      "Locality Description", "county", "state", "tissue", "sex",
      "library_prep_method", "ref_genome_accession", "metadata_file",
      "project_type", "files", "filesize_sum", "received",
      "ncbi_accession_id", "ncbi_bioproject", "biosample_accession",
      "protected_coords", "exclude", "township", "range", "section",
      "subspecies", "gDNA extraction method", "SampleID",
      "Genus species", "decimal latitude", "decimal longitude",
      "sample collection date", "Locality Name") ++
      CreateSheets.taxonCols("Plant") ++
      CreateSheets.taxonCols("Invertebrate") ++
      CreateSheets.taxonCols("Vertebrate")
    base.flatMap(c => Seq(c, s"*$c", s"$c*")).toSet
  }

  /** Hard part 2 — dynamic schema (SURVEY §1.4): unanticipated submitter
    * columns leave the top-level schema and land in one
    * `extra: Map[String,String]` column (values stringified, names
    * sorted for a deterministic entry order). Keeps the engine schema
    * closed — downstream operators (grouping, merge, sheet whitelists)
    * see the canonical struct no matter what a sheet carried — while
    * preserving every submitted value, mirroring the reference's
    * whole-row-dict upsert (update_metadata.py:71-77). */
  def withExtraMap(df: DataFrame,
      canonical: Set[String] = CanonicalColumns): DataFrame = {
    val unknown = df.columns.filterNot(canonical.contains).sorted
    val extra =
      if (unknown.isEmpty) typedLit(Map.empty[String, String])
      else map(unknown.toSeq.flatMap(c =>
        Seq(lit(c), col(s"`$c`").cast("string"))): _*)
    df.withColumn("extra", extra).drop(unknown.toSeq: _*)
  }

  /** finalize_df (parse.py:268-291): schema sanitation, name
    * normalization, lat/long hemisphere pinning, date cleanup, then the
    * dynamic-schema routing of unanticipated columns into `extra`. */
  def finalize(df0: DataFrame, sampleCol: String = "*sample_name"): DataFrame = {
    var df = Sources.sanitizeColumns(df0)
    df = df.withColumn(sampleCol, normalizeName(col(s"`$sampleCol`")))
    if (df.columns.contains("lat")) df = df.withColumn("lat", checkLat(col("lat")))
    if (df.columns.contains("long")) df = df.withColumn("long", checkLong(col("long")))
    for (c <- Seq("collection_date", "collection_date*", "*collection_date"))
      if (df.columns.contains(c)) df = df.withColumn(c, checkDate(col(s"`$c`")))
    if (df.columns.contains("Preferred Sequence ID"))
      df = df.withColumn("Preferred Sequence ID",
        normalizeName(col("`Preferred Sequence ID`")))
    withExtraMap(df)
  }

  /** Non-minicore sheet pipeline (parse.py:226-265): header-probe read,
    * lookups, lat_lon split (with "Not determined…" → null), DMS parse,
    * finalize. */
  def nonMinicore(spark: SparkSession, path: String,
      speciesProjects: DataFrame, assemblies: DataFrame): DataFrame = {
    var df = Sources.readTsvHeaderProbe(spark, path)
    df = withProjectId(df, "*organism", speciesProjects)
    df = withRefAccession(df, assemblies)
    df = df.withColumn("metadata_file", lit(path))
      .withColumn("project_type", lit("Non-Minicore"))
    if (df.columns.contains("lat_lon")) {
      val cleaned = when(col("lat_lon").rlike("^Not determined"), lit(null))
        .otherwise(col("lat_lon"))
      df = df
        .withColumn("lat", dms2dd(splitLat(cleaned)))
        .withColumn("long", dms2dd(splitLong(cleaned)))
        .drop("lat_lon")
    }
    finalize(df)
  }

  /** Minicore sheet pipeline (parse.py:163-222) on the CSV-converted
    * form: info-row/index-col drops, lookups, renames, column whitelist,
    * boilerplate library_prep_method, finalize. */
  def minicore(spark: SparkSession, path: String,
      speciesProjects: DataFrame, assemblies: DataFrame): DataFrame = {
    var df = Sources.readMinicoreCsv(spark, path)
    df = withProjectId(df, "Genus species*", speciesProjects)
    df = withRefAccession(df, assemblies)
    df = df.withColumn("metadata_file", lit(path))
      .withColumn("project_type", lit("Minicore"))
    val renames = Map(
      "SampleID*" -> "*sample_name",
      "Genus species*" -> "*organism",
      "decimal latitude*" -> "lat",
      "decimal longitude*" -> "long",
      "sample collection date*" -> "*collection_date",
      "Locality Name" -> "geo_loc_name")
    df = renames.foldLeft(df) { case (d, (from, to)) =>
      if (d.columns.contains(from)) d.withColumnRenamed(from, to) else d
    }
    val keep = Seq("*sample_name", "*organism", "Preferred Sequence ID",
      "subspecies", "gDNA extraction method*", "long", "lat",
      "*collection_date", "geo_loc_name", "Locality Description",
      "ccgp_project_id", "expected_species", "ref_genome_accession",
      "metadata_file", "project_type").filter(df.columns.contains)
    df = df.select(keep.map(c => col(s"`$c`")): _*)
      .withColumn("library_prep_method", lit(MinicoreLibraryPrep))
    finalize(df)
  }

  /** Batch ingestion with per-file error capture (update_metadata.py:
    * 97-105): a bad sheet records an error-ledger row and the pipeline
    * continues; good sheets union into one frame. Returns
    * (samples, ledger(file_name, status, error)); the samples frame is
    * built over the materialized sheets, so consuming it re-reads no
    * source file. Fatal JVM errors are not ledger rows: they propagate. */
  def ingestMany(spark: SparkSession, files: Seq[(String, String)],
      speciesProjects: DataFrame, assemblies: DataFrame): (Option[DataFrame], DataFrame) = {
    def msg(e: Throwable) = Option(e.getMessage).getOrElse(e.toString)
    // Plan construction (schema probe + analysis) is driver-side and cheap;
    // catch per file so a malformed header lands in the ledger.
    val built = files.map { case (path, kind) =>
      try {
        val df = kind match {
          case "minicore" => minicore(spark, path, speciesProjects, assemblies)
          case _          => nonMinicore(spark, path, speciesProjects, assemblies)
        }
        (path, Right(df)): (String, Either[String, DataFrame])
      } catch {
        case NonFatal(e) => (path, Left(msg(e)))
      }
    }
    // Runtime validation (force the parse of every column so row-level
    // errors surface here, not downstream) materializes each sheet, in ONE
    // concurrent wave: Spark schedules jobs from separate threads in
    // parallel, so a 100k-sheet backfill costs one scheduling round
    // instead of a sequential driver loop.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(math.max(built.size, 1), 16))
    val ec = scala.concurrent.ExecutionContext.fromExecutorService(pool)
    val results = try {
      val futures = built.map {
        case (path, Right(df)) =>
          (path, scala.concurrent.Future {
            Right(GraftSqlShim.measuredBarrier(df)): Either[String, DataFrame]
          }(ec).recover { case NonFatal(e) => Left(msg(e)) }(ec))
        case (path, left) => (path, scala.concurrent.Future.successful(left))
      }
      futures.map { case (path, f) =>
        (path, scala.concurrent.Await.result(f, scala.concurrent.duration.Duration.Inf))
      }
    } finally pool.shutdown()
    val ledger = spark.createDataFrame(results.map {
      case (p, Right(_)) => (p, "ok", null.asInstanceOf[String])
      case (p, Left(err)) => (p, "error", err.take(500))
    }).toDF("file_name", "status", "error")
    val good = results.collect { case (_, Right(df)) => df }
    val samples = good.reduceOption((a, b) =>
      a.unionByName(b, allowMissingColumns = true))
    (samples, ledger)
  }

  /** Boilerplate minicore library-prep description (parse.py:211-219,
    * abridged to first sentence — content is constant metadata text). */
  val MinicoreLibraryPrep: String =
    "Automated DNA extractions from tissues were performed using a " +
      "bead-based and taxa-specific series of kits on a liquid handling " +
      "robot; libraries were sequenced on a NovaSeq S4 6000 with " +
      "paired-end 150 base pair reads."
}
