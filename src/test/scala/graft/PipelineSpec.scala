package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.io.{Sinks, Sources}
import graft.pipelines.{CreateSheets, IngestMetadata, UpdateDashboard}

/** End-to-end pipeline goldens on the reference-shaped fixture files
  * (FIXTURES.md B1–B3/B6): ingestion (§3.1), the workflow-sheet minimum
  * slice (§7.3), and the flagship dashboard summary. */
class PipelineSpec extends SparkSpec {

  private val fixtures = "src/test/resources/fixtures"
  private lazy val speciesProjects =
    Sources.readSpeciesProjects(spark, s"$fixtures/species_projects.csv").cache()
  private lazy val assemblies =
    spark.read.option("header", "true").csv(s"$fixtures/assemblies.csv").cache()

  test("non-minicore ingestion: header probe, lookups, lat_lon handling, finalize") {
    val df = IngestMetadata.nonMinicore(
      spark, s"$fixtures/samples_non_minicore.tsv", speciesProjects, assemblies)
    val rows = df.collect().map(r => r.getAs[String]("*sample_name") -> r).toMap

    // header probe skipped the 2 junk lines; names normalized (. and space -> _)
    assert(rows.keySet === Set("CC_131_a", "samp2", "samp3", "samp4"))
    // Unnamed column dropped; the unanticipated submitter column leaves
    // the top-level schema and lands in the extra map (SURVEY §1.4
    // dynamic-schema contract), value preserved
    assert(!df.columns.exists(_.startsWith("Unnamed")))
    assert(!df.columns.contains("extra_submitter_col"))
    assert(df.columns.contains("extra"))

    val cc = rows("CC_131_a")
    assert(cc.getAs[Map[String, String]]("extra") === Map("extra_submitter_col" -> "extra1"))
    assert(cc.getAs[String]("ccgp_project_id") === "1-Sceloporus")
    assert(cc.getAs[Int]("expected_species") === 1)
    assert(cc.getAs[String]("ref_genome_accession") === "GCA_0001")
    assert(math.abs(cc.getAs[Double]("lat") - 38.05104) < 1e-9)
    assert(math.abs(cc.getAs[Double]("long") - (-120.62301)) < 1e-9)
    assert(cc.getAs[String]("*collection_date") === "2021-03-07")

    // subspecies trimmed to 2 tokens -> exact match on Quercus lobata
    val s2 = rows("samp2")
    assert(s2.getAs[String]("ccgp_project_id") === "2-Quercus")
    assert(s2.getAs[Int]("expected_species") === 1)
    assert(s2.getAs[String]("ref_genome_accession") === "NaN")
    assert(s2.getAs[String]("*collection_date") === "2020/2021")

    // unknown species, unknown genus -> Unknown project-id
    val s3 = rows("samp3")
    assert(s3.getAs[String]("ccgp_project_id") === "Unknown project-id")
    assert(s3.getAs[Int]("expected_species") === 0)
    // DMS pair parsed (4-token split) and hemisphere-pinned: |dd| / -|dd|
    assert(math.abs(s3.getAs[Double]("lat") - 0.86563611) < 1e-6)
    assert(math.abs(s3.getAs[Double]("long") - (-120.62300)) < 1e-4)

    // genus-only match via Dipodomys; "Not determined..." -> null coords
    val s4 = rows("samp4")
    assert(s4.getAs[String]("ccgp_project_id") === "3-Shared")
    assert(s4.isNullAt(s4.fieldIndex("lat")))
  }

  test("minicore ingestion: info/example rows dropped, renames, whitelist, boilerplate") {
    val df = IngestMetadata.minicore(
      spark, s"$fixtures/samples_minicore.csv", speciesProjects, assemblies)
    val rows = df.collect().map(r => r.getAs[String]("*sample_name") -> r).toMap
    assert(rows.keySet === Set("MC_1_a", "MC2"))  // info/example/empty dropped, names normalized
    val m1 = rows("MC_1_a")
    assert(m1.getAs[String]("*organism") === "Sceloporus occidentalis")
    assert(m1.getAs[String]("Preferred Sequence ID") === "Pref_1_x")
    assert(m1.getAs[Double]("lat") === 32.5)
    assert(m1.getAs[Double]("long") === -120.25)
    assert(m1.getAs[String]("*collection_date") === "2021-03-07")
    assert(m1.getAs[String]("project_type") === "Minicore")
    assert(m1.getAs[String]("library_prep_method").nonEmpty)
    // negative lat forced positive, positive long forced negative (F4)
    val m2 = rows("MC2")
    assert(m2.getAs[Double]("lat") === 38.2)
    assert(m2.getAs[Double]("long") === -121.9)
  }

  test("dynamic schema: unanticipated columns route into the extra map") {
    import spark.implicits._
    val df = Seq(("s1", "Genus species", 42, "blue"))
      .toDF("*sample_name", "*organism", "submitter_invented_score", "favorite_color")
    val out = IngestMetadata.withExtraMap(df)
    assert(out.columns.toSeq === Seq("*sample_name", "*organism", "extra"))
    assert(out.collect()(0).getAs[Map[String, String]]("extra") ===
      Map("favorite_color" -> "blue", "submitter_invented_score" -> "42"))
    // a canonical-only frame gets the same closed schema with an empty map
    val clean = IngestMetadata.withExtraMap(
      Seq(("s2", "G s")).toDF("*sample_name", "*organism"))
    assert(clean.columns.toSeq === Seq("*sample_name", "*organism", "extra"))
    assert(clean.collect()(0).getAs[Map[String, String]]("extra") === Map.empty)
  }

  test("J1 'later rows win' is pinned: stable winner across runs and shuffle layouts") {
    import spark.implicits._
    // 100 duplicate keys spread over many input partitions; the reference's
    // dict-insertion semantics mean the LAST source row must win. last()
    // depended on shuffle fetch order; max_by over a pre-shuffle row index
    // must give P-100 on every run.
    val dim = (1 to 100).map(i => ("Genus species", "Genus", s"P-$i"))
      .toDF("genus_species", "genus", "project_id")
    val input = Seq(Tuple1("Genus species")).toDF("organism")
    for (_ <- 1 to 3) {
      val out = IngestMetadata.withProjectId(input, "organism", dim).collect()(0)
      assert(out.getAs[String]("ccgp_project_id") === "P-100")
    }
  }

  test("batch ingestion captures per-file errors and continues (update_metadata.py:97-105)") {
    val bad = java.nio.file.Files.createTempFile("graft-bad", ".tsv")
    java.nio.file.Files.writeString(bad, "no header marker here\njust junk\n")
    val good = Files.createTempFile("graft-good", ".tsv")
    Files.copy(Paths.get(s"$fixtures/samples_non_minicore.tsv"), good,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val (samples, ledger) = IngestMetadata.ingestMany(spark, Seq(
      (good.toString, "non-minicore"),
      (bad.toString, "non-minicore")),
      speciesProjects, assemblies)
    def ledgerRows = ledger.collect().map(r => r.getAs[String]("file_name") ->
      (r.getAs[String]("status"), r.getAs[String]("error"))).toMap
    val led = ledgerRows
    assert(led(good.toString)._1 === "ok")
    assert(led(bad.toString)._1 === "error")
    assert(led(bad.toString)._2 != null)
    // the returned samples are materialized: with the source sheet gone
    // they still yield the good file's rows, and the ledger is unchanged
    Files.delete(good)
    assert(samples.isDefined && samples.get.count() === 4)  // good file still ingested
    assert(samples.get.select("*sample_name").collect().map(_.getString(0)).toSet ===
      Set("CC_131_a", "samp2", "samp3", "samp4"))
    assert(ledgerRows === led)
  }

  test("workflow sheet minimum slice end-to-end (§7.3): pair, derive, write, stamp") {
    import spark.implicits._
    val samples = Seq(
      ("s1", "Sceloporus occidentalis", "1-Sceloporus", "GCA_0001", "32.5", "-120.2",
        Seq("s1_R1.fq.gz", "s1_R2.fq.gz")),
      ("s2", "Sceloporus occidentalis", "1-Sceloporus", "NaN", "33.0", "-121.0",
        Seq("s2_R1.fq.gz", "s2_R2.fq.gz")),
      ("zz", "Other thing", "9-Other", "NaN", "0", "0", Seq("x_R1.gz", "x_R2.gz")))
      .toDF("*sample_name", "*organism", "ccgp_project_id",
        "ref_genome_accession", "lat", "long", "files")

    val sheet = CreateSheets.workflowSheet(samples, "1-Sceloporus")
    val rows = sheet.orderBy("BioSample").collect()
    assert(rows.map(_.getAs[String]("BioSample")).toSeq === Seq("s1", "s2"))
    val r1 = rows(0)
    assert(r1.getAs[String]("fq1") === "s1_R1.fq.gz")
    assert(r1.getAs[String]("fq2") === "s1_R2.fq.gz")
    assert(r1.getAs[String]("LibraryName") === "s1")      // split at _R1
    assert(r1.getAs[String]("Run") === "s1")
    assert(r1.getAs[String]("refGenome") === "GCA_0001")
    assert(rows(1).getAs[String]("refGenome") === "refGenomePlaceholder")
    assert(r1.getAs[String]("Organism") === "1-Sceloporus")
    assert(r1.getAs[String]("BioProject") === "1-Sceloporus")

    // sink + progress stamp
    val outDir = Files.createTempDirectory("graft-sheets").toString
    Sinks.writeDelimited(sheet, s"$outDir/workflow", sep = ",")
    val written = spark.read.option("header", "true").csv(s"$outDir/workflow")
    assert(written.count() === 2)

    val progress0 = Seq(("1-Sceloporus", "old")).toDF("project_id", "other_col")
    val stamped = CreateSheets.progressStamp(progress0, "1-Sceloporus",
      "workflow_sheet_created", java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))
    val p = stamped.collect()(0)
    assert(p.getAs[java.sql.Timestamp]("workflow_sheet_created") ===
      java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))
    assert(p.getAs[String]("other_col") === "old")
  }

  test("SRA sheet: constants + column order") {
    import spark.implicits._
    val samples = Seq(
      ("s1", "Sceloporus occidentalis", "1-Sceloporus", "prep text",
        Seq("s1_R1.fq.gz", "s1_R2.fq.gz")))
      .toDF("*sample_name", "*organism", "ccgp_project_id",
        "library_prep_method", "files")
    val sheet = CreateSheets.sraSheet(samples, "1-Sceloporus")
    assert(sheet.columns.toSeq === Seq("sample_name", "library_ID", "title",
      "library_strategy", "library_source", "library_selection",
      "library_layout", "platform", "instrument_model",
      "design_description", "filetype", "filename", "filename2"))
    val r = sheet.collect()(0)
    assert(r.getAs[String]("library_strategy") === "WGS")
    assert(r.getAs[String]("instrument_model") === "Illumina NovaSeq 6000")
    assert(r.getAs[String]("design_description") === "prep text")
    assert(r.getAs[String]("title") === "Whole genome sequencing of Sceloporus occidentalis")
  }

  test("biosample sheet: taxon whitelist intersection, isolate, lat_lon compose") {
    import spark.implicits._
    val samples = Seq(
      ("s one", "Genus species", "1-P", "prep", "32.5", "-120.2", "F", "liver"))
      .toDF("*sample_name", "*organism", "ccgp_project_id",
        "library_prep_method", "lat", "long", "sex", "*tissue")
    val sheet = CreateSheets.biosampleSheet(samples, "1-P",
      CreateSheets.taxonCols("Plant"))
    // whitelist ∩ actual columns only; order columns exist
    assert(sheet.columns.contains("isolate") && sheet.columns.contains("lat_lon"))
    assert(sheet.columns.contains("sex") && !sheet.columns.contains("cultivar"))
    val r = sheet.collect()(0)
    assert(r.getAs[String]("isolate") === "Genus_species_s one")
    assert(r.getAs[String]("lat_lon") === "32.5,-120.2")
    assert(r.getAs[String]("bioproject_accession") === "")
  }

  test("dashboard summary: counts, mode, pct done, missing-data lists, sort") {
    import spark.implicits._
    val samples = Seq(
      ("a1", "P1", 1, 100L, "Minicore", Seq("f1.gz")),
      ("a2", "P1", 0, 0L, "Minicore", Seq[String]()),
      ("a3", "P1", 1, 200L, "Non-Minicore", Seq("f2.gz")),
      ("b1", "P2", 1, 50L, "Non-Minicore", Seq("f3.gz")))
      .toDF("*sample_name", "ccgp_project_id", "expected_species",
        "filesize_sum", "project_type", "files")
    val refProg = Seq(("P1", "3-scaffolded"), ("P2", "1-received"))
      .toDF("project_id", "stage")
    val expected = Seq(("P1", 4L), ("P2", 1L)).toDF("project_id", "n_expected")

    val out = UpdateDashboard.summary(samples, refProg, expected).collect()
    assert(out.map(_.getAs[String]("ccgp_project_id")).toSeq === Seq("P2", "P1")) // sorted by pct desc
    val p1 = out.find(_.getAs[String]("ccgp_project_id") == "P1").get
    assert(p1.getAs[Long]("metadata_received") === 3)
    assert(p1.getAs[Long]("has_reads") === 2)
    assert(p1.getAs[Long]("unexpected_species") === 1)
    assert(p1.getAs[String]("project_type") === "Minicore")  // mode
    assert(p1.getAs[scala.collection.Seq[String]]("samples_missing_data") === Seq("a2"))
    assert(p1.getAs[Double]("pct_done") === 0.5)
    assert(p1.getAs[String]("reference_stage") === "3-scaffolded")
  }
}
