package graft.pipelines

import org.apache.spark.sql.{DataFrame, GraftSqlShim}
import org.apache.spark.sql.functions._
import graft.ops.{Linkage, Upsert}

/** The reads-discovery + linkage pipeline (SURVEY §3.2 — update_reads.py):
  *
  *  1. S3-listing discovery merged into `reads` with `$setOnInsert`
  *     (never clobbers enrichments, update_reads.py:46-56);
  *  2. pre-clean `$pull` of ""/"NaN" from `files` (:190-193);
  *  3. tiered linkage (scalable path) + conflict resolution;
  *  4. per-sample aggregates merged with `$addToSet` files + `$set`
  *     received/filesize_sum (:255-273);
  *  5. matched reads marked non-orphan (:275-284).
  *
  * Planned lazily, steps 3–5 are shuffle-heavy: on the test fixture the
  * updated-samples frame takes seven exchanges (five shuffles, two
  * broadcasts) and the updated-reads frame seven more (the token
  * distinct, the residual anti-join and its nested-loop match, the
  * conflict window, the aggregates, the merge). So step 3 runs once:
  * [[run]] materializes the resolved linkage with an eager
  * `localCheckpoint` (`GraftSqlShim.measuredBarrier`) and builds both
  * returned frames over it. A lost executor therefore fails the batch
  * instead of recomputing the linkage; callers commit the outputs with
  * an atomic swap, so re-running the batch is safe.
  */
object LinkReads {

  /** Step 1 — discovery: merge a fresh listing (file_name, filesize,
    * mdate) into the reads table insert-only; new files start orphan. */
  def discover(reads: DataFrame, listing: DataFrame): DataFrame = {
    val incoming = listing.withColumn("orphan", lit(true))
    val policies = incoming.columns.filterNot(_ == "file_name")
      .map(_ -> (Upsert.SetOnInsert: Upsert.Policy)).toMap
    Upsert.merge(reads, incoming, Seq("file_name"), policies)
  }

  /** Steps 2–5 — link and merge. Returns (updatedSamples, updatedReads),
    * both over one materialized linkage: executing either, or both,
    * never re-runs the tiered match. */
  def run(samples: DataFrame, reads: DataFrame): (DataFrame, DataFrame) = {
    val cleaned = samples.withColumn("files",
      when(col("files").isNotNull, Upsert.pull(col("files"), Seq("", "NaN"))))
    val linked = GraftSqlShim.measuredBarrier(Linkage.resolveConflicts(
      Linkage.linkScalable(cleaned, reads)))
    val agg = Linkage.aggregates(linked)
    val updatedSamples = Upsert.merge(cleaned, agg, Seq("sample_name"),
      Map("files" -> Upsert.AddToSet))
    val updatedReads = Linkage.markOrphans(reads, linked)
    (updatedSamples, updatedReads)
  }
}
