package graft.perfbench

import org.apache.spark.sql.SparkSession
import graft.SparkEntry

/** The `queries` workload: a fixed list of `SparkEntry.queries` over the
  * read-only tables in `data/`, drawn from the relational families and from
  * the LLM-data (ext) operators. A pass runs every query once, in an order
  * drawn from the seed; each query is built through its QueryDef function
  * and materialised through the `noop` sink, so every output column is
  * computed. */
object Queries {
  val names: Seq[String] = Seq(
    // relational: a light scan-filter-project, the native as-of join
    // operator, a TPC-H query
    "p7_regex_filter", "j26_asof_native", "q6_forecast_revenue",
    // ext: an Iterate loop, the Dedup barrier loop over candidate pairs, a
    // Tables.loadWide document cascade
    "ext_sssp", "ext_dedup_components", "ext_phrase_search")
}

final class QueryWorkload(spark: SparkSession, data: String, names: Seq[String],
    seed: Long, tr: Tracer) extends Workload {
  private val fns = {
    val all = SparkEntry.queries
    names.map(n => n -> all.getOrElse(n, sys.error(s"unknown query $n")))
  }

  def pass(p: Int): Iterator[(String, () => Unit)] =
    new scala.util.Random(seed * 7919L + p).shuffle(fns).iterator.map { case (n, fn) =>
      n -> { () =>
        val df = tr.span("queries.build")(fn(spark, data))
        tr.span("exec.run")(df.write.format("noop").mode("overwrite").save())
        spark.catalog.clearCache()
      }
    }

  /** Result digest of every query, for the output check. */
  val digests = scala.collection.mutable.LinkedHashMap.empty[String, String]

  /** The warm-up pass computes the digests: every query once more, its
    * result collected and reduced to a digest, outside the measured
    * passes. */
  override def warmup(p: Int): Iterator[(String, () => Unit)] = fns.iterator.map { case (n, fn) =>
    n -> { () =>
      digests(n) = Digest.of(fn(spark, data))
      spark.catalog.clearCache()
    }
  }
}
