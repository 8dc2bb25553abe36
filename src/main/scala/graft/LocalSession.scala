package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession builder: every main (Bench, Verify, StageProbe,
  * JudgeProbe, PlanDump, ScaleGen), the perfbench runner and the test
  * suites' shared session build their single-JVM local[N] session here.
  *
  * Two hardenings beyond the obvious settings, both learned from a bench
  * run that died mid-flight at sf0.1:
  *
  *  - `spark.sql.artifact.isolation.enabled=false`: Spark 4 gives each
  *    session an isolated artifact classloader; on executors it resolves
  *    generated-code symbols by fetching candidate class bytes over the
  *    driver's RPC file channel. In a busy local[32] JVM those fetches
  *    intermittently stall for ~10 s (and once wedged a whole-stage
  *    compile behind the codegen KeyLock until the executor's heartbeats
  *    lapsed and it killed itself). A single-session batch JVM gets
  *    nothing from isolation — the application classpath IS the session
  *    — so turn it off.
  *  - generous heartbeat/network timeouts: driver and executor share the
  *    JVM here, so a long GC pause stalls both sides at once; the
  *    defaults (10 s beats, 60 missed max) convert one bad pause into
  *    executor suicide mid-benchmark.
  *
  * One sizing: `spark.sql.codegen.cache.maxEntries`
  * ([[codegenCacheMaxEntries]]). Spark compiles each whole-stage and
  * projection class with Janino and keeps it in one JVM-wide LRU keyed
  * by the generated source; Spark's default capacity is 100. It is a
  * static conf that `CodeGenerator` reads once per JVM, so only the
  * JVM's first session sets it (a cluster job passes it with `--conf`,
  * see RUNBOOK); `extra` can still override it there. Measured with
  * `CodegenMetrics.METRIC_COMPILATION_TIME.getCount` and the cache's
  * size, local[4]:
  *
  *  - perfbench `wrangle` (one CCGP batch a pass): about 180 classes a
  *    batch, 237 distinct over a six-batch run. At 100 entries every
  *    warm batch recompiled 175–184 of them; at 1024, 0–2.
  *  - perfbench `queries` (six queries a pass): 110 distinct. At 100
  *    entries every warm pass recompiled 19–39; at 1024, none.
  *  - the sf0.01 Verify sweep (377 queries, each run once): 4757
  *    distinct; at 1024 it compiles 5797, so about 1040 classes shared
  *    between queries are compiled again after an eviction.
  *  - memory: an entry keeps about 36 KB of heap and metaspace (30 KB
  *    heap: the class bytes and the Janino loader; 7 KB metaspace),
  *    measured as what a full GC frees once the cache is emptied. The
  *    process grows by more: at 1024, peak RSS of a `wrangle` run is
  *    42 MB higher (+3.1 %, 137 more entries), of a `queries` run
  *    12 MB (+0.9 %).
  *
  * 1024 is about four times the largest repeated working set measured
  * (`wrangle`'s 237), and a full cache keeps about 37 MB of heap and
  * metaspace. A few recompiles a warm pass remain: AQE names
  * whole-stage classes after stage ids that follow stage completion
  * order (see `CodegenCacheSpec`).
  */
object LocalSession {
  /** Capacity of Spark's JVM-wide cache of compiled generated classes
    * (`spark.sql.codegen.cache.maxEntries`); see the object scaladoc. */
  val codegenCacheMaxEntries: Int = 1024

  def build(cpus: String, extra: Map[String, String] = Map.empty): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.artifact.isolation.enabled", "false")
      // custom SQL functions + the SimilarityPruning optimizer rule —
      // the same config-only install a cluster deployment would use
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      // Shuffle blocks and localCheckpoint spills go to spark.local.dir;
      // the sandbox's /tmp sits on a shared virtual disk whose
      // throttling stalls write-heavy stages for tens of seconds
      // (measured: identical queries swinging 3 s ↔ 68 s with idle CPU
      // — guide §7.4's "blocked on I/O" signature). Use the RAM-backed
      // tmpfs when present AND roomy (ADVICE r12: tmpfs is a silent
      // memory ceiling, so require ≥ 16 GiB usable before defaulting to
      // it — a bench-SF shuffle footprint is well under that, and a
      // host whose tmpfs is nearly full falls back to /tmp instead of
      // failing mid-stage), exactly as a cluster deploy points local
      // dirs at fast node-local disks; override via SPARK_LOCAL_DIRS.
      .config("spark.local.dir", {
        val shm = new java.io.File("/dev/shm")
        if (sys.env.contains("SPARK_LOCAL_DIRS")) sys.env("SPARK_LOCAL_DIRS")
        else if (shm.isDirectory && shm.getUsableSpace >= 16L * 1024 * 1024 * 1024)
          "/dev/shm/graft-spark"
        else System.getProperty("java.io.tmpdir", "/tmp")
      })
      .config("spark.executor.heartbeatInterval", "60s")
      .config("spark.network.timeout", "600s")
      // NOTE (r12 optimization, measured and rejected): raising
      // spark.sql.objectHashAggregate.sortBased.fallbackThreshold from
      // its default 128 looked attractive for the collect_list/
      // collect_set operators, but A/B at sf0.1 showed the big-state
      // aggregates (n-gram token lists) run 4.6× MORE task CPU under a
      // large object hash map than under the sort-based fallback
      // (ext_dedup_ngram_capped: 62 → 282 CPU-seconds) — the default
      // stays.
      // Plan STRINGS are rendered per AQE stage materialization even with
      // the UI off; with literal-heavy expressions (inlined centroids /
      // hyperplanes) the default ~2 GiB cap let one render dominate a
      // whole benchmark query. 256 KiB is plenty for debugging.
      .config("spark.sql.maxPlanStringLength", "262144")
      .config("spark.sql.codegen.cache.maxEntries", codegenCacheMaxEntries.toString)
    extra.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
