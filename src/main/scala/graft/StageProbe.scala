package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Optimization diagnostic — NOT part of the engine (JudgeProbe's
  * sibling). Runs named SparkEntry queries and prints a per-stage
  * breakdown (wall, task time, tasks, shuffle bytes, callsite) so a
  * slow query's time can be attributed to an operator instead of
  * guessed at (guide §1/§7: measure first, read the plan).
  *
  * Usage: runMain graft.StageProbe <sfDir> <query> [query...]
  */
object StageProbe {
  /** Parses `k=v,k=v`; an entry without `=` fails with a usage message
    * naming it. */
  def parseConf(spec: String): Map[String, String] =
    spec.split(',').toSeq.map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => k -> v
        case _ => throw new IllegalArgumentException(
          s"SPARK_GRAFT_PROBE_CONF entry '$kv' is not key=value " +
            "(usage: SPARK_GRAFT_PROBE_CONF=\"k=v,k=v\")")
      }
    }.toMap

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.drop(1).toSeq
    // diagnostic knob: SPARK_GRAFT_PROBE_CONF="k=v,k=v" overlays session
    // confs so a conf hypothesis can be A/B'd without code edits
    val extra = sys.env.get("SPARK_GRAFT_PROBE_CONF")
      .map(parseConf).getOrElse(Map.empty)
    val spark = LocalSession.build(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"),
      Map("spark.sql.adaptive.enabled" -> "true") ++ extra)

    final case class St(id: Int, name: String, wallMs: Long, taskMs: Long,
        cpuMs: Long, gcMs: Long, tasks: Int, shufReadMB: Double,
        shufWriteMB: Double, inMB: Double)
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[St]()
    var jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val m = si.taskMetrics
        val wall = (for {a <- si.completionTime; b <- si.submissionTime}
          yield a - b).getOrElse(0L)
        stages.add(St(si.stageId, si.name.takeWhile(_ != '\n'), wall,
          m.executorRunTime, m.executorCpuTime / 1000000,
          m.jvmGCTime, si.numTasks,
          m.shuffleReadMetrics.totalBytesRead / 1e6,
          m.shuffleWriteMetrics.bytesWritten / 1e6,
          m.inputMetrics.bytesRead / 1e6))
      }
    })

    // same warm-up as Bench so class loading and JIT warm-up do not
    // pollute stage 0
    {
      import org.apache.spark.sql.functions._
      val li = Tables.load(spark, sfDir, "lineitem").limit(10000)
      val p = Tables.load(spark, sfDir, "part")
      li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
        .groupBy("l_returnflag").agg(sum("l_quantity")).count()
    }

    names.foreach { n =>
      stages.clear(); jobs.set(0)
      val t0 = System.nanoTime()
      val rows = SparkEntry.queries(n)(spark, sfDir).count()
      val dt = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      Thread.sleep(200) // let listener drain
      val ss = scala.jdk.CollectionConverters.CollectionHasAsScala(stages)
        .asScala.toSeq
      println(f"%n=== $n: $dt%.2f s, rows=$rows, jobs=${jobs.get()}, " +
        f"stages=${ss.size}, stageWallSum=${ss.map(_.wallMs).sum / 1e3}%.2f s, " +
        f"taskTimeSum=${ss.map(_.taskMs).sum / 1e3}%.2f s, " +
        f"cpuSum=${ss.map(_.cpuMs).sum / 1e3}%.2f s, " +
        f"gcSum=${ss.map(_.gcMs).sum / 1e3}%.2f s ===")
      ss.sortBy(-_.taskMs).take(20).foreach { s =>
        println(f"  stage ${s.id}%4d wall=${s.wallMs / 1e3}%6.2f s " +
          f"task=${s.taskMs / 1e3}%7.2f s cpu=${s.cpuMs / 1e3}%7.2f s " +
          f"gc=${s.gcMs / 1e3}%6.2f s n=${s.tasks}%3d " +
          f"in=${s.inMB}%7.1fMB sr=${s.shufReadMB}%7.1fMB " +
          f"sw=${s.shufWriteMB}%7.1fMB  ${s.name.take(90)}")
      }
    }
    spark.stop()
  }
}
