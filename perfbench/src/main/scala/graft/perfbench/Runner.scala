package graft.perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession
import graft.LocalSession

/** JVM side of the benchmark (run.py starts it and turns its output into
  * metrics). It builds the session once, timed from process launch, runs
  * one cold pass, `--warmup` unreported passes and `--measured` warm passes
  * of the workload, then the output checks, and writes every raw timing —
  * plus spans and listener counts when `--trace 1` — to the JSON file
  * `--out`. A fixed number of passes puts every run at the same point of
  * the JVM's warm-up curve.
  *
  * Arguments: --workload --seed --trace --data --inputs --work --out
  * --cores --launch-ns --warmup --measured */
object Runner {
  final case class OpRec(id: Int, pass: Int, phase: String, name: String,
      t0: Long, t1: Long, error: Option[String], barriers: Long)

  def main(args: Array[String]): Unit = {
    val entered = Clock.nowNs()
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val cores = a("cores")
    HeapWatch.install()

    // Set-up: process launch (JVM start, class loading) until the session
    // the program builds is ready.
    val buildT0 = Clock.nowNs()
    val spark = LocalSession.build(cores, Map("spark.sql.adaptive.enabled" -> "true"))
    val ready = Clock.nowNs()
    val launch = a("launch-ns").toLong

    val tr = new Tracer(spark, a("trace") == "1")
    val seed = a("seed").toLong
    val wl: Workload = workload match {
      case "wrangle" => new Wrangle(spark, a("inputs"), a("work"), tr)
      case "queries" => new QueryWorkload(spark, a("data"), Queries.names, seed, tr)
    }

    val ops = ArrayBuffer.empty[OpRec]
    val passes = ArrayBuffer.empty[(Int, String, Long, Long)]
    def runPass(p: Int, phase: String): Unit = {
      val p0 = Clock.nowNs()
      val body = if (phase == "warmup") wl.warmup(p) else wl.pass(p)
      HeapWatch.measuring = phase == "warm"
      body.foreach { case (name, run) =>
        val id = ops.size
        val b0 = graft.ops.Iterate.barrierCount.get()
        val t0 = Clock.nowNs()
        val err = tr.op(id, name) {
          try { run(); None }
          catch { case e: Throwable =>
            System.err.println(s"[perfbench] $name failed: $e")
            Some(String.valueOf(e.getMessage).take(300))
          }
        }
        ops += OpRec(id, p, phase, name, t0, Clock.nowNs(), err,
          graft.ops.Iterate.barrierCount.get() - b0)
      }
      passes += ((p, phase, p0, Clock.nowNs()))
      HeapWatch.measuring = false
    }

    val warmup = a("warmup").toInt
    val passCount = 1 + warmup + a("measured").toInt
    for (p <- 0 until passCount)
      runPass(p, if (p == 0) "cold" else if (p <= warmup) "warmup" else "warm")
    tr.close()

    val checks = wl match {
      case q: QueryWorkload =>
        J.obj("digests" -> J.obj(q.digests.toSeq.map { case (n, h) => n -> J.str(h) }: _*))
      case w: Wrangle =>
        val (s, r) = w.finalState()
        J.obj(
          "samples" -> J.arr(s.map { case (n, pid, files, size) =>
            J.arr(J.str(n), J.str(pid), J.arr(files.map(J.str): _*),
              size.map(_.toString).getOrElse("null")) }: _*),
          "reads" -> J.arr(r.map { case (f, o) => J.arr(J.str(f), o.toString) }: _*),
          "sheets" -> J.arr(w.sheets.map { case (b, pid, path) =>
            J.arr(b.toString, J.str(pid), J.str(path)) }.toSeq: _*),
          "dashboards" -> J.arr((0 until passCount).map(b => J.str(w.dashboard(b))): _*))
    }
    val peakRssKb = scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1) }
      .getOrElse("0")

    def num(x: Double) = java.lang.Double.toString(x)
    def counts(m: java.util.concurrent.ConcurrentHashMap[Int, Int]) = {
      import scala.jdk.CollectionConverters._
      J.obj(m.asScala.toSeq.sortBy(_._1).map { case (k, v) => k.toString -> v.toString }: _*)
    }
    val out = J.obj(
      "workload" -> J.str(workload),
      "cores" -> cores,
      "setup_s" -> num((ready - launch) / 1e9),
      "jvm_start_s" -> num((entered - launch) / 1e9),
      "session_build_s" -> num((ready - buildT0) / 1e9),
      "peak_rss_kb" -> peakRssKb,
      "heap_after_gc_bytes" -> HeapWatch.peakBytes.get.toString,
      "ops" -> J.arr(ops.map(o => J.arr(o.id.toString, o.pass.toString, J.str(o.phase),
        J.str(o.name), o.t0.toString, o.t1.toString,
        o.error.map(J.str).getOrElse("null"), o.barriers.toString)).toSeq: _*),
      "passes" -> J.arr(passes.map { case (pi, ph, t0, t1) =>
        J.arr(pi.toString, J.str(ph), t0.toString, t1.toString) }.toSeq: _*),
      "checks" -> checks,
      "trace" -> (if (!tr.enabled) "null" else J.obj(
        "spans" -> J.arr(tr.spans.map(s => J.arr(J.str(s.name), s.op.toString,
          s.parent.toString, s.t0.toString, s.t1.toString)).toSeq: _*),
        "tasks" -> J.arr(tr.taskList.map(t => J.arr(Seq(t.op.toLong, t.launchMs,
          t.finishMs, t.runMs, t.cpuNs, t.gcMs, t.schedMs, t.shuffleWrite,
          t.shuffleRead, t.spill, t.peakMem, t.inBytes, t.outBytes)
          .map(_.toString): _*)): _*),
        "plans" -> J.arr(tr.planList.map(x => J.arr(x.op.toString,
          x.exchanges.toString, x.broadcasts.toString, x.native.toString,
          J.arr(x.phasesMs.map { case (a, b) => J.arr(a.toString, b.toString) }: _*))): _*),
        "jobs" -> counts(tr.jobs),
        "stages" -> counts(tr.stages))))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a("out")), out)
    spark.stop()
  }
}

/** Largest heap occupancy (all heap pools) after any garbage collection
  * that ends while `measuring` is set, from the collectors' notifications:
  * the on-heap memory the program kept live, which the fixed-size heap
  * hides from the process's resident size. */
object HeapWatch {
  import java.lang.management.{ManagementFactory, MemoryType}
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData
  import com.sun.management.GarbageCollectionNotificationInfo
  import scala.jdk.CollectionConverters._

  @volatile var measuring = false
  val peakBytes = new java.util.concurrent.atomic.AtomicLong(0L)

  def install(): Unit = {
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    val listener = new NotificationListener {
      def handleNotification(n: Notification, handback: AnyRef): Unit =
        if (measuring && n.getType ==
            GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          peakBytes.accumulateAndGet(used, (x: Long, y: Long) => math.max(x, y))
        }
    }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ =>
    }
  }
}

/** Minimal JSON rendering for the runner's output file. */
object J {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def arr(xs: String*): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
