package graft.io

/** Scratch-directory root for the round-trip operators (snapshot
  * tables, sheet/CSV/ORC exports): the gate queries that WRITE an
  * intermediate artifact and read it back.
  *
  * The sandbox's `/tmp` sits on a shared virtual disk whose throttling
  * stalls write-heavy work for tens of seconds (the same measured
  * pathology that moved `spark.local.dir` — see LocalSession), so the
  * round-trip family inherited multi-second swings from the host, not
  * from the engine. Scratch artifacts go to the RAM-backed tmpfs when
  * it is present AND roomy (same ≥ 16 GiB usable-space gate as
  * LocalSession: a near-full tmpfs falls back to the JVM tmpdir
  * instead of failing mid-write; these artifacts are KB-to-MB sized).
  * `SPARK_GRAFT_SCRATCH` overrides explicitly — the knob a cluster
  * deployment points at its fast scratch filesystem. Measured at
  * sf0.1/32c: the five heaviest round-trip queries total 5.8 s on
  * /tmp vs 4.9 s on tmpfs on a QUIET host; under host throttling the
  * /tmp numbers historically swung far worse. */
object Scratch {
  private lazy val root: java.nio.file.Path = {
    val shm = new java.io.File("/dev/shm")
    val base = sys.env.get("SPARK_GRAFT_SCRATCH")
      .getOrElse {
        if (shm.isDirectory &&
            shm.getUsableSpace >= 16L * 1024 * 1024 * 1024)
          "/dev/shm/graft-scratch"
        else System.getProperty("java.io.tmpdir", "/tmp")
      }
    val p = java.nio.file.Paths.get(base)
    java.nio.file.Files.createDirectories(p)
    p
  }

  private val created =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()

  /** Registered on first use. The frames built over a scratch directory
    * read it lazily, possibly long after the call that wrote it, so the
    * directories live until the JVM exits and are deleted then. */
  private lazy val cleanup: Unit = sys.addShutdownHook {
    created.forEach(d => org.apache.commons.io.FileUtils.deleteQuietly(d.toFile))
  }

  /** A fresh scratch directory under the root (the
    * `Files.createTempDirectory` the round-trip queries used, pointed
    * at fast storage), deleted when the JVM exits. */
  def dir(prefix: String): java.nio.file.Path = {
    cleanup
    val d = java.nio.file.Files.createTempDirectory(root, prefix)
    created.add(d)
    d
  }
}
