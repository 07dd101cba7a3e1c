package graft

/** Scratch-directory resolution for shuffle files and streaming checkpoints.
  *
  * Precedence: `GRAFT_LOCAL_DIR` env var → `/dev/shm` (tmpfs) when present
  * and writable → `java.io.tmpdir`. The tmpfs default exists because this
  * host's disk throttles intermittently (3 s shuffles measured degrading to
  * minutes inside DiskBlockObjectWriter); the env var exists because a host
  * WITHOUT a large tmpfs must be able to point scratch somewhere real —
  * hard-coding /dev/shm would silently exhaust it at larger scale factors.
  */
object LocalDirs {

  lazy val scratchRoot: String = sys.env.getOrElse("GRAFT_LOCAL_DIR", {
    val shm = new java.io.File("/dev/shm")
    if (shm.isDirectory && shm.canWrite) "/dev/shm"
    else System.getProperty("java.io.tmpdir")
  })

  /** Value for `spark.local.dir` (shuffle/spill scratch). */
  def sparkLocalDir: String = s"$scratchRoot/spark-local"

  /** Unique per-run streaming checkpoint dir (throwaway demo checkpoints,
    * not recovery points). */
  def streamingCkpt(name: String): String =
    s"$scratchRoot/graft-ckpt/$name-${java.util.UUID.randomUUID}"

  /** JVM-scoped scratch root, deleted on exit, for what outlives one run:
    * the staged-feed cache (identical streaming-demo inputs are staged ONCE
    * per session and hardlinked into each run's throwaway feed dirs; the
    * per-query staging writes were pure fixed overhead on the bench's
    * repeated passes) and the final snapshot of each streaming upsert,
    * which the returned frame reads lazily. */
  lazy val jvmScratchRoot: String = {
    val dir = s"$scratchRoot/graft-jvm/${java.util.UUID.randomUUID}"
    val f = new java.io.File(dir)
    f.mkdirs()
    Runtime.getRuntime.addShutdownHook(new Thread(() => rmTree(dir)))
    dir
  }

  /** Deletes `path` and everything under it; a missing path is a no-op. */
  private[graft] def rmTree(path: String): Unit = {
    def rm(x: java.io.File): Unit = {
      // listFiles() returns null on IO error / concurrent deletion — an NPE
      // would abandon the rest of the tree.
      if (x.isDirectory) Option(x.listFiles()).getOrElse(Array.empty).foreach(rm)
      x.delete(): Unit
    }
    rm(new java.io.File(path))
  }
}
