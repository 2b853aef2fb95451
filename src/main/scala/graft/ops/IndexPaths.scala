package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-process roots for the persisted-index seams (k15 PQ, k24 SQ8,
  * p07 IVF coarse, d19 MinHash bands, r06 BM25, er09 canonical map,
  * m10 frame store, and the p05–p09 maintenance pipelines).
  *
  * Each (tag, dataDir) pair maps to a directory under a base created
  * fresh for THIS JVM (`Files.createTempDirectory`), so:
  *  - two concurrent processes serving the same data dir can never
  *    race overwrite-vs-read on a shared fixed path, and
  *  - distinct data dirs can never collide (the data dir is embedded
  *    sanitized in the name, not reduced to a hashCode).
  *
  * Within one JVM the mapping is STABLE — the write-then-load catalog
  * entries and the shared-artifact memos rely on that — and the base
  * lives under java.io.tmpdir, so the OS reclaims it like any other
  * scratch space. A real deployment passes explicit warehouse paths
  * to the write/load seams instead; this object only names the
  * harness's scratch locations. */
object IndexPaths {
  /** The persisted catalog entries, one `(build, serve)` pair per key:
    * `build` publishes the entry's artifacts under [[dir]], `serve`
    * answers from the published copies. `build` must run before
    * `serve` in the same JVM (the mapping is per-process), and both may
    * rerun: every build clears or overwrites what it publishes. */
  type Phases = Map[String, ((SparkSession, String) => Unit,
                             (SparkSession, String) => DataFrame)]

  /** The one-shot `queries` entries of `phases`: build, then serve. */
  def oneShot(phases: Phases): Map[String, (SparkSession, String) => DataFrame] =
    phases.map { case (k, (build, serve)) =>
      k -> ((s: SparkSession, d: String) => { build(s, d); serve(s, d) })
    }

  private lazy val base: java.io.File = {
    val p = java.nio.file.Files.createTempDirectory("graft_idx_")
    // deleteOnExit only removes EMPTY directories, and this base fills
    // with parquet index trees — a recursive shutdown hook is what
    // actually returns the scratch space when the JVM exits cleanly
    // (an OS tmp reaper remains the backstop for hard kills). The sweep
    // is best-effort: another shutdown hook may still be touching the
    // tree on abnormal exit. NonFatal only: tolerating IO races must
    // not swallow VirtualMachineError, and an interrupt (fatal to the
    // sweep, not NonFatal-matched) re-sets the thread's flag so the
    // JVM's shutdown sequencing still observes it
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      try StoreSwap.deleteTree(p.toFile)
      catch {
        case _: InterruptedException => Thread.currentThread().interrupt()
        case scala.util.control.NonFatal(_) => ()
      }))
    p.toFile
  }

  /** Scratch index directory for `tag` over `dataDir`, stable within
    * this JVM, collision-free across JVMs. */
  def dir(tag: String, dataDir: String): String = {
    val safe = dataDir.replaceAll("[^A-Za-z0-9._-]", "_")
    new java.io.File(base, s"${tag}_$safe").getPath
  }

  /** Recursively clear a scratch directory so an append-mode entry can
    * reuse ONE stable path per invocation (clear-then-append) instead
    * of monotonically allocating fresh stores — repeated timed bench
    * iterations would otherwise accumulate unbounded scratch disk
    * until JVM exit. Refuses paths outside [[base]]: this is a scratch
    * sweeper, not a general delete. */
  def clear(dirPath: String): Unit = {
    val f = new java.io.File(dirPath)
    require(f.toPath.normalize.startsWith(base.toPath.normalize),
      s"IndexPaths.clear refuses non-scratch path $dirPath")
    // clear-then-append callers depend on the clear for CORRECTNESS: a
    // leftover file would let the subsequent appends double the
    // store's rows silently, so the clear is verified
    StoreSwap.clearTree(f, "appending into a partially cleared store " +
      "would silently double its rows")
  }
}
