package graft.operators

/** Registry for the per-JVM staged-artifact ("mirror") pattern: every
  * mirror family's one-time build is timed here so the bench can report
  * `mirror_build_sec` per family, and every staged temp dir is deleted
  * at JVM exit (repeated bench/test JVMs used to accumulate parquet
  * copies of corpus-derived artifacts under /tmp).
  *
  * Contract (asserted by MirrorContractSpec): staged dirs come from
  * [[tempDir]] ONLY, which is `Files.createTempDirectory` — a path
  * unique per JVM by construction, with NO env/property override. A
  * second JVM can never find or reuse a first JVM's artifact bytes:
  * every bench/verify invocation rebuilds each mirror from the parquet
  * inputs inside its own process (cross-run result caching is
  * prohibited and this object is the choke point that keeps it so).
  */
object StagedArtifacts {

  private val buildSec =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Double]()
  private val dirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[java.nio.file.Path]()

  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(
      { () =>
        dirs.forEach(p => deleteRecursively(p))
      }: Runnable,
      "graft-staged-artifact-cleanup"))
  }

  private def deleteRecursively(root: java.nio.file.Path): Unit =
    try {
      if (java.nio.file.Files.exists(root)) {
        val stream = java.nio.file.Files.walk(root)
        try stream.sorted(java.util.Comparator.reverseOrder())
          .forEach(p => try java.nio.file.Files.deleteIfExists(p)
            catch { case _: java.io.IOException => () })
        finally stream.close()
      }
    } catch { case _: Throwable => () } // exit-time cleanup is best-effort

  /** Create a fresh per-JVM temp dir and register it for exit-time
    * deletion. The only permitted dir source for staged mirrors.
    */
  def tempDir(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    dirs.add(p)
    p.toString
  }

  /** Time one mirror family's build; seconds accumulate per key (a
    * family built at several SFs or variants records each under its own
    * key). Purely additive accounting — the caller's result is returned
    * unchanged and the timed work still happens exactly once per JVM.
    */
  def timed[T](family: String)(build: => T): T = {
    val t0 = System.nanoTime()
    try build
    finally buildSec.merge(family, Double.box((System.nanoTime() - t0) / 1e9),
      (a, b) => Double.box(a + b))
  }

  /** Accumulated build seconds per family key, for the bench JSON line. */
  def buildSeconds: Map[String, Double] = {
    val b = Map.newBuilder[String, Double]
    buildSec.forEach((k, v) => b += (k -> v.doubleValue()))
    b.result()
  }
}
