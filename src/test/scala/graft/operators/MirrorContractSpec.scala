package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.SpecFiles.sources

/** The staged-mirror no-reuse contract (round-12 verdict #2): every
  * mirror artifact must live in a `Files.createTempDirectory` path
  * unique per JVM, created through [[StagedArtifacts.tempDir]], with NO
  * env/property override that could let a second JVM find a first JVM's
  * bytes — cross-run result caching is prohibited, and these assertions
  * keep the choke point honest at `sbt test` time.
  */
class MirrorContractSpec extends AnyFunSuite {

  private def read(path: String): String = {
    val src = scala.io.Source.fromFile(new java.io.File(path), "UTF-8")
    try src.mkString finally src.close()
  }

  test("StagedArtifacts.tempDir is createTempDirectory with no override") {
    val src = read("src/main/scala/graft/operators/StagedArtifacts.scala")
    assert(src.contains("Files.createTempDirectory"),
      "StagedArtifacts no longer allocates per-JVM temp dirs")
    Seq("sys.env", "getenv", "getProperty").foreach { needle =>
      assert(!src.contains(needle),
        s"StagedArtifacts reads '$needle' — a path override would let a " +
          "second JVM reuse a first JVM's mirror bytes (prohibited " +
          "cross-run caching)")
    }
  }

  test("every mirror build site allocates through StagedArtifacts.tempDir") {
    // each family stages through StagedArtifacts.staged, which allocates
    // its dir with tempDir and times its build
    val sites = Seq(
      "src/main/scala/graft/queries/Relational.scala" -> "copairs",
      "src/main/scala/graft/queries/TextQueries.scala" -> "lsh",
      "src/main/scala/graft/queries/TextQueries.scala" -> "shpairs",
      "src/main/scala/graft/queries/TextQueries.scala" -> "bgscores",
      "src/main/scala/graft/queries/SimilarityQueries.scala" -> "ivfpq",
      "src/main/scala/graft/streaming/StreamBench.scala" -> "sbench-cdc",
      "src/main/scala/graft/streaming/StreamBench.scala" -> "sbench-sess")
    sites.foreach { case (file, family) =>
      assert(read(file).contains(s"""staged("$family""""),
        s"$file no longer stages '$family' through StagedArtifacts.staged")
    }
    // no temp dir may bypass the registry (unregistered dirs escape the
    // exit-time cleanup)
    val scanned = sources("src/main/scala").filter { case (p, _) =>
      Seq("queries", "streaming", "tools")
        .exists(d => p.toString.startsWith(s"src/main/scala/graft/$d/"))
    }
    assert(scanned.size > 3)
    scanned.foreach { case (file, src) =>
      assert(!src.contains("createTempDirectory"),
        s"$file allocates a temp dir outside StagedArtifacts")
    }
  }

  test("specs allocate temp dirs through StagedArtifacts.tempDir") {
    // a registered dir is deleted when the test JVM exits; a bare one
    // stays behind in the temp dir after every run
    val bare = "createTemp(?:Directory|File)\\s*\\(".r
    val specs = sources("src/test/scala")
    assert(specs.exists(_._1.getFileName.toString == "SpecFiles.scala"))
    specs.foreach { case (file, src) =>
      assert(bare.findFirstIn(src).isEmpty,
        s"$file allocates a temp dir outside StagedArtifacts.tempDir " +
          "(use graft.SpecFiles.tempPath)")
    }
  }

  test("mirror sources read no environment (no reuse side-channel)") {
    val dirs = Seq("src/main/scala/graft/queries",
      "src/main/scala/graft/operators")
    dirs.flatMap(sources).foreach { case (file, src) =>
      Seq("sys.env", "getenv").foreach { needle =>
        assert(!src.contains(needle),
          s"$file reads '$needle' — query/operator code must " +
            "take no environment input (mirror paths would become " +
            "cross-JVM reusable)")
      }
    }
  }

  test("build timer accumulates and reports") {
    val before = StagedArtifacts.buildSeconds.getOrElse("spec-probe", 0.0)
    val r = StagedArtifacts.timed("spec-probe") { Thread.sleep(15); 42 }
    assert(r == 42)
    val after = StagedArtifacts.buildSeconds("spec-probe")
    assert(after - before >= 0.010,
      s"timed() did not accumulate: $before -> $after")
  }
}
