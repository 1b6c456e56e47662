package graft.operators

import java.nio.file.Paths
import java.util.UUID
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** [[StagedArtifacts.staged]]: one build per key, builds that stage
  * another family, retry after a failed build, and the label, dir and
  * format every staged family shares.
  */
class StagedArtifactsSpec extends AnyFunSuite {

  // a key no other test (or catalog query) uses
  private def freshDir(): String = s"/staged-spec/sf-${UUID.randomUUID()}"

  test("8 concurrent callers of one key share one build") {
    val dir = freshDir()
    val builds = new AtomicInteger()
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val results = (1 to 8).map { _ =>
        pool.submit(() => {
          start.await()
          StagedArtifacts.staged("spec-once", dir) { _ =>
            builds.incrementAndGet()
            Thread.sleep(100)
          }
        })
      }
      start.countDown()
      val staged = results.map(_.get(60, TimeUnit.SECONDS))
      assert(builds.get === 1)
      assert(staged.distinct.size === 1)
    } finally pool.shutdownNow()
  }

  test("a build that stages another family completes") {
    val dir = freshDir()
    val inner = new AtomicInteger()
    def innerArtifact() = StagedArtifacts.staged("spec-inner", dir) { _ =>
      inner.incrementAndGet()
    }
    val outer = StagedArtifacts.staged("spec-outer", dir, Some("v")) { _ =>
      innerArtifact()
    }
    assert(StagedArtifacts.staged("spec-outer", dir, Some("v"))(_ =>
      fail("rebuilt")) eq outer)
    innerArtifact()
    assert(inner.get === 1)
  }

  test("a build that throws leaves no entry: the next call builds again") {
    val dir = freshDir()
    val builds = new AtomicInteger()
    val e = intercept[IllegalStateException] {
      StagedArtifacts.staged("spec-retry", dir) { _ =>
        builds.incrementAndGet()
        throw new IllegalStateException("first build fails")
      }
    }
    assert(e.getMessage === "first build fails")
    val ok = StagedArtifacts.staged("spec-retry", dir) { _ =>
      builds.incrementAndGet()
    }
    assert(StagedArtifacts.staged("spec-retry", dir)(_ =>
      fail("rebuilt")) eq ok)
    assert(builds.get === 2)
  }

  test("label, dir prefix, exit registration and parquet parts") {
    val spark = TestSpark.spark
    import spark.implicits._
    val dir = s"${freshDir()}/sf0.1"
    val plain = StagedArtifacts.staged("spec-fmt", dir) { out =>
      out.write("rows", Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    }
    StagedArtifacts.staged("spec-fmt", dir, Some("full"))(_ => ())
    val labels = StagedArtifacts.buildSeconds.keySet
    assert(labels.contains("spec-fmt@sf0.1"))
    assert(labels.contains("spec-fmt@sf0.1:full"))

    val path = Paths.get(plain.dir)
    assert(path.getFileName.toString.startsWith("graft-spec-fmt-"))
    assert(StagedArtifacts.dirs.contains(path))

    val back = plain.read(spark, "rows")
    assert(back.as[(Long, String)].collect().sortBy(_._1).toSeq ===
      Seq((1L, "a"), (2L, "b")))
    assert(back.inputFiles.nonEmpty)
    assert(back.inputFiles.forall(f =>
      f.contains(s"${path.getFileName}/rows/") && f.endsWith(".parquet")))
  }
}
