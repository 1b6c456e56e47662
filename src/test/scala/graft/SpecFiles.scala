package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.operators.StagedArtifacts

/** The files specs read and make: source scans and temp dirs. */
object SpecFiles {

  /** Every `.scala` file under `root`, with its text. */
  def sources(root: String): Seq[(Path, String)] = {
    val files = Files.walk(Paths.get(root))
    try files.iterator.asScala
      .filter(_.toString.endsWith(".scala")).toList
      .map(p => p -> Files.readString(p))
    finally files.close()
  }

  /** A fresh temp dir, deleted when the test JVM exits (the dir comes
    * from [[StagedArtifacts.tempDir]], whose exit hook removes it).
    */
  def tempPath(prefix: String): Path = Paths.get(StagedArtifacts.tempDir(prefix))
}
