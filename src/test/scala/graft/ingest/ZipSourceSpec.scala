package graft.ingest

import java.io.FileOutputStream
import java.nio.file.Files
import java.util.zip.{ZipEntry, ZipOutputStream}

import org.scalatest.funsuite.AnyFunSuite

import graft.SpecFiles.tempPath

class ZipSourceSpec extends AnyFunSuite {

  test("zip-slip entry names are rejected, benign names still extract") {
    val dir = tempPath("zipslip_")
    val zipPath = dir.resolve("evil.zip")
    val out = new ZipOutputStream(new FileOutputStream(zipPath.toFile))
    def add(name: String, content: String): Unit = {
      out.putNextEntry(new ZipEntry(name))
      out.write(content.getBytes("ISO-8859-1"))
      out.closeEntry()
    }
    add("../evil.txt", "escape")      // relative traversal
    add("/tmp/abs_evil.txt", "abs")   // absolute entry name
    add("sub/ok.txt", "fine")         // benign nested member
    out.close()

    val scratch = Files.createDirectory(dir.resolve("scratch"))
    val zs = new ZipSource(zipPath.toString)
    try {
      // entry names come off an untrusted downloaded archive: anything
      // resolving outside the scratch dir must throw, not write
      intercept[IllegalArgumentException](
        zs.extractMember("../evil.txt", scratch))
      assert(!Files.exists(dir.resolve("evil.txt")))
      intercept[IllegalArgumentException](
        zs.extractMember("/tmp/abs_evil.txt", scratch))

      val ok = zs.extractMember("sub/ok.txt", scratch)
      assert(Files.exists(ok))
      assert(ok.startsWith(scratch))
      assert(new String(Files.readAllBytes(ok)) === "fine")
    } finally zs.close()
  }
}
