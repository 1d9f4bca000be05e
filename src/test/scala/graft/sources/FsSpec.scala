package graft.sources

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.operators.PinSpec

/** The engine's file-commit idioms: listings of missing dirs are empty,
  * a replace is seen whole or not at all and leaves no temp file, and
  * a guard keeps raw listings and replaces out of the engine so every
  * store commits through the one protocol.
  */
class FsSpec extends AnyFunSuite with Matchers {

  test("a missing dir lists and walks as empty") {
    val missing = Files.createTempDirectory("fs").resolve("nope")
    Fs.list(missing) shouldBe empty
    Fs.walk(missing) shouldBe empty
    Fs.walk(missing.resolve("deeper")) shouldBe empty
  }

  test("list gives direct entries; walk gives the root first and every dir before its entries") {
    val root = Files.createTempDirectory("fs")
    Files.createDirectories(root.resolve("a/b"))
    Files.writeString(root.resolve("a/b/f"), "x")
    Files.writeString(root.resolve("g"), "y")
    Fs.list(root).map(root.relativize(_).toString).toSet shouldBe Set("a", "g")
    val walked = Fs.walk(root)
    walked.map(root.relativize(_).toString).toSet shouldBe Set("", "a", "a/b", "a/b/f", "g")
    walked.head shouldBe root
    walked.zipWithIndex.foreach { case (p, i) =>
      walked.take(i).filter(q => q != p && q.startsWith(p)) shouldBe empty
    }
  }

  test("replace over an existing file: a reader sees the old or the new content, never a partial one") {
    val dir = Files.createTempDirectory("fs")
    val p = dir.resolve("_current")
    val versions = (0 until 40).map(i => s"v$i:" + ("abcdefgh" * 16384)) // ~128 KB each
    val valid = versions.toSet
    Fs.replace(p, versions.head)
    @volatile var done = false
    val reads = new java.util.concurrent.atomic.AtomicInteger()
    val torn = new java.util.concurrent.atomic.AtomicInteger()
    val reader = new Thread(() =>
      while (!done) {
        // a missing file is as wrong as a partial one
        if (!scala.util.Try(Files.readString(p)).toOption.exists(valid)) torn.incrementAndGet()
        reads.incrementAndGet()
      })
    reader.start()
    var i = 1 // every version once, and on until the reader has overlapped some
    try while (i < versions.size || reads.get < 50) {
      Fs.replace(p, versions(i % versions.size)); i += 1
    } finally { done = true; reader.join() }
    torn.get shouldBe 0
    Files.readString(p) shouldBe versions((i - 1) % versions.size)
  }

  test("no temp sibling is left after a successful replace; missing parents are created") {
    val dir = Files.createTempDirectory("fs")
    val p = dir.resolve("a/b/state")
    Fs.replace(p, "one")
    Fs.replace(p, "two")
    Files.readString(p) shouldBe "two"
    Fs.list(p.getParent).map(_.getFileName.toString) shouldBe Seq("state")
  }

  test("digest: SHA-256 of the prefix then the parts' UTF-8 bytes, first 8 bytes as hex") {
    // sha256("") and sha256("abc"), truncated
    Fs.digest(Nil) shouldBe "e3b0c44298fc1c14"
    Fs.digest(Seq("abc")) shouldBe "ba7816bf8f01cfea"
    Fs.digest(Seq("a", "b", "c")) shouldBe "ba7816bf8f01cfea" // concatenation
    Fs.digest("ab".getBytes("UTF-8"), Seq("c")) shouldBe "ba7816bf8f01cfea"
  }

  test("no raw directory listing or replace in the engine outside Fs") {
    val root = Paths.get("src/main/scala")
    Files.isDirectory(root) shouldBe true
    val sources = Fs.walk(root).filter(_.toString.endsWith(".scala"))
    sources.size should be > 100
    val raw = """Files\.list\(|Files\.walk\(|REPLACE_EXISTING""".r
    val offenders = for {
      f <- sources if f != root.resolve("graft/sources/Fs.scala")
      (line, i) <- PinSpec.code(Files.readString(f)).split("\n").zipWithIndex
      if raw.findFirstIn(line).isDefined
    } yield s"$f:${i + 1}"
    offenders shouldBe empty
  }
}
