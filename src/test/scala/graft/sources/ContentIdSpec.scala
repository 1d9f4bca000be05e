package graft.sources

import java.nio.file.Files
import java.nio.file.attribute.FileTime

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.operators.PartitionedLayout

/** Content ids are on-disk names: an artifact's store key folds in
  * [[ArtifactStore.fingerprint]], an artifact generation lives under
  * `_gen=<id>`, and a layout increment's files are `g<id>-<n>.parquet`.
  * A replay finds its own earlier output by recomputing the id, so an
  * id that changed would orphan every stored artifact and break replay
  * idempotence. The hex below is pinned: any change to how ids are
  * built fails here first.
  */
class ContentIdSpec extends AnyFunSuite with Matchers {

  private val entries = Seq("b.parquet|10|2000", "a.parquet|7|1000", "c/d.parquet|0|3")

  test("ArtifactStore.entries and fingerprint of a fixed file tree") {
    val root = Files.createTempDirectory("cid")
    def put(rel: String, text: String, ms: Long): Unit = {
      val p = root.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.writeString(p, text)
      Files.setLastModifiedTime(p, FileTime.fromMillis(ms))
    }
    put("part-00000.parquet", "alpha", 1700000000000L)
    put("sub/part-00001.parquet", "beta!!", 1700000060123L)
    put("_SUCCESS", "", 1700000000000L)
    ArtifactStore.entries(root.toString) shouldBe Seq(
      "_SUCCESS|0|1700000000000",
      "part-00000.parquet|5|1700000000000",
      "sub/part-00001.parquet|6|1700000060123")
    ArtifactStore.fingerprint(root.toString) shouldBe "5715a195e1fe9c19"
  }

  test("IncrementalDocArtifact generation ids") {
    IncrementalDocArtifact.genId(entries) shouldBe "549991fd84aa6fa7"
    IncrementalDocArtifact.genId(entries.reverse) shouldBe "549991fd84aa6fa7"
    IncrementalDocArtifact.genId(Nil) shouldBe "e3b0c44298fc1c14"
  }

  test("PartitionedLayout generation ids, salted with the base version") {
    PartitionedLayout.genId(entries, 0L) shouldBe "7a24af98c9ab20e0"
    PartitionedLayout.genId(entries.reverse, 3L) shouldBe "a02fd8585e563465"
    PartitionedLayout.genId(Nil, 7L) shouldBe "a3eb8db89fc5123c"
  }
}
