package graft.multimodal

import java.nio.file.{Files, Paths}

import graft.SparkSpec

/** The committed image-dedup fixtures are not self-certifying: the
  * gate's oracle reads `fixtures/image_dhash.parquet`, so this spec
  * independently recomputes every hash from the committed image BYTES
  * (decode included — the same Codec.raster path the gated query
  * runs, across all three container formats) and pins the corpus
  * structure that makes the query meaningful: planted brightness /
  * upscale / PNG-re-encode twins at Hamming 0 and lossy JPEG
  * re-encodes at small Hamming (see tools/DumpImageFixtures for the
  * corpus layout).
  */
class ImageFixtureSpec extends SparkSpec {

  private val fixtures = graft.Fixtures.dir

  private def committedHashes: Map[Long, Long] = {
    import spark.implicits._
    spark.read.parquet(s"$fixtures/image_dhash.parquet")
      .as[(Long, Long)].collect().toMap
  }

  private def extOf(id: Long): String =
    if (id >= 500L) "jpg" else if (id >= 400L) "png" else "ppm"

  private def fileHash(id: Long): Long = {
    val bytes =
      Files.readAllBytes(Paths.get(s"$fixtures/images/img_$id.${extOf(id)}"))
    ImageDedup.dHash(Multimodal.Codec.raster(bytes).get)
  }

  test("committed hash table == dHash of committed bytes, all 86, three formats") {
    val committed = committedHashes
    assert(committed.size == 86)
    committed.foreach { case (id, h) =>
      assert(fileHash(id) == h, s"hash drift for img_$id.${extOf(id)}")
    }
  }

  test("planted twins: brightness +8, 2x upscale, PNG re-encode all dHash-identical") {
    val committed = committedHashes
    (0L until 10L).foreach { k =>
      assert(committed(100L + k) == committed(k),
        s"brightness twin $k not Hamming-0")
      assert(committed(200L + k) == committed(k),
        s"upscale twin $k not Hamming-0")
      assert(committed(400L + k) == committed(k),
        s"PNG cross-container twin $k not Hamming-0")
    }
  }

  test("JPEG re-encodes: lossy but perceptually near (Hamming <= 6 to base)") {
    val committed = committedHashes
    (0L until 6L).foreach { k =>
      val d = java.lang.Long.bitCount(committed(500L + k) ^ committed(k))
      assert(d <= 6, s"jpeg twin $k at Hamming $d — outside the dedup radius")
    }
  }

  test("corpus generator reproduces the committed files byte-for-byte") {
    graft.tools.DumpImageFixtures.files.foreach { case (id, ext, bytes) =>
      val onDisk = Files.readAllBytes(Paths.get(s"$fixtures/images/img_$id.$ext"))
      assert(java.util.Arrays.equals(bytes, onDisk),
        s"generator drift for img_$id.$ext — rerun DumpImageFixtures")
    }
  }
}
