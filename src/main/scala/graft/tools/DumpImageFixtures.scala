package graft.tools

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.GraftSession
import graft.multimodal.{ImageDedup, ImageIo, Multimodal, Ppm}

/** Regenerates the committed perceptual-image-dedup fixtures (dev
  * tool): a deterministic PPM corpus under `fixtures/images/` and the
  * matching per-image dHash table `fixtures/image_dhash.parquet`.
  *
  * The gate then runs both halves of the dedup independently: the
  * Spark query re-decodes the committed rasters and runs the banded
  * near-dup join (`multimodal/ImageDedup.nearDupPairs`); the DuckDB
  * oracle brute-forces ALL pairs from the committed hash table and
  * keeps Hamming ≤ 6 — so the gate checks both that the decode→dHash
  * path still produces the committed hashes AND that the 8-band
  * pigeonhole join finds exactly the pairs exhaustive search finds.
  * The fixture is not self-certifying: ImageFixtureSpec recomputes
  * the hashes from the committed PPM bytes and pins the corpus
  * structure (planted brightness/upscale twins at Hamming 0).
  *
  * Corpus (86 images, ids encode provenance; three container
  * formats so the gate exercises the whole Codec.raster dispatch —
  * Netpbm kernel AND the javax.imageio JPEG/PNG seam):
  *   0..39    base images (PPM), varied sizes, pixel values < 200
  *   100+k    k<10: brightness +8 copy of base k  (dHash-identical)
  *   200+k    k<10: 2x nearest-neighbor upscale of base k (identical)
  *   300+k    k<10: base k with one horizontal strip re-textured
  *            (small nonzero Hamming, deterministic)
  *   400+k    k<10: PNG re-encode of base k (lossless ⇒
  *            dHash-identical cross-container twin)
  *   500+k    k<6:  JPEG re-encode of base k at quality 0.9 (lossy ⇒
  *            small Hamming; hashes pinned from the DECODED bytes, so
  *            the table is exact for this JDK's codec)
  *
  * Run after any intentional decode/dHash change:
  * `sbt "runMain graft.tools.DumpImageFixtures"`.
  */
object DumpImageFixtures {

  /** Base raster: smooth two-axis gradient + id-salted texture, all
    * values < 200 so a +8 brightness shift never clamps (clamping
    * could flip a gradient sign and break the planted Hamming-0
    * twins). */
  def base(id: Long): Ppm.Image = {
    val w = 16 + (id % 5).toInt * 6
    val h = 12 + (id % 4).toInt * 5
    Ppm.Image(w, h, 3, Array.tabulate[Byte](w * h * 3) { i =>
      val p = i / 3
      val x = p % w
      val y = p / w
      (((x * 29 + y * 53 + id * 97 + (i % 3) * 11 +
        (x * y * (id + 3)) % 41) % 200)).toByte
    })
  }

  private def brighten(img: Ppm.Image, d: Int): Ppm.Image =
    img.copy(pixels = img.pixels.map(b => ((b & 0xff) + d).toByte))

  /** Re-texture rows h/3 .. h/3+2: enough to flip a few 9x8 gradient
    * signs (small Hamming), not enough to leave the near-dup radius
    * for most bases. */
  private def perturb(img: Ppm.Image, id: Long): Ppm.Image = {
    val px = img.pixels.clone()
    val y0 = img.height / 3
    var y = y0
    while (y < math.min(y0 + 3, img.height)) {
      var x = 0
      while (x < img.width) {
        var c = 0
        while (c < 3) {
          val i = (y * img.width + x) * 3 + c
          px(i) = (((x * 151 + y * 7 + id * 13 + c * 5) % 200)).toByte
          c += 1
        }
        x += 1
      }
      y += 1
    }
    img.copy(pixels = px)
  }

  /** The PPM half of the corpus: (mediaId, raster). */
  def corpus: Seq[(Long, Ppm.Image)] =
    (0L until 40L).map(id => id -> base(id)) ++
      (0L until 10L).map(k => (100L + k) -> brighten(base(k), 8)) ++
      (0L until 10L).map(k =>
        (200L + k) -> { val b = base(k); Ppm.resize(b, b.width * 2, b.height * 2) }) ++
      (0L until 10L).map(k => (300L + k) -> perturb(base(k), k))

  /** Every committed file: (mediaId, extension, encoded bytes). */
  def files: Seq[(Long, String, Array[Byte])] =
    corpus.map { case (id, img) => (id, "ppm", Ppm.encode(img)) } ++
      (0L until 10L).map(k =>
        (400L + k, "png", ImageIo.encodePng(base(k)))) ++
      (0L until 6L).map(k =>
        (500L + k, "jpg", ImageIo.encodeJpeg(base(k), quality = 0.9f)))

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse(graft.Fixtures.dir)
    val imgDir = new File(s"$out/images")
    imgDir.mkdirs()
    val rows = files
    rows.foreach { case (id, ext, bytes) =>
      Files.write(Paths.get(s"$out/images/img_$id.$ext"), bytes)
    }
    val spark = GraftSession.get("8")
    import spark.implicits._
    // hashes from the ROUND-TRIPPED bytes (decode included) — for the
    // lossy JPEG entries the decoded raster, not the source raster,
    // is what the gated query hashes
    val hashes = rows.map { case (id, _, bytes) =>
      (id, ImageDedup.dHash(Multimodal.Codec.raster(bytes).get))
    }
    val df = hashes.toDF("media_id", "dhash")
    val tmp = s"$out/_image_dhash_tmp"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new File(tmp).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.copy(part.toPath, Paths.get(s"$out/image_dhash.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    new File(tmp).listFiles().foreach(_.delete())
    new File(tmp).delete()
    spark.stop()
    println(s"wrote ${rows.size} image files (ppm/png/jpg) + image_dhash.parquet")
  }
}
