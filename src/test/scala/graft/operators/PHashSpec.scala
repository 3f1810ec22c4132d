package graft.operators

import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream

import org.scalatest.funsuite.AnyFunSuite

/** The perceptual-hash arm of the multimodal suite: the real dHash on
  * actual decoded pixels (the path the text-backed catalogue rows never
  * reach), plus the banding bound the mm_phash_neardup join relies on.
  */
class PHashSpec extends AnyFunSuite {

  private def png(img: BufferedImage): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** 32×32 horizontal gradient: dHash of a gradient is all-ones per
    * row (each cell strictly brighter than its left neighbor).
    */
  private def gradient(): BufferedImage = {
    val img = new BufferedImage(32, 32, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 32; x <- 0 until 32) {
      val v = x * 8
      img.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    img
  }

  private def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  test("dHash is deterministic and decodes via the real codec path") {
    val bytes = png(gradient())
    val b1 = Multimodal.pHashBands(bytes)
    val b2 = Multimodal.pHashBands(bytes)
    assert(b1.toSeq == b2.toSeq)
    // the gradient's dHash is exactly all-ones: every adjacent-cell
    // comparison fires — proves the REAL pixel path ran, because the
    // md5 stub of these bytes is effectively random
    assert(b1.toSeq == Seq(0xffff, 0xffff, 0xffff, 0xffff))
  }

  test("small pixel perturbation moves few bits; banding still pairs them") {
    val base = gradient()
    val tweaked = gradient()
    // darken one 9x8-grid cell enough to flip its comparison bit:
    // cell (gx=4, gy=2) covers x in [14,17), y in [8,12)
    for (y <- 8 until 12; x <- 14 until 17) tweaked.setRGB(x, y, 0)
    val h1 = Multimodal.dHash(Multimodal.readGuarded(png(base)).get._2)
    val h2 = Multimodal.dHash(Multimodal.readGuarded(png(tweaked)).get._2)
    val d = hamming(h1, h2)
    assert(d > 0, "perturbation must change the hash")
    assert(d <= 3, s"local perturbation must stay a near-dup, moved $d bits")
    // pigeonhole: hamming <= 3 over four 16-bit bands => >= 1 equal band,
    // so the band join in mm_phash_neardup cannot miss this pair
    val bands1 = Multimodal.pHashBands(png(base))
    val bands2 = Multimodal.pHashBands(png(tweaked))
    assert((0 until 4).exists(i => bands1(i) == bands2(i)))
  }

  test("non-image payloads use the md5 stub bands (the SQL-replayed arm)") {
    val payload = "not an image at all".getBytes("UTF-8")
    val md5 = java.security.MessageDigest.getInstance("MD5").digest(payload)
    val expected = (0 until 4).map { i =>
      ((md5(2 * i) & 0xff) << 8) | (md5(2 * i + 1) & 0xff)
    }
    assert(Multimodal.pHashBands(payload).toSeq == expected)
  }

  test("pHashBandValues at 4x16 is bit-exact with the historical layout") {
    for (payload <- Seq("plain text".getBytes("UTF-8"), png(gradient()))) {
      val hist = Multimodal.pHashBands(payload).map(_.toLong)
      assert(Multimodal.pHashBandValues(payload, 4, 16).toSeq == hist.toSeq)
    }
  }

  test("pigeonhole completeness holds at every supported geometry") {
    // For (bands, bits): flip any <= bands-1 bits of a bands*bits-wide
    // source; the banded values must still agree on >= 1 band. Checked
    // exhaustively-ish with a seeded sweep of flip sets at the default
    // (4x16), the production width (4x32 over full md5), and an
    // intermediate (8x8).
    val rnd = new scala.util.Random(42)
    for ((nb, wb) <- Seq((4, 16), (4, 32), (8, 8))) {
      val total = nb * wb
      for (trial <- 0 until 200) {
        val src = new Array[Byte]((total + 7) / 8)
        rnd.nextBytes(src)
        val flipped = src.clone()
        val nFlips = 1 + rnd.nextInt(3) // hamming 1..3 <= bands-1
        val positions = rnd.shuffle((0 until total).toList).take(nFlips)
        for (p <- positions)
          flipped(p >> 3) = (flipped(p >> 3) ^ (1 << (7 - (p & 7)))).toByte
        def bandsOf(bytes: Array[Byte]): Seq[Long] = {
          def bit(j: Int): Long = (bytes(j >> 3) >> (7 - (j & 7))) & 1L
          (0 until nb).map { i =>
            var v = 0L
            for (j <- i * wb until (i + 1) * wb) v = (v << 1) | bit(j)
            v
          }
        }
        val a = bandsOf(src); val b = bandsOf(flipped)
        assert((0 until nb).exists(i => a(i) == b(i)),
          s"geometry ${nb}x$wb trial $trial: hamming $nFlips pair shares no band")
      }
    }
  }

  test("dHashN(_, 128) doubles the grid and stays deterministic") {
    val bytes = png(gradient())
    val img = Multimodal.readGuarded(bytes).get._2
    val h128a = Multimodal.dHashN(img, 128)
    val h128b = Multimodal.dHashN(img, 128)
    assert(h128a.length == 16 && h128a.sameElements(h128b))
    // gradient => every row's comparisons all fire at any vertical
    // resolution: all 16 bytes are 0xff, same invariant as the 64-bit
    // arm — proves the pooled-grid generalization kept the semantics
    assert(h128a.forall(_ == 0xff.toByte))
    // and the production 4x32 geometry derives from it bit-for-bit
    val b32 = Multimodal.pHashBandValues(bytes, 4, 32)
    assert(b32.toSeq == Seq(0xffffffffL, 0xffffffffL, 0xffffffffL, 0xffffffffL))
  }

  // mm_phash_neardup's oracle replays the md5-stub arm for EVERY row,
  // while the Spark side would use the real dHash for any payload that
  // decodes as an image. Oracle parity therefore rests on the corpus
  // invariant that no document's UTF-8 bytes decode via readGuarded —
  // assert it over the same corpora the driver gates (sf0.001 specs,
  // sf0.01 correctness) instead of trusting it by accident.
  test("no documents-corpus payload decodes as an image (oracle-parity invariant)") {
    val spark = graft.TestSession.spark
    import spark.implicits._
    for (sf <- Seq("sf0.001", "sf0.01")) {
      val dir = new java.io.File(s"/root/testdata/$sf/documents.parquet")
      if (dir.exists()) {
        val decodable = spark.read.parquet(dir.toString)
          .select($"doc_id", $"text").as[(Long, String)]
          .filter(r => Multimodal.readGuarded(r._2.getBytes("UTF-8")).isDefined)
          .count()
        assert(decodable == 0L,
          s"$sf: $decodable document payload(s) decode as images — " +
            "mm_phash_neardup's md5-stub oracle would diverge from the dHash arm")
      }
    }
  }
}
