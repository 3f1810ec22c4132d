package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** Specs for the training-data operators that have no SQL oracle:
  * the LSH-bucketed ANN (checked against the brute-force baseline) and
  * the typed multimodal decode plumbing.
  */
class TrainingDataSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.001"

  private lazy val spark = graft.TestSession.spark

  test("simhash near-dup result is invariant under the band-count knob") {
    // Pigeonhole holds at every B >= 4 dividing 60, so the FILTERED
    // result (hamming <= 3) must be identical — more bands only widen
    // the candidate set. This is the safety proof for the geometry
    // knob: a B that broke completeness would LOSE pairs here.
    val q = DedupQueries.all.find(_.name == "td_simhash_neardup").get
    val base = q.fn(spark, sf).collect().map(_.toString).toSeq
    for (b <- Seq(5, 6)) {
      try {
        sys.props("graft.simhash.bands") = b.toString
        val got = q.fn(spark, sf).collect().map(_.toString).toSeq
        assert(got == base, s"band count $b changed the near-dup result")
      } finally sys.props.remove("graft.simhash.bands")
    }
    // and the guard rejects geometries that cannot pigeonhole
    intercept[IllegalArgumentException] {
      try {
        sys.props("graft.simhash.bands") = "3"
        q.fn(spark, sf).collect()
      } finally sys.props.remove("graft.simhash.bands")
    }
  }

  test("phash near-dup verdicts at the production width keep every default-width near-dup") {
    // At 4x32 the hash doubles, so hamming values differ — but a pair
    // the 64-bit hash calls a near-dup (identical text => identical
    // md5 prefix) stays a near-dup at 128 bits: identical payloads
    // hash identically at any width.
    import org.apache.spark.sql.functions._
    val q = MultimodalQueries.all.find(_.name == "mm_phash_neardup").get
    val dupsAt = { () =>
      q.fn(spark, sf).filter(col("is_near_dup"))
        .select("doc1", "doc2").collect().map(_.toString).toSet
    }
    val d64 = dupsAt()
    val d128 = try {
      sys.props("graft.phash.bits") = "32"
      dupsAt()
    } finally sys.props.remove("graft.phash.bits")
    assert(d64.subsetOf(d128) || d64 == d128,
      s"production width lost near-dups: ${(d64 -- d128).take(5)}")
  }

  test("LSH ANN candidates are genuine same-bucket neighbours with decent recall") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val ann = SimilarityQueries.all.find(_.name == "sim_lsh_ann_topk").get
      .fn(spark, sf).collect()
    assert(ann.nonEmpty)
    // every probe appears with ranks 1..k and no self-matches
    val byProbe = ann.groupBy(_.getLong(0))
    byProbe.foreach { case (probe, rows) =>
      assert(rows.map(_.getInt(1)).sorted.sameElements(1 to rows.length))
      assert(rows.forall(_.getLong(2) != probe))
    }
    // sanity recall: ANN top-1 of probe 0 must rank in the top half of
    // the exact cosine ordering (buckets keep nearby vectors together
    // far better than random)
    val emb = graft.model.Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding".cast("array<double>").as("e"))
      .as[(Long, Array[Double])].collect().toMap
    def cosine(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      a.indices.foreach { i => dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      dot / math.sqrt(na * nb)
    }
    byProbe.foreach { case (probe, rows) =>
      val exact = emb.keys.filter(_ != probe).toSeq
        .sortBy(c => -cosine(emb(probe), emb(c)))
      val annTop = rows.minBy(_.getInt(1)).getLong(2)
      val rank = exact.indexOf(annTop)
      assert(rank >= 0 && rank < exact.size / 2,
        s"probe $probe: ANN top-1 $annTop has exact rank $rank of ${exact.size}")
    }
  }

  // Soundness of the fuzzy-match length-bucket blocking: the blocked
  // equi-join must yield EXACTLY the cross-join pairs for dist <= 3,
  // including on adversarial lengths straddling bucket boundaries.
  test("length-bucket blocking equals the naive cross join") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // names with lengths clustered around the 4-wide bucket boundaries
    val names = (Seq("ab", "abc", "abcd", "abcde", "abcdef", "abcdefg",
      "abcdefgh", "abcdx", "abxde", "xbcdefgh", "abcdefghijk", "abcdefghijkl") ++
      (0 until 30).map(i => "n" * (i % 9 + 1) + i)).distinct.toDF("n")
    val naive = names.select($"n".as("n1"))
      .crossJoin(names.select($"n".as("n2")))
      .select($"n1", $"n2", levenshtein($"n1", $"n2").as("dist"))
      .filter($"dist" <= 3)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    val withLen = names.select($"n", length($"n").as("len"))
    val lhs = withLen.select($"n".as("n1"), $"len".as("len1"), floor($"len" / 4).as("bkt"))
    val rhs = withLen.select($"n".as("n2"), $"len".as("len2"),
      explode(array(floor($"len" / 4) - 1, floor($"len" / 4), floor($"len" / 4) + 1)).as("bkt"))
    val blocked = lhs.join(rhs, Seq("bkt"))
      .filter(abs($"len1" - $"len2") <= 3)
      .select($"n1", $"n2", levenshtein($"n1", $"n2").as("dist"))
      .filter($"dist" <= 3)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2)))
    // exactly-once: no duplicates from the ±1 bucket replication
    assert(blocked.length == blocked.toSet.size, "blocking produced duplicate pairs")
    assert(blocked.toSet == naive, {
      val missing = naive.diff(blocked.toSet)
      s"blocking missed ${missing.size} pairs: ${missing.take(5)}"
    })
  }

  test("multimodal decode keeps schema, determinism, and batch shape") {
    val media = Multimodal.asMedia(spark, sf)
    val decoded = Multimodal.decode(media)
    val rows = decoded.collect()
    assert(rows.length == media.count())
    assert(rows.forall(r => r.width >= 64 && r.width <= 319))
    assert(rows.forall(r => Set("png", "jpeg", "webp").contains(r.format)))
    // determinism: same payload → same decode
    val again = Multimodal.decode(media).collect()
    assert(rows.sortBy(_.doc_id).sameElements(again.sortBy(_.doc_id)))
    // plumbing survives a repartition (decode is per-partition)
    val repart = Multimodal.decode(media.repartition(7)).collect()
    assert(repart.map(_.doc_id).sorted.sameElements(rows.map(_.doc_id).sorted))
  }

  test("decode runs the real imageio codec on valid images, stub otherwise") {
    import spark.implicits._
    // a real 12x7 PNG: red origin pixel, the rest blue
    val img = new java.awt.image.BufferedImage(
      12, 7, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (x <- 0 until 12; y <- 0 until 7)
      img.setRGB(x, y, if (x == 0 && y == 0) 0xff0000 else 0x0000ff)
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "png", bos))
    val pngBytes = bos.toByteArray
    val textBytes = "not an image".getBytes("UTF-8")
    val media = Seq(
      Multimodal.MediaRow(1L, pngBytes, "img"),
      Multimodal.MediaRow(2L, textBytes, "txt"),
    ).toDS()
    val out = Multimodal.decode(media).collect().sortBy(_.doc_id)
    // real arm: actual format + pixel dimensions + red-pixel luma
    assert(out(0).format == "png")
    assert(out(0).width == 12 && out(0).height == 7)
    assert(math.abs(out(0).feat0 - 0.299) < 1e-9)
    assert(out(0).n_bytes == pngBytes.length)
    // fallback arm: byte-identical to the documented stub
    val (f, w, h, feat) = Multimodal.decodeStub(textBytes)
    assert(out(1) == Multimodal.MediaDecoded(2L, textBytes.length, f, w, h, feat))
  }

  test("decode quarantines corrupt and bomb payloads instead of throwing") {
    // PNG signature followed by garbage: the reader probe accepts it,
    // decode throws (often a RuntimeException subclass, not
    // IOException) — must fall back to the stub, not fail the task
    val corrupt = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a) ++
      Array.fill[Byte](32)(0x42)
    assert(Multimodal.decodePayload(corrupt) == Multimodal.decodeStub(corrupt))
    // a syntactically-valid PNG header CLAIMING 60000x60000: read(0)
    // would allocate the declared raster; the dimension bound must
    // quarantine it before that
    val bomb = {
      val bos = new java.io.ByteArrayOutputStream()
      val d = new java.io.DataOutputStream(bos)
      d.write(Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a))
      val ihdr = new java.io.ByteArrayOutputStream()
      val di = new java.io.DataOutputStream(ihdr)
      di.writeBytes("IHDR"); di.writeInt(60000); di.writeInt(60000)
      di.write(8); di.write(2); di.write(0); di.write(0); di.write(0)
      val body = ihdr.toByteArray
      d.writeInt(13)
      d.write(body)
      val crc = new java.util.zip.CRC32(); crc.update(body)
      d.writeInt(crc.getValue.toInt)
      bos.toByteArray
    }
    assert(Multimodal.decodePayload(bomb) == Multimodal.decodeStub(bomb))
    // the prefix sniff rejects text without touching ImageIO at all
    assert(!Multimodal.looksLikeImage("plain text payload".getBytes("UTF-8")))
    assert(Multimodal.looksLikeImage(corrupt))
    // JDK 9+ bundles a TIFF reader: both byte orders must sniff as
    // images so a TIFF payload reaches the real codec, not the stub
    assert(Multimodal.looksLikeImage(
      Array[Byte]('I', 'I', 0x2a, 0, 1, 2, 3, 4)))
    assert(Multimodal.looksLikeImage(
      Array[Byte]('M', 'M', 0, 0x2a, 1, 2, 3, 4)))
  }

  // td_concat_chunks' range partitioner (rid = doc_id·P/n) is only
  // order-exact for dense ids 0..n-1; the query must REFUSE sparse ids
  // loudly rather than emit skewed-but-plausible output.
  test("concat-chunks rejects sparse doc ids loudly, accepts dense ones") {
    import spark.implicits._
    val fn = DedupQueries.all.find(_.name == "td_concat_chunks").get.fn
    def writeDocs(ids: Seq[Long], dir: java.io.File): Unit =
      ids.map(i => (i, Seq.fill(17)(s"w$i").mkString(" ")))
        .toDF("doc_id", "text")
        .repartition(4) // >1 input partition so P > the floor path is live
        .write.mode("overwrite").parquet(new java.io.File(dir, "documents.parquet").toString)

    val sparse = java.nio.file.Files.createTempDirectory("graft-sparse").toFile
    writeDocs(Seq(0L, 2L, 4L, 7L), sparse)
    val e = intercept[IllegalArgumentException](fn(spark, sparse.toString).collect())
    assert(e.getMessage.contains("dense doc ids"), e.getMessage)

    // dense ids: output must equal the naive single-stream prefix sum
    val dense = java.nio.file.Files.createTempDirectory("graft-dense").toFile
    writeDocs(0L until 100L, dense)
    val got = fn(spark, dense.toString)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    var acc = 0L
    val want = (0L until 100L).map { i =>
      val t = (i, acc / 512, (acc + 17 - 1) / 512); acc += 17; t
    }
    assert(got.toSeq == want)
  }
}
