package graft.functions

import org.scalatest.funsuite.AnyFunSuite

class JsNumberSpec extends AnyFunSuite {
  // Vectors generated with node (ECMA Number::toString ground truth).
  private val vectors = Seq(
    40.0 -> "40",
    -73.98 -> "-73.98",
    40.71 -> "40.71",
    -73.9 -> "-73.9",
    40.7115 -> "40.7115",
    0.0005 -> "0.0005",
    2e-4 -> "0.0002",
    1e-7 -> "1e-7",
    123456789.5 -> "123456789.5",
    0.0 -> "0",
    -0.0 -> "0",
    0.1 + 0.2 -> "0.30000000000000004",
    1.0 / 3.0 -> "0.3333333333333333",
    180.00000000001 -> "180.00000000001",
    -0.000001234 -> "-0.000001234",
    9007199254740993e2 -> "900719925474099300",
    40.712345678901234 -> "40.71234567890124",
  )

  test("format matches JS Number::toString vectors") {
    vectors.foreach { case (d, want) =>
      assert(JsNumber.format(d) == want, s"for $d")
    }
  }

  test("parseIntJs matches JS parseInt vectors (node ground truth)") {
    // node -e '[...].map(s => parseInt(s))' — NaN maps to null here
    val vectors: Seq[(String, java.lang.Long)] = Seq(
      "12abc" -> 12L,
      " 42" -> 42L,
      "\t\n 7" -> 7L,
      "+7x" -> 7L,
      "-13.9" -> -13L,
      "" -> null,
      "abc" -> null,
      "0x1A" -> 26L,
      "0X10" -> 16L,
      "0x" -> null,
      "0xgg" -> null,
      "12e3" -> 12L, // parseInt stops at 'e' — NOT 12000
      "  -0x0F" -> -15L,
      "٣٤" -> null, // Unicode digits are junk to JS parseInt
      "   99px" -> 99L,
      "-" -> null,
      "+." -> null,
      "0" -> 0L,
      "007" -> 7L,
      "9007199254740991end" -> 9007199254740991L,
      // ECMA LineTerminator chars LS/PS are StrWhiteSpace to parseInt:
      // node -e 'parseInt("  5")' → 5
      "  5" -> 5L,
      "  -8" -> -8L,
    )
    vectors.foreach { case (s, want) =>
      assert(JsNumber.parseIntJs(s) == want, s"for '$s'")
    }
    // past-Long digit runs: documented null (JS loses precision there)
    assert(JsNumber.parseIntJs("99999999999999999999999") == null)
  }

  test("join matches JS Array.join(',')") {
    assert(JsNumber.join(Array(-73.975, 40.7115)) == "-73.975,40.7115")
    assert(JsNumber.join(Array(-73.98, 40.71, -73.97, 40.72)) == "-73.98,40.71,-73.97,40.72")
    assert(JsNumber.join(Array.empty[Double]) == "")
  }

  test("joinNestedJson flattens like JS join over nested arrays") {
    // JS: [[1,2],[3,4]].join(',') === "1,2,3,4"
    assert(JsNumber.joinNestedJson("[[1,2],[3,4]]") == "1,2,3,4")
    // Polygon ring depth (3 levels), JS-number formatting preserved
    assert(JsNumber.joinNestedJson("[[[0,0],[4,0],[4,4.5],[0,4],[0,0]]]") ==
      "0,0,4,0,4,4.5,0,4,0,0")
    // flat Point stays identical to the typed join
    assert(JsNumber.joinNestedJson("[-73.975,40.7115]") ==
      JsNumber.join(Array(-73.975, 40.7115)))
    // JS: [null,1].join(',') === ",1"
    assert(JsNumber.joinNestedJson("[null,1]") == ",1")
    assert(JsNumber.joinNestedJson("[]") == "")
  }

  test("format round-trips for arbitrary doubles") {
    val rnd = new scala.util.Random(42)
    (1 to 20000).foreach { _ =>
      val d = java.lang.Double.longBitsToDouble(rnd.nextLong())
      if (!d.isNaN && !d.isInfinite) {
        assert(java.lang.Double.parseDouble(JsNumber.format(d)) == d, s"bits of $d")
      }
    }
    (1 to 20000).foreach { _ =>
      val d = (rnd.nextDouble() - 0.5) * 360 // lon/lat-like range
      assert(java.lang.Double.parseDouble(JsNumber.format(d)) == d, s"for $d")
    }
  }
}

class VectorKernelSpec extends AnyFunSuite {
  import org.apache.spark.sql.catalyst.util.ArrayData

  private def vec(xs: Array[Float]): ArrayData = ArrayData.toArrayData(xs)

  test("cosineE9 is symmetric, bounded, and exact on aligned vectors") {
    val rnd = new scala.util.Random(42)
    (1 to 500).foreach { _ =>
      val a = Array.fill(64)((rnd.nextFloat() - 0.5f) * 2)
      val b = Array.fill(64)((rnd.nextFloat() - 0.5f) * 2)
      val ab = VectorKernels.cosineE9(vec(a), vec(b))
      val ba = VectorKernels.cosineE9(vec(b), vec(a))
      assert(ab == ba, "symmetry")
      assert(ab >= -1000000000L && ab <= 1000000000L, s"bounded, got $ab")
      assert(VectorKernels.cosineE9(vec(a), vec(a)) == 1000000000L, "self-cosine = 1")
      assert(VectorKernels.cosineE9(vec(a), vec(a.map(-_))) == -1000000000L, "negated = -1")
    }
  }

  test("long-unit fast paths are bit-identical to the BigDecimal folds") {
    // round-14: cosineE9 / sqDistE9 / lshBucketN(+Flip) accumulate the
    // scale-15 quantized terms in LONG units with an overflow fallback
    // to the original BigDecimal fold; this pins fast == slow on
    // random vectors, tiny/huge magnitudes (subnormals; values big
    // enough to force the fallback), zeros, and negatives.
    val rnd = new scala.util.Random(1234)
    // degenerate inputs (zero norms, infinite products) make BOTH
    // paths throw the same way — compare outcomes, not just values
    def outcome(f: => Long): Either[String, Long] =
      try Right(f) catch { case e: Exception => Left(e.getClass.getName) }
    def check(a: Array[Float], b: Array[Float]): Unit = {
      assert(outcome(VectorKernels.cosineE9(vec(a), vec(b))) ==
        outcome(VectorKernels.cosineE9Slow(vec(a), vec(b))),
        s"cosine on ${a.take(3).toSeq}...")
      assert(outcome(VectorKernels.sqDistE9(vec(a), vec(b), 0)) ==
        outcome(VectorKernels.sqDistE9Slow(vec(a), vec(b), 0)), "sqdist")
      (1 to 20).foreach { p =>
        assert(VectorKernels.lshBucketN(vec(a), p) ==
          VectorKernels.lshBucketNSlow(vec(a), p), s"lsh p=$p")
        assert(VectorKernels.lshBucketFlipN(vec(a), p) ==
          VectorKernels.lshBucketFlipNSlow(vec(a), p), s"lshflip p=$p")
      }
    }
    (1 to 300).foreach { _ =>
      check(Array.fill(64)((rnd.nextFloat() - 0.5f) * 2),
        Array.fill(64)((rnd.nextFloat() - 0.5f) * 2))
    }
    // magnitude sweep incl. the long-overflow region (forces fallback)
    for (mag <- Seq(1e-30f, 1e-8f, 1f, 100f, 9.9e3f, 1e5f, 3e18f, Float.MaxValue)) {
      check(Array.fill(64)(mag * (rnd.nextFloat() - 0.5f) * 2),
        Array.fill(64)(mag * (rnd.nextFloat() - 0.5f) * 2))
      check(Array.fill(64)(mag), Array.fill(64)(-mag))
    }
    check(Array.fill(64)(0f), Array.fill(64)(0f))
  }

  test("cosineApprox sits far inside the 1e-6 admission margin of cosineE9") {
    // The prefilter contract: |approx − exact| ≪ the 1e-6 margin every
    // caller uses, so a candidate the prefilter drops cannot have
    // passed the exact threshold. 1e9·approx vs the decimal-exact e9
    // integer should differ by well under 1e3 (margin·1e9); in
    // practice the gap is ≤ ~1 ulp of the e9 scale.
    val rnd = new scala.util.Random(99)
    (1 to 2000).foreach { _ =>
      val a = Array.fill(64)((rnd.nextFloat() - 0.5f) * 2)
      val b = Array.fill(64)((rnd.nextFloat() - 0.5f) * 2)
      val exact = VectorKernels.cosineE9(vec(a), vec(b))
      val approx = VectorKernels.cosineApprox(vec(a), vec(b)) * 1e9
      assert(math.abs(approx - exact) < 10.0,
        s"approx $approx vs exact $exact")
    }
  }

  test("sortedIntersectCount matches Set intersection on random sorted arrays") {
    def longs(xs: Array[Long]): ArrayData = ArrayData.toArrayData(xs)
    val rnd = new scala.util.Random(13)
    (1 to 500).foreach { _ =>
      // draw from a small value range so overlaps actually occur;
      // distinct+sorted mirrors the query's array_distinct + sort_array
      val a = Array.fill(rnd.nextInt(40))(rnd.nextInt(60).toLong).distinct.sorted
      val b = Array.fill(rnd.nextInt(40))(rnd.nextInt(60).toLong).distinct.sorted
      val want = a.toSet.intersect(b.toSet).size
      assert(VectorKernels.sortedIntersectCount(longs(a), longs(b)) == want)
      assert(VectorKernels.sortedIntersectCount(longs(b), longs(a)) == want, "symmetry")
    }
    assert(VectorKernels.sortedIntersectCount(
      longs(Array.empty[Long]), longs(Array(1L, 2L))) == 0)
    assert(VectorKernels.sortedIntersectCount(
      longs(Array(Long.MinValue, 0L, Long.MaxValue)),
      longs(Array(Long.MinValue, 0L, Long.MaxValue))) == 3)
  }

  test("lshBucket is stable and within 6 bits") {
    val rnd = new scala.util.Random(7)
    (1 to 200).foreach { _ =>
      val a = Array.fill(64)((rnd.nextFloat() - 0.5f) * 2)
      val b1 = VectorKernels.lshBucket(vec(a))
      assert(b1 == VectorKernels.lshBucket(vec(a)), "deterministic")
      assert(b1 >= 0 && b1 < 64, s"6-bit bucket, got $b1")
    }
  }
}

class Base62Spec extends AnyFunSuite {
  test("encodeHex vectors (independent Python computation)") {
    assert(Base62.encodeHex("d7736d2973f83d32d7d71ae5afa77b92") == "6yy6dDdNEW5gyflS0uB0oa")
    assert(Base62.encodeHex("ff") == "47")
    assert(Base62.encodeHex("00") == "0")
    assert(Base62.encodeHex("0a") == "a")
  }
}

class GeoUtilSpec extends AnyFunSuite {
  import org.apache.spark.sql.catalyst.util.ArrayData

  private def arr(points: Seq[Seq[Double]]*): ArrayData =
    ArrayData.toArrayData(points.map(ring =>
      ArrayData.toArrayData(ring.map(p => ArrayData.toArrayData(p.toArray)).toArray)).toArray)

  private def pt(x: Double, y: Double): ArrayData = ArrayData.toArrayData(Array(x, y))

  /** [xmin, ymin, xmax, ymax] of a ring: the bound a bbox prefilter
    * in front of `contains` relies on.
    */
  private def ringBbox(ring: Seq[Seq[Double]]): Seq[Double] =
    Seq(ring.map(_(0)).min, ring.map(_(1)).min, ring.map(_(0)).max, ring.map(_(1)).max)

  // Unit square with a hole in the middle.
  private val square = Seq(Seq(0.0, 0.0), Seq(10.0, 0.0), Seq(10.0, 10.0), Seq(0.0, 10.0), Seq(0.0, 0.0))
  private val hole = Seq(Seq(4.0, 4.0), Seq(6.0, 4.0), Seq(6.0, 6.0), Seq(4.0, 6.0), Seq(4.0, 4.0))

  test("inside / outside / hole") {
    val poly = arr(square, hole)
    assert(GeoUtil.contains(poly, pt(2, 2)))
    assert(!GeoUtil.contains(poly, pt(11, 5)))
    assert(!GeoUtil.contains(poly, pt(5, 5)), "inside the hole is outside")
    assert(GeoUtil.contains(arr(square), pt(5, 5)))
  }

  test("boundary counts as inside") {
    val poly = arr(square)
    assert(GeoUtil.contains(poly, pt(0, 5)), "edge")
    assert(GeoUtil.contains(poly, pt(0, 0)), "vertex")
    assert(GeoUtil.contains(poly, pt(5, 10)), "top edge")
  }

  test("concave polygon") {
    // L-shape: notch cut from the top-right.
    val l = Seq(Seq(0.0, 0.0), Seq(10.0, 0.0), Seq(10.0, 5.0), Seq(5.0, 5.0),
      Seq(5.0, 10.0), Seq(0.0, 10.0), Seq(0.0, 0.0))
    val poly = arr(l)
    assert(GeoUtil.contains(poly, pt(2, 8)))
    assert(!GeoUtil.contains(poly, pt(8, 8)), "in the notch")
    assert(GeoUtil.contains(poly, pt(8, 2)))
  }

  test("random star polygons: containment implies bbox containment") {
    val rnd = new scala.util.Random(11)
    (1 to 100).foreach { _ =>
      // random star-shaped (possibly concave) polygon around a center
      val cx = rnd.nextDouble() * 100
      val cy = rnd.nextDouble() * 100
      val n = 5 + rnd.nextInt(10)
      val pts = (0 until n).map { i =>
        val ang = 2 * math.Pi * i / n
        val r = 1 + rnd.nextDouble() * 9
        Seq(cx + r * math.cos(ang), cy + r * math.sin(ang))
      } :+ Seq(cx + (1 + 0) * math.cos(0), cy + 0.0) // close approximately
      val ring = pts.init :+ pts.head // properly closed
      val poly = arr(ring)
      val b = ringBbox(ring)
      assert(GeoUtil.contains(poly, pt(cx, cy)), "center of a star polygon is inside")
      (1 to 50).foreach { _ =>
        val x = cx + (rnd.nextDouble() - 0.5) * 40
        val y = cy + (rnd.nextDouble() - 0.5) * 40
        if (GeoUtil.contains(poly, pt(x, y))) {
          assert(x >= b(0) && x <= b(2) && y >= b(1) && y <= b(3),
            "containment implies bbox containment")
        }
      }
    }
  }

  test("bbox containment is implied by polygon containment") {
    val poly = arr(square)
    val b = ringBbox(square)
    val rnd = new scala.util.Random(42)
    (1 to 5000).foreach { _ =>
      val x = (rnd.nextDouble() - 0.5) * 60
      val y = (rnd.nextDouble() - 0.5) * 60
      if (GeoUtil.contains(poly, pt(x, y))) {
        assert(x >= b(0) && x <= b(2) && y >= b(1) && y <= b(3))
      }
    }
  }

  // Bit-at-a-time reference for the mask-ladder Morton interleave.
  private def mortonRef(x: Long, y: Long): Long = {
    var z = 0L
    var i = 0
    while (i < 32) {
      z |= ((x >> i) & 1L) << (2 * i)
      z |= ((y >> i) & 1L) << (2 * i + 1)
      i += 1
    }
    z
  }

  test("morton interleave matches the bit-loop reference (fuzz + edges)") {
    val edges = Seq(0L, 1L, 2L, 3L, 1023L, 1024L, 65535L, (1L << 32) - 1)
    for (x <- edges; y <- edges)
      assert(GeoUtil.morton(x, y) === mortonRef(x, y), s"edge ($x, $y)")
    val rnd = new scala.util.Random(7)
    (1 to 20000).foreach { _ =>
      val x = rnd.nextLong() & 0xffffffffL
      val y = rnd.nextLong() & 0xffffffffL
      assert(GeoUtil.morton(x, y) === mortonRef(x, y), s"fuzz ($x, $y)")
    }
  }

  test("morton Z-blocks are axis-aligned tiles (the file-skipping invariant)") {
    // dropping the 12 low (6+6 interleaved) bits of z confines both
    // coordinates to one aligned 64x64 tile — the property
    // geo_zorder_cluster's per-bucket extents rely on:
    // same 64x64 tile <=> same bucket
    val rnd = new scala.util.Random(11)
    (1 to 5000).foreach { _ =>
      val x1 = rnd.nextInt(1024).toLong; val y1 = rnd.nextInt(1024).toLong
      val x2 = rnd.nextInt(1024).toLong; val y2 = rnd.nextInt(1024).toLong
      val sameTile = (x1 / 64 == x2 / 64) && (y1 / 64 == y2 / 64)
      val sameBucket =
        (GeoUtil.morton(x1, y1) >> 12) == (GeoUtil.morton(x2, y2) >> 12)
      assert(sameTile === sameBucket, s"($x1,$y1) vs ($x2,$y2)")
    }
  }
}
