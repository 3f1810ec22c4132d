package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.exprs.morton_interleave

/** The file-skipping guarantee behind `geo_zorder_cluster`'s layout
  * story, proven on actual files: range-partitioning by the Morton key
  * and sorting within partitions yields parquet files whose z ranges
  * are PAIRWISE DISJOINT — so any z-interval predicate (equivalently,
  * any bbox whose tiles map to a few z runs) prunes to the touched
  * files and no others. This is precisely what
  * `.repartitionByRange($"z").sortWithinPartitions($"z")` buys a
  * 100 TB writer; the spec pins it end-to-end (write → per-file
  * footer-level min/max → disjointness + coverage), not just in the
  * plan.
  */
class ZorderLayoutSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSession.spark

  test("z-ordered range-partitioned write produces disjoint per-file z ranges") {
    import spark.implicits._
    val dir = Files.createTempDirectory("zorder_layout").toFile
    val out = new java.io.File(dir, "pts").getPath
    try {
      val pts = spark.range(0, 20000).select(
        ($"id" % 512).as("cx"),
        (($"id" * 31 + 7) % 512).as("cy"))
        .withColumn("z", morton_interleave($"cx", $"cy"))
      pts.repartitionByRange(8, $"z")
        .sortWithinPartitions($"z")
        .write.parquet(out)

      val files = new java.io.File(out).listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .map(_.getPath)
      assert(files.length >= 4, s"expected several part files, got ${files.length}")

      val ranges = files.map { f =>
        val r = spark.read.parquet(f)
          .agg(min($"z").as("lo"), max($"z").as("hi"), count(lit(1)).as("n"))
          .collect().head
        (r.getLong(0), r.getLong(1), r.getLong(2))
      }.sortBy(_._1)

      // pairwise disjoint: each file's min is above the previous max
      ranges.sliding(2).foreach {
        case Array((_, hi1, _), (lo2, _, _)) =>
          assert(lo2 > hi1,
            s"overlapping z ranges between adjacent files: hi=$hi1 lo=$lo2")
        case _ =>
      }
      // nothing lost in the layout pass
      assert(ranges.map(_._3).sum === 20000L)

      // and the pruning it buys: a mid-range z interval must be
      // answerable from a strict subset of files
      val probeLo = ranges(3)._1
      val probeHi = ranges(3)._2
      val touched = ranges.count { case (lo, hi, _) => hi >= probeLo && lo <= probeHi }
      assert(touched < files.length,
        "a single-file z interval should not require scanning every file")
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(dir)
    }
  }
}
