package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** Pins gr_random_walks' dead-end semantics after the round-15
  * carried-path rewrite: a walk whose start node has NO incident edge
  * emits ONLY its step-0 row (the old per-step inner join dropped it
  * from later frames; the rewrite must reproduce that via the left
  * join's null propagation). No test-data SF exercises this — every
  * nationkey-0 supplier appears in lineitem — so it is pinned here on
  * a crafted fixture, against a literal replay of the greedy-hash
  * walk.
  */
class RandomWalkDeadEndSpec extends AnyFunSuite {

  private lazy val spark = TestSession.spark

  test("dead-end walk emits only step 0; live walks match the replay") {
    import spark.implicits._
    val dir = Files.createTempDirectory("rwdead").toString
    // suppliers 1..4 in nation 0 start walks; supplier 9 (nation 1)
    // does not. Supplier 4 has NO lineitem rows -> its walk node
    // (4*2+1 = 9) never appears in the edge set -> dead at step 1.
    Seq((1L, 0L), (2L, 0L), (3L, 0L), (4L, 0L), (9L, 1L))
      .toDF("s_suppkey", "s_nationkey")
      .write.mode("overwrite").parquet(s"$dir/supplier.parquet")
    val li = Seq(
      (10L, 1L), (10L, 2L), (11L, 1L), (11L, 3L), (12L, 2L),
      (12L, 3L), (13L, 1L), (13L, 9L), (14L, 2L), (10L, 1L), // dup row
    )
    li.toDF("l_partkey", "l_suppkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")

    // literal replay of the declared walk (union-of-steps semantics)
    val edges = li.map { case (p, sk) => (p * 2, sk * 2 + 1) }.distinct
    val sym = edges ++ edges.map(_.swap)
    val adj = sym.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2) }
    val walks = Seq(1L, 2L, 3L, 4L).map(_ * 2 + 1)
    val expected = walks.flatMap { w =>
      var cur = w
      var alive = true
      (0 to 4).flatMap { step =>
        if (step == 0) Some((w, cur, 0))
        else if (!alive) None
        else adj.get(cur) match {
          case None => alive = false; None
          case Some(ns) =>
            val k = ns.map(dst => (
              ((cur * 1009 + dst * 9176 + step * 31) % 1000003)
                * 8589934592L + dst, dst)).min
            cur = k._2
            Some((w, cur, step))
        }
      }
    }.sortBy(r => (r._1, r._3))

    val fn = SparkEntry.queries.collectFirst {
      case (n, f) if n == "gr_random_walks" => f
    }.get
    val got = fn(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq

    assert(got == expected)
    // the crafted fixture really exercises the dead branch:
    assert(expected.count(_._1 == 9L) == 1, "supplier 4's walk must die at step 1")
  }
}
