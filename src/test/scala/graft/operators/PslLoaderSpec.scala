package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** The publicsuffix.org list-format loader: a representative snapshot
  * fragment (comments, section markers, blank lines, `*.` wildcards,
  * `!` exceptions — including a wildcard whose exception is NOT the
  * curated `city.*` construction) parses into the class-split dims,
  * the parsed rules DRIVE the registered-domain derivation through
  * withRegDomain's rules parameter (the drop-in claim as a code
  * path), and out-of-shape rules abort loudly instead of silently
  * mis-deriving every domain under them.
  */
class PslLoaderSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSession.spark

  // Representative fragment in the PUBLISHED format (the ck/jp/uk/us
  // rules are verbatim list content; *.foo.jp/!bar.foo.jp is the
  // synthetic non-city exception the curated construction never had)
  private val fragment =
    """// This fragment follows the publicsuffix.org list format.
      |// ===BEGIN ICANN DOMAINS===
      |
      |// ck : https://en.wikipedia.org/wiki/.ck
      |*.ck
      |!www.ck
      |
      |// jp
      |jp
      |co.jp
      |*.kawasaki.jp
      |!city.kawasaki.jp
      |// a wildcard whose exception is NOT city.<parent>
      |*.foo.jp
      |!bar.foo.jp
      |
      |// uk
      |uk
      |co.uk  // trailing comment after whitespace is ignored per spec
      |gov.uk
      |
      |// us
      |us
      |k12.ca.us
      |
      |// ===END ICANN DOMAINS===
      |// ===BEGIN PRIVATE DOMAINS===
      |example.dev
      |// ===END PRIVATE DOMAINS===
      |""".stripMargin

  test("fragment parses into the class-split rule shape") {
    val r = PublicSuffixes.parseList(fragment)
    assert(r.oneLevel == Seq("jp", "uk", "us"))
    assert(r.twoLevel == Seq("co.jp", "co.uk", "gov.uk", "example.dev"))
    assert(r.threeLevel == Seq("k12.ca.us"))
    assert(r.wildOneParents == Seq("ck"))
    assert(r.wildTwoParents == Seq("kawasaki.jp", "foo.jp"))
    assert(r.excTwo == Seq("www.ck"))
    assert(r.excThree == Seq("city.kawasaki.jp", "bar.foo.jp"))
  }

  test("parsed rules drive the derivation (withRegDomain rules param)") {
    import spark.implicits._
    val rules = PublicSuffixes.parseList(fragment)
    val hosts = Seq(
      "a.b.ck" -> "a.b.ck", // wildcard *.ck: b.ck is the suffix
      "www.ck" -> "www.ck", // exception: registrable itself
      "deep.www.ck" -> "www.ck", // exception governs deeper hosts
      "x.shop.kawasaki.jp" -> "x.shop.kawasaki.jp", // city wildcard
      "city.kawasaki.jp" -> "city.kawasaki.jp", // city exception
      "a.bar.foo.jp" -> "bar.foo.jp", // the NON-city exception
      "x.y.foo.jp" -> "x.y.foo.jp", // *.foo.jp wildcard
      "site.co.uk" -> "site.co.uk", // exact 2-label rule
      "d.k12.ca.us" -> "d.k12.ca.us", // exact 3-label rule
      "a.example.dev" -> "a.example.dev", // private-section rule
      "sub.host.jp" -> "host.jp", // 1-label exact == fallback
      "plain.org" -> "plain.org", // no rule: last two labels
    )
    val got = UrlQueries.withRegDomain(
        hosts.map(_._1).toDF("host"),
        org.apache.spark.sql.functions.col("host"), rules = rules)
      .select($"host", $"reg_domain")
      .as[(String, String)].collect().toMap
    for ((h, want) <- hosts)
      assert(got(h) == want, s"host $h: got ${got(h)}, want $want")
  }

  test("out-of-shape rules abort loudly with the line") {
    for (bad <- Seq(
        "a.b.c.d", // 4-label exact
        "*.compute.example.com", // 3-label wildcard parent
        "!deep.city.kawasaki.jp\n*.kawasaki.jp", // 4-label exception
        "a.*.b", // embedded wildcard
        "a..b", // empty label
      )) {
      val ex = intercept[IllegalArgumentException] {
        PublicSuffixes.parseList(s"// header\n$bad\n")
      }
      assert(ex.getMessage.contains("PSL line"),
        s"'$bad' must abort with the offending line, got: ${ex.getMessage}")
    }
  }

  test("class-invariant lints reject misfiled rules at construction") {
    // an exception without a covering wildcard
    intercept[IllegalArgumentException] {
      PublicSuffixes.parseList("!www.example\n")
    }
    // a wildcard parent duplicating an exact rule
    intercept[IllegalArgumentException] {
      PublicSuffixes.parseList("kawasaki.jp\n*.kawasaki.jp\n!city.kawasaki.jp\n")
    }
  }

  test("the curated default round-trips through the list format") {
    // render default as list text, re-parse, compare — the loader and
    // the curated lists describe the same rule universe
    val d = PublicSuffixes.default
    val text = (d.oneLevel ++ d.twoLevel ++ d.threeLevel ++
      d.wildOneParents.map("*." + _) ++ d.wildTwoParents.map("*." + _) ++
      d.excTwo.map("!" + _) ++ d.excThree.map("!" + _)).mkString("\n")
    val r = PublicSuffixes.parseList(text)
    assert(r == d.copy(oneLevel = d.oneLevel))
  }
}
