package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Generates the one-line-per-query catalogue index in COVERAGE.md
  * (between the CATALOG-INDEX markers): name → family → defining
  * file:line → oracle kind. The file:line column is found by scanning
  * the operator sources for the query-name literal at generation time,
  * so the index cannot silently drift from the code; freshness (row
  * count == catalogue size) is pinned by CatalogIndexSpec. Run:
  *
  *   sbt "runMain graft.CatalogIndex"
  */
object CatalogIndex {
  val StartMarker = "<!-- CATALOG-INDEX-START (generated by graft.CatalogIndex; do not edit by hand) -->"
  val EndMarker = "<!-- CATALOG-INDEX-END -->"

  /** File:line of the Q DEFINITION site for each query name: the
    * quoted literal as the first argument of a `Q(` call or of a
    * `…Q(` helper that builds one (`warcRoundtripQ("name", …)`) —
    * either on the same line or with the call ending the previous line.
    * Anchoring to the constructor (rather than any quoted occurrence)
    * means a usage/doc string mentioning the name in an
    * earlier-sorting file cannot mislabel the column. Falls back to
    * the first quoted occurrence only if no definition-shaped site
    * exists (and then only so the row renders; CatalogIndexSpec still
    * pins freshness).
    */
  private def locations(names: Set[String]): Map[String, String] = {
    val root = Paths.get("src/main/scala/graft")
    val defSite = scala.collection.mutable.Map[String, String]()
    val anySite = scala.collection.mutable.Map[String, String]()
    Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .toSeq.sortBy(_.toString)
      .foreach { p =>
        val lines = Files.readAllLines(p).asScala
        lines.zipWithIndex.foreach { case (line, i) =>
          names.foreach { n =>
            val lit = "\"" + n + "\""
            if (line.contains(lit)) {
              if (!anySite.contains(n)) anySite(n) = s"${p.toString}:${i + 1}"
              val sameLine = line.matches(""".*\b\w*Q\(\s*"""" + java.util.regex.Pattern.quote(n) + "\".*")
              val prevLine = i > 0 && lines(i - 1).matches(""".*\b\w*Q\(\s*""") &&
                line.trim.startsWith(lit)
              if (!defSite.contains(n) && (sameLine || prevLine))
                defSite(n) = s"${p.toString}:${i + 1}"
            }
          }
        }
      }
    (anySite ++ defSite).toMap
  }

  def render(): String = {
    val names = QueryCatalog.all.map(_.name).toSet
    val locs = locations(names)
    val sb = new StringBuilder
    sb.append(StartMarker).append('\n')
    sb.append(s"\n## Catalogue index (${QueryCatalog.all.size} entries)\n\n")
    sb.append("Generated by `graft.CatalogIndex`; row count is pinned to ")
    sb.append("`QueryCatalog.all.size` by `CatalogIndexSpec`. Oracle kind: ")
    sb.append("`SQL` = DuckDB replay gated by the driver's t2 hash compare; ")
    sb.append("`rows-only` = no SQL surface (gated by ScalaTest replay/golden ")
    sb.append("suites instead).\n\n")
    sb.append("| query | family | defined at | oracle |\n")
    sb.append("|---|---|---|---|\n")
    QueryCatalog.groups.foreach { case (family, qs) =>
      qs.foreach { q =>
        val loc = locs.getOrElse(q.name, "?")
        val kind = if (q.oracle.isDefined) "SQL" else "rows-only"
        sb.append(s"| `${q.name}` | $family | $loc | $kind |\n")
      }
    }
    sb.append('\n').append(EndMarker).append('\n')
    sb.toString
  }

  def main(args: Array[String]): Unit = {
    val target = Paths.get(args.headOption.getOrElse("COVERAGE.md"))
    val prev = new String(Files.readAllBytes(target), "UTF-8")
    val section = render()
    val next =
      if (prev.contains(StartMarker)) {
        val start = prev.indexOf(StartMarker)
        val end = prev.indexOf(EndMarker) + EndMarker.length
        prev.substring(0, start) + section.stripSuffix("\n") + prev.substring(end)
      } else prev.stripSuffix("\n") + "\n\n" + section
    Files.write(target, next.getBytes("UTF-8"))
    println(s"[catalog-index] wrote ${QueryCatalog.all.size} rows to $target")
  }
}
