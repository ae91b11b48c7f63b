package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.sources.SitemapSource

/** Edge-case pins for the sitemap source the q83 round-trip gate
  * cannot isolate: priority defaulting and the 1.0 boundary, missing
  * lastmod, malformed blocks, and the per-host rank tie-breaks. */
class SitemapSourceSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("parse: priority tenths, defaults, missing lastmod, malformed blocks") {
    val xml =
      "<url><loc>https://a/1</loc><lastmod>2026-02-03</lastmod>" +
        "<priority>0.8</priority></url>" +
        "<url><loc>https://a/2</loc><priority>1.0</priority></url>" +
        "<url><loc>https://a/3</loc><lastmod>2026-02-04</lastmod></url>" +
        "<url><loc>https://a/4</loc><priority>1</priority></url>" +
        "<url><loc>https://a/5</loc><priority>x</priority></url>" +
        "<url><loc>https://a/6</loc><priority>0.85</priority></url>" +
        "<url><loc>https://a/7</loc><priority>1.00</priority></url>" +
        "<url>no loc here</url>"
    val out = SitemapSource.parse(Seq(("h", xml)).toDF("host", "xml"), "xml")
      .collect().map(r => (r.getAs[String]("loc"),
        Option(r.getAs[java.sql.Date]("lastmod")).map(_.toString),
        r.getAs[Int]("priority_x10")))
    assert(out.length === 8)
    assert(out(0) === (("https://a/1", Some("2026-02-03"), 8)))
    assert(out(1) === (("https://a/2", None, 10)))
    assert(out(2) === (("https://a/3", Some("2026-02-04"), 5))) // default
    assert(out(3) === (("https://a/4", None, 10))) // bare "1"
    assert(out(4) === (("https://a/5", None, 5))) // malformed priority
    assert(out(5) === (("https://a/6", None, 8))) // 0.85 floors to 8
    assert(out(6) === (("https://a/7", None, 10))) // 1.00
    assert(out(7)._1 === "") // malformed block: empty loc, caller filters
  }

  test("parse: pretty-printed multi-line sitemaps and XML-escaped locs") {
    // real-world sitemaps put child tags on their own lines — without
    // (?s) DOTALL every such <url> block silently parsed to zero
    // entries (r5 advice finding); and locs with query params arrive
    // &amp;-escaped and must unescape to the raw crawl URL form
    val xml =
      """<?xml version="1.0" encoding="UTF-8"?>
        |<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
        |  <url>
        |    <loc>https://a/q?x=1&amp;y=2</loc>
        |    <lastmod>2026-03-04</lastmod>
        |    <priority>0.7</priority>
        |  </url>
        |  <url>
        |    <loc>
        |      https://a/own-line
        |    </loc>
        |    <lastmod>
        |      2026-03-05
        |    </lastmod>
        |    <priority>
        |      0.9
        |    </priority>
        |  </url>
        |  <url>
        |    <loc>https://a/amp-literal?t=&amp;lt;tag&amp;gt;</loc>
        |  </url>
        |</urlset>""".stripMargin
    val out = SitemapSource.parse(Seq(("h", xml)).toDF("host", "xml"), "xml")
      .collect().map(r => (r.getAs[String]("loc"),
        Option(r.getAs[java.sql.Date]("lastmod")).map(_.toString),
        r.getAs[Int]("priority_x10")))
    assert(out.length === 3, s"multi-line blocks dropped: ${out.toSeq}")
    assert(out(0) === (("https://a/q?x=1&y=2", Some("2026-03-04"), 7)))
    // values on their OWN lines must come out trimmed — an untrimmed
    // loc would never match a crawled URL in the freshness anti-join
    assert(out(1) === (("https://a/own-line", Some("2026-03-05"), 9)))
    // double-escaped entities decode one level only
    assert(out(2)._1 === "https://a/amp-literal?t=&lt;tag&gt;")
  }

  test("parse: numeric character references in locs decode to the raw URL") {
    // decimal and hex references are as legal in a loc as &amp;; the
    // decoded loc must equal the crawled URL for the freshness
    // anti-join to drop it
    val crawled = "https://a/q/r?x=1&y=2&z=3&p=\u00e9/\ud83d\ude00"
    val xml =
      "<url><loc>https:&#x2F;&#x2f;a&#47;q&#x0000002F;r?x=1&#38;y=2" +
        // zero-padded references are legal too
        "&#00000038;z=3&amp;p=&#233;&#x2F;&#x1F600;</loc></url>" +
        // one level only, and invalid references stay as they are
        "<url><loc>https://a/r?t=&#38;amp;&#0;&#xD800;&#1114112;&#x;" +
        "&#99999999999;</loc></url>"
    val entries = SitemapSource.parse(Seq(("h", xml)).toDF("host", "xml"),
      "xml")
    val locs = entries.collect().map(_.getAs[String]("loc")).toSeq
    assert(locs === Seq(crawled,
      "https://a/r?t=&amp;&#0;&#xD800;&#1114112;&#x;&#99999999999;"))
    val fresh = SitemapSource.freshCandidates(entries,
        Seq(crawled).toDF("url"), "url")
      .collect().map(_.getAs[String]("loc")).toSeq
    assert(fresh === locs.drop(1))
  }

  test("prioritize: priority desc, then lastmod desc with nulls last, then loc") {
    val entries = Seq(
      ("h", "https://a/p1", Some("2026-01-01"), 5),
      ("h", "https://a/p2", Some("2026-01-09"), 5),
      ("h", "https://a/p3", None, 5),
      ("h", "https://a/p4", Some("2026-01-01"), 9))
      .toDF("host", "loc", "lm", "priority_x10")
      .withColumn("lastmod", to_date($"lm")).drop("lm")
    val rks = SitemapSource.prioritize(entries, "host")
      .collect().map(r => r.getAs[String]("loc") -> r.getAs[Long]("rk"))
      .toMap
    assert(rks === Map("https://a/p4" -> 1L, "https://a/p2" -> 2L,
      "https://a/p1" -> 3L, "https://a/p3" -> 4L))
  }

  test("freshCandidates: anti-join drops exactly the seen locs") {
    val entries = Seq(("h", "u1", 5), ("h", "u2", 5), ("h", "u3", 5))
      .toDF("host", "loc", "priority_x10")
    val seen = Seq("u2").toDF("url")
    val out = SitemapSource.freshCandidates(entries, seen, "url")
      .collect().map(_.getAs[String]("loc")).sorted.toSeq
    assert(out === Seq("u1", "u3"))
  }
}
