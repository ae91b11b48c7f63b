package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sitemap ingestion — the discovery source the reference crawler
  * never needed (it enumerates a fixed portal list, src/main.py:60)
  * but a web-scale frontier leans on: sitemaps.org XML advertises a
  * site's URLs with `lastmod` and `priority`, and polite crawlers
  * seed from it before link discovery (robots.txt points at it via
  * the `Sitemap:` directive, RFC 9309 §2.3 custom extension).
  *
  * Everything here is codegen built-ins — regexp extraction, date
  * parse, window rank — except the per-`loc` [[unescape]] UDF; no XML
  * library (sitemap XML is flat
  * enough that the sitemaps.org schema's `<url>` blocks are regular,
  * and a full parser would put JVM objects in the hot path for no
  * accuracy gain on well-formed feeds; malformed blocks yield empty
  * `loc` rows the caller filters).
  *
  * Scale shape: [[parse]] is map-side only (explode of per-document
  * regexp matches — one sitemap row fans out to its URL entries in
  * place, nothing shuffles). [[freshCandidates]] is one anti-join on
  * the canonical URL (AQE broadcasts the smaller side). [[prioritize]]
  * is one host-partitioned rank window; its `rk` bounds per-host
  * fetch order for the budget stage ([[graft.frontier.BudgetAllocator
  * .capPerHost]] consumes exactly this shape).
  */
object SitemapSource {

  private val charRef =
    "&(lt|gt|quot|apos|amp|#[0-9]+|#[xX][0-9a-fA-F]+);".r.pattern

  /** XML-unescape one `loc` value: the five predefined entities and
    * decimal/hex numeric character references (`&#38;`, `&#x2F;`, any
    * number of digits) in ONE left-to-right pass, so each reference is
    * decoded exactly once — `&amp;lt;` yields `&lt;` and `&#38;amp;`
    * yields `&amp;` (the text they encode). A numeric reference that
    * is not a Unicode scalar value (0, surrogates, > U+10FFFF) stays
    * as written. */
  private[sources] def unescape(s: String): String =
    if (s == null) null
    else charRef.matcher(s).replaceAll { (m: java.util.regex.MatchResult) =>
      val name = m.group(1)
      val out = name match {
        case "lt" => "<"
        case "gt" => ">"
        case "quot" => "\""
        case "apos" => "'"
        case "amp" => "&"
        case _ =>
          val hex = name.charAt(1) == 'x' || name.charAt(1) == 'X'
          val cp = scala.util.Try(Integer.parseInt(
            name.substring(if (hex) 2 else 1), if (hex) 16 else 10))
            .getOrElse(-1)
          if (cp > 0 && cp <= Character.MAX_CODE_POINT &&
              (cp < Character.MIN_SURROGATE || cp > Character.MAX_SURROGATE))
            new String(Character.toChars(cp))
          else m.group()
      }
      java.util.regex.Matcher.quoteReplacement(out)
    }

  /** Parse a string column of sitemap XML into one row per `<url>`
    * entry: `(…passthrough cols…, loc, lastmod, priority_x10)`.
    * `priority` (sitemaps.org: 0.0-1.0, default 0.5) is kept as an
    * exact INTEGER tenth (`0.8` → 8, `1.0` → 10, absent → 5) so
    * downstream ordering never depends on float parsing; `lastmod`
    * is a DATE (absent → null). */
  def parse(df: DataFrame, xmlCol: String): DataFrame = {
    // (?s) = DOTALL: real-world sitemaps are pretty-printed with child
    // tags on their own lines, and without it '.' stops at newlines and
    // a multi-line <url> block silently yields zero entries (r5 advice
    // finding; single-line feeds parse identically)
    val block = explode(
      expr(s"regexp_extract_all($xmlCol, '(?s)<url>(.*?)</url>', 1)"))
    val passthrough = df.columns.filter(_ != xmlCol).map(col).toSeq
    // XML-unescape loc: sitemap URLs with query parameters arrive as
    // &amp;-escaped text and must match the crawl's RAW canonical URLs
    // in freshCandidates' anti-join (r5 advice finding — an escaped loc
    // never matched and re-emitted seen URLs as fresh).
    val unescapeLoc = udf(unescape _)
    // trim() on loc/lastmod: a pretty-printed sitemap puts the VALUE on
    // its own line inside the tag, and an untrimmed loc would never
    // match the crawl's raw canonical URL in freshCandidates' anti-join
    // (whitespace-insignificant per sitemaps.org/XML text content)
    // (regexp-based trim: Spark's trim() strips only the space
    // character, not the newlines pretty-printing introduces)
    def wsTrim(c: org.apache.spark.sql.Column) =
      regexp_replace(c, lit("^\\s+|\\s+$"), lit(""))
    df.select(passthrough :+ block.as("u"): _*)
      .select(passthrough ++ Seq(
        unescapeLoc(wsTrim(
          regexp_extract(col("u"), "(?s)<loc>(.*?)</loc>", 1)))
          .as("loc"),
        to_date(nullif(wsTrim(
          regexp_extract(col("u"), "(?s)<lastmod>(.*?)</lastmod>", 1)),
          lit(""))).as("lastmod"),
        {
          // absent OR malformed priority → sitemaps.org default 0.5;
          // multi-decimal values (0.85, 1.00) floor to their tenth;
          // nullif keeps the ANSI int casts off empty extracts
          // \s* admits pretty-printed values on their own line (the
          // loc/lastmod trim's analog for a structured regex)
          val rx = "<priority>\\s*([01])(?:\\.(\\d+))?\\s*</priority>"
          val whole = nullif(regexp_extract(col("u"), rx, 1), lit(""))
          val tenth = nullif(substring(
            regexp_extract(col("u"), rx, 2), 1, 1), lit(""))
          coalesce(whole.cast("int") * 10 +
            coalesce(tenth.cast("int"), lit(0)), lit(5))
            .as("priority_x10")
        }): _*)
  }

  /** Entries not yet in the seen set: one left-anti join on the URL
    * column — the sitemap analog of the crawl's keep-first URL dedup
    * (D1). `seen` carries the already-crawled URLs in `seenCol`. */
  def freshCandidates(entries: DataFrame, seen: DataFrame,
      seenCol: String): DataFrame =
    entries.join(seen.select(col(seenCol).as("loc")), Seq("loc"),
      "left_anti")

  /** Per-host fetch order from the advertised metadata: rank by
    * (priority DESC, lastmod DESC NULLS LAST, loc ASC) within each
    * host — deterministic, and shaped for
    * [[graft.frontier.BudgetAllocator.capPerHost]]. */
  def prioritize(entries: DataFrame, hostCol: String): DataFrame = {
    val w = Window.partitionBy(col(hostCol))
      .orderBy(col("priority_x10").desc, col("lastmod").desc_nulls_last,
        col("loc").asc)
    entries.withColumn("rk", row_number().over(w).cast("long"))
  }
}
