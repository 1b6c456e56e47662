package graft.ingest

import java.io.File
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path}

import scala.util.matching.Regex

/** A1-A2 + A23: DOJ listing scrape, archive download, multi-zip
  * orchestration (import_all.py). Driver-side by nature — a zip must land
  * whole (random-access format) before `NcdIngest.loadZip` fans work out to
  * executors.
  */
object Listing {

  private val Comment: Regex = "(?s)<!--.*?-->".r
  private val AnchorTag: Regex = "(?is)<a\\b[^>]*>".r
  private val HrefAttr: Regex =
    "(?is)\\bhref\\s*=\\s*(?:\"([^\"]*)\"|'([^']*)'|([^\\s>\"']+))".r
  private val EntityRef: Regex = "&(#x?[0-9a-fA-F]+|[a-zA-Z]+);".r

  /** Decode the minimal HTML entity set a DOM parser would (named
    * `&amp; &lt; &gt; &quot; &apos;` plus decimal/hex numeric escapes) —
    * attribute values arrive entity-encoded, and a URL with a literal `&`
    * or quote in its query is otherwise corrupted. Unknown named entities
    * pass through verbatim (matching browser leniency for bare `&`).
    */
  private[ingest] def decodeEntities(s: String): String =
    EntityRef.replaceAllIn(s, m => Regex.quoteReplacement(m.group(1) match {
      case "amp" => "&"
      case "lt" => "<"
      case "gt" => ">"
      case "quot" => "\""
      case "apos" => "'"
      case num if num.startsWith("#") =>
        try {
          val cp = if (num.startsWith("#x") || num.startsWith("#X"))
            Integer.parseInt(num.drop(2), 16)
          else Integer.parseInt(num.drop(1))
          Character.toString(cp)
        } catch { // out-of-range codepoint: leave verbatim, like browsers
          case _: IllegalArgumentException => m.matched
        }
      case _ => m.matched // unknown named entity: leave as-is
    }))

  /** Percent-encode characters that are illegal in a URI — entity decoding
    * can surface them (`&lt;` → `<`, `&#233;` → `é`, `&#37;` → `%`), and
    * browsers encode them the same way when resolving; without this
    * `URI.resolve` would throw and take the whole listing down. Matching
    * browser href resolution: a stray `%` not followed by two hex digits is
    * encoded as `%25` (an existing valid escape passes through untouched),
    * and anything outside printable ASCII is UTF-8 percent-encoded.
    */
  // a STRICT IPv6 literal only (hex, colons, dots for v4-mapped tails,
  // plus an RFC 6874 percent-ENCODED zone ID: `[fe80::1%25eth0]`) — a
  // permissive [^]]* window would pass raw '%'/spaces/non-ASCII through
  // unescaped, reintroducing the URI-throws failure this function prevents
  private val Ipv6Authority =
    "^[a-zA-Z][a-zA-Z0-9+.-]*://\\[[0-9a-fA-F:.]+(?:%25[0-9a-zA-Z._~-]+)?\\]".r

  private def escapeForUri(s: String): String = {
    def isHex(c: Char) = (c >= '0' && c <= '9') ||
      (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')
    val out = new StringBuilder(s.length)
    // brackets are legal ONLY in an IPv6 authority (`http://[::1]/x.zip`)
    // — pass that prefix through verbatim, then escape bracket characters
    // anywhere else (`data[2020].zip`), where URI.create would throw
    var i = Ipv6Authority.findPrefixOf(s).map { p =>
      out.append(p); p.length
    }.getOrElse(0)
    while (i < s.length) {
      s.charAt(i) match {
        case c @ (' ' | '<' | '>' | '"' | '{' | '}' | '|' | '\\' | '^' |
                  '`' | '[' | ']') =>
          out.append(f"%%${c.toInt}%02X")
        case '%' if i + 2 >= s.length ||
            !isHex(s.charAt(i + 1)) || !isHex(s.charAt(i + 2)) =>
          out.append("%25")
        case c if c < 0x20 || c > 0x7E =>
          // UTF-8 percent-encode; surrogate pairs consume two chars
          val end = if (Character.isHighSurrogate(c) && i + 1 < s.length &&
            Character.isLowSurrogate(s.charAt(i + 1))) i + 2 else i + 1
          s.substring(i, end).getBytes(java.nio.charset.StandardCharsets.UTF_8)
            .foreach(b => out.append(f"%%${b & 0xFF}%02X"))
          i = end - 1
        case c => out.append(c)
      }
      i += 1
    }
    out.toString
  }

  /** A1: extract `.zip` hrefs from an HTML listing page, resolved against
    * the page URL with the scheme forced to https (import_all.py:38-68).
    *
    * The reference uses a DOM parser with a CSS selector; this is a
    * tolerant anchor-tag scan with the same observable behavior — it
    * survives attribute reordering, unquoted/single-quoted hrefs, mixed
    * case, `&amp;`-entity URLs, and commented-out markup, without pulling
    * an HTML-parser dependency into the engine.
    */
  def zipUrls(pageHtml: String, pageUrl: String): Seq[String] = {
    val base = URI.create(pageUrl)
    AnchorTag.findAllIn(Comment.replaceAllIn(pageHtml, "")).toVector
      .flatMap { tag =>
        HrefAttr.findFirstMatchIn(tag).map { m =>
          Option(m.group(1)).orElse(Option(m.group(2))).getOrElse(m.group(3))
        }
      }
      .map(h => escapeForUri(decodeEntities(h.trim)))
      // the reference's selector is a[href$=".zip"]: case-sensitive suffix
      // over the WHOLE href (a ?query-suffixed zip URL does not match)
      .filter(_.endsWith(".zip"))
      .distinct
      // one unresolvable href (malformed beyond what escapeForUri covers)
      // drops THAT link, never the whole listing
      .flatMap(href => scala.util.Try(base.resolve(href)).toOption)
      .map { u =>
        if (u.getScheme == "https") u.toString
        else new URI("https", u.getAuthority, u.getPath, u.getQuery,
          u.getFragment).toString
      }
  }

  /** A2: streaming download to a temp file. */
  def download(url: String, client: HttpClient =
      HttpClient.newHttpClient()): Path = {
    val dest = Files.createTempFile("ncd_download_", ".zip")
    val request = HttpRequest.newBuilder(URI.create(url)).GET().build()
    client.send(request, HttpResponse.BodyHandlers.ofFile(dest))
    dest
  }

  /** A23, pipelined: the 2-deep download/ingest overlap the reference
    * wanted but never finished (README.md:83-87) — zip N+1 downloads while
    * zip N ingests. Load order (and therefore catalog state) stays
    * deterministic; only the fetches overlap.
    */
  def loadAllPipelined(ingest: NcdIngest, listingUrl: String,
                       fetchPage: String => String,
                       fetchZip: String => Path)(
      implicit ec: scala.concurrent.ExecutionContext): Seq[String] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    val urls = zipUrls(fetchPage(listingUrl), listingUrl)
    if (urls.isEmpty) return Seq.empty
    var next: Future[Path] = Future(fetchZip(urls.head))
    urls.zipWithIndex.flatMap { case (_, i) =>
      val zipPath = Await.result(next, Duration.Inf)
      if (i + 1 < urls.size) next = Future(fetchZip(urls(i + 1)))
      try ingest.loadZip(zipPath.toString)
      finally Files.deleteIfExists(zipPath)
    }
  }
}
