package graft.urls

import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/**
 * RFC 3986 URL canonicalization + reference resolution.
 *
 * The reference relies on Scrapy's request fingerprinting (w3lib
 * `canonicalize_url`) for its dupefilter and on `urllib.parse.urljoin`
 * at extraction time (/root/reference/crawler/utils/scrape.py:13-17,
 * /root/reference/crawler/spiders/__init__.py:178). This is our own
 * from-scratch implementation of the same public specs:
 *
 *  - scheme + host lowercased
 *  - default port stripped (http:80, https:443)
 *  - dot-segments removed (RFC 3986 §5.2.4)
 *  - percent-encodings of unreserved characters decoded; remaining
 *    percent triplets uppercased
 *  - query parameters sorted by (key, value) — matches w3lib semantics
 *  - fragment dropped
 *  - empty path → "/"
 *
 * Implemented with a hand-rolled RFC 3986 appendix-B parser rather than
 * `java.net.URI` because crawl URLs routinely contain raw non-ASCII
 * (Japanese) characters that `URI` rejects.
 */
object UrlCanon {

  /** RFC 3986 appendix B, without regex backtracking surprises. */
  final case class Parts(
      scheme: String,
      authority: String, // may be null (no //)
      path: String,
      query: String, // null if absent
      fragment: String) // null if absent

  def parse(url: String): Parts = {
    var rest = url
    var fragment: String = null
    val hashIdx = rest.indexOf('#')
    if (hashIdx >= 0) { fragment = rest.substring(hashIdx + 1); rest = rest.substring(0, hashIdx) }
    var query: String = null
    val qIdx = rest.indexOf('?')
    if (qIdx >= 0) { query = rest.substring(qIdx + 1); rest = rest.substring(0, qIdx) }
    var scheme: String = null
    val colonIdx = rest.indexOf(':')
    if (colonIdx > 0 && rest.substring(0, colonIdx).forall(c => c.isLetterOrDigit || c == '+' || c == '-' || c == '.')
      && rest.head.isLetter) {
      scheme = rest.substring(0, colonIdx)
      rest = rest.substring(colonIdx + 1)
    }
    var authority: String = null
    if (rest.startsWith("//")) {
      val afterSlashes = rest.substring(2)
      val end = afterSlashes.indexWhere(c => c == '/' || c == '?' || c == '#') match {
        case -1 => afterSlashes.length
        case i => i
      }
      authority = afterSlashes.substring(0, end)
      rest = afterSlashes.substring(end)
    }
    Parts(scheme, authority, rest, query, fragment)
  }

  /** RFC 3986 §5.2.4 remove_dot_segments. */
  def removeDotSegments(path: String): String = {
    val out = new scala.collection.mutable.ArrayBuffer[String]()
    var in = path
    while (in.nonEmpty) {
      if (in.startsWith("../")) in = in.substring(3)
      else if (in.startsWith("./")) in = in.substring(2)
      else if (in.startsWith("/./")) in = "/" + in.substring(3)
      else if (in == "/.") in = "/"
      else if (in.startsWith("/../")) { in = "/" + in.substring(4); if (out.nonEmpty) out.remove(out.length - 1) }
      else if (in == "/..") { in = "/"; if (out.nonEmpty) out.remove(out.length - 1) }
      else if (in == "." || in == "..") in = ""
      else {
        val start = if (in.startsWith("/")) 1 else 0
        val nextSlash = in.indexOf('/', start)
        val end = if (nextSlash == -1) in.length else nextSlash
        out += in.substring(0, end)
        in = in.substring(end)
      }
    }
    out.mkString
  }

  private def isUnreserved(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9') ||
      c == '-' || c == '.' || c == '_' || c == '~'

  /** Decode %XX of unreserved chars; uppercase remaining triplets. */
  def normalizePercent(s: String): String = {
    if (s == null || s.indexOf('%') < 0) return s
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length && isHex(s.charAt(i + 1)) && isHex(s.charAt(i + 2))) {
        val v = Integer.parseInt(s.substring(i + 1, i + 3), 16)
        if (v < 128 && isUnreserved(v.toChar)) sb.append(v.toChar)
        else { sb.append('%').append(Character.toUpperCase(s.charAt(i + 1))).append(Character.toUpperCase(s.charAt(i + 2))) }
        i += 3
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  private def isHex(c: Char): Boolean =
    (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')

  private def normalizeAuthority(auth: String, scheme: String): String = {
    if (auth == null) return null
    val at = auth.lastIndexOf('@')
    val (userinfo, hostport) = if (at >= 0) (auth.substring(0, at + 1), auth.substring(at + 1)) else ("", auth)
    // IPv6 literal: [..]:port
    val (host, port) =
      if (hostport.startsWith("[")) {
        val close = hostport.indexOf(']')
        if (close >= 0 && close + 1 < hostport.length && hostport.charAt(close + 1) == ':')
          (hostport.substring(0, close + 1), hostport.substring(close + 2))
        else (hostport, "")
      } else {
        val colon = hostport.lastIndexOf(':')
        if (colon >= 0 && hostport.substring(colon + 1).forall(_.isDigit))
          (hostport.substring(0, colon), hostport.substring(colon + 1))
        else (hostport, "")
      }
    val lhost = host.toLowerCase
    val defaultPort = scheme match {
      case "http" => "80"
      case "https" => "443"
      case "ftp" => "21"
      case _ => null
    }
    val keepPort = port.nonEmpty && port != defaultPort
    userinfo + lhost + (if (keepPort) ":" + port else "")
  }

  private def sortQuery(q: String): String = {
    if (q == null || q.isEmpty) return q
    val parts = q.split("&", -1).toSeq.map(normalizePercent)
    parts.sorted.mkString("&")
  }

  /** Zero-allocation scan: true iff `url` is provably already in canonical
    * form (http/https, lowercase host, no port, non-empty path, no
    * dot-segments, no %-escapes, no query/fragment, no userinfo). The hot
    * crawl path is dominated by already-canonical absolute URLs; this
    * avoids ~20 string allocations per candidate. */
  def isCanonicalFast(url: String): Boolean = {
    val n = url.length
    val schemeLen =
      if (url.startsWith("https://")) 8
      else if (url.startsWith("http://")) 7
      else return false
    var i = schemeLen
    // authority: [a-z0-9.-] only (no port, no userinfo, no IPv6, no caps)
    var sawHostChar = false
    while (i < n && url.charAt(i) != '/') {
      val c = url.charAt(i)
      if (!((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') || c == '.' || c == '-')) return false
      sawHostChar = true
      i += 1
    }
    if (!sawHostChar || i >= n) return false // empty path -> needs '/'
    // path: no %, ?, #, uppercase ok; reject '.' segments and '//'
    var prev = ' '
    while (i < n) {
      val c = url.charAt(i)
      if (c == '%' || c == '?' || c == '#' || c <= ' ') return false // incl. ws: slow path trims
      if (c == '/' && prev == '/') return false
      if (c == '.' && prev == '/') return false // conservative: any '/.'
      prev = c
      i += 1
    }
    true
  }

  /** True iff `path` (starting with '/') has no dot-segments, '//',
    * %-escapes, query/fragment, or whitespace — so `removeDotSegments`
    * and percent-normalization are the identity on it. */
  private def isSimplePath(path: String): Boolean = {
    var prev = ' '
    var i = 0
    val n = path.length
    while (i < n) {
      val c = path.charAt(i)
      if (c == '%' || c == '?' || c == '#' || c <= ' ') return false
      if (c == '/' && prev == '/') return false
      if (c == '.' && prev == '/') return false
      prev = c
      i += 1
    }
    true
  }

  /** Canonical form used as the dedup key (Scrapy-fingerprint analogue). */
  def canonicalize(url: String): String = {
    if (isCanonicalFast(url)) return url
    canonicalizeSlow(url)
  }

  private[urls] def canonicalizeSlow(url: String): String = {
    val p = parse(url.trim)
    val scheme = if (p.scheme == null) "http" else p.scheme.toLowerCase
    val auth = normalizeAuthority(p.authority, scheme)
    var path = normalizePercent(removeDotSegments(p.path))
    if (auth != null && path.isEmpty) path = "/"
    val q = sortQuery(p.query)
    val sb = new StringBuilder
    sb.append(scheme).append(':')
    if (auth != null) sb.append("//").append(auth)
    sb.append(path)
    if (q != null) sb.append('?').append(q)
    sb.toString
  }

  /** RFC 3986 §5.2.2 transform references — `urljoin(base, ref)`. */
  def resolve(base: String, ref: String): String = {
    if (ref == null || ref.isEmpty) return base
    // fast path: absolute http(s) ref with a clean path needs no merging
    // and removeDotSegments would be the identity
    if (isCanonicalFast(ref)) return ref
    // fast path: root-relative simple ref against a canonical-fast base —
    // RFC 3986 §5.2.2 reduces to scheme://host + ref (this is the dominant
    // shape of same-site links on the crawl path)
    if (ref.charAt(0) == '/' && isSimplePath(ref) && isCanonicalFast(base)) {
      val start = if (base.charAt(4) == 's') 8 else 7
      val slash = base.indexOf('/', start)
      return base.substring(0, slash) + ref
    }
    val r = parse(ref)
    val b = parse(base)
    var (scheme, auth, path, query) = (r.scheme, r.authority, r.path, r.query)
    if (r.scheme != null) {
      path = removeDotSegments(r.path)
    } else {
      scheme = b.scheme
      if (r.authority != null) {
        path = removeDotSegments(r.path)
      } else {
        auth = b.authority
        if (r.path.isEmpty) {
          path = b.path
          if (r.query == null) query = b.query
        } else if (r.path.startsWith("/")) {
          path = removeDotSegments(r.path)
        } else {
          val merged =
            if (b.authority != null && b.path.isEmpty) "/" + r.path
            else {
              val slash = b.path.lastIndexOf('/')
              if (slash >= 0) b.path.substring(0, slash + 1) + r.path else r.path
            }
          path = removeDotSegments(merged)
        }
      }
    }
    val sb = new StringBuilder
    if (scheme != null) sb.append(scheme).append(':')
    if (auth != null) sb.append("//").append(auth)
    sb.append(path)
    if (query != null) sb.append('?').append(query)
    if (r.fragment != null) sb.append('#').append(r.fragment)
    sb.toString
  }

  /** Lowercased host of a URL ("" if none). */
  /** [[hostOf]] that returns `prev` ITSELF (zero allocation) when the
    * URL's host region is exactly `prev`. The parse stage's links are
    * overwhelmingly same-host, so the per-candidate host substring — one
    * of the last per-link allocations on the crawl hot path — disappears;
    * callers detect the match with `eq` and skip re-bucketing too. */
  def hostOfOrSame(url: String, prev: String): String = {
    if (prev != null && isCanonicalFast(url)) {
      val start = if (url.charAt(4) == 's') 8 else 7
      val end = url.indexOf('/', start)
      if (end - start == prev.length && url.regionMatches(start, prev, 0, prev.length))
        return prev
      return url.substring(start, end)
    }
    hostOf(url)
  }

  def hostOf(url: String): String = {
    if (isCanonicalFast(url)) { // zero-parse fast path
      val start = if (url.charAt(4) == 's') 8 else 7
      return url.substring(start, url.indexOf('/', start))
    }
    val auth = parse(url).authority
    if (auth == null) return ""
    val at = auth.lastIndexOf('@')
    val hp = if (at >= 0) auth.substring(at + 1) else auth
    val host =
      if (hp.startsWith("[")) hp.substring(0, hp.indexOf(']') + 1)
      else {
        val colon = hp.lastIndexOf(':')
        if (colon >= 0 && hp.substring(colon + 1).forall(_.isDigit)) hp.substring(0, colon) else hp
      }
    host.toLowerCase
  }

  /** Same value as Spark SQL's `xxhash64(string)` (seed 42) — one hash
    * shared by the DataFrame plane and the Scala-side seen state. */
  def urlHash(canonical: String): Long =
    XxHash64Function.hash(UTF8String.fromString(canonical), StringType, 42L)

  /** Second, independent 64-bit hash (seed 7919): (urlHash, urlHash2) is
    * the engine's 128-bit dedup key — collision-proof at 10^10-URL scale
    * without retaining canonical strings in the membership structure. */
  def urlHash2(canonical: String): Long =
    XxHash64Function.hash(UTF8String.fromString(canonical), StringType, 7919L)

  /** Host partitioning bucket (non-negative). */
  def hostBucket(host: String, buckets: Int): Int = {
    val h = XxHash64Function.hash(UTF8String.fromString(host), StringType, 42L)
    ((h % buckets) + buckets).toInt % buckets
  }
}
