package graft.fetch

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import graft.SparkTestSession
import graft.engine.{CrawlConfig, FollowAllLinks, PageParser, SeedSpec, WaveEngine}
import org.scalatest.funsuite.AnyFunSuite

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

class RobotsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("parse: wildcard group, comments, empty disallow, blanket disallow") {
    val txt =
      """# politeness first
        |User-agent: *
        |Disallow: /admin/   # trailing comment
        |Disallow: /search
        |Disallow:
        |
        |User-agent: evilbot
        |Disallow: /
        |""".stripMargin
    assert(Robots.parse(txt) == Seq("/admin/", "/search"))
    assert(Robots.parse(txt, agent = "evilbot/1.0") == Seq("/"))
  }

  test("parse: most specific agent group wins; stacked user-agent lines share a group") {
    val txt =
      """User-agent: graft-crawler
        |User-agent: otherbot
        |Disallow: /private
        |
        |User-agent: *
        |Disallow: /all
        |""".stripMargin
    assert(Robots.parse(txt, agent = "graft-crawler/0.1") == Seq("/private"))
    assert(Robots.parse(txt, agent = "unrelated") == Seq("/all"))
    assert(Robots.parse("", agent = "x").isEmpty)
  }

  test("parse: a specifically-matching allow-all group overrides the * group (RFC 9309)") {
    val txt =
      """User-agent: graft-crawler
        |Disallow:
        |
        |User-agent: *
        |Disallow: /
        |""".stripMargin
    assert(Robots.parse(txt, agent = "graft-crawler/0.1").isEmpty) // unrestricted
    assert(Robots.parse(txt, agent = "someone-else") == Seq("/"))
  }

  test("parse: wildcard rules truncate conservatively (never fetch a forbidden page)") {
    val txt =
      """User-agent: *
        |Disallow: /private*
        |Disallow: /*.pdf
        |Disallow: /exact$
        |""".stripMargin
    val rules = Map("h" -> Robots.parse(txt))
    // "/private*" ≡ prefix "/private"; "/*.pdf" over-blocks to "/";
    // "/exact$" over-blocks to prefix "/exact" — skipping allowed pages
    // is acceptable, fetching forbidden ones is not
    assert(Robots.parse(txt) == Seq("/private", "/", "/exact"))
    assert(!Robots.allowed(rules, "https://h/private/x"))
    assert(!Robots.allowed(rules, "https://h/a.pdf"))
    assert(!Robots.allowed(rules, "https://h/exact"))
  }

  test("parsePolicy: Crawl-delay — group-scoped, specific overrides *, junk ignored, max wins") {
    val txt =
      """User-agent: *
        |Crawl-delay: 2
        |Crawl-delay: 5
        |Disallow: /a
        |
        |User-agent: graft-crawler
        |Crawl-delay: 0.5
        |
        |User-agent: otherbot
        |Crawl-delay: 60
        |""".stripMargin
    assert(Robots.parsePolicy(txt) == RobotsPolicy(Seq("/a"), Some(5.0))) // max of the * group
    // the specific group's delay applies even though * asks for more
    assert(Robots.parsePolicy(txt, agent = "graft-crawler/0.1") ==
      RobotsPolicy(Nil, Some(0.5)))
    assert(Robots.parsePolicy("User-agent: *\nCrawl-delay: nope\n") ==
      RobotsPolicy(Nil, None)) // non-numeric ignored
    assert(Robots.parsePolicy("User-agent: *\nCrawl-delay: -3\n") ==
      RobotsPolicy(Nil, None)) // non-positive ignored
  }

  test("crawl-delay paces a discovered host below the global rps (simulated plan)") {
    import graft.model.{Document, Span}
    def page(url: String, links: String*): (String, Document) =
      url -> Document(url, links.zipWithIndex.map { case (l, i) => Span("link", "", l, i) })
    val pages = Map(
      page("https://a.example.jp/p0",
        "https://a.example.jp/p1", "https://a.example.jp/p2",
        "https://c.example.jp/1", "https://c.example.jp/2", "https://c.example.jp/3"),
      page("https://a.example.jp/p1"), page("https://a.example.jp/p2"),
      page("https://c.example.jp/1"), page("https://c.example.jp/2"),
      page("https://c.example.jp/3"))
    val resolve: Seq[String] => Map[String, RobotsPolicy] = os =>
      os.collect { case o if o == "https://c.example.jp" =>
        "c.example.jp" -> RobotsPolicy(Nil, crawlDelaySec = Some(2.0))
      }.toMap
    val parsers: Map[String, PageParser] = Map("follow_links" -> FollowAllLinks)
    import spark.implicits._
    // (host a gaps, host c gaps) of wave 1, c optionally carrying a table
    // rate: simulated fetched_at_ms is the deterministic politeness PLAN,
    // so the per-host slot spacing is directly observable without sleeping
    def gaps(cTableRps: Option[Double]): (Seq[Long], Seq[Long]) = {
      val engine = new WaveEngine(spark, new MapFetcher(pages), parsers,
        CrawlConfig(checkpointDir = SparkTestSession.tmpDir("robotsdelay"), hostBuckets = 2,
          fetchPartitions = 2, politenessRps = 1.0, robotsEnabled = true,
          robotsResolve = Some(resolve),
          hostRpsTable = cTableRps.map(r => Seq(("c.example.jp", r)).toDF("host", "rps"))))
      engine.run(Seq(SeedSpec("https://a.example.jp/p0")))
      def of(host: String): Seq[Long] = {
        val ts = engine.fetchedTable().filter($"host" === host && $"wave" === 1)
          .select($"fetched_at_ms").as[Long].collect().sorted
        ts.zip(ts.tail).map { case (x, y) => y - x }.toSeq
      }
      (of("a.example.jp"), of("c.example.jp"))
    }
    // 1/delay = 0.5 rps for c; a keeps the default politenessRps
    assert(gaps(None) == ((Seq(1000L), Seq(2000L, 2000L))))
    // a table rate faster than the delay: the delay still paces c
    assert(gaps(Some(4.0)) == ((Seq(1000L), Seq(2000L, 2000L))))
    // a table rate slower than the delay (0.25 rps): the table paces c
    assert(gaps(Some(0.25)) == ((Seq(1000L), Seq(4000L, 4000L))))
  }

  test("fetchRules: authorities collapsing to one gate key UNION their rules") {
    // two fixture fetchers standing in for two ports of one host — the
    // gate key strips the port, and last-wins would drop the first
    // authority's disallows
    val f = new Fetcher {
      def fetch(url: String): (Int, Option[graft.model.Document]) = {
        val lines =
          if (url.contains(":81/")) Seq("User-agent: *", "Disallow: /a")
          else Seq("User-agent: *", "Disallow: /b")
        (200, Some(graft.model.Document(url,
          lines.zipWithIndex.map { case (l, i) => graft.model.Span("text", l, "", i) })))
      }
    }
    val rules = Robots.fetchRules(f, Seq("site.example.jp:81", "site.example.jp:82"))
    assert(rules == Map("site.example.jp" -> Seq("/a", "/b")))
  }

  test("allowed: prefix gate matches the engine's candidate filter") {
    val rules = Map("h0.example.jp" -> Seq("/admin/"))
    assert(!Robots.allowed(rules, "https://h0.example.jp/admin/x"))
    assert(Robots.allowed(rules, "https://h0.example.jp/public"))
    assert(Robots.allowed(rules, "https://h1.example.jp/admin/x")) // other host
  }

  test("mid-crawl host discovery: robotsResolve gates a host's pages before its first fetch") {
    import graft.model.{Document, Span}
    def page(url: String, links: String*): (String, Document) =
      url -> Document(url, links.zipWithIndex.map { case (l, i) => Span("link", "", l, i) })
    val pages = Map(
      page("https://a.example.jp/p0",
        "https://b.example.jp/ok", "https://b.example.jp/private/x"),
      // /ok links DEEPER into the forbidden tree: by the wave that fetches
      // it, b's rules are resolved, so candidate EMISSION must drop /private/y
      page("https://b.example.jp/ok", "https://b.example.jp/private/y"),
      page("https://b.example.jp/private/x"),
      page("https://b.example.jp/private/y"))
    val calls = scala.collection.mutable.ArrayBuffer[Seq[String]]() // driver-side only
    val resolve: Seq[String] => Map[String, RobotsPolicy] = { os =>
      calls += os
      os.collect { // the hook passes full ORIGINS, results key by gate host
        case o if o == "https://b.example.jp" =>
          "b.example.jp" -> RobotsPolicy(Seq("/private"))
      }.toMap
    }
    val ckpt = SparkTestSession.tmpDir("robotsmidcrawl")
    val parsers: Map[String, PageParser] = Map("follow_links" -> FollowAllLinks)
    val engine = new WaveEngine(spark, new MapFetcher(pages), parsers,
      CrawlConfig(checkpointDir = ckpt, hostBuckets = 2, fetchPartitions = 2,
        robotsEnabled = true, robotsResolve = Some(resolve)))
    engine.run(Seq(SeedSpec("https://a.example.jp/p0")))
    import spark.implicits._
    val fetched = engine.fetchedTable().select($"canonical").as[String].collect().toSet
    // b was unknown when /private/x was DISCOVERED (wave 0 emission ran
    // with no rules for it) — the wave-boundary fetch gate still kept it
    // from ever being fetched
    assert(fetched == Set("https://a.example.jp/p0", "https://b.example.jp/ok"), fetched)
    // each host resolved exactly once, never re-resolved on later waves
    assert(calls.flatten.count(_ == "https://a.example.jp") == 1, calls)
    assert(calls.flatten.count(_ == "https://b.example.jp") == 1, calls)
  }

  test("fetchRules over live HTTP feeds the engine's robots gate end-to-end") {
    def html(body: String) = s"<html><head><title>t</title></head><body>$body</body></html>"
    val pages = Map(
      "/robots.txt" -> "User-agent: *\nDisallow: /private\n",
      "/p0" -> html("""<a href="/p1">ok</a> <a href="/private/x">no</a>"""),
      "/p1" -> html("done"),
      "/private/x" -> html("should never be fetched"))
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", new HttpHandler {
      def handle(ex: HttpExchange): Unit = {
        pages.get(ex.getRequestURI.getPath) match {
          case Some(body) =>
            val ct = if (ex.getRequestURI.getPath.endsWith(".txt")) "text/plain" else "text/html"
            val bytes = body.getBytes(StandardCharsets.UTF_8)
            ex.getResponseHeaders.set("Content-Type", s"$ct; charset=UTF-8")
            ex.sendResponseHeaders(200, bytes.length)
            ex.getResponseBody.write(bytes)
          case None => ex.sendResponseHeaders(404, -1)
        }
        ex.close()
      }
    })
    server.start()
    try {
      val authority = s"127.0.0.1:${server.getAddress.getPort}"
      val fetcher = new HttpFetcher()
      val rules = Robots.fetchRules(fetcher, Seq(authority), scheme = "http")
      assert(rules == Map("127.0.0.1" -> Seq("/private"))) // gate key: hostOf strips the port
      val ckpt = SparkTestSession.tmpDir("robotscrawl")
      val parsers: Map[String, PageParser] = Map("follow_links" -> FollowAllLinks)
      val engine = new WaveEngine(spark, fetcher, parsers,
        CrawlConfig(checkpointDir = ckpt, hostBuckets = 2, fetchPartitions = 2,
          robotsEnabled = true, robotsDisallow = rules))
      engine.run(Seq(SeedSpec(s"http://$authority/p0")))
      import spark.implicits._
      val fetched = engine.fetchedTable().select($"canonical").as[String].collect().toSet
      assert(fetched.exists(_.endsWith("/p1")))
      assert(!fetched.exists(_.contains("/private")), fetched) // gate held
    } finally server.stop(0)
  }
}
