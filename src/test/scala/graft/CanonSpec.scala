package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.functions.GoUrl
import graft.sites.Sites

/** Golden tables ported verbatim from the reference unit tests —
  * the byte-identical anchors (SURVEY §5).
  */
class CanonSpec extends AnyFunSuite {

  private def wiki(s: String) =
    GoUrl.cleanName(s, Sites.wikipedia.base, "", Sites.wikipedia.prefix)
  private def syn(s: String) =
    GoUrl.cleanName(s, Sites.synonyms.base, Sites.synonyms.altBase, Sites.synonyms.prefix)
  private def ar(s: String) =
    GoUrl.cleanName(s, Sites.synonymsAr.base, Sites.synonymsAr.altBase, Sites.synonymsAr.prefix)

  test("wikipedia CleanUrl golden table (wiki_test.go:35-66)") {
    assert(wiki("/wiki/Maytag_Blue_cheese") == "maytag blue cheese")
    assert(wiki("/wiki/ingeni%c3%b8ren") == "ingeniøren") // lowercase hex decodes
    // invalid escape sequence ⇒ "" (Go QueryUnescape error contract)
    assert(wiki("/wiki/^#$%#$G#$(JG#($JG(DFS(J#(JF%23423") == "")
    // base-endpoint strip (db.go:119-131 path via CleanUrl)
    assert(wiki("https://en.wikipedia.org/wiki/Test_Page") == "test page")
  }

  test("synonyms CleanUrl golden table (synonyms_test.go:33-69)") {
    assert(syn("/synonym/perception") == "perception")
    // https-upgrade strip: base is http, site answers https
    assert(syn("https://www.synonyms.com/synonym/perception") == "perception")
    assert(syn("http://www.synonyms.com/synonym/Water_Fall") == "water fall")
  }

  test("ar_synonyms CleanUrl golden table (ar_synonyms_test.go:36-72)") {
    assert(ar("/synonym/ar/%D8%AD%D9%8A%D9%86") == "حين")
    assert(ar("https://synonyms.reverso.net/synonym/ar/موسم") == "موسم")
  }

  test("counties CleanUrl delegates to wikipedia (counties.go:58-60)") {
    assert(wiki("/wiki/Albemarle_County,_Virginia") == "albemarle county, virginia")
  }

  test("QueryUnescape matches Go semantics") {
    assert(GoUrl.queryUnescape("a+b").contains("a b")) // '+' → space
    assert(GoUrl.queryUnescape("%41%42").contains("AB"))
    assert(GoUrl.queryUnescape("%4a%4B").contains("JK")) // mixed-case hex
    assert(GoUrl.queryUnescape("100%").isEmpty) // trailing bare %
    assert(GoUrl.queryUnescape("%G1").isEmpty) // non-hex
    assert(GoUrl.queryUnescape("%1").isEmpty) // truncated
    assert(GoUrl.queryUnescape("no escapes").contains("no escapes"))
    // UTF-8 multibyte
    assert(GoUrl.queryUnescape("%D8%AD").contains("ح"))
  }

  test("goToLower is per-rune simple mapping (Go strings.ToLower)") {
    assert(GoUrl.goToLower("ABC_def") == "abc_def")
    assert(GoUrl.goToLower("İ").length == 1) // Java full mapping would give 2 chars
    assert(GoUrl.goToLower("ØRSTED") == "ørsted")
  }

  test("cleanName idempotence on decoded names (property)") {
    // deterministic pseudo-random sample: clean(clean(x)) == clean(x)
    // as long as the first pass produced no residual '%'/'+'
    val rnd = new scala.util.Random(42)
    (0 until 500).foreach { _ =>
      val s = (0 until rnd.nextInt(30))
        .map(_ => "abcXYZ_0189/%+è".charAt(rnd.nextInt(15))).mkString
      val once = wiki(s)
      if (!once.contains("%") && !once.contains("+"))
        assert(wiki(once) == once, s"input: $s")
    }
  }

  test("canonicalUrl: north_rule normalization") {
    assert(GoUrl.canonicalUrl("HTTP://EN.Wikipedia.ORG:80/wiki/X#frag") ==
      "http://en.wikipedia.org/wiki/X")
    assert(GoUrl.canonicalUrl("https://h.test:443/a?b=2&a=1") ==
      "https://h.test/a?a=1&b=2")
    assert(GoUrl.canonicalUrl("https://h.test") == "https://h.test/")
    assert(GoUrl.canonicalUrl("/wiki/Rel#frag") == "/wiki/Rel")
  }

  test("hostOf") {
    assert(GoUrl.hostOf("https://EN.wikipedia.org/wiki/X") == "en.wikipedia.org")
    assert(GoUrl.hostOf("http://h1.test:8080/x") == "h1.test")
    assert(GoUrl.hostOf("/wiki/X") == "")
  }
}

/** Valid-link predicate golden tables, evaluated through the actual
  * Spark Column expressions (wiki_test.go:16-33, synonyms_test.go:16-31,
  * ar_synonyms_test.go:16-34, counties_test.go:16-45).
  */
class PredicateSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  private def eval(profile: graft.sites.SiteProfile, link: String): Boolean = {
    import spark.implicits._
    Seq(link).toDF("href")
      .select(profile.isValidLink(col("href")).as("v")).as[Boolean].head()
  }

  test("wikipedia IsValidCrawlLink") {
    assert(!eval(Sites.wikipedia, "/wiki/Category:Spinash"))
    assert(!eval(Sites.wikipedia, "/wiki/Test:"))
    assert(!eval(Sites.wikipedia, "https://wikipedia.org"))
    assert(!eval(Sites.wikipedia, "/wiki"))
    assert(!eval(Sites.wikipedia, "wikipedia/wiki/"))
    assert(eval(Sites.wikipedia, "/wiki/binary"))
    assert(!eval(Sites.wikipedia, "/wiki/Main_Page"))
    assert(!eval(Sites.wikipedia, "/wiki/main_Page"))
    assert(!eval(Sites.wikipedia, "/wiki/main_page"))
  }

  test("synonyms IsValidCrawlLink") {
    assert(eval(Sites.synonyms, "/synonym/dog"))
    assert(!eval(Sites.synonyms, "/synonym/bad:x"))
    assert(!eval(Sites.synonyms, "/synonym/bad#y"))
    assert(!eval(Sites.synonyms, "/other/dog"))
  }

  test("ar_synonyms IsValidCrawlLink incl. translation reject") {
    assert(!eval(Sites.synonymsAr, "https://context.reverso.net/translation/x"))
    assert(eval(Sites.synonymsAr, "/synonym/ar/حين"))
    assert(!eval(Sites.synonymsAr, "/synonym/en/word"))
  }

  test("counties structural predicate + allow-list semi-join") {
    import spark.implicits._
    // structural: must contain '_county,_' (case-insensitive)
    assert(eval(Sites.usCounties, "/wiki/Albemarle_County,_Virginia"))
    assert(!eval(Sites.usCounties, "/wiki/Oak_Ridge_Nelson_Virginia"))
    // membership via broadcast semi join (counties_test.go:19-32)
    val links = Seq("/wiki/Albemarle_County,_Virginia",
      "/wiki/Fake_County,_Nowhere").toDF("href")
      .filter(Sites.usCounties.isValidLink(col("href")))
    val allow = Seq("Albemarle_County,_Virginia").toDF("name")
    val kept = graft.sites.Sites
      .allowListSemiJoin(links, allow, Sites.usCounties)
      .as[String].collect()
    assert(kept.toSeq == Seq("/wiki/Albemarle_County,_Virginia"))
  }

  test("clean_name Spark expression matches the pure kernel") {
    import spark.implicits._
    val inputs = Seq("/wiki/Maytag_Blue_cheese", "/wiki/ingeni%c3%b8ren",
      "/wiki/^#$%#$G#$(JG#($JG(DFS(J#(JF%23423",
      "https://en.wikipedia.org/wiki/A_B")
    val got = inputs.toDF("href")
      .select(Sites.wikipedia.cleanName(col("href")).as("c")).as[String].collect()
    val want = inputs.map(s => GoUrl.cleanName(s, Sites.wikipedia.base, "", "/wiki/"))
    assert(got.toSeq == want)
  }

  test("reg_domain/public_suffix: exact, wildcard, exception, default rules") {
    import spark.implicits._
    val rules = Seq("com", "co.uk", "*.ck", "!www.ck", "org")
    val cases = Seq(
      // host, expected public suffix, expected registrable domain
      ("example.com", "com", "example.com"),
      ("a.b.example.com", "com", "example.com"),
      ("com", "com", null), // host IS a public suffix
      ("site.co.uk", "co.uk", "site.co.uk"),
      ("x.site.co.uk", "co.uk", "site.co.uk"),
      ("foo.w.ck", "w.ck", "foo.w.ck"), // wildcard *.ck
      ("w.ck", "w.ck", null), // * consumes the only extra label
      ("www.ck", "ck", "www.ck"), // exception !www.ck
      ("sub.www.ck", "ck", "www.ck"), // exception beats the wildcard
      ("foo.bar.zz", "zz", "bar.zz"), // implicit * default
      ("localhost", "localhost", null),
      ("", null, null))
    val got = cases.map(_._1).toDF("host").select(col("host"),
        graft.functions.canon.public_suffix(col("host"), rules).as("ps"),
        graft.functions.canon.reg_domain(col("host"), rules).as("reg"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(got.toSeq == cases, got.mkString("\n"))
  }

  test("canon expressions: interpreted evaluation (the engine's path) matches codegen") {
    import spark.implicits._
    import org.apache.spark.sql.execution.{ProjectExec, WholeStageCodegenExec}
    import graft.functions.canon
    val rules = Seq("com", "co.uk", "*.ck", "!www.ck", "org")
    val golden = Seq("/wiki/Maytag_Blue_cheese", "/wiki/ingeni%c3%b8ren",
      "/wiki/^#$%#$G#$(JG#($JG(DFS(J#(JF%23423",
      "https://en.wikipedia.org/wiki/Test_Page", "/synonym/perception",
      "https://www.synonyms.com/synonym/perception",
      "http://www.synonyms.com/synonym/Water_Fall",
      "/synonym/ar/%D8%AD%D9%8A%D9%86", "https://synonyms.reverso.net/synonym/ar/موسم",
      "/wiki/Albemarle_County,_Virginia", "HTTP://EN.Wikipedia.ORG:80/wiki/X#frag",
      "https://h.test:443/a?b=2&a=1", "https://h.test", "/wiki/Rel#frag",
      "http://h1.test:8080/x", "https://a.b.example.com/x", "http://x.site.co.uk/",
      "https://foo.w.ck/", "https://sub.www.ck/y", "http://localhost/",
      " https://Example.com/a b ", "\thttp://x.site.co.uk/\n", "", null)
    // deterministic pseudo-random urls: mixed case, ports, escapes,
    // queries and fragments on the hosts of the suffix rules above
    val rnd = new scala.util.Random(7)
    def pick(s: String): Char = s.charAt(rnd.nextInt(s.length))
    val hosts = Seq("Example.COM", "a.b.example.com", "x.site.co.uk", "w.ck",
      "www.ck", "foo.bar.zz", "en.wikipedia.org", "www.synonyms.com")
    val random = (0 until 200).map { _ =>
      val path = (0 until rnd.nextInt(24)).map(_ => pick("aZ09_/%+:#èح")).mkString
      val port = if (rnd.nextBoolean()) "" else s":${pick("48")}${pick("03")}"
      val query = if (rnd.nextBoolean()) "" else s"?b=${rnd.nextInt(9)}&a=${pick("xY")}"
      s"${if (rnd.nextBoolean()) "http" else "HTTPS"}://${hosts(rnd.nextInt(hosts.length))}" +
        s"$port/wiki/$path$query"
    }
    val corpus = (golden ++ random).zipWithIndex.toDF("url", "i")
    val profiles = Seq(Sites.wikipedia, Sites.synonyms, Sites.synonymsAr,
      Sites.usCounties, Sites.web)
    // the shuffle keeps the projection out of the optimizer's local
    // folding, so it runs where the engine's projections run
    def rows(): (Seq[org.apache.spark.sql.Row], org.apache.spark.sql.execution.SparkPlan) = {
      val host = canon.host_of(col("url"))
      val df = corpus.repartition(2).select(Seq(col("i"),
          canon.canonical_url(col("url")), host,
          canon.reg_domain(host, rules), canon.public_suffix(host, rules)) ++
        profiles.map(_.cleanName(col("url"))): _*)
      (df.collect().toSeq.sortBy(_.getInt(0)), df.queryExecution.executedPlan)
    }
    val (interp, interpPlan) = graft.engine.SessionConf.interpreted(spark)(rows())
    val (gen, genPlan) = rows()
    val plans = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    assert(plans.collect(interpPlan) { case w: WholeStageCodegenExec => w }.isEmpty, interpPlan)
    assert(plans.collect(interpPlan) { case p: ProjectExec => p }.nonEmpty, interpPlan)
    assert(plans.collect(genPlan) { case w: WholeStageCodegenExec => w }
      .exists(_.collect { case p: ProjectExec => p }.nonEmpty), genPlan)
    assert(interp.length == golden.length + random.length)
    assert(gen.length == interp.length)
    val diff = interp.zip(gen).filter { case (a, b) => a != b }
    assert(diff.isEmpty, diff.take(5).mkString("\n"))
  }

  test("reg_domain composes with host_of and stays in whole-stage codegen") {
    val rules = Seq("org")
    val df = spark.range(50).select(
      graft.functions.canon.reg_domain(
        graft.functions.canon.host_of(
          concat(lit("https://H"), col("id") % 7, lit(".Sub.Example.ORG:443/p"))),
        rules).as("reg"))
    val vals = df.distinct().collect().map(_.getString(0)).toSet
    assert(vals == Set("example.org"), vals.toString)
    val codegen = df.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }
    assert(codegen.nonEmpty, df.queryExecution.executedPlan.toString)
  }
}
