package graft.plans

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Pins `UrlCanonicalize` (single byte-scan) to the 5-step regexp
  * chain it replaced (`url_canonical`'s r13 formulation, still what
  * the DuckDB oracle runs): equality on adversarial URL shapes, not
  * just the synthesized bench corpus. Domain: strings without
  * newlines (real URLs) — the chain's `.`/`$` are line-aware, the
  * scan is not; URLs cannot contain raw newlines. */
class UrlCanonicalizeSpec extends SparkSpec {
  import spark.implicits._

  private def chain(urlCol: org.apache.spark.sql.Column) = {
    val noFrag = regexp_replace(urlCol, "#.*$", "")
    val noTrack = regexp_replace(noFrag, "[?&](utm_[a-z]+|gclid|fbclid)=[^&#]*", "")
    val noSlash = regexp_replace(noTrack, "/$", "")
    val schemeHost = lower(regexp_extract(noSlash, "^[a-zA-Z]+://[^/]*", 0))
    val rest = regexp_replace(noSlash, "^[a-zA-Z]+://[^/]*", "")
    concat(regexp_replace(schemeHost, "^https://www\\.", "https://"), rest)
  }

  test("single-pass canonicalizer equals the regex chain on adversarial URLs") {
    val cases = Seq(
      // the synthesized bench shapes
      "HTTPS://WWW.News.Example.COM/doc/3?utm_source=feed&utm_campaign=sync",
      "https://blog.example.org/doc/14/#sec2",
      "HTTPS://Docs.Example.IO/doc/0/?utm_source=feed&utm_campaign=sync&gclid=g30#sec0",
      // edge shapes the regexes are sensitive to
      "",                                  // empty
      "no-scheme/path/?utm_a=1",           // no ://
      "://missing-scheme.com/x",           // empty scheme letters
      "ftp://Mixed.Case.Host/Path/UPPER",  // non-https scheme
      "https://www.x.com",                 // www-strip at host end
      "http://www.x.com/a",                // www kept (http, not https)
      "HTTPS://WWW.X.COM/A/",              // upper www + trailing slash
      "https://h.com//",                   // double trailing slash (one stripped)
      "https://h.com/?gclid=",             // empty tracking value
      "https://h.com/?gclid=x&real=1",     // tracked then kept param
      "https://h.com/?real=1&utm_x=2",     // kept then tracked
      "https://h.com/?utm_=bad",           // utm_ with no letters → NOT a match
      "https://h.com/?utm_aZ=1",           // utm_ letters stop at 'Z'
      "https://h.com/?UTM_SOURCE=1",       // uppercase param NOT stripped
      "https://h.com/a&gclid=mid-path",    // tracking match outside query
      "https://h.com/a?x=1&&gclid=2",      // double ampersand
      "https://h.com/#frag#more#?utm_a=1", // params inside cut fragment
      "https://héllo.みんな/ПУТЬ?utm_ab=1", // non-ASCII host (unicode lower)
      "https://h.com/?fbclid=abc123xyz",
      "gclid=naked&fbclid=also",           // no scheme, leading text
      "?utm_source=leading",               // starts with ?
      "&utm_source=leading",               // starts with &
      "https://www.",                      // nothing after www.
      "https://www./p",                    // empty host after www strip
      "#pure-fragment",
      "/",
      "a#b/")
    val df = cases.toDF("url")
    val out = df.select(col("url"),
      UrlCanonical.canonicalCol(col("url")).as("fast"),
      chain(col("url")).as("slow"))
    val rows = out.collect()
    rows.foreach { r =>
      assert(r.getString(1) == r.getString(2),
        s"mismatch for '${r.getString(0)}': fast='${r.getString(1)}' slow='${r.getString(2)}'")
    }
    assert(rows.nonEmpty)
  }

  test("randomized URL fuzz: expression equals chain on 2000 generated URLs") {
    val rnd = new scala.util.Random(20260815L)
    val schemes = Seq("https://", "HTTPS://", "http://", "ftp://", "")
    val wwws = Seq("www.", "WWW.", "")
    val hosts = Seq("Ex.COM", "a.b.c.org", "XN--caf.fr", "héllo.io", "")
    val params = Seq("utm_source=a", "utm_campaign=b%20c", "gclid=G1",
      "fbclid=F", "q=keep", "utm_=no", "UTM_X=no", "utm_x=", "page=2")
    val frags = Seq("#top", "#a#b", "")
    val urls = Seq.fill(2000) {
      val ps = Seq.fill(rnd.nextInt(4))(params(rnd.nextInt(params.length)))
      val query = if (ps.isEmpty) "" else "?" + ps.mkString("&")
      schemes(rnd.nextInt(schemes.length)) + wwws(rnd.nextInt(wwws.length)) +
        hosts(rnd.nextInt(hosts.length)) + "/p" + rnd.nextInt(50) +
        (if (rnd.nextBoolean()) "/" else "") + query +
        frags(rnd.nextInt(frags.length))
    }
    val out = urls.toDF("url").select(col("url"),
      UrlCanonical.canonicalCol(col("url")).as("fast"),
      chain(col("url")).as("slow")).collect()
    out.foreach { r =>
      assert(r.getString(1) == r.getString(2),
        s"mismatch for '${r.getString(0)}': fast='${r.getString(1)}' slow='${r.getString(2)}'")
    }
  }

  test("null propagates; plan shows ONE projection, no regex ops") {
    val df = Seq(Option("https://x.com/"), None).toDF("url")
    val out = df.select(UrlCanonical.canonicalCol(col("url")).as("c")).collect()
    assert(out.map(_.isNullAt(0)).toSeq == Seq(false, true))
    // plan pin on a parquet input (LocalRelation would constant-fold)
    val tmp = tempDir("urlc") + "/u"
    Seq("https://www.A.com/x?utm_a=1").toDF("url")
      .write.mode("overwrite").parquet(tmp)
    val plan = spark.read.parquet(tmp)
      .select(UrlCanonical.canonicalCol(col("url")).as("c"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("url_canonical"), plan)
    assert(!plan.contains("regexp_replace"), plan)
  }
}
