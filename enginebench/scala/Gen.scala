package graftbench

import java.util.SplittableRandom

/** Seeded input generators. Every workload draws its inputs from here and
  * nothing else: the same seed gives byte-identical rows, and
  * [[Gen.fingerprint]] hashes them so generator drift shows in the
  * self-test. The engine only ever sees the generated rows. */
object Gen {

  /** Zipf(s) sampler over ranks 0 until n (rank 0 is the head). */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      val tot = w.sum
      var acc = 0.0
      w.map { x => acc += x; acc / tot }
    }
    def sample(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      var lo = 0; var hi = n - 1
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (cdf(mid) < u) lo = mid + 1 else hi = mid
      }
      lo
    }
  }

  def rng(seed: Long, stream: String): SplittableRandom =
    new SplittableRandom(seed * 1000003L ^ stream.hashCode.toLong)

  // ------------------------------------------------------------ corpus

  final case class Sizes(docs: Int, tokensPerDoc: Int, vocab: Int,
                         linkSrcs: Int, linkCommits: Int, outDegree: Int)
  val searchSizes = Sizes(docs = 2000, tokensPerDoc = 30, vocab = 5000,
    linkSrcs = 3000, linkCommits = 4, outDegree = 6)

  def term(i: Int): String = f"t$i%04d"

  final case class Doc(id: Long, text: String)
  final case class LinkRow(src: Long, dst: Long, url: String, ts: Long)
  def urlOf(dst: Long): String = s"http://h${dst % 37}.example/p$dst"

  final case class Corpus(docs: Vector[Doc], priors: Map[Long, Double],
                          links: Vector[Vector[LinkRow]])

  def corpus(seed: Long, z: Sizes = searchSizes): Corpus = {
    val r = rng(seed, "corpus")
    val zipf = new Zipf(z.vocab, 1.0)
    // vocabulary ranks are permuted so head terms are not t0000..t0009
    val perm = shuffled(z.vocab, rng(seed, "vocab"))
    val docs = Vector.tabulate(z.docs) { d =>
      Doc(d.toLong,
        Iterator.fill(z.tokensPerDoc)(term(perm(zipf.sample(r))))
          .mkString(" "))
    }
    // ~10% of docs carry no prior, so phrase hits (score 1.0) tie and
    // the id tie-break decides their order
    val pr = rng(seed, "priors")
    val priors = docs.flatMap { d =>
      if (pr.nextInt(10) == 0) None
      else Some(d.id -> math.floor(pr.nextDouble() * 1e6) / 2e6)
    }.toMap
    val lr = rng(seed, "links")
    val dz = new Zipf(z.linkSrcs, 0.9)
    val per = (z.linkSrcs + z.linkCommits - 1) / z.linkCommits
    // one commit per contiguous src range: the crawl order a link store
    // sees, and the layout its stats sidecars prune on
    val links = Vector.tabulate(z.linkCommits) { c =>
      val lo = c * per
      val hi = math.min(z.linkSrcs, lo + per)
      (lo until hi).toVector.flatMap { s =>
        val deg = 1 + lr.nextInt(2 * z.outDegree - 1)
        (0 until deg).map(_ => dz.sample(lr).toLong).distinct.map { d =>
          LinkRow(s.toLong, d, urlOf(d),
            c * 1000000L + lr.nextInt(1000000))
        }
      }
    }
    Corpus(docs, priors, links)
  }

  def shuffled(n: Int, r: SplittableRandom): Array[Int] = {
    val a = Array.tabulate(n)(identity)
    var i = n - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a
  }

  /** One client request of the search_serve mix. */
  sealed trait Req
  final case class SearchReq(raw: String, offset: Int) extends Req
  final case class LookupKeyReq(url: String) extends Req
  final case class LookupReq(src: Long) extends Req
  final case class ScanReq(from: Long, to: Long, tsBefore: Long) extends Req

  def requests(seed: Long, client: Int, n: Int, c: Corpus,
               z: Sizes = searchSizes): Vector[Req] = {
    val r = rng(seed, s"requests-$client")
    val zipf = new Zipf(z.vocab, 1.0)
    val perm = shuffled(z.vocab, rng(seed, "vocab"))
    val offsets = Array(0, 10, 20)
    Vector.fill(n) {
      val k = r.nextInt(100)
      if (k < 70) {
        if (r.nextInt(8) == 0) {
          // a quoted phrase lifted from a document, so it has hits
          val toks = c.docs(r.nextInt(c.docs.size)).text.split(" ")
          val at = r.nextInt(toks.length - 1)
          SearchReq("\"" + toks(at) + " " + toks(at + 1) + "\"",
            offsets(r.nextInt(3)))
        } else {
          // 1-3 distinct terms: head from the Zipf draw, tail uniform
          val nt = 1 + r.nextInt(3)
          val ts = (0 until nt).map { i =>
            if (i == 0 || r.nextBoolean()) term(perm(zipf.sample(r)))
            else term(perm(r.nextInt(z.vocab)))
          }.distinct
          SearchReq(ts.mkString(" "), offsets(r.nextInt(3)))
        }
      } else if (k < 85) {
        val rows = c.links(r.nextInt(c.links.size))
        val row = rows(r.nextInt(rows.size))
        if (r.nextBoolean()) LookupKeyReq(row.url) else LookupReq(row.src)
      } else {
        val from = r.nextInt(z.linkSrcs - 60).toLong
        ScanReq(from, from + 40,
          r.nextInt(z.linkCommits).toLong * 1000000L + 500000L)
      }
    }
  }

  // --------------------------------------------------------------- web

  final case class Page(url: String, title: String, body: String,
                        links: Seq[(String, Boolean)])
  final case class Web(seeds: Seq[String], pages: Map[String, Page])

  /** A generated web: `hosts` sites, each with a home page linking to
    * all of its pages, every page listed in the seeds (a sitemap); pages link to 5 Zipf-drawn pages, plus nofollow,
    * `.png`, private-IP and dead links at fixed strides, so the web's
    * size varies little from seed to seed. */
  def web(seed: Long, hosts: Int = 8, pagesPerHost: Int = 12): Web = {
    val r = rng(seed, "web")
    val n = hosts * pagesPerHost
    val zipf = new Zipf(n, 1.0)
    val order = shuffled(n, rng(seed, "web-order"))
    val vocab = new Zipf(800, 1.0)
    def pageUrl(i: Int): String =
      s"http://site${i / pagesPerHost}.example/page${i % pagesPerHost}"
    def homeUrl(h: Int): String = s"http://site$h.example/"
    def words(k: Int): String =
      Iterator.fill(k)(term(vocab.sample(r))).mkString(" ")
    val pages = scala.collection.mutable.LinkedHashMap[String, Page]()
    (0 until hosts).foreach { h =>
      val ls = (0 until pagesPerHost).map(p =>
        (pageUrl(h * pagesPerHost + p), false))
      val title = s"home of site$h"
      pages(homeUrl(h)) = Page(homeUrl(h), title,
        html(title, words(20), ls), ls)
    }
    (0 until n).foreach { i =>
      val out = scala.collection.mutable.LinkedHashMap[String, Boolean]()
      out(homeUrl(i / pagesPerHost)) = false
      (0 until 5).foreach { _ =>
        val j = order(zipf.sample(r))
        if (j != i) out.getOrElseUpdate(pageUrl(j), false)
      }
      if (i % 3 == 0)
        out.getOrElseUpdate(pageUrl(r.nextInt(n)), true) // nofollow
      if (i % 4 == 1)
        out.getOrElseUpdate(s"http://10.0.${i % 7}.${i % 200}/admin", false)
      if (i % 5 == 2)
        out.getOrElseUpdate(s"http://site${i / pagesPerHost}.example/gone$i",
          false)
      val title = s"page $i " + words(2)
      val ls = out.toSeq
      // the .png link is dropped by link extraction, never stored
      pages(pageUrl(i)) = Page(pageUrl(i), title,
        html(title, words(30), ls, Some(s"/img/logo$i.png")), ls)
    }
    Web((0 until hosts).map(homeUrl) ++ (0 until n).map(pageUrl), pages.toMap)
  }

  private def html(title: String, text: String, links: Seq[(String, Boolean)],
                   img: Option[String] = None): String = {
    val as = links.map { case (u, nf) =>
      if (nf) s"""<a rel="nofollow" href="$u">x</a>"""
      else s"""<a href="$u">x</a>"""
    }.mkString(" ")
    val im = img.map(s => s"""<a href="$s">logo</a>""").getOrElse("")
    s"<html><head><title>$title</title></head><body><p>$text</p>" +
      s"$as $im</body></html>"
  }

  // ------------------------------------------------------------- graph

  final case class Graph(n: Int, edges: Vector[(Long, Long)],
                         weights: Vector[Long])

  /** Power-law link graph with planted communities: each unordered pair
    * appears once, in a random orientation, never as a self-loop. */
  def graph(seed: Long, n: Int = 600, m: Int = 2400,
            communities: Int = 8): Graph = {
    val r = rng(seed, "graph")
    val zipf = new Zipf(n, 0.8)
    val order = shuffled(n, rng(seed, "graph-order"))
    val comm = Array.tabulate(n)(i => i % communities)
    val byComm = (0 until communities).map(c =>
      (0 until n).filter(comm(_) == c).toArray)
    val seen = new java.util.HashSet[(Long, Long)]()
    val out = Vector.newBuilder[(Long, Long)]
    var made = 0
    while (made < m) {
      val a = order(zipf.sample(r))
      val b =
        if (r.nextInt(10) < 8) {
          val c = byComm(comm(a)); c(r.nextInt(c.length))
        } else order(zipf.sample(r))
      if (a != b) {
        val key = (math.min(a, b).toLong, math.max(a, b).toLong)
        if (seen.add(key)) {
          out += (if (r.nextBoolean()) (a.toLong, b.toLong)
                  else (b.toLong, a.toLong))
          made += 1
        }
      }
    }
    val es = out.result()
    Graph(n, es, es.map(_ => 1L + r.nextInt(9)))
  }

  // ------------------------------------------------------------ events

  final case class Event(id: Long, user: Long, etype: String, tsUs: Long)
  val eventTypes: Array[String] = Array("view", "click", "cart", "buy", "share")
  val tickEventUs: Long = 60L * 1000000L // one minute of event time per tick

  /** Tick `t`'s events: event times inside minute t with at most 20 s of
    * disorder, well inside the streams' lateness. */
  def tick(seed: Long, t: Int, perTick: Int = 2000,
           users: Int = 300): Vector[Event] = {
    val r = rng(seed, s"tick-$t")
    val uz = new Zipf(users, 0.7)
    val tz = new Zipf(eventTypes.length, 1.0)
    Vector.tabulate(perTick) { i =>
      Event(t.toLong * perTick + i, uz.sample(r).toLong,
        eventTypes(tz.sample(r)),
        t * tickEventUs + r.nextLong(tickEventUs))
    }
  }

  // ------------------------------------------------------- fingerprint

  /** SHA-256 over a canonical rendering of every generated input for
    * `seed`, one digest per generator. */
  def fingerprint(seed: Long): Seq[(String, String)] = {
    def sha(lines: Iterator[String]): String = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
      md.digest().take(8).map("%02x".format(_)).mkString
    }
    val c = corpus(seed)
    val w = web(seed)
    val g = graph(seed)
    Seq(
      "corpus" -> sha(c.docs.iterator.map(d => s"${d.id}|${d.text}") ++
        c.priors.toSeq.sorted.iterator.map(_.toString) ++
        c.links.iterator.flatten.map(_.toString)),
      "requests" -> sha(requests(seed, 0, 50, c).iterator.map(_.toString)),
      "web" -> sha(w.seeds.iterator ++
        w.pages.toSeq.sortBy(_._1).iterator.map(_._2.body)),
      "graph" -> sha(g.edges.iterator.zip(g.weights.iterator)
        .map(_.toString)),
      "events" -> sha(tick(seed, 0).iterator.map(_.toString)))
  }
}
