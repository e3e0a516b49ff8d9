package graftbench

/** Plain-Scala reference answers, computed from the generated inputs
  * alone. Nothing here touches Spark or the engine, so a wrong engine
  * answer cannot be copied into its own check. */
object Ref {

  // ------------------------------------------------------------ search

  /** TF-IDF + prior ranking of `raw` over `docs` (id, text): the full
    * ordered hit list as (id, blended score), ties broken by id, plus
    * the hit count. Match queries score Σ tf·ln(N/df) over the distinct
    * query terms; quoted phrases score 1.0 on a padded substring hit. */
  final class SearchIndex(docs: Seq[(Long, String)], priors: Map[Long, Double]) {
    private val n = docs.size.toDouble
    private val toks: Map[Long, Array[String]] =
      docs.map { case (id, t) =>
        id -> t.trim.toLowerCase.split("\\s+").filter(_.nonEmpty)
      }.toMap
    private val padded: Seq[(Long, String)] =
      docs.map { case (id, t) => id -> (" " + t.trim.toLowerCase + " ") }
    private val df: Map[String, Int] =
      toks.values.flatMap(_.distinct).groupBy(identity).view
        .mapValues(_.size).toMap

    def ranked(raw: String): Seq[(Long, Double)] = {
      val t = raw.trim
      val scored: Seq[(Long, Double)] =
        if (t.length >= 2 && t.startsWith("\"") && t.endsWith("\"")) {
          val needle = " " + t.substring(1, t.length - 1).trim.toLowerCase + " "
          padded.collect { case (id, p) if p.contains(needle) => id -> 1.0 }
        } else {
          val terms = t.toLowerCase.split("\\s+").filter(_.nonEmpty).toSet
          toks.toSeq.flatMap { case (id, ts) =>
            val hits = ts.filter(terms.contains)
            if (hits.isEmpty) None
            else Some(id -> hits.groupBy(identity).toSeq.map { case (w, o) =>
              o.length * math.log(n / df(w))
            }.sum)
          }
        }
      scored.map { case (id, s) => id -> (s + priors.getOrElse(id, 0.0)) }
        .sortBy { case (id, s) => (-s, id) }
    }
  }

  /** Compare an engine page against the reference ranking: same total,
    * and at every position the same id, or an id whose reference score
    * ties the expected one to within float summation-order noise. */
  def pageMatches(ranked: Seq[(Long, Double)], offset: Int, size: Int,
                  pageIds: Seq[Long], total: Long): Option[String] = {
    val want = ranked.slice(offset, offset + size)
    val score = ranked.toMap
    if (total != ranked.size) Some(s"total $total != ${ranked.size}")
    else if (pageIds.size != want.size)
      Some(s"page has ${pageIds.size} rows, want ${want.size}")
    else pageIds.zip(want).zipWithIndex.collectFirst {
      case ((got, (wid, ws)), i) if got != wid &&
          !score.get(got).exists(g => math.abs(g - ws) <= 1e-9 * math.max(1.0, math.abs(ws))) =>
        s"position ${offset + i}: got $got, want $wid"
    }
  }

  // ------------------------------------------------------------- crawl

  final case class CrawlTruth(links: Set[String], fetched: Set[String],
                              edges: Set[(String, String)])

  // the generated web's only private hosts are literal 10.x.y.z addresses
  def privateHost(url: String): Boolean =
    Option(new java.net.URI(url).getHost).exists(_.matches("10(\\.\\d{1,3}){3}"))

  /** BFS from the seeds: a URL is fetched when it is http(s), not on a
    * private host, and served (not a dead link); every link of a fetched
    * page is stored, only follow links become edges. */
  def crawl(web: Gen.Web): CrawlTruth = {
    val links = scala.collection.mutable.LinkedHashSet[String]()
    val fetched = scala.collection.mutable.Set[String]()
    val edges = scala.collection.mutable.Set[(String, String)]()
    var frontier = web.seeds
    links ++= frontier
    while (frontier.nonEmpty) {
      val next = scala.collection.mutable.ArrayBuffer[String]()
      frontier.foreach { u =>
        if (!privateHost(u) && !fetched(u)) web.pages.get(u).foreach { p =>
          fetched += u
          p.links.foreach { case (l, nofollow) =>
            if (!nofollow) edges += (u -> l)
            if (links.add(l)) next += l
          }
        }
      }
      frontier = next.toSeq
    }
    CrawlTruth(links.toSet, fetched.toSet, edges.toSet)
  }

  def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  // ------------------------------------------------------------- graph

  private def undirected(es: Seq[(Long, Long)]): Map[Long, Set[Long]] =
    (es ++ es.map(_.swap)).groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap

  /** PageRank with dangling mass spread over all N, fixed iterations. */
  def pageRank(n: Int, es: Seq[(Long, Long)], damping: Double,
               iters: Int): Map[Long, Double] = {
    val outDeg = es.groupBy(_._1).view.mapValues(_.size.toDouble).toMap
    var s = (0 until n).map(i => i.toLong -> 1.0 / n).toMap
    (1 to iters).foreach { _ =>
      val contrib = es.groupBy(_._2).view.mapValues(_.map { case (a, _) =>
        s(a) / outDeg(a) }.sum).toMap
      val dm = s.collect { case (v, x) if !outDeg.contains(v) => x }.sum
      s = s.map { case (v, _) =>
        v -> ((1 - damping) / n + damping * (contrib.getOrElse(v, 0.0) + dm / n))
      }
    }
    s
  }

  /** Synchronous min-label propagation for `rounds` rounds. */
  def components(es: Seq[(Long, Long)], rounds: Int): Map[Long, Long] = {
    val adj = undirected(es)
    var lab = adj.keys.map(v => v -> v).toMap
    (1 to rounds).foreach { _ =>
      lab = lab.map { case (v, l) => v -> (adj(v).map(lab).+(l)).min }
    }
    lab
  }

  /** Synchronous label propagation: self-vote plus one vote per distinct
    * neighbour; most votes wins, ties to the smallest label. */
  def labelPropagation(es: Seq[(Long, Long)], rounds: Int): Map[Long, Long] = {
    val adj = undirected(es)
    var lab = adj.keys.map(v => v -> v).toMap
    (1 to rounds).foreach { _ =>
      lab = lab.map { case (v, l) =>
        val votes = (adj(v).toSeq.map(lab) :+ l).groupBy(identity)
          .view.mapValues(_.size).toSeq
        v -> votes.minBy { case (lb, c) => (-c, lb) }._1
      }
    }
    lab
  }

  /** k-core peeling for `rounds` rounds: surviving (id → degree). */
  def kcore(es: Seq[(Long, Long)], k: Int, rounds: Int): Map[Long, Long] = {
    var e: Set[(Long, Long)] = (es ++ es.map(_.swap)).toSet
    (1 to rounds).foreach { _ =>
      val deg = e.toSeq.groupBy(_._1).view.mapValues(_.size).toMap
      e = e.filter { case (a, b) => deg(a) >= k && deg(b) >= k }
    }
    e.toSeq.groupBy(_._1).view.mapValues(_.size.toLong).toMap
  }

  /** Unnormalized integer HITS: id → (hub, auth). */
  def hits(es: Seq[(Long, Long)], iters: Int): Map[Long, (Long, Long)] = {
    val verts = es.flatMap { case (a, b) => Seq(a, b) }.distinct
    var hub = verts.map(_ -> 1L).toMap
    var auth = Map.empty[Long, Long]
    (1 to iters).foreach { _ =>
      auth = es.groupBy(_._2).view.mapValues(_.map(e => hub(e._1)).sum).toMap
      hub = es.groupBy(_._1).view.mapValues(_.map(e => auth(e._2)).sum).toMap
    }
    verts.map(v => v -> (hub.getOrElse(v, 0L), auth.getOrElse(v, 0L))).toMap
  }

  /** Hop-bounded Bellman-Ford from `src`: id → dist for every vertex
    * reached within `hops` edges. */
  def sssp(es: Seq[((Long, Long), Long)], src: Long, hops: Int): Map[Long, Long] = {
    var d = Map(src -> 0L)
    (1 to hops).foreach { _ =>
      val relaxed = es.flatMap { case ((a, b), w) => d.get(a).map(x => b -> (x + w)) }
      d = (d.toSeq ++ relaxed).groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    }
    d
  }

  /** Newman modularity of `labels` over the undirected edge set. */
  def modularity(es: Seq[(Long, Long)], labels: Map[Long, Long]): Double = {
    val m = es.size.toDouble
    val deg = (es.map(_._1) ++ es.map(_._2)).groupBy(identity)
      .view.mapValues(_.size.toDouble).toMap
    val intra = es.count { case (a, b) => labels(a) == labels(b) }
      .toDouble
    val dc = deg.toSeq.groupBy { case (v, _) => labels(v) }
      .view.mapValues(_.map(_._2).sum).values
    intra / m - dc.map(d => (d / (2 * m)) * (d / (2 * m))).sum
  }

  // ----------------------------------------------------------- streams

  /** (window start µs, event type) → count over one-minute windows. */
  def windowCounts(events: Seq[Gen.Event]): Map[(Long, String), Long] =
    events.groupBy(e => (e.tsUs / 60000000L * 60000000L, e.etype))
      .view.mapValues(_.size.toLong).toMap

  /** Gap sessions per user: (user, events, start µs, end µs). */
  def sessions(events: Seq[Gen.Event], gapUs: Long): Set[(Long, Int, Long, Long)] =
    events.groupBy(_.user).toSeq.flatMap { case (u, es) =>
      val ts = es.map(_.tsUs).sorted
      val out = scala.collection.mutable.ArrayBuffer[(Long, Int, Long, Long)]()
      var start = ts.head; var end = ts.head; var n = 1
      ts.tail.foreach { t =>
        if (t - end > gapUs) { out += ((u, n, start, end)); start = t; n = 1 }
        else n += 1
        end = t
      }
      out += ((u, n, start, end))
      out
    }.toSet
}
