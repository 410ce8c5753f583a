package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import graft.core.{Graph, GraphLink, GraphNode, Page}

/** Seeded input generators. Every output is a pure function of its seed. */
object Gen {

  /** splitmix64 step. */
  def mix(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  final class Rng(seed: Long) {
    private var s = seed
    def nextLong(): Long = { s = mix(s); s }
    def nextInt(n: Int): Int = ((nextLong() >>> 1) % n).toInt
    def nextDouble(): Double = (nextLong() >>> 11) * 1.1102230246251565e-16
  }

  /** Inverse CDF of Zipf(s) over n ranks. */
  final class Zipf(n: Int, s: Double) {
    val cdf: Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x / total; acc }
    }
    def draw(r: Double): Int = {
      var lo = 0; var hi = cdf.length - 1
      while (lo < hi) { val mid = (lo + hi) >>> 1; if (cdf(mid) < r) lo = mid + 1 else hi = mid }
      lo
    }
  }

  private val syllables = Vector("ka", "lo", "ri", "ve", "ban", "tor", "mi", "sel",
    "du", "ra", "nok", "fe", "zi", "gal", "pu", "the")
  private val types = Vector("GPE", "PERSON", "ORG", "LOC")

  /** Entity `j` as (type, value); values are distinct for distinct `j`. */
  def entity(j: Int): (String, String) = {
    val b = new StringBuilder
    var x = j + syllables.length // at least two syllables
    while (x > 0) { b ++= syllables(x % syllables.length); x /= syllables.length }
    b.setCharAt(0, b.charAt(0).toUpper)
    (types(((mix(j.toLong) >>> 1) % types.length).toInt), b.toString)
  }

  private val posCues = Vector("praised", "supported", "welcomed", "cooperation", "agreement")
  private val negCues = Vector("condemned", "attacked", "sanctions", "threat", "crisis")
  private val neuFill = Vector("yesterday", "reported", "statement", "meeting", "officials",
    "summit", "talks", "delegation", "press", "sources", "announced", "during", "regional")

  /** Crawl pages plus the properties every result records. */
  final case class Crawl(pages: Seq[Page], lines: Long, mentions: Long,
      orderedPairs: Long, vocab: Int, hottestShare: Double, htmlBytes: Long)

  /** `n` pages of 15-40 lines, 1-3 `[TYPE:Value]` mentions per line drawn
    * from Zipf(1.1) over `vocab` entities whose popularity order the seed
    * shuffles. `html` is built so `TextOps.extractText(html) == text`. */
  def crawl(n: Int, vocab: Int, seed: Long): Crawl = {
    val zipf = new Zipf(vocab, 1.1)
    val perm = {
      val r = new Rng(mix(seed ^ 0x5eedL))
      val a = Array.range(0, vocab)
      for (i <- a.indices.reverse) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
      a
    }
    val tags = Array.tabulate(vocab) { j => val (t, v) = entity(j); s"[$t:$v]" }
    val hits = new Array[Long](vocab)
    var lines = 0L; var mentions = 0L; var pairs = 0L; var bytes = 0L
    val pages = (0 until n).map { i =>
      val rng = new Rng(mix(seed) ^ mix(i.toLong))
      val nLines = 15 + rng.nextInt(26)
      val text = (0 until nLines).map { _ =>
        val m = 1 + rng.nextInt(3)
        val cue = rng.nextInt(3) match {
          case 0 => posCues(rng.nextInt(posCues.length))
          case 1 => negCues(rng.nextInt(negCues.length))
          case _ => neuFill(rng.nextInt(neuFill.length))
        }
        val words = Vector.newBuilder[String]
        words += neuFill(rng.nextInt(neuFill.length))
        for (k <- 0 until m) {
          val e = perm(zipf.draw(rng.nextDouble()))
          hits(e) += 1
          if (k > 0) words += cue
          words += tags(e)
        }
        words += neuFill(rng.nextInt(neuFill.length))
        mentions += m; pairs += m * (m - 1)
        words.result().mkString(" ")
      }.mkString("\n")
      lines += nLines
      val html = text.split("\n", -1).map(l => s"<p>$l</p>")
        .mkString("<html><head><title>p</title></head><body>", "", "</body></html>")
        .getBytes(UTF_8)
      bytes += html.length
      Page(f"https://crawl$seed%d.test/p/$i%07d", new Timestamp(1700000000000L + i * 1000L),
        html, text, "en")
    }
    Crawl(pages, lines, mentions, pairs, vocab, hits.max.toDouble / mentions, bytes)
  }

  /** A pair of partly overlapping count-weighted force graphs over typed node
    * keys, `links` links each with distinct (source, target) pairs: B keeps
    * about half of A's pairs with fresh counts and sentiments and adds new
    * ones. Sources are Zipf-skewed, targets uniform. */
  def graphPair(nodes: Int, links: Int, seed: Long): (Graph, Graph) = {
    val zipf = new Zipf(nodes, 0.8)
    val ids = Array.tabulate(nodes) { j => val (t, v) = entity(j); s"$t.$v" }
    val sents = Vector("pos", "neg", "neu")
    val rng = new Rng(mix(seed ^ 0x6a9bL))
    def link(): (String, Double) = (sents(rng.nextInt(3)), (1 + rng.nextInt(5)).toDouble)
    def draw(k: Int, taken: Set[(String, String)]): Map[(String, String), (String, Double)] = {
      val m = scala.collection.mutable.LinkedHashMap.empty[(String, String), (String, Double)]
      while (m.size < k) {
        val st = (ids(zipf.draw(rng.nextDouble())), ids(rng.nextInt(nodes)))
        if (st._1 != st._2 && !taken(st) && !m.contains(st)) m(st) = link()
      }
      m.toMap
    }
    val a = draw(links, Set.empty)
    val kept = a.keys.toVector.sorted.filter(_ => rng.nextInt(2) == 0).map(k => k -> link()).toMap
    (graph("A", a), graph("B", kept ++ draw(links - kept.size, a.keySet)))
  }

  /** One count-weighted force graph with `links` links over distinct
    * undirected node pairs. The seed splits the nodes into `groups` groups
    * and links stay inside a group, so the graph has about that many
    * components. Sources are Zipf-skewed, targets uniform in the group. */
  def undirectedGraph(nodes: Int, links: Int, groups: Int, seed: Long): Graph = {
    val zipf = new Zipf(nodes, 0.8)
    val ids = Array.tabulate(nodes) { j => val (t, v) = entity(j); s"$t.$v" }
    val rng = new Rng(mix(seed ^ 0x3c0fL))
    val group = Array.fill(nodes)(rng.nextInt(groups))
    val members = Array.tabulate(groups)(g => group.indices.filter(group(_) == g).toArray)
    val sents = Vector("pos", "neg", "neu")
    val m = scala.collection.mutable.LinkedHashMap.empty[(String, String), (String, Double)]
    val pairs = scala.collection.mutable.HashSet.empty[(String, String)]
    while (m.size < links) {
      val j = zipf.draw(rng.nextDouble())
      val ms = members(group(j))
      val (s, t) = (ids(j), ids(ms(rng.nextInt(ms.length))))
      if (s != t && pairs.add(if (s < t) (s, t) else (t, s)))
        m((s, t)) = (sents(rng.nextInt(3)), (1 + rng.nextInt(5)).toDouble)
    }
    graph("C", m.toMap)
  }

  private def graph(name: String, ls: Map[(String, String), (String, Double)]): Graph = {
    val links = ls.toVector.sortBy(_._1).map { case ((s, t), (sent, c)) => GraphLink(s, t, c, sent) }
    val deg = links.flatMap(l => Seq(l.source, l.target)).groupBy(identity).view.mapValues(_.size).toMap
    val maxd = deg.values.max.toDouble
    Graph(Seq(name), s"[$name]", deg.toVector.sortBy(_._1).map { case (id, d) => GraphNode(id, d / maxd) }, links)
  }

  def writeForce(g: Graph, path: String): Long = {
    val bytes = graft.graph.D3Json.forceJson(g, intLinkC = true, intNodeC = false).getBytes(UTF_8)
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path), bytes)
    bytes.length.toLong
  }
}
