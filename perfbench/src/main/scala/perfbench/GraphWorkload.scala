package perfbench

import java.math.MathContext
import java.nio.file.{Files, Paths}
import scala.util.Random
import org.apache.spark.sql.SparkSession
import graft.core.Graph
import graft.graph.GraphOps

/** `Operations` over seeded force graphs that are larger than the bounds of
  * the `GraphOps` driver fast paths, so the distributed loops do the work.
  * A and B partly overlap and have more links than the 32,768-edge bound;
  * COMPONENTS reads C, whose distinct undirected pairs exceed the 65,536-pair
  * bound of `Dedup.clusters`. The graphs come from one of
  * `GraphWorkload.inputSeeds` generator seeds (the run seed modulo their
  * number); the expected outputs for each were recorded by `Record`. */
final class GraphWorkload(work: String, seed: Long, expectedFile: String) extends Workload {
  import GraphWorkload._

  private val gseed = Math.floorMod(seed, inputSeeds.toLong)
  private val (a, b) = Gen.graphPair(nodes, links, gseed)
  private val c = Gen.undirectedGraph(nodes, componentsLinks, componentGroups, gseed)
  private val paths = Inputs(s"$work/a.json", s"$work/b.json", s"$work/c.json")
  private var bytes = 0L
  private val order = new Random(seed).shuffle(cliOps)

  def prepare(): Unit = {
    val (a1, b1) = Gen.graphPair(nodes, links, gseed)
    bytes = Gen.writeForce(a1, paths.a) + Gen.writeForce(b1, paths.b) +
      Gen.writeForce(Gen.undirectedGraph(nodes, componentsLinks, componentGroups, gseed), paths.c)
  }

  def inputInfo: String = {
    val shared = a.links.map(l => (l.source, l.target)).toSet
      .intersect(b.links.map(l => (l.source, l.target)).toSet).size
    f"""{"generator_seed":$gseed,"a_nodes":${a.nodes.size},"a_links":${a.links.size},""" +
      f""""b_nodes":${b.nodes.size},"b_links":${b.links.size},"shared_links":$shared,""" +
      f""""c_links":${c.links.size},"c_groups":$componentGroups,"links_over_fast_path_bound":${a.links.size / 32768.0}%.3f,""" +
      f""""c_pairs_over_clusters_bound":${c.links.size / 65536.0}%.3f,"json_bytes":$bytes}"""
  }

  private lazy val expected: Map[String, String] = {
    val m = scala.io.Source.fromFile(expectedFile, "UTF-8").getLines().map(_.split("\t"))
      .collect { case Array(g, op, h) if g.toLong == gseed => op -> h }.toMap
    require(m.size == cliOps.size,
      s"$expectedFile has ${m.size} of ${cliOps.size} expected outputs for generator seed $gseed")
    m
  }

  def pass: Seq[Op] = order.map(op => Op(op, records(op), out => run(op, paths, out)))

  /** One whole pass: with fewer warm-up calls, the timed pass's CPU time
    * varied by up to 75 % between runs while the JIT was still compiling. */
  def warmup: Seq[Op] = pass

  private def records(op: String): Long =
    if (algebra(op)) a.links.size + b.links.size
    else if (op == "COMPONENTS") c.links.size
    else a.links.size

  def verify(outs: Seq[(Op, String)]): Seq[Option[String]] = outs.map { case (op, dir) =>
    val h = scala.util.Try(outputHash(op.name, dir)).getOrElse("unreadable")
    Option.when(h != expected(op.name))(s"${op.name} $dir: output hash $h != ${expected(op.name)}")
  }

  /** The analytics and the set algebra replayed on in-memory graphs, each in
    * its own span; `cli.<OP>.s` is the median wall time of that op's timed
    * calls. */
  def traced(dir: String, calls: Seq[Call]): Map[String, Double] = {
    val nproc = Runtime.getRuntime.availableProcessors
    val s = SparkSession.builder().master(s"local[${math.min(8, nproc)}]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", "8").config("spark.ui.enabled", "false").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    try {
      import s.implicits._
      val sc = Some(s.sparkContext)
      def edges(g: Graph) = g.links.map(l => (l.source, l.target, l.sent, l.c)).toDF("source", "target", "sent", "c")
      val ea = edges(a)
      def analytic(n: String)(df: => org.apache.spark.sql.DataFrame): Unit =
        Trace.span(s"graph.$n", sc) { val r = df.collect(); ((), r.length.toLong) }
      Trace.span("graph.layers", sc) {
        analytic("pageRank")(GraphOps.pageRank(ea, iters))
        analytic("connectedComponents")(GraphOps.connectedComponents(edges(c)))
        analytic("hits")(GraphOps.hits(ea, math.max(1, iters - 1)))
        analytic("louvainMoves")(GraphOps.louvainMoves(ea, rounds))
        analytic("kCore")(GraphOps.kCore(ea, 2, iters + 1))
        Seq(GraphOps.Union, GraphOps.Intersection, GraphOps.Difference).foreach { op =>
          Trace.span(s"graph.${op.toLowerCase}", sc) { ((), GraphOps(a, b, op).links.size.toLong) }
        }
        ((), 0L)
      }
    } finally s.stop()
    val spans = Trace.spans.toSeq
    (Layers.analytics.flatMap(n => Layers.of(s"graph.$n", spans, Seq("s", "jobs", "shuffle_mb"))) ++
      Layers.algebra.flatMap(n => Layers.of(s"graph.$n", spans, Seq("s")))).toMap ++
      cliOps.map(o => s"cli.$o.s" -> Stats.median(calls.filter(_.op.name == o).map(_.wallS)))
  }
}

object GraphWorkload {
  val nodes = 5000
  val links = 34000
  val componentsLinks = 68000
  val componentGroups = 24
  val inputSeeds = 8
  /** Operations' iteration knobs: the fewest that still run each loop. */
  val iters = 1
  val rounds = 1
  val cliOps = Seq("PAGERANK", "COMPONENTS", "HITS", "LOUVAIN", "KCORE", "UNION", "INTERSECTION", "DIFFERENCE")
  val algebra = Set("UNION", "INTERSECTION", "DIFFERENCE")

  final case class Inputs(a: String, b: String, c: String)

  /** One `Operations` call: the set algebra reads A and B, COMPONENTS reads
    * C, and the other analytics read A. */
  def run(op: String, in: Inputs, out: String): Unit = {
    val inputs =
      if (algebra(op)) Array("--a", in.a, "--b", in.b)
      else Array("--a", if (op == "COMPONENTS") in.c else in.a)
    graft.cli.Operations.main(inputs ++ Array("--operation", op,
      "--iters", iters.toString, "--rounds", rounds.toString, "--out", out))
  }

  private val decimal = raw"-?\d+\.\d+(?:[eE]-?\d+)?".r

  /** Hash of an op's output with decimals rounded to 9 significant digits
    * (the distributed loops may sum in any order); analytics rows are sorted. */
  def outputHash(op: String, dir: String): String = {
    val file = if (algebra(op)) s"$dir/force/${op.toLowerCase}.json" else s"$dir/analytics.csv"
    val lines = new String(Files.readAllBytes(Paths.get(file)), "UTF-8").split("\n").toSeq.map(l =>
      decimal.replaceAllIn(l, m => BigDecimal(m.matched).round(new MathContext(9)).bigDecimal
        .stripTrailingZeros.toPlainString))
    val canon = (if (algebra(op)) lines else lines.head +: lines.tail.sorted).mkString("\n")
    java.security.MessageDigest.getInstance("SHA-256").digest(canon.getBytes("UTF-8"))
      .take(12).map(x => f"$x%02x").mkString
  }
}

/** Records the expected `Operations` outputs for every generator seed:
  * `Record <work dir> <expected tsv>`. */
object Record {
  def main(args: Array[String]): Unit = {
    val Array(work, file) = args
    val rows = (0 until GraphWorkload.inputSeeds).flatMap { g =>
      val wl = new GraphWorkload(s"$work/$g", g.toLong, file)
      wl.prepare()
      GraphWorkload.cliOps.map { op =>
        val out = s"$work/$g/out/$op"
        GraphWorkload.run(op, GraphWorkload.Inputs(s"$work/$g/a.json", s"$work/$g/b.json", s"$work/$g/c.json"), out)
        s"$g\t$op\t${GraphWorkload.outputHash(op, out)}"
      }
    }
    Files.write(Paths.get(file), rows.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
