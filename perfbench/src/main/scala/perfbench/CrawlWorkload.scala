package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.util.Try
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Graph, GraphLink, GraphNode, Page}
import graft.graph.{D3Json, GraphBuilder, Viewer}
import graft.kg.{KgPipeline, LexiconScorer, Sampler}
import graft.ner.BracketNer

/** `Infer --fused on` over seeded crawl pages; a pass is two calls. The traced
  * run replays both the fused path and the reference-compatible default path
  * layer by layer. */
final class CrawlWorkload(work: String, seed: Long) extends Workload {
  val pages = 1500
  val vocab = 1500
  private val pagesDir = s"$work/pages"
  private val nproc = Runtime.getRuntime.availableProcessors
  private lazy val crawl = Gen.crawl(pages, vocab, seed)

  /** A session configured like Infer's own. */
  private def session(): SparkSession = {
    val s = SparkSession.builder().master(s"local[$nproc]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def withSession[A](f: SparkSession => A): A = {
    val s = session()
    try f(s) finally s.stop()
  }

  def prepare(): Unit = {
    val c = Gen.crawl(pages, vocab, seed)
    withSession { s =>
      import s.implicits._
      s.createDataset(c.pages).repartition(nproc).write.mode(SaveMode.Overwrite).parquet(pagesDir)
    }
  }

  def inputInfo: String = {
    val c = crawl
    f"""{"pages":${c.pages.length},"lines":${c.lines},"mentions":${c.mentions},""" +
      f""""ordered_pairs":${c.orderedPairs},"vocab":${c.vocab},"hottest_share":${c.hottestShare}%.4f,""" +
      f""""html_bytes_per_page":${c.htmlBytes.toDouble / c.pages.length}%.1f}"""
  }

  private val tpc = 50
  private val cfg = KgPipeline.Config(sampler = Sampler.Config(termsPerContext = tpc, distInTermsBound = tpc))
  private val fusedCfg = KgPipeline.Config(sampler =
    Sampler.Config(termsPerContext = tpc, distInTermsBound = tpc, renderText = false))

  /** Order-independent fingerprint of a triples relation: the row count and
    * two sums of per-row hashes of the row's values as text. */
  private def fingerprint(df: DataFrame): (Long, Long, Long) = {
    val row = concat_ws("\u0001", df.columns.map(c => coalesce(col(c).cast("string"), lit("null"))): _*)
    val r = df.agg(count(lit(1)), coalesce(sum(pmod(xxhash64(row), lit(1L << 40))), lit(0L)),
      coalesce(sum(pmod(hash(row).cast("long"), lit(1L << 31))), lit(0L))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** The references: the triples fingerprint of the object path, which the
    * fused kernel's output must match (the parity pair), and the force JSON
    * that `GraphBuilder.buildLocal` makes from those triples. */
  private def reference(implicit s: SparkSession): ((Long, Long, Long), String) = {
    import s.implicits._
    val ps = s.read.parquet(pagesDir).as[Page]
    val objDf = KgPipeline.triples(KgPipeline.samples(KgPipeline.parsePages(ps, BracketNer, cfg), cfg),
      LexiconScorer()).toDF().persist()
    val triples = fingerprint(objDf)
    val obj = objDf.collect()
    objDf.unpersist()
    // last occurrence wins in (docId, sentInd, sampleId, subject-before-object) order
    val types = scala.collection.mutable.Map.empty[String, String]
    obj.sortBy(r => (r.getString(5), r.getInt(6), r.getString(7))).foreach { r =>
      types(r.getString(0)) = r.getString(1)
      types(r.getString(3)) = r.getString(4)
    }
    val g = GraphBuilder.buildLocal("g", obj.map(r => GraphBuilder.Relation(r.getString(0), r.getString(3),
      r.getString(2))).toSeq, types.toMap)
    (triples, D3Json.forceJson(Graph(g.basis, g.equation, g.nodes.sortBy(_.id),
      g.links.sortBy(l => (l.source, l.target, l.sent))), intLinkC = true, intNodeC = false))
  }

  private val infer = Op("infer_fused", pages, out => graft.cli.Infer.main(Array("--pages", pagesDir,
    "--fused", "on", "--out", out, "--name", "g")))

  /** Two calls, so that one pass has more than one sample. */
  def pass: Seq[Op] = Seq.fill(2)(infer)

  /** Two calls: the cold one, and one while the JIT is still compiling. */
  def warmup: Seq[Op] = Seq.fill(2)(infer)

  def verify(outs: Seq[(Op, String)]): Seq[Option[String]] = if (outs.isEmpty) Nil else withSession { s =>
    val (triples, force) = reference(s)
    outs.map { case (op, dir) =>
      val problems = Try {
        val tr = fingerprint(s.read.parquet(s"$dir/triples"))
        val written = new String(Files.readAllBytes(Paths.get(s"$dir/force/g.json")), UTF_8)
        Seq(
          Option.when(tr != triples)(s"triples $tr != $triples"),
          Option.when(written != force)("force JSON differs from buildLocal")).flatten
      }.fold(e => Seq(s"unreadable output: $e"), identity)
      problems.reduceOption(_ + "; " + _).map(m => s"${op.name} $dir: $m")
    }
  }

  /** Infer's fused and default paths replayed stage by stage through the
    * layers' public functions, each stage materialized inside its span. */
  def traced(dir: String, calls: Seq[Call]): Map[String, Double] = {
    var nodes = 0L
    var fusedTriples = 0L
    withSession { implicit s =>
      import s.implicits._
      val sc = Some(s.sparkContext)
      val ps = s.read.parquet(pagesDir).as[Page]
      val scorer = LexiconScorer()
      Trace.span("infer.fused", sc) {
        val out = s"$dir/fused"
        val t = Trace.span("kg.triplesFused", sc) {
          val t = KgPipeline.triplesFused(ps, fusedCfg, scorer).persist()
          (t, t.count())
        }
        fusedTriples = t.count()
        Trace.span("io.triples", sc) {
          t.write.mode(SaveMode.Overwrite).parquet(s"$out/triples"); ((), fusedTriples)
        }
        nodes = graphStages(out, sc)
        t.unpersist()
        ((), fusedTriples)
      }
      Trace.span("infer.compat", sc) {
        val out = s"$dir/compat"
        val parsed = Trace.span("ner.parsePages", sc) {
          val x = KgPipeline.parsePages(ps, BracketNer, cfg).persist(); (x, x.count())
        }
        val samples = Trace.span("kg.samples", sc) {
          val x = KgPipeline.samples(parsed, cfg).persist(); (x, x.count())
        }
        val nSamples = samples.count()
        val preds = Trace.span("kg.predictions", sc) {
          val x = KgPipeline.predictions(samples, scorer).persist(); (x, x.count())
        }
        Trace.span("io.contents", sc) {
          KgPipeline.contentsCompat(samples).write.mode(SaveMode.Overwrite).parquet(s"$out/contents")
          ((), nSamples)
        }
        Trace.span("io.predict", sc) {
          KgPipeline.predictionsOneHot(preds).write.mode(SaveMode.Overwrite).parquet(s"$out/predict")
          ((), nSamples)
        }
        Trace.span("io.triples", sc) {
          KgPipeline.triples(samples, scorer).write.mode(SaveMode.Overwrite).parquet(s"$out/triples")
          ((), nSamples)
        }
        graphStages(out, sc)
        Seq(parsed, samples, preds).foreach(_.unpersist())
        ((), nSamples)
      }
    }
    Layers.pipelineSpans.flatMap(n => Layers.of(n, Trace.spans.toSeq,
      Seq("self_s", "rows", "task_s", "shuffle_mb", "skew"))).toMap ++ Map(
      "kg.pair_yield" -> fusedTriples.toDouble / crawl.orderedPairs,
      "graph.build.nodes" -> nodes.toDouble)
  }

  /** Infer's graph build and d3 save over `out/triples`; returns the node
    * count. Infer builds the graph inline in `main`, so the glue around the
    * `GraphBuilder` calls (the type map, the persist and the ordered collects)
    * is a copy of `Infer.main`'s and has to follow it when it changes. */
  private def graphStages(out: String, sc: Option[org.apache.spark.SparkContext])(
      implicit s: SparkSession): Long = {
    val g = Trace.span("graph.build", sc) {
      val t = s.read.parquet(s"$out/triples")
      val sides = t.select(col("subj").as("value"), col("subjType").as("type"),
          struct(col("docId"), col("sentInd"), col("sampleId"), lit(0).as("side")).as("ord"))
        .union(t.select(col("obj"), col("objType"),
          struct(col("docId"), col("sentInd"), col("sampleId"), lit(1).as("side"))))
      val typeMap = sides.groupBy("value").agg(max_by(col("type"), col("ord")).as("type"))
      val rels = t.select(col("subj").as("source"), col("obj").as("target"), col("pred").as("sent"))
      val edges = GraphBuilder.edges(GraphBuilder.withNodeKeys(rels, typeMap), 1.0).persist()
      val nodes = GraphBuilder.nodes(edges)
      edges.count()
      val g = Graph(Seq("g"), "[g]",
        nodes.orderBy("id").collect().map(r => GraphNode(r.getString(0), r.getDouble(1))).toSeq,
        edges.orderBy("source", "target", "sent").collect().map(r =>
          GraphLink(r.getString(0), r.getString(1), r.getDouble(3), r.getString(2))).toSeq)
      edges.unpersist()
      (g, g.links.size.toLong)
    }
    Trace.span("graph.d3json", sc) {
      D3Json.save(g, out, "g", intLinkC = true, intNodeC = false)
      Viewer.save(out, "g")
      ((), g.links.size.toLong)
    }
    g.nodes.size.toLong
  }
}
