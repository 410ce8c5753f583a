package perfbench

import java.lang.management.ManagementFactory

/** One product call of a pass. `records` is the input it reads (pages for
  * Infer, links for Operations); `run(dir)` writes its output under `dir`. */
final case class Op(name: String, records: Long, run: String => Unit)

/** One finished call: wall and process CPU seconds, the heap still in use
  * after a full GC once it returned, and the exception it threw, if any. */
final case class Call(op: Op, dir: String, wallS: Double, cpuS: Double, retainedMb: Double,
    err: Option[Throwable])

trait Workload {
  /** Generates the seeded inputs and writes them under the work directory. */
  def prepare(): Unit
  /** Input properties, one JSON object. */
  def inputInfo: String
  /** The ops run before the timed region, starting from a cold JVM. */
  def warmup: Seq[Op]
  /** The ops of one pass, in an order the seed fixes. */
  def pass: Seq[Op]
  /** Checks finished ops against references computed once, outside every
    * timed region; `outs` pairs each op with its output directory. Returns,
    * per output, a message if it is wrong or unreadable. */
  def verify(outs: Seq[(Op, String)]): Seq[Option[String]]
  /** The per-layer metrics by name, from a traced replay in `dir` and the
    * timed `calls`. */
  def traced(dir: String, calls: Seq[Call]): Map[String, Double]
}

object Main {
  private def retainedMb(): Double =
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

  private def secs[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime
    val a = f
    (a, (System.nanoTime - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val bootS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val opts = args.sliding(2, 2).collect { case Array(k, v) => k -> v }.toMap
    val name = opts("--workload")
    val seed = opts("--seed").toLong
    val seconds = opts("--seconds").toDouble
    val trace = opts.getOrElse("--trace", "0") == "1"
    val work = opts("--work")
    if (trace) System.setProperty("spark.extraListeners", classOf[SpanListener].getName)
    val wl: Workload = name match {
      case "crawl_fused" => new CrawlWorkload(work, seed)
      case "graph_ops"   => new GraphWorkload(work, seed, opts("--expected"))
      case other         => throw new IllegalArgumentException(s"unknown workload: $other")
    }

    // set-up: input generation three times (median), then the warm-up ops
    val prepAll = (1 to 3).map(_ => secs(wl.prepare())._2)
    val prepS = Stats.median(prepAll)
    var run = 0
    val cpu = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
    // a full GC after every call, outside its timing: the heap it leaves
    // behind is measured, and no call pays for the garbage of the one before.
    // In the traced run the SpanListener sees every call's jobs, and each
    // pass is a parent span of its calls.
    def runPass(ops: Seq[Op]): Seq[Call] = Trace.spanIf(trace, "pass") {
      val calls = ops.map { op =>
        run += 1
        val dir = s"$work/out/$run"
        val c0 = cpu.getProcessCpuTime
        val (err, s) = secs(Trace.spanIf(trace, s"cli.${op.name}") {
          (try { op.run(dir); None } catch { case e: Exception => Some(e) }, 0L)
        })
        val c = (cpu.getProcessCpuTime - c0) / 1e9
        System.gc()
        Call(op, dir, s, c, retainedMb(), err)
      }
      (calls, calls.length.toLong)
    }
    val (warm, warmS) = secs(runPass(wl.warmup))
    val setupS = bootS + prepS + warmS
    println(s"""{"input":${wl.inputInfo}}""")

    // timed: whole passes until the budget is spent, so every run times the
    // same mix of ops
    val t0 = System.nanoTime
    val passes = scala.collection.mutable.ArrayBuffer.empty[Seq[Call]]
    while (passes.isEmpty || (System.nanoTime - t0) / 1e9 < seconds) passes += runPass(wl.pass)
    val done = passes.flatten.toSeq

    // correctness, outside the timed region
    val calls = warm ++ done
    val finished = calls.filter(_.err.isEmpty)
    val (verified, checkS) = secs(wl.verify(finished.map(c => (c.op, c.dir))))
    val verdicts = finished.zip(verified).toMap
    val problems = calls.map(c =>
      c.err.map(e => s"${c.op.name} ${c.dir}: ${e.getClass.getName}: ${e.getMessage}").orElse(verdicts(c)))
    problems.flatten.foreach(e => System.err.println(s"check failed: $e"))
    val warmFailed = problems.take(warm.length).count(_.isDefined)
    val failed = problems.drop(warm.length).count(_.isDefined)

    // The metrics are in process CPU seconds: on a shared host the CPU time
    // the hypervisor steals stretches wall time but is not charged to the
    // process. Throughput is that of a pass in which every call takes the
    // median CPU time of its op's timed calls.
    val lat = done.map(_.wallS)
    val cpuS = done.map(_.cpuS)
    val passS = passes.map(_.map(_.wallS).sum).toSeq
    val medianCpu = done.groupBy(_.op.name).view.mapValues(cs => Stats.median(cs.map(_.cpuS))).toMap
    val typicalPassCpuS = wl.pass.map(op => medianCpu(op.name)).sum
    val docsPerCpuS = wl.pass.map(_.records).sum / typicalPassCpuS
    val opsPerCpuS = wl.pass.length / typicalPassCpuS
    val (tailCpuS, tailP) = Stats.tail(cpuS)
    def list(xs: Seq[Double]) = xs.map(x => f"$x%.4f").mkString("[", ",", "]")
    println(s"""{"timed":{"passes":${passes.length},"ops":${done.length},"pass_s":${list(passS)},""" +
      s""""op":[${done.map(c => s""""${c.op.name}"""").mkString(",")}],"op_s":${list(lat)},""" +
      s""""op_cpu_s":${list(cpuS)},"warmup_op_s":${list(warm.map(_.wallS))},""" +
      f""""op_p50_s":${Stats.median(lat)}%.4f,"tail_s":${Stats.tail(lat)._1}%.4f,""" +
      f""""tail_percentile":$tailP%.3f,"tail_samples":${lat.length},"check_s":$checkS%.3f,""" +
      f""""setup":{"boot_s":$bootS%.3f,"prepare_s":${list(prepAll)},"warmup_s":$warmS%.3f},"warmup_failed":$warmFailed}}""")

    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("setup_s", setupS, "s"),
        ("docs_per_cpu_s", docsPerCpuS, "1/s"),
        ("op_cpu_p50_s", Stats.median(cpuS), "s"),
        ("op_cpu_tail_s", tailCpuS, "s"),
        ("ops_per_cpu_s", opsPerCpuS, "1/s"),
        ("heap_peak_mb", done.map(_.retainedMb).max, "MB"))
      else {
        // the timed calls above ran with the listener installed; compare
        // these with a --trace 0 run of the same seed for the tracing overhead
        println(f"""{"tracing_overhead":{"traced_docs_per_cpu_s":$docsPerCpuS%.3f,"traced_ops_per_cpu_s":$opsPerCpuS%.5f}}""")
        val m = wl.traced(s"$work/traced", done)
        Trace.spans.foreach(s => println(f"""{"span":"${s.name}","parent":"${s.parent.getOrElse("")}",""" +
          f""""wall_s":${s.wallS}%.4f,"self_s":${s.selfS}%.4f,"rows":${s.rows},"jobs":${s.counts.jobs}}"""))
        Layers.all.map(n => (n, m.getOrElse(n, 0.0), Layers.unit(n)))
      }
    metrics.foreach { case (n, v, u) => println(s"metric $n = $v $u") }
    val body = metrics.map { case (n, v, u) => s""""$n":{"value":$v,"unit":"$u"}""" }.mkString(",")
    println(f"""{"jvm_uptime_s":${ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%.3f}""")
    println(s"""{"correct":${warmFailed == 0 && failed == 0},"attempted":${done.length},""" +
      s""""failed":$failed,"metrics":{$body}}""")
    System.out.flush()
    sys.exit(0) // no thread a CLI call left behind may keep the JVM alive
  }
}

/** Names and units of the per-layer metrics. */
object Layers {
  val pipelineSpans = Seq("ner.parsePages", "kg.samples", "kg.predictions", "kg.triplesFused",
    "io.contents", "io.predict", "io.triples", "graph.build", "graph.d3json")
  val pipeline: Seq[String] =
    pipelineSpans.flatMap(s => Seq("self_s", "rows", "task_s", "shuffle_mb", "skew").map(x => s"$s.$x")) ++
      Seq("kg.pair_yield", "graph.build.nodes")
  val analytics = Seq("pageRank", "connectedComponents", "hits", "louvainMoves", "kCore")
  val algebra: Seq[String] = GraphWorkload.cliOps.filter(GraphWorkload.algebra).map(_.toLowerCase)
  val cliOps: Seq[String] = GraphWorkload.cliOps
  val graphOps: Seq[String] =
    analytics.flatMap(a => Seq("s", "jobs", "shuffle_mb").map(x => s"graph.$a.$x")) ++
      algebra.map(a => s"graph.$a.s") ++ cliOps.map(o => s"cli.$o.s")
  val all: Seq[String] = pipeline ++ graphOps

  def unit(n: String): String = n.substring(n.lastIndexOf('.') + 1) match {
    case "self_s" | "task_s" | "s" => "s"
    case "shuffle_mb"              => "MB"
    case "skew" | "pair_yield"     => "ratio"
    case _                         => "count"
  }

  /** Per-layer metrics of the spans named `name` (summed over the spans of
    * that name; skew is the largest). */
  def of(name: String, spans: Seq[Span], suffixes: Seq[String]): Map[String, Double] = {
    val ss = spans.filter(_.name == name)
    suffixes.map { x =>
      val v = x match {
        case "self_s"     => ss.map(_.selfS).sum
        case "s"          => ss.map(_.wallS).sum
        case "rows"       => ss.map(_.rows.toDouble).sum
        case "task_s"     => ss.map(_.counts.taskMs / 1000.0).sum
        case "shuffle_mb" => ss.map(_.counts.shuffleBytes / 1048576.0).sum
        case "skew"       => (0.0 +: ss.map(_.counts.skew)).max
        case "jobs"       => ss.map(_.counts.jobs.toDouble).sum
      }
      s"$name.$x" -> v
    }.toMap
  }
}
