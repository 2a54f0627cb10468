package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{Row, SparkSession, functions => F}
import org.apache.spark.sql.types.StructType

import graft.{Caches, SparkEntry}
import graft.algo.{CheckpointMaterializer, ConnectedComponents, PageRank, PageRankConfig}
import graft.gen.TranscriptGen
import graft.graph.{GraphBuilder, LinkGraph}
import graft.io.{ParquetManifestIO, TableIO}
import graft.queries.{GraphQueries, OracleContext}

/** The benchmark's JVM side: runs one workload through the library's public
  * entry points and prints one `PERFBENCH {...}` JSON line with the raw
  * measurements, the output checks and the host record. perfbench/run.py
  * builds this, runs it, finishes the query-suite oracle check in DuckDB and
  * prints the contract's result line.
  *
  * Every workload is a closed loop with one client: the next call into the
  * library is issued when the previous one returns. Operations repeat until
  * `--seconds` have passed (at least one); end-to-end values are medians
  * over them. With `--trace 1` a single operation runs traced (spans, job
  * groups, the SpanListener and the TableIO timer on) and the per-layer
  * metrics come from it.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        smoke: Boolean, work: String, data: String, traces: String,
                        perturb: Boolean)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m.getOrElse("trace", "0") == "1",
      m.getOrElse("size", "full") == "smoke", m("work"), m("data"), m("traces"),
      m.getOrElse("perturb", "0") == "1")
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no values")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it; the
    * maximum for 20 samples or fewer, where that percentile would sit at or
    * below the median. */
  def tail(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size <= 20) s.last else s(s.size - 11)
  }

  /** Nearest-rank percentile, q in (0, 1]. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    s(math.max(0, math.ceil(q * s.size).toInt - 1))
  }

  private def stealJiffies(): Long =
    try {
      val cpu = scala.io.Source.fromFile("/proc/stat").getLines().find(_.startsWith("cpu ")).get
      cpu.trim.split("\\s+")(8).toLong // cpu user nice system idle iowait irq softirq steal
    } catch { case _: Throwable => -1L }

  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
        .iterator().asScala.foreach(Files.delete)

  /** Everything a workload reports back; `layers` is filled in traced runs. */
  final class Report {
    var attempted = 0L
    var failed = 0L
    val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
    val e2e = mutable.LinkedHashMap.empty[String, Double]
    val layers = mutable.LinkedHashMap.empty[String, Double]
    val host = mutable.LinkedHashMap.empty[String, Any]
    var oracle: Option[(String, String)] = None // (sf dir, result dir) for run.py

    def check(name: String, ok: Boolean, detail: String): Unit = {
      checks += ((name, ok, detail))
      attempted += 1
      if (!ok) failed += 1
    }
  }

  final class Ctx(val spark: SparkSession, val args: Args, val tracer: Tracer) {
    val work: Path = Paths.get(args.work)
    val partitions: Int = spark.conf.get("spark.sql.shuffle.partitions").toInt
    var stealInWindow = 0L
    var windowS = 0.0
    /** Process CPU seconds (all JVM threads) of each timed operation. */
    val opCpuS = mutable.ArrayBuffer.empty[Double]
    private val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]

    /** The closed loop: operations until `--seconds` have passed (at least
      * one), `Caches` cleared between them. With --trace 1 exactly one
      * operation runs, traced: spans and job groups on, a SpanListener
      * registered for it. */
    def measure[T](op: Int => T): (Seq[T], Option[SpanListener]) = {
      val out = mutable.ArrayBuffer.empty[T]
      val listener = if (args.trace) Some(new SpanListener) else None
      listener.foreach(spark.sparkContext.addSparkListener)
      tracer.enabled = args.trace
      val s0 = stealJiffies()
      val t0 = System.nanoTime()
      try {
        var i = 0
        while (i == 0 || (!args.trace && secondsSince(t0) < args.seconds)) {
          if (i > 0) Caches.clear(spark)
          val c0 = os.getProcessCpuTime
          out += op(i)
          opCpuS += (os.getProcessCpuTime - c0) / 1e9
          i += 1
        }
      } finally {
        windowS = secondsSince(t0)
        stealInWindow = stealJiffies() - s0
        tracer.enabled = false
        listener.foreach { l =>
          org.apache.spark.ListenerDrain(spark.sparkContext)
          spark.sparkContext.removeSparkListener(l)
        }
      }
      (out.toSeq, listener)
    }

    /** Counters of every span under (and including) the given roots. */
    def counters(listener: SpanListener, roots: Seq[Span]): Counters = {
      val ids = roots.flatMap(s => tracer.subtree(s.id)).toSet
      val snap = listener.snapshot
      val c = new Counters
      ids.foreach(id => snap.get(id).foreach(c.add))
      c
    }

    def topLevel: Seq[Span] = tracer.spans.toSeq.filter(_.parent == -1)

    def writeTrace(report: Report, listener: SpanListener): Unit = {
      val dir = Paths.get(args.traces)
      Files.createDirectories(dir)
      val snap = listener.snapshot
      val mapper = new ObjectMapper()
      val lines = tracer.spans.map { s =>
        val m = new java.util.LinkedHashMap[String, Any]()
        m.put("run_id", s.runId); m.put("span", s.id); m.put("parent", s.parent)
        m.put("name", s.name); m.put("layer", s.layer)
        m.put("start_ns", s.startNs); m.put("end_ns", s.endNs); m.put("seconds", s.seconds)
        snap.get(s.id).foreach { c =>
          m.put("jobs", c.jobs); m.put("stages", c.stages); m.put("tasks", c.tasks)
          m.put("shuffle_write_bytes", c.shuffleWriteBytes)
          m.put("shuffle_read_bytes", c.shuffleReadBytes); m.put("spill_bytes", c.spillBytes)
          m.put("exec_run_ms", c.runMs); m.put("exec_cpu_ns", c.cpuNs); m.put("gc_ms", c.gcMs)
          m.put("sched_delay_ms", c.schedDelayMs)
        }
        mapper.writeValueAsString(m)
      }
      val hostLine = mapper.writeValueAsString(
        (report.host.toMap + ("run_id" -> tracer.runId) + ("record" -> "host")).asJava)
      val file = dir.resolve(s"${args.workload}-seed${args.seed}-${tracer.runId}.jsonl")
      Files.write(file, (hostLine +: lines.toSeq).mkString("", "\n", "\n").getBytes("UTF-8"))
      report.host("trace_file") = file.toString
    }

    /** Per-workload engine totals, and how much of the traced operation's
      * wall the top-level spans cover. The tracing overhead is the time the
      * tracer and the listener spend on their own bookkeeping. */
    def sparkLayer(report: Report, listener: SpanListener, wall: Double): Unit = {
      val top = topLevel
      val c = counters(listener, top)
      val mb = 1024.0 * 1024.0
      report.layers ++= Seq(
        "spark.jobs" -> c.jobs.toDouble,
        "spark.stages" -> c.stages.toDouble,
        "spark.tasks" -> c.tasks.toDouble,
        "spark.shuffle_write_mb" -> c.shuffleWriteBytes / mb,
        "spark.shuffle_read_mb" -> c.shuffleReadBytes / mb,
        "spark.spill_mb" -> c.spillBytes / mb,
        "spark.peak_exec_mem_mb" -> c.peakExecMemBytes / mb,
        "spark.exec_run_s" -> c.runMs / 1e3,
        "spark.exec_cpu_s" -> c.cpuNs / 1e9,
        "spark.gc_s" -> c.gcMs / 1e3,
        "spark.sched_delay_s" -> c.schedDelayMs / 1e3,
        "spark.task_skew" -> c.taskSkew,
        "trace.coverage" -> top.map(_.seconds).sum / wall,
        "trace.overhead_s" -> (tracer.ownNs + listener.ownNs) / 1e9)
      writeTrace(report, listener)
    }
  }

  // ------------------------------------------------------------------ inputs

  /** Transcript parquet for (seed, conversations); returns the turn count. */
  private def generate(spark: SparkSession, conversations: Long, seed: Long, dir: Path): Long = {
    TranscriptGen.transcripts(spark, conversations, seed).write.mode("overwrite")
      .parquet(dir.toString)
    spark.read.parquet(dir.toString).count()
  }

  private def buildGraph(ctx: Ctx, input: Path): LinkGraph =
    ctx.tracer.span("graph.build", "graph") {
      val g = GraphBuilder.fromTranscripts(ctx.spark.read.parquet(input.toString))
      g.numVertices
      g.numEdges
      g
    }

  /** (src, dst, weight) rows of a graph as local arrays. */
  private def edgeArrays(g: LinkGraph): (Array[Int], Array[Int], Array[Double]) = {
    val rows = g.edges.select(F.col("src").cast("int"), F.col("dst").cast("int"), F.col("weight"))
      .collect()
    (rows.map(_.getInt(0)), rows.map(_.getInt(1)), rows.map(_.getDouble(2)))
  }

  /** Ordered (vid, value) pairs as a dense array over 0..n-1. */
  private def dense(rows: Array[Row], n: Long)(get: Row => Double): Array[Double] = {
    require(rows.length == n, s"${rows.length} result rows for $n vertices")
    val out = Array.fill(n.toInt)(Double.NaN)
    rows.foreach(r => out(r.getLong(0).toInt) = get(r))
    out
  }

  /** setup_s = session start + the median of three input preparations +
    * one warm-up. */
  private def setup(ctx: Ctx, report: Report, sessionS: Double)(input: => Unit)(warm: => Unit): Unit = {
    def timed(body: => Unit): Double = { val t0 = System.nanoTime(); body; secondsSince(t0) }
    val reps = (1 to 3).map(_ => timed(input))
    val warmS = timed { warm; Caches.clear(ctx.spark) }
    report.e2e("setup_s") = sessionS + median(reps) + warmS
    report.host("session_s") = sessionS
    report.host("input_reps_s") = reps.asJava
    report.host("warmup_s") = warmS
  }

  /** Round walls (ms) and the summed `changed` of a loop's metrics ledger. */
  private def ledger(log: Seq[Map[String, Any]]): (Seq[Double], Long) = {
    val walls = log.flatMap(_.get("wall_ms")).map(_.toString.toDouble)
    val changed = log.flatMap(_.get("changed")).map(_.toString.toLong).sum
    (walls, changed)
  }

  private def algoLayer(ctx: Ctx, report: Report, listener: SpanListener, loops: Seq[Span],
                        rounds: Int, log: Seq[Map[String, Any]], vertices: Long): Unit = {
    val c = ctx.counters(listener, loops)
    val loopS = loops.map(_.seconds).sum
    val (walls, changed) = ledger(log)
    report.layers ++= Seq(
      "algo.loop_s" -> loopS,
      "algo.rounds" -> rounds.toDouble,
      "algo.round_ms_p50" -> median(walls),
      "algo.round_ms_tail" -> tail(walls),
      "algo.jobs_per_round" -> c.jobs.toDouble / rounds,
      "algo.stages_per_round" -> c.stages.toDouble / rounds,
      "algo.shuffle_kb_per_round" -> c.shuffleWriteBytes / 1024.0 / rounds,
      "algo.outside_rounds_s" -> (loopS - walls.sum / 1e3),
      "algo.changed_frac" -> changed.toDouble / (rounds.toDouble * vertices))
  }

  private def graphLayer(ctx: Ctx, report: Report, listener: SpanListener, builds: Seq[Span],
                         g: LinkGraph): Unit = {
    val c = ctx.counters(listener, builds)
    report.layers ++= Seq(
      "graph.build_s" -> builds.map(_.seconds).sum,
      "graph.jobs" -> c.jobs.toDouble,
      "graph.stages" -> c.stages.toDouble,
      "graph.shuffle_write_mb" -> c.shuffleWriteBytes / 1024.0 / 1024.0,
      "graph.edges" -> g.numEdges.toDouble,
      "graph.vertices" -> g.numVertices.toDouble)
  }

  // --------------------------------------------------------- pagerank-converge

  final case class PrOp(wall: Double, prWall: Double, graph: LinkGraph,
                        result: graft.algo.PageRankResult)

  def pagerank(ctx: Ctx, report: Report, sessionS: Double): Unit = {
    val spark = ctx.spark
    val args = ctx.args
    val conversations = if (args.smoke) 2000L else 20000L
    val input = ctx.work.resolve("pr-input")
    val out = ctx.work.resolve("pr-ranks")
    var turns = 0L
    setup(ctx, report, sessionS) {
      turns = generate(spark, conversations, args.seed, input)
    }()

    def op(i: Int): PrOp = {
      val tr = ctx.tracer
      val t0 = System.nanoTime()
      val g = buildGraph(ctx, input)
      val t1 = System.nanoTime()
      val r = tr.span("algo.pagerank", "algo")(PageRank.run(g))
      val prWall = secondsSince(t1)
      tr.span("output.write_ranks", "output") {
        r.ranks.write.mode("overwrite").parquet(out.toString)
      }
      report.attempted += 1
      PrOp(secondsSince(t0), prWall, g, r)
    }

    val (ops, traced) = ctx.measure(op)
    val last = ops.last
    val g = last.graph
    val n = g.numVertices
    report.host ++= Seq("conversations" -> conversations, "turns" -> turns,
      "vertices" -> n, "edges" -> g.numEdges, "ops" -> ops.size,
      "rounds" -> ops.map(_.result.iterations).asJava)

    // ---- output checks, outside the timed window
    val tol = PageRankConfig().tol
    val d = PageRankConfig().damping
    val ranks = dense(spark.read.parquet(out.toString).select("vid", "rank").collect(), n)(_.getDouble(1))
    if (args.perturb) ranks(0) += 1e-3
    report.check("pagerank.converged", ops.forall(_.result.converged),
      s"rounds ${ops.map(_.result.iterations).mkString(",")}")
    val mass = ranks.sum
    report.check("pagerank.unit_mass", math.abs(mass - 1.0) <= 1e-9, f"sum(rank) = $mass%.15f")
    // one independent power step: p'(v) = (1-d)/N + d (sum_{u->v} p(u) w/W(u) + D/N)
    val (src, dst, w) = edgeArrays(g)
    val outW = new Array[Double](n.toInt)
    src.indices.foreach(k => outW(src(k)) += w(k))
    val msg = new Array[Double](n.toInt)
    src.indices.foreach(k => msg(dst(k)) += ranks(src(k)) * w(k) / outW(src(k)))
    val dangling = ranks.indices.filter(outW(_) == 0.0).map(ranks(_)).sum
    val moved = ranks.indices.map { v =>
      math.abs((1 - d) / n + d * (msg(v) + dangling / n) - ranks(v))
    }.max
    report.check("pagerank.power_step", moved <= tol, s"max move $moved (tol $tol)")

    val wall = median(ops.map(_.wall))
    report.e2e("wall_s") = wall
    traced.foreach { listener =>
      val top = ctx.topLevel
      report.layers ++= Seq(
        "wl.wall_s" -> wall,
        "wl.iters_per_s" -> last.result.iterations / last.prWall,
        "wl.edges_per_s" -> g.numEdges / wall)
      graphLayer(ctx, report, listener, top.filter(_.layer == "graph"), g)
      algoLayer(ctx, report, listener, top.filter(_.layer == "algo"), last.result.iterations,
        last.result.metricsLog, n)
      ctx.sparkLayer(report, listener, wall)
    }
  }

  // --------------------------------------------------------- cc-durable-resume

  final case class CcOp(wall: Double, resume: Double, loopWall: Double, graph: LinkGraph,
                        first: graft.algo.CcResult, resumed: graft.algo.CcResult,
                        ios: Seq[TimedTableIO])

  def ccDurable(ctx: Ctx, report: Report, sessionS: Double): Unit = {
    val spark = ctx.spark
    val args = ctx.args
    val conversations = if (args.smoke) 1000L else 5000L
    val input = ctx.work.resolve("cc-input")
    val stopAfter = 2
    val token = Some(s"conv=$conversations;seed=${args.seed}")
    var turns = 0L

    def io(root: Path, timers: mutable.Buffer[TimedTableIO]): TableIO = {
      val plain = new ParquetManifestIO(spark, root.toString)
      if (!ctx.tracer.enabled) plain
      else { val t = new TimedTableIO(plain, root.toString, ctx.tracer); timers += t; t }
    }
    def materializer(t: TableIO) = new CheckpointMaterializer(t, "cc",
      bucket = Some(("vid", ctx.partitions)), runFingerprint = token)

    /** Leg 1 stops after `stopAfter` rounds; leg 2 rebuilds the graph, as a
      * restarted job would, and resumes on the same checkpoint root. */
    def legs(in: Path, root: Path): CcOp = {
      val tr = ctx.tracer
      val timers = mutable.ArrayBuffer.empty[TimedTableIO]
      deleteTree(root)
      val t0 = System.nanoTime()
      var loop = 0.0
      val first = tr.span("leg1", "leg") {
        val g = buildGraph(ctx, in)
        val l0 = System.nanoTime()
        val r = tr.span("algo.cc", "algo")(ConnectedComponents.run(g, stopAfter, materializer(io(root, timers))))
        loop += secondsSince(l0)
        r
      }
      val t1 = System.nanoTime()
      val (g2, resumed) = tr.span("leg2", "leg") {
        val g = buildGraph(ctx, in)
        val l0 = System.nanoTime()
        val r = tr.span("algo.cc_resume", "algo")(ConnectedComponents.run(g, mat = materializer(io(root, timers))))
        loop += secondsSince(l0)
        (g, r)
      }
      CcOp(secondsSince(t0), secondsSince(t1), loop, g2, first, resumed, timers.toSeq)
    }

    setup(ctx, report, sessionS) {
      turns = generate(spark, conversations, args.seed, input)
    }()

    def op(i: Int): CcOp = {
      val root = ctx.work.resolve(s"cc-ckpt-$i")
      val r = legs(input, root)
      report.attempted += 1
      r
    }

    val (ops, traced) = ctx.measure(op)
    val last = ops.last
    val g = last.graph
    val n = g.numVertices
    report.host ++= Seq("conversations" -> conversations, "turns" -> turns,
      "vertices" -> n, "edges" -> g.numEdges, "ops" -> ops.size,
      "rounds" -> ops.map(_.resumed.rounds).asJava)

    // ---- output checks, outside the timed window
    val labels = dense(last.resumed.labels.select("vid", "label").collect(), n)(_.getLong(1).toDouble)
    if (args.perturb) labels(labels.length - 1) = -1.0
    val reference = ConnectedComponents.run(g)
    val want = dense(reference.labels.select("vid", "label").collect(), n)(_.getLong(1).toDouble)
    report.check("cc.leg1_stopped", ops.forall(o => o.first.rounds == stopAfter && !o.first.converged),
      s"leg-1 rounds ${ops.map(_.first.rounds).mkString(",")}")
    report.check("cc.resumed_converged", ops.forall(_.resumed.converged),
      s"rounds ${ops.map(_.resumed.rounds).mkString(",")}")
    val diff = labels.indices.count(v => labels(v) != want(v))
    report.check("cc.resume_equals_uninterrupted", diff == 0 && reference.converged,
      s"$diff of $n labels differ from an uninterrupted ephemeral run")
    val (src, dst, _) = edgeArrays(g)
    val split = src.indices.count(k => labels(src(k)) != labels(dst(k)))
    report.check("cc.edges_within_component", split == 0, s"$split edges join different labels")
    val components = labels.distinct.length
    report.host("components") = components

    val wall = median(ops.map(_.wall))
    report.e2e("wall_s") = wall
    traced.foreach { listener =>
      val t = last
      val all = ctx.tracer.spans.toSeq
      report.layers ++= Seq(
        "wl.wall_s" -> wall,
        "wl.iters_per_s" -> t.resumed.rounds / t.loopWall,
        "wl.edges_per_s" -> g.numEdges / wall,
        "wl.resume_s" -> t.resume)
      graphLayer(ctx, report, listener, all.filter(_.layer == "graph"), g)
      algoLayer(ctx, report, listener, all.filter(_.layer == "algo"), t.resumed.rounds,
        t.resumed.metricsLog, n)
      val mb = 1024.0 * 1024.0
      report.layers ++= Seq(
        "io.commits" -> t.ios.map(_.commits).sum.toDouble,
        "io.commit_s" -> t.ios.map(_.commitNs).sum / 1e9,
        "io.commit_mb" -> t.ios.map(_.commitBytes).sum / mb,
        "io.reads" -> t.ios.map(_.reads).sum.toDouble,
        "io.read_s" -> t.ios.map(_.readNs).sum / 1e9,
        "io.manifest_calls" -> t.ios.map(_.manifestCalls).sum.toDouble,
        "io.manifest_s" -> t.ios.map(_.manifestNs).sum / 1e9,
        "io.notes" -> t.ios.map(_.notes).sum.toDouble)
      ctx.sparkLayer(report, listener, wall)
    }
  }

  // ---------------------------------------------------------------- query-suite

  val Leaves = Seq("d_dedup_clusters", "d_simhash_pairs", "d_ngram_jaccard", "g_adamic_adar",
    "g_pagerank", "g_ppr", "g_scc")
  val Families = Seq("g", "d", "e", "m", "q")
  private def family(name: String): String = name.takeWhile(_ != '_').take(1)

  final case class Pass(wall: Double, latencies: Map[String, Double],
                        results: Map[String, (Array[Row], StructType)],
                        failures: Seq[String])

  def querySuite(ctx: Ctx, report: Report, sessionS: Double): Unit = {
    val spark = ctx.spark
    val args = ctx.args
    val dir = Paths.get(args.data, if (args.smoke) "sf0.001" else "sf0.01")
    require(Files.isDirectory(dir), s"missing query-suite tables at $dir")
    val queries = SparkEntry.queries
    // the smoke size runs the named leaves and the first query of each family
    val names =
      if (!args.smoke) queries.keys.toSeq.sorted
      else (Leaves ++ Families.flatMap(f => queries.keys.toSeq.sorted.find(family(_) == f))).distinct.sorted

    def pass(sf: Path, order: Seq[String]): Pass = {
      val tr = ctx.tracer
      val t0 = System.nanoTime()
      tr.span("queries.graph_memo", "queries")(GraphQueries.graph(spark, sf.toString))
      val lat = mutable.LinkedHashMap.empty[String, Double]
      val res = mutable.Map.empty[String, (Array[Row], StructType)]
      val failures = mutable.ArrayBuffer.empty[String]
      order.foreach { name =>
        val q0 = System.nanoTime()
        try tr.span(name, "queries") {
          val df = queries(name)(spark, sf.toString)
          res(name) = (df.collect(), df.schema)
        } catch {
          case e: Throwable =>
            failures += name
            System.err.println(s"[perfbench] $name failed: $e")
        }
        lat(name) = secondsSince(q0)
      }
      Pass(secondsSince(t0), lat.toMap, res.toMap, failures.toSeq)
    }

    // Bench's rule: pipeline intermediates stay ephemeral even when the
    // environment names a durable root.
    spark.conf.set("spark.graft.pipeline.ckpt", "")
    val tables = Files.list(dir).iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq
    // warm-up: six small queries from across the families on the smallest
    // tables, so the timed pass does not also carry the JVM's JIT warm-up
    val warmDir = Paths.get(args.data, "sf0.001").toString
    setup(ctx, report, sessionS) {
      tables.foreach(t => spark.read.parquet(t.toString).schema)
    } {
      Seq("q1_agg", "q4_window", "g_degree", "d_tokens", "e_cosine_topk", "m_features")
        .foreach(q => queries(q)(spark, warmDir).collect())
    }

    val rng = new scala.util.Random(args.seed)
    def op(i: Int): Pass = {
      val p = pass(dir, rng.shuffle(names))
      report.attempted += names.size
      report.failed += p.failures.size
      p
    }
    val (passes, traced) = ctx.measure(op)
    val last = passes.last
    report.host ++= Seq("sf_dir" -> dir.getFileName.toString, "queries" -> names.size,
      "passes" -> passes.size,
      "table_bytes" -> tables.map(t => t.getFileName.toString -> Files.walk(t).iterator().asScala
        .filter(Files.isRegularFile(_)).map(Files.size).sum).toMap.asJava)

    // ---- results for the DuckDB oracle check (run.py), outside the window
    val w0 = System.nanoTime()
    val resultDir = ctx.work.resolve("suite-results")
    deleteTree(resultDir)
    Files.createDirectories(resultDir)
    val victim = names.find(n => last.results.get(n).exists(_._1.nonEmpty))
    // small local frames: the 71 writes go four at a time
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      last.results.toSeq.map { case (name, (rows, schema)) =>
        pool.submit(new Runnable {
          def run(): Unit = {
            val kept = if (args.perturb && victim.contains(name)) rows.dropRight(1) else rows
            spark.createDataFrame(kept.toSeq.asJava, schema).coalesce(1).write.mode("overwrite")
              .parquet(resultDir.resolve(name).toString)
          }
        })
      }.foreach(_.get())
    } finally pool.shutdown()
    OracleContext.set(spark, dir.toString)
    val mapper = new ObjectMapper()
    Files.write(resultDir.resolve("oracle_sql.json"),
      mapper.writeValueAsBytes(SparkEntry.oracleSql.filter(e => names.contains(e._1)).asJava))
    OracleContext.clear()
    report.oracle = Some((dir.toString, resultDir.toString))
    report.host("result_write_s") = secondsSince(w0)

    def p50(p: Pass) = percentile(p.latencies.values.toSeq, 0.5)
    def p85(p: Pass) = percentile(p.latencies.values.toSeq, 0.85)
    val wall = median(passes.map(_.wall))
    report.e2e("wall_s") = wall
    traced.foreach { listener =>
      val spans = ctx.topLevel
      def byName(pred: String => Boolean) = spans.filter(s => s.layer == "queries" && pred(s.name))
      report.layers ++= Seq(
        "wl.wall_s" -> wall,
        "wl.query_p50_s" -> p50(last),
        "wl.query_p85_s" -> p85(last),
        "queries.graph_memo_s" -> byName(_ == "queries.graph_memo").map(_.seconds).sum)
      Families.foreach { f =>
        val fs = byName(n => n != "queries.graph_memo" && family(n) == f)
        report.layers(s"queries.$f.s") = fs.map(_.seconds).sum
        report.layers(s"queries.$f.jobs") = ctx.counters(listener, fs).jobs.toDouble
      }
      Leaves.foreach { leaf =>
        val ls = byName(_ == leaf)
        report.layers(s"queries.$leaf.s") = ls.map(_.seconds).sum
        report.layers(s"queries.$leaf.jobs") = ctx.counters(listener, ls).jobs.toDouble
      }
      val g = GraphQueries.graph(spark, dir.toString)
      graphLayer(ctx, report, listener, byName(_ == "queries.graph_memo"), g)
      ctx.sparkLayer(report, listener, wall)
    }
  }

  // ---------------------------------------------------------------------- main

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = Runtime.getRuntime.availableProcessors()
    val work = Paths.get(args.work)
    Files.createDirectories(work)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${args.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val runId = java.util.UUID.randomUUID().toString.take(8)
    val ctx = new Ctx(spark, args, new Tracer(spark.sparkContext, runId))
    val report = new Report
    try {
      args.workload match {
        case "pagerank-converge" => pagerank(ctx, report, sessionS)
        case "cc-durable-resume" => ccDurable(ctx, report, sessionS)
        case "query-suite"       => querySuite(ctx, report, sessionS)
        case w                   => sys.error(s"unknown workload $w")
      }
      report.host("cpu_s") = median(ctx.opCpuS.toSeq)
      report.host ++= Seq("run_id" -> runId, "workload" -> args.workload, "seed" -> args.seed,
        "size" -> (if (args.smoke) "smoke" else "full"), "nproc" -> cores,
        "java" -> System.getProperty("java.version"), "spark" -> spark.version,
        "steal_jiffies" -> ctx.stealInWindow, "window_s" -> ctx.windowS)
      val m = new java.util.LinkedHashMap[String, Any]()
      m.put("attempted", report.attempted)
      m.put("failed", report.failed)
      m.put("checks", report.checks.map { case (n, ok, d) =>
        Map("name" -> n, "ok" -> ok, "detail" -> d).asJava }.asJava)
      m.put("e2e", report.e2e.asJava)
      m.put("layers", report.layers.asJava)
      m.put("host", report.host.asJava)
      report.oracle.foreach { case (sf, out) => m.put("oracle", Map("sf_dir" -> sf, "results" -> out).asJava) }
      println("PERFBENCH " + new ObjectMapper().writeValueAsString(m))
    } finally spark.stop()
  }
}
