package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.graph.GraphOps

/** graph_loops: repeated passes of the iterative graph loops over a
  * staged, src-bucketed edge table shaped like `GraphQueries.pairs2`.
  * It never touches the KV store. The seed picks the edges, the BFS
  * sources and the components sample. */
final class GraphLoops(run: Run) {
  import run.spark.implicits._
  import GraphLoops._

  /** A staged edge table with its vertex count and the orders it spans. */
  private case class Graph(edges: DataFrame, vertices: Long, orders: Int)
  private var g: Graph = _
  private var pass = 0
  private val phaseMs = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val rounds = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  /** Stage an edge table as `pairs2` is staged (bucketed by src, sorted
    * by (src, dst)). */
  private def stageGraph(name: String, orders: Int): Graph = {
    val path = s"${run.work}/$name"
    val table = s"perfbench_${name}_${run.seed.abs}"
    Files.delete(new java.io.File(path))
    run.spark.sql(s"DROP TABLE IF EXISTS $table")
    val pairs = Inputs.lineitemPairs(run.seed, orders, Parts)
    val edges = graft.Staging.ensureBucketed(run.spark, table, path, buckets = 32,
      clusterCols = Seq("src"), sortCols = Seq("src", "dst"),
      tag = s"perfbench $name seed=${run.seed} t=${System.nanoTime()}")(pairs.toSeq.toDF("src", "dst"))
    Graph(edges, pairs.iterator.map(_._1).distinct.size.toLong, orders)
  }

  /** Stage the measured edge table; returns the seconds it took. */
  def stage(): Double = {
    val t0 = System.nanoTime()
    g = stageGraph("pairs", Orders)
    graft.Trace.drain()
    (System.nanoTime() - t0) / 1e9
  }

  /** Warm-up: one checked pass over a small edge table of the same
    * layout, so the plans (and their generated code) are compiled, then
    * one over the measured table: after the small pass alone, the first
    * measured pass still ran about a quarter slower than the second. */
  def warmUp(): Unit = {
    val measured = g
    g = stageGraph("warm_pairs", WarmOrders)
    try step() finally g = measured
    step()
  }

  private def algo(kind: String)(body: => DataFrame): DataFrame = {
    val out = run.op(kind)(run.tracer.span("graph", kind) {
      val df = body
      df.count()
      df
    })
    val phases = graft.Trace.drain()
    if (run.tracer.on) phases.foreach { case (name, sec) =>
      phaseMs(name.replaceAll("[0-9]+", "")) += sec * 1000
      if (name.matches("(cc|lp)_round[0-9]+")) rounds(kind) += 1
    }
    out
  }

  /** One pass: PageRank, star connected components, label propagation
    * and `BfsQueries` BFS queries, each checked. */
  def step(): Unit = {
    pass += 1
    val r = new scala.util.Random(run.seed * 1000003L + pass)

    val pr = algo("pagerank")(GraphOps.pageRank(g.edges, iters = PrIters, symmetric = true))
    if (run.tracer.on) rounds("pagerank") += PrIters
    val m = pr.agg(sum($"pr"), count(lit(1))).collect().head
    run.check(math.abs(m.getDouble(0) * m.getLong(1) - m.getLong(1)) <= 1e-9 * m.getLong(1) &&
      m.getLong(1) == g.vertices,
      s"pagerank mass ${m.getDouble(0)} over ${m.getLong(1)} vertices, want 1 over ${g.vertices}")

    val sample = g.edges.filter($"src" < $"dst" &&
      pmod(xxhash64($"src", $"dst", lit(run.seed + pass)), lit(CcSample)) === 0)
    val cc = algo("components")(GraphOps.connectedComponentsStar(sample))
    val badEdges = sample.join(cc.select($"vertex".as("src"), $"cluster".as("cs")), "src")
      .join(cc.select($"vertex".as("dst"), $"cluster".as("cd")), "dst")
      .filter($"cs" =!= $"cd").count()
    val badRoots = cc.groupBy($"cluster").agg(min($"vertex").as("m"))
      .filter($"m" =!= $"cluster").count()
    val sampled = sample.select($"src".as("v")).union(sample.select($"dst".as("v"))).distinct().count()
    run.check(badEdges == 0 && badRoots == 0 && cc.count() == sampled,
      s"components: $badEdges split edges, $badRoots non-minimum roots")

    val lp = algo("labelprop")(GraphOps.labelPropagation(g.edges, iters = LpIters))
    run.check(lp.count() == g.vertices, s"labelprop labels ${lp.count()} of ${g.vertices} vertices")

    for (_ <- 0 until BfsQueries) {
      val sources = Seq.fill(BfsSources)(Inputs.orderKey(r.nextInt(g.orders)) * 2).distinct
      val bfs = algo("bfs")(GraphOps.bfsDistances(g.edges, sources.toDF("vertex"), MaxHops))
      val d = bfs.agg(max($"dist"), sum(when($"dist" === 0, 1L).otherwise(0L)),
        sum(when($"dist" === 0 && $"vertex".isin(sources: _*), 1L).otherwise(0L))).collect().head
      run.check(d.getLong(0) <= MaxHops && d.getLong(1) == sources.size && d.getLong(2) == sources.size,
        s"bfs: max dist ${d.get(0)}, ${d.get(1)} at distance 0 for ${sources.size} sources")
      if (run.tracer.on) rounds("bfs") += MaxHops
    }
  }

  def report(): Unit = {
    def p50(kind: String) = Stats.median(run.samples(kind))
    run.figure("graph.pagerank_s", p50("pagerank") / 1000, "s")
    run.figure("graph.components_s", p50("components") / 1000, "s")
    run.figure("graph.labelprop_s", p50("labelprop") / 1000, "s")
    run.figure("graph.bfs_s", p50("bfs") / 1000, "s")
    run.figure("latency_p50_ms", p50("bfs"), "ms")
    run.figure("batch_s", Kinds.map(p50).sum / 1000, "s")
    if (run.traced) Kinds.foreach { k =>
      run.sessionFigures(k, kvRead = false, written = false)
      val n = run.samples(k).size.toDouble
      val a = run.probe.snapshot.getOrElse(k, new Acc)
      run.layer(s"layer.graph.shuffle_bytes.$k") = if (n > 0) a.shuffleBytes / n else 0.0
      run.layer(s"layer.graph.rounds.$k") = if (n > 0) rounds(k) / n else 0.0
    }
    if (run.traced) {
      val passes = run.samples("pagerank").size.toDouble
      Phases.foreach(p => run.layer(s"layer.graph.phase_ms.$p") =
        if (passes > 0) phaseMs(p) / passes else 0.0)
    }
  }
}

object GraphLoops {
  val Orders = 7500
  val WarmOrders = 500
  val Parts = 1000
  val PrIters = 5
  val LpIters = 3
  val MaxHops = 3
  val BfsSources = 3
  /** Components run on a seeded 1-in-`CcSample` sample of the canonical
    * edges: the seed picks the edges, not how many. */
  val CcSample = 3L
  /** BFS is the interactive query of the pass, so it runs more often. */
  val BfsQueries = 2
  val Kinds = Seq("pagerank", "components", "labelprop", "bfs")
  /** `graft.Trace` phase names with round numbers removed. */
  val Phases = Seq("pr_stage_edges_deg", "pr_iter_checkpoint", "pr_final_checkpoint",
    "cc_stage", "cc_round", "lp_stage", "lp_round")
}
