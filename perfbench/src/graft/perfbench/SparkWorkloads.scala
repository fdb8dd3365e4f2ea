package graft.perfbench

import scala.collection.mutable

import graft.SparkEntry

/** `spark_sf001`: the Spark tier — a fixed set of one-shot operators
  * and the two cheapest standing incremental
  * pipelines, all run through `SparkEntry.queries` on seeded sf0.01-size
  * tables. No serving-tier code runs here.
  *
  * Protocol per run: the index builds (`SparkEntry.benchSetup`) are the
  * set-up; then closed-loop passes over a seed-permuted order, at least
  * one and until the window closes, with orphaned RDDs unpersisted after
  * every execution and a GC between passes (the isolation `graft.Bench`
  * uses). A fresh JVM runs each pass's operators once, so the first
  * pass is what a batch job submitting them sees; at this scale on four
  * cores one pass outlasts a short window. */
object SparkWorkloads {

  /** One operator per module (two for dedup: `d_incr_indexed` probes the
    * persisted MinHash index the pipelines append to); ann and search run
    * in the traced run only (below). Chosen to fit the run budget. */
  val Operators: Seq[String] = Seq(
    "q5_star_join", "q9_product_profit", "g1_bfs_down", "t_quality_score",
    "d_minhash_lsh", "d_incr_indexed", "t_seq_pack", "pipe_corpus_clean")

  /** Operators whose index builds (IVF+PQ, BM25 postings) do not fit the
    * untraced run's budget: the traced run executes them once, after
    * the window, for the ann and search module totals. */
  val TracedOperators: Seq[String] = Seq("ann_ivf", "o2_bm25_topk")

  /** The evolving pipelines (pipe_incr_evolve*, *_serve) take 7-40 s an
    * execution on four cores and do not fit a run; the traced run's
    * one-batch replay covers their derive/ledger/append/serve stages. */
  val Pipelines: Seq[String] = Seq("pipe_incr_clean", "pipe_incr_clean_embed")

  /** Module of a query, by the object whose `queries` map defines it. */
  lazy val moduleOf: Map[String, String] = {
    import graft.queries._
    Seq(
      "relational" -> (Relational.queries.keySet ++ Relational2.queries.keySet + "q1_pricing_summary"),
      "tpch" -> (TpchQ.queries.keySet ++ TpchQ2.queries.keySet),
      "graph" -> Graph.queries.keySet,
      "text" -> TextAnalysis.queries.keySet,
      "dedup" -> Dedup.queries.keySet,
      "ann" -> (Ann.queries.keySet ++ AnnPq.queries.keySet),
      "search" -> SearchQ.queries.keySet,
      "trainprep" -> TrainPrep.queries.keySet,
      "corpusclean" -> (CorpusClean.queries.keySet ++ EvolveServe.queries.keySet))
      .flatMap { case (m, ks) => ks.map(_ -> m) }.toMap
  }
  val Modules: Seq[String] = Seq("relational", "tpch", "graph", "text", "dedup",
    "ann", "search", "trainprep", "corpusclean")

  def run(ctx: Ctx, counters: SparkCounters): Outcome = {
    val out = new Outcome
    val tracer = new Tracer
    val samples = suite(ctx, counters, Operators ++ Pipelines, out, tracer)
    if (ctx.trace) {
      graft.util.BuildLog.drain()
      SparkEntry.benchSetup(ctx.spark, ctx.dataDir, TracedOperators.toSet)
      record(out, graft.util.BuildLog.drain())
      val extra = TracedOperators.map(q => q -> Seq(execute(ctx, q, out, None, tracer)._1 / 1000)).toMap
      Modules.foreach { m =>
        val s = (samples ++ extra).collect {
          case (q, ts) if moduleOf(q) == m && !Pipelines.contains(q) => Stats.median(ts)
        }.sum
        out.layer(s"queries.${m}_s") = (s, "s")
      }
      Pipelines.foreach(q => out.layer(s"pipeline.${q}_s") = (Stats.median(samples(q)), "s"))
      graft.queries.PipelineReplay.oneBatch(ctx.spark, ctx.dataDir, tracer)
        .foreach { case (k, (v, u)) => out.layer(k) = (v, u) }
      out.detail("spans") = tracer.size
      tracer.write(s"${ctx.workDir}/spans.jsonl")
    }
    out
  }

  /** Adds each index kind's build seconds to the per-layer metrics. */
  private def record(out: Outcome, builds: Seq[graft.util.BuildLog.Event]): Unit =
    Seq("postings", "ivf", "minhash", "digest", "embed").foreach { k =>
      val sec = builds.filter(_.what.startsWith(k + ":")).map(_.seconds).sum
      val prev = out.layer.get(s"setup.${k}_build_s").map(_._1).getOrElse(0.0)
      out.layer(s"setup.${k}_build_s") = (prev + sec, "s")
    }

  /** Builds, executes and collects `q` (timed, ms). Building is timed
    * too: some queries run Spark jobs while their DataFrame is built
    * (count gates over the delta). With `rows` None this is the query's
    * first execution: its rows are written as parquet, untimed, for the
    * oracle. Otherwise the row count must match. */
  private def execute(ctx: Ctx, q: String, out: Outcome, rows: Option[Long],
      tracer: Tracer): (Double, Long) = {
    val spark = ctx.spark
    def body() = { val df = SparkEntry.queries(q)(spark, ctx.dataDir); (df.schema, df.collect()) }
    try {
      val ((schema, got), ms) = Stats.timed {
        if (!ctx.trace) body()
        else {
          val (req, root) = tracer.request()
          val t0 = System.nanoTime()
          val r = tracer.span(req, root, s"${moduleOf(q)}.$q")(_ => body())
          tracer.root(req, root, s"request.$q", t0, System.nanoTime())
          r
        }
      }
      rows match {
        case None =>
          val path = s"${ctx.workDir}/results/$q"
          spark.createDataFrame(java.util.Arrays.asList(got: _*), schema)
            .coalesce(1).write.mode("overwrite").parquet(path)
          out.outputs(q) = path
          out.ok()
        case Some(n) =>
          if (got.length == n) out.ok()
          else out.fail(s"$q: ${got.length} rows, first pass had $n")
      }
      (ms, got.length.toLong)
    } catch { case e: Throwable => out.fail(s"$q: $e"); (0.0, -1L) }
  }

  /** Runs `names` under the protocol above; returns seconds per
    * execution for every query. */
  private def suite(ctx: Ctx, counters: SparkCounters, names: Seq[String],
      out: Outcome, tracer: Tracer): Map[String, Seq[Double]] = {
    val spark = ctx.spark
    val sc = spark.sparkContext
    val dir = ctx.dataDir
    val rng = new java.util.SplittableRandom(ctx.seed)
    val order = {
      val a = names.toArray
      for (i <- a.length - 1 to 1 by -1) {
        val j = rng.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
      }
      a.toSeq
    }

    // Set-up: every persisted index the set needs (one build each; the
    // indexes are cached per corpus, so a second set-up would need a
    // second corpus).
    graft.util.BuildLog.drain()
    val (_, buildMs) = Stats.timed(SparkEntry.benchSetup(spark, dir, names.toSet))
    val builds = graft.util.BuildLog.drain()
    out.e2e("setup_s") = (buildMs / 1000, "s")
    out.e2e("heap_mb") = (Stats.retainedHeapMb(), "MB")
    if (ctx.trace) record(out, builds)

    // Measured passes: each query is built, executed and collected
    // (full materialization; no column pruning). The first
    // pass's rows are written as parquet, untimed, for the oracle; later
    // passes must return as many rows.
    val baseline = sc.getPersistentRDDs.keySet
    val rows = mutable.Map.empty[String, Long]
    val times = mutable.LinkedHashMap(order.map(_ -> mutable.ArrayBuffer.empty[Double]): _*)
    val c0 = counters.snapshot()
    val t0 = System.nanoTime()
    val deadline = t0 + (ctx.seconds * 1e9).toLong
    var passes = 0
    while (System.nanoTime() < deadline || passes == 0) {
      order.foreach { q =>
        val (ms, n) = execute(ctx, q, out, if (passes == 0) None else rows.get(q), tracer)
        times(q) += ms / 1000
        if (passes == 0 && n >= 0) rows(q) = n
        sc.getPersistentRDDs.foreach { case (id, rdd) =>
          if (!baseline.contains(id)) rdd.unpersist(blocking = true)
        }
      }
      passes += 1
      System.gc()
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    val c1 = counters.snapshot()

    val all = times.values.flatten.toSeq
    // One pass (each query once) at each query's median time.
    out.e2e("suite_s") = (times.values.map(Stats.median(_)).sum, "s")
    out.detail("op_p50_ms") = Stats.median(all) * 1000
    out.e2e("ops_per_s") = (all.size / all.sum, "1/s")
    out.detail("passes") = passes
    out.detail("window_s") = wallS
    out.detail("executions") = times.map { case (q, ts) => q -> ts.size }
    out.detail("per_query_p50_s") = times.map { case (q, ts) => q -> Stats.median(ts) }
    out.detail("per_query_max_s") = times.map { case (q, ts) => q -> ts.max }
    if (ctx.trace) {
      val d = c1.zip(c0).map { case (a, b) => (a - b).toDouble }
      val mb = 1024.0 * 1024.0
      out.layer("spark.jobs") = (d(0) / passes, "count")
      out.layer("spark.stages") = (d(1) / passes, "count")
      out.layer("spark.tasks") = (d(2) / passes, "count")
      out.layer("spark.shuffle_read_mb") = (d(3) / mb / passes, "MB")
      out.layer("spark.shuffle_write_mb") = (d(4) / mb / passes, "MB")
      out.layer("spark.spill_mb") = (d(5) / mb / passes, "MB")
      out.layer("spark.task_s_per_wall_s") = (d(6) / 1e9 / wallS, "ratio")
      // The listener's own handler time as a share of the window: the
      // traced run's overhead (spans here are one per query).
      out.layer("trace.overhead_pct") = (d(7) / 1e9 / wallS * 100, "%")
    }
    times.map { case (q, ts) => q -> ts.toSeq }.toMap
  }
}
