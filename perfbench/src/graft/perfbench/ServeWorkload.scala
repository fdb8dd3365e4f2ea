package graft.perfbench

import java.util.SplittableRandom

import scala.collection.immutable.ListMap
import scala.collection.mutable

import graft.api.Engine
import graft.capsule.CapsuleBuilder
import graft.graph.Lineage
import graft.model.Catalog
import graft.patterns.Patterns
import graft.search.HybridSearch
import graft.serve.McpServer
import graft.util.{Json, JsonParse}

/** `serve_mcp_2k`: one closed-loop client sending MCP `tools/call`
  * lines through `McpServer.handle` over a seeded 2,000-model project,
  * no think time. Read mix: search 30, lineage 15, impact 10, capsule
  * 15, discover 10, details 9, find-by-column 5, find-by-path 5;
  * arguments are Zipf-skewed over models, terms and column names.
  * There is no refresh_index operation: after the manifest is rewritten
  * in place, refresh_index serves the old content (ManifestReader's
  * cached `raw`/`nodes` frames are never unpersisted), so no refresh
  * could pass its check. The traced run times the refresh's layers,
  * the manifest read and the snapshot build, on a fresh copy.
  *
  * Every response is checked (untimed): no JSON-RPC error or isError
  * result, search/find rows within their limit, lineage and impact equal
  * to an independent BFS over the generator's own edges (on a seeded
  * quarter of those calls), capsules within 1.2× their token budget and
  * holding their focus model, details showing the right model.
  */
object ServeWorkload {

  val Models = 2000
  val Mix: Seq[(String, Int)] = Seq(
    "search_models" -> 30, "get_lineage" -> 15, "get_impact_analysis" -> 10,
    "get_context_capsule" -> 15, "discover_models" -> 10, "get_model_details" -> 9,
    "find_models_by_column" -> 5, "find_models_by_path" -> 5)
  val Tools: Seq[String] = Mix.map(_._1)
  private val RowCap = 200 // the serving tier's row cap (JsonLineServer)
  private val WarmCalls = 150
  private val Setups = 3

  /** One generated tool call. */
  final case class Call(tool: String, args: ListMap[String, Any], check: Boolean)

  final class Generator(project: DbtProject, rng: SplittableRandom) {
    private val modelOrder: Array[Int] = {
      val a = Array.tabulate(project.nModels)(identity)
      for (i <- a.length - 1 to 1 by -1) {
        val j = rng.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
      }
      a
    }
    private val modelZipf = new Zipf(project.nModels, 0.7)
    private val termZipf = new Zipf(DbtProject.Terms.length, 1.05)
    private val colZipf = new Zipf(DbtProject.ColumnWords.length, 1.0)
    // The mix is exact per block of 99 calls (a seeded shuffle of the
    // weights), so a window's tool shares do not vary with the seed.
    private val block = Mix.flatMap { case (t, n) => Seq.fill(n)(t) }.toArray
    private var pos = block.length
    private def model() = project.models(modelOrder(modelZipf.sample(rng)))
    private def term() = DbtProject.Terms(termZipf.sample(rng))
    private val verbs = Seq("debug failing test on", "refactor", "add a column to",
      "explain", "optimize", "review")

    def next(): Call = {
      if (pos == block.length) {
        for (i <- block.length - 1 to 1 by -1) {
          val j = rng.nextInt(i + 1); val t = block(i); block(i) = block(j); block(j) = t
        }
        pos = 0
      }
      val tool = block(pos)
      pos += 1
      val check = rng.nextInt(4) == 0
      val args: ListMap[String, Any] = tool match {
        case "search_models" =>
          ListMap("query" -> Seq.fill(1 + rng.nextInt(3))(term()).mkString(" "),
            "limit" -> Seq(5L, 10L, 20L)(rng.nextInt(3)))
        case "get_lineage" =>
          ListMap("model_id" -> model().uid, "up_depth" -> (2L + rng.nextInt(3)),
            "down_depth" -> (2L + rng.nextInt(3)))
        case "get_impact_analysis" =>
          ListMap("model_id" -> model().uid, "depth" -> (3L + rng.nextInt(4)))
        case "get_context_capsule" =>
          val task = s"${verbs(rng.nextInt(verbs.size))} ${term()} ${term()} model"
          var a = ListMap[String, Any]("task" -> task)
          if (rng.nextInt(10) < 7) a += "focus_model" -> model().name
          if (rng.nextBoolean()) a += "token_budget" -> Seq(8000L, 10000L, 12000L)(rng.nextInt(3))
          a
        case "discover_models" =>
          var a = ListMap[String, Any](
            "task" -> s"${verbs(rng.nextInt(verbs.size))} ${term()} ${term()}", "limit" -> 40L)
          if (rng.nextBoolean()) a += "focus_model" -> model().name
          a
        case "get_model_details" => ListMap("model_name" -> model().name)
        case "find_models_by_column" =>
          val c = DbtProject.ColumnWords(colZipf.sample(rng))
          ListMap("column_name" -> (if (rng.nextInt(4) == 0) s"%$c%" else c), "limit" -> 20L)
        case "find_models_by_path" =>
          val layer = Seq("staging", "intermediate", "marts")(rng.nextInt(3))
          ListMap("path_pattern" -> s"models/$layer/${term()}/%", "limit" -> 20L)
      }
      Call(tool, args, check)
    }
  }

  private def line(id: Long, tool: String, args: ListMap[String, Any]): String =
    Json.render(ListMap("jsonrpc" -> "2.0", "id" -> id, "method" -> "tools/call",
      "params" -> ListMap("name" -> tool, "arguments" -> args)))

  /** The engine's modules over its current catalog, for the traced run's
    * direct per-module calls. */
  final class Modules(val catalog: Catalog) {
    val hybrid = new HybridSearch(catalog)
    val lineage = new Lineage(catalog)
    val capsules = new CapsuleBuilder(catalog, hybrid, lineage, new Patterns(catalog),
      graft.config.EngineConfig().capsule)
  }

  def run(ctx: Ctx, counters: SparkCounters): Outcome = {
    val out = new Outcome
    val spark = ctx.spark
    val phases = mutable.LinkedHashMap.empty[String, Double]
    var phaseT0 = System.nanoTime()
    def phase(name: String): Unit = {
      val now = System.nanoTime(); phases(name) = (now - phaseT0) / 1e9; phaseT0 = now
    }

    // Set-up: ingest + snapshot, three times; setup_s is their median
    // (the first pays the JVM's class loading and JIT). Spark's cache is
    // cleared before each set-up: ManifestReader caches the parsed JSON
    // under a plan of the manifest path, so a later set-up would
    // otherwise skip the parse.
    val project = new DbtProject(ctx.seed, Models)
    val manifest = s"${ctx.workDir}/manifest.json"
    project.write(manifest)
    phase("generate")
    var engine: Engine = null
    val setups = (0 until Setups).map { k =>
      spark.catalog.clearCache()
      val (e, ms) = Stats.timed {
        val e = Engine.fromManifest(spark, manifest, Some(s"${ctx.workDir}/usage$k/log"))
        e.catalog.snapshot
        e
      }
      engine = e
      ms
    }
    val usagePath = s"${ctx.workDir}/usage${Setups - 1}/log"
    out.e2e("setup_s") = (Stats.median(setups) / 1000, "s")
    out.detail("setup_ms") = setups
    val nModels = engine.catalog.snapshot.models.size
    if (nModels != project.nModels) out.fail(s"ingested $nModels models, generated ${project.nModels}")
    phase("setup")
    out.e2e("heap_mb") = (Stats.retainedHeapMb(), "MB")
    phase("heap")

    val tracer = new Tracer
    val modules = new Modules(engine.catalog)
    lazy val adj = (project.parentsOf, project.children)
    var id = 0L

    // One read call; returns the latency of `handle` and the call's
    // whole wall time (traced: the per-module calls too), in ms. Checks
    // are untimed.
    def operate(call: Call, traced: Boolean): (Double, Double) = {
      id += 1
      val l = line(id, call.tool, call.args)
      val t0 = System.nanoTime()
      val (resp, ms) =
        if (!traced) Stats.timed(McpServer.handle(engine, l))
        else {
          val (req, root) = tracer.request()
          val r = Stats.timed(tracer.span(req, root, "mcp.handle")(_ => McpServer.handle(engine, l)))
          traceCall(req, root, call, r._2)
          tracer.root(req, root, s"request.${call.tool}", t0, System.nanoTime())
          r
        }
      val wallMs = (System.nanoTime() - t0) / 1e6
      if (check(call, resp, project, adj, out)) out.ok()
      (ms, wallMs)
    }

    def traceCall(req: Long, root: Long, call: Call, handleMs: Double): Unit = {
      val a = call.args
      def s(k: String) = a(k).asInstanceOf[String]
      def i(k: String) = a(k).asInstanceOf[Long].toInt
      def opt(k: String) = a.get(k).map(_.asInstanceOf[String])
      val m = modules
      val (_, engineMs) = Stats.timed(tracer.span(req, root, s"engine.${call.tool}") { _ =>
        call.tool match {
          case "search_models" => engine.searchModels(s("query"), i("limit")).collect()
          case "get_lineage" => engine.getLineage(s("model_id"), i("up_depth"), i("down_depth")).collect()
          case "get_impact_analysis" => engine.getImpactAnalysis(s("model_id"), i("depth")).collect()
          case "get_context_capsule" =>
            engine.getContextCapsule(s("task"), opt("focus_model"), Nil, Nil,
              a.get("token_budget").map(_.asInstanceOf[Long].toInt))
          case "discover_models" => engine.discoverModels(s("task"), opt("focus_model"), Nil, Nil, i("limit"))
          case "get_model_details" => engine.getModelContext(s("model_name"))
          case "find_models_by_column" => engine.findModelsByColumn(s("column_name"), i("limit")).collect()
          case "find_models_by_path" => engine.findModelsByPath(s("path_pattern"), i("limit")).collect()
        }
      })
      // The engine time inside `handle` is not observable from outside
      // the program, so the frame is `handle` minus a direct engine call
      // with the same arguments, right after it.
      tracer.count("mcp.frame_ms", handleMs - engineMs)
      call.tool match {
        case "search_models" =>
          tracer.span(req, root, "search.hybrid")(_ => m.hybrid.searchHits(s("query"), "explore", i("limit") * 2))
          tracer.span(req, root, "search.bm25")(_ => m.hybrid.bm25Scores(HybridSearch.tokenizeQuery(s("query"))))
        case "get_lineage" | "get_impact_analysis" =>
          tracer.span(req, root, "graph.lineage")(_ =>
            if (call.tool == "get_lineage") m.lineage.lineage(s("model_id"), i("up_depth"), i("down_depth")).collect()
            else m.lineage.impact(s("model_id"), i("depth")).collect())
          val snap = m.catalog.snapshot
          tracer.span(req, root, "serve.snapshot_bfs") { _ =>
            if (call.tool == "get_lineage") {
              snap.bfs(Seq(s("model_id")), i("up_depth"), up = true)
              snap.bfs(Seq(s("model_id")), i("down_depth"), up = false)
            } else snap.bfs(Seq(s("model_id")), i("depth"), up = false)
          }
        case "get_context_capsule" =>
          val task = s("task")
          val intent = CapsuleBuilder.detectIntent(task)
          val (pivots, _, _) = tracer.span(req, root, "capsule.pivots")(_ =>
            m.capsules.selectPivots(task, intent, opt("focus_model"), Nil, Nil))
          val cap = tracer.span(req, root, "capsule.build")(_ =>
            m.capsules.build(task, opt("focus_model"), Nil, Nil,
              a.get("token_budget").map(_.asInstanceOf[Long].toInt)))
          tracer.count("capsule.pivots", pivots.size)
          tracer.count("capsule.budget_use", cap.tokenEstimate.toDouble / cap.tokenBudget)
        case "discover_models" =>
          tracer.span(req, root, "capsule.discover")(_ =>
            m.capsules.discover(s("task"), opt("focus_model"), Nil, Nil, i("limit")))
        case _ =>
      }
    }

    // Traced refresh layers: the manifest read and the snapshot build as
    // their own spans, on a catalog of the benchmark's own (released
    // after), read from a copy so the engine's cached frames cannot
    // answer it.
    def traceRefresh(path: String): Unit = {
      val copy = s"${ctx.workDir}/manifest_traced.json"
      java.nio.file.Files.copy(java.nio.file.Paths.get(path), java.nio.file.Paths.get(copy),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      val (req, root) = tracer.request()
      val t0 = System.nanoTime()
      val cat = tracer.span(req, root, "ingest.manifest_read") { _ =>
        val c = graft.ingest.ManifestReader.read(spark, copy)
        c.edges.count()
        c
      }
      tracer.span(req, root, "serve.snapshot_build")(_ => graft.serve.Snapshot.build(cat))
      release(cat)
      tracer.root(req, root, "request.refresh_trace", t0, System.nanoTime())
    }

    // Warm-up (untimed, its own generator stream, fixed call count).
    val warmGen = new Generator(project, new SplittableRandom(ctx.seed * 31 + 7))
    (0 until WarmCalls).foreach(_ => operate(warmGen.next(), traced = false))
    out.detail("warmup_calls") = out.attempted
    phase("warm_calls")

    // Measured window: read tools, closed loop, no think time.
    val gen = new Generator(project, new SplittableRandom(ctx.seed))
    val lat = mutable.LinkedHashMap(Tools.map(_ -> mutable.ArrayBuffer.empty[Double]): _*)
    val tracedWall = mutable.ArrayBuffer.empty[Double]
    val untracedLat = mutable.ArrayBuffer.empty[Double]
    val sc = spark.sparkContext
    val t0 = System.nanoTime()
    val deadline = t0 + (ctx.seconds * 1e9).toLong
    var calls = 0
    while (System.nanoTime() < deadline) {
      // Traced run: blocks of 16 calls alternate untraced / traced, so
      // the tracing overhead is measured inside the same run. Jobs of
      // untraced calls carry a local property, so the listener counts
      // the jobs of `handle` alone.
      val traced = ctx.trace && (calls / 16) % 2 == 1
      val call = gen.next()
      if (ctx.trace && !traced) sc.setLocalProperty(SparkCounters.Tag, "1")
      val (ms, wallMs) = try operate(call, traced) finally sc.setLocalProperty(SparkCounters.Tag, null)
      if (traced) tracedWall += wallMs
      else { lat(call.tool) += ms; untracedLat += ms }
      calls += 1
    }
    // Throughput: untraced calls over the time the server spent on them.
    val callsPerS = untracedLat.size / (untracedLat.sum / 1000)
    phase("window")

    if (ctx.trace) traceRefresh(manifest)
    phase("refresh_trace")
    out.detail("phases_s") = phases
    val all = lat.values.flatten.toSeq
    // One cycle of the mix (99 calls) at each tool's median latency.
    out.e2e("suite_s") = (Mix.map { case (t, w) => w * Stats.median(lat(t)) }.sum / 1000, "s")
    out.detail("op_p50_ms") = Stats.median(all)
    out.e2e("ops_per_s") = (callsPerS, "1/s")

    def p(tools: Seq[String], pct: Double) = Stats.percentile(tools.flatMap(lat(_)), pct)
    val lookups = Seq("get_model_details", "find_models_by_column", "find_models_by_path")
    val toolMetrics = ListMap(
      "calls_per_s" -> (callsPerS, "1/s"),
      "search_p50_ms" -> (p(Seq("search_models"), 50), "ms"),
      "search_p95_ms" -> (p(Seq("search_models"), 95), "ms"),
      "lineage_p50_ms" -> (p(Seq("get_lineage", "get_impact_analysis"), 50), "ms"),
      "lineage_p95_ms" -> (p(Seq("get_lineage", "get_impact_analysis"), 95), "ms"),
      "capsule_p50_ms" -> (p(Seq("get_context_capsule"), 50), "ms"),
      "capsule_p95_ms" -> (p(Seq("get_context_capsule"), 95), "ms"),
      "lookup_p50_ms" -> (p(lookups, 50), "ms"))
    out.detail("serve") = toolMetrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
    out.detail("samples") = lat.map { case (k, v) => k -> v.size }
    // BASELINE.md serving targets (P95), shown for information only.
    out.detail("baseline_targets_p95_ms") = ListMap("search" -> 100, "lineage" -> 50,
      "capsule" -> 500, "rebuild_s" -> 5)

    if (ctx.trace) {
      toolMetrics.foreach { case (k, v) => out.layer(s"serve.$k") = v }
      out.layer("mcp.handle_ms") = (tracer.medianMs("mcp.handle"), "ms")
      out.layer("mcp.frame_ms") = (Stats.median(tracer.values("mcp.frame_ms")), "ms")
      Tools.foreach { t => out.layer(s"engine.${t}_ms") = (tracer.medianMs(s"engine.$t"), "ms") }
      out.layer("spark.jobs_per_call") = (counters.taggedJobs.get.toDouble / untracedLat.size, "count")
      Seq("search.hybrid", "search.bm25", "graph.lineage", "serve.snapshot_bfs",
        "capsule.pivots", "capsule.build", "capsule.discover", "ingest.manifest_read",
        "serve.snapshot_build").foreach { s =>
        out.layer(s"${s}_ms") = (tracer.medianMs(s), "ms")
      }
      out.layer("capsule.pivots") = (tracer.meanCount("capsule.pivots"), "count")
      out.layer("capsule.budget_use") = (tracer.meanCount("capsule.budget_use"), "ratio")
      val (fl, flushMs) = usageFlush(engine, usagePath)
      out.layer("usage.flush_ms") = (flushMs, "ms")
      out.layer("usage.flushes") = (fl, "count")
      // Wall time per call of traced blocks (the per-module calls
      // included) against untraced blocks.
      out.layer("trace.overhead_pct") =
        (((tracedWall.sum / tracedWall.size) / (untracedLat.sum / untracedLat.size) - 1) * 100, "%")
      out.detail("spans") = tracer.size
      tracer.write(s"${ctx.workDir}/spans.jsonl")
    }
    release(engine.catalog)
    out
  }

  /** Engine-side flushes so far (usage parquet part files the serving
    * engine wrote under `usagePath`) and the time of one flush of a full
    * buffer through a probe log of the benchmark's own. */
  private def usageFlush(engine: Engine, usagePath: String): (Double, Double) = {
    val dir = new java.io.File(usagePath)
    val flushes = Option(dir.list()).map(_.count(f => f.startsWith("part-") && f.endsWith(".parquet")))
      .getOrElse(0).toDouble
    val probe = new graft.usage.UsageLog(engine.session, usagePath + "_probe")
    (0 until graft.usage.UsageLog.FlushEvery - 1).foreach(k =>
      probe.log("search_models", s"probe $k", "explore", 10L, 1L))
    val (_, ms) = Stats.timed(probe.flush())
    (flushes, ms)
  }

  private def release(c: Catalog): Unit =
    Seq(c.models, c.columns, c.tests, c.sources, c.macros, c.exposures, c.edges,
      c.searchIndex).foreach(_.unpersist())

  /** Checks one response; records a failure and returns false when it
    * is wrong. Does not record success (the caller does). */
  private def check(call: Call, resp: Option[String], project: DbtProject,
      adj: => (Map[String, Vector[String]], Map[String, Vector[String]]),
      out: Outcome): Boolean = {
    def bad(msg: String): Boolean = { out.fail(s"${call.tool} ${call.args}: $msg"); false }
    val obj = resp.map(JsonParse.parse) match {
      case Some(m: ListMap[_, _]) => m.asInstanceOf[ListMap[String, Any]]
      case _ => return bad("no response object")
    }
    if (obj.contains("error")) return bad(s"JSON-RPC error ${obj("error")}")
    val res = obj("result").asInstanceOf[ListMap[String, Any]]
    val text = res("content").asInstanceOf[List[Any]].head
      .asInstanceOf[ListMap[String, Any]]("text").asInstanceOf[String]
    if (res.get("isError").contains(true)) return bad(s"isError: ${text.take(200)}")
    val body = JsonParse.parse(text)
    def rows = body.asInstanceOf[List[ListMap[String, Any]]]
    def arg(k: String) = call.args(k)
    call.tool match {
      case "search_models" | "find_models_by_column" | "find_models_by_path" =>
        val limit = arg("limit").asInstanceOf[Long]
        if (rows.size > limit) bad(s"${rows.size} rows > limit $limit") else true
      case "get_lineage" if call.check =>
        val id = arg("model_id").asInstanceOf[String]
        val (parents, children) = adj
        val up = project.bfs(parents, id, arg("up_depth").asInstanceOf[Long].toInt)
        val down = project.bfs(children, id, arg("down_depth").asInstanceOf[Long].toInt)
        val want = (up.toSeq.map { case (n, d) => (n, d.toLong, "upstream") } ++
          down.toSeq.map { case (n, d) => (n, d.toLong, "downstream") })
          .sortBy { case (n, d, dir) => (dir, d, n) }.take(RowCap)
        val got = rows.map(r => (r("id").asInstanceOf[String], r("distance").asInstanceOf[Long],
          r("direction").asInstanceOf[String]))
        if (got != want) bad(s"lineage differs from BFS (${got.size} vs ${want.size} rows)") else true
      case "get_impact_analysis" if call.check =>
        val id = arg("model_id").asInstanceOf[String]
        val reach = project.bfs(adj._2, id, arg("depth").asInstanceOf[Long].toInt).keys.toSeq
        val models = reach.filter(_.startsWith("model."))
        val nExp = reach.count(_.startsWith("exposure.")).toLong
        val nTests = models.map(m => project.testsByModel.getOrElse(m, Vector.empty).size.toLong).sum
        val nMarts = models.count(m => project.modelByUid(m).layer == "marts").toLong
        val nModels = models.size.toLong
        val risk =
          if (nExp > 0 || (nMarts > 0 && nModels > 5)) "high"
          else if (nModels > 3 || nMarts > 0) "medium" else "low"
        val r = rows.head
        val got = (r("n_models"), r("n_exposures"), r("n_tests"), r("n_marts"), r("risk"))
        val want = (nModels, nExp, nTests, nMarts, risk)
        if (got != want) bad(s"impact $got != BFS $want") else true
      case "get_context_capsule" =>
        val cap = body.asInstanceOf[ListMap[String, Any]]
        val tokens = cap("tokenEstimate").asInstanceOf[Long]
        val budget = cap("tokenBudget").asInstanceOf[Long]
        val pivots = cap("pivotModels").asInstanceOf[List[ListMap[String, Any]]].map(_("name"))
        if (tokens > 1.2 * budget) bad(s"capsule $tokens tokens > 1.2 × $budget")
        else if (call.args.get("focus_model").exists(f => !pivots.contains(f)))
          bad(s"capsule lacks focus model (pivots $pivots)")
        else true
      case "discover_models" =>
        val entries = body.asInstanceOf[List[ListMap[String, Any]]]
        if (entries.size > arg("limit").asInstanceOf[Long]) bad(s"${entries.size} entries > limit")
        else if (call.args.get("focus_model").exists(f => !entries.exists(_("name") == f)))
          bad("discover lacks focus model")
        else true
      case "get_model_details" =>
        val name = body.asInstanceOf[ListMap[String, Any]]("name")
        if (name != arg("model_name")) bad(s"details returned $name") else true
      case _ => true
    }
  }
}
