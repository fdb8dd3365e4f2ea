package graft.perfbench

import java.nio.file.{Files, Paths}
import java.util.SplittableRandom

import graft.util.Json.escape

/** Inverse-CDF sampler of ranks 0..n-1 with P(k) ∝ 1/(k+1)^s. */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(k => 1.0 / math.pow(k + 1.0, s))
    w.scanLeft(0.0)(_ + _).tail
  }
  def sample(rng: SplittableRandom): Int = {
    val u = rng.nextDouble() * cdf(n - 1)
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}

/** A seeded synthetic dbt project, shaped like a real warehouse rather
  * than a chain: staging models read one or two sources, intermediate
  * and mart models read several parents picked by a Zipf law over a
  * seeded "hub" ranking (skewed fan-out), marts have wide fan-in, and
  * models carry 2-25 columns, tests, macros calls, and descriptions
  * drawn Zipf-skewed from a term vocabulary. Exposures hang off marts.
  *
  * The generator keeps its own edge lists, so lineage and impact
  * answers can be checked against an independent BFS ([[bfs]]).
  */
final class DbtProject(seed: Long, val nModels: Int) {
  import DbtProject._

  private val rng = new SplittableRandom(seed)
  private val termZipf = new Zipf(Terms.length, 1.05)
  private def term(): String = Terms(termZipf.sample(rng))

  val nStaging: Int = nModels * 3 / 10
  val nIntermediate: Int = nModels * 4 / 10
  def layerOf(i: Int): String =
    if (i < nStaging) "staging" else if (i < nStaging + nIntermediate) "intermediate" else "marts"

  val sources: Vector[String] = Systems.zipWithIndex.flatMap { case (sys, k) =>
    (0 until 6).map(j => s"source.proj.$sys.${SourceTables((k + j * 3) % SourceTables.length)}")
  }.toVector

  final class Model(val idx: Int, val name: String, val domain: String,
      val description: String, val columns: Vector[(String, String, String)],
      val parents: scala.collection.mutable.ArrayBuffer[String], val macroCall: Option[String]) {
    val uid: String = s"model.proj.$name"
    def layer: String = layerOf(idx)
    def path: String = s"models/$layer/$domain/$name.sql"
  }

  /** (uid, name, type, model uid, column) */
  final case class Test(uid: String, name: String, testType: String, model: String, column: String)

  // Hub rankings: rank r of a layer's Zipf law maps to a seeded
  // permutation of that layer's models.
  private def perm(lo: Int, hi: Int): Array[Int] = {
    val a = (lo until hi).toArray
    for (i <- a.length - 1 to 1 by -1) {
      val j = rng.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a
  }
  private val stgHubs = perm(0, nStaging)
  private val intHubs = perm(nStaging, nStaging + nIntermediate)
  private val martHubs = perm(nStaging + nIntermediate, nModels)
  private val hubZipf = Map(
    "staging" -> new Zipf(stgHubs.length, 1.1),
    "intermediate" -> new Zipf(intHubs.length, 1.1),
    "marts" -> new Zipf(martHubs.length, 1.1))
  private val sourceZipf = new Zipf(sources.length, 1.0)
  private val fanZipf = new Zipf(8, 1.3)
  private val colZipf = new Zipf(24, 1.6)
  private val colNameZipf = new Zipf(ColumnWords.length, 0.9)

  /** A parent index drawn from `layer`'s hubs, strictly below `i`. */
  private def hub(layer: String, i: Int): Int = {
    val hubs = layer match {
      case "staging" => stgHubs
      case "intermediate" => intHubs
      case _ => martHubs
    }
    var tries = 0
    while (tries < 8) {
      val j = hubs(hubZipf(layer).sample(rng))
      if (j < i) return j
      tries += 1
    }
    val lo = layer match {
      case "staging" => 0
      case "intermediate" => nStaging
      case _ => nStaging + nIntermediate
    }
    if (i > lo) lo + rng.nextInt(i - lo) else rng.nextInt(math.max(1, nStaging))
  }

  val models: Vector[Model] = {
    val buf = Vector.newBuilder[Model]
    val names = new Array[String](nModels)
    for (i <- 0 until nModels) {
      val layer = layerOf(i)
      val (t1, t2) = (term(), term())
      val name = layer match {
        case "staging" => s"stg_${Systems(i % Systems.length)}__${t1}_$i"
        case "intermediate" => s"int_${t1}_${t2}_$i"
        case _ => s"${MartPrefixes(i % MartPrefixes.length)}_${t1}_${t2}_$i"
      }
      names(i) = name
      val parents = scala.collection.mutable.ArrayBuffer.empty[String]
      def addParent(p: String): Unit = if (!parents.contains(p)) parents += p
      layer match {
        case "staging" =>
          addParent(sources(sourceZipf.sample(rng)))
          if (rng.nextInt(10) == 0) addParent(sources(sourceZipf.sample(rng)))
        case "intermediate" =>
          val k = 1 + fanZipf.sample(rng) / 2
          (0 until k).foreach { _ =>
            val j = if (rng.nextInt(10) < 6) hub("staging", i) else hub("intermediate", i)
            addParent(s"model.proj.${names(j)}")
          }
        case _ =>
          val k = 2 + fanZipf.sample(rng)
          (0 until k).foreach { _ =>
            val r = rng.nextInt(10)
            val j = if (r < 7) hub("intermediate", i) else if (r < 9) hub("staging", i)
              else hub("marts", i)
            addParent(s"model.proj.${names(j)}")
          }
      }
      val nCols = 2 + colZipf.sample(rng)
      val cols = scala.collection.mutable.LinkedHashMap.empty[String, (String, String, String)]
      cols(s"${t1}_id") = (s"${t1}_id", "bigint", s"Primary key of the $t1 $t2 grain.")
      var guard = 0
      while (cols.size < nCols && guard < 200) {
        val base = ColumnWords(colNameZipf.sample(rng))
        val c = if (rng.nextInt(3) == 0) s"${base}_${term()}" else base
        if (!cols.contains(c)) {
          val desc = if (rng.nextInt(10) < 7) "" else s"The ${term()} value."
          cols(c) = (c, DataTypes(rng.nextInt(DataTypes.length)), desc)
        }
        guard += 1
      }
      val description =
        if (rng.nextInt(100) < 15) ""
        else s"${layer.capitalize} model for $t1 $t2 by ${term()}; tracks ${term()} and ${term()}."
      val macroCall = if (rng.nextInt(100) < 15) Some(Macros(rng.nextInt(Macros.length))) else None
      buf += new Model(i, name, t1, description, cols.values.toVector, parents, macroCall)
    }
    buf.result()
  }
  val modelByUid: Map[String, Model] = models.map(m => m.uid -> m).toMap

  val tests: Vector[Test] = models.flatMap { m =>
    val pk = m.columns.head._1
    val t = Vector.newBuilder[Test]
    def add(tt: String, c: String): Unit =
      t += Test(s"test.proj.${tt}_${m.name}_$c.${(m.idx * 31 + c.length) & 0xfff}",
        s"${tt}_${m.name}_$c", tt, m.uid, c)
    if (rng.nextInt(10) < 7) { add("unique", pk); add("not_null", pk) }
    m.columns.drop(1).find(_._1.endsWith("_id")).foreach { c =>
      if (rng.nextInt(10) < 3) add("relationships", c._1)
    }
    if (m.columns.exists(_._1 == "status") && rng.nextInt(10) < 5) add("accepted_values", "status")
    t.result()
  }
  val testsByModel: Map[String, Vector[Test]] = tests.groupBy(_.model)

  /** uid → parent uids, for exposures. */
  val exposures: Vector[(String, Vector[String])] =
    (0 until math.max(1, nModels / 150)).map { e =>
      val k = 1 + rng.nextInt(3)
      val deps = (0 until k).map(_ => models(martHubs(hubZipf("marts").sample(rng))).uid).distinct
      (s"exposure.proj.dashboard_$e", deps.toVector)
    }.toVector

  // ── Independent lineage (the serving tier's edge filter + BFS) ─────

  /** parent → children over model/source parents and model/source/
    * exposure/test children — the edge set ingestion keeps. */
  def children: Map[String, Vector[String]] = {
    val e = models.flatMap(m => m.parents.map(_ -> m.uid)) ++
      tests.map(t => t.model -> t.uid) ++
      exposures.flatMap { case (x, ps) => ps.map(_ -> x) }
    e.distinct.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
  }
  def parentsOf: Map[String, Vector[String]] = {
    val e = models.flatMap(m => m.parents.map(_ -> m.uid)) ++
      tests.map(t => t.model -> t.uid) ++
      exposures.flatMap { case (x, ps) => ps.map(_ -> x) }
    e.distinct.groupBy(_._2).map { case (k, v) => k -> v.map(_._1) }
  }

  /** Min-distance BFS, seeds excluded. */
  def bfs(adj: Map[String, Vector[String]], start: String, depth: Int): Map[String, Int] = {
    val dist = scala.collection.mutable.HashMap.empty[String, Int]
    var frontier = Vector(start)
    var d = 0
    while (d < depth && frontier.nonEmpty) {
      d += 1
      frontier = frontier.flatMap(u => adj.getOrElse(u, Vector.empty))
        .filter(v => v != start && !dist.contains(v)).distinct
      frontier.foreach(v => dist(v) = d)
    }
    dist.toMap
  }

  // ── manifest.json ──────────────────────────────────────────────────

  def json: String = {
    val sb = new StringBuilder(nModels * 2048)
    def str(s: String): Unit = sb.append(escape(s))
    def arr(xs: Seq[String]): Unit = {
      sb.append('['); xs.zipWithIndex.foreach { case (x, k) => if (k > 0) sb.append(','); str(x) }
      sb.append(']')
    }
    sb.append("""{"metadata":{"dbt_schema_version":"v12","dbt_version":"1.8.0",""")
    sb.append(""""adapter_type":"spark","project_name":"proj","generated_at":"2026-01-01T00:00:00Z"},""")
    sb.append(""""nodes":{""")
    var first = true
    def sep(): Unit = { if (!first) sb.append(','); first = false }
    for (m <- models) {
      sep()
      str(m.uid); sb.append(""":{"resource_type":"model","name":"""); str(m.name)
      sb.append(""","fqn":"""); arr(Seq("proj", m.layer, m.domain, m.name))
      sb.append(""","package_name":"proj","schema":"""); str(m.layer)
      sb.append(""","original_file_path":"""); str(m.path)
      val refs = m.parents.map { p =>
        if (p.startsWith("source.")) { val s = p.split('.'); s"{{ source('${s(2)}', '${s(3)}') }}" }
        else s"{{ ref('${p.stripPrefix("model.proj.")}') }}"
      }
      val compiled = m.parents.map(p => p.split('.').drop(2).mkString("."))
      val colList = m.columns.take(3).map(_._1)
      val macroSql = m.macroCall.map(mc => s", {{ $mc('${colList.last}') }} as ${mc}_out").getOrElse("")
      def sql(froms: Seq[String]) =
        s"select ${colList.mkString(", ")}$macroSql from ${froms.head} t0" +
          froms.tail.zipWithIndex.map { case (f, k) =>
            s" left join $f t${k + 1} using (${colList.head})"
          }.mkString
      sb.append(""","raw_code":"""); str(sql(refs.take(2).toSeq))
      sb.append(""","compiled_code":"""); str(sql(compiled.take(2).toSeq))
      sb.append(""","description":"""); str(m.description)
      sb.append(""","tags":["proj"],"config":{"materialized":""")
      str(if (m.layer == "marts") "table" else "view")
      sb.append(""","tags":[]},"depends_on":{"nodes":"""); arr(m.parents.toSeq)
      sb.append("""},"refs":[],"sources":[],"columns":{""")
      m.columns.zipWithIndex.foreach { case ((c, t, d), k) =>
        if (k > 0) sb.append(',')
        str(c); sb.append(""":{"name":"""); str(c)
        sb.append(""","description":"""); str(d)
        sb.append(""","data_type":"""); str(t); sb.append(""","tags":[]}""")
      }
      sb.append("}}")
    }
    for (t <- tests) {
      sep()
      str(t.uid); sb.append(""":{"resource_type":"test","name":"""); str(t.name)
      sb.append(""","package_name":"proj","config":{"severity":"error"},""")
      sb.append(""""test_metadata":{"name":"""); str(t.testType)
      sb.append(""","kwargs":{"column_name":"""); str(t.column)
      sb.append("""}},"depends_on":{"nodes":"""); arr(Seq(t.model)); sb.append("}}")
    }
    sb.append("""},"sources":{""")
    sources.zipWithIndex.foreach { case (s, k) =>
      if (k > 0) sb.append(',')
      val p = s.split('.')
      str(s); sb.append(""":{"name":"""); str(p(3))
      sb.append(""","source_name":"""); str(p(2))
      sb.append(""","schema":"raw","database":"lake","description":""")
      str(s"Raw ${p(3)} from ${p(2)}."); sb.append(""","loader":"fivetran","columns":{}}""")
    }
    sb.append("""},"macros":{""")
    Macros.zipWithIndex.foreach { case (mc, k) =>
      if (k > 0) sb.append(',')
      str(s"macro.proj.$mc"); sb.append(""":{"name":"""); str(mc)
      sb.append(""","package_name":"proj","original_file_path":"""); str(s"macros/$mc.sql")
      sb.append(""","description":"""); str(s"Shared $mc helper.")
      sb.append(""","macro_sql":"""); str(s"{% macro $mc(x) %} {{ x }} {% endmacro %}")
      sb.append('}')
    }
    sb.append("""},"exposures":{""")
    exposures.zipWithIndex.foreach { case ((x, deps), k) =>
      if (k > 0) sb.append(',')
      str(x); sb.append(""":{"name":"""); str(x.stripPrefix("exposure.proj."))
      sb.append(""","type":"dashboard","description":"Executive dashboard.",""")
      sb.append(""""owner":{"name":"analytics","email":"a@example.com"},"depends_on":{"nodes":""")
      arr(deps); sb.append("""},"tags":[]}""")
    }
    sb.append("""},"parent_map":{""")
    first = true
    for (m <- models) { sep(); str(m.uid); sb.append(':'); arr(m.parents.toSeq) }
    for (t <- tests) { sep(); str(t.uid); sb.append(':'); arr(Seq(t.model)) }
    for ((x, deps) <- exposures) { sep(); str(x); sb.append(':'); arr(deps) }
    sb.append("}}")
    sb.toString
  }

  def write(path: String): Unit = Files.writeString(Paths.get(path), json)
}

object DbtProject {
  // No term starts with a layer keyword (stg, int, fct, dim, agg, rpt,
  // report, mart, staging, intermediate), so a model's layer is set by
  // its directory and prefix alone.
  val Terms: Vector[String] = Vector(
    "revenue", "customer", "order", "payment", "session", "product", "inventory",
    "shipment", "refund", "subscription", "churn", "marketing", "campaign",
    "invoice", "ledger", "account", "user", "event", "click", "conversion",
    "supplier", "warehouse", "forecast", "margin", "retention", "cohort",
    "attribution", "pricing", "discount", "tax", "billing", "plan", "trial",
    "feature", "usage", "support", "ticket", "employee", "payroll", "budget",
    "vendor", "contract", "region", "store", "basket", "cart", "checkout",
    "fraud", "risk", "credit", "loan", "policy", "claim", "visit", "funnel",
    "lead", "opportunity", "quota", "territory", "partner")
  val Systems: Vector[String] = Vector("stripe", "shopify", "salesforce", "hubspot",
    "zendesk", "segment", "appdb", "netsuite", "adwords", "snowplow")
  val SourceTables: Vector[String] = Vector("customers", "orders", "payments",
    "events", "accounts", "invoices", "products", "sessions", "tickets", "campaigns")
  val MartPrefixes: Vector[String] = Vector("fct", "dim", "agg", "rpt")
  val ColumnWords: Vector[String] = Vector("status", "amount", "created_at", "updated_at",
    "customer_id", "order_id", "user_id", "quantity", "price", "currency", "channel",
    "region_code", "is_active", "score", "event_ts", "product_id", "session_id",
    "country", "email", "total", "net_amount", "gross_amount", "category", "source",
    "medium", "device", "plan_id", "account_id", "valid_from", "valid_to", "rank",
    "balance", "cost", "units", "duration_s", "tier", "segment", "owner_id")
  val DataTypes: Vector[String] = Vector("bigint", "varchar", "double", "timestamp",
    "boolean", "date")
  val Macros: Vector[String] = Vector("cents_to_dollars", "safe_divide",
    "surrogate_key", "date_spine", "pivot_values", "star_except", "union_relations",
    "deduplicate", "convert_tz", "clean_email", "hash_pii", "fiscal_quarter")
}
