package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.DotProduct
import graft.perfbench.Tracer

/** Benchmark-side replay of ONE batch of the standing clean→serve
  * pipeline (`pipe_incr_clean_serve`, batch 0 of
  * [[CorpusClean.EvolveBatches]]), calling the same stage functions the
  * pipeline composes and timing each one on its own:
  *
  *   derive  → [[CorpusClean.deriveBatch]] + embed/postings row derivation
  *   ledger  → [[CorpusClean.incrLedgerDerived]] over zero-copy branches
  *   appends → each index's append, timed inside one concurrent join
  *   serve   → [[EvolveServe.serveAnswers]] with the hoisted IVF probes
  *
  * It lives in this package because the probe hoist is package-private.
  * Each stage is a span of one request; the branches are dropped
  * afterwards, so the shared indexes are left as they were. Returns
  * per-layer metrics (name → (value, unit)). */
object PipelineReplay {

  def oneBatch(s: SparkSession, d: String, tracer: Tracer): Seq[(String, (Double, String))] = {
    val (req, root) = tracer.request()
    val t0 = System.nanoTime()
    def secs[A](name: String, parent: Long = root)(body: Long => A): (A, Double) = {
      val s0 = System.nanoTime()
      val r = tracer.span(req, parent, name)(body)
      (r, (System.nanoTime() - s0) / 1e9)
    }
    DotProduct.register(s)
    val k = CorpusClean.EvolveBatches
    val mh = Dedup.incrIndex(s, d).branch()
    val dg = Dedup.digestIndex(s, d).branch()
    val em = Dedup.embedIndex(s, d).branch()
    var po = EvolveServe.servePostings(s, d).branch()
    val iv = EvolveServe.serveIvf(s, d).branch()
    try {
      val batch = Tables.documents(s, d).filter(
        pmod(col("doc_id"), lit(10)) === 0 && pmod(col("doc_id"), lit(10L * k)) === 0)
      val (derived, emRows, poRows, deriveS) = {
        val ((a, b, c), t) = secs("pipeline.derive") { _ =>
          val a = CorpusClean.deriveBatch(s, batch)
          val b = em.deriveRows(Tables.embeddings(s, d)
            .filter(pmod(col("vec_id"), lit(10)) === 0 &&
              pmod(col("vec_id"), lit(10L * k)) === 0)
            .select(col("vec_id"), col("embedding")))
          val c = po.deriveRows(batch.select(col("doc_id"), col("text")), "doc_id", "text")
          graft.util.Par.materialize(parallel = false)(a, b, c)
          (a, b, c)
        }
        (a, b, c, t)
      }
      val (ledger, ledgerS) = secs("pipeline.ledger")(_ => CorpusClean.incrLedgerDerived(s, derived,
        Some((em, emRows)), dg, mh, assumeSmallDelta = true).localCheckpoint())
      val batchDocs = derived.count().toDouble
      val acceptedIds = ledger.filter(col("keep")).select(col("doc_id"))
      val accepted = acceptedIds.count().toDouble
      val acceptedDerived = derived.join(acceptedIds, Seq("doc_id"), "left_semi")
      val acceptedVecs = emRows
        .join(acceptedIds.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi")
      val appendS = new java.util.concurrent.ConcurrentHashMap[String, Double]()
      var poNext = po
      // Each append is a child span of the concurrent appends' span.
      val (_, wallS) = secs("pipeline.appends") { appends =>
        def timedAppend(name: String)(body: => Unit): () => Unit = () => {
          val (_, t) = secs(s"index.${name}_append", appends)(_ => body)
          appendS.put(name, t); ()
        }
        graft.util.Par.join(IndexMaintenance.parallelAppends)(
          timedAppend("minhash")(mh.appendDerived(acceptedDerived, assumeDisjoint = true)),
          timedAppend("digest")(dg.appendDerived(acceptedDerived, assumeDisjoint = true)),
          timedAppend("embed")(em.appendDerived(acceptedVecs, assumeDisjoint = true)),
          timedAppend("postings") { poNext = po.appendDerived(
            poRows.join(acceptedIds.select(col("doc_id").as("doc")), Seq("doc"), "left_semi"),
            assumeDisjoint = true) },
          timedAppend("ivf")(iv.append(acceptedVecs, assumeDisjoint = true)))
      }
      po = poNext
      val probes = Ann.ivfProbeSelection(iv, expr(EvolveServe.CleanServeAnnPred))
      val (answers, serveS) = secs("pipeline.serve_answers")(_ => EvolveServe.serveAnswers(0, po, iv,
        EvolveServe.CleanServeAnnPred, probes = Some(probes)).localCheckpoint())
      Seq(derived, emRows, poRows, ledger, answers).foreach(Dedup.freeCheckpoint)
      Seq(
        "pipeline.derive_s" -> (deriveS, "s"),
        "pipeline.ledger_s" -> (ledgerS, "s"),
        "index.minhash_append_s" -> (appendS.get("minhash"), "s"),
        "index.digest_append_s" -> (appendS.get("digest"), "s"),
        "index.embed_append_s" -> (appendS.get("embed"), "s"),
        "index.postings_append_s" -> (appendS.get("postings"), "s"),
        "index.ivf_append_s" -> (appendS.get("ivf"), "s"),
        "pipeline.appends_wall_s" -> (wallS, "s"),
        "pipeline.serve_answers_s" -> (serveS, "s"),
        "pipeline.accepted_ratio" -> (if (batchDocs > 0) accepted / batchDocs else 0.0, "ratio"))
    } finally {
      po.drop(); iv.drop(); mh.drop(); dg.drop(); em.drop()
      tracer.root(req, root, "request.pipeline_replay", t0, System.nanoTime())
    }
  }
}
