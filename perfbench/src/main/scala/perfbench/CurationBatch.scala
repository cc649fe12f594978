package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, functions => F}
import org.apache.spark.sql.functions.{asc, avg, col, count, countDistinct, desc, lit, sum}

import graft.ds.GraftFrame
import graft.engine.GraftSession

/** `curation_batch`: one GraftFrame chain over a replicated corpus, repeated.
  * A round is one chain; each step (op) builds its frames through the
  * curation operators and runs one action, the scoring step two (the LM
  * perplexity and the BM25 top 20).
  */
final class CurationBatch(inputs: String, nproc: Int, plant: Boolean) extends Workload {
  private val WarmupChains = 1
  private val meta = Json.read(s"$inputs/corpus.json")
  private val bm25Query = meta.get("bm25_query").asText
  private val benchTexts = meta.get("benchmark_texts").elements.asScala.map(_.asText).toSeq
  private var docs: GraftFrame = _
  private var emb: GraftFrame = _
  private var bench: GraftFrame = _
  val chains = mutable.ArrayBuffer.empty[mutable.LinkedHashMap[String, Any]]

  def setup(gs: GraftSession, rep: Int): Map[String, Double] = {
    val spark = gs.spark
    graft.Tables.enableInMemory(nproc)
    val t0 = System.nanoTime()
    docs = GraftFrame(graft.Tables.load(spark, s"$inputs/corpus/rep$rep", "documents"))
    emb = GraftFrame(graft.Tables.load(spark, s"$inputs/corpus/rep$rep", "embeddings"))
    val loadMs = (System.nanoTime() - t0) / 1e6
    import spark.implicits._
    bench = GraftFrame(benchTexts.toDF("text"))
    val cachedMb = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1048576.0
    Map("tables.load_ms" -> loadMs, "tables.cached_mb" -> cachedMb)
  }

  /** Time a curation-operator call. */
  private def build[T](t: Tracer, name: String)(f: => T): T = t.span(name, "operators")(f)

  /** Run the action, then note the size of the plan it executed. */
  private def action(t: Tracer, df: DataFrame): Array[Row] = {
    val rows = t.span("collect", "exec")(df.collect())
    t.note("plan_nodes", Tracer.planNodes(df.queryExecution.executedPlan).toDouble)
    rows
  }

  /** Chains before timing, so the loop measures chains in a warmer JVM
    * (a cold chain spends most of its time in JIT compilation).
    */
  override def warmup(gs: GraftSession): Unit = {
    val loop = new Loop(new Tracer(gs.spark), 3600.0, traceMode = false)
    for (_ <- 1 to WarmupChains) round(gs, -1, loop)
  }

  def round(gs: GraftSession, i: Int, loop: Loop): Unit = {
    val t = loop.tracer
    val out = mutable.LinkedHashMap[String, Any]("round" -> i)
    var kept: GraftFrame = null
    loop.op("filter_dedup") {
      kept = build(t, "qualityScore")(docs.qualityScore("text"))
      kept = build(t, "languageId")(kept.languageId("text"))
      kept = build(t, "dedupExact")(kept.dedupExact("text", "doc_id"))
        .select("doc_id", "text", "quality_score", "pred_lang").cache()
      val r = action(t, kept.toDF.agg(count(lit(1)), sum("doc_id"),
        F.round(sum("quality_score"), 4), countDistinct("pred_lang"))).head
      out("kept") = Seq(r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))
    }
    if (kept != null) {
      loop.op("minhash_pairs") {
        val pairs = build(t, "minhashPairs")(kept.minhashPairs("text", "doc_id", 0.5, rowsPerBand = 4))
        val r = action(t, pairs.toDF.agg(count(lit(1)),
          F.expr("bit_xor(xxhash64(id_a, id_b))"))).head
        out("pairs") = Seq(r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
      }
      loop.op("sem_dedup") {
        val d = build(t, "semDedup")(emb.semDedup("embedding", "vec_id", 0.95))
        val ids = action(t, d.toDF.select(col("id"))).map(_.getLong(0)).sorted
        out("semdedup_ids") = if (plant) ids.drop(1).toSeq :+ -1L else ids.toSeq
      }
      loop.op("score") {
        val lm = build(t, "lmTrain")(kept.lmTrain("text"))
        val s = build(t, "lmScore")(kept.lmScore(lm, "text", "doc_id"))
        val r = action(t, s.toDF.agg(count(lit(1)), F.round(avg("perplexity"), 4))).head
        out("lm") = Seq(r.getLong(0), r.getDouble(1))
        val b = build(t, "bm25")(kept.bm25("text", "doc_id", bm25Query))
        out("bm25_top") = action(t, b.toDF.orderBy(desc("bm25"), asc("doc_id"))
          .select("doc_id").limit(20)).map(_.getLong(0)).toSeq
      }
      loop.op("decontaminate") {
        val d = build(t, "decontaminateBloom")(
          kept.decontaminateBloom(bench, "text", "doc_id", n = 8))
        out("contaminated") = action(t, d.toDF.select("id")).map(_.getLong(0)).sorted.toSeq
      }
      kept.toDF.unpersist(blocking = true)
    }
    chains += out
  }

  def finish(gs: GraftSession): Map[String, Any] =
    Map("chains" -> chains.map(_.toMap).toSeq)
}
