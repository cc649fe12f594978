package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.engine.GraftSession

/** `sql_interactive`: a seeded stream of ClickHouse-dialect SQL through
  * `queryAs(sql, "JSONEachRow")` over the sf0.1 tables, cached in memory by
  * the program's own loader. A round refreshes one dashboard: every template
  * of the dashboard once.
  */
final class SqlInteractive(inputs: String, nproc: Int, plant: Boolean) extends Workload {
  private final case class Q(template: String, sql: String, ordered: Boolean)

  private def parse(n: com.fasterxml.jackson.databind.JsonNode): Q =
    Q(n.get("template").asText, n.get("sql").asText, n.get("ordered").asBoolean)

  private val spec = Json.read(s"$inputs/stream.json")
  private val stream: IndexedSeq[IndexedSeq[Q]] =
    spec.get("rounds").elements.asScala.map(_.elements.asScala.map(parse).toIndexedSeq)
      .toIndexedSeq
  private val defects = spec.get("known_defects").elements.asScala.map(parse).toSeq
  // first answer per distinct query, checked against DuckDB after the run
  private val answers = mutable.LinkedHashMap.empty[String, (String, String)]
  private val mismatched = mutable.Set.empty[Int] // op indexes whose answer changed

  def setup(gs: GraftSession, rep: Int): Map[String, Double] = {
    graft.Tables.enableInMemory(nproc)
    val t0 = System.nanoTime()
    gs.registerTestTables(s"$inputs/data/rep$rep")
    val loadMs = (System.nanoTime() - t0) / 1e6
    val cachedMb = gs.spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1048576.0
    Map("tables.load_ms" -> loadMs, "tables.cached_mb" -> cachedMb)
  }

  /** Rows in a canonical order when the query does not fix one. */
  private def canonical(q: Q, out: String): String =
    if (q.ordered) out else out.split("\n").sorted.mkString("\n")

  def round(gs: GraftSession, i: Int, loop: Loop): Unit =
    stream(i % stream.size).foreach(q => send(gs, q, loop))

  private def send(gs: GraftSession, q: Q, loop: Loop): Unit = {
    if (loop.traced) Tracer.probeEngine(gs, q.template, q.sql, loop.tracer)
    loop.op(q.template) {
      val out = gs.queryAs(q.sql, "JSONEachRow")
      // the planted wrong answer: one template's last row goes missing
      if (plant && q.template == "argmax_last_event") out.split("\n").dropRight(1).mkString("\n")
      else out
    }.foreach { out =>
      val c = canonical(q, out)
      answers.get(q.sql) match {
        case None => answers(q.sql) = (q.template, c)
        case Some((_, first)) => if (first != c) mismatched += loop.lastOp
      }
    }
  }

  def finish(gs: GraftSession): Map[String, Any] = {
    val defectResults = defects.map { q =>
      val r = try Map("ok" -> true, "out" -> canonical(q, gs.queryAs(q.sql, "JSONEachRow")))
        catch { case e: Exception =>
          Map("ok" -> false, "err" -> s"${e.getClass.getSimpleName}: ${
            String.valueOf(e.getMessage).linesIterator.find(_.trim.nonEmpty).getOrElse("")}")
        }
      Map("template" -> q.template, "sql" -> q.sql) ++ r
    }
    Map(
      "answers" -> answers.map { case (sql, (t, out)) =>
        Map("sql" -> sql, "template" -> t, "out" -> out) }.toSeq,
      "changed_answer_ops" -> mismatched.toSeq.sorted,
      "known_defects" -> defectResults)
  }
}
