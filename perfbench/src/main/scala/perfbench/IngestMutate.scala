package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.engine.GraftSession
import graft.io.DeltaNative

/** `ingest_mutate`: writes beside reads on native Delta tables.
  *
  *  - `ev`: seeded from sf0.1 `events`; takes appends, ClickHouse
  *    `ALTER TABLE … UPDATE/DELETE` (copy-on-write rewrites), point and
  *    aggregate reads, and `OPTIMIZE TABLE … FINAL` as the compaction cycle.
  *  - `ev_feed`: an append-only table (every tenth event at start) under the
  *    incremental view `ev_by_type`. An incremental view folds appends only,
  *    so its base takes no update or delete.
  *
  * Flush policy: one commit per write op. A round is one compaction cycle:
  * the ops of `CycleKinds` in seeded order (the refresh after the ingest)
  * with seeded arguments, then `OPTIMIZE TABLE ev FINAL`.
  */
final class IngestMutate(inputs: String, seed: Long, plant: Boolean) extends Workload {
  import IngestMutate._

  // ---- inputs, generated from the seed before set-up ----
  private val rnd = new scala.util.Random(seed)
  private val ops: IndexedSeq[Op] = (0 until Cycles).flatMap { c =>
    // the refresh comes after the cycle's ingest, so every refresh folds one
    // batch and every cycle does the same work, whatever the order
    val order = rnd.shuffle(CycleKinds)
    val (in, re) = (order.indexOf("ingest"), order.indexOf("refresh"))
    val kinds = if (re < in) order.updated(in, "refresh").updated(re, "ingest") else order
    kinds.zipWithIndex.map { case (kind, j) =>
      val i = c * (CycleKinds.size + 1) + j
      val u = rnd.nextInt(Users).toLong
      kind match {
        case "append" | "ingest" =>
          Op(kind, batch = (0 until BatchRows).map { r =>
            Ev(NewIds + i.toLong * BatchRows + r, rnd.nextInt(Users).toLong,
              EventTypes(rnd.nextInt(EventTypes.size)),
              math.round(rnd.nextDouble() * 50000) / 100.0)
          })
        case "update" => Op(kind, user = u, delta = Seq(0.5, 1.0, 2.5)(rnd.nextInt(3)))
        case "delete" => Op(kind, user = u, etype = EventTypes(rnd.nextInt(EventTypes.size)))
        case "point" => Op(kind, id = rnd.nextInt(BaseEvents).toLong)
        case "agg" => Op(kind, user = 50L + rnd.nextInt(4) * 50L)
        case _ => Op(kind)
      }
    } :+ Op("optimize")
  }

  private var evPath = ""
  private var feedPath = ""
  // output of every read, and the ops that completed, in order
  private val reads = mutable.Map.empty[Int, String]
  private val done = mutable.ArrayBuffer.empty[Int]
  private val loopIndex = mutable.Map.empty[Int, Int] // op -> recorded op, -1: warm-up
  private var pendingFeedRows = 0L

  def setup(gs: GraftSession, rep: Int): Map[String, Double] = {
    val spark = gs.spark
    evPath = s"$inputs/delta/rep$rep/ev"
    feedPath = s"$inputs/delta/rep$rep/ev_feed"
    val t0 = System.nanoTime()
    val events = graft.Tables.load(spark, s"$inputs/data/rep$rep", "events")
    val loadMs = (System.nanoTime() - t0) / 1e6
    DeltaNative.write(events, evPath)
    gs.registerDelta("ev", evPath)
    DeltaNative.write(events.filter(col("event_id") % 10 === 0), feedPath)
    gs.registerDelta("ev_feed", feedPath)
    gs.createIncrementalMatView("ev_by_type", "ev_feed", Seq("event_type"),
      Seq(("count", "value", "n"), ("sum", "value", "total"), ("max", "value", "vmax")))
    Map("tables.load_ms" -> loadMs, "tables.cached_mb" -> 0.0)
  }

  private def pathOf(table: String) = if (table == "ev") evPath else feedPath

  /** Bytes of files under a table directory, by relative path. */
  private def files(path: String): Map[String, Long] = {
    val root = java.nio.file.Paths.get(path)
    val s = java.nio.file.Files.walk(root)
    try s.iterator.asScala.filter(java.nio.file.Files.isRegularFile(_))
      .map(p => root.relativize(p).toString -> java.nio.file.Files.size(p)).toMap
    finally s.close()
  }

  /** Run a write, noting bytes it added to the table directory (traced). */
  private def written(t: Tracer, table: String, userData: Boolean)(f: => Unit): Unit =
    if (!t.enabled) f
    else {
      val before = files(pathOf(table))
      f
      val added = files(pathOf(table)).filter { case (p, _) => !before.contains(p) }
      t.note("bytes_written", added.values.sum.toDouble)
      if (userData) t.note("user_bytes",
        added.filter(!_._1.startsWith("_delta_log")).values.sum.toDouble)
    }

  private def read(gs: GraftSession, sql: String): String = gs.queryAs(sql, "JSONEachRow")

  private def readSql(o: Op): String = o.kind match {
    case "point" => s"SELECT event_id, user_id, event_type, value FROM ev WHERE event_id = ${o.id}"
    case "agg" => "SELECT event_type, count(*) AS n, round(sum(value), 2) AS total FROM ev " +
      s"WHERE user_id < ${o.user} GROUP BY event_type ORDER BY event_type"
    case _ => "SELECT event_type, n, total, vmax FROM ev_by_type ORDER BY event_type"
  }

  private var warm = false
  private var firstCycle = 0

  /** Untimed cycles before the loop (JIT warm-up); their reads are checked
    * against the model like the others.
    */
  override def warmup(gs: GraftSession): Unit = {
    warm = true
    val loop = new Loop(new Tracer(gs.spark), 3600.0, traceMode = false)
    for (c <- 0 until WarmupCycles) round(gs, c, loop)
    warm = false
    firstCycle = WarmupCycles
  }

  def round(gs: GraftSession, i: Int, loop: Loop): Unit = {
    val t = loop.tracer
    val spark = gs.spark
    val n = CycleKinds.size + 1
    val c = i + firstCycle
    for (k <- c * n until math.min((c + 1) * n, ops.size)) {
      val o = ops(k)
      if (t.enabled && ReadKinds(o.kind))
        Tracer.probeEngine(gs, o.kind, readSql(o), t)
      val r = loop.op(o.kind) {
        o.kind match {
          case "append" | "ingest" =>
            val table = if (o.kind == "append") "ev" else "ev_feed"
            val df = spark.createDataFrame(o.batch.map(_.row).asJava, Schema)
            written(t, table, userData = true) {
              t.span("DeltaNative.write", "io")(
                DeltaNative.write(df, pathOf(table), mode = "append"))
            }
            t.span("registerDelta", "io")(gs.registerDelta(table, pathOf(table)))
            if (table == "ev_feed") pendingFeedRows += o.batch.size
            None
          case "update" =>
            written(t, "ev", userData = false) {
              t.span("GraftSession.sql", "io")(gs.sql(
                s"ALTER TABLE ev UPDATE value = value + ${o.delta} WHERE user_id = ${o.user}"))
            }
            None
          case "delete" =>
            written(t, "ev", userData = false) {
              t.span("GraftSession.sql", "io")(gs.sql(
                s"ALTER TABLE ev DELETE WHERE user_id = ${o.user} AND event_type = '${o.etype}'"))
            }
            None
          case "optimize" =>
            written(t, "ev", userData = false) {
              t.span("GraftSession.sql", "io")(gs.sql("OPTIMIZE TABLE ev FINAL"))
            }
            None
          case "refresh" =>
            t.note("appended_rows", pendingFeedRows.toDouble)
            t.span("refreshMatView", "streaming")(gs.refreshMatView("ev_by_type"))
            pendingFeedRows = 0L
            None
          case _ => Some(read(gs, readSql(o)))
        }
      }
      r.foreach { out =>
        done += k
        loopIndex(k) = if (warm) -1 else loop.lastOp
        out.foreach(s => reads(k) = s)
      }
    }
  }

  def finish(gs: GraftSession): Map[String, Any] = {
    gs.refreshMatView("ev_by_type")
    val model = new Model(graft.Tables.load(gs.spark, s"$inputs/data/rep0", "events")
      .select("event_id", "user_id", "event_type", "value").collect())
    val wrong = mutable.ArrayBuffer.empty[Map[String, Any]]
    // replay the committed ops in order; each read must match the model then
    done.foreach { k =>
      val o = ops(k)
      o.kind match {
        case "append" => o.batch.foreach(model.add)
        case "ingest" => o.batch.foreach(model.ingest)
        case "update" => model.update(o.user, o.delta)
        case "delete" => model.delete(o.user, o.etype)
        case "refresh" => model.refresh()
        case "optimize" =>
        case kind =>
          val got = reads(k)
          val want = kind match {
            case "point" => model.point(o.id)
            case "agg" => model.agg(o.user)
            case "view" => model.view
          }
          if (!sameRows(parse(got), want))
            wrong += Map("op" -> loopIndex(k), "kind" -> kind, "got" -> got.take(500),
              "want" -> want.map(_.mkString(",")).mkString(" | ").take(500))
      }
    }
    model.refresh()
    if (plant) model.add(Ev(-1L, 0L, "view", 1.0))
    val base = parse(read(gs,
      "SELECT count(*) AS n, sum(event_id) AS ids, round(sum(value), 2) AS total FROM ev"))
    val view = parse(read(gs, "SELECT event_type, n, total, vmax FROM ev_by_type ORDER BY event_type"))
    val fresh = parse(read(gs, "SELECT event_type, count(*) AS n, sum(value) AS total, " +
      "max(value) AS vmax FROM ev_feed GROUP BY event_type ORDER BY event_type"))
    val checks = Seq(
      "base_matches_model" -> sameRows(base, model.base),
      "view_matches_fresh_group_by" -> sameRows(view, fresh),
      "view_matches_model" -> sameRows(view, model.view))
    Map(
      "wrong_reads" -> wrong.toSeq,
      "final_checks" -> checks.toMap,
      "files_live" -> Map(
        "ev" -> DeltaNative.snapshot(gs.spark, evPath).files.size,
        "ev_feed" -> DeltaNative.snapshot(gs.spark, feedPath).files.size),
      "ops_generated" -> ops.size)
  }
}

object IngestMutate {
  val Cycles = 400
  val WarmupCycles = 2
  // one compaction cycle: these ops in seeded order, then OPTIMIZE; 4 of 10 read
  val CycleKinds = IndexedSeq("point", "point", "agg", "view",
    "append", "ingest", "update", "delete", "refresh")
  val BatchRows = 100
  val ReadKinds = Set("point", "agg", "view")
  val Users = 5000
  val BaseEvents = 100000
  val NewIds = 10000000L
  val EventTypes = IndexedSeq("click", "error", "purchase", "signup", "view")

  final case class Ev(id: Long, user: Long, etype: String, value: Double) {
    def row: Row = Row(id, Ts, user, etype, value, "{}")
  }
  final case class Op(kind: String, batch: Seq[Ev] = Nil, user: Long = 0L,
      delta: Double = 0.0, etype: String = "", id: Long = 0L)

  private val Ts = java.sql.Timestamp.valueOf("2024-03-01 00:00:00")
  val Schema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** JSONEachRow text as rows of field values in column order. */
  def parse(out: String): Seq[Seq[Any]] =
    out.split("\n").toSeq.filter(_.trim.nonEmpty).map { line =>
      Json.readString(line).fields.asScala.map { e =>
        val v = e.getValue
        if (v.isNumber) v.asDouble: Any else v.asText: Any
      }.toSeq
    }

  /** Equal row lists; numbers within a rounding step of each other. */
  def sameRows(a: Seq[Seq[Any]], b: Seq[Seq[Any]]): Boolean =
    a.size == b.size && a.zip(b).forall { case (x, y) =>
      x.size == y.size && x.zip(y).forall {
        case (p: Double, q: Double) => math.abs(p - q) <= 0.011 + 1e-9 * math.abs(q)
        case (p, q) => p == q
      }
    }

  /** The benchmark's own model of the two tables. */
  final class Model(initial: Array[Row]) {
    private val ev = mutable.LongMap.empty[Ev]
    initial.foreach(r => add(Ev(r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3))))
    private val feed = mutable.ArrayBuffer.empty[Ev]
    initial.filter(_.getLong(0) % 10 == 0)
      .foreach(r => feed += Ev(r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
    var view: Seq[Seq[Any]] = Nil
    refresh()

    def add(e: Ev): Unit = ev(e.id) = e
    def ingest(e: Ev): Unit = feed += e
    def update(user: Long, d: Double): Unit =
      ev.mapValuesInPlace((_, e) => if (e.user == user) e.copy(value = e.value + d) else e)
    def delete(user: Long, t: String): Unit =
      ev.filterInPlace { case (_, e) => !(e.user == user && e.etype == t) }
    def refresh(): Unit =
      view = feed.groupBy(_.etype).toSeq.sortBy(_._1).map { case (t, es) =>
        Seq(t, es.size.toDouble, es.map(_.value).sum, es.map(_.value).max)
      }
    def point(id: Long): Seq[Seq[Any]] =
      ev.get(id).map(e => Seq[Any](e.id.toDouble, e.user.toDouble, e.etype, e.value)).toSeq
    def agg(u: Long): Seq[Seq[Any]] =
      ev.values.filter(_.user < u).groupBy(_.etype).toSeq.sortBy(_._1).map { case (t, es) =>
        Seq(t, es.size.toDouble, es.map(_.value).sum)
      }
    def base: Seq[Seq[Any]] =
      Seq(Seq(ev.size.toDouble, ev.keys.sum.toDouble, ev.values.map(_.value).sum))
  }
}
