package perfbench

import scala.collection.mutable

import graft.engine.GraftSession

/** One timed op of the closed loop. */
final case class OpRec(kind: String, round: Int, traced: Boolean, ms: Double,
    ok: Boolean, err: String)

/** A workload: set-up from pre-generated inputs, then rounds of ops. */
trait Workload {
  /** Register the workload's tables in a fresh session. `rep` picks the
    * set-up's own copy of the inputs. Returns the set-up's layer timings.
    */
  def setup(gs: GraftSession, rep: Int): Map[String, Double]
  /** Untimed work between set-up and the timed loop. */
  def warmup(gs: GraftSession): Unit = ()
  /** Run round `i`: a fixed sequence of ops, each through `loop.op`. */
  def round(gs: GraftSession, i: Int, loop: Loop): Unit
  /** Checks made after the timed loop; results go to the report. */
  def finish(gs: GraftSession): Map[String, Any]
}

/** Closed loop, one client: the next op starts when the previous one ends.
  * Rounds start until the deadline; the round running then is run to its
  * end, so every round is complete and every run weighs the same op mix.
  */
final class Loop(val tracer: Tracer, seconds: Double, traceMode: Boolean) {
  val ops = mutable.ArrayBuffer.empty[OpRec]
  val rounds = mutable.ArrayBuffer.empty[(Int, Double, Boolean)] // (round, ms, traced)
  private val t0 = System.nanoTime()
  private val deadline = t0 + (seconds * 1e9).toLong
  private var current = 0

  def traced: Boolean = tracer.enabled
  def expired: Boolean = System.nanoTime() >= deadline
  /** Index of the last recorded op. */
  def lastOp: Int = ops.size - 1

  /** Run one op. Returns its result, or None when the op failed. */
  def op[T](kind: String)(body: => T): Option[T] = {
    val s = System.nanoTime()
    val r = try Right(tracer.op(kind)(body)) catch { case e: Throwable => Left(e) }
    val ms = (System.nanoTime() - s) / 1e6
    r match {
      case Right(v) => ops += OpRec(kind, current, traced, ms, ok = true, ""); Some(v)
      case Left(e) =>
        val msg = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
        ops += OpRec(kind, current, traced, ms, ok = false, msg); None
    }
  }

  /** Rounds until the deadline. In the traced run, even rounds are traced and
    * odd ones are not, so the two can be compared for overhead.
    */
  def run(w: Workload, gs: GraftSession): Unit = {
    var more = true
    while (more && !expired) {
      val trace = traceMode && current % 2 == 0
      if (trace) tracer.start()
      val s = System.nanoTime()
      val before = ops.size
      try w.round(gs, current, this)
      finally if (trace) tracer.stop()
      rounds += ((current, (System.nanoTime() - s) / 1e6, trace))
      more = ops.size > before
      current += 1
    }
  }
}

object Main {
  private def arg(args: Array[String], name: String): Option[String] = {
    val i = args.indexOf(name)
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  private def loadavg(): String =
    scala.util.Try(scala.io.Source.fromFile("/proc/loadavg").mkString.trim).getOrElse("")

  private def vmHwmMb(): Double =
    scala.util.Try {
      scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).get
    }.getOrElse(0.0)

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "--workload").get
    val seed = arg(args, "--seed").get.toLong
    val seconds = arg(args, "--seconds").get.toDouble
    val traceMode = arg(args, "--trace").contains("1")
    val inputs = arg(args, "--inputs").get
    val out = arg(args, "--out").get
    val setups = arg(args, "--setups").map(_.toInt).getOrElse(3)
    val plant = args.contains("--plant-wrong")
    val nproc = Runtime.getRuntime.availableProcessors
    val load0 = loadavg()

    val w: Workload = workload match {
      case "sql_interactive" => new SqlInteractive(inputs, nproc, plant)
      case "curation_batch" => new CurationBatch(inputs, nproc, plant)
      case "ingest_mutate" => new IngestMutate(inputs, seed, plant)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // set-up is repeated in fresh sessions; the last one serves the loop
    val setupS = mutable.ArrayBuffer.empty[Double]
    val setupLayers = mutable.ArrayBuffer.empty[Map[String, Double]]
    var gs: GraftSession = null
    for (rep <- 0 until setups) {
      val t0 = System.nanoTime()
      gs = GraftSession.build(s"local[$nproc]", nproc)
      val buildMs = (System.nanoTime() - t0) / 1e6
      setupLayers += w.setup(gs, rep) + ("engine.build_ms" -> buildMs)
      setupS += (System.nanoTime() - t0) / 1e9
      if (rep < setups - 1) gs.spark.stop()
    }

    w.warmup(gs)
    val tracer = new Tracer(gs.spark)
    val loop = new Loop(tracer, seconds, traceMode)
    loop.run(w, gs)
    val checks = w.finish(gs)
    if (traceMode) tracer.writeTo(s"$out/spans.jsonl")

    val spark = gs.spark
    val report = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "trace" -> traceMode, "nproc" -> nproc,
      "loadavg_start" -> load0, "loadavg_end" -> loadavg(),
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "spark" -> spark.version,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "spark_conf" -> spark.conf.getAll.toSeq.sortBy(_._1).toMap,
      "setup_s" -> setupS.toSeq,
      "setup_layers" -> setupLayers.last,
      "ops" -> loop.ops.map(o => Map("kind" -> o.kind, "round" -> o.round,
        "traced" -> o.traced, "ms" -> o.ms, "ok" -> o.ok, "err" -> o.err)).toSeq,
      "rounds" -> loop.rounds.map { case (i, ms, t) =>
        Map("round" -> i, "ms" -> ms, "traced" -> t) }.toSeq,
      "checks" -> checks,
      "peak_rss_mb" -> vmHwmMb())
    val f = new java.io.PrintWriter(s"$out/report.json", "UTF-8")
    try f.print(Json.write(report)) finally f.close()
    spark.stop()
  }
}
