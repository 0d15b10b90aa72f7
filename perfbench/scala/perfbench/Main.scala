package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.plans.GraftFunctions
import graft.queries.{Registry, Tables}

/** Minimal JSON writing for the result line and the check plan. */
object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
  def str(s: String): String = "\"" + esc(s) + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(vs: Iterable[String]): String = vs.mkString("[", ",", "]")
}

/** One operation's outcome in one pass. */
final case class OpRun(op: Op, rows: Option[Array[Row]], schema: Option[StructType],
                       buildNs: Long, collectNs: Long, error: Option[String])

final case class PassRun(wallNs: Long, ops: Seq[OpRun], layer: Map[String, Double],
                         jsonl: Map[String, Long])

/** One benchmark run in one JVM: set up the session, run closed-loop
  * passes over the workload for the measured window, then write the
  * outputs the checker compares and the result to DIR/result.json.
  *
  * Arguments: --workload W --seconds S --trace 0|1 --work DIR --cores N
  * --input-rows N. The inputs are already generated under DIR/in (and,
  * for a traced run, the kernel inputs under DIR/kernel_in). */
object Main {

  val MinPasses = 3
  val Setups = 3

  def session(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

  private def runOp(spark: SparkSession, tracer: Option[Tracer], opSpan: Long,
                    op: Op, ctx: PassCtx): OpRun = {
    val group = s"pass${ctx.pass}:${op.name}"
    tracer.foreach(_.bindGroup(group, opSpan))
    spark.sparkContext.setJobGroup(group, op.name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    val startMs = System.currentTimeMillis().toDouble
    def span(kind: String, from: Long, to: Long): Unit = tracer.foreach(t =>
      t.record(Span(t.newId(), opSpan, kind, op.name, startMs + (from - t0) / 1e6, startMs + (to - t0) / 1e6)))
    try {
      val df = op.build(ctx)
      val t1 = System.nanoTime()
      span(if (op.sink) "sink" else "build", t0, t1)
      val rows = df.map(_.collect()) // bounded: the checked output of one operation
      val t2 = System.nanoTime()
      if (df.isDefined) span(if (op.sink) "sink" else "materialise", t1, t2)
      ctx.collected(op.name) = rows.map(_.length.toLong).getOrElse(0L)
      OpRun(op, rows, df.map(_.schema), t1 - t0, t2 - t1, None)
    } catch {
      case NonFatal(e) =>
        OpRun(op, None, None, System.nanoTime() - t0, 0L, Some(s"${e.getClass.getName}: ${e.getMessage}"))
    } finally spark.sparkContext.clearJobGroup()
  }

  /** Rows as a sorted multiset of strings, to compare two passes. */
  private def canon(rows: Array[Row]): Seq[String] = rows.toSeq.map(_.toString).sorted

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = opt("workload")
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = opt("work")
    val cores = opt("cores").toInt
    val (inDir, outDir, checkDir) = (s"$work/in", s"$work/out", s"$work/check")
    val ops = Workloads(workloadName, outDir)
    Registry.all // initialise the query objects before anything is timed

    val phases = mutable.ArrayBuffer.empty[(String, Double)]
    var mark = System.nanoTime()
    def phase(name: String): Unit = {
      val now = System.nanoTime(); phases += name -> (now - mark) / 1e9; mark = now
    }
    val inputRows = opt("input-rows").toDouble
    val tables = new java.io.File(inDir).list().filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet"))

    // set-up: session + native functions + generated tables, Setups times
    val setups = (1 to Setups).map { i =>
      val t0 = System.nanoTime()
      val s = session(cores)
      GraftFunctions.register(s)
      tables.foreach(t => Tables.table(s, inDir, t).createOrReplaceTempView(t))
      val dt = (System.nanoTime() - t0) / 1e9
      if (i < Setups) s.stop()
      (dt, s)
    }
    val spark = setups.last._2
    phase("setup")
    val tracer = if (trace) Some(new Tracer) else None
    tracer.foreach(_.install(spark))

    // closed loop: one client, each pass starts when the previous ends.
    // At least MinPasses run (a cold first pass and warm ones for the
    // median); further passes start only while they are expected to end
    // inside the window
    val passes = mutable.ArrayBuffer.empty[PassRun]
    var firstRows: Seq[OpRun] = Nil
    val windowStart = System.nanoTime()
    var more = true
    while (more) {
      val ctx = new PassCtx(spark, inDir, outDir, passes.size)
      val acc = tracer.map(_.reset())
      val counters0 = Counting.snapshot()
      val passSpan = tracer.map(_.newId()).getOrElse(0L)
      val (p0, p0ms) = (System.nanoTime(), System.currentTimeMillis())
      val runs = ops.map { op =>
        val opSpan = tracer.map(_.newId()).getOrElse(0L)
        val o0 = System.currentTimeMillis()
        val r = runOp(spark, tracer, opSpan, op, ctx)
        tracer.foreach(_.record(Span(opSpan, passSpan, "operation", op.name,
          o0.toDouble, System.currentTimeMillis().toDouble)))
        r
      }
      val wall = System.nanoTime() - p0
      val p1ms = System.currentTimeMillis()
      tracer.foreach(_.record(Span(passSpan, 0L, "pass", s"pass ${passes.size}", p0ms.toDouble, p1ms.toDouble)))
      val layer = (tracer zip acc).headOption.map { case (t, a) =>
        PerfbenchBridge.drainListenerBus(spark.sparkContext)
        Layers.pass(t, a, p0ms, p1ms, cores, runs, ctx, counters0, Counting.snapshot())
      }.getOrElse(Map.empty)
      passes += PassRun(wall, runs, layer, ctx.jsonlWritten.toMap)
      if (passes.size == 1) firstRows = runs
      more = passes.size < MinPasses || (System.nanoTime() - windowStart + wall) / 1e9 <= seconds
      // keep only the first and the latest pass's rows
      if (passes.size > 2) passes(passes.size - 2) = passes(passes.size - 2).copy(
        ops = passes(passes.size - 2).ops.map(_.copy(rows = None)))
    }
    val last = passes.last
    phase("passes")

    // outputs for the checker, outside the measured window
    val checks = mutable.ArrayBuffer.empty[String]
    val problems = mutable.ArrayBuffer.empty[String]
    last.ops.zip(firstRows).foreach { case (r, first) =>
      for (rows <- r.rows; schema <- r.schema) {
        val path = s"$checkDir/${r.op.name}"
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
          .coalesce(1).write.mode("overwrite").parquet(path)
        if (first.rows.exists(f => canon(f) != canon(rows)))
          problems += s"${r.op.name}: the last pass's rows differ from the first pass's"
      }
      checks += Json.obj(Seq(
        "op" -> Json.str(r.op.name),
        "output" -> r.rows.map(_ => Json.str(s"$checkDir/${r.op.name}")).getOrElse("null"),
        "checks" -> Json.arr(r.op.checks.map {
          case Oracle(q) => Json.obj(Seq("kind" -> Json.str("oracle"), "query" -> Json.str(q),
            "sql" -> Json.str(graft.SparkEntry.oracleSql(q))))
          case Recall(k, floor) => Json.obj(Seq("kind" -> Json.str("recall"),
            "k" -> k.toString, "floor" -> Json.num(floor)))
          case Uploaded(root) => Json.obj(Seq("kind" -> Json.str("uploaded"), "root" -> Json.str(root)))
          case JsonlCount(root) => Json.obj(Seq("kind" -> Json.str("jsonl"), "root" -> Json.str(root),
            "written" -> passes.flatMap(_.jsonl.get(root)).sum.toString))
        })))
    }

    phase("outputs")
    val kernels = if (trace) Kernels.measure(spark, s"$work/kernel_in") else Map.empty
    tracer.foreach(_.writeSpans(s"$work/spans.jsonl"))
    phase("kernels")

    val warm = passes.drop(1).map(p => inputRows / (p.wallNs / 1e9))
    val endToEnd = Seq(
      "setup_s" -> median(setups.map(_._1)),
      "first_pass_s" -> passes.head.wallNs / 1e9,
      "steady_rows_per_s" -> median(warm.toSeq),
      "peak_rss_mb" -> peakRssMb())
    val layerMetrics = if (!trace) Map.empty[String, Double] else last.layer ++
      Map("ml.model_inits" -> Counting.modelInits.sum.toDouble) ++
      kernels.toSeq.flatMap { case (k, (n, f)) =>
        Seq(s"plans.${k}_ns_per_row" -> n, s"plans.${k}_fallback_ns_per_row" -> f)
      }
    val errors = passes.flatMap(_.ops.flatMap(r => r.error.map(e => s"${r.op.name}: $e")))
    val result = Json.obj(Seq(
      "workload" -> Json.str(workloadName),
      "passes" -> passes.size.toString,
      "attempted" -> passes.map(_.ops.size).sum.toString,
      "failed" -> errors.size.toString,
      "errors" -> Json.arr(errors.distinct.map(Json.str)),
      "problems" -> Json.arr(problems.map(Json.str)),
      "pass_s" -> Json.arr(passes.map(p => Json.num(p.wallNs / 1e9))),
      "op_s" -> Json.obj(ops.map(o => o.name -> Json.arr(passes.map(p =>
        p.ops.find(_.op eq o).map(r => Json.num((r.buildNs + r.collectNs) / 1e9)).getOrElse("null"))))),
      "phase_s" -> Json.obj(phases.map { case (k, v) => k -> Json.num(v) }),
      "end_to_end" -> Json.obj(endToEnd.map { case (k, v) => k -> Json.num(v) }),
      "per_layer" -> Json.obj(layerMetrics.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
      "checks" -> Json.arr(checks)))
    Files.writeString(Paths.get(s"$work/result.json"), result)
    spark.stop()
  }
}
