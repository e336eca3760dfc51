package perfbench

import java.nio.file.{Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** The benchmark JVM: builds the session exactly like `graft.Bench`,
  * sets the workload up once (set-up time counts from JVM start), warms
  * up, runs the timed closed loop, checks the outputs against generator
  * truth and prints one result line as the last line of stdout.
  *
  * {{{
  * perfbench.Main --workload aq_ingest --seed 1 --seconds 10 --trace 0 \
  *   --cpus 4 --work <dir> [--trace-out spans.json]
  * }}}
  */
object Main {

  /** Untimed ops run after set-up until this much time has passed, so
    * the timed ops run JIT-compiled code.
    */
  val WarmupSeconds = 5.0

  case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                  cpus: Int, work: Path, traceOut: Option[Path])

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", kv.get("cpus").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors),
      Paths.get(need("work")).toAbsolutePath, kv.get("trace-out").map(Paths.get(_).toAbsolutePath))
  }

  /** The session wiring of `graft.Bench` and `graft.Verify`, with the
    * warehouse and spill directories kept inside the work directory.
    */
  def session(cpus: Int, dir: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", "graft.io.NioLocalFileSystem")
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", "graft.io.NioLocalFs")
      .config("spark.sql.warehouse.dir", dir.resolve("warehouse").toString)
      .config("spark.local.dir", dir.resolve("spark-local").toString)
      .getOrCreate()
    graft.GraftExtensions.assertWired(spark)
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** End-to-end metrics with their units, in report order. */
  val endToEndUnits: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "latency_p50_ms" -> "ms", "rows_per_s" -> "rows/s",
    "peak_rss_mb" -> "MB", "stored_bytes_per_input_byte" -> "ratio")

  def endToEnd(values: Map[String, Double]): Seq[(String, Double, String)] =
    endToEndUnits.map { case (n, u) => (n, values(n), u) }

  /** One op as the loop saw it (wall-clock ms for the window). */
  case class OpRecord(id: Long, startMs: Long, endMs: Long, latencyMs: Double,
                      endNs: Long, rows: Long, error: Option[String])

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)

  private def message(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").linesIterator.take(3).mkString(" ")}"

  def main(argv: Array[String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val a = parse(argv)
    val tr = new Tracer(a.trace)
    val errors = ArrayBuffer.empty[String]

    // ---- set-up, timed from JVM start to the end of the first warm op
    val spark = tr.span("session.start")(session(a.cpus, a.work))
    val sessionRss = peakRssMb()
    tr.attach(spark)
    val workload = Workloads(a.workload, a.seed, a.work.resolve("data"), tr)
    tr.span("session.datagen")(workload.prepare(spark))

    def runOp(id: Long): OpRecord = {
      val startMs = System.currentTimeMillis()
      val t = System.nanoTime()
      val res = try Right(tr.asOp(spark, id)(workload.op(spark, id))) catch { case e: Throwable => Left(e) }
      val endNs = System.nanoTime()
      val endMs = System.currentTimeMillis()
      val err = res.fold(e => Some(s"op $id: ${message(e)}"),
        r => try r.check() catch { case e: Throwable => Some(s"op $id check: ${message(e)}") })
      OpRecord(id, startMs, endMs, (endNs - t) / 1e6, endNs, res.fold(_ => 0L, _.rows), err)
    }

    val warm = ArrayBuffer(tr.span("session.warm")(runOp(0)))
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    // ---- warm-up, untimed: the timed ops should run JIT-compiled code
    val warmEndNs = System.nanoTime() + (WarmupSeconds * 1e9).toLong
    while (System.nanoTime() < warmEndNs) warm += runOp(warm.size)

    // ---- timed closed loop
    tr.resetTotals(spark)
    val records = ArrayBuffer.empty[OpRecord]
    val loopStartNs = System.nanoTime()
    val deadlineNs = loopStartNs + (a.seconds * 1e9).toLong
    while (System.nanoTime() < deadlineNs) records += runOp(warm.size + records.size)
    val peakRss = peakRssMb()
    val ops = records.toSeq
    val windowS = (ops.map(_.endNs).max - loopStartNs) / 1e9
    tr.drain(spark)
    val layerSnapshot = if (a.trace) Layers.fromListeners(tr, ops, windowS, a.cpus) else Nil

    // ---- output checks (untimed)
    errors ++= warm.flatMap(_.error).map(e => s"warm-up $e") ++ ops.flatMap(_.error)
    val verifyErrors =
      try workload.verify(spark) catch { case e: Throwable => Seq(s"verify: ${message(e)}") }
    errors ++= verifyErrors
    val failedOps = ops.count(_.error.isDefined)
    val failed = math.min(ops.size.toLong, failedOps + (if (verifyErrors.nonEmpty) 1 else 0) +
      (if (warm.exists(_.error.isDefined)) 1 else 0))

    // ---- metrics
    val ok = ops.filter(_.error.isEmpty)
    val lat = (if (ok.nonEmpty) ok else ops).map(_.latencyMs)
    val e2e = endToEnd(Map(
      "setup_s" -> setupS,
      "latency_p50_ms" -> Stats.median(lat),
      "rows_per_s" -> ok.map(_.rows).sum / windowS,
      "peak_rss_mb" -> peakRss,
      "stored_bytes_per_input_byte" -> workload.outputBytes.toDouble / workload.inputBytes))
    val layers =
      if (!a.trace) Nil
      else {
        try workload.traceLayers(spark) catch { case e: Throwable => errors += s"trace layers: ${message(e)}" }
        Layers.report(layerSnapshot ++ Layers.fromSpans(tr, ops, workload))
      }
    a.traceOut.foreach(tr.writeJson)

    val report = Seq(
      "workload" -> Stats.str(a.workload), "seed" -> a.seed.toString,
      "trace" -> a.trace.toString, "seconds" -> Stats.num(a.seconds),
      "cpus" -> a.cpus.toString, "setup_s" -> Stats.num(setupS),
      "peak_rss_after_session_start_mb" -> Stats.num(sessionRss),
      "warm_ops" -> warm.size.toString, "ops" -> ops.size.toString,
      "op_latencies_ms" -> ops.map(o => Stats.num(math.rint(o.latencyMs * 10) / 10)).mkString("[", ",", "]"),
      "failed_frac" -> Stats.num(failed.toDouble / math.max(1, ops.size)),
      "sizes" -> Stats.obj(workload.sizes.map { case (k, v) => k -> Stats.num(v) })) ++
      (if (lat.size >= 100) Seq("latency_p90_ms" -> Stats.num(Stats.percentile(lat, 90))) else Nil) ++
      (if (a.trace) Seq("traced_end_to_end" -> Stats.obj(e2e.map { case (n, v, u) =>
        n -> Stats.obj(Seq("value" -> Stats.num(v), "unit" -> Stats.str(u))) }))
       else Nil) ++
      Seq("errors" -> errors.take(10).map(Stats.str).mkString("[", ",", "]"))
    println(Stats.obj(report))
    val correct = errors.isEmpty
    println(Stats.resultLine(correct, math.max(1, ops.size), failed, if (a.trace) layers else e2e))
    System.out.flush()
    spark.stop()
    if (!correct) sys.exit(1)
  }
}
