package perfbench

import java.io.{File, PrintWriter}

import org.apache.spark.sql.SparkSession
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

import graft.{GraftSession, Tables}

/** Benchmark harness entry point (launched by `run.py`).
  *
  * {{{
  * perfbench.Main --workload <sweep|capture_to_answer> --seed <n>
  *   --seconds <s> --trace <0|1> --data <tableDir> --answers <answers.json>
  *   --work <scratchDir> --out <result.json> [--size full|tiny]
  *   [--fault checksum|drop-row]
  * perfbench.Main --record sweep --data <tableDir> --answers-out <file>
  *   [--verify-dump <graft.Verify output dir>] [--mc-iterations <n>]
  * }}}
  *
  * A run sets the session up once cold, in the fresh JVM, then
  * [[WarmSetups]] more times (their median is `setup_s`); it
  * brackets the workload with CPU and scan canaries and writes its
  * result — metrics, operation counts, failures, host facts — to `--out`.
  * A traced run also writes its span tree next to it.
  */
object Main {

  val Cores: Int = Runtime.getRuntime.availableProcessors

  /** Set-ups timed for `setup_s`, after the cold one that loads the classes. */
  val WarmSetups = 5

  implicit val formats: Formats = DefaultFormats

  def session(work: String): SparkSession = {
    val s = GraftSession.builder(s"local[$Cores]", Cores)
      .config("spark.ui.enabled", "false")
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "10")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** One set-up: session start, then table footers and one trivial job. */
  def setup(work: String, dataDir: Option[String]): (SparkSession, Double, Double, Double) = {
    val (s, startS) = Run.time(session(work))
    val (_, tablesS) = Run.time(dataDir.foreach { d =>
      Tables.all.foreach(t => if (t == "events") Tables.events(s, d) else Tables.load(s, d, t))
    })
    val (_, jobS) = Run.time(s.range(1000000).selectExpr("sum(id)").collect())
    (s, startS, tablesS, tablesS + jobS)
  }

  def canaries(s: SparkSession, dataDir: Option[String]): Map[String, Double] = {
    val cpu = Run.time(s.range(20000000L).selectExpr("sum(id * 3 + 1)").collect())._2
    val scan = dataDir.map(d => Run.time(s.read.parquet(s"$d/lineitem.parquet")
      .selectExpr("sum(l_extendedprice)", "count(*)").collect())._2)
    Map("cpu_s" -> cpu) ++ scan.map("scan_s" -> _)
  }

  def main(args: Array[String]): Unit = {
    val opt = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val code =
      try { if (opt.contains("record")) record(opt) else bench(opt); 0 }
      catch { case t: Throwable => t.printStackTrace(); 1 }
    System.exit(code)
  }

  private def record(opt: Map[String, String]): Unit = {
    val work = opt("work")
    val mcIters = opt.get("mc-iterations").map(_.toInt).getOrElse(QueryWorkloads.McConfig.iterations)
    val s = session(work)
    val ops = QueryWorkloads.record(s, opt("data"), opt.get("verify-dump"), mcIters)
    write(opt("answers-out"), Map("ops" -> ops, "mc_iterations" -> mcIters))
    s.stop()
  }

  private def bench(opt: Map[String, String]): Unit = {
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = opt("work")
    val tiny = opt.get("size").contains("tiny")
    val isCapture = workload == "capture_to_answer"
    val spec = if (isCapture) None else Some(Answers.load(opt("answers"), workload))
    val dataDir = if (isCapture) None else Some(opt("data"))
    val runId = f"$workload-s$seed-t${if (trace) 1 else 0}-${System.currentTimeMillis()}%x"
    val ledger = new Ledger(runId)

    val runSpan = ledger.nextId()
    val runStart = System.currentTimeMillis()
    // a cold set-up, then the timed warm ones; the last session stays
    val setups = (0 to WarmSetups).map { i =>
      val x = setup(work, dataDir)
      if (i < WarmSetups) x._1.stop()
      x
    }
    val warm = setups.tail
    val spark = warm.last._1
    val hostBefore = canaries(spark, dataDir)

    val r = new Run(spark, ledger, Cores, trace, opt.get("fault"))
    val wlSpan = ledger.nextId()
    val wlStart = System.currentTimeMillis()
    if (isCapture)
      Capture.run(r, work, if (tiny) Capture.Tiny else Capture.Full, seed, seconds, wlSpan)
    else
      QueryWorkloads.run(r, dataDir.get, spec.get.ops, seed, seconds, spec.get.mcIters, wlSpan)
    val wlEnd = System.currentTimeMillis()
    val hostAfter = canaries(spark, dataDir)

    val setupS = setups.map(x => x._2 + x._4)
    val metrics = Metrics.endToEnd(r, Run.median(setupS.tail)) ++
      (if (trace) Metrics.perLayer(r, warm.map(_._2), warm.map(_._4),
        warm.map(_._3)) else Map.empty)

    val host = Map(
      "nproc" -> Cores.toString,
      "heap_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
      "spark" -> spark.version,
      "scala" -> scala.util.Properties.versionNumberString,
      "java" -> System.getProperty("java.version")) ++
      hostBefore.map { case (k, v) => s"canary_${k}_before" -> v.toString } ++
      hostAfter.map { case (k, v) => s"canary_${k}_after" -> v.toString }
    spark.stop()

    if (trace) {
      ledger.record(Span(wlSpan, runSpan, "workload", workload, wlStart.toDouble, wlEnd.toDouble))
      ledger.record(Span(runSpan, 0L, "run", runId, runStart.toDouble,
        System.currentTimeMillis().toDouble))
      writeSpans(opt("out").stripSuffix(".json") + ".spans.jsonl", runId, ledger.spansOut)
    }
    val runS = Map("setups" -> (wlStart - runStart) / 1000.0,
      "setup_cold" -> setupS.head, "setup_warm" -> setupS.tail,
      "workload" -> (wlEnd - wlStart) / 1000.0,
      "total" -> (System.currentTimeMillis() - runStart) / 1000.0)
    write(opt("out"), Map(
      "workload" -> workload, "seed" -> seed, "trace" -> (if (trace) 1 else 0),
      "run_id" -> runId, "attempted" -> r.attempted, "failed" -> r.failed,
      "failures" -> r.failures.take(20).map { case (w, n) => s"$w (x$n)" }.toSeq,
      "metrics" -> metrics, "host" -> host,
      "detail" -> (Metrics.detail(r) + ("run_s" -> runS))))
  }

  private def writeSpans(path: String, runId: String, spans: Seq[Span]): Unit = {
    val pw = new PrintWriter(new File(path), "UTF-8")
    try spans.foreach { s =>
      pw.println(Serialization.write(Map("run" -> runId, "id" -> s.id, "parent" -> s.parent,
        "kind" -> s.kind, "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs) ++
        s.attrs))
    } finally pw.close()
  }

  private def write(path: String, v: AnyRef): Unit = {
    val pw = new PrintWriter(new File(path), "UTF-8")
    try pw.println(Serialization.write(v)) finally pw.close()
  }
}
