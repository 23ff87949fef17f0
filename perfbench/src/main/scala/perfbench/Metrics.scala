package perfbench

import scala.jdk.CollectionConverters._

import Run.{median, quantile}

/** Turns a finished run into its metrics.
  *
  * End-to-end metrics come from the untraced passes. Per-layer metrics come
  * from the traced passes of a traced run and are per pass (averaged over
  * the traced passes), so runs with a different pass count compare.
  */
object Metrics {

  val QueryModules: Seq[String] = Seq("ops", "text", "similarity", "multimodal", "sim")

  def endToEnd(r: Run, setupS: Double): Map[String, Double] = {
    Map(
      "setup_s" -> setupS,
      "retained_heap_mb" -> median(r.retainedMb.toSeq),
      "pass_s" -> median(r.passWalls.filter(!_._3).map(_._2).toSeq),
      "cold_s" -> r.detail("cold_s").asInstanceOf[Double],
      "latency_s" -> r.detail("latency_s").asInstanceOf[Double])
  }

  def perLayer(r: Run, startS: Seq[Double], warmS: Seq[Double],
      tablesS: Seq[Double]): Map[String, Double] = {
    val passes = math.max(1, r.tracedPasses).toDouble
    val traced = r.calls.filter(_.traced).toSeq
    val mb = 1048576.0

    val modules = QueryModules.flatMap { m =>
      val cs = traced.filter(_.module == m)
      val t = r.ledger.tally(cs.map(_.group))
      val wall = cs.map(_.wallS).sum
      val idle = if (wall > 0) 1.0 - t.runMs / 1000.0 / (wall * r.cores) else 0.0
      Seq(
        "wall_s" -> wall, "plan_s" -> t.planMs / 1000.0,
        "jobs" -> t.jobs.toDouble, "stages" -> t.stages.toDouble, "tasks" -> t.tasks.toDouble,
        "task_run_s" -> t.runMs / 1000.0, "task_cpu_s" -> t.cpuNs / 1e9, "gc_s" -> t.gcMs / 1000.0,
        "shuffle_write_mb" -> t.shuffleWrite / mb, "shuffle_fetch_wait_s" -> t.fetchWaitMs / 1000.0,
        "spill_mb" -> t.spill / mb, "scan_mb" -> t.scan / mb
      ).map { case (k, v) => s"$m.$k" -> v / passes } :+ (s"$m.idle_share" -> idle)
    }.toMap

    val untracedPasses = r.passWalls.filter(!_._3).map(_._2).toSeq
    val tracedPasses = r.passWalls.filter(_._3).map(_._2).toSeq
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    // means over whole untraced/traced/traced/untraced blocks: a linear
    // trend across passes cancels
    val overhead = mean(tracedPasses) - mean(untracedPasses)
    val common = Map(
      "session.start_s" -> median(startS), "session.warm_s" -> median(warmS),
      "session.tables_s" -> median(tablesS),
      "sim.mc_iter_per_s" -> r.detail.get("mc_iter_per_s").map(_.asInstanceOf[Double]).getOrElse(0.0),
      "trace.overhead_s" -> overhead,
      "trace.overhead_share" -> (if (untracedPasses.nonEmpty) overhead / mean(untracedPasses) else 0.0))

    val capture = r.detail.get("capture").map(_.asInstanceOf[Capture.CaptureStats])
    modules ++ common ++ streamingAndStore(r, capture, traced, passes)
  }

  private def streamingAndStore(r: Run, stats: Option[Capture.CaptureStats],
      traced: Seq[Call], passes: Double): Map[String, Double] = {
    val tracedIdx = r.passWalls.filter(_._3).map(_._1).toSet
    val progress = stats.toSeq.flatMap(_.progress).filter(p => tracedIdx(p._1)).map(_._2)
    def dur(key: String): Double =
      progress.map(_.durationMs.asScala.get(key).map(_.longValue).getOrElse(0L)).sum / 1000.0
    val ops = progress.flatMap(_.stateOperators)
    val streamCalls = traced.filter(_.module == "streaming")
    val st = r.ledger.tally(streamCalls.map(_.group))
    val answerCalls = traced.filter(_.module == "store")
    val at = r.ledger.tally(answerCalls.map(_.group))
    def phaseS(name: String): Seq[Double] =
      stats.toSeq.flatMap(_.phases).filter(p => tracedIdx(p._1) && p._2 == name).map(_._3)
    def detailS(key: String): Seq[Double] =
      tracedIdx.toSeq.flatMap(i => r.detail.get(s"$key.$i")).map(_.asInstanceOf[Double])
    def storeV(key: String): Double = {
      val xs = stats.toSeq.flatMap(_.store).filter(s => tracedIdx(s._1) && s._2 == key).map(_._3)
      if (xs.isEmpty) 0.0 else xs.sum / xs.size
    }
    val lags = stats.toSeq.flatMap(_.lags).filter(l => tracedIdx(l._1)).map(_._2)
    def rate(n: Option[Int], s: Seq[Double]): Double =
      if (s.isEmpty || n.isEmpty) 0.0 else n.get / median(s)
    val plan = stats.map(_.plan)
    Map(
      "streaming.batches" -> progress.size / passes,
      "streaming.add_batch_s" -> dur("addBatch") / passes,
      "streaming.wal_commit_s" -> dur("walCommit") / passes,
      "streaming.commit_offsets_s" -> dur("commitOffsets") / passes,
      "streaming.query_planning_s" -> dur("queryPlanning") / passes,
      "streaming.latest_offset_s" -> dur("latestOffset") / passes,
      "streaming.state_commit_s" -> ops.map(_.commitTimeMs).sum / 1000.0 / passes,
      "streaming.state_rows" -> (if (ops.isEmpty) 0.0 else ops.map(_.numRowsTotal).max.toDouble),
      "streaming.state_mb" -> (if (ops.isEmpty) 0.0 else ops.map(_.memoryUsedBytes).max / 1048576.0),
      "streaming.state_stores" -> (if (ops.isEmpty) 0.0 else ops.map(_.numStateStoreInstances).max.toDouble),
      "streaming.late_rows_dropped" -> ops.map(_.numRowsDroppedByWatermark).sum / passes,
      "streaming.tasks" -> st.tasks / passes,
      "streaming.task_cpu_s" -> st.cpuNs / 1e9 / passes,
      "streaming.ingest_eps" -> rate(plan.map(_.backlog), detailS("drain_s")),
      "streaming.recovery_s" -> median(detailS("recovery_s")),
      "streaming.dedup_eps" -> rate(plan.map(_.dedupGames * 10), detailS("dedup_s")),
      "streaming.commit_lag_p50_s" -> quantile(lags, 0.5),
      "streaming.commit_lag_p95_s" -> quantile(lags, 0.95),
      "streaming.generator_late_s" -> stats.map(_.generatorLateS).getOrElse(0.0),
      "store.files_written" -> storeV("files_written"),
      "store.bytes_written_mb" -> storeV("bytes_written_mb"),
      "store.bytes_per_event" -> storeV("bytes_per_event"),
      "store.partition_dirs" -> storeV("partition_dirs"),
      "store.list_s" -> storeV("list_s"),
      "store.scan_mb" -> at.scan / 1048576.0 / passes,
      "store.answer_jobs" -> at.jobs / passes,
      "store.task_cpu_s" -> at.cpuNs / 1e9 / passes,
      "store.answer_s" -> median(phaseS("answer")))
  }

  /** Per-operation timings and per-phase walls, for the report tool. */
  def detail(r: Run): Map[String, Any] = {
    val byOp = r.calls.groupBy(_.name).map { case (name, cs) =>
      val timed = cs.filter(c => c.pass >= 0 && !c.traced).map(_.wallS).toSeq
      name -> Map(
        "module" -> cs.head.module,
        "cold_s" -> cs.find(_.pass == -1).map(_.wallS).getOrElse(0.0),
        "median_s" -> median(timed), "n" -> timed.size)
    }
    Map("ops" -> byOp, "passes" -> r.passWalls.map { case (i, w, t) =>
      Map("index" -> i, "wall_s" -> w, "traced" -> t)
    }.toSeq)
  }
}
