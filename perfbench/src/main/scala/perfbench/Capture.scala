package perfbench

import java.io.File
import java.sql.Timestamp
import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, MemoryStream}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.store.{EventQueriesApi, EventStore}
import graft.streaming.{Ingest, RawEvent}

/** The `capture_to_answer` workload: raw events through the capture
  * pipeline into the partitioned store, then answers read back from it.
  *
  * One cycle runs five phases:
  *   1. live: an open-loop feed at a fixed rate into `Ingest.start` with
  *      back-to-back triggers; each event's lag runs from the moment it was
  *      due to the commit of the micro-batch that landed it. Then, on the
  *      same query, closed-loop probes: one small block of events at a
  *      time, each timed from its hand-over to the commit that lands it;
  *   2. drain: an AvailableNow drain of a pre-filled backlog;
  *   3. restart: a feed stopped after about half its input is committed, then
  *      restarted from the checkpoint and drained;
  *   4. dedup: `Ingest.dedupGameHistory` over 10× game re-emissions;
  *   5. answer: `EventStore.read` of the restarted store plus
  *      `EventQueriesApi.docTypeStats`, `episodes` and `tickFeatures`.
  * Every cycle offers the same seeded inputs; every count is checked
  * against values the generator derives from the events it made.
  */
object Capture {

  /** `live` events, of which the last `probes` × `probeSize` are the
    * closed-loop probes and the rest the open-loop feed at `rate`.
    */
  final case class Plan(live: Int, rate: Double, probes: Int, probeSize: Int, backlog: Int,
      restart: Int, dedupGames: Int, sessions: Int, minTicks: Int)

  val Full: Plan = Plan(live = 1300, rate = 500.0, probes = 6, probeSize = 50, backlog = 1500,
    restart = 1500, dedupGames = 500, sessions = 64, minTicks = 100)
  val Tiny: Plan = Plan(live = 1000, rate = 2000.0, probes = 3, probeSize = 20, backlog = 2000,
    restart = 2000, dedupGames = 200, sessions = 8, minTicks = 20)

  /** A seeded event stream in arrival order and the answers it implies. */
  final case class Stream(events: Vector[RawEvent], perDocType: Map[String, Long],
      ticks: Long, episodeRows: Long)

  /** Games over `sessions` sessions with hot-session skew (Zipf weights);
    * each game is a presale, ticks every 250 ms with buys between, and a
    * rug. Games start one second apart, so they overlap and interleave;
    * arrival order adds up to 2 s of jitter to event time, far inside
    * `Normalizer.WatermarkDelay`. The stream starts 30 s before a
    * midnight, so the store spans two date partitions.
    */
  def generate(n: Int, seed: Long, sessions: Int, minTicks: Int): Stream = {
    val rng = new Random(seed)
    val base = Instant.parse("2024-03-01T23:59:30Z").toEpochMilli
    val weights = (1 to sessions).map(1.0 / _)
    val cum = weights.scanLeft(0.0)(_ + _).tail.map(_ / weights.sum)
    val timed = mutable.ArrayBuffer.empty[(Long, RawEvent)]
    var g = 0
    while (timed.size < n) {
      val sess = s"s${cum.indexWhere(_ >= rng.nextDouble()).max(0)}"
      val game = s"g$seed-$g"
      val start = base + g * 1000L
      val ticks = minTicks / 2 + rng.nextInt(minTicks * 3 / 2)
      def ev(at: Long, name: String, tick: Option[Int], price: Option[Double], json: String) =
        timed += ((at, RawEvent(sess, new Timestamp(at), name, Some(game), tick, price, json)))
      ev(start, "game.presale", None, None, s"""{"type":"newGame","gameId":"$game"}""")
      var price = 1.0
      for (t <- 1 to ticks) {
        price = math.max(0.01, price * (1.0 + (rng.nextGaussian() * 0.02)))
        val at = start + t * 250L
        ev(at, "game.tick", Some(t), Some(price), s"""{"tickCount":$t,"price":$price}""")
        if (rng.nextInt(20) == 0)
          ev(at + 100, "player.buy", None, Some(price), s"""{"action":"buy","tick":$t}""")
      }
      ev(start + (ticks + 1) * 250L, "game.rug", None, None, s"""{"type":"rug","gameId":"$game"}""")
      g += 1
    }
    val events = timed.take(n).map { case (at, e) => (at + rng.nextInt(2000), e) }
      .sortBy(_._1).map(_._2).toVector
    def docType(e: RawEvent) =
      if (e.event_name == "game.tick") "game_tick"
      else if (e.event_name.startsWith("player.")) "player_action"
      else "ws_event"
    val ticksPerGame = events.filter(_.event_name == "game.tick").groupBy(_.game_id.get)
      .view.mapValues(_.size).toMap
    val qualifying = ticksPerGame.filter(_._2 >= minTicks).keySet
    Stream(events, events.groupBy(docType).view.mapValues(_.size.toLong).toMap,
      ticksPerGame.values.sum.toLong, events.count(e => qualifying(e.game_id.get)).toLong)
  }

  /** Each of `games` games re-emitted 10× across a rolling window, in a
    * seeded arrival order.
    */
  def reEmissions(games: Int, seed: Long): Vector[(String, Timestamp)] = {
    val base = Instant.parse("2024-03-01T12:00:00Z").toEpochMilli
    val rows = for (g <- 0 until games; k <- 0 until 10)
      yield (s"game-$g", new Timestamp(base + (g + k) * 1000L))
    new Random(seed).shuffle(rows.toVector)
  }

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  private def allFiles(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(allFiles) else Seq(f)

  def run(r: Run, workDir: String, plan: Plan, seed: Long, seconds: Double,
      parent: Long): Unit = {
    val spark = r.spark
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val live = generate(plan.live, seed * 31 + 1, plan.sessions, plan.minTicks)
    val backlog = generate(plan.backlog, seed * 31 + 2, plan.sessions, plan.minTicks)
    val restart = generate(plan.restart, seed * 31 + 3, plan.sessions, plan.minTicks)
    val dedupIn = reEmissions(plan.dedupGames, seed * 31 + 4)
    val (openFeed, probeFeed) =
      live.events.splitAt(live.events.size - plan.probes * plan.probeSize)
    val liveFeed = r.fault match {
      case Some("drop-row") => openFeed.patch(openFeed.size / 2, Nil, 1)
      case _ => openFeed
    }

    val progress = mutable.ArrayBuffer.empty[(Int, StreamingQueryProgress)]
    val lags = mutable.ArrayBuffer.empty[(Int, Double)]
    val probeS = mutable.ArrayBuffer.empty[(Int, Double)]
    val phaseWalls = mutable.ArrayBuffer.empty[(Int, String, Double)]
    val store = mutable.ArrayBuffer.empty[(Int, String, Double)]
    var generatorLateS = 0.0

    def landed(path: String): Long = spark.read.parquet(path).count()
    def check(phase: String, got: Long, want: Long): Unit = {
      r.attempted += want
      if (got != want) r.fail(s"$phase: sink holds $got rows, offered $want", math.abs(got - want))
    }
    val deferred = mutable.ArrayBuffer.empty[() => Unit]
    def later(f: => Unit): Unit = deferred += (() => f)
    def keep(pass: Int, q: StreamingQuery): Unit =
      q.recentProgress.foreach(p => progress += ((pass, p)))

    def cycle(pass: Int, dir: String): Unit = {
      def phase(name: String, module: String = "streaming")(body: => Unit): Unit = {
        val (_, wall) = r.call(name, module, pass)(body)
        phaseWalls += ((pass, name, wall))
      }
      def started(q: StreamingQuery): StreamingQuery = {
        if (r.traced) r.ledger.alias(q.runId.toString, r.currentGroup)
        q
      }

      // 1. live open-loop feed
      phase("live") {
        val in = MemoryStream[RawEvent]
        val q = started(Ingest.start(in.toDS(), s"$dir/live", s"$dir/ckpt-live",
          Trigger.ProcessingTime(0L)))
        // the first batch plans the query and loads its state stores: a
        // long-running pipeline pays that once, so a short warm-up feed is
        // committed before the clock starts and its events carry no lag
        val warm = math.min(200, liveFeed.size)
        in.addData(liveFeed.take(warm): _*)
        q.processAllAvailable()
        val due = mutable.HashMap.empty[Long, (Int, Int)]
        val t0 = System.currentTimeMillis() - warm * 1000.0 / plan.rate
        var i = warm
        var late = 0.0
        while (i < liveFeed.size) {
          val now = System.currentTimeMillis()
          val j = math.min(liveFeed.size, ((now - t0) * plan.rate / 1000.0).toInt + 1)
          if (j > i) {
            val off = in.addData(liveFeed.slice(i, j): _*).asInstanceOf[LongOffset].offset
            due(off) = (i, j)
            late = math.max(late, (System.currentTimeMillis() - (t0 + i * 1000.0 / plan.rate)) / 1000.0)
            i = j
          }
          // one addData per 20 ms tick: every addData becomes a separate
          // relation the next batch unions, so a per-event feed would time
          // the union's planning instead of the pipeline
          Thread.sleep(20)
        }
        q.processAllAvailable()
        // closed loop: the pipeline is idle when each probe is handed over
        for (b <- probeFeed.grouped(plan.probeSize))
          probeS += ((pass, Run.time { in.addData(b: _*); q.processAllAvailable() }._2))
        q.stop()
        generatorLateS = math.max(generatorLateS, late)
        keep(pass, q)
        for (p <- q.recentProgress if p.numInputRows > 0) {
          val commit = Instant.parse(p.timestamp).toEpochMilli +
            p.durationMs.asScala.get("triggerExecution").map(_.longValue).getOrElse(0L)
          val src = p.sources.head
          def off(s: String) = Option(s).filter(_ != "null").map(_.trim.toLong).getOrElse(-1L)
          for (o <- off(src.startOffset) + 1 to off(src.endOffset); (a, b) <- due.get(o); k <- a until b)
            lags += ((pass, (commit - (t0 + k * 1000.0 / plan.rate)) / 1000.0))
        }
      }
      later(check("live", landed(s"$dir/live"), live.events.size))

      // 2. AvailableNow drain of a pre-filled backlog
      phase("drain") {
        val in = MemoryStream[RawEvent]
        backlog.events.grouped(5000).foreach(b => in.addData(b: _*))
        val (q, sec) = Run.time {
          val q = started(Ingest.start(in.toDS(), s"$dir/backlog", s"$dir/ckpt-backlog",
            Trigger.AvailableNow()))
          q.awaitTermination()
          q
        }
        keep(pass, q)
        r.detail(s"drain_s.$pass") = sec
      }
      later(check("drain", landed(s"$dir/backlog"), backlog.events.size))

      // 3. kill at about half the input, restart from the checkpoint
      phase("restart") {
        val in = MemoryStream[RawEvent]
        val block = math.max(1, restart.events.size / 4)
        val blocks = restart.events.grouped(block).toVector
        in.addData(blocks.head: _*)
        val q1 = started(Ingest.start(in.toDS(), s"$dir/restart", s"$dir/ckpt-restart",
          Trigger.ProcessingTime(0L)))
        def processed() = q1.recentProgress.map(_.numInputRows).sum
        var added = block.toLong
        val rest = blocks.tail.iterator
        while (q1.isActive && processed() < restart.events.size / 2) {
          if (rest.hasNext && processed() >= added - block) {
            in.addData(rest.next(): _*); added += block
          }
          Thread.sleep(2)
        }
        q1.stop()
        keep(pass, q1)
        rest.foreach(b => in.addData(b: _*))
        val (q2, sec) = Run.time {
          val q2 = started(Ingest.start(in.toDS(), s"$dir/restart", s"$dir/ckpt-restart",
            Trigger.AvailableNow()))
          q2.awaitTermination()
          q2
        }
        keep(pass, q2)
        r.detail(s"recovery_s.$pass") = sec
      }
      later(check("restart", landed(s"$dir/restart"), restart.events.size))

      // 4. watermarked dedup of 10× game re-emissions
      phase("dedup") {
        val in = MemoryStream[(String, Timestamp)]
        dedupIn.grouped(5000).foreach(b => in.addData(b: _*))
        val name = s"pb_dedup_${pass + 2}"
        val (q, sec) = Run.time {
          val q = started(Ingest.dedupGameHistory(in.toDF().toDF("game_id", "ts"))
            .writeStream.format("memory").queryName(name)
            .trigger(Trigger.AvailableNow()).start())
          q.awaitTermination()
          q
        }
        keep(pass, q)
        r.detail(s"dedup_s.$pass") = sec
      }
      later {
        val dedupName = s"pb_dedup_${pass + 2}"
        val unique = spark.table(dedupName).count()
        r.attempted += dedupIn.size
        if (unique != plan.dedupGames)
          r.fail(s"dedup: $unique unique games, expected ${plan.dedupGames}",
            math.abs(unique - plan.dedupGames))
        spark.catalog.dropTempView(dedupName)
      }

      // 5. read-back answers from the restarted store
      phase("answer", "store") {
        val (env, listS) = Run.time(EventStore.read(spark, s"$dir/restart"))
        val stats = EventQueriesApi.docTypeStats(env).collect()
          .map(row => row.getString(0) -> row.getLong(1)).toMap
        val (tickRows, _) = Answers.checksum(EventQueriesApi.tickFeatures(env))
        val (episodeRows, _) = Answers.checksum(EventQueriesApi.episodes(env, plan.minTicks))
        r.attempted += 3
        if (stats != restart.perDocType)
          r.fail(s"answer: docTypeStats $stats != ${restart.perDocType}")
        if (tickRows != restart.ticks) r.fail(s"answer: tickFeatures $tickRows rows != ${restart.ticks}")
        if (episodeRows != restart.episodeRows)
          r.fail(s"answer: episodes $episodeRows rows != ${restart.episodeRows}")
        store += ((pass, "list_s", listS))
      }
      later(storeStats(pass, dir))
    }

    def storeStats(pass: Int, dir: String): Unit = {
      val parquet = Seq("live", "backlog", "restart")
        .flatMap(s => allFiles(new File(s"$dir/$s")))
        .filter(f => f.getName.endsWith(".parquet") && !f.getPath.contains("_spark_metadata"))
      val bytes = parquet.map(_.length).sum.toDouble
      store += ((pass, "files_written", parquet.size.toDouble))
      store += ((pass, "bytes_written_mb", bytes / 1048576.0))
      store += ((pass, "bytes_per_event",
        bytes / (live.events.size + backlog.events.size + restart.events.size)))
      store += ((pass, "partition_dirs", parquet.filter(_.getPath.contains("/restart/"))
        .map(_.getParent).distinct.size.toDouble))
    }

    // store checks and stats run after the cycle's timing, before its
    // directories are deleted
    def runCycle(i: Int, label: String): Double = {
      val dir = s"$workDir/cycle-$label"
      try {
        val wall = r.pass(i, label, parent)(cycle(i, dir))
        deferred.foreach(_())
        wall
      } finally {
        deferred.clear()
        deleteTree(new File(dir))
      }
    }

    r.detail("cold_s") = runCycle(-1, "cold")
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    while (r.morePasses(i, 1, deadline)) {
      runCycle(i, s"pass-$i")
      i += 1
    }

    val untraced = r.passWalls.filter(!_._3).map(_._1).toSet
    r.detail("latency_s") = Run.median(probeS.filter(l => untraced(l._1)).map(_._2).toSeq)
    r.detail("capture") = CaptureStats(progress.toSeq, lags.toSeq, phaseWalls.toSeq,
      store.toSeq, generatorLateS, plan)
  }

  final case class CaptureStats(progress: Seq[(Int, StreamingQueryProgress)],
      lags: Seq[(Int, Double)], phases: Seq[(Int, String, Double)],
      store: Seq[(Int, String, Double)], generatorLateS: Double, plan: Plan)
}
