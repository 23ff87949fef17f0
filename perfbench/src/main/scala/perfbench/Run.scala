package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One timed call of the workload into a program layer. */
final case class Call(name: String, module: String, pass: Int, wallS: Double,
    group: String, traced: Boolean)

/** State shared by a workload run: the session, the ledger, the operation
  * counters and the call log the metrics are computed from.
  */
final class Run(val spark: SparkSession, val ledger: Ledger, val cores: Int,
    val trace: Boolean, val fault: Option[String]) {
  var attempted = 0L
  val failures = mutable.ArrayBuffer.empty[(String, Long)]
  val calls = mutable.ArrayBuffer.empty[Call]
  val passWalls = mutable.ArrayBuffer.empty[(Int, Double, Boolean)]
  val detail = mutable.LinkedHashMap.empty[String, Any]
  /** Heap left after the full collections that end each pass, per pass. */
  val retainedMb = mutable.ArrayBuffer.empty[Double]
  private var tracedNow = false
  private var phaseSpan = 0L
  /** Job group of the call running now (streaming queries alias to it). */
  var currentGroup = ""

  def failed: Long = failures.map(_._2).sum

  /** Records `n` failed operations (a wrong answer, a throw, n lost rows). */
  def fail(what: String, n: Long = 1L): Unit = failures += ((what, n))

  /** Runs one pass of the workload. In a traced run the timed passes come
    * in blocks of four — untraced, traced, traced, untraced — so the same
    * run measures the tracing overhead and a trend across passes (JIT
    * warm-up, host drift) cancels out of it; only traced passes attach the
    * listener.
    */
  def pass(index: Int, label: String, parent: Long)(body: => Unit): Double = {
    tracedNow = trace && (index % 4 == 1 || index % 4 == 2)
    if (tracedNow) ledger.attach(spark.sparkContext)
    val id = ledger.nextId()
    phaseSpan = id
    val t0 = System.currentTimeMillis(); val n0 = System.nanoTime()
    body
    val wall = (System.nanoTime() - n0) / 1e9
    if (tracedNow) ledger.detach(spark.sparkContext)
    // untimed: full collections (the second after Spark's context cleaner
    // has dropped what the first freed) leave the heap the session
    // retains, and every pass starts from a collected heap
    System.gc()
    Thread.sleep(100)
    System.gc()
    retainedMb += java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0
    if (trace) ledger.record(Span(id, parent, "phase", label, t0.toDouble,
      t0 + wall * 1000.0, attrs = Map("traced" -> (if (tracedNow) 1.0 else 0.0))))
    if (index >= 0) passWalls += ((index, wall, tracedNow))
    tracedNow = false
    wall
  }

  def traced: Boolean = tracedNow

  /** Times `body` as one call into `module`; when the pass is traced the
    * Spark job group names the call, so its jobs are charged to it.
    */
  def call[T](name: String, module: String, passIndex: Int)(body: => T): (T, Double) = {
    val id = ledger.nextId()
    val group = s"pb-$id"
    currentGroup = group
    val sc = spark.sparkContext
    if (tracedNow) sc.setJobGroup(group, name, interruptOnCancel = false)
    val t0 = System.currentTimeMillis(); val n0 = System.nanoTime()
    try {
      val out = body
      val wall = (System.nanoTime() - n0) / 1e9
      calls += Call(name, module, passIndex, wall, group, tracedNow)
      if (tracedNow) ledger.record(Span(id, phaseSpan, "call", name, t0.toDouble,
        t0 + wall * 1000.0, group, Map("module" -> Run.moduleCode(module))))
      (out, wall)
    } finally if (tracedNow) sc.clearJobGroup()
  }

  /** Full materialization, nothing written: every row and column evaluated. */
  def materialize(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def tracedPasses: Int = passWalls.count(_._3)

  /** Whether to run timed pass `done` (0-based): an untraced run makes at
    * least `min` passes, a traced run at least one block of four; both go
    * on while `deadline` (System.nanoTime) is ahead, and a traced run ends
    * on a whole block.
    */
  def morePasses(done: Int, min: Int, deadline: Long): Boolean =
    if (trace) done == 0 || done % 4 != 0 || System.nanoTime() < deadline
    else done < min || System.nanoTime() < deadline
}

object Run {
  val Modules: Seq[String] = Seq("ops", "text", "similarity", "multimodal", "sim",
    "streaming", "store", "session")

  def moduleCode(m: String): Double = Modules.indexOf(m).toDouble

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def time[T](body: => T): (T, Double) = {
    val n0 = System.nanoTime()
    val out = body
    (out, (System.nanoTime() - n0) / 1e9)
  }

  def errText(t: Throwable): String =
    s"${t.getClass.getSimpleName}: ${Option(t.getMessage).getOrElse("").take(160)}"
}
