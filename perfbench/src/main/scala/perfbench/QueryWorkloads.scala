package perfbench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.sim.MonteCarlo

/** The `sweep` workload: closed loop, one client, one operation at a time.
  *
  * A run first executes every operation once cold, in a seeded order: that
  * execution computes the operation's answer checksum, which is compared
  * with the committed one, and its time is `cold_s` (planning, code
  * generation and JIT are paid here). Timed passes follow, each operation
  * fully materialized into a noop sink, in a fresh seeded order per pass:
  * at least [[MinPasses]], and more while the measuring time lasts.
  */
object QueryWorkloads {

  /** A 1-in-12 systematic sample of the registry, taken within each query
    * module in name order, so every module is in it: 9 of the 92 queries
    * (ops 4, text 2, similarity 2, multimodal 1).
    */
  def sampleNames: Seq[String] =
    SparkEntry.queries.keys.toSeq.sorted.groupBy(moduleOf).toSeq.sortBy(_._1)
      .flatMap { case (_, ns) => ns.zipWithIndex.collect { case (n, i) if i % 12 == 0 => n } }

  /** The Monte Carlo risk report at the reference's interactive size
    * (10,000 iterations × 500 games).
    */
  val Mc = "mc_risk_report"
  val McConfig: MonteCarlo.SimConfig = MonteCarlo.SimConfig(iterations = 10000,
    gamesPerIteration = 500)

  /** Timed passes in an untraced run. */
  val MinPasses = 2

  def names: Seq[String] = sampleNames :+ Mc

  /** The registry module a query comes from (its defining package). */
  def moduleOf(name: String): String =
    if (name == Mc) "sim"
    else SparkEntry.queries(name).getClass.getName.split('.')(1)

  def build(spark: SparkSession, dataDir: String, name: String,
      mcIters: Int): DataFrame =
    if (name == Mc)
      MonteCarlo.riskReport(MonteCarlo.simulate(spark, McConfig.copy(iterations = mcIters)))
    else SparkEntry.queries(name)(spark, dataDir)

  def run(r: Run, dataDir: String, expected: Seq[Expected], seed: Long,
      seconds: Double, mcIters: Int, parent: Long): Unit = {
    val rng = new Random(seed)
    val exp = r.fault match {
      case Some("checksum") =>
        expected.updated(0, expected.head.copy(checksum = "0"))
      case _ => expected
    }
    def execute(op: Expected, pass: Int): Unit = {
      r.attempted += 1
      try r.call(op.name, op.module, pass)(r.materialize(build(r.spark, dataDir, op.name, mcIters)))
      catch { case t: Throwable => r.fail(s"${op.name}: ${Run.errText(t)}") }
    }

    val cold = r.pass(-1, "cold", parent) {
      rng.shuffle(exp).foreach { op =>
        r.attempted += 1
        try {
          val (got, _) = r.call(op.name, op.module, -1) {
            Answers.checksum(build(r.spark, dataDir, op.name, mcIters))
          }
          if (got != ((op.rows, op.checksum)))
            r.fail(s"${op.name}: answer (${got._1} rows, ${got._2}) != " +
              s"expected (${op.rows} rows, ${op.checksum})")
        } catch { case t: Throwable => r.fail(s"${op.name}: ${Run.errText(t)}") }
      }
    }
    r.detail("cold_s") = cold

    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    while (r.morePasses(i, MinPasses, deadline)) {
      val order = rng.shuffle(exp)
      r.pass(i, s"pass-$i", parent) { order.foreach(op => execute(op, i)) }
      i += 1
    }
    val mcWalls = r.calls.filter(c => c.name == Mc && c.pass >= 0).map(_.wallS)
    if (mcWalls.nonEmpty) r.detail("mc_iter_per_s") = mcIters / Run.median(mcWalls.toSeq)
    // the typical operation latency: a geometric mean over the operations
    // of each one's median untraced execution. A median over all executions
    // would jump between the times of two different queries.
    val perOp = r.calls.filter(c => c.pass >= 0 && !c.traced).groupBy(_.name).values
      .map(cs => Run.median(cs.map(_.wallS).toSeq)).toSeq
    r.detail("latency_s") =
      if (perOp.isEmpty) 0.0 else math.exp(perOp.map(math.log).sum / perOp.size)
  }

  /** Answer-recording mode: checksums of every operation computed from the
    * live execution and, when a `graft.Verify` dump directory is given, from
    * the dumped parquet (which `tools/check.py` compares with DuckDB); the
    * two must agree.
    */
  def record(spark: SparkSession, dataDir: String, verifyDump: Option[String],
      mcIters: Int): Seq[Expected] =
    names.map { name =>
      val (rows, sum) = Answers.checksum(build(spark, dataDir, name, mcIters))
      verifyDump.filter(_ => name != Mc).foreach { dir =>
        val dumped = Answers.checksum(spark.read.parquet(s"$dir/$name"))
        require(dumped == ((rows, sum)),
          s"$name: live answer ($rows, $sum) differs from the verified dump $dumped")
      }
      Expected(name, moduleOf(name), rows, sum)
    }
}
