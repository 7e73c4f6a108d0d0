package graftbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.GraftSession
import graft.plans.GraftExtensions

/** One measured operation. `from`, `constructTo`, `planTo` and `to` mark
  * its construct, plan and execute phases in epoch ms, the clock Spark's
  * events use; the phase times are seconds from `System.nanoTime`.
  */
final case class Op(
    id: Long, kind: String, round: Int,
    from: Long, constructTo: Long, planTo: Long, to: Long,
    constructS: Double, planS: Double, execS: Double,
    ok: Boolean, rows: Long, bytes: Long) {
  def latencyS: Double = constructS + planS + execS
}

object Op {
  def now: Long = System.currentTimeMillis()

  /** Builds, plans and executes one query, timing each phase. `execute`
    * returns the rows produced; an exception fails the op (`rows` -1).
    */
  def query(id: Long, kind: String, round: Int, name: String)(build: => DataFrame)(
      execute: DataFrame => Long): Op = {
    val from = now
    var marks = (from, from)
    val t0 = System.nanoTime()
    var (c, p) = (0.0, 0.0)
    val rows =
      try {
        val df = build
        c = (System.nanoTime() - t0) / 1e9
        val constructTo = now
        df.queryExecution.executedPlan
        p = (System.nanoTime() - t0) / 1e9 - c
        marks = (constructTo, now)
        execute(df)
      } catch { case e: Exception => System.err.println(s"[perfbench] $name failed: $e"); -1L }
    val total = (System.nanoTime() - t0) / 1e9
    Op(id, kind, round, from, marks._1, marks._2, now, c, p, total - c - p, rows >= 0, rows, 0L)
  }
}

/** A workload: repeatable set-up, then a closed loop of operations. */
trait Workload {
  /** One complete set-up; `k` counts from 0. Returns the timed operations
    * it made (the database builds), which a traced set-up reports on.
    */
  def setup(k: Int): Seq[Op]
  /** The next operation; failures are reported in the result, not thrown. */
  def next(id: Long, round: Int): Op
  /** Whether the operation just run completed a round: the workload's
    * fixed set of operations, each run once. The loop stops only here.
    */
  def atBoundary: Boolean
  /** Rounds in the traced window. A fixed count, not a time, so that the
    * per-layer figures cover the same work however fast the program is.
    */
  def tracedRounds: Int
  /** Output checks made during set-up: (attempted, failed). */
  def setupChecks: (Int, Int)
  /** Bytes of the workload's generated input, the base of per-byte ratios. */
  def inputBytes: Long = 0L
}

object Main {

  /** Untraced set-ups per run; `setup_s` adds their median to the session start. */
  val Setups = 3

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      data: Path, work: Path, expected: Path, record: Path)

  private def parse(argv: Array[String]): Args = {
    val m = argv.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.stripPrefix("--") -> v
    }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"--$k is required"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Paths.get(need("data")), Paths.get(need("work")),
      Paths.get(need("expected")), Paths.get(need("record")))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(a.work)
    val t0 = System.nanoTime()
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = GraftSession.builder(master = s"local[$cores]").getOrCreate()
    GraftExtensions.ensureRegistered(spark)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val code =
      try { run(spark, a, sessionS, cores); 0 }
      catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] aborted: $e")
          e.printStackTrace()
          1
      }
      finally spark.stop()
    sys.exit(code)
  }

  private def run(spark: SparkSession, a: Args, sessionS: Double, cores: Int): Unit = {
    val w: Workload = a.workload match {
      case "lookup" =>
        new LookupWorkload(spark, a.work, new VcfFixture(a.seed), new java.util.Random(a.seed))
      case "analytics" => new AnalyticsWorkload(spark, a.data, a.expected)
      case other => sys.error(s"unknown workload $other")
    }
    val sc = spark.sparkContext
    val rec = new Recorder
    def tracedIf[A](on: Boolean)(body: => A): A =
      if (!on) body
      else {
        sc.addSparkListener(rec)
        try body finally { org.apache.spark.BenchBus.drain(sc); sc.removeSparkListener(rec) }
      }

    // `setup_s` is taken from untraced set-ups: the first (cold) one and two
    // more. A traced run adds two traced set-ups (they hold the database
    // builds), in the order traced, untraced, untraced, traced after the
    // cold one, so a steady warm-up trend cancels in the overhead.
    val tracedOrder = if (a.trace) Seq(false, true, false, false, true) else Seq.fill(Setups)(false)
    val setups = tracedOrder.zipWithIndex.map { case (on, k) =>
      val s = System.nanoTime()
      val ops = tracedIf(on)(w.setup(k))
      (on, (System.nanoTime() - s) / 1e9, ops)
    }
    val (tracedSetups, plainSetups) = setups.partition(_._1)
    val setupS = sessionS + Metrics.median(plainSetups.map(_._2))
    System.err.println(f"[perfbench] session $sessionS%.3f s, set-ups " +
      setups.map { case (on, t, _) => f"$t%.3f${if (on) "T" else ""}" }.mkString(" ") + " s")

    var nextId = 0L
    var round = 0
    /** Closed loop of whole rounds, until `done(elapsed s, rounds run)`,
      * asked only at the end of a round.
      */
    def loop(done: (Double, Int) => Boolean): Seq[Op] = {
      val ops = mutable.ArrayBuffer.empty[Op]
      val s = System.nanoTime()
      var rounds = 0
      while (!w.atBoundary || !done((System.nanoTime() - s) / 1e9, rounds)) {
        ops += w.next(nextId, round)
        nextId += 1
        if (w.atBoundary) { round += 1; rounds += 1 }
      }
      ops.toSeq
    }
    def forSeconds(secs: Double) = loop((elapsed, _) => elapsed >= secs)
    def roundS(ops: Seq[Op]): Double =
      Metrics.median(ops.groupBy(_.round).values.map(_.map(_.latencyS).sum).toSeq)

    // the JIT is still settling after set-up: these rounds are checked, not timed
    val warm = forSeconds(a.seconds / 4.0)
    // a traced run measures half the window untraced, split around the
    // traced rounds so that warm-up drift cancels in the overhead
    val (plain, traced) =
      if (!a.trace) (forSeconds(a.seconds), Nil)
      else {
        val before = forSeconds(a.seconds / 4.0)
        val t = tracedIf(on = true)(loop((_, rounds) => rounds >= w.tracedRounds))
        (before ++ forSeconds(a.seconds / 4.0), t)
      }
    val ops = warm ++ plain ++ traced
    val e2e = Map("setup_s" -> setupS, "round_s" -> roundS(plain))
    val tracedBuilds = tracedSetups.flatMap(_._3)
    val layers =
      if (!a.trace) Map.empty[String, Double]
      else {
        def mean(xs: Seq[Double]) = xs.sum / xs.size
        Layers.all(traced ++ tracedBuilds, rec, w.inputBytes) ++ Map(
          "trace.overhead.round_s" -> (roundS(traced) - roundS(plain)),
          // the warm untraced set-ups against the traced ones around them
          "trace.overhead.setup_s" ->
            (mean(tracedSetups.map(_._2)) - mean(plainSetups.drop(1).map(_._2))))
      }

    val (setupAttempted, setupFailed) = w.setupChecks
    val attempted = setupAttempted + ops.size
    val failed = setupFailed + ops.count(!_.ok)
    val shown = if (a.trace) layers else e2e
    val units = if (a.trace) Layers.units else Layers.endToEndUnits
    val missing = units.keySet -- shown.keySet
    require(missing.isEmpty, s"metrics not computed: ${missing.mkString(", ")}")

    Files.createDirectories(a.record.getParent)
    locally {
      val p = a.record
      val meta = Map(
        "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
        "trace" -> a.trace, "cores" -> cores,
        "driver_heap_bytes" -> Runtime.getRuntime.maxMemory,
        "spark_version" -> spark.version, "jdk" -> System.getProperty("java.version"),
        "commit" -> sys.env.getOrElse("PERFBENCH_COMMIT", "unknown"),
        "sources_sha256" -> sys.env.getOrElse("PERFBENCH_SOURCES", "unknown"),
        "set_ups_s" -> setups.map(_._2), "set_ups_traced" -> setups.map(_._1),
        "session_s" -> sessionS)
      val body = Map(
        "meta" -> meta, "attempted" -> attempted, "failed" -> failed,
        "end_to_end" -> e2e, "per_layer" -> layers,
        "ops" -> ops.map(o => Map("id" -> o.id, "kind" -> o.kind, "round" -> o.round,
          "latency_s" -> o.latencyS, "construct_s" -> o.constructS, "plan_s" -> o.planS,
          "exec_s" -> o.execS, "ok" -> o.ok, "rows" -> o.rows)))
      Files.writeString(p, Json.value(body) + "\n")
      if (a.trace)
        Files.writeString(Paths.get(p.toString.stripSuffix(".json") + ".trace.json"),
          Layers.traceJson(traced ++ tracedBuilds, rec) + "\n")
    }

    val metrics = shown.toSeq.sortBy(_._1).map { case (k, v) =>
      k -> Map("value" -> v, "unit" -> units(k))
    }
    println(Json.value(mutable.LinkedHashMap(
      "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "metrics" -> mutable.LinkedHashMap(metrics: _*))))
  }
}
