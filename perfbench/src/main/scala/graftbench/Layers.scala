package graftbench

/** Per-layer metrics of a traced window. Every workload reports every
  * metric; a layer the workload does not reach reads 0.
  */
object Layers {

  val endToEndUnits: Map[String, String] =
    Map("setup_s" -> "s", "round_s" -> "s")

  val LookupKinds = Seq("filter", "pull", "region")
  val AnalyticsClasses: Seq[String] = AnalyticsWorkload.Classes.map(_._1)

  val units: Map[String, String] = (
    Seq("ingest.ingest_s" -> "s", "ingest.driver_s" -> "s") ++
      Metrics.IngestPhases.map(p => s"ingest.${p}_s" -> "s") ++
      Seq("ingest.jobs" -> "count", "ingest.tasks" -> "count",
        "ingest.shuffle_bytes" -> "bytes", "ingest.spill_bytes" -> "bytes",
        "ingest.gc_s" -> "s", "ingest.scan_bytes_per_input_byte" -> "ratio",
        "ingest.output_bytes" -> "bytes", "ingest.stored_bytes_per_input_byte" -> "ratio") ++
      LookupKinds.flatMap(t => Seq(
        s"$t.p50_s" -> "s", s"$t.p90_s" -> "s",
        s"$t.construct_s" -> "s", s"$t.plan_s" -> "s", s"$t.exec_s" -> "s",
        s"$t.jobs_per_op" -> "count", s"$t.tasks_per_op" -> "count",
        s"$t.rows_scanned_per_row_returned" -> "ratio", s"$t.bytes_scanned_per_op" -> "bytes")) ++
      AnalyticsClasses.flatMap(c => Seq(
        s"$c.pass_s" -> "s", s"$c.construct_s" -> "s", s"$c.driver_s" -> "s",
        s"$c.eager_jobs" -> "count", s"$c.eager_job_s" -> "s", s"$c.plan_s" -> "s",
        s"$c.exec_s" -> "s", s"$c.jobs" -> "count", s"$c.tasks" -> "count",
        s"$c.shuffle_bytes" -> "bytes", s"$c.retained_bytes" -> "bytes")) ++
      Seq("trace.overhead.round_s" -> "s", "trace.overhead.setup_s" -> "s")
  ).toMap

  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Metrics.median(xs)
  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  private def busyMs(jobs: Seq[JobRec], from: Long, to: Long): Long =
    Metrics.coveredLength(jobs.map(j => (j.start, math.max(j.start, j.end))), from, to)

  def all(ops: Seq[Op], rec: Recorder, inputBytes: Long): Map[String, Double] =
    ingest(ops.filter(_.kind == "ingest"), rec, inputBytes) ++
      LookupKinds.flatMap(t => lookup(t, ops.filter(_.kind == t), rec)) ++
      AnalyticsClasses.flatMap(c => analytics(c, ops.filter(_.kind == c), rec))

  private def ingest(builds: Seq[Op], rec: Recorder, inputBytes: Long): Map[String, Double] = {
    val per = builds.map { b =>
      val jobs = rec.jobsIn(b.from, b.to)
      val actions = rec.actionsIn(b.from, b.to)
      val phases = Metrics.IngestPhases.map { p =>
        p -> actions.filter(a => Metrics.ingestPhase(a.path) == p).map(a => a.end - a.start).sum / 1e3
      }.toMap
      (b, jobs, phases)
    }
    def m(f: ((Op, Seq[JobRec], Map[String, Double])) => Double) = med(per.map(f))
    val outBytes = m(_._1.bytes.toDouble)
    val ratio = (x: Double) => if (inputBytes > 0) x / inputBytes else 0.0
    Map(
      "ingest.ingest_s" -> m(_._1.latencyS),
      "ingest.driver_s" -> m { case (b, js, _) => (b.to - b.from - busyMs(js, b.from, b.to)) / 1e3 },
      "ingest.jobs" -> m(_._2.size.toDouble),
      "ingest.tasks" -> m(_._2.map(_.tasks).sum.toDouble),
      "ingest.shuffle_bytes" -> m(_._2.map(_.shuffleWriteBytes).sum.toDouble),
      "ingest.spill_bytes" -> m(_._2.map(_.spillBytes).sum.toDouble),
      "ingest.gc_s" -> m(_._2.map(_.gcMs).sum / 1e3),
      "ingest.scan_bytes_per_input_byte" -> ratio(m(_._2.map(_.inBytes).sum.toDouble)),
      "ingest.output_bytes" -> outBytes,
      "ingest.stored_bytes_per_input_byte" -> ratio(outBytes)) ++
      Metrics.IngestPhases.map(p => s"ingest.${p}_s" -> m(_._3(p)))
  }

  private def lookup(t: String, ops: Seq[Op], rec: Recorder): Map[String, Double] = {
    val jobs = ops.map(o => rec.jobsIn(o.from, o.to))
    val lat = ops.map(_.latencyS)
    val scanned = jobs.map(_.map(_.inRecords).sum).sum.toDouble
    Map(
      s"$t.p50_s" -> med(lat),
      // the traced window's fixed round count supports p90; a workload
      // without these ops reads 0
      s"$t.p90_s" -> (if (lat.isEmpty) 0.0 else Metrics.percentile(lat, 90).getOrElse(
        sys.error(s"${lat.size} $t ops cannot support p90"))),
      s"$t.construct_s" -> med(ops.map(_.constructS)),
      s"$t.plan_s" -> med(ops.map(_.planS)),
      s"$t.exec_s" -> med(ops.map(_.execS)),
      s"$t.jobs_per_op" -> mean(jobs.map(_.size.toDouble)),
      s"$t.tasks_per_op" -> mean(jobs.map(_.map(_.tasks).sum.toDouble)),
      s"$t.rows_scanned_per_row_returned" ->
        (if (ops.isEmpty) 0.0 else scanned / math.max(1L, ops.map(o => math.max(o.rows, 0L)).sum)),
      s"$t.bytes_scanned_per_op" -> mean(jobs.map(_.map(_.inBytes).sum.toDouble)))
  }

  private def analytics(c: String, ops: Seq[Op], rec: Recorder): Map[String, Double] = {
    // one value per round (a pass over every query), then the median
    val passes = ops.groupBy(_.round).values.toSeq.map { qs =>
      val eager = qs.map(q => rec.jobsIn(q.from, q.constructTo))
      val eagerS = qs.zip(eager).map { case (q, js) => busyMs(js, q.from, q.constructTo) / 1e3 }.sum
      val jobs = qs.flatMap(q => rec.jobsIn(q.from, q.to))
      val construct = qs.map(_.constructS).sum
      Map(
        s"$c.pass_s" -> qs.map(_.latencyS).sum,
        s"$c.construct_s" -> construct,
        s"$c.driver_s" -> math.max(0.0, construct - eagerS),
        s"$c.eager_jobs" -> eager.map(_.size).sum.toDouble,
        s"$c.eager_job_s" -> eagerS,
        s"$c.plan_s" -> qs.map(_.planS).sum,
        s"$c.exec_s" -> qs.map(_.execS).sum,
        s"$c.jobs" -> jobs.size.toDouble,
        s"$c.tasks" -> jobs.map(_.tasks).sum.toDouble,
        s"$c.shuffle_bytes" -> jobs.map(_.shuffleWriteBytes).sum.toDouble,
        s"$c.retained_bytes" -> qs.map(_.bytes).max.toDouble)
    }
    units.keys.filter(_.startsWith(s"$c.")).map(k => k -> med(passes.map(_(k)))).toMap
  }

  /** Spans, jobs and actions of a traced window, as one JSON document. */
  def traceJson(ops: Seq[Op], rec: Recorder): String = Json.value(Map(
    "spans" -> ops.flatMap(o => Seq(
      ("construct", o.from, o.constructTo, o.constructS),
      ("plan", o.constructTo, o.planTo, o.planS),
      ("execute", o.planTo, o.to, o.execS)).map { case (ph, s, e, secs) =>
      Map("op" -> o.id, "kind" -> o.kind, "phase" -> ph, "start_ms" -> s, "end_ms" -> e,
        "seconds" -> secs)
    }),
    "jobs" -> rec.allJobs.map(j => Map(
      "id" -> j.id, "start_ms" -> j.start, "end_ms" -> j.end, "site" -> j.site,
      "module" -> j.module, "stages" -> j.stages, "tasks" -> j.tasks, "run_ms" -> j.runMs,
      "cpu_ns" -> j.cpuNs, "gc_ms" -> j.gcMs, "input_bytes" -> j.inBytes,
      "input_records" -> j.inRecords, "output_bytes" -> j.outBytes,
      "output_records" -> j.outRecords, "shuffle_read_bytes" -> j.shuffleReadBytes,
      "shuffle_write_bytes" -> j.shuffleWriteBytes, "spill_bytes" -> j.spillBytes)),
    "actions" -> rec.allActions.map(a => Map(
      "name" -> a.name, "start_ms" -> a.start, "end_ms" -> a.end, "path" -> a.path))))
}
