package graftbench

/** The per-layer figures of a traced run. Every figure is reported on every
  * workload; a layer the workload does not exercise reads 0. Figures are
  * means per operation of the kinds named, unless stated otherwise.
  */
object PerLayer {

  private val ReadKinds = Set("snapshot")
  private val ScanKinds = Set("lookup", "range")
  private val ProbeKinds = Set("dedup_probe", "text_probe")

  /** Names, units and order of the per-layer metrics. */
  val Names: Seq[(String, String)] = Seq(
    "io.sniff_ms" -> "ms", "io.discover_ms" -> "ms", "validate.ms" -> "ms", "validate.jobs" -> "count",
    "commitlog.state_ms" -> "ms", "commitlog.length" -> "count") ++
    FsCounts.names.map(n => s"fs.$n" -> "count") ++ Seq(
    "write.jobs" -> "count", "write.task_ms" -> "ms", "write.driver_ms" -> "ms",
    "write.bytes_written" -> "bytes", "write.files_written" -> "count",
    "compact.count" -> "count", "compact.ms" -> "ms", "compact.bytes_rewritten" -> "bytes",
    "merge.live_deltas" -> "count", "read.jobs" -> "count", "read.task_ms" -> "ms",
    "read.shuffle_bytes" -> "bytes",
    "bloom.candidate_files" -> "count", "stats.files_kept" -> "count", "table.base_files" -> "count",
    "scan.files_read" -> "count", "scan.records_read_per_row_returned" -> "ratio",
    "cdc.jobs" -> "count", "cdc.files_read" -> "count", "cdc.records_read_per_change" -> "ratio",
    "sync.jobs_per_publish" -> "count", "sync.index_commits_per_publish" -> "count",
    "sync.skipped" -> "count", "probe.jobs" -> "count", "probe.records_read" -> "count",
    "jobs" -> "count", "stages" -> "count", "tasks" -> "count", "task_ms" -> "ms",
    "task_cpu_ms" -> "ms", "gc_ms" -> "ms", "shuffle_bytes" -> "bytes", "input_bytes" -> "bytes",
    "output_bytes" -> "bytes", "self_ms.driver" -> "ms") ++
    Tracer.Modules.flatMap(m => Seq(s"module.$m.jobs" -> "count", s"module.$m.task_ms" -> "ms",
      s"self_ms.$m" -> "ms")) ++ Seq(
    "trace.write_s.mean" -> "s", "trace.read_s.mean" -> "s", "trace.overhead_frac" -> "ratio")

  def compute(h: Harness, t: Tracer, writeKinds: Set[String], timings: Seq[(String, Double, String, Long)],
      spansPath: String): Seq[(String, Double, String, Long)] = {
    t.flush()
    t.writeSpans(spansPath)
    val ops = t.opFs.toSeq // (op id, (kind, fs deltas, data files))
    val wall = t.spans.filter(_.layer == "bench").map(s => s.op -> (s.end - s.start)).toMap
    val jobs = t.listener.jobs.values.toSeq.groupBy(_.op)
    def jobsOf(op: String) = jobs.getOrElse(op, Seq.empty)
    val out = scala.collection.mutable.LinkedHashMap.empty[String, (Double, Long)]
    def put(n: String, v: Double, c: Long): Unit = out(n) = (v, c)
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    def perOp(kinds: String => Boolean)(f: String => Double): (Double, Long) = {
      val sel = ops.filter(o => kinds(o._2._1)).map(_._1)
      (mean(sel.map(f)), sel.size.toLong)
    }
    def putPerOp(n: String, kinds: String => Boolean)(f: String => Double): Unit = {
      val (v, c) = perOp(kinds)(f); put(n, v, c)
    }
    val any: String => Boolean = _ => true

    // values the workloads recorded from their own layer calls
    h.layers.foreach { case (n, xs) => put(n, mean(xs.toSeq), xs.size.toLong) }

    FsCounts.names.zipWithIndex.foreach { case (n, i) =>
      putPerOp(s"fs.$n", any)(op => t.opFs(op)._2(i).toDouble)
    }
    putPerOp("write.jobs", writeKinds)(op => jobsOf(op).size.toDouble)
    putPerOp("write.task_ms", writeKinds)(op => jobsOf(op).map(_.taskMs).sum.toDouble)
    putPerOp("write.driver_ms", writeKinds)(op => (wall(op) - t.unionMs(jobsOf(op))).toDouble)
    putPerOp("write.bytes_written", writeKinds)(op => jobsOf(op).map(_.outputBytes).sum.toDouble)
    putPerOp("write.files_written", writeKinds)(op => t.opFs(op)._2(5).toDouble)
    def compacting(j: JobRec) = t.under(j, "KeyedTable$.compact(")
    putPerOp("compact.ms", writeKinds)(op => t.unionMs(jobsOf(op).filter(compacting)).toDouble)
    putPerOp("compact.bytes_rewritten", writeKinds)(op =>
      jobsOf(op).filter(compacting).map(_.outputBytes).sum.toDouble)
    putPerOp("read.jobs", ReadKinds)(op => jobsOf(op).size.toDouble)
    putPerOp("read.task_ms", ReadKinds)(op => jobsOf(op).map(_.taskMs).sum.toDouble)
    putPerOp("read.shuffle_bytes", ReadKinds)(op => jobsOf(op).map(_.shuffleBytes).sum.toDouble)
    putPerOp("scan.files_read", ScanKinds)(op => t.opFs(op)._3.toDouble)
    ratio(put, "scan.records_read_per_row_returned", h, "scan.rows_returned",
      ops.filter(o => ScanKinds(o._2._1)).flatMap(o => jobsOf(o._1)).map(_.inputRecords).sum)
    putPerOp("cdc.jobs", _ == "changes")(op => jobsOf(op).size.toDouble)
    putPerOp("cdc.files_read", _ == "changes")(op => t.opFs(op)._3.toDouble)
    ratio(put, "cdc.records_read_per_change", h, "cdc.changes_returned",
      ops.filter(_._2._1 == "changes").flatMap(o => jobsOf(o._1)).map(_.inputRecords).sum)
    putPerOp("sync.jobs_per_publish", _ == "publish")(op =>
      jobsOf(op).count(t.under(_, "SyncRegistry$.afterPublish(")).toDouble)
    putPerOp("probe.jobs", ProbeKinds)(op => jobsOf(op).size.toDouble)
    putPerOp("probe.records_read", ProbeKinds)(op => jobsOf(op).map(_.inputRecords).sum.toDouble)

    putPerOp("jobs", any)(op => jobsOf(op).size.toDouble)
    putPerOp("stages", any)(op => jobsOf(op).map(_.stages).sum.toDouble)
    putPerOp("tasks", any)(op => jobsOf(op).map(_.tasks).sum.toDouble)
    putPerOp("task_ms", any)(op => jobsOf(op).map(_.taskMs).sum.toDouble)
    putPerOp("task_cpu_ms", any)(op => jobsOf(op).map(_.cpuMs).sum.toDouble)
    putPerOp("gc_ms", any)(op => jobsOf(op).map(_.gcMs).sum.toDouble)
    putPerOp("shuffle_bytes", any)(op => jobsOf(op).map(_.shuffleBytes).sum.toDouble)
    putPerOp("input_bytes", any)(op => jobsOf(op).map(_.inputBytes).sum.toDouble)
    putPerOp("output_bytes", any)(op => jobsOf(op).map(_.outputBytes).sum.toDouble)
    // self time: an op span's children are its jobs, grouped by the engine
    // module that ran them; what no job covers is driver-side time
    putPerOp("self_ms.driver", any)(op => (wall(op) - t.unionMs(jobsOf(op))).toDouble)
    Tracer.Modules.foreach { m =>
      def mine(op: String) = jobsOf(op).filter(j => t.moduleOf(j) == m)
      putPerOp(s"module.$m.jobs", any)(op => mine(op).size.toDouble)
      putPerOp(s"module.$m.task_ms", any)(op => mine(op).map(_.taskMs).sum.toDouble)
      putPerOp(s"self_ms.$m", any)(op => t.unionMs(mine(op)).toDouble)
    }
    // this run's own write_s.mean and read_s.mean, to set against untraced runs'
    timings.foreach { case (n, v, _, c) => put(s"trace.$n", v, c) }
    put("trace.overhead_frac", t.ownNanos / 1e9 / h.timedSeconds, 1L)

    Names.map { case (n, u) =>
      val (v, c) = out.getOrElse(n, (0.0, 0L))
      (n, v, u, c)
    }
  }

  private def ratio(put: (String, Double, Long) => Unit, name: String, h: Harness,
      denomKey: String, num: Long): Unit = {
    val d = h.layers.get(denomKey).map(_.sum).getOrElse(0.0)
    put(name, if (d > 0) num / d else 0.0, h.layers.get(denomKey).map(_.size.toLong).getOrElse(0L))
  }
}
