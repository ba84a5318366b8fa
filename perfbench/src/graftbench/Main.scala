package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one JVM, one workload, one client.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir> --spans <dir> [--rev <id>]
  * }}}
  *
  * Prints a report line and then the result line, one JSON object each, on
  * standard output; a traced run also writes its spans and jobs under
  * `--spans`. Exits 1 when any operation failed or disagreed with the
  * model.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = Workload.byName(a.getOrElse("workload", "")).getOrElse {
      System.err.println(s"unknown workload '${a.getOrElse("workload", "")}'")
      sys.exit(2)
    }
    val seed = a("seed").toLong
    val seconds = a("seconds").toInt
    val traced = a.getOrElse("trace", "0") == "1"
    val work = a("work")

    val os = ManagementFactory.getOperatingSystemMXBean
    val k0 = System.nanoTime()
    val ticks0 = cpuTicks()
    val stamp = mutable.LinkedHashMap[String, Any](
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "loadavg_before" -> os.getSystemLoadAverage,
      "rev" -> a.getOrElse("rev", "unknown"),
      "ref_kernel_s_before" -> refKernel())
    val stampS = (System.nanoTime() - k0) / 1e9

    val spark = session(work, traced)
    val ready = System.currentTimeMillis()
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val tracer = if (traced) Some(new Tracer(spark)) else None
    if (traced) require(
      org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
        .isInstanceOf[CountingLocalFs], "the counting file: FileSystem is not in use")
    val h = new Harness(spark, seed, seconds, tracer, work)

    val stagings = (1 to workload.stagings).map { i =>
      val dir = s"$work/stage-$i"
      val t0 = System.nanoTime()
      workload.stage(h, dir)
      val dt = (System.nanoTime() - t0) / 1e9
      if (i < workload.stagings) Workload.deleteTree(spark, dir)
      dt
    }
    // the context stamp is a diagnostic, not set-up: its time is left out
    val setupS = (ready - jvmStart) / 1e3 - stampS + Quantiles.median(stagings)

    h.startClock()
    workload.run(h)
    h.stopClock()
    workload.finish(h)

    stamp("ref_kernel_s_after") = refKernel()
    stamp("loadavg_after") = os.getSystemLoadAverage
    for ((s0, t0) <- ticks0; (s1, t1) <- cpuTicks() if t1 > t0)
      stamp("steal_frac") = (s1 - s0).toDouble / (t1 - t0)

    val kinds = h.samples.toSeq
    val writes = kinds.filter(k => workload.writeKinds(k._1)).flatMap(_._2)
    val reads = kinds.filter(k => workload.readKinds(k._1))
    // means, not medians: a run's operations of one kind differ by position
    // (cold first calls, the writes that carry a compaction), and a mean
    // counts every one of them where a median picks one or two
    val writeMean = if (writes.isEmpty) Double.NaN else writes.sum / writes.size
    val readMean = math.exp(reads.map { case (_, xs) => math.log(xs.sum / xs.size) }.sum / reads.size)
    val nOps = kinds.map(_._2.size).sum
    val timings = Seq(
      ("write_s.mean", writeMean, "s", writes.size.toLong),
      ("read_s.mean", readMean, "s", reads.map(_._2.size).sum.toLong))
    val e2e = (("setup_s", setupS, "s", stagings.size.toLong) +: timings) ++ Seq(
      ("ops_per_s", nOps / kinds.map(_._2.sum).sum, "1/s", nOps.toLong),
      ("space_amp", h.spaceAmp, "ratio", 1L),
      ("heap_mb", h.heapMb, "MB", 1L))

    val report = Json.obj(
      "workload" -> workload.name, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "timed_s" -> h.timedSeconds,
      "context" -> stamp.toSeq,
      "setup_stagings_s" -> stagings,
      "setup_steps_s" -> h.stageSteps.toSeq,
      "ops" -> kinds.map { case (k, xs) =>
        val s = xs.toSeq
        k -> Json.obj(Seq[(String, Any)]("n" -> s.size, "p50_s" -> Quantiles.median(s), "samples_s" -> s) ++
          (if (s.size >= 100) Seq("p90_s" -> Quantiles.q(s, 0.9)) else Seq.empty): _*)
      },
      "figures" -> h.report.toSeq.map { case (k, (v, u, n)) => k -> Json.obj("value" -> v, "unit" -> u, "n" -> n) },
      "failures" -> h.failureList)

    val metrics: Seq[(String, Double, String, Long)] = tracer match {
      case None => e2e
      case Some(t) => PerLayer.compute(h, t, workload.writeKinds, timings, s"${a("spans")}/${workload.name}-$seed.jsonl")
    }
    val ok = h.failed == 0
    println(Json.obj("perfbench_report" -> report, "metrics" -> metrics.map { case (n, v, u, c) =>
      n -> Json.obj("value" -> v, "unit" -> u, "n" -> c) }))
    println(Json.obj(
      "correct" -> ok, "attempted" -> h.attempted, "failed" -> h.failed,
      "metrics" -> metrics.map { case (n, v, u, _) => n -> Json.obj("value" -> v, "unit" -> u) }))
    System.out.flush()
    spark.stop()
    sys.exit(if (ok) 0 else 1)
  }

  private def session(work: String, traced: Boolean): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors().toString
    val b = graft.Sessions.builder(s"local[$cpus]", cpus)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    if (traced) b.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFs].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** (steal, total) CPU ticks of the whole machine from `/proc/stat`, where
    * there is one. Steal is time the hypervisor ran other guests on this
    * guest's CPUs: a run with a high share was slowed by its neighbours.
    */
  private def cpuTicks(): Option[(Long, Long)] = scala.util.Try {
    val src = scala.io.Source.fromFile("/proc/stat")
    val f = try src.getLines().next().trim.split("\\s+").drop(1).take(8).map(_.toLong) finally src.close()
    (f(7), f.sum)
  }.toOption

  /** A fixed single-thread kernel (MD5 over 16 MiB, 8 passes): tells a slow
    * host apart from a slow tree. A diagnostic, not a metric.
    */
  private def refKernel(): Double = {
    val buf = Array.tabulate[Byte](1 << 24)(i => (i * 31).toByte)
    val md = java.security.MessageDigest.getInstance("MD5")
    val t0 = System.nanoTime()
    var i = 0
    while (i < 8) { md.update(buf); i += 1 }
    md.digest()
    (System.nanoTime() - t0) / 1e9
  }
}

/** Minimal JSON rendering for the benchmark's output lines. */
object Json {
  final case class Raw(s: String) { override def toString: String = s }

  def obj(kv: (String, Any)*): Raw =
    Raw(kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}"))

  def value(v: Any): String = v match {
    case null => "null"
    case r: Raw => r.s
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case kvs: Seq[_] if kvs.forall(_.isInstanceOf[(_, _)]) && kvs.nonEmpty &&
        kvs.forall(_.asInstanceOf[(Any, Any)]._1.isInstanceOf[String]) =>
      obj(kvs.map(_.asInstanceOf[(String, Any)]): _*).s
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case o => str(o.toString)
  }

  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
}
