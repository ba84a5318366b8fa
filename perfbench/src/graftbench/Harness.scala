package graftbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.table.MaintenanceLog

/** One benchmark run: the closed loop's clock, the per-kind latency
  * samples, the attempted/failed tally and the report. Operations run one
  * at a time on the calling thread (one client); an operation counts as
  * failed when it throws, when its output disagrees with the generator's
  * model, or when a best-effort hook it triggered journaled "skipped".
  */
final class Harness(
    val spark: SparkSession,
    val seed: Long,
    val seconds: Int,
    val tracer: Option[Tracer],
    val work: String) {

  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  var attempted = 0L
  var failed = 0L
  private val failures = mutable.ArrayBuffer.empty[String]
  /** Workload-specific report figures: name -> (value, unit, samples). */
  val report = mutable.LinkedHashMap.empty[String, (Double, String, Long)]

  private var deadline = Long.MaxValue
  private var timedStart = 0L
  private var timedEnd = 0L

  def startClock(): Unit = {
    timedStart = System.nanoTime()
    deadline = timedStart + seconds.toLong * 1000000000L
  }
  /** Loop condition of a workload: at least `min` rounds, so every operation
    * kind has samples however slow the host is, then until the deadline.
    */
  def more(done: Long, min: Int): Boolean = done < min || System.nanoTime() < deadline
  def stopClock(): Unit = timedEnd = System.nanoTime()
  def timedSeconds: Double = (timedEnd - timedStart) / 1e9

  def fail(what: String): Unit = {
    failed += 1
    if (failures.size < 20) failures += what
    System.err.println(s"[perfbench] FAILED: $what")
  }

  /** Run one timed operation of `kind`; `check` compares its result with
    * the model outside the timed interval and returns the mismatch, if any.
    */
  def op[A](kind: String)(body: => A)(check: A => Option[String]): Option[A] = {
    attempted += 1
    tracer.foreach(_.opBegin(kind))
    val t0 = System.nanoTime()
    val res =
      try Right(body)
      catch { case e: Throwable => Left(e) }
    val dt = (System.nanoTime() - t0) / 1e9
    tracer.foreach(_.opEnd())
    res match {
      case Left(e) =>
        fail(s"$kind threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
      case Right(a) =>
        samples.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += dt
        check(a) match {
          case Some(msg) => fail(s"$kind: $msg"); None
          case None => Some(a)
        }
    }
  }

  /** Latest journaled outcome per (table, service) already accounted for. */
  private val seenHooks = mutable.Map.empty[(String, String), String]

  /** "skipped" maintenance entries that appeared since the last call, over
    * `tables`: each is a best-effort hook that swallowed its failure.
    */
  def newSkips(tables: Seq[String]): Seq[String] =
    tables.flatMap { t =>
      MaintenanceLog.read(spark, t).flatMap { e =>
        val k = (t, e.service)
        val fresh = !seenHooks.get(k).contains(e.at)
        seenHooks(k) = e.at
        if (fresh && e.outcome == "skipped") Some(s"${e.service} skipped on $t: ${e.detail}")
        else None
      }
    }

  /** Wall time of each set-up step of the last staging, for the report. */
  val stageSteps = mutable.LinkedHashMap.empty[String, Double]
  def step[A](name: String)(body: => A): A = {
    val t0 = System.nanoTime()
    try body finally stageSteps(name) = (System.nanoTime() - t0) / 1e9
  }

  def note(name: String, value: Double, unit: String, n: Long = 1L): Unit =
    report(name) = (value, unit, n)

  /** A check outside the timed loop; counts as one attempted operation. */
  def verify(what: String)(check: => Option[String]): Unit = {
    attempted += 1
    try check.foreach(m => fail(s"$what: $m"))
    catch { case e: Throwable => fail(s"$what threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
  }

  /** Per-layer figures of traced runs: name -> one value per observation. */
  val layers = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  def layer(name: String, v: Double): Unit =
    layers.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  /** Work the timed phase needs but does not measure; its time is added to
    * the deadline.
    */
  def pause[A](body: => A): A = {
    val t0 = System.nanoTime()
    try body finally deadline += System.nanoTime() - t0
  }

  var spaceAmp = 0.0
  var heapMb = 0.0

  /** Space and heap at the workload's fixed point, after its minimum rounds,
    * so neither depends on how many more rounds a fast host fits in. Space:
    * bytes under `tables` over the bytes of `live` written once as plain
    * Parquet. Heap: in use after a full GC. The time this takes is added to
    * the deadline.
    */
  def fixedPoint(tables: Seq[String], live: => org.apache.spark.sql.DataFrame): Unit = pause {
    val plain = s"$work/plain-copy"
    live.write.mode("overwrite").parquet(plain)
    val plainBytes = Workload.bytesUnder(spark, plain)
    spaceAmp = tables.map(Workload.bytesUnder(spark, _)).sum.toDouble / math.max(1L, plainBytes)
    Workload.deleteTree(spark, plain)
    heapMb = liveHeapMb()
  }

  /** Heap in use after a full GC. Spark's context cleaner frees cached
    * blocks and broadcasts only after a GC finds their handles unreachable,
    * so collect, let it run, and collect again before reading.
    */
  private def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(1000)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def failureList: Seq[String] = failures.toSeq
}

object Quantiles {
  /** Nearest-rank quantile of a non-empty sample. */
  def q(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
  }
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }
}
