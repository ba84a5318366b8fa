package graftbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** The `file:` FileSystem of traced runs: the local FS reports bytes but no
  * operation counts, so this wrapper counts the metadata and open/create
  * calls the engine makes, and the distinct Parquet files of rows (base
  * files and deltas, not index sidecars) opened.
  */
class CountingLocalFs extends LocalFileSystem {
  override def listStatus(p: Path) = { FsCounts.list.incrementAndGet(); super.listStatus(p) }
  override def getFileStatus(p: Path) = { FsCounts.status.incrementAndGet(); super.getFileStatus(p) }
  override def rename(a: Path, b: Path) = { FsCounts.rename.incrementAndGet(); super.rename(a, b) }
  override def mkdirs(p: Path) = { FsCounts.mkdirs.incrementAndGet(); super.mkdirs(p) }
  override def mkdirs(p: Path, perm: FsPermission) = { FsCounts.mkdirs.incrementAndGet(); super.mkdirs(p, perm) }
  override def delete(p: Path, rec: Boolean) = { FsCounts.delete.incrementAndGet(); super.delete(p, rec) }
  override def create(p: Path, perm: FsPermission, overwrite: Boolean, buf: Int,
      rep: Short, block: Long, prog: Progressable): FSDataOutputStream = {
    FsCounts.create.incrementAndGet()
    super.create(p, perm, overwrite, buf, rep, block, prog)
  }
  override def open(p: Path, buf: Int): FSDataInputStream = {
    FsCounts.open.incrementAndGet()
    val s = p.toString
    if (s.endsWith(".parquet") && !s.contains("/.graft/stats/") && !s.contains("/.graft/bloom/"))
      FsCounts.dataFiles.add(p.toUri.getPath)
    super.open(p, buf)
  }
}

object FsCounts {
  val list, status, rename, mkdirs, delete, create, open = new AtomicLong()
  val dataFiles = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  val names = Seq("list", "status", "rename", "mkdirs", "delete", "create", "open")
  def snapshot(): Array[Long] =
    Array(list, status, rename, mkdirs, delete, create, open).map(_.get())
}

/** Per-job record kept by [[JobListener]]. */
final class JobRec(val id: Int, val op: String, val execId: Long, val start: Long) {
  var end: Long = start
  var stages, tasks = 0
  var taskMs, cpuMs, gcMs, shuffleBytes, inputBytes, inputRecords, outputBytes = 0L
}

/** Benchmark-owned listener: jobs with their op id (a local property the
  * benchmark sets around each operation), task metrics summed per job, and
  * each SQL execution's call stack, from which [[Tracer]] names the engine
  * module that ran the job.
  */
final class JobListener extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.Map.empty[Int, JobRec]
  val execDetails = mutable.Map.empty[Long, String]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val op = props.flatMap(p => Option(p.getProperty(Tracer.OpProp))).getOrElse("")
    val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    val r = new JobRec(e.jobId, op, exec, e.time)
    jobs(e.jobId) = r
    e.stageIds.foreach(s => stageJob(s) = r)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stageJob.get(e.stageId).foreach { r =>
      r.tasks += 1
      if (m != null) {
        r.taskMs += m.executorRunTime
        r.cpuMs += m.executorCpuTime / 1000000L
        r.gcMs += m.jvmGCTime
        r.shuffleBytes += m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead
        r.inputBytes += m.inputMetrics.bytesRead
        r.inputRecords += m.inputMetrics.recordsRead
        r.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized { execDetails(s.executionId) = s.details }
    case _ => ()
  }
}

/** A span: one timed interval. `parent` is -1 at the top; every span of one
  * operation shares `op`.
  */
final case class Span(id: Int, name: String, layer: String, start: Long, end: Long,
    parent: Int, op: String)

/** Traced-run instrumentation, all from outside the engine: op spans
  * around the calls the benchmark makes, layer-call spans around the extra
  * calls it makes into one module, job attribution by SQL-execution stack,
  * and the counting FileSystem. Spans stay in memory and are written out
  * once, at the end of the run.
  */
final class Tracer(spark: SparkSession) {
  val listener = new JobListener
  spark.sparkContext.addSparkListener(listener)

  val spans = mutable.ArrayBuffer.empty[Span]
  /** Per-op counts taken at op boundaries: op id -> (kind, fs deltas, data files). */
  val opFs = mutable.LinkedHashMap.empty[String, (String, Array[Long], Int)]
  private var opSeq = 0
  private var curOp: String = ""
  private var curKind: String = ""
  private var opStart = 0L
  private var opFs0: Array[Long] = Array.empty
  /** Wall time the tracer's own extra calls took (its overhead). */
  var ownNanos = 0L

  def currentOp: String = curOp

  def opBegin(kind: String): Unit = {
    opSeq += 1
    curOp = s"op$opSeq"
    curKind = kind
    opModule(curOp) = Tracer.KindModule.getOrElse(kind, "keyedtable")
    spark.sparkContext.setLocalProperty(Tracer.OpProp, curOp)
    FsCounts.dataFiles.clear()
    opFs0 = FsCounts.snapshot()
    opStart = System.currentTimeMillis()
  }

  def opEnd(): Unit = {
    val end = System.currentTimeMillis()
    spark.sparkContext.setLocalProperty(Tracer.OpProp, null)
    val d = FsCounts.snapshot().zip(opFs0).map { case (a, b) => a - b }
    opFs(curOp) = (curKind, d, FsCounts.dataFiles.size)
    spans += Span(spans.size, curKind, "bench", opStart, end, -1, curOp)
  }

  /** A benchmark-made call into one engine `layer`, attributed to the op it
    * follows. Its jobs carry the same op id; its wall counts as tracing
    * overhead, since an untraced run never makes it.
    */
  def layerCall[A](name: String, layer: String, op: String)(body: => A): (A, Double) = {
    spark.sparkContext.setLocalProperty(Tracer.OpProp, s"$op.$name")
    val t0 = System.nanoTime()
    val s0 = System.currentTimeMillis()
    try {
      val a = body
      val dt = System.nanoTime() - t0
      spans += Span(spans.size, name, layer, s0, System.currentTimeMillis(),
        spans.lastIndexWhere(_.op == op), op)
      (a, dt / 1e6)
    } finally {
      ownNanos += System.nanoTime() - t0
      spark.sparkContext.setLocalProperty(Tracer.OpProp, null)
    }
  }

  /** Drain the listener bus so every job of the run is recorded. */
  def flush(): Unit = org.apache.spark.graftbench.BusFlush(spark.sparkContext)

  /** The engine module a job ran in: the innermost `graft.` frame of its SQL
    * execution's stack that is not the benchmark's own. A SQL job with no
    * such frame ran a lazy DataFrame the engine returned, so it belongs to
    * the module the operation called; jobs outside any SQL execution (plain
    * RDD jobs) land in `other`.
    */
  def moduleOf(j: JobRec): String =
    frames(j).headOption.map(Tracer.moduleKey).getOrElse {
      if (listener.execDetails.contains(j.execId)) opModule.getOrElse(j.op.takeWhile(_ != '.'), "other")
      else "other"
    }

  /** op id -> the module of the public call the operation made. */
  private val opModule = mutable.Map.empty[String, String]

  def frames(j: JobRec): Seq[String] =
    listener.execDetails.get(j.execId).toSeq
      .flatMap(_.split("\n"))
      .map(_.trim)
      .filter(l => l.startsWith("graft.") && !l.startsWith("graftbench."))

  def under(j: JobRec, marker: String): Boolean = frames(j).exists(_.contains(marker))

  def jobsOf(op: String): Seq[JobRec] = listener.jobs.values.filter(_.op == op).toSeq

  /** Length of the union of the jobs' run intervals, ms. */
  def unionMs(js: Seq[JobRec]): Long = {
    var total = 0L
    var curS = -1L
    var curE = -1L
    js.map(j => (j.start, math.max(j.start, j.end))).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE >= 0) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE >= 0) total += curE - curS
    total
  }

  def writeSpans(path: String): Unit = {
    val out = new java.io.PrintWriter(path)
    try {
      spans.foreach { s =>
        out.println(s"""{"id":${s.id},"name":"${s.name}","layer":"${s.layer}","start":${s.start},"end":${s.end},"parent":${s.parent},"op":"${s.op}"}""")
      }
      listener.jobs.values.foreach { j =>
        out.println(s"""{"job":${j.id},"op":"${j.op}","module":"${moduleOf(j)}","start":${j.start},"end":${j.end},"tasks":${j.tasks},"task_ms":${j.taskMs}}""")
      }
    } finally out.close()
  }
}

object Tracer {
  val OpProp = "graftbench.op"

  /** The module of each operation kind's public call; others are KeyedTable's. */
  val KindModule = Map(
    "lookup" -> "bloomindex", "dedup_probe" -> "dedupindex", "text_probe" -> "textindex")

  /** Engine modules the per-layer figures name; any other `graft.` frame
    * falls into `table_other` / `operators_other` / `other` by package.
    */
  val Modules: Seq[String] = Seq(
    "io", "validate", "commitlog", "keyedtable", "deltas", "statsindex",
    "bloomindex", "changestream", "syncregistry", "indexsync", "dedupindex",
    "textindex", "retrieval", "table_other", "operators_other", "other")

  def moduleKey(frame: String): String = {
    val cls = frame.takeWhile(_ != '(').split('.').dropRight(1).mkString(".")
    val obj = cls.takeWhile(_ != '$')
    obj match {
      case o if o.startsWith("graft.io.") => "io"
      case "graft.ops.Validate" => "validate"
      case "graft.table.CommitLog" => "commitlog"
      case "graft.table.KeyedTable" => "keyedtable"
      case "graft.table.Deltas" => "deltas"
      case "graft.table.StatsIndex" => "statsindex"
      case "graft.table.BloomIndex" => "bloomindex"
      case "graft.streaming.ChangeStream" => "changestream"
      case "graft.operators.SyncRegistry" => "syncregistry"
      case "graft.operators.IndexSync" => "indexsync"
      case "graft.operators.DedupIndex" => "dedupindex"
      case "graft.operators.TextIndex" => "textindex"
      case "graft.operators.Retrieval" => "retrieval"
      case o if o.startsWith("graft.table.") => "table_other"
      case o if o.startsWith("graft.operators.") => "operators_other"
      case _ => "other"
    }
  }
}
