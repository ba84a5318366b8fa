package graftbench

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.Engine
import graft.io.{PartitionDiscovery, SourceSniffer}
import graft.model.{BootstrapConfig, BootstrapType, TableType}
import graft.ops.Validate
import graft.table.{BloomIndex, CommitLog, Deltas, KeyedTable, StatsIndex, TableProperties}

/** The reference utility's job and the reads that follow it. Timed, in
  * order: bootstrap a Hive-partitioned Parquet source into a MERGE_ON_READ
  * keyed table with `compact.auto`, land new month partitions and resume,
  * apply upsert and delete batches skewed toward the recent months as CDC
  * traffic is, then serve rounds of key lookups, key-range reads, snapshot
  * aggregates and change reads from the table the batches left (stats and
  * bloom indexes built, compactions in its history, live deltas on top).
  */
final class LakeIngest extends Workload {
  val name = "lake_ingest"
  val stagings = 3
  val writeKinds = Set("upsert")
  val readKinds = Set("lookup", "range", "snapshot", "changes")

  import LakeIngest._

  private val months = Months0 + MonthsNew
  private var src, landing, table = ""
  private var model: KeyModel = _
  /** Keys any batch changed: each key changes at most once after the
    * bootstraps, so a change read's expected count is a sum of batch sizes.
    */
  private val touched = mutable.LongMap.empty[Unit]
  private val deleted = mutable.ArrayBuffer.empty[Long]
  private val updated = mutable.ArrayBuffer.empty[Long]
  private var nextKey = 0L
  private var userBytes = 0L
  private var bootRows = 0L
  private var bytes0 = 0L
  /** Row count of each batch, in commit order. */
  private val batchRows = mutable.ArrayBuffer.empty[Long]
  /** Commit instants from the resume on, with the rows each one changed. */
  private var history = Seq.empty[(String, Long)]
  private var compactAt = 0
  private var expectAgg = Map.empty[String, (Long, Long, Long)]

  def stage(h: Harness, dir: String): Unit = {
    import h.spark.implicits._
    val seed = h.seed
    src = s"$dir/source"; landing = s"$dir/landing"; table = s"$dir/table"
    def rows(from: Long, until: Long) = h.spark.range(from, until, 1, 4).map(sourceRow(seed, _))
    h.step("source")(rows(0L, Months0.toLong * PerMonth).write.partitionBy("month").parquet(src))
    h.step("landing")(rows(Months0.toLong * PerMonth, months.toLong * PerMonth)
      .write.partitionBy("month").parquet(landing))
    model = new KeyModel(months)
    (0L until Months0.toLong * PerMonth).foreach(i => model.add(i, (i / PerMonth).toInt, 0L))
    touched.clear(); deleted.clear(); updated.clear(); batchRows.clear()
    nextKey = months.toLong * PerMonth
    userBytes = 0L
    bootRows = 0L
  }

  private def cfg(resume: Boolean) = BootstrapConfig(
    dataFilePath = src, tablePath = table, tableName = "lake",
    keyFields = Seq("rk"), precombineField = "ver", partitionFields = Seq("month"),
    tableType = TableType.MergeOnRead, bootstrapType = BootstrapType.FullRecord,
    resume = resume)

  private def item(seed: Long, rk: Long, ver: Long, p: Int) = Gen.item(seed, rk, ver, Gen.monthName(p), rk)

  def run(h: Harness): Unit = {
    val spark = h.spark
    bytes0 = Workload.fsBytesWritten()
    bootstrap(h, resume = false, 0 until Months0 * PerMonth)
    TableProperties.set(spark, table, Map(TableProperties.CompactAuto -> "true"))
    // new months land in the source, then the resume picks them up
    val fs = CommitLog.fs(spark, src)
    fs.listStatus(new Path(landing)).filter(_.isDirectory).foreach { st =>
      fs.rename(st.getPath, new Path(src, st.getPath.getName))
    }
    (Months0.toLong * PerMonth until months.toLong * PerMonth)
      .foreach(i => model.add(i, (i / PerMonth).toInt, 0L))
    bootstrap(h, resume = true, Months0 * PerMonth until months * PerMonth)
    val resumedAt = CommitLog.commits(spark, table).last.commitTime

    (0 until Batches).foreach(batch(h, _))
    val writeBytes = Workload.fsBytesWritten() - bytes0
    h.note("write_amp", writeBytes.toDouble / math.max(1L, userBytes), "ratio")

    // the read side's set-up: off the clock
    h.pause {
      history = historySince(h, resumedAt)
      StatsIndex.build(spark, table, Seq("rk"))
      BloomIndex.build(spark, table)
      val agg = mutable.Map.empty[String, (Long, Long, Long)]
      model.all.foreach { case (rk, p, v) =>
        val it = item(h.seed, rk, v, p)
        val (c, q, pr) = agg.getOrElse(it.month, (0L, 0L, 0L))
        agg(it.month) = (c + 1, q + it.qty, pr + it.price)
      }
      expectAgg = agg.toMap
    }
    h.fixedPoint(Seq(table), KeyedTable.read(spark, table).drop(Workload.metaCols(spark, table): _*))

    var round = 0L
    while (h.more(round, MinReadRounds)) {
      // each kind once per round, always in this order, so the cold first
      // calls fall on the same kinds in every run
      lookup(h, round); traceState(h)
      range(h, round); traceState(h)
      snapshot(h); traceState(h)
      changes(h, round); traceState(h)
      round += 1
    }
  }

  // ----------------------------------------------------------------- writes

  /** One bootstrap op; `fresh` are the keys it newly commits. */
  private def bootstrap(h: Harness, resume: Boolean, fresh: Range): Unit = {
    val expect = model.size.toLong
    h.op("bootstrap")(Engine.bootstrap(h.spark, cfg(resume))) { r =>
      if (!r.success) Some(s"bootstrap failed: ${r.errorLog.getOrElse("")}")
      else {
        val res = r.result.get
        if (res.inputCount != expect || res.tableCount != expect)
          Some(s"bootstrap counts input=${res.inputCount} table=${res.tableCount}, model $expect")
        else None
      }
    }
    bootRows += expect
    fresh.foreach(i => userBytes += Gen.userBytes(item(h.seed, i, 0L, i / PerMonth)))
    traceIo(h)
  }

  /** The source-side layer calls, timed on the same input and table. */
  private def traceIo(h: Harness): Unit = h.tracer.foreach { t =>
    val op = t.currentOp
    h.layer("io.sniff_ms", t.layerCall("sniff", "io", op)(SourceSniffer.sniff(h.spark, src))._2)
    h.layer("io.discover_ms", t.layerCall("discover", "io", op)(PartitionDiscovery.discover(h.spark, src))._2)
    val ms = t.layerCall("validate", "validate", op) {
      Validate.postBootstrap(h.spark.read.parquet(src), KeyedTable.read(h.spark, table))
    }._2
    h.layer("validate.ms", ms)
    t.flush()
    h.layer("validate.jobs", t.jobsOf(s"$op.validate").size.toDouble)
  }

  /** Batch `n`: every 4th deletes keys, the others upsert rows (¾ updates,
    * ¼ new keys). No key is changed twice.
    */
  private def batch(h: Harness, n: Int): Unit = {
    val spark = h.spark
    import spark.implicits._
    val ver = 1000L + n
    val isDelete = n % 4 == 3
    val rows = mutable.LinkedHashMap.empty[Long, (Item, Int)]
    val target = if (isDelete) DeleteBatch else Batch
    var j = 0L
    while (rows.size < target && j < target * 8L) {
      val p = recentMonth(h.seed, n, j)
      val r = Gen.h(h.seed, n.toLong * 7919L + 3, j)
      val insert = !isDelete && java.lang.Long.remainderUnsigned(r, 4L) == 0L
      if (insert || model.partSize(p) > 0) {
        val rk = if (insert) { nextKey += 1; nextKey - 1 } else model.pick(p, r >>> 8)
        if (!touched.contains(rk)) {
          touched(rk) = ()
          rows(rk) = (item(h.seed, rk, ver, p), p)
        }
      }
      j += 1
    }
    val batch = rows.values.map(_._1).toSeq
    val df = if (isDelete) batch.toDS().select("rk", "month") else batch.toDS().toDF()
    val before = h.tracer.map(_ => CommitLog.commits(spark, table).size)
    h.op("upsert") {
      if (isDelete) KeyedTable.delete(spark, table, df) else KeyedTable.upsert(spark, table, df)
    } { _ => h.newSkips(Seq(table)).headOption }
    rows.values.foreach { case (it, p) =>
      if (isDelete) {
        model.remove(it.rk); deleted += it.rk; userBytes += 8L + it.month.length
      } else {
        if (model.contains(it.rk)) updated += it.rk
        model.add(it.rk, p, ver); userBytes += Gen.userBytes(it)
      }
    }
    batchRows += rows.size.toLong
    traceWrite(h, before.getOrElse(0))
  }

  /** Month index skewed toward the newest: half the rows in the last month,
    * a quarter in the one before, and so on.
    */
  private def recentMonth(seed: Long, n: Int, j: Long): Int = {
    val r = Gen.h(seed, n.toLong, j ^ 0x5bd1e995L)
    val back = math.min(months - 1, java.lang.Long.numberOfTrailingZeros(r | (1L << 40)))
    months - 1 - back
  }

  /** The resume instant and every commit after it, with the rows each batch
    * changed; compactions change none.
    */
  private def historySince(h: Harness, resumedAt: String): Seq[(String, Long)] = {
    val later = CommitLog.commits(h.spark, table).dropWhile(_.commitTime != resumedAt).drop(1)
    val writes = later.filter(_.operation != "compact")
    h.verify("one commit per batch") {
      if (writes.size != batchRows.size) Some(s"${writes.size} data commits for ${batchRows.size} batches")
      else None
    }
    val rows = writes.map(_.commitTime).zip(batchRows).toMap
    val firstCompact = later.indexWhere(_.operation == "compact")
    h.verify("history holds a compaction") {
      if (firstCompact < 0) Some(s"no compaction among ${later.size} commits after the resume") else None
    }
    // history index of the first compaction
    compactAt = math.min(later.size - 1, firstCompact + 1)
    (resumedAt -> 0L) +: later.map(c => c.commitTime -> rows.getOrElse(c.commitTime, 0L))
  }

  private def traceWrite(h: Harness, commitsBefore: Int): Unit = h.tracer.foreach { t =>
    val op = t.currentOp
    val (st, ms) = t.layerCall("state", "commitlog", op)(CommitLog.state(h.spark, table))
    h.layer("commitlog.state_ms", ms)
    val commits = st.map(_.commits).getOrElse(Seq.empty)
    h.layer("compact.count", commits.drop(commitsBefore).count(_.operation == "compact").toDouble)
    val live = t.layerCall("live_deltas", "deltas", op)(Deltas.liveCommits(h.spark, table))._1
    h.layer("merge.live_deltas", live.size.toDouble)
  }

  // ------------------------------------------------------------------ reads

  private def lookup(h: Harness, n: Long): Unit = {
    val seed = h.seed
    val keys = (0 until LookupKeys).map { j =>
      j % 10 match {
        case 0 => nextKey + Gen.draw(seed, n * 131 + 5, j.toLong, 1000000) // absent
        case 1 => deleted(Gen.draw(seed, n * 131 + 6, j.toLong, deleted.size))
        case 2 => updated(Gen.draw(seed, n * 131 + 7, j.toLong, updated.size))
        case _ => model.pick(Gen.draw(seed, n * 131 + 8, j.toLong, months), Gen.h(seed, n * 131 + 9, j.toLong))
      }
    }.distinct
    val want = keys.filter(model.contains).map { k =>
      val it = item(seed, k, model.ver(k), model.partOf(k)); (k, it.ver, it.qty, it.price)
    }.toSet
    h.op("lookup") {
      BloomIndex.readByKeys(h.spark, table, keys.map(_.toString)).select("rk", "ver", "qty", "price").collect()
    } { rows =>
      val got = rows.map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSet
      if (got != want || rows.length != want.size) Some(s"lookup returned ${rows.length} rows, model ${want.size}")
      else None
    }
    h.tracer.foreach { t =>
      val pr = t.layerCall("candidate_files", "bloomindex", t.currentOp) {
        BloomIndex.candidateFiles(h.spark, table, keys.map(_.toString))
      }._1
      h.layer("bloom.candidate_files", pr.kept.size.toDouble)
      h.layer("table.base_files", pr.totalFiles.toDouble)
      h.layer("scan.rows_returned", want.size.toDouble)
    }
  }

  private def range(h: Harness, n: Long): Unit = {
    val lo = java.lang.Long.remainderUnsigned(Gen.h(h.seed, n, 999L), nextKey - RangeWidth)
    val hi = lo + RangeWidth - 1
    val want = model.all.count { case (rk, _, _) => rk >= lo && rk <= hi }.toLong
    h.op("range")(KeyedTable.readBetween(h.spark, table, "rk", Some(lo), Some(hi)).count()) { c =>
      if (c != want) Some(s"range [$lo,$hi] counted $c, model $want") else None
    }
    h.tracer.foreach { t =>
      val pr = t.layerCall("prune", "statsindex", t.currentOp) {
        StatsIndex.prune(h.spark, table, "rk", Some(lo), Some(hi))
      }._1
      h.layer("stats.files_kept", pr.kept.size.toDouble)
      h.layer("table.base_files", pr.totalFiles.toDouble)
      h.layer("scan.rows_returned", want.toDouble)
    }
  }

  private def snapshot(h: Harness): Unit = {
    h.op("snapshot") {
      KeyedTable.read(h.spark, table).groupBy("month")
        .agg(count(lit(1)), sum("qty"), sum("price")).collect()
    } { rows =>
      val got = rows.map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      if (got != expectAgg) Some("snapshot aggregates differ from the model") else None
    }
    h.tracer.foreach { t =>
      val live = t.layerCall("live_deltas", "deltas", t.currentOp)(Deltas.liveCommits(h.spark, table))._1
      h.layer("merge.live_deltas", live.size.toDouble)
    }
  }

  private def changes(h: Harness, n: Long): Unit = {
    // alternate rounds read every batch since the resume (straddling the
    // compactions) and the batches after the first compaction
    val i = if (n % 2 == 0) 0 else compactAt
    val want = history.drop(i + 1).map(_._2).sum
    h.op("changes")(KeyedTable.readChanges(h.spark, table, history(i)._1).count()) { c =>
      if (c != want) Some(s"changes since #$i counted $c, model $want") else None
    }
    h.tracer.foreach(_ => h.layer("cdc.changes_returned", want.toDouble))
  }

  private def traceState(h: Harness): Unit = h.tracer.foreach { t =>
    h.layer("commitlog.state_ms",
      t.layerCall("state", "commitlog", t.currentOp)(CommitLog.state(h.spark, table))._2)
  }

  def finish(h: Harness): Unit = {
    val spark = h.spark
    h.samples.get("bootstrap").foreach(b => h.note("bootstrap_rows_per_s", bootRows / b.sum, "rows/s", b.size))
    h.verify("final snapshot checksum") {
      val r = KeyedTable.read(spark, table).agg(count(lit(1)), sum(expr(Gen.digestSql("rk")))).head()
      val want = model.all.map { case (rk, _, v) => Gen.digest(rk, v) }.sum
      if (r.getLong(0) != model.size || r.getLong(1) != want)
        Some(s"snapshot count/digest ${r.getLong(0)}/${r.getLong(1)}, model ${model.size}/$want")
      else None
    }
    h.layer("commitlog.length", CommitLog.commits(spark, table).size.toDouble)
  }
}

object LakeIngest {
  val Months0 = 24 // months in the source at the first bootstrap
  val MonthsNew = 4 // months that land before the resume
  val PerMonth = 2500
  val Batch = 1000 // rows per upsert batch
  val DeleteBatch = 250 // keys per delete batch
  val Batches = 8 // upsert and delete batches per run
  val MinReadRounds = 3 // read rounds every run makes, however slow the host
  val LookupKeys = 20
  val RangeWidth = 4000L

  def sourceRow(seed: Long, i: Long): Item =
    Gen.item(seed, i, 0L, Gen.monthName((i / PerMonth).toInt), i)
}
