package graftbench

import scala.collection.mutable

import org.apache.spark.sql.functions._

import graft.operators.{DedupIndex, SyncRegistry, TextIndex}
import graft.table.{CommitLog, KeyedTable}

/** Writes beside reads on the standing-index layer: an unpartitioned
  * MERGE_ON_READ `documents` corpus with a dedup index and a text index
  * registered for publish-time sync. Each step upserts a seeded batch
  * (new docs, rewrites of live docs and marker docs) and retires a batch;
  * after the last step both indexes are probed four times.
  */
final class CorpusSync extends Workload {
  val name = "corpus_sync"
  val stagings = 1
  val writeKinds = Set("publish")
  val readKinds = Set("dedup_probe", "text_probe")

  private val Docs0 = 2000
  private val NewDocs = 30
  private val Rewrites = 8
  private val Retire = 20
  private val Probes = 4 // dedup and text probes after the last step
  private val MinSteps = 2 // steps every run makes, however slow the host

  private var corpus, dedupIdx, textIdx = ""
  /** Live docs: id -> (ver, text). */
  private val live = mutable.LongMap.empty[(Long, String)]
  private var ids = mutable.ArrayBuffer.empty[Long]
  private var nextId = 0L

  private def doc(id: Long, ver: Long, text: String) = CDoc(id, s"s${id % 7}", text, ver)

  def stage(h: Harness, dir: String): Unit = {
    val spark = h.spark
    import spark.implicits._
    val seed = h.seed
    corpus = s"$dir/corpus"; dedupIdx = s"$dir/dedup_idx"; textIdx = s"$dir/text_idx"
    live.clear()
    (0L until Docs0.toLong).foreach(i => live(i) = (0L, Gen.text(seed, i)))
    ids = mutable.ArrayBuffer.from(live.keys.toSeq.sorted)
    nextId = Docs0.toLong
    h.step("create")(KeyedTable.create(spark, corpus,
      live.toSeq.map { case (i, (v, t)) => doc(i, v, t) }.toDS().toDF(),
      tableName = "documents", keyFields = Seq("doc_id"), precombineField = "ver",
      partitionFields = Seq.empty, tableType = graft.model.TableType.MergeOnRead))
    val snap = KeyedTable.read(spark, corpus)
    h.step("dedup_index")(DedupIndex.bootstrap(spark, dedupIdx, snap, "doc_id", "text"))
    h.step("text_index")(TextIndex.build(spark, textIdx, snap.select("doc_id", "text"), "doc_id", "text"))
    val basis = Some(CommitLog.commits(spark, corpus).last.commitTime)
    h.step("register")(SyncRegistry.register(spark, corpus, "dedup",
      SyncRegistry.DedupSpec(dedupIdx, "doc_id", "text"), basis = basis))
    SyncRegistry.register(spark, corpus, "text",
      SyncRegistry.TextSpec(textIdx, "doc_id", "text"), basis = basis)
    // one untimed probe of each index, shaped like the timed ones, so that
    // those do not carry the first call's planning and code generation
    h.step("warm_up") {
      val (probe, _) = dedupBatch(h, 0L, -1, Seq.empty)
      DedupIndex.probe(spark, dedupIdx, probe, "doc_id", "text").select("a_id", "b_id").collect()
      val word = Gen.text(seed, 0L).split(' ').head
      TextIndex.probe(spark, textIdx, Seq((1L, word)).toDF("query_id", "qtext"), k = 10)
        .select("doc_id").collect()
    }
  }

  private def pick(seed: Long, a: Long, b: Long): Long =
    ids(java.lang.Long.remainderUnsigned(Gen.h(seed, a, b), ids.size.toLong).toInt)

  private def removeId(id: Long): Unit = {
    live.remove(id)
    val i = ids.indexOf(id)
    ids(i) = ids.last
    ids.remove(ids.size - 1)
  }

  def run(h: Harness): Unit = {
    val spark = h.spark
    import spark.implicits._
    val seed = h.seed
    val tables = Seq(corpus, dedupIdx, textIdx)
    // the last step's markers and the texts it replaced, for the probes
    var markers = IndexedSeq.empty[(Long, String)]
    var oldTexts, retiredTexts = IndexedSeq.empty[String]
    var step = 0
    while (h.more(step, MinSteps)) {
      val ver = step + 1L
      // upsert: new docs, rewrites of live docs, and marker docs
      markers = (0 until Probes).map(m => (nextId + m, Gen.markerToken(seed, step * Probes + m)))
      val fresh = (0 until NewDocs).map(j => nextId + Probes + j)
      val rewrites = (0 until Rewrites).map(j => pick(seed, step * 31L + 1, j.toLong)).distinct
      oldTexts = rewrites.map(live(_)._2)
      val batch = mutable.ArrayBuffer.empty[CDoc]
      markers.foreach { case (id, token) =>
        batch += doc(id, ver, s"${Gen.text(seed, -id)} $token $token $token")
      }
      fresh.foreach(i => batch += doc(i, ver, Gen.text(seed, i)))
      // a rewrite's salt (ver << 32 | id) lies above every doc id, so it
      // never takes another doc's text
      rewrites.foreach(i => batch += doc(i, ver, Gen.text(seed, (ver << 32) | i)))
      nextId += Probes + NewDocs
      publish(h, tables)(KeyedTable.upsert(spark, corpus, batch.toSeq.toDS().toDF()))
      batch.foreach { d => if (!live.contains(d.doc_id)) ids += d.doc_id; live(d.doc_id) = (d.ver, d.text) }

      // retire a batch (never this step's markers)
      val retired = (0 until Retire).map(j => pick(seed, step * 31L + 2, j.toLong))
        .distinct.filterNot(id => markers.exists(_._1 == id))
      retiredTexts = retired.map(live(_)._2)
      publish(h, tables)(KeyedTable.delete(spark, corpus, retired.toDF("doc_id")))
      retired.foreach(removeId)
      step += 1
      if (step == MinSteps) h.fixedPoint(Seq(corpus, dedupIdx, textIdx),
        KeyedTable.read(spark, corpus).drop(Workload.metaCols(spark, corpus): _*))
    }

    (0 until Probes).foreach { m =>
      val (probeDf, want) = dedupBatch(h, step * 31L + 3, m,
        retiredTexts.drop(5 * m).take(5) ++ oldTexts.drop(3 * m).take(3))
      h.op("dedup_probe") {
        DedupIndex.probe(spark, dedupIdx, probeDf, "doc_id", "text")
          .select("a_id", "b_id").collect()
      } { rows =>
        val got = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
        if (got != want) Some(s"dedup pairs ${got.size} differ from the model's ${want.size}") else None
      }

      // text probe: the marker doc must lead the top-k for its own token
      val (marker, token) = markers(m)
      val qs = Seq((1L, token)).toDF("query_id", "qtext")
      h.op("text_probe")(TextIndex.probe(spark, textIdx, qs, k = 10).select("doc_id").collect()) { rows =>
        if (rows.headOption.map(_.getLong(0)).contains(marker)) None
        else Some(s"marker doc $marker is not first in the text top-k")
      }
    }
  }

  /** A dedup probe batch and the pairs the model expects from it: copies of
    * 10 live docs must pair with them; copies of `gone` (texts of retired
    * docs and rewritten docs' old texts) must not; 10 novel docs pair with
    * nothing.
    */
  private def dedupBatch(h: Harness, salt: Long, m: Int, gone: Seq[String]) = {
    val spark = h.spark
    import spark.implicits._
    val copies = (0 until 10).map(j => pick(h.seed, salt + m, j.toLong)).distinct
    val probeBase = 1000000000L + m * 1000L
    val probe = mutable.ArrayBuffer.empty[CDoc]
    val want = mutable.Set.empty[(Long, Long)]
    copies.zipWithIndex.foreach { case (id, j) =>
      probe += doc(probeBase + j, 0L, live(id)._2); want += ((id, probeBase + j))
    }
    gone.zipWithIndex.foreach { case (t, j) => probe += doc(probeBase + 100 + j, 0L, t) }
    (0 until 10).foreach(j => probe += doc(probeBase + 200 + j, 0L, Gen.text(h.seed, -(probeBase + 200 + j))))
    (probe.toSeq.toDS().toDF(), want.toSet)
  }

  /** One corpus publish; the registry's hook syncs both indexes inside it. */
  private def publish(h: Harness, tables: Seq[String])(body: => Any): Unit = {
    val idxCommits = h.tracer.map(_ => indexCommits(h))
    h.op("publish")(body) { _ =>
      val skips = h.newSkips(tables)
      if (h.tracer.isDefined) h.layer("sync.skipped", skips.size.toDouble)
      skips.headOption
    }
    h.tracer.foreach { t =>
      h.layer("sync.index_commits_per_publish", (indexCommits(h) - idxCommits.get).toDouble)
      h.layer("commitlog.state_ms",
        t.layerCall("state", "commitlog", t.currentOp)(CommitLog.state(h.spark, corpus))._2)
    }
  }

  private def indexCommits(h: Harness): Int = h.tracer.get.layerCall("index_commits", "commitlog", h.tracer.get.currentOp) {
    CommitLog.commits(h.spark, dedupIdx).size + CommitLog.commits(h.spark, textIdx).size
  }._1

  def finish(h: Harness): Unit = {
    val spark = h.spark
    h.verify("final corpus checksum") {
      val r = KeyedTable.read(spark, corpus)
        .agg(count(lit(1)), sum(expr(Gen.digestSql("doc_id")))).head()
      val want = live.iterator.map { case (id, (v, _)) => Gen.digest(id, v) }.sum
      if (r.getLong(0) != live.size || r.getLong(1) != want)
        Some(s"corpus count/digest ${r.getLong(0)}/${r.getLong(1)}, model ${live.size}/$want")
      else None
    }
    h.layer("commitlog.length", CommitLog.commits(spark, corpus).size.toDouble)
  }
}

final case class CDoc(doc_id: Long, source: String, text: String, ver: Long)
