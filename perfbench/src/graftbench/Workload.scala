package graftbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.table.CommitLog

/** One benchmark workload: staged inputs, a timed closed loop, and the
  * checks and figures taken after the loop.
  */
trait Workload {
  def name: String
  /** How many times set-up is repeated; `setup_s` reports the median. */
  def stagings: Int
  /** Kinds that publish to a table; `write_s.mean` is the mean of their operations. */
  def writeKinds: Set[String]
  /** Kinds that only read; `read_s.mean` is the geometric mean of their means. */
  def readKinds: Set[String]
  /** Build this workload's inputs and tables under `dir` and reset its model. */
  def stage(h: Harness, dir: String): Unit
  /** The timed closed loop; runs while `h.more` says so. */
  def run(h: Harness): Unit
  /** After the loop: final checks and the workload's own report figures. */
  def finish(h: Harness): Unit
}

object Workload {
  def byName(n: String): Option[Workload] = n match {
    case "lake_ingest" => Some(new LakeIngest)
    case "corpus_sync" => Some(new CorpusSync)
    case _ => None
  }

  /** Bytes this process has written through Hadoop's `file:` FileSystem. */
  def fsBytesWritten(): Long =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesWritten).sum

  /** The engine's meta columns, which a plain copy of the rows leaves out. */
  def metaCols(spark: SparkSession, table: String): Seq[String] =
    graft.table.KeyedTable.read(spark, table).columns.filter(_.startsWith("_")).toSeq

  def deleteTree(spark: SparkSession, path: String): Unit =
    CommitLog.fs(spark, path).delete(new org.apache.hadoop.fs.Path(path), true)

  def bytesUnder(spark: SparkSession, path: String): Long = {
    val fs = CommitLog.fs(spark, path)
    fs.getContentSummary(new org.apache.hadoop.fs.Path(path)).getLength
  }
}
