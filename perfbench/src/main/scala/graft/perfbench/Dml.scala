package graft.perfbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, count, lit, sum}
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}

import graft.ext.GraftSqlParser
import graft.storage.{DeletionVectors, SnapshotCommit}
import graft.streaming.SnapshotSink

/** One writer on a range-clustered, CDF-enabled versioned table shaped
  * like lineitem: seeded rounds of DELETE, UPDATE, MERGE INTO and INSERT
  * INTO through the SQL surface. After the DELETE a client reads the
  * live table and the DELETE's change feed, and a `graft-table`
  * change-feed stream drains it into a SnapshotSink table. The UPDATE
  * then rewrites the files the DELETE masked; after the INSERT come a
  * VERSION AS OF read of the round's start, a table_changes read of the
  * whole round, and a second drain. */
final class TableDmlCdc(r: Runner, spec: Spec) extends Workload {
  private val spark = r.spark
  private val tbl = "bench_lineitem"
  private val feed = "bench_lineitem_feed"
  private val rounds = spec.specs("rounds")
  private val root = SnapshotCommit.rootDir(spark, tbl).toUri.getPath
  private var v0 = 0L
  private val versions = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val reads = mutable.ArrayBuffer.empty[Map[String, Any]]
  // (op, files written, bytes written)
  private val writes = mutable.ArrayBuffer.empty[(String, Int, Long)]
  private val readStats = mutable.ArrayBuffer.empty[(String, ReadStats)]
  private val reader = new Reader(r)
  private var progress: Seq[StreamingQueryProgress] = Nil
  private var drainedTo = 0L

  private def run(text: String): Unit = GraftSqlParser.sql(spark, text).collect()

  private def version(): Long = DeletionVectors.version(spark, tbl)

  def setup(): Unit = {
    spark.read.parquet(spec.obj("dirs").str("source") + "/lineitem.parquet")
      .createOrReplaceTempView("bench_lineitem_src")
    spec.list("setup").foreach(s => run(s.toString))
    v0 = version()
  }

  private def dml(kind: String, text: String): Unit = {
    val before = r.untimed(Measure.files(root))
    r.op(kind, kind)(run(text))
    r.untimed {
      val (files, _, bytes) = Measure.written(before, Measure.files(root))
      writes += ((kind, files, bytes))
      versions += Map("round" -> r.round, "op" -> kind, "version" -> version())
    }
  }

  /** A timed SQL read whose (small) result is kept for the checks. */
  private def query(kind: String, text: String): Seq[Seq[Any]] = {
    val st = new ReadStats
    var df: DataFrame = null
    val rows = r.op(kind, kind) {
      df = reader.parse(st, kind, text)
      df.collect().map(_.toSeq).toSeq
    }
    if (r.tracer.isDefined && rows.isDefined) r.untimed {
      st.filesRead = Measure.scanFiles(df.queryExecution.executedPlan, spark)._1
      readStats += kind -> st
    }
    rows.getOrElse(Nil)
  }

  /** Checksums of the table as of `at` ("" for the live table). */
  private def totals(at: String): String =
    "SELECT count(*) AS n, sum(l_orderkey * 8 + l_linenumber) AS k, " +
      "sum(CAST(l_quantity AS BIGINT)) AS q, " +
      s"sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS p FROM $tbl$at"

  private def changes(kind: String, k: Int, from: Long, to: Long): Unit =
    reads += Map("kind" -> kind, "round" -> k, "from" -> from, "to" -> to,
      "rows" -> query(kind,
        "SELECT change_type, commit_version, count(*) AS n, " +
          "sum(l_orderkey * 8 + l_linenumber) AS k, " +
          "sum(CAST(l_quantity AS BIGINT)) AS q " +
          s"FROM table_changes('$tbl', $from, $to) GROUP BY 1, 2"))

  def round(k: Int): Unit = {
    val rd = rounds(k % rounds.size)
    // The round's MERGE and INSERT sources, defined over the source
    // table, held as local relations.
    r.untimed(Seq("merge_src", "insert_src").foreach { v =>
      val df = spark.sql(rd.str(v).replace("{src}", "bench_lineitem_src"))
      spark.createDataFrame(df.collect().toSeq.asJava, df.schema)
        .createOrReplaceTempView(s"bench_$v")
    })
    val start = r.untimed(version())
    dml("delete", rd.str("delete"))
    val deleted = r.untimed(version())
    reads += Map("kind" -> "live", "round" -> k, "version" -> deleted,
      "rows" -> query("live", totals("")))
    changes("cdc", k, start, deleted)
    drain("drain", deleted)
    Seq("update", "merge", "insert").foreach(op => dml(op, rd.str(op)))
    val now = r.untimed(version())
    reads += Map("kind" -> "timetravel", "round" -> k, "version" -> start,
      "rows" -> query("timetravel", totals(s" VERSION AS OF $start")))
    changes("cdc_round", k, start, now)
    drain("drain_round", now)
  }

  /** The change-feed stream, from the first change on: each run of it
    * (same checkpoint) drains the versions published since the last, up
    * to `to`. */
  private def drain(kind: String, to: Long): Unit = {
    val ckpt = spec.str("work") + "/checkpoints/feed"
    val ok = r.op(kind, kind) {
      val q = spark.readStream.format("graft-table")
        .option("table", tbl).option("readChangeFeed", "true")
        .option("startingVersion", (v0 + 1).toString).load()
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: DataFrame, id: Long) =>
          SnapshotSink.append(spark, feed, id, b); ()
        }.start()
      try q.awaitTermination() finally progress ++= q.recentProgress
    }
    if (ok.isDefined) drainedTo = to
  }

  def export(out: File): Map[String, Any] = {
    // The table the rounds left behind, read as a client reads it.
    val live = spark.sql(s"SELECT l_orderkey DIV 1000 AS b, " +
      "count(*) AS n, sum(l_orderkey * 8 + l_linenumber) AS k, " +
      "sum(CAST(l_quantity AS BIGINT)) AS q, " +
      "sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS p " +
      s"FROM $tbl GROUP BY 1")
      .collect().map(_.toSeq).toSeq
    val drained = scala.util.Try(spark.table(feed)
      .groupBy(col("commit_version"), col("change_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_orderkey") * 8 + col("l_linenumber")).as("k"),
        sum(col("l_quantity").cast("bigint")).as("q"))
      .collect().map(_.toSeq).toSeq).getOrElse(Nil)
    Map("v0" -> v0, "versions" -> versions.toSeq, "reads" -> reads.toSeq,
      "live" -> live, "drained" -> drained, "drained_to" -> drainedTo,
      "drain_rows" -> progress.map(_.numInputRows).sum,
      "bytes_written" -> writes.map(_._3).sum)
  }

  def layers(t: Tracer): Map[String, Double] = {
    val perOp = Seq("delete", "update", "merge", "insert").flatMap { op =>
      val ph = t.spans.filter(s => s.layer == op && s.parent < 0).toSeq.map(t.phases)
      val w = writes.filter(_._1 == op)
      val n = math.max(ph.size, 1).toDouble
      Seq(s"dml.$op.head_ms" -> ph.map(_._1).sum / n,
        s"dml.$op.jobs_ms" -> ph.map(_._2).sum / n,
        s"dml.$op.gap_ms" -> ph.map(_._3).sum / n,
        s"dml.$op.tail_ms" -> ph.map(_._4).sum / n,
        s"dml.$op.jobs" -> ph.map(_._5).sum / n,
        s"dml.$op.files_rewritten" -> w.map(_._2).sum / n,
        s"dml.$op.bytes_written_mb" -> Measure.mb(w.map(_._3).sum) / n)
    }
    // Head: call to first job; exec: the rest of the read.
    def headExec(kind: String) = {
      val sp = t.spans.filter(s => s.layer == kind && s.parent < 0).toSeq
      val n = math.max(sp.size, 1).toDouble
      val head = sp.map(t.phases).map(_._1).sum / n
      (head, sp.map(_.ms).sum / n - head)
    }
    val (ttHead, ttExec) = headExec("timetravel")
    val (cdcHead, cdcExec) = headExec("cdc")
    def dur(k: String) = progress.map(p =>
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)).sum
    perOp.toMap ++ Map(
      "storage.dv_sidecar_mb" -> Measure.mb(Measure.sidecarBytes(
        SnapshotCommit.currentLocation(spark, tbl).map(_.toUri.getPath).getOrElse(root))),
      "storage.versions" -> (version() - v0).toDouble,
      "timetravel.head_ms" -> ttHead, "timetravel.exec_ms" -> ttExec,
      "cdc.head_ms" -> cdcHead, "cdc.exec_ms" -> cdcExec,
      "cdc.files_read" -> Measure.mean(readStats.filter(_._1 == "cdc")
        .map(_._2.filesRead.toDouble).toSeq),
      "streaming.batches" -> progress.size.toDouble,
      "streaming.latest_offset_ms" -> dur("latestOffset"),
      "streaming.get_batch_ms" -> dur("getBatch"),
      "streaming.add_batch_ms" -> dur("addBatch"))
  }
}
