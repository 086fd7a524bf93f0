package graft.perfbench

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.DateType

import graft.ext.GraftSqlParser

/** Helpers shared by the workloads. */
object Measure {
  /** Writes `df` as parquet for the DuckDB comparison, DATE columns as
    * ISO strings (the catalog's convention). */
  def dump(df: DataFrame, dir: File): Unit = {
    val out = df.schema.fields.foldLeft(df) { (d, f) =>
      if (f.dataType == DateType) d.withColumn(f.name, col(f.name).cast("string"))
      else d
    }
    out.write.mode("overwrite").parquet(dir.getPath)
  }

  /** Copies the data files a table currently reads (no job runs). */
  def copyFiles(spark: SparkSession, table: String, dir: File): Unit = {
    dir.mkdirs()
    spark.table(table).inputFiles.zipWithIndex.foreach { case (f, i) =>
      Files.copy(new File(new java.net.URI(f)).toPath,
        new File(dir, f"part-$i%05d.parquet").toPath)
    }
  }

  def mb(bytes: Long): Double = bytes / 1048576.0

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** path -> inode of every regular file under `root`. */
  def files(root: String): Map[String, Any] = {
    val p = new File(root).toPath
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => f.toString -> Files.getAttribute(f, "unix:ino")).toMap
      finally s.close()
    }
  }

  /** Data files, as opposed to `_`/`.`-prefixed sidecars and markers. */
  def isData(path: String): Boolean = {
    val n = new File(path).getName
    !n.startsWith("_") && !n.startsWith(".")
  }

  /** Bytes of the sidecar files under `root`, each inode counted once. */
  def sidecarBytes(root: String): Long =
    files(root).filter { case (p, _) => !isData(p) }
      .groupBy(_._2).values.map(g => new File(g.head._1).length).sum

  /** Storage effect of a write between two listings of a directory:
    * data files written, data files carried into new paths by link, and
    * bytes written (sidecars included). */
  def written(before: Map[String, Any], after: Map[String, Any]): (Int, Int, Long) = {
    val old = before.values.toSet
    val fresh = after.filter { case (p, _) => !before.contains(p) }
    val carried = fresh.count { case (p, i) => old(i) && isData(p) }
    val created = fresh.filter { case (_, i) => !old(i) }
      .groupBy(_._2).values.map(_.head._1).toSeq
    (created.count(isData), carried, created.map(p => new File(p).length).sum)
  }

  /** Every physical node of an executed plan, through AQE stages. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  /** (files read, files in the scanned tables, bytes read) of the file
    * scans in an executed plan. */
  def scanFiles(p: SparkPlan, spark: SparkSession): (Long, Long, Long) = {
    val conf = spark.sparkContext.hadoopConfiguration
    nodes(p).collect { case s: FileSourceScanExec => s }.map { s =>
      val read = s.metrics.get("numFiles").map(_.value).getOrElse(0L)
      val bytes = s.metrics.get("filesSize").map(_.value).getOrElse(0L)
      val dirs = s.relation.location.rootPaths.map { r =>
        if (r.getFileSystem(conf).isFile(r)) r.getParent else r
      }.distinct
      val total = dirs.map { d =>
        d.getFileSystem(conf).listStatus(d)
          .count(st => st.isFile && isData(st.getPath.getName)).toLong
      }.sum
      (read, total, bytes)
    }.foldLeft((0L, 0L, 0L)) { case (a, b) => (a._1 + b._1, a._2 + b._2, a._3 + b._3) }
  }
}

/** Plan and execution of one read, captured in traced runs. */
final class ReadStats {
  var planMs = 0.0
  var sqlPlanMs: Option[Double] = None
  var filesRead = 0L
  var filesTotal = 0L
  var bytesRead = 0L
}

/** Runs one read the same way in both modes: builds and plans the
  * frame, then collects it, as a client does. The collected rows are
  * written untimed, once per read name, as the copy the checks read;
  * traced runs also read the scan metrics of the executed plan untimed. */
final class Reader(r: Runner) {
  private val spark = r.spark
  val stats = scala.collection.mutable.ArrayBuffer.empty[ReadStats]
  private val copied = scala.collection.mutable.Set.empty[String]

  def read(kind: String, name: String, sink: File)(
      build: ReadStats => DataFrame): Unit = {
    val st = new ReadStats
    var df: DataFrame = null
    var plan: SparkPlan = null
    val rows = r.op(kind, name) {
      val t0 = System.nanoTime()
      df = build(st)
      plan = df.queryExecution.executedPlan
      st.planMs = (System.nanoTime() - t0) / 1e6
      df.collect()
    }
    r.untimed {
      if (r.tracer.isDefined && rows.isDefined) {
        val (fr, ft, b) = Measure.scanFiles(plan, spark)
        st.filesRead = fr; st.filesTotal = ft; st.bytesRead = b
        stats += st
      }
      rows.filter(_ => copied.add(name)).foreach(rs =>
        Measure.dump(spark.createDataFrame(rs.toSeq.asJava, df.schema), sink))
    }
  }

  /** SQL text through the engine's parser; the call is the `ext.sql`
    * span. */
  def parse(st: ReadStats, name: String, text: String): DataFrame = {
    val t0 = System.nanoTime()
    val df = r.span("ext.sql", name)(GraftSqlParser.sql(spark, text))
    st.sqlPlanMs = Some((System.nanoTime() - t0) / 1e6)
    df
  }

  /** Read-side layer metrics over the read spans of kind `kind`. */
  def layers(t: Tracer, kind: String): Map[String, Double] = {
    val spans = t.spans.filter(s => s.layer == kind && s.parent < 0).toSeq
    val n = math.max(spans.size, 1).toDouble
    val ph = spans.map(t.phases)
    val js = spans.flatMap(t.jobsOf)
    Map(
      "ext.sql_plan_ms" -> Measure.mean(stats.flatMap(_.sqlPlanMs).toSeq),
      "read.plan_ms" -> Measure.mean(stats.map(_.planMs).toSeq),
      "read.exec_ms" -> (spans.map(_.ms).sum - stats.map(_.planMs).sum) / n,
      "read.jobs_per_query" -> js.size / n,
      "read.driver_gap_ms" -> ph.map(p => p._1 + p._3 + p._4).sum / n,
      "read.task_cpu_s" -> t.stageSum(js)(_.cpuNs) / 1e9 / n,
      "read.shuffle_write_mb" -> Measure.mb(t.stageSum(js)(_.shuffleWrite)) / n,
      "read.files_read" -> stats.map(_.filesRead).sum / n,
      "read.files_total" -> stats.map(_.filesTotal).sum / n,
      "read.bytes_read_mb" -> Measure.mb(stats.map(_.bytesRead).sum) / n)
  }
}
