package graft.perfbench

import java.io.File

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One timed operation. */
final case class Op(kind: String, name: String, round: Int, ms: Double,
    ok: Boolean, error: String)

/** The run's spec, written by run.py: the workload, its generated inputs
  * and the seeded operation stream. */
final class Spec(val m: Map[String, Any]) {
  def str(k: String): String = m(k).toString
  def num(k: String): Double = m(k) match {
    case n: Number => n.doubleValue
    case s => s.toString.toDouble
  }
  def obj(k: String): Spec = new Spec(m(k).asInstanceOf[Map[String, Any]])
  def list(k: String): Seq[Any] = m(k).asInstanceOf[Seq[Any]]
  def specs(k: String): Seq[Spec] =
    list(k).map(x => new Spec(x.asInstanceOf[Map[String, Any]]))
}

/** Times operations in whole rounds for a fixed measuring window, and
  * opens a span per operation when tracing. */
final class Runner(val spark: SparkSession, val tracer: Option[Tracer],
    seconds: Double) {
  val ops = mutable.ArrayBuffer.empty[Op]
  val rounds = mutable.ArrayBuffer.empty[Double]
  var firstOpMs = -1L
  var round = 0

  /** A timed operation: failures are recorded, never rethrown. */
  def op[A](kind: String, name: String)(body: => A): Option[A] = {
    if (firstOpMs < 0) firstOpMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val r = try Right(span(kind, name)(body))
      catch { case e: Throwable => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    ops += Op(kind, name, round, ms, r.isRight,
      r.left.toOption.map(e => s"${e.getClass.getSimpleName}: " +
        String.valueOf(e.getMessage).take(300)).getOrElse(""))
    r.toOption
  }

  /** A span when tracing; just the call otherwise. */
  def span[A](layer: String, name: String)(body: => A): A =
    tracer.fold(body)(_.span(layer, name)(body))

  private var pausedNs = 0L

  /** Work inside a round that is not part of it (output dumps for the
    * checks, bookkeeping): its time is taken out of the round's. */
  def untimed[A](body: => A): A = {
    val t0 = System.nanoTime()
    try body finally pausedNs += System.nanoTime() - t0
  }

  /** Whole rounds until the window has elapsed (at least one). */
  def loop(body: Int => Unit): Unit = {
    val t0 = System.nanoTime()
    val p0 = pausedNs
    def elapsed = (System.nanoTime() - t0 - (pausedNs - p0)) / 1e9
    while (round == 0 || elapsed < seconds) {
      val r0 = System.nanoTime()
      val rp = pausedNs
      body(round)
      rounds += (System.nanoTime() - r0 - (pausedNs - rp)) / 1e6
      round += 1
    }
  }
}

trait Workload {
  def setup(): Unit
  def round(r: Int): Unit
  /** Untimed: writes what run.py needs to check the outputs. */
  def export(out: File): Map[String, Any]
  /** Traced runs: the per-layer metrics. */
  def layers(t: Tracer): Map[String, Double]
}

/** The parts of one workload, sharing its JVM and its rounds: the
  * set-ups in order, then each part's round work in turn. */
final class Parts(parts: Seq[Workload]) extends Workload {
  def setup(): Unit = parts.foreach(_.setup())
  def round(r: Int): Unit = parts.foreach(_.round(r))
  def export(out: File): Map[String, Any] = parts.map(_.export(out)).reduce(_ ++ _)
  def layers(t: Tracer): Map[String, Double] = parts.map(_.layers(t)).reduce(_ ++ _)
}

object Main {
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def session(work: String, cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      // The engine's own session settings (graft.Bench / graft.Verify).
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      // The engine's SQL surface and read rules (stats skipping,
      // metadata aggregates), as a deployment enables them.
      .config("spark.sql.extensions", "graft.ext.GraftExtensions")
      // Everything the run writes stays under its work directory.
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.sparkContext.setCheckpointDir(s"$work/checkpoints/rdd")
    s
  }

  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).filter(_ >= 0).sum
  }

  /** Memory the JVM holds live: heap in use after a full collection,
    * plus non-heap in use (metaspace, code cache), MB. Spark drops
    * shuffle and broadcast blocks only once a collection has shown them
    * unreferenced (its ContextCleaner), so the least of three
    * collections, 300 ms apart, is taken. */
  def liveMb(): Double = {
    val m = java.lang.management.ManagementFactory.getMemoryMXBean
    val heap = (1 to 3).map { i =>
      if (i > 1) Thread.sleep(300)
      System.gc()
      m.getHeapMemoryUsage.getUsed
    }.min
    (heap + m.getNonHeapMemoryUsage.getUsed) / 1048576.0
  }

  /** High-water resident set size of this process, MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(-1.0)
    finally src.close()
  }

  def main(args: Array[String]): Unit = {
    val spec = new Spec(json.readValue(new File(args(0)), classOf[Map[String, Any]]))
    val work = spec.str("work")
    val out = new File(spec.str("out"))
    out.mkdirs()
    val spark = session(work, spec.num("cpus").toInt)
    val tracer = if (spec.str("trace") == "1") Some(new Tracer(spark)) else None
    val runner = new Runner(spark, tracer, spec.num("seconds"))
    val w: Workload = new Parts(spec.list("parts").map {
      case "medallion_refresh" => new MedallionRefresh(runner, spec)
      case "table_dml_cdc" => new TableDmlCdc(runner, spec)
      case "llm_curation" => new LlmCuration(runner, spec)
      case other => sys.error(s"unknown workload part $other")
    })
    w.setup()
    val gc0 = gcMs()
    val windowStart = System.currentTimeMillis()
    runner.loop(w.round)
    val windowEnd = System.currentTimeMillis()
    val gcS = (gcMs() - gc0) / 1000.0
    val retainedMb = liveMb()
    val checks = w.export(out)
    val layers = tracer.map { t =>
      t.settle()
      w.layers(t) ++ Map("jvm.gc_s" -> gcS,
        "spark.untagged_jobs" -> t.untaggedJobs(windowStart, windowEnd).toDouble)
    }.getOrElse(Map.empty)
    val result = Map(
      "first_op_ms" -> runner.firstOpMs,
      "peak_rss_mb" -> peakRssMb(),
      "retained_mb" -> retainedMb,
      "rounds" -> runner.rounds.toSeq,
      "ops" -> runner.ops.toSeq.map(o => Map("kind" -> o.kind,
        "name" -> o.name, "round" -> o.round, "ms" -> o.ms, "ok" -> o.ok,
        "error" -> o.error)),
      "checks" -> checks,
      "layers" -> layers,
      "spans" -> tracer.map(_.spans.toSeq.map(s => Map("id" -> s.id,
        "parent" -> s.parent, "layer" -> s.layer, "name" -> s.name,
        "ms" -> s.ms))).getOrElse(Nil))
    json.writeValue(new File(out, "result.json"), result)
    spark.stop()
  }
}
