package graft.perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import graft.SparkEntry
import graft.olist.{OlistData, OlistMaterialized, OlistOracle}
import graft.storage.SnapshotCommit

/** The reference's job and its consumers, from an empty warehouse: a
  * full refresh of the committed Olist medallion, one BI client's pass
  * of gold reads over the committed star (catalog entries and KPI SQL
  * text, in a seeded order), then an incremental refresh of the same
  * committed names from a changed copy of the source. */
final class MedallionRefresh(r: Runner, spec: Spec) extends Workload {
  private val spark = r.spark
  private val source = spec.obj("dirs").str("source")
  private val changed = spec.obj("dirs").str("changed")
  private val warehouse = new org.apache.hadoop.fs.Path(
    spark.conf.get("spark.sql.warehouse.dir")).toUri.getPath
  private val out = new File(spec.str("out"))
  private val reads = spec.specs("reads")
  private val order = spec.list("order").map(_.asInstanceOf[Seq[Any]].map(_.toString))
  private val reader = new Reader(r)
  private var storage = (0, 0, 0L)

  /** The source directory of round `k`. `OlistMaterialized.ensure`
    * memoizes per directory, so every later round reads the same files
    * through a link of its own and commits under fresh names. */
  private def sourceOf(k: Int): String =
    if (k == 0) source
    else {
      val link = new File(s"${source}_r$k").toPath
      java.nio.file.Files.createSymbolicLink(link, new File(source).toPath)
      link.toString
    }

  private def golds(n: OlistMaterialized.Names) = Seq(
    "g1_dim_customers" -> n.dimCustomers, "g2_dim_sellers" -> n.dimSellers,
    "g3_dim_products" -> n.dimProducts, "g4_dim_orders" -> n.dimOrders,
    "g5_dim_date" -> n.dimDate, "g6_fact_order_items" -> n.fact)

  private def tables(n: OlistMaterialized.Names) = Map("fact" -> n.fact,
    "dim_customers" -> n.dimCustomers, "dim_sellers" -> n.dimSellers,
    "dim_products" -> n.dimProducts, "dim_orders" -> n.dimOrders,
    "dim_date" -> n.dimDate)

  // The oracle's names for the same tables (OlistOracle's CTEs).
  private val oracleNames = Map("fact" -> "gold_fact_order_items") ++
    Seq("dim_customers", "dim_sellers", "dim_products", "dim_orders", "dim_date")
      .map(d => d -> s"gold_$d")

  private def bind(sqlText: String, n: Map[String, String]): String =
    n.foldLeft(sqlText) { case (s, (k, v)) => s.replace(s"{$k}", v) }

  def setup(): Unit = ()

  private def dropAll(n: OlistMaterialized.Names): Unit = n.all.foreach { t =>
    if (n.silvers.contains(t)) SnapshotCommit.destroy(spark, t)
    else spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  private def keepGolds(n: OlistMaterialized.Names, phase: String): Unit =
    golds(n).foreach { case (entry, t) =>
      Measure.copyFiles(spark, t, new File(out, s"$phase/$entry"))
    }

  def round(k: Int): Unit = {
    val dir = r.untimed(sourceOf(k))
    // The full refresh: `ensure` on an empty warehouse runs the whole
    // pipeline and records the source fingerprint, so the catalog
    // entries below read the committed tables instead of rebuilding.
    val names = r.op("refresh_full", "full")(OlistMaterialized.ensure(spark, dir))
      .getOrElse(OlistMaterialized.Names(OlistMaterialized.sfx(dir)))
    r.untimed(if (k == 0) keepGolds(names, "full"))
    order(k % order.size).foreach { name =>
      val rd = reads.find(_.str("name") == name).get
      reader.read("read", name, new File(out, s"reads/$name")) { st =>
        if (rd.str("kind") == "entry") SparkEntry.queries(name)(spark, dir)
        else reader.parse(st, name, bind(rd.str("sql"), tables(names)))
      }
    }
    val before = r.untimed(Measure.files(warehouse))
    r.op("refresh_incremental", "incremental")(
      OlistMaterialized.pipeline(changed, names).run(spark))
    r.untimed {
      if (k == 0) {
        storage = Measure.written(before, Measure.files(warehouse))
        keepGolds(names, "incremental")
      }
      dropAll(names)
    }
  }

  def export(out: File): Map[String, Any] = {
    // Traced runs: the bronze frames, forced on their own.
    if (r.tracer.isDefined) r.span("olist.bronze", "bronze") {
      Seq(OlistData.orders(spark, source), OlistData.orderItems(spark, source),
        OlistData.customers(spark, source), OlistData.products(spark, source),
        OlistData.sellers(spark, source), OlistData.payments(spark, source),
        OlistData.reviews(spark, source), OlistData.geolocations(spark))
        .foreach(df => df.write.mode("overwrite").format("noop").save())
    }
    Map("ctes" -> OlistOracle.ctes,
      "gold" -> golds(OlistMaterialized.Names("")).map(_._1)
        .map(e => e -> SparkEntry.oracleSql(e)).toMap,
      "reads" -> reads.map { rd =>
        val n = rd.str("name")
        n -> (if (rd.str("kind") == "entry") SparkEntry.oracleSql(n)
              else OlistOracle.ctes + bind(rd.str("sql"), oracleNames))
      }.toMap)
  }

  /** SQL executions of the refreshes, attributed to the dataset class of
    * the table they write (or, for reads such as a merge probe, the
    * table they scan); expectation aggregates to `dq`. */
  private def datasetClass(plan: String): String = {
    val target = plan.linesIterator.find(l =>
      l.contains("InsertIntoHadoopFsRelationCommand") ||
        l.contains("CreateDataSourceTableAsSelectCommand") ||
        l.contains("SaveIntoDataSourceCommand")).getOrElse("")
    def in(s: String) =
      if (s.contains("olist_gold_fact")) Some("gold_fact")
      else if (s.contains("olist_gold_dim")) Some("gold_dims")
      else if (s.contains("olist_silver")) Some("silver")
      else None
    if (plan.contains("__viol_")) "dq"
    else in(target).orElse(in(plan)).getOrElse("other")
  }

  def layers(t: Tracer): Map[String, Double] = {
    val refreshes = t.spans.filter(_.layer.startsWith("refresh_")).toSeq
    val windows = refreshes.map(s => (t.epochMs(s.start), t.epochMs(s.end)))
    def inWindow(ms: Long) = windows.exists { case (a, b) => ms >= a && ms <= b }
    val js = t.jobs.values.asScala.filter(j => inWindow(j.start)).toSeq
    val byClass = t.executions.values.asScala.filter(e => inWindow(e.start))
      .toSeq.groupBy(e => datasetClass(e.plan))
    def wall(c: String) = t.union(byClass.getOrElse(c, Nil)
      .filter(_.end >= 0).map(e => (e.start, e.end))) / 1000.0
    val silver = byClass.getOrElse("silver", Nil).map(_.id).toSet
    val rounds = math.max(r.round, 1).toDouble
    Map(
      "olist.bronze_scan_s" ->
        t.spans.filter(_.layer == "olist.bronze").map(_.ms).sum / 1000.0,
      "pipeline.silver_wall_s" -> wall("silver") / rounds,
      "pipeline.silver_task_cpu_s" ->
        t.stageSum(js.filter(j => silver(j.execution)))(_.cpuNs) / 1e9 / rounds,
      "pipeline.gold_dims_wall_s" -> wall("gold_dims") / rounds,
      "pipeline.gold_fact_wall_s" -> wall("gold_fact") / rounds,
      "dq.expectations_wall_s" -> wall("dq") / rounds,
      "pipeline.jobs" -> js.size / rounds,
      "pipeline.driver_gap_s" ->
        (refreshes.map(_.ms).sum - t.union(t.intervals(js))) / 1000.0 / rounds,
      "pipeline.shuffle_write_mb" -> Measure.mb(t.stageSum(js)(_.shuffleWrite)) / rounds,
      "pipeline.spill_mb" -> Measure.mb(t.stageSum(js)(_.spill)) / rounds,
      "storage.refresh_files_rewritten" -> storage._1.toDouble,
      "storage.refresh_files_carried" -> storage._2.toDouble,
      "storage.refresh_bytes_written_mb" -> Measure.mb(storage._3)) ++
      reader.layers(t, "read")
  }
}
