package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft._

/** The batch workload: registry queries from `SparkEntry.queries`, in the
  * plan's (seeded) order.
  *
  * The first pass is the set-up: it fills the session's lazy state (code
  * generation, footer and schema caches, JIT) and writes every answer to
  * parquet for the output check. Timed passes then run each query with
  * Spark's `noop` sink, which materialises every output column (a
  * `count()` would let Catalyst prune unused columns, payload text
  * included). Each timed query carries its own job group. */
object Fleet {
  val families: Map[String, Set[String]] = Map(
    "dedup" -> DedupQueries.registry.keySet,
    "pipeline" -> (PipelineQueries.registry.keySet ++ RetrievalQueries.registry.keySet ++
      CurationQueries.registry.keySet),
    "relational" -> (Queries.registry.keySet ++ AnalyticsQueries.registry.keySet ++
      AuditQueries.registry.keySet ++ OwnershipQueries.registry.keySet ++
      SelectionQueries.registry.keySet))

  def familyOf(q: String): String = families.collectFirst { case (f, ks) if ks(q) => f }.get

  private def timed(spark: SparkSession, name: String, group: String, phase: String,
      heap: Boolean = false)(action: DataFrame => Unit, data: String): Op = {
    spark.sparkContext.setJobGroup(group, name, interruptOnCancel = false)
    val t0 = Clock.nowMs
    val ok = try { action(SparkEntry.queries(name)(spark, data)); true }
      catch { case e: Throwable => System.err.println(s"[perfbench] $name failed: $e"); false }
    val t1 = Clock.nowMs
    Log.phase(f"$phase%-8s $name%-28s ${t1 - t0}%9.1f ms")
    spark.sparkContext.clearJobGroup()
    // a full collection releases the finished frames' pinned blocks
    // before the next query (as graft.Bench does); in the first timed
    // pass a second one measures what the query left live
    if (heap) liveMb = math.max(liveMb, Util.liveHeapMb()) else System.gc()
    Op("query", name, phase, t0, t0, t1, ok, group = group)
  }

  private var liveMb = 0.0

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def pass(spark: SparkSession, order: Seq[String], data: String, phase: String,
      n: Int): Seq[Op] =
    order.map(q => timed(spark, q, s"$q#$phase$n", phase, heap = n == 0)(noop, data))

  def run(spark: SparkSession, plan: JsonNode, data: String, work: String, trace: Boolean,
      cpus: Int): Map[String, Any] = {
    val order = plan.get("queries").elements().asScala.map(_.asText()).toSeq
    val passes = plan.get("passes").asInt()
    val unknown = order.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"not in SparkEntry.queries: ${unknown.mkString(", ")}")
    val outDir = s"$work/answers"

    // set-up pass: answers to parquet for the check
    val s0 = Clock.nowMs
    val setupOps = order.map(q => timed(spark, q, s"$q#setup", "setup")(
      _.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$q"), data))
    val setupS = (Clock.nowMs - s0) / 1000.0
    Log.phase("set-up pass done")
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => order.contains(k) }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$outDir/oracle_sql.json"),
      Json.mapper.writeValueAsString(oracle))

    val ops = mutable.ArrayBuffer[Op]()
    val layers = mutable.LinkedHashMap[String, Double]()
    var byFamily = Map.empty[String, Map[String, Double]]
    if (!trace) {
      (0 until passes).foreach(n => ops ++= pass(spark, order, data, "timed", n))
    } else {
      // untraced, traced, traced, untraced passes: a drift or warm-up
      // trend over the run falls on both sides alike
      val t = new Trace(spark)
      def tracedPass(n: Int): Seq[Op] = {
        t.attach()
        try pass(spark, order, data, "traced", n) finally t.detach()
      }
      val first = pass(spark, order, data, "untraced", 0)
      val traced = tracedPass(0) ++ tracedPass(1)
      val plain = first ++ pass(spark, order, data, "untraced", 1)
      ops ++= plain ++ traced
      layers ++= t.sparkLayer(traced, cpus) ++ t.pins
      byFamily = families.keys.map(f =>
        f -> t.sparkLayer(traced.filter(o => familyOf(o.name) == f), cpus)).toMap
      def total(xs: Seq[Op]) = xs.map(o => o.end - o.start).sum
      layers("trace.overhead_pct") = (total(traced) / total(plain) - 1.0) * 100.0
      // per pass, over the untraced passes
      families.keys.foreach(f => layers(s"batch.${f}_s") =
        plain.filter(o => familyOf(o.name) == f).map(o => o.end - o.start).sum / 2000.0)
      layers("batch.total_s") = plain.map(o => o.end - o.start).sum / 2000.0
    }
    Map(
      "setup_s" -> Seq(setupS),
      "live_heap_mb" -> liveMb,
      "ops" -> (setupOps ++ ops).map(o => Json.op(o)),
      "families" -> order.map(q => q -> familyOf(q)).toMap,
      "answers" -> outDir,
      "errors" -> (setupOps ++ ops).filterNot(_.ok).map(o => s"${o.name} failed (${o.phase})"),
      "layers" -> layers,
      "layers_by_family" -> byFamily)
  }
}
