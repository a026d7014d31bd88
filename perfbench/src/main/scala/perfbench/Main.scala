package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark: runs one workload from a plan file that
  * `run.py` generated from the seed, and writes the raw samples, check
  * failures and (in a traced run) per-layer metrics to a result file.
  *
  * {{{
  * perfbench.Main --plan plan.json --data <tables> --work <dir> --out result.json
  *   --cpus N --trace 0|1
  * }}}
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val cpus = a("cpus").toInt
    val trace = a("trace") == "1"
    val plan = Json.mapper.readTree(Files.readAllBytes(Paths.get(a("plan"))))
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"${a("work")}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Log.phase("session up")
    val out: Map[String, Any] =
      try {
        val res = plan.get("workload").asText() match {
          case "batch_fleet" => Fleet.run(spark, plan, a("data"), a("work"), trace, cpus)
          case _ => Serve.run(spark, plan, a("work"), trace, cpus)
        }
        val micro = if (!trace) Map.empty[String, Double]
          else Micro.all(spark, a("data"),
            plan.get("micro_docs").elements().asScala.map(_.asText()).toSeq)
        Log.phase("workload done")
        val layers = res("layers").asInstanceOf[collection.Map[String, Double]]
        res ++ Map("layers" -> (micro ++ layers))
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          Map("fatal" -> e.toString)
      }
    Files.writeString(Paths.get(a("out")), Json.mapper.writeValueAsString(out))
    spark.stop()
    // halt, not exit: the servers' request pools are non-daemon threads,
    // and the shutdown hooks only delete scratch files under the run's
    // work directory, which run.py removes (they took seconds per run)
    Runtime.getRuntime.halt(0)
  }
}
