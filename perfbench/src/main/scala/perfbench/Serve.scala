package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession

import graft.functions.VectorKernels
import graft.index.IvfIndex
import graft.server.RestServer
import graft.sources.ParquetStore

/** The serving workloads over a loopback `RestServer`.
  *
  * Set-up: `setups` times, a fresh data directory, a new server and one
  * bulk `/api/upload` of the set-up corpus (the cold bootstrap that trains
  * the IVF model); the last server is kept. Then the open-loop phase sends
  * each request of the plan's `open` list at its due time (latency counts
  * from the due time; the read workloads have one in the traced run
  * only), and the closed-loop phase runs `clients` clients back to back.
  * Every response is checked outside the timed phases. */
object Serve {
  final case class Req(due: Double, kind: String, body: String)

  private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()

  private def post(port: Int, path: String, body: String): (Int, String) = {
    val r = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(body, UTF_8)).build()
    val resp = http.send(r, HttpResponse.BodyHandlers.ofString(UTF_8))
    (resp.statusCode(), resp.body())
  }

  private def reqs(plan: JsonNode, field: String): Seq[Req] =
    Option(plan.get(field)).map(_.elements().asScala.map(n =>
      Req(n.get(0).asDouble(), n.get(1).asText(), n.get(2).asText())).toSeq).getOrElse(Nil)

  final class Server(val dir: String, val server: RestServer, val port: Int)

  def bootstrap(spark: SparkSession, dir: String, uploadBody: String): (Server, Op) = {
    val t0 = Clock.nowMs
    val s = new RestServer(spark, dir)
    val port = s.start()
    val (status, _) = post(port, "/api/upload", uploadBody)
    val t1 = Clock.nowMs
    (new Server(dir, s, port), Op("upload", "bootstrap", "setup", t0, t0, t1, status == 200,
      bytesOut = uploadBody.getBytes(UTF_8).length))
  }

  /** Sends one request and records it as an operation. */
  private def send(srv: Server, req: Req, phase: String, due: Double): (Op, String) = {
    val path = req.kind match {
      case "search" => "/api/search"
      case "upload" => "/api/upload"
      case "delete" => "/api/delete/document"
    }
    val start = Clock.nowMs
    val (status, body) =
      try post(srv.port, path, req.body)
      catch { case e: Exception => (-1, String.valueOf(e.getMessage)) }
    val end = Clock.nowMs
    val bytes = if (req.kind == "upload") req.body.getBytes(UTF_8).length.toLong
      else body.getBytes(UTF_8).length.toLong
    (Op(req.kind, "", phase, due, start, end, status == 200, bytesOut = bytes), body)
  }

  /** Open loop: each request is handed to a pool of `clients` senders at
    * its due time; a request that finds every sender busy waits, and
    * that wait counts in its latency. */
  def openLoop(srv: Server, rs: Seq[Req], clients: Int): Seq[(Op, Req, String)] = {
    val pool = Executors.newFixedThreadPool(clients)
    val out = new ConcurrentLinkedQueue[(Op, Req, String)]()
    val base = Clock.nowMs + 50
    rs.foreach { r =>
      val due = base + r.due
      val wait = due - Clock.nowMs
      if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
      val dispatched = Clock.nowMs
      pool.submit(new Runnable {
        def run(): Unit = {
          val (op, body) = send(srv, r, "open", due)
          out.add((op.copy(dispatched = dispatched), r, body))
        }
      })
    }
    pool.shutdown()
    pool.awaitTermination(10, TimeUnit.MINUTES)
    out.asScala.toSeq.sortBy(_._1.due)
  }

  /** Closed loop: `clients` clients, each sending its next request as
    * soon as the previous answer arrives, until `seconds` have passed. */
  def closedLoop(srv: Server, rs: Seq[Req], clients: Int, seconds: Double,
      phase: String = "closed"): Seq[(Op, Req, String)] = {
    val next = new AtomicInteger(0)
    val out = new ConcurrentLinkedQueue[(Op, Req, String)]()
    val deadline = Clock.nowMs + seconds * 1000
    val threads = (0 until clients).map { _ =>
      val t = new Thread(() => {
        var i = next.getAndIncrement()
        while (Clock.nowMs < deadline && i < rs.size) {
          val now = Clock.nowMs
          val (op, body) = send(srv, rs(i), phase, now)
          out.add((op, rs(i), body))
          i = next.getAndIncrement()
        }
      })
      t.start(); t
    }
    threads.foreach(_.join())
    out.asScala.toSeq.sortBy(_._1.start)
  }

  // ---------- correctness ----------

  /** Exhaustive answers computed by the benchmark itself: every stored
    * chunk re-embedded with the deterministic embedder the server uses,
    * best chunk per document, (similarity desc, id asc). */
  final class BruteForce(spark: SparkSession, dir: String, dim: Int = 64) {
    private val docs: Array[(Long, Array[Array[Double]])] = {
      val rows = ParquetStore(s"$dir/chunks", "doc_id", nBuckets = 16).read(spark)
        .select("doc_id", "chunk").collect()
      rows.groupBy(_.getLong(0)).map { case (id, rs) =>
        id -> rs.map(r => unit(VectorKernels.dequantize(
          VectorKernels.noopEmbed(r.getString(1), dim))))
      }.toArray.sortBy(_._1)
    }
    val nDocs: Int = docs.length
    val nChunks: Int = docs.map(_._2.length).sum

    private def unit(v: Array[Float]): Array[Double] = {
      val n = math.sqrt(v.map(x => x.toDouble * x).sum)
      v.map(x => if (n == 0) 0.0 else x / n)
    }

    /** All documents ranked for `text`. */
    def ranked(text: String): Seq[(Long, Double)] = {
      val q = unit(VectorKernels.dequantize(VectorKernels.noopEmbed("search_query: " + text, dim)))
      docs.map { case (id, cs) =>
        id -> cs.map(c => { var s = 0.0; var i = 0; while (i < c.length) { s += c(i) * q(i); i += 1 }; s }).max
      }.sortBy { case (id, s) => (-s, id) }.toSeq
    }
  }

  private val Tol = 1e-5

  /** Requests per untraced or traced block of the traced run. */
  private val TraceBlock = 8

  def clampCount(c: Int): Int = math.max(1, math.min(20, c))

  /** Parses a search response; None when it is not a valid answer. */
  def parseAnswer(body: String): Option[(Seq[Long], Seq[Double])] =
    try {
      val docs = Json.mapper.readTree(body).get("documents")
      if (docs == null || !docs.isArray) None
      else Some((docs.elements().asScala.map(_.get("document_id").asLong()).toSeq,
        docs.elements().asScala.map(_.get("document_similarity").asDouble()).toSeq))
    } catch { case _: Exception => None }

  /** Shape check every answer must pass: at most `count` rows, in
    * (similarity desc, id asc) order. */
  def shapeError(req: JsonNode, ids: Seq[Long], sims: Seq[Double]): Option[String] = {
    val count = clampCount(Option(req.get("count")).map(_.asInt()).getOrElse(10))
    if (ids.size > count) Some(s"${ids.size} rows > count $count")
    else ids.indices.drop(1).collectFirst {
      case i if sims(i) > sims(i - 1) || (sims(i) == sims(i - 1) && ids(i) < ids(i - 1)) =>
        s"rows $i-1,$i out of (similarity desc, id asc) order"
    }
  }

  /** Does an exhaustive answer equal the brute-force page? Positions may
    * swap only between documents whose similarities tie within `Tol`:
    * each row's similarity must match the brute-force row at its
    * position, and its document must be one whose brute-force similarity
    * is that value (so a right score under a wrong id fails). */
  def exhaustiveError(ids: Seq[Long], sims: Seq[Double], expect: Seq[(Long, Double)],
      truth: Map[Long, Double]): Option[String] =
    if (ids.size != expect.size) Some(s"${ids.size} rows, brute force has ${expect.size}")
    else if (ids.distinct.size != ids.size) Some(s"a document is answered twice: $ids")
    else ids.indices.collectFirst {
      case i if math.abs(sims(i) - expect(i)._2) > Tol =>
        s"row $i: doc ${ids(i)} sim ${sims(i)} vs brute force doc ${expect(i)._1} sim ${expect(i)._2}"
      case i if truth.get(ids(i)).forall(t => math.abs(t - sims(i)) > Tol) =>
        s"row $i: doc ${ids(i)} answered with sim ${sims(i)}, brute force gives it " +
          truth.get(ids(i)).fold("no score")(_.toString)
    }

  def page(ranked: Seq[(Long, Double)], req: JsonNode): Seq[(Long, Double)] = {
    val count = clampCount(Option(req.get("count")).map(_.asInt()).getOrElse(10))
    val offset = math.max(0, Option(req.get("offset")).map(_.asInt()).getOrElse(0))
    ranked.slice(offset, offset + count)
  }

  // ---------- the workload ----------

  def run(spark: SparkSession, plan: JsonNode, work: String, trace: Boolean,
      cpus: Int): Map[String, Any] = {
    val workload = plan.get("workload").asText()
    val clients = plan.get("clients").asInt()
    val setups = plan.get("setups").asInt()
    val uploadBody = new String(Files.readAllBytes(Paths.get(plan.get("setup_upload").asText())), UTF_8)
    val errors = mutable.ArrayBuffer[String]()

    // an untimed bootstrap of a small corpus first, so the timed ones
    // measure the server's set-up rather than the JVM's first Spark jobs
    val (warm, _) = bootstrap(spark, s"$work/serve_0",
      new String(Files.readAllBytes(Paths.get(plan.get("warm_upload").asText())), UTF_8))
    warm.server.stop()
    Log.phase("untimed bootstrap done")
    // set-up: `setups` bootstraps; the last one serves the run
    val tracer = if (trace) Some(new Trace(spark)) else None
    val boots = (1 to setups).map { i =>
      if (i == setups) tracer.foreach(_.attach())
      val (srv, op) = bootstrap(spark, s"$work/serve_$i", uploadBody)
      if (!op.ok) errors += s"set-up upload $i failed"
      Log.phase(f"set-up $i: ${(op.end - op.start) / 1000.0}%.2f s")
      if (i < setups) srv.server.stop()
      (srv, op)
    }
    val srv = boots.last._1
    tracer.foreach(_.detach())
    val liveMb = Util.liveHeapMb()
    val bootOp = boots.last._2

    val openReqs = reqs(plan, "open")
    val closedReqs = reqs(plan, "closed")
    Log.phase("set-up done")
    // untimed warm-up: JIT and the server's lazy state, off the clock
    closedLoop(srv, reqs(plan, "warmup"), clients, plan.get("warmup_seconds").asDouble(), "warmup")
    Log.phase("warm-up done")
    val answered = mutable.ArrayBuffer[(Op, Req, String)]()
    val layers = mutable.LinkedHashMap[String, Double]()
    if (!trace) {
      answered ++= openLoop(srv, openReqs, clients)
      if (closedReqs.nonEmpty)
        answered ++= closedLoop(srv, closedReqs, clients, plan.get("closed_seconds").asDouble())
    } else {
      // traced run: the open loop as above (for the generator check),
      // then one client, so spans nest by time containment, alternating
      // untraced and traced blocks of the same request mix to measure the
      // tracing overhead like for like
      answered ++= openLoop(srv, openReqs, clients)
      val stream = (if (closedReqs.nonEmpty) closedReqs else openReqs).take(4 * TraceBlock)
      val t = new Trace(spark)
      val blocks = stream.grouped(TraceBlock).zipWithIndex.map { case (rs, i) =>
        if (i % 2 == 0) closedLoop(srv, rs, 1, 600, "untraced")
        else {
          t.attach()
          try closedLoop(srv, rs, 1, 600, "traced") finally t.detach()
        }
      }.toSeq
      val plain = blocks.grouped(2).flatMap(_.head).toSeq
      val traced = blocks.grouped(2).flatMap(_.drop(1).flatten).toSeq
      answered ++= plain ++ traced
      def searchMs(xs: Seq[(Op, Req, String)]) =
        xs.filter(_._2.kind == "search").map(x => x._1.end - x._1.start)
      layers ++= serveLayers(spark, t, tracer.get, traced, srv, bootOp, cpus)
      val bootPins = tracer.get.pins
      layers ++= t.pins.map { case (k, v) =>
        k -> (if (k == "operators.pins") v + bootPins(k) else math.max(v, bootPins(k))) }
      layers("trace.overhead_pct") = Stats.overheadPct(searchMs(plain), searchMs(traced))
    }

    Log.phase("timed phases done")
    // ---- checks, outside the timed phases ----
    val bf = new BruteForce(spark, srv.dir)
    val deletedAt = mutable.HashMap[Long, Double]()
    answered.foreach { case (op, r, _) =>
      if (r.kind == "delete" && op.ok)
        deletedAt(Json.mapper.readTree(r.body).get("document_id").asLong()) = op.end
    }
    answered.foreach { case (op, r, body) =>
      if (!op.ok) errors += s"${r.kind} failed: ${body.take(200)}"
      else if (r.kind == "search") {
        val jr = Json.mapper.readTree(r.body)
        parseAnswer(body) match {
          case None => errors += s"unparseable search answer: ${body.take(200)}"
          case Some((ids, sims)) =>
            shapeError(jr, ids, sims).foreach(e => errors += s"search '${jr.get("text").asText()}': $e")
            ids.filter(id => deletedAt.get(id).exists(_ < op.start))
              .foreach(id => errors += s"deleted document $id answered at ${op.start}")
        }
      }
    }
    // sampled exhaustive answers against the brute force
    val checks = plan.get("exhaustive_checks").elements().asScala.map(_.asText()).toSeq
    checks.foreach { body =>
      val jr = Json.mapper.readTree(body)
      val (status, resp) = post(srv.port, "/api/search", body)
      parseAnswer(resp) match {
        case Some((ids, sims)) if status == 200 =>
          val ranked = bf.ranked(jr.get("text").asText())
          exhaustiveError(ids, sims, page(ranked, jr), ranked.toMap)
            .foreach(e => errors += s"exhaustive '${jr.get("text").asText()}': $e")
        case _ => errors += s"exhaustive search failed: ${resp.take(200)}"
      }
    }
    // recall@count of default-nprobe answers (the corpus is static only
    // in the read workloads)
    val recalls = if (workload == "serve_mixed") Nil else {
      val memo = mutable.HashMap[String, Seq[(Long, Double)]]()
      answered.collect { case (op, r, body) if op.ok && r.kind == "search" =>
        val jr = Json.mapper.readTree(r.body)
        val centroids = Option(jr.get("centroids")).map(_.asInt()).getOrElse(1)
        if (centroids != 1) None else parseAnswer(body).map { case (ids, _) =>
          val exp = page(memo.getOrElseUpdate(jr.get("text").asText(),
            bf.ranked(jr.get("text").asText())), jr).map(_._1).toSet
          if (exp.isEmpty) 1.0 else ids.count(exp).toDouble / exp.size
        }
      }.flatten.toSeq
    }

    Log.phase("checks done")
    val indexDir = new java.io.File(s"${srv.dir}/index")
    val props = Map(
      "corpus_docs" -> bf.nDocs, "corpus_chunks" -> bf.nChunks,
      "ivf_lists" -> IvfIndex.loadModel(spark, s"${srv.dir}/model").k,
      "index_files" -> Util.files(indexDir).size,
      "index_bytes" -> Util.files(indexDir).map(_.length).sum,
      "data_bytes" -> Util.files(new java.io.File(srv.dir)).map(_.length).sum)
    srv.server.stop()
    Map(
      "setup_s" -> boots.map(b => (b._2.end - b._2.start) / 1000.0),
      "live_heap_mb" -> liveMb,
      "ops" -> (boots.map(b => Json.op(b._2)) ++
        answered.map { case (op, r, _) => Json.op(op.copy(name = r.body)) }),
      "recalls" -> recalls,
      "errors" -> errors,
      "props" -> props,
      "layers" -> layers)
  }

  /** Per-layer metrics of the traced serving phase. */
  private def serveLayers(spark: SparkSession, t: Trace, bootTrace: Trace,
      phase: Seq[(Op, Req, String)], srv: Server, bootOp: Op, cpus: Int): Map[String, Double] = {
    val ops = phase.map(_._1)
    val rs = phase.map(_._2)
    val bodies = phase.map(_._3)
    val searches = ops.zip(rs).filter(_._2.kind == "search").map(_._1)
    val uploads = ops.zip(rs).filter(_._2.kind == "upload").map(_._1)
    val sCost = searches.map(t.costOf)
    def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    val rowsOut = ops.zip(rs).zip(bodies).collect { case ((o, r), b) if r.kind == "search" =>
      parseAnswer(b).map(_._1.size).getOrElse(0) }.sum
    // uploads: the workload's own when it has them, else the traced
    // cold-bootstrap upload of the set-up
    val (ups, uCost) =
      if (uploads.nonEmpty) (uploads, uploads.map(t.costOf))
      else (Seq(bootOp), Seq(bootTrace.costOf(bootOp)))
    val model = IvfIndex.loadModel(spark, s"${srv.dir}/model")
    Map(
      "server.search_self_ms" -> mean(searches.zip(sCost).map { case (o, c) =>
        o.end - o.start - c.planMs - c.jobMs }),
      "server.upload_self_ms" -> mean(ups.zip(uCost).map { case (o, c) =>
        o.end - o.start - c.planMs - c.jobMs }),
      "server.bytes_out_per_search" -> mean(searches.map(_.bytesOut.toDouble)),
      "search_service.jobs_per_search" -> mean(sCost.map(_.jobs.toDouble)),
      "search_service.plan_ms_per_search" -> mean(sCost.map(_.planMs)),
      "index.rows_scored_per_result" -> sCost.map(_.inRecords).sum.toDouble / math.max(rowsOut, 1),
      "sources.scan_bytes_per_search" -> mean(sCost.map(_.inBytes.toDouble)),
      "sources.write_bytes_per_user_byte" ->
        uCost.map(_.outBytes).sum.toDouble / math.max(ups.map(_.bytesOut).sum, 1L),
      "sources.index_files" -> Util.files(new java.io.File(s"${srv.dir}/index")).size.toDouble,
      "sources.index_bytes" -> Util.files(new java.io.File(s"${srv.dir}/index")).map(_.length).sum.toDouble,
      "index.probe_us" -> Micro.probeUs(model)
    ) ++ t.sparkLayer(ops, cpus)
  }
}
