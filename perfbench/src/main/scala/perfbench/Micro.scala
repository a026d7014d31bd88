package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.functions.{TextKernels, VectorKernels}
import graft.index.IvfIndex
import graft.streaming.Streams

/** Direct timings of single layers, taken in the traced run: the text and
  * vector kernels on one thread (the reference's prefTest shapes: a
  * 500x512 matrix-pair cosine and 1000x512 (de)quantize), IVF build and
  * probe, and the upload path's chunk-and-embed composition. Each figure
  * is the median of several repetitions after a warm-up repetition. */
object Micro {
  private def medianOf(reps: Int)(f: => Unit): Double = {
    f
    Stats.median((1 to reps).map { _ =>
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
    })
  }

  private def mat(rnd: scala.util.Random, rows: Int, dim: Int): Array[Array[Float]] =
    Array.fill(rows)(Array.fill(dim)(rnd.nextFloat() * 2 - 1))

  @volatile private var sink = 0.0

  def kernels(texts: Seq[String], jsonDocs: Seq[String]): Map[String, Double] = {
    val rnd = new scala.util.Random(42)
    val a = mat(rnd, 500, 512)
    val b = mat(rnd, 500, 512)
    def allPairs(f: (Array[Float], Array[Float]) => Double): Unit = {
      var best = 0.0
      var i = 0
      while (i < a.length) {
        var j = 0
        while (j < b.length) { best = math.max(best, f(a(i), b(j))); j += 1 }
        i += 1
      }
      sink += best
    }
    val q = mat(rnd, 1000, 512)
    val packed = q.map(VectorKernels.quantize)
    val embedText = texts.head
    val nText = texts.size.toDouble
    Map(
      "functions.cosine_500x512_ms" -> medianOf(5)(allPairs(VectorKernels.cosine)),
      "functions.cosine_simd_500x512_ms" -> medianOf(5)(allPairs(VectorKernels.cosineFast)),
      "functions.quantize_1000x512_ms" -> medianOf(9)(q.foreach(v => sink += VectorKernels.quantize(v)(8))),
      "functions.dequantize_1000x512_ms" -> medianOf(9)(packed.foreach(p => sink += VectorKernels.dequantize(p)(0))),
      "functions.noop_embed_us" -> medianOf(9)((1 to 1000).foreach(i =>
        sink += VectorKernels.noopEmbed(embedText + i, 64)(8))), // ms per 1000 = us per call
      "functions.flatten_split_us_per_doc" -> medianOf(5)(jsonDocs.foreach(d =>
        sink += TextKernels.split("search_document: ", TextKernels.flattenJson(d), 256).length)) *
        1000.0 / jsonDocs.size,
      "functions.minhash_us_per_doc" -> medianOf(5)(texts.foreach(t =>
        sink += TextKernels.minhashFast(t, 5, 128)(0))) * 1000.0 / nText)
  }

  /** One `Model.probe` at the serving default nprobe, in microseconds. */
  def probeUs(model: IvfIndex.Model): Double = {
    val rnd = new scala.util.Random(7)
    val qs = mat(rnd, 200, model.centroids.head.length)
    medianOf(7)(qs.foreach(v => sink += model.probe(v, 1).head)) * 1000.0 / qs.length
  }

  /** `IvfIndex.build` over a vector table with the serving index
    * parameters, until its assigned rows are materialised; seconds. */
  def buildS(embeddings: DataFrame): (Double, IvfIndex.Model) = {
    var model: IvfIndex.Model = null
    val ms = medianOf(3) {
      val (assigned, m) = IvfIndex.build(embeddings, "embedding",
        IvfIndex.Params(listSize = 64, sampleSize = 50000))
      assigned.write.format("noop").mode("overwrite").save()
      model = m
    }
    (ms / 1000.0, model)
  }

  /** `Streams.chunkEmbed` over a document frame (doc_id, text): chunks
    * per document and milliseconds per document. */
  def chunkEmbed(docs: DataFrame): Map[String, Double] = {
    val n = docs.count().toDouble
    val chunks = Streams.chunkEmbed(docs).count()
    val ms = medianOf(3)(Streams.chunkEmbed(docs).write.format("noop").mode("overwrite").save())
    Map("streaming.chunks_per_doc" -> chunks / n, "streaming.chunk_embed_ms_per_doc" -> ms / n)
  }

  /** Every direct layer timing, over the benchmark's tables. */
  def all(spark: SparkSession, data: String, jsonDocs: Seq[String]): Map[String, Double] = {
    val docs = spark.read.parquet(s"$data/documents.parquet")
    val texts = docs.select("text").limit(1000).collect().map(_.getString(0)).toSeq
    val emb = spark.read.parquet(s"$data/embeddings.parquet")
    val (buildS_, model) = buildS(emb)
    kernels(texts, jsonDocs) ++ Map("index.build_s" -> buildS_, "index.probe_us" -> probeUs(model)) ++
      chunkEmbed(spark.createDataFrame(jsonDocs.zipWithIndex.map { case (d, i) => (i.toLong, d) })
        .toDF("doc_id", "text").select(col("doc_id"), col("text")))
  }
}
