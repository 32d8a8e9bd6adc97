package lifebench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Cli
import graft.pipeline._

final case class OpRec(name: String, layer: String, ms: Double, ok: Boolean,
    error: String)

/** The benchmark's single client: runs one operation at a time, times it,
  * opens its span, and records a failure instead of stopping the loop.
  * `facts` holds values the output checks read after the run.
  */
final class Client {
  val ops = mutable.ArrayBuffer[OpRec]()
  val facts = mutable.LinkedHashMap[String, Any]()
  /** Sampled after every operation when set (traced iterations). */
  var afterOp: () => Double = null
  val afterOpSamples = mutable.ArrayBuffer[Double]()

  def op[T](name: String, layer: String)(body: => T): Option[T] = {
    val t0 = System.nanoTime()
    def ms = (System.nanoTime() - t0) / 1e6
    val result = try {
      val v = Trace.span(name, layer)(body)
      ops += OpRec(name, layer, ms, ok = true, "")
      Some(v)
    } catch {
      case NonFatal(e) =>
        ops += OpRec(name, layer, ms, ok = false,
          (e.toString + " @ " + e.getStackTrace.take(3).mkString(" < "))
            .take(600))
        None
    }
    if (afterOp != null) afterOpSamples += afterOp()
    result
  }
}

trait Workload {
  /** Read inputs and fill what serving needs before the first request.
    * Returns named set-up timings in seconds.
    */
  def prepare(spark: SparkSession): Map[String, Double] = Map.empty

  /** Runs before each iteration, outside its timing. */
  def beforeIteration(): Unit = ()

  def iteration(spark: SparkSession, out: String, client: Client): Unit
}

object Workload {
  def apply(name: String, in: String): Workload = name match {
    case "cdm_cycle" => new CdmCycle(in)
    case "search_warm" => new SearchWarm(in)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Order-insensitive digest of a collected result. */
  def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.map(_.toString).sorted.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }
}

/** The reference lifecycle over three site namespaces: post-load, the
  * N-way merges that build the DCC namespace, the six derivation
  * packages, eras, observation periods and one id-map cycle.
  */
final class CdmCycle(in: String) extends Workload {
  private val sites = Seq("site_a", "site_b", "site_c")
  private val siteDirs = sites.map(s => s"$in/$s")
  private val dims = Seq("region", "nation", "supplier", "part")

  def iteration(spark: SparkSession, out: String, c: Client): Unit = {
    val ns = s"$out/dcc_ns"
    def cli(args: String*): Unit = Cli.run(spark, args.toList)
    c.op("post_load", "operators") {
      cli(Seq("post-load", s"$out/post") ++
        sites.zip(siteDirs).map { case (s, d) => s"$s:$d" }: _*)
    }
    c.op("merge_lineitem", "operators") {
      cli(Seq("merge", s"$ns/lineitem.parquet", "lineitem") ++ siteDirs: _*)
    }
    c.op("merge_customer", "operators") {
      cli(Seq("merge", s"$ns/customer.parquet", "customer") ++ siteDirs: _*)
    }
    // the merged orders and the shared dimensions complete the namespace;
    // after an earlier failure the steps that read them fail in turn
    scala.util.Try {
      Files.createDirectories(Paths.get(ns))
      Files.move(Paths.get(s"$out/post/dcc/orders"),
        Paths.get(s"$ns/orders.parquet"), StandardCopyOption.ATOMIC_MOVE)
      dims.foreach(d => Files.copy(Paths.get(s"$in/dims/$d.parquet"),
        Paths.get(s"$ns/$d.parquet")))
    }
    c.op("run_derivations", "derivations") {
      cli("run-derivations", ns, s"$out/derived")
    }
    c.op("eras", "operators") { cli("eras", ns, s"$out/eras") }
    c.op("obs_period", "operators") { cli("obs-period", ns, s"$out/obs_period") }
    c.op("create_id_maps", "operators") {
      cli("create-id-maps", ns, "orders", s"$out/ids1")
    }
    c.op("id_transform", "operators") {
      cli("id-transform", s"$in/delta", "orders", "o_orderkey", s"$out/ids1",
        s"$out/delta_out")
    }
    c.op("idmap_copy", "operators") {
      cli("idmap-copy", s"$out/ids1", s"$out/ids2", "orders")
    }
    c.op("populate_last_id", "operators") {
      cli("populate-last-id", s"$out/ids2", "orders")
    }
  }
}

/** The curation lane over a small corpus, from cold stores: crawl
  * admission, exact and MinHash dedup, the quality funnel, BPE train
  * (through `TokenizerStore`) and encode, shard write and certification.
  */
final class CurationSlice(in: String) {
  private val Merges = 12
  private val ShardToks = 4096L

  /** Empties the stores the lane fills, so every pass takes the miss path. */
  def coldStores(): Unit = {
    TokenizerStore.clear()
    DedupStore.clear()
    ClassifierStore.clear()
  }

  def run(spark: SparkSession, out: String, c: Client): Unit = {
    import spark.implicits._
    val ns = s"$out/crawl_ns"
    c.op("crawl", "pipeline") {
      val docs = spark.read.parquet(s"$in/curation/documents.parquet")
      val extracted = Web.extractCaptures(Web.encodeCaptures(
        docs.select(col("doc_id"), col("text")).as[(Long, String)])).toDF()
      val admitted = Web.admissionVerdicts(extracted)
        .filter(col("admitted") === 1).select(col("doc_id"))
      extracted.join(admitted, "doc_id").select(col("doc_id"), col("text"))
        .write.parquet(s"$ns/documents.parquet")
    }
    // read inside each step, so a failed step fails the ones that need
    // its output instead of the run
    def corpus = spark.read.parquet(s"$ns/documents.parquet")
    c.op("dedup_exact", "pipeline") {
      Dedup.exact(corpus, "doc_id", "text").write.parquet(s"$out/exact")
    }
    c.op("dedup_minhash", "pipeline") {
      Dedup.minhashPairs(corpus, "doc_id", "text", k = 3, numHashes = 12,
        bands = 6, threshold = 0.5).write.parquet(s"$out/minhash")
    }
    c.op("quality", "pipeline") {
      val survivors = corpus
        .join(spark.read.parquet(s"$out/exact")
          .select(col("keep_id").as("doc_id")), Seq("doc_id"), "left_semi")
        .join(spark.read.parquet(s"$out/minhash")
          .select(col("doc_b").as("doc_id")), Seq("doc_id"), "left_anti")
      val passed = Curation.funnelFlags(survivors, "doc_id", "text",
          profile = Curation.GateProfile.wordSalad)
        .filter(col("keep") === 1 && col("page_keep") === 1)
        .select(col("doc_id"))
      survivors.join(passed, Seq("doc_id"), "left_semi")
        .write.parquet(s"$out/kept")
    }
    def kept = spark.read.parquet(s"$out/kept")
    val vocab = c.op("bpe_train", "stores") {
      TokenizerStore.bpe(kept, s"$out/kept", "text", Merges)._2
    }
    c.op("bpe_encode", "pipeline") {
      Bpe.encodeWith(kept, "doc_id", "text", vocab.get)
        .write.parquet(s"$out/encoded")
    }
    c.op("shard_write", "pipeline") {
      val docs = kept
      Shards.write(docs, "doc_id", "text",
        Curation.globalShardManifest(docs, "doc_id", "text", ShardToks),
        s"$out/shards")
    }
    c.op("certify", "pipeline") {
      Shards.certify(spark, s"$out/shards").write.parquet(s"$out/certify")
    }
  }
}

/** Serving over a warm BM25 index and warm k-means means, after a
  * curation slice that fills the other stores from cold: each iteration
  * runs [[CurationSlice]], then one rotation of seeded query batches
  * through BM25, query likelihood and IVF. The store layer is thus used
  * both ways in one pass (misses that fill, hits that serve). Iterations
  * repeat the same batches, so their results must be identical.
  */
final class SearchWarm(in: String) extends Workload {
  private val K = 10
  private var docs: DataFrame = _
  private var emb: DataFrame = _
  private var index: Retrieval.Bm25Index = _
  private var textBatches: IndexedSeq[DataFrame] = _
  private var vecBatches: IndexedSeq[DataFrame] = _
  private val curation = new CurationSlice(in)

  private def means(): DataFrame =
    TrainedIndexStore.kmeansMeans(emb, "vec_id", "embedding",
      centroidFilter = col("vec_id") % 50 === 0, iters = 2)

  /** Query batches as in-memory relations, the way a serving client
    * hands them to the engine. Lines are `batch \t id \t payload`.
    */
  private def batches(spark: SparkSession, path: String, schema: StructType)(
      payload: String => Any): IndexedSeq[DataFrame] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    val lines = try src.getLines().map(_.split("\t", 3)).toVector
      finally src.close()
    lines.groupBy(_(0).toInt).toIndexedSeq.sortBy(_._1).map { case (_, rs) =>
      spark.createDataFrame(java.util.Arrays.asList(
        rs.map(r => Row(r(1).toLong, payload(r(2)))): _*), schema)
    }
  }

  override def prepare(spark: SparkSession): Map[String, Double] = {
    docs = spark.read.parquet(s"$in/corpus/documents.parquet")
    emb = spark.read.parquet(s"$in/corpus/embeddings.parquet")
    textBatches = batches(spark, s"$in/queries/text.tsv", StructType(Seq(
      StructField("query_id", LongType), StructField("qtext", StringType))))(
      identity)
    vecBatches = batches(spark, s"$in/queries/vectors.tsv",
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)))))(
      _.split(" ").map(_.toFloat).toSeq)
    val t0 = System.nanoTime()
    val idx = Retrieval.bm25Index(docs, "doc_id", "text")
    index = Retrieval.Bm25Index(idx.postings.localCheckpoint(),
      idx.doclen.localCheckpoint(), idx.stats.localCheckpoint())
    val t1 = System.nanoTime()
    means()
    val t2 = System.nanoTime()
    Map("index_build_s" -> (t1 - t0) / 1e9, "store_fill_s" -> (t2 - t1) / 1e9)
  }

  /** Runs one query batch and records its result digest and row count. */
  private def answer(c: Client, key: String, layer: String)(
      rows: => Array[Row]): Unit =
    c.op(key, layer) {
      val r = rows
      c.facts(key) = Workload.digest(r)
      c.facts(s"${key}_rows") = r.length
    }

  override def beforeIteration(): Unit = curation.coldStores()

  def iteration(spark: SparkSession, out: String, c: Client): Unit = {
    curation.run(spark, out, c)
    answer(c, "bm25", "retrieval") {
      Retrieval.bm25TopKIndexed(index, textBatches(0), "query_id", "qtext", K)
        .collect()
    }
    answer(c, "ql", "retrieval") {
      Retrieval.qlTopK(docs, "doc_id", "text", textBatches(1), "query_id",
        "qtext", K).collect()
    }
    answer(c, "ivf", "similarity") {
      val m = Trace.span("kmeans_means", "stores")(means())
      Similarity.ivfTopKWith(emb, vecBatches(0), "vec_id", "embedding",
        Similarity.centroidsFromMeans(m), k = K, nprobe = 2).collect()
    }
  }
}
