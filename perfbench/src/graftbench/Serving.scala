package graftbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Attribution, Embedder, Fusion, Orchestrator, Similarity, TextSearch, VectorSearch}
import graft.pipelines.Pipelines
import graft.{ChunkCatalog, IvfCatalog, ScaleGen, TableStore}

/** Serving pieces shared by the workloads: the two request kinds
  * (`Pipelines.flagshipIvf`, and hybrid `Orchestrator.search` followed by
  * `Attribution.packContextWindow`) with their checks, the query pool, and
  * the recall of the stored IVF index against exact search. */
class Serving(val spark: SparkSession) {
  val K = 10
  val NList = 16
  val NProbe = 4
  var dir: String = _
  /** Traced IVF requests and the store rows their scans read. */
  var probes = 0
  var probedRows = 0L

  /** `n` distinct query texts, each an 8-word run of a corpus document. */
  def queryPool(seed: Long, docs: IndexedSeq[Corpus.Doc], n: Int): IndexedSeq[String] = {
    val out = scala.collection.mutable.LinkedHashSet.empty[String]
    var j = 0L
    while (out.size < n) {
      val h = ScaleGen.mix3(seed, j, 0x9E11L)
      val words = docs(java.lang.Long.remainderUnsigned(h, docs.size.toLong).toInt).text
        .split("\\s+").map(_.filter(_.isLetterOrDigit)).filter(_.nonEmpty)
      if (words.length >= 8) {
        val start = java.lang.Long.remainderUnsigned(ScaleGen.mix(h), (words.length - 7).toLong).toInt
        out += words.slice(start, start + 8).mkString(" ")
      }
      j += 1
    }
    out.toIndexedSeq
  }

  /** IVF answers for many texts in one call, keyed by text. */
  def ivfAnswers(texts: Seq[String]): Map[String, Seq[(String, Double)]] =
    Pipelines.flagshipIvfBatch(spark, dir, texts, k = K, nlist = NList, nprobe = NProbe)
      .select("query_text", "chunk_id", "score").collect().toSeq
      .groupBy(_.getString(0))
      .map { case (q, rs) => q -> rs.map(r => (r.getString(1), r.getDouble(2))) }

  /** Exact top-K chunk ids per text over the whole chunk store. */
  def exactAnswers(texts: Seq[String]): Map[String, Set[String]] = {
    import spark.implicits._
    val queries = texts.map(t => (t, Embedder.embedText(t).toSeq)).toDF("qid", "qvec")
    val store = IvfCatalog.assignedChunks(spark, dir, NList)
    VectorSearch.knnBatch(store.select("chunk_id", "embedding"), queries, K, idCol = "chunk_id")
      .select("qid", "chunk_id").collect().toSeq
      .groupBy(_.getString(0)).map { case (q, rs) => q -> rs.map(_.getString(1)).toSet }
  }

  def recallOf(ivf: Map[String, Seq[(String, Double)]], exact: Map[String, Set[String]]): Double = {
    val per = exact.toSeq.map { case (q, truth) =>
      ivf.getOrElse(q, Nil).map(_._1).count(truth.contains).toDouble / math.max(truth.size, 1)
    }
    per.sum / math.max(per.size, 1)
  }

  /** One `Pipelines.flagshipIvf` request, collected. Traced, the call is
    * taken apart into the public calls it composes, each layer's output
    * persisted and counted inside its own span. */
  def ivf(text: String, traced: Boolean): Array[Row] =
    if (!traced) Pipelines.flagshipIvf(spark, dir, text, k = K, nlist = NList, nprobe = NProbe).collect()
    else {
      val docs = Trace.span("Pipelines", "documents")(graft.Tables.documents(spark, dir))
      val g = Trace.span("TableStore", "currentGen")(
        TableStore.currentGen(spark, IvfCatalog.chunkGroup(dir, NList)))
      val (store, cents) = Trace.span("IvfCatalog", "stores")(
        (IvfCatalog.assignedChunks(spark, dir, NList, gen = g),
          IvfCatalog.chunkCentroidsStored(spark, dir, NList, gen = g)))
      val qv = Trace.span("Embedder", "embedText")(Embedder.embedText(text))
      val hits = Trace.span("Similarity", "ivfSearchPruned")(
        materialize(Similarity.ivfSearchPruned(store, cents, qv, k = K, nprobe = NProbe, idCol = "chunk_id")))
      probes += 1
      probedRows += Trace.Scans.rows(hits)
      val attached = Trace.span("Attribution", "attachSources")(materialize(
        Attribution.attachSources(hits, docs, "document_id", "doc_id", Seq("lang", "source"))))
      try Trace.span("Pipelines", "rank")(attached
        .select(col("chunk_id"), col("document_id"), round(col("score"), 6).as("score"),
          col("lang"), col("source"), col("word_count"))
        .orderBy(col("score").desc, col("chunk_id").asc).collect())
      finally { attached.unpersist(); hits.unpersist() }
    }

  def materialize(df: DataFrame): DataFrame = { val p = df.persist(); p.count(); p }

  /** At most K rows, ordered by score, every row attributed to a document. */
  def wellFormed(rows: Array[Row]): Boolean =
    rows.length <= K && rows.nonEmpty &&
      rows.map(_.getAs[Double]("score")).sliding(2).forall(p => p.length < 2 || p(0) >= p(1)) &&
      rows.forall(r => r.getAs[String]("lang") != null && r.getAs[String]("source") != null)

  val ContextBudget = 512L

  /** Hybrid `Orchestrator.search`, then packing into a token budget.
    * Traced, each strategy's sub-plan is persisted and counted in its own
    * span first; the real `Orchestrator.search` call then reads them from
    * the cache, so its span covers fusion, payload join and diversity. */
  def orchestrate(text: String, traced: Boolean): Array[Row] = {
    val flat = ChunkCatalog.flatChunks(spark, dir)
    val child = ChunkCatalog.childChunks(spark, dir)
    val cached = if (!traced) Nil else {
      val qv = Trace.span("Embedder", "embedText")(Embedder.embedText(text))
      Orchestrator.selectStrategies(Orchestrator.queryIntent(text), hybridEnabled = true).flatMap { c =>
        c.name match {
          case "hybrid" =>
            val bm25 = Trace.span("TextSearch", "search")(materialize(
              TextSearch.search(flat, text, c.maxResults * 2, "chunk_id", "content")))
            Seq(bm25, Trace.span("Fusion", "hybridSearch")(materialize(
              Fusion.hybridSearch(flat, qv, text, c.maxResults, "chunk_id", "content", "embedding"))))
          case name =>
            Seq(Trace.span("VectorSearch", "knn")(materialize(VectorSearch.knn(
              if (name == "parent_child") child else flat,
              VectorSearch.SearchRequest(qv, limit = c.maxResults, minScore = Some(c.threshold)),
              "embedding", "chunk_id"))))
        }
      }
    }
    try {
      val results = Trace.span("Orchestrator", "search") {
        val r = Orchestrator.search(spark, flat, child, text, maxResults = K, hybridEnabled = true)
        if (traced) materialize(r) else r
      }
      try Trace.span("Attribution", "packContextWindow")(
        Attribution.packContextWindow(results, ContextBudget, ContextBudget / 4, "chunk_id", "content")
          .collect())
      finally results.unpersist()
    } finally cached.foreach(_.unpersist())
  }

  /** Packed rows within the token budget, each with its content. */
  def packed(rows: Array[Row]): Boolean =
    rows.nonEmpty && rows.forall(r => r.getAs[Long]("cum_tokens") <= ContextBudget &&
      r.getAs[String]("content") != null)
}
