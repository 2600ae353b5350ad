package graftbench

import java.io.File
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.qualityScore
import graft.operators.{Bpe, Dedup, Sampling}
import graft.{ChunkCatalog, ClusterCatalog, IvfCatalog, ScaleGen}

/** `batch`: offline work over a larger corpus. Each step is one
  * repetition in a fresh corpus directory, so it pays its own catalog
  * builds: the index (`ChunkCatalog.flatChunks`, `IvfCatalog.assignedChunks`),
  * the near-dup clusters (`ClusterCatalog.clusterIds`), then the curation
  * chain `pipe_curation_full` composes, built here from the same public
  * calls and fully written as parquet. */
class Batch(spark: SparkSession) extends Serving(spark) with Workload {
  val NBase = 200
  val Factor = 8
  /** Base documents of the warm-up corpus: small, as the equivalence check
    * against `pipe_curation_full` asks, but every kernel runs. */
  val WarmupBase = 50
  /** Reads on the warm-up index, as many as `serve_ingest` makes before
    * its timed wave, so the timed reads do not run while the JIT is still
    * compiling the read path. */
  val WarmupReads = 12
  val EvalDocs = 40
  val LeakEvery = 25L
  val SeqBudget = 2048
  val ValidationReads = 16
  val RecallProbes = 64
  /** pipe_curation_full's mixture weights over `lang`. */
  val MixWeights = Map("en" -> 0.5, "de" -> 0.25, "fr" -> 0.25)

  var seed = 0L
  var root: File = _
  var nDocs = 0L
  private var nBase = NBase
  var evalDocs: Seq[Corpus.Doc] = Nil
  var recall = 0.0
  private var recallDone = false
  private var failedChecks = 0
  private var reps = 0
  private val countsSeen = mutable.Map.empty[String, Double]

  val WarmupSalt = 0x7A12L

  def setup(seed: Long, d: File): Unit = corpus(seed, d, NBase)

  private def corpus(seed: Long, d: File, nBase: Int): Unit = {
    this.seed = seed
    this.nBase = nBase
    root = d
    // the eval slice: held-out documents outside the corpus; one corpus
    // document in `LeakEvery` carries a 12-word passage of one of them
    evalDocs = Corpus.fresh(seed ^ 0xE7A1L, 1L << 40, EvalDocs)
    val docs = Corpus.docs(seed, nBase, Factor).map { d =>
      val h = ScaleGen.mix3(seed, d.doc_id, 0x1EA4L)
      if (java.lang.Long.remainderUnsigned(h, LeakEvery) != 0) d
      else {
        val words = evalDocs(java.lang.Long.remainderUnsigned(ScaleGen.mix(h), EvalDocs).toInt)
          .text.split(" ")
        val at = java.lang.Long.remainderUnsigned(ScaleGen.mix(h + 1), math.max(1, words.length - 12)).toInt
        val text = d.text + " " + words.slice(at, at + 12).mkString(" ")
        d.copy(text = text, n_chars = text.length.toLong)
      }
    }
    Corpus.write(spark, docs, new File(d, "source").getPath)
    nDocs = docs.size
    recallDone = false
  }

  /** One repetition over a corpus from another seed, then the composed
    * chain against the registered `pipe_curation_full` on that corpus, row
    * for row (the registered query plays the eval slice with doc_id < 50). */
  def warmup(): Unit = {
    val (measured, measuredRoot) = (seed, root)
    corpus(seed ^ WarmupSalt, new File(root.getParentFile, "warmup"), WarmupBase)
    step(-1, traced = false)
    val docs = graft.Tables.documents(spark, dir)
    val ours = curate(docs, ClusterCatalog.clusterIds(spark, dir), docs.filter(col("doc_id") < 50),
      col("doc_id") < 50, traced = false)._1
    val theirs = graft.SparkEntry.queries("pipe_curation_full")(spark, dir)
    val a = ours.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    val b = theirs.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    if (a != b || a.isEmpty) {
      System.err.println(s"[graftbench] composed curation chain differs from pipe_curation_full " +
        s"(${a.size} vs ${b.size} rows)")
      failedChecks += 1
    }
    corpus(measured, measuredRoot, NBase)
  }

  private def stage(df: DataFrame, traced: Boolean, count: String = ""): DataFrame =
    if (!traced) df
    else {
      val p = materialize(df)
      if (count.nonEmpty) countsSeen(count) = p.count().toDouble
      p
    }

  /** The curation chain of `pipe_curation_full`, composed from the public
    * operators: span scrub → near-dup cluster representatives → quality
    * gate → span decontamination against the eval slice → mixture → split
    * → BPE token count → packing into `SeqBudget`-token sequences. Returns
    * the packed manifest and the decontaminated (doc_id, text) frame it was
    * drawn from. */
  def curate(docs: DataFrame, clusters: => DataFrame, evalSet: DataFrame, isEval: Column,
             traced: Boolean): (DataFrame, DataFrame) = {
    val scrubbed = Trace.span("Dedup", "scrubDuplicateSpans")(
      stage(Dedup.scrubDuplicateSpans(docs), traced, "flagged"))
    val base = docs.join(scrubbed, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"), col("lang"),
        coalesce(col("scrubbed_text"), col("text")).as("text"))
    val rep = Trace.span("ClusterCatalog", "clusterIds")(stage(
      base.join(clusters, Seq("doc_id")).filter(col("cluster_id") === col("doc_id"))
        .drop("cluster_id"), traced, "representatives"))
    val gated = Trace.span("TextFunctions", "qualityScore") {
      val g = rep.filter(qualityScore(col("text"), lit(null).cast("string"),
        lit(null).cast("string")) >= 0.25).persist()
      if (traced) countsSeen("gated") = g.count().toDouble
      g
    }
    val train0 = gated.filter(!isEval)
    val clean = Trace.span("Dedup", "contaminatedSpans") {
      val dirty = Dedup.contaminatedSpans(train0.select(col("doc_id"), col("text")),
        evalSet.select(col("doc_id"), col("text")), k = 8)
        .select(col("doc_id")).distinct()
      train0.join(dirty, Seq("doc_id"), "left_anti").localCheckpoint(true)
    }
    val mixed = Trace.span("Sampling", "mixtureResample")(stage(
      Sampling.mixtureResample(clean, "doc_id", "lang", MixWeights)
        .withColumn("split", Sampling.splitColumn(col("doc_id"),
          Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1))), traced))
    val tokens = Trace.span("Bpe", "tokenCount")(stage(
      mixed.select(col("doc_id"), col("source"), col("lang"), col("split"),
        Bpe.tokenCount(col("text"), Bpe.frozen).as("n_tokens"))
        .withColumn("shard", concat_ws("#", col("split"), col("lang"),
          pmod(Sampling.hashBucket(col("doc_id"), "pack"), lit(8L)).cast("string"))), traced))
    val packed = Trace.span("Sampling", "packSequences")(
      Sampling.packSequences(tokens, col("n_tokens"), budget = SeqBudget,
        shardCol = "shard", idCol = "doc_id")
        .select(col("doc_id"), col("source"), col("lang"), col("split"), col("n_tokens"),
          col("pack_start"), col("pack_end"), col("start_offset")))
    (packed, clean.select(col("doc_id"), col("text")))
  }

  def step(i: Int, traced: Boolean): Seq[Op] = {
    val repDir = new File(root, s"rep${reps}")
    reps += 1
    new File(repDir, "documents.parquet").mkdirs()
    Files.copy(new File(root, "source/documents.parquet/part-00000.parquet").toPath,
      new File(repDir, "documents.parquet/part-00000.parquet").toPath)
    dir = repDir.getPath

    val (nChunks, chunkStore) = Op.write("chunk_store", nDocs)(Trace.span("ChunkCatalog", "flatChunks")(
      ChunkCatalog.flatChunks(spark, dir)))(_ => true)
    val (_, ivfIndex) = Op.write("ivf_index", 0)(Trace.span("IvfCatalog", "assignedChunks")(
      IvfCatalog.assignedChunks(spark, dir, NList)))(_ => true)
    // validation reads against the fresh index: well-formed, attributed,
    // and what the batched probe returns for the same texts
    val probe = queryPool(seed ^ reps, Corpus.docs(seed, nBase, 1).toIndexedSeq, RecallProbes)
    val expected = ivfAnswers(probe)
    // the warm-up repetition (step -1) needs the read path warm, not its numbers
    val reads = probe.take(if (i < 0) WarmupReads else ValidationReads).map { text =>
      val (rows, ms) = Util.timed(ivf(text, traced))
      Op("ivf", ms, wellFormed(rows) &&
        rows.map(_.getAs[String]("chunk_id")).toSeq == expected(text).map(_._1), read = true)
    }
    if (i >= 0 && !recallDone) { recall = recallOf(expected, exactAnswers(probe)); recallDone = true }
    val docs = graft.Tables.documents(spark, dir)
    if (traced) Trace.span("Dedup", "minHashPairsFast") {
      countsSeen("pairs") = Dedup.minHashPairsFast(docs.select(col("doc_id"), col("text"))).count()
    }
    val (clusters, clusterBuild) = Op.write("clusters", 0)(Trace.span("ClusterCatalog", "build")(
      ClusterCatalog.clusterIds(spark, dir)))(_ => true)
    val out = new File(repDir, "curated").getPath
    val evalSet = spark.createDataFrame(evalDocs)
    val (((_, clean), curation), plans) = PlanCapture.capturing(Op.write("curate", 0) {
      val (packed, clean) = curate(docs, clusters, evalSet, lit(false), traced)
      packed.write.mode("overwrite").parquet(out)
      (packed, clean)
    }(_ => true))
    if (traced) countsSeen("chunks") = nChunks.count().toDouble

    // the timed write ran the kernels: the written plan computes the BPE
    // token count, and the gate upstream of it evaluated the quality score
    val guard = plans.exists(p => p.contains("pack_start") &&
        "UDF\\(text#\\d+\\) AS n_tokens".r.findFirstIn(p).nonEmpty) &&
      plans.exists(_.contains("(?m)^#{1,6}"))
    if (!guard) System.err.println("[graftbench] curation write plan lost its kernel projections")
    val packsOk = checkOutput(out, clean)
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist())
    Seq(chunkStore, ivfIndex, clusterBuild, curation.copy(ok = guard && packsOk)) ++ reads
  }

  /** Packs hold at most `SeqBudget` tokens; no eval document survives, and
    * no surviving text shares a verbatim 8-token window with the eval slice
    * (windows over `Dedup.wordsScala`, the dedup tokenization's driver-side
    * twin). */
  private def checkOutput(out: String, clean: DataFrame): Boolean = {
    val rows = spark.read.parquet(out)
      .withColumn("shard", concat_ws("#", col("split"), col("lang"),
        pmod(Sampling.hashBucket(col("doc_id"), "pack"), lit(8L)).cast("string")))
      .collect()
    val evalIds = evalDocs.map(_.doc_id).toSet
    val packsOk = rows.forall { r =>
      val so = r.getAs[Long]("start_offset")
      val n = r.getAs[Long]("n_tokens")
      so >= 0 && so < SeqBudget &&
        r.getAs[Long]("pack_end") == r.getAs[Long]("pack_start") + math.max(0L, (so + n - 1) / SeqBudget)
    }
    def windows(text: String) = Dedup.wordsScala(text).sliding(8).filter(_.length == 8).map(_.toSeq)
    val evalWindows = evalDocs.flatMap(d => windows(d.text)).toSet
    val kept = rows.map(_.getAs[Long]("doc_id")).toSet
    val noEval = rows.forall(r => !evalIds.contains(r.getAs[Long]("doc_id"))) &&
      clean.collect().forall(r => !kept.contains(r.getLong(0)) || !windows(r.getString(1)).exists(evalWindows))
    val packs = rows.groupBy(_.getAs[String]("shard")).values
      .map(rs => rs.map(_.getAs[Long]("pack_end")).max + 1).sum
    countsSeen("pack_fill") = rows.map(_.getAs[Long]("n_tokens")).sum.toDouble /
      math.max(packs * SeqBudget, 1L)
    if (!packsOk) System.err.println("[graftbench] a curation pack exceeds its token budget")
    if (!noEval) System.err.println("[graftbench] an eval document survived decontamination")
    rows.nonEmpty && packsOk && noEval
  }

  def finish(ops: Seq[Op]): (Seq[(String, Double, String)], Int) = {
    def rate(kinds: String*) = ops.count(_.kind == "chunk_store") * nDocs /
      (ops.filter(o => kinds.contains(o.kind)).map(_.ms).sum / 1000)
    (Seq(("index_docs_per_s", rate("chunk_store", "ivf_index"), "docs/s"),
      ("curate_docs_per_s", rate("clusters", "curate"), "docs/s"),
      ("ivf_p50_ms", Util.median(ops.filter(_.kind == "ivf").map(_.ms)), "ms"),
      ("error_rate", (ops.count(!_.ok) + failedChecks).toDouble / (ops.size + failedChecks), "fraction")),
      failedChecks)
  }

  def counts: Map[String, Double] = {
    def c(k: String) = countsSeen.getOrElse(k, 0.0)
    Map("Chunker.chunks_per_doc" -> c("chunks") / nDocs,
      "Similarity.rows_scanned_per_query" -> probedRows.toDouble / math.max(probes, 1),
      "Dedup.pairs_per_doc" -> c("pairs") / nDocs,
      "Dedup.spans_flagged_per_doc" -> c("flagged") / nDocs,
      "TextFunctions.gate_pass_ratio" -> c("gated") / math.max(c("representatives"), 1.0),
      "Sampling.pack_fill" -> c("pack_fill"))
  }
}
