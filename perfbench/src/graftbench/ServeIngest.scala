package graftbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.pipelines.Pipelines
import graft.streaming.StreamingIngest
import graft.{ChunkCatalog, Compaction, DocLifecycle, IvfCatalog, ScaleGen, TableStore}

/** `serve_ingest`: retrieval against a chunk store and IVF index built in
  * set-up, interleaved in the client thread with write waves. Each step is
  * one wave:
  *  - one `StreamingIngest.ingestDocBatch` batch: new documents plus
  *    redelivered ones, near-dup flagging on;
  *  - one `DocLifecycle.upsertDocChunks` edit of a stored document;
  *  - on every second wave, `Compaction.compactTable` of the chunk store and
  *    `DocLifecycle.compactDocCells`;
  *  - then unique reads: `Pipelines.flagshipIvf` for a document the wave
  *    just wrote, for the edited document's new text and for `PoolReads`
  *    pool texts, and a hybrid `Orchestrator.search` + `packContextWindow`
  *    for one more pool text. */
class ServeIngest(spark: SparkSession) extends Serving(spark) with Workload {
  val NBase = 250
  val Factor = 4
  val NewPerWave = 16
  val RedeliveredPerWave = 4
  val PoolReads = 3
  val RecallProbes = 64
  val WarmupSalt = 0x7A11L

  var seed = 0L
  private var content = 0L // seed of the texts a wave writes and reads
  var docs: IndexedSeq[Corpus.Doc] = _
  private var pool: IndexedSeq[String] = _
  private var warmPool: IndexedSeq[String] = _
  var recall = 0.0
  private var wave = 0
  private var nextId = 0L
  private var nextRead = 0
  private val freshness = mutable.ArrayBuffer.empty[Double]
  private var offered = 0L
  private var appended = 0L
  private var rewritten = 0L
  private var failedChecks = 0

  def storeName: String = TableStore.physGen(IvfCatalog.chunkStoreName(dir, NList),
    TableStore.currentGen(spark, IvfCatalog.chunkGroup(dir, NList)))

  def setup(seed: Long, d: File): Unit = {
    this.seed = seed
    content = seed
    dir = new File(d, "corpus").getPath
    docs = Corpus.docs(seed, NBase, Factor).toIndexedSeq
    Corpus.write(spark, docs, dir)
    ChunkCatalog.flatChunks(spark, dir)
    IvfCatalog.assignedChunks(spark, dir, NList)
    ChunkCatalog.childChunks(spark, dir)
    DocLifecycle.docCells(spark, dir, NList)
    pool = queryPool(seed, docs, 128 + RecallProbes)
    warmPool = queryPool(seed ^ WarmupSalt, Corpus.docs(seed ^ WarmupSalt, NBase, 1).toIndexedSeq, 16)
    nextId = docs.size.toLong
  }

  /** One wave, with compaction, of documents and reads drawn from another
    * seed, then more reads: the read path runs most often. */
  def warmup(): Unit = {
    content = seed ^ WarmupSalt
    val measured = pool
    pool = warmPool
    try { step(-1, traced = false); (0 until 4).foreach(_ => ivf(nextText(), traced = false)) }
    finally {
      content = seed; pool = measured; nextRead = 0
      freshness.clear(); offered = 0; appended = 0; rewritten = 0
    }
  }

  def step(i: Int, traced: Boolean): Seq[Op] = {
    val ops = mutable.ArrayBuffer.empty[Op]
    val w = wave
    wave += 1
    // ------------------------------------------------------------ writes
    val fresh = Corpus.fresh(content, nextId, NewPerWave)
    nextId += NewPerWave
    val redelivered = (0 until RedeliveredPerWave).map { j =>
      docs(java.lang.Long.remainderUnsigned(ScaleGen.mix3(content, w, j), docs.size.toLong).toInt)
    }
    Corpus.write(spark, fresh, dir, f"wave$w%05d")
    val batch = spark.createDataFrame(fresh ++ redelivered)
    val ((dropped, added), ingest) = Op.write("ingest", fresh.size + redelivered.size)(
      Trace.span("StreamingIngest", "ingestDocBatch")(
        StreamingIngest.ingestDocBatch(batch, dir, NList, flagNearDups = true)))(_._2 > 0)
    freshness += ingest.ms
    offered += dropped + added; appended += added
    ops += ingest

    // one edit: a stored document gets new text; its old chunk ids must go
    val target = docs(java.lang.Long.remainderUnsigned(ScaleGen.mix3(content, w, 0xED17L),
      docs.size.toLong).toInt)
    val newText = Corpus.baseText(ScaleGen.mix3(content, 0xED17L, w), target.doc_id)
    val oldIds = chunkIdsOf(target.doc_id)
    val edit = spark.createDataFrame(Seq(target.copy(text = newText, n_chars = newText.length.toLong)))
    val (_, upsert) = Op.write("upsert", 1)(Trace.span("DocLifecycle", "upsertDocChunks")(
      DocLifecycle.upsertDocChunks(spark, dir, edit, NList)))(_ => true)
    freshness += upsert.ms
    ops += upsert.copy(ok = chunkIdsOf(target.doc_id).intersect(oldIds).isEmpty)

    if (i % 2 == 0 || i < 0) {
      val (report, compact) = Op.write("compact", 0)(Trace.span("Compaction", "compactTable")(
        Compaction.compactTable(spark, storeName, idCol = "chunk_id",
          leaseScope = IvfCatalog.chunkStoreName(dir, NList))))(_.aborted.isEmpty)
      rewritten += report.compacted.map(_.bytes).sum
      ops += compact
      ops += Op.write("compact_cells", 0)(Trace.span("DocLifecycle", "compactDocCells")(
        DocLifecycle.compactDocCells(spark, dir, NList)))(_ => true)._2
    }

    // ------------------------------------------------------------- reads
    val newDoc = fresh(java.lang.Long.remainderUnsigned(ScaleGen.mix3(content, w, 0xEAD),
      fresh.size.toLong).toInt)
    (Seq(newDoc.doc_id -> newDoc.text, target.doc_id -> newText) ++
        (0 until PoolReads).map(_ => -1L -> nextText())).foreach {
      case (docId, text) =>
        val (rows, ms) = Util.timed(ivf(text, traced))
        val found = docId < 0 || rows.exists(_.getAs[Long]("document_id") == docId)
        ops += Op("ivf", ms, wellFormed(rows) && found, read = true)
    }
    val (packedRows, oMs) = Util.timed(orchestrate(nextText(), traced))
    ops += Op("orchestrator", oMs, packed(packedRows), read = true)

    // every document this wave wrote is retrievable by its own text
    if (i >= 0) retrievable(w, fresh.map(f => f.text -> f.doc_id) :+ (newText -> target.doc_id))
    ops.toSeq
  }

  private def retrievable(w: Int, expect: Seq[(String, Long)]): Unit = {
    val got = Pipelines.flagshipIvfBatch(spark, dir, expect.map(_._1).distinct, k = K,
        nlist = NList, nprobe = NProbe)
      .select("query_text", "document_id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val missing = expect.count(e => !got.contains(e))
    if (missing > 0) {
      System.err.println(s"[graftbench] wave $w: $missing written documents not retrievable")
      failedChecks += 1
    }
  }

  /** A pool text no earlier read of this run asked for. */
  private def nextText(): String = { nextRead += 1; pool((nextRead - 1) % pool.size) }

  private def chunkIdsOf(docId: Long): Set[String] = {
    spark.catalog.refreshTable(storeName)
    spark.table(storeName).filter(col("document_id") === docId)
      .select("chunk_id").collect().map(_.getString(0)).toSet
  }

  def finish(ops: Seq[Op]): (Seq[(String, Double, String)], Int) = {
    spark.catalog.refreshTable(storeName)
    val live = spark.table(storeName).select("document_id").distinct().count()
    val suffix = TableStore.tableName("", dir).stripPrefix("graft_")
    val warehouse = new File(new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir")).toUri.getPath)
    val stored = Option(warehouse.listFiles())
      .getOrElse(Array.empty[File]).filter(_.getName.endsWith(suffix)).map(Util.dirBytes).sum
    val probe = pool.takeRight(RecallProbes)
    recall = recallOf(ivfAnswers(probe), exactAnswers(probe))
    val writes = ops.filterNot(_.read)
    def p50(kind: String) = Util.median(ops.filter(_.kind == kind).map(_.ms))
    (Seq(("freshness_p50_ms", Util.median(freshness.toSeq), "ms"),
      ("ingest_docs_per_s", writes.map(_.docs).sum / (writes.map(_.ms).sum / 1000), "docs/s"),
      ("store_bytes_per_doc", stored.toDouble / live, "B"),
      ("ivf_p50_ms", p50("ivf"), "ms"), ("orchestrator_p50_ms", p50("orchestrator"), "ms"),
      ("error_rate", (ops.count(!_.ok) + failedChecks).toDouble / (ops.size + failedChecks), "fraction")),
      failedChecks)
  }

  def counts: Map[String, Double] = Map(
    "StreamingIngest.appended_per_offered" -> appended.toDouble / math.max(offered, 1),
    "Compaction.bytes_rewritten" -> rewritten.toDouble,
    "Similarity.rows_scanned_per_query" -> probedRows.toDouble / math.max(probes, 1))
}
