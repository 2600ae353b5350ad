package graftbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.SparkSession

import graft.ScaleGen

/** Seeded corpus generator. Base documents are drawn in the fixture's
  * style (whitespace-separated lowercase words, `lang`, `source`), but from
  * a larger Zipf-weighted vocabulary and with sentence punctuation, so BM25,
  * the quality gate and the IVF probe all see a realistic spread. The base
  * set is then upsampled ×`factor` with `ScaleGen`'s own helpers: replica 0
  * is verbatim, `ScaleGen.plantedDoc` replicas are planted near-duplicates
  * (2% of words replaced), and the rest go through
  * `ScaleGen.mutateTextSurvivor`, which plants partial duplicate spans in a
  * `DupFrac` share of them and leaves the others distinct.
  *
  * Every value is a pure function of (seed, doc id, replica); the rows are
  * written as one parquet file with a fixed name, so the same seed gives a
  * byte-identical file and a different seed a different one. */
object Corpus {

  case class Doc(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)

  val DupFrac = 0.15
  val Sources = 20

  /** Pronounceable pseudo-words; fixed, so every seed shares a vocabulary. */
  val Vocab: Array[String] = {
    val on = Array("b", "c", "d", "f", "g", "k", "l", "m", "n", "p", "r", "s", "t", "v", "z", "sh", "st", "tr")
    val nu = Array("a", "e", "i", "o", "u", "ai", "ou")
    val co = Array("", "n", "r", "s", "t", "x", "ck")
    val words = for (a <- on; b <- nu; c <- co; d <- nu.take(3)) yield a + b + c + d
    words.distinct.sortBy(w => ScaleGen.mix(w.hashCode.toLong)).take(3000)
  }

  private val zipfCdf: Array[Double] = {
    val w = Vocab.indices.map(r => 1.0 / math.pow(r + 1, 1.05)).toArray
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }

  private val langs = Array("en" -> 0.4, "zh" -> 0.15, "es" -> 0.15, "fr" -> 0.15, "de" -> 0.15)

  def unit(h: Long): Double =
    java.lang.Long.remainderUnsigned(h, 1L << 40).toDouble / (1L << 40).toDouble

  private def pick(h: Long, n: Int): Int = java.lang.Long.remainderUnsigned(h, n.toLong).toInt

  def word(h: Long): String = {
    val i = java.util.Arrays.binarySearch(zipfCdf, unit(h))
    Vocab(math.min(if (i >= 0) i else -i - 1, Vocab.length - 1))
  }

  /** Hash key of base document `i` under `seed` — the `docId` every
    * ScaleGen helper is keyed by, so replica choices move with the seed. */
  def key(seed: Long, i: Long): Long = ScaleGen.mix3(seed, i, 0x5EEDL)

  /** Base document text: 30–140 words in sentences of 8–21 words; a
    * quarter open with a markdown header and a fifth carry a list line,
    * which gives the quality gate something to tell apart. */
  def baseText(seed: Long, i: Long): String = {
    val k = key(seed, i)
    val n = 30 + pick(ScaleGen.mix3(k, 1, 0xA), 111)
    val sb = new StringBuilder
    if (pick(ScaleGen.mix3(k, 2, 0xB), 4) == 0)
      sb.append("# ").append(word(ScaleGen.mix3(k, 3, 0xC))).append(' ')
        .append(word(ScaleGen.mix3(k, 4, 0xC))).append('\n')
    var w = 0
    var sentence = 0
    while (w < n) {
      val len = math.min(n - w, 8 + pick(ScaleGen.mix3(k, 100 + sentence, 0xD), 14))
      var j = 0
      while (j < len) {
        if (j > 0) sb.append(' ')
        sb.append(word(ScaleGen.mix3(k, w.toLong << 8 | 7, 0xE)))
        j += 1; w += 1
      }
      sb.append(". ")
      sentence += 1
    }
    if (pick(ScaleGen.mix3(k, 5, 0xF), 5) == 0)
      sb.append("\n- ").append(word(ScaleGen.mix3(k, 6, 0xF))).append(' ')
        .append(word(ScaleGen.mix3(k, 7, 0xF)))
    sb.toString.trim
  }

  def lang(seed: Long, i: Long): String = {
    val u = unit(ScaleGen.mix3(key(seed, i), 8, 0x1A))
    val at = langs.scanLeft(0.0)(_ + _._2).tail.indexWhere(u < _)
    langs(if (at < 0) langs.length - 1 else at)._1
  }

  /** Document `rep * nBase + i` of the ×factor corpus. */
  def doc(seed: Long, nBase: Int, i: Int, rep: Int): Doc = {
    val base = baseText(seed, i)
    val k = key(seed, i)
    val text =
      if (rep == 0) base
      else if (ScaleGen.plantedDoc(k, rep)) ScaleGen.mutateText(base, k, rep, 0.02, Vocab)
      else ScaleGen.mutateTextSurvivor(base, k, rep, DupFrac)
    Doc(rep.toLong * nBase + i, text, lang(seed, i), s"src${i % Sources}", text.length.toLong)
  }

  def docs(seed: Long, nBase: Int, factor: Int): Seq[Doc] =
    for (rep <- 0 until factor; i <- 0 until nBase) yield doc(seed, nBase, i, rep)

  /** Fresh documents for ingest waves: ids from `firstId` up, text drawn
    * like a base document under a stream-specific key. */
  def fresh(seed: Long, firstId: Long, n: Int): Seq[Doc] =
    (0 until n).map { j =>
      val id = firstId + j
      val t = baseText(ScaleGen.mix3(seed, 0xF12E5L, id), id)
      Doc(id, t, lang(seed, id), s"src${id % Sources}", t.length.toLong)
    }

  /** Write `rows` as one parquet file, `<dir>/documents.parquet/part-<part>.parquet`,
    * with no checksum or marker files. Later parts (an ingest wave's
    * documents) land beside the first. */
  def write(spark: SparkSession, rows: Seq[Doc], dir: String, part: String = "00000"): Unit = {
    import spark.implicits._
    val tmp = new File(dir, s"_gen_$part")
    spark.createDataset(rows).toDF().coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
    val file = tmp.listFiles().find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    val out = new File(dir, "documents.parquet")
    out.mkdirs()
    Files.move(file.toPath, new File(out, s"part-$part.parquet").toPath, StandardCopyOption.REPLACE_EXISTING)
    Util.deleteRecursively(tmp)
  }
}
