package graftbench

import java.io.File
import java.nio.file.Files

/** Self-test of the seeded generator: the same seed gives byte-identical
  * input files, a different seed gives different ones. Exits non-zero on
  * failure. Run with `python3 perfbench/run.py --selftest`. */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val dir = new File(args(args.indexOf("--dir") + 1))
    val cores = args(args.indexOf("--cores") + 1).toInt
    val spark = Bench.session(dir, cores)
    var failures = 0
    def check(name: String, ok: Boolean): Unit = {
      println(s"[selftest] ${if (ok) "ok  " else "FAIL"} $name")
      if (!ok) failures += 1
    }
    try {
      def gen(seed: Long, tag: String): Array[Byte] = {
        val d = new File(dir, tag)
        Corpus.write(spark, Corpus.docs(seed, 200, 4) ++ Corpus.fresh(seed, 800, 16), d.getPath)
        val files = new File(d, "documents.parquet").listFiles().map(_.getName).sorted.toSeq
        require(files == Seq("part-00000.parquet"), s"unexpected generator output $files")
        Files.readAllBytes(new File(d, "documents.parquet/part-00000.parquet").toPath)
      }
      val a = gen(42, "a")
      val b = gen(42, "b")
      val c = gen(43, "c")
      check("same seed gives byte-identical parquet", java.util.Arrays.equals(a, b))
      check("different seed gives different parquet", !java.util.Arrays.equals(a, c))
      val docs = Corpus.docs(42, 200, 4)
      check("corpus has the requested size and unique ids",
        docs.size == 800 && docs.map(_.doc_id).distinct.size == 800)
      check("replicas plant near-duplicates and partial duplicate spans",
        docs.exists(d => d.doc_id >= 200 && d.text.split(" ").exists(_.matches("[0-9a-f]{8,}"))) &&
          docs.count(d => d.doc_id >= 200 && graft.ScaleGen.plantedDoc(Corpus.key(42, d.doc_id % 200),
            (d.doc_id / 200).toInt)) > 0)
    } finally spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
