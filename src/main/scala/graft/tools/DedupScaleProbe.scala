package graft.tools

import graft.LocalSession
import graft.operators.Dedup

/** Growth audit for the dedup family (VERDICT r4 #8): runs the MinHash
  * LSH and exact n-gram Jaccard pipelines against a documents dir and
  * reports wall, output pair count, and total shuffle-write bytes.
  * Compare two corpus sizes: output-bounded pipelines grow ~linearly
  * in pairs and shuffle; a super-linear candidate stage shows up as
  * shuffle growing much faster than the corpus. */
object DedupScaleProbe {
  def main(args: Array[String]): Unit = {
    val src = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = LocalSession()
    val docs = spark.read.parquet(s"$src/documents.parquet")
    val n = docs.count()
    def run(label: String)(f: => Long): Unit = {
      val r = StageMeter.measure(spark)(f)
      println(f"[dedup-scale] $label%-16s docs=$n%-8d pairs=${r.result}%-9d wall=${r.wallS}%7.2f s shuffleMB=${r.shuffleMB}%9.1f shuffleMrows=${r.shuffleWriteRecords / 1e6}%8.2f")
    }
    run("minhash_lsh") {
      Dedup.minhashPairs(docs, "text", "doc_id").count()
    }
    run("ngram_jaccard") {
      Dedup.ngramJaccardPairs(docs, "text", "doc_id").count()
    }
    spark.stop()
  }
}
