package graft.tools

import graft.LocalSession

/** Growth audit for Clustering.semanticDedupPairs: the oracle query
  * pins k=10 (a replayable Lloyd history), but the 100 TB design point
  * is k growing with the corpus so per-cluster blocks stay bounded —
  * the pair stage is O(n²/k). Sweep k at 10x embeddings (20k vectors)
  * and confirm the measured wall follows the 1/k block math rather
  * than the corpus size. */
object SemDedupScaleProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/graft_cur10")
    val spark = LocalSession()
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val n = emb.count()
    for (k <- Seq(10, 40, 160)) {
      val r = StageMeter.measure(spark) {
        graft.operators.Clustering
          .semanticDedupPairs(emb, "embedding", "vec_id",
            threshold = 0.40, k = k, iters = 3)
          .count()
      }
      println(f"[semdedup-scale] n=$n k=$k%4d pairs=${r.result}%8d " +
        f"wall=${r.wallS}%6.1f s shuffleMB=${r.shuffleMB}%8.1f")
    }
    spark.stop()
  }
}
