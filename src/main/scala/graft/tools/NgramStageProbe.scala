package graft.tools

import graft.LocalSession
import graft.operators.Dedup

/** Stage count + shuffle bytes of ngramJaccardPairs at sf0.1, small path
  * vs forced scale path — the A/B behind the bench's 1.9→2.7 s drift
  * (round-5 verdict #6). */
object NgramStageProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = LocalSession()
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    docs.count()
    def run(label: String, boundary: Long): Unit = {
      spark.conf.set(Dedup.VerifyBroadcastMinDocsKey, boundary.toString)
      try {
        Dedup.ngramJaccardPairs(docs, "text", "doc_id").count() // warm
        val runs = (1 to 3).map(_ =>
          StageMeter.measure(spark)(Dedup.ngramJaccardPairs(docs, "text", "doc_id").count()))
        val walls = runs.map(_.wallS)
        println(f"[ngram-stage] $label%-12s wall_min=${walls.min}%5.2f s " +
          f"stages/run=${runs.map(_.stages).sum / 3} shuffleMB/run=${runs.map(_.shuffleMB).sum / 3}%7.1f " +
          f"passes=${walls.map(w => f"$w%.2f").mkString(",")}")
      } finally spark.conf.unset(Dedup.VerifyBroadcastMinDocsKey)
    }
    run("small-path", Long.MaxValue)
    run("scale-path", 0L)
    spark.stop()
  }
}
