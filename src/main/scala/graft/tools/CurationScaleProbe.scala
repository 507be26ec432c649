package graft.tools

import graft.LocalSession

/** Growth audit for the curation operators (repetition filters, PII
  * redaction, TF-IDF, quantized k-means): wall + shuffle bytes on a
  * base dir vs ScaleCheck-fanned dirs. Expected shapes —
  * repetition/PII: zero shuffle, linear wall; tfidf: shuffle linear in
  * token count; kmeans: shuffle flat per iteration (k·dim partial sums
  * per partition), wall linear in rows. */
object CurationScaleProbe {
  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.1", "/tmp/graft_cur10", "/tmp/graft_cur100")
    val spark = LocalSession()
    // count() would let Spark prune the per-row projections entirely
    // (repetition/PII measured as a bare scan); checksum every output
    // column instead so the probe times the real work.
    def materialize(df: org.apache.spark.sql.DataFrame): Unit = {
      import org.apache.spark.sql.functions.{bit_xor, xxhash64, col}
      df.select(bit_xor(xxhash64(df.columns.map(col): _*))).collect()
      ()
    }
    // GRAFT_CUR_OPS=a,b filters (re-auditing one new op must not re-run
    // the whole historical matrix)
    val opFilter = sys.env.get("GRAFT_CUR_OPS")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val ops = Seq("text_repetition", "text_pii_redact", "text_tfidf",
      "cluster_kmeans", "dedup_boilerplate", "text_decontaminate",
      "text_substring_dedup", "text_substring_keep1", "pack_sequences",
      "dedup_two_level").filter(o => opFilter.forall(_.contains(o)))
    for (dir <- dirs if new java.io.File(s"$dir/documents.parquet").exists()) {
      val nDocs = spark.read.parquet(s"$dir/documents.parquet").count()
      val nEmb = spark.read.parquet(s"$dir/embeddings.parquet").count()
      println(s"[curation-scale] dir=$dir docs=$nDocs embeddings=$nEmb")
      for (op <- ops) {
        val q = graft.SparkEntry.queries(op)
        materialize(q(spark, dir)) // warm
        val runs = (1 to 2).map(_ => StageMeter.measure(spark)(materialize(q(spark, dir))))
        println(f"[curation-scale]   $op%-18s wall_min=${runs.map(_.wallS).min}%6.2f s " +
          f"stages/run=${runs.map(_.stages).sum / 2} shuffleMB/run=${runs.map(_.shuffleMB).sum / 2}%8.2f")
        spark.catalog.clearCache()
      }
    }
    spark.stop()
  }
}
