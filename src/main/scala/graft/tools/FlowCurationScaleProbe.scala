package graft.tools

import graft.LocalSession

/** Growth check for the composed streaming curation pipeline: run the
  * `flow_stream_curation` entry (five micro-batches of the full
  * documents table through quality filter + keyed dedup + windowed
  * agg) at 1x and 10x documents and report wall + sink mass. The state
  * story is structural — dedup state = keys within the watermark
  * horizon, agg state = open windows x sources, both linear in the
  * per-batch key count and bounded by eviction — this probe pins that
  * the end-to-end wall follows the data, not some per-batch
  * quadratic. */
object FlowCurationScaleProbe {
  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.1", "/tmp/graft_inc10")
    val spark = LocalSession()
    val q = graft.SparkEntry.queries("flow_stream_curation")
    for (dir <- dirs if new java.io.File(s"$dir/documents.parquet").exists()) {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val nDocs = docs.count()
      // staging baseline: the entry's stageBatches writes ~4.2 corpus
      // copies through coalesce(1) (single-task fixture I/O) before the
      // streaming query starts — measure the same write shape so the
      // growth claim attributes engine cost and fixture cost honestly
      val st0 = System.nanoTime()
      val scratch = graft.queries.QueryDsl.tempDirCleanedOnExit("fcs_stage")
      for (i <- 0 until 4)
        docs.select(org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.col("source"),
          org.apache.spark.sql.functions.col("text"))
          .coalesce(1).write.parquet(s"$scratch/b$i")
      val stagingWall = (System.nanoTime() - st0) / 1e9
      val t0 = System.nanoTime()
      val out = q(spark, dir).collect()
      val wall = (System.nanoTime() - t0) / 1e9
      val kept = out.map(_.getLong(2)).sum
      println(f"[flow-curation-scale] dir=$dir%-24s docs=$nDocs%-7d " +
        f"wall=$wall%7.2f s (staging-like baseline $stagingWall%6.2f s) " +
        f"sinkRows=${out.length}%-4d keptDocRows=$kept%-7d")
    }
    spark.stop()
  }
}
