package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.LocalSession
import graft.operators.Dedup

/** Scale evidence for the incremental-dedup claim:
  * shard-ARRIVAL cost must scale with the shard, not the corpus.
  *
  * For each input documents dir (pass ScaleCheck-fanned dirs for the
  * decades): split off a FIXED-size shard (the highest ids), build the
  * signature index from the rest, then measure
  *   (a) arrival     — minhashServeAppend(shard, index), and
  *   (b) recompute   — full-corpus minhashDedup(index ∪ shard),
  * with wall + total shuffle-write bytes. Expected shape: (a)'s shuffle
  * stays shard-sized at every corpus size (the index is scan-only —
  * shard bands broadcast into it) and its wall grows only by the
  * columnar index scan, while (b) re-pays shingle+permutation CPU and
  * candidate shuffle for the WHOLE corpus every arrival. */
object IncrementalDedupProbe {
  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.1", "/tmp/graft_scale")
    val shardRows = 5000L
    val spark = LocalSession()
    def timed[A](f: => A): (A, Double, Double) = {
      val r = StageMeter.measure(spark)(f)
      (r.result, r.wallS, r.shuffleMB)
    }
    def indexOf(df: DataFrame, name: String): String = {
      val p = graft.queries.QueryDsl.tempDirCleanedOnExit(name) + "/index"
      Dedup.minhashIndexWrite(df, "text", "doc_id", p)
      p
    }
    def dupsOn(shard: DataFrame, idx: String): Long =
      Dedup.minhashServeAppend(shard, "text", "doc_id", idx, threshold = 0.5)
        .filter(col("is_dup")).count()
    for (dir <- dirs if new java.io.File(s"$dir/documents.parquet").exists()) {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
      val maxId = docs.agg(max("doc_id")).head.getLong(0)
      if (docs.count() <= shardRows)
        println(s"[inc-dedup] dir=$dir skipped: corpus not larger than one shard")
      else {
        // ids are dense in both the base and ScaleCheck-fanned tables:
        // the top `shardRows` ids are a fixed-size arriving shard
        val cut = maxId - shardRows
        val accepted = docs.filter(col("doc_id") <= cut)
        val shard = docs.filter(col("doc_id") > cut)
        val (nIdx, nShard) = (accepted.count(), shard.count())
        val (idxPath, buildWall, buildMb) = timed(indexOf(accepted, "graft_incprobe"))
        val (arrDups, arrWall, arrMb) = timed(dupsOn(shard, idxPath))
        val (fullDups, fullWall, fullMb) = timed {
          Dedup.minhashDedup(docs, "text", "doc_id", threshold = 0.5)
            .filter(col("is_dup") && col("doc_id") > cut).count()
        }
        require(arrDups == fullDups,
          s"equivalence broke: incremental=$arrDups full=$fullDups")
        println(f"[inc-dedup] dir=$dir%-24s index=$nIdx%-8d shard=$nShard%-6d " +
          f"build=$buildWall%7.2f s/${buildMb}%8.1f MB  " +
          f"arrival=$arrWall%7.2f s/${arrMb}%8.1f MB  " +
          f"recompute=$fullWall%7.2f s/${fullMb}%8.1f MB  dups=$arrDups")

        // multi-arrival flatness: three SEQUENTIAL fixed-size shards
        // into a growing index — per-arrival wall and shuffle must stay
        // flat (the index is scan-only on every arrival; only the
        // appended signature mass grows). Needs a corpus several shards
        // deep — run on ScaleCheck-fanned dirs.
        val cut3 = maxId - 3 * shardRows
        if (cut3 <= 0) {
          println(s"[inc-multi] dir=$dir skipped: corpus smaller than 3 shards")
        } else {
          val idx3 = indexOf(docs.filter(col("doc_id") <= cut3), "graft_incprobe3")
          for (a <- 1 to 3) {
            val lo = cut3 + (a - 1) * shardRows
            val hi = cut3 + a * shardRows
            val sh = docs.filter(col("doc_id") > lo && col("doc_id") <= hi)
            val (dups, w, mb) = timed(dupsOn(sh, idx3))
            println(f"[inc-multi] dir=$dir%-24s arrival=$a wall=$w%6.2f s " +
              f"shuffle=$mb%7.1f MB dups=$dups")
          }
        }

        // large-shard guard: force the boundary to 1/10 of the shard —
        // the serve must switch to CHUNKED passes (ten bounded
        // broadcasts, each a scan-only index pass) with verdicts
        // unchanged, per-pass broadcast ≤ boundary docs, and total
        // shuffle still SHARD-sized (the rejected alternative — a
        // partitioned band join — measured 3.5 GB of index shuffle at
        // the 495k decade; the chunked path must stay orders below
        // that). It serves a second index built like the first: the
        // first already holds the shard, and a serve counts a doc's own
        // index row as a hit.
        val idxL = indexOf(accepted, "graft_incprobeL")
        spark.conf.set(Dedup.IncrementalBroadcastMaxDocsKey,
          (shardRows / 10).toString)
        try {
          val (dupsL, wL, mbL) = timed(dupsOn(shard, idxL))
          require(dupsL == arrDups,
            s"large-shard path diverged: $dupsL vs single-pass $arrDups")
          require(mbL < 200.0,
            f"chunked path shuffled $mbL%.0f MB — index-sized, not shard-sized")
          println(f"[inc-large] dir=$dir%-24s shard=${shardRows}@10x-boundary " +
            f"(10 chunks) wall=$wL%6.2f s shuffle=$mbL%7.1f MB dups=$dupsL")
        } finally spark.conf.unset(Dedup.IncrementalBroadcastMaxDocsKey)
      }
    }
    spark.stop()
  }
}
