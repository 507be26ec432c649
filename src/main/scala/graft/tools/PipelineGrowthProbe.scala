package graft.tools

import org.apache.spark.sql.functions._
import graft.LocalSession
import graft.operators.{Dedup, Similarity}

/** Round-10 growth audit (VERDICT r9 task #8) for the two composed
  * serve paths that shipped without decade tables:
  *
  *  1. The two-index arrival protocol (exact digests → minhash over
  *     exact-survivors, both indexes appended): a FIXED 5k-doc shard
  *     arriving at a 10×/100× corpus — arrival shuffle must stay
  *     shard-sized (both indexes are scan-only on arrival).
  *  2. decontaminate_semantic's IVF serve: a FIXED probe set against a
  *     10×/100× embedding corpus — the corpus must never shuffle
  *     (probe fan-out broadcasts into the cell scan), so shuffle stays
  *     bounded by the contamination flag set while wall grows only
  *     with the scan.
  *
  * Run on ScaleCheck-fanned dirs (one arrival op per JVM pass is not
  * needed here — these ops are persist-light, unlike the CC probes). */
object PipelineGrowthProbe {
  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq
      else Seq("/tmp/graft_s10", "/tmp/graft_s100")
    val shardRows = 5000L
    val spark = LocalSession()
    def timed[A](f: => A): (A, Double, Double) = {
      val r = StageMeter.measure(spark)(f)
      (r.result, r.wallS, r.shuffleMB)
    }

    for (dir <- dirs if new java.io.File(s"$dir/documents.parquet").exists()) {
      // ── composed two-index arrival ─────────────────────────────────
      val docs = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
      if (docs.count() <= shardRows)
        println(s"[pipe-grow] dir=$dir skipped: corpus not larger than one shard")
      else {
        val maxId = docs.agg(max("doc_id")).head.getLong(0)
        val cut = maxId - shardRows
        val accepted = docs.filter(col("doc_id") <= cut)
        val shard = docs.filter(col("doc_id") > cut)
        val nIdx = accepted.count()
        val tmp = graft.queries.QueryDsl.tempDirCleanedOnExit("graft_pgrow")
        val dIdx = s"$tmp/digests"; val mIdx = s"$tmp/sigs"
        val (_, buildWall, buildMb) = timed {
          val be = Dedup.exactIndexWriteAndDedup(accepted, "text", "doc_id", dIdx)
          Dedup.minhashIndexWrite(be.filter(!col("is_dup")).drop("is_dup"),
            "text", "doc_id", mIdx)
        }
        val (nDups, arrWall, arrMb) = timed {
          val e = Dedup.exactServeAppend(shard, "text", "doc_id", dIdx)
          val n = Dedup.minhashServeAppend(e.filter(!col("is_dup")).drop("is_dup"),
            "text", "doc_id", mIdx, threshold = 0.5)
          e.filter(col("is_dup")).count() + n.filter(col("is_dup")).count()
        }
        println(f"[pipe-grow] dir=$dir%-20s index=$nIdx%-8d shard=$shardRows " +
          f"build=$buildWall%7.2f s/${buildMb}%8.1f MB  " +
          f"arrival=$arrWall%7.2f s/${arrMb}%8.1f MB  dups=$nDups")
      }

      // ── decontaminate serve ────────────────────────────────────────
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      val nEmb = emb.count()
      // fixed probe set: the sf0.1 base corpus's vec_id%17==3 rows
      // (the fanned corpora keep those ids), perturbed as the entry does
      val probes = emb.filter(col("vec_id") % 17 === 3 && col("vec_id") < 2000)
        .select((col("vec_id") + 200000L).as("q_id"),
          transform(col("embedding"), (x, j) =>
            x * (lit(1.0f) + ((j % 5) - 2).cast("float") * lit(0.008f))).as("q_vec"))
      val nProbes = probes.count()
      val idxPath =
        graft.queries.QueryDsl.tempDirCleanedOnExit("graft_pgrow_ivf") + "/ivf"
      val (_, ivfBuildWall, ivfBuildMb) = timed {
        Similarity.ivfIndexWrite(emb, "embedding", "vec_id", 16, idxPath)
      }
      val ((nFlags, srvWall, srvMb)) = timed {
        val (cells, cents) = Similarity.ivfIndexRead(spark, idxPath)
        Similarity.ivfContaminated(cells, cents, "embedding", "vec_id",
          probes, "q_vec", "q_id", threshold = 0.99, nprobe = 4).count()
      }
      println(f"[decon-grow] dir=$dir%-20s corpus=$nEmb%-8d probes=$nProbes " +
        f"ivfBuild=$ivfBuildWall%7.2f s/${ivfBuildMb}%8.1f MB  " +
        f"serve=$srvWall%7.2f s/${srvMb}%8.1f MB  flagged=$nFlags")
    }
    spark.stop()
  }
}
