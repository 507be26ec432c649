package graft.tools
import graft.LocalSession
import org.apache.spark.sql.functions._
import graft.operators.Similarity
/** One-shot r10 measurement: IVF serve cost from the just-built lazy
  * index vs the persisted+reloaded one (BENCH_NOTES evidence for the
  * build/serve split). */
object IvfServeProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = LocalSession()
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val probes = emb.filter(col("vec_id") >= 5 && col("vec_id") < 10)
      .select(col("vec_id").as("q_id"),
        transform(col("embedding"), (x, j) =>
          x * (lit(1.0f) + ((j % 5) - 2).cast("float") * lit(0.008f))).as("q_vec"))
    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime()-t0)/1e9)
    }
    val idx = graft.queries.QueryDsl.tempDirCleanedOnExit("ivfprobe") + "/ivf"
    val (_, wBuild) = timed(Similarity.ivfIndexWrite(emb, "embedding", "vec_id", 16, idx))
    // in-memory build+serve (the old single-session shape)
    val (nMem, wMem) = timed {
      Similarity.ivfTopK(emb, "embedding", "vec_id", probes, "q_vec", "q_id",
        k = 1, ncentroids = 16, nprobe = 2).count()
    }
    // serve from the persisted index, fresh session (warm FS cache)
    for (pass <- 1 to 3) {
      val s2 = spark.newSession()
      val (nDisk, wDisk) = timed {
        val (cells, cents) = Similarity.ivfIndexRead(s2, idx)
        Similarity.ivfSearchIndexed(cells, cents, "embedding", "vec_id",
          s2.read.parquet(s"$dir/embeddings.parquet")
            .filter(col("vec_id") >= 5 && col("vec_id") < 10)
            .select(col("vec_id").as("q_id"),
              transform(col("embedding"), (x, j) =>
                x * (lit(1.0f) + ((j % 5) - 2).cast("float") * lit(0.008f))).as("q_vec")),
          "q_vec", "q_id", k = 1, nprobe = 2).count()
      }
      println(f"[ivf-serve] pass=$pass build+write=$wBuild%5.2f s  buildServe=$wMem%5.2f s/$nMem rows  diskServe=$wDisk%5.2f s/$nDisk rows")
    }
    spark.stop()
  }
}
