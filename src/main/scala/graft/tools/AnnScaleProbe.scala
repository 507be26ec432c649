package graft.tools

import org.apache.spark.sql.functions._
import graft.LocalSession
import graft.operators.Similarity

/** ANN audit one decade past the 200k round-5 table: 2M synthetic
  * 64-dim embeddings (4096 hash-derived cluster centers + hash noise —
  * the clustered distribution real text embeddings exhibit), 64
  * self-queries, recall@10 vs exact brute force. The IVF index is built
  * ONCE (the per-corpus phase of a deployment) and the nprobe sweep
  * (4/8/16) serves against it — build and serve walls reported
  * separately, with per-phase shuffle bytes pinning the
  * corpus-never-shuffles property (serve shuffle must be
  * candidate-top-k-sized, not corpus-sized). */
object AnnScaleProbe {
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toLong else 2000000L
    val dim = 64
    val nq = 64
    val k = 10
    val spark = LocalSession()
    // clusters: center(id % 4096) + noise; both hash-derived so the
    // corpus is deterministic and never materialized off-JVM
    val emb = spark.range(n).select(col("id").as("vec_id"),
      expr(s"""transform(sequence(0, ${dim - 1}), j -> cast(
        cast(xxhash64(id % 4096, j) % 1000000 as double) / 1000000.0
        + cast(xxhash64(id, j, 7) % 1000000 as double) / 1000000.0 * 0.6
        as float))""").as("embedding"))
      .persist()
    emb.count()
    val queries = emb.filter(col("vec_id") % lit(n / nq) === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      .persist()
    queries.count()

    def timed[A](label: String)(f: => A): A = {
      val r = StageMeter.measure(spark)(f)
      println(f"[ann-2m] $label%-16s wall=${r.wallS}%7.2f s shuffleMB=${r.shuffleMB}%8.2f")
      r.result
    }

    def toMap(rows: Array[org.apache.spark.sql.Row]): Map[Long, Seq[Long]] =
      rows.groupBy(_.getLong(0)).map { case (q, rs) =>
        q -> rs.sortBy(_.getInt(2)).map(_.getLong(1)).toSeq
      }

    val exact = toMap(timed(s"brute n=$n q=$nq") {
      Similarity.bruteForceTopKBatch(emb, "embedding", "vec_id",
        queries, "q_vec", "q_id", k)
        .select(col("q_id"), col("vec_id"), col("rank")).collect()
    })
    def recall(a: Map[Long, Seq[Long]]): Double = {
      val per = exact.keys.toSeq.map(q =>
        (exact(q).toSet intersect a.getOrElse(q, Nil).toSet).size.toDouble / k)
      per.sum / per.size
    }

    val (cellsRaw, cents) = Similarity.ivfIndex(emb, "embedding", "vec_id", 64)
    val cells = timed("ivf build c=64") { val c = cellsRaw.persist(); c.count(); c }
    for (nprobe <- Seq(4, 8, 16)) {
      val got = toMap(timed(f"ivf serve np=$nprobe") {
        Similarity.ivfSearchIndexed(cells, cents, "embedding", "vec_id",
          queries, "q_vec", "q_id", k, nprobe)
          .select(col("q_id"), col("vec_id"), col("rank")).collect()
      })
      println(f"[ann-2m] ivf np=$nprobe recall@$k = ${recall(got)}%.3f")
    }
    spark.stop()
  }
}
