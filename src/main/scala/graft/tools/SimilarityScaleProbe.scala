package graft.tools

import org.apache.spark.sql.functions._
import graft.LocalSession
import graft.operators.Similarity

/** ANN growth audit: brute-force vs LSH vs IVF top-k over an embeddings
  * dir, reporting wall, shuffle bytes, and recall@k vs the exact
  * answer. Run at 1× and a fanned dir (ScaleCheck now fans embeddings
  * with the doc factor) to see which paths stay corpus-shuffle-free. */
object SimilarityScaleProbe {
  def main(args: Array[String]): Unit = {
    val src = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val k = if (args.length > 1) args(1).toInt else 10
    val nq = if (args.length > 2) args(2).toInt else 16
    val nprobe = if (args.length > 3) args(3).toInt else 2
    val maxFlips = if (args.length > 4) args(4).toInt else 3
    val spark = LocalSession()
    val emb = spark.read.parquet(s"$src/embeddings.parquet").cache()
    val n = emb.count()
    // deterministic query set: every (n/nq)-th vector by id
    val queries = emb.orderBy(col("vec_id")).limit(n.toInt)
      .filter(col("vec_id") % lit(math.max(1L, n / nq)) === 0)
      .limit(nq)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      .cache()
    queries.count()

    def run(label: String)(f: => org.apache.spark.sql.DataFrame)
        : Map[Long, Seq[Long]] = {
      val r = StageMeter.measure(spark)(
        f.select(col("q_id"), col("vec_id"), col("rank")).collect())
      val byQ = r.result.groupBy(_.getLong(0)).map { case (q, rs) =>
        q -> rs.sortBy(_.getInt(2)).map(_.getLong(1)).toSeq
      }
      println(f"[ann-scale] $label%-12s corpus=$n%-8d queries=${byQ.size}%-4d wall=${r.wallS}%7.2f s shuffleMB=${r.shuffleMB}%8.1f")
      byQ
    }

    val exact = run("brute") {
      Similarity.bruteForceTopKBatch(emb, "embedding", "vec_id", queries, "q_vec", "q_id", k)
    }
    def recall(approx: Map[Long, Seq[Long]]): Double = {
      val per = exact.keys.toSeq.map { q =>
        val e = exact(q).toSet
        val a = approx.getOrElse(q, Nil).toSet
        (e intersect a).size.toDouble / e.size
      }
      per.sum / per.size
    }
    val lsh = run("lsh") {
      Similarity.lshTopK(emb, "embedding", "vec_id", queries, "q_vec", "q_id", k, maxFlips = maxFlips)
    }
    println(f"[ann-scale] lsh recall@$k = ${recall(lsh)}%.3f")
    val ivf = run("ivf") {
      Similarity.ivfTopK(emb, "embedding", "vec_id", queries, "q_vec", "q_id", k,
        ncentroids = 16, nprobe = nprobe)
    }
    println(f"[ann-scale] ivf recall@$k = ${recall(ivf)}%.3f")
    spark.stop()
  }
}
