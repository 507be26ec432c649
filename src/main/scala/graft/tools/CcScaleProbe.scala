package graft.tools

import org.apache.spark.sql.functions._
import graft.LocalSession

/** Growth audit for Dedup.connectedComponents: synthetic edge lists at
  * 1M/10M edges in two topologies — 8-node cliques (the realistic
  * near-dup shape: diameter 1) and 16-node chains (pathological
  * diameter 15, the worst case min-label propagation should still
  * absorb). Expected: wall linear in edges, pass count = diameter + 1
  * (synchronous propagation moves the min one hop per pass), per-pass
  * shuffle linear in edges. */
object CcScaleProbe {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession()
    // GRAFT_CKPT_DIR exercises the cluster-grade reliable-checkpoint
    // path (Lineage.truncate) at probe volume instead of spec-toy size
    sys.env.get("GRAFT_CKPT_DIR").foreach { d =>
      spark.conf.set("graft.checkpoint.dir", d)
      println(s"[cc-scale] reliable checkpoints -> $d")
    }
    val sizes = sys.env.get("CC_EDGES")
      .map(_.split(",").map(_.toLong).toSeq)
      .getOrElse(Seq(1000000L, 10000000L))
    for (nEdges <- sizes; block <- Seq(8, 16)) {
      // block=8: clique blocks (8 nodes, 28 edges each);
      // block=16: chain blocks (16 nodes, 15 edges each)
      val clique = block == 8
      val edges =
        if (clique) {
          val perBlock = block.toLong * (block - 1) / 2
          val nBlocks = nEdges / perBlock
          spark.range(nBlocks).select(col("id").as("b"))
            .select(col("b"), explode(expr(
              s"flatten(transform(sequence(0, ${block - 2}), i -> " +
                s"transform(sequence(i + 1, ${block - 1}), j -> struct(i, j))))")).as("p"))
            .select((col("b") * block + col("p.i")).as("id_a"),
              (col("b") * block + col("p.j")).as("id_b"))
        } else {
          val nBlocks = nEdges / (block - 1)
          spark.range(nBlocks).select(col("id").as("b"))
            .select(col("b"), explode(sequence(lit(0), lit(block - 2))).as("i"))
            .select((col("b") * block + col("i")).as("id_a"),
              (col("b") * block + col("i") + 1).as("id_b"))
        }
      val e = edges.persist()
      val realEdges = e.count()
      val r = StageMeter.measure(spark) {
        val comp = graft.operators.Dedup.connectedComponents(e, "id_a", "id_b")
        comp.select(countDistinct(col("comp"))).first().getLong(0)
      }
      val shape = if (clique) "8-clique" else "16-chain"
      println(f"[cc-scale] $shape%-9s edges=$realEdges%9d comps=${r.result}%8d " +
        f"wall=${r.wallS}%6.1f s shuffleMB=${r.shuffleMB}%8.1f")
      e.unpersist()
    }
    spark.stop()
  }
}
