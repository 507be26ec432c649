package graft.tools

import org.apache.spark.sql.functions._
import graft.LocalSession
import graft.multimodal.Multimodal

/** Growth audit for the composed Hamming near-dup pipeline (VERDICT r9
  * #6 — the r8 entry shipped without a decade table): run the SHARED
  * pipeline body (LlmQueries.nearDupPipeline) at 1x/10x/100x the
  * entry's 3000-asset fixture and report wall + shuffle + component
  * count. Expected shape: decode work linear in assets; the exact-key
  * star stage linear (map-combined bucket-min + AQE join-back); the
  * Hamming band join CONSTANT (it relates only the distinct perceptual
  * keys — 8 classes x variants regardless of asset count); CC linear in
  * pair rows. Asset ids come from events (pass a fanned events dir for
  * the 100x point). */
object NearDupScaleProbe {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val caps = if (args.length > 1) args.drop(1).map(_.toLong).toSeq
      else Seq(3000L, 30000L, 300000L)
    val spark = LocalSession()
    val ev = graft.Tables.load(spark, dir, "events")
    for (cap <- caps) {
      val assets = Multimodal.nearDupImageAssets(spark,
        ev.filter(col("event_id") < cap))
      val n = assets.count()
      val r = StageMeter.measure(spark) {
        val out = graft.queries.LlmQueries.nearDupPipeline(assets)
        (out.select(col("canonical_id")).distinct().count(), out.count())
      }
      val (comps, rows) = r.result
      println(f"[neardup-scale] cap=$cap%-8d assets=$n%-8d rows=$rows%-8d " +
        f"components=$comps%-6d wall=${r.wallS}%7.2f s shuffleMB=${r.shuffleMB}%9.1f")
    }
    spark.stop()
  }
}
