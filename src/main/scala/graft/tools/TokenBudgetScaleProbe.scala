package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import graft.LocalSession

/** Growth audit for Sampling.tokenBudget: the adversarial mixture shape
  * — ONE stratum holding the entire corpus (5M docs) — which the old
  * Window.partitionBy(stratum) formulation funneled through a single
  * task. The two-phase prefix sum must keep every non-trivial stage at
  * full parallelism: expected max-rows-in-one-task ≈ n/partitions, no
  * Window stage, wall flat-linear in docs. */
object TokenBudgetScaleProbe {
  def main(args: Array[String]): Unit = {
    val cores = LocalSession.defaultCores
    val spark = LocalSession(cores)
    // max records seen by any single task of any stage: the serialization
    // smoking gun — the window formulation put all n rows in one task.
    // It shares the listener bus queue with StageMeter's listener, so
    // the meter's fence also delivers every task event of the body.
    val maxTaskRows = new java.util.concurrent.atomic.AtomicLong(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) {
          val rows = math.max(m.inputMetrics.recordsRead,
            m.shuffleReadMetrics.recordsRead)
          maxTaskRows.getAndUpdate(x => math.max(x, rows))
        }
      }
    })
    for (n <- Seq(500000L, 5000000L)) {
      val docs = spark.range(n).select(col("id"),
        lit(0L).as("src"), (col("id") % 97 + 3).as("toks")).persist()
      docs.count()
      maxTaskRows.set(0)
      val r = StageMeter.measure(spark) {
        val out = graft.operators.Sampling.tokenBudget(
          docs, col("src"), col("id"), col("toks"), budgetPerStratum = n * 13)
        out.filter(col("kept")).count()
      }
      println(f"[tokbudget-scale] docs=$n%8d kept=${r.result}%8d wall=${r.wallS}%6.1f s " +
        f"shuffleMB=${r.shuffleMB}%7.1f maxTaskRows=${maxTaskRows.get}%9d " +
        f"(fair=${n / cores}%d)")
      docs.unpersist()
    }
    spark.stop()
  }
}
