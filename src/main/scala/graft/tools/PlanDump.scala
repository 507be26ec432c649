package graft.tools
import graft.LocalSession

/** Dump `.explain("formatted")` for named queries to plans/<tag>/<q>_<suffix>.txt
  * (the optimization-round evidence files). Usage:
  *   runMain graft.tools.PlanDump <tag> <suffix> <query...>
  * e.g. runMain graft.tools.PlanDump r10 before dedup_minhash agg_groupby
  * Entries that pre-execute work (index builds, writes) run that work as a
  * side effect of constructing the frame; the dumped plan is the returned
  * frame's plan, same as what the bench times end-to-end minus the action.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val tag = args(0); val suffix = args(1); val names = args.drop(2)
    val spark = LocalSession()
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = new java.io.File(s"plans/$tag")
    outDir.mkdirs()
    for (name <- names) {
      try {
        val df = graft.SparkEntry.queries(name)(spark, dir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        val f = new java.io.File(outDir, s"${name}_$suffix.txt")
        val w = new java.io.PrintWriter(f)
        try w.write(txt) finally w.close()
        println(s"[plandump] wrote ${f.getPath} (${txt.length} chars)")
      } catch { case e: Throwable =>
        println(s"[plandump] $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
