package graft.tools

import graft.LocalSession
import org.apache.spark.sql.functions._

/** Scale validation: synthesize an N× events table (default 100× → 10M
  * rows) and an M× documents table (default 10×), derived
  * deterministically from sf0.1 — NOT written into /root/testdata — and
  * leave a directory Bench can point at.
  *
  * events: each source row fans out with jittered ts/user/value so
  * per-key cardinalities and time-spread scale together.
  *
  * documents: each replica applies a DIFFERENT character permutation to
  * the text, so replicas are not near-duplicates of each other — the
  * corpus's internal near-dup structure repeats per replica and the
  * true pair count scales ~linearly with the fan factor (a plain copy
  * would grow dup clusters quadratically and swamp the verify stage
  * with semantically-new output, masking the scaling story).
  */
object ScaleCheck {
  def main(args: Array[String]): Unit = {
    val src = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "/tmp/graft_scale"
    val evFan = if (args.length > 2) args(2).toInt else 100
    val docFan = if (args.length > 3) args(3).toInt else 10
    val spark = LocalSession()

    val outDir = new java.io.File(out)
    if (outDir.exists()) {
      outDir.listFiles().foreach { f =>
        if (f.isDirectory) org.apache.commons.io.FileUtils.deleteDirectory(f)
        else f.delete()
      }
    }
    outDir.mkdirs()

    // normalized load (ns-long ts contract regardless of generator shape)
    val ev = graft.Tables.load(spark, src, "events")
    val n = ev.count()
    val fan = ev.crossJoin(spark.range(evFan).toDF("rep"))
      .select(
        (col("event_id") * evFan + col("rep")).as("event_id"),
        // spread replicas across the span: shift by rep * 97 seconds so
        // windows/timeseries densities scale without colliding
        (col("ts") + col("rep") * lit(97L) * lit(1000000000L)).as("ts"),
        (col("user_id") + col("rep") * 1000L).as("user_id"),
        col("event_type"),
        round(col("value") * (lit(1.0) + col("rep").cast("double") / 100.0), 4).as("value"),
        col("props"))
    fan.repartition(32).write.mode("overwrite").parquet(s"$out/events.parquet")
    val n2 = spark.read.parquet(s"$out/events.parquet").count()
    println(s"[scale] events: $n -> $n2 rows at $out/events.parquet")

    // documents: per-replica character permutation (deterministic)
    val docs = spark.read.parquet(s"$src/documents.parquet")
    val dn = docs.count()
    // Bijective per-replica character permutation: two independent
    // rotations of the lowercase alphabet halves give 13×13 = 169
    // distinct bijections, so up to 169 replicas are pairwise
    // non-duplicate (the old single 9-char rotation collided at >9
    // replicas, turning replica groups into exact-dup clusters and
    // growing the true pair count quadratically instead of linearly).
    val (h1, h2) = ("abcdefghijklm", "nopqrstuvwxyz")
    require(docFan <= h1.length * h2.length, s"docFan $docFan > 169 permutations")
    def rot(s: String, k: Int) = s.drop(k % s.length) + s.take(k % s.length)
    val alpha = h1 + h2
    val perms = (0 until docFan).map(r =>
      rot(h1, r % h1.length) + rot(h2, r / h1.length))
    val permCol = element_at(array(perms.map(lit): _*), col("rep").cast("int") + 1)
    val idCol = docs.columns.find(c => c == "doc_id" || c == "id").getOrElse(docs.columns.head)
    val textCol = docs.columns.find(_ == "text").getOrElse("text")
    val dfan = docs.crossJoin(spark.range(docFan).toDF("rep"))
      .withColumn(idCol, col(idCol) * docFan + col("rep"))
      .withColumn("__perm", permCol)
      .withColumn(textCol, expr(s"translate(`$textCol`, '$alpha', __perm)"))
      .drop("rep", "__perm")
    dfan.repartition(32).write.mode("overwrite").parquet(s"$out/documents.parquet")
    val dn2 = spark.read.parquet(s"$out/documents.parquet").count()
    println(s"[scale] documents: $dn -> $dn2 rows at $out/documents.parquet")

    // embeddings: fan with the doc factor; replicas get a deterministic
    // per-replica rotation of the vector slots plus a small index-keyed
    // perturbation, so near-neighbor structure repeats per replica
    // (nearest-neighbor sets scale linearly) without exact duplicates
    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    val en = emb.count()
    val efan = emb.crossJoin(spark.range(docFan).toDF("rep"))
      .withColumn("vec_id", col("vec_id") * docFan + col("rep"))
      .withColumn("embedding", expr(
        """transform(embedding, (x, i) ->
             cast(element_at(embedding, cast((i + rep) % size(embedding) AS INT) + 1)
               + cast(rep AS FLOAT) * 1e-4 AS FLOAT))"""))
      .drop("rep")
    efan.repartition(32).write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    println(s"[scale] embeddings: $en -> ${spark.read.parquet(s"$out/embeddings.parquet").count()} rows")

    // link the remaining tables unchanged
    for (f <- new java.io.File(src).listFiles() if f.getName.endsWith(".parquet")
         if f.getName != "events.parquet" && f.getName != "documents.parquet"
         && f.getName != "embeddings.parquet") {
      val link = java.nio.file.Paths.get(out, f.getName)
      java.nio.file.Files.deleteIfExists(link)
      java.nio.file.Files.createSymbolicLink(link, f.toPath.toAbsolutePath)
    }
    println(s"[scale] ready: SPARK_GRAFT_SF_DIR=$out")
    spark.stop()
  }
}
