package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import graft.operators.Dedup

/** `dedup_stream`: the LLM-curation arrival protocol. Setup indexes a
  * bootstrap corpus (exact digests, then MinHash signatures of the
  * survivors); one op serves one micro-batch through
  * `Dedup.exactServeAppend` and its survivors through
  * `Dedup.minhashServeAppend`, both appending to their on-disk index. */
final class DedupStream(env: Env) extends Workload {
  import DedupStream._

  val warmupOps = 1
  val itemUnit = "docs served"
  private var digests: String = _
  private var sigs: String = _
  private var indexed = 0L
  private var served = 0L
  private var flaggedDocs = 0L

  /** Flagged / served over the timed batches: the useful-outcome ratio. */
  def dupFrac: Double = if (served > 0) flaggedDocs.toDouble / served else 0.0

  private def frame(docs: Seq[Gen.Doc]): DataFrame = {
    import env.spark.implicits._
    docs.map(d => (d.id, d.text)).toDF("doc_id", "text")
  }

  private def flagged(rows: Array[org.apache.spark.sql.Row]): Set[Long] =
    rows.filter(_.getBoolean(1)).map(_.getLong(0)).toSet

  def setup(dir: java.io.File): Unit = {
    digests = new java.io.File(dir, "digests").getPath
    sigs = new java.io.File(dir, "signatures").getPath
    val boot = frame(Gen.bootDocs(env.seed, Boot))
    val exact = Dedup.exactIndexWriteAndDedup(boot, "text", "doc_id", digests)
    val survivors = exact.filter(!col("is_dup")).drop("is_dup")
    val near = Dedup.minhashIndexWriteAndDedup(survivors, "text", "doc_id", sigs)
    val dups = flagged(near.select("doc_id", "is_dup").collect()) ++
      flagged(exact.select("doc_id", "is_dup").collect())
    require(dups.isEmpty, s"bootstrap flagged ${dups.size} of $Boot distinct docs")
    indexed = Boot
  }

  def op(b: Int, t: OpTimer): OpResult = {
    val docs = Gen.batch(env.seed, b, Batch, Boot)
    val shard = frame(docs)
    var exactDups = Set.empty[Long]
    var nearDups = Set.empty[Long]
    t.op {
      val exact = env.step("exact") {
        val f = env.tracer.span("frame", "exact")(Dedup.exactServeAppend(shard, "text", "doc_id", digests))
        exactDups = flagged(env.collect(f.select("doc_id", "is_dup"), "exact"))
        f
      }
      env.step("minhash") {
        val survivors = exact.filter(!col("is_dup")).drop("is_dup")
        val near = env.tracer.span("frame", "minhash")(
          Dedup.minhashServeAppend(survivors, "text", "doc_id", sigs))
        nearDups = flagged(env.collect(near.select("doc_id", "is_dup"), "minhash"))
      }
    }
    indexed += docs.size
    if (env.recording) { served += docs.size; flaggedDocs += exactDups.size + nearDups.size }
    val wantExact = docs.collect { case Gen.Doc(id, _, Gen.Recrawl(_)) => id }.toSet
    val wantNear = docs.collect { case Gen.Doc(id, _, Gen.NearDup(_)) => id }.toSet
    val bad =
      (if (exactDups != wantExact) Seq(s"batch $b exact flags: ${exactDups.size} flagged, " +
        s"${wantExact.size} planted, ${(exactDups diff wantExact).size} unplanted") else Nil) ++
      (if (nearDups != wantNear) Seq(s"batch $b near flags: ${nearDups.size} flagged, " +
        s"${wantNear.size} planted, ${(nearDups diff wantNear).size} unplanted") else Nil)
    OpResult(docs.size.toLong, bad)
  }

  def finish(): Seq[String] = Nil

  def stored: (Long, Long) =
    (Disk.bytes(new java.io.File(digests)) + Disk.bytes(new java.io.File(sigs)), indexed)

  def dataFiles: Long =
    (Disk.dataFiles(new java.io.File(digests)).size + Disk.dataFiles(new java.io.File(sigs)).size).toLong
}

object DedupStream {
  val Boot = 500
  val Batch = 100
}
