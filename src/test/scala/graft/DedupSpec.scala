package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, Similarity}
import graft.functions.TextAnalysis

class DedupSpec extends AnyFunSuite {

  lazy val spark: SparkSession = LocalSession(4)
  import spark.implicits._

  private def docs: DataFrame = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy dog near the river bank yesterday"), // near dup
    (4L, "completely different content about spark sql engines and distributed query planning"),
    (5L, "THE QUICK  brown fox jumps over the lazy dog near the river bank today") // case/space dup of 1
  ).toDF("doc_id", "text")

  test("exact dedup normalizes case + whitespace") {
    val out = Dedup.exact(docs, "text", "doc_id")
      .select($"doc_id", $"is_dup").collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(out == Map(1L -> false, 2L -> true, 3L -> false, 4L -> false, 5L -> true))
  }

  test("exact dedup keeps null-text rows as one group (no silent drop)") {
    val withNulls = docs.unionByName(
      Seq((6L, null.asInstanceOf[String]), (7L, null.asInstanceOf[String]))
        .toDF("doc_id", "text"))
    val out = Dedup.exact(withNulls, "text", "doc_id")
      .select($"doc_id", $"is_dup").collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(out.size == 7, "null-text rows must survive the join-back")
    assert(out(6L) == false && out(7L) == true) // one null group, min id canonical
  }

  test("minhash pairs find near + exact dups, not unrelated docs") {
    val pairs = Dedup.minhashPairs(docs, "text", "doc_id", threshold = 0.5)
      .select($"id_a", $"id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 5L)))
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L))) // near dup
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("minhash dedup marks duplicates") {
    val out = Dedup.minhashDedup(docs, "text", "doc_id", threshold = 0.5)
      .select($"doc_id", $"is_dup").collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(out(1L) == false)
    assert(out(2L) == true)
    assert(out(5L) == true)
    assert(out(4L) == false)
  }

  private def flagMap(df: DataFrame): Map[Long, Boolean] =
    df.select($"doc_id", $"is_dup").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap

  /** docs plus a null-text doc: the bootstrap batch of the index specs. */
  private def batch1: DataFrame = docs.unionByName(
    Seq((6L, null.asInstanceOf[String])).toDF("doc_id", "text"))

  /** An arriving shard: 10 repeats doc 1, 11 is fresh, 12 has null text
    * (joins batch 1's null group), 13 normalizes to 11's text. */
  private def arrivingShard: DataFrame = Seq(
    (10L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (11L, "unrelated shard document discussing columnar storage formats and parquet footers"),
    (12L, null.asInstanceOf[String]),
    (13L, "unrelated  SHARD document discussing columnar storage formats and parquet footers")
  ).toDF("doc_id", "text")

  test("incremental minhash: index retains dup signatures, shard flags equal full recompute") {
    val idx = java.nio.file.Files.createTempDirectory("graft_mhidx_spec")
      .toString + "/index"
    Dedup.minhashIndexWrite(batch1, "text", "doc_id", idx)
    // retention contract: EVERY batch-1 doc's signature is in the index,
    // dups included (near-dup similarity is not transitive — survivor-only
    // indexing would change results); null text has no shingles, so no
    // signature
    val idxIds = spark.read.parquet(idx).select($"id")
      .collect().map(_.getLong(0)).toSet
    assert(idxIds == Set(1L, 2L, 3L, 4L, 5L))
    val inc = flagMap(Dedup.minhashServeAppend(arrivingShard, "text",
      "doc_id", idx, threshold = 0.5))
    assert(inc == Map(10L -> true, 11L -> false, 12L -> false, 13L -> true))
    // equivalence: the one-shot full-corpus recompute assigns the shard
    // the same flags
    val full = flagMap(Dedup.minhashDedup(batch1.unionByName(arrivingShard),
      "text", "doc_id", threshold = 0.5).filter($"doc_id" >= 10L))
    assert(full == inc)
    // arrival protocol: the append leaves the index covering every
    // ingested doc that has a signature
    assert(spark.read.parquet(idx).count() == 8L)
  }

  test("incremental exact: digest-index flags equal full recompute, nulls included") {
    val idx = java.nio.file.Files.createTempDirectory("graft_exidx_spec")
      .toString + "/index"
    // batch 1 includes a null-text doc; shard carries an exact dup of
    // doc 1 (via case/space normalization), a fresh doc, a second
    // null-text doc (must hit batch 1's null-digest group via <=>),
    // and an intra-shard dup pair
    val shard = Seq(
      (10L, "THE QUICK BROWN fox jumps over the lazy dog near the river bank today"),
      (11L, "a genuinely fresh shard document"),
      (12L, null.asInstanceOf[String]),
      (13L, "another fresh one"),
      (14L, "another  FRESH one")
    ).toDF("doc_id", "text")
    Dedup.exactIndexWriteAndDedup(batch1, "text", "doc_id", idx)
    val inc = flagMap(Dedup.exactServeAppend(shard, "text", "doc_id", idx))
    assert(inc == Map(10L -> true, 11L -> false, 12L -> true,
      13L -> false, 14L -> true))
    val full = flagMap(Dedup.exact(batch1.unionByName(shard), "text", "doc_id")
      .filter($"doc_id" >= 10L))
    assert(full == inc)
  }

  test("incremental large-shard path (forced chunked serve) matches the single-pass path") {
    // incrementalBroadcastMaxDocs=0 (clamped to 1) forces the chunked
    // serve a shard above the broadcast boundary gets — one id-ordered
    // sub-batch PER DOC here, with the minhash path spilling served
    // chunks so later ones see them as indexed; verdicts must be
    // identical to the default single-broadcast serve on both the
    // minhash and the exact index. Each serve appends the shard, so
    // each gets a fresh index.
    val shard = Seq(
      (10L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (11L, "unrelated shard document discussing columnar storage formats and parquet footers"),
      (12L, "THE QUICK brown fox jumps over the lazy dog near the river bank today")
    ).toDF("doc_id", "text")
    def flags(mh: Boolean): Map[Long, Boolean] = {
      val idx = java.nio.file.Files.createTempDirectory("graft_idx_large")
        .toString + "/index"
      flagMap(if (mh) {
        Dedup.minhashIndexWrite(docs, "text", "doc_id", idx)
        Dedup.minhashServeAppend(shard, "text", "doc_id", idx, threshold = 0.5)
      } else {
        Dedup.exactIndexWriteAndDedup(docs, "text", "doc_id", idx)
        Dedup.exactServeAppend(shard, "text", "doc_id", idx)
      })
    }
    val (mhSmall, exSmall) = (flags(true), flags(false))
    spark.conf.set(Dedup.IncrementalBroadcastMaxDocsKey, "0")
    try {
      assert(flags(true) == mhSmall)
      assert(flags(false) == exSmall)
    } finally spark.conf.unset(Dedup.IncrementalBroadcastMaxDocsKey)
    assert(mhSmall == Map(10L -> true, 11L -> false, 12L -> true))
    assert(exSmall == Map(10L -> true, 11L -> false, 12L -> true))
  }

  private def exRows(p: String): Set[(String, Long)] = spark.read.parquet(p)
    .collect().map(r => (r.getString(0), r.getLong(1))).toSet
  private def mhRows(p: String): Set[(Long, Seq[Long])] = spark.read.parquet(p)
    .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toSet

  test("fused build+bootstrap equals split write-then-dedup (flags AND index bytes)") {
    // the build's flags equal the one-shot operators' and its index rows
    // equal a flag-free index write (minhash) or one (digest, id) row per
    // doc keyed like exact's groups (exact)
    val base = java.nio.file.Files.createTempDirectory("graft_fusedb").toString
    val exFused = flagMap(Dedup.exactIndexWriteAndDedup(batch1, "text",
      "doc_id", s"$base/exF"))
    assert(exFused == flagMap(Dedup.exact(batch1, "text", "doc_id")))
    val ex = exRows(s"$base/exF")
    assert(ex.map(_._2) == Set(1L, 2L, 3L, 4L, 5L, 6L))
    assert(ex.groupBy(_._1).values.map(_.map(_._2)).toSet ==
      Set(Set(1L, 2L, 5L), Set(3L), Set(4L), Set(6L)))
    // null text -> null digest, one row like any other doc
    assert(ex.collect { case (null, id) => id } == Set(6L))
    Dedup.minhashIndexWrite(batch1, "text", "doc_id", s"$base/mhS")
    val mhFused = flagMap(Dedup.minhashIndexWriteAndDedup(batch1, "text",
      "doc_id", s"$base/mhF", threshold = 0.5))
    assert(mhFused == flagMap(Dedup.minhashDedup(batch1, "text", "doc_id",
      threshold = 0.5)))
    assert(mhRows(s"$base/mhF") == mhRows(s"$base/mhS"))
    assert(mhFused(2L) && mhFused(5L) && !mhFused(1L) && !mhFused(4L))
  }

  test("fused serve+append equals split serve-then-append (flags AND index bytes)") {
    // serve+append after a build leaves the flags of a full-corpus
    // recompute on the shard and the index rows of a one-shot build over
    // batch and shard
    val base = java.nio.file.Files.createTempDirectory("graft_fused").toString
    val all = batch1.unionByName(arrivingShard)
    Dedup.exactIndexWriteAndDedup(batch1, "text", "doc_id", s"$base/exA")
    val exFused = flagMap(Dedup.exactServeAppend(arrivingShard, "text",
      "doc_id", s"$base/exA"))
    assert(exFused == flagMap(Dedup.exact(all, "text", "doc_id")
      .filter($"doc_id" >= 10L)))
    // 12 joins batch 1's null group; 13 normalizes to 11's text
    assert(exFused == Map(10L -> true, 11L -> false, 12L -> true, 13L -> true))
    Dedup.exactIndexWriteAndDedup(all, "text", "doc_id", s"$base/exB")
    assert(exRows(s"$base/exA") == exRows(s"$base/exB"))
    assert(exRows(s"$base/exA").size == 10)
    Dedup.minhashIndexWriteAndDedup(batch1, "text", "doc_id", s"$base/mhA",
      threshold = 0.5)
    val mhFused = flagMap(Dedup.minhashServeAppend(arrivingShard, "text",
      "doc_id", s"$base/mhA", threshold = 0.5))
    assert(mhFused == flagMap(Dedup.minhashDedup(all, "text", "doc_id",
      threshold = 0.5).filter($"doc_id" >= 10L)))
    Dedup.minhashIndexWriteAndDedup(all, "text", "doc_id", s"$base/mhB",
      threshold = 0.5)
    assert(mhRows(s"$base/mhA") == mhRows(s"$base/mhB"))
    // null-text docs have no shingles, so no signature row
    assert(mhRows(s"$base/mhA").map(_._1) == Set(1L, 2L, 3L, 4L, 5L, 10L, 11L, 13L))
  }

  test("arrival-order debug guard fires on out-of-order shard ids, passes in order") {
    val idx = java.nio.file.Files.createTempDirectory("graft_ordidx")
      .toString + "/index"
    Dedup.exactIndexWriteAndDedup(docs, "text", "doc_id", idx) // ids 1-5 indexed
    Dedup.minhashIndexWrite(docs, "text", "doc_id", idx + "_mh")
    val okShard = Seq((10L, "fresh doc"), (11L, "other fresh doc"))
      .toDF("doc_id", "text")
    val badShard = Seq((3L, "fresh doc"), (10L, "other fresh doc"))
      .toDF("doc_id", "text")
    spark.conf.set(Dedup.CheckArrivalOrderKey, "true")
    try {
      // in-order shards pass under the guard on both serve paths
      Dedup.exactServeAppend(okShard, "text", "doc_id", idx).collect()
      Dedup.minhashServeAppend(okShard, "text", "doc_id", idx + "_mh")
        .collect()
      // earlier serves' checkpoints are dead data by now: drop them, so
      // what stays persisted below is what the throwing serves left
      val sc = spark.sparkContext
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      val e1 = intercept[IllegalArgumentException](
        Dedup.exactServeAppend(badShard, "text", "doc_id", idx).collect())
      assert(e1.getMessage.contains("arrival-order contract"))
      val e2 = intercept[IllegalArgumentException](
        Dedup.minhashServeAppend(badShard, "text", "doc_id", idx + "_mh")
          .collect())
      assert(e2.getMessage.contains("arrival-order contract"))
      // the minhash serve persisted its signatures before the guard ran
      assert(sc.getPersistentRDDs.isEmpty, sc.getPersistentRDDs.values.mkString(", "))
    } finally spark.conf.unset(Dedup.CheckArrivalOrderKey)
    // guard off (default): the same out-of-order shard runs unchecked
    Dedup.exactServeAppend(badShard, "text", "doc_id", idx).collect()
  }

  test("simhash: identical texts have distance 0, near-dups small") {
    val pairs = Dedup.simhashPairs(docs, "text", "doc_id", maxDistance = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(pairs(1L -> 2L) == 0)
    assert(pairs(1L -> 5L) == 0) // normalized
    assert(!pairs.keySet.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("ngram jaccard exact similarity") {
    val pairs = Dedup.ngramJaccardPairs(docs, "text", "doc_id", threshold = 0.4)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs(1L -> 2L) == 1.0)
    assert(pairs(1L -> 5L) == 1.0)
    val near = pairs.get(1L -> 3L)
    assert(near.exists(j => j > 0.5 && j < 1.0), pairs.toString)
  }

  test("scale-path verify (forced broadcast pair-key join) matches the small-path") {
    // verifyBroadcastMinDocs=0 forces the 100k+ docs verify strategy
    // (persisted candidates broadcast into both corpus streams) onto the
    // small fixture; results must be identical to the default chain.
    def both[A](f: => A): (A, A) = {
      val small = f
      spark.conf.set(Dedup.VerifyBroadcastMinDocsKey, "0")
      try (small, f)
      finally spark.conf.unset(Dedup.VerifyBroadcastMinDocsKey)
    }
    val (m1, m2) = both(Dedup.minhashPairs(docs, "text", "doc_id", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet)
    assert(m1 == m2 && m1.nonEmpty)
    val (n1, n2) = both(Dedup.ngramJaccardPairs(docs, "text", "doc_id", threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet)
    assert(n1 == n2 && n1.nonEmpty)
  }

  test("cross-doc line dedup removes corpus-repeated lines, keeps order") {
    val docs = Seq(
      (1L, "unique alpha line one.\nshared footer here\nunique alpha line two."),
      (2L, "another doc body.\nshared footer here"),
      (3L, "third doc body only.")).toDF("doc_id", "text")
    val out = Dedup.dedupLinesAcrossDocs(docs, "text", "doc_id")
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(out(1L) == ((3L, 2L, "unique alpha line one.\nunique alpha line two.")))
    assert(out(2L) == ((2L, 1L, "another doc body.")))
    assert(out(3L) == ((1L, 1L, "third doc body only.")))
    // a doc reduced to nothing: n_kept 0, cleaned null
    val gone = Dedup.dedupLinesAcrossDocs(
      Seq((1L, "all dup"), (2L, "all dup")).toDF("doc_id", "text"),
      "text", "doc_id").collect()
    assert(gone.forall(r => r.getLong(2) == 0L && r.isNullAt(3)))
    // CROSS-document semantics (RefinedWeb): a line repeated twice
    // within ONE doc but absent elsewhere is not boilerplate
    val intra = Dedup.dedupLinesAcrossDocs(
      Seq((1L, "repeat me\nrepeat me\nbody one"), (2L, "other body"))
        .toDF("doc_id", "text"), "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(intra == Map(1L -> 3L, 2L -> 1L))
  }

  test("substring dedup removes cross-doc repeated spans, keeps intra-doc repeats") {
    // doc1/doc2 share the 6-word span "a b c d e f" inside different
    // contexts; with n=4 its three windows repeat cross-doc, so the
    // whole span vanishes from BOTH docs while the unique context stays
    val docs = Seq(
      (1L, "one two a b c d e f three four"),
      (2L, "five a b c d e f six seven eight"),
      (3L, "x y z w x y z w nine ten")). // intra-doc repeat only -> kept
      toDF("doc_id", "text")
    val out = Dedup.dedupSubstrings(docs, "text", "doc_id", n = 4)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(out(1L) == ((10L, 4L, "one two three four")))
    assert(out(2L) == ((10L, 4L, "five six seven eight")))
    assert(out(3L) == ((10L, 10L, "x y z w x y z w nine ten")))
    // a doc shorter than n has no windows and keeps everything
    val short = Dedup.dedupSubstrings(
      Seq((1L, "a b c"), (2L, "a b c")).toDF("doc_id", "text"),
      "text", "doc_id", n = 4).collect()
    assert(short.forall(r => r.getLong(2) == 3L))
  }

  test("substring keep-one retains the span in the earliest doc only") {
    // same fixture as remove-all: doc1 is the canonical (min doc_id)
    // occurrence of the shared span, so IT keeps "a b c d e f" while
    // doc2 loses it; intra-doc repeats still untouched
    val docs = Seq(
      (1L, "one two a b c d e f three four"),
      (2L, "five a b c d e f six seven eight"),
      (3L, "x y z w x y z w nine ten")).
      toDF("doc_id", "text")
    val out = Dedup.dedupSubstringsKeepOne(docs, "text", "doc_id", n = 4)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(out(1L) == ((10L, 10L, "one two a b c d e f three four")))
    assert(out(2L) == ((10L, 4L, "five six seven eight")))
    assert(out(3L) == ((10L, 10L, "x y z w x y z w nine ten")))
  }

  test("decontamination flags docs sharing an n-gram with the probe set") {
    val docs = Seq((1L, "a b c d e"), (2L, "x y b c d z"), (3L, "p q r s t"))
      .toDF("doc_id", "text")
    val probes = docs.filter($"doc_id" === 1L)
    val out = Dedup.contaminatedDocs(docs, "text", "doc_id", probes, "text", n = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(out(1L) == ((3L, true)))  // the probe's own 3 grams
    assert(out(2L) == ((1L, true)))  // shares exactly "b c d"
    assert(out(3L) == ((0L, false)))
  }

  test("starComponents: fast path on a star forest, fallback elsewhere") {
    // disjoint stars -> fast path, same contract as the generic loop
    val stars = Seq((1L, 2L), (1L, 3L), (1L, 7L), (5L, 6L))
      .toDF("id_a", "id_b")
    val fast = Dedup.starComponents(stars, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val slow = Dedup.connectedComponents(stars, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast == slow)
    assert(fast == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 1L, 5L -> 5L, 6L -> 5L))
    // every violation class must fall back and still be CORRECT:
    for (pairs <- Seq(
        Seq((1L, 2L), (2L, 3L)),  // bridge: 2 on both sides (a chain)
        Seq((1L, 3L), (2L, 3L)),  // duplicate id_b: two centers share a leaf
        Seq((3L, 1L), (3L, 4L)))) // unordered: center not the minimum
    {
      val df = pairs.toDF("id_a", "id_b")
      val a = Dedup.starComponents(df, "id_a", "id_b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val b = Dedup.connectedComponents(df, "id_a", "id_b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(a == b, s"diverged on $pairs")
    }
  }

  test("connected components: chains propagate the min label, components stay disjoint") {
    // 1-2-3-4 is a diameter-3 chain (needs several propagation passes);
    // (10,11) is a separate pair; 99 appears in no pair -> absent
    val pairs = Seq((2L, 3L), (1L, 2L), (3L, 4L), (10L, 11L))
      .toDF("id_a", "id_b")
    val comp = Dedup.connectedComponents(pairs, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L))
    // a triangle with a reversed pair direction still forms one component
    val tri = Seq((7L, 5L), (5L, 6L), (6L, 7L)).toDF("id_a", "id_b")
    val c2 = Dedup.connectedComponents(tri, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(c2 == Map(5L -> 5L, 6L -> 5L, 7L -> 5L))
  }

  test("connected components match a union-find reference on random graphs") {
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 4) {
      val nNodes = 30 + rnd.nextInt(50)
      val edges = Seq.fill(45)(
        (rnd.nextInt(nNodes).toLong, rnd.nextInt(nNodes).toLong))
        .filter(e => e._1 != e._2).distinct
      val got = Dedup.connectedComponents(
        edges.toDF("id_a", "id_b"), "id_a", "id_b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // union-find with min-id roots: find(v) ends at the component min
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(ra max rb) = ra min rb
      }
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val want = nodes.map(v => v -> find(v)).toMap
      assert(got == want, s"trial $trial")
    }
  }

  test("connected components under graft.checkpoint.dir use reliable checkpoints") {
    // cluster-grade lineage truncation: with the knob set, every
    // iteration materializes through checkpoint() (survives executor
    // loss) instead of localCheckpoint(); results must be identical
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.conf.set("graft.checkpoint.dir", dir)
    try {
      val pairs = Seq((2L, 3L), (1L, 2L), (3L, 4L), (10L, 11L))
        .toDF("id_a", "id_b")
      val comp = Dedup.connectedComponents(pairs, "id_a", "id_b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
        10L -> 10L, 11L -> 10L))
      def rdds(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(rdds)
        else Seq(f).filter(_.getName.startsWith("part-"))
      assert(rdds(new java.io.File(dir)).nonEmpty,
        "no reliable checkpoint files were written under graft.checkpoint.dir")
    } finally {
      spark.conf.unset("graft.checkpoint.dir")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("embedding cosine pairs: scaled copies collide, orthogonal don't") {
    val e = Seq(
      (1L, Array.fill(64)(1.0f).toSeq),
      (2L, Array.fill(64)(2.0f).toSeq),            // same direction as 1
      (3L, (0 until 64).map(i => if (i % 2 == 0) 1.0f else -1.0f))) // orthogonal-ish
      .toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingCosinePairs(e, "embedding", "vec_id", threshold = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("brute-force top-k: self is rank 1 with sim 1") {
    val e = (0L until 20L).map(i =>
      (i, (0 until 64).map(j => math.sin(i * 64 + j).toFloat))).toDF("vec_id", "embedding")
    val q = e.filter($"vec_id" === 7).select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    val out = Similarity.bruteForceTopKBatch(e, "embedding", "vec_id", q, "q_vec", "q_id", 3)
      .orderBy($"rank").collect()
    assert(out(0).getLong(1) == 7L)
    assert(math.abs(out(0).getDouble(2) - 1.0) < 1e-9)
  }

  test("lsh top-k contains the exact top-1") {
    val e = (0L until 50L).map(i =>
      (i, (0 until 64).map(j => math.sin(i * 7.0 + j).toFloat))).toDF("vec_id", "embedding")
    val q = e.filter($"vec_id" === 3).select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    val out = Similarity.lshTopK(e, "embedding", "vec_id", q, "q_vec", "q_id",
      k = 5, maxFlips = 8)
      .orderBy($"rank").collect()
    assert(out.nonEmpty && out(0).getLong(1) == 3L)
  }

  test("text analysis: token counts, ratios, langid, fingerprint") {
    val row = Seq(("the cat is on the mat, it is happy!!"))
      .toDF("t")
      .select(
        TextAnalysis.tokenCount($"t"),
        TextAnalysis.punctRatio($"t"),
        TextAnalysis.stopwordRatio($"t"),
        TextAnalysis.langId($"t"),
        TextAnalysis.fingerprint($"t")).head()
    assert(row.getLong(0) == 9L)
    assert(row.getDouble(1) > 0.0 && row.getDouble(1) < 0.2)
    assert(row.getDouble(2) > 0.4) // the/is/on/the/it/is
    assert(row.getString(3) == "en")
    // fingerprint stable under whitespace changes
    val fp2 = Seq(("the cat  is on   the mat, it is happy!!")).toDF("t")
      .select(TextAnalysis.fingerprint($"t")).head().getLong(0)
    assert(row.getLong(4) == fp2)
  }

  test("langid recognizes scripts and romance languages") {
    val cases = Seq(
      "der hund ist nicht mit der katze" -> "de",
      "el perro es una mascota que vive por la casa" -> "es",
      "le chien est dans les maisons" -> "fr",
      "这是一个中文句子" -> "zh")
    cases.foreach { case (t, want) =>
      val got = Seq((t)).toDF("t").select(TextAnalysis.langId($"t")).head().getString(0)
      assert(got == want, s"langId('$t')")
    }
  }

  test("mulmodP61 matches BigInt modular arithmetic") {
    val P = Dedup.P61
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 10000) {
      val a = (rnd.nextLong() & Long.MaxValue) % P
      val b = (rnd.nextLong() & Long.MaxValue) % P
      val want = ((BigInt(a) * BigInt(b)) mod BigInt(P)).toLong
      assert(Dedup.mulmodP61(a, b) == want, s"$a * $b mod P")
    }
    // boundary values
    for (a <- Seq(0L, 1L, P - 1, P / 2); b <- Seq(0L, 1L, P - 1, P / 2))
      assert(Dedup.mulmodP61(a, b) == ((BigInt(a) * BigInt(b)) mod BigInt(P)).toLong)
  }

  test("multimodal plumbing: features + frame sampling shapes") {
    import graft.multimodal.Multimodal
    val ev = spark.range(0, 30).select($"id".as("event_id"))
    val assets = Multimodal.syntheticAssets(spark, ev)
    val feats = Multimodal.extractFeatures(assets)
    assert(feats.select($"features").head().getSeq[Float](0).size == 16)
    val frames = Multimodal.frameSample(feats, 5000L)
    assert(frames.filter($"modality" =!= "video").count() == 0)
    assert(frames.count() > 0)
    val repart = Multimodal.repartitionBySize(assets, 4)
    assert(repart.rdd.getNumPartitions == 4)
  }
}
