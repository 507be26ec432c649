package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._

/** Similarity search over an embedding column (`Array[Float]`).
  *
  * Baseline: brute-force cosine top-k — exact, one scan, no shuffle of
  * the corpus (queries are broadcast). Scale path: random-hyperplane
  * LSH bucketing that prunes the corpus to signature-collision buckets
  * before the exact re-rank — the standard recall/throughput trade.
  */
object Similarity {

  /** Deterministic seeded hyperplanes -> packed sign bits (long).
    *
    * A single tight-loop UDF: the naive alternative (planes × dim
    * `element_at` terms reduced into one Column) produces an expression
    * tree large enough to break whole-stage codegen and fall back to
    * per-term interpreted eval — ~50× slower on a 64-dim corpus. */
  def hyperplaneSignature(v: Column, planes: Int, dim: Int, seed: Long): Column = {
    require(planes <= 63)
    val rnd = new scala.util.Random(seed)
    val hp: Array[Array[Double]] =
      Array.fill(planes)(Array.fill(dim)(rnd.nextGaussian()))
    val sign = udf { (vec: Seq[Float]) =>
      var sig = 0L
      var p = 0
      while (p < planes) {
        val w = hp(p)
        var s = 0.0
        var i = 0
        val n = math.min(w.length, vec.length)
        while (i < n) { s += w(i) * vec(i); i += 1 }
        if (s >= 0) sig |= (1L << p)
        p += 1
      }
      sig
    }
    sign(v)
  }

  /** Exact brute-force cosine top-k for one query vector. */
  def bruteForceTopK(corpus: DataFrame, vecCol: String, idCol: String,
      query: Seq[Float], k: Int): DataFrame = {
    val q = lit(query.toArray)
    corpus
      .withColumn("cos_sim", lit(1.0) - vecCosDistance(col(vecCol), q))
      .orderBy(col("cos_sim").desc, col(idCol))
      .select(col(idCol), col("cos_sim"))
      .limit(k)
  }

  /** Exact top-k for a (small) query table: broadcast the queries over
    * one corpus scan, rank per query. Corpus is never shuffled wide —
    * the shuffle carries #queries × #corpus-partitions candidates. */
  def bruteForceTopKBatch(corpus: DataFrame, vecCol: String, idCol: String,
      queries: DataFrame, queryVecCol: String, queryIdCol: String, k: Int): DataFrame = {
    val joined = corpus.crossJoin(broadcast(queries))
      .withColumn("cos_sim", lit(1.0) - vecCosDistance(col(vecCol), col(queryVecCol)))
    val w = Window.partitionBy(col(queryIdCol))
      .orderBy(col("cos_sim").desc, col(idCol))
    joined.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .select(col(queryIdCol), col(idCol), col("cos_sim"), col("__rn").as("rank"))
  }

  /** Deterministic coarse quantizer for IVF: Lloyd's k-means on a
    * bounded, id-deterministic sample, run on the driver.
    *
    * The sample is constant-size regardless of corpus size (the coarse
    * quantizer of a 100 TB IVF index is still trained on a few thousand
    * vectors), so the collect is a fixed small cost, not a scale
    * hazard. Init = first k sample vectors; ties and iteration order
    * are deterministic, so the index is reproducible run-to-run. */
  def trainCentroids(corpus: DataFrame, vecCol: String, idCol: String,
      k: Int, sampleLimit: Int = 4096, iters: Int = 5): Array[Array[Float]] = {
    val sample: Array[Array[Float]] = corpus
      .orderBy(col(idCol))
      .select(col(vecCol)).limit(sampleLimit).collect()
      .map(_.getSeq[Float](0).toArray)
    require(sample.length >= k, s"IVF needs >= $k sample vectors")
    val dim = sample.head.length
    var cents = sample.take(k).map(_.clone())
    def sq(a: Array[Float], c: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < dim) { val d = a(i) - c(i); s += d * d; i += 1 }
      s
    }
    var it = 0
    while (it < iters) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Int](k)
      sample.foreach { v =>
        var best = 0; var bd = Double.MaxValue; var c = 0
        while (c < k) { val d = sq(v, cents(c)); if (d < bd) { bd = d; best = c }; c += 1 }
        counts(best) += 1
        var i = 0
        while (i < dim) { sums(best)(i) += v(i); i += 1 }
      }
      cents = Array.tabulate(k) { c =>
        if (counts(c) == 0) cents(c) // empty cluster keeps its centroid
        else Array.tabulate(dim)(i => (sums(c)(i) / counts(c)).toFloat)
      }
      it += 1
    }
    cents
  }

  /** Nearest-centroid ids for a vector, closest first.
    *
    * Deterministic in fact, but marked nondeterministic so Catalyst
    * neither duplicates it through constraint propagation (the inner
    * cell join generates `isnotnull(element_at(UDF(v),1))`, which
    * CollapseProject re-inlines — the assignment ran TWICE per corpus
    * row, k·dim flops each) nor pushes it below exchanges — the same
    * fix class as the r8 multimodal decode UDFs. */
  private def nearestCentroids(cents: Array[Array[Float]], n: Int): Column => Column = {
    val f = udf { (vec: Seq[Float]) =>
      val dim = cents.head.length
      cents.indices.map { c =>
        val w = cents(c)
        var s = 0.0; var i = 0
        val lim = math.min(dim, vec.length)
        while (i < lim) { val d = vec(i) - w(i); s += d * d; i += 1 }
        (s, c)
      }.sorted.take(n).map(_._2).toArray
    }.asNondeterministic()
    v => f(v)
  }

  /** IVF approximate top-k: corpus rows are assigned to their nearest
    * coarse centroid once; a query exactly re-ranks only the rows in
    * its `nprobe` nearest cells.
    *
    * Scale shape: one narrow pass assigns the corpus (the cell id is a
    * natural storage partition key, so at rest the filter becomes
    * partition pruning); queries explode to (query, cell) pairs and
    * BROADCAST-join the corpus on the cell id — the corpus is never
    * shuffled, and only ~nprobe/ncentroids of it reaches the re-rank.
    *
    * Default operating point (SimilarityScaleProbe, 200k synthetic
    * 64-dim vectors, recall@10 vs brute force): nprobe 2 → 0.58,
    * nprobe 4 → 0.75, nprobe 6 → 0.81, at ~¼–⅓ the brute-force wall.
    * IVF is the general mid-similarity ANN path; [[lshTopK]]'s
    * hyperplane filter is sharp only in its high-similarity (≥0.9)
    * near-duplicate design regime, where expected bit flips stay far
    * below random pairs'. */
  /** IVF index build: assign every corpus vector to its nearest coarse
    * centroid. This is the once-per-corpus phase of a deployment —
    * persist the result and serve many query batches against it via
    * [[ivfSearchIndexed]]. One corpus scan, no shuffle. */
  def ivfIndex(corpus: DataFrame, vecCol: String, idCol: String,
      ncentroids: Int): (DataFrame, Array[Array[Float]]) = {
    val cents = trainCentroids(corpus, vecCol, idCol, ncentroids)
    val assign1 = nearestCentroids(cents, 1)
    val cells = corpus.withColumn("__cell",
      element_at(assign1(col(vecCol)), 1))
    (cells, cents)
  }

  /** Serve a query batch against a built IVF index: queries fan out to
    * their nprobe nearest cells, broadcast-join into the cell-assigned
    * corpus (the corpus never shuffles), exact re-rank inside the
    * probed cells with the map-side WindowGroupLimit prune. */
  def ivfSearchIndexed(cells: DataFrame, cents: Array[Array[Float]],
      vecCol: String, idCol: String,
      queries: DataFrame, queryVecCol: String, queryIdCol: String,
      k: Int, nprobe: Int): DataFrame = {
    val probeN = nearestCentroids(cents, nprobe)
    val qCells = queries.withColumn("__cell",
      explode(probeN(col(queryVecCol))))
    val candidates = cells.join(broadcast(qCells), "__cell")
      .withColumn("cos_sim", lit(1.0) - vecCosDistance(col(vecCol), col(queryVecCol)))
    val w = Window.partitionBy(col(queryIdCol))
      .orderBy(col("cos_sim").desc, col(idCol))
    candidates.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .select(col(queryIdCol), col(idCol), col("cos_sim"), col("__rn").as("rank"))
  }

  /** Semantic DECONTAMINATION serve path over a built IVF index: flag
    * every corpus row whose cosine similarity to ANY eval probe is ≥
    * threshold — the contamination n-gram overlap checks miss
    * (paraphrases land nowhere near the surface-form grams but right
    * next to the original in embedding space). Threshold-join shape,
    * not top-k: the probe (query, cell) fan-out BROADCASTS into the
    * cell-assigned corpus, so the corpus never shuffles and only
    * ~nprobe/ncentroids of it is compared per probe. A corpus row
    * lives in exactly one cell, so it meets each probe at most once —
    * n_hits is exactly the number of ≥-threshold probes among those
    * whose probed cells cover the row. Returns (idCol, n_hits) for
    * flagged rows only; left-join back for the full verdict column. */
  def ivfContaminated(cells: DataFrame, cents: Array[Array[Float]],
      vecCol: String, idCol: String,
      probes: DataFrame, probeVecCol: String, probeIdCol: String,
      threshold: Double, nprobe: Int): DataFrame = {
    val probeN = nearestCentroids(cents, nprobe)
    val qCells = probes.withColumn("__cell",
      explode(probeN(col(probeVecCol))))
    cells.join(broadcast(qCells), "__cell")
      .withColumn("cos_sim", lit(1.0) - vecCosDistance(col(vecCol), col(probeVecCol)))
      .filter(col("cos_sim") >= threshold)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hits"))
  }

  def ivfTopK(corpus: DataFrame, vecCol: String, idCol: String,
      queries: DataFrame, queryVecCol: String, queryIdCol: String,
      k: Int, ncentroids: Int = 16, nprobe: Int = 4): DataFrame = {
    val (cells, cents) = ivfIndex(corpus, vecCol, idCol, ncentroids)
    ivfSearchIndexed(cells, cents, vecCol, idCol,
      queries, queryVecCol, queryIdCol, k, nprobe)
  }

  /** Persist a built IVF index the way the minhash/digest dedup pair
    * is persisted (build/serve split with state on DISK, not in the
    * JVM): the cell-assigned corpus as Parquet partitioned BY CELL —
    * so a serve-time probe of nprobe cells is partition PRUNING, not
    * even a filter — plus the trained centroids as a tiny sidecar
    * table. A fresh session reloads with [[ivfIndexRead]] and serves
    * without re-training, re-assigning, or shuffling the corpus. */
  def ivfIndexWrite(corpus: DataFrame, vecCol: String, idCol: String,
      ncentroids: Int, path: String): Unit = {
    val (cells, cents) = ivfIndex(corpus, vecCol, idCol, ncentroids)
    // cluster by cell before the partitioned write (guide §6 file
    // sizing): without it every input partition writes a file into
    // every cell dir — tasks × ncentroids small files; with it each
    // cell is one task's contiguous output, so the serve-time probe
    // of nprobe cells opens nprobe files, not nprobe × tasks. The
    // count is EXPLICIT (ncentroids): a bare repartition(col) is
    // AQE-coalescible down to one serialized write task (the same
    // footgun Partitioning.spread exists for)
    cells.repartition(math.max(1, ncentroids), col("__cell"))
      .write.mode("overwrite").partitionBy("__cell")
      .parquet(path + "/cells")
    writeCentroids(corpus.sparkSession, path, cents)
  }

  /** Centroid sidecar IO (optimization round 11): the sidecar is
    * ncentroids·dim floats — driver-sized metadata, the same class as
    * the compaction manifest, and committed the same way
    * ([[graft.model.Catalog.writeCounted]]: temp file + rename +
    * entry-count trailer). r10 wrote/read it as a 1-partition parquet
    * table, paying a full Spark JOB on each side (two ~0.15 s scheduler
    * floors per build/reload at any scale); a driver-side file
    * write/read does the identical data movement with zero jobs.
    * Line i is centroid i (cent_id order), comma-separated floats;
    * Float.toString/parseFloat round-trips every value exactly. */
  private def centroidsPath(path: String) =
    new org.apache.hadoop.fs.Path(path + "/centroids")

  private def writeCentroids(spark: org.apache.spark.sql.SparkSession,
      path: String, cents: Array[Array[Float]]): Unit =
    graft.model.Catalog.writeCounted(spark, centroidsPath(path),
      cents.toSeq.map(_.mkString(",")))

  /** The sidecar's centroids; a sidecar cut short, or written without
    * the trailer, throws rather than reading as fewer centroids. */
  private def readCentroids(spark: org.apache.spark.sql.SparkSession,
      path: String): Array[Array[Float]] = {
    val p = centroidsPath(path)
    graft.model.Catalog.readCounted(spark, p).getOrElse(
      throw new java.io.IOException(
        s"IVF centroid sidecar $p has no whole entry-count trailer: torn, or of an older format"))
      .map(_.split(",").map(java.lang.Float.parseFloat)).toArray
  }

  /** Append an ARRIVING batch to a persisted IVF index: assign each
    * new vector to its nearest EXISTING centroid — no retrain; the
    * coarse quantizer of a growing corpus is trained once and reused
    * across arrivals (the standard IVF add-vs-train split) — and
    * append the rows to the cell-partitioned table. Serve paths pick
    * the new rows up on their next scan; per-arrival cost is one
    * batch-sized assignment pass, the existing cells are untouched. */
  def ivfIndexAppend(batch: DataFrame, vecCol: String, idCol: String,
      path: String): Unit = {
    val spark = batch.sparkSession
    val cents = readCentroids(spark, path)
    val assign1 = nearestCentroids(cents, 1)
    batch.withColumn("__cell", element_at(assign1(col(vecCol)), 1))
      // one file per touched cell; explicit count, see ivfIndexWrite
      .repartition(math.max(1, cents.length), col("__cell"))
      .write.mode("append").partitionBy("__cell").parquet(path + "/cells")
  }

  /** Reload a persisted IVF index: (cells frame, centroid array) in
    * the shape [[ivfSearchIndexed]] / [[ivfContaminated]] consume. The
    * centroid sidecar is ncentroids·dim floats — a driver-side read of
    * the same cost class as the k-means training sample. */
  def ivfIndexRead(spark: org.apache.spark.sql.SparkSession,
      path: String): (DataFrame, Array[Array[Float]]) = {
    val cells = spark.read.parquet(path + "/cells")
    (cells, readCentroids(spark, path))
  }

  /** LSH-pruned approximate top-k: only corpus rows whose hyperplane
    * signature matches the query's in >= (planes - maxFlips) bits are
    * re-ranked exactly. */
  def lshTopK(corpus: DataFrame, vecCol: String, idCol: String,
      queries: DataFrame, queryVecCol: String, queryIdCol: String,
      k: Int, planes: Int = 16, dim: Int = 64, seed: Long = 42L,
      maxFlips: Int = 3): DataFrame = {
    val cSig = corpus.withColumn("__csig",
      hyperplaneSignature(col(vecCol), planes, dim, seed))
    val qSig = queries.withColumn("__qsig",
      hyperplaneSignature(col(queryVecCol), planes, dim, seed))
    val candidates = cSig.crossJoin(broadcast(qSig))
      .filter(bit_count(col("__csig").bitwiseXOR(col("__qsig"))) <= maxFlips)
      .withColumn("cos_sim", lit(1.0) - vecCosDistance(col(vecCol), col(queryVecCol)))
    val w = Window.partitionBy(col(queryIdCol))
      .orderBy(col("cos_sim").desc, col(idCol))
    candidates.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .select(col(queryIdCol), col(idCol), col("cos_sim"), col("__rn").as("rank"))
  }
}
