package graft.queries

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Similarity}
import graft.functions.TextAnalysis
import graft.multimodal.Multimodal
import QueryDsl._

/** Training-data pipeline operators on documents/embeddings (the LLM
  * extension surface). Exact dedup, text stats and brute-force ANN have
  * DuckDB oracles; MinHash/SimHash/LSH are pinned by DedupSpec.
  */
object LlmQueries {

  /** Two-stage verdict join of the composed dedup protocol (exact
    * stage's flags + near-dup flags over exact-survivors) — shared by
    * the single-arrival pipeline entry and the multi-arrival one so the
    * column semantics can't drift between them. */
  private[queries] def dupVerdict(exactDf: org.apache.spark.sql.DataFrame,
      nearDf: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    exactDf.select(col("doc_id"), col("is_dup").as("is_exact_dup"))
      .join(nearDf.select(col("doc_id"), col("is_dup").as("is_near_dup")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), col("is_exact_dup"),
        coalesce(col("is_near_dup"), lit(false)).as("is_near_dup"))
      .withColumn("is_dup", col("is_exact_dup") || col("is_near_dup"))

  /** The constant re-crawl text planted on doc_id%97==3 by the composed
    * dedup entries (the synthetic corpus has no natural exact dups). */
  private val RecrawlText =
    "this exact recrawl snapshot repeats verbatim across the corpus and must be absorbed by the digest stage"

  val queries: Map[String, Q] = Map(
    // INCREMENTAL dedup against a persisted signature index — how
    // MinHash dedup actually runs at 100 TB (the corpus grows by
    // shards; re-running the full pipeline per arrival scales with the
    // CORPUS). Protocol under test: build the index from the accepted
    // corpus (doc_id <= 2/3 of max — ids follow arrival order), dedup
    // the ARRIVING shard against index + itself, append the shard's
    // signatures. The oracle is the FULL-CORPUS minhash replay's
    // per-doc verdict, so the entry pins the equivalence claim:
    // incremental == one-shot recompute, bit for bit.
    "dedup_incremental" -> ((s, d) => {
      val docs = T(s, d, "documents")
      val cut = docs.agg(max(col("doc_id"))).head.getLong(0) * 2 / 3
      val accepted = docs.filter(col("doc_id") <= cut)
      val shard = docs.filter(col("doc_id") > cut)
      val idx = tempDirCleanedOnExit("graft_mhidx") + "/index"
      // the pair build checkpoints at call time, so b1 is safe against
      // the shard append below
      val b1 = Dedup.minhashIndexWriteAndDedup(accepted, "text", "doc_id",
        idx, threshold = 0.5)
      val b2 = Dedup.minhashServeAppend(shard, "text", "doc_id", idx,
        threshold = 0.5)
      b1.select(col("doc_id"), col("is_dup"))
        .unionByName(b2.select(col("doc_id"), col("is_dup")))
        .orderBy(col("doc_id"))
    }),

    // exact-digest twin of dedup_incremental — the production index is
    // a PAIR (exact digests checked first, near-dup signatures second);
    // same arrival split, oracle = the full-corpus exact-dedup verdict
    "dedup_incremental_exact" -> ((s, d) => {
      val docs = T(s, d, "documents")
      val cut = docs.agg(max(col("doc_id"))).head.getLong(0) * 2 / 3
      val accepted = docs.filter(col("doc_id") <= cut)
      val shard = docs.filter(col("doc_id") > cut)
      val idx = tempDirCleanedOnExit("graft_exidx") + "/index"
      val b1 = Dedup.exactIndexWriteAndDedup(accepted, "text", "doc_id", idx)
      // the flags materialize before the digests land in the index
      val b2 = Dedup.exactServeAppend(shard, "text", "doc_id", idx)
      b1.select(col("doc_id"), col("is_dup"))
        .unionByName(b2.select(col("doc_id"), col("is_dup")))
        .orderBy(col("doc_id"))
    }),

    // the COMPLETE production arrival protocol, composed: exact-digest
    // filter first (cheap, absorbs identical re-crawls), MinHash only
    // over the exact-SURVIVORS, both indexes persisted and appended.
    // Composition seams this pins beyond the two single-index entries:
    // the minhash index holds only exact-survivors (so a shard doc
    // that is an exact dup never reaches the band join), survivor
    // selection must agree across engines (min-id per digest group,
    // shard boundary invisible), and the near verdict considers
    // survivor-vs-survivor pairs only. Oracle = full-corpus replay:
    // exact rank per digest group, then the minhash pipeline over
    // rn=1 docs.
    "dedup_incremental_pipeline" -> ((s, d) => {
      // the corpus has no natural exact duplicates, so a re-crawl group
      // is PLANTED (doc_id%97==3 share one constant text): its members
      // sit on BOTH sides of the arrival cut, so the digest stage is
      // exercised shard-vs-index and shard-internal, and the group's
      // non-minimum members must vanish before the band join
      val docs0 = T(s, d, "documents")
      val docs = docs0.select(col("doc_id"),
        when(col("doc_id") % 97 === 3, lit(RecrawlText))
          .otherwise(col("text")).as("text"))
      val cut = docs.agg(max(col("doc_id"))).head.getLong(0) * 2 / 3
      val accepted = docs.filter(col("doc_id") <= cut)
      val shard = docs.filter(col("doc_id") > cut)
      val tmp = tempDirCleanedOnExit("graft_pipidx")
      val dIdx = s"$tmp/digests"; val mIdx = s"$tmp/sigs"
      val verdict = dupVerdict _
      // bootstrap: the accepted corpus processed one-shot, both
      // indexes built (digests = every doc; signatures = survivors).
      // b1e comes back materialized: it feeds THREE consumers (the
      // signature index write, b1n's join-back side, the final verdict)
      // — lazy, the exact-dedup plan would re-execute for each. b1n's
      // pair build is checkpointed at call time, before the arrival
      // appends touch the same path
      val b1e = Dedup.exactIndexWriteAndDedup(accepted, "text", "doc_id", dIdx)
      val b1Surv = b1e.filter(!col("is_dup")).drop("is_dup")
      val b1n = Dedup.minhashIndexWriteAndDedup(b1Surv, "text", "doc_id",
        mIdx, threshold = 0.5)
      // arrival: each append runs after its own serve materializes;
      // the two indexes are independent
      val s1 = Dedup.exactServeAppend(shard, "text", "doc_id", dIdx)
      val sSurv = s1.filter(!col("is_dup")).drop("is_dup")
      val s2 = Dedup.minhashServeAppend(sSurv, "text", "doc_id", mIdx,
        threshold = 0.5)
      verdict(b1e, b1n).unionByName(verdict(s1, s2))
        .orderBy(col("doc_id"))
    }),

    // MULTI-arrival protocol: a real corpus takes MANY shards, not one.
    // Bootstrap on the first 40% of ids, then THREE sequential arrivals
    // of ~20% each — each shard deduped (exact stage, then minhash over
    // exact-survivors) against EVERYTHING that arrived before it, both
    // indexes appended after each arrival. The oracle is the same
    // full-corpus one-shot replay as dedup_incremental_pipeline: the
    // protocol's claim is that the number of arrival cuts is invisible
    // in the verdicts, and since every doc belongs to exactly one
    // arrival, the single match also pins per-arrival equivalence.
    "dedup_incremental_multishard" -> ((s, d) => {
      val docs = T(s, d, "documents").select(col("doc_id"),
        when(col("doc_id") % 97 === 3, lit(RecrawlText))
          .otherwise(col("text")).as("text"))
      val maxId = docs.agg(max(col("doc_id"))).head.getLong(0)
      val edges = Seq(maxId * 2 / 5, maxId * 3 / 5, maxId * 4 / 5, maxId)
      val tmp = tempDirCleanedOnExit("graft_multidx")
      val dIdx = s"$tmp/digests"; val mIdx = s"$tmp/sigs"
      val boot = docs.filter(col("doc_id") <= edges.head)
      // bootstrap, same as dedup_incremental_pipeline
      val b1e = Dedup.exactIndexWriteAndDedup(boot, "text", "doc_id", dIdx)
      val b1Surv = b1e.filter(!col("is_dup")).drop("is_dup")
      val b1n = Dedup.minhashIndexWriteAndDedup(b1Surv, "text", "doc_id",
        mIdx, threshold = 0.5)
      var out = dupVerdict(b1e, b1n)
      for (i <- 1 to 3) {
        val shard = docs.filter(
          col("doc_id") > edges(i - 1) && col("doc_id") <= edges(i))
        // each append lands after its own serve materializes, before
        // the next arrival
        val s1 = Dedup.exactServeAppend(shard, "text", "doc_id", dIdx)
        val sSurv = s1.filter(!col("is_dup")).drop("is_dup")
        val s2 = Dedup.minhashServeAppend(sSurv, "text", "doc_id", mIdx,
          threshold = 0.5)
        out = out.unionByName(dupVerdict(s1, s2))
      }
      out.orderBy(col("doc_id"))
    }),

    // SEMANTIC decontamination: eval-set probes as EMBEDDINGS through
    // the IVF serve path — the contamination n-gram checks miss
    // (paraphrases). Probes are float32 perturbations (cos ~0.9999) of
    // the vec_id%17==3 corpus vectors, the same fixture contract as
    // similarity_ivf: the synthetic corpus has no natural >=0.99
    // structure, so the perturbed originals are the complete flag set
    // and the oracle computes it by exact brute-force distance join —
    // IVF at nprobe=4 must recover every one of them. NOTE: that
    // exactness is a FIXTURE property (every >=threshold pair's corpus
    // cell is among the probe's nprobe cells), not an operator
    // guarantee — ivfContaminated is approximate in general; fixture
    // edits must re-validate the cell-coverage contract.
    "decontaminate_semantic" -> ((s, d) => {
      val emb = T(s, d, "embeddings")
      val probes = emb.filter(col("vec_id") % 17 === 3)
        .select((col("vec_id") + 200000L).as("q_id"),
          transform(col("embedding"), (x, j) =>
            x * (lit(1.0f) + ((j % 5) - 2).cast("float") * lit(0.008f))).as("q_vec"))
      // round 10: the serve runs off the PERSISTED index (built, written
      // cell-partitioned, reloaded) — proving the production
      // build/serve split holds state on disk, same oracle as before
      val idxPath = tempDirCleanedOnExit("graft_ivfidx") + "/ivf"
      Similarity.ivfIndexWrite(emb, "embedding", "vec_id",
        ncentroids = 16, path = idxPath)
      val (cells, cents) = Similarity.ivfIndexRead(s, idxPath)
      val hits = Similarity.ivfContaminated(cells, cents, "embedding", "vec_id",
        probes, "q_vec", "q_id", threshold = 0.99, nprobe = 4)
      // the flag set is contamination-sized by nature — broadcast the
      // verdict join so the corpus id list never sort-merges
      emb.select(col("vec_id")).join(broadcast(hits), Seq("vec_id"), "left")
        .select(col("vec_id"), coalesce(col("n_hits"), lit(0L)).as("n_hits"))
        .withColumn("contaminated", col("n_hits") > 0)
        .orderBy(col("vec_id"))
    }),

    "dedup_exact" -> ((s, d) => {
      Dedup.exact(T(s, d, "documents"), "text", "doc_id")
        .groupBy(col("is_dup")).agg(count(lit(1)).as("n"))
        .orderBy(col("is_dup"))
    }),

    // match_slots = est_jaccard * 64: exact integer agreement count, so
    // the cross-engine compare has no float-rounding ties
    "dedup_minhash" -> ((s, d) => {
      Dedup.minhashPairs(T(s, d, "documents"), "text", "doc_id", threshold = 0.5)
        .select(col("id_a"), col("id_b"),
          (col("est_jaccard") * 64).cast("long").as("match_slots"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    "dedup_simhash" -> ((s, d) => {
      Dedup.simhashPairs(T(s, d, "documents"), "text", "doc_id", maxDistance = 3)
        .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    "dedup_ngram_jaccard" -> ((s, d) => {
      Dedup.ngramJaccardPairs(T(s, d, "documents"), "text", "doc_id",
        threshold = 0.4, n = 3)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // exact brute-force pairs at 0.45 — the small-scale BASELINE oracle for
    // the cartesian path only; the scale path is dedup_embedding_lsh below
    "dedup_embedding" -> ((s, d) => {
      Dedup.embeddingCosinePairsExact(T(s, d, "embeddings"), "embedding", "vec_id",
        threshold = 0.45)
        .select(col("id_a"), col("id_b"), round(col("cos_sim"), 4).as("cos_sim"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // the 100TB-safe path: banded hyperplane LSH + exact verify. Planted
    // near-dups (deterministic float perturbation of 8 corpus vectors,
    // cos ~0.999996) are the complete >=0.99 pair set, so DuckDB computes
    // the exact expected output without replicating LSH; the seeded
    // signature makes LSH recall deterministic for this data.
    "dedup_embedding_lsh" -> ((s, d) => {
      val emb = T(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val planted = emb.filter(col("vec_id") < 8)
        .select((col("vec_id") + 100000L).as("vec_id"),
          transform(col("embedding"), (x, j) =>
            x * (lit(1.0f) + ((j % 5) - 2).cast("float") * lit(0.002f))).as("embedding"))
      Dedup.embeddingCosinePairs(emb.unionByName(planted), "embedding", "vec_id",
        threshold = 0.99)
        .select(col("id_a"), col("id_b"), round(col("cos_sim"), 6).as("cos_sim"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // pair list -> actionable keep/drop: connected components over the
    // exact-cosine pair graph, canonical = smallest id per duplicate
    // cluster, singletons keep themselves
    "dedup_canonical" -> ((s, d) => {
      val emb = T(s, d, "embeddings")
      // membership is quantized before thresholding (round(sim,6) >=
      // 0.45, identical in the oracle) so a 1-ulp cross-engine cosine
      // difference near the cut can't flip an edge — an edge flip here
      // reassigns whole components, a far bigger blast radius than a
      // printed-value straddle. The inner threshold is a strict
      // under-bound of the quantized cut (round(x,6) >= 0.45 ⟺
      // x >= 0.4499995), so the guard never drops a quantized member.
      val pairs = Dedup.embeddingCosinePairsExact(emb, "embedding", "vec_id",
        threshold = 0.4499)
        .filter(round(col("cos_sim"), 6) >= 0.45)
      val comps = Dedup.connectedComponents(pairs, "id_a", "id_b")
        .withColumnRenamed("id", "vec_id")
      emb.select(col("vec_id"))
        .join(comps, Seq("vec_id"), "left")
        .select(col("vec_id"), coalesce(col("comp"), col("vec_id")).as("comp"))
        .withColumn("keep", col("comp") === col("vec_id"))
        .orderBy(col("vec_id"))
    }),

    "similarity_topk" -> ((s, d) => {
      val emb = T(s, d, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      Similarity.bruteForceTopKBatch(emb, "embedding", "vec_id",
        queries, "q_vec", "q_id", k = 10)
        .select(col("q_id"), col("vec_id"), round(col("cos_sim"), 6).as("cos_sim"),
          col("rank").cast("long").as("rank"))
        .orderBy(col("q_id"), col("rank"))
    }),

    "similarity_lsh" -> ((s, d) => {
      // ANN check in the regime LSH is built for: probes are
      // deterministically perturbed copies (float32 arithmetic, so the
      // oracle replicates it exactly) of 5 corpus vectors with
      // cos ~0.999 to their originals; banded-signature multiprobe must
      // retrieve the original as top-1. (The synthetic embeddings have
      // no other high-sim structure — recall of ~0.3-cosine "neighbors"
      // is not an LSH property and is covered exactly by
      // similarity_topk's brute force instead.)
      val emb = T(s, d, "embeddings")
      val probes = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"),
          transform(col("embedding"), (x, j) =>
            x * (lit(1.0f) + ((j % 7) - 3).cast("float") * lit(0.01f))).as("q_vec"))
      Similarity.lshTopK(emb, "embedding", "vec_id",
        probes, "q_vec", "q_id", k = 1, maxFlips = 8)
        .select(col("q_id"), col("vec_id"), round(col("cos_sim"), 6).as("cos_sim"))
        .orderBy(col("q_id"))
    }),

    "similarity_ivf" -> ((s, d) => {
      // IVF (coarse k-means cells + nprobe search) checked in its
      // design regime, same contract as similarity_lsh: probes are
      // deterministic float32 perturbations (cos ~0.9999) of 5 corpus
      // vectors; probing the 2 nearest of 16 cells must return each
      // probe's original as exact top-1. The oracle replicates the
      // perturbation and emits the (probe, original) pairs.
      val emb = T(s, d, "embeddings")
      val probes = emb.filter(col("vec_id") >= 5 && col("vec_id") < 10)
        .select(col("vec_id").as("q_id"),
          transform(col("embedding"), (x, j) =>
            x * (lit(1.0f) + ((j % 5) - 2).cast("float") * lit(0.008f))).as("q_vec"))
      Similarity.ivfTopK(emb, "embedding", "vec_id",
        probes, "q_vec", "q_id", k = 1, ncentroids = 16, nprobe = 2)
        .select(col("q_id"), col("vec_id"), round(col("cos_sim"), 6).as("cos_sim"))
        .orderBy(col("q_id"))
    }),

    // RECALL gate on NON-planted structure (r10 task #6): the planted
    // perturbation entries (similarity_ivf, decontaminate_semantic)
    // have complete exact oracles but test a trivial-recall regime; a
    // real corpus has CLUSTERED structure where IVF recall < 1. This
    // fixture mixes each embedding 40/60 with one of 24 deterministic
    // seed vectors (24 natural clusters vs 16 IVF cells forces merged
    // and split cells — true neighbors cross cell boundaries), holds
    // out vec_id%50==7 as queries, and measures recall@10 of the IVF
    // serve against the engine's own exact brute-force top-10 (that
    // operator's exactness is itself oracle-gated by similarity_topk).
    // Measured: avg 0.88/0.93, min 0.40/0.50 at sf0.01/sf0.1. The
    // bounds live in the ORACLE row (avg >= 0.80, min >= 0.30 at
    // nprobe=4); the entry emits its summary row ONLY when it meets
    // them, so a recall regression is a rows mismatch, not prose.
    "similarity_ivf_recall" -> ((s, d) => {
      val emb = T(s, d, "embeddings")
      val seeds = emb.filter(col("vec_id") < 24)
        .select(col("vec_id").as("sid"), col("embedding").as("seed"))
      val mixed = emb.join(broadcast(seeds),
          pmod(col("vec_id"), lit(24)) === col("sid"))
        .select(col("vec_id"), zip_with(col("seed"), col("embedding"),
          (a, b) => a * lit(0.4f) + b * lit(0.6f)).as("vec"))
      val corpus = mixed.filter(col("vec_id") % 50 =!= 7)
      val queries = mixed.filter(col("vec_id") % 50 === 7)
        .select(col("vec_id").as("q_id"), col("vec").as("q_vec"))
      val brute = Similarity.bruteForceTopKBatch(corpus, "vec", "vec_id",
        queries, "q_vec", "q_id", k = 10).select(col("q_id"), col("vec_id"))
      val ivf = Similarity.ivfTopK(corpus, "vec", "vec_id",
        queries, "q_vec", "q_id", k = 10, ncentroids = 16, nprobe = 4)
        .select(col("q_id"), col("vec_id"))
      val rec = brute.join(ivf, Seq("q_id", "vec_id"), "leftsemi")
        .groupBy(col("q_id")).agg((count(lit(1)) / 10.0).as("recall"))
      queries.select(col("q_id")).join(rec, Seq("q_id"), "left")
        .withColumn("recall", coalesce(col("recall"), lit(0.0)))
        .agg(count(lit(1)).as("n_queries"), avg(col("recall")).as("__ar"),
          min(col("recall")).as("__mr"))
        .select(col("n_queries"), lit(4).as("nprobe"),
          lit(0.80).as("avg_bound"), lit(0.30).as("min_bound"),
          (col("__ar") >= 0.80 && col("__mr") >= 0.30).as("meets_bound"))
        .filter(col("meets_bound"))
    }),

    // The IVF ARRIVAL path (the add-vs-train split every growing ANN
    // deployment uses): train + build on two thirds of the corpus,
    // append the remaining third with NO retrain — each appended
    // vector is assigned to its nearest EXISTING centroid and lands in
    // the cell-partitioned table — then serve from a fresh session.
    // vec_id 7 of the five probed originals arrives via the APPEND
    // (7%3==1), so exact top-1 recovery of all five proves appended
    // rows are genuinely served, not just stored. Same brute-force
    // oracle as similarity_ivf; the perturbed-probe cell-coverage
    // contract is re-validated by this entry's own gate at both SFs.
    "similarity_ivf_append" -> ((s, d) => {
      val idxPath = tempDirCleanedOnExit("graft_ivfapp") + "/ivf"
      val emb = T(s, d, "embeddings")
      Similarity.ivfIndexWrite(emb.filter(col("vec_id") % 3 =!= 1),
        "embedding", "vec_id", ncentroids = 16, path = idxPath)
      Similarity.ivfIndexAppend(emb.filter(col("vec_id") % 3 === 1),
        "embedding", "vec_id", idxPath)
      val s2 = s.newSession()
      val (cells, cents) = Similarity.ivfIndexRead(s2, idxPath)
      val probes = T(s2, d, "embeddings")
        .filter(col("vec_id") >= 5 && col("vec_id") < 10)
        .select(col("vec_id").as("q_id"),
          transform(col("embedding"), (x, j) =>
            x * (lit(1.0f) + ((j % 5) - 2).cast("float") * lit(0.008f))).as("q_vec"))
      Similarity.ivfSearchIndexed(cells, cents, "embedding", "vec_id",
        probes, "q_vec", "q_id", k = 1, nprobe = 2)
        .select(col("q_id"), col("vec_id"), round(col("cos_sim"), 6).as("cos_sim"))
        .orderBy(col("q_id"))
    }),

    // The same IVF serve, but across the PRODUCTION restart boundary:
    // the index is written to disk (cells Parquet partitioned by cell
    // id + centroid sidecar) and reloaded in a FRESH SparkSession that
    // shares nothing in-memory with the builder — probes, corpus
    // frames, and the serve plan are all rebuilt from storage. Same
    // fixture and expected pairs as similarity_ivf, so a match proves
    // the persisted index serves identically to the just-built one.
    "similarity_ivf_persisted" -> ((s, d) => {
      val idxPath = tempDirCleanedOnExit("graft_ivftopk") + "/ivf"
      Similarity.ivfIndexWrite(T(s, d, "embeddings"), "embedding", "vec_id",
        ncentroids = 16, path = idxPath)
      val s2 = s.newSession()
      val (cells, cents) = Similarity.ivfIndexRead(s2, idxPath)
      val probes = T(s2, d, "embeddings")
        .filter(col("vec_id") >= 5 && col("vec_id") < 10)
        .select(col("vec_id").as("q_id"),
          transform(col("embedding"), (x, j) =>
            x * (lit(1.0f) + ((j % 5) - 2).cast("float") * lit(0.008f))).as("q_vec"))
      Similarity.ivfSearchIndexed(cells, cents, "embedding", "vec_id",
        probes, "q_vec", "q_id", k = 1, nprobe = 2)
        .select(col("q_id"), col("vec_id"), round(col("cos_sim"), 6).as("cos_sim"))
        .orderBy(col("q_id"))
    }),

    "text_stats" -> ((s, d) => {
      // one string pass for all five stats (r10 optimization) — the
      // per-stat Column forms ran ~6 interpreted regex splits per row;
      // TextAnalysisSpec pins field-for-field equality with them
      val st = TextAnalysis.textStats(col("text"))
      T(s, d, "documents").select(col("doc_id"), st.as("__st"))
        .select(col("doc_id"),
          col("__st.n_tokens").as("n_tokens"),
          col("__st.n_subwords").as("n_subwords"),
          round(col("__st.punct_ratio"), 6).as("punct_ratio"),
          round(col("__st.stopword_ratio"), 6).as("stopword_ratio"),
          round(col("__st.mean_word_len"), 6).as("mean_word_len"))
        .orderBy(col("doc_id"))
    }),

    "text_quality_langid" -> ((s, d) => {
      // langid heuristic + quality score: rows-only (UDF heuristics)
      T(s, d, "documents").select(col("doc_id"),
        TextAnalysis.langId(col("text")).as("lang_pred"),
        TextAnalysis.qualityScore(col("text")).as("quality"),
        TextAnalysis.fingerprint(col("text")).as("fp"))
        .orderBy(col("doc_id"))
    }),

    "multimodal_pipeline" -> ((s, d) => {
      // schema/batching plumbing smoke: decode-stub features + frame
      // sampling (id filter, not limit: limit order is not deterministic)
      val assets = Multimodal.syntheticAssets(s,
        T(s, d, "events").filter(col("event_id") < 3000))
      val feats = Multimodal.extractFeatures(Multimodal.resize(assets, 256, 256))
      val frames = Multimodal.frameSample(feats, 5000L)
      frames.groupBy(col("modality"))
        .agg(count(lit(1)).as("n_frames"),
          round(sum(graft.functions.VectorFunctions.vecElemSum(col("features"))), 4)
            .as("feat_sum"),
          max(col("meta.width")).cast("long").as("max_w"))
        .orderBy(col("modality"))
    }),

    "multimodal_decode" -> ((s, d) => {
      // REAL PNG decode via JDK ImageIO — dims/channels have exact
      // arithmetic ground truth (pattern class = event_id % 8)
      val assets = Multimodal.imageAssets(s,
        T(s, d, "events").filter(col("event_id") < 3000))
      Multimodal.decodeImages(assets).select(
        col("media_id"),
        col("decoded.width").as("width"),
        col("decoded.height").as("height"),
        col("decoded.channels").as("channels"))
        .orderBy(col("media_id"))
    }),

    "multimodal_phash_dedup" -> ((s, d) => {
      // perceptual dedup over the decoded average-hash: canonical id =
      // min media_id sharing the ahash. Identical pattern class →
      // identical PNG → identical ahash; the 8 classes hash distinctly
      // (MultimodalSpec pins it), so groups == classes exactly.
      val assets = Multimodal.imageAssets(s,
        T(s, d, "events").filter(col("event_id") < 3000))
      Multimodal.phashCanonical(Multimodal.decodeImages(assets))
        .select(col("media_id"), col("canonical_id"))
        .orderBy(col("media_id"))
    }),

    "multimodal_video_decode" -> ((s, d) => {
      // REAL MJPEG-AVI decode: RIFF demux + first-frame ImageIO — dims,
      // frame count and duration have exact arithmetic ground truth
      // (class = event_id % 8 → (48+8c)×(32+8c), 4+c frames at 10 fps)
      val assets = Multimodal.videoAssets(s,
        T(s, d, "events").filter(col("event_id") < 3000))
      Multimodal.decodeVideos(assets).select(
        col("media_id"),
        col("vdecoded.width").as("width"),
        col("vdecoded.height").as("height"),
        col("vdecoded.frames").as("frames"),
        col("vdecoded.duration_ms").as("duration_ms"))
        .orderBy(col("media_id"))
    }),

    "multimodal_video_frames" -> ((s, d) => {
      // frame-SAMPLE with real decode: every 2nd frame demuxed +
      // ImageIO-decoded; sampled indices/timestamps are arithmetic
      val assets = Multimodal.videoAssets(s,
        T(s, d, "events").filter(col("event_id") < 1000))
      Multimodal.videoFrameRows(assets, 2)
        .select(col("media_id"), col("frame_idx"), col("frame_ts_ms"))
        .orderBy(col("media_id"), col("frame_idx"))
    }),

    "multimodal_sniff_decode" -> ((s, d) => {
      // one binary column carrying PNG / WAV / MJPEG-AVI payloads
      // (media_id % 3), format detected from MAGIC BYTES (not trusted
      // metadata) and dispatched to the real decoder — the unified
      // media-lake landing shape
      val assets = Multimodal.mixedAssets(s,
        T(s, d, "events").filter(col("event_id") < 3000))
      Multimodal.decodeAnyCol(assets).select(
        col("media_id"),
        col("dec.modality").as("modality"),
        col("dec.width").as("width"),
        col("dec.height").as("height"),
        col("dec.sample_rate").as("sample_rate"),
        col("dec.frames").as("frames"),
        col("dec.duration_ms").as("duration_ms"))
        .orderBy(col("media_id"))
    }),

    "multimodal_dedup_pipeline" -> ((s, d) => {
      // The COMPOSED curation pipeline over one mixed binary column —
      // each stage is individually pinned elsewhere; this entry pins
      // the composition where schema/null/partitioning seams hide:
      // magic-byte sniff → real decode (PNG/WAV/MJPEG-AVI) → perceptual
      // content key → near-dup pair list → connected components →
      // canonical keep/drop. Keys derive from decoded content, so the
      // ground truth is the generator arithmetic: identical
      // (modality, class) → identical bytes → identical key, and the 8
      // classes key distinctly per modality (MultimodalSpec).
      val assets = Multimodal.mixedAssets(s,
        T(s, d, "events").filter(col("event_id") < 3000))
      // decode runs once: the keyed table feeds both the pair build
      // and the final join (same materialize-don't-recompute rule as
      // SemDeDup's assignment)
      val keyed = graft.operators.Lineage.truncate(
        Multimodal.contentKeys(assets))
      // STAR pairs (bucket-min, member): linear in bucket size where
      // all-pairs is quadratic, and — unlike a per-bucket window chain
      // — skew-safe: the bucket min comes from a map-side-combined
      // aggregate and the join back is AQE-splittable, so a meme
      // duplicated 100M times never funnels through one task. CC then
      // canonicalizes (and in the general multi-key contract stitches
      // overlapping buckets into one component).
      val canon = keyed.groupBy(col("modality"), col("key"))
        .agg(min(col("media_id")).as("__c"))
      val pairs = keyed.join(canon, Seq("modality", "key"))
        .filter(col("media_id") =!= col("__c"))
        .select(col("__c").as("id_a"), col("media_id").as("id_b"))
      // single-key buckets are disjoint, so the pair list is a star
      // forest: starComponents VERIFIES that shape (two label-sized
      // passes) and skips the generic loop's five materializations —
      // falling back to hook-and-compress if a future fixture breaks
      // the shape (the multi-key contract in the near-dup entry keeps
      // the generic path)
      val comps = Dedup.starComponents(pairs, "id_a", "id_b")
        .withColumnRenamed("id", "media_id")
      keyed.join(comps, Seq("media_id"), "left")
        .select(col("media_id"), col("modality"),
          coalesce(col("comp"), col("media_id")).as("canonical_id"))
        .withColumn("keep", col("canonical_id") === col("media_id"))
        .orderBy(col("media_id"))
    }),

    "multimodal_neardup_pipeline" -> ((s, d) => {
      // HAMMING near-dup composition: unlike multimodal_dedup_pipeline
      // (exact perceptual-key equality only), the CC stage here also
      // stitches PERTURBED and RE-ENCODED assets. Fixture: per class,
      // base PNG / lossy JPEG re-encode (ahash collides exactly — the
      // exact-key stage absorbs it) / 1-3-cell-flipped PNGs (ahash
      // Hamming exactly 1..3 — the banded pair join catches them);
      // cross-class distance >= 21 (AhashProbe), so the generator
      // arithmetic IS the ground truth: every variant of class c lands
      // in c's component. Body shared with NearDupScaleProbe (the
      // decade growth audit).
      nearDupPipeline(Multimodal.nearDupImageAssets(s,
        T(s, d, "events").filter(col("event_id") < 3000)))
        .orderBy(col("media_id"))
    }),

    "multimodal_audio_decode" -> ((s, d) => {
      // REAL WAV decode via javax.sound.sampled — rate/channels/duration
      // pinned by the synth arithmetic; rms_ok proves the PCM was read
      // (a pure sine's RMS is amplitude/sqrt(2) ~ 8485)
      val assets = Multimodal.audioAssets(s,
        T(s, d, "events").filter(col("event_id") < 3000))
      Multimodal.decodeAudios(assets).select(
        col("media_id"),
        col("adecoded.sample_rate").as("sample_rate"),
        col("adecoded.channels").as("channels"),
        col("adecoded.duration_ms").as("duration_ms"),
        col("adecoded.rms").between(8400.0, 8600.0).as("rms_ok"))
        .orderBy(col("media_id"))
    }),

    // deterministic corpus sampling: per-stratum quota (exactly 200 by
    // hash-rank) and per-stratum fractions (downsample common strata,
    // keep rare ones) — both md5-rank driven so DuckDB replays the
    // identical arithmetic.
    "sample_stratified" -> ((s, d) => {
      val ev = T(s, d, "events")
      val quota = graft.operators.Sampling
        .stratifiedQuota(ev, Seq("event_type"), col("event_id"), 200)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_quota"), sum(col("event_id")).as("sum_id_quota"))
      val frac = graft.operators.Sampling
        .stratifiedFractions(ev, col("event_type"), col("event_id"),
          Map("error" -> 0.5), default = 0.1)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_frac"), sum(col("event_id")).as("sum_id_frac"))
      quota.join(frac, Seq("event_type")).orderBy(col("event_type"))
    })
  )

  /** The composed Hamming near-dup pipeline over a binary asset column
    * — exact-key star stage absorbs identical content (a 100M-copy meme
    * never reaches banding), the banded ahash Hamming join relates only
    * DISTINCT perceptual keys, generic CC stitches (star + Hamming
    * pairs aren't a star forest). Shared by the
    * `multimodal_neardup_pipeline` entry and NearDupScaleProbe. */
  def nearDupPipeline(assets: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val keyed = graft.operators.Lineage.truncate(
      Multimodal.contentKeys(assets))
    // exact stage: star pairs off the bucket-min representative
    // (identical content never reaches the band join — a 100M-copy
    // meme would make banding quadratic)
    val reps = keyed.groupBy(col("modality"), col("key"))
      .agg(min(col("media_id")).as("rep"))
    val starPairs = keyed.join(reps, Seq("modality", "key"))
      .filter(col("media_id") =!= col("rep"))
      .select(col("rep").as("id_a"), col("media_id").as("id_b"))
    // Hamming stage relates only the DISTINCT perceptual keys
    val hamPairs = Multimodal.ahashNearDupPairs(
        reps.filter(col("modality") === "image"), "rep", "key",
        maxDistance = 3)
      .select(col("id_a"), col("id_b"))
    val comps = Dedup.connectedComponents(
        starPairs.unionByName(hamPairs), "id_a", "id_b")
      .withColumnRenamed("id", "media_id")
    keyed.join(comps, Seq("media_id"), "left")
      .select(col("media_id"),
        coalesce(col("comp"), col("media_id")).as("canonical_id"))
      .withColumn("keep", col("canonical_id") === col("media_id"))
  }

  /** The minhash permutation constants, embedded verbatim into the
    * DuckDB oracle so both engines run the identical integer pipeline
    * (shared with CurationQueries' two-level dedup replay). */
  private[queries] val minhashPermRows: String = {
    val (as, bs) = Dedup.minhashPerms(64)
    (0 until 64).map(i => s"(${i},${as(i)}::HUGEINT,${bs(i)}::HUGEINT)").mkString(",")
  }

  /** Full cross-engine MinHash+LSH replay (same 60-bit md5-prefix
    * shingle hash, same (a*h+b) mod 2^61-1 permutations, same 16x4
    * banding) over `docSource` — a table name or parenthesized
    * sub-select with (doc_id, text) — ending at `est` (id_a, id_b, m
    * agreeing slots). Callers prepend `WITH p(i, a, b) AS (VALUES
    * minhashPermRows)` and any of their own CTEs. Shared by the
    * pair-list oracle (dedup_minhash), the incremental-equivalence
    * oracle (dedup_incremental), and the composed-protocol oracle
    * (dedup_incremental_pipeline, where docSource is the
    * exact-survivor set). */
  private[queries] def minhashReplayCore(docSource: String): String =
    s"""
         d AS (SELECT doc_id AS id,
                 list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                             x -> x <> '') AS w
               FROM $docSource),
         g AS (SELECT id, w, unnest(generate_series(1, len(w) - 2)) AS i
               FROM d WHERE len(w) >= 3),
         gr AS (SELECT id,
                  ('0x' || substr(md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]), 1, 15))::BIGINT AS h
                FROM g),
         sig AS (SELECT gr.id, p.i,
                   CAST(min((p.a * gr.h + p.b) % 2305843009213693951) AS BIGINT) AS v
                 FROM gr CROSS JOIN p GROUP BY gr.id, p.i),
         bands AS (SELECT id, i // 4 AS band, list(v ORDER BY i) AS key
                   FROM sig GROUP BY id, i // 4),
         cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
                  FROM bands a JOIN bands b
                    ON a.band = b.band AND a.key = b.key AND a.id < b.id),
         est AS (SELECT c.id_a, c.id_b,
                   CAST(sum(CASE WHEN sa.v = sb.v THEN 1 ELSE 0 END) AS BIGINT) AS m
                 FROM cand c
                 JOIN sig sa ON sa.id = c.id_a
                 JOIN sig sb ON sb.id = c.id_b AND sb.i = sa.i
                 GROUP BY c.id_a, c.id_b)"""

  /** One-shot full-corpus replay of the composed exact→minhash
    * protocol (planted re-crawl group, exact rank per digest group,
    * minhash over rn=1 survivors). Both the single-arrival and the
    * multi-arrival entries pin against this SAME SQL — equality is the
    * protocol's equivalence claim. */
  private val composedPipelineOracle: String =
    s"WITH p(i, a, b) AS (VALUES $minhashPermRows)," + s"""
         pl AS (SELECT doc_id,
             CASE WHEN doc_id % 97 = 3
               THEN '$RecrawlText'
               ELSE text END AS text
           FROM documents),
         ex AS (SELECT doc_id, text, row_number() OVER (
             PARTITION BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
             ORDER BY doc_id) AS rn
           FROM pl),""" +
      minhashReplayCore("(SELECT doc_id, text FROM ex WHERE rn = 1)") + """,
         ndup AS (SELECT DISTINCT id_b AS id FROM est WHERE m >= 32)
         SELECT doc.doc_id,
           ex.rn > 1 AS is_exact_dup,
           ndup.id IS NOT NULL AS is_near_dup,
           (ex.rn > 1 OR ndup.id IS NOT NULL) AS is_dup
         FROM documents doc
         JOIN ex ON ex.doc_id = doc.doc_id
         LEFT JOIN ndup ON ndup.id = doc.doc_id
         ORDER BY doc.doc_id"""

  val oracles: Map[String, String] = Map(
    // full cross-engine replication of the MinHash+LSH pipeline: same
    // 60-bit md5-prefix shingle hash, same (a*h+b) mod 2^61-1
    // permutations (constants above), same 16x4 banding and >=32/64
    // agreement threshold
    "dedup_minhash" -> (s"WITH p(i, a, b) AS (VALUES $minhashPermRows)," + minhashReplayCore("documents") + """
         SELECT id_a, id_b, m AS match_slots FROM est
         WHERE m >= 32 ORDER BY id_a, id_b"""),

    // the equivalence claim IS the oracle: the incremental path
    // (persisted index + shard) must reproduce the one-shot full-corpus
    // recompute's per-doc verdict — dup iff the doc pairs (>=32/64
    // slots) with ANY smaller id, shard boundary invisible
    "dedup_incremental" -> (s"WITH p(i, a, b) AS (VALUES $minhashPermRows)," + minhashReplayCore("documents") + """,
         dup AS (SELECT DISTINCT id_b AS id FROM est WHERE m >= 32)
         SELECT doc.doc_id, dup.id IS NOT NULL AS is_dup
         FROM documents doc LEFT JOIN dup ON dup.id = doc.doc_id
         ORDER BY doc.doc_id"""),

    // composed-protocol replay: exact rank per normalized-digest group
    // first, then the full minhash pipeline over the rn=1 SURVIVORS
    // only — the incremental two-index path must reproduce all three
    // verdict columns bit for bit
    "dedup_incremental_pipeline" -> composedPipelineOracle,

    // the multi-arrival protocol's claim is precisely that arrival
    // cuts are invisible: THE SAME one-shot replay must match
    "dedup_incremental_multishard" -> composedPipelineOracle,

    // per-doc verdict of the one-shot full-corpus exact dedup — the
    // incremental digest-index path must reproduce it bit for bit
    "dedup_incremental_exact" ->
      """WITH r AS (SELECT doc_id, row_number() OVER (
             PARTITION BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
             ORDER BY doc_id) AS rn
           FROM documents)
         SELECT doc_id, rn > 1 AS is_dup FROM r ORDER BY doc_id""",

    // exact brute-force distance join: every corpus vector within 0.99
    // of any perturbed probe (the replayed float32 perturbation) — the
    // IVF serve path must recover the complete set
    "decontaminate_semantic" ->
      """WITH q AS (
           SELECT vec_id AS q_id,
             list_transform(embedding, (x, i) ->
               CAST(x * (CAST(1.0 AS FLOAT) +
                 CAST((i - 1) % 5 - 2 AS FLOAT) * CAST(0.008 AS FLOAT)) AS FLOAT)) AS q_vec
           FROM embeddings WHERE vec_id % 17 = 3),
         h AS (SELECT e.vec_id, COUNT(*) AS n
               FROM embeddings e JOIN q
                 ON list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                           CAST(q.q_vec AS DOUBLE[])) >= 0.99
               GROUP BY 1)
         SELECT e.vec_id, CAST(coalesce(h.n, 0) AS BIGINT) AS n_hits,
           coalesce(h.n, 0) > 0 AS contaminated
         FROM embeddings e LEFT JOIN h USING (vec_id)
         ORDER BY e.vec_id""",

    // full cross-engine replication of 60-bit SimHash: same token hash,
    // same sign-of-bit-histogram signature, 4x15-bit banding, Hamming<=3
    "dedup_simhash" ->
      """WITH t AS (SELECT doc_id AS id,
             unnest(regexp_split_to_array(
               regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ')) AS tok
           FROM documents),
         h AS (SELECT id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM t),
         bits AS (SELECT id, b.i,
                    sum(CASE WHEN (h.h >> b.i) & 1 = 1 THEN 1 ELSE -1 END) AS cnt
                  FROM h CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS i) b
                  GROUP BY id, b.i),
         sig AS (SELECT id,
                   CAST(sum(CASE WHEN cnt > 0 THEN (1::BIGINT << i) ELSE 0 END) AS BIGINT) AS sh
                 FROM bits GROUP BY id),
         bk AS (SELECT id, sh, bb.b AS band, (sh >> (15 * bb.b)) & 32767 AS key
                FROM sig CROSS JOIN (SELECT unnest([0,1,2,3]) AS b) bb),
         pairs AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b,
                     bit_count(xor(a.sh, b.sh)) AS hamming
                   FROM bk a JOIN bk b
                     ON a.band = b.band AND a.key = b.key AND a.id < b.id
                   WHERE bit_count(xor(a.sh, b.sh)) <= 3)
         SELECT id_a, id_b, CAST(hamming AS BIGINT) AS hamming
         FROM pairs ORDER BY id_a, id_b""",

    // the perturbed probe's true nearest neighbor is its original
    // vector: the oracle replicates the float32 perturbation and emits
    // the (probe, original) pairs LSH must return as top-1
    "similarity_lsh" ->
      """WITH q AS (
           SELECT vec_id AS q_id,
             list_transform(embedding, (x, i) ->
               CAST(x * (CAST(1.0 AS FLOAT) +
                 CAST((i - 1) % 7 - 3 AS FLOAT) * CAST(0.01 AS FLOAT)) AS FLOAT)) AS q_vec
           FROM embeddings WHERE vec_id < 5)
         SELECT q.q_id, e.vec_id,
           round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                        CAST(q.q_vec AS DOUBLE[])), 6) AS cos_sim
         FROM q JOIN embeddings e ON e.vec_id = q.q_id
         ORDER BY q.q_id""",

    // the perturbed probe's true nearest neighbor is its original
    // vector; IVF nprobe=2 must recover it as exact top-1 — the oracle
    // replays the float32 perturbation and joins probe to original
    "similarity_ivf" ->
      """WITH q AS (
           SELECT vec_id AS q_id,
             list_transform(embedding, (x, i) ->
               CAST(x * (CAST(1.0 AS FLOAT) +
                 CAST((i - 1) % 5 - 2 AS FLOAT) * CAST(0.008 AS FLOAT)) AS FLOAT)) AS q_vec
           FROM embeddings WHERE vec_id >= 5 AND vec_id < 10)
         SELECT q.q_id, e.vec_id,
           round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                        CAST(q.q_vec AS DOUBLE[])), 6) AS cos_sim
         FROM q JOIN embeddings e ON e.vec_id = q.q_id
         ORDER BY q.q_id""",

    // the recall BOUNDS are stated here (0.80 avg / 0.30 min at
    // nprobe=4): the entry emits its one summary row only when its
    // measured recall meets them, so this row's presence IS the gate
    "similarity_ivf_recall" ->
      """SELECT count(*) AS n_queries, CAST(4 AS INT) AS nprobe,
           CAST(0.80 AS DOUBLE) AS avg_bound, CAST(0.30 AS DOUBLE) AS min_bound,
           true AS meets_bound
         FROM embeddings WHERE vec_id % 50 = 7""",

    // identical replay to similarity_ivf: the append path (build on
    // two thirds, assign-only append of the rest) must serve the same
    // exact top-1 pairs as a full build
    "similarity_ivf_append" ->
      """WITH q AS (
           SELECT vec_id AS q_id,
             list_transform(embedding, (x, i) ->
               CAST(x * (CAST(1.0 AS FLOAT) +
                 CAST((i - 1) % 5 - 2 AS FLOAT) * CAST(0.008 AS FLOAT)) AS FLOAT)) AS q_vec
           FROM embeddings WHERE vec_id >= 5 AND vec_id < 10)
         SELECT q.q_id, e.vec_id,
           round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                        CAST(q.q_vec AS DOUBLE[])), 6) AS cos_sim
         FROM q JOIN embeddings e ON e.vec_id = q.q_id
         ORDER BY q.q_id""",

    // identical replay to similarity_ivf: the persisted+reloaded index
    // must serve exactly what the just-built one does
    "similarity_ivf_persisted" ->
      """WITH q AS (
           SELECT vec_id AS q_id,
             list_transform(embedding, (x, i) ->
               CAST(x * (CAST(1.0 AS FLOAT) +
                 CAST((i - 1) % 5 - 2 AS FLOAT) * CAST(0.008 AS FLOAT)) AS FLOAT)) AS q_vec
           FROM embeddings WHERE vec_id >= 5 AND vec_id < 10)
         SELECT q.q_id, e.vec_id,
           round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                        CAST(q.q_vec AS DOUBLE[])), 6) AS cos_sim
         FROM q JOIN embeddings e ON e.vec_id = q.q_id
         ORDER BY q.q_id""",

    // langid/quality/fingerprint heuristics replicated in SQL: script
    // shortcuts via RE2 \p classes, stopword voting with (votes, lang)
    // max tie-break, quality-score arithmetic, min-gram-hash fingerprint
    "text_quality_langid" ->
      """WITH base AS (
           SELECT doc_id, text,
             CASE
               WHEN text IS NULL OR text = '' THEN 'und'
               WHEN regexp_matches(text, '[\p{Hiragana}\p{Katakana}]') THEN 'ja'
               WHEN regexp_matches(text, '[\p{Hangul}]') THEN 'ko'
               WHEN regexp_matches(text, '[\p{Han}]') THEN 'zh'
               WHEN length(regexp_replace(text, '[^\p{Cyrillic}]', '', 'g')) > length(text) // 4 THEN 'ru'
               ELSE NULL END AS shortcut
           FROM documents),
         toks AS (SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[^a-z0-9_]+'), x -> x <> '') AS tk
           FROM base WHERE shortcut IS NULL),
         m(lang, markers) AS (VALUES
           ('en', ['the','and','is','of','to','that','with','for']),
           ('es', ['el','la','los','las','de','que','es','una','por']),
           ('de', ['der','die','das','und','ist','nicht','mit','ein']),
           ('fr', ['le','la','les','des','est','que','une','dans']),
           ('it', ['il','di','che','la','per','una','sono','con']),
           ('pt', ['o','de','que','e','do','da','em','um','para'])),
         v AS (SELECT doc_id, m.lang,
                 len(list_filter(tk, x -> list_contains(m.markers, x))) AS n
               FROM toks CROSS JOIN m),
         voted AS (SELECT doc_id, CASE WHEN n = 0 THEN 'und' ELSE lang END AS lang_voted
                   FROM v QUALIFY row_number() OVER (PARTITION BY doc_id
                     ORDER BY n DESC, lang DESC) = 1),
         lang AS (SELECT b.doc_id, coalesce(b.shortcut, voted.lang_voted, 'und') AS lang_pred
                  FROM base b LEFT JOIN voted ON b.doc_id = voted.doc_id),
         qual AS (SELECT doc_id,
             round(
               LEAST(length(text) / 500.0, 1.0) * 0.4 +
               GREATEST(0.0, 1.0 -
                 (CASE WHEN length(regexp_replace(text, '\s', '', 'g')) = 0 THEN 0.0
                   ELSE (length(regexp_replace(text, '\s', '', 'g'))
                       - length(regexp_replace(regexp_replace(text, '\s', '', 'g'), '[[:punct:]]', '', 'g')))
                      / CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE) END) * 4.0) * 0.4 +
               LEAST((len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                   t -> list_contains(['the','a','an','of','to','in','and','is','it','that','for','on','with','as','was','at','by'], t)))
                 / CAST(len(regexp_split_to_array(lower(trim(text)), '\s+')) AS DOUBLE)) * 5.0, 1.0) * 0.2,
               6) AS quality
           FROM documents),
         d2 AS (SELECT doc_id,
                  regexp_replace(trim(lower(text)), '\s+', ' ', 'g') AS norm,
                  list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), x -> x <> '') AS w
                FROM documents),
         gr2 AS (SELECT doc_id,
                   min(('0x' || substr(md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]), 1, 15))::BIGINT) AS mn
                 FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i
                       FROM d2 WHERE len(w) >= 3) g
                 GROUP BY doc_id),
         fp AS (SELECT d2.doc_id,
                  coalesce(gr2.mn, ('0x' || substr(md5(d2.norm), 1, 15))::BIGINT) AS fp
                FROM d2 LEFT JOIN gr2 USING (doc_id))
         SELECT lang.doc_id, lang.lang_pred, qual.quality, fp.fp
         FROM lang JOIN qual ON lang.doc_id = qual.doc_id
                   JOIN fp ON lang.doc_id = fp.doc_id
         ORDER BY lang.doc_id""",

    "dedup_exact" ->
      """WITH ranked AS (
           SELECT row_number() OVER (
             PARTITION BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
             ORDER BY doc_id) AS rn
           FROM documents)
         SELECT rn > 1 AS is_dup, COUNT(*) AS n FROM ranked
         GROUP BY is_dup ORDER BY is_dup""",

    // exact word-3-gram Jaccard >= 0.4 (the PPJoin prunes in
    // Dedup.ngramJaccardPairs are lossless, so ground truth must match)
    "dedup_ngram_jaccard" ->
      """WITH w AS (
           SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS ws
           FROM documents),
         wi AS (
           SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 2)) AS i
           FROM w WHERE len(ws) >= 3),
         g AS (
           SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS gram
           FROM wi),
         sz AS (SELECT doc_id, COUNT(*) AS n FROM g GROUP BY 1),
         inter AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
           FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
           GROUP BY 1, 2)
         SELECT id_a, id_b,
           round(c / CAST(sa.n + sb.n - c AS DOUBLE), 4) AS jaccard
         FROM inter
         JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
         WHERE c / CAST(sa.n + sb.n - c AS DOUBLE) >= 0.4
         ORDER BY id_a, id_b""",

    // LSH entry: the planted copies are the complete >=0.99 pair set, so
    // the oracle computes ground truth directly (no LSH replication needed)
    "dedup_embedding_lsh" ->
      """WITH p AS (
           SELECT vec_id, list_transform(embedding, (x, i) ->
               CAST(x * (CAST(1.0 AS FLOAT) +
                 CAST((i - 1) % 5 - 2 AS FLOAT) * CAST(0.002 AS FLOAT)) AS FLOAT)) AS pvec
           FROM embeddings WHERE vec_id < 8)
         SELECT e.vec_id AS id_a, e.vec_id + 100000 AS id_b,
           round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                        CAST(p.pvec AS DOUBLE[])), 6) AS cos_sim
         FROM embeddings e JOIN p USING (vec_id)
         ORDER BY id_a, id_b""",

    // exact cosine pairs, mirrored by list_cosine_similarity in double
    "dedup_embedding" ->
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])), 4) AS cos_sim
         FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                      CAST(b.embedding AS DOUBLE[])) >= 0.45
         ORDER BY id_a, id_b""",

    // transitive closure by recursive CTE; comp = min reachable id
    "dedup_canonical" ->
      """WITH RECURSIVE pairs AS (
           SELECT a.vec_id AS s, b.vec_id AS t
           FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
           WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                              CAST(b.embedding AS DOUBLE[])), 6) >= 0.45),
         edges AS (SELECT s, t FROM pairs UNION SELECT t, s FROM pairs),
         reach(id, r) AS (
           SELECT s, s FROM edges
           UNION
           SELECT reach.id, e.t FROM reach JOIN edges e ON e.s = reach.r),
         comp AS (SELECT id, min(r) AS comp FROM reach GROUP BY id)
         SELECT e.vec_id, coalesce(c.comp, e.vec_id) AS comp,
           coalesce(c.comp, e.vec_id) = e.vec_id AS keep
         FROM embeddings e LEFT JOIN comp c ON c.id = e.vec_id
         ORDER BY e.vec_id""",

    "similarity_topk" ->
      """WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id < 5)
         SELECT q_id, vec_id, round(cos_sim, 6) AS cos_sim, CAST(rank AS BIGINT) AS rank FROM (
           SELECT q.q_id, e.vec_id,
             list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.q_vec AS DOUBLE[])) AS cos_sim,
             row_number() OVER (PARTITION BY q.q_id
               ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.q_vec AS DOUBLE[])) DESC,
                        e.vec_id) AS rank
           FROM embeddings e CROSS JOIN q) t
         WHERE rank <= 10 ORDER BY q_id, rank""",

    "text_stats" ->
      """SELECT doc_id,
           CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
           CAST(list_sum(list_transform(regexp_split_to_array(trim(text), '\s+'),
                w -> CAST(ceil(length(w) / 4.0) AS BIGINT))) AS BIGINT) AS n_subwords,
           round(CASE WHEN length(regexp_replace(text, '\s', '', 'g')) = 0 THEN 0.0
             ELSE (length(regexp_replace(text, '\s', '', 'g'))
                 - length(regexp_replace(regexp_replace(text, '\s', '', 'g'), '[[:punct:]]', '', 'g')))
                / CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE) END, 6) AS punct_ratio,
           round(len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
               t -> list_contains(['the','a','an','of','to','in','and','is','it','that','for','on','with','as','was','at','by'], t)))
             / CAST(len(regexp_split_to_array(lower(trim(text)), '\s+')) AS DOUBLE), 6) AS stopword_ratio,
           round(list_sum(list_transform(regexp_split_to_array(trim(text), '\s+'),
               w -> length(w))) / CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE), 6) AS mean_word_len
         FROM documents ORDER BY doc_id""",

    // the decode stub is deterministic arithmetic over sha256(event_id),
    // so the whole pipeline (modality routing, resize clamp, 5s frame
    // sampling, feature fold) has exact ground truth. FLOAT casts mirror
    // the float32 steps in Multimodal.fakeDecode.
    "multimodal_pipeline" ->
      """WITH a AS (
           SELECT event_id,
             sha256(CAST(event_id AS VARCHAR)) AS h,
             (event_id % 30000 + 1000) // 5000 + 1 AS n_fr,
             LEAST(CAST(event_id % 640 + 32 AS INT), 256) AS w
           FROM events WHERE event_id < 3000 AND event_id % 3 = 2),
         f AS (
           SELECT event_id, SUM(CAST(
               CAST(CAST('0x' || substr(h, 2*i + 1, 2) AS INT) AS FLOAT)
                 / CAST(255.0 AS FLOAT)
               + CAST(i % 7 AS FLOAT) * CAST(0.01 AS FLOAT) AS DOUBLE)) AS es
           FROM a CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS i) t
           GROUP BY 1)
         SELECT 'video' AS modality, CAST(SUM(n_fr) AS BIGINT) AS n_frames,
           round(SUM(n_fr * es), 4) AS feat_sum, CAST(MAX(w) AS BIGINT) AS max_w
         FROM a JOIN f USING (event_id)""",

    // the decoded dims are pinned by the generator arithmetic
    // (class = event_id % 8 → 48+8c × 32+8c, RGB = 3 channels)
    "multimodal_decode" ->
      """SELECT event_id AS media_id,
           CAST(48 + (event_id % 8) * 8 AS INT) AS width,
           CAST(32 + (event_id % 8) * 8 AS INT) AS height,
           CAST(3 AS INT) AS channels
         FROM events WHERE event_id < 3000 ORDER BY media_id""",

    // ahash groups == pattern classes (identical class → identical
    // bytes; the 8 classes hash distinctly — MultimodalSpec)
    "multimodal_phash_dedup" ->
      """SELECT event_id AS media_id,
           MIN(event_id) OVER (PARTITION BY event_id % 8) AS canonical_id
         FROM events WHERE event_id < 3000 ORDER BY media_id""",

    // AVI/MJPEG synth arithmetic: (48+8c)×(32+8c), 4+c frames, 10 fps
    "multimodal_video_decode" ->
      """SELECT event_id AS media_id,
           CAST(48 + (event_id % 8) * 8 AS INT) AS width,
           CAST(32 + (event_id % 8) * 8 AS INT) AS height,
           CAST(4 + (event_id % 8) AS INT) AS frames,
           CAST((4 + (event_id % 8)) * 100 AS BIGINT) AS duration_ms
         FROM events WHERE event_id < 3000 ORDER BY media_id""",

    // every-2nd-frame sample: indices 0,2,.. below 4+c, ts = idx·100 ms
    "multimodal_video_frames" ->
      """SELECT event_id AS media_id, CAST(g.i AS INT) AS frame_idx,
           CAST(g.i * 100 AS BIGINT) AS frame_ts_ms
         FROM events CROSS JOIN (SELECT unnest(generate_series(0, 10)) AS i) g
         WHERE event_id < 1000 AND g.i % 2 = 0 AND g.i < 4 + (event_id % 8)
         ORDER BY media_id, frame_idx""",

    // sniffed-dispatch arithmetic: modality = id%3 (PNG/WAV/AVI),
    // per-format fields from the class-c synth formulas, others NULL
    "multimodal_sniff_decode" ->
      """SELECT event_id AS media_id,
           CASE event_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                ELSE 'video' END AS modality,
           CASE WHEN event_id % 3 IN (0, 2)
                THEN CAST(48 + (event_id % 8) * 8 AS INT) END AS width,
           CASE WHEN event_id % 3 IN (0, 2)
                THEN CAST(32 + (event_id % 8) * 8 AS INT) END AS height,
           CASE WHEN event_id % 3 = 1 THEN CAST(16000 AS INT) END AS sample_rate,
           CASE WHEN event_id % 3 = 2
                THEN CAST(4 + (event_id % 8) AS INT) END AS frames,
           CASE WHEN event_id % 3 = 1
                  THEN CAST(200 + (event_id % 8) * 50 AS BIGINT)
                WHEN event_id % 3 = 2
                  THEN CAST((4 + (event_id % 8)) * 100 AS BIGINT)
           END AS duration_ms
         FROM events WHERE event_id < 3000 ORDER BY media_id""",

    // composed-pipeline ground truth: duplicate groups are exactly the
    // (modality = id%3, class = id%8) cells — identical cells share
    // bytes hence keys, distinct classes key distinctly per modality —
    // so canonical = min event_id of the cell and keep marks the min
    "multimodal_dedup_pipeline" ->
      """SELECT event_id AS media_id,
           CASE event_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                ELSE 'video' END AS modality,
           MIN(event_id) OVER (PARTITION BY event_id % 3, event_id % 8)
             AS canonical_id,
           event_id = MIN(event_id) OVER (PARTITION BY event_id % 3, event_id % 8)
             AS keep
         FROM events WHERE event_id < 3000 ORDER BY media_id""",

    // near-dup ground truth: components are exactly the 8 classes —
    // every variant (base/JPEG/flipped) of class c = id%8 clusters to
    // the class minimum, which is id c itself (ids are dense from 0)
    "multimodal_neardup_pipeline" ->
      """SELECT event_id AS media_id,
           CAST(event_id % 8 AS BIGINT) AS canonical_id,
           event_id < 8 AS keep
         FROM events WHERE event_id < 3000 ORDER BY media_id""",

    // WAV synth arithmetic: 16 kHz mono, 200+50·(id%8) ms per tone class
    "multimodal_audio_decode" ->
      """SELECT event_id AS media_id,
           CAST(16000 AS INT) AS sample_rate,
           CAST(1 AS INT) AS channels,
           CAST(200 + (event_id % 8) * 50 AS BIGINT) AS duration_ms,
           true AS rms_ok
         FROM events WHERE event_id < 3000 ORDER BY media_id""",

    // same md5-prefix 60-bit rank as the Spark side (Sampling.hashRank)
    "sample_stratified" ->
      """WITH r AS (SELECT event_type, event_id,
             ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))::BIGINT AS rk
           FROM events),
         q AS (SELECT event_type, COUNT(*) AS n_quota,
                 CAST(SUM(event_id) AS BIGINT) AS sum_id_quota
               FROM (SELECT event_type, event_id,
                       row_number() OVER (PARTITION BY event_type
                         ORDER BY rk, event_id) AS rn FROM r) t
               WHERE rn <= 200 GROUP BY 1),
         f AS (SELECT event_type, COUNT(*) AS n_frac,
                 CAST(SUM(event_id) AS BIGINT) AS sum_id_frac
               FROM r
               WHERE rk / 1152921504606846976.0 <
                     CASE WHEN event_type = 'error' THEN 0.5 ELSE 0.1 END
               GROUP BY 1)
         SELECT event_type, n_quota, sum_id_quota, n_frac, sum_id_frac
         FROM q JOIN f USING (event_type) ORDER BY event_type"""
  )
}
