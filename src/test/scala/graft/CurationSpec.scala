package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{PiiFunctions, TextRepetition}
import graft.operators.{Clustering, TfIdf}

/** Hand-computed fixtures for the corpus-curation operators
  * (repetition filters, PII redaction, TF-IDF, quantized k-means). */
class CurationSpec extends AnyFunSuite {

  lazy val spark: SparkSession = LocalSession(4)
  import spark.implicits._

  private def rep(text: String): Map[String, Any] = {
    val r = Seq(Tuple1(text)).toDF("t")
      .select(TextRepetition.repetitionStats(col("t")).as("r"))
      .select(col("r.*")).collect().head
    r.schema.fieldNames.zip(r.toSeq).toMap
  }

  test("repetition: duplicate lines and line char mass") {
    // lines: [ab, cd, ab] -> 1 dup of 3 lines; dup chars 4 of 6
    val m = rep("a b\nc d\na b")
    assert(m("n_lines") == 3)
    assert(m("dup_line_frac") == 1.0 / 3)
    assert(m("dup_line_char_frac") == 6.0 / 9)
  }

  test("repetition: top n-gram char fraction, tie broken lexicographically") {
    // words [a b a b]: 2-grams "a b"x2, "b a"x1 -> top = 2*3/7
    val m = rep("a b a b")
    assert(m("top2gram_char_frac") == 6.0 / 7)
    // all 3-grams distinct (count 1): top = lexicographically smallest
    // "a b a" -> 1*5/7
    assert(m("top3gram_char_frac") == 5.0 / 7)
    // fewer than 5 words -> no 5-grams -> 0
    assert(m("dup5gram_char_frac") == 0.0)
  }

  test("repetition: self-concatenation saturates dup5gram mass") {
    val base = "one two three four five six"
    val m = rep(base + " " + base)
    // every 5-gram that appears twice contributes; the seam grams are
    // unique, so mass is 2*(len of the 2 repeated 5-grams)/chars
    assert(m("dup5gram_char_frac").asInstanceOf[Double] > 0.5)
    val single = rep(base)
    assert(single("dup5gram_char_frac") == 0.0)
  }

  test("repetition: null and empty text") {
    assert(rep(null)("n_lines") == 0)
    val m = rep("   ")
    assert(m("n_lines") == 0 && m("top2gram_char_frac") == 0.0)
  }

  test("relinear groups words into k-word lines") {
    val out = Seq(Tuple1("A b C d e")).toDF("t")
      .select(TextRepetition.relinear(2)(col("t"))).as[String].collect().head
    assert(out == "a b\nc d\ne")
  }

  test("pii: counts and redaction") {
    val t = "mail bob.smith+x@corp.example.org and 192.168.1.254 or (555) 123-4567 then 555-111-2222 end"
    val row = Seq(Tuple1(t)).toDF("t").select(
      PiiFunctions.emailCount(col("t")).as("e"),
      PiiFunctions.ipv4Count(col("t")).as("i"),
      PiiFunctions.phoneCount(col("t")).as("p"),
      PiiFunctions.redact(col("t")).as("r")).collect().head
    assert(row.getAs[Int]("e") == 1)
    assert(row.getAs[Int]("i") == 1)
    // both (555) 123-4567 and 555-111-2222 are ddd[-. ]ddd[-. ]dddd
    assert(row.getAs[Int]("p") == 2)
    assert(row.getAs[String]("r") ==
      "mail <EMAIL> and <IP> or <PHONE> then <PHONE> end")
  }

  test("pii: clean text untouched") {
    val row = Seq(Tuple1("no pii here at all")).toDF("t")
      .select(PiiFunctions.redact(col("t"))).as[String].collect().head
    assert(row == "no pii here at all")
  }

  test("tfidf: rare terms outrank ubiquitous ones") {
    val docs = Seq(
      (1L, "common common rare"),
      (2L, "common other"),
      (3L, "common other")).toDF("doc_id", "text")
    val top = TfIdf.topTerms(docs, "doc_id", "text", k = 1)
      .select($"doc_id", $"term", $"tf", $"df").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    // doc 1: rare (df=1, idf=ln3) beats common (tf=2, df=3, idf=0)
    assert(top(1L) == (("rare", 1L, 1L)))
    // docs 2/3: other (df=2) beats common (idf=0)
    assert(top(2L) == (("other", 1L, 2L)))
  }

  test("tfidf: score zero for a term present in every doc -> term-asc tie-break") {
    val docs = Seq((1L, "b a"), (2L, "a b")).toDF("doc_id", "text")
    val r = TfIdf.topTerms(docs, "doc_id", "text", k = 2)
      .select($"doc_id", $"rank", $"term").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getString(2)).toMap
    assert(r((1L, 1L)) == "a" && r((1L, 2L)) == "b")
    assert(r((2L, 1L)) == "a" && r((2L, 2L)) == "b")
  }

  private def vecs(rows: (Long, Seq[Float])*): DataFrame =
    rows.toDF("vec_id", "embedding")

  test("kmeans: well-separated groups recover exactly and deterministically") {
    // two tight groups around (0,0) and (10,10)
    val df = vecs(
      1L -> Seq(0.1f, 0.0f), 2L -> Seq(0.0f, 0.1f), 3L -> Seq(-0.1f, 0.0f),
      4L -> Seq(10.1f, 10.0f), 5L -> Seq(10.0f, 9.9f), 6L -> Seq(9.9f, 10.0f))
    val out = Clustering.kmeansQuantized(df, "embedding", "vec_id", k = 2, iters = 3)
      .select($"vec_id", $"cluster").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(Set(out(1L), out(2L), out(3L)).size == 1)
    assert(Set(out(4L), out(5L), out(6L)).size == 1)
    assert(out(1L) != out(4L))
    val out2 = Clustering.kmeansQuantized(df, "embedding", "vec_id", k = 2, iters = 3)
      .select($"vec_id", $"cluster").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out == out2) // bit-identical across runs
  }

  test("kmeans: duplicate points leave a cluster empty; centroid is retained") {
    // all six points identical: every row assigns to cluster 0 (tie ->
    // smaller id), cluster 1 keeps its init centroid and ends empty
    val df = vecs((1L to 6L).map(i => i -> Seq(1.0f, 1.0f)): _*)
    val out = Clustering.kmeansQuantized(df, "embedding", "vec_id", k = 2, iters = 3)
      .select($"cluster", $"distq").collect()
    assert(out.forall(r => r.getInt(0) == 0 && r.getLong(1) == 0L))
  }

  private def gopher(text: String): Map[String, Any] = {
    val r = Seq(Tuple1(text)).toDF("t")
      .select(graft.functions.GopherQuality.flags(col("t")).as("g"))
      .select(col("g.*")).collect().head
    r.schema.fieldNames.zip(r.toSeq).toMap
  }

  test("gopher: a well-formed document passes every rule") {
    val good = "the of " + (1 to 60).map(i => f"word$i%02d").mkString(" ")
    val m = gopher(good)
    assert(m("n_words") == 62L && m("stop_hits") == 2L)
    assert(m("keep") == true, m.toString)
  }

  test("gopher: empty text is dropped without dividing by zero") {
    val m = gopher("")
    assert(m("n_words") == 0L && m("mean_word_len") == 0.0)
    assert(m("keep") == false)
  }

  test("gopher: each rule fails on its own trigger") {
    // too short
    assert(gopher("the of tiny")("pass_words") == false)
    // no required stop words, otherwise fine
    val noStops = (1 to 60).map(i => f"word$i%02d").mkString(" ")
    val m1 = gopher(noStops)
    assert(m1("pass_stops") == false && m1("pass_words") == true)
    // heavy 2-gram repetition
    val spam = "the of " + Seq.fill(40)("spam ham").mkString(" ")
    assert(gopher(spam)("pass_repetition") == false)
    // symbol-to-word ratio: a '#' per word
    val hashy = "the of " + (1 to 60).map(i => s"w$i#").mkString(" ")
    assert(gopher(hashy)("pass_symbols") == false)
    // >90% bullet lines
    val bullets = (1 to 20).map(i => s"- item $i the of").mkString("\n")
    assert(gopher(bullets)("pass_lines") == false)
    // mean word length out of range (all single chars)
    val shorties = "the of " + Seq.fill(60)("a b c d e f g h").mkString(" ")
    assert(gopher(shorties)("pass_mean_wl") == false)
  }

  private def c4(text: String): Map[String, Any] = {
    val r = Seq(Tuple1(text)).toDF("t")
      .select(graft.functions.C4Clean.clean(col("t")).as("c"))
      .select(col("c.*")).collect().head
    r.schema.fieldNames.zip(r.toSeq).toMap
  }

  test("c4: line rules drop unpunctuated/short/javascript lines; page rules gate the doc") {
    val good = (1 to 6).map(i => s"this is sentence number $i.").mkString("\n")
    val m = c4(good)
    assert(m("n_lines") == 6L && m("n_kept") == 6L && m("doc_keep") == true)
    assert(m("cleaned") == good)
    // no terminal punctuation / short / javascript lines all drop
    val mixed = good + "\nno terminal punctuation here\nshort one.\nenable javascript to view."
    val m2 = c4(mixed)
    // "short one." has 2 words, the others fail punct/javascript -> all 3 drop
    assert(m2("n_lines") == 9L && m2("n_kept") == 6L, m2.toString)
    assert(m2("cleaned") == good)
    // fewer than 5 surviving lines -> page dropped, cleaned is null
    val short = (1 to 4).map(i => s"this is sentence number $i.").mkString("\n")
    val m3 = c4(short)
    assert(m3("doc_keep") == false && m3("cleaned") == null)
    // lorem ipsum and curly brackets kill the page outright
    assert(c4(good + "\nsome lorem ipsum filler.")("doc_keep") == false)
    assert(c4(good.replace("number 2", "number {2}"))("doc_keep") == false)
  }

  test("token budget: kept is the hash-rank prefix that crosses the budget") {
    import graft.operators.Sampling
    val df = (1L to 10L).map(i => (i, 0L, 10L)).toDF("id", "src", "toks")
    val out = Sampling.tokenBudget(df, $"src", $"id", $"toks", budgetPerStratum = 25L)
    val kept = out.filter($"kept").select($"id").as[Long].collect().toSet
    assert(kept.size == 3) // before-sums 0,10,20 < 25; the 4th has 30
    // the kept set is exactly the 3 smallest by hash rank
    val byRank = df.select($"id", Sampling.hashRank($"id").as("rk"))
      .orderBy($"rk", $"id").as[(Long, Long)].collect().map(_._1)
    assert(kept == byRank.take(3).toSet)
    // strata budgets are independent: two sources, each keeps its prefix
    val two = (1L to 10L).map(i => (i, i % 2, 10L)).toDF("id", "src", "toks")
    val k2 = Sampling.tokenBudget(two, $"src", $"id", $"toks", 25L)
      .filter($"kept").groupBy($"src").count()
      .as[(Long, Long)].collect().toMap
    assert(k2 == Map(0L -> 3L, 1L -> 3L))
    // zero budget keeps nothing (the crossing-doc rule needs budget > 0)
    assert(Sampling.tokenBudget(df, $"src", $"id", $"toks", 0L)
      .filter($"kept").count() == 0L)
  }

  test("packWindows: concat-and-chunk metadata matches a sequential replay") {
    import graft.operators.Sampling
    val df = (1L to 20L).map(i => (i, i % 2, 5L + (i % 7))).toDF("id", "src", "toks")
    val out = Sampling.packWindows(df, $"src", $"id", $"toks", contextLen = 16L)
      .select($"id", $"window_id", $"offset", $"n_windows")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // replay the concat stream per stratum in (hashRank, id) order
    val ranked = df.select($"id", $"src", $"toks",
        Sampling.hashRank($"id").as("rk"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    for (s <- Seq(0L, 1L)) {
      var before = 0L
      for ((id, _, toks, _) <- ranked.filter(_._2 == s).sortBy(x => (x._4, x._1))) {
        val wid = before / 16
        val nw = (before + math.max(toks, 1) - 1) / 16 - wid + 1
        assert(out(id) == ((wid, before % 16, nw)), s"id=$id")
        before += toks
      }
    }
    // zero-token docs occupy no tokens but land in exactly one window
    val z = Sampling.packWindows(
      Seq((1L, 0L, 0L), (2L, 0L, 40L)).toDF("id", "src", "toks"),
      $"src", $"id", $"toks", 16L)
      .select($"id", $"n_windows").as[(Long, Long)].collect().toMap
    assert(z(1L) == 1L)
  }

  test("semantic dedup: pairs only within clusters; cosine-identical cross-cluster pairs are the recall trade") {
    // two direction-coherent groups, euclidean-separated along x:
    // cos(id1, id11) = 1.0 — but k-means (euclidean) splits them, so the
    // cross-group pair is unreachable BY DESIGN (the SemDeDup trade);
    // all six within-group pairs clear the 0.99 threshold
    val df = vecs(
      1L -> Seq(1.0f, 0.0f), 2L -> Seq(1.0f, 0.05f), 3L -> Seq(1.0f, -0.05f),
      11L -> Seq(100.0f, 0.0f), 12L -> Seq(100.0f, 2.0f), 13L -> Seq(100.0f, -2.0f))
    val out = Clustering.semanticDedupPairs(df, "embedding", "vec_id",
        threshold = 0.99, k = 2, iters = 3)
    val pairs = out.select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L), (1L, 3L), (2L, 3L),
      (11L, 12L), (11L, 13L), (12L, 13L)))
    assert(out.select($"cos_sim").as[Double].collect().forall(_ >= 0.99))
  }

  test("kmeans: inertia is the exact quantized squared distance") {
    // one cluster: centroid after update = avg of (0,0) and (2,2) = (1,1)q
    val df = vecs(1L -> Seq(0.0f, 0.0f), 2L -> Seq(2.0f, 2.0f))
    val out = Clustering.kmeansQuantized(df, "embedding", "vec_id", k = 1, iters = 2)
      .select($"distq").as[Long].collect().sorted
    // dist to (1e6, 1e6) from (0,0) and (2e6, 2e6): 2*(1e6)^2 each
    assert(out.toSeq == Seq(2L * 1000000L * 1000000L, 2L * 1000000L * 1000000L))
  }
}
