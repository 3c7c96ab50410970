package graft

import graft.operators.{Dedup, TextAnalysis}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-3 operators: TF-IDF, cross-doc duplicated n-grams, PII
  * redaction, epoch mixing, Bloom decontamination.
  */
class Ext2OperatorsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  def docs = Seq(
    (1L, "alpha beta gamma alpha beta gamma delta epsilon eta eta"),
    (2L, "alpha beta gamma alpha beta gamma delta epsilon zeta theta"),
    (3L, "iota kappa lambda mu nu xi omicron pi rho sigma"),
    (4L, "one two")
  ).toDF("doc_id", "text")

  test("tfidf: corpus-wide terms score 0, rare terms rank first") {
    val out = TextAnalysis.tfidfTopK(docs, "doc_id", "text", k = 3)
      .collect().groupBy(_.getAs[Long]("doc_id"))
    // 'eta' (tf 2, df 1 -> score 2·ln4) must outrank the shared
    // 'alpha' (tf 2, df 2 -> score 2·ln2)
    val top1 = out(1L).minBy(_.getAs[Int]("rank"))
    assert(top1.getAs[String]("term") === "eta")
    // every emitted score is >= the next rank's score within a doc
    out.values.foreach { rows =>
      val byRank = rows.sortBy(_.getAs[Int]("rank"))
        .map(_.getAs[Double]("score"))
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b })
    }
  }

  test("dup ngrams: shared 8-gram prefix marks both docs, others zero") {
    val out = TextAnalysis.dupNgramStats(docs, "doc_id", "text", n = 8)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_grams"), r.getAs[Long]("n_dup_grams"))).toMap
    // docs 1/2 share their first 8-gram (position 1 of 3)
    assert(out(1L) === ((3L, 1L)))
    assert(out(2L) === ((3L, 1L)))
    assert(out(3L) === ((3L, 0L)))
    assert(out(4L) === ((0L, 0L))) // shorter than n -> zero, present
  }

  test("pii redact: counts and masking") {
    val d = Seq((1L, "mail a.b+c@x-corp.io or call +44-123-4567 at 10.0.0.1 end"))
      .toDF("doc_id", "text")
    val r = TextAnalysis.piiRedact(d, "doc_id", "text").head()
    assert(r.getAs[Long]("n_emails") === 1L)
    assert(r.getAs[Long]("n_phones") === 1L)
    assert(r.getAs[Long]("n_ips") === 1L)
    val redacted = d.select(
      regexp_replace(regexp_replace(regexp_replace($"text",
        TextAnalysis.emailPattern, "<EMAIL>"),
        TextAnalysis.phonePattern, "<PHONE>"),
        TextAnalysis.ipv4Pattern, "<IP>")).as[String].head()
    assert(redacted === "mail <EMAIL> or call <PHONE> at <IP> end")
  }

  test("mix epochs: replication count and deterministic keys") {
    val d = Seq((1L, "s0"), (2L, "s1")).toDF("doc_id", "source")
    val out = TextAnalysis.mixEpochs(d, "doc_id", "source",
      when($"source" === "s0", 3).otherwise(1))
    assert(out.count() === 4)
    assert(out.filter($"doc_id" === 1L).select("epoch")
      .as[Long].collect().sorted === Seq(1L, 2L, 3L))
    // key depends on (doc, epoch), not partitioning: re-run identical
    assert(out.orderBy("doc_id", "epoch").select("mix_key").as[String]
      .collect() === out.orderBy("doc_id", "epoch").select("mix_key")
      .as[String].collect())
  }

  test("bloom decontamination: no false negatives vs exact flags") {
    val bench = docs.filter($"doc_id" === 1L)
    val out = Dedup.bloomContaminationFlags(docs, "doc_id", "text",
      bench, n = 5, mBits = 1L << 18, kHashes = 2)
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Boolean]("bloom_hit"), r.getAs[Boolean]("exact_hit")))
      .toMap
    // every exact hit must be a bloom hit (no false negatives)
    out.values.foreach { case (bloom, exact) =>
      if (exact) assert(bloom)
    }
    assert(out(1L)._2) // bench doc self-flags
    assert(out(2L)._2) // shares 5-gram "alpha beta gamma alpha beta..."
    assert(!out(3L)._2 && !out(3L)._1) // disjoint doc clean both ways
    assert(!out(4L)._2) // too short for a 5-gram
  }

  test("diffChangelog round-trip: apply(before, diff) reconstructs after") {
    import graft.operators.KeyedMerge
    val before = Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
      .toDF("id", "t", "v")
    val after = Seq((1L, "a", 10L), (2L, "B", 99L), (4L, "d", 40L))
      .toDF("id", "t", "v")
    val diff = KeyedMerge.diffChangelog(before, after, Seq("id"))
    val ops = diff.collect()
      .map(r => r.getLong(0) -> r.getAs[String]("op")).toMap
    assert(ops === Map(2L -> "update", 3L -> "erase", 4L -> "update"))
    // unchanged key 1 emits nothing; erase carries null payload
    assert(diff.filter($"id" === 3L).select("t").head().isNullAt(0))
    val rebuilt = KeyedMerge.applyUpsert(before, diff, Seq("id"))
      .select("id", "t", "v").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(rebuilt === after.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet)
  }

  test("diffChangelog property: random snapshot pairs round-trip") {
    import graft.operators.KeyedMerge
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 5) {
      // random keyed snapshots over a small key space: plenty of
      // inserts/updates/deletes/unchanged and null payloads
      def snap() = (0 until 30).flatMap { k =>
        if (rnd.nextBoolean()) Some((k.toLong,
          if (rnd.nextInt(4) == 0) null
          else rnd.nextPrintableChar().toString,
          rnd.nextInt(5).toLong))
        else None
      }.toDF("id", "t", "v")
      val before = snap()
      val after = snap()
      val diff = KeyedMerge.diffChangelog(before, after, Seq("id"))
      val rebuilt = KeyedMerge.applyUpsert(before, diff, Seq("id"))
        .collect().map(r => (r.getLong(0), r.getString(1),
          r.getLong(2))).toSet
      val want = after.collect().map(r => (r.getLong(0), r.getString(1),
        r.getLong(2))).toSet
      assert(rebuilt === want, s"trial $trial")
      // minimality: unchanged keys never appear in the diff
      val diffKeys = diff.select("id").as[Long].collect().toSet
      val unchanged = before.collect().map(r => (r.getLong(0),
        Option(r.getString(1)), r.getLong(2))).toSet
        .intersect(after.collect().map(r => (r.getLong(0),
          Option(r.getString(1)), r.getLong(2))).toSet).map(_._1)
      assert(diffKeys.intersect(unchanged).isEmpty, s"trial $trial")
    }
  }

  test("dedup spans: duplicated 8-gram tokens removed, unique doc intact") {
    val d = Seq(
      // docs 1/2 share tokens 0..7 exactly; tails differ
      (1L, "a b c d e f g h tail1 tail2"),
      (2L, "a b c d e f g h other"),
      (3L, "p q r s t u v w x y"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.dedupSpans(d, "doc_id", "text", n = 8)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_kept"),
          r.getAs[String]("kept_md5"))).toMap
    // doc 1: grams at pos 0..2; only pos-0 gram is shared -> tokens
    // 0..7 removed, "tail1 tail2" kept
    assert(out(1L)._1 === 10L && out(1L)._2 === 2L)
    val md5tail = d.sparkSession.range(1)
      .select(md5(lit("tail1 tail2"))).head().getString(0)
    assert(out(1L)._3 === md5tail)
    assert(out(2L)._2 === 1L) // "other" survives
    assert(out(3L)._2 === 10L) // untouched
  }

  test("sequence packing: bucketed prefix sum equals sequential layout") {
    val d = (1L to 40L).map(i => (i, ("tok " * (i % 7 + 1).toInt).trim))
      .toDF("doc_id", "text")
    val out = TextAnalysis.packSequences(d, "doc_id", "text", budget = 10)
      .collect()
    // offsets are a permutation-free exact layout: sorted by start_off
    // they tile the token stream with no gaps or overlaps
    val byOff = out.sortBy(_.getAs[Long]("start_off"))
    var expect = 0L
    byOff.foreach { r =>
      assert(r.getAs[Long]("start_off") === expect)
      expect += r.getAs[Long]("n_tokens")
      val spans = r.getAs[Long]("bin_end") - r.getAs[Long]("bin_start")
      assert(spans >= 0 && spans <= 1) // docs <= 7 tokens, budget 10
    }
    assert(expect === out.map(_.getAs[Long]("n_tokens")).sum)
  }

  test("unigram NLL: rare-token docs score higher than stopword docs") {
    val d = Seq(
      (1L, "the the the the"),          // all modal tokens
      (2L, "the qwerty the zxcvb"))     // two singletons
      .toDF("doc_id", "text")
    val out = TextAnalysis.unigramLogprob(d, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Double]("avg_nll")).toMap
    assert(out(2L) > out(1L))
    // doc 1 exact: p(the) = 6/8 -> avg_nll = -ln(0.75)
    assert(math.abs(out(1L) - (-math.log(6.0 / 8.0))) < 1e-5)
  }

  test("bloom with tiny m produces false positives but never negatives") {
    val bench = docs.filter($"doc_id" === 1L)
    val out = Dedup.bloomContaminationFlags(docs, "doc_id", "text",
      bench, n = 5, mBits = 4L, kHashes = 1)
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Boolean]("bloom_hit"), r.getAs[Boolean]("exact_hit")))
      .toMap
    out.values.foreach { case (bloom, exact) => if (exact) assert(bloom) }
    // 4-bit filter over dozens of shingles: doc 3 collides for sure
    assert(out(3L)._1 && !out(3L)._2)
  }
}
