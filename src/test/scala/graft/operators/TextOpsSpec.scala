package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.functions.{GraftFunctions, TextAlgo}

class TextOpsSpec extends SparkTestBase {

  test("lang_id identifies real multilingual sentences") {
    val samples = Seq(
      ("The quick brown fox jumps over the lazy dog and it is fast", "en"),
      ("Der Hund ist nicht mit der Katze und das Haus ist groß", "de"),
      ("Le chat est dans la maison et les enfants sont pour la plage", "fr"),
      ("Los niños y las casas son grandes es una ciudad más bonita", "es"),
      ("这是一个中文句子用于测试语言识别功能", "zh"),
      ("", "und"))
    samples.foreach { case (text, expected) =>
      assert(TextAlgo.langId(text) == expected, s"text: $text")
    }
  }

  test("lang_id works as a Catalyst expression inside codegen") {
    import spark.implicits._
    val df = Seq("The cat is on the mat and it is happy",
      "Der Hund ist nicht hier und das ist gut").toDF("text")
      .select(GraftFunctions.lang_id(col("text")).as("l"))
    assert(df.collect().map(_.getString(0)).toSeq == Seq("en", "de"))
  }

  test("rolling hash deterministic; fingerprint = min over k-gram hashes") {
    val base = "the quick brown fox jumps over the lazy dog repeatedly"
    assert(TextAlgo.rollingHash(base) == TextAlgo.rollingHash(base))
    assert(TextAlgo.rollingHash(base) != TextAlgo.rollingHash(base + "!"))
    // rolling min must equal a brute-force min over all 16-char windows
    // (windows hash with seed 0, unlike the seeded whole-string hash)
    val k = 16
    def unseeded(s: String): Long = {
      var h = 0L; s.foreach(c => h = 31 * h + c); h
    }
    val brute0 = (0 to base.length - k)
      .map(i => unseeded(base.substring(i, i + k))).min
    assert(TextAlgo.docFingerprint(base) == brute0)
  }

  test("simhash: near-identical token sets are much closer than unrelated") {
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5
    val b = a + "lambda" // one extra token out of ~50
    val c = "completely different words entirely unrelated content here now"
    def ham(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    val (ha, hb, hc) =
      (TextAlgo.simHash64(a), TextAlgo.simHash64(b), TextAlgo.simHash64(c))
    assert(ham(ha, hb) <= 12, s"similar docs hamming=${ham(ha, hb)}")
    assert(ham(ha, hc) >= 16, s"dissimilar docs hamming=${ham(ha, hc)}")
    assert(ham(ha, hb) < ham(ha, hc))
  }

  test("text queries run on sf0.001 and agree on token counts") {
    val t = TextOps.text_tokens(spark, sf0001).collect()
    assert(t.nonEmpty)
    // word-salad docs: ws and bpe tokenization agree (pure word text)
    assert(t.forall(r => r.getInt(1) == r.getInt(2)))
    val q = TextOps.text_quality(spark, sf0001).collect()
    assert(q.forall(r => r.getDouble(4) >= 0 && r.getDouble(4) <= 1))
    val f = TextOps.text_fingerprint(spark, sf0001).collect()
    assert(f.map(_.getLong(1)).distinct.length > f.length / 2)
  }

  test("word_ngram_filter emits exactly the candidate n-grams, space-normalized") {
    val text = "a b  c a b"   // double space: tokens a b c a b
    val hashes = TextAlgo.wordNgramHashes(text, 2) // (a b)(b c)(c a)(a b)
    assert(hashes.length == 4 && hashes(0) == hashes(3))
    // keep only the "a b" hash → both occurrences, normalized to 1 space
    val kept = TextAlgo.wordNgramFiltered(text, 2, Array(hashes(0)).sorted)
    assert(kept.toSeq == Seq("a b", "a b"))
    // keep "b c" (spans the double space in the source text)
    val kept2 = TextAlgo.wordNgramFiltered(text, 2, Array(hashes(1)).sorted)
    assert(kept2.toSeq == Seq("b c"))
    // empty candidate set → nothing materializes
    assert(TextAlgo.wordNgramFiltered(text, 2, Array.empty[Long]).isEmpty)
    // and as a Catalyst expression inside a plan
    import spark.implicits._
    val df = Seq(text).toDF("text")
    val got = df.select(explode(
      GraftFunctions.word_ngram_filter(col("text"), 2,
        Array(hashes(0), hashes(1)).sorted)).as("g"))
      .collect().map(_.getString(0)).toSeq.sorted
    assert(got == Seq("a b", "a b", "b c"))
  }

  test("decontam flags planted shingle overlap, exact shared counts") {
    import spark.implicits._
    val bench = Seq(
      (100L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val corpus = Seq(
      // shares the 5-word span "alpha beta gamma delta epsilon" → 3 shingles
      (1L, "alpha beta gamma delta epsilon nope"),
      // shares words but no 3-word shingle
      (2L, "alpha beta nope gamma delta nope2"),
      // verbatim benchmark text → all 4 shingles
      (3L, "alpha beta gamma delta epsilon zeta"),
      (4L, "completely unrelated words here and more of them")
    ).toDF("doc_id", "text")
    val got = TextOps.decontamPairs(corpus, bench, minShared = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, 100L, 3L), (3L, 100L, 4L)), got)
    // raising the threshold drops the partial overlap, keeps verbatim
    assert(TextOps.decontamPairs(corpus, bench, minShared = 4)
      .collect().map(_.getLong(0)).toSeq == Seq(3L))
  }

  test("pipeline_decontam: benchmark split honored, bench side broadcast") {
    val df = TextOps.pipeline_decontam(spark, sf0001)
    val rows = df.collect()
    assert(rows.nonEmpty, "decontam must be non-vacuous at sf0.001")
    rows.foreach { r =>
      assert(r.getLong(1) % 97 == 0, s"bench_id not in benchmark set: $r")
      assert(r.getLong(0) % 97 != 0, s"corpus doc in benchmark set: $r")
      assert(r.getLong(2) >= 3, s"below threshold: $r")
    }
    df.collect() // AQE-finalized plan
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("chunkWords: exact windows, overlap, short tail, full coverage") {
    import spark.implicits._
    val d = Seq((7L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10")).toDF("doc_id", "text")
    // window 4, overlap 2 → step 2: starts 1,3,5,7,9
    val got = TextOps.chunkWords(d, 4, 2).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getString(3))).toSeq
    assert(got == Seq(
      (0L, 4L, "w1 w2 w3 w4"), (1L, 4L, "w3 w4 w5 w6"),
      (2L, 4L, "w5 w6 w7 w8"), (3L, 4L, "w7 w8 w9 w10"),
      (4L, 2L, "w9 w10")), got)
    // no overlap → exact partition of the word sequence
    val flat = TextOps.chunkWords(d, 3, 0).collect().map(_.getString(3))
    assert(flat.mkString(" ") == "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10")
    // single chunk when the doc fits in one window
    assert(TextOps.chunkWords(d, 32, 8).count() == 1)
  }

  test("pipeline_chunk: linear row growth, shuffle-free until the dump sort") {
    val df = TextOps.pipeline_chunk(spark, sf0001)
    val n = df.count()
    assert(n > 0)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // per-row explode only: a join or aggregate here would mean the
    // operator shuffles corpus data beyond the deterministic-dump sort
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("HashAggregate"), plan)
  }

  test("packTokens: exact running offsets, pack assignment by start") {
    import spark.implicits._
    // one shard (shards=1) so the sequence is fully determined
    val d = Seq(
      (0L, "a b c"),            // 3 tokens, start 0  → pack 0, offset 0
      (1L, "d e f g"),          // 4 tokens, start 3  → pack 0, offset 3
      (2L, "h i"),              // 2 tokens, start 7  → pack 0, offset 7
      (3L, "j k l m n")         // 5 tokens, start 9  → pack 1, offset 1
    ).toDF("doc_id", "text")
    val got = TextOps.packTokens(d, 1, 8).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(got == Seq((0L, 0L, 0L, 3L), (1L, 0L, 3L, 4L),
      (2L, 0L, 7L, 2L), (3L, 1L, 1L, 5L)), got)
    // sharding: docs 0,2 → shard 0 and 1,3 → shard 1 pack independently
    val sharded = TextOps.packTokens(d, 2, 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSeq
    assert(sharded == Seq((0L, 0L, 0L), (1L, 1L, 0L),
      (2L, 0L, 3L), (3L, 1L, 4L)), sharded)
  }

  test("pipeline_pack: non-vacuous, window partitioned by shard") {
    val df = TextOps.pipeline_pack(spark, sf0001)
    val rows = df.collect()
    assert(rows.nonEmpty)
    val plan = df.queryExecution.executedPlan.toString
    // the running sum must be sharded — a partition-less window would
    // funnel the corpus through one task
    assert(plan.contains("windowspecdefinition(shard"), plan)
  }

  test("repetition stats count duplicate n-grams exactly") {
    import spark.implicits._
    val df = Seq((1L, "a b a b a b"), (2L, "x y z"), (3L, "solo"))
      .toDF("doc_id", "text")
    val m = TextOps.repetitionStats(df).collect()
      .map(r => r.getLong(0) -> r).toMap
    // doc 1: bigrams [a b, b a, a b, b a, a b] → 5 total / 2 distinct
    assert(m(1L).getInt(2) == 5 && m(1L).getInt(3) == 2)
    assert(m(1L).getDouble(6) == 0.6)
    // trigrams [a b a, b a b, a b a, b a b] → 4 total / 2 distinct
    assert(m(1L).getInt(4) == 4 && m(1L).getInt(5) == 2)
    assert(m(1L).getDouble(7) == 0.5)
    // doc 2: all n-grams unique → zero duplicate fraction
    assert(m(2L).getDouble(6) == 0.0 && m(2L).getDouble(7) == 0.0)
    // doc 3: one word → no n-grams at all; fractions defined as 0
    assert(m(3L).getInt(2) == 0 && m(3L).getInt(4) == 0)
    assert(m(3L).getDouble(6) == 0.0 && m(3L).getDouble(7) == 0.0)
  }

  test("redact masks emails, IPs and long digit runs; counts are pre-replacement") {
    import spark.implicits._
    val df = Seq(
      (1L, "write john.doe+x@mail.example.org or 10.1.2.3 ref 12345678 ok"),
      (2L, "no pii here just words"),
      (3L, "short 123456 and 1.2.3 stay, a@b stays too"))
      .toDF("doc_id", "text")
    val m = TextOps.redactPii(df).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(m(1L).getInt(1) == 1 && m(1L).getInt(2) == 1 && m(1L).getInt(3) == 1)
    assert(m(1L).getString(4) == "write <EMAIL> or <IP> ref <NUM> ok")
    assert(m(2L).getInt(1) == 0 && m(2L).getInt(2) == 0 && m(2L).getInt(3) == 0)
    assert(m(2L).getString(4) == "no pii here just words")
    // 6-digit runs, 3-part dotted numbers and TLD-less emails stay
    assert(m(3L).getInt(1) == 0 && m(3L).getInt(2) == 0 && m(3L).getInt(3) == 0)
    assert(m(3L).getString(4) == "short 123456 and 1.2.3 stay, a@b stays too")
  }

  test("chunk dedup keeps the smallest (doc, chunk) per distinct chunk") {
    import spark.implicits._
    // docs 5 and 2 are identical single-chunk texts; doc 9 is unique;
    // doc 7 repeats doc 9's text so "x y" has two homes too
    val df = Seq((5L, "a b c"), (2L, "a b c"), (9L, "x y"), (7L, "x y"))
      .toDF("doc_id", "text")
    val rows = TextOps.chunkDedup(df, 64, 16).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows == Set((2L, 0L, 2L), (7L, 0L, 2L)), rows)
  }

  test("custom expressions stay inside whole-stage codegen") {
    val df = TextOps.text_fingerprint(spark, sf0001)
    df.collect() // materialize so AQE finalizes the physical plan
    val plan = df.queryExecution.executedPlan.toString
    // "*(n)" prefixes mark WholeStageCodegen stages; the Project holding
    // the custom expressions must carry one.
    assert(plan.linesIterator.exists(l =>
      l.contains("*(") && l.contains("rolling_hash")), plan)
  }

  test("token_tf: one-pass distinct-term counts, whitespace runs, codegen") {
    assert(TextAlgo.tokenTf("a a b").toSeq == Seq("a" -> 2, "b" -> 1))
    assert(TextAlgo.tokenTf("  a\t\ta   a\nb ").toSeq == Seq("a" -> 3, "b" -> 1))
    assert(TextAlgo.tokenTf("").isEmpty)
    assert(TextAlgo.tokenTf("   ").isEmpty)
    // as a Catalyst expression (exercises the codegen static-call path)
    import spark.implicits._
    val rows = Seq("x y x").toDF("text")
      .select(explode(GraftFunctions.token_tf(col("text"))).as("t"))
      .select(col("t.term"), col("t.tf")).collect()
      .map(r => (r.getString(0), r.getInt(1))).toSeq
    assert(rows == Seq(("x", 2), ("y", 1)))
  }

  test("token_tf compiles in whole-stage codegen (no interpreted fallback)") {
    // a generated-code compile error throws here instead of silently
    // running the stage interpreted
    withConf("spark.sql.codegen.fallback" -> "false") {
      val df = spark.range(2)
        .select(concat(lit("x y x "), col("id").cast("string")).as("text"))
        .select(explode(GraftFunctions.token_tf(col("text"))).as("t"))
        .select(col("t.term"), col("t.tf"))
      val rows = df.collect().map(r => (r.getString(0), r.getInt(1))).toSeq
      assert(rows.sorted == Seq(("0", 1), ("1", 1), ("x", 2), ("x", 2),
        ("y", 1), ("y", 1)))
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.linesIterator.exists(l =>
        l.contains("*(") && l.contains("token_tf")), plan)
    }
  }

  test("text_rarity: rational idf, argmax tie-break, near-hapax count") {
    import spark.implicits._
    // N=3; df: a=3, b=1, c=1, d=1. Scores with (N+1)/(df+1):
    //   doc 0 "a a b": a = 2*4/4 = 2.0, b = 1*4/2 = 2.0  (TIE at 2.0)
    //   doc 1 "a c"  : a = 1.0,          c = 2.0
    //   doc 2 "a d"  : a = 1.0,          d = 2.0
    // tie at doc 0 breaks to the lexicographically smaller term 'a'.
    val dir = java.nio.file.Files.createTempDirectory("rarity").toString
    Seq((0L, "a a b"), (1L, "a c"), (2L, "a d")).toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val q = TextOps.text_rarity(spark, dir)
    val out = q.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
    assert(out.toSeq == Seq(
      (0L, 1L, "a", 2.0), (1L, 1L, "c", 2.0), (2L, 1L, "d", 2.0)))
    // per-doc argmax is an aggregate (comparisons in a hash agg), never
    // a row_number Window funnel
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
  }
}
