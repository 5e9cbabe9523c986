package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.text.{Bpe, TextFunctions}

/** Parity + determinism for the BPE merge learner: the production path
  * (one distributed dict pass, guarded collect, incremental in-memory
  * merge loop) must produce the EXACT merge table a plain single-threaded
  * reference implementation produces on the same word-frequency dict,
  * and the exact table a per-step Spark SQL loop produces.
  */
class BpeSpec extends SparkSpec {

  private def wordDict = Tables.table(spark, sfDir, "documents")
    .select(explode(TextFunctions.tokens(
      TextFunctions.normalize(col("text")))).as("word"))
    .filter(length(col("word")) > 0)
    .groupBy("word").agg(count(lit(1)).as("freq"))

  /** Per-step distributed learner, kept here only as a second reference:
    * each step counts adjacent pairs over the symbol dict in Spark SQL and
    * collects the single (freq DESC, left, right) argmax row, so Spark's
    * grouping and string ordering decide every merge.
    */
  private def learnPerStep(words: DataFrame, steps: Int): Seq[Bpe.Merge] = {
    val mergeUdf = udf((syms: Seq[String], l: String, r: String) => Bpe.mergeOnce(syms, l, r))
    var dict = words.select(
      expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))").as("syms"),
      col("freq")).cache()
    val merges = scala.collection.mutable.ArrayBuffer.empty[Bpe.Merge]
    try {
      var step = 1
      var done = false
      while (step <= steps && !done) {
        val top = dict
          .select(col("freq"), explode(expr(
            """transform(slice(syms, 1, size(syms) - 1),
                 (x, i) -> struct(x AS l, element_at(syms, i + 2) AS r))""")).as("p"))
          .groupBy(col("p.l").as("l"), col("p.r").as("r"))
          .agg(sum("freq").as("cnt"))
          .orderBy(col("cnt").desc, col("l"), col("r"))
          .limit(1)
          .collect()
        if (top.isEmpty) done = true
        else {
          val Row(l: String, r: String, cnt: Long) = top(0)
          merges += Bpe.Merge(step, l, r, l + r, cnt)
          val next = dict.withColumn("syms", mergeUdf(col("syms"), lit(l), lit(r))).cache()
          next.count() // materialize before dropping the parent lineage
          dict.unpersist()
          dict = next
          step += 1
        }
      }
      merges.toSeq
    } finally dict.unpersist()
  }

  test("distributed learner matches the local reference bit-for-bit") {
    // the declared query's learner (distributed dict pass, guarded
    // collect, incremental in-memory loop) must be indistinguishable
    // from the full-recount reference within the cap
    val dict = wordDict
    val local = Bpe.learnLocal(
      dict.collect().map(r => r.getString(0) -> r.getLong(1)).toMap, steps = 8)
    val learned = Bpe.learnScalable(spark, dict, steps = 8)
    assert(learned === local)
    assert(learned.size === 8)
    // merge table is internally consistent: merged = left + right,
    // frequencies non-increasing is NOT guaranteed by BPE (a merge can
    // create a new frequent pair), but every freq is positive
    learned.foreach { m => assert(m.merged === m.left + m.right && m.freq > 0) }
  }

  test("learner is deterministic across runs") {
    val a = Bpe.learnScalable(spark, wordDict, steps = 4)
    val b = Bpe.learnScalable(spark, wordDict, steps = 4)
    assert(a === b)
  }

  test("mergeOnce is greedy left-to-right and non-overlapping") {
    assert(Bpe.mergeOnce(Seq("a", "a", "a"), "a", "a") === Seq("aa", "a"))
    assert(Bpe.mergeOnce(Seq("a", "b", "a", "b"), "a", "b") === Seq("ab", "ab"))
    assert(Bpe.mergeOnce(Seq("x"), "a", "b") === Seq("x"))
    assert(Bpe.mergeOnce(Nil, "a", "b") === Nil)
  }

  test("learnScalable matches the distributed learner bit-for-bit") {
    // the in-memory trainer against the per-step Spark SQL loop: same
    // pair counts, same tie-break under Spark's string ordering
    val dict = wordDict
    assert(Bpe.learnScalable(spark, dict, steps = 8) === learnPerStep(dict, steps = 8))
  }

  test("learnLocalIndexed matches learnLocal on adversarial overlaps") {
    // overlapping self-pairs ("aaaa"), chained merges creating new
    // pairs ("abab" -> ab ab -> (ab,ab)), multi-word ties, and a word
    // that vanishes into a single symbol — the delta-accounting edge
    // cases a full recount never sees
    val dicts = Seq(
      Map("aaaa" -> 3L, "aaa" -> 2L, "aa" -> 7L),
      Map("abab" -> 5L, "ab" -> 1L, "ba" -> 4L),
      Map("aba" -> 1L, "bab" -> 1L),
      Map("xy" -> 2L, "yx" -> 2L, "xx" -> 2L, "yy" -> 2L),
      Map("hello" -> 10L, "help" -> 7L, "hell" -> 3L, "lo" -> 12L))
    dicts.foreach { d =>
      (1 to 6).foreach { k =>
        assert(Bpe.learnLocalIndexed(d, k) === Bpe.learnLocal(d, k),
          s"diverged on $d at steps=$k")
      }
    }
  }

  test("learnLocalIndexed matches learnLocal on seeded random dicts") {
    // randomized differential net over the delta-accounting trainer: 60
    // dicts over a 3-letter alphabet (maximal pair collisions and
    // overlap churn), deterministic seed so a failure is reproducible
    val rnd = new scala.util.Random(20260816L)
    (1 to 60).foreach { trial =>
      val dict = (1 to (2 + rnd.nextInt(8))).map { _ =>
        val w = (1 to (1 + rnd.nextInt(9)))
          .map(_ => ('a' + rnd.nextInt(3)).toChar).mkString
        w -> (1L + rnd.nextInt(20))
      }.toMap
      val steps = 1 + rnd.nextInt(10)
      assert(Bpe.learnLocalIndexed(dict, steps) === Bpe.learnLocal(dict, steps),
        s"diverged on trial $trial: dict=$dict steps=$steps")
    }
  }

  test("learnScalable beyond the cap trains on the top-N-by-freq sample") {
    // sample-then-train contract: cap = 2 keeps exactly the two most
    // frequent words (freq DESC, word ASC — deterministic), and the
    // merges equal a local train on just that sample
    val dict = spark.createDataFrame(Seq(
      ("aaxx", 50L), ("bbyy", 40L), ("cczz", 3L))).toDF("word", "freq")
    val sampled = Bpe.learnScalable(spark, dict, steps = 4, dictCap = 2L)
    assert(sampled === Bpe.learnLocal(Map("aaxx" -> 50L, "bbyy" -> 40L), 4))
    // and the full train sees the dropped word's pairs
    val full = Bpe.learnScalable(spark, dict, steps = 4)
    assert(full === Bpe.learnLocal(
      Map("aaxx" -> 50L, "bbyy" -> 40L, "cczz" -> 3L), 4))
  }

  test("ties break on (freq desc, left, right) — stable argmax") {
    // two pairs with equal weight: ("ab" vs "ba" from "aba" x1) — the
    // lexicographically smaller left wins
    val dict = spark.createDataFrame(Seq(("aba", 1L))).toDF("word", "freq")
    val m = Bpe.learnScalable(spark, dict, steps = 1)
    assert(m.head.left === "a" && m.head.right === "b")
    assert(m === Bpe.learnLocal(Map("aba" -> 1L), steps = 1))
  }

  test("declared query returns the 8-step merge table") {
    val rows = SparkEntry.queries("text_bpe_train")(spark, sfDir).collect()
    assert(rows.length === 8)
    assert(rows.map(_.getInt(0)).toSeq === (1 to 8))
  }

  test("encodeWord replays merges IN ORDER and preserves content") {
    // order matters: (a,b)→ab then (ab,c)→abc only works in step order;
    // replaying (ab,c) first would find no "ab" symbol yet
    val merges = Seq(
      Bpe.Merge(1, "a", "b", "ab", 10),
      Bpe.Merge(2, "ab", "c", "abc", 5))
    assert(Bpe.encodeWord("abcab", merges) === Seq("abc", "ab"))
    // shuffled input order must not change the result (sorted by step)
    assert(Bpe.encodeWord("abcab", merges.reverse) === Seq("abc", "ab"))
    // concat invariant on learned merges over the real dict
    val dict = wordDict
    val learned = Bpe.learnScalable(spark, dict, steps = 8)
    dict.collect().take(50).foreach { r =>
      val w = r.getString(0)
      assert(Bpe.encodeWord(w, learned).mkString === w)
    }
  }

  test("declared encode query compresses: subtokens <= word chars") {
    val rows = SparkEntry.queries("text_bpe_encode")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nWords, nSub) = (r.getLong(1), r.getLong(2))
      val charsPerTok = r.getDouble(3)
      assert(nSub >= nWords, "a word encodes to at least one symbol")
      assert(charsPerTok >= 1.0, "merges only ever shrink the symbol count")
    }
  }
}
