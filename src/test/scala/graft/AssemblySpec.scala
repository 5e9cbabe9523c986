package graft

import org.apache.spark.sql.functions._

/** Semantic properties of the dataset-assembly family that the DuckDB
  * oracle's value-hash cannot express: the mixture actually honors its
  * token recipe, upsampling emits the promised fractional epochs, the
  * split never separates duplicate content, and the shuffle index is a
  * true permutation. All expectations derive from the fixture itself, so
  * the tests hold at any scale factor.
  */
class AssemblySpec extends SparkSpec {

  private def run(name: String) = SparkEntry.queries(name)(spark, sfDir)

  test("doc_mix_tokens keeps exactly the deterministic md5-predicate set") {
    val weights = Map("en" -> 4L, "de" -> 3L, "fr" -> 2L, "es" -> 2L, "zh" -> 1L)
    // the keep decision is fully deterministic for a given fixture
    // (md5 bucket × lang token total vs budget), so the expected KEPT SET
    // is computable exactly on the driver — no stochastic tolerance band
    // to tune (or to flake on a fixture/tokenizer change)
    val docs = Tables.table(spark, sfDir, "documents")
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_tok"),
        pmod(conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
          .cast("long"), lit(1000000L)).as("b"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val totals = docs.groupBy(_._2).map { case (l, ds) => l -> ds.map(_._3).sum }
    val tUnits = weights.keys.map(l => totals(l) / weights(l)).min
    val expectedKept = docs
      .filter(d => d._4 * totals(d._2) < tUnits * weights(d._2) * 1000000L)
      .map(_._1).toSet
    val got = run("doc_mix_tokens").collect().map(_.getLong(0)).toSet
    assert(got == expectedKept,
      s"kept set diverged: missing=${(expectedKept -- got).take(5)} " +
        s"extra=${(got -- expectedKept).take(5)}")
    // distribution-shape sanity, now on the EXACT set (still non-flaky):
    // no domain overshoots its own supply, and the bottleneck domain
    // (smallest t/wt) keeps near-everything — its keep probability is
    // budget/tok > 1 − wt/tok (exactly 1 only when wt | tok), so assert
    // the 90% floor, deterministic per fixture
    val keptTok = docs.filter(d => expectedKept(d._1))
      .groupBy(_._2).map { case (l, ds) => l -> ds.map(_._3).sum }
    for ((lang, t) <- totals) assert(keptTok.getOrElse(lang, 0L) <= t)
    val bottleneck = weights.keys.minBy(l => totals(l) / weights(l))
    assert(keptTok(bottleneck) * 10L >= totals(bottleneck) * 9L)
  }

  test("doc_mix_tokens_exact keeps a maximal within-budget hash-order prefix") {
    val weights = Map("en" -> 4L, "de" -> 3L, "fr" -> 2L, "es" -> 2L, "zh" -> 1L)
    val docs = Tables.table(spark, sfDir, "documents")
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_tok"),
        pmod(conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
          .cast("long"), lit(1000000L)).as("b"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val totals = docs.groupBy(_._2).map { case (l, ds) => l -> ds.map(_._3).sum }
    val tUnits = weights.keys.map(l => totals(l) / weights(l)).min
    val kept = run("doc_mix_tokens_exact").collect()
      .map(r => r.getLong(0)).toSet
    for ((lang, wt) <- weights) {
      val budget = tUnits * wt
      val ordered = docs.filter(_._2 == lang).sortBy(d => (d._4, d._1))
      // the kept set IS the greedy prefix: within budget, and maximal
      // (the first excluded doc would overflow it)
      var cum = 0L
      var stopped = false
      for (d <- ordered) {
        if (!stopped && cum + d._3 <= budget) {
          cum += d._3
          assert(kept.contains(d._1), s"$lang: prefix doc ${d._1} missing")
        } else {
          stopped = true // monotone cumsum: once over, everything after is out
          assert(!kept.contains(d._1), s"$lang: doc ${d._1} beyond the budget kept")
        }
      }
      assert(cum <= budget)
    }
  }

  test("doc_upsample emits floor(w) or floor(w)+1 contiguous epochs per doc") {
    val weights = Map("en" -> 1000000L, "de" -> 2000000L, "fr" -> 2500000L,
      "es" -> 3250000L, "zh" -> 4000000L)
    val perDoc = run("doc_upsample")
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("n"), max("epoch").as("mx"), min("epoch").as("mn"))
      .collect()
    assert(perDoc.nonEmpty)
    for (r <- perDoc) {
      val (lang, n, mx, mn) =
        (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))
      val w = weights(lang)
      assert(n == w / 1000000 || n == w / 1000000 + 1, s"$lang copies=$n")
      assert(mn == 0L && mx == n - 1, s"epochs not contiguous: $r")
    }
    // fractional part realized in aggregate: mean copies ≈ w/1e6 per lang
    val byLang = perDoc.groupBy(_.getString(1)).map { case (l, rs) =>
      l -> rs.map(_.getLong(2)).sum.toDouble / rs.length
    }
    for ((lang, mean) <- byLang) {
      val w = weights(lang) / 1e6
      assert(math.abs(mean - w) <= 0.25 * w + 0.1, s"$lang mean=$mean want~$w")
    }
  }

  test("doc_split never separates exact-duplicate content") {
    val docs = Tables.table(spark, sfDir, "documents")
      .select(col("doc_id"),
        md5(trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " ")))
          .as("fp"))
    val joined = run("doc_split").join(docs, "doc_id")
    val splitPerFp = joined.groupBy("fp")
      .agg(countDistinct("split").as("k")).agg(max("k")).head().getLong(0)
    assert(splitPerFp == 1L, "a fingerprint spans more than one split")
    val shares = joined.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // 96/2/2 recipe: train strictly dominates
    assert(shares.getOrElse("train", 0L) > shares.getOrElse("valid", 0L))
    assert(shares.getOrElse("train", 0L) > shares.getOrElse("test", 0L))
  }

  test("doc_shuffle_index assigns a contiguous permutation 0..n-1") {
    val df = run("doc_shuffle_index")
    val n = df.count()
    val stats = df.agg(min("pos"), max("pos"), countDistinct("pos")).head()
    assert(stats.getLong(0) == 0L)
    assert(stats.getLong(1) == n - 1)
    assert(stats.getLong(2) == n)
  }

  test("doc_shard_plan bounds every file_id by its source's file count") {
    val bad = run("doc_shard_plan")
      .filter(col("file_id") < 0 || col("file_id") >= col("n_files") ||
        col("n_files") < 1)
      .count()
    assert(bad == 0L)
  }

  test("doc_curriculum is a contiguous permutation with non-decreasing phases") {
    val rows = run("doc_curriculum").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val n = rows.length.toLong
    assert(rows.map(_._3).toSet == (0L until n).toSet, "pos is not a permutation")
    // the schedule property: walking the corpus in pos order never goes
    // back to an easier phase
    val phasesInOrder = rows.sortBy(_._3).map(_._2)
    assert(phasesInOrder.zip(phasesInOrder.drop(1)).forall { case (a, b) => a <= b },
      "phases must be non-decreasing along the curriculum")
    // within a phase the order is the seeded hash order, not doc_id order
    // (i.e. it IS shuffled): doc_ids within phase 2 are not sorted unless
    // the phase is trivially small
    val p2 = rows.filter(_._2 == phasesInOrder.last).sortBy(_._3).map(_._1)
    if (p2.length > 10) assert(p2 != p2.sorted, "within-phase order is unshuffled")
  }

  test("doc_pack_emit_ids bit-matches a full local tokenizer+pack replay") {
    import graft.text.Bpe
    // end-to-end local oracle: driver-side normalize/tokenize, learnLocal
    // (≡ learnScalable by BpeSpec), lexicographic subword ids,
    // greedy re-pack — every (source, shard, bin) row must match
    // (n_docs, n_ids, md5 of the id stream) bit-for-bit
    val docs = Tables.table(spark, sfDir, "documents")
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def normToks(t: String): Seq[String] =
      t.toLowerCase.replaceAll("[^a-z0-9]+", " ").trim.split(" ").toSeq
    val freqs = docs.toSeq.flatMap(d => normToks(d._3)).filter(_.nonEmpty)
      .groupBy(identity).map { case (w, ws) => w -> ws.length.toLong }
    val merges = Bpe.learnLocal(freqs, 8)
    val encoded = freqs.keys.map(w => w -> Bpe.encodeWord(w, merges)).toMap
    val subIds = encoded.values.flatten.toSeq.distinct.sorted.zipWithIndex.toMap
    val eos = subIds.size
    def docIds(t: String): Seq[Int] =
      normToks(t).flatMap(w => encoded.getOrElse(w, Seq.empty).map(subIds))
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val expected = docs.groupBy(d => (d._2, d._1 / 1000)).toSeq.flatMap {
      case ((src, shard), ds) =>
        var cum = 0L
        ds.sortBy(_._1).map { d =>
          cum += d._3.split(" ", -1).length // raw whitespace n_tok, empties kept
          (src, shard, (cum - 1) / 512, d)
        }
    }.groupBy(t => (t._1, t._2, t._3)).map { case (key, members) =>
      val inOrder = members.sortBy(_._4._1)
      val idStrs = inOrder.map(m => docIds(m._4._3).mkString(","))
      val nIds = inOrder.map(m => docIds(m._4._3).length.toLong).sum +
        inOrder.length - 1
      key -> ((inOrder.length.toLong, nIds, md5hex(idStrs.mkString(s",$eos,"))))
    }
    val got = run("doc_pack_emit_ids").collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2)) ->
        ((r.getLong(3), r.getLong(4), r.getString(5)))).toMap
    assert(got.keySet == expected.keySet,
      s"bin sets diverge: ${(got.keySet diff expected.keySet).take(3)} / " +
        s"${(expected.keySet diff got.keySet).take(3)}")
    for ((k, e) <- expected)
      assert(got(k) == e, s"bin $k: got ${got(k)} expected $e")
  }

  test("doc_mix_temperature flattens shares and conserves the token budget") {
    val rows = run("doc_mix_temperature").collect().map(r =>
      (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getLong(4), r.getDouble(5)))
    val total = rows.map(_._2).sum
    // α < 1 compresses toward uniform: the biggest domain's share must
    // SHRINK and the smallest domain's share must GROW
    val big = rows.maxBy(_._2); val small = rows.minBy(_._2)
    assert(big._4 < big._3, s"largest domain not damped: $big")
    assert(small._4 > small._3, s"smallest domain not boosted: $small")
    // boost = budget / natural tokens: >1 exactly for up-sampled domains
    rows.foreach { r =>
      assert((r._6 > 1.0) == (r._5 > r._2), s"boost/budget disagree: $r")
    }
    // the reweighted budgets redistribute the SAME volume (integer
    // rounding leaves < 1 token per domain)
    assert(math.abs(rows.map(_._5).sum - total) <= rows.length, rows.toSeq)
    // shares are a distribution
    assert(math.abs(rows.map(_._4).sum - 1.0) < 1e-4)
  }
}
