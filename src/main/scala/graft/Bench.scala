package graft

/** Benchmark main: runs every declared query on SPARK_GRAFT_SF_DIR and
  * prints one JSON line (driver contract). Each query is forced through a
  * `noop` sink so the FULL plan executes — `count()` would let Catalyst
  * prune projections/sorts and flatter the numbers.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // same injection as Verify: the SQL registry is part of the
    // measured engine, not a test-only surface
    val spark = SparkEntry.localSession("spark.sql.extensions" -> "graft.GraftExtensions")
    // shared-JVM belt: builder config is skipped when getOrCreate reuses
    // a session — attach + assert so the loud-failure goal always holds
    GraftFunctions.ensureAttached(spark)
    // optional subset (comma-separated names) for targeted scaling
    // probes — the driver never sets this, so the contract is unchanged
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // Queries run grouped by family (name prefix up to the first '_'),
    // with every SessionMemo pin for the session evicted at each family
    // boundary. Without this, 167 queries accumulate dozens of
    // MEMORY_AND_DISK fixture pins (shingle/pair/minhash indexes,
    // adjacency lists, decoded frames) in one storage pool, and late
    // families pay block-eviction + recompute + GC churn that a real
    // per-job cluster run never would. The pin set is now bounded by one
    // family's fixtures; names stay sorted so the report order and the
    // driver contract are unchanged.
    val families = selected.groupBy(_._1.takeWhile(_ != '_')).toSeq
      .sortBy(_._1).map(_._2)
    def runAll(timed: Boolean): Seq[(String, Double)] =
      families.flatMap { family =>
        val res = family.map { case (name, fn) =>
          val t0 = System.nanoTime()
          try {
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            name -> (System.nanoTime() - t0) / 1e9
          } catch { case e: Throwable =>
            if (timed) System.err.println(s"[bench] $name failed: ${e.getMessage}")
            // -1 marks a FAILED query so the 2x gate can't mistake broken
            // for fast
            name -> -1.0
          }
        }
        graft.queries.SessionMemo.evictAll(spark)
        res
      }
    // Contention canary: rel_q6 (pure scan+filter+agg, no join, no wide
    // shuffle — its warm time is plan-stable) is timed once at bench
    // START and once at bench END, so every artifact self-reports
    // whether the box was contended while it was recorded. Two rounds'
    // headline numbers (r7, r14) were fabricated by end-of-round VM
    // contention that only a within-artifact before/after probe can
    // adjudicate without a re-run: a quiet box reads start ≈ end; a box
    // that degrades mid-bench reads end >> start.
    // same try/catch contract as runAll: a broken canary degrades to a
    // missing fingerprint (-1.0), never aborts the artifact (ADVICE r15)
    def canaryTime(): Double = SparkEntry.queries.get("rel_q6").map { fn =>
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable =>
        System.err.println(s"[bench] canary rel_q6 failed: ${e.getMessage}")
        -1.0
      }
    }.getOrElse(-1.0)
    // one untimed warm-up pass (JIT + codegen + page cache), then TWO
    // timed passes reporting the per-query MINIMUM: steady-state engine
    // throughput, the number that scales to a long-lived cluster. The
    // min-of-2 makes the report variance-proof — a transient VM
    // contention spike during one pass (observed fabricating 3–4×
    // "regressions" on this box) cannot survive into the recorded
    // number, while a real plan regression shows up in every pass.
    // THREE canary samples since r17 (verdict-r16 protocol item): a lone
    // start probe twice needed per-round adjudication (r15 high, r16 low
    // — post-warm-up settling); start/mid/end brackets each timed pass so
    // a drifting box shows a monotone triple, a settling start shows
    // mid ≈ end, and one odd sample can't define the band by itself
    runAll(timed = false)
    val canaryStart = canaryTime() // warm: the warm-up pass already ran it
    val pass1 = runAll(timed = true)
    val canaryMid = canaryTime()
    val pass2 = runAll(timed = true)
    val canaryEnd = canaryTime()
    val results = pass1.zip(pass2).map { case ((name, a), (_, b)) =>
      // a failure in EITHER pass poisons the query: broken never reads fast
      name -> (if (a < 0 || b < 0) -1.0 else math.min(a, b))
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // any failed query poisons the total: broken must never read as fast
    val total = if (results.exists(_._2 < 0)) -1.0 else results.map(_._2).sum
    // Field order matters for the DRIVER's capture, which keeps only the
    // TAIL of the output: the per-query map comes first and the headline
    // total LAST, so however much of the line survives head-truncation it
    // always includes the total (r5/r6 lost it by printing totals first).
    // A JSON parser is order-blind, so a full capture reads identically.
    val json =
      s"""{"queries":$qs,"sf":"$sfDir","n_queries":${results.size},""" +
        s""""canary":{"query":"rel_q6","start_sec":$canaryStart,""" +
        s""""mid_sec":$canaryMid,"end_sec":$canaryEnd},""" +
        s""""metric":"total","value":$total,"unit":"sec"}"""
    println(json)
    // Tail-resilience line (ADDITION-only; the contract line above is
    // byte-unchanged and still printed first): a capture that keeps only
    // the tail of stdout truncates the HEAD of the long per-query line —
    // r16's per-query map was lost exactly that way — so a second,
    // compact line repeats the headline fields (total, count, canary) in
    // well under any plausible tail window. A full capture parses the
    // long line as before; a truncated one still ends with one complete
    // JSON object carrying the gate-relevant numbers.
    println(
      s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir",""" +
        s""""n_queries":${results.size},""" +
        s""""canary":{"query":"rel_q6","start_sec":$canaryStart,""" +
        s""""mid_sec":$canaryMid,"end_sec":$canaryEnd},"compact":true}""")
    spark.stop()
  }
}
