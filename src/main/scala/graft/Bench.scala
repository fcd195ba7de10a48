package graft

/** Benchmark main: runs every registered query against
  * SPARK_GRAFT_SF_DIR (default sf0.1), forcing full materialization via
  * a noop write, and prints one JSON line with per-query seconds.
  */
object Bench {

  /** Canary protocol, in-harness (r13) — the codified form of the
    * drift forensics BASELINE.md rounds 10-12 narrated by hand: the
    * shared build host enters multi-hour slow windows where EVERY
    * query inflates 1.3-2× with unchanged code, and a stamp taken
    * inside one poisons round-over-round comparison. Four pinned
    * trivial queries (none touched since r9; sub-second; spanning
    * scan/window, set-op, text-agg, and the TPC-H headline) run
    * before and after the suite; their medians divide by the
    * committed clean-stamp records below and the suite stamp carries
    * the ratio — or is QUARANTINED (written as
    * `.contaminated.json`) when the window factor exceeds
    * [[canaryThreshold]] and a clean stamp for the round already
    * exists. Records are from the r12 builder clean stamp
    * (git 07ae2f2:BENCH_FULL_r12.json, 3-pass medians at sf0.1,
    * canary-verified quiet window); they move only when a clean
    * re-stamp moves them. */
  val canaryRecords: Seq[(String, Double)] = Seq(
    "o4_pagination" -> 0.171,
    "u3_except" -> 0.323,
    "t_shard_manifest" -> 0.290,
    "q1_pricing_summary" -> 0.410)

  val canaryThreshold = 1.25

  /** Lower gate (r13 verdict): a FAST window deflates absolutes just
    * as a slow one inflates them — a 0.80-ratio stamp flatters the
    * round that writes it and sandbags the next. Stamps are accepted
    * only inside [canaryLowThreshold, canaryThreshold]. */
  val canaryLowThreshold = 0.8

  /** Median of per-query measured/record ratios; 0.0 when nothing
    * measured (canary disabled or no query resolved). */
  def canaryRatio(medians: Map[String, Double]): Double = {
    val rs = canaryRecords
      .flatMap { case (n, rec) => medians.get(n).map(_ / rec) }
      .sorted
    if (rs.isEmpty) 0.0 else rs(rs.length / 2)
  }

  /** Where the full per-query record lands. A measured out-of-window
    * run (either canary leg above canaryThreshold or below
    * canaryLowThreshold, see [[canaryBreach]]) REFUSES to replace an
    * existing stamp unless forced — the contaminated map goes to a
    * quarantine name the continuity tooling never reads. A first stamp of the
    * round writes regardless (a self-describing contaminated stamp
    * beats no stamp; the ratio rides the JSON), as does an unmeasured
    * run (both legs 0.0 — no evidence to refuse on). */
  def stampTarget(fullName: String, canaryPre: Double, canaryPost: Double,
      forced: Boolean, cleanStampExists: Boolean): String =
    if (canaryBreach(canaryPre, canaryPost).isEmpty || forced ||
        !cleanStampExists) fullName
    else fullName.stripSuffix(".json") + ".contaminated.json"

  /** The first canary leg outside [canaryLowThreshold, canaryThreshold],
    * with the bound it crossed (e.g. "pre 0.77 < 0.8"); None when both
    * legs are in window or unmeasured (0.0). Either leg decides: a
    * window opening mid-suite shows in post, one closing in pre. */
  def canaryBreach(canaryPre: Double, canaryPost: Double): Option[String] =
    Seq("pre" -> canaryPre, "post" -> canaryPost).collectFirst {
      case (leg, r) if r != 0.0 && r < canaryLowThreshold =>
        f"$leg $r%.2f < $canaryLowThreshold"
      case (leg, r) if r > canaryThreshold =>
        f"$leg $r%.2f > $canaryThreshold"
    }

  /** BENCH_SUMMARY.json is the fixed read target for the round's
    * record, so only a 32-core stamp that went to the round's own name
    * (not a quarantine file) may replace it. */
  def writesSummary(cpus: String, fullName: String, target: String): Boolean =
    cpus == "32" && target == fullName

  def main(args: Array[String]): Unit = {
    val sfDir = Harness.sfDir
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // optional comma-separated query-name filter for local iteration
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val spark = Harness.session("graft-bench", cpus)
    // Queries may cache()/localCheckpoint() intermediates; released
    // after every run so block-manager state never accumulates across
    // the 150+ query executions (leftover blocks degrade the tail of
    // the run under memory pressure).
    def release(): Unit = Harness.release(spark)

    val queries = only match {
      case Some(names) => Registry.all.filter(q => names.contains(q.name))
      case None        => Registry.all
    }

    // Forcing action. `noop` (default) writes the full result to
    // Spark's no-op sink: every column materializes and the COMPLETE
    // optimized plan executes. `count` is the legacy forcing — under
    // it Catalyst prunes all columns, and outer joins against
    // unique-keyed right sides are eliminated outright, so 5 of the
    // 140 registered plans (d_stream_dedup, d_semdedup,
    // d_decontaminate, d_ngram_jaccard, j6_a4_token_jaccard; BASELINE.md
    // "Round-8 forcing fix") benched a fraction of their real work.
    // Kept selectable for A/B against the historical numbers.
    val force: org.apache.spark.sql.DataFrame => Unit =
      sys.env.getOrElse("SPARK_GRAFT_FORCE", "noop") match {
        case "count" => df => { df.count(); () }
        case _ => Harness.force
      }

    // JVM/codegen warmup on the smallest SF so per-query timings below
    // measure the plan, not first-use compilation.
    queries.foreach { q =>
      try force(q.run(spark, Harness.WarmupDir))
      catch { case _: Throwable => () }
      release()
    }

    // Canary legs: 3 runs of each pinned query, per-query median vs
    // record. Only meaningful against the records' scale factor
    // (sf0.1) and skippable for local iteration via
    // SPARK_GRAFT_CANARY=0.
    val canaryOn = sfDir.contains("sf0.1") &&
      !sys.env.get("SPARK_GRAFT_CANARY").contains("0")
    def canaryLeg(): Double =
      if (!canaryOn) 0.0
      else {
        val runs = (1 to 3).map { _ =>
          canaryRecords.map(_._1).flatMap { n =>
            Registry.byName.get(n).map { q =>
              val t0 = System.nanoTime()
              try force(q.run(spark, sfDir))
              catch { case _: Throwable => () }
              val dt = (System.nanoTime() - t0) / 1e9
              release()
              n -> dt
            }
          }.toMap
        }
        val medians = canaryRecords.map(_._1).flatMap { n =>
          val ts = runs.flatMap(_.get(n)).sorted
          if (ts.isEmpty) None else Some(n -> ts(ts.length / 2))
        }.toMap
        canaryRatio(medians)
      }

    val canaryPre = canaryLeg()
    if (canaryOn) println(f"CANARY pre=$canaryPre%.2f " +
      f"(threshold $canaryThreshold; >1 means the host is inflating " +
      "pinned trivial queries vs the committed clean records)")

    // Three full passes over the suite, per-query MEDIAN across
    // passes. The round-2 driver run regressed byte-identical queries
    // 10-25x in one positionally-contiguous stretch — transient host
    // contention. Whole-suite passes put a query's repetitions minutes
    // apart, so a transient slow window poisons at most one of the
    // three samples and the median discards it. release() between runs
    // keeps block-manager state from accumulating; it was exonerated
    // by an A/B run (35.9s total with it, matching the 37.3s
    // baseline).
    val passes = 3
    def onePass(): Seq[(String, Double)] = queries.map { q =>
      val t0 = System.nanoTime()
      // a failed query must be VISIBLE: a swallowed exception benches
      // as a fast success and poisons the total downward
      try force(q.run(spark, sfDir))
      catch { case e: Throwable =>
        System.err.println(s"[bench] ${q.name} FAILED: ${e.getMessage}")
      }
      val dt = (System.nanoTime() - t0) / 1e9
      release()
      q.name -> dt
    }
    val samples = (1 to passes).map(_ => onePass())
    val results = queries.map(_.name).map { name =>
      val ts = samples.map(_.find(_._1 == name).map(_._2).getOrElse(0.0)).sorted
      name -> ts(ts.length / 2)
    }

    val canaryPost = canaryLeg()
    if (canaryOn) println(f"CANARY post=$canaryPost%.2f")
    val canary = math.max(canaryPre, canaryPost)
    val canaryJson =
      if (!canaryOn) ""
      else f""","canary_ratio":$canary%.2f,"canary_pre":$canaryPre%.2f,"canary_post":$canaryPost%.2f"""

    val qs = results
      .map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // cpus rides every stamp (r13 verdict item 2: the driver's 8-core
    // scaling run stamped a round record indistinguishable from a
    // 32-core one; the canary cannot catch core-count changes because
    // the pinned queries are driver-bound).
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs$canaryJson,"cpus":$cpus,"sf":"$sfDir"}"""
    // The driver records only the last ~2000 chars of stdout, so the
    // full 186-query line (4.6 KB in r8) arrives truncated and
    // unparseable. Emit (a) the complete map chunked into short
    // BENCH_PART lines, then (b) one FINAL compact line guaranteed to
    // fit the captured tail: total + the most expensive queries, which
    // are the ones graded against BASELINE.md. The complete record is
    // also written to BENCH_LOCAL.json.
    // Round-stamped FULL per-query record, meant to be COMMITTED (the
    // r10 verdict: BENCH_LOCAL.json is gitignored and the driver tail
    // keeps only ~75 queries, so per-query non-regression was
    // undecidable from history). The round number comes from
    // SPARK_GRAFT_ROUND when the caller knows it, else max(N)+1 over
    // the DRIVER-committed BENCH_r<N>.json files — a file another
    // program writes exactly once per round, so the inference is
    // stable across ANY number of reruns within a round (ADVICE r11:
    // treating an existing BENCH_r<N> as naming the CURRENT round —
    // max, not max+1 — was the fix; keying on this code's own
    // BENCH_FULL output would self-collide, each rerun stamping
    // round+1 off the previous rerun's artifact). BENCH_r11 present
    // during round 12 → stamps 12; a round-12 rerun still stamps 12
    // and overwrites. An empty scan yields 1 (first round).
    val round: Int = sys.env.get("SPARK_GRAFT_ROUND").flatMap(_.toIntOption)
      .getOrElse {
        val rx = """BENCH_r0*(\d+)\.json""".r
        val files = Option(new java.io.File(".").list()).getOrElse(Array.empty)
        val ns = files.collect { case rx(n) => n.toInt }
        if (ns.isEmpty) 1 else ns.max + 1
      }
    // A non-default core count NEVER writes the round's record: the
    // driver also runs this harness at low cpus to measure scaling,
    // and in r13 that run overwrote the would-be round-14 baseline
    // (BENCH_FULL_r14.json at 8 cores). Those stamps go to a
    // `_c<cpus>` suffixed name instead.
    val fullName =
      if (cpus == "32") f"BENCH_FULL_r$round%02d.json"
      else f"BENCH_FULL_r$round%02d_c$cpus.json"

    val chunks = results.grouped(40).toSeq
    chunks.zipWithIndex.foreach { case (grp, i) =>
      val m = grp.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
        .mkString("{", ",", "}")
      println(s"BENCH_PART ${i + 1}/${chunks.length} $m")
    }
    def compactLine(topN: Int): String = {
      val top = results.sortBy(-_._2).take(topN)
        .map { case (k, v) => "\"" + k + "\":" + f"$v%.2f" }
        .mkString("{", ",", "}")
      f"""{"metric":"total","value":$total%.2f,"unit":"sec","queries":$top,"n_queries":${results.length}$canaryJson,"cpus":$cpus,"full":"$fullName","sf":"$sfDir"}"""
    }
    // shrink until the final line fits comfortably inside the tail
    val finalLine = Iterator.from(0).map(i => compactLine(48 - 8 * i))
      .find(_.length <= 1500).getOrElse(compactLine(8))
    // a filtered local-iteration run must not clobber the full-suite
    // record the final line points readers at
    if (only.isEmpty) {
      java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_LOCAL.json"),
        (line + "\n").getBytes("UTF-8"))
      // slow-window stamps QUARANTINE rather than replacing a clean
      // one (see stampTarget) — ends the re-stamp forensics cycle
      val target = stampTarget(fullName, canaryPre, canaryPost,
        forced = sys.env.get("SPARK_GRAFT_FORCE_STAMP").contains("1"),
        cleanStampExists =
          java.nio.file.Files.exists(java.nio.file.Paths.get(fullName)))
      if (target != fullName)
        println(s"CANARY ${canaryBreach(canaryPre, canaryPost).get} " +
          s"(window [$canaryLowThreshold, $canaryThreshold]): " +
          s"refusing to replace $fullName; writing $target " +
          "(SPARK_GRAFT_FORCE_STAMP=1 overrides)")
      java.nio.file.Files.write(java.nio.file.Paths.get(target),
        (line + "\n").getBytes("UTF-8"))
      // Fixed parse target for the driver (r13 verdict item 1d: the
      // driver's tail-parser produced `parsed: null` two rounds
      // running despite the final line printing). The same compact
      // line that goes to stdout is committed here verbatim so the
      // driver can read it from the filesystem instead of the tail.
      if (writesSummary(cpus, fullName, target))
        java.nio.file.Files.write(
          java.nio.file.Paths.get("BENCH_SUMMARY.json"),
          (finalLine + "\n").getBytes("UTF-8"))
    }
    println(finalLine)
    spark.stop()
  }
}
