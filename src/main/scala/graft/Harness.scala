package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._

/** The measurement harness: the one session builder, cache release and
  * listener that [[Bench]], [[Verify]] and the three modes below share.
  *
  *   runMain graft.Harness trace q1[,q2,...] [passes]
  *   runMain graft.Harness plans <outDir> <suffix> [q1,q2,...]
  *   runMain graft.Harness scale
  *
  * Every mode reads `SPARK_GRAFT_SF_DIR` (default sf0.1) and
  * `SPARK_GRAFT_CPUS` (default 32); `scale` reads its own variables,
  * documented at [[scale]]. Queries are forced like Bench forces them:
  * a `noop`-format write, so the full plan runs with every column. */
object Harness {

  def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** Smallest SF: JIT/codegen warm-up passes run here before timing. */
  val WarmupDir = "/root/testdata/sf0.001"

  def session(app: String, cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(app)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Drop every cache a query may leave behind: this thread's root
    * [[Scope]] region, the catalog cache and every persisted RDD
    * (memoized checkpoints included). Run between queries so
    * block-manager state never accumulates across a suite. A failed
    * background task the query left unjoined is rethrown after the
    * cleanup. */
  def release(spark: SparkSession): Unit =
    try Scope.release()
    finally {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }

  def force(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Totals since the last [[Listener.reset]]. */
  final case class Totals(jobs: Int, stages: Int, readRecs: Long,
      readBytes: Long, writeRecs: Long, writeBytes: Long,
      maxStageWriteRecs: Long)

  /** One completed job: id, wall seconds, description (the
    * `core.labeled` phase, else the call site). */
  final case class JobRow(id: Int, sec: Double, desc: String)

  /** The measurement listener: per-job rows plus per-stage shuffle
    * totals. Events arrive asynchronously on the listener bus, so read
    * it only after [[drain]]. */
  final class Listener extends SparkListener {
    private val lock = new Object
    private val starts = mutable.Map.empty[Int, (Long, String)]
    private val rows = mutable.ArrayBuffer.empty[JobRow]
    private var readRecs, readBytes, writeRecs, writeBytes, maxWrite = 0L
    private var nStages = 0

    override def onJobStart(js: SparkListenerJobStart): Unit = {
      val props = Option(js.properties)
      val desc = props
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .orElse(props.flatMap(p => Option(p.getProperty("callSite.short"))))
        .getOrElse("")
      lock.synchronized(starts(js.jobId) = (System.nanoTime(), desc))
    }
    override def onJobEnd(je: SparkListenerJobEnd): Unit = lock.synchronized {
      starts.remove(je.jobId).foreach { case (t0, desc) =>
        rows += JobRow(je.jobId, (System.nanoTime() - t0) / 1e9, desc)
      }
    }
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
      lock.synchronized {
        val m = sc.stageInfo.taskMetrics
        if (m != null) {
          val r = m.shuffleReadMetrics
          val w = m.shuffleWriteMetrics
          readRecs += r.recordsRead
          readBytes += r.totalBytesRead
          writeRecs += w.recordsWritten
          writeBytes += w.bytesWritten
          maxWrite = math.max(maxWrite, w.recordsWritten)
          nStages += 1
        }
      }

    def reset(): Unit = lock.synchronized {
      starts.clear(); rows.clear()
      readRecs = 0; readBytes = 0; writeRecs = 0; writeBytes = 0
      maxWrite = 0; nStages = 0
    }
    def totals: Totals = lock.synchronized {
      Totals(rows.length, nStages, readRecs, readBytes, writeRecs,
        writeBytes, maxWrite)
    }
    def jobs: Seq[JobRow] = lock.synchronized(rows.sortBy(_.id).toSeq)

    /** Wait until the totals are stable across two reads 200 ms apart
      * (a fixed sleep undercounts exactly on the big runs); 10 s cap as
      * a hang backstop. */
    def drain(): Unit = {
      var prev = totals
      var stable = false
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (!stable && System.nanoTime() < deadline) {
        Thread.sleep(200)
        val cur = totals
        stable = cur == prev
        prev = cur
      }
    }
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "trace" :: names :: rest if rest.length <= 1 =>
      trace(names.split(",").map(_.trim).filter(_.nonEmpty).toSeq,
        rest.headOption.fold(2)(_.toInt))
    case "plans" :: outDir :: suffix :: rest if rest.length <= 1 =>
      plans(outDir, suffix,
        rest.headOption.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet))
    case "scale" :: Nil => scale()
    case _ =>
      System.err.println("usage: graft.Harness trace q1[,q2,...] [passes]\n" +
        "       graft.Harness plans <outDir> <suffix> [q1,q2,...]\n" +
        "       graft.Harness scale")
      sys.exit(2)
  }

  private def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  /** Per-job wall breakdown of registered queries whose `run` spans
    * many jobs (artifact lifecycles, CC fixpoints), where one
    * end-to-end number says nothing about where the time goes. Runs
    * each query `passes` times (the first pays codegen/JIT) and prints
    * every pass's wall, then the last pass's jobs with their wall and
    * description, the job count and the shuffle totals. */
  def trace(names: Seq[String], passes: Int): Unit = {
    val spark = session("graft-trace", cpus)
    val listener = new Listener
    spark.sparkContext.addSparkListener(listener)
    val dir = sfDir
    Registry.all.filter(q => names.contains(q.name)).foreach { q =>
      val walls = (1 to passes).map { _ =>
        listener.reset()
        val t0 = System.nanoTime()
        try force(q.run(spark, dir))
        catch { case e: Throwable =>
          System.err.println(s"[trace] ${q.name} FAILED: ${e.getMessage}")
        }
        val dt = (System.nanoTime() - t0) / 1e9
        listener.drain()
        release(spark)
        dt
      }
      println(s"== ${q.name}: " +
        walls.zipWithIndex.map { case (w, i) => f"pass${i + 1}=$w%.2fs" }.mkString(" "))
      val jobs = listener.jobs
      jobs.foreach { j => println(f"  job ${j.id}%3d  ${j.sec}%7.3fs  ${j.desc.take(100)}") }
      val t = listener.totals
      println(f"  jobs=${jobs.length} jobWallSum=${jobs.map(_.sec).sum}%.2fs " +
        f"shufRead=${t.readBytes / 1e6}%.1fMB shufWrite=${t.writeBytes / 1e6}%.1fMB")
    }
    spark.stop()
  }

  /** Write `.explain("formatted")` of each named query (all registered
    * queries when none are named) to `<outDir>/<name>_<suffix>.txt`:
    * the optimized physical plan, captured without running it, so AQE
    * nodes show `isFinalPlan=false`. Queries whose `run` itself runs
    * jobs dump only the returned frame's plan; [[trace]] measures
    * their internal stages. */
  def plans(outDir: String, suffix: String, only: Option[Set[String]]): Unit = {
    val spark = session("graft-plans", cpus)
    val dir = sfDir
    Files.createDirectories(Paths.get(outDir))
    Registry.all.filter(q => only.forall(_.contains(q.name))).foreach { q =>
      try {
        val plan = q.run(spark, dir).queryExecution.explainString(FormattedMode)
        Files.writeString(Paths.get(outDir, s"${q.name}_$suffix.txt"), plan)
        println(s"[plans] wrote ${q.name}_$suffix.txt")
      } catch { case e: Throwable =>
        System.err.println(s"[plans] ${q.name} FAILED: ${e.getMessage}")
      }
      release(spark)
    }
    spark.stop()
  }

  /** Docs-mode scale set: the heaviest document, embedding and event
    * queries. Each must scale linearly on the copy-suffix corpus (see
    * [[buildScaled]]); the comments say what each one's shuffle should
    * track, and BASELINE.md records the measured points. */
  val ScaleQueries = Seq("d_ngram_jaccard", "m_snippet_match",
    "x5_halohash_match", "d_dedup_clusters", "s_cosine_ann_ivf",
    "d_minhash_lsh", "d_cluster_keeper", "mm_feature_extract",
    "t_bpe_encode", "d_decontaminate",
    // round-7 additions: the recall gate's exact side (quadratic in
    // per-shingle collision groups BY DESIGN — watch it), sequence
    // packing's two-phase prefix sum, and the AVI demux path
    "d_lsh_recall", "t_seq_pack", "mm_video_frames",
    // round-8 additions: streaming first-seen-wins (linear, rides the
    // minhash band join), temperature mixture sampling (one shuffle),
    // SemDeDup (k scales with n — a FIXED k=32 measured 501 s at 100×
    // from quadratic cells; the dynamic k keeps the pair join linear),
    // PQ ANN (broadcast ADC scan + bounded re-rank), and the two
    // per-user-key temporal plans over the user-offset-scaled events
    "d_stream_dedup", "a_mix_sample", "d_semdedup", "s_cosine_ann_pq",
    "st_session_window", "j14_asof_join",
    // and the single-shuffle report family: sliding windows (4-window
    // expand), two-phase decile rank, rollup grouping sets, pivot
    "st_sliding_window", "w6_ntile_buckets", "a_rollup",
    "a_pivot_events",
    // cross-doc substring dedup: gram explode + corpus count + hit
    // join + per-doc span merge — shuffle should track gram count
    // (linear in tokens), hits track duplicated-gram occurrences;
    // the cut half adds the token/span anti-join + in-order rebuild
    "d_substring_dedup", "d_substring_cut", "d_substring_dedup_hashed",
    // product-analytics report pair over the user-offset-scaled
    // events: funnel = cascaded filtered-MIN aggs on user_id,
    // retention = (user, week)-distinct frame joined to cohorts
    "a_window_funnel", "a_retention_cohorts",
    // the end-to-end curation funnel: rides the shared CC fixpoint +
    // two small windows; watch that the md5 window and keeper re-rank
    // stay hash-partitioned as the corpus grows
    "d_pipeline_e2e",
    // round-8 late additions: the sketch gates (shuffle volume must
    // stay groups×tasks×sketch-size — NOT row count — as events
    // grow), the shard manifest (one map-side-combined groupBy to 64
    // rows), and the NFC pass (pure per-row map; isNormalized fast
    // path keeps the ASCII bulk allocation-free)
    "a_sketch_distinct", "a_sketch_quantile", "t_shard_manifest",
    "t_normalize",
    // one-pass expectation profile (the COUNT(DISTINCT) expand is the
    // only super-constant state) and the cluster histogram riding the
    // shared CC label frame
    "a_data_quality", "d_cluster_stats",
    // exact set-similarity join: the prefix filter must keep the hot
    // grams OUT of the candidate join — compare its shuffle against
    // d_lsh_recall's exact side (same answer, no pruning). Ran 10×
    // ONLY until round 9: the old gram-explode verify materialized a
    // pairs×grams intermediate (~1B shuffle rows at 100×) that was
    // misattributed to answer cardinality — the copy-suffix harness
    // multiplies cohort COUNT, so the answer is linear (25.6k rows at
    // 100×); the array-intersect verify runs the full 100× point
    "d_jaccard_prefix_join",
    // heavy-hitters sketch gate: the Misra-Gries pass must stay O(k)
    // state per partition; the linear branch is the exact verify
    "t_heavy_hitters",
    // corpus-bigram LM scoring: two vocabulary-sized count frames +
    // one corpus equi-join — transitions shuffle linearly, counts don't
    "t_lm_score",
    // windowed cardinality: the streaming shape of the distinct gate —
    // the exact branch shuffles (window, type, user) triples, the HLL
    // partials stay windows×types×tasks×sketch
    "st_window_distinct",
    // round-8 additions: stride chunking (pure explode — shuffle only
    // the display sort), the integer-score retrieval pair (explode +
    // two hash aggs; the query side of t_search_rank is 3 terms at
    // every scale), and the per-source token-budget window (one
    // hash-partitioned cumsum; kept rows FIXED per source as the
    // corpus grows — the budget, not the data, bounds the output)
    "t_chunk_windows", "t_keyword_extract", "t_search_rank",
    "a_token_budget",
    // round-9 additions: the ANN-candidate mutual-kNN clusters — the
    // 100 TB path of s_knn_clusters. Candidates must stay bounded by
    // nprobe·n·cell_size (cells scale linearly under the id-offset
    // corpus), never the n² of the exact variant; watch the candidate
    // join's shuffle rows track n linearly. And the keeper-capped
    // exact similarity join: linear OUTPUT (one witness edge per
    // duplicate doc) where the uncapped d_jaccard_prefix_join is
    // FactorCap'd to 10× by its answer cardinality — this one must
    // hold a 100× point
    "s_knn_clusters_ann", "d_jaccard_prefix_capped",
    // round-11: incremental shard ingest — the candidate join is
    // restricted to increment-side bands, so its shuffle must track
    // the INCREMENT (20% of docs, linear per copy), never
    // corpus×corpus; within-copy cohorts keep verdicts linear under
    // the copy-suffix harness
    "d_incremental_dedup",
    // round-12: the embedding-side incremental ingest — assignment is
    // increment × k map-side dots against broadcast centroids, and
    // k ∝ corpus keeps probed cells ~64 vectors, so scoring tracks
    // the increment (20% of vectors, id-offset corpus) linearly;
    // watch the candidate join's shuffle rows, never corpus×corpus
    "s_ann_increment")

  /** Relational scale set (`SPARK_GRAFT_SCALE_MODE=rel`): the TPC-ish
    * aggregation/join family over a corpus whose FACT tables grow while
    * dimensions stay unscaled (see [[buildScaledRel]]), so dimension
    * joins must stay broadcast at every factor. */
  val RelScaleQueries = Seq("q1_pricing_summary", "q3_top_revenue_orders",
    "q5_region_revenue", "j1_fk_join", "j2_prefetch_agg",
    "j9_earliest_per_key",
    // two-phase exact quantiles: the rank shuffle must stay
    // range-partitioned (never one task per group) as facts grow
    "a_percentiles",
    // the salted skew join: the hot key's rows spread over 8 salted
    // partitions; max single-stage shuffle write must track total/8
    // for the hot key, not total, as facts grow
    "j15_salted_skew_join")

  /** The scaled corpus is `factor` copies of the base documents with
    * ids offset and every token suffixed `_k` in copy k>0: near-dup
    * structure WITHIN a copy is preserved exactly, while similarity
    * ACROSS copies is zero, so pair counts, cluster sizes and bucket
    * populations scale linearly (naive duplication would make every
    * document `factor-1` mutual near-dups and measure an artificial
    * quadratic blowup). Embeddings get id offsets. */
  def buildScaled(spark: SparkSession, base: String, out: String,
      factor: Int): Unit = {
    val docs = spark.read.parquet(s"$base/documents.parquet")
    val nDoc = docs.agg(max("doc_id")).head().getLong(0) + 1
    (0 until factor).map { k =>
      if (k == 0) docs
      else docs.select(
        (col("doc_id") + k * nDoc).as("doc_id"),
        array_join(transform(split(col("text"), " "),
          w => concat(w, lit(s"_$k"))), " ").as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    val emb = spark.read.parquet(s"$base/embeddings.parquet")
    val nVec = emb.agg(max("vec_id")).head().getLong(0) + 1
    (0 until factor).map { k =>
      if (k == 0) emb
      else emb.select((col("vec_id") + k * nVec).as("vec_id"),
        col("embedding"), col("label"))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    buildScaledEvents(spark, base, out, factor)
  }

  /** Events scale by USER-ID offset: per-user timelines (and so the
    * session/as-of structure) replicate exactly. */
  def buildScaledEvents(spark: SparkSession, base: String, out: String,
      factor: Int): Unit = {
    val ev = graft.core.t(spark, base, "events")
    val nUser = ev.agg(max("user_id")).head().getLong(0) + 1
    val nEv = ev.agg(max("event_id")).head().getLong(0) + 1
    (0 until factor).map { k =>
      if (k == 0) ev
      else ev.select((col("event_id") + k * nEv).as("event_id"),
        col("ts"), (col("user_id") + k * nUser).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$out/events.parquet")
  }

  /** Fact tables replicated with offset order keys; dims copied. */
  def buildScaledRel(spark: SparkSession, base: String, out: String,
      factor: Int): Unit = {
    val orders = spark.read.parquet(s"$base/orders.parquet")
    val maxOk = orders.agg(max("o_orderkey")).head().getLong(0) + 1
    (0 until factor).map { k =>
      if (k == 0) orders
      else orders.withColumn("o_orderkey", col("o_orderkey") + k * maxOk)
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$out/orders.parquet")
    val li = spark.read.parquet(s"$base/lineitem.parquet")
    (0 until factor).map { k =>
      if (k == 0) li
      else li.withColumn("l_orderkey", col("l_orderkey") + k * maxOk)
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$out/lineitem.parquet")
    Seq("region", "nation", "customer", "supplier", "part").foreach { d =>
      spark.read.parquet(s"$base/$d.parquet")
        .write.mode("overwrite").parquet(s"$out/$d.parquet")
    }
  }

  /** Scale points: each query of the scale set at the base SF and at
    * synthetic 10×/100× corpora, with wall (min of 2) and shuffle
    * telemetry per point, printed as one JSON line. Variables:
    * `SPARK_GRAFT_SCALE_MODE=docs|rel`, `SPARK_GRAFT_SCALE_FACTORS`
    * (default 10,100; rel 10), `SPARK_GRAFT_SCALE_ONLY=q1,q2`,
    * `SPARK_GRAFT_SHUFFLE_PARTITIONS` (default the core count: size it
    * to the data at 100×, where 32 partitions mean ~37M rows per task
    * sort) and `SPARK_GRAFT_KNN_LEVELS` (the ANN hierarchy depth,
    * `spark.graft.ann.levels`). Corpora are built once under
    * /tmp/graft_scale<f>x (rel: /tmp/graft_scale_rel<f>x) and reused. */
  def scale(): Unit = {
    val base = sfDir
    val mode = sys.env.getOrElse("SPARK_GRAFT_SCALE_MODE", "docs")
    require(mode == "docs" || mode == "rel",
      s"SPARK_GRAFT_SCALE_MODE must be docs or rel, got $mode")
    val factors = sys.env
      .getOrElse("SPARK_GRAFT_SCALE_FACTORS", if (mode == "rel") "10" else "10,100")
      .split(",").map(_.trim).filter(_.nonEmpty).map(_.toInt).toSeq
    val allQueries = if (mode == "rel") RelScaleQueries else ScaleQueries
    val only = sys.env.get("SPARK_GRAFT_SCALE_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { names =>
      val unknown = names -- allQueries.toSet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_SCALE_ONLY names not in the $mode query set: " +
          s"${unknown.mkString(", ")}")
    }
    val queries = allQueries.filter(q => only.forall(_.contains(q)))
    val spark = session("graft-scale", cpus)
    spark.conf.set("spark.sql.shuffle.partitions",
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus))
    sys.env.get("SPARK_GRAFT_KNN_LEVELS")
      .foreach(v => spark.conf.set("spark.graft.ann.levels", v))
    val listener = new Listener
    spark.sparkContext.addSparkListener(listener)

    def exists(p: String) = Files.exists(Paths.get(p))
    val dirs: Seq[(String, String)] = ("base" -> base) +: factors.map { f =>
      val out =
        if (mode == "rel") s"/tmp/graft_scale_rel${f}x" else s"/tmp/graft_scale${f}x"
      if (mode == "rel") {
        if (!exists(s"$out/lineitem.parquet")) buildScaledRel(spark, base, out, f)
      } else {
        if (!exists(s"$out/documents.parquet")) buildScaled(spark, base, out, f)
        // corpora built before events joined the docs set get them added
        else if (!exists(s"$out/events.parquet")) buildScaledEvents(spark, base, out, f)
      }
      s"x$f" -> out
    }

    queries.foreach { q =>
      Registry.byName(q).run(spark, WarmupDir).count()
      release(spark)
    }

    /** (min seconds, rows, totals and CC edge counts of the min sample):
      * telemetry is kept per sample so it always matches the reported
      * seconds. Rows are counted once, outside the timed samples. */
    def time(q: String, dir: String): (Double, Long, Totals, Seq[Long]) = {
      val samples = (1 to 2).map { _ =>
        listener.reset()
        val t0 = System.nanoTime()
        force(Registry.byName(q).run(spark, dir))
        val dt = (System.nanoTime() - t0) / 1e9
        listener.drain()
        val cc =
          if (q == "d_dedup_clusters" || q == "d_cluster_keeper")
            graft.ops.ConnectedComponents.lastRunEdgeCounts
          else Seq.empty[Long]
        val snap = listener.totals
        release(spark)
        (dt, snap, cc)
      }
      val rows = Registry.byName(q).run(spark, dir).count()
      release(spark)
      val best = samples.minBy(_._1)
      (best._1, rows, best._2, best._3)
    }

    val entries = queries.map { q =>
      val scales = dirs.map { case (tag, dir) =>
        val (sec, rows, t, cc) = time(q, dir)
        val ccPart =
          if (cc.nonEmpty)
            s""","cc_rounds":${cc.length - 1},"cc_edges":[${cc.mkString(",")}]"""
          else ""
        f""""$tag":{"sec":$sec%.3f,"rows":$rows,""" +
          f""""sh_write_rows":${t.writeRecs},"sh_write_mb":${t.writeBytes / 1048576.0}%.1f,""" +
          f""""sh_read_rows":${t.readRecs},"sh_read_mb":${t.readBytes / 1048576.0}%.1f,""" +
          f""""max_stage_write_rows":${t.maxStageWriteRecs},"stages":${t.stages}$ccPart}"""
      }
      val line = s""""$q":{${scales.mkString(",")}}"""
      System.err.println(s"[scale] $line")
      line
    }
    println(entries.mkString(
      s"""{"metric":"scale","factors":"${factors.mkString(",")}","base":"$base","queries":{""",
      ",", "}}"))
    spark.stop()
  }
}
