package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.pipeline.Curation
import graft.sim.Similarity

/** Dev-only 100× scale probe for the headline operator tiers — the
  * measurement behind the 100 TB design claims (previously extrapolated
  * from [[ScaleProbe]]'s 10×). Growth models and caching live in
  * [[ProbeCorpus]]; see its scaladoc for why mutated-copy / hash-noise
  * corpora are the regime where "near-linear" is even testable.
  *
  * Sections (arg 2): `all` (default), `recall`, `serve`, `skew`, `cc`,
  * `relational` (PageRank at 10 iterations, hourly gap fill, salted
  * fact⋈dim at growing fact), `skewjoin` (the AQE-vs-salted crossover
  * measurement on a planted 50%-hot key), `lm` (bigram surprisal +
  * DSIR weights + edit-distance near-dup — the round-8 LM-tier
  * numbers; included in `all`), `mem` (memory-envelope: run the five
  * biggest-shuffle queries at 10× and report peak execution memory +
  * spill — pair with a small heap, see the section comment).
  *
  * Separately from the mutated-copy corpus, an EXACT-copy 30× corpus
  * (replica cliques: ~2.2M verified minhash edges > the 1M
  * `driverEdgeLimit`) drives the connected-components DISTRIBUTED path
  * on real over-bound data and asserts it labels identically to the
  * driver union-find on the same pairs.
  *
  * One rep per (op, scale): coarse, but the quantity of interest is the
  * growth EXPONENT across two decades, not ±20% on one point.
  */
object ScaleProbe100 {
  def main(args: Array[String]): Unit = {
    val scales = if (args.nonEmpty) args(0).split(",").map(_.toInt).toSeq
                 else Seq(1, 10, 100)
    val mode = if (args.length > 1) args(1) else "all"
    // mem mode models a constrained executor: local[8] (pair with
    // SPARK_DRIVER_MEM=4g so the forked JVM gets the small heap)
    val spark = if (mode == "mem") graft.Config.session(8) else graft.Config.session()
    val tmp = "/tmp/graft-scale100"
    val sfDir = "/root/testdata/sf0.1"

    val baseDocs = spark.read.parquet(s"$sfDir/documents.parquet")
    val baseEmb = spark.read.parquet(s"$sfDir/embeddings.parquet")

    def cached(path: String)(build: => DataFrame): DataFrame =
      ProbeCorpus.cached(spark, path)(build)
    def docsAt(c: Int): DataFrame =
      cached(s"$tmp/docs_${c}x")(ProbeCorpus.mutatedDocCopies(baseDocs, c))
    def embAt(c: Int): DataFrame =
      cached(s"$tmp/emb_${c}x")(ProbeCorpus.hashNoiseEmbCopies(baseEmb, c))
    val time = ProbeCorpus.time("SCALE100") _

    if (mode == "all") scales.foreach { c =>
      val docs = docsAt(c)
      val emb = embAt(c)
      val queries = embAt(1).filter(col("vec_id") < 8)
      println(s"== scale ${c}x: ${5000L * c} docs, ${2000L * c} vectors")

      // minhash near-dup + CC clustering over its pairs (the scale path;
      // the pairs pin keeps CC's timing free of the pair stage)
      var pairs: DataFrame = null
      time(s"minhash_${c}x") {
        pairs = graft.Staging.pin(Dedup.minhashNearDups(docs)); pairs.count()
      }
      time(s"cc_${c}x")(
        Dedup.connectedComponents(docs.select("doc_id"), pairs).count())
      graft.Staging.unpin(pairs)

      time(s"curation_${c}x")(Curation.curate(
        docs, col("doc_id") % 37 === 0, minShared = 40L).count())

      // SemDeDup: K ∝ n (the operator's own contract — constant cluster
      // size keeps the within-cluster pair stage linear; training cost
      // n·K is then the quadratic-ish term a deployment shards, which
      // the probe shows honestly). IVF tiers: K ∝ √n — the canonical
      // inverted-list sizing that balances train (n·K) vs probe (n/K).
      val sqrtK = 8 * math.sqrt(c).round.toInt
      time(s"semdedup_${c}x")(
        Similarity.semDedup(emb, kCentroids = 8 * c).count())
      time(s"ivf_unlabeled_${c}x")(
        Similarity.ivfTopKUnlabeled(emb, queries, kCentroids = sqrtK).count())
      time(s"ivfpq_${c}x")(
        Similarity.ivfPqTopK(emb, queries, coarseK = sqrtK).count())

      // round-7 additions: perceptual near-dup (banded signatures),
      // substring dedup (broadcast frequent-chain index), BM25 retrieval
      // (one-pass kernel + broadcast stats row)
      time(s"mm_neardup_${c}x")(
        graft.multimodal.Multimodal.perceptualNearDups(
          graft.multimodal.Multimodal.syntheticAssets(docs)).count())
      time(s"substring_${c}x")(Dedup.substringDupSpans(docs).count())
      time(s"bm25_${c}x")(graft.text.TextAnalysis.retrievalScore(
        docs, Seq("join", "scan", "slow")).count())
    }

    // ---- ANN recall at scale: does √n-list IVF keep quality at 100×? ----
    // Latency without recall is half the story: brute force is the exact
    // oracle (8 queries × n cosines — cheap even at 200k), and recall@10
    // = |IVF top-10 ∩ exact top-10| / 10 averaged over queries.
    if (mode == "all" || mode == "recall") scales.foreach { c =>
      val emb = embAt(c)
      val queries = embAt(1).filter(col("vec_id") < 8)
      val sqrtK = 8 * math.sqrt(c).round.toInt
      val exact = Similarity.bruteForceTopK(emb, queries, k = 10)
        .select("query_id", "neighbor_id")
      def recall(name: String, ann: DataFrame): Unit = {
        val hit = exact.join(ann.select("query_id", "neighbor_id"),
          Seq("query_id", "neighbor_id"), "left_semi").count()
        val tot = exact.count()
        println(f"SCALE100 recall_${name}_${c}x ${hit.toDouble / tot}%.3f ($hit/$tot)")
      }
      recall("ivf", Similarity.ivfTopKUnlabeled(emb, queries, k = 10, kCentroids = sqrtK))
      // coarse recall is the nprobe knob: 2/K lists probed is the floor
      recall("ivf_np4", Similarity.ivfTopKUnlabeled(emb, queries, k = 10,
        kCentroids = sqrtK, nprobe = 4))
      recall("ivfpq", Similarity.ivfPqTopK(emb, queries, k = 10, coarseK = sqrtK))
      // FAISS-style refine: exact re-rank of the top-R ADC candidates —
      // the fix for PQ's resolution limit among near-identical neighbors.
      // R must exceed the duplicate-tie multiplicity (~`c` near-copies per
      // true neighbor here): R=40 < 10·c at 100× recovers only partially,
      // R=400 covers the tie set
      recall("ivfpq_rr40", Similarity.ivfPqTopK(emb, queries, k = 10,
        coarseK = sqrtK, rerank = 40))
      recall("ivfpq_rr400", Similarity.ivfPqTopK(emb, queries, k = 10,
        coarseK = sqrtK, rerank = 400))
    }

    // ---- Serve vs train+serve: what the maintained index saves ----
    // A continuously-ingested deployment trains at swap time and serves
    // per query (IvfIndexMaintainer). This measures the per-query cost
    // split: ivfServe over pre-built lists vs ivfTopKUnlabeled paying
    // Lloyd training inline. The gap is the amortization argument.
    if (mode == "all" || mode == "serve") scales.foreach { c =>
      val emb = embAt(c)
      val queries = embAt(1).filter(col("vec_id") < 8)
      val sqrtK = 8 * math.sqrt(c).round.toInt
      var cents: DataFrame = null
      var lists: DataFrame = null
      time(s"ivf_train_${c}x") {
        cents = graft.Staging.pin(Similarity.trainQuantizer(emb, sqrtK))
        lists = graft.Staging.pin(Similarity.assignToCentroids(
          emb.select("vec_id", "embedding"), cents))
        lists.count()
      }
      time(s"ivf_serve_${c}x")(
        Similarity.ivfServe(lists, cents, queries, k = 10).count())
      time(s"ivf_train_and_serve_${c}x")(
        Similarity.ivfTopKUnlabeled(emb, queries, k = 10, kCentroids = sqrtK).count())
      // The deployment shape: the list table stored PARTITIONED BY list
      // id, so a serve scans only the probed lists (dynamic partition
      // pruning from the broadcast probe side), not the corpus. This —
      // not the flat scan above — is what "partitionable by list id"
      // buys at 100 TB.
      // control: same store as FLAT parquet — separates columnar-scan
      // speed from genuine list pruning
      val fdir = s"$tmp/lists_flat_${c}x"
      lists.write.mode("overwrite").parquet(fdir)
      time(s"ivf_serve_flatparquet_${c}x")(
        Similarity.ivfServe(spark.read.parquet(fdir), cents, queries, k = 10).count())
      val pdir = s"$tmp/lists_${c}x"
      time(s"ivf_store_partitioned_${c}x") {
        lists.write.mode("overwrite").partitionBy("centroid_id").parquet(pdir)
        0L
      }
      val plists = spark.read.parquet(pdir)
        .select(col("vec_id"), col("embedding"), col("centroid_id").cast("long"))
      time(s"ivf_serve_partitioned_${c}x")(
        Similarity.ivfServe(plists, cents, queries, k = 10).count())
      graft.Staging.unpin(lists); graft.Staging.unpin(cents)
    }

    // ---- SemDeDup skew guard at scale: one pathological hot cluster ----
    // 30k near-copies of one vector (mass-duplicated boilerplate) joined
    // to the 1× corpus, K=8: the hot cluster holds ~30k rows → ~450M
    // within-cluster pairs. Single-block runs that as ONE task; the
    // triangle sub-block path (blockRows=4096 → m=8, 36 block tasks)
    // spreads it across the cluster. Same survivors either way.
    if ((scales.contains(100) && mode == "all") || mode == "skew") {
      val hot = cached(s"$tmp/emb_hotcluster") {
        val base1 = embAt(1)
        val copies = base1.filter(col("vec_id") === 0)
          .crossJoin(spark.range(1, 30001).toDF("i"))
          .select((col("i") + 50000000L).as("vec_id"),
            transform(col("embedding"), (x, j) =>
              (x.cast("double") * (lit(1.0) +
                (pmod(xxhash64(concat_ws("-", col("i"), j)), lit(100))
                  - 50).cast("double") / 5000.0)).cast("float")).as("embedding"))
        base1.unionByName(copies)
      }
      var sub: Set[Long] = null
      time("skew_semdedup_subblocked") {
        val s = Similarity.semDedup(hot, kCentroids = 8, blockRows = 4096)
          .select("vec_id").collect().map(_.getLong(0)).toSet
        sub = s; s.size.toLong
      }
      var single: Set[Long] = null
      time("skew_semdedup_singleblock") {
        val s = Similarity.semDedup(hot, kCentroids = 8, blockRows = 1 << 30)
          .select("vec_id").collect().map(_.getLong(0)).toSet
        single = s; s.size.toLong
      }
      println(s"SCALE100 skew_survivors_equal ${sub == single} (must be true)")
      require(sub == single, "sub-blocked and single-block survivors diverged!")
    }

    // ---- connected components beyond driverEdgeLimit, on real data ----
    // EXACT copies: every original doc becomes a 30-clique of verified
    // minhash pairs → ~5000 · C(30,2) ≈ 2.2M edges > the 1M driver bound.
    if ((scales.contains(100) && mode == "all") || mode == "cc") {
      val c = 30
      val docs = cached(s"$tmp/docs_exact_${c}x")(
        ProbeCorpus.exactDocCopies(baseDocs, c))
      var pairs: DataFrame = null
      time(s"overbound_minhash_${c}x_exact") {
        pairs = graft.Staging.pin(Dedup.minhashNearDups(docs)); pairs.count()
      }
      val nEdges = pairs.count()
      println(s"SCALE100 overbound_edges $nEdges (driverEdgeLimit=1000000)")
      require(nEdges > 1000000L, s"over-bound probe needs >1M edges, got $nEdges")
      val ids = docs.select("doc_id")
      var dist: DataFrame = null
      time(s"overbound_cc_distributed") {
        dist = graft.Staging.pin(Dedup.connectedComponents(ids, pairs)); dist.count()
      }
      var drv: DataFrame = null
      time(s"overbound_cc_driver") {
        drv = graft.Staging.pin(
          Dedup.connectedComponents(ids, pairs, driverEdgeLimit = Long.MaxValue))
        drv.count()
      }
      // label-identical on real over-bound data — the equality the spec
      // asserts at toy scale, now at 150k nodes / 2M+ edges
      val diff = dist.unionByName(drv).distinct().count() - dist.count()
      println(s"SCALE100 overbound_label_diff $diff (must be 0)")
      require(diff == 0L, "distributed and driver CC labelings diverged!")
      // the third path: star contraction (endpoint labels only — join
      // singletons back for the same relation shape as the others)
      var star: DataFrame = null
      time(s"overbound_cc_star") {
        star = graft.Staging.pin(ids
          .join(broadcast(Dedup.starContractionComponents(pairs)), Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("cluster_id"), col("doc_id")).as("cluster_id")))
        star.count()
      }
      val sdiff = dist.unionByName(star).distinct().count() - dist.count()
      println(s"SCALE100 overbound_star_label_diff $sdiff (must be 0)")
      require(sdiff == 0L, "star-contraction CC labeling diverged!")
      graft.Staging.unpin(pairs); graft.Staging.unpin(dist)
      graft.Staging.unpin(drv); graft.Staging.unpin(star)
    }

    // ---- LM-curation tier at 1×/10×/100× ----
    // Bigram surprisal + DSIR weights: model build is a groupBy over
    // exploded n-grams, scoring a keyed join + per-doc reduce — the
    // growth exponent should be ~linear in tokens (model keys saturate:
    // the mutated-copy corpus adds salt tokens per copy, so vocabulary
    // grows slowly while token volume grows c×).
    if (mode == "all" || mode == "lm") scales.foreach { c =>
      val docs = docsAt(c)
      println(s"== lm ${c}x: ${5000L * c} docs")
      time(s"ppl_${c}x")(graft.text.TextAnalysis.bigramSurprisal(
        docs, col("lang") === "en").count())
      time(s"dsir_${c}x")(graft.text.TextAnalysis.dsirWeights(
        docs, col("lang") === "en").count())
      // edit-distance near-dup: candidate volume is the minhash banding's
      // (measured ×100-linear above); this adds the banded-DP verify
      time(s"editdist_${c}x")(
        graft.dedup.Dedup.editDistanceNearDups(docs).count())
    }

    // ---- relational/graph tier at 1×/10×/100× ----
    // PageRank at 10 iterations (not the oracle's 3 — deep iteration is
    // where unpinned plan nesting would meet the Catalyst stats blowup),
    // hourly gap fill over replicated events, and the salted fact⋈dim
    // behind q_skew_join at growing fact size.
    if (mode == "all" || mode == "relational") {
      import graft.analytics.GraphAnalytics
      import graft.events.EventAnalytics
      // edge table of the q_pagerank graph, replicated with disjoint node
      // ids per copy (copies stay inside each side's id space: custkeys
      // < 1e12 get +i·1e8, supplier ids ≥ 1e12 get +i·1e8 on top of the
      // 1e12 offset) — c disjoint replicas, so per-iteration shuffle
      // volume grows exactly c× while the fixed-point dynamics per
      // replica stay those of the real graph
      val li = graft.Tables.lineitem(spark, sfDir).select("l_orderkey", "l_suppkey")
      val ord = graft.Tables.orders(spark, sfDir).select("o_orderkey", "o_custkey")
      val e1 = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .select(col("o_custkey").as("src"),
          (col("l_suppkey") + lit(1000000000000L)).as("dst"))
        .distinct()
      def edgesAt(c: Int): DataFrame = cached(s"$tmp/edges_${c}x") {
        (0 until c).map { i =>
          e1.select((col("src") + lit(i * 100000000L)).as("src"),
            (col("dst") + lit(i * 100000000L)).as("dst"))
        }.reduce(_ unionByName _)
      }
      val ev1 = graft.Tables.events(spark, sfDir)
      scales.foreach { c =>
        val edges = edgesAt(c)
        println(s"== relational ${c}x: ${edges.count()} edges, ${100000L * c} events")
        time(s"pagerank10_${c}x")(GraphAnalytics.pageRank(edges, iters = 10).count())
        time(s"gapfill_${c}x")(
          EventAnalytics.gapFillHourly(ProbeCorpus.eventCopies(ev1, c)).count())
        // q_skew_join's shape at growing fact: lineitem replicated c×
        // (same part keys → per-key mass grows c×), part side unchanged
        val fact = (0 until c).map(_ => li.select(col("l_suppkey").as("k"),
          col("l_orderkey").as("v"))).reduce(_ unionByName _)
        val dim = graft.Tables.part(spark, sfDir)
          .select(col("p_partkey").as("k"), col("p_brand"))
        time(s"salted_fact_join_${c}x")(
          graft.analytics.Layout.saltedJoin(
              fact.withColumnRenamed("k", "l_partkey"),
              dim.withColumnRenamed("k", "l_partkey"), "l_partkey", 8)
            .groupBy("p_brand").agg(count(lit(1))).count())
        // grid interval join: replicated events grow both interval sets
        time(s"interval_join_${c}x")(
          EventAnalytics.sessionsDuringBursts(
            ProbeCorpus.eventCopies(ev1, c)).count())
      }
    }

    // ---- memory envelope: the five biggest-shuffle queries under a ----
    // constrained heap. Every other scale claim is wall-time-based; this
    // answers "does it SPILL or does it DIE" when partitions outgrow
    // execution memory — the distinction that decides whether a 100 TB
    // run survives an under-provisioned executor. Run as:
    //   SPARK_DRIVER_MEM=4g sbt "runMain graft.tools.ScaleProbe100 10 mem"
    // Completion with spill_mb > 0 = graceful degradation (the unified
    // memory manager paging sort/agg/join state to disk); a FAIL line =
    // an OOM cliff that needs a fix or a documented bound.
    if (mode == "mem") {
      val heapMb = Runtime.getRuntime.maxMemory() >> 20
      val c = scales.headOption.getOrElse(10)
      // optional arg 3: comma-separated op-name prefixes to run (default all)
      val only = if (args.length > 2) args(2).split(",").toSeq else Nil
      def wanted(label: String): Boolean =
        only.isEmpty || only.exists(label.startsWith)
      println(s"== mem envelope: heap ${heapMb} MB, local[${spark.sparkContext.defaultParallelism}], scale ${c}x")
      val sl = new SpillListener
      spark.sparkContext.addSparkListener(sl)
      lazy val docs = docsAt(c)
      lazy val emb = embAt(c)
      def memRun(label: String)(f: => Long): Unit = if (wanted(label)) {
        sl.reset(); System.gc()
        val t0 = System.nanoTime()
        val res = try Right(f) catch { case e: Throwable => Left(e) }
        val wall = (System.nanoTime() - t0) / 1e9
        res match {
          case Right(n) => println(
            f"MEMENV $label ok wall=$wall%.1fs rows=$n spill_mem_mb=${sl.spillMemMb} " +
              f"spill_disk_mb=${sl.spillDiskMb} peak_task_mb=${sl.peakTaskMb} heap_mb=$heapMb")
          case Left(e) => println(
            f"MEMENV $label FAIL wall=$wall%.1fs ${e.getClass.getSimpleName}: " +
              String.valueOf(e.getMessage).replace('\n', ' ').take(160))
        }
        // per-stage attribution: WHICH stage of the composed op spilled
        // (stage names carry the operator callsite)
        sl.spillStages.take(8).foreach { case (name, mem, disk) =>
          println(f"MEMSTAGE $label $name spill_mem_mb=$mem spill_disk_mb=$disk")
        }
      }
      // decomposed curation pipeline: the composed `curation` op's spill
      // cannot be attributed from Spark stage names (AQE materializes
      // query stages on its thread pool, so every stage's callsite is
      // CompletableFuture.java) — run the pipeline's three phases as
      // separate actions instead. Phase 1 pays scan+gates+dedup-window,
      // phases 2/3 run against the PINNED survivor set, so their spill
      // is cleanly their own.
      if (wanted(s"curstage_${c}x")) {
        val isB = col("doc_id") % 37 === 0
        var surv: DataFrame = null
        memRun(s"curstage_gates_dedup_${c}x") {
          surv = graft.Staging.pin(
            Dedup.exactSurvivors(Curation.gates(docs, isB)))
          surv.count()
        }
        // surv stays null when phase 1 hit the cliff it probes for —
        // phases 2/3 and the unpin must not turn that reported FAIL
        // into an uncaught NPE that kills the rest of the envelope run
        if (surv != null) {
          memRun(s"curstage_decontaminate_${c}x")(
            Dedup.decontaminateCorpus(surv.select("doc_id", "text"),
              docs.filter(isB), minShared = 40L).count())
          memRun(s"curstage_finalize_${c}x")(
            Curation.finalizeCorpus(surv.select("doc_id", "source", "lang_pred",
              "n_tokens", "stopword_ratio", "top_bigram_frac")).count())
          graft.Staging.unpin(surv)
        }
      }
      memRun(s"minhash_${c}x")(Dedup.minhashNearDups(docs).count())
      memRun(s"semdedup_${c}x")(
        Similarity.semDedup(emb, kCentroids = 8 * c).count())
      memRun(s"curation_${c}x")(Curation.curate(
        docs, col("doc_id") % 37 === 0, minShared = 40L).count())
      memRun(s"editdist_${c}x")(Dedup.editDistanceNearDups(docs).count())
      memRun(s"allpairs_${c}x")(Dedup.prefixJaccardPairs(docs).count())
      // edge-set build (the probe's most expensive dataset) only when the
      // pagerank op is actually selected — a targeted run of e.g. only
      // minhash must not pay a full lineitem⋈orders materialization
      if (wanted(s"pagerank10_${c}x")) {
        val liM = graft.Tables.lineitem(spark, sfDir).select("l_orderkey", "l_suppkey")
        val ordM = graft.Tables.orders(spark, sfDir).select("o_orderkey", "o_custkey")
        val e1M = liM.join(ordM, liM("l_orderkey") === ordM("o_orderkey"))
          .select(col("o_custkey").as("src"),
            (col("l_suppkey") + lit(1000000000000L)).as("dst"))
          .distinct()
        val edgesM = cached(s"$tmp/edges_${c}x") {
          (0 until c).map { i =>
            e1M.select((col("src") + lit(i * 100000000L)).as("src"),
              (col("dst") + lit(i * 100000000L)).as("dst"))
          }.reduce(_ unionByName _)
        }
        memRun(s"pagerank10_${c}x")(
          graft.analytics.GraphAnalytics.pageRank(edgesM, iters = 10).count())
      }
    }

    // ---- AQE-vs-salted skew crossover: the one decision a 100 TB ----
    // operator must make with this API. Planted skew: 50% of fact rows
    // on ONE key, the rest uniform over 100k keys; dim = one row per
    // key. Broadcast is disabled (the regime where salting/AQE matter is
    // exactly "dim too big to broadcast"), and AQE's skew-split
    // thresholds are lowered to stay proportionate to the local corpus
    // (256 MB partitions do not exist at probe scale).
    if (mode == "skewjoin") {
      val nKeys = 100000L
      def factAt(c: Int): DataFrame = cached(s"$tmp/skewfact_${c}x") {
        spark.range(1000000L * c).select(
          when(pmod(col("id"), lit(2)) === 0, lit(0L))
            .otherwise(pmod(xxhash64(col("id")), lit(nKeys))).as("k"),
          col("id").as("v"))
      }
      val dim = cached(s"$tmp/skewdim") {
        spark.range(nKeys).select(col("id").as("k"),
          md5(col("id").cast("string")).as("attr"))
      }
      def run(label: String, skewOn: Boolean, salt: Int, c: Int): Unit = {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", skewOn.toString)
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16m")
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
        val fact = factAt(c)
        val joined =
          if (salt <= 1) fact.join(dim, "k")
          else graft.analytics.Layout.saltedJoin(fact, dim, "k", salt)
        ProbeCorpus.time("SKEWJOIN")(s"${label}_${c}x")(
          joined.agg(count(lit(1)).as("n"), sum(length(col("attr"))).as("s"))
            .head().getLong(0))
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.sql.adaptive.skewJoin.enabled")
        spark.conf.unset("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes")
        spark.conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")
      }
      scales.filter(_ > 1).foreach { c =>
        println(s"== skewjoin ${c}x: ${1000000L * c} fact rows, 50% on one key")
        run("plain_noaqe", skewOn = false, salt = 1, c)
        run("plain_aqeskew", skewOn = true, salt = 1, c)
        run("salted8_noaqe", skewOn = false, salt = 8, c)
        run("salted16_noaqe", skewOn = false, salt = 16, c)
        run("salted8_aqeskew", skewOn = true, salt = 8, c)
      }
    }
    spark.stop()
  }
}
