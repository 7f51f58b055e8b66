package graft.sink

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

/** Sinks (SURVEY.md §2.4, K1-K3).
  *
  * K1 — the reference's terminal sink is a DynamoDB PutItem keyed by `id`
  * (load.ts:61-78; stack.ts:32-35): a full-item overwrite, i.e.
  * last-write-wins upsert. That idempotence is what absorbs the pipeline's
  * at-least-once redelivery (SURVEY.md §1.4).
  *
  * K3 — the observe rule taps every event on the bus into an audit log
  * (observe.ts:4-6; stack.ts:276-283).
  */
object KeyedUpsertSink {

  /** Last-write-wins compaction: keep exactly one row per key, the one
    * ranked first by `order` descending (ties broken by the later columns).
    * This is the set-semantics of N PutItem calls against a keyed table.
    *
    * Scale note: one shuffle on the key — the same partitioning a keyed
    * store would impose. Skewed keys are handled by AQE skew-join/agg
    * splitting; no driver-side state.
    */
  def latestByKey(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order.map(_.desc): _*)
    df.withColumn("__graft_rn", row_number().over(w))
      .filter(col("__graft_rn") === 1)
      .drop("__graft_rn")
  }

  /** Attribute names an order spec references — the columns every batch
    * must carry for the LWW rank to be meaningful. Collected from the
    * FULLY-CONVERTED catalyst tree (Spark 4 Columns are ColumnNode-based;
    * the lazy `ExpressionUtils.expression` wrapper hides children from
    * `collect`, so go through the session converter —
    * [[org.apache.spark.sql.graft.Bridge.convertedExpression]]), so
    * composite orders (`col("a") + col("b")`) contribute every referenced
    * attribute. Covers both unresolved references (`col("ts")`) and
    * already-resolved ones (`df("ts")` yields an AttributeReference).
    */
  private def orderColNames(spark: SparkSession, order: Seq[Column]): Seq[String] =
    order.flatMap(c =>
      org.apache.spark.sql.graft.Bridge.convertedExpression(spark, c).collect {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          // HEAD, not last: `col("payload.ts")` demands the TOP-LEVEL
          // column `payload` of the batch — demanding `ts` would both
          // reject valid batches and readmit the silent null-filled-
          // struct loss on batches that carry a stray top-level `ts`
          a.nameParts.head
        case a: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
          a.name
      }).distinct

  /** Schema-evolution is for VALUE columns only: a batch missing a KEY
    * column would null-fill it and collapse every batch row into one
    * null-key group (silent data loss), and a batch missing an ORDER
    * column would null-fill it and — under desc, nulls-last — silently
    * lose every LWW comparison (a stale no-op upsert). Fail loudly
    * instead, before `unionByName(allowMissingColumns = true)` can paper
    * over it.
    */
  private def requireKeyOrderCols(batch: DataFrame, keys: Seq[String],
      order: Seq[Column]): Unit = {
    // match names the way unionByName will: with the session's resolver,
    // so under spark.sql.caseSensitive=true a batch carrying `TS` does
    // NOT satisfy a guard for `ts` (unionByName would null-fill `ts`)
    val resolver = batch.sparkSession.sessionState.conf.resolver
    val have = batch.columns.toSeq
    val missing = (keys ++ orderColNames(batch.sparkSession, order))
      .filterNot(c => have.exists(resolver(_, c)))
    require(missing.isEmpty,
      s"batch is missing key/order column(s) ${missing.mkString(", ")} " +
        s"(batch columns: ${batch.columns.mkString(", ")}) — schema " +
        "evolution null-fills VALUE columns only; a null-filled key or " +
        "order column silently corrupts the LWW merge")
  }

  /** New batch outranks existing rows on equal order values: tag a
    * generation column so replays/redeliveries resolve deterministically.
    * THE LWW merge shared by every upsert variant — one place for the
    * tie-break semantics.
    *
    * Schemas align BY NAME with null back-fill in both directions, so a
    * batch that ADDS a column merges against older rows (which get null
    * there). Key and order columns must exist in every batch
    * ([[requireKeyOrderCols]] fails loudly otherwise); on the versioned
    * table a batch dropping or retyping a committed value column is
    * refused before reaching here ([[evolveSchemaMeta]] — the
    * deliberate contract), while [[upsertBatch]]'s plain table keeps the
    * permissive union (a lacked column survives as null on the new
    * rows).
    */
  private def mergeLww(existing: Option[DataFrame], batch: DataFrame,
      keys: Seq[String], order: Seq[Column]): DataFrame = {
    // single source of truth for the guard: EVERY public entry point
    // ([[upsertBatch]] and [[upsertBucketedDelta]]) runs
    // [[requireKeyOrderCols]] before reaching here
    val tagged = batch.withColumn("__gen", lit(1L))
    val merged = existing match {
      case Some(old) =>
        latestByKey(
          old.withColumn("__gen", lit(0L))
            .unionByName(tagged, allowMissingColumns = true),
          keys, order :+ col("__gen"))
      case None => latestByKey(tagged, keys, order)
    }
    merged.drop("__gen")
  }

  /** Streaming upsert via foreachBatch: read-merge-overwrite a parquet
    * table (build environment has no transactional table format on the
    * classpath — SURVEY.md §7.4.4; on a real deployment this body swaps for
    * a Delta/Iceberg MERGE keyed on `keys`).
    *
    * Idempotent per batch replay: merging the same batch twice is a no-op
    * because the merge itself is last-write-wins on `keys` — this upgrades
    * the reference's at-least-once to effectively-once. Crash windows:
    * the replace is a rename-aside + rename-in swap (microseconds, never
    * an O(files) delete with the table absent), and a crash between the
    * two renames self-heals on the next batch ([[recoverReplace]] moves
    * the set-aside table back). For multi-writer / reader-concurrent
    * crash-consistency use [[upsertBucketedDelta]] — manifest readers
    * never observe a partial commit there.
    */
  def upsertBatch(
      spark: SparkSession,
      tablePath: String,
      keys: Seq[String],
      order: Seq[Column])(batch: DataFrame, batchId: Long): Unit = {
    requireKeyOrderCols(batch, keys, order)
    val target = Paths.get(tablePath)
    recoverReplace(target)
    reclaimReplaceLeftovers(target)
    // empty batch: merging is the identity — and writing would create a
    // _SUCCESS-only directory that poisons the next batch's schema read
    if (batch.isEmpty) return
    val existing =
      if (nonEmptyDir(target)) Some(spark.read.parquet(tablePath))
      else None
    val staging = tablePath + s".staging-$batchId"
    StateWriter(mergeLww(existing, batch, keys, order))
      .mode(SaveMode.Overwrite).parquet(staging)
    replaceDir(Paths.get(staging), target)
  }

  /** Existence probe that closes its directory stream — a bare
    * `Files.list(...).findAny()` leaks one descriptor per micro-batch on
    * a long-running stream. A directory holding only the `_SUCCESS`
    * marker or hidden staging entries counts as EMPTY — reading one as a
    * table fails schema inference. `__bucket=N` partition directories DO
    * count (they start with `_` but are the data itself).
    */
  private[graft] def nonEmptyDir(target: Path): Boolean =
    Files.exists(target) && {
      import scala.jdk.CollectionConverters._
      val s = Files.list(target)
      try s.iterator().asScala.exists { p =>
        val n = p.getFileName.toString
        // metadata sidecars are not data: a table holding only _SUCCESS
        // or _layout (written by ensureLayout BEFORE the first data
        // lands) must still read as empty
        n != "_SUCCESS" && n != "_layout" && !n.startsWith(".")
      } finally s.close()
    }

  /** Swap `staging` into place with two renames: the old table moves
    * aside (one rename — never a recursive delete while the table is
    * absent), staging moves in, and only then is the set-aside copy
    * reclaimed. The crash window is two metadata operations; a crash
    * inside it leaves the old table intact under `.old-*`, which
    * [[recoverReplace]] restores on the next batch instead of silently
    * rebuilding the table from one batch.
    */
  private def replaceDir(staging: Path, target: Path): Unit = {
    if (Files.exists(target)) {
      // wall-clock stamp, NOT nanoTime: recoverReplace picks the newest
      // set-aside numerically, and nanoTime origins are arbitrary per JVM
      // — across a restart it could rank a stale crash leftover above the
      // genuinely newest table
      val old = Paths.get(s"$target.old-${System.currentTimeMillis()}")
      Files.move(target, old)
      Files.move(staging, target)
      deleteRecursively(old)
    } else Files.move(staging, target)
  }

  /** Crash recovery for [[replaceDir]]: if the table is missing but a
    * set-aside `.old-*` sibling exists (crash between the two renames),
    * restore the newest one — the previously committed table — before
    * merging anything.
    */
  private def recoverReplace(target: Path): Unit = {
    if (Files.exists(target)) return
    val stamp = target.getFileName.toString + ".old-"
    // numeric sort on the wall-clock suffix — a lexicographic sort
    // mis-orders across digit-count boundaries
    siblings(target, ".old-")
      .sortBy(p => p.getFileName.toString.stripPrefix(stamp).toLongOption
        .getOrElse(Long.MinValue))
      .lastOption.foreach(old => Files.move(old, target))
  }

  /** Best-effort reclamation of crash leftovers around a replaced table:
    * with the table present, any `.old-*` / `.staging-*` sibling older
    * than a one-minute grace is an abandoned attempt (the same dwell
    * rule as [[vacuumGenerations]]' sweep of staged generations).
    */
  private def reclaimReplaceLeftovers(target: Path): Unit = {
    if (!Files.exists(target)) return
    val now = System.currentTimeMillis()
    (siblings(target, ".old-") ++ siblings(target, ".staging-"))
      .filter(p => now - Files.getLastModifiedTime(p).toMillis > 60000L)
      .foreach(deleteRecursively)
  }

  /** Siblings of `target` named `<table><suffixPrefix>*`. */
  private def siblings(target: Path, suffixPrefix: String): Seq[Path] = {
    val parent = target.getParent
    if (parent == null || !Files.exists(parent)) return Seq.empty
    val prefix = target.getFileName.toString + suffixPrefix
    import scala.jdk.CollectionConverters._
    val s = Files.list(parent)
    try s.iterator().asScala.toList
      .filter(_.getFileName.toString.startsWith(prefix))
    finally s.close()
  }

  /** Recursive delete that closes its walk stream — same descriptor-leak
    * class as the `Files.list` fixed in [[nonEmptyDir]]; invoked per
    * micro-batch on replace/vacuum paths.
    */
  private[sink] def deleteRecursively(root: Path): Unit = {
    val s = Files.walk(root)
    try s.sorted(Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
    finally s.close()
  }

  /** Hash-bucket partition of the key tuple — the physical layout key for
    * [[upsertBucketedDelta]]. An internal layout detail (never an output
    * value), so the engine-native xxhash64 is fine here.
    */
  def bucketOf(keys: Seq[String], numBuckets: Int): Column =
    pmod(xxhash64(keys.map(col): _*), lit(numBuckets.toLong))

  /** The `_layout` sidecar: the bucket count is part of the TABLE's
    * identity, not the writer's configuration — a writer hashing into 8
    * buckets against a table laid out in 16 scatters each key across
    * two bucket functions, and the LWW merge (which reads only the
    * buckets ITS hash says the keys live in) silently resurrects stale
    * rows. Recorded once at first commit via [[putIfAbsent]] (two
    * first-committers race safely: the loser validates against the
    * winner's value) and validated by every subsequent writer and by
    * [[lookupBucketed]]. Underscore prefix keeps it invisible to
    * parquet directory scans.
    */
  private def layoutPath(tablePath: String): Path =
    Paths.get(tablePath, "_layout")

  private[graft] def readLayout(tablePath: String): Option[Int] = {
    val p = layoutPath(tablePath)
    if (!Files.exists(p)) None
    else Some(new String(Files.readAllBytes(p),
      java.nio.charset.StandardCharsets.UTF_8).trim.stripPrefix("numBuckets=").toInt)
  }

  /** The table's CURRENT bucket count: the head manifest's `#numBuckets`
    * metadata when a [[rebucketTable]] has run (authoritative — the
    * sidecar is frozen at first commit and goes stale at the first
    * resize), else the `_layout` sidecar.
    */
  private[graft] def effectiveNumBuckets(tablePath: String): Option[Int] =
    versionedHeadFull(tablePath)._3.get("numBuckets").map(_.toInt)
      .orElse(readLayout(tablePath))

  /** Retry-loop guard for writers: a [[rebucketTable]] that committed
    * since this writer staged means its batch is hashed with a DEAD
    * layout — re-staging would scatter keys across two bucket functions.
    * Fail the batch loudly; the caller replays it with the new count.
    */
  private def requireLayoutUnchanged(tablePath: String, numBuckets: Int,
      headMeta: Map[String, String]): Unit =
    headMeta.get("numBuckets").map(_.toInt).foreach { nb =>
      if (nb != numBuckets) throw new IllegalStateException(
        s"$tablePath was re-bucketed to numBuckets=$nb while this writer " +
          s"(numBuckets=$numBuckets) had a batch in flight — the staged " +
          "generation is hashed with the old layout; replay the batch " +
          "with the new bucket count (idempotent under the LWW merge)")
    }

  private def ensureLayout(tablePath: String, numBuckets: Int): Unit = {
    def check(recorded: Int): Unit = require(recorded == numBuckets,
      s"$tablePath is laid out with numBuckets=$recorded but this writer " +
        s"was configured with numBuckets=$numBuckets — a mixed bucket " +
        "function scatters keys across two layouts and silently breaks " +
        s"the LWW merge; use $recorded (or rebucketTable to resize)")
    effectiveNumBuckets(tablePath) match {
      case Some(nb) => check(nb)
      case None =>
        // adopting on a PRE-EXISTING (pre-sidecar) table: the adopted
        // count can only be validated against the committed manifest —
        // any bucket id >= numBuckets proves this writer's layout wrong
        // before it corrupts anything. (The residual risk — a table
        // whose populated ids happen to all fall below a too-small
        // numBuckets — would need a data re-hash to catch; tables
        // created after the sidecar existed never face it.)
        readManifest(tablePath).keySet.find(_ >= numBuckets).foreach { b =>
          throw new IllegalArgumentException(
            s"$tablePath holds bucket id $b but this writer is configured " +
              s"with numBuckets=$numBuckets — the table predates the " +
              "_layout sidecar and was laid out with a larger bucket " +
              "count; configure the original numBuckets to adopt it")
        }
        Files.createDirectories(Paths.get(tablePath))
        putIfAbsent(layoutPath(tablePath),
          s"numBuckets=$numBuckets\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
        // lost race → another first-committer published; validate theirs
        check(readLayout(tablePath).get)
    }
  }

  // ─────────────────────────── versioned manifest commit protocol ──

  /** Result of one [[upsertBucketedDelta]] batch: the committed manifest
    * version, the generation holding the batch's rows, and how many
    * commit attempts lost the put-if-absent race to another writer.
    */
  case class OptimisticCommit(version: Long, gen: String, commitRetries: Int)

  /** Manifest chain head: (version, bucket→gen map). Version 0 = no
    * versioned commit yet, with an empty map.
    */
  private[graft] def versionedHead(tablePath: String): (Long, Map[Long, String]) = {
    val (v, m, _) = versionedHeadFull(tablePath)
    (v, m)
  }

  /** Chain head including its metadata (v0 has none — pre-meta formats
    * resolve layout from the `_layout` sidecar). ONE read of the head
    * file feeds both parsers — this sits on every commit attempt's
    * critical path.
    *
    * A directory holding the single-file `_manifest` of the retired
    * lock-path writers but no version file is refused: read as an empty
    * v0, its rows would vanish from every read, and a commit on top of
    * it would publish a v1 that hides them for good.
    */
  private[graft] def versionedHeadFull(
      tablePath: String): (Long, Map[Long, String], Map[String, String]) =
    versionFiles(Paths.get(tablePath)).maxByOption(_._1) match {
      case Some((v, p)) =>
        import scala.jdk.CollectionConverters._
        val lines = Files.readAllLines(p).asScala.toSeq
        (v, parseManifestLines(lines), parseMetaLines(lines))
      case None =>
        val lockPath = Paths.get(tablePath, "_manifest")
        if (Files.exists(lockPath)) throw new IllegalStateException(
          s"$lockPath is the manifest of a lock-path table, a format this " +
            "engine no longer reads or writes — its rows would read as an " +
            "empty table; rewrite with the current writer (upsert its rows " +
            "into a new table through upsertBucketedDelta)")
        (0L, Map.empty, Map.empty)
    }

  /** All committed `_manifest.v*` files as (version, path). Published
    * atomically ([[putIfAbsent]]), so every listed file is complete.
    */
  private def versionFiles(dir: Path): Seq[(Long, Path)] = {
    if (!Files.exists(dir)) return Seq.empty
    import scala.jdk.CollectionConverters._
    val s = Files.list(dir)
    try s.iterator().asScala.toList.flatMap { p =>
      val n = p.getFileName.toString
      if (!n.startsWith("_manifest.v")) None
      else n.stripPrefix("_manifest.v").toLongOption.map(_ -> p)
    } finally s.close()
  }

  /** Zero-padded so a plain lexicographic object-store listing orders
    * versions numerically.
    */
  private def versionPath(tablePath: String, version: Long): Path =
    Paths.get(tablePath, f"_manifest.v$version%020d")

  private def renderManifest(entries: Map[Long, String],
      meta: Map[String, String] = Map.empty): Array[Byte] =
    (meta.toSeq.sortBy(_._1).map { case (k, v) => s"#$k=$v" } ++
      entries.toSeq.sortBy(_._1).map { case (b, g) => s"$b,$g" })
      .mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)

  /** Atomic create-if-absent publish of a complete file — the ONE
    * primitive object stores give a multi-driver committer (S3
    * conditional PUT `If-None-Match: *`, GCS `ifGenerationMatch: 0`;
    * a real deployment swaps this body for that call). The local-FS
    * model is `link(2)`: write + fsync a hidden sibling, then hard-link
    * it to the target name — the link syscall atomically fails if the
    * name exists, with no TOCTOU window (unlike exists-then-move), and
    * the published name can never be observed part-written.
    */
  private[graft] def putIfAbsent(target: Path, bytes: Array[Byte]): Boolean = {
    val tmp = target.resolveSibling(
      s".${target.getFileName}.put-${java.util.UUID.randomUUID().toString.take(8)}")
    writeFsynced(tmp, bytes)
    try {
      Files.createLink(target, tmp)
      fsyncDir(target.getParent)
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => false
    } finally Files.deleteIfExists(tmp)
  }

  /** One commit attempt: publish `entries` (+ metadata) as version
    * `version`. False = another writer took that version first (nothing
    * was published).
    */
  private[graft] def tryCommitVersion(tablePath: String, version: Long,
      entries: Map[Long, String],
      meta: Map[String, String] = Map.empty): Boolean =
    putIfAbsent(versionPath(tablePath, version), renderManifest(entries, meta))

  /** Outcome of one successor-publish attempt. Distinguishing the two
    * failure modes keeps caller diagnostics accurate: [[LostRace]] means
    * v(N+1) already exists (an ordinary optimistic loss — re-read the
    * head and retry), while [[BasePruned]] means base vN itself is gone
    * (vacuum pruned past this writer) and NOTHING was attempted — the
    * caller's stale-head `require` must not claim "v(N+1) exists" there.
    */
  private[graft] sealed trait Publish
  private[graft] case object Published extends Publish
  private[graft] case object LostRace extends Publish
  private[graft] case object BasePruned extends Publish

  /** One optimistic attempt to publish `entries` as the successor of
    * head `ver`. Shared by every versioned committer (delta append,
    * rebucket). v1 has no base file to guard, and put-if-absent alone
    * makes two first-committers race safely; every later version goes
    * through [[tryCommitSuccessor]]. No lock, no monitor.
    */
  private def publishNext(tablePath: String, ver: Long,
      entries: Map[Long, String], meta: Map[String, String]): Publish =
    if (ver == 0L) {
      if (tryCommitVersion(tablePath, 1L, entries, meta)) Published else LostRace
    } else tryCommitSuccessor(tablePath, ver, entries, meta)

  /** Guarded successor publish for a versioned head (ver >= 1): refuses
    * to publish v(ver+1) when the base version file has been vacuum-
    * pruned. Without the guard, a writer stalled between reading head
    * vN and publishing v(N+1) for longer than the vacuum keep window
    * would putIfAbsent a PRUNED version number successfully — a commit
    * it reports as success but that readers (who resolve the max
    * version) never see: silent data loss. The pre-check converts that
    * stall into an ordinary lost race — the caller re-reads the
    * (necessarily newer) head and re-validates/re-stages. The
    * post-publish re-check closes the residual window (a vacuum pruning
    * the base BETWEEN the pre-check and the publish): visibility of the
    * just-published version can no longer be guaranteed, so fail the
    * batch loudly — the caller replays it, which at-least-once delivery
    * already demands — rather than report a success readers may never
    * observe. NOTE the throw fires AFTER v(ver+1) was durably published:
    * the message says so, and the replay is safe only because the LWW
    * merge is idempotent (replaying an already-visible batch is a no-op).
    *
    * `afterPrecheck` is a deterministic-interleaving seam for the spec
    * that pins the residual window (prod callers leave the no-op).
    */
  private[graft] def tryCommitSuccessor(tablePath: String, ver: Long,
      entries: Map[Long, String],
      meta: Map[String, String] = Map.empty,
      afterPrecheck: () => Unit = () => ()): Publish = {
    if (!Files.exists(versionPath(tablePath, ver))) return BasePruned
    afterPrecheck()
    val ok = tryCommitVersion(tablePath, ver + 1, entries, meta)
    if (ok && !Files.exists(versionPath(tablePath, ver)))
      throw new IllegalStateException(
        s"$tablePath: base _manifest.v$ver was vacuum-pruned inside the " +
          s"v${ver + 1} publish window — v${ver + 1} IS durably published " +
          "but its visibility to readers cannot be guaranteed; replay the " +
          "batch (idempotent under the LWW merge; vacuum retention must " +
          "exceed the writer's stage-commit span)")
    if (ok) Published else LostRace
  }

  /** Accurate stale-head diagnostic for a failed successor publish:
    * a [[BasePruned]] loss must not be described as "v(N+1) exists".
    */
  private def staleHeadMsg(tablePath: String, ver: Long, v2: Long,
      res: Publish): String = res match {
    case BasePruned =>
      s"$tablePath: base _manifest.v$ver was pruned beneath an in-flight " +
        s"writer (listed head: v$v2) — the version chain was vacuumed past " +
        "this writer (vacuum keep-window shorter than a stage-commit window)"
    case _ =>
      s"$tablePath: v${ver + 1} exists but the listed head is v$v2 — " +
        "the version chain was pruned past an in-flight writer " +
        "(vacuum keep-window shorter than a stage-commit window)"
  }

  // ──────────────────────────────── the keyed upsert (merge-on-read) ──

  /** THE bucketed keyed upsert — every bucketed writer of the engine
    * (the keyed table, its SQL surfaces, the streaming operators' state
    * stores) commits through it. Stage ONLY the batch's own rows
    * (compacted to one row per key) under a fresh write-once generation,
    * then APPEND that generation to each touched bucket's manifest chain
    * by publishing the next `_manifest.v<N>` with put-if-absent; the LWW
    * merge against older rows is deferred to [[readBucketedDelta]]
    * (order, then chain recency). A commit writes O(batch) bytes, and
    * [[compactBucketChains]] (auto-triggered past `compactAfter`, or run
    * by a caller after a bulk load) folds chains back to one generation,
    * bounding read amplification.
    *
    * Crash safety: nothing is visible before the version file is
    * published, so a writer killed after staging leaves the table at its
    * last commit and an unreferenced generation that
    * [[vacuumGenerations]] reclaims. Concurrency: a staged delta depends
    * on NO base state, so a lost commit race — even on OVERLAPPING
    * buckets — just re-appends to the fresh head's chains and retries,
    * with no re-merge and no lock; separate drivers can share a table.
    * Chain order = commit order, so order-ties resolve to the later
    * COMMIT, exactly [[mergeLww]]'s batch-beats-existing rule replayed
    * at read time; at-least-once redelivery appends a duplicate delta
    * whose rows tie and resolve identically — the replay is a read-level
    * no-op.
    *
    * Schema evolution: a batch may ADD columns (older rows read null
    * there) and the committed column contract widens with the commit; a
    * batch DROPPING or RETYPING a committed column is refused loudly
    * ([[evolveSchemaMeta]]); key and order columns must exist in every
    * batch.
    *
    * `onBeforeFirstCommit` is a deterministic-interleaving seam for the
    * race and crash specs (runs once, between the stage and the first
    * commit attempt); production callers leave the default no-op.
    *
    * Returns None for an empty batch, else the commit stats.
    *
    * `extraMeta` rides the SAME manifest commit as the data (and every
    * retry re-applies it over the fresh head's meta) — the atomicity a
    * streaming sink's exactly-once marker needs: the Delta
    * `txn (appId, version)` idea on this table's own `#key=value`
    * metadata channel. Keys here OVERRIDE same-named head meta; the
    * reserved layout/spec/schema keys are refused (they have dedicated
    * committers and validators), as are keys/values that would corrupt
    * the line-oriented manifest ('=' in a key, line breaks anywhere).
    *
    * `abortIf` is the transactional half: re-evaluated against the
    * FRESH head metadata before every commit attempt (including CAS
    * retries). True → this batch is skipped — returns None, the staged
    * generation is deleted (never referenced) — which is what makes a
    * metadata high-water an exactly-once marker even under a ZOMBIE
    * writer: a stalled driver whose twin already committed this batch
    * re-reads the advanced marker on its retry and aborts instead of
    * re-committing the data and REGRESSING the marker. (Delta's
    * in-transaction `txn` version check — the check-then-act outside
    * the loop is not enough.)
    */
  def upsertBucketedDelta(
      spark: SparkSession,
      tablePath: String,
      keys: Seq[String],
      order: Seq[Column],
      numBuckets: Int = 64,
      maxAttempts: Int = 20,
      compactAfter: Int = 8,
      onBeforeFirstCommit: () => Unit = () => (),
      extraMeta: Map[String, String] = Map.empty,
      abortIf: Map[String, String] => Boolean = _ => false,
      extraMetaAt: Long => Map[String, String] = _ => Map.empty)(
      batch: DataFrame, batchId: Long): Option[OptimisticCommit] = {
    require(!extraMeta.keys.exists(k => k == "numBuckets" ||
        k == TombstoneMeta ||
        k == KeySpecMeta || k == OrderSpecMeta || k == SchemaMeta),
      s"extraMeta must not touch the reserved keys (numBuckets, " +
        s"$KeySpecMeta, $OrderSpecMeta, $SchemaMeta, $TombstoneMeta) — " +
        "they have dedicated committers and validators (deletes go " +
        "through deleteBucketedDelta)")
    // the manifest is line-oriented (`#key=value` per line, readAllLines
    // treats \r as a terminator too): a break in either side, or '=' in
    // a key, would corrupt EVERY later read of the table — refuse at
    // the API, not at the wreck
    extraMeta.foreach { case (k, v) =>
      require(k.nonEmpty && !k.exists(c => c == '=' || c == '\n' || c == '\r'),
        s"extraMeta key '$k' must be non-empty without '=', '\\n' or " +
          "'\\r' (it becomes a manifest metadata line)")
      require(!v.exists(c => c == '\n' || c == '\r'),
        s"extraMeta value for '$k' must not contain line breaks " +
          "(it becomes a manifest metadata line)")
    }
    Files.createDirectories(Paths.get(tablePath))
    // guard BEFORE bucketing: a batch missing a KEY column must surface
    // as the contract message, not as bucketOf's unresolved-column error
    requireKeyOrderCols(batch, keys, order)
    val bucketed = batch.withColumn("__bucket", bucketOf(keys, numBuckets))
    locally {
      // stage FIRST, against an EMPTY base: mergeLww degrades to the
      // intra-batch latestByKey compaction (one row per key per delta —
      // two in-batch duplicates must not reach read time, where they'd
      // tie on __seq). Round-19 single-execution staging: the batch plan
      // used to persist + run a touched-buckets distinct/collect BEFORE
      // the stage write re-ran it from the persisted blocks — one extra
      // job, one full materialization and a persist round-trip per
      // commit, on every delta writer (the stream sink's per-trigger
      // path included). With an empty base nothing is merged, so the
      // buckets the stage write observes ARE the touched set: one write,
      // no listing. Every head validation (abortIf, layout, schema
      // evolution) already re-runs against the post-stage head below —
      // the freshest base for the first commit attempt — and re-validates
      // on every CAS retry; a batch those checks refuse drops its staged
      // dir instead of never paying it (attempt dirs are write-once and
      // vacuum-reclaimed, so a crash between stage and drop leaks
      // nothing a vacuum won't collect).
      val gen = s"gen-$batchId-u${java.util.UUID.randomUUID().toString.take(8)}"
      val staged = mergeLww(None, bucketed, keys, order)
      val touched = StateWriter.generation(staged, s"$tablePath/$gen", keys)
      primeGenSchema(tablePath, gen, staged.schema)
      def dropStageEarly(): Unit =
        try deleteRecursively(Paths.get(tablePath, gen))
        catch { case _: java.nio.file.NoSuchFileException => () }
      // empty batch: nothing to commit — and the layout sidecar must not
      // materialize off a no-op write to a fresh table
      if (touched.isEmpty) { dropStageEarly(); return None }
      try ensureLayout(tablePath, numBuckets)
      catch { case e: Throwable => dropStageEarly(); throw e }
      var (ver, man, meta) = versionedHeadFull(tablePath)
      // the guard re-checks the head that materialized DURING the stage
      // — and again on every retry below — so a twin writer's advance
      // anywhere in this window aborts instead of re-committing
      def dropStage(): Unit = dropStageEarly()
      var aborted = abortIf(meta)
      if (!aborted) {
        // first-attempt layout guard: a rebucket committing during the
        // stage must fail this batch loudly, not let its old-layout
        // buckets into the manifest.
        // A refusal here was a free pre-stage refusal before the
        // single-execution reorder — drop the staged dir so it stays one
        try {
          requireLayoutUnchanged(tablePath, numBuckets, meta)
          meta = evolveSchemaMeta(spark, tablePath,
            specMeta(spark, tablePath, meta, keys, order),
            batch.schema) ++ extraMeta
        } catch { case e: Throwable => dropStage(); throw e }
      }
      var retries = 0
      var hookPending = true
      var attempt = 0
      var committed: Option[OptimisticCommit] = None
      while (!aborted && committed.isEmpty && attempt < maxAttempts) {
        attempt += 1
        if (hookPending) { hookPending = false; onBeforeFirstCommit() }
        val entries = man ++ touched.map { b =>
          b -> renderChain(man.get(b).map(chainOf).getOrElse(Seq.empty) :+ gen)
        }
        // extraMetaAt sees the VERSION this attempt commits at (ver+1,
        // current per retry) — the channel deleteBucketedDelta uses to
        // record the landed tombstone version for exact feed refusals
        publishNext(tablePath, ver, entries,
          meta ++ extraMetaAt(ver + 1)) match {
          case Published =>
            committed = Some(OptimisticCommit(ver + 1, gen, retries))
          case res =>
            retries += 1
            val (v2, m2, meta2) = versionedHeadFull(tablePath)
            if (abortIf(meta2)) aborted = true
            else {
              require(v2 > ver, staleHeadMsg(tablePath, ver, v2, res))
              requireLayoutUnchanged(tablePath, numBuckets, meta2)
              ver = v2
              man = m2
              meta = evolveSchemaMeta(spark, tablePath,
                specMeta(spark, tablePath, meta2, keys, order),
                batch.schema) ++ extraMeta
            }
        }
      }
      if (aborted) { dropStage(); return None }
      val c = committed.getOrElse(throw new IllegalStateException(
        s"$tablePath: delta commit lost $maxAttempts commit attempts " +
          s"on batch $batchId — hot-table storm; replay the batch"))
      // read-amplification bound: fold any touched chain that crossed the
      // threshold. Best-effort — the batch is already durably committed,
      // so a compaction starved out by racing writers just leaves the
      // chain long for the next trigger to retry
      if (compactAfter > 0 &&
          readManifest(tablePath).exists { case (b, v) =>
            touched.contains(b) && chainOf(v).length > compactAfter })
        try compactBucketChains(spark, tablePath, keys, order,
          minChain = compactAfter + 1, buckets = Some(touched))
        catch {
          // best-effort means BEST-EFFORT: the batch's commit is already
          // durably published, so NO compaction failure may fail the
          // batch — not the starved-out IllegalStateException, not the
          // vacuum-boundary IllegalArgumentException, not a Spark read
          // of a generation a concurrent vacuum just reclaimed. The
          // chain stays long; the next trigger retries the fold.
          case scala.util.control.NonFatal(_) => ()
        }
      // with auto-compaction DISABLED nothing bounds read amplification
      // — flag runaway chains once per (table, JVM) instead of letting
      // reads quietly decay ([[ChainDriftWarnAt]]). Lengths derive from
      // the in-scope head map (+1 for this commit's append): NO extra
      // listing or manifest read on the hot write path
      if (compactAfter <= 0 && !chainDriftWarned.contains(tablePath))
        warnChainDrift(tablePath, touched.toSeq.map(b =>
          b -> (man.get(b).map(chainOf(_).length).getOrElse(0) + 1)))
      Some(c)
    }
  }

  /** Fold every bucket whose chain has ≥ `minChain` generations (within
    * `buckets`, when given) down to ONE resolved generation, committed
    * through the same optimistic protocol. Correctness under races:
    * a compaction REPLACES exactly the chain prefix it read, so a delta
    * appended while it staged is carried forward behind the compacted
    * generation (rewrite and append commute — the Delta/Iceberg
    * rewrite-vs-append rule); if a bucket's prefix itself changed
    * (another compactor, purge or rebucket), the staged fold is
    * stale for that bucket and the whole pass re-stages against the new
    * head. Old delta generations become unreferenced and are reclaimed
    * by [[vacuumGenerations]] under its usual reader-grace window.
    *
    * Returns the bucket ids compacted (empty when no chain qualifies).
    */
  def compactBucketChains(
      spark: SparkSession,
      tablePath: String,
      keys: Seq[String],
      order: Seq[Column],
      minChain: Int = 2,
      buckets: Option[Set[Long]] = None,
      maxAttempts: Int = 20,
      onBeforeFirstCommit: () => Unit = () => ()): Seq[Long] =
    rewriteChainPrefixes(spark, tablePath, keys, order,
      // chains only exist on versioned tables, so the helper's v0
      // no-op can never hide work here
      selectTargets = man => man.filter { case (b, v) =>
        chainOf(v).length >= math.max(minChain, 2) &&
          buckets.forall(_.contains(b))
      },
      // the fold is the plain LWW resolve: one row per key per bucket,
      // so every target bucket survives it
      fold = identity,
      genPrefix = "gen-compact", what = "compaction",
      maxAttempts = maxAttempts, onBeforeFirstCommit = onBeforeFirstCommit)

  /** The shared stage→CAS-commit loop behind [[compactBucketChains]]
    * and [[purgeTombstones]]: pick target chains at the current head,
    * stage `fold(LWW-resolve(targets))` as ONE generation, and commit
    * entries replacing each target's chain PREFIX while carrying
    * forward deltas appended during the stage. The concurrency rules
    * live here ONCE:
    *
    *  - the fold rewrites rows under the caller's LWW spec — same
    *    writer-side spec handshake as every committer;
    *  - a changed prefix — or a bucket id a concurrent SHRINKING
    *    rebucket removed from the map — is a STALE fold: re-stage
    *    against the new head, never crash;
    *  - CAS retries refresh metadata from the head that beat them —
    *    committing the outer read's meta would silently REVERT a
    *    concurrent advance (a streaming sink's `stream.<id>`
    *    high-water, an evolved schema contract);
    *  - a bucket whose rewrite emitted nothing (a purge emptied it)
    *    and gained no deltas since leaves the manifest;
    *  - a stale or attempt-exhausted fold reclaims its own staged
    *    directory eagerly (provably unreferenced — its commit never
    *    published; the delta committer's dropStage discipline).
    */
  private def rewriteChainPrefixes(
      spark: SparkSession,
      tablePath: String,
      keys: Seq[String],
      order: Seq[Column],
      selectTargets: Map[Long, String] => Map[Long, String],
      fold: DataFrame => DataFrame,
      genPrefix: String,
      what: String,
      maxAttempts: Int,
      onBeforeFirstCommit: () => Unit): Seq[Long] = {
    var attempt = 0
    var hookPending = true
    while (attempt < maxAttempts) {
      val (ver, man, meta0) = versionedHeadFull(tablePath)
      // a never-committed table has no versioned chains to rewrite — the
      // blanket-maintenance-sweep answer is the empty no-op
      if (ver < 1L) return Seq.empty
      var meta = specMeta(spark, tablePath, meta0, keys, order)
      val targets = selectTargets(man)
      if (targets.isEmpty) return Seq.empty
      val gen = s"$genPrefix-u${java.util.UUID.randomUUID().toString.take(8)}"
      val folded = fold(resolveChainRead(
        readManifestBuckets(spark, tablePath, targets).get, targets,
        keys, order))
      val written = StateWriter.generation(folded, s"$tablePath/$gen", keys)
      primeGenSchema(tablePath, gen, folded.schema)
      var head = (ver, man)
      var stale = false
      while (!stale && attempt < maxAttempts) {
        attempt += 1
        if (hookPending) { hookPending = false; onBeforeFirstCommit() }
        val (v, m) = head
        val next = targets.keys.toSeq.sorted.foldLeft(Option(m)) {
          case (None, _) => None
          case (Some(acc), b) =>
            val before = chainOf(targets(b))
            m.get(b).map(chainOf) match {
              case Some(now) if now.startsWith(before) =>
                val suffix = now.drop(before.length)
                val chain =
                  (if (written.contains(b)) Seq(gen) else Seq.empty) ++ suffix
                if (chain.isEmpty) Some(acc - b)
                else Some(acc + (b -> renderChain(chain)))
              case _ => None // rewritten/removed under us → stale
            }
        }
        next match {
          case None => stale = true
          case Some(entries) =>
            val res = tryCommitSuccessor(tablePath, v, entries, meta)
            if (res == Published) return targets.keys.toSeq.sorted
            val (v2, m2, meta2) = versionedHeadFull(tablePath)
            require(v2 > v, staleHeadMsg(tablePath, v, v2, res))
            head = (v2, m2)
            meta = specMeta(spark, tablePath, meta2, keys, order)
        }
      }
      try deleteRecursively(Paths.get(tablePath, gen))
      catch { case _: java.nio.file.NoSuchFileException => () }
    }
    throw new IllegalStateException(
      s"$tablePath: $what lost $maxAttempts commit attempts — " +
        "hot-table storm; retry when the write rate drops")
  }

  /** Tombstone GC: physically remove tombstone rows whose WINNING
    * position the operator declares past the replay horizon — the
    * second half of a forget request (a tombstone still names the key;
    * true removal needs the marker itself gone). `purgeIf` is a
    * predicate over the tombstone row's columns (typically the order
    * column: `col("ts") < lit(horizon)`); only rows that are BOTH
    * tombstones AND match it are dropped. Superseded tombstones (a
    * later upsert re-created the key) vanish in any full fold for free
    * — this entry point exists for WINNING tombstones, which folds must
    * otherwise preserve.
    *
    * THE CONTRACT, stated loudly: after a purge, an event for the
    * purged key REPLAYED with an order below the old tombstone's will
    * RESURRECT the key — the operator declares such replays impossible
    * (the same replay-window judgment [[adviseRetention]] informs; run
    * purges behind the retention horizon). The resolved image is
    * UNCHANGED by the purge itself (the key already read as absent), so
    * change feeds across the purge version report nothing. Historical
    * manifests keep the tombstone until [[vacuumGenerations]] reclaims
    * their generations — a complete forget is purge + vacuum past the
    * reader grace.
    *
    * Mechanics: detect the buckets holding matching WINNING tombstones
    * (a column-pruned raw scan prunes candidates, then the candidates'
    * resolved image confirms the tombstone wins its key — a bucket
    * whose only matches are superseded is NOT rewritten and NOT
    * reported), fold each confirmed bucket's
    * FULL chain, drop the matching tombstone winners, and commit
    * through the same optimistic protocol as [[compactBucketChains]] —
    * a bucket whose fold empties entirely leaves the manifest; deltas
    * appended during the stage are carried forward behind the fold; a
    * changed prefix re-stages. Returns the bucket ids rewritten.
    */
  def purgeTombstones(
      spark: SparkSession,
      tablePath: String,
      keys: Seq[String],
      order: Seq[Column],
      purgeIf: Column,
      maxAttempts: Int = 20,
      onBeforeFirstCommit: () => Unit = () => ()): Seq[Long] = {
    // SQL-NULL discipline: tombstone rows null-fill every non key/order
    // column, so a predicate touching one evaluates NULL there —
    // coalesce to false on BOTH the detection and the fold, or the
    // fold's negation would DROP (NULL filters out) a tombstone the
    // operator never affirmatively matched
    val matches = coalesce(col(TombstoneCol), lit(false)) &&
      coalesce(purgeIf, lit(false))
    rewriteChainPrefixes(spark, tablePath, keys, order,
      // detection, two stages: (1) a cheap RAW-row prune — which buckets
      // hold any matching tombstone row at all (marker + predicate +
      // bucket columns; parquet prunes the rest) — then (2) confirm on
      // the candidates' RESOLVED image that a matching tombstone actually
      // WINS its key. Raw-only detection folded — and reported in the
      // returned bucket ids — buckets whose only matches were already
      // superseded by a later upsert (those vanish in any fold for free;
      // rewriting for them is pure work amplification and a misleading
      // return value). The confirm pays one windowed read of the
      // candidate buckets only — bounded by the raw prune, and strictly
      // cheaper than the rewrite it avoids.
      selectTargets = man =>
        readManifestBuckets(spark, tablePath, man)
          .filter(_.columns.contains(TombstoneCol)) match {
          case None => Map.empty
          case Some(df) =>
            val cand = df.filter(matches).select("__bucket").distinct()
              .collect().map(_.getLong(0)).toSet // bounded by numBuckets
            val candMan = man.filter { case (b, _) => cand.contains(b) }
            if (candMan.isEmpty) Map.empty
            else {
              val winning = resolveChainRead(
                readManifestBuckets(spark, tablePath, candMan).get,
                candMan, keys, order)
                .filter(matches).select("__bucket").distinct()
                .collect().map(_.getLong(0)).toSet
              man.filter { case (b, _) => winning.contains(b) }
            }
        },
      fold = _.filter(!matches),
      genPrefix = "gen-purge", what = "purge",
      maxAttempts = maxAttempts, onBeforeFirstCommit = onBeforeFirstCommit)
  }

  /** Online re-bucketing: re-hash the WHOLE table into `newBuckets`
    * hash partitions and swap layout + data in ONE optimistic manifest
    * commit. At 100 TB a table that outgrew its bucket count (buckets
    * sized for co-located merges now hold many files each) needs a
    * resize that is an ordinary versioned commit, not an offline
    * rebuild: readers before the swap resolve the old manifest (old
    * layout, old generations — still retained for time travel under the
    * vacuum grace), readers after it resolve the new one, and nothing
    * in between can observe a mixed layout because the `#numBuckets`
    * metadata rides the SAME manifest file as the new bucket map.
    *
    * Writer safety: the commit goes through the same put-if-absent
    * chain as every upsert, so a batch committed between this rewrite's
    * stage and its publish forces a full re-stage here (the staged
    * image is the whole table — ANY head movement invalidates it),
    * while a writer whose batch was staged under the OLD layout and
    * loses its own race to this commit fails loudly
    * ([[requireLayoutUnchanged]]) instead of scattering keys across two
    * hash functions. Writers configured with the old count are refused
    * at their next batch by [[ensureLayout]] (manifest metadata
    * overrides the now-stale `_layout` sidecar).
    *
    * The rewrite doubles as a full compaction (chains resolve before
    * re-hashing). Returns the committed version.
    */
  def rebucketTable(
      spark: SparkSession,
      tablePath: String,
      keys: Seq[String],
      order: Seq[Column],
      newBuckets: Int,
      maxAttempts: Int = 5,
      onBeforeFirstCommit: () => Unit = () => ()): Long = {
    require(newBuckets >= 1, s"newBuckets must be >= 1 (got $newBuckets)")
    var attempt = 0
    var hookPending = true
    while (attempt < maxAttempts) {
      attempt += 1
      val (ver, man, meta0) = versionedHeadFull(tablePath)
      require(man.nonEmpty,
        s"$tablePath has no committed data — delete and recreate an empty " +
          "table with the new bucket count instead of rebucketing it")
      // same writer-side spec handshake as every committer (the rewrite
      // LWW-resolves under this spec); a rebucket on a pre-spec table
      // records the spec alongside the new layout
      val meta = specMeta(spark, tablePath, meta0, keys, order)
      val old = meta.get("numBuckets").map(_.toInt).orElse(readLayout(tablePath))
      require(!old.contains(newBuckets),
        s"$tablePath already has numBuckets=$newBuckets")
      // resolve the full table at this head (the LWW resolve makes the
      // rewrite a compaction too), re-hash, stage as one generation
      val gen = s"gen-rebucket-u${java.util.UUID.randomUUID().toString.take(8)}"
      val resolved = resolveChainRead(
        readManifestBuckets(spark, tablePath, man).get, man, keys, order)
      val rebucketed = resolved.withColumn("__bucket", bucketOf(keys, newBuckets))
      val written = StateWriter.generation(rebucketed, s"$tablePath/$gen", keys)
      primeGenSchema(tablePath, gen, rebucketed.schema)
      // the new map REPLACES the old one in full: old bucket ids vanish
      // (their generations become vacuum-reclaimable), the metadata
      // records the new layout atomically with it
      val entries = written.map(_ -> gen).toMap
      if (hookPending) { hookPending = false; onBeforeFirstCommit() }
      publishNext(tablePath, ver, entries,
        meta + ("numBuckets" -> newBuckets.toString)) match {
        case Published => return ver + 1
        case res =>
          val (v2, _) = versionedHead(tablePath)
          require(v2 > ver, staleHeadMsg(tablePath, ver, v2, res))
          // ANY concurrent commit invalidates a whole-table image —
          // loop back and re-stage against the new head
      }
    }
    throw new IllegalStateException(
      s"$tablePath: rebucket lost $maxAttempts full-rewrite attempts to " +
        "concurrent commits — quiesce or throttle writers and retry")
  }

  // ─────────────────────────── bucket-count advisor (operational) ──

  /** One bucket's physical health at the current head: live data files
    * and bytes across its generation chain, and the chain length.
    */
  final case class BucketStats(bucket: Long, files: Long, bytes: Long,
      chainLen: Int)

  /** Per-bucket physical stats from the head manifest + file listing —
    * driver-side METADATA (one listing per referenced generation, the
    * same class of work as vacuum), never a data scan. The operational
    * input [[adviseRebucket]] reads.
    *
    * A generation holds every bucket its commit touched, so its files
    * and bytes are split evenly over the buckets whose head chain
    * references it (the remainder to the lowest bucket ids): the sums
    * over buckets are exactly the distinct referenced files and their
    * bytes, each counted once.
    */
  def tableStats(tablePath: String): Seq[BucketStats] = {
    val chains = readManifest(tablePath).map { case (b, v) => b -> chainOf(v) }
    val holders = chains.toSeq
      .flatMap { case (b, gens) => gens.map(_ -> b) }
      .groupMap(_._1)(_._2)
    def share(total: Long, n: Int, i: Int): Long =
      total / n + (if (i < total % n) 1L else 0L)
    val shares = holders.flatMap { case (g, bs) =>
      val (files, bytes) = generationFiles(Paths.get(tablePath, g))
      bs.sorted.zipWithIndex.map { case (b, i) =>
        (g, b) -> (share(files, bs.size, i), share(bytes, bs.size, i))
      }
    }
    chains.toSeq.sortBy(_._1).map { case (b, gens) =>
      val own = gens.map(g => shares((g, b)))
      BucketStats(b, own.map(_._1).sum, own.map(_._2).sum, gens.length)
    }
  }

  /** (data files, bytes) under one generation directory. Tolerates
    * concurrent reclamation (vacuum/compaction deleting a superseded
    * generation between the manifest snapshot and this listing): a
    * read-only advisor returns slightly-stale stats, never a
    * NoSuchFileException — the markers() discipline.
    */
  private def generationFiles(dir: Path): (Long, Long) =
    try {
      import scala.jdk.CollectionConverters._
      val s = Files.walk(dir)
      try s.iterator().asScala
        .filter { p =>
          val n = p.getFileName.toString
          !n.startsWith(".") && !n.startsWith("_") && Files.isRegularFile(p)
        }
        .foldLeft((0L, 0L)) { case ((files, bytes), p) =>
          (files + 1, bytes + scala.util.Try(Files.size(p)).getOrElse(0L))
        }
      finally s.close()
    } catch {
      case _: java.nio.file.NoSuchFileException => (0L, 0L)
      case e: java.io.UncheckedIOException
          if e.getCause.isInstanceOf[java.nio.file.NoSuchFileException] => (0L, 0L)
    }

  /** A recommendation to resize — see [[adviseRebucket]]. */
  final case class RebucketAdvice(currentBuckets: Int,
      recommendedBuckets: Int, totalBytes: Long, maxChainLen: Int,
      reason: String)

  /** Should this table be re-bucketed? A bucket count is sized so one
    * bucket holds roughly a task's worth of data (`targetBytesPerBucket`
    * — default 1 GiB, the usual parquet task envelope); a table that
    * outgrew its count concentrates many files per bucket (long merge
    * chains, fat co-located joins), one that shrank far below it pays
    * per-bucket overheads for near-empty directories. Recommends the
    * next power of two that puts the CURRENT total bytes at the target,
    * with a 2× hysteresis band so healthy tables are never churned:
    * None unless the recommendation is at least a doubling or a
    * halving. The resize itself is [[rebucketTable]] — one atomic
    * versioned commit (see the README runbook).
    *
    * Advice, not a contract: bytes are measured at the head (chains
    * included, so a badly-chained table reads bigger than its resolved
    * size — compaction first gives a truer measure; `maxChainLen` in
    * the advice flags that).
    */
  def adviseRebucket(tablePath: String,
      targetBytesPerBucket: Long = 1L << 30,
      minBuckets: Int = 16): Option[RebucketAdvice] =
    adviseRebucketWith(tablePath, tableStats(tablePath),
      targetBytesPerBucket, minBuckets)

  /** [[adviseRebucket]] over a caller-supplied [[tableStats]] snapshot
    * — the advise verb computes stats ONCE and feeds both this and the
    * compact advisor instead of paying the per-generation listing
    * twice per scan.
    */
  private[graft] def adviseRebucketWith(tablePath: String,
      stats: Seq[BucketStats],
      targetBytesPerBucket: Long = 1L << 30,
      minBuckets: Int = 16): Option[RebucketAdvice] = {
    require(targetBytesPerBucket >= 1, "targetBytesPerBucket must be >= 1")
    require(minBuckets >= 1, "minBuckets must be >= 1")
    if (stats.isEmpty) return None
    val nb = effectiveNumBuckets(tablePath).getOrElse(return None)
    val total = stats.map(_.bytes).sum
    val ideal = math.max(1L,
      (total + targetBytesPerBucket - 1) / targetBytesPerBucket)
    var rec0 = 1L
    while (rec0 < ideal) rec0 <<= 1
    // shrink advice floors at `minBuckets` — per-bucket overheads only
    // matter at scale, and "shrink your 4-bucket test table to 1" is
    // churn, not advice; a floor at or above the current count means
    // the table is simply healthy
    val rec = if (rec0 < nb) math.max(rec0, minBuckets.toLong) else rec0
    // a shrink floored to at-or-above the current count is "healthy",
    // never re-read as growth advice
    if (rec0 < nb && rec >= nb) return None
    if (rec >= 2L * nb || rec <= nb / 2L) Some(RebucketAdvice(
      nb, rec.toInt, total, stats.map(_.chainLen).max,
      if (rec > nb)
        s"$total bytes over $nb buckets ≈ ${total / math.max(1, nb)} " +
          s"bytes/bucket, past the $targetBytesPerBucket target — " +
          s"rebucketTable(..., $rec)"
      else
        s"$total bytes over $nb buckets ≈ ${total / math.max(1, nb)} " +
          s"bytes/bucket, far under the $targetBytesPerBucket target — " +
          s"rebucketTable(..., $rec) cuts per-bucket overheads"))
    else None
  }

  /** Chain-drift warning threshold for writers that DISABLED
    * auto-compaction (`compactAfter = 0`): nothing else bounds read
    * amplification there, so the writer flags a touched chain past this
    * length once per (table, JVM).
    */
  private[graft] val ChainDriftWarnAt: Int = 32

  /** Telemetry seam for the chain-drift warning (default: stderr). */
  private[graft] var onChainDrift: (String, Long, Int) => Unit =
    (table, bucket, len) => System.err.println(
      s"[graft] $table: bucket $bucket's generation chain is $len long " +
        s"(auto-compaction disabled) — reads pay the whole chain; run " +
        "compactBucketChains, or re-enable compactAfter")

  private val chainDriftWarned =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** `lengths` = the committed chain lengths of this batch's buckets,
    * derived by the caller from state already in scope — this must stay
    * free on the hot write path (no listing, no manifest read), and it
    * can fire at most once per (table, JVM) anyway.
    */
  private def warnChainDrift(tablePath: String,
      lengths: Seq[(Long, Int)]): Unit = {
    lengths.maxByOption(_._2).foreach { case (b, len) =>
      if (len > ChainDriftWarnAt && chainDriftWarned.add(tablePath))
        onChainDrift(tablePath, b, len)
    }
  }

  /** Write + force to stable storage, so the atomic rename promotes a
    * fully-persisted file (rename-over-unsynced-data can survive a crash
    * as an empty manifest on some filesystems).
    */
  private[sink] def writeFsynced(p: Path, bytes: Array[Byte]): Unit = {
    import java.nio.file.StandardOpenOption._
    val ch = java.nio.channels.FileChannel.open(p, CREATE, WRITE, TRUNCATE_EXISTING)
    try { ch.write(java.nio.ByteBuffer.wrap(bytes)); ch.force(true) }
    finally ch.close()
  }

  /** Best-effort directory fsync (some filesystems refuse opening a
    * directory for read — durability then falls back to the file fsync).
    */
  private[sink] def fsyncDir(dir: Path): Unit =
    try {
      val ch = java.nio.channels.FileChannel.open(dir, java.nio.file.StandardOpenOption.READ)
      try ch.force(true) finally ch.close()
    } catch { case _: java.io.IOException => () }

  /** Current bucket → generation chain mapping at the head version;
    * empty before the first commit.
    */
  def readManifest(tablePath: String): Map[Long, String] =
    versionedHead(tablePath)._2

  private def parseManifestLines(lines: Seq[String]): Map[Long, String] =
    lines
      .filter(l => l.nonEmpty && !l.startsWith("#")) // `#` = metadata lines
      .map { line =>
        val Array(b, g) = line.split(",", 2)
        b.toLong -> g
      }.toMap

  /** Manifest metadata lines (`#key=value`). Keys today: `numBuckets`
    * (written ONLY by [[rebucketTable]] — riding the manifest makes a
    * layout change atomic with the data swap that implements it; a
    * separate sidecar update would leave a crash window where the
    * manifest's new-layout buckets read under the old hash),
    * `keySpec`/`orderSpec` (the self-describing table spec, r17) and
    * `schema` (the column contract, r17). Every committer carries the
    * head's metadata forward (validating/evolving the r17 keys);
    * pre-meta tables keep resolving their layout from the `_layout`
    * sidecar.
    */
  private def parseMetaLines(lines: Seq[String]): Map[String, String] =
    lines
      .filter(l => l.startsWith("#") && l.contains("="))
      .map { l =>
        val Array(k, v) = l.stripPrefix("#").split("=", 2)
        k -> v
      }.toMap

  // ─────────────────── self-describing key/order spec (manifest meta) ──

  private[graft] val KeySpecMeta = "keySpec"
  private[graft] val OrderSpecMeta = "orderSpec"

  /** Canonical string form of ONE LWW order expression for the spec
    * metadata: a bare attribute's (possibly dotted) name, else the
    * expression's SQL text — both re-parseable by
    * `org.apache.spark.sql.functions.expr`. Canonicalizing through the
    * converted catalyst tree makes `col("ts")`, `df("ts")` and the
    * re-parsed stored form compare equal.
    */
  private def canonicalOrderOne(spark: SparkSession, c: Column): String =
    org.apache.spark.sql.graft.Bridge.convertedExpression(spark, c) match {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        a.nameParts.map(quotePart).mkString(".")
      case a: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
        quotePart(a.name)
      case other => other.sql
    }

  /** Backquote an identifier part — ALWAYS. A conditional "plain words
    * stay bare" rule has two parse traps the second review pass caught:
    * a digit-led name (`2d` re-parses as the DOUBLE literal 2.0 — LWW
    * by a constant, the silent-wrong class again) and SQL keywords
    * (`order` fails to parse under enforced-reserved-keywords configs).
    * A backquoted identifier parses as an attribute under every
    * configuration, and canonicalization is stable because BOTH the
    * writer's spec and the re-parsed stored one pass through here
    * (backticks double inside, the SQL parser's escape).
    */
  private def quotePart(part: String): String =
    "`" + part.replace("`", "``") + "`"


  private def canonicalOrder(spark: SparkSession, order: Seq[Column]): String =
    order.map(c => escapeSpecPart(canonicalOrderOne(spark, c))).mkString(",")

  private def canonicalKeys(keys: Seq[String]): String =
    keys.map(escapeSpecPart).mkString(",")

  /** Spec parts join with `,`; a part containing `,` or `\` escapes
    * them (`\,` / `\\`). Newlines cannot ride a manifest line at all —
    * refused loudly at record time rather than silently truncated.
    */
  private def escapeSpecPart(s: String): String = {
    require(!s.exists(ch => ch == '\n' || ch == '\r'),
      s"key/order spec part contains a newline and cannot be recorded " +
        s"in manifest metadata: '${s.take(60)}'")
    s.replace("\\", "\\\\").replace(",", "\\,")
  }

  private def splitSpecParts(s: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var i = 0
    while (i < s.length) {
      val ch = s.charAt(i)
      if (ch == '\\' && i + 1 < s.length) { cur.append(s.charAt(i + 1)); i += 2 }
      else if (ch == ',') { out += cur.toString(); cur.clear(); i += 1 }
      else { cur.append(ch); i += 1 }
    }
    out += cur.toString()
    out.toSeq
  }

  /** The table's PERSISTED key/LWW-order spec — recorded by the first
    * versioned commit (round 17+ writers), so every reader can default
    * to the spec the table was actually written with instead of
    * re-supplying it per call (an `orderBy` that differs from the
    * writer's resolves ties differently than the table's own reads —
    * a silent-wrong-LWW class this metadata kills). None for tables
    * written before the spec was recorded or never versioned-committed;
    * one commit with a current writer records it in place.
    */
  def storedSpec(tablePath: String): Option[(Seq[String], Seq[Column])] = {
    val meta = versionedHeadFull(tablePath)._3
    (meta.get(KeySpecMeta), meta.get(OrderSpecMeta)) match {
      case (Some(k), Some(o)) =>
        Some((splitSpecParts(k), splitSpecParts(o).map(expr)))
      case _ => None
    }
  }

  private def mustStoredSpec(tablePath: String): (Seq[String], Seq[Column]) =
    storedSpec(tablePath).getOrElse(throw new IllegalStateException(
      s"$tablePath carries no key/order spec metadata (written before " +
        "the spec was recorded, or no versioned commit yet) — pass keys " +
        "and order explicitly; one commit with a current writer records " +
        "the spec for every future reader"))

  /** Writer-side spec handshake, run on every commit attempt with the
    * freshest head metadata: a table that already carries a spec REFUSES
    * a writer whose keys/order differ (a mismatched writer would commit
    * rows whose LWW resolution disagrees with every other read of the
    * table — the silent corruption class this metadata exists to kill);
    * a table without one (first versioned commit, or pre-spec history)
    * records this writer's.
    */
  private def specMeta(spark: SparkSession, tablePath: String,
      meta: Map[String, String], keys: Seq[String],
      order: Seq[Column]): Map[String, String] = {
    val k = canonicalKeys(keys)
    val o = canonicalOrder(spark, order)
    (meta.get(KeySpecMeta), meta.get(OrderSpecMeta)) match {
      case (None, None) =>
        // RECORD-time round-trip guard: a spec that does not re-parse
        // and canonicalize back to itself would strand every future
        // path-only reader on an opaque parse error — refuse to record
        // it, loudly, at the one moment the caller can still pick a
        // simpler order expression. (Residual caveat, documented on
        // [[storedSpec]]: catalyst's own SQL rendering leaves keyword
        // column names bare inside COMPOSITE expressions, which
        // round-trips under the default parser but fails on a cluster
        // running spark.sql.ansi.enforceReservedKeywords=true — the
        // failure there is this same loud parse error at read time,
        // never a silent wrong answer.)
        splitSpecParts(o).foreach { part =>
          val back = scala.util.Try(canonicalOrderOne(spark, expr(part)))
          require(back.toOption.contains(part),
            s"order expression '$part' does not round-trip through its " +
              "stored SQL form (re-parse gave " +
              s"${back.fold(e => s"error: ${e.getMessage}", v => s"'$v'")}) " +
              "— it cannot be persisted as the table's spec; use plain " +
              "column references or a simpler expression")
        }
        meta + (KeySpecMeta -> k) + (OrderSpecMeta -> o)
      case (sk, so) =>
        require(sk.forall(_ == k) && so.forall(_ == o),
          s"$tablePath was committed with keys=[${sk.getOrElse("")}] " +
            s"order=[${so.getOrElse("")}] but this caller supplies " +
            s"keys=[$k] order=[$o] — a mismatched spec silently changes " +
            "LWW winners; use the stored spec (storedSpec/the no-spec " +
            "read overloads), or rebuild the table deliberately")
        // one absent + one present is a hand-edited manifest; the
        // require above already refused unless the present one matches,
        // so re-record the pair for consistency
        meta + (KeySpecMeta -> k) + (OrderSpecMeta -> o)
    }
  }

  /** Reader-side spec handshake: an explicit spec that disagrees with
    * the table's stored one is refused loudly (same corruption class as
    * the writer-side check — a reader with a different order resolves
    * ties differently than the table's own reads). Tables without
    * stored specs validate nothing. The spec is immutable once recorded
    * (every committer re-validates it), so reading it outside the
    * caller's manifest snapshot cannot race a spec change.
    */
  private[graft] def requireSpecMatches(spark: SparkSession, tablePath: String,
      keys: Seq[String], order: Seq[Column]): Unit = {
    val meta = versionedHeadFull(tablePath)._3
    if (meta.contains(KeySpecMeta) || meta.contains(OrderSpecMeta))
      specMeta(spark, tablePath, meta, keys, order)
  }

  // ───────────────────── schema-evolution contract (manifest meta) ──

  private[graft] val SchemaMeta = "schema"

  /** Engine scratch columns the schema contract never records. */
  private def userFields(schema: org.apache.spark.sql.types.StructType)
      : Seq[org.apache.spark.sql.types.StructField] =
    schema.fields.toSeq.filterNot(f =>
      f.name == "__bucket" || f.name == "__seq" || f.name == TombstoneCol)

  // ──────────────────────────────── event-sourced deletes (r17) ──

  /** Engine-internal delete marker: a tombstone row competes in the
    * LWW rank like any version-row (event-sourced deletes stay
    * replay-deterministic — a tombstone ordered above a key's rows
    * deletes it, a LATER upsert ordered above the tombstone re-creates
    * it, a replayed older event still loses), and a winner flagged
    * tombstone makes its key ABSENT from every resolved read. Physical
    * rewrites (compaction folds, rebuckets) deliberately KEEP winning
    * tombstone rows: dropping one would let a replayed older event
    * silently resurrect the key.
    */
  private[graft] val TombstoneCol = "__tombstone"

  /** Manifest metadata set by every [[deleteBucketedDelta]] commit (and
    * carried forward by every committer): the VERSION of the LATEST
    * delete. The PLAIN upsert feed cannot represent a deletion, so a
    * plain feed refuses any range STARTING below this version (a delete
    * could sit inside it); ranges starting at-or-after it are provably
    * complete (every tombstone is ≤ from, so both endpoint images
    * already exclude the deleted keys) and keep reading plainly.
    * Legacy boolean values ("true") parse as unknown-version → refuse
    * every range, the conservative direction.
    */
  private[graft] val TombstoneMeta = "hasTombstones"

  /** The resolved-read seam for deletes: winners flagged tombstone
    * leave the result (the key reads as absent) and the marker column
    * never escapes to callers. Physical paths (stage merges, compaction
    * folds, rebucket rewrites) deliberately do NOT run this — they
    * carry tombstone rows forward.
    */
  private def dropTombstones(df: DataFrame): DataFrame =
    if (!df.columns.contains(TombstoneCol)) df
    else df.filter(!coalesce(col(TombstoneCol), lit(false))).drop(TombstoneCol)

  /** The table's COMMITTED column contract (names + types), recorded at
    * the first versioned commit and widened by every column-adding
    * batch since. None for tables written before the contract existed
    * (their next commit records it) or never versioned-committed.
    */
  def storedSchema(tablePath: String)
      : Option[org.apache.spark.sql.types.StructType] =
    versionedHeadFull(tablePath)._3.get(SchemaMeta).map(j =>
      org.apache.spark.sql.types.DataType.fromJson(j)
        .asInstanceOf[org.apache.spark.sql.types.StructType])

  /** Writer-side schema contract for the versioned committers, run on
    * every commit attempt with the freshest head metadata. The contract,
    * chosen deliberately (pre-contract behavior was whatever parquet
    * union does — including silent int→long-style coercion at read
    * time):
    *
    *  - the first versioned commit RECORDS the batch's columns;
    *  - a batch may ADD columns — widen-with-nulls (older rows read
    *    null there), and the recorded contract grows atomically with
    *    the commit;
    *  - a batch RETYPING a committed column is refused loudly — the
    *    per-generation union would otherwise silently coerce values
    *    (or fail far away at read time with no writer to blame);
    *  - a batch DROPPING a committed column is refused loudly — the
    *    LWW merge would silently null-fill it on every row the batch
    *    wins, which reads as data loss; a caller that really means it
    *    carries the column explicitly (`lit(null).cast(...)`).
    */
  private def evolveSchemaMeta(spark: SparkSession, tablePath: String,
      meta: Map[String, String],
      batchSchema: org.apache.spark.sql.types.StructType): Map[String, String] = {
    import org.apache.spark.sql.types.{DataType, StructField, StructType}
    val resolver = spark.sessionState.conf.resolver
    val batchFields = userFields(batchSchema)
    meta.get(SchemaMeta) match {
      case None =>
        // nullability is normalized away (every column is nullable under
        // the merge's null back-fill anyway): the contract is names+types
        meta + (SchemaMeta -> StructType(
          batchFields.map(f => StructField(f.name, f.dataType))).json)
      case Some(json) =>
        val stored = DataType.fromJson(json).asInstanceOf[StructType]
        val retyped = batchFields.flatMap { f =>
          stored.fields.find(s => resolver(s.name, f.name))
            .filter(_.dataType.catalogString != f.dataType.catalogString)
            .map(s => s"${f.name} (table: ${s.dataType.catalogString}, " +
              s"batch: ${f.dataType.catalogString})")
        }
        require(retyped.isEmpty,
          s"$tablePath: batch retypes committed column(s) " +
            s"${retyped.mkString("; ")} — the per-generation union would " +
            "silently coerce values across generations; cast the batch " +
            "to the table's committed types, or rebuild the table " +
            "deliberately")
        val dropped = stored.fields.toSeq
          .filterNot(s => batchFields.exists(f => resolver(f.name, s.name)))
        require(dropped.isEmpty,
          s"$tablePath: batch drops committed column(s) " +
            s"${dropped.map(_.name).mkString(", ")} — the LWW merge would " +
            "silently null-fill them on every row this batch wins (reads " +
            "as data loss); carry them explicitly " +
            "(lit(null).cast(<type>)) if that is really intended")
        val added = batchFields
          .filterNot(f => stored.fields.exists(s => resolver(s.name, f.name)))
        if (added.isEmpty) meta
        else meta + (SchemaMeta -> StructType(stored.fields.toSeq ++
          added.map(f => StructField(f.name, f.dataType))).json)
    }
  }

  /** A manifest VALUE is a `;`-joined generation chain, oldest first:
    * [[upsertBucketedDelta]] APPENDS one generation per commit and
    * defers the LWW merge to read time, while compaction, purge and
    * rebucket folds write single-element chains (the plain `gen`
    * string). Generation names never contain `,` or `;`.
    */
  private[graft] def chainOf(value: String): Seq[String] =
    value.split(";").toSeq.filter(_.nonEmpty)

  private def renderChain(gens: Seq[String]): String = gens.mkString(";")

  /** Does any bucket of `entries` carry a multi-generation chain (i.e.
    * rows that still need a read-time LWW resolve)?
    */
  private def hasChains(entries: Map[Long, String]): Boolean =
    entries.valuesIterator.exists(_.contains(';'))

  /** Read the given bucket→chain entries, one scan per distinct
    * (generation, chain position) pair, each restricted to the buckets
    * whose chain holds that generation at that position. None when no
    * entry exists yet. The returned frame carries `__seq` = the
    * generation's position in ITS bucket's chain: keys never compete
    * across buckets, so per-bucket positions are a sound LWW recency
    * axis even though one generation may sit at different depths in
    * different buckets' chains.
    *
    * Generations union BY NAME with null back-fill (each generation was
    * written in one shot, so its own schema is uniform — per-generation
    * scans are what makes schema evolution O(1) footer reads instead of
    * a whole-table mergeSchema pass); the deterministic generation order
    * fixes where appended columns land in the output schema.
    */
  private def readManifestBuckets(
      spark: SparkSession,
      tablePath: String,
      entries: Map[Long, String]): Option[DataFrame] = {
    val triples = for {
      (b, v) <- entries.toSeq
      (gen, pos) <- chainOf(v).zipWithIndex
    } yield (gen, pos, b)
    readBucketTriples(spark, tablePath, triples)
  }

  /** Per-generation inferred-schema cache (round-19 optimization):
    * every `spark.read.parquet` of a generation pays a schema-inference
    * job (one driver-side footer read, ~25-35 ms) BEFORE the real scan,
    * and a chain resolve reads one generation per chain link — a
    * steady-state view refresh was paying 4-7 such jobs per invocation
    * for footers it had already read. Generation dirs are write-once
    * (attempt dirs are never reused; vacuum only ever deletes), so the
    * inferred schema is safely memoizable per JVM. The key carries the
    * gen dir's mtime so the one legal mutation — a table deleted and
    * re-created at the same path (dev/test loops) — misses the cache
    * instead of serving a stale schema. Bounded: entries are a few KB
    * and vacuumed gens stop being requested; a 4096-entry clear guards
    * pathological long-lived JVMs.
    */
  private val genSchemaCache = new java.util.concurrent.ConcurrentHashMap[
    (String, java.nio.file.attribute.FileTime),
    org.apache.spark.sql.types.StructType]()

  /** Per-(session, genDir, mtime, bucket set) RESOLVED generation-scan
    * cache — see the [[readBucketTriples]] comment for the measurement
    * and the immutability argument. Values are analyzed logical plans
    * (scan + coalesce + bucket normalize), never data.
    */
  private val genScanCache = new java.util.concurrent.ConcurrentHashMap[
    (String, String, java.nio.file.attribute.FileTime, String), DataFrame]()

  /** Prime [[genSchemaCache]] for a generation THIS writer just wrote
    * (round-20 optimization): the writer already knows the read-back
    * schema — the written frame's columns, `__bucket` (a stored long)
    * among them as a data column — so the first read of every fresh
    * generation can skip its schema-inference job (~25-35 ms of driver
    * footer I/O per commit, on every writer: delta stage,
    * compaction/purge folds, rebucket). Fields are relaxed to nullable
    * to match what parquet footer inference would report. Best-effort:
    * a failure here just means the reader infers as before.
    */
  private def primeGenSchema(tablePath: String, gen: String,
      written: org.apache.spark.sql.types.StructType): Unit =
    try {
      val genDir = Paths.get(tablePath, gen)
      val readBack = org.apache.spark.sql.types.StructType(
        written.fields.map(_.copy(nullable = true)))
      if (genSchemaCache.size > 4096) genSchemaCache.clear()
      genSchemaCache.put(
        (genDir.toString, Files.getLastModifiedTime(genDir)), readBack)
      ()
    } catch { case scala.util.control.NonFatal(_) => () }

  /** Scan an explicit set of (generation, chain position, bucket)
    * entries — [[readManifestBuckets]]'s core, also used by the change
    * feed to read a chain's prefix and suffixes at their true positions.
    *
    * One read per (generation, position): the generation directory
    * filtered by `__bucket IN (the buckets holding it there)`. The filter
    * is required for correctness: a generation holds every bucket its
    * commit touched, and after a partial compaction or purge some of
    * them no longer reference it — their stale rows must not come back.
    * Generations written with `__bucket=N` directories read the same
    * way: Spark discovers the column and the filter prunes partitions.
    *
    * Round-19 scan shape: schema pinned from [[genSchemaCache]] (no
    * per-read inference job), and the scan coalesced to ~128 MB input
    * per task — Spark's parallelism-first split sizing would otherwise
    * give every small file its own task, while a 100 TB chain keeps its
    * full scan parallelism (guide §2.2/§6).
    */
  private def readBucketTriples(
      spark: SparkSession,
      tablePath: String,
      triples: Seq[(String, Int, Long)]): Option[DataFrame] = {
    if (triples.isEmpty) None
    else {
      if (genSchemaCache.size > 4096) genSchemaCache.clear()
      if (genScanCache.size > 4096) genScanCache.clear()
      val union = triples.groupBy(t => (t._1, t._2)).toSeq.sortBy(_._1).map {
        case ((gen, pos), grp) =>
          val genDir = Paths.get(tablePath, gen)
          val buckets = grp.map(_._3).distinct.sorted
          // RESOLVED-scan cache (round-20, third pass): constructing a
          // reader runs the analyzer's ResolveDataSource rule — a
          // driver-side relation resolve (existence probes + file-index
          // listing) measured at ~30 ms per construction, re-paid on
          // EVERY chain read of the same write-once generation
          // (tools.Profile's rule table: 0.9-1.1 s/rep on the delete-where/stream-
          // sink fixtures, the top Catalyst rule on the whole sink
          // tier; at object-store latency each re-resolve is a remote
          // LIST). Generation dirs are immutable once written (attempt
          // dirs are write-once, folds/rebuckets mint NEW gens), so the
          // resolved frame — scan + bucket filter + byte-sized coalesce,
          // everything below the per-call `__seq` position tag — is
          // reusable for the life of the dir; the mtime key evicts on
          // any rewrite, the session token isolates sessions, and the
          // size cap bounds retention. A cached PLAN, not data: every
          // action still scans the parquet files.
          val base = genScanCache.computeIfAbsent(
            (graft.Tables.sessionToken(spark), genDir.toString,
              Files.getLastModifiedTime(genDir), buckets.mkString(",")),
            _ => {
              val schema = genSchemaCache.computeIfAbsent(
                (genDir.toString, Files.getLastModifiedTime(genDir)),
                _ => spark.read.parquet(genDir.toString).schema)
              val bytes = generationFiles(genDir)._2
              val targetParts =
                math.max(1L, (bytes + (128L << 20) - 1) / (128L << 20)).toInt
              // the long cast is a no-op on a stored column; it widens
              // the int that partition discovery infers for `__bucket=N`
              // directories
              spark.read.schema(schema).parquet(genDir.toString)
                .withColumn("__bucket", col("__bucket").cast("long"))
                .filter(col("__bucket").isin(buckets: _*))
                .coalesce(targetParts)
            })
          base.withColumn("__seq", lit(pos.toLong))
      }.reduce(_.unionByName(_, allowMissingColumns = true))
      // COLUMN-ORDER CONTRACT (the r18→r19 GraftFormatSpec flake's root
      // cause): the unionByName output order follows the FIRST scan's
      // schema, and the sort key above is the generation NAME — a
      // random uuid. A generation whose writer carried a different
      // column order (a delete's widened tombstone frame leads with
      // key+order columns) therefore flips the resolved read's schema
      // order whenever its uuid wins the sort — and a catalog
      // registration then records the flipped order, silently
      // cross-binding every positional consumer (INSERT INTO ... SELECT
      // mapped 0 → ts). Normalize: stored-schema columns first in their
      // stored order, anything else (engine scratch, columns a pinned
      // old manifest carries) after, in union order. A pure projection —
      // Catalyst collapses it into the scan, zero execution cost.
      val lead = storedSchema(tablePath).toSeq.flatMap { s =>
        val resolver = spark.sessionState.conf.resolver
        s.fieldNames.toSeq.flatMap(n => union.columns.find(resolver(_, n)))
      }
      // backtick-quoted references: a bare col(name) parses dots as
      // nested-field access, breaking the read of any table with a
      // literal dotted column name
      def quoted(name: String): org.apache.spark.sql.Column =
        col("`" + name.replace("`", "``") + "`")
      Some(if (lead.isEmpty) union
      else {
        val rest = union.columns.filterNot(lead.contains)
        union.select((lead ++ rest).map(quoted).toIndexedSeq: _*)
      })
    }
  }

  /** LWW-resolve a chain read: one row per key, ranked by `order` then
    * chain recency (`__seq` — a later delta beats an earlier one on
    * order-ties, the read-time equivalent of [[mergeLww]]'s batch-beats-
    * existing tag). Single-chain tables skip the window entirely — a
    * fully-compacted table resolves for free.
    */
  private def resolveChainRead(df: DataFrame, entries: Map[Long, String],
      keys: Seq[String], order: Seq[Column]): DataFrame =
    if (hasChains(entries)) latestByKey(df, keys, order :+ col("__seq")).drop("__seq")
    else df.drop("__seq")

  /** Merge-on-read resolving reader: the table at `atVersion` (default:
    * the chain head), LWW-resolved per key by `order` then delta
    * recency. On a fully-compacted table (no chains) it degrades to a
    * plain scan with NO window shuffle.
    *
    * `atVersion` is the time-travel handle: any version still inside
    * the vacuum keep window is readable ([[tableVersions]] lists them).
    * The version pins the MANIFEST; [[vacuumGenerations]]'s grace set
    * keeps the generations those retained manifests reference.
    */
  def readBucketedDelta(spark: SparkSession, tablePath: String,
      keys: Seq[String], order: Seq[Column],
      atVersion: Option[Long] = None): DataFrame = {
    val manifest = atVersion match {
      case Some(v) => manifestAt(tablePath, v)
      case None => readManifest(tablePath)
    }
    readBucketedDeltaManifest(spark, tablePath, keys, order, manifest)
  }

  /** [[readBucketedDelta]] over an EXPLICIT bucket→chain manifest — the
    * seam that makes MIXED-state reads possible: a sub-version consumer
    * (the sliced maintenance stream) sits between two versions, with
    * some buckets already applied at v+1 and the rest still at v, and
    * that state IS a manifest ([[mixedManifestAt]]) even though no
    * single committed version holds it. Same resolve as the public
    * reader; callers own the manifest's coherence (one layout).
    */
  private[graft] def readBucketedDeltaManifest(spark: SparkSession,
      tablePath: String, keys: Seq[String], order: Seq[Column],
      manifest: Map[Long, String]): DataFrame = {
    requireSpecMatches(spark, tablePath, keys, order)
    readManifestBuckets(spark, tablePath, manifest) match {
      case Some(df) =>
        dropTombstones(resolveChainRead(df, manifest, keys, order))
          .drop("__bucket")
      case None => spark.emptyDataFrame
    }
  }

  /** The bucket→chain manifest of the MIXED state `(v, applied)`:
    * versions `<= v` fully applied PLUS the `applied` buckets of version
    * `v + 1` — the state a sub-version slice consumer's store reflects
    * mid-version. Buckets in `applied` take v+1's chain (including
    * buckets v+1 created); everything else keeps v's. Defined only
    * within one layout — a slice never spans a rebucket (the feed
    * construction invariant), and this guards it anyway.
    */
  private[graft] def mixedManifestAt(tablePath: String, v: Long,
      applied: Set[Long]): Map[Long, String] = {
    val (manBase, metaBase) = manifestAndMetaAt(tablePath, v)
    val (manStep, metaStep) = manifestAndMetaAt(tablePath, v + 1)
    require(metaBase.get("numBuckets") == metaStep.get("numBuckets"),
      s"$tablePath: a mixed (sub-version) state cannot span the layout " +
        s"change at v${v + 1} — bucket ids are incomparable across it")
    manBase.filterNot { case (b, _) => applied(b) } ++
      manStep.filter { case (b, _) => applied(b) }
  }

  /** [[readBucketedDelta]] under the table's own STORED key/order spec
    * ([[storedSpec]]) — the self-describing read: no per-call spec to
    * mistype. Loud when the table carries no spec metadata.
    */
  def readBucketedDelta(spark: SparkSession, tablePath: String): DataFrame =
    readBucketedDelta(spark, tablePath, None)

  def readBucketedDelta(spark: SparkSession, tablePath: String,
      atVersion: Option[Long]): DataFrame = {
    val (keys, order) = mustStoredSpec(tablePath)
    readBucketedDelta(spark, tablePath, keys, order, atVersion)
  }

  /** NULL-SAFE distributed semi-join of `left` to `right` on `cols`
    * (right side deduplicated and renamed so the output carries only
    * left columns). Null key/dim values are legal rows everywhere in
    * this family — a plain equi-join would silently drop them.
    */
  private def semiJoinNullSafe(left: DataFrame, right: DataFrame,
      cols: Seq[String], hintBroadcast: Boolean = false,
      dedupRight: Boolean = true): DataFrame = {
    val base = if (dedupRight) right.select(cols.map(col): _*).distinct()
      else right.select(cols.map(col): _*)
    val r0 = cols.foldLeft(base)(
      (df, c) => df.withColumnRenamed(c, "__sj_" + c))
    // the hint is for callers who have VERIFIED the right side is small
    // (a counted key set): AQE's size estimate for a distinct's shuffle
    // output sits near the 10 MB threshold already at ~400k long keys,
    // and a mis-planned sort-merge here shuffles the whole LEFT table
    // (measured: 248 MB vs ~0 at the ×100 probe)
    val r = if (hintBroadcast) broadcast(r0) else r0
    val cond = cols.map(c => col(c) <=> col("__sj_" + c)).reduce(_ && _)
    left.join(r, cond, "left_semi")
  }

  /** Hard cap for [[readBucketedDeltaMatching]]'s self-verified
    * broadcast: 1M keys ≈ single-digit MB serialized for numeric keys,
    * safely inside executor/driver broadcast budgets even for wide
    * string keys. Above it the planner decides (worst case ≈ 1.3× the
    * plain full window — a slope, never a cliff).
    */
  private[graft] val MaxBroadcastCandidateKeys: Long = 1000000L

  /** Resolved image (at `atVersion`, default head) of every key that has
    * ANY version-row whose `matchCols` values null-safe-match a row of
    * `matchDf` — the KEY-BOUNDED recompute read. On a chained
    * (merge-on-read) table, [[readBucketedDelta]] + a post-resolve
    * filter pays the LWW window over the WHOLE table before the filter
    * can prune (measured: ~220 MB shuffled on a 10M-row base for one
    * dirty-extremum recompute); this entry point instead derives the
    * candidate keys map-side (scan + broadcastable semi-join against
    * `matchDf`), semi-joins the table's rows down to those keys, and
    * windows only the survivors — the shuffle is bounded by the
    * matching keys' rows, never the table. Fully distributed: no
    * driver-side key collection, so `matchDf` may be arbitrarily large
    * (unlike [[lookupBucketed]]'s point-read contract).
    *
    * The result is a SUPERSET image by design: a key whose OLD version
    * matched but whose resolved row no longer does is still returned
    * (at its resolved values) — callers re-filter on the resolved rows
    * (cheap, they are already key-unique).
    */
  /** `broadcastKeys = true` asks for a broadcast of the derived
    * candidate-key set, SELF-VERIFIED: the key set is counted first and
    * the hint applies only at or below [[MaxBroadcastCandidateKeys]] —
    * a caller's estimate can undercount by table-scale (e.g. the view
    * routes on LIVE per-group counts, but candidates include keys whose
    * SUPERSEDED versions matched: a churn-heavy group with 100 live
    * keys can have millions of candidates), and an unconditional
    * broadcast there is a driver-memory cliff. The count costs one
    * extra pass over the candidate derivation (scan-side, no new
    * shuffle) — paid only on this opt-in path. Without the hint AQE's
    * own estimate tips to sort-merge near ~400k keys and shuffles the
    * whole table (measured 248 MB vs ~0 at the ×100 probe); with
    * false, the planner always decides (safe at any size).
    */
  def readBucketedDeltaMatching(spark: SparkSession, tablePath: String,
      keys: Seq[String], order: Seq[Column], matchDf: DataFrame,
      matchCols: Seq[String], atVersion: Option[Long] = None,
      broadcastKeys: Boolean = false): DataFrame = {
    val manifest = atVersion match {
      case Some(v) => manifestAt(tablePath, v)
      case None => readManifest(tablePath)
    }
    readBucketedDeltaMatchingManifest(spark, tablePath, keys, order,
      matchDf, matchCols, manifest, broadcastKeys)
  }

  /** [[readBucketedDeltaMatching]] over an explicit manifest — the
    * key-bounded twin of [[readBucketedDeltaManifest]], for the same
    * mixed-state consumers.
    */
  private[graft] def readBucketedDeltaMatchingManifest(spark: SparkSession,
      tablePath: String, keys: Seq[String], order: Seq[Column],
      matchDf: DataFrame, matchCols: Seq[String],
      manifest: Map[Long, String], broadcastKeys: Boolean): DataFrame = {
    requireSpecMatches(spark, tablePath, keys, order)
    readManifestBuckets(spark, tablePath, manifest) match {
      case None => spark.emptyDataFrame
      case Some(all) =>
        val wantedKeys = semiJoinNullSafe(all, matchDf, matchCols)
          .select(keys.map(col): _*).distinct()
        val hint = broadcastKeys &&
          wantedKeys.limit((MaxBroadcastCandidateKeys + 1).toInt).count() <=
            MaxBroadcastCandidateKeys
        // wantedKeys is already distinct — skip the helper's dedup
        dropTombstones(resolveChainRead(
          semiJoinNullSafe(all, wantedKeys, keys, hintBroadcast = hint,
            dedupRight = false),
          manifest, keys, order)).drop("__bucket")
    }
  }

  /** Hard bound on [[lookupBucketed]]'s request set: the keys are
    * collected to the driver for bucket pruning, so the API is a POINT
    * lookup by contract. 100k keys × a few hundred bytes ≈ tens of MB —
    * comfortable on any driver; beyond it the caller wants a
    * distributed join, not pruning.
    */
  val MaxLookupKeys: Int = 100000

  /** Bound on the per-key-column literal list [[lookupBucketed]] pushes
    * below the LWW window (catalyst In → parquet row-group skipping).
    * Past it the filter chain costs more than it saves; the lookup then
    * relies on bucket pruning + the semi-join alone.
    */
  private[graft] val MaxPushdownLiterals: Int = 1000

  /** Bucket-pruned point lookup: resolve ONLY the buckets the requested
    * keys hash to — at 100 TB a point read must touch O(requested keys)
    * buckets' generations, never scan the table. `keyDf` carries exactly
    * the key columns (one row per requested key tuple); the bucket count
    * comes from the table's layout record (manifest metadata after a
    * [[rebucketTable]], else the `_layout` sidecar), so the reader
    * cannot hash with a different function than the writer did. Works
    * on chained (merge-on-read) and plain manifest tables alike;
    * `atVersion` makes it a historical point read.
    *
    * Driver-side metadata: one collect of the requested keys, deduped
    * and bucketed on the driver — bounded by [[MaxLookupKeys]] distinct
    * keys with a loud refusal above it (a bulk subset read belongs on
    * readBucketedDelta + a distributed join, where pruning would not
    * help anyway).
    */
  def lookupBucketed(spark: SparkSession, tablePath: String,
      keys: Seq[String], order: Seq[Column], keyDf: DataFrame,
      atVersion: Option[Long] = None): DataFrame = {
    requireSpecMatches(spark, tablePath, keys, order)
    // hash with the layout IN FORCE AT THE READ VERSION — and resolve
    // layout and manifest from ONE head/version snapshot: reading them
    // in two separate listings lets a rebucket commit in between, and a
    // lookup hashing with the old count against the new layout's
    // manifest prunes to the WRONG buckets (silently incomplete result)
    val (fullManifest, nbOpt) = atVersion match {
      case Some(v) => (manifestAt(tablePath, v),
        metaAt(tablePath, v).get("numBuckets").map(_.toInt)
          .orElse(readLayout(tablePath)))
      case None =>
        val (_, man, meta) = versionedHeadFull(tablePath)
        (man, meta.get("numBuckets").map(_.toInt).orElse(readLayout(tablePath)))
    }
    val nb = nbOpt.getOrElse(throw new IllegalStateException(
      s"$tablePath has no _layout sidecar (recorded at the first commit " +
        "since round 15) — a point lookup must hash with the writer's " +
        "bucket count; run one commit to adopt the sidecar, or read via " +
        "readBucketedDelta"))
    val resolver = keyDf.sparkSession.sessionState.conf.resolver
    require(keys.forall(k => keyDf.columns.exists(resolver(_, k))),
      s"keyDf must carry the key column(s) ${keys.mkString(", ")} " +
        s"(has: ${keyDf.columns.mkString(", ")})")
    // materialize the request set ONCE — deriving `buckets` from one
    // execution and the semi-join from a re-execution would let a
    // non-deterministic keyDf (sample, unordered limit) hash a key into
    // a bucket the pruning already dropped: a silently incomplete
    // result. The collect is bounded by CONTRACT, and the contract is
    // enforced: this is a POINT-lookup API (the request set lives on
    // the driver), and a caller treating it as a bulk subset read would
    // otherwise discover the driver-memory wall as an opaque OOM. Above
    // the bound, read the table through readBucketedDelta and join the
    // request set distributed — at millions of keys most buckets are
    // touched anyway, so bucket pruning has nothing left to save.
    // The keys dedupe and bucket on the DRIVER: a distributed distinct
    // and bucket column ran a shuffle before any table data was read.
    // Only a request of more than MaxLookupKeys rows dedupes on the
    // cluster, so a duplicate-heavy request set is still judged by its
    // distinct keys.
    val requested = keyDf.select(keys.map(col): _*)
    val raw = requested.limit(MaxLookupKeys + 1).collect()
    val keyRows = (if (raw.length <= MaxLookupKeys) raw
      else requested.distinct().limit(MaxLookupKeys + 1).collect())
      .distinct.toIndexedSeq
    require(keyRows.size <= MaxLookupKeys,
      s"lookupBucketed request set exceeds $MaxLookupKeys distinct keys — " +
        "this is a point-lookup API whose request set is collected to " +
        "the driver for bucket pruning; for bulk subset reads join the " +
        "key set against readBucketedDelta (distributed, no pruning " +
        "needed at that selectivity)")
    val requestDf = spark.createDataFrame(
      new java.util.ArrayList(scala.jdk.CollectionConverters
        .SeqHasAsJava(keyRows).asJava), requested.schema)
    // a projection of a local relation folds on the driver: no job
    val buckets = requestDf.select(bucketOf(keys, nb)).collect()
      .map(_.getLong(0)).toSet
    val manifest = fullManifest.filter { case (b, _) => buckets.contains(b) }
    // requested-key predicate pushed BELOW the LWW window: filtering by
    // KEY columns there is safe (all of a key's version-rows satisfy or
    // fail it together — the same key-level argument as bucket pruning),
    // and it reaches the parquet scan as pushed In filters, so row-group
    // statistics skip the bucket's OTHER keys' data instead of decoding
    // the whole bucket through the window sort. Per-column value sets
    // are a superset of the requested tuples on compound keys — the
    // semi-join below stays the exact gate. Null request values drop out
    // (the equality semi-join never matches them anyway). Bounded: past
    // [[MaxPushdownLiterals]] a literal chain costs more than it saves
    // and the bucket-pruned scan alone is the predictable plan.
    val keyValueSets = keys.indices.map(i =>
      keyRows.map(_.get(i)).filter(_ != null).distinct)
    val keyPred: Option[Column] =
      if (keyRows.isEmpty ||
          keyValueSets.exists(_.size > MaxPushdownLiterals)) None
      else Some(keys.zip(keyValueSets).map { case (k, vs) =>
        col(k).isin(vs: _*)
      }.reduce(_ && _))
    def resolved(man: Map[Long, String]): Option[DataFrame] =
      readManifestBuckets(spark, tablePath, man)
        .map { full =>
          val df = keyPred.fold(full)(full.filter)
          dropTombstones(resolveChainRead(df, man, keys, order))
            .join(broadcast(requestDf), keys, "left_semi").drop("__bucket")
        }
    resolved(manifest).orElse {
      // every requested key hashed to an unpopulated bucket: still
      // return the TABLE's schema (footer-only read of the full
      // manifest, limit 0 — no data scanned), so a caller's
      // select/write behaves the same whatever the keys hash to
      resolved(fullManifest).map(_.limit(0))
    }.getOrElse(spark.emptyDataFrame) // table has no data at all
  }

  /** [[lookupBucketed]] under the table's own STORED key/order spec —
    * loud when the table carries no spec metadata.
    */
  def lookupBucketed(spark: SparkSession, tablePath: String,
      keyDf: DataFrame): DataFrame =
    lookupBucketed(spark, tablePath, keyDf, None)

  def lookupBucketed(spark: SparkSession, tablePath: String,
      keyDf: DataFrame, atVersion: Option[Long]): DataFrame = {
    val (keys, order) = mustStoredSpec(tablePath)
    lookupBucketed(spark, tablePath, keys, order, keyDf, atVersion)
  }

  /** Event-sourced DELETE on the versioned keyed table: commits one
    * generation of TOMBSTONE rows through the exact optimistic chain
    * protocol as [[upsertBucketedDelta]] (same layout/spec handshakes,
    * same replay semantics, None on an empty batch). Each delete row
    * carries the key and ORDER columns and competes in the LWW rank
    * like any version-row:
    *
    *  - a tombstone ordered above a key's rows deletes it — the key is
    *    ABSENT from every resolved read at-or-after this commit (point
    *    lookups, facades, matching reads; time travel BELOW the
    *    delete's version still serves the key);
    *  - a LATER upsert ordered above the tombstone re-creates the key;
    *  - a replayed OLDER event still loses — replay determinism is
    *    exactly the upsert path's (this is why deletes are
    *    order-ranked, not unconditional: an unconditional delete would
    *    make the table's state depend on delivery order).
    *
    * Value columns ride as typed nulls under the committed schema
    * contract (a delete never evolves it). Tombstone rows persist
    * through compaction folds and rebuckets — dropping a winning
    * tombstone would let a replayed older event resurrect the key; the
    * retention horizon for ever dropping them is the operator's replay
    * window, the same judgment [[adviseRetention]] informs. The
    * WEIGHTED change feed carries a deletion as the bare `__weight=-1`
    * last image (consumers like [[MaterializedAggView]] already fold
    * retractions); the PLAIN upsert feed cannot represent it, so plain
    * feeds refuse tombstoned ranges loudly via [[TombstoneMeta]].
    */
  def deleteBucketedDelta(
      spark: SparkSession,
      tablePath: String,
      keys: Seq[String],
      order: Seq[Column],
      numBuckets: Int = 64,
      maxAttempts: Int = 20,
      compactAfter: Int = 8,
      extraMeta: Map[String, String] = Map.empty,
      abortIf: Map[String, String] => Boolean = _ => false)(
      delRows: DataFrame, batchId: Long): Option[OptimisticCommit] = {
    requireKeyOrderCols(delRows, keys, order)
    val resolver = spark.sessionState.conf.resolver
    val carry = (keys ++ orderColNames(spark, order)).distinct
    // one tombstone per (key, order) tuple — duplicates add nothing and
    // the intra-batch compaction would fold them anyway
    val base = delRows.select(carry.map(col): _*).distinct()
    val contract = storedSchema(tablePath)
      .orElse(Option(readBucketedDelta(spark, tablePath, keys, order).schema)
        .filter(_.nonEmpty))
      .getOrElse(throw new IllegalStateException(
        s"$tablePath has no committed schema to delete against — " +
          "deleteBucketedDelta targets an existing versioned table"))
    val widened = contract.fields.foldLeft(base)((df, f) =>
      if (carry.exists(resolver(_, f.name))) df
      else df.withColumn(f.name, lit(null).cast(f.dataType)))
    upsertBucketedDelta(spark, tablePath, keys, order, numBuckets,
      maxAttempts, compactAfter,
      extraMeta = extraMeta,
      abortIf = abortIf,
      // record the version THIS delete lands at (re-evaluated per CAS
      // retry): the latest delete overwrites, so feeds can refuse with
      // version granularity — a plain range STARTING at-or-after the
      // last delete is provably complete and keeps working
      extraMetaAt = v => Map(TombstoneMeta -> v.toString))(
      widened.withColumn(TombstoneCol, lit(true)), batchId)
  }

  /** [[deleteBucketedDelta]] under the table's own STORED key/order
    * spec — loud when the table carries no spec metadata.
    */
  def deleteBucketedDelta(spark: SparkSession, tablePath: String,
      numBuckets: Int)(
      delRows: DataFrame, batchId: Long): Option[OptimisticCommit] = {
    val (keys, order) = mustStoredSpec(tablePath)
    deleteBucketedDelta(spark, tablePath, keys, order, numBuckets)(
      delRows, batchId)
  }

  /** Predicate-driven delete — `DELETE FROM t WHERE p` for the keyed
    * table. Until now a delete required the caller to already KNOW the
    * (key, order) tuples ([[deleteBucketedDelta]]); the common real
    * delete is by predicate ("purge user X", "drop docs below quality
    * t"). This verb composes the two existing primitives: pin ONE
    * snapshot version, resolve it, filter the LIVE rows by `predicate`
    * (SQL semantics — a NULL predicate does not match), project the
    * matched (key, order) tuples, and commit them as tombstones through
    * [[deleteBucketedDelta]]. Matching nothing commits nothing (the
    * committer's own empty-batch no-op), so a miss never burns a
    * version.
    *
    * RANKING: each tombstone carries its matched image's OWN order
    * values — the weighted-mirror precedent, not the caller-invented
    * above-everything order. Consequences, all flowing from the one
    * LWW rule (`order`, ties → chain recency):
    *  - every version-row at-or-below the matched image loses to the
    *    tombstone (it committed later, so it wins the order-tie and
    *    everything under it) — a replayed STRICTLY-OLDER event cannot
    *    resurrect the key;
    *  - a row with order ABOVE the image — whether it committed before
    *    this verb ran (see the race note) or after — outranks the
    *    tombstone: the normal LWW re-insert door stays open;
    *  - the one sharp edge: an EXACT duplicate of the deleted image
    *    (same order values) committed AFTER the delete wins the
    *    order-tie by recency and resurrects the key. Exactly-once
    *    upstream feeds never do this (the stream sink's high-water
    *    absorbs engine replays); an at-least-once feed that can
    *    redeliver the tombstoned image itself should delete at an
    *    above-everything order via [[deleteBucketedDelta]] directly.
    *
    * RACE CONTRACT (snapshot-vs-commit window): the predicate evaluates
    * against the pinned snapshot, and commits landing between the pin
    * and this delete's CAS commit are NOT re-matched — a key whose
    * matching image arrives in that window survives this call (run the
    * verb again; it matches the new head). The converse is safe by
    * ranking: a concurrent upsert ABOVE a matched image outranks its
    * tombstone, so this verb can never delete data newer than what it
    * matched. The optimistic committer retries the CAS on manifest
    * races as usual — retries re-stage the SAME tombstone set (the
    * decision stays snapshot-coherent; it never silently re-matches).
    *
    * Cost shape at 100 TB: one resolved scan of the snapshot under the
    * predicate (Catalyst prunes columns to keys ++ order ++ predicate
    * refs through the resolve's window), then the delete commit touches
    * only the buckets the matched keys hash to. Returns the commit
    * (None when nothing matched).
    */
  def deleteWhere(
      spark: SparkSession,
      tablePath: String,
      keys: Seq[String],
      order: Seq[Column],
      predicate: Column,
      numBuckets: Int = 64,
      maxAttempts: Int = 20,
      compactAfter: Int = 8,
      extraMeta: Map[String, String] = Map.empty): Option[OptimisticCommit] = {
    // pin the snapshot ONCE: the predicate must see one coherent table
    // state, never a per-bucket mix with a concurrent commit
    val pinned = tableVersions(tablePath).lastOption
    val matched = readBucketedDelta(spark, tablePath, keys, order,
      atVersion = pinned).filter(predicate)
    deleteBucketedDelta(spark, tablePath, keys, order, numBuckets,
      maxAttempts, compactAfter, extraMeta)(matched, 0L)
  }

  /** [[deleteWhere]] under the table's own STORED key/order spec —
    * loud when the table carries no spec metadata.
    */
  def deleteWhere(spark: SparkSession, tablePath: String,
      predicate: Column, numBuckets: Int): Option[OptimisticCommit] = {
    val (keys, order) = mustStoredSpec(tablePath)
    deleteWhere(spark, tablePath, keys, order, predicate, numBuckets)
  }

  /** Predicate-driven update — `UPDATE t SET ... WHERE p` for the keyed
    * table, completing the predicate-verb family [[deleteWhere]]
    * opened: pin ONE snapshot version, resolve it, filter the LIVE rows
    * by `predicate` (SQL semantics — NULL does not match), apply the
    * `set` expressions (evaluated against the MATCHED image, so
    * `"n" -> col("n") + 1` works), and commit the rewritten images as
    * one upsert. Matching nothing commits nothing.
    *
    * RANKING — the [[deleteWhere]] contract verbatim: the updated image
    * carries its source image's OWN order values, so it wins the
    * order-tie against every at-or-below version-row by chain recency,
    * a strictly-older replay cannot revert it, a LATER upsert outranks
    * it normally, and the one sharp edge is an exact-duplicate replay
    * of the OLD image committed after the update (ties, wins by
    * recency, reverts) — exactly-once feeds never do this.
    *
    * `set` columns are restricted to VALUE columns, refused loudly
    * otherwise: updating a KEY column rewrites row identity (that is a
    * delete + insert — do both explicitly, each with its own rank),
    * and updating an ORDER column can lower the new image's own rank
    * below its source, making the update silently invisible (commit a
    * new event through the normal upsert door instead — its order IS
    * its rank). Same snapshot-vs-commit race window as [[deleteWhere]]:
    * commits landing between the pin and this commit are not
    * re-matched; re-run to catch them.
    *
    * Cost shape at 100 TB: one resolved scan under the predicate, then
    * an upsert commit touching only the matched keys' buckets.
    */
  def updateWhere(
      spark: SparkSession,
      tablePath: String,
      keys: Seq[String],
      order: Seq[Column],
      predicate: Column,
      set: Map[String, Column],
      numBuckets: Int = 64,
      maxAttempts: Int = 20,
      compactAfter: Int = 8,
      extraMeta: Map[String, String] = Map.empty): Option[OptimisticCommit] = {
    require(set.nonEmpty, "updateWhere: empty SET — nothing to update")
    val resolver = spark.sessionState.conf.resolver
    // two SET keys resolving to the SAME column (case variants under
    // the default case-insensitive resolver) would silently apply one
    // and drop the other in the per-field lookup below — a
    // contradiction, refused here like the SQL door refuses verbatim
    // duplicates
    val setKeys = set.keys.toSeq
    setKeys.combinations(2).foreach { case Seq(a, b) =>
      require(!resolver(a, b),
        s"updateWhere: SET assigns '$a' and '$b', which resolve to the " +
          "same column — one assignment per column")
    }
    val orderNames = orderColNames(spark, order)
    set.keys.foreach { c =>
      require(!keys.exists(resolver(_, c)),
        s"updateWhere: SET on key column '$c' rewrites row identity — " +
          "delete the old key and upsert the new one explicitly, each " +
          "with its own rank")
      require(!orderNames.exists(resolver(_, c)),
        s"updateWhere: SET on order column '$c' can lower the new " +
          "image's own LWW rank below its source and never become " +
          "visible — commit a new event through the upsert door " +
          "instead (its order is its rank)")
    }
    val pinned = tableVersions(tablePath).lastOption
    val matched = readBucketedDelta(spark, tablePath, keys, order,
      atVersion = pinned).filter(predicate)
    // SIMULTANEOUS application — SQL UPDATE semantics: every SET
    // expression evaluates against the MATCHED image, never against
    // another assignment's output (a sequential withColumn fold would
    // make `SET a = b, b = a` read the already-rewritten a). One
    // select over all columns does exactly that.
    // backtick-quoted references for untouched columns: a bare
    // col(name) parses dots as nested-field access, so a table with a
    // literal "price.usd" column would fail analysis even when the SET
    // targets a different column
    def quoted(name: String): Column =
      col("`" + name.replace("`", "``") + "`")
    val rewritten = matched.select(matched.schema.fields.map { f =>
      set.find { case (c, _) => resolver(f.name, c) } match {
        case Some((_, e)) =>
          // preserve the column's declared type, LOUDLY: a silent cast
          // can null-coerce a type-incompatible expression under
          // non-ANSI configs (string → long) and commit NULLs over
          // every matched row — refuse anything but a same-type or
          // lossless up-cast instead
          val eType = matched.select(e.as("__uw_t")).schema.head.dataType
          require(org.apache.spark.sql.types.DataType
              .equalsStructurally(eType, f.dataType, ignoreNullability = true) ||
              org.apache.spark.sql.catalyst.expressions.Cast
                .canUpCast(eType, f.dataType),
            s"updateWhere: SET expression for '${f.name}' has type " +
              s"${eType.simpleString}, not assignable to the column's " +
              s"${f.dataType.simpleString} — a silent cast could " +
              "null-coerce and rewrite matched rows to NULL; cast " +
              "explicitly in the expression if the narrowing is meant")
          e.cast(f.dataType).as(f.name)
        case None => quoted(f.name)
      }
    }.toIndexedSeq: _*)
    // every SET name must have landed on exactly one schema column
    set.keys.foreach { c =>
      require(matched.schema.fields.exists(f => resolver(f.name, c)),
        s"updateWhere: SET column '$c' is not a column of the table")
    }
    upsertBucketedDelta(spark, tablePath, keys, order, numBuckets,
      maxAttempts, compactAfter, extraMeta = extraMeta)(rewritten, 0L)
  }

  /** [[updateWhere]] under the table's own STORED key/order spec —
    * loud when the table carries no spec metadata.
    */
  def updateWhere(spark: SparkSession, tablePath: String,
      predicate: Column, set: Map[String, Column],
      numBuckets: Int): Option[OptimisticCommit] = {
    val (keys, order) = mustStoredSpec(tablePath)
    updateWhere(spark, tablePath, keys, order, predicate, set, numBuckets)
  }

  /** Upsert change feed between two committed versions: every row of the
    * resolved table at `toVersion` (default: head) that is not present
    * identically in the resolved table at `fromVersion` — i.e. the keys
    * inserted or updated in between, at their `toVersion` values. On a
    * table WITHOUT deletes the upsert-only feed is the complete
    * change-data capture; a table that has committed tombstones refuses
    * the plain feed (a deletion has no representation here — use
    * [[readChangesWeighted]]). Downstream incremental consumers (the
    * "process only documents ingested since the last training run"
    * pattern) read the feed instead of diffing 100 TB.
    *
    * Cost shape: only buckets whose manifest CHAIN ENTRY differs between
    * the two versions are read, never the whole table — an untouched
    * bucket contributes nothing and is provably never scanned. One
    * kernel serves every range: each changed bucket's two chains split
    * at their longest common prefix, the suffix rows name the keys that
    * can have changed, the prefix rows of those keys alone join in, and
    * one aggregate on the keys picks both images' winners. A range of
    * pure appends therefore costs batch-scale shuffles; a compaction
    * changes a chain entry without changing data, and the kernel reports
    * nothing for it. Both versions must still be inside the vacuum keep
    * window, and `fromVersion`'s generations inside the reader grace set
    * — the same retention contract as time travel.
    */
  def readChangesBetween(spark: SparkSession, tablePath: String,
      keys: Seq[String], order: Seq[Column], fromVersion: Long,
      toVersion: Option[Long] = None): DataFrame =
    changesBetweenImpl(spark, tablePath, keys, order, fromVersion,
      toVersion, weighted = false)

  /** [[readChangesBetween]] under the table's own STORED key/order spec
    * — loud when the table carries no spec metadata.
    */
  def readChangesBetween(spark: SparkSession, tablePath: String,
      fromVersion: Long): DataFrame =
    readChangesBetween(spark, tablePath, fromVersion, None)

  def readChangesBetween(spark: SparkSession, tablePath: String,
      fromVersion: Long, toVersion: Option[Long]): DataFrame = {
    val (keys, order) = mustStoredSpec(tablePath)
    readChangesBetween(spark, tablePath, keys, order, fromVersion, toVersion)
  }

  /** Weighted change feed between two committed versions: every row of
    * the [[readChangesBetween]] upsert feed carries `__weight` = +1, and
    * the superseded `fromVersion` image of each UPDATED key carries
    * `__weight` = -1 — the retraction stream. A consumer maintaining a
    * distributive aggregate (SUM / COUNT — anything where a row's
    * contribution adds) applies one delta pass,
    * `agg(expr * __weight)`, and never touches the base table: the -1
    * rows subtract exactly what the key's old image contributed, the
    * +1 rows add the new image ([[MaterializedAggView]] is the built-in
    * consumer). Freshly inserted keys have no -1 row; a key DELETED in
    * the range ([[deleteBucketedDelta]]) is the bare -1 of its last
    * live image with no matching +1 — a retraction a distributive
    * consumer folds like any other (this is the only feed that can
    * represent deletes; the plain feed refuses tombstoned ranges).
    *
    * Same kernel, touched-bucket cost shape and vacuum/retention
    * contract as [[readChangesBetween]]: a key whose two images differ
    * emits its new image at +1 and its old one at -1 from the same
    * aggregate row.
    */
  def readChangesWeighted(spark: SparkSession, tablePath: String,
      keys: Seq[String], order: Seq[Column], fromVersion: Long,
      toVersion: Option[Long] = None): DataFrame =
    changesBetweenImpl(spark, tablePath, keys, order, fromVersion,
      toVersion, weighted = true)

  /** [[readChangesWeighted]] under the table's own STORED key/order
    * spec — loud when the table carries no spec metadata.
    */
  def readChangesWeighted(spark: SparkSession, tablePath: String,
      fromVersion: Long): DataFrame =
    readChangesWeighted(spark, tablePath, fromVersion, None)

  def readChangesWeighted(spark: SparkSession, tablePath: String,
      fromVersion: Long, toVersion: Option[Long]): DataFrame = {
    val (keys, order) = mustStoredSpec(tablePath)
    readChangesWeighted(spark, tablePath, keys, order, fromVersion, toVersion)
  }

  /** Sorted bucket ids whose manifest entry changed from version `v-1`
    * to `v` — the per-version work list sub-version admission control
    * slices. None when a layout change (rebucket) makes bucket ids
    * incomparable across the step: that version cannot split by bucket
    * and must drain as one batch.
    */
  private[graft] def touchedBucketsAt(tablePath: String,
      v: Long): Option[Seq[Long]] = {
    // ONE listing + one read per version (not four): this sits on the
    // streaming source's admission-control walk, which probes many
    // versions per trigger during catch-up
    val (manBefore, metaBefore) = manifestAndMetaAt(tablePath, v - 1)
    val (manNow, metaNow) = manifestAndMetaAt(tablePath, v)
    if (metaBefore.get("numBuckets") != metaNow.get("numBuckets")) None
    else Some((manNow.collect {
      case (b, g) if !manBefore.get(b).contains(g) => b
    } ++
      // a bucket REMOVED from the manifest (a purge emptied it) is
      // touched too: its before-image rows disappeared, and skipping it
      // would silently drop the range's retractions
      manBefore.keysIterator.filterNot(manNow.contains))
      .toSeq.distinct.sorted)
  }

  /** Manifest + metadata of one version from ONE listing and ONE file
    * read. Same loud-on-pruned contract as [[manifestAt]].
    */
  private def manifestAndMetaAt(tablePath: String,
      version: Long): (Map[Long, String], Map[String, String]) =
    if (version == 0L) (Map.empty, Map.empty)
    else versionFiles(Paths.get(tablePath)).find(_._1 == version) match {
      case Some((_, p)) =>
        import scala.jdk.CollectionConverters._
        val lines = Files.readAllLines(p).asScala.toSeq
        (parseManifestLines(lines), parseMetaLines(lines))
      case None => throw new NoSuchElementException(
        s"$tablePath: no readable manifest v$version — pruned past the " +
          s"vacuum keep window or never committed (have: " +
          s"${tableVersions(tablePath).mkString(",")})")
    }

  /** One version step's change feed restricted to a bucket subset — the
    * sub-version micro-batch of the `graft-changes` source. Buckets
    * partition keys (within one layout), so the union of disjoint
    * slices over `touchedBucketsAt(v)` equals the whole (v-1, v] feed.
    */
  private[graft] def readChangesSlice(spark: SparkSession, tablePath: String,
      keys: Seq[String], order: Seq[Column], version: Long,
      buckets: Set[Long], weighted: Boolean): DataFrame =
    changesBetweenImpl(spark, tablePath, keys, order, version - 1,
      Some(version), weighted, bucketSubset = Some(buckets))

  private def changesBetweenImpl(spark: SparkSession, tablePath: String,
      keys: Seq[String], order: Seq[Column], fromVersion: Long,
      toVersion: Option[Long], weighted: Boolean,
      bucketSubset: Option[Set[Long]] = None): DataFrame = {
    requireSpecMatches(spark, tablePath, keys, order)
    // ONE listing + read per endpoint (manifest and meta together) —
    // this sits on the streaming source's per-micro-batch hot path,
    // where separate manifestAt/metaAt calls doubled the directory
    // listings and manifest reads
    val (manFrom, metaFrom) = manifestAndMetaAt(tablePath, fromVersion)
    val toV = toVersion.getOrElse(versionedHead(tablePath)._1)
    // a reversed range would present REVERTED old values as "inserts or
    // updates at their to-version values" — a silently different
    // question; fail it loudly (same standard as manifestAt)
    require(toV >= fromVersion,
      s"$tablePath: readChangesBetween range is reversed — " +
        s"fromVersion=$fromVersion > toVersion=$toV")
    val (manTo, metaTo) = manifestAndMetaAt(tablePath, toV)
    // a deletion has no upsert-feed representation — a consumer of the
    // plain feed would silently keep serving deleted keys. Refuse with
    // version granularity: the metadata records the LATEST delete's
    // version, so a range STARTING at-or-after it is provably complete
    // (every tombstone ≤ from — both endpoint images already exclude
    // the deleted keys), while a range that could contain a delete
    // refuses loudly. One delete does not poison the table's plain
    // consumers forever; they resume past it.
    val lastDelete = metaTo.get(TombstoneMeta)
      .map(v => v.toLongOption.getOrElse(Long.MaxValue)) // legacy "true"
    require(weighted || lastDelete.forall(_ <= fromVersion),
      s"$tablePath carries a delete at v${lastDelete.getOrElse(-1L)} " +
        s"inside or above this range (from=v$fromVersion): the plain " +
        "upsert feed cannot represent a deletion — use " +
        "readChangesWeighted (a deleted key is the bare __weight=-1 " +
        "last image), the graft-changes source with weighted=true, or " +
        "start the plain range at-or-after the delete version")
    // a rebucket inside the range redefines what a bucket ID means, so
    // no chain position is shared across it: every arm of both
    // manifests is side-specific and the kernel compares the whole
    // table — correct at the documented table-scale cost (a rebucket IS
    // a full rewrite, and a feed spanning it pays that scale once)
    val layoutChanged =
      metaFrom.get("numBuckets") != metaTo.get("numBuckets")
    // a bucket SUBSET is only meaningful within one layout — callers
    // ([[readChangesSlice]] via touchedBucketsAt) never construct one
    // across a resize, so this is a construction invariant, not a
    // user-facing contract
    require(bucketSubset.isEmpty || !layoutChanged,
      s"$tablePath: a bucket-restricted feed cannot span a layout change")
    // ARMS: every bucket whose chain entry changed — including one a
    // purge REMOVED from the manifest, whose retractions must not drop —
    // splits its from- and to-chain at their longest common prefix. The
    // prefix generations are read once for BOTH images (same chain
    // positions on both sides); the from-suffix only feeds the old
    // image, the to-suffix only the new one.
    def arms(b: Long, chain: Seq[String]): Seq[(String, Int, Long)] =
      chain.zipWithIndex.map { case (g, p) => (g, p, b) }
    val (both, olds, news) =
      if (layoutChanged)
        (Seq.empty, manFrom.toSeq.flatMap { case (b, c) => arms(b, chainOf(c)) },
          manTo.toSeq.flatMap { case (b, c) => arms(b, chainOf(c)) })
      else {
        val split = (manFrom.keySet ++ manTo.keySet).toSeq.sorted
          .filter(b => manFrom.get(b) != manTo.get(b) &&
            bucketSubset.forall(_.contains(b)))
          .map { b =>
            val f = arms(b, manFrom.get(b).map(chainOf).getOrElse(Seq.empty))
            val t = arms(b, manTo.get(b).map(chainOf).getOrElse(Seq.empty))
            val common = f.zip(t).takeWhile { case (x, y) => x == y }.length
            (f.take(common), f.drop(common), t.drop(common))
          }
        (split.flatMap(_._1), split.flatMap(_._2), split.flatMap(_._3))
      }
    val side = "__side"
    def read(triples: Seq[(String, Int, Long)], tag: String): Option[DataFrame] =
      readBucketTriples(spark, tablePath, triples)
        .map(_.withColumn(side, lit(tag)))
    val changed = (read(news, "new") ++ read(olds, "old"))
      .reduceOption(_.unionByName(_, allowMissingColumns = true))
      .getOrElse {
        // nothing changed — the steady state a CDC poller hits on every
        // idle tick: still carry the table's schema (footer-only, limit
        // 0) so downstream select/write is version-independent
        return readManifestBuckets(spark, tablePath, manTo).map { df =>
          val img = dropTombstones(resolveChainRead(df, manTo, keys, order))
            .drop("__bucket").limit(0)
          if (weighted) img.withColumn("__weight", lit(1L)) else img
        }.getOrElse(spark.emptyDataFrame)
      }
    // a key's image can only differ if the key has a suffix row on either
    // side: the prefix rows join in for those keys alone (null-safe — LWW
    // groups null keys), so every shuffle below is batch-scale whenever
    // the range is
    val rows = read(both, "both").fold(changed)(b => changed.unionByName(
      semiJoinNullSafe(b, changed, keys, dedupRight = false),
      allowMissingColumns = true))
    // KERNEL: one aggregate on the keys computes both images. A side's
    // winner is the row ranked first by `order :+ __seq` — the rank of
    // [[resolveChainRead]]: struct comparison puts nulls first, so the
    // max is the descending-nulls-last first row, and `(key, __seq)` is
    // unique within a side (every generation is LWW-deduped at write).
    // A winning tombstone is an absent image.
    val image = rows.columns.filterNot(Set(side, "__seq", "__bucket", TombstoneCol))
    val row = struct(image.map(c => col("`" + c.replace("`", "``") + "`")).toIndexedSeq: _*)
    val live =
      if (rows.columns.contains(TombstoneCol))
        when(!coalesce(col(TombstoneCol), lit(false)), row)
      else row
    val rank = struct((order :+ col("__seq")): _*)
    def winner(skip: String): Column = max_by(live, when(col(side) =!= skip, rank))
    val pairs = rows.groupBy(keys.map(col): _*)
      .agg(winner("old").as("__new"), winner("new").as("__old"))
      .filter(!(col("__new") <=> col("__old")))
    if (!weighted) pairs.filter(col("__new").isNotNull).select("__new.*")
    else pairs
      .select(explode(array(
        struct(col("__new").as("r"), lit(1L).as("w")),
        struct(col("__old").as("r"), lit(-1L).as("w")))).as("__d"))
      .filter(col("__d.r").isNotNull)
      .select(col("__d.r.*"), col("__d.w").as("__weight"))
  }

  /** Committed manifest versions still readable (oldest first). Version
    * numbers below the head are pruned by [[vacuumGenerations]]'s keep
    * window, so this is a sliding history, not the full log.
    */
  def tableVersions(tablePath: String): Seq[Long] =
    versionFiles(Paths.get(tablePath)).map(_._1).sorted

  /** The table's commit HISTORY as a DataFrame — the DESCRIBE-HISTORY
    * verb: one row per manifest version still inside the vacuum keep
    * window, oldest first, with the physical footprint and the
    * committed metadata at that version:
    *
    *  - `version`: the commit's manifest version;
    *  - `n_buckets`: buckets the manifest maps (the layout width);
    *  - `n_chain_segments`: total generation references across all
    *    bucket chains — the merge-on-read debt [[compactBucketChains]]
    *    folds and [[tableStats]] advises on;
    *  - `meta`: the manifest's `#key=value` map (spec, schema, layout,
    *    stream high-waters) verbatim.
    *
    * Driver-side by design: one listing + one manifest read per
    * version, bounded by the keep window (the same bound every
    * maintenance advisor rides); nothing row-scale. Exposed to pure
    * SQL as `spark.read.format("graft-table").option("history",
    * "true")`.
    */
  def tableHistory(spark: SparkSession, tablePath: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    def historyRow(v: Long, manifest: Map[Long, String],
        meta: Map[String, String]) =
      org.apache.spark.sql.Row(v, manifest.size.toLong,
        manifest.valuesIterator.map(chainOf(_).size.toLong).sum, meta)
    // ONE listing, then each listed manifest read directly — per-version
    // manifestAndMetaAt would re-list the directory per version (O(V²)
    // entries) AND fail loudly on a version a concurrent vacuum pruned
    // between the listing and the read; a pruned row just drops out of
    // the sliding history instead
    val entries = versionFiles(Paths.get(tablePath)).sortBy(_._1)
    val rows = entries.flatMap { case (v, p) =>
      try {
        val lines = Files.readAllLines(p).asScala.toSeq
        Some(historyRow(v, parseManifestLines(lines), parseMetaLines(lines)))
      } catch {
        case _: java.nio.file.NoSuchFileException => None // vacuum race
      }
    }
    if (rows.isEmpty) requireTableState(tablePath)
    spark.createDataFrame(
      new java.util.ArrayList(rows.asJava), TableHistorySchema)
  }

  /** Loud existence check shared by the read-only SQL maintenance
    * verbs (history/stats/advise): a mistyped path must error, never
    * read as "no commits", "0 buckets" or "healthy" — a silent empty
    * answer to a fleet-monitoring query is exactly the wrong-path
    * failure mode these verbs exist to surface. One wording for all
    * three (the specs pin it); a retired lock-path table is refused by
    * [[versionedHeadFull]] first.
    */
  private[graft] def requireTableState(tablePath: String): Unit =
    require(versionedHeadFull(tablePath)._1 > 0L,
      s"$tablePath has no committed versions — wrong path, or the table " +
        "was never created")

  /** [[tableHistory]]'s fixed schema — a constant so the SQL history
    * relation can declare itself WITHOUT reading the commit log (the
    * log is then re-read per scan, never frozen at registration).
    */
  val TableHistorySchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types.{LongType, MapType, StringType, StructField, StructType}
    StructType(Seq(
      StructField("version", LongType, nullable = false),
      StructField("n_buckets", LongType, nullable = false),
      StructField("n_chain_segments", LongType, nullable = false),
      StructField("meta", MapType(StringType, StringType), nullable = false)))
  }

  /** The bucket→chain manifest as of commit `version`. Fails loudly on
    * a version the vacuum keep window has pruned (or that never
    * committed) — returning the nearest survivor would silently answer
    * a different question.
    */
  private[graft] def manifestAt(tablePath: String, version: Long): Map[Long, String] =
    // ONE definition of the v0 rule and the loud-on-pruned contract:
    // [[manifestAndMetaAt]] (v0 = the empty pre-first-commit state — so
    // a change feed FROM v0 is the full bootstrap image, the contract the
    // streaming source's `startingVersion=0` documents)
    manifestAndMetaAt(tablePath, version)._1

  /** Manifest metadata as of commit `version` (empty for v0 and for
    * pre-meta manifests). Same loud-on-pruned contract as [[manifestAt]].
    */
  private def metaAt(tablePath: String, version: Long): Map[String, String] =
    manifestAndMetaAt(tablePath, version)._2

  /** Best-effort reclamation of generation directories no manifest entry
    * references (superseded or orphaned by a crash), plus the hidden
    * put-staging files of a crashed [[putIfAbsent]].
    *
    * `graceManifests` guards stalled readers: a reader that resolved the
    * manifest just before a superseding commit may still be scanning the
    * old generation when the vacuum runs. With grace N, every generation
    * referenced by the N most recent `_manifest.v*` versions below the
    * head is retained in addition to the head's — the reader's whole
    * resolved view survives. Grace 0 reclaims everything unreferenced.
    *
    * `quiesceMs` guards CONCURRENT WRITERS: an unreferenced `gen-*`
    * directory (or put-staging file) may belong to a commit in flight
    * right now — staged but not yet published — so only entries
    * quiescent longer than the dwell are reclaimed. The default minute
    * dwarfs any stage-commit window; pass 0 only when no writer can be
    * active (tests, offline maintenance).
    *
    * The version chain is pruned to a bounded keep window, deliberately wide
    * (≥ 64 versions): a writer stalled between reading head vN and
    * attempting v(N+1) for longer than the window could otherwise
    * publish a version number below an already-pruned one — the same
    * retention-must-exceed-transaction-duration contract every
    * versioned-log table format documents.
    */
  /** Read-only vacuum PREVIEW: what [[vacuumGenerations]] with the same
    * `graceManifests` would reclaim, and how much it weighs — the
    * operational "is retention sized right / is it worth running"
    * question answered without mutating anything. The real vacuum
    * additionally applies its quiescence dwell, so an in-flight
    * writer's staged generation can appear here as reclaimable and
    * still (correctly) survive the actual run.
    */
  final case class VacuumStats(liveGenerations: Int,
      reclaimableGenerations: Seq[String], reclaimableBytes: Long,
      retainedVersions: Int)

  def vacuumStats(tablePath: String,
      graceManifests: Int = 0): VacuumStats = {
    val dir = Paths.get(tablePath)
    if (!Files.exists(dir)) return VacuumStats(0, Seq.empty, 0L, 0)
    import scala.jdk.CollectionConverters._
    val vfiles = versionFiles(dir).sortBy(_._1)
    val live = liveGenerations(tablePath, vfiles, graceManifests)
    val s = Files.list(dir)
    val gens = try s.iterator().asScala.toList
      .filter(_.getFileName.toString.startsWith("gen-")) finally s.close()
    val dead = gens.filterNot(p => live.contains(p.getFileName.toString))
      .sortBy(_.getFileName.toString)
    // a vacuum can delete a dead generation mid-walk — count what remains
    val bytes = dead.map(generationFiles(_)._2).sum
    VacuumStats(live.size, dead.map(_.getFileName.toString), bytes,
      vfiles.size)
  }

  /** A retention recommendation — see [[adviseRetention]]. */
  final case class RetentionAdvice(head: Long, oldestReadable: Long,
      laggard: Option[(String, Long)], requiredGraceManifests: Int,
      intact: Boolean, reason: String)

  /** Size the vacuum keep window from OBSERVED consumer lag — the other
    * half of the retention contract every feed reader documents ("size
    * the keep window to exceed the stream's worst-case downtime"), which
    * until now the operator had to guess at. `consumers` are
    * (label, position) pairs: the oldest table version each consumer
    * still reads FROM —
    *
    *  - a maintained view: [[MaterializedAggView.watermark]] (a refresh
    *    or maintenance stream reads the feed from exactly there);
    *  - a `graft-changes` stream: [[graft.sources.ChangeFeedSourceProvider
    *    .checkpointPosition]]`._1` (the committed resume position);
    *  - a [[ChangeFeedConsumer]] poller: its persisted checkpoint.
    *
    * The advice: `requiredGraceManifests` is the SMALLEST
    * `graceManifests` under which [[vacuumGenerations]] keeps every
    * version from the slowest consumer's position to the head fully
    * readable (manifests AND the generations they reference — the
    * vacuum's live set is `takeRight(grace + 1)` version files, so the
    * bound is the count of versions above the laggard). `intact` reports
    * whether the laggard's position is STILL whole right now (its
    * manifest listed and every generation its chains reference present)
    * — false means a past vacuum already outran this consumer and its
    * next read will fail loudly; re-seed it (views: re-bootstrap)
    * rather than widening retention after the fact. With no consumers,
    * grace 0 suffices (current-head readers only).
    */
  def adviseRetention(tablePath: String,
      consumers: Seq[(String, Long)]): RetentionAdvice = {
    val versions = tableVersions(tablePath)
    require(versions.nonEmpty,
      s"$tablePath has no committed versions — nothing to retain")
    val head = versions.max
    val oldest = versions.min
    // validate EVERY consumer, not just the laggard — a misconfigured
    // label pointing at a different table must surface even when some
    // other consumer happens to lag lower
    consumers.foreach { case (label, v) =>
      require(v >= 0 && v <= head,
        s"$tablePath: consumer '$label' reports position v$v outside " +
          s"the committed range [0, $head] — is it a consumer of a " +
          "different table?")
    }
    val laggard = consumers.minByOption(_._2)
    val need = laggard.map(_._2).getOrElse(head)
    val required = versions.count(_ > need)
    val intact = laggard.forall { case (_, v) =>
      // v0 is the synthetic pre-first-commit state — always "readable".
      // Concurrent-reclaim tolerance (the same markers() discipline as
      // tableStats/vacuumStats): a vacuum pruning the laggard's version
      // file between the tableVersions snapshot and this read means
      // exactly "outran" — report intact=false, never throw from a
      // read-only advisor
      v == 0L || (versions.contains(v) &&
        scala.util.Try {
          import scala.jdk.CollectionConverters._
          val s = Files.list(Paths.get(tablePath))
          val gensOnDisk = try s.iterator().asScala
            .map(_.getFileName.toString).filter(_.startsWith("gen-")).toSet
          finally s.close()
          manifestAt(tablePath, v).values.flatMap(chainOf)
            .forall(gensOnDisk.contains)
        }.getOrElse(false))
    }
    RetentionAdvice(head, oldest, laggard, required, intact,
      laggard match {
        case None =>
          "no lagging consumers registered — grace 0 retains the head " +
            "for current readers"
        case Some((label, v)) if !intact =>
          s"consumer '$label' still needs v$v but retention already " +
            "outran it (manifest pruned or generations reclaimed) — " +
            "re-seed that consumer; future runs need graceManifests >= " +
            s"$required"
        case Some((label, v)) =>
          s"slowest consumer '$label' reads from v$v (head v$head) — " +
            s"vacuum with graceManifests >= $required to keep its whole " +
            "catch-up range alive"
      })
  }

  def vacuumGenerations(tablePath: String, graceManifests: Int = 0,
      quiesceMs: Long = 60000L): Seq[String] = {
    val dir = Paths.get(tablePath)
    if (!Files.exists(dir)) return Seq.empty
    import scala.jdk.CollectionConverters._
    val vfiles = versionFiles(dir).sortBy(_._1)
    val live = liveGenerations(tablePath, vfiles, graceManifests)
    val s = Files.list(dir)
    val (gens, staleTmp) =
      try {
        val entries = s.iterator().asScala.toList
        (entries.filter(_.getFileName.toString.startsWith("gen-")),
         // a crashed putIfAbsent's hidden staging file
         entries.filter { p =>
           val n = p.getFileName.toString
           (n.startsWith("._manifest.") || n.startsWith("._layout")) &&
             n.contains(".put-")
         })
      } finally s.close()
    // prune the version chain beyond the keep window (see scaladoc for
    // why the window must dwarf any writer's stage-commit span)
    vfiles.dropRight(math.max(graceManifests + 1, 16) * 4)
      .foreach { case (_, p) => Files.deleteIfExists(p) }
    // only reclaim staging files demonstrably ABANDONED: a concurrent
    // writer may be between writeFsynced(tmp) and the link right now,
    // and deleting its tmp would fail that commit. One minute dwarfs any
    // write-fsync-link window while still reclaiming crash leftovers.
    val now = System.currentTimeMillis()
    staleTmp
      .filter(p => now - Files.getLastModifiedTime(p).toMillis > quiesceMs)
      .foreach(Files.deleteIfExists(_))
    gens.filterNot(p => live.contains(p.getFileName.toString))
      // same dwell rule as the tmp sweep, for generation DIRECTORIES: a
      // concurrent writer may be between staging gen-N and its manifest
      // commit right now — the dir exists, no manifest references it yet,
      // and deleting it would tear the commit. Quiescence is judged on
      // the NEWEST mtime in the tree, not the dir's own: an in-flight
      // job writes only under nested `_temporary` paths (the dir mtime
      // advances at job start and commit but not in between), so an
      // active long write keeps its deep mtime fresh while a crashed
      // job's leftovers go stale and reclaim after the same dwell. The
      // walk touches only UNREFERENCED gen dirs — bounded.
      .filter(p => now - newestMtimeMs(p) > quiesceMs)
      .sortBy(_.getFileName.toString)
      .map { p => deleteRecursively(p); p.getFileName.toString }
  }

  /** Newest modification time anywhere under `p` — the in-flight-write-
    * aware quiescence clock of [[vacuumGenerations]]'s generation sweep.
    */
  private[sink] def newestMtimeMs(p: Path): Long = {
    import scala.jdk.CollectionConverters._
    val s = Files.walk(p)
    try s.iterator().asScala
      .map(q => scala.util.Try(Files.getLastModifiedTime(q).toMillis)
        .getOrElse(Long.MaxValue)) // vanished mid-walk: treat as active
      .foldLeft(0L)(math.max)
    finally s.close()
  }

  /** The generations [[vacuumGenerations]] (and its preview) must keep:
    * every chain member of the head and of the `graceManifests`
    * versions below it.
    */
  private def liveGenerations(tablePath: String, vfiles: Seq[(Long, Path)],
      graceManifests: Int): Set[String] =
    readManifest(tablePath).values.flatMap(chainOf).toSet ++
      vfiles.takeRight(graceManifests + 1).flatMap { case (_, p) => manifestValues(p) }

  private def manifestValues(p: Path): Set[String] = {
    import scala.jdk.CollectionConverters._
    // values are `;`-chains — every member is live
    parseManifestLines(Files.readAllLines(p).asScala.toSeq)
      .values.flatMap(chainOf).toSet
  }
}

/** Date-partitioned event storage: the layout that makes time-ranged
  * queries at 100 TB read only their days (partition pruning at the
  * scan, verified in PartitionedSinkSpec via the PartitionFilters of the
  * physical scan). Hive-style `day=YYYY-MM-DD/` directories.
  */
object PartitionedSink {

  def writeDatePartitioned(events: DataFrame, path: String): Unit =
    events
      // UTC day from epoch-microsecond arithmetic — date_format renders
      // in spark.sql.session.timeZone, so the partition label would
      // depend on session config (two differently-configured writers
      // would split the same UTC day across partitions); this form is
      // config-independent and identical to the old one under the
      // repo's pinned-UTC sessions
      .withColumn("day", date_add(lit("1970-01-01").cast("date"),
        floor(unix_micros(col("ts_utc")) / lit(86400000000L)).cast("int"))
        .cast("string"))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("day")
      .parquet(path)

  def readDay(spark: SparkSession, path: String, day: String): DataFrame =
    spark.read.parquet(path).filter(col("day") === day)
}

object AuditSink {

  /** K3: the observe channel — union of all stage outputs with a stage tag.
    * In the reference this is the catch-all observeRule delivering every
    * bus event to the observe Lambda (stack.ts:276-283). Union is the
    * Spark-native multicast-listener: no shuffle, partitions concatenate.
    */
  def tap(stages: Map[String, DataFrame]): DataFrame = {
    require(stages.nonEmpty,
      "AuditSink.tap needs at least one stage (an empty reduce would throw opaquely)")
    stages
      .map { case (stage, df) =>
        df.select(
          lit(stage).as("stage"),
          col("source"), col("detailType"), col("time"))
      }
      .reduce(_ unionByName _)
  }

  /** The README.md:27 "tally" the reference suggests but never built:
    * reconcile extracted-vs-loaded counts per stage.
    */
  def tally(audit: DataFrame): DataFrame =
    audit.groupBy(col("stage")).agg(count(lit(1)).as("n")).orderBy(col("stage"))
}
