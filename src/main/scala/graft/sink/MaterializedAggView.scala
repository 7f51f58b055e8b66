package graft.sink

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained group-by view over a versioned keyed table
  * ([[KeyedUpsertSink]] optimistic / delta protocol): the classic
  * materialized-view maintenance loop. `refresh` reads the WEIGHTED
  * change feed ([[KeyedUpsertSink.readChangesWeighted]]) from the
  * view's watermark to the base table's head — O(changed buckets), never
  * the base table — and folds `sum(expr * __weight)` per group into the
  * stored view: +1 rows add each updated key's new contribution, -1
  * rows subtract its superseded one. At 100 TB base scale a refresh
  * costs the CHANGE volume plus a view-sized merge, where a recompute
  * costs the table.
  *
  * Supported aggregates are the distributive sums ([[AggCol]]): SUM of
  * any deterministic row-level expression, COUNT as `sum(1)`. AVG
  * derives on read (`sum/n`). MIN/MAX ([[ExtremumCol]]) are maintained
  * with the classic two-path scheme — cheap insert folding, bounded
  * dirty-group recompute on a retracted extremum (see [[ExtremumCol]]).
  * Exact COUNT DISTINCT ([[DistinctCol]]) is maintained through a
  * per-column multiplicity aux table folded from the same feed — never
  * the base (see [[DistinctCol]]).
  *
  * Exactness contract: with exact-typed expressions (integral /
  * decimal) the maintained view equals the from-scratch recompute
  * bit-for-bit — integer adds commute with retraction. Floating-point
  * sums drift under reordering; use decimals where equality matters.
  * ANSI overflow on a maintained sum fails loudly (bound the expression
  * or aggregate through a decimal).
  *
  * Storage and crash contract: each refresh publishes the merged view
  * under a per-attempt unique `viewPath/v<H>-<uuid>/` directory — the
  * view rows under `view/`, each distinct column's multiplicity table
  * under `aux_<name>/` — staged together, then ONE atomic rename — and
  * THEN commits a put-if-absent `_head.v<H>` watermark MARKER whose
  * content names that directory. The marker is the commit point: a
  * crash between the two leaves a complete-but-unreferenced directory
  * that the re-run deterministically rebuilds (same (watermark, head]
  * delta range ⇒ same view), so the maintenance loop is
  * effectively-once without a transaction log. The previous committed
  * version is retained for in-flight readers (one-version grace, the
  * view-side analogue of the base table's vacuum `graceManifests`);
  * unreferenced versions are reclaimed at publish.
  *
  * Single maintainer per view path — and, unlike a convention, ENFORCED:
  * the watermark advance is a compare-and-swap over the marker chain
  * (see [[publish]]), so a concurrent or stalled second maintainer
  * fails loudly with `ConcurrentModificationException` instead of
  * regressing the watermark or deleting a newer version's files
  * (MaterializedViewRaceSpec races two real JVMs through it).
  *
  * Retention: the watermark must stay inside the base table's vacuum
  * keep window. A view stalled past it fails with `manifestAt`'s loud
  * error — re-bootstrap deliberately with `force = true`.
  */
object MaterializedAggView {

  /** One maintained aggregate: `SUM(expr)` published as `name`.
    * `expr` is evaluated against the base table's resolved rows and
    * must be deterministic and row-level. COUNT is `AggCol(n, lit(1L))`.
    */
  final case class AggCol(name: String, expr: Column)

  /** One maintained MIN/MAX: non-distributive under retraction, so it is
    * maintained with the classic two-path scheme. Inserts are cheap —
    * the new extremum is `least/greatest(stored, delta)`. A retraction
    * can only invalidate the stored extremum when the retracted value
    * TIES it (a superseded image's value is never strictly beyond the
    * stored extremum of its own version); those groups — and only those
    * — are recomputed from the base at head, filtered to the dirty dim
    * values. Multiplicity makes the tie test conservative: two keys
    * sharing the minimum and one retracting triggers a recompute that
    * lands on the unchanged answer — correct, just not free. The dirty
    * path is the bounded fallback; refreshes whose retractions never
    * touch an extremum (the common case) skip the base read entirely,
    * and [[onExtremaRecompute]] makes that observable.
    */
  final case class ExtremumCol(name: String, expr: Column, isMin: Boolean) {
    private[MaterializedAggView] def fold(c: Column): Column =
      if (isMin) min(c) else max(c)
    private[MaterializedAggView] def agg(as: String): Column =
      fold(expr).as(as)
  }

  /** One maintained exact `COUNT(DISTINCT expr)` (nulls ignored, SQL
    * semantics). Distinct counts are not distributive under retraction
    * either, but unlike MIN/MAX they never need the base: the view
    * carries an auxiliary MULTIPLICITY table per distinct column —
    * `(dims, value) → live-key count` — stored as
    * `v<H>/aux_<name>/` beside the view data and folded from the same
    * weighted feed (`sum(__weight)` per (group, value); a value's row
    * leaves the aux when its multiplicity reaches 0). The published
    * count is the aux's live-row count per group. Space is the classic
    * price: the aux holds one row per distinct (group, value) pair —
    * bounded by the base's distinct pairs, not its rows; at 100 TB this
    * is the difference between a view-sized merge and re-scanning the
    * table for every COUNT DISTINCT refresh.
    */
  final case class DistinctCol(name: String, expr: Column)

  /** Test/telemetry seam: invoked with the dirty-group count just before
    * a refresh reads the base table to re-derive retracted extrema. NOT
    * invoked on refreshes whose retractions leave every stored extremum
    * standing — those never touch the base (the view's whole point).
    */
  private[graft] var onExtremaRecompute: Long => Unit = _ => ()

  /** Routing bound for the dirty-extremum recompute: at or below this
    * many estimated dirty live keys the key-bounded
    * [[KeyedUpsertSink.readBucketedDeltaMatching]] read wins (its
    * candidate-key set broadcasts, so only the dirty keys' rows ever
    * shuffle); above it the single full-table LWW window is the
    * predictable cost. 500k keys sits well under Spark's default
    * broadcast threshold for numeric keys and within ~2× of it for
    * wide string keys — a mis-route costs at most ~1.3× the plain
    * window (measured), never a cliff.
    */
  private[graft] val DirtyKeysBoundedReadMax: Long = 500000L

  /** Test/telemetry seam: (estimated dirty live keys, chosen path —
    * "bounded" | "full") for each dirty-extremum recompute.
    */
  private[graft] var onDirtyRoute: (Long, String) => Unit = (_, _) => ()

  private val WeightCol = "__weight"

  /** Hidden per-group live-row count; a group leaves the view when its
    * last contributing key is retracted (count reaches 0).
    */
  private val CountCol = "__n"

  /** Test seam: runs between the view-data publish and the watermark
    * advance — the crash window the scaladoc's effectively-once argument
    * covers. Production never sets it.
    */
  private[graft] var onBeforeHeadPublish: () => Unit = () => ()

  /** Test seam for the force-bootstrap crash windows: invoked between
    * the overwrite path's ordered steps with the step just COMPLETED
    * ("cleared-higher" | "published" | "cleared-lower"), so a spec can
    * throw mid-force and assert the documented invariant — no crash
    * outcome serves a version above the new head, and nothing above it
    * is destroyed before the new marker is readable. Production never
    * sets it.
    */
  private[graft] var onForceStep: String => Unit = _ => ()

  /** Refuses a view directory in a layout written before the `_head.v*`
    * markers and the `_incarnation` token: nothing reads or maintains it.
    */
  private def refuseLegacy(viewPath: String, found: String): Nothing =
    throw new IllegalStateException(
      s"$viewPath $found — a view layout this engine no longer reads. A " +
        "view is derived state: delete the view directory and bootstrap it")

  /** The view's INCARNATION: a uuid minted at bootstrap and REPLACED by
    * every force re-bootstrap — the token that lets a maintenance
    * stream's checkpoint detect that the view it is bound to was
    * deliberately rebuilt. Version arithmetic alone cannot: a force
    * onto a recreated base whose new head sits at or above the
    * checkpoint's old floor passes every watermark comparison while the
    * checkpoint's OFFSETS still point into the old history — resuming
    * would silently fold only the tail of the new one. The stream
    * persists the incarnation it first bound to under its checkpoint
    * and refuses a mismatch at start.
    */
  private def incarnationFile(viewPath: String): Path =
    Paths.get(viewPath, "_incarnation")

  /** Read (minting one first for a fresh view) the view's incarnation
    * token.
    */
  private def incarnation(viewPath: String): String = {
    val f = incarnationFile(viewPath)
    if (!Files.exists(f))
      KeyedUpsertSink.putIfAbsent(f,
        (java.util.UUID.randomUUID().toString + "\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    storedIncarnation(viewPath).get
  }

  /** The view's incarnation token if one was ever minted (never mints). */
  private def storedIncarnation(viewPath: String): Option[String] = {
    val f = incarnationFile(viewPath)
    if (!Files.exists(f)) None
    else Some(new String(Files.readAllBytes(f),
      java.nio.charset.StandardCharsets.UTF_8).trim)
  }

  /** A watermark position: base version `v` fully applied PLUS the first
    * `c` buckets (of version v+1's sorted touched-bucket list) — the
    * same (version, bucketCursor) convention as the `graft-changes`
    * sub-version stream offset, because a SLICED maintenance stream's
    * folds land exactly on those offsets. A clean version boundary is
    * `c == 0` — every watermark of an unsliced view. Ordered
    * lexicographically.
    */
  private def lexLt(a: (Long, Long), b: (Long, Long)): Boolean =
    a._1 < b._1 || (a._1 == b._1 && a._2 < b._2)

  private def fmtMark(m: (Long, Long)): String =
    if (m._2 == 0L) s"v${m._1}" else s"(v${m._1}, bucket cursor ${m._2})"

  /** One committed watermark marker: `_head.v<H>` at a clean version
    * boundary (zero-padded so a plain listing orders numerically — the
    * only form pre-cursor views ever wrote, so old views resolve
    * unchanged), `_head.v<H>.c<C>` for a mid-version position. CONTENT =
    * the unique directory name holding that position's data. The marker
    * file IS the commit — published via [[KeyedUpsertSink.putIfAbsent]],
    * so exactly one maintainer wins each position, the watermark (the
    * lexicographic max marker) can never regress, and racing maintainers
    * never share a data directory.
    */
  private def markerPath(viewPath: String, m: (Long, Long)): Path =
    if (m._2 == 0L) Paths.get(viewPath, f"_head.v${m._1}%020d")
    else Paths.get(viewPath, f"_head.v${m._1}%020d.c${m._2}%010d")

  /** Committed markers as ((version, cursor), directory name), sorted.
    * A marker the maintainer's keep-window prune unlinks between this
    * listing and its read is skipped, not fatal — concurrent readers
    * are exactly what the grace design supports, and a pruned marker
    * was by construction far below the watermark. A directory holding
    * the pre-marker `_head` file and no marker is refused.
    */
  private def markers(viewPath: String): Seq[((Long, Long), String)] = {
    val root = Paths.get(viewPath)
    if (!Files.isDirectory(root)) return Seq.empty
    import scala.jdk.CollectionConverters._
    val s = Files.list(root)
    val found = try s.iterator().asScala.toList.flatMap { p =>
      val n = p.getFileName.toString
      if (!n.startsWith("_head.v")) None
      else {
        val body = n.stripPrefix("_head.v")
        val mark = body.split("\\.c", 2) match {
          case Array(v) => v.toLongOption.map((_, 0L))
          case Array(v, c) =>
            for (vl <- v.toLongOption; cl <- c.toLongOption) yield (vl, cl)
        }
        mark.flatMap { m =>
          try Some(m -> new String(Files.readAllBytes(p),
            java.nio.charset.StandardCharsets.UTF_8).trim)
          catch { case _: java.nio.file.NoSuchFileException => None }
        }
      }
    } finally s.close()
    if (found.isEmpty && Files.exists(root.resolve("_head")))
      refuseLegacy(viewPath, "holds a `_head` watermark file and no `_head.v*` marker")
    found.sortBy(_._1)
  }

  /** Directory holding position `m`'s data: the marker's recorded name. */
  private def viewDirAt(viewPath: String, m: (Long, Long)): Path =
    markers(viewPath).find(_._1 == m) match {
      case Some((_, dir)) => Paths.get(viewPath, dir)
      case None => throw new java.util.ConcurrentModificationException(
        s"$viewPath: the marker of ${fmtMark(m)} is gone — another " +
          "maintainer advanced the view past it concurrently. The view " +
          "is single-maintainer: run one refresh loop")
    }

  /** The view data lives under `<versionDir>/view/`; each distinct
    * column's multiplicity table under `<versionDir>/aux_<name>/` — one
    * directory per version so the stage → single-atomic-rename publish
    * and the whole-dir retention/cleanup cover both.
    */
  private def viewData(versionDir: Path): Path = versionDir.resolve("view")

  private def auxData(versionDir: Path, name: String): Path =
    versionDir.resolve(s"aux_$name")

  /** Per-(viewPath, incarnation, leaf) inferred-schema cache (round-19
    * optimization): every view/aux parquet read paid a schema-inference
    * job, and a steady-state refresh reads view + one dir per distinct
    * column per invocation — for schemas that are CONSTANT within an
    * incarnation (publish validates the column set; the base table's
    * evolution contract refuses retypes). Keyed by the incarnation
    * token, so a force re-bootstrap (the one legal schema change)
    * misses instead of serving a stale schema. A view without an
    * incarnation predates the token and is refused.
    */
  private val viewSchemaCache = new java.util.concurrent.ConcurrentHashMap[
    (String, String, String), org.apache.spark.sql.types.StructType]()

  private def readDataDir(spark: SparkSession, viewPath: String,
      dataDir: Path): DataFrame = {
    val key = {
      val inc = storedIncarnation(viewPath).getOrElse(
        refuseLegacy(viewPath, "has no `_incarnation` token"))
      // Keyed by LEAF name (not the full version-dir path) on purpose:
      // the schema is constant across version dirs within one
      // incarnation, and per-version keying would re-pay a schema-
      // inference job after EVERY publish (measured: it doubled the
      // steady-state view-refresh wall). The one hole — a read during
      // the force re-bootstrap window resolves the OLD version dir but
      // would cache its schema under the NEW token — is closed at the
      // source: the force publish clears this view's entries after its
      // marker lands (see [[publish]]'s overwrite branch).
      (viewPath, inc, dataDir.getFileName.toString)
    }
    if (viewSchemaCache.size > 8192) viewSchemaCache.clear()
    val schema = viewSchemaCache.computeIfAbsent(key,
      _ => spark.read.parquet(dataDir.toString).schema)
    spark.read.schema(schema).parquet(dataDir.toString)
  }

  /** Aux multiplicity columns: the distinct expression's value and its
    * live-key count per (dims, value).
    */
  private val AuxValCol = "__v"
  private val AuxMulCol = "__m"

  /** The view's watermark: the base-table version its stored state
    * reflects — the max committed `_head.v*` marker. None before
    * bootstrap.
    */
  def watermark(viewPath: String): Option[Long] =
    watermarkFull(viewPath).map(_._1)

  /** The full (version, bucketCursor) watermark: versions `<= _1` are
    * fully applied, plus — when `_2 > 0` — the first `_2` buckets of
    * version `_1 + 1` (a SLICED maintenance stream's mid-version
    * position; see [[markerPath]]). [[watermark]] is its version
    * component, truthful either way ("fully reflects v"), which is all
    * clean-boundary consumers need.
    */
  def watermarkFull(viewPath: String): Option[(Long, Long)] =
    markers(viewPath).lastOption.map(_._1)

  private def validate(dims: Seq[String], aggs: Seq[AggCol],
      extrema: Seq[ExtremumCol], distincts: Seq[DistinctCol]): Unit = {
    require(dims.nonEmpty, "dims must be non-empty — a global (no-group) " +
      "aggregate has no group rows to retract; wrap it in a constant dim")
    require(aggs.nonEmpty, "aggs must be non-empty")
    val names = dims ++ aggs.map(_.name) ++ extrema.map(_.name) ++
      distincts.map(_.name)
    require(names.distinct == names,
      s"dim/agg names collide: ${names.mkString(", ")}")
    require(names.forall(_.nonEmpty), "empty dim/agg/extremum name")
    require(!names.exists(_.startsWith("__")),
      "the __ prefix is reserved for the view's internal columns " +
        s"($WeightCol, $CountCol, refresh scratch); rename: " +
        names.filter(_.startsWith("__")).mkString(", "))
  }

  /** One delta (or bootstrap) pass: per-group sums weighted by the
    * `__weight` column — bootstrap adds it as a bigint 1 (see
    * [[bootstrap]]), the feed carries it — so both paths produce
    * identical column types. (A `lit(1L)` weight would not: Spark types
    * the literal as `decimal(1,0)` in decimal arithmetic and the column
    * as `decimal(20,0)`, so a decimal sum would be stored narrower at
    * bootstrap than every fold publishes it.)
    */
  private def aggregate(df: DataFrame, dims: Seq[String],
      aggs: Seq[AggCol], extrema: Seq[ExtremumCol],
      distincts: Seq[DistinctCol]): DataFrame = {
    val weight = col(WeightCol)
    val cols = aggs.map(a => sum(a.expr * weight).as(a.name)) ++
      extrema.map(e => e.agg(e.name)) ++
      distincts.map(d => count_distinct(d.expr).as(d.name)) :+
      sum(weight).as(CountCol)
    df.groupBy(dims.map(col): _*).agg(cols.head, cols.tail: _*)
  }

  /** One distinct column's multiplicity table over `df`: live-key count
    * per (dims, value), nulls excluded (SQL COUNT DISTINCT semantics),
    * weighted by the `__weight` column.
    */
  private def buildAux(df: DataFrame, dims: Seq[String],
      d: DistinctCol): DataFrame =
    df.filter(d.expr.isNotNull)
      .groupBy((dims.map(col) :+ d.expr.as(AuxValCol)): _*)
      .agg(sum(WeightCol).as(AuxMulCol))

  /** Fold a delta aggregate into the stored view: per-group sums add
    * (`sum` skips the side that lacks the group), then groups whose
    * live-row count hit 0 leave the view.
    */
  private def merge(old: DataFrame, delta: DataFrame, dims: Seq[String],
      aggs: Seq[AggCol]): DataFrame = {
    val sums = aggs.map(_.name) :+ CountCol
    val cols = sums.map(n => sum(col(n)).as(n))
    old.unionByName(delta)
      .groupBy(dims.map(col): _*).agg(cols.head, cols.tail: _*)
      .filter(col(CountCol) =!= 0L)
  }

  /** Stage → unique version directory → CAS watermark advance →
    * reclaim. THE single-maintainer enforcement point: the watermark is
    * a chain of put-if-absent `_head.v<H>` markers (each naming its
    * unique data directory), and advancing requires BOTH
    *
    *  1. the current watermark to still be the `expectFrom` this pass
    *     refreshed from — a maintainer that stalled while another
    *     advanced fails loudly HERE, before its marker can land (the
    *     old mutable `_head` file let that stall silently move the
    *     watermark backward), and
    *  2. winning the putIfAbsent on the new marker — of two maintainers
    *     racing the same head, exactly one commits.
    *
    * The watermark is the max marker, so it is monotonic by
    * construction even in the one benign interleaving both checks pass
    * (two maintainers reading the same `expectFrom` but targeting
    * DIFFERENT heads: both publish, readers resolve the max, and both
    * directories hold correct content for their versions). A loser's
    * staged directory is never referenced and is reclaimed by the next
    * successful publish. `overwrite` is the force-bootstrap override:
    * a deliberate atomic marker replace (plus clearing every other
    * marker) instead of the CAS.
    */
  private def publish(viewPath: String, expectFrom: Option[(Long, Long)],
      head: (Long, Long), view: DataFrame,
      auxes: Seq[(String, DataFrame)] = Seq.empty,
      overwrite: Boolean = false): Unit = {
    val root = Paths.get(viewPath)
    Files.createDirectories(root)
    // mid-version data dirs carry the cursor in their name; versionOf
    // still parses the version component, so the reclaim sweep rule
    // (`v <= wm`) covers both forms
    val headTag =
      if (head._2 == 0L) s"v${head._1}" else s"v${head._1}-c${head._2}"
    val stage = root.resolve(
      s".stage-$headTag-${java.util.UUID.randomUUID().toString.take(8)}")
    StateWriter(view).mode("overwrite").parquet(stage.resolve("view").toString)
    auxes.foreach { case (name, df) =>
      StateWriter(df).mode("overwrite").parquet(
        stage.resolve(s"aux_$name").toString)
    }
    // the data directory is PER-ATTEMPT unique: a crash between a past
    // publish and its marker leaves an unreferenced directory this
    // re-run never touches (it stages its own deterministic rebuild),
    // and two racing maintainers can never delete files out from under
    // each other's readers
    val dirName = s"$headTag-${java.util.UUID.randomUUID().toString.take(8)}"
    Files.move(stage, root.resolve(dirName), StandardCopyOption.ATOMIC_MOVE)
    KeyedUpsertSink.fsyncDir(root)
    onBeforeHeadPublish()
    val marker = markerPath(viewPath, head)
    val bytes = s"$dirName\n".getBytes(java.nio.charset.StandardCharsets.UTF_8)
    if (overwrite) {
      // force re-bootstrap: deliberately discard maintained state. The
      // multi-step replace cannot be atomic, so the ORDERING pins which
      // crash outcomes are possible — the one outcome no crash may
      // produce is the view silently serving a version ABOVE the new
      // head forever (watermark = max marker; reclaim never touches
      // dirs above it; plain readers have no guard that would notice —
      // a refresh fails loud on head<from and a maintenance stream on
      // the startingVersion bound, but a reader-only deployment never
      // learns). So: (1) stale HIGHER markers clear FIRST — markers
      // only, their data dirs stay on disk, so a crash here leaves the
      // view either on an older lower marker or loudly watermark-less,
      // both recoverable by re-running the force, nothing destroyed;
      // (2) the new marker publishes (atomic replace) — the view now
      // reads the forced state; (3) stale LOWER markers clear (their
      // dirs sit at/below the watermark where reclaim's rule sweeps
      // them); (4) the higher markers' now-unreferenced dirs go
      // (reclaim's `v <= wm` rule never would — a crash between (2)
      // and (4) leaks them until the force is re-run, the benign
      // residual). Single-actor by declaration: force is an operator
      // action.
      markers(viewPath).filter(m => lexLt(head, m._1)).foreach { case (m, _) =>
        Files.deleteIfExists(markerPath(viewPath, m))
      }
      onForceStep("cleared-higher")
      val tmp = root.resolve(s".${marker.getFileName}.tmp-" +
        java.util.UUID.randomUUID().toString.take(8))
      KeyedUpsertSink.writeFsynced(tmp, bytes)
      Files.move(tmp, marker, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
      KeyedUpsertSink.fsyncDir(root)
      onForceStep("published")
      markers(viewPath).filter(_._1 != head)
        .foreach(m => Files.deleteIfExists(markerPath(viewPath, m._1)))
      onForceStep("cleared-lower")
      // ALL data dirs above the new head go — not just the ones whose
      // markers this run listed: a previous force that crashed after
      // its marker-clear left orphaned higher dirs that neither
      // reclaim's `v <= wm` rule nor a marker-driven sweep would ever
      // touch. Above-head dirs are provably not the just-published
      // state (its version IS head), and force is single-actor.
      versionsOnDisk(root).filter(_._1 > head._1).foreach { case (_, p) =>
        try KeyedUpsertSink.deleteRecursively(p)
        catch { case _: java.nio.file.NoSuchFileException => () }
      }
      // a read that raced this force (resolved an OLD version dir after
      // the incarnation rotated) may have cached the old schema under
      // the NEW token — purge this view's entries now that the forced
      // state is published; the prime below re-fills the leaves written
      viewSchemaCache.keySet.removeIf(_._1 == viewPath)
    } else {
      // the loser's just-moved directory is provably unreferenced (its
      // marker was never written — or, on a put-if-absent loss, the
      // existing marker names the WINNER's directory), so delete it
      // HERE: reclaim() only runs on later successful publishes, and an
      // operator who heeds the error and stops this loop would
      // otherwise leak a full view copy forever
      def lose(msg: String): Nothing = {
        // best-effort: the WINNER's reclaim may have deleted this
        // unreferenced dir already (it sits at/below the new watermark)
        try KeyedUpsertSink.deleteRecursively(root.resolve(dirName))
        catch { case _: java.nio.file.NoSuchFileException => () }
        throw new java.util.ConcurrentModificationException(msg)
      }
      val cur = watermarkFull(viewPath)
      if (cur != expectFrom) lose(
        s"$viewPath: watermark is ${cur.fold("absent")(fmtMark)} but this " +
          s"maintainer refreshed from ${expectFrom.fold("nothing (bootstrap)")(fmtMark)} — " +
          "another maintainer advanced the view concurrently; this pass's " +
          "staged version (never referenced) was reclaimed. The view is " +
          "single-maintainer: run one refresh loop")
      if (!KeyedUpsertSink.putIfAbsent(marker, bytes)) lose(
        s"$viewPath: another maintainer already published watermark " +
          s"${fmtMark(head)} — two refreshers raced the same head; this " +
          "maintainer's staged version (never referenced) was " +
          "reclaimed. The view is single-maintainer: run one refresh loop")
    }
    // PRIME the schema cache with what this publish wrote (fields relaxed
    // to nullable, as parquet footer inference reports them): the next
    // read of this incarnation skips its schema-inference job — the
    // first refresh or fold after a bootstrap or JVM start paid one —
    // and a cached schema that differs from the one just published (a
    // view stored with an older writer's types, say a bootstrap that
    // typed a decimal sum narrower than the fold does) is replaced
    // instead of failing every later read on the column's type.
    storedIncarnation(viewPath).foreach { token =>
      if (viewSchemaCache.size > 8192) viewSchemaCache.clear()
      (("view", view) +: auxes.map { case (n, df) => (s"aux_$n", df) })
        .foreach { case (leaf, df) =>
          viewSchemaCache.put((viewPath, token, leaf),
            org.apache.spark.sql.types.StructType(
              df.schema.fields.map(_.copy(nullable = true))))
        }
    }
    reclaim(root, viewPath)
  }

  /** Reclamation, only ever run by a maintainer that just COMMITTED.
    * Keeps the top-2 marker-referenced directories (current watermark +
    * reader grace; plus the top-2 CLEAN versions' under sliced
    * maintenance — see below) and every directory whose version exceeds
    * the watermark (a concurrent maintainer's in-flight publish). Loser
    * directories, crash leftovers at or below the watermark, markers
    * beyond a keep window, and stages quiescent past a one-minute dwell
    * (a LIVE stage belongs to a concurrent maintainer mid-publish) go.
    */
  private def reclaim(root: Path, viewPath: String): Unit = {
    import scala.jdk.CollectionConverters._
    val ms = markers(viewPath)
    val wm = ms.lastOption.map(_._1).getOrElse(return)
    // keep the last 2 POSITIONS (current + grace) plus the last 2 CLEAN
    // version boundaries: under sliced maintenance consecutive publishes
    // are slice folds of one version, and "two publishes of grace"
    // would shrink the reader's window from two version advances to two
    // slices — retaining the last two clean positions restores it, at a
    // bounded ≤ 4 retained dirs; with no slices in flight the two sets
    // coincide and this is exactly the old top-2 rule
    val keepMs = (ms.takeRight(2) ++
      ms.filter(_._1._2 == 0L).takeRight(2)).distinct
    val keepDirs: Set[String] = keepMs.map(_._2).toSet
    // markers prune to the SAME window as retained data directories —
    // a marker whose directory is gone is a dangling audit surface, not
    // history (the old keep-16 window left markers 3..16 pointing at
    // deleted directories)
    ms.filterNot(keepMs.contains)
      .foreach(m => Files.deleteIfExists(markerPath(viewPath, m._1)))
    val now = System.currentTimeMillis()
    Files.list(root).iterator().asScala.toList.foreach { p =>
      val name = p.getFileName.toString
      if (name.startsWith(".stage-")) {
        if (now - KeyedUpsertSink.newestMtimeMs(p) > 60000L)
          KeyedUpsertSink.deleteRecursively(p)
      } else if ((name.startsWith("._head.") ||
          name.startsWith("._incarnation.")) &&
          (name.contains(".put-") || name.contains(".tmp-"))) {
        // a crashed putIfAbsent / force-publish leaves its fsynced tmp
        // file in the view root (the table-side vacuum sweeps the
        // analogous `._manifest*.put-*`; nothing else covers the view
        // dir) — same quiescence dwell as stages, in case it belongs
        // to a concurrent maintainer mid-publish
        if (now - KeyedUpsertSink.newestMtimeMs(p) > 60000L)
          Files.deleteIfExists(p)
      } else versionOf(name).foreach { v =>
        // mid-version dirs parse to their version component, which by
        // the marker convention (versions <= v fully applied) sits at or
        // below the watermark version whenever they are reclaimable
        if (!keepDirs.contains(name) && v <= wm._1)
          KeyedUpsertSink.deleteRecursively(p)
      }
    }
  }

  /** Version of a data directory name (`v<N>-<suffix>`, mid-version
    * `v<N>-c<C>-<suffix>`).
    */
  private def versionOf(name: String): Option[Long] =
    if (!name.startsWith("v")) None
    else name.drop(1).split("-", 2)(0).toLongOption

  private def versionsOnDisk(root: Path): Seq[(Long, Path)] = {
    import scala.jdk.CollectionConverters._
    if (!Files.isDirectory(root)) Seq.empty
    else Files.list(root).iterator().asScala.toList.flatMap { p =>
      versionOf(p.getFileName.toString).map(_ -> p)
    }
  }

  /** First run: full group-by over the base table resolved at its head,
    * published as the view with the head as watermark. Returns that
    * head; None when the base has no commits yet. Refuses an existing
    * view without `force = true` (an accidental re-bootstrap silently
    * discards maintained state and re-reads the whole base).
    */
  def bootstrap(spark: SparkSession, basePath: String, viewPath: String,
      keys: Seq[String], order: Seq[Column], dims: Seq[String],
      aggs: Seq[AggCol], extrema: Seq[ExtremumCol] = Seq.empty,
      distincts: Seq[DistinctCol] = Seq.empty,
      force: Boolean = false): Option[Long] = {
    validate(dims, aggs, extrema, distincts)
    watermark(viewPath).foreach { v =>
      require(force,
        s"$viewPath already holds a view at watermark v$v — " +
          "re-bootstrapping discards it and re-reads the whole base; " +
          "pass force = true to do that deliberately")
    }
    val versions = KeyedUpsertSink.tableVersions(basePath)
    if (versions.isEmpty) return None
    // the incarnation changes BEFORE any destructive force step: a
    // crash after this write leaves the view's old state intact but old
    // maintenance checkpoints already refused — the safe direction
    // (spuriously refusing a checkpoint costs a fresh one; honoring a
    // stale one silently under-counts)
    Files.createDirectories(Paths.get(viewPath))
    if (force) {
      val f = incarnationFile(viewPath)
      val tmp = f.resolveSibling(
        s".${f.getFileName}.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
      KeyedUpsertSink.writeFsynced(tmp,
        (java.util.UUID.randomUUID().toString + "\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      Files.move(tmp, f, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    } else incarnation(viewPath) // mint (or keep) the fresh view's token
    val head = versions.max
    val base = KeyedUpsertSink.readBucketedDelta(
      spark, basePath, keys, order, atVersion = Some(head))
    require(!base.isEmpty,
      s"$basePath resolves to zero rows at v$head — an empty view has " +
        "no schema to store; bootstrap after the first data commit")
    // the view's distinct counts come from count_distinct in the same
    // scan; each aux is its own base scan (bootstrap-only cost — every
    // refresh folds the feed instead)
    val weighted = base.withColumn(WeightCol, lit(1L))
    publish(viewPath, None, (head, 0L),
      aggregate(weighted, dims, aggs, extrema, distincts),
      distincts.map(d => d.name -> buildAux(weighted, dims, d)),
      overwrite = force)
    Some(head)
  }

  /** One maintenance pass: fold the weighted change feed from the
    * watermark to the base head into the view. Returns the (from, to]
    * version range applied; None when the base head equals a clean
    * watermark (idle — nothing is read or written). A head BELOW the
    * watermark is a recreated base table and fails loudly, as does a
    * missing watermark (bootstrap first). From a MID-VERSION watermark
    * (a sliced maintenance stream stopped mid-drain) the pass folds the
    * slice remainder plus the tail and publishes clean at the head —
    * the documented unstick; a checkpointed stream resuming AFTER that
    * fails its next batch's straddle check and needs a fresh checkpoint.
    */
  def refresh(spark: SparkSession, basePath: String, viewPath: String,
      keys: Seq[String], order: Seq[Column], dims: Seq[String],
      aggs: Seq[AggCol], extrema: Seq[ExtremumCol] = Seq.empty,
      distincts: Seq[DistinctCol] = Seq.empty): Option[(Long, Long)] = {
    validate(dims, aggs, extrema, distincts)
    val fromFull = watermarkFull(viewPath).getOrElse(
      throw new IllegalStateException(
        s"$viewPath: no watermark — bootstrap the view first (a fresh " +
          "view must not silently treat the whole history as one delta)"))
    val versions = KeyedUpsertSink.tableVersions(basePath)
    if (versions.isEmpty) throw new IllegalStateException(
      s"$basePath has no committed versions — wrong path, or the table " +
        "was deleted/recreated since this view's watermark")
    val head = versions.max
    if (fromFull._2 == 0L) {
      val from = fromFull._1
      if (head == from) return None
      if (head < from) throw new IllegalStateException(
        s"$basePath head is v$head but this view's watermark is v$from — " +
          "the table was recreated (or its history replaced); " +
          "re-bootstrap deliberately (force = true)")
      val deltasRaw = KeyedUpsertSink.readChangesWeighted(
        spark, basePath, keys, order, fromVersion = from,
        toVersion = Some(head))
      applyDelta(spark, basePath, viewPath, keys, order, dims, aggs,
        extrema, distincts, fromFull, (head, 0L), deltasRaw)
      Some((from, head))
    } else {
      // MID-VERSION watermark: a sliced maintenance stream stopped
      // mid-drain — crash, operator stop, or the stuck corner where a
      // TRAILING slice's feed was empty (offsets advanced, the
      // watermark could not: an empty batch carries no anchor rows to
      // publish from, and no later commit has arrived to cover the
      // gap). This refresh is the documented unstick: fold the slice
      // REMAINDER (the unapplied buckets of the in-flight version)
      // plus the whole-version tail, publish clean at the head. The
      // single-maintainer doctrine still holds — if a checkpointed
      // maintenance stream later resumes over this advance, its next
      // batch straddles the watermark and fails with the usual
      // ConcurrentModificationException; restart it on a fresh
      // checkpoint.
      val (v, c) = fromFull
      if (head < v + 1) throw new IllegalStateException(
        s"$basePath head is v$head but this view's watermark is " +
          s"${fmtMark(fromFull)} (inside v${v + 1}) — the table was " +
          "recreated (or its history replaced); re-bootstrap " +
          "deliberately (force = true)")
      val touched = KeyedUpsertSink.touchedBucketsAt(basePath, v + 1)
        .getOrElse(throw new IllegalStateException(
          s"$basePath: watermark ${fmtMark(fromFull)} sits inside a " +
            "layout-change version — slices are never constructed there"))
      val remainder = KeyedUpsertSink.readChangesSlice(
        spark, basePath, keys, order, v + 1,
        touched.drop(c.toInt).toSet, weighted = true)
      val deltasRaw =
        if (head == v + 1) remainder
        else remainder.unionByName(
          KeyedUpsertSink.readChangesWeighted(
            spark, basePath, keys, order, fromVersion = v + 1,
            toVersion = Some(head)),
          allowMissingColumns = true)
      applyDelta(spark, basePath, viewPath, keys, order, dims, aggs,
        extrema, distincts, fromFull, (head, 0L), deltasRaw)
      Some((v, head))
    }
  }

  /** The fold core shared by [[refresh]] (which derives the weighted
    * feed itself) and [[maintainStream]] (which receives it from the
    * `graft-changes` stream): fold `deltasRaw` — the weighted feed over
    * exactly (`from`, `head`] — into the view stored at watermark
    * `from`, and publish the result at `head` through the CAS.
    */
  private def applyDelta(spark: SparkSession, basePath: String,
      viewPath: String, keys: Seq[String], order: Seq[Column],
      dims: Seq[String], aggs: Seq[AggCol], extrema: Seq[ExtremumCol],
      distincts: Seq[DistinctCol], from: (Long, Long), head: (Long, Long),
      deltasRaw: DataFrame): Unit = {
    // the base image the dirty-extremum recompute reads: at a clean
    // boundary, the committed manifest; mid-version (a slice fold), the
    // MIXED manifest — applied buckets at the step version, the rest
    // still at the base version — the exact state this fold publishes.
    // Reading everything at the step version instead would leak the
    // UNAPPLIED buckets' future values into extrema the sums don't
    // reflect yet. Lazy: only the dirty-retraction path pays it.
    lazy val headManifest: Map[Long, String] =
      if (head._2 == 0L) KeyedUpsertSink.manifestAt(basePath, head._1)
      else {
        val touched = KeyedUpsertSink.touchedBucketsAt(basePath, head._1 + 1)
          .getOrElse(throw new IllegalStateException(
            s"$basePath: mid-version position ${fmtMark(head)} inside a " +
              "layout-change version — slices are never constructed there"))
        KeyedUpsertSink.mixedManifestAt(basePath, head._1,
          touched.take(head._2.toInt).toSet)
      }
    val fromDir = viewDirAt(viewPath, from)
    val old = readDataDir(spark, viewPath, viewData(fromDir))
    // the refresh spec must MATCH the bootstrapped view: a refresh
    // called with a different agg/extremum/distinct set (easiest
    // mistake: a defaulted parameter omitted) would silently publish a
    // view missing its maintained columns — destroyed state with no
    // error. Fail loudly against the stored schema instead.
    val expect = dims ++ aggs.map(_.name) ++ extrema.map(_.name) ++
      distincts.map(_.name) :+ CountCol
    require(old.columns.sorted.toSeq == expect.sorted,
      s"$viewPath stores columns [${old.columns.sorted.mkString(", ")}] " +
        s"but this refresh maintains [${expect.sorted.mkString(", ")}] — " +
        "the dims/aggs/extrema/distincts spec must match the " +
        "bootstrapped view (a mismatched refresh would silently drop " +
        "maintained state)")
    // every frame pinned below (the reused feed, the dirty dim set,
    // merged aux tables) is released here even when an action inside
    // the extremum/distinct paths throws
    val pins = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    try {
      // the feed is derived once per maintained tier (sum fold, insert
      // extrema, retraction extrema, one aux fold per distinct) — pin
      // it so the bucket resolve + symmetric difference runs once.
      // persist(), not a Staging.pin leaf (round-20 A/B: the leaf's
      // standalone materialization job cost MORE than the per-consumer
      // planning it saved — steady-state refresh measured 19→23 jobs
      // and +1 s wall with a localCheckpoint here)
      val deltas =
        if (extrema.isEmpty && distincts.isEmpty) deltasRaw
        else { val d = deltasRaw.persist(); pins += d; d }
      // sums fold over BOTH signs; extrema are sign-split in
      // refreshExtrema (a -1 row's value must not feed a min/max
      // candidate); distinct multiplicities fold signed like sums
      val deltaAgg =
        aggregate(deltas, dims, aggs, Seq.empty, Seq.empty)
      val sumView = merge(
        old.select((dims ++ aggs.map(_.name) :+ CountCol).map(col): _*),
        deltaAgg, dims, aggs)
      val extView =
        if (extrema.isEmpty) sumView
        else refreshExtrema(spark, basePath, keys, order, dims, extrema,
          headManifest, deltas, old, sumView, pins)
      val (view, auxes) = distincts.foldLeft((extView,
          Seq.empty[(String, DataFrame)])) { case ((v, as), d) =>
        val oldAux = readDataDir(spark, viewPath,
          auxData(fromDir, d.name))
        val mergedAux = oldAux
          .unionByName(buildAux(deltas, dims, d))
          .groupBy((dims :+ AuxValCol).map(col): _*)
          .agg(sum(AuxMulCol).as(AuxMulCol))
          .filter(col(AuxMulCol) =!= 0L)
          .persist()
        pins += mergedAux
        // the published count is the aux's live-value count per group;
        // a live group whose values are all null has no aux rows → 0
        val dcount = mergedAux.groupBy(dims.map(col): _*)
          .agg(count(lit(1L)).as(d.name))
        val joined = joinOnDims(v, dcount, dims, "left")
          .withColumn(d.name, coalesce(col(d.name), lit(0L)))
        (joined, as :+ (d.name -> mergedAux))
      }
      publish(viewPath, Some(from), head, view.select(expect.map(col): _*), auxes)
    } finally pins.foreach(_.unpersist(false))
  }

  /** Test/telemetry seam: runs after a [[maintainStream]] batch's fold
    * published, BEFORE the streaming checkpoint commits — the crash
    * window whose replay the `to <= watermark` skip absorbs. Production
    * never sets it.
    */
  private[graft] var onAfterStreamFold: Long => Unit = _ => ()

  /** CONTINUOUS maintenance: the view follows the base table through
    * the `graft-changes` weighted stream instead of manual [[refresh]]
    * calls — readStream (stored key/order spec, `versionColumns`
    * anchors) → foreachBatch fold → the same CAS publish as a manual
    * refresh, which is what makes the loop exactly-once:
    *
    *  - each batch carries its manifest range as constant columns; the
    *    fold applies it at the view's CURRENT watermark and publishes
    *    at the batch's end version;
    *  - a batch whose end is at or below the watermark is a REPLAY (the
    *    engine re-runs the last uncommitted batch after a crash — even
    *    one whose fold already published) and is skipped: the fold is
    *    anchored, so replay-skip needs no transaction log;
    *  - an empty batch advances nothing (the watermark lags the stream
    *    offset over no-op ranges; the next non-empty batch's fold
    *    covers the gap, which provably carried no feed rows);
    *  - a batch STRADDLING the watermark (end above, start below with
    *    feed rows in between) means another maintainer advanced the
    *    view mid-range — folding it would double-count, so it fails
    *    with `ConcurrentModificationException`, the same
    *    single-maintainer doctrine the CAS enforces for concurrent
    *    racers. Don't mix manual refreshes into a checkpointed
    *    maintenance stream's lifetime.
    *
    * The view must be [[bootstrap]]ped first. The base table must be
    * self-describing (round-17 writers record the spec; the stream
    * reads under it). `trigger` defaults to AvailableNow — run-to-drain
    * maintenance; pass a processing-time trigger for a resident loop.
    * Returns the started query; failures surface through
    * `awaitTermination` as usual.
    */
  def maintainStream(spark: SparkSession, basePath: String,
      viewPath: String, keys: Seq[String], order: Seq[Column],
      dims: Seq[String], aggs: Seq[AggCol],
      extrema: Seq[ExtremumCol] = Seq.empty,
      distincts: Seq[DistinctCol] = Seq.empty,
      checkpointDir: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow(),
      maxVersionsPerTrigger: Option[Long] = None,
      maxBucketsPerTrigger: Option[Long] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    validate(dims, aggs, extrema, distincts)
    // the STREAM reads under the table's stored spec regardless of the
    // caller's arguments — validate the caller's spec NOW, or a
    // mismatch would surface only at the first dirty-extremum recompute
    // (possibly days in), or never on a no-extrema view
    KeyedUpsertSink.requireSpecMatches(spark, basePath, keys, order)
    val wm0 = watermarkFull(viewPath).getOrElse(throw new IllegalStateException(
      s"$viewPath: no watermark — bootstrap the view before streaming " +
        "maintenance (a fresh view must not treat the whole history as " +
        "one delta)"))
    // REUSED-CHECKPOINT guard. The fold's `wm < batchFrom` case is legal
    // only because every gap range was previously delivered to THIS
    // query as an empty batch (empty-skips advance offsets but not the
    // watermark) — an invariant that holds exactly while the watermark
    // never moves BACKWARD relative to this query's history. A force
    // re-bootstrap onto a recreated base moves it backward; restarting
    // the stream on the OLD checkpoint would then resume at the old
    // history's offsets and silently fold only the tail of the new
    // history (under-counted aggregates, no error — the one silent
    // path the round's review sweep found). The stream's first start
    // persisted its floor under the checkpoint; a watermark below that
    // floor is exactly "moved backward", so refuse at start. (The
    // sources/0 layout is the engine's stable per-source metadata path
    // — the same file the source itself writes.)
    // resolve the checkpoint location through the source's ONE path
    // rule: a `file:/...`-form checkpointDir (which Spark accepts, and
    // the source itself resolves for its floor write) would otherwise
    // make this guard probe a nonexistent relative path and silently
    // disarm — on exactly the silent-skip hole it exists to close
    val persistedFloor = graft.sources.ChangeFeedSource
      .resolveLocalPath(checkpointDir)
      .resolve("sources").resolve("0").resolve("graft-changes-start")
    if (java.nio.file.Files.exists(persistedFloor)) {
      val floor = graft.sources.ChangeFeedSource.parseOffset(
        new String(java.nio.file.Files.readAllBytes(persistedFloor),
          java.nio.charset.StandardCharsets.UTF_8).trim)
      if (lexLt(wm0, floor)) throw new IllegalStateException(
        s"$viewPath: watermark ${fmtMark(wm0)} sits BELOW this checkpoint's " +
          s"persisted stream floor ${fmtMark(floor)} — the view was " +
          "re-bootstrapped (force) onto an earlier version or a recreated " +
          "base since this maintenance stream last ran; resuming would " +
          s"silently skip (${fmtMark(wm0)}, ${fmtMark(floor)}] of the new " +
          "history. Restart the maintenance stream with a FRESH " +
          "checkpoint directory")
    }
    // INCARNATION guard — the floor comparison alone cannot catch a
    // force re-bootstrap whose NEW head sits at or above the old floor
    // (the common case: the floor is the view's original, usually low,
    // bootstrap watermark) while the checkpoint's OFFSETS still point
    // into the old history: resuming would fold only the new history's
    // tail, silently. Every bootstrap mints (force: replaces) the
    // view's incarnation token; this stream binds to it at first start
    // and refuses any later mismatch.
    val inc = storedIncarnation(viewPath).getOrElse(
      refuseLegacy(viewPath, "has no `_incarnation` token"))
    val persistedInc = graft.sources.ChangeFeedSource
      .resolveLocalPath(checkpointDir)
      .resolve("sources").resolve("0").resolve("graft-view-incarnation")
    if (java.nio.file.Files.exists(persistedInc)) {
      val bound = new String(
        java.nio.file.Files.readAllBytes(persistedInc),
        java.nio.charset.StandardCharsets.UTF_8).trim
      if (bound != inc) throw new IllegalStateException(
        s"$viewPath: the view's incarnation ($inc) differs from the one " +
          s"this checkpoint bound to ($bound) — the view was " +
          "re-bootstrapped (force) since this maintenance stream last " +
          "ran, so the checkpoint's offsets index a DIFFERENT history; " +
          "resuming would silently fold only its tail. Restart the " +
          "maintenance stream with a FRESH checkpoint directory")
    } else {
      java.nio.file.Files.createDirectories(persistedInc.getParent)
      KeyedUpsertSink.putIfAbsent(persistedInc,
        (inc + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    val fromCol = graft.sources.ChangeFeedSource.FromVersionCol
    val toCol = graft.sources.ChangeFeedSource.ToVersionCol
    val fromCur = graft.sources.ChangeFeedSource.FromCursorCol
    val toCur = graft.sources.ChangeFeedSource.ToCursorCol
    val reader = spark.readStream.format("graft-changes")
      .option("path", basePath)
      .option("weighted", "true")
      .option("versionColumns", "true")
      // first start only: the floor is the view's watermark — possibly a
      // MID-VERSION position left by a previous sliced stream whose
      // checkpoint is gone, recovered through the cursor-offset floor
      // encoding (persisted under the checkpoint after that — restarts
      // resume from offsets)
      .option("startingVersion", graft.sources.ChangeFeedSource
        .offsetOf(wm0._1, wm0._2).json())
    maxVersionsPerTrigger.foreach(n =>
      reader.option("maxVersionsPerTrigger", n.toString))
    maxBucketsPerTrigger.foreach(n =>
      reader.option("maxBucketsPerTrigger", n.toString))
    reader.load()
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // pin BEFORE the first action: the feed plan (touched-bucket
        // window + symmetric difference) would otherwise execute once
        // for the emptiness/anchor probe and again for the fold
        val pinned = batch.persist()
        try {
          // one action covers emptiness AND all four anchors (the
          // range columns are per-batch constants — any row carries them)
          val first = pinned
            .select(col(fromCol), col(toCol), col(fromCur), col(toCur))
            .take(1)
          if (first.nonEmpty) {
            val bFrom = (first(0).getLong(0), first(0).getLong(2))
            val bTo = (first(0).getLong(1), first(0).getLong(3))
            val wm = watermarkFull(viewPath).getOrElse(
              throw new IllegalStateException(
                s"$viewPath: watermark vanished under a running " +
                  "maintenance stream — the view was deleted or recreated"))
            if (lexLt(wm, bTo)) {
              if (lexLt(bFrom, wm)) throw new java.util.ConcurrentModificationException(
                s"$viewPath: watermark ${fmtMark(wm)} sits INSIDE this " +
                  s"batch's range (${fmtMark(bFrom)}, ${fmtMark(bTo)}] — " +
                  "another maintainer advanced the view mid-range; folding " +
                  "would double-count. The view is single-maintainer: stop " +
                  "manual refreshes while a maintenance stream owns it (or " +
                  "restart the stream with a fresh checkpoint)")
              applyDelta(spark, basePath, viewPath, keys, order, dims, aggs,
                extrema, distincts, wm, bTo,
                pinned.drop(fromCol).drop(toCol).drop(fromCur).drop(toCur))
              onAfterStreamFold(bTo._1)
            } // else: replay of an already-folded batch — skip
          }
        } finally pinned.unpersist(false)
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()
  }

  /** The MIN/MAX half of a refresh ([[ExtremumCol]]'s two-path scheme).
    *
    * Insert path: per-group extrema of the feed's +1 rows fold into the
    * stored values min-of-mins / max-of-maxes (union + re-aggregate — a
    * null-skipping `least`/`greatest` without the join).
    *
    * Retraction path: a group is DIRTY when some retracted (-1) value
    * ties its stored extremum — the only way a retraction can move a
    * min up or a max down (a superseded image's value is never strictly
    * beyond the extremum of the version it was live in, so `<=`/`>=`
    * against the stored value detects exactly the ties, conservatively
    * under multiplicity). Dirty groups — and only those — re-derive
    * from the base resolved at `head` (which already includes this
    * delta's inserts), semi-joined down to the dirty dim values so the
    * aggregate is bounded by the dirty groups. A refresh with no dirty
    * group never touches the base; [[onExtremaRecompute]] observes the
    * fallback firing.
    *
    * Null semantics inherit from min/max: an all-null group stores a
    * null extremum; a retracted null value never dirties (null
    * comparisons filter as false — correct, a null never WAS the
    * extremum of a group whose stored value is non-null, and in an
    * all-null group the extremum stays null until the group empties).
    */
  private def refreshExtrema(spark: SparkSession, basePath: String,
      keys: Seq[String], order: Seq[Column], dims: Seq[String],
      extrema: Seq[ExtremumCol], baseManifest: => Map[Long, String],
      deltas: DataFrame, old: DataFrame, sumView: DataFrame,
      pins: scala.collection.mutable.ArrayBuffer[DataFrame]): DataFrame = {
    val dimCols = dims.map(col)
    val oldExt = old.select((dims ++ extrema.map(_.name)).map(col): _*)
    val insAgg = extFold(deltas.filter(col(WeightCol) === 1L),
      dims, extrema, _.expr)
    val candidate = extFold(oldExt.unionByName(insAgg),
      dims, extrema, e => col(e.name))
    // ties against the STORED (pre-refresh) extremum: min of the
    // retracted values per group vs the stored min (any tie ⇔ the
    // groupwise retracted-min ties), symmetrically for max
    val retrAgg = extFold(deltas.filter(col(WeightCol) === -1L),
      dims, extrema, _.expr, prefix = "__r_")
    val dirtyPred = extrema.map { e =>
      if (e.isMin) col("__r_" + e.name) <= col(e.name)
      else col("__r_" + e.name) >= col(e.name)
    }.reduce(_ || _)
    // pinned: read once for the count here, reused by the publish-time
    // semi-join (the caller unpersists after publish)
    val dirtyDims = joinOnDims(retrAgg, oldExt, dims, "inner")
      .filter(dirtyPred).select(dimCols: _*).persist()
    pins += dirtyDims
    val nDirty = dirtyDims.count()
    val resolved =
      if (nDirty == 0) candidate
      else {
        onExtremaRecompute(nDirty)
        // ADAPTIVE base read (round 16, probe-driven). Two ways to
        // re-derive the dirty groups' extrema from a chained base:
        //  - readBucketedDelta + post-resolve dim filter: ONE LWW
        //    window over the WHOLE table (measured ~220 MB shuffled at
        //    the ×100 probe) — cost independent of the dirty share;
        //  - readBucketedDeltaMatching: candidate keys derived
        //    map-side, window only over their rows — near-free when
        //    the dirty groups are small, but when the candidate key
        //    set is too big to broadcast the key semi-join SMJ-shuffles
        //    the table ON TOP of the window (measured 296 vs 224 MB at
        //    a 20%-of-rows dirty share).
        // Route on the view's own maintained live-key counts (CountCol
        // at the pre-refresh watermark — a heuristic, not a contract):
        // small dirty key sets take the key-bounded read, big ones the
        // single predictable full window.
        val dirtyKeyEst = joinOnDims(
          old.select((dims :+ CountCol).map(col): _*), dirtyDims, dims,
          "left_semi").agg(coalesce(sum(CountCol), lit(0L))).head().getLong(0)
        val bounded = dirtyKeyEst <= DirtyKeysBoundedReadMax
        onDirtyRoute(dirtyKeyEst, if (bounded) "bounded" else "full")
        val baseImage =
          if (bounded)
            // broadcastKeys: ASK for the broadcast (without it AQE's
            // estimate tips to sort-merge near ~400k keys and shuffles
            // the table); the read SELF-VERIFIES by counting the true
            // candidate set first — this route's est counts LIVE keys,
            // but candidates include keys whose superseded versions
            // matched, which on a churn-heavy chain can be table-scale
            KeyedUpsertSink.readBucketedDeltaMatchingManifest(
              spark, basePath, keys, order, dirtyDims, dims,
              baseManifest, broadcastKeys = true)
          else KeyedUpsertSink.readBucketedDeltaManifest(
            spark, basePath, keys, order, baseManifest)
        // the key-bounded image is a SUPERSET (a key whose OLD version
        // had a dirty dim resolves to a possibly-clean dim), and the
        // full image is the whole table — either way the resolved rows
        // are pruned to the dirty dims here. No broadcast hint on
        // purpose: the dirty set is usually tiny (AQE broadcasts it),
        // but a bulk rewrite can dirty millions of groups — let the
        // planner fall back to a shuffle join rather than force a
        // driver OOM.
        val rec = extFold(
          joinOnDims(baseImage, dirtyDims, dims, "left_semi"),
          dims, extrema, _.expr, prefix = "__rec_")
          // "__rec" can't collide: user names never start with __, and
          // every internal extremum column is "__rec_"/"__r_" + a
          // (non-empty) user name
          .withColumn("__rec", lit(true))
        joinOnDims(candidate, rec, dims, "left").select(
          dimCols ++ extrema.map { e =>
            when(coalesce(col("__rec"), lit(false)),
              col("__rec_" + e.name)).otherwise(col(e.name)).as(e.name)
          }: _*)
      }
    // every live group (CountCol > 0) has live rows, so it appears in
    // oldExt or in this delta's inserts — `resolved` covers it; left
    // join so a violated invariant surfaces as a null extremum, never
    // a silently dropped group
    joinOnDims(sumView, resolved, dims, "left")
  }

  /** Per-group extremum fold: `value` picks what each [[ExtremumCol]]
    * aggregates (the raw expression for feed rows, the stored column
    * for view rows); `prefix` namespaces the output for scratch frames.
    */
  private def extFold(df: DataFrame, dims: Seq[String],
      extrema: Seq[ExtremumCol], value: ExtremumCol => Column,
      prefix: String = ""): DataFrame = {
    val cols = extrema.map(e => e.fold(value(e)).as(prefix + e.name))
    df.groupBy(dims.map(col): _*).agg(cols.head, cols.tail: _*)
  }

  /** NULL-SAFE equi-join on the dim columns. groupBy keeps a NULL dim
    * value as a real group (and the sums path, pure union+groupBy,
    * preserves it); a plain equi-join would silently drop that group's
    * extrema. The right side's dims are renamed (`__d_` — user names
    * never start with `__`) then dropped, so the output carries the
    * LEFT frame's dims exactly once.
    */
  private def joinOnDims(left: DataFrame, right: DataFrame,
      dims: Seq[String], joinType: String): DataFrame = {
    val r = dims.foldLeft(right)(
      (df, d) => df.withColumnRenamed(d, "__d_" + d))
    val cond = dims.map(d => col(d) <=> col("__d_" + d)).reduce(_ && _)
    dims.foldLeft(left.join(r, cond, joinType))(
      (df, d) => df.drop("__d_" + d))
  }

  /** The view's published columns (dims + aggregate names) at its
    * current watermark. Loud before bootstrap.
    */
  def read(spark: SparkSession, viewPath: String): DataFrame = {
    // ONE markers() snapshot serves both the watermark and its
    // directory — separate reads would double the listing I/O and
    // could straddle a concurrent advance
    val ms = markers(viewPath)
    val dir = ms.lastOption.map { case (_, d) => Paths.get(viewPath, d) }
      .getOrElse(throw new IllegalStateException(
        s"$viewPath: no watermark — the view was never bootstrapped"))
    readDataDir(spark, viewPath, viewData(dir)).drop(CountCol)
  }
}
