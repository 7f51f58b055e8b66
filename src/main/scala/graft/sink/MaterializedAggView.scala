package graft.sink

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** Incrementally-maintained group-by view over a versioned keyed table
  * ([[KeyedUpsertSink]] optimistic / delta protocol): the classic
  * materialized-view maintenance loop. `refresh` reads the WEIGHTED
  * change feed ([[KeyedUpsertSink.readChangesWeighted]]) from the
  * view's watermark to the base table's head — O(changed buckets), never
  * the base table — and folds `sum(expr * __weight)` per group into the
  * stored view: +1 rows add each updated key's new contribution, -1
  * rows subtract its superseded one. At 100 TB base scale a refresh
  * costs the CHANGE volume plus the view chains of the buckets its
  * dirty keys hash to, where a recompute costs the table.
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
  * Storage and crash contract: a view IS a keyed table at `viewPath`,
  * committed through [[KeyedUpsertSink.upsertBucketedDelta]] like every
  * other piece of engine state. Its keys are a reserved `__part` column
  * ("" for view rows, a [[DistinctCol]]'s name for that column's
  * multiplicity rows) then the dims, then one `__v_<name>` value column
  * per distinct column; its LWW order is a constant, so commit recency
  * alone decides. The watermark and the view's incarnation token ride
  * the same manifest commit (`extraMeta`) as the rows, so data, aux
  * rows and watermark land in ONE put-if-absent CAS: a crash before it
  * leaves the view at its previous version and an unreferenced staged
  * generation the vacuum reclaims, and the re-run folds the same
  * (watermark, head] range again. A fold knows every key it may
  * rewrite (the dirty groups' view rows, the delta's (group, value)
  * aux rows), so it reads only the buckets those keys hash to, keeps
  * those keys' rows, and writes one generation holding only those
  * keys. A group or aux value whose
  * count reaches 0 becomes a tombstone row in the same commit, and the
  * tombstones are purged whenever a chain compaction runs. Each commit
  * vacuums with a one-version reader grace.
  *
  * Single maintainer per view path — and, unlike a convention, ENFORCED:
  * every commit aborts unless the head still carries the watermark the
  * pass started from, so a concurrent or stalled second maintainer
  * fails loudly with `ConcurrentModificationException` instead of
  * regressing the watermark (MaterializedViewRaceSpec races two real
  * JVMs through it).
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
    * `(dims, value) → live-key count` — stored in the view's own table
    * as the rows whose `__part` is this column's name, and folded from
    * the same weighted feed (`sum(__weight)` per (group, value); a
    * value's row is tombstoned when its multiplicity reaches 0). The
    * published count is the group's live-value count: a fold adds one
    * for each value whose multiplicity leaves 0 and takes one off for
    * each that reaches it, so it reads only the delta's values. Space is
    * the classic price: the aux holds one row per distinct (group,
    * value) pair — bounded by the base's distinct pairs, not its rows;
    * at 100 TB this is the difference between a dirty-group fold and
    * re-scanning the table for every COUNT DISTINCT refresh.
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

  /** Hidden live-row count: per group on view rows (a group is
    * tombstoned when its last contributing key is retracted), per
    * (group, value) on a distinct column's multiplicity rows.
    */
  private val CountCol = "__n"

  /** Reserved key column: "" on view rows, the distinct column's name
    * on its multiplicity rows — one table, so rows, aux rows and the
    * watermark commit in one CAS.
    */
  private val PartCol = "__part"

  /** A distinct column's value key column: typed, null on every row
    * that is not one of that column's multiplicity rows.
    */
  private def auxValCol(d: DistinctCol): String = "__v_" + d.name

  /** The view table's LWW order: a constant, so commit recency alone
    * decides (a fold writes at most one row per key). A base version
    * would not do: a force onto a recreated base commits a LOWER head,
    * and its tombstones would lose to the older rows.
    */
  private def viewOrder: Seq[Column] = Seq(lit(0L))

  private def viewKeys(dims: Seq[String],
      distincts: Seq[DistinctCol]): Seq[String] =
    (PartCol +: dims) ++ distincts.map(auxValCol)

  /** Every stored column, in stored order: keys, then the published
    * columns in `read`'s order, then the count.
    */
  private def tableCols(dims: Seq[String], aggs: Seq[AggCol],
      extrema: Seq[ExtremumCol], distincts: Seq[DistinctCol]): Seq[String] =
    viewKeys(dims, distincts) ++ aggs.map(_.name) ++ extrema.map(_.name) ++
      distincts.map(_.name) :+ CountCol

  /** The watermark's manifest metadata key; its value is `v,c`. */
  private val WatermarkMeta = "viewWatermark"

  /** The view's INCARNATION: a uuid minted by every bootstrap — force
    * re-bootstraps included — the token that lets a maintenance
    * stream's checkpoint detect that the view it is bound to was
    * deliberately rebuilt. Version arithmetic alone cannot: a force
    * onto a recreated base whose new head sits at or above the
    * checkpoint's old floor passes every watermark comparison while the
    * checkpoint's OFFSETS still point into the old history — resuming
    * would silently fold only the tail of the new one. The stream
    * persists the incarnation it first bound to under its checkpoint
    * and refuses a mismatch at start.
    */
  private val IncarnationMeta = "viewIncarnation"

  /** Test seam: runs once per commit between its stage and its first
    * commit attempt (wired to `upsertBucketedDelta`'s
    * `onBeforeFirstCommit`) — the crash and stall window of every
    * bootstrap and fold. Production never sets it.
    */
  private[graft] var onBeforeCommit: () => Unit = () => ()

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

  private def markOf(meta: Map[String, String]): Option[(Long, Long)] =
    meta.get(WatermarkMeta).map { m =>
      val Array(v, c) = m.split(",")
      (v.toLong, c.toLong)
    }

  /** The view table's head (version, manifest, meta). A directory in
    * the layout views had before they were keyed tables (`_head*`
    * markers, an `_incarnation` token, no manifest) is refused.
    */
  private def viewHead(
      viewPath: String): (Long, Map[Long, String], Map[String, String]) = {
    val head = KeyedUpsertSink.versionedHeadFull(viewPath)
    val root = Paths.get(viewPath)
    if (head._1 == 0L && Files.isDirectory(root)) {
      import scala.jdk.CollectionConverters._
      val s = Files.list(root)
      val old = try s.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.startsWith("_head") || n == "_incarnation").toList
      finally s.close()
      if (old.nonEmpty) throw new IllegalStateException(
        s"$viewPath holds ${old.sorted.head} — a view layout this engine " +
          "no longer reads. A view is derived state: delete the view " +
          "directory and bootstrap it")
    }
    head
  }

  private def lost(viewPath: String, cur: Option[(Long, Long)],
      from: Option[(Long, Long)]) =
    new java.util.ConcurrentModificationException(
      s"$viewPath: watermark is ${cur.fold("absent")(fmtMark)} but this " +
        s"maintainer started from ${from.fold("nothing (bootstrap)")(fmtMark)} " +
        "— another maintainer advanced the view concurrently; this pass " +
        "committed nothing. The view is single-maintainer: run one " +
        "refresh loop")

  /** The view's watermark: the base-table version its stored state
    * reflects. None before bootstrap.
    */
  def watermark(viewPath: String): Option[Long] =
    watermarkFull(viewPath).map(_._1)

  /** The full (version, bucketCursor) watermark: versions `<= _1` are
    * fully applied, plus — when `_2 > 0` — the first `_2` buckets of
    * version `_1 + 1` (a SLICED maintenance stream's mid-version
    * position; see [[lexLt]]). [[watermark]] is its version component,
    * truthful either way ("fully reflects v"), which is all
    * clean-boundary consumers need.
    */
  def watermarkFull(viewPath: String): Option[(Long, Long)] =
    markOf(viewHead(viewPath)._3)

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
        s"($WeightCol, $CountCol, $PartCol, refresh scratch); rename: " +
        names.filter(_.startsWith("__")).mkString(", "))
  }

  /** The view table's committed column contract, from its head meta. */
  private def contract(meta: Map[String, String]): StructType =
    meta.get(KeyedUpsertSink.SchemaMeta)
      .map(DataType.fromJson(_).asInstanceOf[StructType])
      .getOrElse(new StructType())

  /** The call's columns must MATCH the stored view's: a refresh called
    * with a different agg/extremum/distinct set (easiest mistake: a
    * defaulted parameter omitted) would silently drop maintained state,
    * and a force keeps the stored columns and types. Checked against
    * the view table's committed column contract — no data read. `fix`
    * says what the caller does instead.
    */
  private def requireSpec(viewPath: String, stored: Seq[String],
      cols: Seq[String], fix: String): Unit = {
    def shown(cs: Seq[String]) =
      cs.filterNot(_.startsWith("__")).sorted.mkString(", ")
    require(stored.sorted == cols.sorted,
      s"$viewPath stores columns [${shown(stored)}] but this call " +
        s"maintains [${shown(cols)}] — $fix")
  }

  /** One delta (or bootstrap) pass: per-group sums weighted by the
    * `__weight` column — bootstrap adds it as a bigint 1 (see
    * [[bootstrap]]), the feed carries it — so both paths produce
    * identical column types. (A `lit(1L)` weight would not: Spark types
    * the literal as `decimal(1,0)` in decimal arithmetic and the column
    * as `decimal(20,0)`, so a decimal sum would be stored narrower at
    * bootstrap than every fold writes it — a retype the view table's
    * schema contract refuses.)
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

  /** One distinct column's multiplicity rows over `df`: live-key count
    * per (dims, value), nulls excluded (SQL COUNT DISTINCT semantics),
    * weighted by the `__weight` column.
    */
  private def buildAux(df: DataFrame, dims: Seq[String],
      d: DistinctCol): DataFrame =
    df.filter(d.expr.isNotNull)
      .groupBy((dims.map(col) :+ d.expr.as(auxValCol(d))): _*)
      .agg(sum(WeightCol).as(CountCol))

  /** Fold a delta aggregate into the dirty groups' stored rows:
    * per-group sums add (`sum` skips the side that lacks the group), as
    * do the distinct counts (`counts`, 0 where no side moved them). A
    * group whose live-row count hit 0 stays in the result, to be
    * written as a tombstone.
    */
  private def merge(old: DataFrame, delta: DataFrame, dims: Seq[String],
      sums: Seq[String], counts: Seq[String]): DataFrame = {
    val cols = (sums :+ CountCol).map(n => sum(col(n)).as(n)) ++
      counts.map(n => coalesce(sum(col(n)), lit(0L)).as(n))
    old.unionByName(delta, allowMissingColumns = true)
      .groupBy(dims.map(col): _*).agg(cols.head, cols.tail: _*)
  }

  /** The stored rows of the keys a fold over `deltas` may rewrite: the
    * dirty groups' view rows and the delta's (group, value)
    * multiplicity rows. Every key column is known from the delta, so
    * the read resolves only the chains of the buckets those keys hash
    * to, never the whole view, and keeps the wanted keys' rows. The
    * wanted keys come from the fold's own aggregates (`groups`, the
    * per-group delta), so the commit's plan shares their shuffles.
    */
  private def dirtyRows(spark: SparkSession, viewPath: String,
      dims: Seq[String], distincts: Seq[DistinctCol], deltas: DataFrame,
      groups: DataFrame, man: Map[Long, String], meta: Map[String, String],
      stored: StructType): DataFrame = {
    import spark.implicits._
    val vkeys = viewKeys(dims, distincts)
    def keyed(df: DataFrame, part: Option[DistinctCol]): DataFrame = df.select(
      (lit(part.fold("")(_.name)).as(PartCol) +: dims.map(col)) ++
        distincts.map { d =>
          val v = auxValCol(d)
          (if (part.contains(d)) col(v) else lit(null))
            .cast(stored(v).dataType).as(v)
        }: _*)
    def union(dfs: Seq[DataFrame]) = dfs.reduce(_ union _)
    val nb = meta.get("numBuckets").map(_.toInt)
      .orElse(KeyedUpsertSink.readLayout(viewPath)).getOrElse(
        throw new IllegalStateException(s"$viewPath has no bucket layout"))
    // one job, no shuffle: each partition dedupes its bucket ids
    val buckets = union(keyed(deltas, None) +: distincts.map(d => keyed(
        deltas.filter(d.expr.isNotNull)
          .select(dims.map(col) :+ d.expr.as(auxValCol(d)): _*), Some(d))))
      .select(KeyedUpsertSink.bucketOf(vkeys, nb)).as[Long]
      .mapPartitions(_.toSet.iterator).collect().toSet
    val hit = man.filter { case (b, _) => buckets(b) }
    if (hit.isEmpty)
      spark.createDataFrame(java.util.Collections.emptyList[Row](), stored)
    else joinOnDims(KeyedUpsertSink.readBucketedDeltaManifest(spark,
        viewPath, vkeys, viewOrder, hit),
      union(keyed(groups, None) +: distincts.map(d =>
        keyed(buildAux(deltas, dims, d), Some(d)))),
      vkeys, "left_semi")
  }

  /** The rows one commit writes: view rows (`__part` = "") and each
    * distinct column's multiplicity rows in one frame, aligned by name
    * (a row null-fills the other kind's columns), in stored column
    * order. A row whose count is 0 is a tombstone.
    */
  private def tableRows(view: DataFrame, auxes: Seq[(String, DataFrame)],
      cols: Seq[String]): DataFrame =
    auxes.foldLeft(view.withColumn(PartCol, lit(""))) { case (acc, (n, aux)) =>
      acc.unionByName(aux.withColumn(PartCol, lit(n)), allowMissingColumns = true)
    }.select(cols.map(col): _*)
      .withColumn(KeyedUpsertSink.TombstoneCol, col(CountCol) === 0L)

  /** Commit `rows` as the view's next version, moving the watermark from
    * `from` to `to` in the same CAS (`meta` rides along). The commit
    * aborts when the head no longer carries `from`: another maintainer
    * advanced the view, and this pass fails loudly. A pass with no rows
    * to write (a row-identical redelivery, say) advances the watermark
    * alone with a meta-only successor commit. Then the vacuum reclaims
    * what neither the head nor one grace version references.
    */
  private def commit(spark: SparkSession, viewPath: String,
      keys: Seq[String], rows: DataFrame, from: Option[(Long, Long)],
      to: (Long, Long), meta: Map[String, String] = Map.empty): Unit = {
    val stamp = meta + (WatermarkMeta -> s"${to._1},${to._2}")
    val landed = KeyedUpsertSink.upsertBucketedDelta(spark, viewPath, keys,
      viewOrder, onBeforeFirstCommit = () => onBeforeCommit(),
      extraMeta = stamp, abortIf = m => markOf(m) != from,
      extraMetaAt = v => Map(KeyedUpsertSink.TombstoneMeta -> v.toString))(
      rows, to._1)
    if (landed.isEmpty) {
      val (ver, man, head) = KeyedUpsertSink.versionedHeadFull(viewPath)
      if (markOf(head) != from ||
          KeyedUpsertSink.tryCommitSuccessor(viewPath, ver, man,
            head ++ stamp) != KeyedUpsertSink.Published)
        throw lost(viewPath,
          markOf(KeyedUpsertSink.versionedHeadFull(viewPath)._3), from)
    }
    // a chain compaction ran behind the commit. It keeps winning
    // tombstones, which on this table guard nothing: the order is a
    // constant and every writer passes the watermark check, so no older
    // row can come back. Drop them at the compaction's cadence, or
    // every emptied group and value would stay stored for good.
    // Best-effort like the compaction: the fold is already committed,
    // and the next compaction retries
    if (landed.exists(_.version <
        KeyedUpsertSink.versionedHeadFull(viewPath)._1))
      try KeyedUpsertSink.purgeTombstones(
        spark, viewPath, keys, viewOrder, lit(true))
      catch { case scala.util.control.NonFatal(_) => () }
    KeyedUpsertSink.vacuumGenerations(viewPath, graceManifests = 1)
    ()
  }

  /** First run: full group-by over the base table resolved at its head,
    * committed as the view with the head as watermark and a fresh
    * incarnation. Returns that head; None when the base has no commits
    * yet. Refuses an existing view without `force = true` (an accidental
    * re-bootstrap silently discards maintained state and re-reads the
    * whole base). A force is ONE commit: the new image plus a tombstone
    * for every stored key the image lacks — a crash before it leaves the
    * old view readable, and the re-run forces again. A force keeps the
    * view's columns; a different spec needs a new view directory.
    */
  def bootstrap(spark: SparkSession, basePath: String, viewPath: String,
      keys: Seq[String], order: Seq[Column], dims: Seq[String],
      aggs: Seq[AggCol], extrema: Seq[ExtremumCol] = Seq.empty,
      distincts: Seq[DistinctCol] = Seq.empty,
      force: Boolean = false): Option[Long] = {
    validate(dims, aggs, extrema, distincts)
    val (_, man, meta) = viewHead(viewPath)
    val from = markOf(meta)
    from.foreach { m =>
      require(force,
        s"$viewPath already holds a view at watermark v${m._1} — " +
          "re-bootstrapping discards it and re-reads the whole base; " +
          "pass force = true to do that deliberately")
    }
    val versions = KeyedUpsertSink.tableVersions(basePath)
    if (versions.isEmpty) return None
    val head = versions.max
    val base = KeyedUpsertSink.readBucketedDelta(
      spark, basePath, keys, order, atVersion = Some(head))
    require(!base.isEmpty,
      s"$basePath resolves to zero rows at v$head — an empty view has " +
        "no schema to store; bootstrap after the first data commit")
    val cols = tableCols(dims, aggs, extrema, distincts)
    val vkeys = viewKeys(dims, distincts)
    // the view's distinct counts come from count_distinct in the same
    // scan; each aux is its own base scan (bootstrap-only cost — every
    // refresh folds the feed instead)
    val weighted = base.withColumn(WeightCol, lit(1L))
    val image = tableRows(aggregate(weighted, dims, aggs, extrema, distincts),
      distincts.map(d => d.name -> buildAux(weighted, dims, d)), cols)
    val rows =
      if (from.isEmpty) image
      else {
        def typed(s: StructType) = s.fields.toSeq
          .filterNot(_.name == KeyedUpsertSink.TombstoneCol)
          .map(f => s"${f.name} ${f.dataType.simpleString}")
        requireSpec(viewPath, typed(contract(meta)), typed(image.schema),
          "a force keeps the view's columns and their types; to change " +
            "the spec or a column's type, delete the view directory and " +
            "bootstrap it")
        val stale = joinOnDims(
          KeyedUpsertSink.readBucketedDeltaManifest(
            spark, viewPath, vkeys, viewOrder, man),
          image.select(vkeys.map(col): _*), vkeys, "left_anti")
        image.unionByName(stale.select(cols.map(col): _*)
          .withColumn(KeyedUpsertSink.TombstoneCol, lit(true)))
      }
    commit(spark, viewPath, vkeys, rows, from, (head, 0L),
      Map(IncarnationMeta -> java.util.UUID.randomUUID().toString))
    Some(head)
  }

  /** One maintenance pass: fold the weighted change feed from the
    * watermark to the base head into the view. Returns the (from, to]
    * version range applied; None when the base head equals a clean
    * watermark (idle — nothing is read or written). A head BELOW the
    * watermark is a recreated base table and fails loudly, as does a
    * missing watermark (bootstrap first). From a MID-VERSION watermark
    * (a sliced maintenance stream stopped mid-drain) the pass folds the
    * slice remainder plus the tail and commits clean at the head —
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
    val (v, c) = fromFull
    if (c == 0L && head == v) return None
    if (head < (if (c == 0L) v else v + 1)) throw new IllegalStateException(
      s"$basePath head is v$head but this view's watermark is " +
        s"${fmtMark(fromFull)} — the table was recreated (or its history " +
        "replaced); re-bootstrap deliberately (force = true)")
    val deltasRaw =
      if (c == 0L) KeyedUpsertSink.readChangesWeighted(
        spark, basePath, keys, order, fromVersion = v, toVersion = Some(head))
      else {
        // MID-VERSION watermark: a sliced maintenance stream stopped
        // mid-drain — crash, operator stop, or the stuck corner where a
        // TRAILING slice's feed was empty (offsets advanced, the
        // watermark could not: an empty batch carries no anchor rows,
        // and no later commit has arrived to cover the gap). This
        // refresh is the documented unstick: fold the slice REMAINDER
        // (the unapplied buckets of the in-flight version) plus the
        // whole-version tail, commit clean at the head. A checkpointed
        // maintenance stream resuming over this advance straddles the
        // watermark with its next batch and fails with the usual
        // ConcurrentModificationException; restart it on a fresh
        // checkpoint.
        val touched = KeyedUpsertSink.touchedBucketsAt(basePath, v + 1)
          .getOrElse(throw new IllegalStateException(
            s"$basePath: watermark ${fmtMark(fromFull)} sits inside a " +
              "layout-change version — slices are never constructed there"))
        val remainder = KeyedUpsertSink.readChangesSlice(
          spark, basePath, keys, order, v + 1,
          touched.drop(c.toInt).toSet, weighted = true)
        if (head == v + 1) remainder
        else remainder.unionByName(
          KeyedUpsertSink.readChangesWeighted(
            spark, basePath, keys, order, fromVersion = v + 1,
            toVersion = Some(head)),
          allowMissingColumns = true)
      }
    applyDelta(spark, basePath, viewPath, keys, order, dims, aggs,
      extrema, distincts, fromFull, (head, 0L), deltasRaw)
    Some((v, head))
  }

  /** The fold core shared by [[refresh]] (which derives the weighted
    * feed itself) and [[maintainStream]] (which receives it from the
    * `graft-changes` stream): fold `deltasRaw` — the weighted feed over
    * exactly (`from`, `head`] — into the dirty groups of the view stored
    * at watermark `from`, and commit one row per dirty key at `head`.
    */
  private def applyDelta(spark: SparkSession, basePath: String,
      viewPath: String, keys: Seq[String], order: Seq[Column],
      dims: Seq[String], aggs: Seq[AggCol], extrema: Seq[ExtremumCol],
      distincts: Seq[DistinctCol], from: (Long, Long), head: (Long, Long),
      deltasRaw: DataFrame): Unit = {
    // the base image the dirty-extremum recompute reads: at a clean
    // boundary, the committed manifest; mid-version (a slice fold), the
    // MIXED manifest — applied buckets at the step version, the rest
    // still at the base version — the exact state this fold commits.
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
    // ONE head snapshot: the stored rows read below are the state at
    // `from`, or this pass has already lost
    val (_, viewMan, viewMeta) = viewHead(viewPath)
    if (!markOf(viewMeta).contains(from))
      throw lost(viewPath, markOf(viewMeta), Some(from))
    val cols = tableCols(dims, aggs, extrema, distincts)
    val stored = contract(viewMeta)
    requireSpec(viewPath, stored.fieldNames.toSeq, cols,
      "the dims/aggs/extrema/distincts spec must match the bootstrapped " +
        "view (a mismatched refresh would silently drop maintained state)")
    // every frame pinned below (the reused feed, the dirty groups'
    // stored rows, merged aux rows) is released here even when an
    // action inside the extremum/distinct paths throws
    val pins = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def pin(df: DataFrame): DataFrame = { val p = df.persist(); pins += p; p }
    try {
      // the feed is derived once for the dirty-group match and every
      // maintained tier (sums, insert extrema, retraction extrema, one
      // aux fold per distinct) — pin it so the bucket resolve +
      // symmetric difference runs once. persist(), not a Staging.pin
      // leaf (round-20 A/B: the leaf's standalone materialization job
      // cost MORE than the per-consumer planning it saved)
      val deltas = pin(deltasRaw)
      // sums fold over BOTH signs; extrema are sign-split in
      // refreshExtrema (a -1 row's value must not feed a min/max
      // candidate); distinct multiplicities fold signed like sums
      val deltaAgg = aggregate(deltas, dims, aggs, Seq.empty, Seq.empty)
      // the stored rows of the keys this fold may rewrite — view AND aux
      // rows, one bucket-pruned read
      val oldAll = {
        val o = dirtyRows(spark, viewPath, dims, distincts, deltas, deltaAgg,
          viewMan, viewMeta, stored)
        if (extrema.isEmpty && distincts.isEmpty) o else pin(o)
      }
      val old = oldAll.filter(col(PartCol) === "")
      // each distinct column's touched (group, value) rows, the stored
      // count beside the new one: a value going live adds one to its
      // group's published count and a value reaching 0 takes one off, so
      // the count folds like a sum, from the delta's pairs alone
      val auxes = distincts.map { d =>
        val vcol = auxValCol(d)
        val was = coalesce(sum("__was"), lit(0L))
        d -> pin(oldAll.filter(col(PartCol) === d.name)
          .select((dims :+ vcol).map(col) :+ col(CountCol).as("__was"): _*)
          .unionByName(buildAux(deltas, dims, d), allowMissingColumns = true)
          .groupBy((dims :+ vcol).map(col): _*)
          .agg(was.as("__was"),
            (was + coalesce(sum(CountCol), lit(0L))).as(CountCol)))
      }
      val counts = auxes.map { case (d, m) =>
        m.groupBy(dims.map(col): _*).agg(sum(
          when(col("__was") === 0L && col(CountCol) =!= 0L, 1L)
            .when(col("__was") =!= 0L && col(CountCol) === 0L, -1L)
            .otherwise(0L)).as(d.name))
      }
      val sumView = merge(old.select((dims ++ aggs.map(_.name) ++
          distincts.map(_.name) :+ CountCol).map(col): _*),
        counts.foldLeft(deltaAgg)(_.unionByName(_, allowMissingColumns = true)),
        dims, aggs.map(_.name), distincts.map(_.name))
      val view =
        if (extrema.isEmpty) sumView
        else refreshExtrema(spark, basePath, keys, order, dims, extrema,
          headManifest, deltas, old, sumView, pins)
      // a (group, value) row is written only when its count moved
      commit(spark, viewPath, viewKeys(dims, distincts),
        tableRows(view, auxes.map { case (d, m) =>
          d.name -> m.filter(col(CountCol) =!= col("__was")).drop("__was")
        }, cols), Some(from), head)
    } finally pins.foreach(_.unpersist(false))
  }

  /** Test/telemetry seam: runs after a [[maintainStream]] batch's fold
    * committed, BEFORE the streaming checkpoint commits — the crash
    * window whose replay the `to <= watermark` skip absorbs. Production
    * never sets it.
    */
  private[graft] var onAfterStreamFold: Long => Unit = _ => ()

  /** CONTINUOUS maintenance: the view follows the base table through
    * the `graft-changes` weighted stream instead of manual [[refresh]]
    * calls — readStream (stored key/order spec, `versionColumns`
    * anchors) → foreachBatch fold → the same CAS commit as a manual
    * refresh, which is what makes the loop exactly-once:
    *
    *  - each batch carries its manifest range as constant columns; the
    *    fold applies it at the view's CURRENT watermark and commits
    *    at the batch's end version;
    *  - a batch whose end is at or below the watermark is a REPLAY (the
    *    engine re-runs the last uncommitted batch after a crash — even
    *    one whose fold already committed) and is skipped: the fold is
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
    val meta0 = viewHead(viewPath)._3
    val wm0 = markOf(meta0).getOrElse(throw new IllegalStateException(
      s"$viewPath: no watermark — bootstrap the view before streaming " +
        "maintenance (a fresh view must not treat the whole history as " +
        "one delta)"))
    // REUSED-CHECKPOINT guard. The fold's `wm < batchFrom` case is legal
    // only because every gap range was previously delivered to THIS
    // query as an empty batch — an invariant that holds exactly while
    // the watermark never moves BACKWARD relative to this query's
    // history. A force re-bootstrap onto a recreated base moves it
    // backward; resuming the OLD checkpoint would silently fold only the
    // tail of the new history. The stream's first start persisted its
    // floor under the checkpoint (`sources/0`, the source's own file); a
    // watermark below it is exactly "moved backward", so refuse at
    // start. The location resolves through the source's ONE path rule:
    // a `file:/...` checkpointDir would otherwise probe a nonexistent
    // relative path and silently disarm the guard
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
    // tail, silently. Every bootstrap mints a new incarnation into the
    // view table's manifest meta; this stream binds to it at first
    // start and refuses any later mismatch.
    val inc = meta0(IncarnationMeta)
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
    // pinned: read once for the count here, reused by the commit's
    // semi-join (the caller unpersists after the commit)
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
    * current watermark: the view table's resolved view rows, internal
    * columns dropped. The scan reads a distinct column's aux rows too
    * (they share the table) and drops them after the resolve. Loud
    * before bootstrap.
    */
  def read(spark: SparkSession, viewPath: String): DataFrame = {
    if (markOf(viewHead(viewPath)._3).isEmpty) throw new IllegalStateException(
      s"$viewPath: no watermark — the view was never bootstrapped")
    val rows = KeyedUpsertSink.readBucketedDelta(spark, viewPath)
      .filter(col(PartCol) === "")
    rows.drop(rows.columns.filter(_.startsWith("__")): _*)
  }
}
