package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated corpus (TESTDATA.md): TPC-H-ish star
  * schema + `events` stream table + `documents`/`embeddings` for the
  * training-data-pipeline operators.
  *
  * Scale notes: every loader is a plain parquet scan — Catalyst pushes
  * filters and prunes columns into the `FileScan`, so callers should
  * filter/select as early as possible and never cache here. On a real
  * cluster these paths would be object-store URIs; nothing else changes.
  */
object Tables {

  /** Some fixture generations write `events.ts` as parquet
    * TIMESTAMP(NANOS), which Spark's vectorized reader rejects unless
    * nanos are surfaced as raw longs. Keeping the conf on is harmless for
    * µs/NTZ fixtures (it only affects the NANOS physical type), so it
    * stays set unconditionally; [[normalizeEventTs]] dispatches on what
    * the scan actually yields.
    */
  def withNanos(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark
  }

  /** Per-(dir, table) inferred-schema cache (round-19 optimization):
    * every bare `spark.read.parquet` pays a schema-inference job (a
    * one-footer driver job, ~25-35 ms) at read construction, and the
    * bench/verify mains construct hundreds of these reads over the SAME
    * immutable fixture files — ~1-4 inference jobs per query invocation
    * for schemas that never change. The key carries the parquet dir's
    * mtime plus the nanosAsLong conf (it changes how TIMESTAMP(NANOS)
    * surfaces), so a regenerated fixture or a re-conf'd session misses
    * the cache instead of serving a stale schema. Values are a few KB of
    * StructType per table; the map is bounded by the fixture set.
    */
  private val tableSchemaCache = new java.util.concurrent.ConcurrentHashMap[
    (String, String, String), org.apache.spark.sql.types.StructType]()

  /** Stable per-session token for plan-cache keys (round-20): the api
    * `SparkSession` exposes no sessionUUID, and keying a cache by the
    * session OBJECT would pin stopped test sessions in memory — a weak
    * map mints one token per live session and lets dead ones collect.
    * (Cached frames keyed by token still reference their session until
    * the size-capped clear; the caps below bound that.)
    */
  private val sessionTokens = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, String]())
  private[graft] def sessionToken(spark: SparkSession): String =
    sessionTokens.computeIfAbsent(spark,
      _ => java.util.UUID.randomUUID().toString)

  /** Per-(session, path, fingerprint) RESOLVED reader cache (round-20,
    * third pass). Constructing `spark.read.parquet(path)` runs the
    * analyzer's ResolveDataSource rule — a driver-side relation resolve
    * (existence checks + file-index build) measured at 15-30 ms per
    * construction, and the mains construct hundreds per run over the
    * SAME immutable fixture files (tools.Profile's rule table: 15-80 ms/rep on
    * ordinary queries, top rule suite-wide). Reusing the resolved
    * Dataset embeds the already-analyzed LogicalRelation in downstream
    * plans, so the rule never re-fires for a cached read. This caches a
    * PLAN, not data — every action still scans the parquet. The file-set
    * fingerprint (`stamp`) and the session token key invalidation; the
    * size cap bounds stopped-session retention in long test suites.
    */
  private val tableFrameCache = new java.util.concurrent.ConcurrentHashMap[
    (String, String, String, String), DataFrame]()

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    parquetFrame(spark, s"$dir/$name.parquet")

  /** [[table]]'s resolved-reader cache over an ARBITRARY parquet path —
    * for the other immutable per-JVM fixtures the mains re-read every
    * rep (the memoized media corpus, staged fixture waves). Callers own
    * the immutability claim; the file-set fingerprint demotes a mutated
    * path to a cache miss, never a stale read.
    */
  def parquetFrame(spark: SparkSession, path: String): DataFrame = {
    val s = withNanos(spark)
    // Cache key fingerprints the file set: for a plain file, (mtime, size);
    // for a directory, max entry mtime + total size + entry count — so an
    // in-place part-file rewrite that keeps names (dir mtime unchanged) or
    // a same-size sub-second regeneration still misses. NonFatal (not just
    // IOException) falls back to the uncached read: InvalidPathException
    // and friends from URI-style paths must hit the old path, not escape.
    val stamp =
      try {
        val p = java.nio.file.Paths.get(path)
        if (java.nio.file.Files.isDirectory(p)) {
          val entries = java.nio.file.Files.list(p)
          try {
            var n = 0L; var bytes = 0L; var maxM = 0L
            entries.forEach { e =>
              n += 1
              bytes += (try java.nio.file.Files.size(e) catch { case _: java.io.IOException => 0L })
              val m = try java.nio.file.Files.getLastModifiedTime(e).toMillis
                catch { case _: java.io.IOException => 0L }
              if (m > maxM) maxM = m
            }
            s"d:$n:$bytes:$maxM:${java.nio.file.Files.getLastModifiedTime(p).toMillis}"
          } finally entries.close()
        } else
          s"f:${java.nio.file.Files.size(p)}:${java.nio.file.Files.getLastModifiedTime(p).toMillis}"
      } catch { case scala.util.control.NonFatal(_) =>
        // unreadable/odd path (object-store URI): skip the cache, read as before
        return s.read.parquet(path)
      }
    val nanosConf = s.conf.get("spark.sql.legacy.parquet.nanosAsLong", "true")
    if (tableFrameCache.size > 512) tableFrameCache.clear()
    tableFrameCache.computeIfAbsent((sessionToken(s), path, stamp, nanosConf),
      _ => {
        val schema = tableSchemaCache.computeIfAbsent((path, stamp, nanosConf),
          _ => s.read.parquet(path).schema)
        s.read.schema(schema).parquet(path)
      })
  }

  def region(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = table(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "lineitem")
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")

  /** Register every corpus table as a temp view (plus `events` with its
    * derived µs/ms/timestamp columns), so the whole engine surface is
    * reachable from `spark.sql("SELECT ... FROM lineitem ...")` exactly
    * like from the DataFrame API.
    */
  def registerViews(spark: SparkSession, dir: String): Unit = {
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings")
      .foreach(t => table(spark, dir, t).createOrReplaceTempView(t))
    events(spark, dir).createOrReplaceTempView("events")
  }

  /** Normalize a scanned `events` frame — whatever the fixture's physical
    * `ts` encoding — into the canonical derived columns the whole engine
    * consumes: `ts_ns` (long nanos), `ts_us` (long micros), `ts_ms` (long
    * millis), `ts_utc` (TIMESTAMP instant). Two encodings exist in the
    * wild for the driver fixtures:
    *
    *   - legacy parquet TIMESTAMP(NANOS), surfaced as a raw long via
    *     `spark.sql.legacy.parquet.nanosAsLong` → `ts` scans as BIGINT;
    *   - parquet timestamp[us] (isAdjustedToUTC=false) → `ts` scans as
    *     TIMESTAMP_NTZ (or TIMESTAMP when adjusted).
    *
    * Dispatching on the SCANNED type (not a config) makes schema drift in
    * the lake a non-event: both encodings produce identical `ts_us` rows
    * (pinned by EventsEncodingSpec). IMPORTANT precision note: DuckDB reads
    * parquet nanos truncated to MICROsecond precision, so every
    * cross-engine-visible ordering or arithmetic must use `ts_us`
    * (= `epoch_us(ts)` in DuckDB, exactly), never raw nanos — for the µs
    * encoding `ts_ns` is a *derived* `ts_us * 1000` kept only so callers
    * have a uniform column set.
    *
    * Works on batch and streaming frames alike (pure projection; the cast
    * NTZ→TIMESTAMP uses the session time zone, which every entry point in
    * this engine pins to UTC).
    */
  def normalizeEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.LongType
    val withUs = df.schema("ts").dataType match {
      case LongType => // legacy NANOS-as-long fixture
        df.withColumnRenamed("ts", "ts_ns")
          .withColumn("ts_us", expr("ts_ns div 1000"))
      case _ => // timestamp[us] / TIMESTAMP_NTZ fixture
        df.withColumn("ts_us", unix_micros(col("ts").cast("timestamp")))
          .withColumn("ts_ns", col("ts_us") * lit(1000L))
          .drop("ts")
    }
    withUs
      .withColumn("ts_ms", expr("ts_us div 1000"))
      .withColumn("ts_utc", timestamp_micros(col("ts_us")))
  }

  /** `events` with the canonical derived time columns (see
    * [[normalizeEventTs]] for the encoding dispatch and the µs-precision
    * contract).
    */
  def events(spark: SparkSession, dir: String): DataFrame =
    normalizeEventTs(table(spark, dir, "events"))

  /** Expected column names per fixture table (TESTDATA.md). Types are NOT
    * pinned here on purpose — [[normalizeEventTs]] absorbs the known
    * `events.ts` encoding drift; what the probe must catch loudly is a
    * column disappearing/renaming or a table going missing.
    */
  val expectedColumns: Map[String, Set[String]] = Map(
    "region"   -> Set("r_regionkey", "r_name"),
    "nation"   -> Set("n_nationkey", "n_name", "n_regionkey"),
    "customer" -> Set("c_custkey", "c_name", "c_nationkey", "c_acctbal",
      "c_mktsegment"),
    "supplier" -> Set("s_suppkey", "s_name", "s_nationkey", "s_acctbal"),
    "part"     -> Set("p_partkey", "p_name", "p_brand", "p_type", "p_size",
      "p_retailprice"),
    "orders"   -> Set("o_orderkey", "o_custkey", "o_orderstatus",
      "o_totalprice", "o_orderdate", "o_orderpriority"),
    "lineitem" -> Set("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
      "l_quantity", "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
      "l_linestatus", "l_shipdate"),
    "events"   -> Set("event_id", "ts", "user_id", "event_type", "value", "props"),
    "documents"  -> Set("doc_id", "text", "lang", "source", "n_chars"),
    "embeddings" -> Set("vec_id", "embedding", "label"))

  /** Fail-loud fixture probe, run at Verify/Bench startup: footer-only
    * schema reads of every fixture table, diffed against
    * [[expectedColumns]]. Round 10 lost 18% of the verified surface to a
    * silently regenerated fixture; this turns the next drift into one
    * prominent `FIXTURE DRIFT` stderr line BEFORE any query runs, instead
    * of a round of opaque per-query analysis errors. Returns the drift
    * messages (empty = clean) so tests can pin the diagnosis.
    */
  def probeFixtures(spark: SparkSession, dir: String): Seq[String] = {
    val drifts = expectedColumns.toSeq.sortBy(_._1).flatMap { case (name, want) =>
      scala.util.Try(table(spark, dir, name).schema) match {
        case scala.util.Failure(e) =>
          // String.valueOf: getMessage is null for NPEs and several
          // wrapped IO errors — the drift reporter must not itself throw
          Some(s"table $name: unreadable (${e.getClass.getSimpleName}: " +
            s"${String.valueOf(e.getMessage).take(120)})")
        case scala.util.Success(schema) =>
          System.err.println(s"[fixture] $name: " + schema.fields
            .map(f => s"${f.name}:${f.dataType.simpleString}").mkString(", "))
          val got = schema.fieldNames.toSet
          val missing = want -- got
          val extra = got -- want
          if (missing.nonEmpty || extra.nonEmpty)
            Some(s"table $name: missing=${missing.toSeq.sorted.mkString("[", ",", "]")} " +
              s"extra=${extra.toSeq.sorted.mkString("[", ",", "]")}")
          else None
      }
    }
    drifts.foreach(d => System.err.println(s"[fixture] *** FIXTURE DRIFT *** $d"))
    if (drifts.isEmpty)
      System.err.println(s"[fixture] all ${expectedColumns.size} tables match expected columns ($dir)")
    drifts
  }
}
