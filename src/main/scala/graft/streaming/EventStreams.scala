package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Structured Streaming surface over the events table (SURVEY.md §2B
  * "Streaming" row; batch twins live in
  * [[graft.queries.EventQueries]] and stay DuckDB-checkable).
  *
  * Scale design: all aggregations are keyed (event_type/user_id), so
  * state is partitioned across executors; watermarks bound state size;
  * `dropDuplicates` state is similarly keyed and watermark-expired.
  */
object EventStreams {

  /** File-source schema for the MICROS flavor: `ts` as TimestampType
    * reads TIMESTAMP(MICROS, isAdjustedToUTC=false) interpreted in the
    * session zone (UTC here) — the same normalization
    * [[graft.sources.Sources.table]] applies on the batch side, so
    * stream and batch twins see identical instants. [[readEvents]]
    * swaps the `ts` field for the NANOS flavor.
    */
  val rawSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Open the events parquet as a stream (file micro-batch source).
    *
    * Testdata regenerates per round and `ts` has shipped as both
    * TIMESTAMP(NANOS) and TIMESTAMP(MICROS) across generations; a file
    * stream needs an EXPLICIT schema, so probe the flavor from batch
    * inference (the [[graft.sources.Sources.table]] branch) rather than
    * assuming one — otherwise a regeneration flips the stream source
    * into a schema-mismatch failure while batch keeps working.
    */
  def readEvents(spark: SparkSession, path: String): DataFrame = {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = spark.conf.getOption(key)
    val tsType = try {
      spark.conf.set(key, "true")
      spark.read.parquet(path).schema("ts").dataType
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    tsType match {
      case LongType =>
        // NANOS flavor: unlike the batch reader's set-and-restore, the
        // stream re-reads parquet every micro-batch, so the legacy conf
        // must stay set for the stream's lifetime.
        spark.conf.set(key, "true")
        val nanoSchema = StructType(rawSchema.map {
          case f if f.name == "ts" => StructField("ts", LongType)
          case f => f
        })
        spark.readStream.schema(nanoSchema).parquet(path)
          .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ =>
        spark.readStream.schema(rawSchema).parquet(path)
    }
  }

  /** Tumbling 1-hour counts with a 10-minute watermark. */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("cnt"), col("sum_value"))

  /** Sliding 1-hour/30-minute windows. */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour", "30 minutes"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("win_start"), col("cnt"))

  /** Session windows (30-minute gap) per user — native session_window. */
  def sessionAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("session_window.start").as("session_start"),
        col("user_id"), col("n_events"), col("sum_value"))

  /** Exactly-once-ish stream dedup on event_id within the watermark. */
  def dedupStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicates("event_id", "ts")

  /** Watermark-scoped dedup on the BUSINESS key alone
    * (`dropDuplicatesWithinWatermark`): unlike [[dedupStream]], the
    * event-time column is not part of the dedup key, so a duplicate
    * that arrives with a (slightly) different timestamp — the common
    * at-least-once-delivery artifact — is still suppressed; state for a
    * key expires once the watermark passes its first-seen time. The
    * state-bounding story is identical, the semantics match what a
    * pipeline usually means by "dedup by id".
    */
  def dedupStreamByKey(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-static enrichment: join each micro-batch against a static
    * dimension with a broadcast hash join — stateless (no watermark, no
    * state store; the static side is planned per micro-batch, so a
    * refreshed dimension table is picked up between batches). The
    * standard shape for attaching dimension attributes to an event
    * stream at scale: the stream never shuffles, only the small static
    * side moves.
    */
  def enrichWithDim(events: DataFrame, dim: DataFrame,
      eventKey: String, dimKey: String): DataFrame =
    events.join(broadcast(dim), col(eventKey) === col(dimKey), "left")

  /** Stream-stream inner join: each click pairs with same-user purchases
    * within the next `boundMinutes`. BOTH sides carry watermarks and the
    * join condition bounds event time in both directions, so the state
    * store provably expires rows (clicks older than the purchase
    * watermark minus the bound; purchases older than the click
    * watermark) — the shape that holds state constant at 100 TB/day
    * instead of growing without bound.
    */
  def clickPurchaseJoin(events: DataFrame, boundMinutes: Int = 30): DataFrame =
    clickPurchase(events, boundMinutes, "inner")

  /** Stream-stream LEFT OUTER click/purchase join: same watermarks and
    * two-sided time bound as the inner join, plus watermark-driven null
    * emission — a click whose join window `[c_ts, c_ts + bound]` falls
    * entirely below the watermark can provably never match, so the state
    * store evicts it AND emits it once with null purchase columns. The
    * null rows therefore arrive one watermark-advance after the data
    * batch (they need a later batch to push the watermark past the
    * window) — the inherent outer-join latency trade; state stays
    * bounded exactly as in the inner case.
    */
  def clickPurchaseLeftJoin(events: DataFrame, boundMinutes: Int = 30): DataFrame =
    clickPurchase(events, boundMinutes, "leftOuter")

  private def clickPurchase(events: DataFrame, boundMinutes: Int,
      joinType: String): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "10 minutes")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"), col("value").as("p_value"))
      .withWatermark("p_ts", "10 minutes")
    clicks.join(purchases,
      col("c_user") === col("p_user") &&
        col("p_ts") >= col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr(s"INTERVAL $boundMinutes MINUTES"),
      joinType)
  }

  final case class UserRunning(userId: Long, nEvents: Long, totalValue: Double)

  /** Custom keyed state: running per-user totals via mapGroupsWithState —
    * the escape hatch for logic window functions can't express in a
    * stream (reference analog: the incremental per-partition accumulator
    * loop, clickhouse_migrator/services/migration.py:507-508).
    */
  def runningUserTotals(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    events
      .selectExpr("user_id", "value")
      .as[(Long, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState[UserRunning, UserRunning](
        GroupStateTimeout.NoTimeout) {
        case (uid, rows, state: GroupState[UserRunning]) =>
          val prev = state.getOption.getOrElse(UserRunning(uid, 0L, 0.0))
          var n = prev.nEvents
          var tot = prev.totalValue
          rows.foreach { r => n += 1; tot += r._2 }
          val next = UserRunning(uid, n, tot)
          state.update(next)
          next
      }
      .toDF("user_id", "n_events", "total_value")
  }

  final case class GapState(lastHour: Long, lastSum: Option[Double])
  final case class FilledHour(event_type: String, win_start: String,
      cnt: Long, filled: Boolean, locf_sum: Option[Double])

  /** CONTINUOUS gap-fill + LOCF — the streaming face of `e_gapfill`,
    * and a problem plain windowed aggregation cannot express: hours
    * with NO events produce no rows to aggregate, so the densified
    * series must come from KEYED STATE that remembers each type's
    * emitted frontier (last emitted hour + last observed hourly sum)
    * and, on every arriving micro-batch, emits the zero-filled/LOCF
    * rows between the frontier and the batch's newest hour.
    *
    * Arithmetic matches the batch twin exactly: per-hour sums fold as
    * 2-decimal BigDecimals (the `dsum` DECIMAL(18,2) cast), converted
    * to double once — so stream output is value-identical to
    * `e_gapfill`, spec-proven across multiple micro-batches.
    *
    * Contract (the watermark analog, documented rather than hidden):
    * ingestion is assumed hour-monotone per type across micro-batches —
    * the hourly-file-drop shape this operator exists for; rows older
    * than the emitted frontier are dropped (a frontier, like a
    * watermark, cannot retract emitted results). State is O(1) per
    * type. Each hour is emitted exactly once → Append mode.
    */
  /** Epoch-hour index → 'yyyy-MM-dd HH:mm' UTC. A module method rather
    * than a captured formatter: DateTimeFormatter is not serializable,
    * and the state closure must stay clean.
    */
  private def fmtHour(h: Long): String =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm")
      .withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.ofEpochSecond(h * 3600L))

  def gapFillStream(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    events
      .select(col("event_type"),
        (unix_micros(date_trunc("hour", col("ts"))) / 3600000000L)
          .cast("long").as("hr"),
        col("value"))
      .as[(String, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[GapState, FilledHour](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        case (et, rows, state: GroupState[GapState]) =>
          val byHour = rows.toSeq.groupBy(_._2).map { case (h, rs) =>
            h -> (rs.size.toLong,
              rs.map(r => BigDecimal(r._3)
                .setScale(2, scala.math.BigDecimal.RoundingMode.HALF_UP))
                .sum.toDouble)
          }
          if (byHour.isEmpty) Iterator.empty
          else {
            var st = state.getOption
              .getOrElse(GapState(byHour.keys.min - 1, None))
            val out = Seq.newBuilder[FilledHour]
            ((st.lastHour + 1) to byHour.keys.max).foreach { h =>
              val ws = fmtHour(h)
              byHour.get(h) match {
                case Some((n, s)) =>
                  out += FilledHour(et, ws, n, filled = false, Some(s))
                  st = GapState(h, Some(s))
                case None =>
                  out += FilledHour(et, ws, 0L, filled = true, st.lastSum)
                  st = GapState(h, st.lastSum)
              }
            }
            state.update(st)
            out.result().iterator
          }
      }
      .toDF("event_type", "win_start", "cnt", "filled", "locf_sum")
  }

  final case class CusumState(lastHour: Long, s: Long)
  final case class CusumOut(event_type: String, h: String, xs: Long,
      cusum: Long, flagged: Boolean)

  /** CONTINUOUS CUSUM drift detection — the streaming twin of the
    * oracle-checked `e_cusum`, as a per-type keyed state machine: state
    * is the O(1) pair (emitted-hour frontier, running S), and each
    * arriving micro-batch folds its own complete hours in event-time
    * order through S ← max(0, S + (xs − target)).
    *
    * Deployment split (the textbook CUSUM shape): the batch twin
    * DERIVES the reference value from the full historical series; the
    * stream DETECTS against that frozen reference — `targets` is model
    * state per type (micro-units of value), computed offline exactly
    * like the IVF centroids the streaming ANN ingest encodes against.
    * Hourly sums fold as 6-decimal BigDecimals scaled to micro-unit
    * longs — bit-identical to the batch's DECIMAL(18,6)·1e6 cast — so
    * given the batch-derived targets the stream's rows are
    * value-identical to `e_cusum` (spec-proven across micro-batch
    * splits and under RocksDB state).
    *
    * Contract (the gapFillStream frontier convention): ingestion is
    * hour-monotone per type and each hour arrives within one
    * micro-batch — the hourly-file-drop shape; rows at or before the
    * emitted frontier are dropped (a frontier, like a watermark,
    * cannot retract an emitted S). Each hour emits exactly once →
    * Append mode.
    */
  def cusumStream(spark: SparkSession, events: DataFrame,
      targets: Map[String, Long]): DataFrame = {
    import spark.implicits._
    events
      .select(col("event_type"),
        (unix_micros(date_trunc("hour", col("ts"))) / 3600000000L)
          .cast("long").as("hr"),
        col("value"))
      .as[(String, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[CusumState, CusumOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        case (et, rows, state: GroupState[CusumState]) =>
          val target = targets.getOrElse(et, 0L)
          var st = state.getOption.getOrElse(CusumState(Long.MinValue, 0L))
          val byHour = rows.toSeq
            .filter(_._2 > st.lastHour)
            .groupBy(_._2).toSeq.sortBy(_._1)
            .map { case (h, rs) =>
              h -> (rs.map(r => BigDecimal(r._3)
                .setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP))
                .sum * 1000000).toLongExact
            }
          val out = byHour.map { case (h, xs) =>
            st = CusumState(h, math.max(0L, st.s + (xs - target)))
            CusumOut(et, fmtHour(h), xs, st.s,
              st.s > 3L * math.max(target, 1L))
          }
          if (out.nonEmpty) state.update(st)
          out.iterator
      }
      .toDF("event_type", "h", "xs", "cusum", "flagged")
  }

  final case class FunnelState(tv: Option[Long], tc: Option[Long], tp: Option[Long])
  final case class FunnelOut(userId: Long, stage: Int)

  /** Streaming ordered funnel (view → click-after-view →
    * purchase-after-click) as a per-user state machine via
    * flatMapGroupsWithState — the multi-stage custom state that windowed
    * aggregation can't express. Each user's state is three optional
    * event-time micros (first view, first qualifying click, first
    * qualifying purchase); every micro-batch sorts ITS OWN rows by event
    * time before folding (a micro-batch iterator carries no time order),
    * emits the user's current stage in Update mode, and keeps state O(1)
    * per user.
    *
    * Semantics note (inherent to incremental funnels): a view arriving
    * AFTER a batch that already latched a later view cannot retroactively
    * lower `tv` — within-batch processing is exact (the spec proves
    * stream ≡ batch on single-batch input), across batches the funnel is
    * monotone latch-on-first, the standard production trade.
    */
  def funnelStages(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    events
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("tsu"))
      .as[(Long, String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[FunnelState, FunnelOut](
        OutputMode.Update(), GroupStateTimeout.NoTimeout) {
        case (uid, rows, state: GroupState[FunnelState]) =>
          var st = state.getOption.getOrElse(FunnelState(None, None, None))
          // tie-break equal timestamps by stage precedence: the batch
          // twin's `ts >= prev` comparisons include equality, so a
          // same-instant view+click must fold view first to latch both
          val stageRank = Map("view" -> 0, "click" -> 1, "purchase" -> 2)
          rows.toSeq.sortBy(r => (r._3, stageRank.getOrElse(r._2, 3)))
            .foreach { case (_, et, ts) =>
            et match {
              case "view" if st.tv.isEmpty =>
                st = st.copy(tv = Some(ts))
              case "click" if st.tv.exists(_ <= ts) && st.tc.isEmpty =>
                st = st.copy(tc = Some(ts))
              case "purchase" if st.tc.exists(_ <= ts) && st.tp.isEmpty =>
                st = st.copy(tp = Some(ts))
              case _ =>
            }
          }
          state.update(st)
          val stage = Seq(st.tv, st.tc, st.tp).takeWhile(_.nonEmpty).size
          Iterator.single(FunnelOut(uid, stage))
      }
      .toDF("user_id", "stage")
  }

  /** Stream → JDBC sink via `foreachBatch` with batchId-keyed
    * idempotent writes — the standard exactly-once-END-STATE recipe for
    * sinks without native transaction-log support (reference analog:
    * the tool's INSERT…SELECT copies into a database,
    * clickhouse_migrator/services/migration.py:466-508, which duplicate
    * on replay; this shape does not). Each micro-batch stamps its rows
    * with `batch_id`, DELETEs its own batchId's rows, then appends:
    *  - crash between delete and append → replay deletes again (no-op)
    *    and re-inserts;
    *  - crash between append and checkpoint commit → replay deletes the
    *    orphaned rows and re-inserts them.
    * Either way the final table state equals exactly-once. At scale the
    * delete prunes on an indexed batch_id; the append is Spark's
    * distributed JDBC writer (one connection per partition).
    *
    * Known limit (inherent to delete-then-append over plain JDBC): the
    * guarantee is per BATCH REPLAY, not per task retry. Each append
    * partition commits its own JDBC transaction, so a task that fails
    * AFTER its commit and is retried within the same (ultimately
    * successful) batch leaves that partition's rows twice, and no later
    * delete runs for a batch that succeeded. Sinks needing task-retry
    * immunity should put a unique key on the rows and MERGE/upsert
    * instead of append — at which point the batch_id delete becomes
    * unnecessary.
    *
    * The DELETE runs on the driver over one connection built from the
    * same `props` the distributed append uses (user/password/driver are
    * honored — an authenticated target behaves the same on both paths),
    * with `table` resolved via [[resolveTableName]] and `batchId` bound
    * as a parameter.
    *
    * For task-retry immunity (a stronger guarantee), see
    * [[sinkToJdbcUpsert]].
    */
  def sinkToJdbc(df: DataFrame, url: String, table: String,
      checkpoint: String, props: Map[String, String] = Map.empty): StreamingQuery = {
    val q = df.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        props.get("driver").foreach(Class.forName(_))
        val connProps = new java.util.Properties()
        props.foreach { case (k, v) => connProps.setProperty(k, v) }
        val dialect = org.apache.spark.sql.jdbc.JdbcDialects.get(url)
        val quoted = resolveTableName(dialect, table)
        val conn = java.sql.DriverManager.getConnection(url, connProps)
        try {
          val st = conn.prepareStatement(
            s"DELETE FROM $quoted WHERE batch_id = ?")
          try { st.setLong(1, batchId); st.executeUpdate() }
          finally st.close()
        } finally conn.close()
        val writer = batch
          .withColumn("batch_id", org.apache.spark.sql.functions.lit(batchId))
          .write.mode("append").format("jdbc")
          .option("url", url).option("dbtable", quoted)
        props.foldLeft(writer) { case (w, (k, v)) => w.option(k, v) }.save()
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q
  }

  /** Resolve a (possibly schema-qualified) table name for inline SQL,
    * matching how unquoted names behaved before quoting was introduced:
    * each dot-segment that is a PLAIN identifier (`[A-Za-z_][A-Za-z0-9_]*`)
    * is passed through verbatim, so the database's own case
    * normalization applies and legacy lowercase names (`events_sink`
    * against a case-upper-folding database like Derby) keep resolving.
    * A segment that is already wrapped in the dialect's quote string is
    * trusted verbatim (use this for reserved words: pass `"ORDER"` with
    * the literal quotes). Anything else — spaces, dashes, dots inside a
    * name are not supported here — is quoted via the dialect.
    */
  private[streaming] def resolveTableName(
      dialect: org.apache.spark.sql.jdbc.JdbcDialect, table: String): String = {
    // leading quote char: "\"" for ANSI dialects, "`" for MySQL
    val q = dialect.quoteIdentifier("").take(1)
    table.split('.').map { seg =>
      if (seg.matches("[A-Za-z_][A-Za-z0-9_]*")) seg
      else if (q.nonEmpty && seg.startsWith(q) && seg.endsWith(q) && seg.length > 1) seg
      else dialect.quoteIdentifier(seg)
    }.mkString(".")
  }

  /** Stream → JDBC sink with KEYED UPSERT semantics — exactly-once end
    * state under BOTH batch replays and task retries, closing the gap
    * [[sinkToJdbc]]'s scaladoc documents. Every write is an idempotent
    * per-key UPDATE-else-INSERT inside one transaction per partition:
    *  - batch replay (crash before checkpoint commit) → the replayed
    *    rows re-upsert to the same end state;
    *  - task retry (a partition whose JDBC transaction committed but
    *    whose Spark task is retried) → the retried partition re-upserts
    *    the same keys, again a no-op on state. This is the case
    *    delete-then-append cannot cover, because no later delete runs
    *    for a batch that ultimately succeeds.
    *
    * Scale shape: writes stay fully distributed (one connection + one
    * transaction per partition, statements batched in chunks of
    * [[UpsertChunk]]); the driver never sees row data. On a database
    * with a native MERGE the same contract can be met in one statement —
    * this implementation uses portable UPDATE/INSERT so it runs on any
    * JDBC target (the repo's live tests use embedded Derby).
    *
    * Contract: `keyCols` must uniquely identify rows WITHIN a
    * micro-batch (dedupe upstream with `dropDuplicates` if the source
    * can repeat keys); duplicate keys inside one chunk are defensively
    * collapsed keep-last, and cross-chunk repeats resolve through the
    * UPDATE path. The target table must exist with a matching schema —
    * a unique index on `keyCols` is recommended (the database then also
    * enforces the contract).
    */
  def sinkToJdbcUpsert(df: DataFrame, url: String, table: String,
      keyCols: Seq[String], checkpoint: String,
      props: Map[String, String] = Map.empty): StreamingQuery = {
    val q = df.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        upsertBatch(batch, url, table, keyCols, props)
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q
  }

  /** Statement-batch size for the upsert sink: large enough to amortize
    * round-trips, small enough that a chunk's parameter buffers stay
    * trivially in memory.
    */
  val UpsertChunk: Int = 500

  /** One micro-batch of the upsert sink: distributed foreachPartition,
    * each partition writing through [[upsertPartition]]. Factored out so
    * the spec can invoke a batch (or a single partition) twice to
    * simulate replays and retried tasks deterministically.
    */
  private[streaming] def upsertBatch(batch: DataFrame, url: String,
      table: String, keyCols: Seq[String], props: Map[String, String]): Unit = {
    val schema = batch.schema
    require(keyCols.nonEmpty, "upsert sink needs at least one key column")
    val missing = keyCols.filterNot(schema.fieldNames.contains)
    require(missing.isEmpty, s"key columns not in batch schema: $missing")
    batch.foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
      upsertPartition(rows, schema, url, table, keyCols, props)
    }
  }

  /** Upsert one partition's rows in a single transaction. UPDATEs are
    * statement-batched; rows whose update count is 0 are INSERTed in a
    * second statement batch. A driver that hides update counts
    * (`SUCCESS_NO_INFO`) cannot distinguish update-hit from miss, so we
    * refuse rather than risk duplicates.
    */
  private[streaming] def upsertPartition(rows: Iterator[org.apache.spark.sql.Row],
      schema: StructType, url: String, table: String, keyCols: Seq[String],
      props: Map[String, String]): Unit = {
    if (!rows.hasNext) return
    props.get("driver").foreach(Class.forName(_))
    val connProps = new java.util.Properties()
    props.foreach { case (k, v) => connProps.setProperty(k, v) }
    val dialect = org.apache.spark.sql.jdbc.JdbcDialects.get(url)
    val quoted = resolveTableName(dialect, table)
    def qi(c: String) = resolveTableName(dialect, c)
    val cols = schema.fieldNames.toSeq
    val nonKey = cols.filterNot(keyCols.contains)
    val keyIdx = keyCols.map(schema.fieldIndex)
    val insertSql = s"INSERT INTO $quoted (${cols.map(qi).mkString(", ")}) " +
      s"VALUES (${cols.map(_ => "?").mkString(", ")})"
    val whereKeys = keyCols.map(c => s"${qi(c)} = ?").mkString(" AND ")
    val conn = java.sql.DriverManager.getConnection(url, connProps)
    try {
      conn.setAutoCommit(false)
      val ins = conn.prepareStatement(insertSql)
      def bindInsert(r: org.apache.spark.sql.Row): Unit = {
        cols.indices.foreach(i => setParam(ins, i + 1, r.get(i), schema(i).dataType))
        ins.addBatch()
      }
      if (nonKey.nonEmpty) {
        val upd = conn.prepareStatement(
          s"UPDATE $quoted SET ${nonKey.map(c => s"${qi(c)} = ?").mkString(", ")} " +
            s"WHERE $whereKeys")
        val nonKeyIdx = nonKey.map(schema.fieldIndex)
        rows.grouped(UpsertChunk).foreach { chunk =>
          // keep-last within the chunk: two occurrences of a key in one
          // UPDATE batch would both miss (or both hit) identically
          val dedup = scala.collection.mutable.LinkedHashMap
            .empty[Seq[Any], org.apache.spark.sql.Row]
          chunk.foreach(r => dedup.put(keyIdx.map(r.get), r))
          val uniq = dedup.values.toSeq
          uniq.foreach { r =>
            nonKeyIdx.zipWithIndex.foreach { case (ci, pi) =>
              setParam(upd, pi + 1, r.get(ci), schema(ci).dataType)
            }
            keyIdx.zipWithIndex.foreach { case (ci, pi) =>
              setParam(upd, nonKeyIdx.size + pi + 1, r.get(ci), schema(ci).dataType)
            }
            upd.addBatch()
          }
          val counts = upd.executeBatch()
          require(counts.forall(_ >= 0),
            "JDBC driver returned SUCCESS_NO_INFO from a batched UPDATE; " +
              "cannot distinguish hit from miss — upsert sink unsupported here")
          val misses = uniq.zip(counts.toSeq).collect { case (r, 0) => r }
          misses.foreach(bindInsert)
          if (misses.nonEmpty) ins.executeBatch()
        }
        upd.close()
      } else {
        // all columns are keys: insert-if-absent via an existence probe
        val sel = conn.prepareStatement(
          s"SELECT 1 FROM $quoted WHERE $whereKeys")
        rows.foreach { r =>
          keyIdx.zipWithIndex.foreach { case (ci, pi) =>
            setParam(sel, pi + 1, r.get(ci), schema(ci).dataType)
          }
          val rs = sel.executeQuery()
          val exists = try rs.next() finally rs.close()
          if (!exists) { bindInsert(r); ins.executeBatch() }
        }
        sel.close()
      }
      ins.close()
      conn.commit()
    } catch {
      case t: Throwable =>
        try conn.rollback() catch { case _: java.sql.SQLException => }
        throw t
    } finally conn.close()
  }

  /** Bind one value, normalizing the java.time types Spark rows may
    * carry (java8 datetime API) to the java.sql types every JDBC driver
    * accepts; nulls carry an explicit SQL type for drivers that reject
    * untyped setObject(null).
    */
  private def setParam(st: java.sql.PreparedStatement, idx: Int,
      v: Any, dt: org.apache.spark.sql.types.DataType): Unit = v match {
    case null => st.setNull(idx, sqlTypeOf(dt))
    case i: java.time.Instant => st.setTimestamp(idx, java.sql.Timestamp.from(i))
    case d: java.time.LocalDate => st.setDate(idx, java.sql.Date.valueOf(d))
    case d: java.time.LocalDateTime =>
      st.setTimestamp(idx, java.sql.Timestamp.valueOf(d))
    case other => st.setObject(idx, other)
  }

  private def sqlTypeOf(dt: org.apache.spark.sql.types.DataType): Int = dt match {
    case LongType => java.sql.Types.BIGINT
    case IntegerType => java.sql.Types.INTEGER
    case ShortType => java.sql.Types.SMALLINT
    case ByteType => java.sql.Types.TINYINT
    case DoubleType => java.sql.Types.DOUBLE
    case FloatType => java.sql.Types.REAL
    case StringType => java.sql.Types.VARCHAR
    case BooleanType => java.sql.Types.BOOLEAN
    case TimestampType => java.sql.Types.TIMESTAMP
    case DateType => java.sql.Types.DATE
    case BinaryType => java.sql.Types.BINARY
    case _: DecimalType => java.sql.Types.DECIMAL
    case other =>
      throw new IllegalArgumentException(s"upsert sink: unsupported type $other")
  }

  /** Spark's built-in RocksDB state store provider (ships with the
    * distribution, `rocksdbjni` included).
    */
  val RocksDbProvider: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Run `body` with the RocksDB state store provider enabled, restoring
    * the previous provider (or the default) afterwards.
    *
    * Why this exists: every stateful operator above (windowed aggs,
    * dropDuplicates, stream-stream join state, mapGroupsWithState) rides
    * the default HDFSBackedStateStoreProvider, which holds ALL live state
    * on executor heap. At the 100 TB/day framing the state for a
    * stream-stream join or a billions-of-keys dedup does not fit in heap
    * — RocksDB spills it to local disk with an off-heap block cache, the
    * standard production configuration. The conf is read at QUERY START,
    * so wrapping the `start()` call is sufficient; already-running
    * queries are unaffected.
    */
  def withRocksDbStateStore[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, RocksDbProvider)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Measured evidence for the bounded-state claim of the watermarked
    * operators: slice a batch `events` frame into `slices` time-ordered
    * files, replay them one file per micro-batch through `xform`, and
    * return the per-batch (numInputRows, state numRowsTotal) read off
    * the streaming progress. Because the watermark advances between
    * slices, a state-BOUNDED operator's numRowsTotal plateaus at the
    * rows inside its time window while ingested rows grow linearly —
    * the difference between "state ∝ watermark window" (deployable at
    * 100 TB/day) and "state ∝ stream history" (an eventual OOM).
    * Spec-asserted for the stream-stream join under RocksDB
    * (EventStreamsSpec); probed at 10× in SCALING.md (the round-16
    * entry).
    */
  def stateSizeProfile(spark: SparkSession, events: DataFrame, slices: Int,
      workDir: String, xform: DataFrame => DataFrame): Seq[(Long, Long)] = {
    import org.apache.hadoop.fs.Path
    val b = events.agg(min(col("ts")).cast("long").as("lo"),
      max(col("ts")).cast("long").as("hi")).head()
    val (lo, span) = (b.getLong(0), math.max(1L, b.getLong(1) - b.getLong(0) + 1))
    val inDir = s"$workDir/in"
    val fs = new Path(workDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new Path(inDir))
    (0 until slices).foreach { k =>
      // one data file per slice, named+written in time order so the
      // file source replays history chronologically
      val tmp = s"$workDir/tmp_$k"
      events.filter(
        floor((col("ts").cast("long") - lo) * slices / span) === k)
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      fs.listStatus(new Path(tmp)).map(_.getPath)
        .find(_.getName.startsWith("part-"))
        .foreach(p => fs.rename(p, new Path(f"$inDir/slice_$k%04d.parquet")))
      fs.delete(new Path(tmp), true)
    }
    val stream = spark.readStream.schema(events.schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir)
    val q = xform(stream).writeStream.format("noop")
      .option("checkpointLocation", s"$workDir/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q.recentProgress.toSeq.filter(_.stateOperators.nonEmpty)
      .map(p => (p.numInputRows,
        p.stateOperators.map(_.numRowsTotal).sum))
  }

  /** Run any of the above to a named in-memory sink synchronously
    * (test/demo harness; production sinks swap the format).
    */
  def runToMemory(df: DataFrame, name: String,
      mode: OutputMode = OutputMode.Append()): StreamingQuery = {
    val q = df.writeStream
      .outputMode(mode)
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q
  }
}
