package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Source/sink layer.
  *
  * The reference's only source is ClickHouse-over-HTTP
  * (reference: clickhouse_migrator/clients/ch_client.py:13-19) and its only
  * sink is a ClickHouse table on an S3 storage policy. Here the native
  * format is parquet (columnar, splittable — the right unit for a
  * 1000-executor scan); JDBC covers a live ClickHouse, and csv/json are
  * interchange formats.
  */
object Sources {

  val tableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Load one testdata table: `$dir/$name.parquet`.
    *
    * `events.ts` has shipped in two physical flavors across testdata
    * generations: parquet TIMESTAMP(NANOS) — which Spark's vectorized
    * reader rejects ([PARQUET_TYPE_ILLEGAL]) unless read as a nanosecond
    * long via `spark.sql.legacy.parquet.nanosAsLong` — and plain
    * TIMESTAMP(MICROS, isAdjustedToUTC=false), which infers as
    * TIMESTAMP_NTZ. This reader normalizes BOTH to a session-zone
    * microsecond TimestampType column (sessions here run UTC, so the
    * NTZ→LTZ cast is value-preserving and matches what DuckDB sees),
    * branching on the INFERRED type rather than assuming a flavor.
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") {
      // Scoped to this read: the conf is consulted at schema inference,
      // which the DataFrameReader performs eagerly here; the resolved
      // relation carries its type from then on, so the conf can be
      // restored immediately without affecting later execution of this
      // DataFrame — and no other parquet read in the session silently
      // inherits the legacy nanos behavior (round-1 advice).
      val key = "spark.sql.legacy.parquet.nanosAsLong"
      val prev = spark.conf.getOption(key)
      val raw = try {
        spark.conf.set(key, "true")
        spark.read.parquet(s"$dir/events.parquet")
      } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
      import org.apache.spark.sql.types.LongType
      raw.schema("ts").dataType match {
        case LongType => // nanos flavor, surfaced as a raw long
          raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case _ => // micros flavor (TIMESTAMP or TIMESTAMP_NTZ)
          raw.withColumn("ts", col("ts").cast("timestamp"))
      }
    } else spark.read.parquet(s"$dir/$name.parquet")

  /** Total byte size of a parquet table (a file-metadata stat memo —
    * never data). Used by [[fannedTable]]'s split estimate.
    */
  private val ScanBytes = new ArtifactRegistry.Kind[Long]("scan bytes")
  private def bytesOf(spark: SparkSession, dir: String, name: String): Long =
    ArtifactRegistry(ScanBytes, dir, name) {
      val hp = new org.apache.hadoop.fs.Path(s"$dir/$name.parquet")
      val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.getContentSummary(hp).getLength
    }

  /** Scale-adaptive scan FAN-OUT (optimization guide §2.5, "input
    * skew: one huge unsplittable file"): read `$dir/$name.parquet`
    * and, iff the scan would starve the cluster — fewer splits than
    * half the default parallelism, by the standard
    * bytes/maxPartitionBytes estimate — hash-repartition on `key` so
    * compute-heavy map-fused work (n-gram expressions, codec decodes,
    * per-shingle hashing) spreads across every core.
    *
    * The condition derives from the INPUT, not a local constant: a
    * production 100 TB table scans as ~10⁶ splits and this is a
    * no-op with zero added exchange; it fires exactly when the input
    * is so few-splits (single-file single-row-group testdata, a
    * gzip'd drop, one fat unsplittable file) that moving the small
    * input once costs less than computing on idle cores. Hash (not
    * round-robin) partitioning keeps row→partition assignment a pure
    * function of the data — no sort-before-repartition pass, and
    * retry-safe at scale (SPARK-38388's lesson). Results are
    * unaffected by construction: every aggregate on these paths is
    * order-insensitive exact arithmetic (the repo's determinism
    * contract) and every declared query orders its own output.
    */
  def fannedTable(spark: SparkSession, dir: String, name: String,
      key: String): DataFrame = {
    val df = table(spark, dir, name)
    val p = spark.sparkContext.defaultParallelism
    val maxSplit = spark.conf.getOption("spark.sql.files.maxPartitionBytes")
      .map(org.apache.spark.network.util.JavaUtils.byteStringAsBytes)
      .getOrElse(128L * 1024 * 1024)
    val estSplits =
      math.max(1L, bytesOf(spark, dir, name) / maxSplit)
    if (estSplits * 2 >= p) df
    else df.repartition(p, org.apache.spark.sql.functions.col(key))
  }

  def csv(spark: SparkSession, path: String, header: Boolean = true): DataFrame =
    spark.read.option("header", header.toString).option("inferSchema", "true").csv(path)

  def json(spark: SparkSession, path: String): DataFrame =
    spark.read.json(path)

  /** ORC — the other splittable columnar interchange format Spark ships
    * natively; same scan machinery (vectorized reader, predicate
    * pushdown, column pruning) as parquet.
    */
  def orc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** JDBC source for a live ClickHouse (the reference's source system).
    * Partitioned reads: supply a numeric/temporal partition column so the
    * scan fans out across executors instead of a single connection —
    * the moral equivalent of the reference's per-partition INSERT…SELECT
    * batching (reference: services/migration.py:466-508).
    *
    * Requires a ClickHouse JDBC driver on the classpath at deploy time;
    * unreachable in this offline test environment, so it is exercised
    * only via its option-plumbing in tests.
    */
  def clickhouseJdbc(
      spark: SparkSession,
      url: String,
      table: String,
      partitionColumn: Option[(String, Long, Long, Int)] = None,
      props: Map[String, String] = Map.empty): DataFrame = {
    ClickHouseDialect.ensureRegistered()
    val base = spark.read.format("jdbc")
      .option("url", url)
      .option("dbtable", table)
    val withPart = partitionColumn match {
      case Some((colName, lower, upper, num)) => base
        .option("partitionColumn", colName)
        .option("lowerBound", lower.toString)
        .option("upperBound", upper.toString)
        .option("numPartitions", num.toString)
      case None => base
    }
    props.foldLeft(withPart) { case (r, (k, v)) => r.option(k, v) }.load()
  }

  /** Row count of a parquet file/directory from FOOTER METADATA only —
    * no Spark job, no data pages read. Parquet footers carry per-block
    * row counts, so the total is a driver-side sum over file footers.
    * This is the right source for plan-build statistics (e.g. the `n`
    * feeding [[graft.operators.Similarity.chooseGeometry]]): a count
    * STATISTIC is index-build state, not part of the query DAG. At
    * warehouse scale the same number comes from the table catalog
    * (ANALYZE statistics / snapshot manifests) rather than listing
    * files; the footer walk here is the self-contained equivalent for
    * path-addressed data.
    */
  def parquetRowCount(spark: SparkSession, path: String): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(conf)
    val it = fs.listFiles(root, true)
    var total = 0L
    while (it.hasNext) {
      val st = it.next()
      if (st.isFile && st.getPath.getName.endsWith(".parquet")) {
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromStatus(st, conf)
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try total += reader.getRecordCount finally reader.close()
      }
    }
    total
  }

  /** Probe the sink the way the reference probes the S3 policy
    * (reference: clients/ch_client.py:43-57 round-trips a tmp table):
    * write a 1-row parquet under the prefix as `_graft_probe_<nonce>`
    * (unique per call, so concurrent runs never share one), read it
    * back, delete it. True only if all three succeed.
    */
  def probeSink(spark: SparkSession, prefix: String): Boolean = {
    val probePath = s"$prefix/_graft_probe_${java.util.UUID.randomUUID()}"
    try {
      spark.range(1).write.parquet(probePath)
      val ok = spark.read.parquet(probePath).count() == 1L
      val hPath = new org.apache.hadoop.fs.Path(probePath)
      val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(hPath, true) && ok
    } catch { case _: Exception => false }
  }
}
