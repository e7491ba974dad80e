package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.PortableFns._
import graft.sources.Sources

/** Scalar function / grouping-extension surface (SURVEY.md §2B): string,
  * date, math, conditional, JSON, array functions; rollup/cube/grouping
  * sets; non-equi (range) join. All whole-stage-codegen built-ins — no
  * UDFs in any of these paths.
  */
object FunctionQueries {

  private def t(s: SparkSession, dir: String, n: String) = Sources.table(s, dir, n)

  /** Scale-adaptive fan-out (Sources.fannedTable scaladoc) for queries
    * whose per-row AGGREGATE work (HLL updates, percentile state, KMV
    * sketch inserts) dominates a scan the testdata layout starves down
    * to one task. Selective by measurement (OPTIMIZATION_r20.md);
    * no-op at production split counts.
    */
  private def tF(s: SparkSession, dir: String, n: String, key: String) =
    Sources.fannedTable(s, dir, n, key)

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // String functions over part names.
    "f_string" -> ((s, dir) =>
      t(s, dir, "part")
        .select(
          col("p_partkey"),
          upper(col("p_name")).as("uname"),
          substring(col("p_name"), 1, 5).as("prefix5"),
          concat_ws("_", col("p_brand"), col("p_type")).as("brand_type"),
          regexp_replace(col("p_name"), "[aeiou]", "#").as("devowel"),
          length(col("p_name")).as("name_len"),
          instr(col("p_name"), "a").as("first_a"))
        .orderBy("p_partkey")),

    // Spark 4 COLLATIONS: case-insensitive comparison as a TYPE
    // property (`collate(col, 'UTF8_LCASE')`) instead of lower()
    // rewrites — distinct/grouping under the collation dedupe case
    // variants natively. Three case variants of every p_type (upper,
    // lower, first-letter-capitalized — spelled with shared substring
    // arithmetic, not initcap, so the oracle's variant set is
    // byte-identical), counted distinct under binary vs UTF8_LCASE
    // collation. At scale the collated comparison stays codegen'd in
    // the scan, where a lower()-wrapped key breaks column-stat reuse.
    "f_collate" -> ((s, dir) => {
      val p = t(s, dir, "part")
      val mixed = concat(upper(substring(col("p_type"), 1, 1)),
        lower(expr("substring(p_type, 2)")))
      val variants = p.select(upper(col("p_type")).as("t"))
        .union(p.select(lower(col("p_type")).as("t")))
        .union(p.select(mixed.as("t")))
      variants.agg(
        countDistinct(col("t")).as("n_binary"),
        countDistinct(collate(col("t"), "UTF8_LCASE")).as("n_lcase"))
    }),

    // ANSI-safe arithmetic: Spark 4 runs ANSI mode ON by default, so
    // division by zero / invalid casts THROW unless the try_* forms
    // absorb them to NULL — the error-containment surface a batch
    // pipeline needs when one malformed row must not kill a 100 TB
    // job. All map-only.
    "f_try" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_orderkey") <= 100)
        .select(
          col("l_orderkey"), col("l_linenumber"),
          round(expr("try_divide(l_extendedprice, l_quantity)"), 6)
            .as("unit_price"),
          expr("try_divide(l_extendedprice, l_quantity - l_quantity)")
            .as("div_zero"),
          expr("try_cast(l_returnflag AS INT)").as("bad_cast"),
          expr("try_cast(CAST(l_linenumber AS STRING) AS INT)")
            .as("good_cast"),
          expr("try_add(CAST(9223372036854775807 AS BIGINT), l_orderkey + 1)")
            .as("overflow"))
        .orderBy("l_orderkey", "l_linenumber")),

    // Date/time extraction and arithmetic.
    "f_date" -> ((s, dir) =>
      t(s, dir, "orders")
        .filter(col("o_orderkey") <= 500)
        .select(
          col("o_orderkey"),
          year(col("o_orderdate")).as("y"),
          month(col("o_orderdate")).as("m"),
          dayofmonth(col("o_orderdate")).as("d"),
          quarter(col("o_orderdate")).as("q"),
          (dayofweek(col("o_orderdate")) - 1).as("dow"),
          dateStr(last_day(col("o_orderdate"))).as("month_end"),
          dateStr(date_add(col("o_orderdate"), 30)).as("plus30"),
          date_format(date_trunc("quarter", col("o_orderdate")), "yyyy-MM-dd")
            .as("q_start"))
        .orderBy("o_orderkey")),

    // Math functions (IEEE-exact ops only: sqrt is correctly rounded).
    "f_math" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_orderkey") <= 300)
        .select(
          col("l_orderkey"), col("l_linenumber"),
          abs(col("l_discount") - 0.05).as("abs_off"),
          round(col("l_extendedprice") / 100, 1).as("price_h"),
          floor(col("l_quantity")).cast("double").as("qty_floor"),
          ceil(col("l_extendedprice")).cast("double").as("price_ceil"),
          (col("l_orderkey") % 7).as("mod7"),
          sqrt(col("l_quantity")).as("qty_sqrt"),
          greatest(col("l_tax"), col("l_discount")).as("max_rate"),
          least(col("l_tax"), col("l_discount")).as("min_rate"))
        .orderBy("l_orderkey", "l_linenumber")),

    // CASE / COALESCE / NULLIF conditionals.
    "f_case" -> ((s, dir) =>
      t(s, dir, "orders")
        .select(
          when(col("o_orderstatus") === "O", "open")
            .when(col("o_orderstatus") === "F", "done")
            .otherwise("other").as("status_label"),
          coalesce(nullif(col("o_orderpriority"), lit("5-LOW")), lit("NONE"))
            .as("prio_or_none"))
        .groupBy("status_label", "prio_or_none")
        .agg(count(lit(1)).as("cnt"))
        .orderBy("status_label", "prio_or_none")),

    // Null-safe equality (<=>): join on a NULLABLE key where NULL must
    // match NULL — the semantics a plain '=' join silently drops (rows
    // with a null key vanish from an equi-join). The oracle's analog is
    // IS NOT DISTINCT FROM.
    "f_null_safe" -> ((s, dir) => {
      val o = t(s, dir, "orders")
        .select(nullif(col("o_orderstatus"), lit("P")).as("k"))
      val d = o.distinct().withColumnRenamed("k", "dk")
      o.join(d, col("k") <=> col("dk"))
        .groupBy(coalesce(col("dk"), lit("(null)")).as("k_label"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy("k_label")
    }),

    // Schema-flexible union: unionByName(allowMissingColumns) aligns by
    // column NAME and null-fills the gaps — the ingest shape for
    // unioning corpus shards whose schemas drifted.
    "f_union_by_name" -> ((s, dir) => {
      val n = t(s, dir, "nation")
      val a = n.select(col("n_name"), col("n_regionkey"))
      val b = n.select(col("n_nationkey"), col("n_name"))
      a.unionByName(b, allowMissingColumns = true)
        .agg(count(lit(1)).as("n"),
          count(col("n_regionkey")).as("n_region"),
          count(col("n_nationkey")).as("n_nation"))
    }),

    // JSON extraction from the events.props string column.
    "f_json" -> ((s, dir) =>
      t(s, dir, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"),
          sum(col("k")).cast("long").as("sum_k"),
          min(col("k")).as("min_k"),
          max(col("k")).as("max_k"))
        .orderBy("event_type")),

    // Spark 4 VARIANT path over the same JSON column: parse once into
    // the binary variant encoding, then typed path extraction
    // (`variant_get`). At scale this beats per-access string parsing
    // (f_json's get_json_object re-parses the string per expression) —
    // variant columns store a parsed binary form that downstream
    // accesses navigate directly, and parquet writers can shred them
    // into columns. The oracle extracts the same values with DuckDB's
    // JSON functions, so results (not the encoding) are hash-compared.
    "f_variant" -> ((s, dir) =>
      t(s, dir, "events")
        .withColumn("k",
          variant_get(parse_json(col("props")), "$.k", "int"))
        // `%`, not pmod: DuckDB's `%` keeps the dividend's sign, so the
        // group keys only match the oracle for negative k with Spark's
        // `%` (props.k is 0..99 today, but don't let testdata decide).
        .groupBy((col("k") % 10).as("k_mod"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("k")).cast("long").as("sum_k"),
          max(col("k")).as("max_k"))
        .orderBy("k_mod")),

    // Struct surface, driven through storage: build a nested struct
    // column, WRITE it to parquet, read it back, access fields by name,
    // aggregate. This is the Catalyst type the ClickHouse dialect's
    // Tuple(...) mapping lands on — the round trip proves structs
    // survive the same storage path arrays/maps already do. The oracle
    // computes the identical aggregate from the flat base table, so
    // every struct hop (build → write → read → field access) is
    // hash-verified, not just smoke-tested. The write goes to a Scratch
    // dir keyed per dataset and thread: concurrent builder invocations
    // in one JVM each overwrite their own dir, repeat passes reuse it,
    // and it is deleted at JVM exit.
    "f_struct" -> ((s, dir) => {
      val out = graft.sources.Scratch.dir("fstruct",
        s"$dir#${Thread.currentThread().getId}")
      t(s, dir, "customer")
        .select(col("c_custkey"),
          struct(
            col("c_mktsegment").as("seg"),
            col("c_acctbal").as("bal"),
            struct(col("c_nationkey").as("nk")).as("geo")).as("info"))
        .write.mode("overwrite").parquet(out)
      s.read.parquet(out)
        .groupBy(col("info.seg").as("seg"))
        .agg(count(lit(1)).as("n_cust"),
          dsum(col("info.bal")).as("sum_bal"),
          countDistinct(col("info.geo.nk")).as("n_nations"))
        .orderBy("seg")
    }),

    // Array basics over embeddings (1-indexed element access both sides).
    "f_array" -> ((s, dir) =>
      t(s, dir, "embeddings")
        .filter(col("vec_id") <= 100)
        .select(
          col("vec_id"),
          size(col("embedding")).as("dim"),
          element_at(col("embedding"), 1).cast("double").as("first_d"),
          element_at(col("embedding"), 64).cast("double").as("last_d"),
          col("label"))
        .orderBy("vec_id")),

    // Higher-order array functions: transform/filter/exists/forall over
    // embedding vectors — all codegen-free lambda evaluation but still
    // map-only (fused with the scan); element values cast to double
    // BEFORE comparison so both engines compare identical doubles.
    "f_higher_order" -> ((s, dir) =>
      t(s, dir, "embeddings")
        .filter(col("vec_id") < 100)
        .select(
          col("vec_id"),
          size(filter(col("embedding"), x => x.cast("double") > 0.0))
            .as("n_pos"),
          size(filter(transform(col("embedding"), x => abs(x.cast("double"))),
            a => a > 1.0)).as("n_big_abs"),
          exists(col("embedding"), x => x.cast("double") < -2.0)
            .as("has_very_neg"),
          forall(col("embedding"), x => abs(x.cast("double")) < lit(10.0))
            .as("all_small"),
          round(array_max(col("embedding")).cast("double"), 6).as("max_val"),
          round(array_min(col("embedding")).cast("double"), 6).as("min_val"))
        .orderBy("vec_id")),

    // Explode with position: per-dimension aggregate over vectors.
    // posexplode is 0-based; the oracle uses generate_series(1,64)-1.
    "f_explode" -> ((s, dir) =>
      t(s, dir, "embeddings")
        .filter(col("vec_id") <= 50)
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "v")))
        .groupBy("dim")
        .agg(count(lit(1)).as("n"),
          dsum10(col("v").cast("double")).as("sum_v"))
        .orderBy("dim")),

    // Map functions: parse the JSON props into a typed map, then key/
    // value extraction and cardinality.
    "f_map" -> ((s, dir) =>
      t(s, dir, "events")
        .withColumn("m", from_json(col("props"),
          org.apache.spark.sql.types.DataType.fromDDL("map<string,int>")))
        .select(col("event_id"),
          size(col("m")).as("n_keys"),
          array_join(map_keys(col("m")), ",").as("keys"),
          coalesce(element_at(col("m"), "k"), lit(-1)).as("k_val"))
        .orderBy("event_id")),

    // Duplicate-preserving set ops: INTERSECT ALL / EXCEPT ALL over
    // order-priority multisets.
    // Bitwise and boolean aggregates — the flag-mask rollup family
    // (feature bitmasks, permission sets, data-quality flag columns):
    // bit_and/bit_or/bit_xor fold integer masks, bool_and/bool_or fold
    // predicates. All integer/boolean-exact, one map-combined shuffle.
    "f_bitagg" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          expr("bit_and(l_linenumber)").as("mask_and"),
          expr("bit_or(l_linenumber)").as("mask_or"),
          expr("bit_xor(l_linenumber)").as("mask_xor"),
          expr("bool_and(l_quantity > 1)").as("all_multi"),
          expr("bool_or(l_discount > 0.09)").as("any_deep_disc"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag")),

    "f_setops_all" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val a = o.filter(col("o_orderstatus") === "F").select("o_orderpriority")
      val b = o.filter(col("o_orderstatus") === "O").select("o_orderpriority")
      a.intersectAll(b)
        .groupBy("o_orderpriority").agg(count(lit(1)).as("n_inter"))
        .join(
          a.exceptAll(b)
            .groupBy("o_orderpriority").agg(count(lit(1)).as("n_except")),
          Seq("o_orderpriority"), "full_outer")
        .select(col("o_orderpriority"),
          coalesce(col("n_inter"), lit(0L)).as("n_inter"),
          coalesce(col("n_except"), lit(0L)).as("n_except"))
        .orderBy("o_orderpriority")
    }),

    // Non-equi range join: size buckets × parts (broadcast nested loop on
    // a tiny inline dim — the right plan for a 5-row bucket table).
    "f_range_join" -> ((s, dir) => {
      import s.implicits._
      val buckets = Seq(("tiny", 0, 10), ("small", 11, 20), ("mid", 21, 35),
        ("large", 36, 50)).toDF("bucket", "lo", "hi")
      val p = t(s, dir, "part")
      p.join(broadcast(buckets),
          p("p_size") >= buckets("lo") && p("p_size") <= buckets("hi"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_parts"),
          dsum(col("p_retailprice")).as("sum_price"))
        .orderBy("bucket")
    }),

    // ROLLUP over region→nation customer stats (NULLS FIRST to align
    // engine null-ordering defaults).
    // NOTE: expressed in SQL — Spark 4.1's ambiguous-self-join detector
    // false-positives on DataFrame .rollup() over a multi-join output
    // (the Rollup node duplicates grouping attrs internally).
    "f_rollup" -> ((s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("cust_ru")
      t(s, dir, "nation").createOrReplaceTempView("nat_ru")
      t(s, dir, "region").createOrReplaceTempView("reg_ru")
      s.sql(
        """SELECT r_name, n_name, count(*) AS n_cust,
          |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
          |FROM cust_ru
          |JOIN nat_ru ON c_nationkey = n_nationkey
          |JOIN reg_ru ON n_regionkey = r_regionkey
          |GROUP BY ROLLUP (r_name, n_name)
          |ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""".stripMargin)
    }),

    // CUBE over lineitem flags.
    "f_cube" -> ((s, dir) =>
      tF(s, dir, "lineitem", "l_orderkey")
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"), dsum(col("l_quantity")).as("sum_qty"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))),

    // GROUPING SETS with grouping() markers (via SQL — the DataFrame API
    // has rollup/cube only).
    "f_grouping_sets" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders_gs")
      s.sql(
        """SELECT o_orderstatus, o_orderpriority,
          |  grouping(o_orderstatus) AS g_status,
          |  grouping(o_orderpriority) AS g_prio,
          |  count(*) AS cnt
          |FROM orders_gs
          |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
          |  (o_orderstatus, o_orderpriority))
          |ORDER BY g_status, g_prio,
          |  o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin)
    }),
  )

  val oracles: Map[String, String] = Map(
    "f_string" ->
      """SELECT p_partkey, upper(p_name) AS uname,
        |  substring(p_name, 1, 5) AS prefix5,
        |  concat_ws('_', p_brand, p_type) AS brand_type,
        |  regexp_replace(p_name, '[aeiou]', '#', 'g') AS devowel,
        |  length(p_name) AS name_len,
        |  instr(p_name, 'a') AS first_a
        |FROM part ORDER BY p_partkey""".stripMargin,
    "f_collate" ->
      """WITH v AS (SELECT upper(p_type) AS t FROM part
        |  UNION ALL SELECT lower(p_type) FROM part
        |  UNION ALL SELECT upper(substring(p_type, 1, 1))
        |    || lower(substring(p_type, 2)) FROM part)
        |SELECT count(DISTINCT t) AS n_binary,
        |  count(DISTINCT lower(t)) AS n_lcase
        |FROM v""".stripMargin,
    "f_try" ->
      // div_zero and overflow are provably NULL for every row
      // (quantity−quantity = 0; orderkey ≥ 1 overflows Long.MaxValue),
      // so the oracle states the null outcome directly where DuckDB
      // has no try_* twin; TRY_CAST exists in both engines.
      """SELECT l_orderkey, l_linenumber,
        |  round(l_extendedprice / l_quantity, 6) AS unit_price,
        |  CAST(NULL AS DOUBLE) AS div_zero,
        |  TRY_CAST(l_returnflag AS INT) AS bad_cast,
        |  TRY_CAST(CAST(l_linenumber AS VARCHAR) AS INT) AS good_cast,
        |  CAST(NULL AS BIGINT) AS overflow
        |FROM lineitem WHERE l_orderkey <= 100
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "f_date" ->
      """SELECT o_orderkey,
        |  year(o_orderdate) AS y, month(o_orderdate) AS m,
        |  day(o_orderdate) AS d, quarter(o_orderdate) AS q,
        |  dayofweek(o_orderdate) AS dow,
        |  strftime(last_day(o_orderdate), '%Y-%m-%d') AS month_end,
        |  strftime(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d') AS plus30,
        |  strftime(date_trunc('quarter', o_orderdate), '%Y-%m-%d') AS q_start
        |FROM orders WHERE o_orderkey <= 500 ORDER BY o_orderkey""".stripMargin,
    "f_math" ->
      """SELECT l_orderkey, l_linenumber,
        |  abs(l_discount - 0.05) AS abs_off,
        |  round(l_extendedprice / 100, 1) AS price_h,
        |  floor(l_quantity) AS qty_floor,
        |  ceil(l_extendedprice) AS price_ceil,
        |  l_orderkey % 7 AS mod7,
        |  sqrt(l_quantity) AS qty_sqrt,
        |  greatest(l_tax, l_discount) AS max_rate,
        |  least(l_tax, l_discount) AS min_rate
        |FROM lineitem WHERE l_orderkey <= 300
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "f_case" ->
      """SELECT CASE o_orderstatus WHEN 'O' THEN 'open' WHEN 'F' THEN 'done'
        |    ELSE 'other' END AS status_label,
        |  COALESCE(NULLIF(o_orderpriority, '5-LOW'), 'NONE') AS prio_or_none,
        |  count(*) AS cnt
        |FROM orders GROUP BY 1, 2 ORDER BY status_label, prio_or_none""".stripMargin,
    "f_json" ->
      """SELECT event_type, count(*) AS cnt,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
        |  min(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS min_k,
        |  max(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "f_null_safe" ->
      """WITH o AS (SELECT nullif(o_orderstatus, 'P') AS k FROM orders),
        |d AS (SELECT DISTINCT k FROM o)
        |SELECT COALESCE(d.k, '(null)') AS k_label, count(*) AS cnt
        |FROM o JOIN d ON o.k IS NOT DISTINCT FROM d.k
        |GROUP BY 1 ORDER BY k_label""".stripMargin,
    "f_union_by_name" ->
      """SELECT count(*) AS n, count(n_regionkey) AS n_region,
        |  count(n_nationkey) AS n_nation
        |FROM (SELECT n_name, n_regionkey FROM nation
        |  UNION ALL BY NAME
        |  SELECT n_nationkey, n_name FROM nation)""".stripMargin,
    "f_variant" ->
      """SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) % 10
        |    AS k_mod,
        |  count(*) AS cnt,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER))
        |    AS BIGINT) AS sum_k,
        |  max(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "f_struct" ->
      """SELECT c_mktsegment AS seg, count(*) AS n_cust,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal,
        |  count(DISTINCT c_nationkey) AS n_nations
        |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin,
    "f_array" ->
      """SELECT vec_id, len(embedding) AS dim,
        |  CAST(embedding[1] AS DOUBLE) AS first_d,
        |  CAST(embedding[64] AS DOUBLE) AS last_d,
        |  label
        |FROM embeddings WHERE vec_id <= 100 ORDER BY vec_id""".stripMargin,
    "f_higher_order" ->
      """SELECT vec_id,
        |  len(list_filter(embedding, x -> CAST(x AS DOUBLE) > 0.0)) AS n_pos,
        |  len(list_filter(list_transform(embedding,
        |      x -> abs(CAST(x AS DOUBLE))), a -> a > 1.0)) AS n_big_abs,
        |  len(list_filter(embedding, x -> CAST(x AS DOUBLE) < -2.0)) > 0
        |    AS has_very_neg,
        |  len(list_filter(embedding,
        |      x -> abs(CAST(x AS DOUBLE)) >= 10.0)) = 0 AS all_small,
        |  round(CAST(list_max(embedding) AS DOUBLE), 6) AS max_val,
        |  round(CAST(list_min(embedding) AS DOUBLE), 6) AS min_val
        |FROM embeddings WHERE vec_id < 100 ORDER BY vec_id""".stripMargin,
    "f_explode" ->
      """SELECT i - 1 AS dim, count(*) AS n,
        |  CAST(sum(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(28,10))) AS DOUBLE)
        |    AS sum_v
        |FROM embeddings, generate_series(1, 64) AS t(i)
        |WHERE vec_id <= 50
        |GROUP BY dim ORDER BY dim""".stripMargin,
    "f_map" ->
      """SELECT event_id,
        |  CAST(len(json_keys(props)) AS INTEGER) AS n_keys,
        |  array_to_string(json_keys(props), ',') AS keys,
        |  COALESCE(CAST(json_extract_string(props, '$.k') AS INTEGER), -1)
        |    AS k_val
        |FROM events ORDER BY event_id""".stripMargin,
    "f_bitagg" ->
      """SELECT l_returnflag,
        |  bit_and(l_linenumber) AS mask_and,
        |  bit_or(l_linenumber) AS mask_or,
        |  bit_xor(l_linenumber) AS mask_xor,
        |  bool_and(l_quantity > 1) AS all_multi,
        |  bool_or(l_discount > 0.09) AS any_deep_disc,
        |  count(*) AS n
        |FROM lineitem GROUP BY 1 ORDER BY l_returnflag""".stripMargin,
    "f_setops_all" ->
      """WITH a AS (SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'F'),
        |b AS (SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'O'),
        |i AS (SELECT o_orderpriority, count(*) AS n_inter
        |  FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b) GROUP BY 1),
        |x AS (SELECT o_orderpriority, count(*) AS n_except
        |  FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b) GROUP BY 1)
        |SELECT COALESCE(i.o_orderpriority, x.o_orderpriority) AS o_orderpriority,
        |  COALESCE(n_inter, 0) AS n_inter,
        |  COALESCE(n_except, 0) AS n_except
        |FROM i FULL JOIN x ON i.o_orderpriority = x.o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "f_range_join" ->
      """SELECT bucket, count(*) AS n_parts,
        |  CAST(sum(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM part
        |JOIN (VALUES ('tiny', 0, 10), ('small', 11, 20), ('mid', 21, 35),
        |             ('large', 36, 50)) AS b(bucket, lo, hi)
        |  ON p_size >= lo AND p_size <= hi
        |GROUP BY bucket ORDER BY bucket""".stripMargin,
    "f_rollup" ->
      """SELECT r_name, n_name, count(*) AS n_cust,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)
        |ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin,
    "f_cube" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "f_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  GROUPING(o_orderstatus) AS g_status,
        |  GROUPING(o_orderpriority) AS g_prio,
        |  count(*) AS cnt
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
        |  (o_orderstatus, o_orderpriority))
        |ORDER BY g_status, g_prio,
        |  o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,
  )
}
