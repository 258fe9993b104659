package graft.queries

import org.apache.spark.sql.functions._
import graft.core.Tables._

/** Scalar function families (SURVEY.md §2.3) — one oracle query per family.
  *
  * Everything here is a per-row computation over `functions._` builtins, so
  * whole-stage codegen covers the full plan and Parquet sees the pruned
  * column set. Type alignment with DuckDB is explicit (INT vs BIGINT casts)
  * because the driver compares schemas/values after reading both results.
  */
object Scalars extends QueryModule {

  val all: Map[String, Q] = Map(
    // ---- STR-1: string functions ----
    "str1" -> ((s, d) => {
      val c = load(s, d, "customer")
      ordered(c.select(
        col("c_custkey"),
        length(col("c_name")).as("name_len"),
        upper(col("c_name")).as("name_upper"),
        lower(col("c_mktsegment")).as("seg_lower"),
        trim(concat(lit("  "), col("c_name"), lit(" "))).as("name_trim"),
        substring(col("c_name"), 1, 8).as("name_pre"),
        concat_ws("|", col("c_name"), col("c_mktsegment")).as("name_seg"),
        lpad(col("c_custkey").cast("string"), 10, "0").as("key_pad"),
        regexp_replace(col("c_name"), "[0-9]", "#").as("name_masked"),
        regexp_extract(col("c_name"), "([0-9]+)", 1).as("name_digits"),
        col("c_name").like("Customer%").as("is_customer"),
        instr(col("c_name"), "#").as("hash_pos"),
        size(split(col("c_name"), "#")).as("n_parts")))
    }),

    // ---- DTE-1: date/time functions (UTC session) ----
    "dte1" -> ((s, d) => {
      val o = load(s, d, "orders")
      ordered(o.select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("o_year"),
        month(col("o_orderdate")).as("o_month"),
        dayofmonth(col("o_orderdate")).as("o_day"),
        date_trunc("month", col("o_orderdate")).as("month_start"),
        to_date(col("o_orderdate")).as("o_date"),
        date_add(to_date(col("o_orderdate")), 30).as("due_date"),
        datediff(to_date(col("o_orderdate")), lit("1995-01-01").cast("date")).as("days_since"),
        unix_timestamp(col("o_orderdate")).as("epoch_s"),
        make_date(lit(2024), lit(1), lit(15)).as("fixed_date")))
    }),

    // ---- CST-2: try_cast — null-on-failure conversions (the lenient
    //      ingest-side twin of CST-1's strict casts) ----
    "cst2" -> ((s, d) => {
      val c = load(s, d, "customer")
      ordered(c.select(
        col("c_custkey"),
        split_part(col("c_name"), lit("#"), lit(2)).try_cast("int").as("name_num"),
        col("c_mktsegment").try_cast("int").as("seg_as_int"),
        concat(lit("20"), col("c_custkey").cast("string")).try_cast("double").as("num_ok"),
        col("c_name").try_cast("date").as("name_as_date")))
    }),

    // ---- EXPL-2: posexplode — ordinal-preserving UDTF-shape ----
    "expl2" -> ((s, d) => {
      val doc = load(s, d, "documents")
      ordered(doc.filter(col("doc_id") < 100)
        .select(col("doc_id"), posexplode(split(col("text"), " ")))
        .withColumnRenamed("col", "word")
        .filter(col("pos") < 5))
    }),

    // ---- STR-2: positional/segment string functions ----
    "str2" -> ((s, d) => {
      val c = load(s, d, "customer")
      ordered(c.select(
        col("c_custkey"),
        split_part(col("c_name"), lit("#"), lit(2)).as("name_num"),
        repeat(lit("*"), (col("c_custkey") % 4).cast("int")).as("stars"),
        reverse(col("c_mktsegment")).as("seg_rev"),
        substring(col("c_name"), 1, 4).as("name_left"),
        translate(col("c_mktsegment"), "AEIOU", "aeiou").as("seg_tr")))
    }),

    // ---- STR-3: edit distance (levenshtein) — the fuzzy-match primitive
    //      a data-cleaning pipeline uses for typo-tolerant matching; both
    //      engines implement the standard Wagner-Fischer distance so the
    //      integer results are exactly comparable. ----
    "str3" -> ((s, d) => {
      val c = load(s, d, "customer")
      ordered(c.select(
        col("c_custkey"),
        levenshtein(col("c_name"), reverse(col("c_name"))).as("lev_rev"),
        levenshtein(substring(col("c_name"), 1, 12),
          col("c_mktsegment")).as("lev_name_seg"),
        levenshtein(col("c_mktsegment"), lit("BUILDING")).as("lev_seg")))
    }),

    // ---- DTE-2: calendar arithmetic (quarter / ISO week / month-add with
    //      end-of-month clamping / last_day / day-of-year / quarter trunc) ----
    "dte2" -> ((s, d) => {
      val o = load(s, d, "orders")
      ordered(o.select(
        col("o_orderkey"),
        quarter(col("o_orderdate")).as("qtr"),
        last_day(col("o_orderdate")).as("month_end"),
        add_months(col("o_orderdate"), 2).as("plus2m"),
        weekofyear(col("o_orderdate")).as("iso_week"),
        dayofyear(col("o_orderdate")).as("doy"),
        date_trunc("quarter", col("o_orderdate")).cast("date").as("qtr_start")))
    }),

    // ---- MTH-1: math functions ----
    "mth1" -> ((s, d) => {
      val p = load(s, d, "part")
      ordered(p.select(
        col("p_partkey"),
        dec4S(abs(col("p_retailprice") - lit(1000.0))).as("abs_diff"),
        ceil(col("p_retailprice")).as("price_ceil"),
        floor(col("p_retailprice")).as("price_floor"),
        dec4S(sqrt(col("p_retailprice"))).as("price_sqrt"),
        dec4S(col("p_retailprice") * col("p_retailprice")).as("price_sq"),
        pmod(col("p_partkey"), lit(7)).cast("bigint").as("key_mod"),
        signum(col("p_retailprice") - lit(1200.0)).cast("int").as("price_sign"),
        dec4S(greatest(col("p_retailprice"), lit(900.0))).as("price_hi"),
        dec4S(least(col("p_retailprice"), lit(900.0))).as("price_lo"),
        dec4S(log(col("p_retailprice"))).as("price_ln"),
        dec4S(exp(col("p_size").cast("double") / lit(25.0))).as("size_exp")))
    }),

    // ---- CND-1: conditional / null handling ----
    "cnd1" -> ((s, d) => {
      val c = load(s, d, "customer")
      ordered(c.select(
        col("c_custkey"),
        when(col("c_acctbal") < 0, "overdrawn")
          .when(col("c_acctbal") < 5000, "normal")
          .otherwise("premium").as("bal_class"),
        expr("if(c_mktsegment = 'BUILDING', 1, 0)").cast("int").as("is_building"),
        coalesce(nullif(col("c_mktsegment"), lit("MACHINERY")), lit("redacted")).as("seg_masked"),
        isnull(nullif(col("c_mktsegment"), lit("MACHINERY"))).as("is_machinery"),
        dec4S(nvl(nullif(col("c_acctbal"), lit(0.0)), lit(-1.0))).as("bal_nvl")))
    }),

    // ---- ARR-1: array functions on embeddings + tokenized text ----
    // Array/float outputs rendered canonically (farrS/dec4S): the driver's
    // pandas comparator cannot sort ndarray cells, and float formatting
    // differs across engines.
    "arr1" -> ((s, d) => {
      val e = load(s, d, "embeddings")
      ordered(e.select(
        col("vec_id"),
        size(col("embedding")).as("dim"),
        dec4S(element_at(col("embedding"), 1).cast("double")).as("first_dim"),
        farrS(slice(col("embedding"), 1, 3)).as("head3"),
        array_contains(col("embedding"), lit(0.0f)).as("has_zero"),
        farrS(sort_array(slice(col("embedding"), 1, 4))).as("head4_sorted"),
        arrS(sort_array(array_distinct(array(col("label"), col("label"), lit(0))))).as("label_arr"),
        dec4S(array_max(col("embedding")).cast("double")).as("max_dim"),
        dec4S(array_min(col("embedding")).cast("double")).as("min_dim")))
    }),

    // ---- ARR-1b: array set ops on token arrays ----
    "arr1_tokens" -> ((s, d) => {
      val doc = load(s, d, "documents")
      val toks = split(col("text"), " ")
      ordered(doc.select(
        col("doc_id"),
        size(toks).as("n_tokens"),
        size(array_distinct(toks)).as("n_distinct"),
        arrS(sort_array(array_intersect(array_distinct(toks),
          array(lit("spark"), lit("table"), lit("query"))))).as("kw_hits"),
        size(array_union(array_distinct(toks),
          array(lit("spark"), lit("table"), lit("query")))).as("n_union")))
    }),

    // ---- HOF-1: higher-order functions (transform/filter/exists/aggregate/zip_with) ----
    // ---- ARR-2: positional/structural array functions ----
    "arr2" -> ((s, d) => {
      val e = load(s, d, "embeddings")
      ordered(e.select(
        col("vec_id"),
        array_position(col("embedding"), element_at(col("embedding"), 5)).as("pos5"),
        farrS(flatten(array(slice(col("embedding"), 1, 2),
          slice(col("embedding"), 3, 2)))).as("flat4"),
        farrS(reverse(slice(col("embedding"), 1, 3))).as("rev3")))
    }),

    // ---- HOF-2: forall + aggregate-with-finish + index-aware transform
    //      (Spark lambda indexes are 0-based, DuckDB's are 1-based — the
    //      twins offset accordingly). ----
    "hof2" -> ((s, d) => {
      val e = load(s, d, "embeddings")
      val dbl = transform(col("embedding"), x => x.cast("double"))
      ordered(e.select(
        col("vec_id"),
        forall(dbl, x => abs(x) <= 1.0).as("all_unit"),
        dec4S(aggregate(dbl, lit(0.0), (acc, x) => acc + x,
          acc => acc / 64.0)).as("mean_dim"),
        dec4S(aggregate(transform(dbl, (x, i) => x * (i + 1).cast("double")),
          lit(0.0), (acc, x) => acc + x)).as("idx_dot")))
    }),

    "hof1" -> ((s, d) => {
      val e = load(s, d, "embeddings")
      val dbl = transform(col("embedding"), x => x.cast("double"))
      ordered(e.select(
        col("vec_id"),
        size(filter(dbl, x => x > 0.0)).as("n_pos"),
        exists(dbl, x => abs(x) > lit(0.5)).as("has_big"),
        dec4S(aggregate(zip_with(dbl, dbl, (a, b) => a * b), lit(0.0), (acc, x) => acc + x)).as("norm_sq"),
        dec4S(aggregate(dbl, lit(0.0), (acc, x) => acc + x)).as("dim_sum"),
        size(filter(transform(dbl, x => x * lit(2.0)), x => x > lit(0.8))).as("n_scaled_big")))
    }),

    // ---- MAP-1: map functions over parsed JSON props ----
    "map1" -> ((s, d) => {
      val e = load(s, d, "events")
      val m = from_json(col("props"), lit("map<string,int>"))
      ordered(e.select(
        col("event_id"),
        size(map_keys(m)).as("n_keys"),
        element_at(m, "k").as("k_val"),
        array_join(sort_array(map_keys(m)), ",").as("keys_csv"),
        element_at(map_values(m), 1).as("first_val")))
    }),

    // ---- JSN-1: JSON string functions ----
    "jsn1" -> ((s, d) => {
      val e = load(s, d, "events")
      ordered(e.select(
        col("event_id"),
        get_json_object(col("props"), "$.k").as("k_str"),
        from_json(col("props"), lit("k INT")).getField("k").as("k_int"),
        to_json(struct(col("user_id").as("u"))).as("user_json")))
    }),

    // ---- CST-1: cast matrix (string/numeric/timestamp; ns→µs) ----
    "cst1" -> ((s, d) => {
      val e = load(s, d, "events")
      ordered(e.select(
        col("event_id"),
        col("ts"),
        col("ts").cast("date").as("ts_date"),
        col("event_id").cast("string").as("id_str"),
        col("event_id").cast("double").as("id_dbl"),
        lit("42").cast("long").as("const_int"),
        lit("2024-01-15 10:30:00").cast("timestamp").as("const_ts"),
        col("value").cast("int").as("value_trunc"),
        floor(col("value")).cast("long").as("value_floor")))
    }),

    // ---- JSN-2: VARIANT semi-structured path (Spark 4 native) — the
    //      props payload re-shaped into a nested JSON document (object,
    //      nested object, array), parsed ONCE to the binary VARIANT
    //      encoding, then typed path extraction: nested-object path,
    //      0-based array index, and a missing path that must yield NULL
    //      (try_variant_get, not a parse error). Vs JSN-1's
    //      get_json_object: variant parses each row once and serves every
    //      path from the binary encoding — at 100 TB of semi-structured
    //      payloads repeated per-path JSON re-parsing is the scan
    //      bottleneck, and shredded variant storage pushes paths into the
    //      scan itself. The oracle recomputes each field from the SOURCE
    //      columns: extraction must return exactly what was packed. ----
    "jsn2_variant" -> ((s, d) => {
      val e = load(s, d, "events")
      val js = to_json(struct(
        from_json(col("props"), lit("k INT")).getField("k").as("k"),
        struct(col("user_id").as("id"), col("event_type").as("t")).as("u"),
        array(col("user_id"), col("user_id") * 2).as("arr")))
      // Parse materialized ONCE per row in its own projection — four
      // path extractions then read the same binary variant value instead
      // of relying on codegen subexpression elimination across them.
      val parsed = e.select(col("event_id"), parse_json(js).as("v"))
      // Pin the extracted projection BEFORE the harness total-order: a
      // global sort's range-partitioning SAMPLING pass recomputes its
      // child, and at ~9 µs/row of json+variant work per row that doubles
      // the query (measured 18 → 11 s at ×10 events). Cheap projections
      // don't care; this is the one scan-shape query whose projection is
      // the whole cost.
      ordered(parsed.select(col("event_id"),
        try_variant_get(col("v"), "$.k", "int").as("k_int"),
        try_variant_get(col("v"), "$.u.t", "string").as("etype"),
        try_variant_get(col("v"), "$.arr[1]", "bigint").as("arr1"),
        try_variant_get(col("v"), "$.missing", "int").as("missing")).pinned)
    })
  )

  val oracle: Map[String, String] = Map(
    "jsn2_variant" ->
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS INT) AS k_int,
        |  event_type AS etype,
        |  user_id * 2 AS arr1,
        |  CAST(NULL AS INT) AS missing
        |FROM events
        |ORDER BY event_id NULLS FIRST, k_int NULLS FIRST, etype NULLS FIRST,
        |  arr1 NULLS FIRST, missing NULLS FIRST""".stripMargin,

    "str1" ->
      """SELECT c_custkey,
        |  CAST(length(c_name) AS INT) AS name_len,
        |  upper(c_name) AS name_upper,
        |  lower(c_mktsegment) AS seg_lower,
        |  trim('  ' || c_name || ' ') AS name_trim,
        |  substring(c_name, 1, 8) AS name_pre,
        |  concat_ws('|', c_name, c_mktsegment) AS name_seg,
        |  lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS key_pad,
        |  regexp_replace(c_name, '[0-9]', '#', 'g') AS name_masked,
        |  regexp_extract(c_name, '([0-9]+)', 1) AS name_digits,
        |  (c_name LIKE 'Customer%') AS is_customer,
        |  CAST(instr(c_name, '#') AS INT) AS hash_pos,
        |  CAST(len(string_split(c_name, '#')) AS INT) AS n_parts
        |FROM customer
        |ORDER BY c_custkey NULLS FIRST""".stripMargin,

    "dte1" ->
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS INT) AS o_year,
        |  CAST(month(o_orderdate) AS INT) AS o_month,
        |  CAST(dayofmonth(o_orderdate) AS INT) AS o_day,
        |  CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
        |  CAST(o_orderdate AS DATE) AS o_date,
        |  CAST(o_orderdate AS DATE) + 30 AS due_date,
        |  CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INT) AS days_since,
        |  CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s,
        |  make_date(2024, 1, 15) AS fixed_date
        |FROM orders
        |ORDER BY o_orderkey NULLS FIRST""".stripMargin,

    "cst2" ->
      """SELECT c_custkey,
        |  TRY_CAST(split_part(c_name, '#', 2) AS INT) AS name_num,
        |  TRY_CAST(c_mktsegment AS INT) AS seg_as_int,
        |  TRY_CAST('20' || CAST(c_custkey AS VARCHAR) AS DOUBLE) AS num_ok,
        |  TRY_CAST(c_name AS DATE) AS name_as_date
        |FROM customer
        |ORDER BY c_custkey NULLS FIRST""".stripMargin,

    "expl2" ->
      """SELECT doc_id, CAST(u.pos AS INT) AS pos, u.word AS word FROM (
        |  SELECT doc_id, unnest(list_transform(string_split(text, ' '),
        |    (w, i) -> {'pos': i - 1, 'word': w})) AS u
        |  FROM documents WHERE doc_id < 100
        |) WHERE u.pos < 5
        |ORDER BY doc_id NULLS FIRST, pos NULLS FIRST, word NULLS FIRST""".stripMargin,

    "str2" ->
      """SELECT c_custkey,
        |  split_part(c_name, '#', 2) AS name_num,
        |  repeat('*', CAST(c_custkey % 4 AS INT)) AS stars,
        |  reverse(c_mktsegment) AS seg_rev,
        |  substring(c_name, 1, 4) AS name_left,
        |  translate(c_mktsegment, 'AEIOU', 'aeiou') AS seg_tr
        |FROM customer
        |ORDER BY c_custkey NULLS FIRST""".stripMargin,

    "str3" ->
      """SELECT c_custkey,
        |  CAST(levenshtein(c_name, reverse(c_name)) AS INT) AS lev_rev,
        |  CAST(levenshtein(substring(c_name, 1, 12), c_mktsegment) AS INT) AS lev_name_seg,
        |  CAST(levenshtein(c_mktsegment, 'BUILDING') AS INT) AS lev_seg
        |FROM customer
        |ORDER BY c_custkey NULLS FIRST, lev_rev NULLS FIRST, lev_name_seg NULLS FIRST, lev_seg NULLS FIRST""".stripMargin,

    "dte2" ->
      """SELECT o_orderkey,
        |  CAST(quarter(o_orderdate) AS INT) AS qtr,
        |  last_day(CAST(o_orderdate AS DATE)) AS month_end,
        |  CAST(o_orderdate + INTERVAL 2 MONTH AS DATE) AS plus2m,
        |  CAST(weekofyear(o_orderdate) AS INT) AS iso_week,
        |  CAST(dayofyear(o_orderdate) AS INT) AS doy,
        |  CAST(date_trunc('quarter', o_orderdate) AS DATE) AS qtr_start
        |FROM orders
        |ORDER BY o_orderkey NULLS FIRST""".stripMargin,

    "mth1" ->
      """SELECT p_partkey,
        |  CAST(CAST(floor((abs(p_retailprice - 1000.0))*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS abs_diff,
        |  CAST(ceil(p_retailprice) AS BIGINT) AS price_ceil,
        |  CAST(floor(p_retailprice) AS BIGINT) AS price_floor,
        |  CAST(CAST(floor((sqrt(p_retailprice))*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS price_sqrt,
        |  CAST(CAST(floor((p_retailprice * p_retailprice)*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS price_sq,
        |  CAST(((p_partkey % 7) + 7) % 7 AS BIGINT) AS key_mod,
        |  CAST(sign(p_retailprice - 1200.0) AS INT) AS price_sign,
        |  CAST(CAST(floor((greatest(p_retailprice, 900.0))*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS price_hi,
        |  CAST(CAST(floor((least(p_retailprice, 900.0))*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS price_lo,
        |  CAST(CAST(floor((ln(p_retailprice))*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS price_ln,
        |  CAST(CAST(floor((exp(CAST(p_size AS DOUBLE) / 25.0))*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS size_exp
        |FROM part
        |ORDER BY p_partkey NULLS FIRST""".stripMargin,

    "cnd1" ->
      """SELECT c_custkey,
        |  CASE WHEN c_acctbal < 0 THEN 'overdrawn'
        |       WHEN c_acctbal < 5000 THEN 'normal'
        |       ELSE 'premium' END AS bal_class,
        |  CAST(CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS INT) AS is_building,
        |  coalesce(nullif(c_mktsegment, 'MACHINERY'), 'redacted') AS seg_masked,
        |  (nullif(c_mktsegment, 'MACHINERY') IS NULL) AS is_machinery,
        |  CAST(CAST(floor((coalesce(nullif(c_acctbal, 0.0), -1.0))*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS bal_nvl
        |FROM customer
        |ORDER BY c_custkey NULLS FIRST""".stripMargin,

    "arr1" ->
      """SELECT vec_id,
        |  CAST(len(embedding) AS INT) AS dim,
        |  CAST(CAST(floor(CAST(embedding[1] AS DOUBLE)*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS first_dim,
        |  array_to_string(list_transform(embedding[1:3], x -> CAST(CAST(floor(CAST(x AS DOUBLE)*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR)), ',') AS head3,
        |  list_contains(embedding, 0.0) AS has_zero,
        |  array_to_string(list_transform(list_sort(embedding[1:4]), x -> CAST(CAST(floor(CAST(x AS DOUBLE)*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR)), ',') AS head4_sorted,
        |  array_to_string(list_sort(list_distinct([label, label, 0])), ',') AS label_arr,
        |  CAST(CAST(floor(CAST(list_max(embedding) AS DOUBLE)*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS max_dim,
        |  CAST(CAST(floor(CAST(list_min(embedding) AS DOUBLE)*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS min_dim
        |FROM embeddings
        |ORDER BY vec_id NULLS FIRST""".stripMargin,

    "arr1_tokens" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS n_distinct,
        |  coalesce(array_to_string(list_sort(list_intersect(list_distinct(string_split(text, ' ')),
        |    ['spark','table','query'])), ','), '') AS kw_hits,
        |  CAST(len(list_distinct(list_concat(list_distinct(string_split(text, ' ')),
        |    ['spark','table','query']))) AS INT) AS n_union
        |FROM documents
        |ORDER BY doc_id NULLS FIRST""".stripMargin,

    "arr2" ->
      """SELECT vec_id,
        |  CAST(list_position(embedding, embedding[5]) AS BIGINT) AS pos5,
        |  array_to_string(list_transform(flatten([embedding[1:2], embedding[3:4]]),
        |    x -> CAST(CAST(floor(CAST(x AS DOUBLE)*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR)), ',') AS flat4,
        |  array_to_string(list_transform(list_reverse(embedding[1:3]),
        |    x -> CAST(CAST(floor(CAST(x AS DOUBLE)*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR)), ',') AS rev3
        |FROM embeddings
        |ORDER BY vec_id NULLS FIRST, pos5 NULLS FIRST, flat4 NULLS FIRST, rev3 NULLS FIRST""".stripMargin,

    "hof2" ->
      """SELECT vec_id,
        |  (len(list_filter(dbl, x -> abs(x) <= 1.0)) = len(dbl)) AS all_unit,
        |  CAST(CAST(floor((list_reduce(list_prepend(CAST(0.0 AS DOUBLE), dbl), (acc, x) -> acc + x) / 64.0)*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS mean_dim,
        |  CAST(CAST(floor((list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(dbl, (x, i) -> x * CAST(i AS DOUBLE))), (acc, x) -> acc + x))*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS idx_dot
        |FROM (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dbl FROM embeddings)
        |ORDER BY vec_id NULLS FIRST, all_unit NULLS FIRST, mean_dim NULLS FIRST, idx_dot NULLS FIRST""".stripMargin,

    "hof1" ->
      """SELECT vec_id,
        |  CAST(len(list_filter(dbl, x -> x > 0.0)) AS INT) AS n_pos,
        |  (len(list_filter(dbl, x -> abs(x) > 0.5)) > 0) AS has_big,
        |  CAST(CAST(floor((list_sum(list_transform(dbl, x -> x * x)))*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS norm_sq,
        |  CAST(CAST(floor((list_sum(dbl))*10000+0.5)/10000 AS DECIMAL(38,4)) AS VARCHAR) AS dim_sum,
        |  CAST(len(list_filter(list_transform(dbl, x -> x * 2.0), x -> x > 0.8)) AS INT) AS n_scaled_big
        |FROM (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dbl FROM embeddings)
        |ORDER BY vec_id NULLS FIRST""".stripMargin,

    "map1" ->
      """SELECT event_id,
        |  CAST(len(json_keys(props)) AS INT) AS n_keys,
        |  CAST(json_extract_string(props, '$.k') AS INT) AS k_val,
        |  array_to_string(list_sort(json_keys(props)), ',') AS keys_csv,
        |  CAST(json_extract_string(props, '$.k') AS INT) AS first_val
        |FROM events
        |ORDER BY event_id NULLS FIRST""".stripMargin,

    "jsn1" ->
      """SELECT event_id,
        |  json_extract_string(props, '$.k') AS k_str,
        |  CAST(json_extract_string(props, '$.k') AS INT) AS k_int,
        |  to_json(struct_pack(u := user_id)) AS user_json
        |FROM events
        |ORDER BY event_id NULLS FIRST""".stripMargin,

    "cst1" ->
      """SELECT event_id,
        |  CAST(ts AS TIMESTAMP) AS ts,
        |  CAST(ts AS DATE) AS ts_date,
        |  CAST(event_id AS VARCHAR) AS id_str,
        |  CAST(event_id AS DOUBLE) AS id_dbl,
        |  CAST('42' AS BIGINT) AS const_int,
        |  TIMESTAMP '2024-01-15 10:30:00' AS const_ts,
        |  CAST(trunc(value) AS INT) AS value_trunc,
        |  CAST(floor(value) AS BIGINT) AS value_floor
        |FROM events
        |ORDER BY event_id NULLS FIRST""".stripMargin
  )
}
